"""Vectorized main-content extraction — the Arrow-native Spark stage.

Implements the canonical per-turn extraction spec (see
``htrtf_spark.charset`` for the spec constants and
``htrtf_spark.oracle`` for the independent row-at-a-time ground truth)
as one ``RecordBatch → RecordBatch`` kernel, run by
``DataFrame.mapInArrow``: ``pyarrow.compute`` RE2 kernels plus numpy
offset arithmetic, with no per-row Python and no pandas conversion at
the Arrow boundary.

Stage chain per the north star, mirroring the reference's eval path
(/root/reference/Modules/tasks.py:153-191):
  tokenize (mode detect + line split) → classify (boilerplate/link-density)
  → decode (CTC collapse / stream decode / tag strip) → normalize
  (charset projection + whitespace canonicalization) → lineage columns.

Mode dispatch narrows the live rows group by group (each predicate runs
only on rows no earlier mode claimed), every group is decoded on its own
narrowed array, and one ``take`` scatters the results back to input order.
"""

from __future__ import annotations

from collections.abc import Iterator
from typing import TYPE_CHECKING, NamedTuple

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from htrtf_spark import charset as cs

if TYPE_CHECKING:
    import pandas as pd

# Spark-side output schema (DDL string form, usable by mapInArrow).
EXTRACTED_DDL = (
    "conv_id string, turn_idx int, role string, mode string, "
    "extracted_text string, n_chars int, reject_reason string"
)
EXTRACTED_SPANS_DDL = (
    EXTRACTED_DDL + ", span_starts array<int>, span_ends array<int>"
)

_INPUT_SCHEMA = pa.schema(
    [("conv_id", pa.string()), ("turn_idx", pa.int32()),
     ("role", pa.string()), ("text", pa.string())]
)
_OUTPUT_SCHEMA = pa.schema(
    [("conv_id", pa.string()), ("turn_idx", pa.int32()),
     ("role", pa.string()), ("mode", pa.string()),
     ("extracted_text", pa.string()), ("n_chars", pa.int32()),
     ("reject_reason", pa.string())]
)
_SPANS_SCHEMA = _OUTPUT_SCHEMA.append(
    pa.field("span_starts", pa.list_(pa.int32()))
).append(pa.field("span_ends", pa.list_(pa.int32())))

# Mode codes: the index into _MODE_NAMES. Live modes are tested in this
# order, each on the rows the earlier ones left.
_NULL, _EMPTY, _CTC, _DOM, _IAM, _WASH, _PLAIN = range(7)
_MODE_NAMES = pa.array(
    [cs.MODE_NULL, cs.MODE_EMPTY, cs.MODE_CTC, cs.MODE_DOM, cs.MODE_IAM,
     cs.MODE_WASH, cs.MODE_PLAIN]
)
_REJECT_NAMES = pa.array([cs.REJECT_NULL, cs.REJECT_EMPTY, None], pa.string())

_BLANK_CP = ord(cs.BLANK_CHAR)
_WORDSEP_CP = ord(cs.WORD_SEP)
_MARKER_LEN = len(cs.CTC_MARKER)
# RE2 runs the full Python-\w class (charset.PY_WORD_CLASS) several times
# slower than an ASCII one. A tag name followed by a non-ASCII char is
# rare, so lines without one are matched with every non-ASCII char counted
# as a word char (the same verdict for them); only the rest pay for the
# full class.
_ASCII_WORD_CLASS = r"0-9A-Z_a-z\x{80}-\x{10ffff}"
# WS_RUN_PATTERN minus the runs that already are a single ' ': same
# result, far fewer matches to replace in ordinary prose
_WS_TO_SPACE = f"[{cs.WS_CHARS}]{{2,}}|[{cs.WS_CHARS.replace(' ', '')}]"


def _np(arr: pa.Array) -> np.ndarray:
    return arr.to_numpy(zero_copy_only=False)


def _string_array(arr: pa.Array) -> pa.StringArray:
    """``arr`` as a ``string`` array (Spark may hand ``large_string``)."""
    return arr if arr.type == pa.string() else arr.cast(pa.string())


def _offsets(arr: pa.StringArray) -> np.ndarray:
    """The n+1 int32 byte offsets of a string array (no copy)."""
    return np.frombuffer(arr.buffers()[1], np.int32)[
        arr.offset : arr.offset + len(arr) + 1
    ]


def _lengths(arr: pa.Array) -> np.ndarray:
    """Codepoint length per row as int64 (nulls count 0)."""
    return _np(pc.utf8_length(arr).fill_null(0)).astype(np.int64)


def finish(raw: pa.Array) -> pa.Array:
    """Charset projection + whitespace canonicalization, vectorized.

    Whitespace runs → ' ' then trim is byte-identical to
    ' '.join(s.split()): WS_CHARS is exactly the str.split whitespace set.
    """
    filtered = pc.replace_substring_regex(raw, cs.CHARSET_FILTER_PATTERN, "")
    spaced = pc.replace_substring_regex(filtered, _WS_TO_SPACE, " ")
    return pc.utf8_trim(spaced, characters=" ")


def ctc_collapse(frames: pa.Array) -> pa.Array:
    """Greedy CTC over frame strings (merge repeats → drop blanks →
    word-sep → space) in ONE batch-wide pass over UTF-32 codepoints.
    Repeat detection resets at row boundaries; the UTF-8 offsets of the
    result are rebuilt from per-codepoint byte widths. Nulls stay null.
    (RE2 has no backreferences, so the collapse cannot be a regex.)"""
    valid = frames.is_valid()
    frames = _string_array(frames).fill_null("")
    n = len(frames)
    offs = _offsets(frames)
    data = memoryview(frames.buffers()[2] or b"")[offs[0] : offs[-1]]
    cp = np.frombuffer(
        bytes(data).decode("utf-8").encode("utf-32-le"), dtype=np.uint32
    )
    row_start = np.zeros(n + 1, np.int64)
    np.cumsum(_lengths(frames), out=row_start[1:])
    keep = np.ones(len(cp), bool)
    np.not_equal(cp[1:], cp[:-1], out=keep[1:])
    keep[row_start[:-1][row_start[:-1] < len(cp)]] = True
    keep &= cp != _BLANK_CP
    out = cp[keep]
    out[out == _WORDSEP_CP] = 32
    # byte offset of each row = UTF-8 width of the kept codepoints before it
    kept_before = np.zeros(len(cp) + 1, np.int64)
    np.cumsum(keep, out=kept_before[1:])
    width = 1 + (out >= 0x80).astype(np.int64) + (out >= 0x800) + (out >= 0x10000)
    bytes_before = np.zeros(len(out) + 1, np.int64)
    np.cumsum(width, out=bytes_before[1:])
    collapsed = pa.StringArray.from_buffers(
        n,
        pa.py_buffer(bytes_before[kept_before[row_start]].astype(np.int32)),
        pa.py_buffer(out.tobytes().decode("utf-32-le").encode("utf-8")),
    )
    if valid.false_count:
        return pc.if_else(valid, collapsed, pa.scalar(None, pa.string()))
    return collapsed


def _py_word_tiered(lines: pa.Array, head: str, build, measure) -> np.ndarray:
    r"""``measure(lines, build(word_class))`` as a numpy array, with the
    full Python-\w class only on lines where ``head`` precedes a
    non-ASCII char."""
    out = measure(lines, build(_ASCII_WORD_CLASS))
    exotic = pc.match_substring_regex(lines, head + r"[^\x00-\x7f]")
    if exotic.true_count:
        out[_np(exotic)] = measure(lines.filter(exotic), build(cs.PY_WORD_CLASS))
    return out


def _anchor_chars(lines: pa.Array, pattern: str) -> np.ndarray:
    return _lengths(lines) - _lengths(pc.replace_substring_regex(lines, pattern, ""))


class _DomLines(NamedTuple):
    """Line-level view of DOM turns: every line of every turn in order,
    with its turn (``parent``), codepoint length, keep verdict, and the
    tag-stripped text of the kept lines."""

    line_offsets: np.ndarray  # n_turns + 1 offsets into the line arrays
    parent: np.ndarray
    length: np.ndarray
    keep: np.ndarray
    kept_text: pa.Array


def _dom_lines(st: pa.Array) -> _DomLines:
    """THE DOM keep rule (classify/segment), single copy shared by the
    decode path and the spans path: boilerplate + link-density on every
    nonempty line, TAG_STRIP only on the survivors."""
    lists = pc.split_pattern(st, "\n")
    lines = pc.list_flatten(lists)
    parent = _np(pc.list_parent_indices(lists))
    length = _lengths(lines)
    cand = np.flatnonzero(length > 0)
    cl = lines.take(pa.array(cand))
    boiler = _py_word_tiered(
        cl, cs.BOILERPLATE_HEAD_RE2, cs.boilerplate_re2,
        lambda a, p: _np(pc.match_substring_regex(a, p)),
    )
    link = _py_word_tiered(
        cl, cs.ANCHOR_HEAD_RE2, cs.anchor_span_re2, _anchor_chars
    )
    # link/len <= LINK_DENSITY_MAX (0.5), in integers
    ok = ~boiler & (2 * link <= length[cand])
    stripped = pc.replace_substring_regex(
        cl.filter(pa.array(ok)), cs.TAG_STRIP_PATTERN, " "
    )
    nonblank = _np(
        pc.greater(pc.binary_length(pc.utf8_trim(stripped, characters=cs.WS_CHARS)), 0)
    )
    keep = np.zeros(len(length), bool)
    keep[cand[ok][nonblank]] = True
    line_offsets = _np(lists.offsets)
    return _DomLines(
        line_offsets - line_offsets[0], parent, length, keep,
        stripped.filter(pa.array(nonblank)),
    )


def _row_offsets(rows: np.ndarray, n: int) -> pa.Array:
    """List offsets for ``n`` rows given the (sorted) row of each value."""
    offs = np.zeros(n + 1, np.int32)
    np.cumsum(np.bincount(rows, minlength=n), out=offs[1:])
    return pa.array(offs)


def _decode_dom(dom: _DomLines, n: int) -> pa.Array:
    offs = _row_offsets(dom.parent[dom.keep], n)
    return pc.binary_join(pa.ListArray.from_arrays(offs, dom.kept_text), " ")


class _Kernel(NamedTuple):
    """Per-batch intermediates shared by the extraction and spans outputs."""

    text: pa.StringArray
    st: pa.Array
    codes: np.ndarray  # mode code per row
    groups: list[np.ndarray]  # row indices per live mode, _CTC.._PLAIN
    dom: _DomLines  # lines of the _DOM group rows, in group order
    final: pa.Array  # extracted_text per row


def _kernel(text: pa.Array) -> _Kernel:
    text = _string_array(text)
    st = pc.utf8_trim(text, characters=cs.WS_CHARS)
    valid = _np(text.is_valid())
    codes = np.where(valid, _EMPTY, _NULL).astype(np.int8)
    idx = np.flatnonzero(valid & (_np(pc.binary_length(st).fill_null(0)) > 0))
    sub = st.take(pa.array(idx))

    groups, subs = [], []
    for test in (
        lambda a: pc.starts_with(a, cs.CTC_MARKER),
        lambda a: pc.match_substring_regex(a, cs.TAG_DETECT_PATTERN),
        lambda a: pc.match_substring_regex(a, cs.IAM_STREAM_PATTERN),
        lambda a: pc.match_substring_regex(a, cs.WASH_STREAM_PATTERN),
    ):
        hit = test(sub)
        hit_np = _np(hit)
        groups.append(idx[hit_np])
        subs.append(sub.filter(hit))
        idx = idx[~hit_np]
        sub = sub.filter(pc.invert(hit))
    groups.append(idx)
    subs.append(sub)
    for code, rows in zip(range(_CTC, _PLAIN + 1), groups):
        codes[rows] = code

    ctc, dom_st, iam, wash, plain = subs
    dom = _dom_lines(dom_st)
    raw = pa.concat_arrays([
        ctc_collapse(pc.utf8_slice_codeunits(ctc, _MARKER_LEN)),
        _decode_dom(dom, len(dom_st)),
        # '|'-joined word stream: each '|' becomes a space; finish
        # collapses the runs and trims
        pc.replace_substring(iam, cs.WORD_SEP, " "),
        pc.replace_substring(
            pc.utf8_slice_codeunits(wash, 0, step=2), cs.WORD_SEP, " "
        ),
        plain,
    ])
    # one take scatters [live results..., "", null] back to input order
    n_live = len(raw)
    values = pa.concat_arrays([finish(raw), pa.array(["", None], pa.string())])
    where = np.where(valid, n_live, n_live + 1)
    where[np.concatenate(groups)] = np.arange(n_live)
    final = values.take(pa.array(where))
    return _Kernel(text, st, codes, groups, dom, final)


def _output_columns(batch: pa.RecordBatch, k: _Kernel) -> list[pa.Array]:
    for key in ("conv_id", "turn_idx"):
        if batch.column(key).null_count:
            # a schema-pinned read of a non-transcripts file yields all-null
            # keys — fail loudly here instead of a cryptic cast error later
            raise ValueError(
                "transcripts rows with null conv_id/turn_idx — the input is "
                "not a transcripts table (schema-pinned read of a wrong file?)"
            )
    n_chars = pc.utf8_length(k.final).cast(pa.int32())
    reject = np.where(
        k.codes == _NULL, 0, np.where(_np(n_chars.fill_null(0)) == 0, 1, 2)
    )
    return [
        _string_array(batch.column("conv_id")),
        batch.column("turn_idx").cast(pa.int32()),
        _string_array(batch.column("role")),
        _MODE_NAMES.take(pa.array(k.codes)),
        k.final,
        n_chars,
        _REJECT_NAMES.take(pa.array(reject)),
    ]


def extract_text(text: pa.Array) -> pa.Array:
    """extracted_text for each turn text (null for a null text)."""
    return _kernel(text).final


def extract_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """Extract every turn of one Arrow batch (columns conv_id, turn_idx,
    role, text). Row order preserved."""
    k = _kernel(batch.column("text"))
    return pa.RecordBatch.from_arrays(
        _output_columns(batch, k), schema=_OUTPUT_SCHEMA
    )


def extract_map_in_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow entrypoint: df.mapInArrow(extract_map_in_arrow,
    schema=EXTRACTED_DDL)."""
    for batch in batches:
        yield extract_batch(batch)


def extract_pandas(pdf: pd.DataFrame) -> pd.DataFrame:
    """The kernel over a pandas frame (columns conv_id, turn_idx, role,
    text), for callers outside Spark; ``n_chars`` comes back as Int32.
    (pandas is imported by callers only: the Spark stage never needs it.)"""
    batch = pa.RecordBatch.from_pandas(
        pdf[_INPUT_SCHEMA.names], schema=_INPUT_SCHEMA, preserve_index=False
    )
    out = extract_batch(batch).to_pandas()
    out["n_chars"] = out["n_chars"].astype("Int32")
    return out


# --------------------------------------------------------------- spans path
# Optional kept-content spans (the north rule's "extracted text/spans"):
# half-open (start, end) codepoint offsets into the ORIGINAL text per kept
# region. Spec + per-mode rules: oracle.extract_turn_spans. Kept out of the
# hot extraction stage — callers that need provenance pay for it explicitly.


def _spans(k: _Kernel) -> tuple[pa.ListArray, pa.ListArray]:
    """span_starts / span_ends: None for null turns, [] for rejected
    turns, one span per kept DOM line, one span over the stripped text
    (after the marker for CTC) otherwise."""
    n = len(k.text)
    lead = _lengths(k.text) - _lengths(pc.utf8_ltrim(k.text, characters=cs.WS_CHARS))
    end = lead + _lengths(k.st)

    # DOM: each line starts at the sum of (length + 1) of the lines before
    # it in its turn
    dom_rows = k.groups[_DOM - _CTC]
    d = k.dom
    step = d.length + 1
    before = np.cumsum(step) - step
    pos = before - before[d.line_offsets[:-1]][d.parent]
    row_of_line = dom_rows[d.parent]
    dom_start = lead[row_of_line] + pos

    one = np.concatenate([g for i, g in enumerate(k.groups) if i != _DOM - _CTC])
    one_start = lead[one] + np.where(k.codes[one] == _CTC, _MARKER_LEN, 0)

    rows = np.concatenate([one, row_of_line[d.keep]])
    starts = np.concatenate([one_start, dom_start[d.keep]])
    ends = np.concatenate([end[one], dom_start[d.keep] + d.length[d.keep]])
    accepted = _np(pc.greater(pc.utf8_length(k.final).fill_null(0), 0))
    sel = accepted[rows]
    rows, starts, ends = rows[sel], starts[sel], ends[sel]
    order = np.argsort(rows, kind="stable")
    offs = _row_offsets(rows[order], n)
    mask = pa.array(k.codes == _NULL)
    return tuple(
        pa.ListArray.from_arrays(offs, pa.array(v[order].astype(np.int32)), mask=mask)
        for v in (starts, ends)
    )


def extract_spans_batch(batch: pa.RecordBatch) -> pa.RecordBatch:
    """extract_batch + kept-content span columns (span_starts/span_ends,
    parallel int lists)."""
    k = _kernel(batch.column("text"))
    return pa.RecordBatch.from_arrays(
        _output_columns(batch, k) + list(_spans(k)), schema=_SPANS_SCHEMA
    )


def extract_spans_map_in_arrow(
    batches: Iterator[pa.RecordBatch],
) -> Iterator[pa.RecordBatch]:
    """mapInArrow entrypoint for the spans-enabled stage."""
    for batch in batches:
        yield extract_spans_batch(batch)
