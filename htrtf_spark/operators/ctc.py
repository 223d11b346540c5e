"""CTC-style encode / greedy-decode over label-id sequences (T7/T8 of
SURVEY.md §2.9; reference: ctc_beam_search_decoder at
/root/reference/Projects/IAM_lines/Structure_006/Structure_006.py:142-143,
sparse→dense + id→char map at /root/reference/Modules/tasks.py:175-178).

Vectorized with numpy inside Arrow batches; the text roundtrip runs as
one batch kernel over the extraction stage's ``ctc_collapse`` and
``finish``. The frame expansion (`encode_frames`) inserts a blank
between every character's repeat-run so greedy decode is an exact
inverse on canonical text — the roundtrip identity is the oracle for
the decode operator.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from htrtf_spark import charset as cs
from htrtf_spark.operators.extraction import ctc_collapse, finish

_CHAR_ARR = np.array(list(cs.CHARSET) + [""])  # BLANK_ID maps to ''
_C2I = cs.char_to_id()

CTC_DECODED_DDL = "doc_id long, decoded string"


def encode_frames(text: str, repeats: int = 2) -> np.ndarray:
    """text → frame-level label ids: each char id repeated ``repeats``
    times, a blank after each run (so repeated chars survive decode).
    Any whitespace char encodes as the space label (so tabs/newlines
    survive as word boundaries instead of vanishing — decode's
    whitespace canon then folds them exactly like the clean spec)."""
    ids = []
    for ch in text:
        if ch.isspace():
            ch = " "
        i = _C2I.get(ch)
        if i is None:
            continue  # charset projection: out-of-charset chars dropped
        ids.extend([i] * repeats)
        ids.append(cs.BLANK_ID)
    return np.asarray(ids, dtype=np.int64)


def collapse_ids(ids: np.ndarray, blank: int) -> np.ndarray:
    """Greedy CTC label collapse: merge repeats, then drop blanks."""
    ids = np.asarray(ids, dtype=np.int64)
    keep = np.ones(ids.shape, dtype=bool)
    np.not_equal(ids[1:], ids[:-1], out=keep[1:])
    keep &= ids != blank
    return ids[keep]


def _label_text(ids: np.ndarray, char_arr: np.ndarray) -> str:
    """Label ids → text: map to chars (the blank maps to ''), word-sep
    to space, whitespace canon (tasks.py:176-178)."""
    chars = char_arr[np.clip(ids, 0, len(char_arr) - 1)]
    return " ".join("".join(chars).replace(cs.WORD_SEP, " ").split())


def greedy_decode(ids: np.ndarray) -> str:
    """Vectorized greedy CTC: merge repeats → drop blanks → map to chars
    → word-sep to space → whitespace canon."""
    return _label_text(collapse_ids(ids, cs.BLANK_ID), _CHAR_ARR)


def greedy_roundtrip(text: pa.Array) -> pa.Array:
    """``greedy_decode(encode_frames(t))`` for a whole text column: project
    to the charset (whitespace kept, as ``finish`` folds every kind to
    ' ' the way ``encode_frames`` does), expand each char ``c`` to the
    frames ``cc_``, then the extraction kernel's own ``ctc_collapse``
    and ``finish``. NULL stays NULL."""
    projected = pc.replace_substring_regex(text, cs.CHARSET_FILTER_PATTERN, "")
    frames = pc.replace_substring_regex(projected, "(?s)(.)", r"\1\1" + cs.BLANK_CHAR)
    return finish(ctc_collapse(frames))


def roundtrip_map_in_arrow(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """mapInArrow stage: (doc_id, text) → (doc_id, decoded) with decoded
    = greedy_decode(encode_frames(text)). Identity on canonical text."""
    for batch in batches:
        yield pa.RecordBatch.from_arrays(
            [batch.column("doc_id"), greedy_roundtrip(batch.column("text"))],
            names=["doc_id", "decoded"],
        )


def beam_decode(
    logprobs: np.ndarray,
    beam_width: int = 8,
    blank_id: int = cs.BLANK_ID,
    charset_chars: str | None = None,
) -> str:
    """CTC prefix beam search over a [T, C] log-probability matrix
    (ctc_beam_search_decoder parity, merge_repeated=False semantics:
    /root/reference/Projects/IAM_lines/Structure_006/Structure_006.py:142-143).

    Deterministic: beams are ranked by (score, prefix) with lexicographic
    tie-break, so exact-match tests cannot flake (SURVEY.md §7.4 risk 4).
    Returns the decoded text after charset mapping + word-sep → space +
    whitespace canon (tasks.py:176-178).

    With a non-default alphabet pass ``charset_chars`` (label i ↔
    charset_chars[i]); ``blank_id`` then defaults to len(charset_chars).
    A custom ``blank_id`` without its alphabet is refused — the global
    charset mapping would silently garble the text.
    """
    if charset_chars is not None:
        char_arr = np.array(list(charset_chars) + [""])
        if blank_id == cs.BLANK_ID and len(charset_chars) != cs.BLANK_ID:
            blank_id = len(charset_chars)
    else:
        if blank_id != cs.BLANK_ID:
            raise ValueError(
                "custom blank_id requires charset_chars — the default "
                "charset mapping would mislabel every id"
            )
        char_arr = _CHAR_ARR
    logprobs = np.asarray(logprobs, dtype=np.float64)
    T, C = logprobs.shape
    NEG_INF = -np.inf

    def logsumexp2(a: float, b: float) -> float:
        if a == NEG_INF:
            return b
        if b == NEG_INF:
            return a
        m = a if a > b else b
        return m + np.log(np.exp(a - m) + np.exp(b - m))

    # beams: prefix(tuple of ids) -> (logp_blank, logp_nonblank)
    beams: dict[tuple, tuple] = {(): (0.0, NEG_INF)}
    for t in range(T):
        frame = logprobs[t]
        nxt: dict[tuple, list] = {}

        def add(prefix, pb, pnb):
            cur = nxt.get(prefix)
            if cur is None:
                nxt[prefix] = [pb, pnb]
            else:
                cur[0] = logsumexp2(cur[0], pb)
                cur[1] = logsumexp2(cur[1], pnb)

        for prefix, (pb, pnb) in beams.items():
            total = logsumexp2(pb, pnb)
            # extend with blank: prefix unchanged
            add(prefix, total + frame[blank_id], NEG_INF)
            # repeat last symbol without blank: merges into same prefix
            if prefix:
                add(prefix, NEG_INF, pnb + frame[prefix[-1]])
            for c in range(C):
                if c == blank_id:
                    continue
                if prefix and c == prefix[-1]:
                    # extend after a blank only (true CTC repeat rule)
                    add(prefix + (c,), NEG_INF, pb + frame[c])
                else:
                    add(prefix + (c,), NEG_INF, total + frame[c])
        ranked = sorted(
            nxt.items(),
            key=lambda kv: (-logsumexp2(kv[1][0], kv[1][1]), kv[0]),
        )
        beams = {k: (v[0], v[1]) for k, v in ranked[:beam_width]}

    best = min(
        beams.items(), key=lambda kv: (-logsumexp2(kv[1][0], kv[1][1]), kv[0])
    )[0]
    return _label_text(np.asarray(best, dtype=np.int64), char_arr)


def synth_logprobs(text: str, seed: int, p_true: float = 0.9) -> np.ndarray:
    """Deterministic [T, C] log-probability matrix whose best path is
    ``encode_frames(text)``: probability ``p_true`` on the true label,
    the rest uniform, plus seeded noise bounded well below the
    true/other log-gap (so the argmax — and hence the beam-search
    winner — is provably the encoded sequence). This is the gate
    harness for distributed beam decode: the expected transcript is a
    pure function of the input text, restatable in SQL."""
    ids = encode_frames(text)
    T = len(ids)
    C = cs.BLANK_ID + 1
    if T == 0:
        return np.zeros((0, C), dtype=np.float64)
    base = np.full((T, C), np.log((1.0 - p_true) / (C - 1)), dtype=np.float64)
    base[np.arange(T), ids] = np.log(p_true)
    rng = np.random.RandomState(seed % (2**31 - 1))
    # log-gap is ~6.5 nats; ±1.0 noise can never flip a frame argmax
    base += rng.uniform(-1.0, 1.0, size=(T, C))
    return base


def beam_decode_map_in_arrow(
    batches: Iterator[pa.RecordBatch], beam_width: int = 4
) -> Iterator[pa.RecordBatch]:
    """mapInArrow stage: (doc_id, text) → (doc_id, decoded) where
    ``decoded = beam_decode(synth_logprobs(text, seed=doc_id))``. Runs the
    real prefix beam search (Structure_006.py:142-143 parity) per row of
    an Arrow batch; on the synthesized peaked matrices the winner is
    exactly the canonical cleaned text, which a SQL oracle restates."""
    for batch in batches:
        ids, texts = batch.column("doc_id"), batch.column("text").to_pylist()
        decoded = pa.array(
            ["" if t is None else beam_decode(synth_logprobs(t, seed=i), beam_width)
             for i, t in zip(ids.to_pylist(), texts)], pa.string())
        yield pa.RecordBatch.from_arrays([ids, decoded], names=["doc_id", "decoded"])


def greedy_decode_logits(logprobs: np.ndarray) -> str:
    """Greedy path decode over [T, C]: argmax per frame → collapse."""
    ids = np.argmax(np.asarray(logprobs, dtype=np.float64), axis=1)
    return greedy_decode(ids)
