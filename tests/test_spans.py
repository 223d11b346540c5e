"""Kept-content span parity: the vectorized spans stage must agree with
the oracle span spec on every turn, and spans must actually point at the
content they claim (self-consistency invariants)."""

from __future__ import annotations

import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from htrtf_spark import charset as cs
from htrtf_spark import oracle, synth
from htrtf_spark.operators import extraction


def _batch(texts) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict(
        {
            "conv_id": ["c"] * len(texts),
            "turn_idx": pa.array(range(len(texts)), pa.int32()),
            "role": ["user"] * len(texts),
            "text": pa.array(texts, pa.string()),
        }
    )


def _synth_batch(n_convs: int, seed: int) -> pa.RecordBatch:
    pdf = synth.synth_pandas(n_convs=n_convs, seed=seed)
    return pa.RecordBatch.from_pandas(
        pdf[["conv_id", "turn_idx", "role", "text"]], preserve_index=False
    )


def _gold_spans(texts):
    out = []
    for t in texts:
        sp = oracle.extract_turn_spans(t if isinstance(t, str) else None)
        out.append(sp)
    return out


def _assert_span_parity(batch):
    fast = extraction.extract_spans_batch(batch)
    texts = batch.column("text").to_pylist()
    starts = fast.column("span_starts").to_pylist()
    ends = fast.column("span_ends").to_pylist()
    gold = _gold_spans(texts)
    for i, sp in enumerate(gold):
        gs, ge = starts[i], ends[i]
        if sp is None:
            assert gs is None and ge is None, i
        else:
            got = list(zip([] if gs is None else gs, [] if ge is None else ge))
            assert got == sp, (i, texts[i], got, sp)


def test_span_parity_synth():
    _assert_span_parity(_synth_batch(n_convs=80, seed=42))


def test_span_parity_edges():
    _assert_span_parity(
        _batch(
            [
                None,
                "",
                "   \t\n  ",
                "  plain with lead/trail  ",
                "[CTC]hh_ee__ll_llo|||ww",
                "[CTC]___",  # decodes empty → rejected → []
                "|one|two|three|",
                "h-e-l-l-o-|-w-o-r-l-d",
                "<p>keep</p>\n<nav><a href='/'>x</a></nav>\n<p>also keep</p>",
                "\n\n<p>keep</p>\n\n",
                "  <div>lead ws before dom</div>\n<footer>foot</footer>",
                "####%%%%",  # plain, empty after clean → rejected → []
                "<a href='/1'>aaaa</a><a href='/2'>bbbb</a>",  # all lines dropped
            ]
        )
    )


def test_span_self_consistency():
    """Spans point at real content: for unrejected turns every span is
    within the text; for DOM turns re-running the keep predicate on the
    span slices reproduces the kept lines."""
    texts = [
        "  plain body  ",
        "<p>first</p>\n<nav>menu</nav>\n<p>second line</p>",
        "[CTC]aabb__cc",
        "|w1|w2|",
    ]
    fast = extraction.extract_spans_batch(_batch(texts))
    all_starts = fast.column("span_starts").to_pylist()
    all_ends = fast.column("span_ends").to_pylist()
    for t, starts, ends in zip(texts, all_starts, all_ends):
        for a, b in zip(starts, ends):
            assert 0 <= a < b <= len(t)
    # DOM row: slices are exactly the kept lines
    dom_i = 1
    slices = [
        texts[dom_i][a:b] for a, b in zip(all_starts[dom_i], all_ends[dom_i])
    ]
    assert slices == ["<p>first</p>", "<p>second line</p>"]


@settings(max_examples=150, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(max_size=100),
            st.text(alphabet="ab_|<>-/ \t\n" + cs.CTC_MARKER, max_size=60),
            st.builds(lambda s: cs.CTC_MARKER + s, st.text(max_size=40)),
        ),
        min_size=1,
        max_size=25,
    )
)
def test_span_fuzz_parity(texts):
    _assert_span_parity(_batch(texts))


def test_spans_through_spark(spark):
    from htrtf_spark.plans.pipeline import extract_turns_with_spans
    from htrtf_spark.schema import TRANSCRIPTS_SCHEMA

    pdf = synth.synth_pandas(n_convs=20, seed=8)
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    got = (
        extract_turns_with_spans(df)
        .orderBy("conv_id", "turn_idx")
        .select("conv_id", "turn_idx", "span_starts", "span_ends")
        .toPandas()
    )
    ordered = pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    gold = _gold_spans(ordered["text"].tolist())
    assert len(got) == len(gold)
    for i, sp in enumerate(gold):
        gs, ge = got["span_starts"].iloc[i], got["span_ends"].iloc[i]
        if sp is None:
            assert gs is None and ge is None, i
        else:
            assert list(zip(gs, ge)) == sp, i
