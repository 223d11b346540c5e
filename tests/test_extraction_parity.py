"""Byte-exactness of the vectorized stage vs the pure-Python oracle.

This is the graft's analog of the reference's golden Target-vs-Output
comparison (/root/reference/Modules/tasks.py:179-181), upgraded per the
north rule to CER=0 ⇔ byte equality. No Spark involved here — pure
spec parity, including fuzzed inputs.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from htrtf_spark import charset as cs
from htrtf_spark import oracle, synth
from htrtf_spark.operators import extraction


def _assert_frames_equal(gold: pd.DataFrame, fast: pd.DataFrame) -> None:
    assert len(gold) == len(fast)
    for col in ["conv_id", "turn_idx", "role", "mode", "extracted_text", "reject_reason"]:
        g = gold[col].fillna("<NULL>") if gold[col].dtype == object else gold[col]
        f = fast[col].fillna("<NULL>") if fast[col].dtype == object else fast[col]
        mism = (g.values != f.values).nonzero()[0]
        assert len(mism) == 0, (
            f"column {col}: {len(mism)} mismatches; first at row {mism[0]}: "
            f"gold={gold[col].iloc[mism[0]]!r} fast={fast[col].iloc[mism[0]]!r}"
        )


def test_synth_parity_all_modes():
    pdf = synth.synth_pandas(n_convs=80, seed=42)
    gold = oracle.extract_frame(pdf)
    fast = extraction.extract_pandas(pdf)
    _assert_frames_equal(gold, fast)
    # every mode and both reject reasons must actually be exercised
    assert set(gold["mode"]) >= {
        cs.MODE_PLAIN,
        cs.MODE_DOM,
        cs.MODE_CTC,
        cs.MODE_IAM,
        cs.MODE_WASH,
        cs.MODE_EMPTY,
        cs.MODE_NULL,
    }
    assert {cs.REJECT_NULL, cs.REJECT_EMPTY} <= set(gold["reject_reason"].dropna())


def test_handpicked_edge_cases():
    texts = [
        None,
        "",
        "   \t\n  ",
        "plain words only",
        "[CTC]hh_ee__ll_llo|||ww_oo_rrlldd__",
        "[CTC]___",
        "[CTC]",
        "|one|two|three|",
        "||",
        "|||",
        "h-e-l-l-o-|-w-o-r-l-d",
        "a-b",  # even length → not a wash stream (plain)
        "<p>keep me</p>\n<nav><a href='/'>x</a></nav>",
        "<header>chrome</header>\n<p>body text</p>\n<footer>foot</footer>",
        "<a href='/1'>aaaa</a><a href='/2'>bbbb</a> x",  # link-farm line
        "x < y and y > z",  # not a tag
        "x<y>z",  # is a tag
        "émoji 😀 stripped™ but words stay",
        "####%%%%",
        "aaa bbb aaa",
        "[CTC]aabb__cc",
        "|a||b|",
        "<div></div>",
        "<p></p>\n<p>  </p>",
        "tab\tand\nnewline   spaces",
        "-",
        "a-",
        "-a",
        "trailing pipe |",
        "| leading pipe",
        # RE2 traps: \b must be Python's (Unicode) word boundary and (?i)
        # Python's case folding
        "<navé menu",  # é is a word char: not boilerplate
        "<asİde>x",  # (?i) i matches İ: boilerplate
        "<SCRİPT>",  # boilerplate
        "<aé>zz</a>",  # not an anchor: link density 0
        "<nav\u0301>",  # combining mark is not a word char: boilerplate
        "<b>k</b>\n<navé menu",  # the <navé line is kept
        "<SCRİPT>x",  # dropped, x with it
        "<nav\u0301>x",  # dropped, x with it
        "<a\u00a0href='/'>link text</a> t",  # nbsp ends the tag name: a link
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(texts),
            "turn_idx": pd.array(range(len(texts)), dtype="int32"),
            "role": ["user"] * len(texts),
            "text": texts,
        }
    )
    gold = oracle.extract_frame(pdf)
    fast = extraction.extract_pandas(pdf)
    _assert_frames_equal(gold, fast)


@settings(max_examples=300, deadline=None)
@given(
    st.lists(
        st.one_of(
            st.none(),
            st.text(max_size=120),
            st.text(
                alphabet="ab_|<>-/ \t\n" + cs.CTC_MARKER + "İıſKé\u0301<nav<a ",
                max_size=60,
            ),  # adversarial: markers, pipes, dashes, tags, blanks, RE2 traps
            st.builds(lambda s: cs.CTC_MARKER + s, st.text(max_size=60)),
        ),
        min_size=1,
        max_size=40,
    )
)
def test_fuzz_parity(texts):
    pdf = pd.DataFrame(
        {
            "conv_id": ["c"] * len(texts),
            "turn_idx": pd.array(range(len(texts)), dtype="int32"),
            "role": ["user"] * len(texts),
            "text": pd.Series(texts, dtype="object"),
        }
    )
    gold = oracle.extract_frame(pdf)
    fast = extraction.extract_pandas(pdf)
    _assert_frames_equal(gold, fast)


def test_ctc_greedy_decode_ids():
    c2i = cs.char_to_id()
    # "hi there" with repeats + blanks, '|' as word sep
    ids = [
        c2i["h"], c2i["h"], cs.BLANK_ID, c2i["i"],
        cs.BLANK_ID, c2i["|"], c2i["|"], cs.BLANK_ID,
        c2i["t"], c2i["h"], c2i["e"], c2i["e"], cs.BLANK_ID, c2i["e"],
        c2i["r"], c2i["e"],
    ]
    assert oracle.ctc_greedy_decode_ids(ids) == "hi theere"
    # repeated label without blank between collapses to one
    assert oracle.ctc_greedy_decode_ids([c2i["a"], c2i["a"], c2i["a"]]) == "a"
    # blank-separated repeats survive
    assert oracle.ctc_greedy_decode_ids([c2i["a"], cs.BLANK_ID, c2i["a"]]) == "aa"
    assert oracle.ctc_greedy_decode_ids([cs.BLANK_ID]) == ""


def test_whale_turn_and_exotic_codepoints_parity():
    """Single enormous turns (the per-turn analog of whale conversations)
    and hostile codepoints (NUL, astral plane, combining marks, bidi
    controls, lone-surrogate-adjacent boundaries) stay byte-exact."""
    big_plain = ("word " * 40_000) + "end"                       # ~200 KB
    big_dom = "<p>" + ("content text here " * 10_000) + "</p>" + (
        "<nav>" + "<a href='/x'>l</a>" * 500 + "</nav>"
    )
    big_ctc = cs.CTC_MARKER + ("aa__bb|" * 20_000)
    texts = [
        big_plain,
        big_dom,
        big_ctc,
        "nul\x00inside\x00text",
        "astral \U0001f600\U0001f680 and beyond \U0010fffd tail",
        "combining áêï marks",
        "bidi ‮evil‬ controls",
        "zero​width‌joiners‍ here",
        "﻿BOM start and � replacement",
        "mixed \x00‮<p>tag</p>​" + cs.CTC_MARKER[:1],
    ]
    pdf = pd.DataFrame(
        {
            "conv_id": ["w"] * len(texts),
            "turn_idx": pd.array(range(len(texts)), dtype="int32"),
            "role": ["assistant"] * len(texts),
            "text": pd.Series(texts, dtype="object"),
        }
    )
    gold = oracle.extract_frame(pdf)
    fast = extraction.extract_pandas(pdf)
    _assert_frames_equal(gold, fast)
