"""CTC beam-search decode: agreement with greedy on sharp inputs, known
superiority on mass-split inputs, determinism, roundtrip."""

from __future__ import annotations

import numpy as np

from htrtf_spark import charset as cs
from htrtf_spark.operators import ctc

C = cs.NUM_CLASSES
c2i = cs.char_to_id()


def _soft(rows):
    """Rows of (id→prob) dicts → [T, C] log-prob matrix."""
    m = np.full((len(rows), C), 1e-12)
    for t, probs in enumerate(rows):
        for i, p in probs.items():
            m[t, i] = p
        m[t] /= m[t].sum()
    return np.log(m)

def test_beam_equals_greedy_on_sharp_logits():
    text = "hello world"
    ids = ctc.encode_frames(text)
    lp = np.full((len(ids), C), np.log(1e-9))
    for t, i in enumerate(ids):
        lp[t, i] = np.log(1.0)
    assert ctc.beam_decode(lp) == text
    assert ctc.greedy_decode_logits(lp) == text


def test_beam_beats_greedy_on_mass_split():
    # classic: per-frame argmax is blank, but summed paths favor 'a'.
    a = c2i["a"]
    lp = _soft([
        {cs.BLANK_ID: 0.42, a: 0.58},
        {cs.BLANK_ID: 0.52, a: 0.48},
    ])
    # greedy: 'a' then blank → "a"; beam must also find "a" (sanity)
    assert ctc.beam_decode(lp, beam_width=8) == "a"
    b = c2i["b"]
    # mass split across two non-blank symbols at t0; blank dominates each
    # frame but total non-blank path a→a outweighs the blank path.
    lp2 = _soft([
        {cs.BLANK_ID: 0.4, a: 0.35, b: 0.25},
        {cs.BLANK_ID: 0.4, a: 0.35, b: 0.25},
    ])
    # greedy path: blank,blank → "" ; beam aggregates P(a)=paths {aa,a-,-a}
    assert ctc.greedy_decode_logits(lp2) == ""
    assert ctc.beam_decode(lp2, beam_width=8) == "a"


def test_beam_deterministic_under_ties():
    a, b = c2i["a"], c2i["b"]
    lp = _soft([{a: 0.5, b: 0.5}])
    out1 = ctc.beam_decode(lp, beam_width=4)
    out2 = ctc.beam_decode(lp, beam_width=4)
    assert out1 == out2 == "a"  # lexicographic tie-break: 'a' < 'b'


def test_beam_wordsep_and_canon():
    ids = ctc.encode_frames("hi|there")  # '|' in charset → space on decode
    lp = np.full((len(ids), C), np.log(1e-9))
    for t, i in enumerate(ids):
        lp[t, i] = 0.0
    assert ctc.beam_decode(lp) == "hi there"


def test_roundtrip_whitespace_and_null():
    """Tabs/newlines encode as word boundaries (not dropped), and NULL
    text survives the roundtrip stage as NULL."""
    import pyarrow as pa

    from htrtf_spark.operators.ctc import encode_frames, greedy_decode, roundtrip_map_in_arrow

    assert greedy_decode(encode_frames("line one\nline two\ttab")) == "line one line two tab"
    batch = pa.RecordBatch.from_pydict({"doc_id": [1, 2], "text": [None, "ok"]})
    out = pa.Table.from_batches(list(roundtrip_map_in_arrow(iter([batch]))))
    assert out["decoded"].to_pylist() == [None, "ok"]


def test_greedy_roundtrip_matches_row_decode():
    """The batch roundtrip kernel equals greedy_decode(encode_frames(t))
    row by row, over charset chars, every whitespace kind, out-of-charset
    chars and the blank sentinel itself."""
    import random

    import pyarrow as pa

    from htrtf_spark import charset as cs
    from htrtf_spark.operators.ctc import encode_frames, greedy_decode, greedy_roundtrip

    rng = random.Random(3)
    alphabet = list(cs.CHARSET) + list(cs.WS_CHARS) + ["é", "日", cs.BLANK_CHAR]
    texts = [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(0, 30)))
        for _ in range(500)
    ] + [None, "", "aa||bb"]
    want = [None if t is None else greedy_decode(encode_frames(t)) for t in texts]
    assert greedy_roundtrip(pa.array(texts)).to_pylist() == want


def test_beam_decode_refuses_blank_id_without_alphabet():
    import numpy as np
    import pytest

    from htrtf_spark.operators.ctc import beam_decode

    lp = np.log(np.full((2, 3), 1 / 3.0))
    with pytest.raises(ValueError, match="charset_chars"):
        beam_decode(lp, blank_id=2)
    # custom alphabet path: 'ab' + blank=2
    lp = np.full((3, 3), -10.0)
    lp[0, 0] = lp[1, 2] = lp[2, 1] = -0.01
    assert beam_decode(lp, charset_chars="ab", blank_id=2) == "ab"


def test_synth_logprobs_argmax_is_encoding():
    """Seeded noise never flips a frame argmax, so the synthesized
    matrix's best path is exactly encode_frames(text)."""
    import numpy as np

    from htrtf_spark.operators.ctc import encode_frames, synth_logprobs

    text = "Hello, beam world 42!"
    lp = synth_logprobs(text, seed=7)
    assert np.array_equal(np.argmax(lp, axis=1), encode_frames(text))


def test_beam_decode_stage_matches_clean(spark):
    """The distributed beam-decode stage recovers the canonical cleaned
    text from the synthesized matrices (whitespace + out-of-charset
    projection identical to the extraction clean)."""
    from htrtf_spark.operators.ctc import (
        CTC_DECODED_DDL,
        beam_decode_map_in_arrow,
    )

    rows = [
        (0, "Hello,   beam\tworld!"),
        (1, "tab\tand\nnewline ok"),
        (2, "®© only-sym¿bols kept?"),
        (3, ""),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r["decoded"]
        for r in df.mapInArrow(
            beam_decode_map_in_arrow, CTC_DECODED_DDL
        ).collect()
    }
    import pyarrow as pa

    from htrtf_spark.operators.extraction import finish

    want = finish(pa.array([t for _, t in rows])).to_pylist()
    assert out == {i: w for (i, _), w in zip(rows, want)}
