"""Exact repeated-substring dedup (operators/substr_dedup.py): planted
repeats spanning document boundaries, a brute-force oracle, cap and
chunk output identity, and apply-side reconstruction."""

from __future__ import annotations

import random

import pytest

from htrtf_spark.operators.substr_dedup import (
    repeated_substring_spans,
    strip_repeated_spans,
)


def _brute_spans(docs: dict[int, str], L: int) -> set[tuple]:
    """Independent scan: count every L-gram over all (doc, pos), mark
    repeated positions, and merge the hit windows' [p, p+L) coverage
    into maximal disjoint spans (a new span starts when the position
    gap exceeds L — overlapping/touching intervals merge)."""
    from collections import Counter

    counts = Counter(
        t[i : i + L]
        for t in docs.values()
        for i in range(len(t) - L + 1)
    )
    spans = set()
    for d, t in docs.items():
        hit = [i for i in range(len(t) - L + 1) if counts[t[i : i + L]] >= 2]
        run: list[int] = []
        for p in hit + [None]:
            if run and (p is None or p - run[-1] > L):
                spans.add((d, run[0], run[-1] + L, run[-1] + L - run[0]))
                run = []
            if p is not None:
                run.append(p)
    return spans


def _mk_docs() -> dict[int, str]:
    rng = random.Random(7)
    words = ["alpha", "bravo", "delta", "echo", "golf", "hotel", "kilo"]

    def soup(n):
        return " ".join(rng.choice(words) for _ in range(n))

    boiler = "this license text is repeated verbatim across documents " * 3
    intra = "the same paragraph occurs twice inside one document here! "
    docs = {
        0: soup(40) + " " + boiler + " " + soup(30),          # cross-doc A
        1: soup(35) + " " + boiler + " " + soup(25),          # cross-doc B
        2: intra + soup(20) + " " + intra + soup(10),         # within-doc
        3: soup(60),                                          # clean
        4: boiler,                                            # whole doc dup
        5: "short",                                           # < L
    }
    return docs


L = 40


def test_spans_match_brute_force(spark):
    docs = _mk_docs()
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    got = {
        tuple(r)
        for r in repeated_substring_spans(
            df, "doc_id", "text", min_len=L
        ).collect()
    }
    want = _brute_spans(docs, L)
    assert got == want
    assert any(d == 2 for d, *_ in got)          # within-doc repeat found
    assert {d for d, *_ in got} >= {0, 1, 4}     # cross-doc boilerplate
    assert not any(d in (3, 5) for d, *_ in got)  # clean/short untouched


def test_strip_repeated_spans_reconstruction(spark):
    docs = _mk_docs()
    df = spark.createDataFrame(
        list(docs.items()), "doc_id long, text string"
    )
    spans = repeated_substring_spans(df, "doc_id", "text", min_len=L)
    out = {
        r["doc_id"]: (r["text"], r["removed_chars"])
        for r in strip_repeated_spans(df, spans, "doc_id", "text").collect()
    }
    by_doc: dict[int, list] = {}
    for d, s, e, _ in _brute_spans(docs, L):
        by_doc.setdefault(d, []).append((s, e))
    for d, t in docs.items():
        cut = sorted(by_doc.get(d, []))
        want = ""
        cur = 0
        for s, e in cut:
            want += t[cur:s]
            cur = e
        want += t[cur:]
        assert out[d][0] == want, f"doc {d}"
        assert out[d][1] == len(t) - len(want)
    # untouched docs pass through byte-identical with removed_chars=0
    assert out[3] == (docs[3], 0) and out[5] == (docs[5], 0)


def test_min_len_validation(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(ValueError):
        repeated_substring_spans(df, min_len=0)


def test_span_at_document_start_and_end(spark):
    # duplicated region flush at position 0 and flush at the text end
    core = "Z" * (L + 7)
    df = spark.createDataFrame(
        [(1, core + " middle filler one"), (2, "tail filler two " + core)],
        "doc_id long, text string",
    )
    spans = {
        (r["id"], r["span_start"], r["span_end"])
        for r in repeated_substring_spans(df, "doc_id", "text", L).collect()
    }
    assert (1, 0, len(core)) in spans
    t2 = "tail filler two " + core
    assert (2, len(t2) - len(core), len(t2)) in spans
    stripped = {
        r["doc_id"]: r["text"]
        for r in strip_repeated_spans(
            df,
            repeated_substring_spans(df, "doc_id", "text", L),
            "doc_id",
            "text",
        ).collect()
    }
    assert stripped[1] == " middle filler one"
    assert stripped[2] == "tail filler two "


def test_near_offset_hits_merge_into_one_disjoint_span(spark):
    """Review fix (r5): hits at positions 0 and 2 (gap < L, position 1
    NOT duplicated) must merge into ONE maximal span [0, L+2) — the old
    consecutive-position islands emitted OVERLAPPING spans [0,L) and
    [2,L+2), which broke the apply stage and the q97 oracle."""
    Lx = 10
    base = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789abcd"  # 40 unique chars
    a = base
    b = base[0:Lx]        # duplicates A's window at pos 0
    c = base[2 : Lx + 2]  # duplicates A's window at pos 2
    docs = {0: a, 1: b, 2: c}
    df = spark.createDataFrame(
        [(k, v) for k, v in docs.items()], "doc_id int, text string"
    )
    spans = repeated_substring_spans(df, "doc_id", "text", min_len=Lx)
    got = {
        (r["id"], r["span_start"], r["span_end"], r["span_len"])
        for r in spans.collect()
    }
    # A's window at pos 1 occurs once in the corpus (only inside A)
    grams = [t[i : i + Lx] for t in docs.values() for i in range(len(t) - Lx + 1)]
    assert grams.count(a[1 : 1 + Lx]) == 1
    assert got == _brute_spans(docs, Lx)
    assert (0, 0, Lx + 2, Lx + 2) in got  # single merged span in A
    # spans are disjoint per document (the strip invariant)
    per_doc: dict[int, list] = {}
    for d, s, e, _l in got:
        per_doc.setdefault(d, []).append((s, e))
    for ivs in per_doc.values():
        ivs.sort()
        assert all(b1 >= e0 for (_s0, e0), (b1, _e1) in zip(ivs, ivs[1:]))
    # apply stage removes exactly the merged coverage
    out = {
        r["doc_id"]: (r["text"], r["removed_chars"])
        for r in strip_repeated_spans(df, spans, "doc_id", "text").collect()
    }
    assert out[0] == (a[Lx + 2 :], Lx + 2)
    assert out[1] == ("", Lx) and out[2] == ("", Lx)


def test_heavy_gram_cap_output_identity(spark):
    """VERDICT r5 #1: grams above max_gram_freq route around the
    per-key window (groupBy count + semi-join membership) — output
    must equal the brute-force scan at every cap, tiny or above every
    count, on an adversarial corpus where one gram dominates
    (boilerplate repeated far above the cap)."""
    Lx = 12
    boiler = "BOILERPLATE!"  # exactly L chars -> one gram per planting
    assert len(boiler) == Lx
    rng = random.Random(11)
    alpha = "abcdefghijklmnopqrstuvwxyz"
    docs = {}
    # 40 docs, each planting the boilerplate gram 5x (200 occurrences)
    # amid unique soup; a second, rarer repeat sits just under the cap
    rare = "qqrareREPEAT"  # also L chars
    assert len(rare) == Lx
    for d in range(40):
        soup = "".join(rng.choice(alpha) for _ in range(30))
        docs[d] = (boiler + soup[:7] + boiler) * 2 + soup + boiler
    docs[100] = "unique " + "".join(rng.choice(alpha) for _ in range(50))
    docs[101] = rare + " filler " + rare  # 2 occurrences: a hit, not heavy
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")

    want = sorted(_brute_spans(docs, Lx))
    for cap in (1, 3, 100_000):
        # output must be identical in EVERY regime, because the cap is
        # routing-only
        got = sorted(
            map(tuple, repeated_substring_spans(
                df, "doc_id", "text", Lx, max_gram_freq=cap,
            ).collect())
        )
        assert got == want, f"cap={cap}"


def test_chunked_windows_output_identity(spark):
    """ADVICE r5 (medium): window generation is chunked so no per-row
    array scales with document length. Output must be independent of
    chunk_chars, including chunks smaller than L, equal to L, and
    non-divisible remainders."""
    docs = _mk_docs()
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    want = sorted(
        map(tuple, repeated_substring_spans(
            df, "doc_id", "text", L, chunk_chars=1 << 20
        ).collect())
    )
    assert want == sorted(_brute_spans(docs, L))
    for chunk in (1, 7, L, L + 1, 64):
        got = sorted(
            map(tuple, repeated_substring_spans(
                df, "doc_id", "text", L, chunk_chars=chunk
            ).collect())
        )
        assert got == want, f"chunk_chars={chunk}"


def test_repeated_gram_stats(spark):
    """Cap observability (the stop_shingle_stats sibling): distinct
    gram count, heavy count/positions, and max frequency match a
    brute-force count at a cap that the boilerplate gram exceeds."""
    from collections import Counter

    from htrtf_spark.operators.substr_dedup import repeated_gram_stats

    Lx = 12
    docs = {
        0: "BOILERPLATE!" * 6,               # gram at many offsets
        1: "BOILERPLATE!" + " unique one",
        2: "totally different text here....",
    }
    counts = Counter(
        t[i : i + Lx]
        for t in docs.values()
        for i in range(len(t) - Lx + 1)
    )
    cap = 3
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    row = repeated_gram_stats(
        df, "doc_id", "text", min_len=Lx, max_gram_freq=cap
    ).collect()[0]
    assert row["n_grams_distinct"] == len(counts)
    assert row["n_heavy_grams"] == sum(1 for v in counts.values() if v > cap)
    assert row["n_heavy_positions"] == sum(
        v for v in counts.values() if v > cap
    )
    assert row["max_freq"] == max(counts.values())


def test_cap_validation(spark):
    df = spark.createDataFrame([(1, "x" * 60)], "doc_id long, text string")
    with pytest.raises(ValueError):
        repeated_substring_spans(df, max_gram_freq=0)
    with pytest.raises(ValueError):
        repeated_substring_spans(df, chunk_chars=0)
