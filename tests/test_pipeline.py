"""End-to-end Spark pipeline vs oracle: byte-exact per turn under stable
(conv_id, turn_idx) ordering; row-count conservation; deterministic
distributed synthesis."""

from __future__ import annotations

from pathlib import Path

import pandas as pd

from htrtf_spark import oracle, synth
from htrtf_spark.plans.ordering import with_turn_rank
from htrtf_spark.plans.pipeline import extract_turns, extraction_metrics
from htrtf_spark.schema import TRANSCRIPTS_SCHEMA

N_CONVS = 60
ROOT = str(Path(__file__).resolve().parents[1])


def _sorted_pdf(pdf: pd.DataFrame) -> pd.DataFrame:
    return pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)


def test_pipeline_byte_exact_vs_oracle(spark):
    src_pdf = synth.synth_pandas(n_convs=N_CONVS, seed=42)
    golden = _sorted_pdf(oracle.extract_frame(src_pdf))

    df = spark.createDataFrame(src_pdf, schema=TRANSCRIPTS_SCHEMA)
    out = extract_turns(df, num_partitions=8)
    got = _sorted_pdf(out.toPandas())

    assert len(got) == len(golden) == len(src_pdf)  # nothing silently dropped
    for col in ["conv_id", "turn_idx", "role", "mode", "extracted_text", "reject_reason"]:
        g = golden[col].where(golden[col].notna(), "<NULL>")
        f = got[col].where(got[col].notna(), "<NULL>")
        mism = (g.values != f.values).nonzero()[0]
        assert len(mism) == 0, (
            f"{col}: first mismatch at {mism[0] if len(mism) else '-'}: "
            f"golden={golden[col].iloc[mism[0]]!r} got={got[col].iloc[mism[0]]!r}"
        )
    # exact-match rate is exactly 100% (north rule)
    match = (
        golden["extracted_text"].fillna("<N>") == got["extracted_text"].fillna("<N>")
    ).mean()
    assert match == 1.0


def test_partitioning_invariance(spark):
    """Output is identical whatever the parallelism — ordering comes from
    keys, never from partition layout."""
    src_pdf = synth.synth_pandas(n_convs=20, seed=7)
    df = spark.createDataFrame(src_pdf, schema=TRANSCRIPTS_SCHEMA)
    a = _sorted_pdf(extract_turns(df, num_partitions=2).toPandas())
    b = _sorted_pdf(extract_turns(df, num_partitions=16).toPandas())
    pd.testing.assert_frame_equal(a, b)


def test_extraction_stage_is_map_in_arrow(spark):
    """The extraction stage crosses the Arrow boundary without pandas."""
    df = spark.createDataFrame(synth.synth_pandas(n_convs=2, seed=1), TRANSCRIPTS_SCHEMA)
    plan = extract_turns(df)._jdf.queryExecution().executedPlan().toString()
    assert "MapInArrow" in plan and "MapInPandas" not in plan


def test_reused_worker_skips_zip_directory_reads(spark):
    """A Python worker that has run extraction no longer re-reads its
    zip archives (pyspark.zip, py4j, the spark-core jar) on the
    per-task ``importlib.invalidate_caches()``: the package's zipimporter
    shim is in place. Counted, not timed."""
    df = spark.createDataFrame(synth.synth_pandas(n_convs=8, seed=3), TRANSCRIPTS_SCHEMA)
    assert extract_turns(df.repartition(4)).count() > 0

    def probe(batches):
        import importlib
        import sys
        import zipimport

        import pyarrow as pa

        reads = [0]
        orig = zipimport._read_directory

        def counted(path):
            reads[0] += 1
            return orig(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = orig
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict(
            {"reads": [reads[0]], "htrtf": ["htrtf_spark" in sys.modules]}
        )

    rows = spark.range(0, 4, 1, 4).mapInArrow(probe, "reads long, htrtf boolean").collect()
    # a worker the pool started after the extraction job never ran htrtf
    # code, so only workers that loaded the package are held to 0 reads
    ran = [r["reads"] for r in rows if r["htrtf"]]
    assert ran and ran == [0] * len(ran), rows


def test_synth_spark_matches_pandas(spark):
    """Distributed generation == single-process generation, row for row."""
    n = 12
    pdf_local = _sorted_pdf(synth.synth_pandas(n_convs=n, seed=42, shuffled=False))
    pdf_spark = _sorted_pdf(
        synth.synth_spark(spark, n_convs=n, seed=42, partitions=5).toPandas()
    )
    pd.testing.assert_frame_equal(
        pdf_local[["conv_id", "turn_idx", "role", "text", "tool"]],
        pdf_spark[["conv_id", "turn_idx", "role", "text", "tool"]],
    )


def test_turn_rank_stable_ordering(spark):
    src_pdf = synth.synth_pandas(n_convs=10, seed=3)
    df = spark.createDataFrame(src_pdf, schema=TRANSCRIPTS_SCHEMA)
    ranked = with_turn_rank(df).toPandas()
    # rn is 1..n_turns within each conversation following turn_idx order
    for _, grp in ranked.groupby("conv_id"):
        g = grp.sort_values("turn_idx")
        assert list(g["rn"]) == list(range(1, len(g) + 1))


def test_metrics_conservation(spark):
    src_pdf = synth.synth_pandas(n_convs=30, seed=9)
    df = spark.createDataFrame(src_pdf, schema=TRANSCRIPTS_SCHEMA)
    m = extraction_metrics(extract_turns(df)).toPandas()
    assert int(m["turns"].sum()) == len(src_pdf)
    golden = oracle.extract_frame(src_pdf)
    assert int(m["rejected"].sum()) == int(golden["reject_reason"].notna().sum())


def test_schema_check_rejects_drift(spark):
    import pytest

    from htrtf_spark.schema import check_input_schema

    bad = spark.createDataFrame(pd.DataFrame({"conv_id": ["a"], "turn_idx": [1]}))
    with pytest.raises(ValueError):
        check_input_schema(bad)


def test_conversation_documents_null_and_order(spark):
    """Document assembly follows string_agg semantics: all-null
    conversations yield NULL doc_text (not ''), and turns concatenate in
    turn_idx order regardless of input order."""
    from htrtf_spark.plans.pipeline import conversation_documents

    rows = [
        ("a", 1, "world", None),
        ("a", 0, "hello", None),
        ("b", 0, None, "null_text"),
        ("b", 1, None, "null_text"),
        ("c", 0, "only", None),
    ]
    ex = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, extracted_text string, reject_reason string",
    )
    got = {r["conv_id"]: (r["doc_text"], r["n_turns"])
           for r in conversation_documents(ex).collect()}
    assert got["a"] == ("hello world", 2)
    assert got["b"] == (None, 2)
    assert got["c"] == ("only", 1)


def test_build_training_set_job(spark, tmp_path):
    """End-to-end training-set builder: extraction → quality filter →
    keep-first dedup → partitioned Iceberg out, with conserved lineage
    and a recomputable kept-set."""
    import sys

    sys.path.insert(0, ROOT)
    from jobs.build_training_set import build_training_set

    from htrtf_spark import synth
    from htrtf_spark.schema import TRANSCRIPTS_SCHEMA
    from htrtf_spark.sources.iceberg import live_data_files, read_iceberg_table

    pdf = synth.synth_pandas(n_convs=40, seed=9)
    # plant exact duplicate texts across conversations
    dup = pdf[pdf["conv_id"] == pdf["conv_id"].iloc[0]].copy()
    dup["conv_id"] = "zzz-dup"
    import pandas as pd

    tr = spark.createDataFrame(
        pd.concat([pdf, dup], ignore_index=True), schema=TRANSCRIPTS_SCHEMA
    )
    out = str(tmp_path / "train_set")
    summary = build_training_set(
        spark, tr, out, min_tokens=3, max_stop_ratio_bp=10000,
        partition_by=["mode"],
    )
    assert summary["turns_in"] == len(pdf) + len(dup)
    assert 0 < summary["turns_out"] < summary["turns_in"]

    back = read_iceberg_table(spark, out)
    assert back.count() == summary["turns_out"]
    # dedup: every extracted_text appears exactly once
    assert back.select("extracted_text").distinct().count() == back.count()
    # the planted duplicate conversation lost to keep-first ordering
    assert back.filter("conv_id = 'zzz-dup'").count() == 0
    # quality: no kept row under the token floor
    assert back.filter("n_tokens < 3").count() == 0
    # partitioned by mode in the manifests
    files = live_data_files(out)
    assert files and all(f["_spec_cols"] == ["mode"] for f in files)
    # lineage summary persisted next to the table
    import json as _json
    import os as _os

    with open(_os.path.join(out, "_summary.json")) as fh:
        assert _json.load(fh)["turns_out"] == summary["turns_out"]


def test_build_training_set_with_sampling_and_packing(spark, tmp_path):
    """The mixture/packing knobs: per-mode rates subsample
    deterministically (subset of the unsampled run), unnamed modes are
    kept, and pack_tokens adds a consistent sequence assignment."""
    import sys

    sys.path.insert(0, ROOT)
    from jobs.build_training_set import build_training_set

    from htrtf_spark import synth
    from htrtf_spark.schema import TRANSCRIPTS_SCHEMA
    from htrtf_spark.sources.iceberg import read_iceberg_table

    pdf = synth.synth_pandas(n_convs=40, seed=9)
    tr = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)

    full_out = str(tmp_path / "full")
    build_training_set(spark, tr, full_out, min_tokens=3,
                       max_stop_ratio_bp=10000)
    full = read_iceberg_table(spark, full_out)
    full_keys = {
        (r["conv_id"], r["turn_idx"]) for r in full.collect()
    }

    out = str(tmp_path / "sampled")
    summary = build_training_set(
        spark, tr, out, min_tokens=3, max_stop_ratio_bp=10000,
        sample_rates_bp={"plain": 4000}, pack_tokens=50,
    )
    back = read_iceberg_table(spark, out)
    rows = back.collect()
    keys = {(r["conv_id"], r["turn_idx"]) for r in rows}
    assert keys <= full_keys and 0 < len(keys) < len(full_keys)
    # unnamed modes kept entirely
    full_nonplain = {
        (r["conv_id"], r["turn_idx"])
        for r in full.filter("mode <> 'plain'").collect()
    }
    assert full_nonplain <= keys
    # packing columns present and consistent with the operator
    assert {"pack_bucket", "pack_seq"} <= set(back.columns)
    assert summary["pack_tokens"] == 50
    from collections import defaultdict

    per_bucket = defaultdict(list)
    for r in rows:
        per_bucket[r["pack_bucket"]].append(r)
    for rs in per_bucket.values():
        rs.sort(key=lambda r: f"{r['conv_id']}#{r['turn_idx']}")
        cum = 0
        for r in rs:
            assert r["pack_seq"] == cum // 50
            cum += r["n_tokens"]


def test_conversation_documents_whale_cap(spark):
    """VERDICT r4 #7: whale-document cap — deterministic prefix by
    turn order under a turn-count and char-budget cap, applied before
    the collect; totals stay observable; generous caps reproduce the
    uncapped document exactly."""
    import pytest

    from htrtf_spark.plans.pipeline import conversation_documents

    rows = (
        # whale: 100 turns of 10 chars each
        [("whale", i, "x" * 10, None) for i in range(100)]
        # small conv with a null (rejected) turn in the middle
        + [("s", 0, "aa", None), ("s", 1, None, "rej"), ("s", 2, "bb", None)]
        # conv whose FIRST turn alone exceeds the char budget
        + [("big1", 0, "y" * 500, None), ("big1", 1, "tail", None)]
    )
    ex = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, extracted_text string, reject_reason string",
    )

    got = {
        r["conv_id"]: r
        for r in conversation_documents(
            ex, max_turns=50, max_doc_chars=45
        ).collect()
    }
    # whale: char budget bites first — turns kept while chars-before <
    # 45 → turns 0..4 (before-totals 0,10,20,30,40), doc = 5 * 10 chars
    w = got["whale"]
    assert w["n_turns"] == 100 and w["n_turns_kept"] == 5 and w["truncated"]
    assert w["doc_text"] == " ".join(["x" * 10] * 5)
    # small conv fits entirely; null turn counts 0 chars but IS a turn
    s = got["s"]
    assert s["n_turns"] == 3 and s["n_turns_kept"] == 3 and not s["truncated"]
    assert s["doc_text"] == "aa bb"
    # first turn always kept even when it alone blows the budget
    b = got["big1"]
    assert b["n_turns_kept"] == 1 and b["truncated"]
    assert b["doc_text"] == "y" * 500

    # turn cap alone
    got_t = {
        r["conv_id"]: r
        for r in conversation_documents(ex, max_turns=3).collect()
    }
    assert got_t["whale"]["n_turns_kept"] == 3
    assert got_t["whale"]["doc_text"] == " ".join(["x" * 10] * 3)
    assert got_t["s"]["n_turns_kept"] == 3 and not got_t["s"]["truncated"]

    # generous caps == uncapped doc_text / n_turns exactly
    uncapped = {
        r["conv_id"]: (r["doc_text"], r["n_turns"])
        for r in conversation_documents(ex).collect()
    }
    generous = {
        r["conv_id"]: (r["doc_text"], r["n_turns"])
        for r in conversation_documents(
            ex, max_turns=10_000, max_doc_chars=10_000_000
        ).collect()
    }
    assert generous == uncapped

    with pytest.raises(ValueError):
        conversation_documents(ex, max_turns=0)
    with pytest.raises(ValueError):
        conversation_documents(ex, max_doc_chars=0)


def test_conversation_documents_cap_single_shuffle(spark):
    """The cap must not add a shuffle: window rank and groupBy share
    the conv_id hash partitioning — exactly one Exchange over the
    input."""
    from htrtf_spark.plans.pipeline import conversation_documents

    ex = spark.createDataFrame(
        [("a", 0, "x", None)],
        "conv_id string, turn_idx int, extracted_text string, reject_reason string",
    )
    plan = (
        conversation_documents(ex, max_turns=2, max_doc_chars=100)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert plan.count("Exchange") == 1


def test_conversation_documents_cap_duplicate_turn_idx_deterministic(spark):
    """Duplicate turn_idx at the cap boundary resolves by the RAW-text
    tiebreak — the SAME secondary key the uncapped array_sort uses
    (ADVICE r5: an md5 tiebreak could reorder tied turns relative to
    the uncapped q62 output) — and the kept set and assembled order are
    identical across partitionings and match an independent Python
    restatement."""
    from htrtf_spark.plans.pipeline import conversation_documents

    rows = [
        ("d", 0, "zz", None),
        ("d", 0, "aa", None),
        ("d", 1, "bb", None),
    ]
    ex = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, extracted_text string, reject_reason string",
    )
    # python restatement of the rule: order by (turn_idx, text),
    # keep the first max_turns
    ordered = sorted(
        [(t, x) for _c, t, x, _r in rows],
        key=lambda p: (p[0], p[1]),
    )
    want_doc = " ".join(x for _t, x in ordered[:2])

    for parts in (1, 7):
        got = conversation_documents(
            ex.repartition(parts), max_turns=2
        ).collect()[0]
        assert got["doc_text"] == want_doc
        assert got["n_turns"] == 3 and got["n_turns_kept"] == 2
        assert got["truncated"]


def test_training_corpus_stripped_composition(spark):
    """q101 composition: extraction → repeated-substring strip →
    quality → keep-first dedup. A partially-boilerplated document
    survives with removed_chars > 0 and its token stats computed on
    the STRIPPED text; a fully-duplicated document strips to empty and
    is dropped by quality; clean documents match training_corpus."""
    import random

    from htrtf_spark.queries.training_pipeline import (
        MIN_TOKENS,
        training_corpus,
        training_corpus_stripped,
    )

    rng = random.Random(3)
    words = ["alpha", "bravo", "delta", "echo", "golf", "hotel", "kilo",
             "lima", "mike", "nova", "oscar", "papa"]

    def soup(n, r):
        return " ".join(r.choice(words) for _ in range(n))

    boiler = "this license header is repeated verbatim across the corpus " * 2
    docs = {
        # partial boilerplate + unique tail long enough to keep quality
        1: boiler + soup(MIN_TOKENS + 10, random.Random(11)),
        2: boiler + soup(MIN_TOKENS + 10, random.Random(12)),
        # fully duplicated pair: strips to (almost) nothing
        3: boiler,
        4: boiler,
        # clean doc, no repeats
        5: soup(MIN_TOKENS + 10, random.Random(15)),
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    got = {r["doc_id"]: r for r in training_corpus_stripped(
        df, min_len=40
    ).collect()}

    assert set(got) == {1, 2, 5}
    assert got[1]["removed_chars"] > 0 and got[2]["removed_chars"] > 0
    assert got[5]["removed_chars"] == 0
    # token stats are over the stripped text: doc 1's count reflects
    # only its unique tail, matching a corpus-without-boilerplate run
    base = {r["doc_id"]: r for r in training_corpus(df).collect()}
    assert base[1]["n_tokens"] > got[1]["n_tokens"] >= MIN_TOKENS
    # and the fingerprint is over the stripped text (differs from raw)
    assert got[1]["fp"] != base[1]["fp"]


def test_conversation_documents_nonbinding_cap_matches_uncapped(spark):
    """ADVICE r5: enabling a cap that never binds must reproduce the
    uncapped doc_text byte-for-byte — including conversations with
    duplicate turn_idx values, where the tiebreak order is what shows."""
    from pyspark.sql import functions as F

    from htrtf_spark.plans.pipeline import conversation_documents

    rows = [
        ("a", 0, "zz", None),
        ("a", 0, "aa", None),
        ("a", 1, "mm", None),
        ("b", 5, "only", None),
        ("c", 1, None, "empty_after_clean"),
        ("c", 1, "kept", None),
    ]
    ex = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, extracted_text string, reject_reason string",
    )
    want = {
        r["conv_id"]: (r["doc_text"], r["n_turns"])
        for r in conversation_documents(ex).collect()
    }
    got = {
        r["conv_id"]: (r["doc_text"], r["n_turns"])
        for r in conversation_documents(
            ex, max_turns=10_000, max_doc_chars=10_000_000
        ).collect()
    }
    assert got == want
    assert want["a"][0] == "aa zz mm"  # raw-text tiebreak within turn 0


def test_build_training_set_mixture_ticks(spark, tmp_path):
    """Temperature-mixture job path: run 1 computes rates from the
    corpus and records them ON the output table; run 2 with
    reuse_mixture_rates samples one-scan with the recorded rates
    (identical member set for unchanged data) and the table is
    overwritten in place, with the mixture knobs in the lineage
    summary."""
    import sys

    sys.path.insert(0, ROOT)
    from jobs.build_training_set import build_training_set

    from htrtf_spark import synth
    from htrtf_spark.operators.sampling import last_mixture_rates
    from htrtf_spark.schema import TRANSCRIPTS_SCHEMA
    from htrtf_spark.sources.iceberg import read_iceberg_table

    pdf = synth.synth_pandas(n_convs=40, seed=11)
    tr = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    out = str(tmp_path / "mix_set")

    s1 = build_training_set(
        spark, tr, out, min_tokens=1, max_stop_ratio_bp=10000,
        mixture_tau=0.5, mixture_target_bp=6000,
    )
    assert s1["mixture"] == {
        "tau": 0.5, "target_frac_bp": 6000, "reused_rates": False,
    }
    got = last_mixture_rates(spark, out)
    assert got is not None
    rates_df, knobs = got
    assert knobs == {"tau": 0.5, "target_frac_bp": 6000}
    first = sorted(
        map(tuple, read_iceberg_table(spark, out)
            .select("conv_id", "turn_idx", "rate_bp").collect())
    )
    assert first and all(r[2] is not None for r in first)

    # tick 2: same input, reuse the recorded rates - identical members
    s2 = build_training_set(
        spark, tr, out, min_tokens=1, max_stop_ratio_bp=10000,
        mixture_tau=0.5, mixture_target_bp=6000,
        reuse_mixture_rates=True,
    )
    assert s2["mixture"]["reused_rates"] is True
    second = sorted(
        map(tuple, read_iceberg_table(spark, out)
            .select("conv_id", "turn_idx", "rate_bp").collect())
    )
    assert second == first

    # literal rates and mixture together are a config error
    import pytest

    with pytest.raises(ValueError, match="mutually exclusive"):
        build_training_set(
            spark, tr, str(tmp_path / "x"), sample_rates_bp={"plain": 1},
            mixture_tau=0.5,
        )


def test_build_training_set_link_density_guard(spark, tmp_path):
    """--max-link-density-bp: link-farm turns (high URLs-per-token)
    drop; prose with an occasional link survives; off by default."""
    import sys

    sys.path.insert(0, ROOT)
    from jobs.build_training_set import build_training_set

    from pyspark.sql import functions as F

    from htrtf_spark.sources.iceberg import read_iceberg_table

    farm = " ".join(f"https://spam{i}.example.com/x" for i in range(10))
    prose = ("the quick brown fox jumps over the lazy dog again and "
             "again see https://ok.example.com/ref for details today")
    rows = [
        ("farm", 0, "user", farm, None),
        ("prose", 0, "user", prose, None),
    ]
    tr = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))

    out1 = str(tmp_path / "no_guard")
    s1 = build_training_set(
        spark, tr, out1, min_tokens=1, max_stop_ratio_bp=10000,
    )
    assert s1["turns_out"] == 2 and s1["max_link_density_bp"] is None

    out2 = str(tmp_path / "guard")
    s2 = build_training_set(
        spark, tr, out2, min_tokens=1, max_stop_ratio_bp=10000,
        max_link_density_bp=5000,
    )
    assert s2["turns_out"] == 1
    kept = read_iceberg_table(spark, out2).select("conv_id").collect()
    assert [r["conv_id"] for r in kept] == ["prose"]


def test_build_training_set_review_guards(spark, tmp_path):
    """Review r6 second pass: (a) an existing output table is only
    replaced with overwrite=True (or a reuse tick); (b) reusing rates
    recorded under different mixture knobs raises instead of silently
    sampling the old mixture; (c) a keep_columns-sampled frame can be
    re-sampled (no rate_bp ambiguity)."""
    import sys

    import pytest

    sys.path.insert(0, ROOT)
    from jobs.build_training_set import build_training_set

    from pyspark.sql import functions as F

    from htrtf_spark import synth
    from htrtf_spark.operators.sampling import (
        temperature_mixture_rates,
        temperature_mixture_sample,
    )
    from htrtf_spark.schema import TRANSCRIPTS_SCHEMA

    pdf = synth.synth_pandas(n_convs=15, seed=21)
    tr = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    out = str(tmp_path / "guarded")
    build_training_set(spark, tr, out, min_tokens=1,
                       max_stop_ratio_bp=10000, mixture_tau=0.5)
    with pytest.raises(FileExistsError, match="overwrite"):
        build_training_set(spark, tr, out, min_tokens=1,
                           max_stop_ratio_bp=10000)
    with pytest.raises(ValueError, match="recorded mixture rates"):
        build_training_set(
            spark, tr, out, min_tokens=1, max_stop_ratio_bp=10000,
            mixture_tau=0.7, reuse_mixture_rates=True,
        )
    # same output shape (mixture recompute) + explicit overwrite works;
    # a non-mixture overwrite of a mixture table fails loudly inside
    # overwrite_iceberg_table's schema check (separately verified above
    # review pass), so use the matching shape here
    s = build_training_set(
        spark, tr, out, min_tokens=1, max_stop_ratio_bp=10000,
        mixture_tau=0.7, overwrite=True,
    )
    assert s["turns_out"] > 0 and s["mixture"]["tau"] == 0.7

    # (c) keep_columns output re-samples without ambiguity
    d = spark.createDataFrame(
        [(i, "a" if i % 3 else "b") for i in range(60)],
        "doc_id long, src string",
    )
    rates = temperature_mixture_rates(d, "src", 0.5, 8000)
    once = temperature_mixture_sample(
        d, "src", "doc_id", rates=rates, keep_columns=True
    )
    assert once.columns == ["doc_id", "src", "rate_bp"]
    twice = temperature_mixture_sample(
        once, "src", "doc_id", rates=rates, keep_columns=True
    )
    assert twice.columns == ["doc_id", "src", "rate_bp"]
    assert twice.count() <= once.count()
