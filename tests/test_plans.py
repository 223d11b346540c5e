"""Physical-plan quality gates: the plans we ship must keep the shapes
that survive a 100× scale-up — column-pruned scans, pushed filters,
broadcast dimension joins, no shuffle feeding the stateless extraction
stage."""

from __future__ import annotations

import contextlib
import io

import pytest

from htrtf_spark import synth
from htrtf_spark.plans.pipeline import extract_turns, ordered_extract
from htrtf_spark.schema import TRANSCRIPTS_SCHEMA

SF_DIR = "/root/testdata/sf0.001"


def _plan(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


@pytest.fixture(scope="module")
def transcripts_path(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("plans") / "tr")
    pdf = synth.synth_pandas(n_convs=10, seed=2)
    spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA).write.parquet(path)
    return path


def test_extraction_scan_prunes_columns(spark, transcripts_path):
    df = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(transcripts_path)
    plan = _plan(extract_turns(df))
    # the parquet scan must read exactly the 4 needed columns — tool/ts
    # pruned (at 100 TB the ts+tool bytes are real money)
    assert "ReadSchema" in plan
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "conv_id" in read_schema and "text" in read_schema
    assert "tool" not in read_schema and "ts" not in read_schema


def test_extraction_plan_is_narrow(spark, transcripts_path):
    df = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(transcripts_path)
    plan = _plan(extract_turns(df))
    assert "Exchange" not in plan  # no shuffle touches the raw payload


def test_ordered_extract_single_exchange(spark, transcripts_path):
    df = spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(transcripts_path)
    plan = _plan(ordered_extract(df), mode="simple")
    assert plan.count("Exchange hashpartitioning") == 1  # the window shuffle only


def test_filter_pushdown_reaches_scan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(li.l_quantity > 45).select("l_orderkey", "l_quantity")
    plan = _plan(q)
    assert "PushedFilters" in plan
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "GreaterThan(l_quantity" in pushed


def test_dim_join_is_broadcast(spark):
    from htrtf_spark.queries.relational import q06_revenue_per_nation

    plan = _plan(q06_revenue_per_nation(spark, SF_DIR))
    assert "BroadcastHashJoin" in plan


def test_semi_join_shape(spark):
    from htrtf_spark.queries.relational import q04_customers_with_urgent_orders

    plan = _plan(q04_customers_with_urgent_orders(spark, SF_DIR))
    assert "LeftSemi" in plan


def test_whole_stage_codegen_on_relational(spark):
    from htrtf_spark.queries.relational import q01_pricing_summary

    # AQE hides codegen annotations in pre-execution plans; disable it for
    # this one probe so the whole-stage spans are visible.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        plan = _plan(q01_pricing_summary(spark, SF_DIR), mode="formatted")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", "true")
    assert "codegen id" in plan  # aggregation stays inside whole-stage codegen


def test_q55_topk_is_take_ordered(spark):
    """q55's vocabulary top-20 must compile to TakeOrderedAndProject
    (per-partition local top-k), never a global row_number window over
    the whole vocabulary (10^8 terms through one task at web scale) —
    the same assertion test_operators applies to the ANN rankers."""
    from htrtf_spark.queries.relational3 import q55_term_df_topk

    df = q55_term_df_topk(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_q52_quartiles_no_global_window(spark):
    """q52's exact quartiles must not move the orders table through a
    single-partition window: no ntile and no SinglePartition exchange
    anywhere in the plan (the per-range rank windows are partitioned)."""
    from htrtf_spark.queries.relational3 import q52_order_value_quartiles

    plan = _plan(q52_order_value_quartiles(spark, SF_DIR), mode="simple")
    assert "ntile" not in plan
    assert "SinglePartition" not in plan


def test_exact_ntile_matches_global_ntile(spark):
    """exact_ntile == ntile() over a partition-less window, on an input
    sized to exercise uneven buckets (total % n != 0) and duplicate
    keys straddling range cuts."""
    import pyspark.sql.functions as F
    from pyspark.sql import Window

    from htrtf_spark.plans.ordering import exact_ntile

    df = spark.range(0, 10_007).select(
        (F.col("id") % 251).alias("k"), F.col("id").alias("tb")
    )
    got = {
        (r["k"], r["tb"]): r["bucket"]
        for r in exact_ntile(df, n=7, key="k", tiebreak="tb").collect()
    }
    w = Window.orderBy(F.asc("k"), F.asc("tb"))
    want = {
        (r["k"], r["tb"]): r["bucket"]
        for r in df.withColumn("bucket", F.ntile(7).over(w)).collect()
    }
    assert got == want


def test_bucketed_join_is_exchange_free(spark, tmp_path):
    """Bucketed tables joined on the bucket key plan WITHOUT an
    Exchange on either side (the pay-the-shuffle-once pattern); a
    bucket-count mismatch is caught by the guard."""
    import pyspark.sql.functions as F

    from htrtf_spark.plans import bucketing as B

    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    left = spark.range(0, 5000).select(
        F.col("id").alias("conv_key"), (F.col("id") % 97).alias("x")
    )
    right = spark.range(0, 5000, 3).select(
        F.col("id").alias("conv_key"), (F.col("id") % 31).alias("y")
    )
    B.write_bucketed(left, "t_bleft", "conv_key", n_buckets=8,
                     path=str(tmp_path / "bl"))
    B.write_bucketed(right, "t_bright", "conv_key", n_buckets=8,
                     path=str(tmp_path / "br"))
    try:
        j = B.bucketed_join(spark, "t_bleft", "t_bright", "conv_key")
        B.assert_no_shuffle_join(j)  # must not raise
        assert j.count() == right.count()  # join result correct

        # mismatched bucket count → a real Exchange appears → guard fires
        B.write_bucketed(right, "t_bwrong", "conv_key", n_buckets=4,
                         path=str(tmp_path / "bw"))
        bad = B.bucketed_join(spark, "t_bleft", "t_bwrong", "conv_key")
        with pytest.raises(AssertionError, match="Exchange"):
            B.assert_no_shuffle_join(bad)
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for t in ("t_bleft", "t_bright", "t_bwrong"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_exact_ntile_preserves_all_columns(spark):
    """ADVICE r3 (low): exact_ntile must return every input column plus
    the bucket, not a (key, tiebreak, bucket) projection."""
    from htrtf_spark.plans.ordering import exact_ntile

    df = spark.createDataFrame(
        [(i, f"id{i:03d}", f"payload-{i}") for i in range(50)],
        "k long, tb string, extra string",
    )
    out = exact_ntile(df, n=5, key="k", tiebreak="tb")
    assert set(out.columns) == {"k", "tb", "extra", "bucket"}
    rows = {r["tb"]: (r["extra"], r["bucket"]) for r in out.collect()}
    assert len(rows) == 50
    assert rows["id007"][0] == "payload-7"
    # bucket assignment still exact ntile semantics (10 per bucket)
    from collections import Counter

    c = Counter(b for _e, b in rows.values())
    assert c == {1: 10, 2: 10, 3: 10, 4: 10, 5: 10}


def test_q103_top_domains_local_topk(spark):
    """q103's corpus-wide domain ranking must compile to
    TakeOrderedAndProject (per-partition local top-k after the
    map-side-combined domain aggregate), never a global sort of the
    full domain table (10^8 domains at web scale)."""
    from htrtf_spark.queries.textops2 import q103_top_domains

    df = q103_top_domains(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
    assert "ntile" not in plan


# ------------------------------------------------------------- round 7
# Plan-shape guards for the r7 optimizations: each asserts the property
# the optimization bought, so a refactor cannot silently regress it.


def test_fan_out_fires_only_on_underparallel_scans(spark):
    """fan_out repartitions a single-split input to defaultParallelism
    and is a structural no-op (same plan object) on an input that is
    already at least as parallel as the session. It decides from the
    physical plan: an input that already holds an exchange (here an
    aggregation) comes back unchanged, and no job is run to probe it."""
    from pyspark.sql import functions as F

    from htrtf_spark.plans.ordering import fan_out

    cores = spark.sparkContext.defaultParallelism
    serial = spark.range(1000).coalesce(1)
    assert serial.rdd.getNumPartitions() == 1
    fanned = fan_out(serial, "id")
    assert fanned.rdd.getNumPartitions() == cores
    parallel = spark.range(1000).repartition(cores)
    assert fan_out(parallel, "id") is parallel  # no exchange added

    sc = spark.sparkContext
    agg = spark.range(1000).groupBy((F.col("id") % 7).alias("k")).count()
    sc.setJobGroup("fan_out_staged", "fan_out on an aggregated frame")
    try:
        assert fan_out(agg, "k") is agg
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup("fan_out_staged")) == []


def test_q57_releases_its_signature_cache(spark):
    """q57 caches its signature table through the dedup cache registry,
    so release_caches() after the action leaves no persisted RDD behind."""
    from htrtf_spark.operators.dedup import release_caches
    from htrtf_spark.queries.dedup import q57_minhash_estimate

    def persisted():  # ids only shrink by themselves (GC'd RDDs are cleaned)
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persisted()
    q57_minhash_estimate(spark, SF_DIR).count()
    made = persisted() - before
    assert made  # the signature table was cached
    release_caches()
    assert not made & persisted()


def test_redact_pii_masks_regex_chain_once(spark):
    """The staged credit-card path must evaluate the pattern-masking
    regexp_replace chain ONCE per row: the optimized plan carries each
    masking pattern exactly twice (one regexp_replace in the staged
    masked column + one regexp_count over the original text). The old
    flat projection inlined the whole chain per consumer (3x)."""
    from htrtf_spark.operators.pii import PII_PATTERNS, redact_pii

    df = spark.createDataFrame(
        [(1, "a@b.com 4111 1111 1111 1111")], "id long, text string"
    )
    out = redact_pii(df, "text")
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    email_pat = PII_PATTERNS[0][1]
    assert plan.count(email_pat) == 2, plan.count(email_pat)
    # and the result is still correct
    row = out.collect()[0]
    assert row["text"] == "<EMAIL> <CC>"
    assert row["n_email"] == 1 and row["n_cc"] == 1


def test_substr_phase1_is_groupby_with_broadcast_reattach(spark):
    """Substring-dedup phase 1 must aggregate 8-byte fingerprints (a
    map-side-combined groupBy — no per-key window buffering on the full
    window table) and reattach the bounded-small repeated-class set via
    a plan-time broadcast join; the only windows left are the
    candidate-only exact check and the span merge."""
    from htrtf_spark.operators.dedup import release_caches
    from htrtf_spark.operators.substr_dedup import repeated_substring_spans

    df = spark.createDataFrame(
        [(i, f"{'boilerplate text repeated! ' * 3}doc{i}") for i in range(6)],
        "doc_id long, text string",
    )
    try:
        spans = repeated_substring_spans(df, "doc_id", "text", min_len=20)
        plan = spans._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastHashJoin" in plan  # reattach regime, not SMJ
        # phase 1 must NOT window the full gram table on the hash:
        # every Window node left partitions on the real gram (exact
        # check) or on the doc id (span merge)
        for ln in plan.splitlines():
            if "Window" in ln and "windowspecdefinition" in ln:
                assert "_h#" not in ln, ln
        assert spans.count() > 0  # and it still finds the boilerplate
    finally:
        release_caches()


def test_band_signatures_single_aggregation_plan(spark):
    """LSH banding must carry ONE copy of the signature aggregation
    (inline-array explode), not one per band as the old union-of-selects
    did."""
    from pyspark.sql import functions as F

    from htrtf_spark.operators.dedup import band_signatures

    sig = (
        spark.createDataFrame(
            [(1, *[f"h{i}" for i in range(8)])],
            "id long, " + ", ".join(f"mh{i} string" for i in range(8)),
        )
        .groupBy("id")
        .agg(*[F.max(f"mh{i}").alias(f"mh{i}") for i in range(8)])
    )
    bands = band_signatures(sig, k=8, band_width=2)
    plan = bands._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate") == 1, plan
    assert bands.count() == 4  # one row per band, same rows as before
