"""Bucketed tables for shuffle-free co-located joins.

At 100 TB the expensive recurring operation is an equi-join of two huge
tables on the same key (e.g., transcripts ⋈ per-conversation stats,
corpus ⋈ dedup verdicts). If both sides are bucketed on the join key
with the same bucket count, Spark's scan emits hash-partitioned output
directly — the join plans WITHOUT an Exchange on either big side; only
a bucket-local sort remains. This is the "pre-partition once, join
many times" pattern: you pay one shuffle at WRITE time and never again.

Spark bucketing requires the table catalog (``saveAsTable``); the
helpers here pin the contract (key, bucket count) so both sides always
agree — a bucket-count mismatch silently degrades to a plain shuffle
join, which ``assert_no_shuffle_join`` exists to catch in tests/CI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DEFAULT_BUCKETS = 64  # sandbox scale; ~4 × executors on a real cluster


def write_bucketed(
    df: DataFrame,
    table: str,
    key: str,
    n_buckets: int = DEFAULT_BUCKETS,
    sort: bool = True,
    path: str | None = None,
) -> None:
    """Persist ``df`` as a bucketed (and bucket-sorted) catalog table on
    ``key``. The one-time shuffle happens here; subsequent equi-joins
    between tables bucketed with the SAME (key, n_buckets) are
    exchange-free on both sides. ``path`` makes it an external table
    (data at an explicit location instead of the static warehouse
    dir)."""
    w = (
        df.repartition(n_buckets, key)  # align write tasks with buckets
        .write.mode("overwrite")
        .format("parquet")
        .bucketBy(n_buckets, key)
    )
    if sort:
        w = w.sortBy(key)
    if path is not None:
        w = w.option("path", path)
    w.saveAsTable(table)


def bucketed_join(
    spark: SparkSession, left_table: str, right_table: str, key: str
) -> DataFrame:
    """Equi-join two same-bucketed tables; the physical plan must not
    contain an Exchange above either scan."""
    return spark.table(left_table).join(spark.table(right_table), key)


def assert_no_shuffle_join(df: DataFrame) -> None:
    """Raise if the plan shuffles either join side (the bucket contract
    was broken — wrong key, mismatched bucket counts, or bucketing
    disabled). Used by tests and as a CI guard on hot joins."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    # only SHUFFLE exchanges break the contract; a BroadcastExchange
    # means the planner chose a broadcast join (also shuffle-free on
    # the big side) — not a bucketing failure
    if "Exchange hashpartitioning" in plan or "Exchange rangepartitioning" in plan:
        raise AssertionError(
            "bucketed join plan contains a shuffle Exchange (bucket "
            f"contract broken):\n{plan[:2000]}"
        )
