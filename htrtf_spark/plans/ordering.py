"""Stable ordering + skew-defeating salted repartition.

North-rule requirements: per-turn output must be reproducible under a
stable (conv_id, turn_idx) ordering, and long conversations must not
create straggler tasks. The reference's analog of the skew problem is
very wide images, solved by width chunking
(/root/reference/Modules/layers.py:345-369); ours is conversation-salted
hash repartitioning: each conversation is spread over at most 8
partitions, so a 10^6-turn whale becomes 8 bounded tasks instead of one
straggler, while small conversations stay collocated.

Ordering NEVER comes from partition/file iteration order (the reference's
shuffle_set, /root/reference/Modules/utils.py:264-307, shows order is an
explicit operation there too) — it comes from a window sort keyed
(conv_id, turn_idx), totally tie-broken.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def fan_out(df: DataFrame, *key_cols: str) -> DataFrame:
    """Scale-adaptive parallelism guard for CPU-heavy narrow stages
    (guide §2.2/§6): when the upstream scan yields fewer splits than the
    session has cores — locally a single-row-group parquet file is ONE
    split no matter the split config, so every narrow stage fused with
    the scan runs on one core — hash-repartition on ``key_cols`` to
    ``defaultParallelism`` partitions before the expensive work. The
    explicit partition count keeps AQE from re-coalescing the small-but-
    CPU-dense partitions. At warehouse scale a scan has thousands of
    splits and this is a structural no-op (no exchange added), so the
    plan stays shuffle-free where the data is already parallel — the
    condition adapts to the input, not to a local constant.

    The guard never runs a job. Its split probe, ``df.rdd``, would make
    AQE run every query stage below the plan's root, so it only probes a
    plan without one: an input whose physical plan holds an exchange
    (its partitioning is already set) or a cached relation is returned
    unchanged. A streaming plan, which cannot be probed, is too."""
    cores = df.sparkSession.sparkContext.defaultParallelism
    try:
        if _has_query_stage(df._jdf.queryExecution().executedPlan()):
            return df
        nparts = df.rdd.getNumPartitions()
    except Exception:
        return df
    if nparts >= cores:
        return df
    return df.repartition(cores, *[F.col(c) for c in key_cols])


def _has_query_stage(plan) -> bool:
    """True when physical ``plan`` holds an exchange or a cached-relation
    scan: the nodes AQE runs as separate jobs before the plan's RDD
    exists."""
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.nodeName()
        if name.endswith("Exchange") or name == "InMemoryTableScan":
            return True
        if name == "AdaptiveSparkPlan":
            stack.append(node.executedPlan())
            continue
        children = node.children()
        stack.extend(children.apply(i) for i in range(children.size()))
    return False


def salted_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Hash-repartition on (conv_id, salt) where salt ∈ [0, 8) is derived
    deterministically from turn_idx — stateless per-row stages
    downstream see balanced partitions even with whale conversations."""
    salt = F.pmod(F.xxhash64("turn_idx"), F.lit(8))
    return df.repartition(num_partitions, F.col("conv_id"), salt)


def _content_tiebreak(df: DataFrame):
    """Deterministic final tie-break for rows sharing (conv_id, turn_idx,
    role): md5 of the content column (engine-portable — the oracle SQL
    can restate it). Duplicate keys occur in raw un-deduped ingest;
    without this the rank would follow shuffle arrival order."""
    for c in ("extracted_text", "text"):
        if c in df.columns:
            return [F.md5(F.coalesce(F.col(c), F.lit("")))]
    return []


def with_turn_rank(df: DataFrame, col_name: str = "rn") -> DataFrame:
    """Stable per-conversation rank (W3 in SURVEY.md §2.5): window sort on
    (turn_idx, role, md5(content)) — the only order source, totally
    tie-broken even under duplicate (conv_id, turn_idx, role) keys.
    (Rows identical in ALL columns remain interchangeable — any rank
    assignment among them yields the same output multiset.)"""
    w = Window.partitionBy("conv_id").orderBy(
        "turn_idx", "role", *_content_tiebreak(df)
    )
    return df.withColumn(col_name, F.row_number().over(w))


def exact_ntile(
    df: DataFrame,
    n: int,
    key: str,
    tiebreak: str,
    out_col: str = "bucket",
    num_ranges: int = 32,
) -> DataFrame:
    """Exact ``ntile(n) OVER (ORDER BY key, tiebreak)`` WITHOUT a
    single-partition global window (the canonical scale-killer: a
    partition-less ``Window.orderBy`` moves every row through one task).

    Two-phase distributed global ranking instead:

    1. Deterministic range cuts on ``key`` (Greenwald-Khanna
       ``approxQuantile`` — a sketch pass; cut *placement* only affects
       balance, never correctness, because every row with equal ``key``
       lands in the same range so the concatenated ranges realize the
       exact total order).
    2. Per-range counts → driver gets one tiny array (``num_ranges``
       longs), turns it into cumulative offsets.
    3. Per-range local ``row_number`` window (partitioned — parallel) +
       range offset = exact global row number; ntile bucket is then pure
       arithmetic: first ``total % n`` buckets take ``total//n + 1``
       rows, the rest ``total//n`` (ntile's uneven-split contract).

    Cost: sketch pass + count pass over the 2-column projection, one
    assignment pass over the full rows — all parallel, nothing larger
    than ``num_ranges`` longs on the driver. ``key`` must be numeric
    and non-null; ``tiebreak`` must make (key, tiebreak) unique for a
    total order. Returns ``df`` with EVERY input column plus
    ``out_col`` (ADVICE r3: earlier versions silently projected down to
    (key, tiebreak, bucket))."""
    import functools

    proj = df.select(key, tiebreak)
    cuts_f = [
        float(c)
        for c in sorted(
            set(
                proj.stat.approxQuantile(
                    key, [i / num_ranges for i in range(1, num_ranges)], 0.001
                )
            )
        )
    ]
    rng = functools.reduce(
        lambda acc, c: acc + F.when(F.col(key) > F.lit(c), 1).otherwise(0),
        cuts_f,
        F.lit(0),
    )
    # counts from the narrow projection (cheap scan); the assignment
    # pass below runs over the FULL rows so no input column is lost
    counts = {
        r["_rng"]: r["cnt"]
        for r in proj.withColumn("_rng", rng)
        .groupBy("_rng")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    ranged = df.withColumn("_rng", rng)
    total = sum(counts.values())
    offsets: dict[int, int] = {}
    acc = 0
    for b in sorted(counts):
        offsets[b] = acc
        acc += counts[b]
    off_map = F.create_map(
        *[F.lit(x) for kv in offsets.items() for x in kv]
    )
    local = Window.partitionBy("_rng").orderBy(F.asc(key), F.asc(tiebreak))
    rn = F.element_at(off_map, F.col("_rng")) + F.row_number().over(local)
    big, rem = divmod(total, n)
    # rows 1..rem*(big+1) fall in the first `rem` (larger) buckets
    boundary = rem * (big + 1)
    bucket = F.when(
        F.lit(rem > 0) & (rn <= F.lit(boundary)),
        F.ceil(rn / F.lit(big + 1)),
    ).otherwise(F.lit(rem) + F.ceil((rn - F.lit(boundary)) / F.lit(max(big, 1))))
    return ranged.withColumn(out_col, bucket.cast("int")).drop("_rng")
