"""Deterministic content-hash sampling for training-data composition.

A training corpus is rarely "all the data": mixtures are specified as
per-stratum rates ("keep 30% of lang=en, 100% of lang=fr …"). At 100 TB
the sampler must be (a) a narrow filter (no shuffle, no RNG state),
(b) reproducible under retries/repartitioning/engine changes, and
(c) restatable in SQL for auditing. ``df.sample``/``sampleBy`` fail
(b): their membership depends on partition iteration order.

Same portable-hash convention as ``hash_split_assign`` (md5 prefix, the
SimHash gate's trick): a row is kept iff
``md5(seed ':' key) mod 10000 < rate_bp[stratum]`` — integer basis
points, no float comparisons. Sampling composes with the hash SPLIT
(different hash inputs → independent memberships).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from htrtf_spark.operators.dedup import portable_token_hash
from htrtf_spark.operators.textstats import token_count


def sample_bucket_bp(key_col, seed: int = 42) -> F.Column:
    """Deterministic uniform bucket in [0, 10000) from a row key —
    0-padded so every key length hashes distinctly."""
    return (
        portable_token_hash(
            F.concat_ws(":", F.lit(str(seed)), key_col.cast("string"))
        )
        % 10000
    )


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates_bp: dict[str, int],
    key_col: str,
    seed: int = 42,
    default_bp: int = 0,
) -> DataFrame:
    """Keep each row iff its deterministic bucket < its stratum's rate
    (basis points, 10000 = keep all). Strata absent from ``rates_bp``
    fall back to ``default_bp`` (0 = drop — mixture specs enumerate
    what they want). One narrow filter; fully pushdown-friendly."""
    for k, v in rates_bp.items():
        if not (0 <= int(v) <= 10000):
            raise ValueError(f"rate for {k!r} must be 0..10000 bp, got {v}")
    bucket = sample_bucket_bp(F.col(key_col), seed)
    rate_map = F.create_map(
        *[F.lit(x) for kv in rates_bp.items() for x in (kv[0], int(kv[1]))]
    )
    rate = F.coalesce(
        F.element_at(rate_map, F.col(strata_col)), F.lit(int(default_bp))
    )
    return df.filter(bucket < rate)


# Auto-sizing target: tokens one packing task should own. A bucket's
# window runs on one task; at ~4-8 bytes/token a 512M-token bucket is a
# low-GB task — parallel enough at any corpus size while keeping
# per-task state trivial (the window carries one running sum).
TARGET_TOKENS_PER_BUCKET = 512_000_000


def packing_buckets(total_tokens: int, target: int = TARGET_TOKENS_PER_BUCKET) -> int:
    """Sizing rule for ``pack_documents(n_buckets=...)``:
    ``≈ total_tokens / target``, floor 64 (keep small corpora parallel).
    Per-bucket volume is corpus/n_buckets, so n_buckets must scale
    O(corpus) — a fixed 64 at 100 TB would put ~1.6 % of the corpus
    through ONE task's window."""
    return max(64, int(total_tokens // max(1, target)) + 1)


def pack_documents(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_tokens: int,
    n_buckets: int | None = None,
    total_tokens_hint: int | None = None,
    token_expr=None,
) -> DataFrame:
    """Deterministic token-budget sequence packing (the "concatenate
    documents into fixed-length training sequences" primitive):
    documents are hash-bucketed, ordered by id within their bucket, and
    assigned ``seq_id = floor(cumulative_tokens_before / max_tokens)``
    — a pure window cumsum, so the same assignment falls out of any
    engine and any partitioning. Returns (bucket, seq_id, id,
    n_tokens).

    Scale shape: the only shuffle is the per-bucket window (buckets ≈
    4× executors keep it parallel; NO global window). Granularity is
    whole documents: a document straddling a boundary stays in the
    sequence its packing position starts in, so a sequence can overrun
    ``max_tokens`` by at most one document — the downstream tokenizer
    truncates, which is the standard tradeoff (exact bin packing is
    inherently sequential and engine-hostile).

    SIZING ``n_buckets`` (VERDICT r3): per-bucket token volume is
    corpus_tokens / n_buckets and one bucket = one window task, so
    n_buckets must grow with the corpus. Omit it and pass
    ``total_tokens_hint`` (a cheap prior estimate, e.g. last tick's
    count) to auto-size via ``packing_buckets`` — ≈ hint /
    TARGET_TOKENS_PER_BUCKET, floor 64; with neither given, the legacy
    64 applies and is only safe for ≲ 32 G-token corpora."""
    from pyspark.sql import Window

    if max_tokens <= 0:
        raise ValueError("max_tokens must be positive")
    if n_buckets is None:
        n_buckets = (
            packing_buckets(total_tokens_hint)
            if total_tokens_hint is not None
            else 64
        )
    # default: whitespace tokens; pass token_expr (a Column, e.g.
    # operators.bpe.bpe_token_count(text_col)) to budget in REAL
    # tokenizer units instead
    toks = token_expr if token_expr is not None else token_count(text_col)
    bucket = F.pmod(
        portable_token_hash(F.col(id_col).cast("string")), n_buckets
    ).cast("int")
    d = df.select(
        F.col(id_col).alias("id"),
        toks.alias("n_tokens"),
        bucket.alias("bucket"),
    )
    w = (
        Window.partitionBy("bucket")
        .orderBy("id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    cum_before = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    return d.select(
        "bucket",
        F.floor(cum_before / max_tokens).cast("int").alias("seq_id"),
        "id",
        "n_tokens",
    )


def temperature_mixture_rates(
    df: DataFrame,
    source_col: str,
    tau: float = 0.5,
    target_frac_bp: int = 5000,
) -> DataFrame:
    """Per-source acceptance rates for temperature-based mixture
    sampling — the data-dependent sibling of ``stratified_sample``:
    instead of a literal rate table, the mixture weights are computed
    FROM the corpus as ``w_s = n_s^tau`` (tau < 1 upweights small
    sources, the multinomial temperature scheme of multilingual /
    multi-source pre-training), renormalized to a total document budget
    ``T = N * target_frac_bp / 10000``.

    Returns one row per source: (source, n_s, w_s, rate_bp) where
    ``rate_bp = min(10000, floor(T*w_s / (W*n_s) * 10000))``.

    Engine-parity design (the rate table must be recomputable bit-exactly
    by a SQL oracle): the only libm call, ``pow(n_s, tau)``, is
    immediately quantized to an integer micro-weight
    ``w_s = floor(pow * 1e6)``; everything after is exact BIGINT
    arithmetic plus one correctly-rounded double division, so Java and
    C float stacks cannot diverge (a pow ULP difference flips the result
    only if it straddles a 1e-6 grid line — ~1e-10 per source).

    Scale shape: ONE map-side-combined count over the corpus (shuffle
    volume = #sources × #tasks rows); everything downstream — including
    the N/W totals, computed as a global window over the aggregated
    table rather than a second aggregation, so the corpus is scanned
    exactly once here (``counts.agg(...)`` re-derived from lineage
    would scan it twice) — operates on the tiny per-source table.
    BIGINT products ``T*w_s`` / ``W*n_s`` hold to ~10^12 docs at the
    default grids; beyond that, widen to DECIMAL(38,0).
    """
    from pyspark.sql import Window

    if not (0 <= int(target_frac_bp) <= 10000):
        raise ValueError("target_frac_bp must be 0..10000")
    counts = df.groupBy(F.col(source_col).alias("source")).agg(
        F.count(F.lit(1)).alias("n_s")
    )
    # single-partition global window: fine BECAUSE it runs on the
    # post-aggregation table (#sources rows), never on the corpus
    w_all = Window.partitionBy(F.lit(1)).rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    w_s = (
        F.floor(F.pow(F.col("n_s").cast("double"), F.lit(float(tau))) * 1000000)
        .cast("long")
        .alias("w_s")
    )
    target = F.expr(f"n_total * {int(target_frac_bp)} div 10000")
    rate = F.least(
        F.lit(10000).cast("long"),
        F.floor(
            (target * F.col("w_s")).cast("double")
            / (F.col("w_total") * F.col("n_s")).cast("double")
            * 10000.0
        ).cast("long"),
    )
    return (
        counts.select("source", "n_s", w_s)
        .withColumn("n_total", F.sum("n_s").over(w_all))
        .withColumn("w_total", F.sum("w_s").over(w_all))
        .select("source", "n_s", "w_s", rate.alias("rate_bp"))
    )


def temperature_mixture_sample(
    df: DataFrame,
    source_col: str,
    key_col: str,
    tau: float = 0.5,
    target_frac_bp: int = 5000,
    seed: int = 42,
    rates: DataFrame | None = None,
    missing_rate_bp: int = 10000,
    keep_columns: bool = False,
) -> DataFrame:
    """Sample ``df`` down to a temperature-``tau`` source mixture with a
    ``target_frac_bp/10000`` overall budget: rates from
    ``temperature_mixture_rates``, membership by the same deterministic
    md5 bucket as ``stratified_sample`` (reproducible under retries and
    engine changes; independent of the split/sample hashes by seed).

    Plan shape: tiny rate table broadcast-joined onto the corpus, then
    one narrow filter — the corpus is scanned twice (count + filter) but
    never shuffled. Pass a precomputed ``rates`` DataFrame (any frame
    with ``source``/``rate_bp`` columns — a prior tick's
    ``temperature_mixture_rates`` output, or ``last_mixture_rates``
    read back from a lineage property) to make the production loop
    ONE-scan: counts change slowly tick-over-tick, so reusing the last
    tick's rate table trades an O(corpus) count for a bounded mixture
    drift the next recompute corrects. ``tau``/``target_frac_bp`` are
    ignored when ``rates`` is given.

    A source ABSENT from a reused rate table (it landed after the
    rates were computed) samples at ``missing_rate_bp`` — default
    10000 (keep all), matching the tau<1 upweighting intuition that a
    brand-new (small) source gets the highest rate, and never a silent
    drop (review r6: an inner join here made new sources vanish for
    the whole tick with no audit trail). Pass 0 to defer new sources
    to the next rate recompute instead. Rows whose ``source_col`` is
    NULL always sample at ``missing_rate_bp`` too (a NULL stratum has
    no rate row — pre-coalesce the column if NULL is a real source).

    Emits (key, source, rate_bp); rate_bp kept for mixture audits —
    missing-source rows carry ``missing_rate_bp`` so they are visible
    there. ``keep_columns=True`` returns the INPUT columns plus
    ``rate_bp`` instead (the job-pipeline shape: filter rows in place,
    keep the audit rate)."""
    if not (0 <= int(missing_rate_bp) <= 10000):
        raise ValueError("missing_rate_bp must be 0..10000")
    if rates is None:
        rates = temperature_mixture_rates(df, source_col, tau, target_frac_bp)
    bucket = sample_bucket_bp(F.col(key_col), seed)
    # rename the rate table's key: the corpus may itself have a column
    # named "source" (it usually does), and an ambiguous reference here
    # would be a resolution error
    # ...and the same for rate_bp: a frame that was ALREADY sampled
    # with keep_columns=True carries a rate_bp column, and re-sampling
    # it must not hit an ambiguous reference (review r6)
    r = rates.select(
        F.col("source").alias("_mix_source"),
        F.col("rate_bp").alias("_mix_rate_bp"),
    )
    rate = F.coalesce(F.col("_mix_rate_bp"), F.lit(int(missing_rate_bp)))
    joined = df.join(
        F.broadcast(r), df[source_col] == F.col("_mix_source"), "left"
    ).filter(bucket < rate)
    if keep_columns:
        # a pre-existing rate_bp (a prior sampling pass) is superseded
        # by this pass's rate
        return joined.select(
            *[df[c] for c in df.columns if c != "rate_bp"],
            rate.alias("rate_bp"),
        )
    return joined.select(
        F.col(key_col).alias("key"),
        F.coalesce(F.col("_mix_source"), df[source_col]).alias("source"),
        rate.alias("rate_bp"),
    )


# ------------------------------------------------------------ lineage
# The rate table IS the mixture's provenance: which sources existed,
# their counts, and the acceptance rate each was sampled at. Persist it
# as a table property next to the tick metrics (plans/incremental.py
# TICK_METRICS_PROP convention) so every produced corpus can answer
# "what mixture was this?" and the next tick can reuse the rates for a
# one-scan sample (``temperature_mixture_sample(rates=...)``).

MIXTURE_RATES_PROP = "htrtf.mixture.last-rates"

_RATES_DDL = "source string, n_s long, w_s long, rate_bp long"


def record_mixture_rates(
    dest_loc: str,
    rates: DataFrame,
    tau: float,
    target_frac_bp: int,
) -> dict:
    """Persist a ``temperature_mixture_rates`` table (plus the knobs
    that produced it) as a JSON property of the destination Iceberg
    table — one bounded-small driver collect (#sources rows), committed
    through the same metadata path as tick metrics. Returns the stored
    payload."""
    import json

    from htrtf_spark.sources.iceberg import set_table_properties

    rows = rates.select("source", "n_s", "w_s", "rate_bp").collect()
    payload = {
        "tau": float(tau),
        "target_frac_bp": int(target_frac_bp),
        # None-safe sort key: a NULL-source stratum (groupBy emits one
        # when the corpus has NULL sources) must not crash the lineage
        # commit after the tick's work already succeeded (review r6)
        "rates": sorted(
            (
                [r["source"], int(r["n_s"]), int(r["w_s"]), int(r["rate_bp"])]
                for r in rows
            ),
            key=lambda x: (x[0] is None, x[0] or "", x[1:]),
        ),
    }
    set_table_properties(dest_loc, {MIXTURE_RATES_PROP: json.dumps(payload)})
    return payload


def last_mixture_rates(spark, dest_loc: str):
    """Read back the last persisted mixture-rate lineage as
    (rates DataFrame, {"tau", "target_frac_bp"}), or None if never
    recorded — the ``rates=`` input for a one-scan production tick."""
    import json

    from htrtf_spark.sources.iceberg import current_metadata

    raw = current_metadata(dest_loc).get("properties", {}).get(
        MIXTURE_RATES_PROP
    )
    if not raw:
        return None
    payload = json.loads(raw)
    df = spark.createDataFrame(
        [tuple(r) for r in payload["rates"]], _RATES_DDL
    )
    return df, {
        "tau": payload["tau"],
        "target_frac_bp": payload["target_frac_bp"],
    }
