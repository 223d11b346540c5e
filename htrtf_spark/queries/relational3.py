"""Additional driver-gate coverage: lag/lead gaps, ntile, GROUPING SETS,
last_value(ignore nulls) carry-forward, vocabulary document-frequency
top-k, and one k-means centroid-update step over the embeddings table.

Float-parity rules as everywhere (see queries/__init__.py): integer
milliseconds / cents / basis points in the outputs, totally tie-broken
rankings, identical aliases both sides.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from htrtf_spark.queries.util import cents, t

# --------------------------------------------------------------------- q51
# Inter-event gaps per user via lag() — event-time deltas are the
# transcript-ts analog (BASELINE input_hint has ts:timestamp).


def q51_event_gaps(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    # driver parquet timestamps arrive as TIMESTAMP_NTZ in Spark 4 —
    # normalize via cast before unix_millis
    ms = F.unix_millis(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    g = e.select("user_id", (ms - F.lag(ms).over(w)).alias("gap_ms"))
    return (
        g.filter(F.col("gap_ms").isNotNull())
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_gaps"),
            F.sum("gap_ms").alias("sum_gap_ms"),
            F.max("gap_ms").alias("max_gap_ms"),
        )
    )


_Q51_SQL = """
WITH g AS (
  SELECT user_id,
         epoch_ms(ts) - lag(epoch_ms(ts))
             OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_ms
  FROM events
)
SELECT user_id, COUNT(*) AS n_gaps, CAST(SUM(gap_ms) AS BIGINT) AS sum_gap_ms,
       MAX(gap_ms) AS max_gap_ms
FROM g WHERE gap_ms IS NOT NULL
GROUP BY user_id
"""

# --------------------------------------------------------------------- q52
# ntile quartiles over order value — computed by the two-phase exact
# global ranking (plans/ordering.exact_ntile): range cuts → per-range
# counts (tiny driver array) → per-range parallel windows + offset
# arithmetic. Identical output to ntile(4) OVER (ORDER BY ...), but no
# single-partition global window anywhere in the plan (round-2 verdict's
# canonical scale-killer, fixed).


def q52_order_value_quartiles(spark, sf_dir):
    from htrtf_spark.plans.ordering import exact_ntile

    o = t(spark, sf_dir, "orders")
    q = exact_ntile(
        o.select(cents("o_totalprice").alias("cents"), "o_orderkey"),
        n=4,
        key="cents",
        tiebreak="o_orderkey",
        out_col="quartile",
    )
    return (
        q.groupBy("quartile")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("sum_cents"))
        .orderBy("quartile")
    )


_Q52_SQL = """
WITH q AS (
  SELECT CAST(ROUND(o_totalprice * 100) AS BIGINT) AS cents,
         ntile(4) OVER (ORDER BY CAST(ROUND(o_totalprice * 100) AS BIGINT),
                        o_orderkey) AS quartile
  FROM orders
)
SELECT quartile, COUNT(*) AS n, CAST(SUM(cents) AS BIGINT) AS sum_cents
FROM q GROUP BY quartile ORDER BY quartile
"""

# --------------------------------------------------------------------- q53
# Explicit GROUPING SETS (cube/rollup are q43) — status-only,
# priority-only, and grand-total groups distinguished by NULL markers.


def q53_grouping_sets(spark, sf_dir):
    t(spark, sf_dir, "orders").createOrReplaceTempView("q53_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
               SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS sum_cents
        FROM q53_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


_Q53_SQL = """
SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
"""

# --------------------------------------------------------------------- q54
# last_value(... IGNORE NULLS) carry-forward: per user, the event_id of
# the last non-click event (integer-only output — no float hazard).


def q54_last_nonclick_carry(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    carried = F.last(
        F.when(F.col("event_type") != "click", F.col("event_id")), ignorenulls=True
    ).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    ranked = e.select(
        "user_id",
        carried.alias("last_nonclick_event_id"),
        F.row_number().over(
            Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
        ).alias("rn_desc"),
    )
    return ranked.filter(F.col("rn_desc") == 1).select(
        "user_id", "last_nonclick_event_id"
    )


_Q54_SQL = """
SELECT user_id, last_nonclick_event_id FROM (
  SELECT user_id,
         LAST_VALUE(CASE WHEN event_type <> 'click' THEN event_id END IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             AS last_nonclick_event_id,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
             AS rn_desc
  FROM events
) WHERE rn_desc = 1
"""

# --------------------------------------------------------------------- q55
# Vocabulary document frequency, top 20 (training-data vocab stats).


def q55_term_df_topk(spark, sf_dir):
    from htrtf_spark.operators.textstats import tokens

    d = t(spark, sf_dir, "documents")
    words = d.select(F.explode(F.array_distinct(tokens("text"))).alias("word"))
    counts = words.groupBy("word").agg(F.count("*").alias("doc_freq"))
    # top-20 of a web-scale vocabulary must never be a global window sort
    # (10^8 terms through one task): orderBy+limit compiles to
    # TakeOrderedAndProject (per-partition local top-k + driver merge of
    # partitions×k rows); the tie-broken rank window then runs over
    # exactly 20 rows — the simsearch._ranked_topk pattern.
    top = counts.orderBy(F.desc("doc_freq"), F.asc("word")).limit(20)
    w = Window.orderBy(F.desc("doc_freq"), F.asc("word"))
    return top.withColumn("rnk", F.row_number().over(w)).select(
        "word", "doc_freq", "rnk"
    )


_Q55_SQL = """
WITH w AS (
  SELECT unnest(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')))
             AS word
  FROM documents
),
c AS (SELECT word, COUNT(*) AS doc_freq FROM w GROUP BY word)
SELECT word, doc_freq,
       CAST(ROW_NUMBER() OVER (ORDER BY doc_freq DESC, word ASC) AS INTEGER) AS rnk
FROM c
QUALIFY rnk <= 20
"""

# --------------------------------------------------------------------- q56
# One k-means centroid-update step over embeddings: assign every vector
# to its max-cosine centroid (8 id-ordered seeds), then emit the new
# per-cell per-dimension means in basis points. The iterative-algorithm
# building block: at scale this is exactly the Lloyd's-step shuffle
# (assign narrow, update = one groupBy).

_KM_CELLS = 8
_DIM = 64


def q56_kmeans_step(spark, sf_dir):
    from htrtf_spark.operators.simsearch import assign_cells, centroid_row

    e = t(spark, sf_dir, "embeddings")
    seeds = centroid_row(e.orderBy("vec_id").limit(_KM_CELLS), "vec_id", "embedding")
    # the cell is projected BEFORE the posexplode, so the centroid
    # cosines run once per vector, not once per dimension
    v = F.col("embedding").cast("array<double>")
    cells = e.crossJoin(seeds).select(
        assign_cells(v, F.col("cents")).alias("cell"), v.alias("v")
    )
    assigned = cells.select("cell", F.posexplode("v").alias("dim0", "x"))
    return (
        assigned.groupBy("cell", (F.col("dim0") + 1).alias("dim"))
        .agg(F.round(F.avg("x") * 10000).cast("long").alias("mean_bp"))
        .orderBy("cell", "dim")
    )


_Q56_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, v AS cv
  FROM e ORDER BY vec_id LIMIT {_KM_CELLS}
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY list_dot_product(e.v, c.cv)
                      / (sqrt(list_dot_product(e.v, e.v))
                         * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cell ASC) AS rn
    FROM e, cents c
  ) WHERE rn = 1
)
SELECT cell, i AS dim,
       CAST(ROUND(10000 * AVG(v[i])) AS BIGINT) AS mean_bp
FROM assigned, generate_series(1, {_DIM}) t(i)
GROUP BY cell, i
ORDER BY cell, dim
"""


QUERIES = {
    "q51_event_gaps": (q51_event_gaps, _Q51_SQL),
    "q52_order_value_quartiles": (q52_order_value_quartiles, _Q52_SQL),
    "q53_grouping_sets": (q53_grouping_sets, _Q53_SQL),
    "q54_last_nonclick_carry": (q54_last_nonclick_carry, _Q54_SQL),
    "q55_term_df_topk": (q55_term_df_topk, _Q55_SQL),
    "q56_kmeans_step": (q56_kmeans_step, _Q56_SQL),
}
