"""Similarity search over the ``embeddings`` table (array<float> column):
brute-force cosine top-k (the exact baseline) and threshold near-neighbor
pairs. The scale path (LSH-bucketed ANN) lives in
htrtf_spark.operators.simsearch; here are the oracle-checkable exact
variants.

Float-parity design: vectors are cast to double in BOTH engines, dot
products are left-fold sums in array order, and results are returned as
rounded basis points / ordered ids (never raw doubles).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from htrtf_spark.operators.simsearch import (
    block_matmul_near_pairs,
    brute_force_topk,
    norm,
)
from htrtf_spark.queries.util import t

TOPK = 10
NEAR_BP = 4000  # cosine >= 0.40 (dataset max pairwise ≈ 0.51)


def _vec(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    return e.select("vec_id", F.col("embedding").cast("array<double>").alias("v"), "label")


# --------------------------------------------------------------------- q28
# Brute-force cosine top-k vs a fixed query vector (vec_id = 0).


def q28_cosine_topk(spark, sf_dir):
    e = _vec(spark, sf_dir)
    top = brute_force_topk(
        e.filter(F.col("vec_id") != 0), "vec_id", "v", e.filter(F.col("vec_id") == 0),
        k=TOPK,
    )
    return top.select(F.col("id").alias("vec_id"), "sim_bp")


_Q28_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
           FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
SELECT vec_id,
       CAST(ROUND(10000 * list_dot_product(v, qv)
                  / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))))
            AS BIGINT) AS sim_bp
FROM e, q
WHERE vec_id <> 0
ORDER BY sim_bp DESC, vec_id ASC
LIMIT {TOPK}
"""

# --------------------------------------------------------------------- q29
# All-pairs near neighbors above a cosine threshold (exact; the oracle for
# the LSH-bucketed ANN operator).


def q29_near_pairs(spark, sf_dir):
    # exact all pairs, BLAS per pair of hash blocks (one applyInArrow
    # group each): O(n^2/executors), with per-task memory bounded by
    # simsearch.BLOCK_ROWS, not by the corpus
    e = t(spark, sf_dir, "embeddings")
    return block_matmul_near_pairs(e, "vec_id", "embedding", min_sim_bp=NEAR_BP)


_Q29_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       CAST(ROUND(10000 * list_dot_product(a.v, b.v)
                  / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))))
            AS BIGINT) AS sim_bp
FROM e a, e b
WHERE a.vec_id < b.vec_id
  AND CAST(ROUND(10000 * list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))))
           AS BIGINT) >= {NEAR_BP}
"""

# --------------------------------------------------------------------- q30
# Per-label vector stats: counts + summed norms in basis points (array
# math without floats in the output).


def q30_label_vector_stats(spark, sf_dir):
    e = _vec(spark, sf_dir)
    norm_bp = F.round(norm(F.col("v")) * 10000).cast("long")
    return (
        e.groupBy("label")
        .agg(F.count("*").alias("n"), F.sum(norm_bp).alias("sum_norm_bp"))
        .orderBy("label")
    )


_Q30_SQL = """
WITH e AS (SELECT label, embedding::DOUBLE[] AS v FROM embeddings)
SELECT label, COUNT(*) AS n,
       CAST(SUM(CAST(ROUND(10000 * sqrt(list_dot_product(v, v))) AS BIGINT)) AS BIGINT) AS sum_norm_bp
FROM e GROUP BY label ORDER BY label
"""


QUERIES = {
    "q28_cosine_topk": (q28_cosine_topk, _Q28_SQL),
    "q29_near_pairs": (q29_near_pairs, _Q29_SQL),
    "q30_label_vector_stats": (q30_label_vector_stats, _Q30_SQL),
}
