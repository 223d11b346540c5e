"""ANN queries (LSH-bucketed and IVF) over the ``embeddings`` table.

Both are deterministic end-to-end (seeded hyperplanes / id-ordered
centroid sample), so the driver gate gets FULL DuckDB oracles that
restate the bucketing symbolically: the hyperplane literals are inlined
into the SQL, centroids/probe cells are recomputed from the table, and
the only cross-engine float hazard is a sign/argmax decided by a
~1e-15-relative dot-product difference — far below the data's margins.
Recall-vs-brute-force is additionally tested in tests/test_operators.py.
"""

from __future__ import annotations

from htrtf_spark.operators import multimodal, simsearch
from htrtf_spark.operators.simsearch import _hyperplanes
from htrtf_spark.queries.util import t

_K = 10
_DIM = 64  # embeddings.embedding width at every sf (TESTDATA.md)
_LSH_BITS = 6
_LSH_SEED = 42
_IVF_CELLS = 16
_IVF_NPROBE = 6

# cosine between two DuckDB DOUBLE[] expressions, same association order
# as the Spark side (raw dot / (norm * norm))
def _cos(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


def _sim_bp(a: str, b: str) -> str:
    return f"CAST(ROUND(10000 * {_cos(a, b)}) AS BIGINT)"


def q40_lsh_ann_topk(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    return simsearch.lsh_topk(
        e, "vec_id", "embedding", e.filter("vec_id = 0"),
        k=_K, bits=_LSH_BITS, seed=_LSH_SEED,
    )


def _plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(repr(x) for x in plane) + "]"


def _q40_sql() -> str:
    planes = _hyperplanes(_DIM, _LSH_BITS, _LSH_SEED)
    bucket = " + ".join(
        f"CASE WHEN list_dot_product(v, {_plane_literal(p)}) >= 0 "
        f"THEN {1 << j} ELSE 0 END"
        for j, p in enumerate(planes)
    )
    return f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
b AS (SELECT vec_id, v, ({bucket}) AS bucket FROM e),
qb AS (SELECT bucket AS qbucket FROM b WHERE vec_id = 0),
scored AS (
  SELECT b.vec_id AS id, {_sim_bp('b.v', 'q.qv')} AS sim_bp
  FROM b, q, qb
  WHERE b.bucket = qb.qbucket
)
SELECT id, sim_bp,
       CAST(ROW_NUMBER() OVER (ORDER BY sim_bp DESC, id ASC) AS INTEGER) AS "rank"
FROM scored
QUALIFY "rank" <= {_K}
"""


def q41_ivf_ann_topk(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    return simsearch.ivf_topk(
        e, "vec_id", "embedding", e.filter("vec_id = 0"),
        k=_K, n_cells=_IVF_CELLS, nprobe=_IVF_NPROBE,
    )


_Q41_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT v AS qv FROM e WHERE vec_id = 0),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell, v AS cv
  FROM e ORDER BY vec_id LIMIT {_IVF_CELLS}
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT e.vec_id, e.v, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY e.vec_id
             ORDER BY {_cos('e.v', 'c.cv')} DESC, c.cell ASC) AS rn
    FROM e, cents c
  ) WHERE rn = 1
),
probe AS (
  SELECT cell FROM (
    SELECT c.cell,
           ROW_NUMBER() OVER (ORDER BY {_cos('c.cv', 'q.qv')} DESC, c.cell ASC) AS rn
    FROM cents c, q
  ) WHERE rn <= {_IVF_NPROBE}
),
scored AS (
  SELECT a.vec_id AS id, {_sim_bp('a.v', 'q.qv')} AS sim_bp
  FROM assigned a, q
  WHERE a.cell IN (SELECT cell FROM probe)
)
SELECT id, sim_bp,
       CAST(ROW_NUMBER() OVER (ORDER BY sim_bp DESC, id ASC) AS INTEGER) AS "rank"
FROM scored
QUALIFY "rank" <= {_K}
"""


# --------------------------------------------------------------------- q42
# REAL image decode through the gate: synth_media's image payloads are
# actual PNG bytes (stdlib encoder, closed-form pixels), the stage PNG-
# decodes them (zlib inflate + unfilter) and reports exact-integer ink
# statistics ((255-pixel) sums, utils.py:184-186 arithmetic); the oracle
# recomputes every pixel from the same closed form in SQL — a hash match
# proves decode → normalize → aggregate end to end, not just plumbing.

_N_MEDIA = 300


def q42_multimodal_features(spark, sf_dir):
    media = multimodal.synth_media(spark, n=_N_MEDIA, seed=42)
    return multimodal.extract_image_stats(media)


_Q42_SQL = f"""
WITH dims AS (
  SELECT i AS media_id,
         16 + (i * 11) % 23 AS w,
         16 + (i * 7) % 17 AS h
  FROM range(0, {_N_MEDIA}, 3) t(i)
),
px AS (
  SELECT media_id, w, h,
         list_sum([255 - ((3*media_id + 7*(i // w) + 13*(i % w)) % 256)
                   for i in generate_series(0, w*h - 1)]) AS sum_inv
  FROM dims
)
SELECT media_id,
       CAST(w AS INTEGER) AS width,
       CAST(h AS INTEGER) AS height,
       CAST(w*h AS BIGINT) AS n_px,
       CAST(sum_inv AS BIGINT) AS sum_inv,
       CAST((10000 * sum_inv) // (255 * w * h) AS BIGINT) AS mean_inv_bp
FROM px
"""


# --------------------------------------------------------------------- q58
# Batch multi-query exact top-k: 5 query vectors scored against the
# whole corpus in one narrow BLAS pass with two-phase top-k (shuffle
# volume ≤ queries × k per row slice, independent of corpus size).

_BATCH_Q_IDS = [0, 1, 2, 3, 4]
_BATCH_K = 3


def q58_batch_cosine_topk(spark, sf_dir):
    return simsearch.block_matmul_topk(
        t(spark, sf_dir, "embeddings"), "vec_id", "embedding",
        query_ids=_BATCH_Q_IDS, k=_BATCH_K,
    )


_Q58_SQL = f"""
WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
q AS (SELECT vec_id AS qid, v AS qv FROM e
      WHERE vec_id IN ({", ".join(str(i) for i in _BATCH_Q_IDS)})),
scored AS (
  SELECT q.qid, e.vec_id AS id, {_sim_bp('e.v', 'q.qv')} AS sim_bp
  FROM e, q
  WHERE e.vec_id <> q.qid
)
SELECT qid, id, sim_bp,
       CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY sim_bp DESC, id ASC)
            AS INTEGER) AS "rank"
FROM scored
QUALIFY "rank" <= {_BATCH_K}
"""


QUERIES = {
    "q40_lsh_ann_topk": (q40_lsh_ann_topk, _q40_sql()),
    "q41_ivf_ann_topk": (q41_ivf_ann_topk, _Q41_SQL),
    "q42_multimodal_features": (q42_multimodal_features, _Q42_SQL),
    "q58_batch_cosine_topk": (q58_batch_cosine_topk, _Q58_SQL),
}


# --------------------------------------------------------------------- q94
# SemDeDup-style semantic dedup (round 4; Abbas et al. 2023): assign
# every embedding to its max-cosine centroid (first 8 vectors by id —
# the q56 convention; ties broken to the lowest cell, as the oracle's
# ORDER BY ..., cell), then flag a vector as a semantic dup iff
# a LOWER-id same-cell vector has cosine >= 0.40 (keep-first). The
# oracle recomputes assignment AND the pairwise keep rule; ~20 dup
# pairs exist at both gate scales, so the dup path is exercised.

_Q94_CELLS = 8
_Q94_THR_BP = 4000


def q94_semantic_dedup(spark, sf_dir):
    e = t(spark, sf_dir, "embeddings")
    cents = e.orderBy("vec_id").limit(_Q94_CELLS)
    return (
        simsearch.semantic_dedup_flags(
            e, "vec_id", "embedding", cents, sim_threshold_bp=_Q94_THR_BP
        )
        .withColumnRenamed("id", "vec_id")
        .orderBy("vec_id")
    )


_Q94_SQL = f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
cents AS (
  SELECT CAST(ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cell,
         v AS cv
  FROM v ORDER BY vec_id LIMIT {_Q94_CELLS}
),
assigned AS (
  SELECT vec_id, v, cell FROM (
    SELECT v.vec_id, v.v, c.cell,
           ROW_NUMBER() OVER (
             PARTITION BY v.vec_id
             ORDER BY list_dot_product(v.v, c.cv)
                      / (sqrt(list_dot_product(v.v, v.v))
                         * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                      c.cell ASC) AS rn
    FROM v, cents c
  ) WHERE rn = 1
),
dups AS (
  SELECT DISTINCT a.vec_id
  FROM assigned a JOIN assigned b
    ON a.cell = b.cell AND b.vec_id < a.vec_id
  WHERE CAST(ROUND(10000 * list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v)))) AS BIGINT)
        >= {_Q94_THR_BP}
)
SELECT a.vec_id,
       a.cell,
       CAST(CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
           AS sem_dup,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS keep
FROM assigned a LEFT JOIN dups d ON d.vec_id = a.vec_id
ORDER BY a.vec_id
"""

QUERIES["q94_semantic_dedup"] = (q94_semantic_dedup, _Q94_SQL)
