"""Similarity search over an embedding column (array<float/double>).

- ``brute_force_topk``: exact cosine top-k (the correctness baseline;
  one broadcast of the query + a narrow scan + top-k — no shuffle until
  the final k-row sort).
- ``lsh_topk``: random-hyperplane LSH buckets; only candidates sharing
  a bucket with the query are scored (the sub-linear scale path — at
  10^9 vectors the bucket join prunes the scan by ~2^bits/bands).
- ``ivf_topk``: IVF-style coarse quantizer — deterministic centroid
  sample, assign via best-centroid join, probe the query's nearest
  ``nprobe`` cells.

All dot products are JVM-side (zip_with + aggregate, whole-stage
codegen'd) — no Python in the scoring path. Hyperplanes are generated
deterministically from a seed so results are reproducible cluster-wide.
"""

from __future__ import annotations

import glob
import math
import os
import tempfile
import uuid

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Arrow rows streamed per side chunk in the exact all-pairs block
# product: 250k × 64-dim float64 ≈ 128 MB per task while scoring,
# independent of total corpus size.
DEFAULT_SIDE_CHUNK_ROWS = 250_000


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """Distributed top-k with a dense rank, never a global sort of the
    scored set: ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject (per-partition local top-k, driver merge of
    partitions × k rows), and the rank window then runs over exactly k
    rows. Total order (desc sim_bp, asc id) is tie-broken, so the result
    is identical to a global row_number window."""
    from pyspark.sql import Window

    top = scored.orderBy(F.desc("sim_bp"), F.asc("id")).limit(k)
    w = Window.orderBy(F.desc("sim_bp"), F.asc("id"))
    return top.withColumn("rank", F.row_number().over(w))


def block_matmul_near_pairs(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    min_sim_bp: int,
    id_out: tuple[str, str] = ("id_a", "id_b"),
    side_chunk_rows: int = DEFAULT_SIDE_CHUNK_ROWS,
    scratch_dir: str | None = None,
) -> DataFrame:
    """Exact all-pairs cosine near neighbors above a basis-point threshold,
    as a chunked block matrix product: each Arrow batch of rows computes
    ``row_block @ side_chunk.T`` via BLAS, and only pairs with
    ``id_a < id_b`` and ``sim_bp >= min_sim_bp`` are emitted. No shuffle,
    no per-row Python — narrow mapInPandas passes only.

    This is the distributed block-nested-loop shape for exact scoring:
    work is O(n^2 / executors) with each task touching its row block once
    per side chunk. The side matrix is MATERIALIZED ONCE by a distributed
    parquet write (no driver collect, no broadcast pinning every chunk for
    the job's lifetime); each task then STREAMS it back in
    ``side_chunk_rows``-row Arrow chunks and scores row_block @ chunk.T.
    Peak memory per task is one input batch + one side chunk
    (dim × side_chunk_rows × 8 bytes), independent of corpus size, and
    the driver never holds vector data at all. The side scan count grows
    as (input batches × n / side_chunk_rows) — past a few chunks the
    sub-linear paths (``lsh_topk`` / ``ivf_topk``, recall-checked against
    this operator) are the right tool.

    ``scratch_dir``: where the side matrix is staged. Defaults to a local
    tempdir (correct for local[*] and tests); on a multi-node cluster
    pass a shared-filesystem path (HDFS/S3), as with any spill-to-storage
    operator.

    Float parity: raw float64 dot products divided by the norm product,
    rounded half-up to basis points — the same association order as the
    DuckDB oracle (``list_dot_product / (sqrt .. * sqrt ..)``); BLAS
    summation order differs from a left fold only at ~1e-15 relative,
    far below the 1e-4 bp quantum.
    """
    import numpy as np
    import pandas as pd

    base = vecs.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    id_a, id_b = id_out
    out_schema = f"{id_a} long, {id_b} long, sim_bp long"

    side_dir = os.path.join(
        scratch_dir or tempfile.mkdtemp(prefix="htrtf_blockmm_"),
        f"side-{uuid.uuid4().hex[:8]}",
    )
    base.write.parquet(side_dir)
    side_files = tuple(sorted(glob.glob(os.path.join(side_dir, "*.parquet"))))

    def gen(batches):
        import pyarrow.parquet as pq

        for pin in batches:
            if not len(pin):
                continue
            a = np.stack(pin["v"].to_numpy()).astype(np.float64)
            na = np.sqrt(np.einsum("ij,ij->i", a, a))
            a_ids = pin["id"].to_numpy()
            for path in side_files:
                pf = pq.ParquetFile(path)
                for rb in pf.iter_batches(batch_size=side_chunk_rows):
                    side = rb.to_pandas()
                    ids_b = side["id"].to_numpy()
                    # pair needs id_a < id_b: skip chunks entirely below
                    # this input block's id range
                    if int(ids_b.max()) <= int(a_ids.min()):
                        continue
                    m_b = np.stack(side["v"].to_numpy()).astype(np.float64)
                    n_b = np.sqrt(np.einsum("ij,ij->i", m_b, m_b))
                    with np.errstate(invalid="ignore", divide="ignore"):
                        sims = (a @ m_b.T) / np.outer(na, n_b)
                        x = sims * 10000.0
                        # HALF_UP = half away from zero (matches F.round
                        # / DuckDB ROUND); plain floor(x+.5) would differ
                        # at negative .5; NaN propagates either branch
                        bp = np.where(
                            x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5)
                        )
                    mask = (ids_b[None, :] > a_ids[:, None]) & (
                        bp >= float(min_sim_bp)
                    )
                    ai, bj = np.nonzero(mask)
                    if len(ai):
                        yield pd.DataFrame(
                            {
                                id_a: a_ids[ai],
                                id_b: ids_b[bj],
                                "sim_bp": bp[ai, bj].astype(np.int64),
                            }
                        )

    return base.mapInPandas(gen, schema=out_schema)


def block_matmul_topk(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k for a BATCH of query vectors at once:
    (qid, id, sim_bp, rank). The query matrix (tiny) is broadcast; each
    Arrow batch of corpus rows computes ``block @ queries.T`` via BLAS
    and emits only its LOCAL top-k per query (two-phase top-k: the
    shuffle carries ≤ queries × k rows per task, never the corpus), then
    one window rank merges the candidates. This is the scale shape for
    "score a query set against 10^9 vectors" — corpus-side work is one
    narrow pass, shuffle volume is independent of corpus size.
    """
    import numpy as np
    import pandas as pd

    base = vecs.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )
    qpdf = base.filter(F.col("id").isin([int(q) for q in query_ids])).orderBy("id").toPandas()
    q_ids = qpdf["id"].to_numpy()
    qm = np.stack(qpdf["v"].to_numpy()).astype(np.float64)
    qn = np.sqrt(np.einsum("ij,ij->i", qm, qm))
    bvar = vecs.sparkSession.sparkContext.broadcast((q_ids, qm, qn))

    def gen(batches):
        q_ids_b, qm_b, qn_b = bvar.value
        qt = np.ascontiguousarray(qm_b.T)
        for pin in batches:
            if not len(pin):
                continue
            a = np.stack(pin["v"].to_numpy()).astype(np.float64)
            na = np.sqrt(np.einsum("ij,ij->i", a, a))
            ids = pin["id"].to_numpy()
            with np.errstate(invalid="ignore", divide="ignore"):
                sims = (a @ qt) / np.outer(na, qn_b)
                x = sims * 10000.0
                bp = np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5))
            for j, qid in enumerate(q_ids_b):
                col = bp[:, j]
                ok = np.isfinite(col)
                if exclude_self:
                    ok &= ids != qid
                cand_ids, cand_bp = ids[ok], col[ok]
                # local top-k under the same total order as the final
                # window ((-sim_bp, id)) — global top-k ⊆ union of locals
                order = np.lexsort((cand_ids, -cand_bp))[:k]
                yield pd.DataFrame(
                    {
                        "qid": np.full(len(order), qid, dtype=np.int64),
                        "id": cand_ids[order],
                        "sim_bp": cand_bp[order].astype(np.int64),
                    }
                )

    from pyspark.sql import Window

    cand = base.mapInPandas(gen, schema="qid long, id long, sim_bp long")
    w = Window.partitionBy("qid").orderBy(F.desc("sim_bp"), F.asc("id"))
    return (
        cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)
    )


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a):
    return F.sqrt(_dot(a, a))


def cosine(a, b):
    return _dot(a, b) / (norm(a) * norm(b))


def _hyperplanes(dim: int, bits: int, seed: int) -> list[list[float]]:
    """Deterministic pseudo-gaussian hyperplanes (Box-Muller over a tiny
    LCG — stdlib-only, reproducible everywhere)."""
    state = seed * 6364136223846793005 + 1442695040888963407

    def rnd() -> float:
        nonlocal state
        state = (state * 6364136223846793005 + 1442695040888963407) % (2**64)
        return ((state >> 11) & ((1 << 53) - 1)) / float(1 << 53)

    planes = []
    for _ in range(bits):
        row = []
        for _ in range(dim):
            u1 = max(rnd(), 1e-12)
            u2 = rnd()
            row.append(math.sqrt(-2.0 * math.log(u1)) * math.cos(2 * math.pi * u2))
        planes.append(row)
    return planes


def _bucket_expr(vec_col, planes: list[list[float]]):
    """Sign-bit bucket id from inlined hyperplane literals (JVM-side)."""
    acc = F.lit(0).cast("long")
    for j, plane in enumerate(planes):
        lit = F.array(*[F.lit(float(x)) for x in plane])
        bit = F.when(_dot(vec_col, lit) >= 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        acc = acc.bitwiseXOR(F.shiftleft(bit, j))
    return acc


def brute_force_topk(
    vecs: DataFrame, id_col: str, vec_col: str, query: list[float], k: int = 10
) -> DataFrame:
    """Exact cosine top-k vs a literal query vector: (id, sim_bp, rank)."""
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = vecs.select(
        F.col(id_col).alias("id"),
        F.round(cosine(F.col(vec_col).cast("array<double>"), q) * 10000)
        .cast("long")
        .alias("sim_bp"),
    )
    return _ranked_topk(scored, k)


def lsh_topk(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int = 10,
    bits: int = 8,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: score only vectors in the query's hyperplane bucket.
    Recall < 1 by construction; tested against brute force for overlap."""
    dim = len(query)
    planes = _hyperplanes(dim, bits, seed)
    v = F.col(vec_col).cast("array<double>")
    bucketed = vecs.select(F.col(id_col).alias("id"), v.alias("v"),
                           _bucket_expr(v, planes).alias("bucket"))
    # query bucket computed driver-side with the same arithmetic
    qbucket = 0
    for j, plane in enumerate(planes):
        dot = sum(float(a) * float(b) for a, b in zip(query, plane))
        if dot >= 0:
            qbucket |= 1 << j
    q = F.array(*[F.lit(float(x)) for x in query])
    cand = bucketed.filter(F.col("bucket") == qbucket)
    scored = cand.select(
        "id", F.round(cosine(F.col("v"), q) * 10000).cast("long").alias("sim_bp")
    )
    return _ranked_topk(scored, k)


def ivf_topk(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    query: list[float],
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF coarse-quantizer ANN: centroids = deterministic id-ordered
    sample; assignment + probing by cosine to centroid.

    The centroid list is tiny → broadcast; assignment is a narrow map;
    only ``nprobe`` cells are scanned for the query.
    """
    v = F.col(vec_col).cast("array<double>")
    base = vecs.select(F.col(id_col).alias("id"), v.alias("v"))
    cents = [
        (i, [float(x) for x in row["v"]])
        for i, row in enumerate(base.orderBy("id").limit(n_cells).collect())
    ]
    # assign each vector to its max-cosine centroid: one flat
    # transform-over-centroid-array + array_position argmax (a chained
    # when-ladder here makes the Catalyst tree exponential — measured)
    cent_arr = F.array(*[F.array(*[F.lit(x) for x in cvec]) for _, cvec in cents])
    sims = F.transform(cent_arr, lambda c: cosine(F.col("v"), c))
    cell = (F.array_position(sims, F.array_max(sims)) - 1).cast("int")
    assigned = base.select("id", "v", cell.alias("cell"))
    # probe cells: nprobe centroids nearest to the query (driver-side)
    def cos_py(a, b):
        da = math.sqrt(sum(x * x for x in a))
        db = math.sqrt(sum(x * x for x in b))
        return sum(x * y for x, y in zip(a, b)) / (da * db)

    probe = sorted(cents, key=lambda c: -cos_py(query, c[1]))[:nprobe]
    probe_ids = [c[0] for c in probe]
    q = F.array(*[F.lit(float(x)) for x in query])
    scored = assigned.filter(F.col("cell").isin(probe_ids)).select(
        "id", F.round(cosine(F.col("v"), q) * 10000).cast("long").alias("sim_bp")
    )
    return _ranked_topk(scored, k)


def semantic_dedup_flags(
    df,
    id_col: str,
    vec_col: str,
    centroids: list[list[float]],
    sim_threshold_bp: int = 9500,
) -> "DataFrame":
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings, then within each cluster
    flag a document as a semantic duplicate iff a LOWER-id document in
    the same cluster has cosine similarity ≥ the threshold —
    deterministic keep-first, the same tie rule as exact dedup.

    Returns (id, cell, sem_dup, keep) for every input vector.

    Scale shape: assignment is a narrow broadcast-centroid transform
    (no shuffle); the duplicate test is a per-cell self-join — O(cell
    size²) pairs — so ``len(centroids)`` must scale with the corpus
    (SemDeDup's own design: more, smaller clusters at larger N; the
    paper uses k ~ 10^4-10^5 at web scale). Cosines are rounded to
    basis points so the keep decision is engine-portable."""
    cent_arr = F.array(
        *[F.array(*[F.lit(float(x)) for x in c]) for c in centroids]
    )
    v = F.col(vec_col).cast("array<double>")
    sims = F.transform(cent_arr, lambda c: cosine(v, c))
    cell = (F.array_position(sims, F.array_max(sims)) - 1).cast("int")
    assigned = df.select(
        F.col(id_col).alias("id"), v.alias("v"), cell.alias("cell")
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    sim_bp = F.round(
        cosine(F.col("a.v"), F.col("b.v")) * 10000
    ).cast("long")
    dups = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("b.id") < F.col("a.id")),
        )
        .select(F.col("a.id").alias("id"), sim_bp.alias("sim_bp"))
        .filter(F.col("sim_bp") >= sim_threshold_bp)
        .select("id")
        .distinct()
        .withColumn("sem_dup", F.lit(1))
    )
    out = assigned.join(dups, "id", "left").select(
        "id",
        "cell",
        F.coalesce("sem_dup", F.lit(0)).alias("sem_dup"),
    )
    return out.withColumn("keep", (F.col("sem_dup") == 0).cast("int"))
