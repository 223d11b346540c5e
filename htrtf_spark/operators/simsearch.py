"""Similarity search over an embedding column (array<float/double>).

Single-query search; the query is a one-row DataFrame holding its vector
in the corpus's vector column:

- ``brute_force_topk``: exact cosine top-k (the correctness baseline).
- ``lsh_topk``: random-hyperplane LSH; only the query's bucket is
  scored (at 10^9 vectors that prunes the scan by ~2^bits).
- ``ivf_topk``: IVF coarse quantizer; only the ``nprobe`` cells nearest
  the query are scored.

Block scoring: ``block_matmul_topk`` (a batch of queries),
``block_matmul_near_pairs`` (exact all-pairs above a threshold) and
``semantic_dedup_flags`` (SemDeDup within centroid cells) score Arrow
batches with one numpy kernel, ``_sim_bp`` (BLAS over bounded row
slices), under mapInArrow/applyInArrow. The single-query scans and the
cell assignment (``assign_cells``) score in the JVM (``cosine``:
zip_with + aggregate).

Every input a plan needs (query vectors, centroids, the block count) is
gathered inside the plan as a broadcast one-row frame, so building a
plan runs no Spark job and writes nothing.

Float parity: both scorers divide the raw float64 dot product by the
norm product and round half up to basis points, the association order
of the DuckDB oracle (``list_dot_product / (sqrt .. * sqrt ..)``). BLAS
sums in another order than a left fold, which differs only at ~1e-15
relative, far below the 1e-4 quantum. Hyperplanes are generated
deterministically from a seed, so results are reproducible.
"""

from __future__ import annotations

import math

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: Rows per hash block in ``block_matmul_near_pairs``: the corpus is
#: cut into at least ceil(n / BLOCK_ROWS) blocks, and each pair of
#: blocks is scored by one task.
BLOCK_ROWS = 20_000
#: Entries of one scoring temporary (a slice of left rows against all
#: right rows): 2^20 float64 = 8 MB, whatever the block or batch size.
SLICE_ENTRIES = 1 << 20


def _base(vecs: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    return vecs.select(
        F.col(id_col).alias("id"), F.col(vec_col).cast("array<double>").alias("v")
    )


def _matrix(col) -> np.ndarray:
    """An Arrow list<double> column of equal-length vectors as a 2-D
    float64 array (no copy when the column has no nulls)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    flat = col.flatten().to_numpy(zero_copy_only=False)
    return flat.reshape(len(col), len(flat) // max(len(col), 1))


def _ids(col) -> np.ndarray:
    return col.to_numpy().astype(np.int64, copy=False)


def _sim_bp(a: np.ndarray, b: np.ndarray, max_entries: int):
    """Cosine of every row of ``a`` against every row of ``b`` in basis
    points, rounded half up (away from zero, as F.round and DuckDB's
    ROUND), NaN where either vector is zero. Yields ``(lo, bp)`` per
    slice ``a[lo:lo + len(bp)]``; a slice holds at most
    ``max(max_entries, len(b))`` entries, and at most three such arrays
    are alive at once."""
    na = np.sqrt(np.einsum("ij,ij->i", a, a))
    nb = np.sqrt(np.einsum("ij,ij->i", b, b))
    step = max(1, max_entries // max(len(b), 1))
    for lo in range(0, len(a), step):
        x = a[lo:lo + step] @ b.T
        with np.errstate(invalid="ignore", divide="ignore"):
            x /= np.outer(na[lo:lo + step], nb)
        x *= 10000.0
        bp = np.abs(x)
        bp += 0.5
        np.floor(bp, out=bp)
        yield lo, np.copysign(bp, x, out=bp)


def _ranked_topk(scored: DataFrame, k: int) -> DataFrame:
    """Distributed top-k with a dense rank, never a sort of the whole
    scored set: ``orderBy(...).limit(k)`` compiles to
    TakeOrderedAndProject (per-partition local top-k, driver merge of
    partitions × k rows), and the rank window then runs over exactly k
    rows. Total order (desc sim_bp, asc id) is tie-broken, so the result
    is identical to one row_number window over all rows."""
    top = scored.orderBy(F.desc("sim_bp"), F.asc("id")).limit(k)
    w = Window.orderBy(F.desc("sim_bp"), F.asc("id"))
    return top.withColumn("rank", F.row_number().over(w))


def block_matmul_near_pairs(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    min_sim_bp: int,
    id_out: tuple[str, str] = ("id_a", "id_b"),
) -> DataFrame:
    """Exact all-pairs cosine near neighbors above a basis-point
    threshold: (id_a, id_b, sim_bp) with ``id_a < id_b``.

    Rows are hashed by id into B blocks: the larger of
    ceil(n / BLOCK_ROWS) (n from a broadcast count row, so decided when
    the plan runs) and the least B_min whose B_min(B_min+1)/2 block
    pairs fill every core (``defaultParallelism``, read on the driver).
    Each row is sent to the B block pairs it takes part in; the pairs
    go by id to B_min(B_min+1)/2 tasks, which adaptive execution cannot
    coalesce into one when the corpus is small, and a
    ``groupBy(pair).applyInArrow`` group scores each pair of blocks as
    BLAS row slices (``_sim_bp``). Work is O(n^2 / executors); each
    vector is shuffled B times, so past a few blocks the sub-linear
    paths (``lsh_topk`` / ``ivf_topk``) are the right tool.

    Peak memory per task: the pair's rows (two blocks of ~n/B <=
    BLOCK_ROWS rows) held up to three times (the Arrow table, its
    combined copy when it arrives in several batches, and the float64
    block matrices), <= 3 × 2 × BLOCK_ROWS × dim × 8 bytes (61 MB at
    dim 64), plus three slice temporaries of SLICE_ENTRIES float64 (24 MB) and
    their boolean masks, plus the pairs the task emits. Only the
    emitted pairs grow with the corpus.
    """
    base = _base(vecs, id_col, vec_col)
    id_a, id_b = id_out
    cores = vecs.sparkSession.sparkContext.defaultParallelism
    min_blocks = 1
    while min_blocks * (min_blocks + 1) // 2 < cores:
        min_blocks += 1
    n = F.broadcast(base.agg(F.count("*").alias("n")))
    n_blocks = F.greatest(F.ceil(F.col("n") / BLOCK_ROWS), F.lit(min_blocks))
    blocked = base.crossJoin(n).select(
        "id", "v", F.pmod(F.xxhash64("id"), n_blocks).alias("blk"),
        F.sequence(F.lit(0).cast("long"), n_blocks - 1).alias("others"),
    )
    pairs = blocked.select(
        "id", "v", "blk",
        F.explode(
            F.transform(
                "others",
                lambda j: F.struct(
                    F.least("blk", j).alias("lo"), F.greatest("blk", j).alias("hi")
                ),
            )
        ).alias("pair"),
    ).select(
        "id", "v", "blk", "pair.lo", "pair.hi",
        F.expr("int(pair.hi * (pair.hi + 1) div 2 + pair.lo)").alias("pid"),
    )
    max_entries = SLICE_ENTRIES

    def score(key, t):
        lo, hi = key[1].as_py(), key[2].as_py()
        ids, v = _ids(t.column("id")), _matrix(t.column("v"))
        left = t.column("blk").to_numpy() == lo
        right = left if lo == hi else ~left
        ids_a, ids_b = ids[left], ids[right]
        out = [np.empty((3, 0), np.int64)]
        for s, bp in _sim_bp(v[left], v[right], max_entries):
            keep = bp >= min_sim_bp
            if lo == hi:
                keep &= ids_b[None, :] > ids_a[s:s + len(bp), None]
            i, j = np.nonzero(keep)
            x, y = ids_a[s + i], ids_b[j]
            out.append(
                np.stack([np.minimum(x, y), np.maximum(x, y), bp[i, j].astype(np.int64)])
            )
        out = np.concatenate(out, axis=1)
        return pa.table({id_a: out[0], id_b: out[1], "sim_bp": out[2]})

    tasks = min_blocks * (min_blocks + 1) // 2
    return pairs.repartitionById(tasks, "pid").groupBy("pid", "lo", "hi").applyInArrow(
        score, f"{id_a} long, {id_b} long, sim_bp long"
    )


def block_matmul_topk(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    query_ids: list[int],
    k: int = 10,
    exclude_self: bool = True,
) -> DataFrame:
    """Exact cosine top-k for a BATCH of query vectors at once:
    (qid, id, sim_bp, rank). The query rows are aggregated into one
    broadcast row crossJoined onto the corpus; each Arrow batch of
    corpus rows is scored against the queries with ``_sim_bp`` and
    emits only its LOCAL top-k per query and row slice (two-phase top-k:
    the shuffle carries <= queries × k rows per slice, never the
    corpus), then one window rank merges the candidates. Corpus-side
    work is one narrow pass; shuffle volume is independent of corpus
    size.
    """
    base = _base(vecs, id_col, vec_col)
    queries = base.filter(F.col("id").isin([int(q) for q in query_ids])).agg(
        F.array_sort(F.collect_list(F.struct("id", "v"))).alias("q")
    )
    scan = base.crossJoin(F.broadcast(queries)).select(
        "id", "v", F.col("q.id").alias("qid"), F.col("q.v").alias("qv")
    )
    max_entries = SLICE_ENTRIES

    def gen(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            q_ids = _ids(batch.column("qid").slice(0, 1).flatten())
            if not len(q_ids):
                continue
            qm = _matrix(batch.column("qv").slice(0, 1).flatten())
            ids, a = _ids(batch.column("id")), _matrix(batch.column("v"))
            for s, bp in _sim_bp(a, qm, max_entries):
                sid = ids[s:s + len(bp)]
                for j, qid in enumerate(q_ids):
                    col = bp[:, j]
                    ok = np.isfinite(col)
                    if exclude_self:
                        ok &= sid != qid
                    cand_ids, cand_bp = sid[ok], col[ok]
                    # local top-k under the same total order as the final
                    # window ((-sim_bp, id)): the top-k ⊆ union of locals
                    order = np.lexsort((cand_ids, -cand_bp))[:k]
                    yield pa.RecordBatch.from_pydict(
                        {
                            "qid": np.full(len(order), qid, dtype=np.int64),
                            "id": cand_ids[order],
                            "sim_bp": cand_bp[order].astype(np.int64),
                        }
                    )

    cand = scan.mapInArrow(gen, "qid long, id long, sim_bp long")
    w = Window.partitionBy("qid").orderBy(F.desc("sim_bp"), F.asc("id"))
    return cand.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def norm(a):
    return F.sqrt(_dot(a, a))


def cosine(a, b):
    return _dot(a, b) / (norm(a) * norm(b))


def _sim_bp_col(a, b):
    return F.round(cosine(a, b) * 10000).cast("long").alias("sim_bp")


def centroid_row(centroids: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The centroid vectors as one broadcast row, ``cents``
    (array<array<double>>): cell i is the i-th centroid by id."""
    return F.broadcast(
        _base(centroids, id_col, vec_col)
        .agg(F.array_sort(F.collect_list(F.struct("id", "v"))).alias("c"))
        .select(F.col("c.v").alias("cents"))
    )


def assign_cells(v, cents):
    """Cell of vector ``v``: the index of its max-cosine centroid in the
    array ``cents``, ties to the lowest cell (as array_position's first
    max). One transform over the centroid array, each cosine evaluated
    once: the max of (cosine, -cell) structs."""
    best = F.array_max(
        F.transform(cents, lambda c, i: F.struct(cosine(v, c).alias("s"), (-i).alias("ni")))
    )
    return (-best["ni"]).cast("int")


def _query_row(query: DataFrame, vec_col: str) -> DataFrame:
    return F.broadcast(query.select(F.col(vec_col).cast("array<double>").alias("qv")))


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


def _bucket_expr(v, planes):
    """Sign-bit bucket id (JVM-side): bit j is set when v · planes[j] >= 0."""
    bits = F.transform(
        planes, lambda p: F.when(_dot(v, p) >= 0, 1).otherwise(0).cast("long")
    )
    return F.aggregate(F.reverse(bits), F.lit(0).cast("long"), lambda acc, b: acc * 2 + b)


def brute_force_topk(
    vecs: DataFrame, id_col: str, vec_col: str, query: DataFrame, k: int = 10
) -> DataFrame:
    """Exact cosine top-k vs the one-row ``query``: (id, sim_bp, rank)."""
    scored = _base(vecs, id_col, vec_col).crossJoin(_query_row(query, vec_col))
    return _ranked_topk(scored.select("id", _sim_bp_col("v", "qv")), k)


def lsh_topk(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    query: DataFrame,
    k: int = 10,
    bits: int = 8,
    seed: int = 42,
) -> DataFrame:
    """ANN top-k: score only vectors in the one-row ``query``'s
    hyperplane bucket. Recall < 1 by construction; tested against brute
    force for overlap. The hyperplanes take the query's dimension, so
    they are made on the query row (one Python call per query)."""
    planes = F.udf(lambda dim: _hyperplanes(dim, bits, seed), "array<array<double>>")
    q = _query_row(query, vec_col).select("qv", planes(F.size("qv")).alias("planes"))
    q = F.broadcast(q.select("qv", "planes", _bucket_expr("qv", "planes").alias("qb")))
    cand = _base(vecs, id_col, vec_col).crossJoin(q).filter(
        _bucket_expr("v", "planes") == F.col("qb")
    )
    return _ranked_topk(cand.select("id", _sim_bp_col("v", "qv")), k)


def ivf_topk(
    vecs: DataFrame,
    id_col: str,
    vec_col: str,
    query: DataFrame,
    k: int = 10,
    n_cells: int = 16,
    nprobe: int = 4,
) -> DataFrame:
    """IVF coarse-quantizer ANN for the one-row ``query``: the centroids
    are the first ``n_cells`` vectors by id, every vector is assigned
    to its max-cosine centroid, and only the ``nprobe`` cells nearest
    the query (ties to the lower cell) are scored.

    The centroids, the query and the probe set (the centroids sorted by
    (-cosine to the query, cell)) ride one broadcast row; assignment and
    probing are one narrow filter."""
    base = _base(vecs, id_col, vec_col)
    row = centroid_row(base.orderBy("id").limit(n_cells), "id", "v").crossJoin(
        _query_row(query, vec_col)
    )
    nearest = F.array_sort(
        F.transform(
            "cents",
            lambda c, i: F.struct((-cosine(F.col("qv"), c)).alias("d"), i.alias("cell")),
        )
    )
    row = row.select("cents", "qv", F.slice(nearest, 1, nprobe)["cell"].alias("probe"))
    scored = base.crossJoin(F.broadcast(row)).filter(
        F.array_contains("probe", assign_cells(F.col("v"), F.col("cents")))
    )
    return _ranked_topk(scored.select("id", _sim_bp_col("v", "qv")), k)


def semantic_dedup_flags(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    centroids: DataFrame,
    sim_threshold_bp: int = 9500,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings, then within each cluster
    flag a document as a semantic duplicate iff a LOWER-id document in
    the same cluster has cosine similarity ≥ the threshold —
    deterministic keep-first, the same tie rule as exact dedup.

    ``centroids`` holds the centroid vectors in ``id_col``/``vec_col``;
    cell i is the i-th by id. Returns (id, cell, sem_dup, keep) for
    every input vector.

    Scale shape: assignment is a narrow broadcast-centroid transform;
    each cell is then one ``groupBy(cell).applyInArrow`` group scored
    against itself in BLAS row slices, O(cell size²) per cell, so the
    number of centroids must scale with the corpus (SemDeDup's own
    design: more, smaller clusters at larger N; the paper uses k ~
    10^4-10^5 at web scale). Cosines are rounded to basis points so the
    keep decision is engine-portable."""
    assigned = _base(df, id_col, vec_col).crossJoin(
        centroid_row(centroids, id_col, vec_col)
    ).select("id", "v", assign_cells(F.col("v"), F.col("cents")).alias("cell"))
    max_entries = SLICE_ENTRIES

    def flag(t):
        ids, v = _ids(t.column("id")), _matrix(t.column("v"))
        dup = np.zeros(len(ids), dtype=bool)
        for s, bp in _sim_bp(v, v, max_entries):
            lower = ids[None, :] < ids[s:s + len(bp), None]
            dup[s:s + len(bp)] = ((bp >= sim_threshold_bp) & lower).any(axis=1)
        return pa.table(
            {
                "id": ids,
                "cell": t.column("cell"),
                "sem_dup": dup.astype(np.int32),
                "keep": (~dup).astype(np.int32),
            }
        )

    return assigned.groupBy("cell").applyInArrow(
        flag, "id long, cell int, sem_dup int, keep int"
    )
