"""Driver-gate wrappers for the deduplication operators
(htrtf_spark.operators.dedup) over the ``documents`` table, each paired
with a DuckDB oracle that recomputes the identical engine-portable
hashing (md5 strings + lexicographic MIN) in pure SQL.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from htrtf_spark.operators import dedup as D
from htrtf_spark.operators.textstats import tokens
from htrtf_spark.queries.util import t

N_MINHASH = D.DEFAULT_MINHASHES
BAND_WIDTH = D.DEFAULT_BAND_WIDTH
JACCARD_BP_MIN = 5000

_N = D.DEFAULT_NGRAM  # the SQL below is DERIVED from the operator knobs
_CAP = D.DEFAULT_MAX_DOC_FREQ

# The stop-shingle df cap is ACTIVE in the gate (both engines drop
# shingles with document frequency > _CAP), proving the production
# configuration — not an uncapped special case — is what matches.
_TRIGRAMS_CTE = f"""
grams_all AS (
  SELECT doc_id AS id, unnest(ngs) AS ng FROM (
    SELECT doc_id,
           list_distinct(
             CASE WHEN len(w) >= {_N}
                  THEN [array_to_string(w[i:i+{_N - 1}], ' ')
                        for i in generate_series(1, len(w) - {_N - 1})]
                  ELSE [] END) AS ngs
    FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM documents)
  )
),
stop_ng AS (
  SELECT ng FROM grams_all GROUP BY ng HAVING COUNT(*) > {_CAP}
),
grams AS (
  SELECT id, ng FROM grams_all
  WHERE ng NOT IN (SELECT ng FROM stop_ng)
)
"""

# --------------------------------------------------------------------- q24


def q24_exact_dedup(spark, sf_dir):
    return D.exact_duplicates(t(spark, sf_dir, "documents"), "doc_id", "text") \
        .withColumnRenamed("rep_id", "rep_doc_id")


_Q24_SQL = """
SELECT md5(text) AS fp, MIN(doc_id) AS rep_doc_id, COUNT(*) AS n_copies
FROM documents GROUP BY md5(text)
"""

# --------------------------------------------------------------------- q25


def q25_trigram_jaccard_pairs(spark, sf_dir):
    # posting-list pair expansion; the stop-shingle cap rides the
    # posting-list groupBy (no df-count shuffle or anti join)
    return D.jaccard_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        min_jaccard_bp=JACCARD_BP_MIN,
    )


_Q25_SQL = f"""
WITH {_TRIGRAMS_CTE},
sizes AS (SELECT id, COUNT(*) AS sz FROM grams GROUP BY id),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
  FROM grams a JOIN grams b ON a.ng = b.ng AND a.id < b.id
  GROUP BY a.id, b.id
)
SELECT id_a, id_b,
       CAST(ROUND(10000.0 * inter / (sa.sz + sb.sz - inter)) AS BIGINT) AS jaccard_bp
FROM inter
JOIN sizes sa ON sa.id = id_a
JOIN sizes sb ON sb.id = id_b
WHERE CAST(ROUND(10000.0 * inter / (sa.sz + sb.sz - inter)) AS BIGINT)
      >= {JACCARD_BP_MIN}
"""


def _sig_sql_cols() -> str:
    return ",\n         ".join(
        f"MIN(md5('{i}:' || ng)) AS mh{i}" for i in range(N_MINHASH)
    )


_N_BANDS = N_MINHASH // BAND_WIDTH


def _band_sql(k: int) -> str:
    parts = " || '|' || ".join(f"mh{k * BAND_WIDTH + j}" for j in range(BAND_WIDTH))
    return f"md5({parts})"


_BANDS_CTE = f"""
sig AS (
  SELECT id,
         {_sig_sql_cols()}
  FROM grams GROUP BY id
),
bands AS (
  {" UNION ALL ".join(f"SELECT id, {k} AS band_id, {_band_sql(k)} AS band_val FROM sig" for k in range(_N_BANDS))}
)
"""

# --------------------------------------------------------------------- q26


def q26_minhash_lsh_candidates(spark, sf_dir):
    return D.minhash_lsh_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text", min_jaccard_bp=None
    )


_Q26_SQL = f"""
WITH {_TRIGRAMS_CTE},
{_BANDS_CTE}
SELECT DISTINCT a.id AS id_a, b.id AS id_b
FROM bands a JOIN bands b
  ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.id < b.id
"""

# --------------------------------------------------------------------- q27


def q27_minhash_neardup_verified(spark, sf_dir):
    return D.minhash_lsh_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        min_jaccard_bp=JACCARD_BP_MIN,
    )


_Q27_SQL = f"""
WITH {_TRIGRAMS_CTE},
{_BANDS_CTE},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.id < b.id
),
sizes AS (SELECT id, COUNT(*) AS sz FROM grams GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS inter
  FROM cand c
  JOIN grams ga ON ga.id = c.id_a
  JOIN grams gb ON gb.id = c.id_b AND gb.ng = ga.ng
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b,
       CAST(ROUND(10000.0 * inter / (sa.sz + sb.sz - inter)) AS BIGINT) AS jaccard_bp
FROM inter i
JOIN sizes sa ON sa.id = i.id_a
JOIN sizes sb ON sb.id = i.id_b
WHERE CAST(ROUND(10000.0 * inter / (sa.sz + sb.sz - inter)) AS BIGINT)
      >= {JACCARD_BP_MIN}
"""

# --------------------------------------------------------------------- q36
# SimHash near-dup pairs with an engine-portable token hash (60-bit
# md5-prefix; xxhash64 differs between engines). The Spark side runs the
# production shape — 4×16-bit block LSH + hamming verify, recall exactly
# 1 at hamming ≤ 3 by pigeonhole — and the oracle recomputes the same
# simhash sign-aggregation in pure SQL and does the exact all-pairs
# hamming join, so the gate also proves the LSH loses nothing.

_SH_MAX_HAMMING = 3


def q36_simhash_pairs(spark, sf_dir):
    return D.simhash_near_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        max_hamming=_SH_MAX_HAMMING, hash_fn=D.portable_token_hash,
    )


_votes_cols = ",\n         ".join(
    f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
    for j in range(60)
)
_sh_expr = " + ".join(f"CASE WHEN v{j} > 0 THEN {1 << j}::BIGINT ELSE 0 END" for j in range(60))

_Q36_SQL = f"""
WITH tok AS (
  SELECT doc_id AS id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS tok
  FROM documents
),
h AS (SELECT id, ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h FROM tok),
votes AS (
  SELECT id,
         {_votes_cols}
  FROM h GROUP BY id
),
sh AS (SELECT id, ({_sh_expr}) AS simhash FROM votes)
SELECT a.id AS id_a, b.id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sh a JOIN sh b ON a.id < b.id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {_SH_MAX_HAMMING}
"""


# --------------------------------------------------------------------- q57
# MinHash Jaccard ESTIMATE for LSH candidate pairs: est = matches/k over
# the k signature components. k=8 → est_bp = 1250 * matches, exact
# integer arithmetic on both engines (the sketch-accuracy counterpart of
# q27's exact verification).


def q57_minhash_estimate(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = t(spark, sf_dir, "documents")
    # sig feeds the 4 band projections inside lsh_candidates plus both
    # join sides below — cache or the signature aggregation runs ~6x;
    # registered so release_caches() frees it
    sig = D._register_cache(D.minhash_signatures(docs, "doc_id", "text").cache())
    cand = D.lsh_candidates(sig)
    sa = sig.select(F.col("id").alias("id_a"), *[F.col(f"mh{i}").alias(f"a{i}") for i in range(N_MINHASH)])
    sb = sig.select(F.col("id").alias("id_b"), *[F.col(f"mh{i}").alias(f"b{i}") for i in range(N_MINHASH)])
    matches = None
    for i in range(N_MINHASH):
        term = F.when(F.col(f"a{i}") == F.col(f"b{i}"), 1).otherwise(0)
        matches = term if matches is None else matches + term
    est = (matches * (10000 // N_MINHASH)).cast("long")
    return (
        cand.join(sa, "id_a").join(sb, "id_b")
        .select("id_a", "id_b", est.alias("est_jaccard_bp"))
    )


_q57_matches = " + ".join(
    f"CASE WHEN sa.mh{i} = sb.mh{i} THEN 1 ELSE 0 END" for i in range(N_MINHASH)
)

_Q57_SQL = f"""
WITH {_TRIGRAMS_CTE},
{_BANDS_CTE},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.id < b.id
)
SELECT c.id_a, c.id_b,
       CAST(({_q57_matches}) * {10000 // N_MINHASH} AS BIGINT) AS est_jaccard_bp
FROM cand c
JOIN sig sa ON sa.id = c.id_a
JOIN sig sb ON sb.id = c.id_b
"""


# --------------------------------------------------------------------- q63
# Applying the dedup: the kept corpus after exact dedup (keep-first
# policy — lowest doc_id per fingerprint survives). q24 finds the
# groups; this materializes the deduplicated table.


def q63_dedup_keep_first(spark, sf_dir):
    from pyspark.sql import functions as F

    # reuse the library dedup: (fp, min(id)) hash aggregate — partial agg
    # beats a per-fingerprint window sort of full rows
    return (
        D.exact_duplicates(t(spark, sf_dir, "documents"), "doc_id", "text")
        .select(F.col("rep_id").alias("doc_id"))
    )


_Q63_SQL = """
SELECT doc_id FROM documents
QUALIFY doc_id = MIN(doc_id) OVER (PARTITION BY md5(text))
"""


QUERIES = {
    "q24_exact_dedup": (q24_exact_dedup, _Q24_SQL),
    "q63_dedup_keep_first": (q63_dedup_keep_first, _Q63_SQL),
    "q25_trigram_jaccard_pairs": (q25_trigram_jaccard_pairs, _Q25_SQL),
    "q26_minhash_lsh_candidates": (q26_minhash_lsh_candidates, _Q26_SQL),
    "q27_minhash_neardup_verified": (q27_minhash_neardup_verified, _Q27_SQL),
    "q36_simhash_pairs": (q36_simhash_pairs, _Q36_SQL),
    "q57_minhash_estimate": (q57_minhash_estimate, _Q57_SQL),
}


# --------------------------------------------------------------------- q74
# Dedup APPLIED to the lakehouse: a corpus with planted duplicates is
# committed as an Iceberg v2 table, the non-representative doc_ids
# (keep-first over md5 fingerprint) are removed via an EQUALITY_DELETES
# file — no data file rewritten — and the gate hashes the table as read
# back through the snapshot + delete-application path. The oracle
# restates the whole thing (planting included) in SQL.

_DUP_MOD = 7
_DUP_OFFSET = 10_000_000


def q74_iceberg_dedup_apply(spark, sf_dir):
    import os
    import tempfile

    from pyspark.sql import functions as F

    from htrtf_spark.sources.iceberg import (
        delete_iceberg_rows,
        read_iceberg_table,
        write_iceberg_table,
    )

    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    dups = docs.filter(F.col("doc_id") % _DUP_MOD == 0).withColumn(
        "doc_id", F.col("doc_id") + _DUP_OFFSET
    )
    corpus = docs.unionByName(dups)
    loc = os.path.join(
        tempfile.mkdtemp(prefix="htrtf_dedup_ice_"), "docs"
    )
    write_iceberg_table(corpus, loc)

    keyed = corpus.withColumn("fp", F.md5("text"))
    victims = (
        keyed.withColumn(
            "keep", F.min("doc_id").over(Window.partitionBy("fp"))
        )
        .filter(F.col("doc_id") != F.col("keep"))
        .select("doc_id")
    )
    delete_iceberg_rows(victims, loc, ["doc_id"])
    return read_iceberg_table(spark, loc).select(
        "doc_id", F.md5("text").alias("fp")
    )


_Q74_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_DUP_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % {_DUP_MOD} = 0
),
ranked AS (
  SELECT doc_id, md5(text) AS fp,
         MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep
  FROM corpus
)
SELECT doc_id, fp FROM ranked WHERE doc_id = keep
"""

QUERIES["q74_iceberg_dedup_apply"] = (q74_iceberg_dedup_apply, _Q74_SQL)


# --------------------------------------------------------------------- q78
# Near-dup CLUSTERING: connected components over the verified MinHash
# pairs (the step between pair generation and keep-one-per-cluster).
# Spark side: distributed min-label propagation to a fixpoint; oracle:
# the same pairs rebuilt by the q27 SQL, closed under a RECURSIVE CTE
# (min reachable id == component representative).


def q78_neardup_clusters(spark, sf_dir):
    pairs = D.minhash_lsh_pairs(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        min_jaccard_bp=JACCARD_BP_MIN,
    )
    return D.connected_components(pairs)


_Q78_SQL = f"""
WITH RECURSIVE {_TRIGRAMS_CTE},
{_BANDS_CTE},
cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.id < b.id
),
sizes AS (SELECT id, COUNT(*) AS sz FROM grams GROUP BY id),
inter AS (
  SELECT c.id_a, c.id_b, COUNT(*) AS inter
  FROM cand c
  JOIN grams ga ON ga.id = c.id_a
  JOIN grams gb ON gb.id = c.id_b AND gb.ng = ga.ng
  GROUP BY c.id_a, c.id_b
),
pairs AS (
  SELECT i.id_a, i.id_b
  FROM inter i
  JOIN sizes sa ON sa.id = i.id_a
  JOIN sizes sb ON sb.id = i.id_b
  WHERE CAST(ROUND(10000.0 * inter / (sa.sz + sb.sz - inter)) AS BIGINT)
        >= {JACCARD_BP_MIN}
),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b AS src, id_a AS dst FROM pairs
),
walk(id, label) AS (
  SELECT src, src FROM sym
  UNION
  SELECT p.dst, w.label FROM walk w JOIN sym p ON p.src = w.id
)
SELECT id, MIN(label) AS cluster_rep FROM walk GROUP BY id
"""

QUERIES["q78_neardup_clusters"] = (q78_neardup_clusters, _Q78_SQL)


# --------------------------------------------------------------------- q83
# Continuous-ingest incremental dedup: flag each NEW document (doc_id >=
# split) against the EXISTING corpus (doc_id < split) — exact md5
# collision + LSH band-bucket collision against the corpus band index,
# the probe-an-index shape a streaming training-data pipeline runs per
# batch (never corpus × batch). Uncapped shingles here: the per-subset
# stop-list would otherwise depend on subset frequencies, which the SQL
# restatement mirrors 1:1 anyway but the uncapped form keeps the oracle
# readable.

_Q83_SPLIT = 400


def q83_incremental_dedup(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    corpus = d.filter(f"doc_id < {_Q83_SPLIT}")
    new = d.filter(f"doc_id >= {_Q83_SPLIT}")
    return D.incremental_dedup_flags(
        new, corpus, "doc_id", "text", max_doc_freq=None
    ).withColumnRenamed("id", "doc_id")


def _q83_grams(cte: str, src: str) -> str:
    return f"""{cte} AS (
  SELECT doc_id AS id, unnest(ngs) AS ng FROM (
    SELECT doc_id,
           list_distinct(
             CASE WHEN len(w) >= {_N}
                  THEN [array_to_string(w[i:i+{_N - 1}], ' ')
                        for i in generate_series(1, len(w) - {_N - 1})]
                  ELSE [] END) AS ngs
    FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM {src})
  )
)"""


def _q83_bands(prefix: str, grams: str) -> str:
    bands_union = " UNION ALL ".join(
        f"SELECT id, {k} AS band_id, {_band_sql(k)} AS band_val "
        f"FROM {prefix}sig"
        for k in range(_N_BANDS)
    )
    return f"""{prefix}sig AS (
  SELECT id,
         {_sig_sql_cols()}
  FROM {grams} GROUP BY id
),
{prefix}bands AS (
  {bands_union}
)"""


_Q83_SQL = f"""
WITH corpus AS (SELECT * FROM documents WHERE doc_id < {_Q83_SPLIT}),
newb AS (SELECT * FROM documents WHERE doc_id >= {_Q83_SPLIT}),
{_q83_grams("cgrams", "corpus")},
{_q83_grams("ngrams_", "newb")},
{_q83_bands("c", "cgrams")},
{_q83_bands("n", "ngrams_")},
exact_hit AS (
  SELECT DISTINCT n.doc_id AS id
  FROM newb n
  JOIN (SELECT DISTINCT md5(text) AS fp FROM corpus) c
    ON md5(n.text) = c.fp
),
lsh_hit AS (
  SELECT DISTINCT nb.id
  FROM nbands nb
  JOIN (SELECT DISTINCT band_id, band_val FROM cbands) cb
    USING (band_id, band_val)
)
SELECT d.doc_id,
       CAST(CASE WHEN e.id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
           AS exact_dup,
       CAST(CASE WHEN l.id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
           AS lsh_hit,
       CAST(CASE WHEN e.id IS NULL AND l.id IS NULL THEN 1 ELSE 0 END
            AS INTEGER) AS novel
FROM newb d
LEFT JOIN exact_hit e ON e.id = d.doc_id
LEFT JOIN lsh_hit l ON l.id = d.doc_id
"""


QUERIES["q83_incremental_dedup"] = (q83_incremental_dedup, _Q83_SQL)


# -------------------------------------------------------------------- q83b
# The PERSISTED-index form of q83 (round 4): build_corpus_index once →
# write (index, stop, fps) to parquet → probe the batch with
# incremental_dedup_flags(corpus_index=..., corpus_stop=...,
# corpus_fps=...) and NO corpus DataFrame — the shape a per-tick ingest
# job runs (corpus rescan impossible by construction). The stop cap is
# ACTIVE (df > _Q83B_CAP over CORPUS frequencies) and — the ADVICE r3
# fix — the SAME corpus stop list caps both the index and the probe,
# which the oracle restates: one cstop list, filtered out of BOTH gram
# tables before signatures.

_Q83B_CAP = 4


def q83b_incremental_dedup_persisted(spark, sf_dir):
    import tempfile

    d = t(spark, sf_dir, "documents")
    corpus = d.filter(f"doc_id < {_Q83_SPLIT}")
    new = d.filter(f"doc_id >= {_Q83_SPLIT}")

    idx, stop, fps = D.build_corpus_index(
        corpus, "doc_id", "text", max_doc_freq=_Q83B_CAP
    )
    base = tempfile.mkdtemp(prefix="htrtf_dedup_idx_")
    idx.write.parquet(f"{base}/idx")
    stop.write.parquet(f"{base}/stop")
    fps.write.parquet(f"{base}/fps")

    return D.incremental_dedup_flags(
        new,
        id_col="doc_id",
        text_col="text",
        corpus_index=spark.read.parquet(f"{base}/idx"),
        corpus_stop=spark.read.parquet(f"{base}/stop"),
        corpus_fps=spark.read.parquet(f"{base}/fps"),
    ).withColumnRenamed("id", "doc_id")


_Q83B_SQL = f"""
WITH corpus AS (SELECT * FROM documents WHERE doc_id < {_Q83_SPLIT}),
newb AS (SELECT * FROM documents WHERE doc_id >= {_Q83_SPLIT}),
{_q83_grams("cgrams0", "corpus")},
{_q83_grams("ngrams0_", "newb")},
cstop AS (
  SELECT ng FROM cgrams0 GROUP BY ng HAVING COUNT(*) > {_Q83B_CAP}
),
cgrams AS (
  SELECT * FROM cgrams0 WHERE ng NOT IN (SELECT ng FROM cstop)
),
ngrams_ AS (
  SELECT * FROM ngrams0_ WHERE ng NOT IN (SELECT ng FROM cstop)
),
{_q83_bands("c", "cgrams")},
{_q83_bands("n", "ngrams_")},
exact_hit AS (
  SELECT DISTINCT n.doc_id AS id
  FROM newb n
  JOIN (SELECT DISTINCT md5(text) AS fp FROM corpus) c
    ON md5(n.text) = c.fp
),
lsh_hit AS (
  SELECT DISTINCT nb.id
  FROM nbands nb
  JOIN (SELECT DISTINCT band_id, band_val FROM cbands) cb
    USING (band_id, band_val)
)
SELECT d.doc_id,
       CAST(CASE WHEN e.id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
           AS exact_dup,
       CAST(CASE WHEN l.id IS NOT NULL THEN 1 ELSE 0 END AS INTEGER)
           AS lsh_hit,
       CAST(CASE WHEN e.id IS NULL AND l.id IS NULL THEN 1 ELSE 0 END
            AS INTEGER) AS novel
FROM newb d
LEFT JOIN exact_hit e ON e.id = d.doc_id
LEFT JOIN lsh_hit l ON l.id = d.doc_id
"""

QUERIES["q83b_incremental_dedup_persisted"] = (
    q83b_incremental_dedup_persisted,
    _Q83B_SQL,
)


# --------------------------------------------------------------------- q93
# Train/test decontamination (round 4): flag corpus documents sharing
# >= 2 distinct trigrams with a benchmark set (here: the first 12 words
# of every 40th document — a deterministic eval-set stand-in). The
# corpus-derived stop list is applied to BOTH sides (symmetric cap) and
# the benchmark side broadcasts. The oracle restates shingling, the
# shared stop list, and the pair count threshold.

_Q93_MIN_SHARED = 2
_Q93_CAP = 4


def q93_benchmark_contamination(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    bench = d.filter("doc_id % 40 = 0").select(
        F.col("doc_id").alias("bench_id"),
        F.array_join(F.slice(tokens("text"), 1, 12), " ").alias("text"),
    )
    out = D.benchmark_contamination(
        d, bench, id_col="doc_id", text_col="text",
        bench_id_col="bench_id", bench_text_col="text",
        min_shared=_Q93_MIN_SHARED, max_doc_freq=_Q93_CAP,
    )
    return out.select(
        F.col("id").alias("doc_id"), "bench_id",
        F.col("shared_ngrams").cast("long").alias("shared_ngrams"),
    )


_Q93_SQL = f"""
WITH bench AS (
  SELECT doc_id AS bench_id,
         array_to_string(
           list_filter(string_split(text, ' '), x -> x <> '')[1:12], ' '
         ) AS text
  FROM documents WHERE doc_id % 40 = 0
),
{_q83_grams("cg0", "documents")},
bg0 AS (
  SELECT bench_id AS id, unnest(ngs) AS ng FROM (
    SELECT bench_id,
           list_distinct(
             CASE WHEN len(w) >= {_N}
                  THEN [array_to_string(w[i:i+{_N - 1}], ' ')
                        for i in generate_series(1, len(w) - {_N - 1})]
                  ELSE [] END) AS ngs
    FROM (SELECT bench_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM bench)
  )
),
cstop AS (
  SELECT ng FROM cg0 GROUP BY ng HAVING COUNT(*) > {_Q93_CAP}
),
cg AS (SELECT * FROM cg0 WHERE ng NOT IN (SELECT ng FROM cstop)),
bg AS (SELECT * FROM bg0 WHERE ng NOT IN (SELECT ng FROM cstop))
SELECT c.id AS doc_id, b.id AS bench_id,
       CAST(COUNT(*) AS BIGINT) AS shared_ngrams
FROM cg c JOIN bg b USING (ng)
GROUP BY 1, 2
HAVING COUNT(*) >= {_Q93_MIN_SHARED}
"""

QUERIES["q93_benchmark_contamination"] = (
    q93_benchmark_contamination,
    _Q93_SQL,
)

# --------------------------------------------------------------------- q96

_SUBSTR_L = 50  # the oracle SQL below is DERIVED from this knob


def q96_repeated_substring_spans(spark, sf_dir):
    """Exact repeated-substring spans (Lee et al. 2022 suffix-array
    semantics) at min_len=50 over documents — maximal character spans
    every length-50 window of which occurs >= 2 times in the corpus."""
    from htrtf_spark.operators.substr_dedup import repeated_substring_spans

    return repeated_substring_spans(
        t(spark, sf_dir, "documents"), "doc_id", "text",
        min_len=_SUBSTR_L,
    ).withColumnRenamed("id", "doc_id")


def substr_spans_cte(
    rel: str = "documents",
    text_col: str = "text",
    L: int = _SUBSTR_L,
) -> str:
    """The grams/hits/isl/spans CTE chain of the substring-dedup oracle,
    parameterized by source relation (must expose doc_id) and text
    column — shared by q96/q97 and the composed-pipeline gate (q101)."""
    return f"""
grams AS (
  SELECT doc_id,
         unnest([{{'pos': i - 1,
                   'g': substring({text_col}, i, {L})}}
                 for i in generate_series(
                     1, length({text_col}) - {L} + 1)],
                recursive := true)
  FROM {rel} WHERE length({text_col}) >= {L}
),
hits AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY g) AS n FROM grams
  ) WHERE n >= 2
),
isl AS (
  -- interval merge (NOT consecutive-position islands): hit intervals
  -- [pos, pos+L) overlap-or-touch when the gap is <= L, so a new span
  -- starts on a gap > L -- spans come out maximal and disjoint
  SELECT doc_id, pos,
         SUM(CASE WHEN prev_pos IS NULL
                       OR pos - prev_pos > {L}
                  THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY pos
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM (
    SELECT doc_id, pos,
           LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev_pos
    FROM hits
  )
),
spans AS (
  SELECT doc_id, MIN(pos) AS span_start,
         MAX(pos) + {L} AS span_end
  FROM isl GROUP BY doc_id, grp
)
"""


def substr_strip_cte(
    rel: str = "documents", text_col: str = "text"
) -> str:
    """The segs/pieces/cleaned CTE chain that cuts the ``spans`` CTE's
    intervals out of ``rel.text_col`` (the strip_repeated_spans
    restatement); the caller selects
    ``COALESCE(cleaned.kept_text, {rel}.{text_col})``."""
    return f"""
segs AS (
  SELECT doc_id, span_start, span_end,
         COALESCE(LAG(span_end) OVER (PARTITION BY doc_id
                                      ORDER BY span_start), 0) AS prev_e
  FROM spans
),
pieces AS (
  SELECT s.doc_id, s.span_start AS ord,
         substring(d.{text_col}, s.prev_e + 1,
                   s.span_start - s.prev_e) AS seg
  FROM segs s JOIN {rel} d USING (doc_id)
  UNION ALL
  SELECT m.doc_id, 2147483647 AS ord,
         substring(d.{text_col}, m.max_e + 1,
                   length(d.{text_col}) - m.max_e) AS seg
  FROM (SELECT doc_id, MAX(span_end) AS max_e FROM spans GROUP BY doc_id) m
  JOIN {rel} d USING (doc_id)
),
cleaned_strip AS (
  SELECT doc_id, string_agg(seg, '' ORDER BY ord) AS kept_text
  FROM pieces GROUP BY doc_id
)
"""


_Q96_SQL = f"""
WITH {substr_spans_cte()}
SELECT doc_id, span_start, span_end,
       span_end - span_start AS span_len
FROM spans
"""

QUERIES["q96_repeated_substring_spans"] = (
    q96_repeated_substring_spans,
    _Q96_SQL,
)

# --------------------------------------------------------------------- q97


def q97_substring_dedup_apply(spark, sf_dir):
    """Apply-side substring dedup: cut every duplicated span out of the
    text (drop-duplicated-regions policy); untouched documents pass
    through with removed_chars = 0."""
    from htrtf_spark.operators.substr_dedup import (
        repeated_substring_spans,
        strip_repeated_spans,
    )

    docs = t(spark, sf_dir, "documents")
    spans = repeated_substring_spans(
        docs, "doc_id", "text", min_len=_SUBSTR_L
    )
    return strip_repeated_spans(docs, spans, "doc_id", "text").select(
        "doc_id", F.col("text").alias("kept_text"), "removed_chars"
    )


_Q97_SQL = f"""
WITH {substr_spans_cte()},
{substr_strip_cte()}
SELECT d.doc_id,
       COALESCE(c.kept_text, d.text) AS kept_text,
       length(d.text) - length(COALESCE(c.kept_text, d.text))
         AS removed_chars
FROM documents d LEFT JOIN cleaned_strip c USING (doc_id)
"""

QUERIES["q97_substring_dedup_apply"] = (
    q97_substring_dedup_apply,
    _Q97_SQL,
)


# -------------------------------------------------------------------- q104
# C4-style corpus-level line dedup (operators/dedup.strip_duplicated_
# lines): the gate seeds one of five banner lines per document (each
# banner class repeats ~N/5 times corpus-wide), so every document loses
# its banner except the five canonical first occurrences. The oracle
# restates count + keep-first with plain windows.


def q104_line_dedup(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit("\nshared banner line "),
            (F.col("doc_id") % 5).cast("string"),
        ).alias("text"),
    )
    return D.strip_duplicated_lines(docs, "doc_id", "text").select(
        "doc_id",
        F.col("text").alias("deduped_text"),
        "n_lines",
        "n_lines_removed",
    )


_Q104_SQL = """
WITH seeded AS (
  SELECT doc_id,
         text || chr(10) || 'shared banner line '
              || CAST(doc_id % 5 AS VARCHAR) AS text
  FROM documents
),
lines AS (
  SELECT doc_id,
         unnest([{'line_idx': i - 1, 'line': l[i]}
                 for i in generate_series(1, len(l))],
                recursive := true)
  FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM seeded)
),
marked AS (
  SELECT doc_id, line_idx, line,
         CASE WHEN length(line) > 0
              THEN COUNT(*) OVER (PARTITION BY line) END AS n,
         CASE WHEN length(line) > 0
              THEN ROW_NUMBER() OVER (PARTITION BY line
                                      ORDER BY doc_id, line_idx) END AS rn
  FROM lines
),
flagged AS (
  SELECT *,
         (n IS NOT NULL AND n >= 2 AND rn <> 1) AS dropped
  FROM marked
)
SELECT doc_id,
       COALESCE(string_agg(CASE WHEN NOT dropped THEN line END,
                           chr(10) ORDER BY line_idx), '') AS deduped_text,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN dropped THEN 1 ELSE 0 END) AS BIGINT)
           AS n_lines_removed
FROM flagged GROUP BY doc_id
"""

QUERIES["q104_line_dedup"] = (q104_line_dedup, _Q104_SQL)
