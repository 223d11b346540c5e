"""The flagship COMPOSITION gate: the full training-data pipeline —
extraction → quality filter → exact dedup (keep-first) — chained as the
real operators (the same mapInArrow extraction stage, token/quality
aggregation, and window dedup the library ships), with the entire
composition restated in SQL for the oracle. This is the "what the
engine is for" query: a user turns raw text into a deduplicated,
quality-filtered training corpus in one declarative plan.

Production form: jobs/build_training_set.py (transcripts in — parquet or
Iceberg — checkpointed extraction, same filter/dedup, Iceberg out).
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from htrtf_spark.operators import textstats as TS
from htrtf_spark.queries.util import clean_sql, t

# thresholds chosen so the gate EXERCISES the filter on the driver
# corpus (token counts there span 10-99; ~20% of docs fall below 25)
MIN_TOKENS = 25
MAX_STOP_RATIO_BP = 8000


def _extract_clean(docs, id_col: str, text_col: str):
    """Shared first stage of the composed pipelines: documents run
    through extract_turns, the SAME extraction stage the library ships
    (each document as a one-turn pseudo-conversation), rejected rows
    dropped — yields (_id, clean_text). Narrow; Catalyst fuses it into
    the scan."""
    from htrtf_spark.plans.ordering import fan_out
    from htrtf_spark.plans.pipeline import extract_turns

    # a single-split source (one-row-group parquet locally) would
    # serialize the extraction stage AND every downstream consumer of
    # the persisted extraction onto one core; no-op on parallel scans
    pseudo = fan_out(docs, id_col).select(
        F.col(id_col).alias("_id"),
        F.concat(F.lit("doc-"), F.lpad(F.col(id_col).cast("string"), 8, "0")).alias("conv_id"),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col(text_col).alias("text"),
    )
    extracted = extract_turns(pseudo, check_schema=False).withColumn(
        "_id", F.split_part(F.col("conv_id"), F.lit("-"), F.lit(2)).cast("long")
    )
    return extracted.filter(F.col("reject_reason").isNull()).select(
        "_id", F.col("extracted_text").alias("clean_text")
    )


def _quality_dedup(cleaned, extra_cols: tuple = ()):
    """Shared tail of the composed pipelines: token/stop-ratio quality
    filter + keep-first exact dedup over (_id, clean_text[, extras])
    rows → (doc_id, n_tokens, stop_ratio_bp, *extras, fp). ONE
    implementation (review r6: the tail had been copy-pasted between
    training_corpus and training_corpus_stripped and could drift).
    ``extra_cols`` are audit-count columns carried through verbatim
    and emitted as BIGINT before ``fp``."""
    n_tokens, n_stop = F.col("n_tokens"), F.col("n_stop")
    quality = cleaned.select(
        "_id",
        "clean_text",
        *extra_cols,
        TS.token_count("clean_text").alias("n_tokens"),
        TS.stop_count("clean_text").alias("n_stop"),
    )
    kept = quality.filter(
        TS.keeps_quality(n_tokens, n_stop, MIN_TOKENS, MAX_STOP_RATIO_BP)
    )
    fp = F.md5("clean_text")
    w = Window.partitionBy(fp)
    return (
        kept.withColumn("fp", fp)
        .withColumn("_keep", F.min("_id").over(w))
        .filter(F.col("_id") == F.col("_keep"))
        .select(
            F.col("_id").alias("doc_id"),
            "n_tokens",
            TS.stop_ratio_bp(n_stop, n_tokens).alias("stop_ratio_bp"),
            *[F.col(c).cast("long").alias(c) for c in extra_cols],
            "fp",
        )
    )


def training_corpus(docs, id_col: str = "doc_id", text_col: str = "text"):
    """documents(id, text) → deduplicated quality corpus
    (id, n_tokens, stop_ratio_bp, fp). One declarative plan:
    narrow extraction → narrow quality projection → one shuffle for the
    dedup window — Catalyst fuses the first two into the scan."""
    return _quality_dedup(_extract_clean(docs, id_col, text_col))


def q77_training_corpus(spark, sf_dir):
    return training_corpus(t(spark, sf_dir, "documents"))


# ------------------------------------------------------------------ q101
# The round-6 composition: extraction → EXACT REPEATED-SUBSTRING STRIP
# (Lee et al. 2022, operators/substr_dedup.py) → quality filter →
# keep-first exact dedup — the full hygiene chain a production corpus
# runs, restated end-to-end in SQL. Stripping runs BETWEEN extraction
# and quality because boilerplate inflates token counts and depresses
# stop ratios: quality must judge the text that will actually train.

_STRIP_L = 50  # same knob as q96/q97 (queries/dedup.py _SUBSTR_L)


def training_corpus_stripped(
    docs, id_col: str = "doc_id", text_col: str = "text",
    min_len: int = _STRIP_L,
):
    """documents(id, text) → extraction → strip repeated substrings →
    quality filter → keep-first dedup. Output adds ``removed_chars``
    (per-document strip audit) to the ``training_corpus`` schema.

    Plan shape: the extraction is narrow but feeds MULTIPLE consumers
    — the substring operator's heavy-gram detection pass, its window
    chain, and the strip join — so the extracted corpus is persisted
    (MEMORY_AND_DISK, registered with the dedup cache registry for
    release_caches()) instead of re-running the extraction stage once
    per consumer. At warehouse scale the production form materializes
    extraction to a table first (jobs/build_training_set.py); quality
    is a narrow projection over the stripped text; dedup is one
    fingerprint-window shuffle."""
    from pyspark import StorageLevel

    from htrtf_spark.operators.dedup import _register_cache
    from htrtf_spark.operators.substr_dedup import (
        repeated_substring_spans,
        strip_repeated_spans,
    )

    cleaned = _register_cache(
        _extract_clean(docs, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    )
    spans = repeated_substring_spans(
        cleaned, "_id", "clean_text", min_len=min_len
    )
    stripped = strip_repeated_spans(cleaned, spans, "_id", "clean_text")
    return _quality_dedup(stripped, extra_cols=("removed_chars",))


def q101_training_corpus_stripped(spark, sf_dir):
    return training_corpus_stripped(t(spark, sf_dir, "documents"))


def _q101_sql() -> str:
    from htrtf_spark.queries.dedup import substr_spans_cte, substr_strip_cte

    stoplist = ", ".join(f"'{w}'" for w in TS.STOPWORDS)
    return f"""
WITH cleaned AS (
  SELECT doc_id, clean_text FROM (
    SELECT doc_id, {clean_sql("text")} AS clean_text FROM documents
  ) WHERE clean_text <> ''
),
{substr_spans_cte("cleaned", "clean_text", _STRIP_L)},
{substr_strip_cte("cleaned", "clean_text")},
stripped AS (
  SELECT d.doc_id,
         COALESCE(c.kept_text, d.clean_text) AS clean_text,
         length(d.clean_text) - length(COALESCE(c.kept_text, d.clean_text))
           AS removed_chars
  FROM cleaned d LEFT JOIN cleaned_strip c USING (doc_id)
),
quality AS (
  SELECT doc_id, clean_text, removed_chars,
         len(list_filter(string_split(clean_text, ' '), x -> x <> ''))
             AS n_tokens,
         len(list_filter(string_split(clean_text, ' '),
             x -> x IN ({stoplist}))) AS n_stop
  FROM stripped
),
kept AS (
  SELECT * FROM quality
  WHERE n_tokens >= {MIN_TOKENS}
    AND CAST(ROUND(10000.0 * n_stop / n_tokens) AS BIGINT)
        <= {MAX_STOP_RATIO_BP}
),
ranked AS (
  SELECT doc_id, n_tokens, n_stop, removed_chars,
         md5(clean_text) AS fp,
         MIN(doc_id) OVER (PARTITION BY md5(clean_text)) AS keep
  FROM kept
)
SELECT doc_id, n_tokens,
       CAST(ROUND(10000.0 * n_stop / n_tokens) AS BIGINT) AS stop_ratio_bp,
       CAST(removed_chars AS BIGINT) AS removed_chars,
       fp
FROM ranked WHERE doc_id = keep
"""


def _q77_sql() -> str:
    stoplist = ", ".join(f"'{w}'" for w in TS.STOPWORDS)
    return f"""
WITH cleaned AS (
  SELECT doc_id, {clean_sql("text")} AS clean_text FROM documents
),
quality AS (
  SELECT doc_id, clean_text,
         len(list_filter(string_split(clean_text, ' '), x -> x <> ''))
             AS n_tokens,
         len(list_filter(string_split(clean_text, ' '),
             x -> x IN ({stoplist}))) AS n_stop
  FROM cleaned
  WHERE clean_text <> ''
),
kept AS (
  SELECT * FROM quality
  WHERE n_tokens >= {MIN_TOKENS}
    AND CAST(ROUND(10000.0 * n_stop / n_tokens) AS BIGINT)
        <= {MAX_STOP_RATIO_BP}
),
ranked AS (
  SELECT doc_id, n_tokens, n_stop, md5(clean_text) AS fp,
         MIN(doc_id) OVER (PARTITION BY md5(clean_text)) AS keep
  FROM kept
)
SELECT doc_id, n_tokens,
       CAST(ROUND(10000.0 * n_stop / n_tokens) AS BIGINT) AS stop_ratio_bp,
       fp
FROM ranked WHERE doc_id = keep
"""


QUERIES = {
    "q77_training_corpus": (q77_training_corpus, _q77_sql()),
    "q101_training_corpus_stripped": (
        q101_training_corpus_stripped,
        _q101_sql(),
    ),
}


# --------------------------------------------------------------------- q79
# Deterministic train/valid/test split by ENGINE-PORTABLE hash: bucket
# = md5-prefix(id) mod 100 → split by cumulative weight. The reference
# splits by curated set-lists (create_IAM_lines_dataset.py:225); at web
# scale the same contract (stable membership, no RNG, reproducible on
# any engine) comes from content hashing. 60-bit md5 prefix — the same
# portable-hash trick the SimHash gate uses.

_SPLIT_PCTS = (80, 10, 10)  # train / valid / test


def hash_split_assign(df, id_col: str):
    from pyspark.sql import functions as F

    from htrtf_spark.operators.dedup import portable_token_hash

    # the ONE canonical engine-portable 60-bit md5-prefix hash (same
    # helper the SimHash gate uses) — keep split membership and the
    # portable-hash convention in lockstep
    bucket = portable_token_hash(F.col(id_col).cast("string")) % 100
    t_hi = _SPLIT_PCTS[0]
    v_hi = _SPLIT_PCTS[0] + _SPLIT_PCTS[1]
    return df.withColumn(
        "split",
        F.when(bucket < t_hi, "train")
        .when(bucket < v_hi, "valid")
        .otherwise("test"),
    )


def q79_hash_split(spark, sf_dir):
    from pyspark.sql import functions as F

    docs = t(spark, sf_dir, "documents").select("doc_id")
    return (
        hash_split_assign(docs, "doc_id")
        .groupBy("split")
        .agg(
            F.count("*").alias("n"),
            F.min("doc_id").alias("min_id"),
            F.max("doc_id").alias("max_id"),
        )
    )


_Q79_SQL = f"""
WITH b AS (
  SELECT doc_id,
         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT % 100
             AS bucket
  FROM documents
)
SELECT CASE WHEN bucket < {_SPLIT_PCTS[0]} THEN 'train'
            WHEN bucket < {_SPLIT_PCTS[0] + _SPLIT_PCTS[1]} THEN 'valid'
            ELSE 'test' END AS split,
       COUNT(*) AS n,
       MIN(doc_id) AS min_id,
       MAX(doc_id) AS max_id
FROM b GROUP BY 1
"""

QUERIES["q79_hash_split"] = (q79_hash_split, _Q79_SQL)


# --------------------------------------------------------------------- q85
# Deterministic stratified sampling — the training-mixture primitive
# ("keep X% of each language"). Membership is content-hashed (portable
# md5-prefix mod 10000 basis points), so the SQL oracle recomputes the
# EXACT member set, not just counts — which df.sample could never pass.

_Q85_RATES_BP = {"en": 10000, "de": 5000, "fr": 2500, "es": 1000}
_Q85_SEED = 42


def q85_stratified_sample(spark, sf_dir):
    from htrtf_spark.operators.sampling import stratified_sample

    d = t(spark, sf_dir, "documents").select("doc_id", "lang")
    return stratified_sample(
        d, "lang", _Q85_RATES_BP, key_col="doc_id", seed=_Q85_SEED
    )


_Q85_CASE = " ".join(
    f"WHEN '{k}' THEN {v}" for k, v in _Q85_RATES_BP.items()
)

_Q85_SQL = f"""
SELECT doc_id, lang
FROM documents
WHERE ('0x' || substr(md5('{_Q85_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
      % 10000
      < CASE lang {_Q85_CASE} ELSE 0 END
"""

QUERIES["q85_stratified_sample"] = (q85_stratified_sample, _Q85_SQL)


# --------------------------------------------------------------------- q86
# Token-budget sequence packing: hash-bucketed window cumsum →
# seq_id = floor(cum_before / max_tokens). The gate aggregates per
# (bucket, seq): doc count + token sum — the full assignment is what
# the oracle recomputes (same md5 bucket, same cumsum), so any drift in
# ordering, bucketing, or token counting hash-mismatches.

_Q86_MAX_TOKENS = 200
_Q86_BUCKETS = 8


def q86_pack_documents(spark, sf_dir):
    from pyspark.sql import functions as F

    from htrtf_spark.operators.sampling import pack_documents

    d = t(spark, sf_dir, "documents")
    packed = pack_documents(
        d, "doc_id", "text", max_tokens=_Q86_MAX_TOKENS,
        n_buckets=_Q86_BUCKETS,
    )
    return (
        packed.groupBy("bucket", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("id").alias("first_doc"),
        )
    )


_Q86_SQL = f"""
WITH d AS (
  SELECT doc_id AS id,
         len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
         CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % {_Q86_BUCKETS} + {_Q86_BUCKETS}) % {_Q86_BUCKETS} AS INTEGER)
             AS bucket
  FROM documents
),
c AS (
  SELECT bucket, id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
             PARTITION BY bucket ORDER BY id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cum_before
  FROM d
)
SELECT bucket,
       CAST(FLOOR(cum_before / {_Q86_MAX_TOKENS}) AS INTEGER) AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       MIN(id) AS first_doc
FROM c
GROUP BY 1, 2
"""

QUERIES["q86_pack_documents"] = (q86_pack_documents, _Q86_SQL)


# --------------------------------------------------------------------- q89
# Packing budgeted in REAL BPE tokens (round 4): pack_documents with
# token_expr = operators/bpe.bpe_token_count — the sequence assignment
# cumsum runs over merge-table BPE counts, i.e. what a real trainer
# sees, not whitespace tokens. The oracle recomputes BOTH layers: the
# inlined-merges BPE count per document AND the bucketed cumsum
# assignment, so drift in either hash-mismatches.

_Q89_MAX_TOKENS = 256
_Q89_BUCKETS = 8


def q89_pack_documents_bpe(spark, sf_dir):
    from pyspark.sql import functions as F

    from htrtf_spark.operators.bpe import bpe_token_count
    from htrtf_spark.operators.sampling import pack_documents

    d = t(spark, sf_dir, "documents")
    packed = pack_documents(
        d, "doc_id", "text", max_tokens=_Q89_MAX_TOKENS,
        n_buckets=_Q89_BUCKETS, token_expr=bpe_token_count("text"),
    )
    return (
        packed.groupBy("bucket", "seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.min("id").alias("first_doc"),
        )
    )


def _q89_sql() -> str:
    from htrtf_spark.operators import bpe

    sep = bpe.SEP
    enc = bpe.merges_sql("w")
    return f"""
WITH d AS (
  SELECT doc_id AS id,
         COALESCE(list_sum(list_transform(
             list_filter(regexp_split_to_array(replace(text, '{sep}', ''), '\\s+'),
                         x -> x <> ''),
             w -> len(string_split({enc}, '{sep}{sep}')))), 0) AS n_tokens,
         CAST((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
               % {_Q89_BUCKETS} + {_Q89_BUCKETS}) % {_Q89_BUCKETS} AS INTEGER)
             AS bucket
  FROM documents
),
c AS (
  SELECT bucket, id, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
             PARTITION BY bucket ORDER BY id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS cum_before
  FROM d
)
SELECT bucket,
       CAST(FLOOR(cum_before / {_Q89_MAX_TOKENS}) AS INTEGER) AS seq_id,
       COUNT(*) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
       MIN(id) AS first_doc
FROM c
GROUP BY 1, 2
"""


QUERIES["q89_pack_documents_bpe"] = (q89_pack_documents_bpe, _q89_sql())


# --------------------------------------------------------------------- q100
# Temperature-based mixture sampling — the data-dependent mixture
# primitive (w_s = n_s^tau renormalized to a document budget; tau<1
# upweights small sources, the multinomial temperature scheme of
# multilingual pre-training). Unlike q85 the rate table is COMPUTED
# from the corpus, so the oracle re-derives it: same integer-quantized
# micro-weights, same integer target, same single double division —
# then recomputes the exact md5-bucket member set.

_Q100_TAU = 0.5
_Q100_TF_BP = 5000
_Q100_SEED = 7


def q100_temperature_mixture(spark, sf_dir):
    from htrtf_spark.operators.sampling import temperature_mixture_sample

    d = t(spark, sf_dir, "documents").select("doc_id", "source")
    return temperature_mixture_sample(
        d,
        "source",
        "doc_id",
        tau=_Q100_TAU,
        target_frac_bp=_Q100_TF_BP,
        seed=_Q100_SEED,
    )


_Q100_SQL = f"""
WITH counts AS (
  SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
),
tot AS (
  SELECT SUM(n_s) AS n_total,
         SUM(CAST(FLOOR(POWER(CAST(n_s AS DOUBLE), {_Q100_TAU}) * 1000000)
             AS BIGINT)) AS w_total
  FROM counts
),
rates AS (
  SELECT source,
         CAST(LEAST(10000, CAST(FLOOR(
           CAST((n_total * {_Q100_TF_BP} // 10000)
                * CAST(FLOOR(POWER(CAST(n_s AS DOUBLE), {_Q100_TAU}) * 1000000)
                  AS BIGINT) AS DOUBLE)
           / CAST(w_total * n_s AS DOUBLE) * 10000.0) AS BIGINT))
         AS BIGINT) AS rate_bp
  FROM counts, tot
)
SELECT d.doc_id AS key, d.source, r.rate_bp
FROM documents d JOIN rates r USING (source)
WHERE ('0x' || substr(md5('{_Q100_SEED}:' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
      % 10000 < r.rate_bp
"""

QUERIES["q100_temperature_mixture"] = (q100_temperature_mixture, _Q100_SQL)
