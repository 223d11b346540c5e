"""Text-analysis operator family over the ``documents`` table: charset
cleanup, token stats, quality scoring, language-ID heuristic, document
fingerprinting (the training-data-pipeline ops; also the SQL-expressible
half of the extraction semantics — charset projection P3 + whitespace
canonicalization F4/F5 of SURVEY.md §2). Each gate runs the
operators/textstats.py primitive its DuckDB SQL restates."""

from __future__ import annotations

from pyspark.sql import functions as F

from htrtf_spark.operators import textstats as TS
from htrtf_spark.queries.util import clean_sql, bp, t

# --------------------------------------------------------------------- q18


def q18_charset_clean(spark, sf_dir):
    """Charset projection + whitespace canonicalization, JVM-side
    (codegen'd regexp_replace — no Python)."""
    d = t(spark, sf_dir, "documents")
    clean = TS.clean_text("text")
    return d.select("doc_id", clean.alias("clean_text"), F.length(clean).alias("n_chars_clean"))


_Q18_SQL = f"""
SELECT doc_id,
       {clean_sql('text')} AS clean_text,
       length({clean_sql('text')}) AS n_chars_clean
FROM documents
"""

# --------------------------------------------------------------------- q19


def q19_token_stats(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    toks = TS.tokens("text")
    return d.select(
        "doc_id",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct_tokens"),
        F.length("text").alias("n_chars"),
    )


_Q19_SQL = """
SELECT doc_id,
       len(list_filter(string_split(text, ' '), x -> x <> '')) AS n_tokens,
       len(list_distinct(list_filter(string_split(text, ' '), x -> x <> '')))
           AS n_distinct_tokens,
       length(text) AS n_chars
FROM documents
"""

# --------------------------------------------------------------------- q20
# Quality scoring: stopword ratio + type-token ratio in basis points.


def q20_quality_score(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    ex = d.select("doc_id", F.explode(TS.tokens("text")).alias("word"))
    stop = F.sum(F.col("word").isin(*TS.STOPWORDS).cast("long"))
    return (
        ex.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            stop.alias("n_stop"),
            F.countDistinct("word").alias("n_types"),
        )
        .select(
            "doc_id",
            "n_tokens",
            "n_stop",
            bp(F.col("n_stop"), F.col("n_tokens")).alias("stop_ratio_bp"),
            bp(F.col("n_types"), F.col("n_tokens")).alias("ttr_bp"),
        )
    )


_q20_stoplist = ", ".join(f"'{w}'" for w in TS.STOPWORDS)
_Q20_SQL = f"""
WITH ex AS (
  SELECT doc_id, unnest(list_filter(string_split(text, ' '), x -> x <> '')) AS word
  FROM documents
), agg AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         SUM(CASE WHEN word IN ({_q20_stoplist}) THEN 1 ELSE 0 END) AS n_stop,
         COUNT(DISTINCT word) AS n_types
  FROM ex GROUP BY doc_id
)
SELECT doc_id, n_tokens, CAST(n_stop AS BIGINT) AS n_stop,
       CAST(ROUND(10000.0 * n_stop / n_tokens) AS BIGINT) AS stop_ratio_bp,
       CAST(ROUND(10000.0 * n_types / n_tokens) AS BIGINT) AS ttr_bp
FROM agg
"""

# --------------------------------------------------------------------- q21
# Language-ID heuristic: marker-token scoring (deterministic n-gram-ish
# heuristic; the value is the *operator*, not linguistic accuracy).


def q21_langid(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", "lang", TS.langid_pred("text").alias("lang_pred"))


_Q21_SQL = """
SELECT doc_id, lang,
       CASE WHEN contains(' ' || text || ' ', ' the ')
              OR contains(' ' || text || ' ', ' a ')   THEN 'en'
            WHEN contains(' ' || text || ' ', ' der ')
              OR contains(' ' || text || ' ', ' und ') THEN 'de'
            WHEN contains(' ' || text || ' ', ' le ')
              OR contains(' ' || text || ' ', ' et ')  THEN 'fr'
            ELSE 'unknown' END AS lang_pred
FROM documents
"""

# --------------------------------------------------------------------- q22
# Document fingerprint: md5 over the canonical text (the dedup key; the
# charset-checksum analog of utils.py:246-260).


def q22_fingerprint(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return d.select("doc_id", TS.fingerprint("text").alias("fingerprint"))


_Q22_SQL = f"""
SELECT doc_id,
       md5({clean_sql('text')}) AS fingerprint
FROM documents
"""

# --------------------------------------------------------------------- q23
# Distinct vocabulary (A1, the charset-build aggregation
# create_IAM_lines_dataset.py:68-103 — at word granularity).


def q23_distinct_vocab(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(TS.tokens("text")).alias("word"))
        .distinct()
        .orderBy("word")
    )


_Q23_SQL = """
SELECT DISTINCT word FROM (
  SELECT unnest(string_split(text, ' ')) AS word FROM documents
) WHERE word <> '' ORDER BY word
"""


QUERIES = {
    "q18_charset_clean": (q18_charset_clean, _Q18_SQL),
    "q19_token_stats": (q19_token_stats, _Q19_SQL),
    "q20_quality_score": (q20_quality_score, _Q20_SQL),
    "q21_langid": (q21_langid, _Q21_SQL),
    "q22_fingerprint": (q22_fingerprint, _Q22_SQL),
    "q23_distinct_vocab": (q23_distinct_vocab, _Q23_SQL),
}
