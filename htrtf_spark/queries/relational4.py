"""Semantic-corner gate queries: approximate percentile sanity (the
t-digest/KLL estimate must bracket the exact value — q47's pattern for
quantiles) and NULL semantics (null-safe equality, NULL grouping,
coalesce/nullif chains — the corners that silently diverge between
engines if mishandled).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from htrtf_spark.queries.util import t

# --------------------------------------------------------------------- q60
# Approx p90 must land within 5% of exact p90 (per priority). The approx
# value itself is engine/sketch-specific, so each engine checks the
# invariant against its own exact percentile; the comparable outputs are
# the exact value and the verdict.


def q60_approx_percentile_sanity(spark, sf_dir):
    o = t(spark, sf_dir, "orders").withColumn(
        "c", F.round(F.col("o_totalprice") * 100).cast("long")
    )
    exact = F.expr("CAST(ROUND(percentile(c, 0.9)) AS BIGINT)")
    approx = F.expr("approx_percentile(c, 0.9, 1000)")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            exact.alias("p90_c"),
            (F.abs(approx - exact) * F.lit(100) <= exact * F.lit(5)).alias(
                "approx_within_5pct"
            ),
        )
        .orderBy("o_orderpriority")
    )


_Q60_SQL = """
WITH o AS (SELECT o_orderpriority,
                  CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
           FROM orders)
SELECT o_orderpriority,
       CAST(ROUND(quantile_cont(c, 0.9)) AS BIGINT) AS p90_c,
       abs(approx_quantile(c, 0.9) - CAST(ROUND(quantile_cont(c, 0.9)) AS BIGINT))
           * 100 <= CAST(ROUND(quantile_cont(c, 0.9)) AS BIGINT) * 5
           AS approx_within_5pct
FROM o GROUP BY o_orderpriority ORDER BY o_orderpriority
"""

# --------------------------------------------------------------------- q61
# NULL semantics in one query: NULLIF-derived nullable key, GROUP BY
# with a NULL group, null-safe equality (<=> / IS NOT DISTINCT FROM),
# and a COALESCE fill — byte-compared across engines.


def q61_null_semantics(spark, sf_dir):
    e = t(spark, sf_dir, "events")
    et = F.nullif(F.col("event_type"), F.lit("click"))
    return (
        e.select(
            et.alias("et"),
            et.eqNullSafe(F.lit(None).cast("string")).cast("long").alias("is_null_nse"),
        )
        .groupBy(F.coalesce(F.col("et"), F.lit("<none>")).alias("et_filled"))
        .agg(
            F.count("*").alias("n"),
            F.sum("is_null_nse").alias("n_null_safe_eq_null"),
        )
        .orderBy("et_filled")
    )


_Q61_SQL = """
WITH x AS (
  SELECT NULLIF(event_type, 'click') AS et,
         CAST(NULLIF(event_type, 'click') IS NOT DISTINCT FROM NULL AS BIGINT)
             AS is_null_nse
  FROM events
)
SELECT COALESCE(et, '<none>') AS et_filled,
       COUNT(*) AS n,
       CAST(SUM(is_null_nse) AS BIGINT) AS n_null_safe_eq_null
FROM x GROUP BY COALESCE(et, '<none>') ORDER BY et_filled
"""


# --------------------------------------------------------------------- q64
# Corpus-level absolute CER — the reference's headline evaluation number
# (EDabs = sum(edit_distance)/total_chars,
# /root/reference/Projects/IAM_lines/Structure_006/Structure_006.py:153-159)
# computed between each document and its charset-cleaned form: exact
# integer basis points from SUM(levenshtein)/SUM(len), per engine.


def q64_corpus_cer(spark, sf_dir):
    from htrtf_spark.operators.textstats import clean_text

    d = t(spark, sf_dir, "documents")
    clean = clean_text("text")
    # DuckDB levenshtein counts BYTES while Spark counts CHARACTERS, so
    # the distance is computed on an ASCII-folded form (every non-ASCII
    # char -> '?') where bytes == chars in both engines.
    fold = lambda c: F.regexp_replace(c, r"[^\x01-\x7F]", "?")  # noqa: E731
    lev = F.levenshtein(fold(F.col("text")), fold(clean))
    return d.agg(
        F.count("*").alias("n_docs"),
        F.sum(lev).cast("long").alias("total_edits"),
        F.sum(F.length("text")).cast("long").alias("total_chars"),
        F.round(F.sum(lev) * 10000.0 / F.sum(F.length("text")))
        .cast("long")
        .alias("cer_abs_bp"),
    )


def _q64_sql() -> str:
    from htrtf_spark.queries.util import clean_sql

    clean = clean_sql("text")
    fold_t = "regexp_replace(text, '[^\\x01-\\x7F]', '?', 'g')"
    fold_c = f"regexp_replace({clean}, '[^\\x01-\\x7F]', '?', 'g')"
    return f"""
SELECT COUNT(*) AS n_docs,
       CAST(SUM(levenshtein({fold_t}, {fold_c})) AS BIGINT) AS total_edits,
       CAST(SUM(length(text)) AS BIGINT) AS total_chars,
       CAST(ROUND(SUM(levenshtein({fold_t}, {fold_c})) * 10000.0
                  / SUM(length(text))) AS BIGINT) AS cer_abs_bp
FROM documents
"""


# --------------------------------------------------------------------- q65
# Text-density boilerplate heuristic (the north star's companion to link
# density): tag-stripped content length / raw length, bucketed. Run over
# a synthetic markup-wrapped view of documents so the heuristic actually
# discriminates (raw documents are markup-free → density 10000).


def q65_text_density(spark, sf_dir):
    from htrtf_spark.operators.textstats import text_density_bp

    d = t(spark, sf_dir, "documents")
    wrapped = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit("<nav><a href='/'>home</a></nav><p>"), F.col("text"), F.lit("</p>")),
    ).otherwise(F.col("text"))
    density = text_density_bp(wrapped)
    bucket = F.floor(density / 1000).cast("int")  # explicit floor: DuckDB CAST(double AS INT) rounds, Spark truncates
    return (
        d.select(bucket.alias("density_decile"))
        .groupBy("density_decile")
        .agg(F.count("*").alias("n"))
        .orderBy("density_decile")
    )


def _q65_sql() -> str:
    from htrtf_spark import charset as cs
    from htrtf_spark.queries.util import WS_RUN_SQL

    tag = cs.TAG_STRIP_PATTERN.replace("'", "''")
    wrapped = (
        "CASE WHEN doc_id % 3 = 0 THEN "
        "'<nav><a href=''/''>home</a></nav><p>' || text || '</p>' "
        "ELSE text END"
    )
    stripped = (
        f"trim(regexp_replace(regexp_replace({wrapped}, '{tag}', ' ', 'g'), "
        f"'{WS_RUN_SQL}', ' ', 'g'))"
    )
    return f"""
WITH w AS (
  SELECT CASE WHEN length({wrapped}) > 0
              THEN CAST(ROUND(length({stripped}) * 10000.0
                              / length({wrapped})) AS BIGINT)
         END AS density_bp
  FROM documents
)
SELECT CAST(FLOOR(density_bp / 1000.0) AS INTEGER) AS density_decile, COUNT(*) AS n
FROM w GROUP BY 1 ORDER BY 1
"""


QUERIES = {
    "q60_approx_percentile_sanity": (q60_approx_percentile_sanity, _Q60_SQL),
    "q61_null_semantics": (q61_null_semantics, _Q61_SQL),
    "q64_corpus_cer": (q64_corpus_cer, _q64_sql()),
    "q65_text_density": (q65_text_density, _q65_sql()),
}
