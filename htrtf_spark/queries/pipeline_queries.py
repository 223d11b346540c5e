"""Pipeline-level gate queries: the salted two-phase aggregation, the
stable-ordering window, and keyword spotting — each cross-checked against
a pure-SQL restatement, so the driver verifies the *plan patterns* (not
just scalar semantics) of the flagship pipeline.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from htrtf_spark import charset as cs
from htrtf_spark.operators.textstats import tokens
from htrtf_spark.plans.pipeline import conversation_stats, extract_turns, ordered_extract
from htrtf_spark.queries.util import t
from htrtf_spark.sources.transcripts import events_as_transcripts

from htrtf_spark.queries.util import clean_sql

# The events→transcripts reshape + plain-mode extraction, as a reusable
# DuckDB CTE (mirrors sources.transcripts.events_as_transcripts +
# the extraction stage for plain-mode text).
_EXTRACTED_CTE = f"""
tr AS (
  SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
              AS INTEGER) AS turn_idx,
         ['user','assistant','system','tool'][CAST(((event_id % 4) + 4) % 4 AS INTEGER) + 1]
             AS role,
         concat_ws(' ', event_type, 'value', CAST(value AS VARCHAR), props) AS text
  FROM events
), extracted AS (
  SELECT conv_id, turn_idx, role,
         {clean_sql("text")} AS extracted_text,
         CAST(length({clean_sql("text")}) AS INTEGER) AS n_chars,
         CASE WHEN {clean_sql("text")} = ''
              THEN 'empty_after_clean' END AS reject_reason
  FROM tr
)
"""

# --------------------------------------------------------------------- q48
# Keyword spotting (the reference's keyword sets define a query
# vocabulary: /root/reference/Projects/Washington/Sets/cv1/keywords.txt).

_KEYWORDS = ["spark", "window", "vector", "shuffle"]


def q48_keyword_spotting(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    kw = spark.createDataFrame([(k,) for k in _KEYWORDS], "word string")
    words = d.select("doc_id", F.explode(tokens("text")).alias("word"))
    return (
        words.join(F.broadcast(kw), "word")
        .groupBy("doc_id", "word")
        .agg(F.count("*").alias("n_hits"))
    )


_q48_list = ", ".join(f"'{k}'" for k in _KEYWORDS)
_Q48_SQL = f"""
SELECT doc_id, word, COUNT(*) AS n_hits FROM (
  SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents
) WHERE word IN ({_q48_list})
GROUP BY doc_id, word
"""

# --------------------------------------------------------------------- q49
# Two-phase salted per-conversation rollup == plain GROUP BY (the salting
# must be semantically invisible — this is the gate check for it).


def q49_conversation_stats_salted(spark, sf_dir):
    tr = events_as_transcripts(spark, sf_dir)
    ex = extract_turns(tr)
    return conversation_stats(ex).orderBy("conv_id")


_Q49_SQL = f"""
WITH {_EXTRACTED_CTE}
SELECT conv_id, COUNT(*) AS n_turns,
       CAST(SUM(COALESCE(n_chars, 0)) AS BIGINT) AS total_chars,
       CAST(SUM(CASE WHEN reject_reason IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_rejected
FROM extracted GROUP BY conv_id ORDER BY conv_id
"""

# --------------------------------------------------------------------- q50
# Stable (conv_id, turn_idx) ordering via window rank — the north rule's
# ordering requirement exposed to the driver gate.


def q50_ordered_extract(spark, sf_dir):
    tr = events_as_transcripts(spark, sf_dir)
    return ordered_extract(tr).select(
        "conv_id", "turn_idx", "rn", "extracted_text"
    )


_Q50_SQL = f"""
WITH {_EXTRACTED_CTE}
SELECT conv_id, turn_idx,
       CAST(ROW_NUMBER() OVER (PARTITION BY conv_id
                               ORDER BY turn_idx, role,
                                        md5(COALESCE(extracted_text, '')))
            AS INTEGER) AS rn,
       extracted_text
FROM extracted
"""


# --------------------------------------------------------------------- q62
# Per-conversation training-document assembly: extracted turns joined in
# turn order (the pipeline's downstream output shape).


def q62_conversation_documents(spark, sf_dir):
    from htrtf_spark.plans.pipeline import conversation_documents

    tr = events_as_transcripts(spark, sf_dir)
    return conversation_documents(extract_turns(tr))


_Q62_SQL = f"""
WITH {_EXTRACTED_CTE}
SELECT conv_id,
       string_agg(extracted_text, ' ' ORDER BY turn_idx) AS doc_text,
       COUNT(*) AS n_turns
FROM extracted GROUP BY conv_id
"""


# --------------------------------------------------------------------- q98
# Whale-document cap (VERDICT r4 #7): document assembly with a
# deterministic prefix cap — at most MAX_TURNS turns, stopping before
# the turn at which the running char total has already reached
# MAX_DOC_CHARS — applied BEFORE the collect so per-task memory is
# bounded by the cap, not by the largest conversation. n_turns stays
# the TOTAL turn count so truncation is observable (provenance rule).

_Q98_MAX_TURNS = 6
_Q98_MAX_CHARS = 300


def q98_conversation_documents_capped(spark, sf_dir):
    from htrtf_spark.plans.pipeline import conversation_documents

    tr = events_as_transcripts(spark, sf_dir)
    return conversation_documents(
        extract_turns(tr),
        max_turns=_Q98_MAX_TURNS,
        max_doc_chars=_Q98_MAX_CHARS,
    )


_Q98_SQL = f"""
WITH {_EXTRACTED_CTE},
r AS (
  SELECT conv_id, turn_idx, extracted_text,
         CAST(ROW_NUMBER() OVER w AS BIGINT) AS rn,
         SUM(COALESCE(LENGTH(extracted_text), 0))
           OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - COALESCE(LENGTH(extracted_text), 0) AS chars_before
  FROM extracted
  WINDOW w AS (PARTITION BY conv_id
               ORDER BY turn_idx, COALESCE(extracted_text, ''))
), flagged AS (
  SELECT *,
         (rn <= {_Q98_MAX_TURNS} AND chars_before < {_Q98_MAX_CHARS}) AS keep
  FROM r
)
SELECT conv_id,
       string_agg(CASE WHEN keep THEN extracted_text END, ' '
                  ORDER BY turn_idx, COALESCE(extracted_text, ''))
         AS doc_text,
       MAX(rn) AS n_turns,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_turns_kept,
       CAST(SUM(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) < MAX(rn)
         AS truncated
FROM flagged GROUP BY conv_id
"""


QUERIES = {
    "q48_keyword_spotting": (q48_keyword_spotting, _Q48_SQL),
    "q49_conversation_stats_salted": (q49_conversation_stats_salted, _Q49_SQL),
    "q50_ordered_extract": (q50_ordered_extract, _Q50_SQL),
    "q62_conversation_documents": (q62_conversation_documents, _Q62_SQL),
    "q98_conversation_documents_capped": (
        q98_conversation_documents_capped,
        _Q98_SQL,
    ),
}
