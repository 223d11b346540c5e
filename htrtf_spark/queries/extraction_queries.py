"""Driver-gate queries that exercise the actual extraction engine — the
Arrow stages themselves — cross-checked against DuckDB SQL that
re-states the spec independently. This is the strongest correctness
evidence: the vectorized Python stage must agree with a pure-SQL
restatement of the same semantics on real parquet inputs.

(The full multi-mode pipeline on synthetic transcripts is additionally
byte-exact-tested against the pure-Python oracle in tests/; here the
rows-only entries expose it to the driver too.)
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from htrtf_spark import charset as cs
from htrtf_spark.operators.ctc import (
    CTC_DECODED_DDL,
    beam_decode_map_in_arrow,
    roundtrip_map_in_arrow,
)
from htrtf_spark.plans.pipeline import extract_turns, extraction_metrics
from htrtf_spark.queries.util import t
from htrtf_spark.sources.transcripts import events_as_transcripts

from htrtf_spark.queries.util import NEG_SQL as _NEG_SQL
from htrtf_spark.queries.util import clean_sql


# --------------------------------------------------------------------- q31
# The vectorized extraction stage over documents (all plain-mode texts),
# oracle = SQL restatement of charset projection + whitespace canon.


def q31_extract_documents(spark, sf_dir):
    d = t(spark, sf_dir, "documents")
    pseudo = d.select(
        F.concat(F.lit("doc-"), F.lpad(F.col("doc_id").cast("string"), 8, "0")).alias(
            "conv_id"
        ),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
    )
    return extract_turns(pseudo, check_schema=False)


_Q31_SQL = f"""
SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS conv_id,
       CAST(0 AS INTEGER) AS turn_idx,
       'user' AS role,
       'plain' AS mode,
       {clean_sql("text")} AS extracted_text,
       CAST(length({clean_sql("text")}) AS INTEGER) AS n_chars,
       CASE WHEN {clean_sql("text")} = ''
            THEN 'empty_after_clean' END AS reject_reason
FROM documents
"""

# --------------------------------------------------------------------- q32
# Full flagship path on driver data: events → transcripts shape (window
# ordering) → extraction stage; oracle restates BOTH the reshape and the
# plain-mode extraction in SQL.


def q32_extract_events(spark, sf_dir):
    return extract_turns(
        events_as_transcripts(spark, sf_dir), num_partitions=None, check_schema=True
    )


_Q32_SQL = f"""
WITH tr AS (
  SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
              AS INTEGER) AS turn_idx,
         ['user','assistant','system','tool'][CAST(((event_id % 4) + 4) % 4 AS INTEGER) + 1]
             AS role,
         concat_ws(' ', event_type, 'value', CAST(value AS VARCHAR), props) AS text
  FROM events
)
SELECT conv_id, turn_idx, role, 'plain' AS mode,
       {clean_sql("text")} AS extracted_text,
       CAST(length({clean_sql("text")}) AS INTEGER) AS n_chars,
       CASE WHEN {clean_sql("text")} = ''
            THEN 'empty_after_clean' END AS reject_reason
FROM tr
"""

# --------------------------------------------------------------------- q67
# The Iceberg input contract (BASELINE.json input_hint): the transcripts
# table is committed as an Iceberg v2 table (HadoopCatalog layout, Avro
# manifests — htrtf_spark.sources.iceberg) and read back through the
# snapshot-isolated manifest path before extraction. The oracle is the
# same SQL as q32, so a hash match proves the Iceberg roundtrip is
# byte-invisible to the pipeline.


def q67_iceberg_extract(spark, sf_dir):
    import tempfile

    from htrtf_spark.sources.iceberg import write_iceberg_table
    from htrtf_spark.sources.transcripts import read_transcripts_iceberg

    loc = os.path.join(
        tempfile.mkdtemp(prefix="htrtf_iceberg_gate_"), "transcripts"
    )
    write_iceberg_table(events_as_transcripts(spark, sf_dir), loc)
    return extract_turns(
        read_transcripts_iceberg(spark, loc), num_partitions=None, check_schema=True
    )


# --------------------------------------------------------------------- q33
# CTC encode→greedy-decode roundtrip on documents: the decode operator's
# oracle is the charset-projection + separator-fold identity in pure SQL
# (whitespace AND the '|' word separator both decode to a single space —
# tasks.py:176-178 semantics).


def q33_ctc_roundtrip(spark, sf_dir):
    d = t(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInArrow(roundtrip_map_in_arrow, CTC_DECODED_DDL)


_Q33_SQL = f"""
SELECT doc_id,
       trim(regexp_replace(regexp_replace(text, '{_NEG_SQL}', '', 'g'),
                           '[	

                  　|]+', ' ', 'g')) AS decoded
FROM documents
"""

# --------------------------------------------------------------------- q66
# Distributed CTC PREFIX BEAM SEARCH through the gate (q33 covers the
# greedy path): per doc, a deterministic peaked [T,C] log-prob matrix is
# synthesized from the text (seeded noise bounded below the argmax gap),
# the real beam_decode runs inside mapInArrow, and the winner is exactly
# the canonical cleaned text — which the oracle restates in SQL (decode
# folds whitespace AND the '|' word separator to a single space,
# tasks.py:176-178 semantics). Beam search is O(T·beams·C) Python per
# doc, so the gate uses a 24-char snippet of every 10th document.

_BEAM_SNIP = 24


def q66_beam_decode(spark, sf_dir):
    d = (
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", F.substring("text", 1, _BEAM_SNIP).alias("text"))
    )
    return d.mapInArrow(beam_decode_map_in_arrow, CTC_DECODED_DDL)


_WS_PIPE_SQL = cs.WS_RUN_PATTERN.replace("]+", "|]+").replace("'", "''")

_Q66_SQL = f"""
SELECT doc_id,
       trim(regexp_replace(
              regexp_replace(substr(text, 1, {_BEAM_SNIP}), '{_NEG_SQL}', '', 'g'),
              '{_WS_PIPE_SQL}', ' ', 'g')) AS decoded
FROM documents
WHERE doc_id % 10 = 0
"""

# --------------------------------------------------------------------- q34
# Full multi-mode pipeline on deterministic synthetic transcripts —
# genuinely non-SQL-expressible (DOM/CTC/stream modes) → rows-only for the
# driver; byte-exact vs the Python oracle in tests/test_pipeline.py.


# --------------------------------------------------------------------- q35
# Lineage metrics over the synthetic extraction (audit counters).


# --------------------------------------------------------------------- q59
# The registered SQL-function surface (htrtf_extract_text) must agree
# with the same DuckDB restatement — proves the spark.sql API path, not
# just the mapInArrow path.


def q59_sql_function_extract(spark, sf_dir):
    from htrtf_spark.functions import register_sql_functions

    register_sql_functions(spark)
    t(spark, sf_dir, "documents").createOrReplaceTempView("q59_docs")
    return spark.sql(
        "SELECT doc_id, htrtf_extract_text(text) AS extracted_text FROM q59_docs"
    )


_Q59_SQL = f"""
SELECT doc_id, {clean_sql("text")} AS extracted_text
FROM documents
"""


QUERIES = {
    "q31_extract_documents": (q31_extract_documents, _Q31_SQL),
    "q59_sql_function_extract": (q59_sql_function_extract, _Q59_SQL),
    "q32_extract_events": (q32_extract_events, _Q32_SQL),
    "q67_iceberg_extract": (q67_iceberg_extract, _Q32_SQL),
    "q33_ctc_roundtrip": (q33_ctc_roundtrip, _Q33_SQL),
    "q66_beam_decode": (q66_beam_decode, _Q66_SQL),
}


# ------------------------------------------------------- q34/q35 oracles
# THE FULL MULTI-MODE SPEC IN SQL: round 1 left q34/q35 rows-only
# ("genuinely non-SQL-expressible"); this restates every mode in DuckDB
# — CTC merge-repeats via an index lambda, DOM line classification via
# list comprehensions, IAM/Washington stream decodes, the mode
# classifier — with charset's RE2 spellings wherever RE2 would read a
# Python pattern differently (\b, (?i)). The synth
# input is deterministic, so the query fn materializes it to a FIXED
# parquet path the oracle reads directly (the driver registers only the
# ten testdata views; DuckDB can read any path literal).

_Q34_INPUT = "/tmp/htrtf_q34_synth_input.parquet"


def _sql_q(s: str) -> str:
    return s.replace("'", "''")


def _ws_class() -> str:
    # regex char class body for the exact isspace set (no escaping
    # needed: none of the WS codepoints are regex metachars)
    return cs.WS_CHARS


def _extract_sql_cte() -> str:
    """CTE chain turning the raw transcript parquet into the extracted
    table — the SQL twin of oracle.extract_turn, mode by mode."""
    ws = _sql_q(_ws_class())
    tag_detect = _sql_q(cs.TAG_DETECT_PATTERN)
    boiler = _sql_q(cs.BOILERPLATE_RE2)
    anchor = _sql_q(cs.ANCHOR_SPAN_RE2)
    tag_strip = _sql_q(cs.TAG_STRIP_PATTERN)
    wash = _sql_q(cs.WASH_STREAM_PATTERN)
    iam = _sql_q(cs.IAM_STREAM_PATTERN)
    marker = _sql_q(cs.CTC_MARKER)
    mlen = len(cs.CTC_MARKER)
    blank = cs.BLANK_CHAR
    sep = cs.WORD_SEP

    return f"""
inp AS (
  SELECT conv_id, turn_idx, role, text
  FROM '{_Q34_INPUT}/*.parquet'
),
st AS (
  SELECT *, trim(text, '{ws}') AS s FROM inp
),
modes AS (
  SELECT *,
    CASE
      WHEN text IS NULL THEN '{cs.MODE_NULL}'
      WHEN s = '' THEN '{cs.MODE_EMPTY}'
      WHEN starts_with(s, '{marker}') THEN '{cs.MODE_CTC}'
      WHEN regexp_matches(s, '{tag_detect}') THEN '{cs.MODE_DOM}'
      WHEN regexp_matches(s, '{iam}') THEN '{cs.MODE_IAM}'
      WHEN regexp_matches(s, '{wash}') THEN '{cs.MODE_WASH}'
      ELSE '{cs.MODE_PLAIN}'
    END AS mode
  FROM st
),
raw AS (
  SELECT conv_id, turn_idx, role, mode,
    CASE mode
      WHEN '{cs.MODE_CTC}' THEN (
        SELECT COALESCE(array_to_string(
          list_transform(
            list_filter(
              list_filter(chars, (x, i) -> i = 1 OR chars[i-1] <> x),
              x -> x <> '{blank}'),
            x -> CASE WHEN x = '{sep}' THEN ' ' ELSE x END), ''), '')
        FROM (SELECT string_split(substr(s, {mlen + 1}), '') AS chars)
      )
      WHEN '{cs.MODE_DOM}' THEN (
        SELECT COALESCE(array_to_string(
          [regexp_replace(l, '{tag_strip}', ' ', 'g')
           for l in lines
           if len(l) > 0
              AND NOT regexp_matches(l, '{boiler}')
              AND 2 * (len(l) - len(regexp_replace(l, '{anchor}', '', 'g')))
                  <= len(l)
              AND trim(regexp_replace(l, '{tag_strip}', ' ', 'g'), '{ws}')
                  <> ''], ' '), '')
        FROM (SELECT string_split(s, chr(10)) AS lines)
      )
      WHEN '{cs.MODE_IAM}' THEN COALESCE(array_to_string(
        list_filter(string_split(s, '{sep}'), x -> x <> ''), ' '), '')
      WHEN '{cs.MODE_WASH}' THEN (
        SELECT COALESCE(array_to_string(
          list_transform(
            list_filter(chars, (x, i) -> i % 2 = 1),
            x -> CASE WHEN x = '{sep}' THEN ' ' ELSE x END), ''), '')
        FROM (SELECT string_split(s, '') AS chars)
      )
      WHEN '{cs.MODE_PLAIN}' THEN s
      ELSE NULL
    END AS rawtext
  FROM modes
),
fin AS (
  SELECT conv_id, turn_idx, role, mode,
    CASE
      WHEN mode = '{cs.MODE_NULL}' THEN NULL
      WHEN mode = '{cs.MODE_EMPTY}' THEN ''
      ELSE {clean_sql("rawtext")}
    END AS extracted_text
  FROM raw
),
extracted AS (
  SELECT conv_id, turn_idx, role, mode, extracted_text,
    CAST(length(extracted_text) AS INTEGER) AS n_chars,
    CASE
      WHEN mode = '{cs.MODE_NULL}' THEN '{cs.REJECT_NULL}'
      WHEN extracted_text = '' THEN '{cs.REJECT_EMPTY}'
    END AS reject_reason
  FROM fin
)"""


def _q34_write_input(spark):
    from htrtf_spark.synth import synth_spark

    tr = synth_spark(spark, n_convs=300, seed=42, partitions=16)
    tr.select("conv_id", "turn_idx", "role", "text").write.mode(
        "overwrite"
    ).parquet(_Q34_INPUT)
    return tr


def q34_extract_synthetic_v2(spark, sf_dir):
    tr = _q34_write_input(spark)
    return extract_turns(tr, check_schema=False)


_Q34_SQL = f"""
WITH {_extract_sql_cte()}
SELECT * FROM extracted
"""


def q35_extraction_metrics_v2(spark, sf_dir):
    tr = _q34_write_input(spark)
    ex = extract_turns(tr, check_schema=False)
    return extraction_metrics(ex).orderBy("mode")


_Q35_SQL = f"""
WITH {_extract_sql_cte()}
SELECT mode,
       COUNT(*) AS turns,
       CAST(SUM(CASE WHEN reject_reason IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS rejected,
       CAST(SUM(COALESCE(n_chars, 0)) AS BIGINT) AS total_chars
FROM extracted
GROUP BY mode
"""

QUERIES["q34_extract_synthetic"] = (q34_extract_synthetic_v2, _Q34_SQL)
QUERIES["q35_extraction_metrics"] = (q35_extraction_metrics_v2, _Q35_SQL)


# --------------------------------------------------------------------- q80
# Kept-content PROVENANCE SPANS through the gate (the north rule's
# "extracted text/spans" counterpart — spans were previously pytest-only).
# Over documents (plain mode, like q31) the span set is exactly one
# region: [lead, lead + len(strip)] with Python-strip whitespace
# semantics, restated in SQL with the explicit isspace class.


def q80_extract_spans(spark, sf_dir):
    from htrtf_spark.plans.pipeline import extract_turns_with_spans

    d = t(spark, sf_dir, "documents")
    pseudo = d.select(
        F.concat(F.lit("doc-"), F.lpad(F.col("doc_id").cast("string"), 8, "0")).alias(
            "conv_id"
        ),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.col("text"),
    )
    # spans are serialized to canonical comma-joined strings for the gate:
    # the driver canonicalizes results via pandas sort/factorize, which
    # cannot hash array cells (round-2 red row). The array-typed API
    # (extract_turns_with_spans) is unchanged — only the gate projection
    # flattens.
    return extract_turns_with_spans(pseudo, check_schema=False).select(
        "conv_id",
        "mode",
        "reject_reason",
        F.array_join(F.col("span_starts").cast("array<string>"), ",").alias(
            "span_starts"
        ),
        F.array_join(F.col("span_ends").cast("array<string>"), ",").alias(
            "span_ends"
        ),
    )


def _q80_sql() -> str:
    ws = cs.WS_CHARS.replace("'", "''")
    return f"""
WITH s AS (
  SELECT 'doc-' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS conv_id,
         text,
         length(text) - length(ltrim(text, '{ws}')) AS lead,
         length(trim(text, '{ws}')) AS core,
         {clean_sql("text")} AS clean
  FROM documents
)
SELECT conv_id,
       CASE WHEN core = 0 THEN 'empty' ELSE 'plain' END AS mode,
       CASE WHEN clean = '' THEN 'empty_after_clean' END AS reject_reason,
       CASE WHEN clean = '' THEN ''
            ELSE CAST(lead AS VARCHAR) END AS span_starts,
       CASE WHEN clean = '' THEN ''
            ELSE CAST(lead + core AS VARCHAR) END AS span_ends
FROM s
"""


QUERIES["q80_extract_spans"] = (q80_extract_spans, _q80_sql())


# --------------------------------------------------------------------- q81
# DOM-mode PROVENANCE SPANS through the gate — the hardest span path
# (extraction.py _dom_spans: per-line boilerplate / link-density / tag
# strip, multiple kept regions per turn). Inputs are deterministic
# HTML-ish multi-line turns built from documents (same construction both
# sides: substrings sanitized of '<'/'>' so the only markup is the
# scaffold's). The oracle is a GENERIC SQL restatement of the per-line
# keep rule — not closed-form positions for this construction — so it
# would catch any engine drift in classification, offsets, or decode.
# Scaffold lines per turn: 1 kept <div> line (2 leading ws → lead
# offset), 1 boilerplate <nav> (dropped), 1 empty line (dropped), 1 kept
# <p> line, 1 pure-anchor line (link-density 1 → dropped).


def _q81_build_text(text_col):
    part = lambda a, b: F.translate(F.substring(text_col, a, b), "<>", "")
    return F.concat(
        F.lit("  <div>"), part(1, 40), F.lit("</div>\n"),
        F.lit('<nav class="m">skip me</nav>\n\n'),
        F.lit("<p>"), part(41, 60), F.lit("</p> tail\n"),
        F.lit('<a href="#">'), part(5, 30), F.lit("</a>"),
    )


def q81_extract_dom_spans(spark, sf_dir):
    from htrtf_spark.plans.pipeline import extract_turns_with_spans

    d = t(spark, sf_dir, "documents")
    pseudo = d.select(
        F.concat(F.lit("dom-"), F.lpad(F.col("doc_id").cast("string"), 8, "0")).alias(
            "conv_id"
        ),
        F.lit(0).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        _q81_build_text(F.col("text")).alias("text"),
    )
    return extract_turns_with_spans(pseudo, check_schema=False).select(
        "conv_id",
        "mode",
        "extracted_text",
        "n_chars",
        "reject_reason",
        F.array_join(F.col("span_starts").cast("array<string>"), ",").alias(
            "span_starts"
        ),
        F.array_join(F.col("span_ends").cast("array<string>"), ",").alias(
            "span_ends"
        ),
    )


def _q81_sql() -> str:
    # quote-escape only: DuckDB string literals are standard SQL (no
    # backslash escapes), so regex escapes pass through verbatim.
    ws = cs.WS_CHARS.replace("'", "''")
    boiler = cs.BOILERPLATE_RE2.replace("'", "''")
    anchor = cs.ANCHOR_SPAN_RE2.replace("'", "''")
    tag_strip = cs.TAG_STRIP_PATTERN.replace("'", "''")
    tag_detect = cs.TAG_DETECT_PATTERN.replace("'", "''")
    return f"""
WITH src AS (
  SELECT 'dom-' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS conv_id,
         '  <div>' || translate(substr(text, 1, 40), '<>', '') || '</div>' || chr(10)
         || '<nav class="m">skip me</nav>' || chr(10) || chr(10)
         || '<p>' || translate(substr(text, 41, 60), '<>', '') || '</p> tail'
         || chr(10)
         || '<a href="#">' || translate(substr(text, 5, 30), '<>', '') || '</a>'
             AS text
  FROM documents
),
s AS (
  SELECT conv_id, text,
         length(text) - length(ltrim(text, '{ws}')) AS lead,
         trim(text, '{ws}') AS st,
         string_split(trim(text, '{ws}'), chr(10)) AS parts
  FROM src
),
expl AS (
  SELECT conv_id, lead, unnest(parts) AS line,
         generate_subscripts(parts, 1) AS i
  FROM s
),
lines AS (
  SELECT conv_id, lead, i, line,
         SUM(length(line) + 1)
             OVER (PARTITION BY conv_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - (length(line) + 1) AS pos
  FROM expl
),
judged AS (
  SELECT conv_id, lead, i, pos, length(line) AS llen,
         regexp_matches(line, '{boiler}') AS boiler,
         length(line) - length(regexp_replace(line, '{anchor}', '', 'g'))
             AS link_chars,
         regexp_replace(line, '{tag_strip}', ' ', 'g') AS stripped
  FROM lines WHERE length(line) > 0
),
kept AS (
  SELECT * FROM judged
  WHERE NOT boiler AND link_chars * 2 <= llen
    AND trim(stripped, '{ws}') <> ''
),
agg AS (
  SELECT conv_id,
         string_agg(CAST(lead + pos AS VARCHAR), ',' ORDER BY i) AS sstarts,
         string_agg(CAST(lead + pos + llen AS VARCHAR), ',' ORDER BY i) AS sends,
         string_agg(stripped, ' ' ORDER BY i) AS joined
  FROM kept GROUP BY conv_id
),
fin AS (
  SELECT s.conv_id, s.st, a.sstarts, a.sends,
         {clean_sql("COALESCE(a.joined, '')")} AS clean
  FROM s LEFT JOIN agg a USING (conv_id)
)
SELECT conv_id,
       CASE WHEN st = '' THEN 'empty'
            WHEN regexp_matches(st, '{tag_detect}') THEN 'dom'
            ELSE 'plain' END AS mode,
       clean AS extracted_text,
       CAST(length(clean) AS INTEGER) AS n_chars,
       CASE WHEN clean = '' THEN 'empty_after_clean' END AS reject_reason,
       CASE WHEN clean = '' THEN '' ELSE COALESCE(sstarts, '') END AS span_starts,
       CASE WHEN clean = '' THEN '' ELSE COALESCE(sends, '') END AS span_ends
FROM fin
"""


QUERIES["q81_extract_dom_spans"] = (q81_extract_dom_spans, _q81_sql())


# --------------------------------------------------------------------- q82
# The input contract's realistic layout: a days(ts)-PARTITIONED Iceberg
# transcripts table (BASELINE input_hint has ts:timestamp). The gate
# writes the events-derived transcripts into a day-partitioned Iceberg
# table, reads back through a manifest-pruned day-range partition
# filter (files outside the range are never opened — asserted by
# tests/test_iceberg.py's inputFiles checks), and runs extraction. The
# oracle restates the reshape + extraction + day predicate in SQL.
# turn_idx is assigned over ALL events (before the day filter), exactly
# as the table was written.

_Q82_DAYS = 10  # first N days of the events window


def q82_iceberg_day_partitioned(spark, sf_dir):
    import datetime as dt
    import tempfile

    from htrtf_spark.sources.iceberg import read_iceberg_table, write_iceberg_table

    loc = os.path.join(
        tempfile.mkdtemp(prefix="htrtf_iceberg_days_"), "transcripts"
    )
    write_iceberg_table(
        events_as_transcripts(spark, sf_dir), loc, partition_by=["days(ts)"]
    )
    wanted = [dt.date(2024, 1, d) for d in range(1, _Q82_DAYS + 1)]
    sub = read_iceberg_table(spark, loc, partition_filter={"days(ts)": wanted})
    return extract_turns(sub, num_partitions=None, check_schema=True)


_Q82_SQL = f"""
WITH tr AS (
  SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
              AS INTEGER) AS turn_idx,
         ['user','assistant','system','tool'][CAST(((event_id % 4) + 4) % 4 AS INTEGER) + 1]
             AS role,
         concat_ws(' ', event_type, 'value', CAST(value AS VARCHAR), props) AS text,
         ts
  FROM events
)
SELECT conv_id, turn_idx, role, 'plain' AS mode,
       {{clean}} AS extracted_text,
       CAST(length({{clean}}) AS INTEGER) AS n_chars,
       CASE WHEN {{clean}} = ''
            THEN 'empty_after_clean' END AS reject_reason
FROM tr
WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-01'
      AND DATE '2024-01-01' + INTERVAL {_Q82_DAYS - 1} DAY
""".format(clean=clean_sql("text"))


QUERIES["q82_iceberg_day_partitioned"] = (
    q82_iceberg_day_partitioned,
    _Q82_SQL,
)


# --------------------------------------------------------------------- q84
# Incremental append scan: the continuous-ingest read path. Batch 1
# (days 1-15) is committed, batch 2 (the rest) appended;
# read_iceberg_increment from the first snapshot opens ONLY batch-2
# data files (sequence-window pruning — inputFiles-asserted in
# tests/test_iceberg.py) and the extraction output must equal the
# batch-2 subset, which the oracle restates (turn_idx computed over ALL
# events, exactly as the table was written).

_Q84_CUT = "2024-01-15"


def q84_iceberg_incremental(spark, sf_dir):
    import tempfile

    from htrtf_spark.sources.iceberg import (
        append_iceberg_table,
        read_iceberg_increment,
        write_iceberg_table,
    )

    tr = events_as_transcripts(spark, sf_dir)
    cut = F.lit(_Q84_CUT).cast("date")
    loc = os.path.join(
        tempfile.mkdtemp(prefix="htrtf_iceberg_incr_"), "transcripts"
    )
    s1 = write_iceberg_table(tr.filter(F.to_date("ts") <= cut), loc)
    append_iceberg_table(tr.filter(F.to_date("ts") > cut), loc)
    inc = read_iceberg_increment(spark, loc, from_snapshot_id=s1)
    return extract_turns(inc, num_partitions=None, check_schema=True)


_Q84_SQL = f"""
WITH tr AS (
  SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
              AS INTEGER) AS turn_idx,
         ['user','assistant','system','tool'][CAST(((event_id % 4) + 4) % 4 AS INTEGER) + 1]
             AS role,
         concat_ws(' ', event_type, 'value', CAST(value AS VARCHAR), props) AS text,
         ts
  FROM events
)
SELECT conv_id, turn_idx, role, 'plain' AS mode,
       {{clean}} AS extracted_text,
       CAST(length({{clean}}) AS INTEGER) AS n_chars,
       CASE WHEN {{clean}} = ''
            THEN 'empty_after_clean' END AS reject_reason
FROM tr
WHERE CAST(ts AS DATE) > DATE '{_Q84_CUT}'
""".format(clean=clean_sql("text"))


QUERIES["q84_iceberg_incremental"] = (q84_iceberg_incremental, _Q84_SQL)


# --------------------------------------------------------------------- q87
# Column-stats file pruning (round 4): the transcripts table is written
# UNPARTITIONED but range-clustered on ts (repartitionByRange — the
# natural layout of time-ordered ingest), so the manifests' per-column
# lower/upper bounds (Iceberg spec fields 125/128) make a ts window
# skip whole files WITHOUT any partition spec — manifest-only pruning,
# no parquet footer opened (inputFiles-asserted in tests/test_iceberg).
# The extraction over the stats-pruned read must equal the oracle's
# plain ts BETWEEN — exactness despite pruning is the point of the gate.

_Q87_LO = "2024-01-08 00:00:00"
_Q87_HI = "2024-01-21 23:59:59"


def q87_iceberg_stats_pruned_window(spark, sf_dir):
    import datetime as dt
    import tempfile

    from htrtf_spark.sources.iceberg import read_iceberg_table, write_iceberg_table

    loc = os.path.join(
        tempfile.mkdtemp(prefix="htrtf_iceberg_stats_"), "transcripts"
    )
    write_iceberg_table(
        events_as_transcripts(spark, sf_dir).repartitionByRange(8, "ts"), loc
    )
    lo = dt.datetime.fromisoformat(_Q87_LO)
    hi = dt.datetime.fromisoformat(_Q87_HI)
    sub = read_iceberg_table(spark, loc, range_filter={"ts": (lo, hi)})
    return extract_turns(sub, num_partitions=None, check_schema=True)


_Q87_SQL = f"""
WITH tr AS (
  SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
              AS INTEGER) AS turn_idx,
         ['user','assistant','system','tool'][CAST(((event_id % 4) + 4) % 4 AS INTEGER) + 1]
             AS role,
         concat_ws(' ', event_type, 'value', CAST(value AS VARCHAR), props) AS text,
         ts
  FROM events
)
SELECT conv_id, turn_idx, role, 'plain' AS mode,
       {{clean}} AS extracted_text,
       CAST(length({{clean}}) AS INTEGER) AS n_chars,
       CASE WHEN {{clean}} = ''
            THEN 'empty_after_clean' END AS reject_reason
FROM tr
WHERE ts BETWEEN TIMESTAMP '{_Q87_LO}' AND TIMESTAMP '{_Q87_HI}'
""".format(clean=clean_sql("text"))


QUERIES["q87_iceberg_stats_pruned_window"] = (
    q87_iceberg_stats_pruned_window,
    _Q87_SQL,
)


# --------------------------------------------------------------------- q90
# Incremental scan × column-stats pruning (round 4): the continuous-
# ingest tick's realistic read — only data files appended AFTER the
# last processed snapshot (sequence-window manifest pruning, q84) AND
# only those whose recorded ts bounds overlap the requested window
# (column-stats pruning, q87), composed in one read_iceberg_increment
# call. Batch 2 is range-clustered on ts before the append so both
# tiers actually bite. The oracle restates day-cut + ts-window in SQL.

_Q90_CUT = "2024-01-15"
_Q90_LO = "2024-01-20 00:00:00"
_Q90_HI = "2024-01-24 23:59:59"


def q90_incremental_stats_window(spark, sf_dir):
    import datetime as dt
    import tempfile

    from htrtf_spark.sources.iceberg import (
        append_iceberg_table,
        read_iceberg_increment,
        write_iceberg_table,
    )

    tr = events_as_transcripts(spark, sf_dir)
    cut = F.lit(_Q90_CUT).cast("date")
    loc = os.path.join(
        tempfile.mkdtemp(prefix="htrtf_iceberg_incrw_"), "transcripts"
    )
    s1 = write_iceberg_table(tr.filter(F.to_date("ts") <= cut), loc)
    append_iceberg_table(
        tr.filter(F.to_date("ts") > cut).repartitionByRange(6, "ts"), loc
    )
    inc = read_iceberg_increment(
        spark, loc, from_snapshot_id=s1,
        range_filter={
            "ts": (
                dt.datetime.fromisoformat(_Q90_LO),
                dt.datetime.fromisoformat(_Q90_HI),
            )
        },
    )
    return extract_turns(inc, num_partitions=None, check_schema=True)


_Q90_SQL = f"""
WITH tr AS (
  SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
              AS INTEGER) AS turn_idx,
         ['user','assistant','system','tool'][CAST(((event_id % 4) + 4) % 4 AS INTEGER) + 1]
             AS role,
         concat_ws(' ', event_type, 'value', CAST(value AS VARCHAR), props) AS text,
         ts
  FROM events
)
SELECT conv_id, turn_idx, role, 'plain' AS mode,
       {{clean}} AS extracted_text,
       CAST(length({{clean}}) AS INTEGER) AS n_chars,
       CASE WHEN {{clean}} = ''
            THEN 'empty_after_clean' END AS reject_reason
FROM tr
WHERE CAST(ts AS DATE) > DATE '{_Q90_CUT}'
  AND ts BETWEEN TIMESTAMP '{_Q90_LO}' AND TIMESTAMP '{_Q90_HI}'
""".format(clean=clean_sql("text"))


QUERIES["q90_incremental_stats_window"] = (
    q90_incremental_stats_window,
    _Q90_SQL,
)


# --------------------------------------------------------------------- q91
# The streaming SOURCE end-to-end (round 4): transcripts written to
# Iceberg in TWO commits, consumed through
# readStream.format("htrtf_iceberg") in TWO availableNow runs against
# one checkpoint — run 1 sees commit 1, run 2 sees exactly the
# increment (snapshot-sequence offsets; no overlap, no loss) — then
# extraction over the union. The oracle is the full-table reshape +
# extraction: any duplicate or dropped micro-batch row hash-mismatches.

def q91_streaming_source_extract(spark, sf_dir):
    import tempfile

    from htrtf_spark.sources import iceberg_stream
    from htrtf_spark.sources.iceberg import (
        append_iceberg_table,
        write_iceberg_table,
    )

    iceberg_stream.register(spark)
    base = tempfile.mkdtemp(prefix="htrtf_iceberg_stream_")
    loc = os.path.join(base, "transcripts")
    ckpt = os.path.join(base, "ckpt")
    out = os.path.join(base, "out")

    tr = events_as_transcripts(spark, sf_dir)
    cut = F.lit(_Q84_CUT).cast("date")
    write_iceberg_table(tr.filter(F.to_date("ts") <= cut), loc)

    def drain():
        q = (
            spark.readStream.format("htrtf_iceberg")
            .option("location", loc)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(300)

    drain()                                             # batch 1
    append_iceberg_table(tr.filter(F.to_date("ts") > cut), loc)
    drain()                                             # the increment
    return extract_turns(
        spark.read.parquet(out), num_partitions=None, check_schema=True
    )


_Q91_SQL = f"""
WITH tr AS (
  SELECT 'conv-' || lpad(CAST(user_id AS VARCHAR), 8, '0') AS conv_id,
         CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1
              AS INTEGER) AS turn_idx,
         ['user','assistant','system','tool'][CAST(((event_id % 4) + 4) % 4 AS INTEGER) + 1]
             AS role,
         concat_ws(' ', event_type, 'value', CAST(value AS VARCHAR), props) AS text,
         ts
  FROM events
)
SELECT conv_id, turn_idx, role, 'plain' AS mode,
       {{clean}} AS extracted_text,
       CAST(length({{clean}}) AS INTEGER) AS n_chars,
       CASE WHEN {{clean}} = ''
            THEN 'empty_after_clean' END AS reject_reason
FROM tr
""".format(clean=clean_sql("text"))


QUERIES["q91_streaming_source_extract"] = (
    q91_streaming_source_extract,
    _Q91_SQL,
)


# --------------------------------------------------------------------- q92
# Layout-aware line segmentation (north-star stage; operators/layout).
# Documents are turned into positioned text BLOCKS on a deterministic
# two-column grid (word i → x=(i%8)*125, y=(i//8)*20, w=100, h=16 —
# i%8>=4 lands in the right column), then reading order is recovered:
# column by x-center, line by dense-ranked y-bin, left-to-right within
# a line, column-major document assembly. The oracle restates the grid
# AND the full segmentation rule; any drift in column/line/order logic
# hash-mismatches on doc_text.


def q92_layout_segmentation(spark, sf_dir):
    from htrtf_spark.operators.layout import assemble_documents
    from htrtf_spark.operators.textstats import tokens

    d = t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id",
        F.posexplode(tokens("text")).alias("i", "w"),
    )
    blocks = words.select(
        "doc_id",
        F.col("i").alias("block_id"),
        ((F.col("i") % 8) * 125).cast("double").alias("x"),
        ((F.floor(F.col("i") / 8)) * 20).cast("double").alias("y"),
        F.lit(100.0).alias("w_box"),
        F.lit(16.0).alias("h"),
        F.col("w").alias("text"),
    ).withColumnRenamed("w_box", "w")
    return assemble_documents(blocks).orderBy("doc_id")


_Q92_SQL = """
WITH ws AS (
  SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS words
  FROM documents
),
blocks AS (
  SELECT d.doc_id,
         g.i - 1 AS block_id,
         ((g.i - 1) % 8) * 125 AS x,
         ((g.i - 1) // 8) * 20 AS y,
         d.words[g.i] AS w
  FROM ws d
  JOIN generate_series(1, 100000) g(i) ON g.i <= len(d.words)
),
cols AS (
  SELECT doc_id, block_id, x, w,
         CASE WHEN (x + 50) >= 500 THEN 1 ELSE 0 END AS col_idx,
         CAST(FLOOR((y + 8) / 20) AS BIGINT) AS ybin
  FROM blocks
),
lined AS (
  SELECT doc_id, col_idx, x, block_id, w,
         DENSE_RANK() OVER (PARTITION BY doc_id, col_idx ORDER BY ybin) - 1
             AS line_idx
  FROM cols
),
lines_ AS (
  SELECT doc_id, col_idx, line_idx,
         string_agg(w, ' ' ORDER BY x, block_id) AS line_text
  FROM lined
  GROUP BY doc_id, col_idx, line_idx
)
SELECT doc_id,
       string_agg(line_text, chr(10) ORDER BY col_idx, line_idx) AS doc_text,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(COUNT(DISTINCT col_idx) AS BIGINT) AS n_cols
FROM lines_
GROUP BY doc_id
ORDER BY doc_id
"""


QUERIES["q92_layout_segmentation"] = (q92_layout_segmentation, _Q92_SQL)
