"""SQL-callable extraction functions.

Registers the engine's per-turn semantics as named Spark SQL functions
(Arrow UDFs over ``pyarrow.Array`` — same zero-per-row-Python rule as
the pipeline), so `spark.sql` users get the exact stage semantics
without touching the Python API:

    SELECT conv_id, turn_idx, htrtf_extract_text(text) FROM transcripts

Each UDF is a public function of the Arrow kernel the pipeline runs
(htrtf_spark.operators.extraction) — single source of truth, so SQL
results are byte-identical to the mapInArrow stage and therefore to the
reference-semantics oracle (the analog of the reference exposing its
decode pipeline as callable library functions in Modules/utils.py /
Modules/tasks.py:176-178):

- ``htrtf_extract_text``: full per-turn extraction (mode detect → decode
  → normalize); NULL text maps to NULL.
- ``htrtf_clean_text``: charset projection + whitespace canonicalization
  only (the plain-mode normalize step, P3/P4/F4 semantics).
- ``htrtf_ctc_collapse``: greedy CTC collapse of a raw frame string
  (merge repeats → drop blanks → word-sep '|' → space), without the
  mode marker.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from htrtf_spark.operators.extraction import ctc_collapse, extract_text, finish


def register_sql_functions(spark: SparkSession) -> None:
    """Idempotently register all htrtf_* SQL functions on the session.
    (arrow_udf construction needs an active session, hence lazy.)"""
    from pyspark.sql.functions import arrow_udf

    for name, fn in (
        ("htrtf_extract_text", extract_text),
        ("htrtf_clean_text", finish),
        ("htrtf_ctc_collapse", ctc_collapse),
    ):
        # the pa.Array -> pa.Array type hints make it a scalar Arrow UDF
        spark.udf.register(name, arrow_udf(fn, "string"))
