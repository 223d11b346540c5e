"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship main-content extraction pipeline on
the sf0.001 testdata (events reshaped to the transcripts schema →
salted repartition → Arrow-native mapInArrow extraction).

``queries()`` / ``oracle_sql()`` expose the operator registry in
``htrtf_spark.queries`` — one entry per implemented operator family from
SURVEY.md §2 plus the training-data-pipeline operators (dedup,
similarity search, text analysis), each with a DuckDB-equivalent ANSI
SQL oracle where SQL can express it.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

_REPO_ROOT = os.path.dirname(os.path.abspath(__file__))
if _REPO_ROOT not in sys.path:
    sys.path.insert(0, _REPO_ROOT)

from pyspark.sql import DataFrame, SparkSession  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    from htrtf_spark.plans.pipeline import ordered_extract
    from htrtf_spark.sources.transcripts import events_as_transcripts

    transcripts = events_as_transcripts(spark, "/root/testdata/sf0.001")
    return ordered_extract(transcripts)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    from htrtf_spark.queries import spark_queries

    return spark_queries()


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for each SQL-expressible query."""
    from htrtf_spark.queries import oracle_sqls

    return oracle_sqls()
