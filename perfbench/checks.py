"""Correctness checks run in the same command as the timings. Each
returns a list of failure messages; an empty list means the check held."""

from __future__ import annotations

import math
import os
from datetime import date, datetime

import pandas as pd

PARITY_COLS = [
    "conv_id", "turn_idx", "role", "mode", "extracted_text", "n_chars",
    "reject_reason",
]


def _norm(v) -> str:
    if v is None or v is pd.NA or v is pd.NaT:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NULL>"
        if v.is_integer():
            return str(int(v))  # nullable ints come back from Spark as float
        return f"{v:.9g}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def _rows(pdf: pd.DataFrame, cols: list[str]) -> list[tuple]:
    return [tuple(_norm(v) for v in r) for r in pdf[cols].itertuples(index=False)]


def parity(label: str, spark_out, spark_in, conv_ids: list[str]) -> list[str]:
    """Byte parity of Spark extraction output against ``oracle.extract_frame``
    on the input rows of ``conv_ids`` (a seeded sample plus the largest
    whales, as in tools/parity_sample.py)."""
    from pyspark.sql import functions as F

    from htrtf_spark import oracle

    keep = F.col("conv_id").isin(conv_ids)
    got = spark_out.filter(keep).select(*PARITY_COLS).toPandas()
    src = spark_in.filter(keep).select("conv_id", "turn_idx", "role", "text").toPandas()
    gold = oracle.extract_frame(src)
    key = ["conv_id", "turn_idx"]
    got = _rows(got.sort_values(key), PARITY_COLS)
    gold = _rows(gold.sort_values(key), PARITY_COLS)
    if len(got) != len(gold):
        return [f"{label}: parity row count spark={len(got)} oracle={len(gold)}"]
    bad = sum(a != b for g, o in zip(got, gold) for a, b in zip(g, o))
    if not gold:
        return [f"{label}: parity sample is empty"]
    return [f"{label}: {bad} byte mismatches in {len(gold)} turns"] if bad else []


def duckdb_agreement(label: str, spark_df, sql: str, docs_dir: str) -> list[str]:
    """Order-insensitive comparison of a Spark query result against its
    DuckDB oracle SQL over the same ``documents`` table."""
    import duckdb

    con = duckdb.connect()
    try:
        path = os.path.join(docs_dir, "documents.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
        res = con.execute(sql)
        d_cols = [d[0] for d in res.description]
        d_rows = res.fetchall()
    finally:
        con.close()
    s_cols = sorted(spark_df.columns)
    if s_cols != sorted(d_cols):
        return [f"{label}: columns spark={s_cols} duckdb={sorted(d_cols)}"]
    idx = [d_cols.index(c) for c in s_cols]
    got = sorted(tuple(_norm(v) for v in r) for r in spark_df.select(*s_cols).collect())
    want = sorted(tuple(_norm(r[i]) for i in idx) for r in d_rows)
    if len(got) != len(want):
        return [f"{label}: rows spark={len(got)} duckdb={len(want)}"]
    if not want:
        return [f"{label}: oracle result is empty, nothing was compared"]
    bad = sum(a != b for a, b in zip(got, want))
    return [f"{label}: {bad} of {len(want)} rows differ from DuckDB"] if bad else []


def no_persisted_rdds(spark) -> list[str]:
    n = spark.sparkContext._jsc.getPersistentRDDs().size()
    return [f"{n} persisted RDDs left after the workload"] if n else []
