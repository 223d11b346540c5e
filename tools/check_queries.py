"""Local mirror of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB over the same sf dir,
compare row count, column names, and an order-insensitive value
comparison.

Usage: python tools/check_queries.py [--profile | --hash] [sf_dir] [name_filter]

``name_filter`` keeps the gates whose name contains it; a comma-separated
list keeps those matching any entry, run in the list's order.

``--profile`` checks nothing against DuckDB: it runs each gate cold
(``clearCache()`` and the dedup caches released first), builds it and
runs it to a noop sink, and prints its cold wall seconds (build plus
run), build seconds, and the Spark jobs launched while building and
while running, read from job groups. A gate that raises prints
``ERROR`` and the run goes on.

``--hash`` checks nothing against DuckDB either: it prints each gate's
row count and an order-insensitive sha256 of its rows (columns in name
order, values through ``_norm``), so two checkouts compare with ``diff``.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from datetime import date, datetime

import duckdb


def _norm(v):
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "<NaN>"
        if v == 0.0:
            v = 0.0  # fold -0.0 and +0.0 (numerically equal)
        return f"{v:.9g}"
    if isinstance(v, datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, date):
        return v.strftime("%Y-%m-%d")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    return str(v)


def compare(spark_df, duck_rows, duck_cols):
    s_cols = sorted(spark_df.columns)
    d_cols = sorted(duck_cols)
    if s_cols != d_cols:
        return False, f"schema mismatch: spark={s_cols} duck={d_cols}"
    s_rows = spark_df.select(*s_cols).collect()
    idx = [duck_cols.index(c) for c in s_cols]
    s_set = sorted(tuple(_norm(v) for v in r) for r in s_rows)
    d_set = sorted(tuple(_norm(r[i]) for i in idx) for r in duck_rows)
    if len(s_set) != len(d_set):
        return False, f"row count: spark={len(s_set)} duck={len(d_set)}"
    for a, b in zip(s_set, d_set):
        if a != b:
            return False, f"value mismatch:\n  spark={a}\n  duck ={b}"
    return True, f"{len(s_set)} rows"


def row_hash(df):
    """(row count, sha256) of ``df``'s rows, independent of row order."""
    cols = sorted(df.columns)
    rows = sorted(
        "\x1f".join(_norm(v) for v in r) for r in df.select(*cols).collect()
    )
    return len(rows), hashlib.sha256("\x1e".join(rows).encode()).hexdigest()


def profile(spark, name, fn, sf_dir):
    """(cold wall s, build s, jobs at build, jobs at run) of one gate."""
    from htrtf_spark.operators.dedup import release_caches

    sc = spark.sparkContext
    spark.catalog.clearCache()
    release_caches()
    try:
        sc.setJobGroup(f"build-{name}", name)
        t0 = time.perf_counter()
        df = fn(spark, sf_dir)
        t1 = time.perf_counter()
        sc.setJobGroup(f"run-{name}", name)
        df.write.format("noop").mode("overwrite").save()
        t2 = time.perf_counter()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    jobs = sc.statusTracker().getJobIdsForGroup
    return t2 - t0, t1 - t0, len(jobs(f"build-{name}")), len(jobs(f"run-{name}"))


def main():
    profiling, hashing = "--profile" in sys.argv, "--hash" in sys.argv
    sys.argv = [a for a in sys.argv if a not in ("--profile", "--hash")]
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    name_filter = sys.argv[2] if len(sys.argv) > 2 else ""
    filters = name_filter.split(",")

    from htrtf_spark.queries import registry
    from htrtf_spark.session import get_spark

    spark = get_spark(app_name="check_queries", master="local[8]")
    con = duckdb.connect()
    for tbl in [
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ]:
        con.execute(
            f"CREATE VIEW {tbl} AS SELECT * FROM '{sf_dir}/{tbl}.parquet'"
        )

    failures = []
    gates = sorted(registry().items())
    # gates run in filter order, so a profile can warm the session first
    picked = [g for f in filters for g in gates if f in g[0]]
    for name, (fn, sql) in dict(picked).items():
        try:
            if profiling:
                cold, build, jobs_build, jobs_run = profile(spark, name, fn, sf_dir)
                print(
                    f"  {name}: cold {cold:.3f} s  build {build:.3f} s  "
                    f"jobs build {jobs_build} run {jobs_run}"
                )
                continue
            if hashing:
                n, digest = row_hash(fn(spark, sf_dir))
                print(f"  {name}: {n} rows  sha256 {digest}")
                continue
            df = fn(spark, sf_dir)
            if sql is None:
                n = df.count()
                print(f"  {name}: rows-only, {n} rows")
                if n == 0 and "metrics" not in name:
                    failures.append((name, "0 rows"))
                continue
            res = con.execute(sql)
            duck_cols = [d[0] for d in res.description]
            duck_rows = res.fetchall()
            ok, msg = compare(df, duck_rows, duck_cols)
            status = "OK " if ok else "FAIL"
            print(f"  {name}: {status} {msg}")
            if not ok:
                failures.append((name, msg))
        except Exception as exc:  # noqa: BLE001
            print(f"  {name}: ERROR {str(exc)[:300]}")
            failures.append((name, str(exc)[:300]))

    if profiling or hashing:
        spark.stop()
        sys.exit(1 if failures else 0)
    print()
    if failures:
        print(f"{len(failures)} FAILURES:")
        for name, msg in failures:
            print(f"  - {name}: {msg[:200]}")
        sys.exit(1)
    print("all queries match")
    spark.stop()


if __name__ == "__main__":
    main()
