"""Production entrypoint: checkpointed main-content extraction job.

    spark-submit --master <cluster> --py-files htrtf_spark.zip \
        jobs/run_extraction.py --input <transcripts.parquet-or-iceberg> \
        --output <dir> [--buckets 64] [--iceberg-table db.tbl]

Resumable: re-running with the same --output skips buckets already in the
manifest (per-partition lineage + throughput live next to the data, per
the north rule). No config is hardcoded; everything is args/env.
"""

from __future__ import annotations

import argparse
import json
import sys


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="transcripts parquet path")
    src.add_argument("--input-jsonl", help="transcripts JSON-lines path")
    src.add_argument("--input-orc", help="transcripts ORC path")
    src.add_argument("--input-csv", help="transcripts CSV path (RFC-4180 quoting)")
    src.add_argument("--iceberg-table", help="Iceberg table name (catalog.db.tbl)")
    p.add_argument("--output", required=True,
                   help="output dir (data/ + _manifest/): a local path or a "
                        "URI that pyarrow.fs opens (file://, hdfs:// with "
                        "libhdfs, s3://, gs://); the extraction tasks write "
                        "it directly, one Python pass per bucket. "
                        "Hadoop-only schemes such as s3a:// are refused "
                        "before any Spark job")
    p.add_argument("--buckets", type=int, default=64)
    p.add_argument("--day-range", default=None, metavar="FROM:TO",
                   help="Iceberg input only: inclusive ISO date range, "
                        "e.g. 2024-01-01:2024-01-07 — files outside the "
                        "range are pruned from the manifests (never "
                        "opened) on a days(ts)-partitioned table, and a "
                        "residual day filter keeps the result exact on "
                        "any layout")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from htrtf_spark.plans.checkpoint import (
        completed_buckets,
        run_extraction_checkpointed,
    )
    from htrtf_spark.sources.transcripts import (
        read_transcripts_csv,
        read_transcripts_iceberg,
        read_transcripts_jsonl,
        read_transcripts_orc,
        read_transcripts_parquet,
    )

    # resolves the output's filesystem first: an unsupported scheme is
    # refused before the input is read
    already = len(completed_buckets(args.output))
    if args.iceberg_table:
        pf = None
        if args.day_range:
            import datetime as dt

            lo_s, _, hi_s = args.day_range.partition(":")
            lo = dt.date.fromisoformat(lo_s)
            hi = dt.date.fromisoformat(hi_s or lo_s)
            if hi < lo:
                p.error("--day-range FROM must be <= TO")
            pf = {
                "days(ts)": [
                    lo + dt.timedelta(days=i)
                    for i in range((hi - lo).days + 1)
                ]
            }
        df = read_transcripts_iceberg(
            spark, args.iceberg_table, partition_filter=pf
        )
    elif args.day_range:
        p.error("--day-range requires --iceberg-table")
    elif args.input_jsonl:
        df = read_transcripts_jsonl(spark, args.input_jsonl)
    elif args.input_orc:
        df = read_transcripts_orc(spark, args.input_orc)
    elif args.input_csv:
        df = read_transcripts_csv(spark, args.input_csv)
    else:
        df = read_transcripts_parquet(spark, args.input)

    ran = run_extraction_checkpointed(spark, df, args.output, n_buckets=args.buckets)
    print(json.dumps({
        "output": args.output,
        "buckets_total": args.buckets,
        "buckets_resumed_from": already,
        "buckets_ran": len(ran),
    }))
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
