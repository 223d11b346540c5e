"""spark-submit job: CONTINUOUS Iceberg-to-Iceberg extraction as one
Structured Streaming query — the north-star pipeline in streaming form.

source:  readStream.format("htrtf_iceberg")  (snapshot-sequence
         offsets; each micro-batch = exactly the newly appended files)
stages:  the same vectorized Arrow extraction as the batch path, run
         inside the sink's writing tasks (one Python stage per task)
sink:    exactly-once Iceberg appends (batch-id property committed
         atomically with the data)

Offsets live in the query checkpoint; the sink's batch-id guard makes
the replayed boundary batch idempotent — together: exactly-once from
table to table across restarts. Run with --available-now for a
drain-and-exit tick (cron form), without it for a long-lived query.

    spark-submit --py-files htrtf_spark.zip \
        jobs/run_streaming_extraction.py \
        --source /warehouse/transcripts --dest /warehouse/extracted \
        --checkpoint /warehouse/_ckpt/extract --available-now
"""

from __future__ import annotations

import argparse
import sys


def build_query(spark, source_loc: str, dest_loc: str, checkpoint: str,
                available_now: bool = True,
                max_files_per_trigger: int | None = None,
                max_snapshots_per_trigger: int | None = None,
                max_bytes_per_trigger: int | None = None,
                lag_metrics_dir: str | None = None,
                starting_sequence: int | None = None):
    """Admission control: at 10^12-turn scale pass
    ``max_files_per_trigger`` so the first batch is NOT one job over
    every live file (the source splits the bootstrap into bounded,
    individually-checkpointed file groups) and commit bursts drain as
    bounded batches. With ``--available-now`` the caps bound the
    PER-RUN work — each cron tick drains a bounded slice and repeated
    ticks converge to the head (exactly the bounded-batch contract);
    a long-lived query drains fully with bounded micro-batches.
    ``lag_metrics_dir`` records per-batch files/bytes/sequence-lag."""
    from htrtf_spark.sources import iceberg_stream
    from htrtf_spark.streaming.extract_stream import (
        STREAM_KERNEL,
        stream_input,
        stream_to_iceberg,
    )

    iceberg_stream.register(spark)
    reader = (
        spark.readStream.format("htrtf_iceberg")
        .option("location", source_loc)
    )
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    if max_snapshots_per_trigger:
        reader = reader.option(
            "maxSnapshotsPerTrigger", str(max_snapshots_per_trigger)
        )
    if max_bytes_per_trigger:
        reader = reader.option(
            "maxBytesPerTrigger", str(max_bytes_per_trigger)
        )
    if lag_metrics_dir:
        reader = reader.option("lagMetricsDir", lag_metrics_dir)
    if starting_sequence is not None:
        # fresh query resumes AFTER this source sequence (a re-baseline
        # just materialized it into dest) instead of bootstrapping
        reader = reader.option("startingSequence", str(starting_sequence))
    src = reader.load()
    # the sink runs the kernel in its writing tasks: one Python stage
    # per task decodes and writes
    return stream_to_iceberg(
        stream_input(src), dest_loc, checkpoint,
        query_name="iceberg_to_iceberg_extraction",
        available_now=available_now, kernel=STREAM_KERNEL,
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__)
    p.add_argument("--source", required=True)
    p.add_argument("--dest", required=True)
    p.add_argument("--checkpoint", required=True)
    p.add_argument("--available-now", action="store_true",
                   help="drain everything committed so far, then exit")
    p.add_argument("--timeout-sec", type=int, default=0,
                   help="await at most this long (0 = forever)")
    p.add_argument("--max-files-per-trigger", type=int, default=None,
                   help="admission control: split the bootstrap into "
                        "ceil(M/N) checkpointed file groups; cap later "
                        "batches at snapshots-that-fit-N-files")
    p.add_argument("--max-snapshots-per-trigger", type=int, default=None,
                   help="admission control: at most N snapshots per batch")
    p.add_argument("--max-bytes-per-trigger", type=int, default=None,
                   help="admission control: cap batches on the snapshots' "
                        "added-files-size byte totals")
    p.add_argument("--lag-metrics-dir", default=None,
                   help="write per-batch files/bytes/sequence-lag JSONL here")
    p.add_argument("--alert-lag-growth", type=int, default=3,
                   help="with --lag-metrics-dir: alert when seq_lag grew "
                        "over this many consecutive batches (the "
                        "under-provisioned-cap signal)")
    p.add_argument("--alert-max-lag", type=int, default=None,
                   help="with --lag-metrics-dir: alert when the latest "
                        "seq_lag exceeds this absolute freshness budget")
    p.add_argument("--fail-on-lag-alert", action="store_true",
                   help="exit 3 when a lag SLO alert fires (lets a cron "
                        "scheduler page instead of silently falling "
                        "behind)")
    p.add_argument("--auto-rebaseline", action="store_true",
                   help="before starting, detect an upstream rollback "
                        "past the checkpoint's position and recover by "
                        "atomically rebuilding the destination from the "
                        "source's current snapshot (retires the old "
                        "checkpoint; the new query resumes incrementally "
                        "from the rebaselined snapshot)")
    p.add_argument("--rebaseline-on-delete", action="store_true",
                   help="with --auto-rebaseline: also rebuild when the "
                        "unconsumed window contains retracting snapshots "
                        "(delete/upsert/INSERT OVERWRITE) — strict "
                        "consistency instead of append-only propagation")
    args = p.parse_args(argv)

    from pyspark.sql import SparkSession

    owned = SparkSession.getActiveSession() is None
    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    starting_sequence = None
    if args.auto_rebaseline:
        from htrtf_spark.streaming.rebaseline import (
            rebaseline_stream_extraction,
            stream_needs_rebaseline,
        )

        reason = stream_needs_rebaseline(
            args.source, args.checkpoint,
            on_upstream_delete=args.rebaseline_on_delete,
        )
        if reason:
            info = rebaseline_stream_extraction(
                spark, args.source, args.dest, args.checkpoint
            )
            print(f"rebaselined: {reason} -> {info}")
            starting_sequence = info["starting_sequence"]

    q = build_query(
        spark, args.source, args.dest, args.checkpoint,
        available_now=args.available_now,
        max_files_per_trigger=args.max_files_per_trigger,
        max_snapshots_per_trigger=args.max_snapshots_per_trigger,
        max_bytes_per_trigger=args.max_bytes_per_trigger,
        lag_metrics_dir=args.lag_metrics_dir,
        starting_sequence=starting_sequence,
    )
    if args.timeout_sec:
        q.awaitTermination(args.timeout_sec)
        q.stop()
    else:
        q.awaitTermination()
    if owned:
        spark.stop()

    if args.lag_metrics_dir:
        from htrtf_spark.streaming.lag_slo import (
            check_lag_slo,
            record_lag_alerts,
        )

        slo = check_lag_slo(
            args.lag_metrics_dir,
            growth_batches=args.alert_lag_growth,
            max_seq_lag=args.alert_max_lag,
        )
        if not slo["ok"]:
            record_lag_alerts(args.lag_metrics_dir, slo)
            print(f"LAG SLO ALERT: {slo}")
            if args.fail_on_lag_alert:
                return 3
    return 0


if __name__ == "__main__":
    sys.exit(main())
