"""Structured Streaming extraction: the same Arrow-batched stage bound to
an unbounded transcripts feed, plus watermarked event-time rollups.

The reference is batch-only (SURVEY.md §2.12); this is the "if the
transcript feed were unbounded" path the survey sketches: tumbling
windows ≈ F.window(ts, ...), the extraction stage itself is stateless so
it runs unchanged under readStream (mapInArrow is supported on
streaming DataFrames).
"""

from __future__ import annotations

from collections.abc import Iterator

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htrtf_spark.operators.extraction import EXTRACTED_DDL, extract_batch
from htrtf_spark.schema import TRANSCRIPTS_SCHEMA

EXTRACTED_TS_DDL = EXTRACTED_DDL + ", ts timestamp"  # derived: batch/stream drift-proof


def _extract_keep_ts(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """Extraction stage that carries the event-time column through (needed
    by downstream watermarks; row order within the batch is preserved so
    positional reattachment is exact)."""
    for batch in batches:
        out = extract_batch(batch)
        yield out.append_column("ts", batch.column("ts"))


def read_transcript_stream(spark: SparkSession, input_dir: str) -> DataFrame:
    """File-source stream with the pinned transcripts schema (one file =
    one micro-batch unit; swap for Kafka in production)."""
    return spark.readStream.schema(TRANSCRIPTS_SCHEMA).parquet(input_dir)


# the stream's extraction kernel in (batch function, DDL) form: what
# ``mapInArrow`` and the Iceberg write entry points take
STREAM_KERNEL = (_extract_keep_ts, EXTRACTED_TS_DDL)


def stream_input(stream_df: DataFrame) -> DataFrame:
    """The columns ``STREAM_KERNEL`` reads."""
    return stream_df.select("conv_id", "turn_idx", "role", "text", "ts")


def stream_extract(stream_df: DataFrame) -> DataFrame:
    """Unbounded extraction: identical semantics to the batch stage."""
    return stream_input(stream_df).mapInArrow(*STREAM_KERNEL)


def stream_metrics(
    extracted: DataFrame, window: str = "10 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Watermarked tumbling-window acceptance metrics (late data beyond
    the watermark is dropped by the engine, state is bounded)."""
    return (
        extracted.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "mode")
        .agg(
            F.count("*").alias("turns"),
            F.sum(F.col("reject_reason").isNotNull().cast("long")).alias("rejected"),
        )
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "mode",
            "turns",
            "rejected",
        )
    )


def run_stream_to_memory(
    spark: SparkSession, input_dir: str, query_name: str = "extract_stream"
):
    """Drive a bounded smoke run synchronously (memory sink +
    processAllAvailable); returns the StreamingQuery (stopped)."""
    ex = stream_extract(read_transcript_stream(spark, input_dir))
    q = (
        ex.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


_BATCH_PROP = "streaming.last-batch-id"


def stream_to_iceberg(
    df: DataFrame, location: str, checkpoint_dir: str,
    query_name: str = "to_iceberg", available_now: bool = False,
    kernel: tuple | None = None,
):
    """EXACTLY-ONCE streaming sink into an Iceberg v2 table: each
    micro-batch appends under ``foreachBatch``, recording its batch id
    as a table property IN THE SAME atomic metadata commit. On restart,
    Structured Streaming replays the last possibly-uncommitted batch;
    the property guard detects an id that already committed and skips
    it — append-idempotence across failures, the standard
    streaming-lakehouse pattern. Returns the started StreamingQuery.

    ``kernel`` (e.g. ``STREAM_KERNEL`` over ``stream_input``) runs in
    the sink's writing tasks, so each task decodes and writes in one
    Python stage; without it ``df``'s rows are written as they are."""
    from htrtf_spark.sources.iceberg import (
        append_iceberg_table,
        current_metadata,
        table_exists,
        write_iceberg_table,
    )

    def commit_batch(batch_df, batch_id: int) -> None:
        if not table_exists(location):
            # table born from this stream: the create IS batch_id's
            # commit, property stamped in the same breath
            write_iceberg_table(
                batch_df, location, properties={_BATCH_PROP: str(batch_id)},
                kernel=kernel,
            )
            return
        meta = current_metadata(location)
        # -1 when absent: a PRE-EXISTING table the stream appends into
        # must accept batch 0 (a "0" default would silently drop it)
        last = int(meta.get("properties", {}).get(_BATCH_PROP, "-1"))
        if batch_id <= last:
            return  # replayed batch that already committed — skip
        append_iceberg_table(
            batch_df, location, properties={_BATCH_PROP: str(batch_id)},
            kernel=kernel,
        )

    w = (
        df.writeStream.outputMode("append")
        .foreachBatch(commit_batch)
        .option("checkpointLocation", checkpoint_dir)
        .queryName(query_name)
    )
    if available_now:  # drain-and-exit ticks (cron form)
        w = w.trigger(availableNow=True)
    return w.start()
