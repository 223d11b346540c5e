"""Exactly-once incremental extraction ticks: Iceberg transcripts in →
extracted turns appended to an Iceberg output table.

The continuous-ingestion shape at 10^12-turn scale: upstream keeps
appending conversation batches; each tick processes ONLY the data files
appended since the last processed source snapshot
(``read_iceberg_increment`` — sequence-window file pruning, no
full-table rescan) and appends the extracted rows downstream. The
last-processed SOURCE snapshot id is stored as a PROPERTY OF THE
OUTPUT TABLE, committed in the same atomic metadata commit as the
appended data (the streaming sink's exactly-once trick): a crash
between extract and commit replays the tick idempotently, and a crash
after the commit is a recorded no-op.

Decode, then write, in one pass: every write here (tick, first load,
rebaseline) hands the extraction kernel to the Iceberg writer
(``EXTRACT_KERNEL``), so each task runs the kernel and writes its
parquet file in one Python function. The extracted rows never return
to the JVM, and no Spark writer runs. The tasks return their files'
records, and the driver makes ONE metadata commit per tick: data,
processed-snapshot marker and the tick's metrics together.

Contract: append-only ingest. Rows DELETED from already-processed
source snapshots are not propagated (no CDC before/after images);
deletes visible at the processed snapshot do apply to the new window.
"""

from __future__ import annotations

import json
import time

from pyspark.sql import SparkSession

SOURCE_SNAPSHOT_PROP = "htrtf.source.last-snapshot-id"
TICK_METRICS_PROP = "htrtf.tick.last-metrics"


def tick_metrics(dest_loc: str) -> dict | None:
    """The last tick's persisted throughput metrics (rows, wall_sec,
    rows_per_sec, processed_snapshot), or None if no tick has recorded
    them yet. They ride the tick's data commit, so they are atomic with
    the data and the processed-snapshot marker and never lag a tick.
    ``wall_sec`` runs from the tick's start until its files are
    written, just before the commit."""
    from htrtf_spark.sources.iceberg import current_metadata

    props = current_metadata(dest_loc).get("properties", {})
    raw = props.get(TICK_METRICS_PROP)
    return json.loads(raw) if raw else None


def _tick_properties(processed: int, t0: float, tick: dict):
    """The tick commit's properties, as a function of the written files'
    records (``sources.iceberg._resolve_properties``): the
    processed-snapshot marker and the tick's metrics. Also leaves the
    row count in ``tick["rows"]`` for the caller."""

    def properties(files: list[dict]) -> dict[str, str]:
        rows = sum(f["record_count"] for f in files)
        wall = time.monotonic() - t0
        tick["rows"] = rows
        metrics = {
            "processed_snapshot": processed,
            "rows": rows,
            "wall_sec": round(wall, 3),
            "rows_per_sec": round(rows / wall, 1) if wall > 0 else None,
        }
        return {
            SOURCE_SNAPSHOT_PROP: str(processed),
            TICK_METRICS_PROP: json.dumps(metrics),
        }

    return properties


def extract_increment_once(
    spark: SparkSession,
    source_loc: str,
    dest_loc: str,
    auto_rebaseline: bool = False,
    rebaseline_on_delete: bool = False,
) -> dict:
    """Run one tick. Returns {"processed_snapshot", "rows", "noop"}
    (plus ``"rebaselined": <reason>`` when the escape hatch fired).

    Raises ``sources.iceberg.ExpiredSnapshotError`` (a KeyError
    subclass) when the persisted source marker has been expired by
    ``expire_snapshots`` — or rolled back off the live branch — on the
    source table: the incremental window cannot be reconstructed and
    retrying can never succeed. With ``auto_rebaseline=True`` the tick
    recovers instead: one atomic OVERWRITE commit rebuilds the
    destination from a full extraction of the source's current
    snapshot, marker updated in the same commit (the delete-retraction
    escape hatch — streaming/rebaseline.py is the stream-side twin).

    ``rebaseline_on_delete=True`` extends the hatch to silent
    retractions: if the unconsumed window contains a retracting
    snapshot (delete / upsert-overwrite / INSERT OVERWRITE,
    ``replace-kind: overwrite``), the tick rebuilds rather than
    append-propagating — strict consistency for consumers that must
    not retain upstream-deleted rows. Compaction / rewrite-manifests
    replace snapshots never trigger it."""
    from htrtf_spark.plans.pipeline import EXTRACT_KERNEL, extraction_input
    from htrtf_spark.sources.iceberg import (
        ExpiredSnapshotError,
        _find_snapshot,
        _retracts,
        _window,
        append_iceberg_table,
        current_metadata,
        overwrite_iceberg_table,
        read_iceberg_increment,
        read_iceberg_table,
        table_exists,
        write_iceberg_table,
    )

    def _rebaseline(cur: int, reason: str) -> dict:
        tick: dict = {}
        overwrite_iceberg_table(
            extraction_input(
                read_iceberg_table(spark, source_loc, snapshot_id=cur)
            ),
            dest_loc,
            properties=_tick_properties(cur, time.monotonic(), tick),
            kernel=EXTRACT_KERNEL,
        )
        return {
            "processed_snapshot": cur,
            "rows": tick["rows"],
            "noop": False,
            "rebaselined": reason,
        }

    src_meta = current_metadata(source_loc)
    cur = src_meta["current-snapshot-id"]
    t0 = time.monotonic()
    tick: dict = {}

    if not table_exists(dest_loc):
        # first tick: full load of the pinned current snapshot; the
        # processed-snapshot marker rides the CREATE commit itself
        write_iceberg_table(
            extraction_input(
                read_iceberg_table(spark, source_loc, snapshot_id=cur)
            ),
            dest_loc,
            properties=_tick_properties(cur, t0, tick),
            kernel=EXTRACT_KERNEL,
        )
        return {"processed_snapshot": cur, "rows": tick["rows"], "noop": False}

    props = current_metadata(dest_loc).get("properties", {})
    if SOURCE_SNAPSHOT_PROP not in props:
        raise ValueError(
            f"{dest_loc} exists but has no {SOURCE_SNAPSHOT_PROP} "
            "property — it was not created by this pipeline"
        )
    last = int(props[SOURCE_SNAPSHOT_PROP])
    if last == cur:
        return {"processed_snapshot": cur, "rows": 0, "noop": True}

    if rebaseline_on_delete:
        # strict-consistency mode: a retracting snapshot in the window
        # means append-propagation would retain rows upstream deleted
        try:
            last_seq = int(_find_snapshot(src_meta, last)["sequence-number"])
        except KeyError:
            last_seq = None  # expired marker: the read below raises
        if last_seq is not None:
            for sn in _window(src_meta, last_seq, _find_snapshot(src_meta, cur)):
                if _retracts(sn):
                    return _rebaseline(
                        cur,
                        "retracting snapshot (operation="
                        f"{sn['summary']['operation']}, sequence "
                        f"{sn['sequence-number']}) "
                        "in window and rebaseline_on_delete is set",
                    )

    # read the window pinned to `cur`: a source append racing this tick
    # is NOT silently marked processed — it is the next tick's window
    try:
        inc = read_iceberg_increment(
            spark, source_loc, from_snapshot_id=last, to_snapshot_id=cur
        )
    except ExpiredSnapshotError as exc:
        if not auto_rebaseline:
            raise
        return _rebaseline(cur, str(exc))
    append_iceberg_table(
        extraction_input(inc),
        dest_loc,
        properties=_tick_properties(cur, t0, tick),
        kernel=EXTRACT_KERNEL,
    )
    return {"processed_snapshot": cur, "rows": tick["rows"], "noop": False}
