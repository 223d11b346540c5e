"""Structured Streaming SOURCE over the Iceberg table layer.

``spark.readStream.format("htrtf_iceberg").option("location", path)``
turns the continuous-ingest tick loop into a real streaming query: the
micro-batch OFFSET is the table's last committed SEQUENCE NUMBER, so
each batch reads exactly the data files appended in
(start_seq, end_seq] — the same sequence-window file pruning as
``read_iceberg_increment``, with Spark's own checkpointing providing
exactly-once offsets across restarts (no custom marker property
needed on the source side).

Built on PySpark 4's Python DataSource API
(pyspark.sql.datasource — public, apache/spark
python/pyspark/sql/datasource.py): the planner runs DRIVER-side
against table metadata only; each data file becomes one
InputPartition, and EXECUTORS read their parquet file via pyarrow and
yield Arrow RecordBatches (no per-row Python).

Semantics (append-stream contract):
- rows are surfaced once, at the snapshot that appended them;
- delete files visible at the batch's upper snapshot ARE applied to
  the batch's own files, and columns resolve by field id. Each file's
  plan (its columns, identity constants and the deletes that apply)
  comes from ``iceberg._read_plans``, the helper behind the batch scan,
  and is applied in the batch scan's order, so a batch holds the rows
  ``read_iceberg_increment`` returns for its window by construction;
- deletes of rows emitted by EARLIER batches are not retracted
  (streams are append-only; run compaction + a batch re-read for
  retractions).

Batch-mode ``spark.read.format("htrtf_iceberg")`` is intentionally NOT
implemented — ``read_iceberg_table`` is the batch path (full delete
application, time travel, stats pruning).
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)


class _FilePartition(InputPartition):
    def __init__(self, file_path: str | None, plan: tuple, types: tuple):
        self.file_path = file_path
        # the file's iceberg._ReadPlan as a plain tuple, so that the
        # executor unpickles it without importing the iceberg module
        self.plan = tuple(plan)
        self.types = types  # Iceberg type of each schema column, in order


def _off_key(off: dict) -> tuple:
    """Total order over stream offsets. Bootstrap file-group offsets of
    the pinned snapshot (sequence S0) sort strictly between
    ``{"seq": S0-1}`` and ``{"seq": S0}``; a completed bootstrap
    (grp == ngrp) is equivalent to ``{"seq": S0}``."""
    if "boot_seq" in off:
        if int(off.get("grp", 0)) < int(off.get("ngrp", 0)):
            return (int(off["boot_seq"]), 0, int(off["grp"]))
        return (int(off["boot_seq"]), 1, 0)
    return (int(off["seq"]), 1, 0)


def _chunk_bounds(n_items: int, n_groups: int) -> list[tuple[int, int]]:
    """Deterministic contiguous split of ``n_items`` into ``n_groups``
    near-equal chunks (first ``n_items % n_groups`` chunks one larger):
    replayed batches must re-derive IDENTICAL group boundaries from the
    offset alone, even if the trigger cap option changed on restart."""
    q, r = divmod(n_items, n_groups)
    bounds, lo = [], 0
    for i in range(n_groups):
        hi = lo + q + (1 if i < r else 0)
        bounds.append((lo, hi))
        lo = hi
    return bounds


class IcebergStreamReader(DataSourceStreamReader):
    """See module docstring. Admission control (the part that keeps a
    10^12-turn table's stream alive): without a cap, the first batch is
    one job over EVERY live file of the current snapshot and a burst of
    upstream commits lands in a single micro-batch — one failure late in
    a huge batch restarts the whole batch. With
    ``option("maxFilesPerTrigger", N)`` the bootstrap splits into
    ceil(M/N) deterministic file groups (one per micro-batch, offsets
    carry the group cursor, so each group is its own checkpointed unit
    of recovery) and subsequent batches take only as many snapshots as
    fit N files (always ≥1 so a jumbo commit still drains);
    ``option("maxSnapshotsPerTrigger", K)`` caps snapshots per batch
    and ``option("maxBytesPerTrigger", B)`` caps on the snapshots'
    added-files-size summaries — the work-denominated cap for corpora
    whose file sizes vary 100× (reference analog: bounded batch
    slicing, Modules/utils.py:309-350 — never bite more than one
    batch). The cap lives in ``latestOffset``,
    which advances from the reader's tracked position — fed by
    initialOffset / partitions / commit, so restarts resume capped from
    the checkpoint (Spark replans the pending batch or commits the last
    one before asking for a new offset)."""

    def __init__(self, location: str, options: dict | None = None):
        self.location = location
        opts = {k.lower(): v for k, v in (options or {}).items()}

        def _int_opt(name: str):
            v = opts.get(name.lower())
            if v is None:
                return None
            iv = int(v)
            if iv < 1:
                raise ValueError(f"{name} must be >= 1, got {v}")
            return iv

        self.max_files = _int_opt("maxFilesPerTrigger")
        self.max_snapshots = _int_opt("maxSnapshotsPerTrigger")
        # byte-denominated cap: at web scale file COUNTS are a poor
        # work proxy (sizes vary 100×) — this caps on the snapshots'
        # added-files-size summaries instead, no manifest opened.
        # Snapshots committed before the summary existed count 0 bytes
        # (the file/snapshot caps still bound them).
        self.max_bytes = _int_opt("maxBytesPerTrigger")
        self.metrics_dir = opts.get("lagmetricsdir")
        self._pos: dict | None = None  # latest position this run knows
        # startingSequence (the Delta startingVersion analog): a FRESH
        # query begins AFTER this already-materialized source sequence
        # instead of bootstrapping the whole snapshot — how a
        # re-baselined consumer (streaming/rebaseline.py) resumes
        # without re-emitting the state it just batch-loaded. Seeded
        # into _pos here because Spark may prefetch latestOffset before
        # initialOffset on a fresh query; a checkpointed restart replans
        # its last batch first, which re-tracks the (always ≥) real
        # position over this seed.
        start_seq = opts.get("startingsequence")
        if start_seq is not None:
            if int(start_seq) < 0:
                raise ValueError(
                    f"startingSequence must be >= 0, got {start_seq}"
                )
            self._pos = {"seq": int(start_seq)}

    def _track(self, off: dict) -> None:
        if self._pos is None or _off_key(off) > _off_key(self._pos):
            self._pos = dict(off)

    # ------------------------------------------------ driver-side plan
    def initialOffset(self) -> dict:
        # start of stream = nothing consumed (or the caller's
        # startingSequence); bootstrap begins at the next latestOffset
        # (never regress a position learned from a checkpoint replay —
        # Spark may probe initialOffset anyway)
        off = dict(self._pos) if self._pos is not None else {"seq": 0}
        self._track(off)
        return off

    def latestOffset(self) -> dict:
        import math

        from htrtf_spark.sources.iceberg import (
            _ancestors,
            _manifest_files,
            _window,
            current_metadata,
        )

        meta = current_metadata(self.location)
        chain = _ancestors(meta, meta.get("current-snapshot-id"))
        if not chain:
            return {"seq": 0}
        head_seq = int(chain[0]["sequence-number"])
        pos = self._pos
        if pos is None:
            # Spark PREFETCHES latestOffset before initialOffset on a
            # fresh query (PythonStreamingSourceRunner), so an untracked
            # position means "nothing consumed yet" — start the capped
            # bootstrap. On a RESTART the engine always replans the last
            # checkpointed batch (partitions(start, end)) before asking
            # for a new offset, which seeds _pos from the checkpoint;
            # partitions() additionally guards the inconsistent pairing
            # should an engine ever skip that replay.
            pos = {"seq": 0}

        # mid-bootstrap: next file group (one per trigger)
        if "boot_seq" in pos and int(pos["grp"]) < int(pos["ngrp"]):
            nxt = int(pos["grp"]) + 1
            if nxt < int(pos["ngrp"]):
                return {**pos, "grp": nxt}
            return {"seq": int(pos["boot_seq"])}  # bootstrap complete

        cur_seq = int(pos.get("boot_seq", pos.get("seq", 0)))
        if cur_seq >= head_seq:
            return {"seq": cur_seq}  # nothing new (or table rolled back)

        if cur_seq == 0:
            # bootstrap: pin the current snapshot; split its live files
            boot = chain[0]
            files = _manifest_files(boot, 0)
            n_files = len(files)
            ngrp = 1
            if self.max_files:
                ngrp = max(ngrp, math.ceil(n_files / self.max_files))
            if self.max_bytes:
                total = sum(
                    int(f.get("file_size_in_bytes", 0)) for f in files
                )
                # groups are contiguous count-chunks; a bytes cap picks
                # the group COUNT so the AVERAGE group meets the budget
                # (exact per-group byte packing would make group
                # boundaries depend on sizes, breaking offset replay
                # determinism if a file's recorded size ever changed)
                ngrp = max(ngrp, math.ceil(total / self.max_bytes))
            if ngrp > 1:
                ngrp = min(ngrp, n_files) or 1
            if ngrp > 1:
                return {
                    "seq": 0,
                    "boot_sid": int(boot["snapshot-id"]),
                    "boot_seq": head_seq,
                    "grp": 1,
                    "ngrp": ngrp,
                }
            return {"seq": head_seq}

        # append advance along the live branch, capped; replace
        # snapshots surface no rows (skipped in planning) so sliding
        # over them is free and never counts against the caps
        last, files_acc, bytes_acc, snaps_acc = cur_seq, 0, 0, 0
        for sn in _window(meta, cur_seq, chain[0]):
            if sn.get("summary", {}).get("operation") == "replace":
                last = int(sn["sequence-number"])
                continue
            n = int(sn.get("summary", {}).get("added-data-files", 0))
            b = int(sn.get("summary", {}).get("added-files-size", 0))
            if snaps_acc > 0 and (
                (self.max_snapshots and snaps_acc >= self.max_snapshots)
                or (self.max_files and files_acc + n > self.max_files)
                or (self.max_bytes and bytes_acc + b > self.max_bytes)
            ):
                break
            files_acc += n
            bytes_acc += b
            snaps_acc += 1
            last = int(sn["sequence-number"])
        return {"seq": last}

    def _write_lag_metrics(
        self, start: dict, end: dict, records: list, meta: dict
    ) -> None:
        """One JSONL row per planned batch (files, bytes, sequence lag
        behind the table head) — the stream-side analog of the
        incremental job's tick_metrics lineage (plans/incremental.py)."""
        if not self.metrics_dir:
            return
        import json
        import os
        import time

        from htrtf_spark.sources.iceberg import _ancestors

        chain = _ancestors(meta, meta.get("current-snapshot-id"))
        head_seq = int(chain[0]["sequence-number"]) if chain else 0
        end_seq = int(end.get("boot_seq", end.get("seq", 0)))
        row = {
            "start": start,
            "end": end,
            "files": sum(1 for r in records if r is not None),
            "bytes": int(
                sum(int(r.get("file_size_in_bytes", 0)) for r in records)
            ),
            "seq_lag": max(0, head_seq - end_seq),
            "boot_groups_remaining": (
                int(end["ngrp"]) - int(end["grp"])
                if "boot_seq" in end
                and int(end.get("grp", 0)) < int(end.get("ngrp", 0))
                else 0
            ),
            "ts_ms": int(time.time() * 1000),
        }
        os.makedirs(self.metrics_dir, exist_ok=True)
        with open(
            os.path.join(self.metrics_dir, "batch_lag.jsonl"), "a"
        ) as f:
            f.write(json.dumps(row, sort_keys=True) + "\n")

    def partitions(self, start: dict, end: dict):
        from htrtf_spark.sources.iceberg import (
            _appended_files,
            _manifest_files,
            _read_plans,
            _schema_by_id,
            current_metadata,
        )

        meta = current_metadata(self.location)
        # a replanned checkpoint batch is how a restarted reader learns
        # its position (the engine replays the last offset-log entry
        # before requesting a new offset) — track BOTH ends
        self._track(start)
        # PIN the window to table METADATA snapshots: each batch
        # surfaces what each APPEND snapshot in (lo, hi] itself added
        # (``_appended_files``, shared with read_iceberg_increment).
        # Planning from the CURRENT live file set would let a compaction
        # committed between offset capture and planning (or before a
        # checkpoint replay) swap the file set: rewritten files carry a
        # NEW sequence (whole-table duplication) while the window's
        # original appends disappear from the live view (loss).

        def _offset_snap(key: str, value: int):
            for sn in meta["snapshots"]:
                if int(sn[key]) == value:
                    return sn
            raise RuntimeError(
                f"offset snapshot ({key} {value}) is no longer in "
                f"{self.location!r} metadata (expired between offset "
                "capture and planning?) - restart from a fresh "
                "checkpoint to re-baseline"
            )

        def _boot_slice(boff: dict, g_lo: int, g_hi: int) -> list:
            boot = _offset_snap("snapshot-id", int(boff["boot_sid"]))
            files = _manifest_files(boot, 0)
            bounds = _chunk_bounds(len(files), int(boff["ngrp"]))
            lo_i = bounds[g_lo][0] if g_lo < len(bounds) else len(files)
            hi_i = bounds[g_hi - 1][1] if g_hi >= 1 else 0
            return files[lo_i:hi_i]

        records: list = []
        if (
            "boot_seq" in end
            and int(end["grp"]) < int(end["ngrp"])
            and "boot_seq" not in start
            and int(start.get("seq", 0)) > 0
        ):
            # inconsistent pairing (bootstrap end against a non-zero
            # consumed position — only possible if an engine skipped the
            # restart replay and latestOffset re-derived a bootstrap):
            # plan it as a plain append window up to the pinned
            # snapshot and normalize the tracked position past the
            # bootstrap so no file group ever re-surfaces consumed rows
            end = {"seq": int(end["boot_seq"])}
        if "boot_seq" in end and int(end["grp"]) < int(end["ngrp"]):
            # bootstrap in progress: groups (start.grp, end.grp] of the
            # pinned snapshot's live files (replace files included —
            # this is a full-state load, same as the legacy lo=0 batch)
            g_lo = int(start["grp"]) if "boot_seq" in start else 0
            records = _boot_slice(end, g_lo, int(end["grp"]))
            end_snap = _offset_snap("snapshot-id", int(end["boot_sid"]))
        else:
            hi = int(end.get("boot_seq", end["seq"]))
            if hi == 0:
                end_snap, records = None, []
            else:
                end_snap = _offset_snap("sequence-number", hi)
                if "boot_seq" in start and int(start["grp"]) < int(
                    start["ngrp"]
                ):
                    # finish the bootstrap's remaining groups, plus any
                    # appends after the pinned snapshot
                    records = _boot_slice(
                        start, int(start["grp"]), int(start["ngrp"])
                    )
                    lo = int(start["boot_seq"])
                else:
                    lo = int(start.get("boot_seq", start["seq"]))
                if "boot_seq" not in start and lo == 0:
                    # legacy/uncapped FIRST batch = full load of the
                    # pinned snapshot (live files, replace snapshots
                    # included): a stream starting on a table whose
                    # pre-compaction history was expired would
                    # otherwise skip the replace snapshot and surface
                    # NOTHING. Exactly extract_increment_once's
                    # bootstrap semantics.
                    records = _manifest_files(end_snap, 0)
                else:
                    records = records + _appended_files(meta, lo, end_snap)
        if end_snap is None:
            self._write_lag_metrics(start, end, [], meta)
            self._track(end)
            return [_FilePartition(None, (), ())]

        ice_schema = _schema_by_id(
            meta, end_snap.get("schema-id", meta["current-schema-id"])
        )
        types = tuple(f["type"] for f in ice_schema["fields"])
        # deletes visible at the batch's upper snapshot
        plans = _read_plans(records, ice_schema, _manifest_files(end_snap, 1))
        parts = [
            _FilePartition(rec["file_path"], plan, types)
            for rec, plan in zip(records, plans)
        ]
        if not parts:  # Spark requires ≥1 partition per batch
            parts = [_FilePartition(None, (), ())]
        self._write_lag_metrics(start, end, records, meta)
        self._track(end)
        return parts

    def commit(self, end: dict) -> None:
        # offsets live in the query checkpoint; tracking the committed
        # position lets the FIRST latestOffset after a restart advance
        # capped from it instead of falling back to the uncapped head
        self._track(end)

    # --------------------------------------------- executor-side read
    def read(self, partition):
        """The file's rows under its plan, in the batch scan's order:
        position deletes by row index, then field-id column resolution,
        then equality deletes on the resolved columns."""
        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        if partition.file_path is None:
            return iter(())
        constants, columns, eq_deletes, pos_deletes = partition.plan
        tbl = pq.read_table(partition.file_path)

        # position deletes first (row index is this file's read order)
        if pos_deletes:
            keep = np.ones(tbl.num_rows, dtype=bool)
            for dpath in pos_deletes:
                dt = pq.read_table(dpath)
                hit = dt.filter(pc.equal(dt["file_path"], partition.file_path))
                pos = pc.drop_null(hit["pos"]).to_numpy()
                keep[pos[(pos >= 0) & (pos < tbl.num_rows)]] = False
            tbl = tbl.filter(pa.array(keep))

        # field-id column resolution: a column the file predates reads
        # as typed nulls, an identity partition column as a typed
        # constant at its schema position
        consts = dict(constants)
        arrays = {}
        for (tname, wname), ice_t in zip(columns, partition.types):
            at = _ICE_TO_ARROW(ice_t)
            if tname in consts:
                arrays[tname] = pa.repeat(
                    pa.scalar(consts[tname], type=at), tbl.num_rows
                )
            elif wname is not None and wname in tbl.column_names:
                arrays[tname] = tbl.column(wname)
            else:
                arrays[tname] = pa.nulls(tbl.num_rows, type=at)
        out = pa.table(arrays)

        # equality deletes last, by target name and NULL-safe (a null
        # key deletes rows whose column is null): each key column of
        # file and delete rows is dictionary-encoded jointly, nulls
        # included, and the per-column codes fold into one row code
        for dpath, keys in eq_deletes:
            n = out.num_rows
            if n == 0:
                break
            dt = pq.read_table(dpath, columns=[dc for dc, _tc in keys])
            code = np.zeros(n + dt.num_rows, dtype=np.int64)
            for dc, tc in keys:
                col = out.column(tc)
                both = pa.chunked_array(
                    col.chunks + dt.column(dc).cast(col.type).chunks,
                    type=col.type,
                )
                enc = pc.dictionary_encode(both, null_encoding="encode")
                idx = np.concatenate(
                    [c.indices.to_numpy(zero_copy_only=False) for c in enc.chunks]
                ).astype(np.int64)
                code = np.unique(
                    code * (int(idx.max()) + 1) + idx, return_inverse=True
                )[1].astype(np.int64)
            out = out.filter(pa.array(~np.isin(code[:n], code[n:])))
        return iter(out.to_batches())


def _ICE_TO_ARROW(ice_t: str):
    import pyarrow as pa

    return {
        "string": pa.string(),
        "int": pa.int32(),
        "long": pa.int64(),
        "double": pa.float64(),
        "float": pa.float32(),
        "boolean": pa.bool_(),
        "date": pa.date32(),
        "binary": pa.binary(),
        "timestamptz": pa.timestamp("us", tz="UTC"),
        "timestamp": pa.timestamp("us"),
    }[ice_t]


_ICE_TO_DDL = {
    "string": "string",
    "int": "int",
    "long": "bigint",
    "double": "double",
    "float": "float",
    "boolean": "boolean",
    "date": "date",
    "binary": "binary",
    "timestamptz": "timestamp",
    "timestamp": "timestamp_ntz",
}


class IcebergIncrementalSource(DataSource):
    """format("htrtf_iceberg") — see module docstring."""

    @classmethod
    def name(cls) -> str:
        return "htrtf_iceberg"

    def schema(self) -> str:
        from htrtf_spark.sources.iceberg import _schema_by_id, current_metadata

        loc = self.options.get("location")
        if not loc:
            raise ValueError("htrtf_iceberg needs .option('location', <table path>)")
        meta = current_metadata(loc)
        ice_schema = _schema_by_id(meta, meta["current-schema-id"])
        cols = ", ".join(
            f"{f['name']} {_ICE_TO_DDL[f['type']]}" for f in ice_schema["fields"]
        )
        return cols

    def streamReader(self, schema):
        return IcebergStreamReader(self.options["location"], dict(self.options))


def register(spark) -> None:
    """Register the source on a session:
    ``iceberg_stream.register(spark)`` then
    ``spark.readStream.format("htrtf_iceberg")``."""
    spark.dataSource.register(IcebergIncrementalSource)
