"""Checkpoint/resume with per-partition lineage (north-rule requirement).

Reference analog: per-epoch model checkpoints + latest_checkpoint resume
(/root/reference/Modules/tasks.py:97,41,141; Saver at
Projects/IAM_lines/Structure_006/Structure_006.py:163) and the
append-mode log flushed at stage boundaries (Modules/utils.py:3-27).

Design: work splits into ``n_buckets`` deterministic buckets by
``pmod(xxhash64(conv_id), n_buckets)`` — a conversation never straddles
buckets, so each bucket's output is independent and idempotent. A run is:

  1. ONE Python pass over the pending buckets' raw turns (scanned once
     per resume attempt, never once per bucket). The turns are shuffled
     by id so that staging task p holds bucket p mod n_buckets only,
     k = ceil(defaultParallelism / n_buckets) tasks per bucket. Each
     task runs the extraction kernel and streams the rows to one parquet
     file in ``<out>/_staging/_bucket=<b>/``; the extracted rows never
     return to the JVM. It returns its file's lineage counts from the
     footer it just wrote (rows and the ``reject_reason`` null count).
  2. per pending bucket, an atomic COMMIT on the driver, with no Spark
     job: a move of the staged directory to ``<out>/data/bucket=<b>/``
     followed by the manifest row publish (a dot-tmp file, then a move,
     so a crash can never leave a half manifest — SURVEY.md §7.4 risk 5).

Resume = list manifest, recompute only missing buckets. A kill during
staging commits nothing (the staging dir is discarded on restart); a
kill during the commit loop keeps every published bucket. Restart
therefore produces byte-identical output to an uninterrupted run
(tested). Every manifest row records ``n_buckets`` and a run with a
different bucket count against a partial manifest is REFUSED — the two
partitionings are incompatible and mixing them would silently duplicate
and drop conversations.

All file access, the tasks' writes included, goes through one
``pyarrow.fs`` filesystem resolved from ``out_dir``: a local path,
``file://``, or another scheme pyarrow.fs opens (``hdfs://`` needs
libhdfs; ``s3://`` and ``gs://`` need a pyarrow built with them).
Hadoop-only schemes such as ``s3a://`` are refused before any Spark
job. ``prune_checkpoints`` is a local-filesystem utility.
"""

from __future__ import annotations

import functools
import os
import time
from datetime import datetime, timezone
from urllib.parse import urlparse

import pyarrow as pa
import pyarrow.parquet as pq
from pyarrow import fs as pafs
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from htrtf_spark.plans.pipeline import EXTRACT_KERNEL, extraction_input
from htrtf_spark.sources.iceberg import write_task_files

MANIFEST_DIR = "_manifest"
DATA_DIR = "data"
STAGING_DIR = "_staging"

_MANIFEST_SCHEMA = (
    "bucket int, n_buckets int, rows_in long, rows_out long, "
    "rows_rejected long, wall_ms long, turns_per_sec double, "
    "finished_at string"
)


class KilledForTest(RuntimeError):
    """Raised by the fail-injection hook in tests."""


# ---------------------------------------------------------------- FS layer
def _filesystem(out_dir: str) -> tuple[pafs.FileSystem, str]:
    """``out_dir``'s pyarrow filesystem and its path on it. Refuses a
    scheme that pyarrow.fs cannot open."""
    scheme = urlparse(out_dir).scheme
    if not scheme:
        return pafs.LocalFileSystem(), os.path.abspath(out_dir)
    try:
        fs, path = pafs.FileSystem.from_uri(out_dir)
    except (pa.ArrowException, OSError) as e:
        raise ValueError(
            f"checkpoint output {out_dir!r}: pyarrow.fs cannot open scheme "
            f"{scheme!r} ({e}); use a local path or file, hdfs, s3 or gs"
        ) from e
    return fs, path.rstrip("/")


def _names(fs: pafs.FileSystem, path: str, recursive: bool = False) -> dict:
    """{name: path} of the entries under ``path`` (none if missing)."""
    sel = pafs.FileSelector(path, allow_not_found=True, recursive=recursive)
    return {i.base_name: i.path for i in fs.get_file_info(sel)}


def _rmtree(fs: pafs.FileSystem, path: str) -> None:
    if fs.get_file_info(path).type != pafs.FileType.NotFound:
        fs.delete_dir(path)


def _footer_counts(md: pq.FileMetaData, path: str) -> tuple[int, int]:
    """(rows, rejected rows) from a parquet footer's row-group counts
    and ``reject_reason`` null counts; raises if one lacks the latter."""
    col = md.schema.names.index("reject_reason")
    rows = rejected = 0
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        stats = rg.column(col).statistics
        if stats is None or not stats.has_null_count:
            raise ValueError(f"{path}: no reject_reason null count")
        rows += rg.num_rows
        rejected += rg.num_rows - stats.null_count
    return rows, rejected


# ---------------------------------------------------------------- manifest
def completed_buckets(out_dir: str) -> set[int]:
    fs, root = _filesystem(out_dir)
    return _completed(_names(fs, f"{root}/{MANIFEST_DIR}"))


def _completed(names) -> set[int]:
    return {
        int(n[len("bucket-") : -len(".parquet")])
        for n in names
        if n.startswith("bucket-") and n.endswith(".parquet")
    }


def _publish_manifest_row(fs: pafs.FileSystem, mdir: str, row: dict) -> None:
    """Atomic publish into the existing manifest dir ``mdir``: write a
    dot-tmp file, then move it onto the final name."""
    name = f"bucket-{row['bucket']:05d}.parquet"
    tmp = f"{mdir}/.{name}.tmp"
    pq.write_table(pa.Table.from_pylist([row]), tmp, filesystem=fs)
    fs.move(tmp, f"{mdir}/{name}")


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    if not completed_buckets(out_dir):
        return spark.createDataFrame([], _MANIFEST_SCHEMA)
    return spark.read.parquet(os.path.join(out_dir, MANIFEST_DIR, "*.parquet"))


# ---------------------------------------------------------------- the job
def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def run_extraction_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    fail_after_buckets: int | None = None,
) -> list[int]:
    """Run (or resume) the extraction job.

    Returns the list of buckets committed in THIS invocation. Skips
    buckets already in the manifest (resume = anti-join pending work,
    SURVEY.md S10); refuses to resume a manifest written with a
    different ``n_buckets``. ``fail_after_buckets`` injects a crash in
    the commit loop for the resume test.
    """
    fs, root = _filesystem(out_dir)
    staging, data, mdir = (f"{root}/{d}" for d in (STAGING_DIR, DATA_DIR, MANIFEST_DIR))
    done = _completed(_names(fs, mdir))
    if done:
        seen = set(pq.read_table(mdir, columns=["n_buckets"], filesystem=fs)[0].to_pylist())
        if seen != {n_buckets}:
            raise ValueError(
                f"manifest at {out_dir} was written with n_buckets={sorted(seen)}; "
                f"resuming with n_buckets={n_buckets} would mix two incompatible "
                "bucket partitionings (duplicate + missing rows). Use the "
                "original bucket count or a fresh output dir."
            )
    pending = [b for b in range(n_buckets) if b not in done]
    if not pending:
        return []

    _rmtree(fs, staging)  # discard any half-staged previous attempt

    src = extraction_input(transcripts).withColumn("_bucket", _bucket_col(n_buckets))
    if len(pending) < n_buckets:
        src = src.filter(F.col("_bucket").isin(pending))
    # Task p holds bucket p mod n_buckets only, split over k salted tasks
    # so the kernel never runs on fewer tasks than cores. By id, not by
    # hash: murmur3 would leave some tasks empty and give others two
    # buckets.
    k = -(-spark.sparkContext.defaultParallelism // n_buckets)
    salt = F.pmod(F.xxhash64("conv_id", "turn_idx"), F.lit(k)).cast("int")
    frame = src.repartitionById(n_buckets * k, F.col("_bucket") + n_buckets * salt)
    t0 = time.monotonic()
    staged = _stage(frame, fs, staging, n_buckets)
    pass_wall_ms = max(int((time.monotonic() - t0) * 1000), 1)

    stats: dict[int, tuple[int, int]] = {}
    for r in staged:
        n, rej = stats.get(r["bucket"], (0, 0))
        stats[r["bucket"]] = (n + r["rows"], rej + r["rejected"])
    # a failed or speculative task attempt's file is in no record
    kept = {r["file"] for r in staged}
    for name, path in _names(fs, staging, recursive=True).items():
        if name.endswith(".parquet") and name not in kept:
            fs.delete_file(path)
    total_rows = sum(n for n, _ in stats.values()) or 1

    fs.create_dir(data)
    fs.create_dir(mdir)
    in_data = _names(fs, data)
    ran: list[int] = []
    for b in pending:
        if b in stats:
            dst = f"{data}/bucket={b}"
            if f"bucket={b}" in in_data:
                fs.delete_dir(dst)  # partial dir from a crashed commit
            fs.move(f"{staging}/_bucket={b}", dst)
        n, rej = stats.get(b, (0, 0))
        # wall is attributed to buckets proportionally to their rows (the
        # pass is shared); turns_per_sec is therefore the pass aggregate
        share_ms = max(int(pass_wall_ms * n / total_rows), 1)
        _publish_manifest_row(fs, mdir, {
            "bucket": b, "n_buckets": n_buckets,
            # 1:1 in/out incl. rejects
            "rows_in": n, "rows_out": n - rej, "rows_rejected": rej,
            "wall_ms": share_ms, "turns_per_sec": float(n) / (share_ms / 1000.0),
            "finished_at": datetime.now(timezone.utc).isoformat(),
        })
        ran.append(b)
        if fail_after_buckets is not None and len(ran) >= fail_after_buckets:
            raise KilledForTest(f"injected failure after {len(ran)} buckets")
    _rmtree(fs, staging)
    return ran


def _stage(frame: DataFrame, fs, staging: str, n_buckets: int) -> list:
    """The run's one Spark job: every task of ``frame`` runs
    ``_stage_task``. Returns their (bucket, file, rows, rejected) rows."""
    from pyspark.sql.pandas.types import to_arrow_schema

    fn, ddl = EXTRACT_KERNEL
    schema = to_arrow_schema(T.DataType.fromDDL(ddl))
    task = functools.partial(_stage_task, fn=fn, schema=schema, fs=fs,
                             staging=staging, n_buckets=n_buckets)
    return frame.mapInArrow(task, "bucket long, file string, rows long, rejected long").collect()


def _stage_task(batches, fn, schema, fs, staging, n_buckets):
    """One staging task: bucket ``partitionId mod n_buckets``'s rows,
    run through ``fn`` and written under ``_staging/_bucket=<b>/``."""
    from pyspark import TaskContext

    b = TaskContext.get().partitionId() % n_buckets
    out = f"{staging}/_bucket={b}"
    for _key, path, md, _size in write_task_files(fn(batches), out, schema, [], fs):
        rows, rejected = _footer_counts(md, path)
        name = path.rsplit("/", 1)[-1]
        yield pa.RecordBatch.from_pylist(
            [{"bucket": b, "file": name, "rows": rows, "rejected": rejected}]
        )


def read_output(spark: SparkSession, out_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(out_dir, DATA_DIR))


def prune_checkpoints(root_dir: str, keep_last: int = 5) -> list[str]:
    """Retention policy over job-run checkpoint directories (the
    max_to_keep=5 analog, /root/reference/Projects/IAM_lines/
    Structure_006/Structure_006.py:163): keeps the ``keep_last`` most
    recently finished run dirs under ``root_dir`` (by the newest manifest
    mtime inside each), removes the rest. Returns removed dirs.
    Local-filesystem utility."""
    import shutil

    runs = []
    for name in sorted(os.listdir(root_dir)):
        mdir = os.path.join(root_dir, name, MANIFEST_DIR)
        if os.path.isdir(mdir):
            mtimes = [
                os.path.getmtime(os.path.join(mdir, f))
                for f in os.listdir(mdir)
                if f.endswith(".parquet")
            ]
            if mtimes:
                runs.append((max(mtimes), os.path.join(root_dir, name)))
    runs.sort(reverse=True)
    removed = []
    for _mt, path in runs[keep_last:]:
        shutil.rmtree(path)
        removed.append(path)
    return removed
