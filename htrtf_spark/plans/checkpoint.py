"""Checkpoint/resume with per-partition lineage (north-rule requirement).

Reference analog: per-epoch model checkpoints + latest_checkpoint resume
(/root/reference/Modules/tasks.py:97,41,141; Saver at
Projects/IAM_lines/Structure_006/Structure_006.py:163) and the
append-mode log flushed at stage boundaries (Modules/utils.py:3-27).

Design: work splits into ``n_buckets`` deterministic buckets by
``pmod(xxhash64(conv_id), n_buckets)`` — a conversation never straddles
buckets, so each bucket's output is independent and idempotent. A run is:

  1. ONE extraction pass over the pending buckets only, written
     ``partitionBy(_bucket)`` into ``<out>/_staging/`` by exactly one
     write task per bucket (the input is scanned once per resume
     attempt, never once per bucket — at 100 TB a per-bucket rescan
     would read n_buckets x corpus);
  2. per pending bucket, an atomic COMMIT: FileSystem.rename of the
     staged directory to ``<out>/data/bucket=<b>/`` followed by the
     manifest row publish (write-temp-rename, so a crash can never leave
     a half manifest — SURVEY.md §7.4 risk 5). The lineage counts come
     from the staged files' parquet footers (row counts and the
     ``reject_reason`` null counts), so the commit runs no Spark job.

Resume = list manifest, recompute only missing buckets. A kill during
staging commits nothing (the staging dir is discarded on restart); a
kill during the commit loop keeps every published bucket. Restart
therefore produces byte-identical output to an uninterrupted run
(tested). Every manifest row records ``n_buckets`` and a run with a
different bucket count against a partial manifest is REFUSED — the two
partitionings are incompatible and mixing them would silently duplicate
and drop conversations.

All filesystem operations, footer reads included, go through one Hadoop
FileSystem handle per run for ``out_dir``'s scheme (local, HDFS, s3a,
...), so the same job works under ``spark-submit --master <cluster>``
with a remote --output; only ``prune_checkpoints`` is a local-filesystem
utility.
"""

from __future__ import annotations

import os
import tempfile
import time
from datetime import datetime, timezone

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htrtf_spark.plans.pipeline import extract_turns

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
def _hadoop_fs(spark: SparkSession, path: str):
    """The FileSystem of ``path``'s scheme and the Hadoop ``Path`` class.
    Resolve them once per run: a ``spark._jvm.<class>`` lookup makes a
    py4j round trip per package segment (2-4 ms, ~10x a FS call)."""
    Path = spark._jvm.org.apache.hadoop.fs.Path
    return Path(path).getFileSystem(spark._jsc.hadoopConfiguration()), Path


def _names(fs, jpath) -> set[str]:
    if not fs.exists(jpath):
        return set()
    return {st.getPath().getName() for st in fs.listStatus(jpath)}


def _staged_counts(fs, Path, staging: str) -> dict[int, tuple[int, int]]:
    """Per staged bucket, (rows, rejected rows) from its parquet footers:
    row-group ``num_rows`` and the ``reject_reason`` null count. Raises
    if a footer lacks that null count."""
    counts = {}
    # hidden names (".crc" checksums, "_SUCCESS" markers) are not data
    for st in fs.globStatus(Path(os.path.join(staging, "_bucket=*", "[!._]*"))):
        path, size = st.getPath(), st.getLen()
        stream = fs.open(path)
        try:
            stream.seek(size - 8)
            tail = stream.readNBytes(8)  # footer length + "PAR1"
            n = int.from_bytes(tail[:4], "little")
            stream.seek(size - 8 - n)
            footer = stream.readNBytes(n)
        finally:
            stream.close()
        md = pq.read_metadata(pa.BufferReader(b"PAR1" + footer + tail))
        b = int(path.getParent().getName()[len("_bucket=") :])
        rows, rejected = counts.get(b, (0, 0))
        col = md.schema.names.index("reject_reason")
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            stats = rg.column(col).statistics
            if stats is None or not stats.has_null_count:
                raise ValueError(f"{path}: no reject_reason null count")
            rows += rg.num_rows
            rejected += rg.num_rows - stats.null_count
        counts[b] = (rows, rejected)
    return counts


# ---------------------------------------------------------------- manifest
def completed_buckets(out_dir: str, spark: SparkSession | None = None) -> set[int]:
    spark = spark or SparkSession.getActiveSession()
    mdir = os.path.join(out_dir, MANIFEST_DIR)
    if spark is None:  # no session: local-filesystem fallback
        return _completed(os.listdir(mdir) if os.path.isdir(mdir) else [])
    fs, Path = _hadoop_fs(spark, mdir)
    return _completed(_names(fs, Path(mdir)))


def _completed(names) -> set[int]:
    return {
        int(n[len("bucket-") : -len(".parquet")])
        for n in names
        if n.startswith("bucket-") and n.endswith(".parquet")
    }


def _publish_manifest_row(fs, Path, mdir: str, row: dict) -> None:
    """Atomic publish into the existing manifest dir ``mdir`` through its
    FileSystem: local temp parquet → copyFromLocalFile to a dot-tmp name
    → rename to final."""
    name = f"bucket-{row['bucket']:05d}.parquet"
    jfinal = Path(os.path.join(mdir, name))
    jtmp = Path(os.path.join(mdir, "." + name + ".tmp"))
    with tempfile.NamedTemporaryFile(suffix=".parquet", delete=False) as f:
        local = f.name
    try:
        pq.write_table(pa.Table.from_pylist([row]), local)
        fs.copyFromLocalFile(True, True, Path("file:" + local), jtmp)
        fs.delete(jfinal, False)  # no-op unless a stale final exists
        if not fs.rename(jtmp, jfinal):
            raise IOError(f"rename failed: {jtmp} -> {jfinal}")
    finally:
        if os.path.exists(local):
            os.unlink(local)


def read_manifest(spark: SparkSession, out_dir: str) -> DataFrame:
    mdir = os.path.join(out_dir, MANIFEST_DIR)
    fs, Path = _hadoop_fs(spark, mdir)
    if not fs.exists(Path(mdir)):
        return spark.createDataFrame([], _MANIFEST_SCHEMA)
    return spark.read.parquet(os.path.join(mdir, "*.parquet"))


# ---------------------------------------------------------------- the job
def _bucket_col(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


def run_extraction_checkpointed(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    n_buckets: int = 16,
    num_partitions: int | None = None,
    fail_after_buckets: int | None = None,
) -> list[int]:
    """Run (or resume) the extraction job.

    Returns the list of buckets committed in THIS invocation. Skips
    buckets already in the manifest (resume = anti-join pending work,
    SURVEY.md S10); refuses to resume a manifest written with a
    different ``n_buckets``. ``fail_after_buckets`` injects a crash in
    the commit loop for the resume test.
    """
    fs, Path = _hadoop_fs(spark, out_dir)
    staging, data, mdir = (
        os.path.join(out_dir, d) for d in (STAGING_DIR, DATA_DIR, MANIFEST_DIR)
    )
    done = _completed(_names(fs, Path(mdir)))
    if done:
        rows = spark.read.parquet(os.path.join(mdir, "*.parquet")).select("n_buckets")
        seen = {r["n_buckets"] for r in rows.distinct().collect()}
        if seen and seen != {n_buckets}:
            raise ValueError(
                f"manifest at {out_dir} was written with n_buckets={sorted(seen)}; "
                f"resuming with n_buckets={n_buckets} would mix two incompatible "
                "bucket partitionings (duplicate + missing rows). Use the "
                "original bucket count or a fresh output dir."
            )
    pending = [b for b in range(n_buckets) if b not in done]
    if not pending:
        return []

    fs.delete(Path(staging), True)  # discard any half-staged previous attempt

    src = transcripts.withColumn("_bucket", _bucket_col(n_buckets))
    if len(pending) < n_buckets:
        src = src.filter(F.col("_bucket").isin(pending))
    t0 = time.monotonic()
    extracted = extract_turns(src.drop("_bucket"), num_partitions=num_partitions)
    # the bucket id is a pure function of conv_id — recomputable on the
    # extracted rows, so extraction itself stays a narrow 4-column stage.
    # One shuffle on the (smaller) extracted rows sends bucket b to write
    # task b before the partitioned write: without it, partitionBy emits
    # input_tasks x n_buckets files (4k even at bench scale, unbounded at
    # cluster scale). By id, not by hash: murmur3 would leave some tasks
    # empty and give others two buckets.
    staged = extracted.withColumn("_bucket", _bucket_col(n_buckets)).repartitionById(
        n_buckets, "_bucket"
    )
    # Spark's writer, not the Iceberg layer's task-side pyarrow writer:
    # staging goes through Hadoop FileSystem, so out_dir may be HDFS/s3a
    staged.write.partitionBy("_bucket").mode("overwrite").parquet(staging)
    pass_wall_ms = max(int((time.monotonic() - t0) * 1000), 1)

    # lineage counts from the footers of what was actually staged
    # (validates the write) — no second pass over the rows
    stats = _staged_counts(fs, Path, staging)
    total_rows = sum(n for n, _ in stats.values()) or 1

    fs.mkdirs(Path(data))
    fs.mkdirs(Path(mdir))
    # one listing, not an exists() per bucket: the loop below only adds
    # the data dirs of buckets it has already passed
    in_data = _names(fs, Path(data))
    ran: list[int] = []
    for b in pending:
        if b in stats:
            jdata = Path(os.path.join(data, f"bucket={b}"))
            if f"bucket={b}" in in_data:
                fs.delete(jdata, True)  # partial dir from a crashed commit
            if not fs.rename(Path(os.path.join(staging, f"_bucket={b}")), jdata):
                raise IOError(f"rename failed: bucket {b} -> {jdata}")
        n, rej = stats.get(b, (0, 0))
        # wall is attributed to buckets proportionally to their rows (the
        # pass is shared); turns_per_sec is therefore the pass aggregate
        share_ms = max(int(pass_wall_ms * n / total_rows), 1)
        _publish_manifest_row(
            fs, Path, mdir,
            {
                "bucket": b,
                "n_buckets": n_buckets,
                "rows_in": n,  # 1:1 in/out incl. rejects
                "rows_out": n - rej,
                "rows_rejected": rej,
                "wall_ms": share_ms,
                "turns_per_sec": float(n) / (share_ms / 1000.0),
                "finished_at": datetime.now(timezone.utc).isoformat(),
            },
        )
        ran.append(b)
        if fail_after_buckets is not None and len(ran) >= fail_after_buckets:
            raise KilledForTest(f"injected failure after {len(ran)} buckets")
    fs.delete(Path(staging), True)
    return ran


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
