"""Checkpoint/resume: kill after k buckets, restart, output identical to an
uninterrupted run; lineage manifest complete and conserving."""

from __future__ import annotations

from pathlib import Path

import pandas as pd
import pytest

from htrtf_spark import synth
from htrtf_spark.plans import checkpoint as ckpt
from htrtf_spark.plans.pipeline import extract_turns
from htrtf_spark.schema import TRANSCRIPTS_SCHEMA

N_BUCKETS = 6
ROOT = Path(__file__).resolve().parents[1]


def _sorted(pdf: pd.DataFrame) -> pd.DataFrame:
    return (
        pdf.sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
        .reindex(sorted(pdf.columns), axis=1)
    )


def test_kill_and_resume_identical(spark, tmp_path):
    src_pdf = synth.synth_pandas(n_convs=25, seed=11)
    df = spark.createDataFrame(src_pdf, schema=TRANSCRIPTS_SCHEMA)

    oneshot = _sorted(extract_turns(df).toPandas())

    out_dir = str(tmp_path / "ck")
    with pytest.raises(ckpt.KilledForTest):
        ckpt.run_extraction_checkpointed(
            spark, df, out_dir, n_buckets=N_BUCKETS, fail_after_buckets=2
        )
    assert len(ckpt.completed_buckets(out_dir)) == 2

    ran = ckpt.run_extraction_checkpointed(spark, df, out_dir, n_buckets=N_BUCKETS)
    assert len(ran) == N_BUCKETS - 2
    assert ckpt.completed_buckets(out_dir) == set(range(N_BUCKETS))

    resumed = _sorted(ckpt.read_output(spark, out_dir).drop("bucket").toPandas())
    pd.testing.assert_frame_equal(oneshot, resumed)

    # second resume is a no-op (idempotent)
    assert ckpt.run_extraction_checkpointed(spark, df, out_dir, n_buckets=N_BUCKETS) == []


def test_checkpoint_retention(spark, tmp_path):
    """max_to_keep analog: only the newest k run dirs survive pruning."""
    import os
    import time

    src = spark.createDataFrame(
        synth.synth_pandas(n_convs=4, seed=1), schema=TRANSCRIPTS_SCHEMA
    )
    root = str(tmp_path / "runs")
    for i in range(4):
        ckpt.run_extraction_checkpointed(spark, src, f"{root}/run{i}", n_buckets=2)
        time.sleep(0.05)
    removed = ckpt.prune_checkpoints(root, keep_last=2)
    assert sorted(os.path.basename(p) for p in removed) == ["run0", "run1"]
    assert sorted(os.listdir(root)) == ["run2", "run3"]


def test_manifest_lineage_conservation(spark, tmp_path):
    src_pdf = synth.synth_pandas(n_convs=15, seed=13)
    df = spark.createDataFrame(src_pdf, schema=TRANSCRIPTS_SCHEMA)
    out_dir = str(tmp_path / "ck2")
    ckpt.run_extraction_checkpointed(spark, df, out_dir, n_buckets=N_BUCKETS)
    man = ckpt.read_manifest(spark, out_dir).toPandas()
    assert len(man) == N_BUCKETS
    assert int(man["rows_in"].sum()) == len(src_pdf)
    assert int(man["rows_out"].sum() + man["rows_rejected"].sum()) == len(src_pdf)
    assert (man["wall_ms"] >= 0).all()
    assert (man["turns_per_sec"] >= 0).all()


def test_manifest_counts_match_output(spark, tmp_path):
    """The footer-derived lineage counts equal a count over the committed
    rows, bucket by bucket, on an input that has rejects."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        synth.synth_pandas(n_convs=30, seed=5), schema=TRANSCRIPTS_SCHEMA
    )
    out_dir = str(tmp_path / "ck4")
    ckpt.run_extraction_checkpointed(spark, df, out_dir, n_buckets=N_BUCKETS)
    man = {
        r["bucket"]: (r["rows_in"], r["rows_rejected"])
        for r in ckpt.read_manifest(spark, out_dir).collect()
    }
    got = {
        r["bucket"]: (r["n"], r["rej"])
        for r in ckpt.read_output(spark, out_dir)
        .groupBy("bucket")
        .agg(F.count("*").alias("n"), F.count("reject_reason").alias("rej"))
        .collect()
    }
    assert sum(rej for _, rej in got.values()) > 0
    assert man == {b: got.get(b, (0, 0)) for b in range(N_BUCKETS)}


def _record_staging(monkeypatch, spark):
    """Wrap the staging job: remember the staged frame, run the job
    under job group "staging" and everything after it under
    "after-staging"."""
    real, staged = ckpt._stage, []

    def stage(frame, *args):
        spark.sparkContext.setJobGroup("staging", "checkpoint staging")
        out = real(frame, *args)
        staged.append(frame)
        spark.sparkContext.setJobGroup("after-staging", "checkpoint commit")
        return out

    monkeypatch.setattr(ckpt, "_stage", stage)
    return staged


def _jobs(spark, group: str) -> list[int]:
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_commit_launches_no_spark_job(spark, tmp_path, monkeypatch):
    """A fresh run's commit (counts, renames, manifest) is metadata-only:
    no Spark job starts after the staging job returns."""
    df = spark.createDataFrame(
        synth.synth_pandas(n_convs=10, seed=2), schema=TRANSCRIPTS_SCHEMA
    )
    staged = _record_staging(monkeypatch, spark)
    try:
        ckpt.run_extraction_checkpointed(
            spark, df, str(tmp_path / "ck5"), n_buckets=N_BUCKETS
        )
        after = _jobs(spark, "after-staging")
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert len(staged) == 1
    assert after == []


def test_one_write_task_per_bucket(spark, tmp_path, monkeypatch):
    """Staging task p holds bucket p mod n_buckets only: no task writes
    two buckets."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        synth.synth_pandas(n_convs=20, seed=4), schema=TRANSCRIPTS_SCHEMA
    )
    staged = _record_staging(monkeypatch, spark)
    ckpt.run_extraction_checkpointed(
        spark, df, str(tmp_path / "ck6"), n_buckets=N_BUCKETS
    )
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    (frame,) = staged
    pairs = {
        (r["p"], r["_bucket"])
        for r in frame.select(F.spark_partition_id().alias("p"), "_bucket")
        .distinct()
        .collect()
    }
    assert len(pairs) > 1
    assert all(p % N_BUCKETS == b for p, b in pairs)


def test_few_buckets_stage_on_every_core(spark, tmp_path, monkeypatch):
    """With fewer buckets than cores each bucket is split over several
    staging tasks: n_buckets=2 on local[4] stages on at least 4 tasks,
    each writing a file, and the output rows equal extract_turns."""
    df = spark.createDataFrame(
        synth.synth_pandas(n_convs=20, seed=6), schema=TRANSCRIPTS_SCHEMA
    )
    cores = spark.sparkContext.defaultParallelism
    assert cores == 4
    staged = _record_staging(monkeypatch, spark)
    out = tmp_path / "ck7"
    ckpt.run_extraction_checkpointed(spark, df, str(out), n_buckets=2)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    (frame,) = staged
    assert frame.rdd.getNumPartitions() >= cores
    assert len(list((out / ckpt.DATA_DIR).glob("bucket=*/*.parquet"))) >= cores
    got = _sorted(ckpt.read_output(spark, str(out)).drop("bucket").toPandas())
    pd.testing.assert_frame_equal(_sorted(extract_turns(df).toPandas()), got)


def test_resume_launches_only_the_staging_job(spark, tmp_path, monkeypatch):
    """Resuming a partial manifest reads the manifest's bucket count
    without Spark: the staging job is the only one the resume starts."""
    df = spark.createDataFrame(
        synth.synth_pandas(n_convs=12, seed=8), schema=TRANSCRIPTS_SCHEMA
    )
    out_dir = str(tmp_path / "ck8")
    with pytest.raises(ckpt.KilledForTest):
        ckpt.run_extraction_checkpointed(
            spark, df, out_dir, n_buckets=N_BUCKETS, fail_after_buckets=2
        )
    staged = _record_staging(monkeypatch, spark)
    spark.sparkContext.setJobGroup("before-staging", "checkpoint resume")
    try:
        ran = ckpt.run_extraction_checkpointed(spark, df, out_dir, n_buckets=N_BUCKETS)
        jobs = {g: _jobs(spark, g) for g in ("before-staging", "staging", "after-staging")}
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert len(staged) == 1 and len(ran) == N_BUCKETS - 2
    assert jobs["before-staging"] == [] and jobs["after-staging"] == []
    assert jobs["staging"]


def test_hadoop_only_scheme_refused_before_any_job(spark):
    """An output pyarrow.fs cannot open (s3a://) is refused with an
    error naming the scheme, before any Spark job."""
    df = spark.createDataFrame(
        synth.synth_pandas(n_convs=2, seed=1), schema=TRANSCRIPTS_SCHEMA
    )
    spark.sparkContext.setJobGroup("s3a-output", "checkpoint to s3a")
    try:
        with pytest.raises(ValueError, match="'s3a'"):
            ckpt.run_extraction_checkpointed(spark, df, "s3a://bucket/out", n_buckets=2)
        jobs = _jobs(spark, "s3a-output")
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []


def test_unrecorded_staged_file_is_not_committed(spark, tmp_path, monkeypatch):
    """A staged file that no task returned (a failed or speculative task
    attempt's) is deleted before the bucket moves, never committed."""
    real = ckpt._stage

    def stage(frame, fs, staging, n_buckets):
        out = real(frame, fs, staging, n_buckets)
        orphan = Path(staging, "_bucket=0", "part-00000-999999-00000.parquet")
        orphan.parent.mkdir(parents=True, exist_ok=True)
        orphan.write_bytes(b"PAR1 half-written")
        return out

    monkeypatch.setattr(ckpt, "_stage", stage)
    src_pdf = synth.synth_pandas(n_convs=10, seed=9)
    df = spark.createDataFrame(src_pdf, schema=TRANSCRIPTS_SCHEMA)
    out = tmp_path / "ck9"
    ckpt.run_extraction_checkpointed(spark, df, str(out), n_buckets=N_BUCKETS)
    assert not list(out.glob("data/*/part-00000-999999-*"))
    assert ckpt.read_output(spark, str(out)).count() == len(src_pdf)


def test_footer_without_null_count_raises(tmp_path):
    """A staged file whose footer has no reject_reason null count makes
    the staging task's count fail; it is never guessed or recounted by
    a scan."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    path = tmp_path / "part-00000.parquet"
    table = pa.table({"conv_id": ["a", "b"], "reject_reason": [None, "empty"]})
    pq.write_table(table, path, write_statistics=False)
    with pytest.raises(ValueError, match="reject_reason null count"):
        ckpt._footer_counts(pq.read_metadata(path), str(path))

    pq.write_table(table, path)
    assert ckpt._footer_counts(pq.read_metadata(path), str(path)) == (2, 1)


def test_resume_refuses_bucket_count_change(spark, tmp_path):
    """Resuming a partial manifest with a different n_buckets would mix
    two incompatible partitionings — must be refused, not corrupted."""
    df = spark.createDataFrame(
        synth.synth_pandas(n_convs=10, seed=3), schema=TRANSCRIPTS_SCHEMA
    )
    out_dir = str(tmp_path / "ck3")
    with pytest.raises(ckpt.KilledForTest):
        ckpt.run_extraction_checkpointed(
            spark, df, out_dir, n_buckets=4, fail_after_buckets=1
        )
    with pytest.raises(ValueError, match="n_buckets"):
        ckpt.run_extraction_checkpointed(spark, df, out_dir, n_buckets=8)
    # original count still resumes fine
    ckpt.run_extraction_checkpointed(spark, df, out_dir, n_buckets=4)
    assert ckpt.completed_buckets(out_dir) == set(range(4))


def test_job_cli_day_range_over_iceberg(spark, tmp_path):
    """Drive the spark-submit entrypoint end to end: extraction from a
    days(ts)-partitioned Iceberg table with --day-range prunes to the
    requested days and the checkpointed output holds exactly those
    turns."""
    import os
    import subprocess
    import sys

    from pyspark.sql import functions as F

    from htrtf_spark.sources import iceberg as I

    rows = []
    for d in (1, 2, 3):
        for t in range(4):
            rows.append(
                (f"conv-{d}", t, "user", f"day {d} turn {t}", None,
                 f"2024-01-{d:02d} 0{t}:00:00")
            )
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    loc = str(tmp_path / "daytbl")
    I.write_iceberg_table(df, loc, partition_by=["days(ts)"])

    out = str(tmp_path / "out")
    env = dict(os.environ)
    env["PYTHONPATH"] = str(ROOT)
    env.setdefault("SPARK_LOCAL_IP", "127.0.0.1")
    res = subprocess.run(
        [
            sys.executable, str(ROOT / "jobs" / "run_extraction.py"),
            "--iceberg-table", loc,
            "--day-range", "2024-01-01:2024-01-02",
            "--output", out, "--buckets", "2",
        ],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert res.returncode == 0, res.stderr[-2000:]

    got = ckpt.read_output(spark, out)
    assert got.count() == 8  # days 1-2 only, 4 turns each
    assert sorted(r["conv_id"] for r in got.select("conv_id").distinct().collect()) == [
        "conv-1", "conv-2"
    ]
