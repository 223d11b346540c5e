"""Exactly-once incremental extraction ticks (plans/incremental.py):
first tick = full load, repeat tick = no-op, appended source batches
are processed once each, and source deletes of already-processed rows
are not propagated (append-only ingest contract)."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from htrtf_spark.plans.incremental import (
    SOURCE_SNAPSHOT_PROP,
    TICK_METRICS_PROP,
    extract_increment_once,
)
from htrtf_spark.sources import iceberg as I


@pytest.fixture()
def src_table(spark, tmp_path):
    rows = [
        ("conv-a", 0, "user", "hello   world", None, "2024-01-01 00:00:00"),
        ("conv-a", 1, "assistant", "hi there", None, "2024-01-01 00:00:01"),
        ("conv-b", 0, "user", "second  conv", "tool_x", "2024-01-01 00:01:00"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    loc = str(tmp_path / "src")
    I.write_iceberg_table(df, loc)
    return loc, df


def test_incremental_ticks_exactly_once(spark, tmp_path, src_table):
    src, df = src_table
    dst = str(tmp_path / "dst")

    r1 = extract_increment_once(spark, src, dst)
    assert not r1["noop"] and r1["rows"] == 3
    out1 = I.read_iceberg_table(spark, dst)
    assert out1.count() == 3
    assert sorted(
        r["extracted_text"] for r in out1.collect()
    ) == ["hello world", "hi there", "second conv"]

    # idempotent: nothing new upstream → no-op, no rows appended
    r2 = extract_increment_once(spark, src, dst)
    assert r2["noop"]
    assert I.read_iceberg_table(spark, dst).count() == 3

    # append a batch upstream → exactly that batch flows through
    batch2 = df.withColumn("conv_id", F.concat(F.lit("b2-"), "conv_id"))
    I.append_iceberg_table(batch2, src)
    r3 = extract_increment_once(spark, src, dst)
    assert not r3["noop"] and r3["rows"] == 3
    out3 = I.read_iceberg_table(spark, dst)
    assert out3.count() == 6
    assert out3.filter("conv_id like 'b2-%'").count() == 3

    # marker recorded atomically with the data
    props = I.current_metadata(dst)["properties"]
    assert int(props[SOURCE_SNAPSHOT_PROP]) == r3["processed_snapshot"]

    # deletes of already-processed source rows do NOT propagate
    keys = spark.createDataFrame([("conv-a",)], "conv_id string")
    I.delete_iceberg_rows(keys, src, ["conv_id"])
    r4 = extract_increment_once(spark, src, dst)
    assert not r4["noop"] and r4["rows"] == 0  # delete snapshot, no new files
    assert I.read_iceberg_table(spark, dst).count() == 6


def test_incremental_refuses_foreign_dest(spark, tmp_path, src_table):
    src, df = src_table
    dst = str(tmp_path / "foreign")
    I.write_iceberg_table(
        df.select("conv_id", "turn_idx", "role", "text"), dst
    )
    with pytest.raises(ValueError, match="not created by this pipeline"):
        extract_increment_once(spark, src, dst)


def test_dedup_ingest_ticks_with_persisted_index(spark, tmp_path):
    """Persisted-index dedup ingest: bootstrap builds corpus+index once;
    ticks probe the index (no corpus rescan), append accepted docs +
    their band rows; a replayed batch_id is a no-op; and a crash between
    the index append and the corpus append replays cleanly (the batch
    does not flag against its own crashed index rows)."""
    from htrtf_spark.plans import dedup_ingest as DI
    from htrtf_spark.sources import iceberg as I

    corpus_loc = str(tmp_path / "corpus")
    index_loc = str(tmp_path / "index")
    boiler = "copyright two thousand"
    base = {
        i: f"{boiler} unique corpus document number {i} body text " + "w" * i
        for i in range(8)
    }
    docs0 = spark.createDataFrame(
        sorted(base.items()) + [(99, base[2])],  # 99 = exact dup within batch
        "doc_id long, text string",
    )
    r0 = DI.dedup_ingest_bootstrap(
        spark, docs0, corpus_loc, index_loc,
        id_col="doc_id", text_col="text", max_doc_freq=4,
    )
    assert r0["accepted"] == 8  # within-batch exact dup dropped
    idx = I.read_iceberg_table(spark, index_loc)
    assert idx.filter("band_id = -1").count() > 0  # stop rows persisted

    # tick 1: one exact dup, one near dup, one novel
    near = base[3] + " zzz"
    t1 = spark.createDataFrame(
        [(100, base[5]), (101, near),
         (102, "entirely fresh unrelated material nothing shared")],
        "doc_id long, text string",
    )
    r1 = DI.dedup_ingest_tick(
        spark, t1, corpus_loc, index_loc, batch_id="b1",
        id_col="doc_id", text_col="text",
    )
    assert not r1["noop"]
    assert r1["flagged_exact"] == 1 and r1["flagged_lsh"] >= 1
    assert r1["accepted"] == 1
    corpus = I.read_iceberg_table(spark, corpus_loc)
    assert corpus.count() == 9 and corpus.filter("id = '102'").count() == 1

    # replay of the same batch id: no-op, nothing appended
    r1b = DI.dedup_ingest_tick(
        spark, t1, corpus_loc, index_loc, batch_id="b1",
        id_col="doc_id", text_col="text",
    )
    assert r1b["noop"] and I.read_iceberg_table(spark, corpus_loc).count() == 9

    # tick 2 crashes BETWEEN index append and corpus append
    t2 = spark.createDataFrame(
        [(200, "completely new second wave content alpha beta gamma"),
         (201, base[6])],
        "doc_id long, text string",
    )
    real_append = I.append_iceberg_table
    calls = {"n": 0}

    def crashing_append(df, location, **kw):
        out = real_append(df, location, **kw)
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("simulated crash after index append")
        return out

    import pytest as _pytest
    from unittest import mock
    with mock.patch.object(I, "append_iceberg_table", crashing_append):
        with _pytest.raises(RuntimeError, match="simulated crash"):
            DI.dedup_ingest_tick(
                spark, t2, corpus_loc, index_loc, batch_id="b2",
                id_col="doc_id", text_col="text",
            )
    # index got doc 200's rows; corpus did not — replay must accept 200
    # again (not flag it against its own crashed rows) and stay exact
    assert I.read_iceberg_table(spark, index_loc).filter("id = '200'").count() > 0
    assert I.read_iceberg_table(spark, corpus_loc).filter("id = '200'").count() == 0
    r2 = DI.dedup_ingest_tick(
        spark, t2, corpus_loc, index_loc, batch_id="b2",
        id_col="doc_id", text_col="text",
    )
    assert not r2["noop"] and r2["accepted"] == 1  # 200 novel, 201 exact dup
    corpus2 = I.read_iceberg_table(spark, corpus_loc)
    assert corpus2.count() == 10
    assert corpus2.filter("id = '200'").count() == 1


def test_run_dedup_ingest_job_cli(spark, tmp_path):
    """The spark-submit wrapper: bootstrap then a tick via main()."""
    import json as _json

    from jobs.run_dedup_ingest import main

    seed = spark.createDataFrame(
        [(i, f"seed document number {i} unique body content") for i in range(5)],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [(10, "seed document number 2 unique body content"),  # exact dup
         (11, "a wholly new document with fresh content")],
        "doc_id long, text string",
    )
    seed.write.parquet(str(tmp_path / "seed"))
    batch.write.parquet(str(tmp_path / "batch"))
    corpus, index = str(tmp_path / "corpus"), str(tmp_path / "index")

    assert main([
        "--bootstrap", "--input", str(tmp_path / "seed"),
        "--corpus", corpus, "--index", index, "--max-doc-freq", "0",
    ]) == 0
    assert main([
        "--input", str(tmp_path / "batch"), "--batch-id", "b1",
        "--corpus", corpus, "--index", index,
    ]) == 0

    from htrtf_spark.sources import iceberg as I

    got = I.read_iceberg_table(spark, corpus)
    assert got.count() == 6
    assert got.filter("id = '11'").count() == 1
    assert got.filter("id = '10'").count() == 0


def test_tick_metrics_persisted(spark, tmp_path, src_table):
    """Each non-noop tick persists its throughput metrics alongside the
    output table (north-star lineage/metrics contract); noop ticks keep
    the previous record."""
    from htrtf_spark.plans.incremental import extract_increment_once, tick_metrics

    src, _df = src_table
    dest = str(tmp_path / "dest_m")
    r1 = extract_increment_once(spark, src, dest)
    m1 = tick_metrics(dest)
    assert m1 is not None
    assert m1["rows"] == r1["rows"] == 3
    assert m1["processed_snapshot"] == r1["processed_snapshot"]
    assert m1["wall_sec"] > 0 and m1["rows_per_sec"] > 0

    r2 = extract_increment_once(spark, src, dest)  # noop
    assert r2["noop"] and tick_metrics(dest) == m1


def test_tick_is_one_metadata_commit(spark, tmp_path, src_table):
    """Data, processed-snapshot marker and tick metrics ride one commit:
    the first load creates metadata version 1 and a non-noop tick
    advances the version by exactly 1, its metrics already current."""
    src, df = src_table
    dest = str(tmp_path / "dest_v")
    extract_increment_once(spark, src, dest)
    assert I.current_metadata(dest)["_version"] == 1
    I.append_iceberg_table(
        df.withColumn("conv_id", F.concat(F.lit("v2-"), "conv_id")), src
    )
    r = extract_increment_once(spark, src, dest)
    meta = I.current_metadata(dest)
    assert meta["_version"] == 2
    metrics = json.loads(meta["properties"][TICK_METRICS_PROP])
    assert metrics["rows"] == r["rows"] == 3
    assert metrics["processed_snapshot"] == r["processed_snapshot"]
    assert meta["properties"][SOURCE_SNAPSHOT_PROP] == str(r["processed_snapshot"])


def test_one_python_stage_per_extracting_write(
    spark, tmp_path, src_table, monkeypatch
):
    """The first load, a tick, a rebaseline and a stream rebaseline
    each make exactly one ``mapInArrow`` call: the extraction kernel
    runs inside the writer's Python function, not as a stage chained
    before it."""
    from htrtf_spark.streaming.rebaseline import rebaseline_stream_extraction

    src, df = src_table
    dest = str(tmp_path / "dest_p")
    cls = type(df)
    calls = []
    original = cls.mapInArrow

    def counting(self, *args, **kwargs):
        calls.append(1)
        return original(self, *args, **kwargs)

    monkeypatch.setattr(cls, "mapInArrow", counting)

    extract_increment_once(spark, src, dest)  # first load
    assert len(calls) == 1
    I.append_iceberg_table(
        df.withColumn("conv_id", F.concat(F.lit("p2-"), "conv_id")), src
    )
    calls.clear()
    assert not extract_increment_once(spark, src, dest)["noop"]  # tick
    assert len(calls) == 1
    I.delete_iceberg_rows(df.filter("conv_id = 'conv-a'"), src, ["conv_id"])
    calls.clear()
    r = extract_increment_once(spark, src, dest, rebaseline_on_delete=True)
    assert "rebaselined" in r
    assert len(calls) == 1
    calls.clear()
    rebaseline_stream_extraction(
        spark, src, str(tmp_path / "stream_dest"), str(tmp_path / "ckpt")
    )
    assert len(calls) == 1


def test_index_maintenance_dedupes_replayed_rows(spark, tmp_path):
    """maintain_index removes the duplicate band rows a crash-replayed
    tick appends, in one replace snapshot, preserving probe behavior
    and the persisted stop rows."""
    from htrtf_spark.plans import dedup_ingest as DI
    from htrtf_spark.sources import iceberg as I

    corpus_loc, index_loc = str(tmp_path / "c"), str(tmp_path / "i")
    docs = spark.createDataFrame(
        [(i, f"corpus doc number {i} with shared body text") for i in range(6)],
        "doc_id long, text string",
    )
    DI.dedup_ingest_bootstrap(
        spark, docs, corpus_loc, index_loc,
        id_col="doc_id", text_col="text", max_doc_freq=3,
    )
    idx0 = I.read_iceberg_table(spark, index_loc)
    n0 = idx0.count()
    stop0 = idx0.filter("band_id = -1").count()
    assert stop0 > 0

    # simulate a crash-replayed append: duplicate every band row once
    I.append_iceberg_table(idx0.filter("band_id >= 0"), index_loc)
    assert I.read_iceberg_table(spark, index_loc).count() > n0

    r = DI.maintain_index(spark, index_loc)
    assert r["duplicates_removed"] > 0 and r["rows_after"] == n0
    idx1 = I.read_iceberg_table(spark, index_loc)
    assert idx1.filter("band_id = -1").count() == stop0
    # probes still work against the maintained index
    t1 = spark.createDataFrame(
        [(50, "corpus doc number 2 with shared body text")],
        "doc_id long, text string",
    )
    r1 = DI.dedup_ingest_tick(
        spark, t1, corpus_loc, index_loc, batch_id="bx",
        id_col="doc_id", text_col="text",
    )
    assert r1["flagged_exact"] == 1 and r1["accepted"] == 0


def test_overwrite_iceberg_table(spark, tmp_path):
    """INSERT OVERWRITE: one replace snapshot, prior snapshot still
    time-travelable, schema mismatch refused."""
    import pytest as _p

    from htrtf_spark.sources import iceberg as I

    loc = str(tmp_path / "ow")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    s1 = I.write_iceberg_table(df, loc)
    repl = spark.createDataFrame([(9, "z")], "k long, v string")
    I.overwrite_iceberg_table(repl, loc)
    assert [tuple(r) for r in I.read_iceberg_table(spark, loc).collect()] == [(9, "z")]
    assert I.read_iceberg_table(spark, loc, snapshot_id=s1).count() == 2
    with _p.raises(ValueError, match="overwrite schema mismatch"):
        I.overwrite_iceberg_table(
            spark.createDataFrame([(1,)], "k long"), loc
        )


def test_dedup_ingest_tick_all_duplicates(spark, tmp_path):
    """A tick where EVERY candidate is a dup: zero-row appends still
    commit, the batch marker still advances (replay is a no-op), and
    the corpus is unchanged."""
    from htrtf_spark.plans import dedup_ingest as DI
    from htrtf_spark.sources import iceberg as I

    corpus_loc, index_loc = str(tmp_path / "c"), str(tmp_path / "i")
    docs = spark.createDataFrame(
        [(i, f"unique seed document {i}") for i in range(4)],
        "doc_id long, text string",
    )
    DI.dedup_ingest_bootstrap(
        spark, docs, corpus_loc, index_loc, id_col="doc_id", text_col="text"
    )
    dup_batch = spark.createDataFrame(
        [(100, "unique seed document 1"), (101, "unique seed document 3")],
        "doc_id long, text string",
    )
    r = DI.dedup_ingest_tick(
        spark, dup_batch, corpus_loc, index_loc, batch_id="dups",
        id_col="doc_id", text_col="text",
    )
    assert r["accepted"] == 0 and r["flagged_exact"] == 2
    assert I.read_iceberg_table(spark, corpus_loc).count() == 4
    r2 = DI.dedup_ingest_tick(
        spark, dup_batch, corpus_loc, index_loc, batch_id="dups",
        id_col="doc_id", text_col="text",
    )
    assert r2["noop"]


def test_truncate_upper_surrogate_boundary():
    """_truncate_upper never mints a lone surrogate: a U+D7FF at the
    increment position jumps to U+E000 and stays a valid upper bound."""
    from htrtf_spark.sources.iceberg import _BOUND_TRUNC, _truncate_upper

    v = "a" * (_BOUND_TRUNC - 1) + "퟿" + "tail-beyond-truncation"
    t = _truncate_upper(v)
    assert t == "a" * (_BOUND_TRUNC - 1) + ""
    assert t > v[:_BOUND_TRUNC] and len(t) <= _BOUND_TRUNC
    t.encode("utf-8")  # must be encodable
