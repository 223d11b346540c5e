"""Streaming extraction: unbounded stage produces byte-identical rows to
the batch stage on the same data; watermarked window metrics conserve
counts."""

from __future__ import annotations

import pandas as pd
import pytest

from htrtf_spark import oracle, synth
from htrtf_spark.schema import TRANSCRIPTS_SCHEMA
from htrtf_spark.streaming import extract_stream as xs


def _write_input(spark, tmp_path, n_convs=15, seed=21):
    pdf = synth.synth_pandas(n_convs=n_convs, seed=seed)
    path = str(tmp_path / "stream_in")
    spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA).repartition(4).write.parquet(
        path
    )
    return pdf, path


def test_stream_extract_matches_oracle(spark, tmp_path):
    pdf, path = _write_input(spark, tmp_path)
    xs.run_stream_to_memory(spark, path, query_name="t_stream")
    got = (
        spark.sql("SELECT * FROM t_stream")
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    gold = (
        oracle.extract_frame(pdf)
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    assert len(got) == len(gold)
    for col in ["mode", "extracted_text", "reject_reason"]:
        assert (
            got[col].fillna("<N>").values == gold[col].fillna("<N>").values
        ).all(), col


def test_stream_windowed_metrics(spark, tmp_path):
    pdf, path = _write_input(spark, tmp_path, n_convs=10, seed=33)
    ex = xs.stream_extract(xs.read_transcript_stream(spark, path))
    m = xs.stream_metrics(ex, window="10 minutes", watermark="1 hour")
    q = (
        m.writeStream.outputMode("complete")
        .format("memory")
        .queryName("t_metrics")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    res = spark.sql("SELECT * FROM t_metrics").toPandas()
    assert int(res["turns"].sum()) == len(pdf)  # every turn lands in a window
    gold = oracle.extract_frame(pdf)
    assert int(res["rejected"].sum()) == int(gold["reject_reason"].notna().sum())
    assert (res["win_end"] > res["win_start"]).all()


def test_stateful_conversation_accumulator(spark, tmp_path):
    """applyInPandasWithState folds per-conversation stats ACROSS
    micro-batches (the streaming form of the reference's
    previousCost/previousED accumulator feeds): two files delivered as
    two triggers must produce cumulative — not per-batch — counts."""
    from htrtf_spark.streaming import stateful

    pdf = synth.synth_pandas(n_convs=6, seed=11)
    conv = pdf["conv_id"].iloc[0]
    one = pdf[pdf["conv_id"] == conv].reset_index(drop=True)
    assert len(one) >= 2
    first, second = one.iloc[: len(one) // 2], one.iloc[len(one) // 2 :]

    in_dir = tmp_path / "state_in"
    in_dir.mkdir()
    spark.createDataFrame(first, schema=TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(in_dir))

    ex = xs.stream_extract(xs.read_transcript_stream(spark, str(in_dir)))
    q = (
        stateful.stream_conversation_state(ex)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_state")
        .start()
    )
    q.processAllAvailable()
    spark.createDataFrame(second, schema=TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(in_dir))
    q.processAllAvailable()
    q.stop()

    res = spark.sql(f"SELECT * FROM t_state WHERE conv_id = '{conv}'").toPandas()
    # one emission per micro-batch the conversation appeared in, cumulative
    assert sorted(res["n_turns"]) == [len(first), len(one)]
    gold = oracle.extract_frame(one)
    final = res[res["n_turns"] == len(one)].iloc[0]
    assert int(final["n_rejected"]) == int(gold["reject_reason"].notna().sum())
    assert int(final["total_chars"]) == int(gold["n_chars"].fillna(0).sum())


def test_jsonl_source_matches_parquet(spark, tmp_path):
    """JSONL transcripts read through the pinned schema extracts
    byte-identically to the parquet path."""
    from htrtf_spark.plans.pipeline import extract_turns
    from htrtf_spark.sources.transcripts import read_transcripts_jsonl

    pdf = synth.synth_pandas(n_convs=12, seed=5)
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    jpath, ppath = str(tmp_path / "t.jsonl"), str(tmp_path / "t.parquet")
    df.coalesce(2).write.json(jpath)
    df.coalesce(2).write.parquet(ppath)

    cols = ["conv_id", "turn_idx", "mode", "extracted_text", "reject_reason"]
    a = (
        extract_turns(read_transcripts_jsonl(spark, jpath), check_schema=False)
        .select(*cols).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    b = (
        extract_turns(spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(ppath), check_schema=False)
        .select(*cols).toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    )
    assert len(a) == len(pdf)
    for c in cols:
        assert (a[c].fillna("<N>").values == b[c].fillna("<N>").values).all(), c


def test_stream_checkpoint_restart_exactly_once(spark, tmp_path):
    """Streaming resume (S10's unbounded analog): a file-stream extraction
    with a real checkpointLocation + parquet sink, stopped and restarted
    across new input, must emit every turn exactly once."""
    pdf = synth.synth_pandas(n_convs=10, seed=44)
    convs = sorted(pdf["conv_id"].unique())
    first = pdf[pdf["conv_id"].isin(convs[:5])]
    second = pdf[pdf["conv_id"].isin(convs[5:])]

    in_dir, out_dir, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    spark.createDataFrame(first, schema=TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    def start():
        ex = xs.stream_extract(xs.read_transcript_stream(spark, in_dir))
        return (
            ex.writeStream.outputMode("append")
            .format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q = start()
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(out_dir).count() == len(first)

    spark.createDataFrame(second, schema=TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    q = start()  # restart from the same checkpoint
    q.processAllAvailable()
    q.stop()

    got = spark.read.parquet(out_dir)
    assert got.count() == len(pdf)  # no loss, no duplication
    assert got.select("conv_id", "turn_idx").distinct().count() == len(pdf)


def test_stateful_timeout_handler_evicts():
    """The idle-timeout invocation removes state and emits nothing; a
    normal update re-arms the timer (unit-level, mock GroupState)."""
    from htrtf_spark.streaming.stateful import make_conversation_updater

    class MockState:
        def __init__(self, exists=False, value=None, timed_out=False):
            self.exists, self._v = exists, value
            self.hasTimedOut = timed_out
            self.removed, self.updated, self.armed = False, None, None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.updated = v

        def remove(self):
            self.removed = True

        def setTimeoutDuration(self, ms):
            self.armed = ms

    fn = make_conversation_updater(idle_timeout_ms=60000)

    # expiry invocation: empty batch iterator, hasTimedOut=True
    st = MockState(exists=True, value=(5, 1, 100), timed_out=True)
    assert list(fn(("c",), iter([]), st)) == []
    assert st.removed and st.updated is None

    # normal update: accumulates, re-arms, emits one row
    st2 = MockState(exists=True, value=(2, 0, 10))
    batch = pd.DataFrame({"reject_reason": [None, "empty_after_clean"],
                          "n_chars": pd.array([7, None], dtype="Int64")})
    out = list(fn(("c",), iter([batch]), st2))
    assert st2.updated == (4, 1, 17) and st2.armed == 60000
    assert out[0]["n_turns"].iloc[0] == 4


def test_stateful_stream_with_timeout_smoke(spark, tmp_path):
    """End-to-end: the timeout-armed variant processes a bounded feed
    correctly (eviction itself is processing-time-dependent and not
    deterministically testable here)."""
    from htrtf_spark.streaming import stateful

    pdf = synth.synth_pandas(n_convs=5, seed=2)
    in_dir = str(tmp_path / "st_in")
    spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA).coalesce(1).write.parquet(
        in_dir
    )
    ex = xs.stream_extract(xs.read_transcript_stream(spark, in_dir))
    # with processing-time timers armed, the engine keeps scheduling
    # timer batches — neither processAllAvailable nor availableNow
    # settles, so poll the sink for the expected rows and stop explicitly
    import time

    q = (
        stateful.stream_conversation_state(ex, idle_timeout_ms=600_000)
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_state_to")
        .start()
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        got = spark.sql(
            "SELECT COALESCE(SUM(n_turns), 0) s FROM t_state_to"
        ).collect()[0]["s"]
        if int(got) >= len(pdf):
            break
        time.sleep(1)
    q.stop()
    res = spark.sql("SELECT SUM(n_turns) s FROM t_state_to").collect()[0]
    assert int(res["s"]) == len(pdf)


def test_event_time_updater_unit():
    """Unit-level: event-time updater pins the timeout at max_ts+gap, and
    the expiry invocation emits ONE closed=true final row then removes."""
    from htrtf_spark.streaming.stateful import _duration_ms, make_event_time_updater

    assert _duration_ms("30 minutes") == 1_800_000
    assert _duration_ms("90 seconds") == 90_000

    class MockState:
        def __init__(self, exists=False, value=None, timed_out=False):
            self.exists, self._v = exists, value
            self.hasTimedOut = timed_out
            self.removed, self.updated, self.armed_at = False, None, None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self.updated = v

        def remove(self):
            self.removed = True

        def setTimeoutTimestamp(self, ts_ms):
            self.armed_at = ts_ms

    fn = make_event_time_updater(gap_ms=1_800_000)

    t0 = pd.Timestamp("2026-01-01 12:00:00")
    batch = pd.DataFrame(
        {
            "reject_reason": [None, None, "empty_after_clean"],
            "n_chars": pd.array([5, 7, None], dtype="Int64"),
            "ts": [t0, t0 + pd.Timedelta(minutes=5), t0],
        }
    )
    st = MockState()
    out = list(fn(("c",), iter([batch]), st))
    max_ms = int((t0 + pd.Timedelta(minutes=5)).value // 1_000_000)
    assert st.updated == (3, 1, 12, max_ms)
    assert st.armed_at == max_ms + 1_800_000
    assert len(out) == 1 and not out[0]["closed"].iloc[0]

    # expiry: final row with closed=true, state removed
    st2 = MockState(exists=True, value=(3, 1, 12, max_ms), timed_out=True)
    out2 = list(fn(("c",), iter([]), st2))
    assert st2.removed
    assert len(out2) == 1 and bool(out2[0]["closed"].iloc[0])
    assert int(out2[0]["n_turns"].iloc[0]) == 3


def test_event_time_eviction_two_batches(spark, tmp_path):
    """End-to-end event-time eviction: conv A stops sending; when a later
    batch from conv B advances the WATERMARK past A's (last ts + gap), A
    emits its closed=true session record — no wall-clock involvement."""
    from htrtf_spark.streaming import stateful

    pdf = synth.synth_pandas(n_convs=4, seed=7)
    convs = sorted(pdf["conv_id"].unique())
    a, b = convs[0], convs[1]
    base = pd.Timestamp("2026-01-01 12:00:00")
    first = pdf[pdf["conv_id"].isin([a, b])].copy().reset_index(drop=True)
    first["ts"] = base
    second = pdf[pdf["conv_id"] == b].copy().reset_index(drop=True)
    second["ts"] = base + pd.Timedelta(hours=3)  # >> gap + watermark

    in_dir = tmp_path / "evt_in"
    in_dir.mkdir()
    spark.createDataFrame(first, schema=TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(in_dir))

    ex = xs.stream_extract(xs.read_transcript_stream(spark, str(in_dir)))
    q = (
        stateful.stream_conversation_state_event_time(
            ex, gap="30 minutes", watermark="10 minutes"
        )
        .writeStream.outputMode("update")
        .format("memory")
        .queryName("t_evt")
        .start()
    )
    q.processAllAvailable()
    assert (
        spark.sql("SELECT COUNT(*) c FROM t_evt WHERE closed").collect()[0]["c"]
        == 0
    )
    spark.createDataFrame(second, schema=TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(str(in_dir))
    q.processAllAvailable()
    q.stop()

    closed = spark.sql(
        "SELECT * FROM t_evt WHERE closed ORDER BY conv_id"
    ).toPandas()
    # A was evicted by watermark advance; B is still live
    assert list(closed["conv_id"]) == [a]
    assert int(closed["n_turns"].iloc[0]) == int((first["conv_id"] == a).sum())


def test_orc_and_csv_sources_match_parquet(spark, tmp_path):
    """ORC and CSV transcripts (schema-pinned, quote/escape pinned)
    extract byte-identically to the parquet path — including text with
    embedded newlines, quotes, and commas."""
    from htrtf_spark.plans.pipeline import extract_turns
    from htrtf_spark.sources.transcripts import (
        read_transcripts_csv,
        read_transcripts_orc,
    )

    pdf = synth.synth_pandas(n_convs=10, seed=21)
    # inject CSV-hostile text: embedded newline, quotes, commas
    pdf.loc[pdf.index[0], "text"] = 'line one\nline "two", with, commas'
    pdf.loc[pdf.index[1], "text"] = '  spaced, "quoted"\n\nblank  '
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    opath, cpath, ppath = (
        str(tmp_path / "t.orc"), str(tmp_path / "t.csv"), str(tmp_path / "t.pq")
    )
    df.coalesce(2).write.orc(opath)
    (
        df.coalesce(1).write.option("header", True)
        .option("quote", '"').option("escape", '"')
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss.SSSSSS").csv(cpath)
    )
    df.coalesce(2).write.parquet(ppath)

    cols = ["conv_id", "turn_idx", "mode", "extracted_text", "reject_reason"]

    def run(frame):
        return (
            extract_turns(frame, check_schema=False)
            .select(*cols).toPandas()
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        )

    base = run(spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(ppath))
    assert len(base) == len(pdf)
    for got in (run(read_transcripts_orc(spark, opath)),
                run(read_transcripts_csv(spark, cpath))):
        for c in cols:
            assert (
                got[c].fillna("<N>").values == base[c].fillna("<N>").values
            ).all(), c


def test_stream_to_iceberg_exactly_once(spark, tmp_path):
    """Streaming → Iceberg sink survives a stop/restart with no loss and
    no duplication: each micro-batch's id commits atomically with its
    append, and replayed batches are skipped by the property guard."""
    from htrtf_spark.sources.iceberg import current_metadata, read_iceberg_table

    pdf = synth.synth_pandas(n_convs=10, seed=33)
    convs = sorted(pdf["conv_id"].unique())
    first = pdf[pdf["conv_id"].isin(convs[:5])]
    second = pdf[pdf["conv_id"].isin(convs[5:])]

    in_dir, tbl, ckpt = (
        str(tmp_path / "in"), str(tmp_path / "tbl"), str(tmp_path / "ck")
    )
    spark.createDataFrame(first, schema=TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)

    def start():
        ex = xs.stream_extract(xs.read_transcript_stream(spark, in_dir))
        return xs.stream_to_iceberg(ex, tbl, ckpt)

    q = start()
    q.processAllAvailable()
    q.stop()
    assert read_iceberg_table(spark, tbl).count() == len(first)

    spark.createDataFrame(second, schema=TRANSCRIPTS_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)
    q = start()  # restart from the same checkpoint
    q.processAllAvailable()
    q.stop()

    got = read_iceberg_table(spark, tbl)
    assert got.count() == len(pdf)  # no loss, no duplication
    assert got.select("conv_id", "turn_idx").distinct().count() == len(pdf)
    # the last committed batch id is recorded as a table property
    assert "streaming.last-batch-id" in current_metadata(tbl)["properties"]


def test_iceberg_streaming_source_incremental_batches(spark, tmp_path):
    """The htrtf_iceberg streaming SOURCE: snapshot-sequence offsets →
    each micro-batch surfaces exactly the newly appended files; restart
    from checkpoint resumes without duplicates; same-window deletes
    apply (read_iceberg_increment parity)."""
    from pyspark.sql import functions as F

    from htrtf_spark.sources import iceberg as I
    from htrtf_spark.sources import iceberg_stream

    iceberg_stream.register(spark)
    loc = str(tmp_path / "srctbl")
    ckpt = str(tmp_path / "ckpt")
    rows1 = [("conv-a", 0, "user", "hello", None, "2024-01-01 00:00:00"),
             ("conv-b", 0, "user", "world", "tool_x", "2024-01-01 00:01:00")]
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts string")

    def mk(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts")
        )

    I.write_iceberg_table(mk(rows1), loc)

    out_dir = str(tmp_path / "out")

    def run_until_idle():
        q = (
            spark.readStream.format("htrtf_iceberg")
            .option("location", loc)
            .load()
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        return spark.read.parquet(out_dir)

    got1 = run_until_idle()
    assert sorted(r["text"] for r in got1.collect()) == ["hello", "world"]

    # append a batch AND delete one of its rows in the same window —
    # the delete (newer sequence) must apply before rows are surfaced
    rows2 = [("conv-c", 0, "user", "third", None, "2024-01-02 00:00:00"),
             ("conv-d", 0, "user", "fourth", None, "2024-01-02 00:01:00")]
    I.append_iceberg_table(mk(rows2), loc)
    I.delete_iceberg_rows(
        spark.createDataFrame([("conv-d",)], "conv_id string"), loc, ["conv_id"]
    )

    got2 = run_until_idle()  # cumulative parquet output
    assert sorted(r["text"] for r in got2.collect()) == ["hello", "third", "world"]

    # restart again with nothing new: no new rows, no duplicates
    got3 = run_until_idle()
    assert sorted(r["text"] for r in got3.collect()) == ["hello", "third", "world"]

    # schema surfaced from table metadata, ts is a real timestamp
    assert dict(got1.dtypes)["ts"].startswith("timestamp")


def test_iceberg_to_iceberg_streaming_extraction_pipeline(spark, tmp_path):
    """The full continuous pipeline (jobs/run_streaming_extraction):
    htrtf_iceberg streaming source -> Arrow extraction -> exactly-once
    Iceberg sink. Two source commits drained in two availableNow runs
    against one checkpoint: the destination holds each turn's
    extraction exactly once, equal to the batch path over the full
    source."""
    from pyspark.sql import functions as F

    from htrtf_spark.plans.pipeline import extract_turns
    from htrtf_spark.sources import iceberg as I
    from jobs.run_streaming_extraction import build_query

    src = str(tmp_path / "src")
    dest = str(tmp_path / "dest")
    ckpt = str(tmp_path / "ckpt")
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts string")

    def mk(rows):
        return spark.createDataFrame(rows, schema).withColumn(
            "ts", F.to_timestamp("ts")
        )

    batch1 = [("conv-a", 0, "user", "hello   world", None, "2024-01-01 00:00:00"),
              ("conv-a", 1, "assistant", "hi there", None, "2024-01-01 00:00:01")]
    batch2 = [("conv-b", 0, "user", "second  conv", "tool_x", "2024-01-01 00:01:00"),
              ("conv-b", 1, "tool", "<div>x</div>", "tool_x", "2024-01-01 00:01:01")]

    I.write_iceberg_table(mk(batch1), src)
    q = build_query(spark, src, dest, ckpt, available_now=True)
    q.awaitTermination(120)
    assert I.read_iceberg_table(spark, dest).count() == 2

    I.append_iceberg_table(mk(batch2), src)
    q = build_query(spark, src, dest, ckpt, available_now=True)
    q.awaitTermination(120)
    got = I.read_iceberg_table(spark, dest)
    assert got.count() == 4

    # re-drain with nothing new: still 4 (no dup appends)
    q = build_query(spark, src, dest, ckpt, available_now=True)
    q.awaitTermination(120)
    assert I.read_iceberg_table(spark, dest).count() == 4

    # byte-parity with the batch extraction over the whole source
    want = extract_turns(
        I.read_iceberg_table(spark, src), num_partitions=None
    )
    g = {(r["conv_id"], r["turn_idx"]): r["extracted_text"]
         for r in got.collect()}
    w = {(r["conv_id"], r["turn_idx"]): r["extracted_text"]
         for r in want.collect()}
    assert g == w


def test_iceberg_streaming_source_identity_partitioned(spark, tmp_path):
    """Identity-partitioned source table: partition values are
    materialized as typed constants AT THEIR SCHEMA POSITION (arrow
    batches map by position — the partition column here sits mid-
    schema), and value pruning still yields exact streams."""
    from pyspark.sql import functions as F

    from htrtf_spark.sources import iceberg as I
    from htrtf_spark.sources import iceberg_stream

    iceberg_stream.register(spark)
    loc = str(tmp_path / "parttbl")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    rows = [("conv-a", 0, "user", "hello", None, "2024-01-01 00:00:00"),
            ("conv-b", 0, "assistant", "world", "tool_x", "2024-01-01 00:01:00"),
            ("conv-c", 0, "user", "third", None, "2024-01-01 00:02:00")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    I.write_iceberg_table(df, loc, partition_by=["role"])

    q = (
        spark.readStream.format("htrtf_iceberg")
        .option("location", loc)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert got.schema.fieldNames() == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts"
    ]
    by_conv = {r["conv_id"]: (r["role"], r["text"], r["tool"])
               for r in got.collect()}
    assert by_conv == {
        "conv-a": ("user", "hello", None),
        "conv-b": ("assistant", "world", "tool_x"),
        "conv-c": ("user", "third", None),
    }


def test_streaming_source_start_on_compacted_history(spark, tmp_path):
    """A stream STARTING on a table whose pre-compaction snapshots were
    expired must surface the full current table in its first batch (the
    only live files belong to a replace snapshot, which incremental
    windows skip — the first batch is a full snapshot load instead)."""
    from pyspark.sql import functions as F

    from htrtf_spark.sources import iceberg as I
    from htrtf_spark.sources import iceberg_stream

    iceberg_stream.register(spark)
    loc = str(tmp_path / "histtbl")
    rows = [("conv-a", 0, "user", "hello", None, "2024-01-01 00:00:00"),
            ("conv-b", 0, "user", "world", None, "2024-01-01 00:01:00")]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))
    I.write_iceberg_table(df, loc)
    I.compact_iceberg_table(spark, loc)
    I.expire_snapshots(loc, keep_last=1)  # only the replace snapshot lives

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        spark.readStream.format("htrtf_iceberg")
        .option("location", loc)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out)
    assert sorted(r["text"] for r in got.collect()) == ["hello", "world"]

    # subsequent appends still stream incrementally (no re-emission)
    extra = df.withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("-x")))
    I.append_iceberg_table(extra, loc)
    q = (
        spark.readStream.format("htrtf_iceberg")
        .option("location", loc).load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    assert spark.read.parquet(out).count() == 4


def test_avro_source_matches_parquet(spark, tmp_path):
    """The pure-python Avro transcript source (repo codec, distributed
    per-file decode, timestamp-micros) extracts byte-identically to the
    parquet path — including NULL text/tool and sub-second
    timestamps."""
    from htrtf_spark.plans.pipeline import extract_turns
    from htrtf_spark.sources.transcripts import (
        read_transcripts_avro,
        write_transcripts_avro,
    )

    pdf = synth.synth_pandas(n_convs=10, seed=22)
    pdf.loc[pdf.index[0], "text"] = None
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    apath, ppath = str(tmp_path / "t.avro"), str(tmp_path / "t.pq")
    write_transcripts_avro(df, apath, partitions=3)
    df.coalesce(2).write.parquet(ppath)

    back = read_transcripts_avro(spark, apath)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )

    cols = ["conv_id", "turn_idx", "mode", "extracted_text", "reject_reason"]

    def run(frame):
        return (
            extract_turns(frame, check_schema=False)
            .select(*cols).toPandas()
            .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
        )

    base = run(spark.read.schema(TRANSCRIPTS_SCHEMA).parquet(ppath))
    got = run(read_transcripts_avro(spark, apath))
    for c in cols:
        assert (
            got[c].fillna("<N>").values == base[c].fillna("<N>").values
        ).all(), c


def test_avro_write_task_retry_idempotent(spark, tmp_path):
    """ADVICE r4 (low): the Avro writer names files deterministically
    per partition index and replaces atomically — a retried /
    speculatively re-executed write (modeled as a second full write
    into the same dir) overwrites instead of duplicating records."""
    import glob
    import os

    from htrtf_spark.sources.transcripts import (
        read_transcripts_avro,
        write_transcripts_avro,
    )

    pdf = synth.synth_pandas(n_convs=6, seed=31)
    df = spark.createDataFrame(pdf, schema=TRANSCRIPTS_SCHEMA)
    apath = str(tmp_path / "retry.avro")
    write_transcripts_avro(df, apath, partitions=3)
    first_files = sorted(glob.glob(os.path.join(apath, "*.avro")))
    write_transcripts_avro(df, apath, partitions=3)  # the "retry"
    second_files = sorted(glob.glob(os.path.join(apath, "*.avro")))

    assert first_files == second_files  # deterministic names, no extras
    assert all(os.path.basename(f).startswith("part-") for f in first_files)
    assert not glob.glob(os.path.join(apath, ".part-*"))  # no tmp litter
    back = read_transcripts_avro(spark, apath)
    assert back.count() == len(pdf)
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )


def _mk_turns(spark, n, tag=""):
    from pyspark.sql import functions as F

    rows = [(f"c{i}{tag}", 0, "user", f"text {i}{tag}", None) for i in range(n)]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))


def test_stream_admission_control_capped_drain(spark, tmp_path):
    """maxFilesPerTrigger splits the bootstrap into ceil(M/N) file
    groups — each its own checkpointed micro-batch — and caps
    subsequent batches by snapshot file counts (a jumbo commit still
    drains as ONE batch: progress guarantee). Lag metrics record every
    planned batch. VERDICT r4 #1."""
    import json
    import os

    from htrtf_spark.sources import iceberg as I
    from htrtf_spark.sources import iceberg_stream

    iceberg_stream.register(spark)
    loc, out, ckpt, mdir = (
        str(tmp_path / d) for d in ("tbl", "out", "ckpt", "metrics")
    )
    I.write_iceberg_table(_mk_turns(spark, 12).repartition(6), loc)

    def drain():
        q = (
            spark.readStream.format("htrtf_iceberg")
            .option("location", loc)
            .option("maxFilesPerTrigger", "2")
            .option("lagMetricsDir", mdir)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    drain()
    assert spark.read.parquet(out).count() == 12  # exactly once
    rows = [
        json.loads(line)
        for line in open(os.path.join(mdir, "batch_lag.jsonl"))
    ]
    boot = [r for r in rows if r["files"] > 0]
    assert [r["files"] for r in boot] == [2, 2, 2]  # 6 files / cap 2
    assert [r["boot_groups_remaining"] for r in boot] == [2, 1, 0]
    assert all(r["bytes"] > 0 for r in boot)

    # jumbo commit (4 files > cap) + small commit: jumbo is one batch
    # (never split post-bootstrap, never merged with the next commit)
    I.append_iceberg_table(_mk_turns(spark, 4, "-j").repartition(4), loc)
    I.append_iceberg_table(_mk_turns(spark, 1, "-s").repartition(1), loc)
    drain()
    assert spark.read.parquet(out).count() == 17  # 12 + 4 + 1, no dup
    rows = [
        json.loads(line)
        for line in open(os.path.join(mdir, "batch_lag.jsonl"))
    ]
    tail = [r for r in rows if r["files"] > 0][3:]
    # exactly two data batches: the jumbo commit (> cap, all its files
    # in ONE batch) and the small commit (not merged into the jumbo)
    assert len(tail) == 2
    assert tail[0]["files"] > 2 and tail[1]["files"] == 1
    assert [r["seq_lag"] for r in tail] == [1, 0]  # lag drains to zero


def test_stream_admission_offset_state_machine(spark, tmp_path):
    """Driver-side offset unit drive of IcebergStreamReader (no Spark
    query): the exact call pattern the engine produces — prefetched
    latestOffset BEFORE initialOffset on fresh start, replayed
    partitions() seeding the position on restart — yields capped,
    gapless, non-overlapping windows; every row surfaces exactly once
    across bootstrap groups; snapshot caps honor replace-slide."""
    import pyarrow as pa

    from htrtf_spark.sources import iceberg as I
    from htrtf_spark.sources.iceberg_stream import IcebergStreamReader

    loc = str(tmp_path / "tbl")
    I.write_iceberg_table(_mk_turns(spark, 10).repartition(5), loc)

    def batch_convs(reader, parts):
        out = []
        for p in parts:
            for b in reader.read(p):
                out.extend(pa.Table.from_batches([b]).column("conv_id").to_pylist())
        return out

    import math

    from htrtf_spark.sources.iceberg_stream import _off_key

    n_files = len(I.live_data_files(loc))
    assert n_files >= 4  # enough to force a multi-group bootstrap
    ngrp = math.ceil(n_files / 2)
    r = IcebergStreamReader(loc, {"maxFilesPerTrigger": "2"})
    # fresh query: latestOffset is PREFETCHED before initialOffset
    o1 = r.latestOffset()
    assert o1 == {"seq": 0, "boot_sid": 1, "boot_seq": 1, "grp": 1, "ngrp": ngrp}
    assert r.initialOffset() == {"seq": 0}
    offs = [{"seq": 0}, o1]
    seen = batch_convs(r, r.partitions(offs[-2], offs[-1]))
    batches = [len(seen)]

    # crash after group 1; the restarted reader learns its position
    # from the engine's replay of the last checkpointed batch — same
    # rows — and the NEXT offset CONTINUES the bootstrap instead of
    # restarting it from scratch
    r2 = IcebergStreamReader(loc, {"maxFilesPerTrigger": "2"})
    replay = batch_convs(r2, r2.partitions(offs[-2], offs[-1]))
    assert sorted(replay) == sorted(seen)
    seen = replay

    # drive the remaining bootstrap groups to the completion marker
    while offs[-1] != {"seq": 1}:
        nxt = r2.latestOffset()
        assert _off_key(nxt) > _off_key(offs[-1])  # strictly forward
        rows = batch_convs(r2, r2.partitions(offs[-1], nxt))
        seen += rows
        batches.append(len(rows))
        offs.append(nxt)
    assert sorted(seen) == sorted(f"c{i}" for i in range(10))  # exact
    assert len(batches) == ngrp  # one micro-batch per file group
    assert max(batches) <= 2 * max(
        1, (10 + n_files - 1) // n_files
    ) * 2  # bounded batch size (cap 2 files/group)
    o3 = offs[-1]

    # three appends + a compaction: snapshot cap 1/batch, the replace
    # snapshot slides for free, windows stay gapless
    for tag in ("-a", "-b"):
        I.append_iceberg_table(_mk_turns(spark, 2, tag).repartition(1), loc)
    I.compact_iceberg_table(spark, loc)
    I.append_iceberg_table(_mk_turns(spark, 2, "-c").repartition(1), loc)

    r3 = IcebergStreamReader(loc, {"maxSnapshotsPerTrigger": "1"})
    r3.commit(o3)  # engine delivers the committed offset on restart
    got = []
    cur = o3
    hops = []
    while True:
        nxt = r3.latestOffset()
        if nxt == cur:
            break
        got += batch_convs(r3, r3.partitions(cur, nxt))
        hops.append((cur, nxt))
        cur = nxt
    want = [f"c{i}-a" for i in range(2)] + [f"c{i}-b" for i in range(2)] + [
        f"c{i}-c" for i in range(2)
    ]
    assert sorted(got) == sorted(want)
    # 3 append snapshots, cap 1 -> 3 data-bearing hops (replace free)
    assert len(hops) == 3


def test_stream_admission_bytes_cap(spark, tmp_path):
    """maxBytesPerTrigger: byte-denominated admission control from the
    snapshots' added-files-size summaries (no manifest opened at offset
    time). A 1-byte cap degenerates to one file per bootstrap group
    (group count clamped at the file count) and one commit per batch
    afterwards — the progress guarantee holds under the tightest cap."""
    import json
    import os

    from htrtf_spark.sources import iceberg as I
    from htrtf_spark.sources import iceberg_stream

    iceberg_stream.register(spark)
    loc, out, ckpt, mdir = (
        str(tmp_path / d) for d in ("tbl", "out", "ckpt", "metrics")
    )
    I.write_iceberg_table(_mk_turns(spark, 8).repartition(4), loc)

    def drain():
        q = (
            spark.readStream.format("htrtf_iceberg")
            .option("location", loc)
            .option("maxBytesPerTrigger", "1")
            .option("lagMetricsDir", mdir)
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        q.processAllAvailable()
        q.stop()

    drain()
    assert spark.read.parquet(out).count() == 8  # exactly once
    rows = [
        json.loads(line)
        for line in open(os.path.join(mdir, "batch_lag.jsonl"))
    ]
    boot = [r for r in rows if r["files"] > 0]
    assert [r["files"] for r in boot] == [1, 1, 1, 1]
    assert all(r["bytes"] > 0 for r in boot)

    # each commit exceeds the cap on its own: one batch per commit,
    # never merged, never stalled
    I.append_iceberg_table(_mk_turns(spark, 2, "-a").repartition(1), loc)
    I.append_iceberg_table(_mk_turns(spark, 2, "-b").repartition(1), loc)
    drain()
    assert spark.read.parquet(out).count() == 12
    rows = [
        json.loads(line)
        for line in open(os.path.join(mdir, "batch_lag.jsonl"))
    ]
    tail = [r for r in rows if r["files"] > 0][4:]
    assert len(tail) == 2 and all(r["files"] == 1 for r in tail)
    assert [r["seq_lag"] for r in tail] == [1, 0]

    # the summaries the cap reads are populated on every data commit
    meta = I.current_metadata(loc)
    for s in meta["snapshots"]:
        assert int(s["summary"]["added-files-size"]) > 0


def test_lag_slo_checker_unit(tmp_path):
    """check_lag_slo over synthetic lag lineage: trailing-growth streak
    fires at exactly growth_batches; a drain step resets the streak;
    the absolute ceiling fires independently; empty lineage is ok."""
    import json
    import os

    from htrtf_spark.streaming.lag_slo import (
        check_lag_slo,
        read_lag_rows,
        record_lag_alerts,
    )

    mdir = str(tmp_path / "m")
    os.makedirs(mdir)

    def write(lags):
        with open(os.path.join(mdir, "batch_lag.jsonl"), "w") as f:
            for x in lags:
                f.write(json.dumps({"seq_lag": x, "files": 1}) + "\n")

    assert check_lag_slo(mdir)["ok"]  # no rows yet

    write([5, 4, 3, 0])  # healthy capped drain
    r = check_lag_slo(mdir, growth_batches=3)
    assert r["ok"] and r["growth_streak"] == 0 and r["last_seq_lag"] == 0

    write([0, 1, 2, 3])  # three consecutive increases
    r = check_lag_slo(mdir, growth_batches=3)
    assert not r["ok"] and r["alerts"][0]["kind"] == "lag_growth"
    assert r["alerts"][0]["lags"] == [0, 1, 2, 3]

    # no-op rows (start == end: restart replans, idle polls) must not
    # break up a genuine falling-behind run of WORK batches
    with open(os.path.join(mdir, "batch_lag.jsonl"), "w") as f:
        for lag, s, e in [(0, 0, 1), (2, 1, 1), (1, 1, 2), (3, 2, 2),
                          (2, 2, 3), (4, 3, 3), (3, 3, 4)]:
            f.write(json.dumps({
                "seq_lag": lag, "files": int(s != e),
                "start": {"seq": s}, "end": {"seq": e},
            }) + "\n")
    r = check_lag_slo(mdir, growth_batches=3)
    assert not r["ok"] and r["alerts"][0]["kind"] == "lag_growth"
    assert r["alerts"][0]["lags"] == [0, 1, 2, 3]

    write([0, 1, 2, 2, 3])  # plateau resets the trailing streak
    assert check_lag_slo(mdir, growth_batches=3)["ok"]
    assert check_lag_slo(mdir, growth_batches=1)["ok"] is False

    write([0, 1, 0, 7])  # ceiling independent of growth
    r = check_lag_slo(mdir, growth_batches=3, max_seq_lag=5)
    assert not r["ok"] and r["alerts"][0]["kind"] == "lag_ceiling"
    path = record_lag_alerts(mdir, r)
    assert path and len(open(path).read().splitlines()) == 1
    assert len(read_lag_rows(mdir)) == 4


def test_lag_slo_under_provisioned_trigger_cap(spark, tmp_path):
    """VERDICT r5 #7: a deliberately under-provisioned admission cap —
    one snapshot consumed per tick while upstream appends two — makes
    seq_lag grow tick over tick; the SLO checker fires lag_growth, and
    a full (uncapped) drain brings it back to ok."""
    from htrtf_spark.sources import iceberg as I
    from htrtf_spark.sources import iceberg_stream
    from htrtf_spark.streaming.lag_slo import check_lag_slo

    iceberg_stream.register(spark)
    loc, out, ckpt, mdir = (
        str(tmp_path / d) for d in ("tbl", "out", "ckpt", "metrics")
    )
    I.write_iceberg_table(_mk_turns(spark, 2), loc)

    def tick(capped: bool):
        reader = (
            spark.readStream.format("htrtf_iceberg")
            .option("location", loc)
            .option("lagMetricsDir", mdir)
        )
        if capped:
            reader = reader.option("maxSnapshotsPerTrigger", "1")
        w = (
            reader.load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
        )
        # capped ticks run exactly ONE micro-batch (the cron shape a
        # too-small cap starves); the catch-up drain runs availableNow
        w = w.trigger(once=True) if capped else w.trigger(availableNow=True)
        q = w.start()
        q.processAllAvailable()
        q.stop()

    tick(capped=True)  # bootstrap: consumes the initial snapshot
    for i in range(3):  # each tick: +2 commits upstream, -1 consumed
        I.append_iceberg_table(_mk_turns(spark, 1, f"-a{i}"), loc)
        I.append_iceberg_table(_mk_turns(spark, 1, f"-b{i}"), loc)
        tick(capped=True)
    r = check_lag_slo(mdir, growth_batches=3)
    assert not r["ok"] and r["alerts"][0]["kind"] == "lag_growth"
    assert r["last_seq_lag"] >= 3

    tick(capped=False)  # full drain catches up
    r = check_lag_slo(mdir, growth_batches=3)
    assert r["ok"] and r["last_seq_lag"] == 0
    assert spark.read.parquet(out).count() == 8  # exactly once overall


def test_stream_extract_with_pii_redaction(spark, tmp_path):
    """Hygiene stages are stateless projections, so they compose into
    the streaming extraction unchanged: stream -> extract -> redact_pii
    -> sink masks emails/cards in-flight with per-kind counts."""
    from pyspark.sql import functions as F

    from htrtf_spark.operators.pii import redact_pii
    from htrtf_spark.streaming.extract_stream import stream_extract

    src_dir, out, ckpt = (
        str(tmp_path / d) for d in ("src", "out", "ckpt")
    )
    rows = [
        ("c1", 0, "user", "reach me at a@b.com or 555-123-4567", None),
        ("c2", 0, "user", "card 4111 1111 1111 1111 pays", None),
        ("c3", 0, "user", "nothing sensitive here at all", None),
    ]
    spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn(
        "ts", F.to_timestamp(F.lit("2024-01-01 00:00:00"))
    ).write.mode("overwrite").parquet(src_dir)

    stream = spark.readStream.schema(
        spark.read.parquet(src_dir).schema
    ).parquet(src_dir)
    redacted = redact_pii(stream_extract(stream), "extracted_text")
    q = (
        redacted.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        r["conv_id"]: r
        for r in spark.read.parquet(out).collect()
    }
    # the charset projection inside extraction drops '@' (out of the
    # HTR charset) BEFORE redaction sees the text — so the email is
    # already defanged upstream and n_email is 0; digit-shaped PII
    # (phones, cards) survives extraction and must be masked here
    assert got["c1"]["extracted_text"] == "reach me at ab.com or <PHONE>"
    assert got["c1"]["n_email"] == 0 and got["c1"]["n_phone"] == 1
    assert got["c2"]["extracted_text"] == "card <CC> pays"
    assert got["c2"]["n_cc"] == 1
    assert got["c3"]["n_redactions"] == 0


def test_iceberg_streaming_source_position_deletes(spark, tmp_path):
    """Position deletes under the stream source: a stream resumed after
    the base snapshot surfaces exactly the rows read_iceberg_increment
    returns for the same window, with rows deleted by
    delete_iceberg_positions (at non-zero row indexes, in files of the
    window and of the base snapshot) left out."""
    from pyspark.sql import functions as F

    from htrtf_spark.sources import iceberg as I
    from htrtf_spark.sources import iceberg_stream

    iceberg_stream.register(spark)
    loc = str(tmp_path / "posdel_src")
    schema = ("conv_id string, turn_idx int, role string, text string, "
              "tool string, ts string")

    def mk(prefix, n):
        rows = [(f"{prefix}-{i}", i, "user", f"{prefix}{i}", None,
                 "2024-01-01 00:00:00") for i in range(n)]
        return spark.createDataFrame(rows, schema).repartition(2).withColumn(
            "ts", F.to_timestamp("ts")
        )

    base = I.write_iceberg_table(mk("a", 6), loc)
    I.append_iceberg_table(mk("b", 12), loc)
    pos = I.find_positions(
        spark, loc, "text IN ('a3', 'b2', 'b5', 'b7', 'b11')"
    )
    assert pos.filter("pos > 0").count() > 0
    I.delete_iceberg_positions(pos, loc)

    out_dir = str(tmp_path / "posdel_out")
    q = (
        spark.readStream.format("htrtf_iceberg")
        .option("location", loc)
        .option("startingSequence", str(base))
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "posdel_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    cols = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]

    def rows(df):
        return sorted(tuple(r) for r in df.select(*cols).collect())

    want = rows(I.read_iceberg_increment(spark, loc, from_snapshot_id=base))
    assert rows(spark.read.parquet(out_dir)) == want
    assert sorted(r[3] for r in want) == sorted(
        f"b{i}" for i in range(12) if i not in (2, 5, 7, 11)
    )


@pytest.mark.parametrize(
    "key_cols, keys, partition_by, want",
    [
        (["c"], [(None,)], None, []),
        (["k", "c"], [("b0", None)], None, [("b1", 2, None)]),
        (["k"], [("b0",)], ["k"], [("b1", 2, None)]),
    ],
    ids=["null_key", "two_col_key_one_null", "identity_partition_key"],
)
def test_iceberg_streaming_source_equality_deletes_match_batch(
    spark, tmp_path, key_cols, keys, partition_by, want
):
    """Equality deletes are matched on the resolved columns, as in the
    batch scan: a file that predates column c reads it as NULL, which a
    NULL delete key matches, and an identity partition column (not
    stored in the file) matches its manifest value. The stream surfaces
    exactly the rows read_iceberg_increment returns."""
    import pyspark.sql.types as T

    from htrtf_spark.sources import iceberg as I
    from htrtf_spark.sources import iceberg_stream

    iceberg_stream.register(spark)
    loc = str(tmp_path / "eqnull_src")
    base = I.write_iceberg_table(
        spark.createDataFrame([("a0", 0)], "k string, v int"), loc,
        partition_by=partition_by,
    )
    I.append_iceberg_table(
        spark.createDataFrame([("b0", 1), ("b1", 2)], "k string, v int"), loc
    )
    cur = I.current_metadata(loc)
    fields = I._spark_schema(I._schema_by_id(cur, cur["current-schema-id"]))
    I.evolve_iceberg_schema(
        loc, T.StructType(fields.fields + [T.StructField("c", T.StringType())])
    )
    key_schema = ", ".join(f"{c} string" for c in key_cols)
    I.delete_iceberg_rows(
        spark.createDataFrame(keys, key_schema), loc, key_cols
    )

    out_dir = str(tmp_path / "eqnull_out")
    q = (
        spark.readStream.format("htrtf_iceberg")
        .option("location", loc)
        .option("startingSequence", str(base))
        .load()
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", str(tmp_path / "eqnull_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    def rows(df):
        return sorted(tuple(r) for r in df.select("k", "v", "c").collect())

    assert rows(I.read_iceberg_increment(spark, loc, base)) == want
    got = spark.read.schema("k string, v int, c string").parquet(out_dir)
    assert rows(got) == want
