"""Iceberg v2 table layer: Avro codec roundtrip, create/append/commit
protocol, snapshot time travel, schema pinning, and byte-equality of the
extraction pipeline over Iceberg vs the parquet path."""

from __future__ import annotations

import json
import os
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from htrtf_spark.sources.avro_io import avro_read, avro_write
from htrtf_spark.sources import iceberg as I

ROOT = str(Path(__file__).resolve().parents[1])


def test_avro_roundtrip(tmp_path):
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": "string"},
            {"name": "c", "type": ["null", "long"]},
            {"name": "d", "type": {"type": "array", "items": "string"}},
            {"name": "e", "type": {"type": "map", "values": "int"}},
            {"name": "f", "type": "boolean"},
            {"name": "g", "type": "bytes"},
            {
                "name": "h",
                "type": {
                    "type": "record",
                    "name": "inner",
                    "fields": [{"name": "x", "type": "int"}],
                },
            },
        ],
    }
    recs = [
        {
            "a": -(2**62),
            "b": "héllo ünicode",
            "c": None,
            "d": ["x", "y"],
            "e": {"k1": 1, "k2": -7},
            "f": True,
            "g": b"\x00\xff\x10",
            "h": {"x": 42},
        },
        {
            "a": 2**62,
            "b": "",
            "c": 123,
            "d": [],
            "e": {},
            "f": False,
            "g": b"",
            "h": {"x": -1},
        },
    ]
    p = str(tmp_path / "t.avro")
    avro_write(p, schema, recs, file_meta={"k": "v"})
    got_schema, meta, got = avro_read(p)
    assert got_schema == schema
    assert meta["k"] == "v"
    assert got == recs


@pytest.fixture()
def transcripts_df(spark):
    rows = [
        ("conv-a", 0, "user", "hello   world", None, "2024-01-01 00:00:00"),
        ("conv-a", 1, "assistant", "hi there", None, "2024-01-01 00:00:01"),
        ("conv-b", 0, "user", "second  conv", "tool_x", "2024-01-01 00:01:00"),
    ]
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts string"
    ).withColumn("ts", F.to_timestamp("ts"))


def _collect(df):
    return sorted(tuple(r) for r in df.collect())


def test_create_and_read_roundtrip(spark, transcripts_df, tmp_path):
    loc = str(tmp_path / "tbl")
    sid = I.write_iceberg_table(transcripts_df, loc)
    assert sid == 1
    back = I.read_iceberg_table(spark, loc)
    assert back.schema.fieldNames() == transcripts_df.schema.fieldNames()
    assert _collect(back) == _collect(transcripts_df)


def test_append_and_time_travel(spark, transcripts_df, tmp_path):
    loc = str(tmp_path / "tbl")
    s1 = I.write_iceberg_table(transcripts_df, loc)
    extra = transcripts_df.withColumn("conv_id", F.concat(F.col("conv_id"), F.lit("-v2")))
    s2 = I.append_iceberg_table(extra, loc)
    assert I.snapshot_ids(loc) == [s1, s2]
    # current snapshot sees both commits
    assert I.read_iceberg_table(spark, loc).count() == 6
    # time travel to snapshot 1 replays exactly the first commit
    old = I.read_iceberg_table(spark, loc, snapshot_id=s1)
    assert _collect(old) == _collect(transcripts_df)


def test_append_schema_mismatch_rejected(spark, transcripts_df, tmp_path):
    loc = str(tmp_path / "tbl")
    I.write_iceberg_table(transcripts_df, loc)
    bad = transcripts_df.withColumn("turn_idx", F.col("turn_idx").cast("long"))
    with pytest.raises(ValueError, match="schema mismatch"):
        I.append_iceberg_table(bad, loc)


def test_metadata_layout_is_spec_shaped(spark, transcripts_df, tmp_path):
    """The on-disk layout is the Iceberg v2 HadoopCatalog contract:
    version-hint + vN.metadata.json with required top-level fields,
    manifest list + manifest as Avro with Iceberg field-ids."""
    loc = str(tmp_path / "tbl")
    I.write_iceberg_table(transcripts_df, loc)
    I.append_iceberg_table(transcripts_df.limit(1), loc)

    with open(os.path.join(loc, "metadata", "version-hint.text")) as fh:
        assert fh.read().strip() == "2"
    meta = json.load(open(os.path.join(loc, "metadata", "v2.metadata.json")))
    for key in (
        "format-version", "table-uuid", "schemas", "partition-specs",
        "sort-orders", "current-snapshot-id", "snapshots", "snapshot-log",
        "last-sequence-number",
    ):
        assert key in meta, key
    assert meta["format-version"] == 2
    assert meta["snapshots"][1]["parent-snapshot-id"] == meta["snapshots"][0]["snapshot-id"]
    # field-ids on the data_file struct per the spec
    snap = meta["snapshots"][-1]
    mlist_schema, _, manifests = avro_read(snap["manifest-list"])
    ids = {f["field-id"] for f in mlist_schema["fields"]}
    assert {500, 501, 502, 503, 517}.issubset(ids)
    m_schema, m_meta, entries = avro_read(manifests[-1]["manifest_path"])
    df_ids = {
        f["field-id"]
        for f in next(
            f for f in m_schema["fields"] if f["name"] == "data_file"
        )["type"]["fields"]
    }
    assert {100, 101, 102, 103, 104, 134}.issubset(df_ids)
    assert m_meta["format-version"] == "2"
    assert all(e["data_file"]["file_format"] == "PARQUET" for e in entries)
    # record counts in manifests match the table
    assert sum(
        f["record_count"] for f in I.live_data_files(loc)
    ) == I.read_iceberg_table(spark, loc).count()


def test_extraction_over_iceberg_matches_parquet(spark, tmp_path):
    """The flagship extraction stage over an Iceberg transcripts table is
    byte-identical to the same stage over plain parquet (BASELINE.json
    input contract: Iceberg table of multi-turn transcripts)."""
    from htrtf_spark.plans.pipeline import extract_turns
    from htrtf_spark.sources.transcripts import (
        events_as_transcripts,
        read_transcripts_iceberg,
    )

    tr = events_as_transcripts(spark, "/root/testdata/sf0.001")
    loc = str(tmp_path / "transcripts_iceberg")
    I.write_iceberg_table(tr, loc)

    via_iceberg = extract_turns(
        read_transcripts_iceberg(spark, loc), check_schema=True
    )
    via_parquet = extract_turns(tr, check_schema=True)
    assert _collect(via_iceberg) == _collect(via_parquet)


def test_iceberg_scan_pushes_down_filters(spark, transcripts_df, tmp_path):
    """Snapshot-isolated reads are still real parquet scans: predicate
    pushdown and column pruning reach the file scan."""
    loc = str(tmp_path / "tbl")
    I.write_iceberg_table(transcripts_df, loc)
    df = (
        I.read_iceberg_table(spark, loc)
        .filter(F.col("conv_id") == "conv-a")
        .select("conv_id", "turn_idx")
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters: [IsNotNull(conv_id), EqualTo(conv_id,conv-a)" in plan
    assert "ReadSchema: struct<conv_id:string,turn_idx:int>" in plan


def test_checkpointed_job_over_iceberg(spark, tmp_path):
    """The checkpoint/resume extraction job consumes an Iceberg table
    (kill mid-run, resume, output equals the one-shot parquet-path run) —
    the full BASELINE.json contract end to end."""
    from htrtf_spark.plans import checkpoint as ckpt
    from htrtf_spark.sources.transcripts import (
        events_as_transcripts,
        read_transcripts_iceberg,
    )

    tr = events_as_transcripts(spark, "/root/testdata/sf0.001")
    loc = str(tmp_path / "iceberg_tbl")
    I.write_iceberg_table(tr, loc)
    src = read_transcripts_iceberg(spark, loc)

    out_dir = str(tmp_path / "out")
    with pytest.raises(ckpt.KilledForTest):
        ckpt.run_extraction_checkpointed(
            spark, src, out_dir, n_buckets=4, fail_after_buckets=1
        )
    done_after_kill = ckpt.completed_buckets(out_dir)
    assert 0 < len(done_after_kill) < 4
    ran = ckpt.run_extraction_checkpointed(spark, src, out_dir, n_buckets=4)
    assert len(ran) == 4 - len(done_after_kill)

    got = ckpt.read_output(spark, out_dir)
    from htrtf_spark.plans.pipeline import extract_turns

    direct = extract_turns(tr, check_schema=True)
    assert _collect(got.select(*direct.columns)) == _collect(direct)


def test_partitioned_create_prune_and_materialize(spark, transcripts_df, tmp_path):
    """Identity partitioning: Hive-layout distributed write, partition
    values recorded per manifest entry, manifest-level file pruning (the
    pruned files never reach the scan — checked via inputFiles), and
    partition columns materialized from metadata."""
    loc = str(tmp_path / "ptbl")
    I.write_iceberg_table(transcripts_df, loc, partition_by=["role"])

    # manifest entries carry typed partition tuples
    files = I.live_data_files(loc)
    assert files and all(f["_spec_cols"] == ["role"] for f in files)
    roles = {f["partition"]["role"] for f in files}
    assert roles == {"user", "assistant"}

    # full read equals the source (partition col materialized from meta)
    back = I.read_iceberg_table(spark, loc)
    assert back.schema.fieldNames() == transcripts_df.schema.fieldNames()
    assert _collect(back) == _collect(transcripts_df)

    # pruned read: only user-partition files are scanned
    pruned = I.read_iceberg_table(spark, loc, partition_filter={"role": "user"})
    assert _collect(pruned) == _collect(transcripts_df.filter("role = 'user'"))
    user_files = {f["file_path"] for f in files if f["partition"]["role"] == "user"}

    def _norm(uri):
        return uri.removeprefix("file://")

    assert {_norm(p) for p in pruned.inputFiles()} <= user_files
    assert len(pruned.inputFiles()) < len(files)

    with pytest.raises(ValueError, match="unknown columns"):
        I.read_iceberg_table(spark, loc, partition_filter={"nope": 1})


def test_partition_evolution(spark, transcripts_df, tmp_path):
    """Spec evolution: a table created unpartitioned gains a partitioned
    default spec on append; old manifests keep spec 0, reads stay exact
    (residual filter on unpruned old files), and new-spec files prune."""
    loc = str(tmp_path / "etbl")
    I.write_iceberg_table(transcripts_df, loc)  # spec 0: unpartitioned
    extra = transcripts_df.withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-g2"))
    )
    I.append_iceberg_table(extra, loc, partition_by=["role"])  # spec 1

    meta = I.current_metadata(loc)
    assert [s["spec-id"] for s in meta["partition-specs"]] == [0, 1]
    assert meta["default-spec-id"] == 1

    # per-manifest specs: old files unpartitioned, new files role-typed
    files = I.live_data_files(loc)
    spec_sets = {tuple(f["_spec_cols"]) for f in files}
    assert spec_sets == {(), ("role",)}

    both = transcripts_df.unionByName(extra)
    assert _collect(I.read_iceberg_table(spark, loc)) == _collect(both)

    # filtered read is exact across both specs: new-spec files prune at
    # the manifest, old-spec files pass through the residual filter
    got = I.read_iceberg_table(spark, loc, partition_filter={"role": "user"})
    assert _collect(got) == _collect(both.filter("role = 'user'"))
    # at least the non-user new-spec files were never scanned
    new_nonuser = {
        f["file_path"] for f in files
        if f["_spec_cols"] == ["role"] and f["partition"]["role"] != "user"
    }
    scanned = {p.removeprefix("file://") for p in got.inputFiles()}
    assert not (scanned & new_nonuser)

    # keeping the default spec on plain append still partitions
    I.append_iceberg_table(
        transcripts_df.withColumn(
            "conv_id", F.concat(F.col("conv_id"), F.lit("-g3"))
        ),
        loc,
    )
    files3 = I.live_data_files(loc)
    assert sum(1 for f in files3 if f["_spec_cols"] == ["role"]) > sum(
        1 for f in files if f["_spec_cols"] == ["role"]
    )


def test_partitioned_null_values(spark, tmp_path):
    """NULL partition values (__HIVE_DEFAULT_PARTITION__) roundtrip:
    reads don't crash on mixed None/str group sort, and a None in
    partition_filter matches the null-partition rows (isNull branch,
    not the never-matching isin)."""
    rows = [
        ("conv-a", 0, "user", "hello", None, "2024-01-01 00:00:00"),
        ("conv-b", 0, None, "ghost role", None, "2024-01-01 00:00:01"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    loc = str(tmp_path / "ntbl")
    I.write_iceberg_table(df, loc, partition_by=["role"])

    files = I.live_data_files(loc)
    assert {f["partition"]["role"] for f in files} == {"user", None}

    assert _collect(I.read_iceberg_table(spark, loc)) == _collect(df)
    got = I.read_iceberg_table(spark, loc, partition_filter={"role": [None]})
    assert _collect(got) == _collect(df.filter(F.col("role").isNull()))
    both = I.read_iceberg_table(
        spark, loc, partition_filter={"role": [None, "user"]}
    )
    assert _collect(both) == _collect(df)


def test_equality_deletes(spark, transcripts_df, tmp_path):
    """v2 equality deletes: delete file + DELETES manifest, strict
    sequence-number applicability, time travel unaffected."""
    loc = str(tmp_path / "dtbl")
    s1 = I.write_iceberg_table(transcripts_df, loc)
    keys = spark.createDataFrame([("conv-a",)], "conv_id string")
    I.delete_iceberg_rows(keys, loc, ["conv_id"])

    # deleted rows gone from the current snapshot
    got = I.read_iceberg_table(spark, loc)
    assert _collect(got) == _collect(transcripts_df.filter("conv_id <> 'conv-a'"))
    # the delete file is listed with resolved equality column names
    dels = I.live_delete_files(loc)
    assert len(dels) == 1 and dels[0]["_eq_cols"] == ["conv_id"]
    assert dels[0]["content"] == 2
    # time travel to the pre-delete snapshot still sees every row
    assert _collect(I.read_iceberg_table(spark, loc, snapshot_id=s1)) == _collect(
        transcripts_df
    )

    # rows APPENDED AFTER the delete are untouched (strict seq rule),
    # even with the same equality key
    revived = transcripts_df.filter("conv_id = 'conv-a'")
    I.append_iceberg_table(revived, loc)
    got2 = I.read_iceberg_table(spark, loc)
    assert _collect(got2) == _collect(
        transcripts_df.filter("conv_id <> 'conv-a'").unionByName(revived)
    )

    with pytest.raises(ValueError, match="equality columns"):
        I.delete_iceberg_rows(keys.withColumnRenamed("conv_id", "nope"), loc, ["nope"])


def test_equality_delete_on_partitioned_table(spark, transcripts_df, tmp_path):
    """Deletes on a partitioned table ride a synthesized unpartitioned
    spec and must NOT change the default write spec for later appends."""
    loc = str(tmp_path / "dptbl")
    I.write_iceberg_table(transcripts_df, loc, partition_by=["role"])
    keys = spark.createDataFrame([("assistant",)], "role string")
    I.delete_iceberg_rows(keys, loc, ["role"])
    meta = I.current_metadata(loc)
    assert meta["default-spec-id"] == 0  # unchanged by the delete commit

    got = I.read_iceberg_table(spark, loc)
    assert _collect(got) == _collect(transcripts_df.filter("role <> 'assistant'"))
    # partition pruning still composes with delete application
    got_u = I.read_iceberg_table(spark, loc, partition_filter={"role": "user"})
    assert _collect(got_u) == _collect(transcripts_df.filter("role = 'user'"))

    # append after the delete stays partitioned under spec 0
    extra = transcripts_df.withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-new"))
    )
    I.append_iceberg_table(extra, loc)
    files = I.live_data_files(loc)
    assert all(f["_spec_cols"] == ["role"] for f in files)
    got3 = I.read_iceberg_table(spark, loc)
    assert _collect(got3) == _collect(
        transcripts_df.filter("role <> 'assistant'").unionByName(extra)
    )


def test_schema_evolution_add_column(spark, transcripts_df, tmp_path):
    """Add-only schema evolution: new nullable column gets a fresh
    field-id; pre-evolution files read as NULL; appends carry values;
    rename/drop/type-change/non-nullable are rejected."""
    import pyspark.sql.types as T

    loc = str(tmp_path / "evtbl")
    I.write_iceberg_table(transcripts_df, loc)
    old_last = I.current_metadata(loc)["last-column-id"]

    new_schema = T.StructType(
        list(transcripts_df.schema.fields)
        + [T.StructField("lang", T.StringType(), True)]
    )
    sid = I.evolve_iceberg_schema(loc, new_schema)
    meta = I.current_metadata(loc)
    assert meta["current-schema-id"] == sid
    assert meta["last-column-id"] == old_last + 1
    lang_field = [
        f for f in meta["schemas"][sid]["fields"] if f["name"] == "lang"
    ][0]
    assert lang_field["id"] == old_last + 1 and not lang_field["required"]

    # old rows surface NULL for the new column
    got = I.read_iceberg_table(spark, loc)
    assert "lang" in got.columns
    assert got.filter(F.col("lang").isNotNull()).count() == 0

    # appends under the evolved schema carry real values
    extra = transcripts_df.withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-v2"))
    ).withColumn("lang", F.lit("en"))
    I.append_iceberg_table(extra, loc)
    got2 = I.read_iceberg_table(spark, loc)
    assert got2.count() == 2 * transcripts_df.count()
    assert got2.filter("lang = 'en'").count() == transcripts_df.count()
    assert got2.filter(F.col("lang").isNull()).count() == transcripts_df.count()

    # rejected evolutions
    with pytest.raises(ValueError, match="dropped columns"):
        I.evolve_iceberg_schema(
            loc, T.StructType([f for f in new_schema.fields if f.name != "role"])
        )
    with pytest.raises(ValueError, match="changed type"):
        bad = T.StructType(
            [
                T.StructField(f.name, T.LongType() if f.name == "role" else f.dataType, True)
                for f in new_schema.fields
            ]
        )
        I.evolve_iceberg_schema(loc, bad)
    with pytest.raises(ValueError, match="must be nullable"):
        I.evolve_iceberg_schema(
            loc,
            T.StructType(
                list(new_schema.fields)
                + [T.StructField("score", T.LongType(), False)]
            ),
        )


def test_position_deletes(spark, transcripts_df, tmp_path):
    """v2 POSITION_DELETES: predicate → (file_path, pos) via
    _metadata.row_index, committed as a content=1 delete file; reads
    drop exactly those rows; time travel unaffected; composes with a
    later equality delete."""
    loc = str(tmp_path / "postbl")
    s1 = I.write_iceberg_table(transcripts_df, loc)
    pos = I.find_positions(spark, loc, "conv_id = 'conv-b'")
    rows = pos.collect()
    assert len(rows) == 1 and rows[0]["pos"] >= 0
    assert not rows[0]["file_path"].startswith("file:")
    I.delete_iceberg_positions(pos, loc)

    got = I.read_iceberg_table(spark, loc)
    assert _collect(got) == _collect(transcripts_df.filter("conv_id <> 'conv-b'"))
    assert _collect(I.read_iceberg_table(spark, loc, snapshot_id=s1)) == _collect(
        transcripts_df
    )
    dels = I.live_delete_files(loc)
    assert [d["content"] for d in dels] == [1]

    # stack an equality delete on top — both apply
    I.delete_iceberg_rows(
        spark.createDataFrame([("conv-a",)], "conv_id string"), loc, ["conv_id"]
    )
    got2 = I.read_iceberg_table(spark, loc)
    assert _collect(got2) == _collect(
        transcripts_df.filter("conv_id NOT IN ('conv-a', 'conv-b')")
    )


def test_compact_and_expire(spark, transcripts_df, tmp_path):
    """Maintenance: compaction rewrites visible rows into fresh files
    (deletes merged away, one manifest), and expire_snapshots removes
    files referenced only by expired snapshots while the current read
    stays intact."""
    loc = str(tmp_path / "mtbl")
    I.write_iceberg_table(transcripts_df, loc)
    I.delete_iceberg_rows(
        spark.createDataFrame([("conv-a",)], "conv_id string"), loc, ["conv_id"]
    )
    expect = transcripts_df.filter("conv_id <> 'conv-a'")

    I.compact_iceberg_table(spark, loc)
    # compacted snapshot: no delete files, one data manifest, same rows
    assert I.live_delete_files(loc) == []
    assert _collect(I.read_iceberg_table(spark, loc)) == _collect(expect)
    meta = I.current_metadata(loc)
    snap = [s for s in meta["snapshots"]
            if s["snapshot-id"] == meta["current-snapshot-id"]][0]
    _, _, mans = I.avro_read(snap["manifest-list"])
    assert len(mans) == 1

    old_files = {f["file_path"] for f in I.live_data_files(loc, snapshot_id=1)}
    expired = I.expire_snapshots(loc, keep_last=1)
    assert len(expired) == 2
    # expired-only data files are physically gone; current read intact
    import os as _os

    assert all(not _os.path.exists(p) for p in old_files)
    assert _collect(I.read_iceberg_table(spark, loc)) == _collect(expect)
    with pytest.raises(KeyError):
        I.read_iceberg_table(spark, loc, snapshot_id=1).collect()


def test_equality_delete_null_key(spark, transcripts_df, tmp_path):
    """A NULL delete key deletes rows WHERE col IS NULL (null-safe
    equality per the spec; plain equi-anti would never match)."""
    rows = [
        ("c1", 0, "user", "keep me", None, "2024-01-01 00:00:00"),
        ("c2", 0, "user", "null tool row", None, "2024-01-01 00:00:01"),
        ("c3", 0, "user", "tooled row", "tool_x", "2024-01-01 00:00:02"),
    ]
    df = spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    loc = str(tmp_path / "nulldel")
    I.write_iceberg_table(df, loc)
    keys = spark.createDataFrame([(None,)], "tool string")
    I.delete_iceberg_rows(keys, loc, ["tool"])
    got = I.read_iceberg_table(spark, loc)
    assert _collect(got) == _collect(df.filter(F.col("tool").isNotNull()))


def test_find_positions_on_partition_column(spark, transcripts_df, tmp_path):
    """find_positions predicates may reference identity partition
    columns (materialized from manifests; Hive-layout files don't store
    them)."""
    loc = str(tmp_path / "pospart")
    I.write_iceberg_table(transcripts_df, loc, partition_by=["role"])
    pos = I.find_positions(spark, loc, "role = 'assistant'")
    assert pos.count() == transcripts_df.filter("role = 'assistant'").count() > 0
    I.delete_iceberg_positions(pos, loc)
    got = I.read_iceberg_table(spark, loc)
    assert _collect(got) == _collect(transcripts_df.filter("role <> 'assistant'"))


def test_delete_commits_reuse_empty_spec(spark, transcripts_df, tmp_path):
    """Repeated deletes on a partitioned table reuse ONE synthesized
    unpartitioned spec instead of registering a new spec-id per
    commit."""
    loc = str(tmp_path / "specbloat")
    I.write_iceberg_table(transcripts_df, loc, partition_by=["role"])
    for conv in ("conv-a", "conv-b"):
        I.delete_iceberg_rows(
            spark.createDataFrame([(conv,)], "conv_id string"), loc, ["conv_id"]
        )
    meta = I.current_metadata(loc)
    assert len(meta["partition-specs"]) == 2  # partitioned + ONE empty


def test_upsert(spark, transcripts_df, tmp_path):
    """Upsert replaces matched keys and inserts new ones; unmatched rows
    untouched; running the same upsert twice is idempotent in effect."""
    loc = str(tmp_path / "uptbl")
    I.write_iceberg_table(transcripts_df, loc)
    changes = spark.createDataFrame(
        [
            ("conv-a", 0, "user", "EDITED text", None, "2024-01-01 09:00:00"),
            ("conv-c", 0, "user", "brand new", None, "2024-01-02 00:00:00"),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    I.upsert_iceberg_table(changes, loc, ["conv_id", "turn_idx"])

    got = I.read_iceberg_table(spark, loc)
    expect = transcripts_df.join(
        changes.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_anti"
    ).unionByName(changes)
    assert _collect(got) == _collect(expect)

    # re-applying the same upsert leaves the same visible rows
    I.upsert_iceberg_table(changes, loc, ["conv_id", "turn_idx"])
    assert _collect(I.read_iceberg_table(spark, loc)) == _collect(expect)


def test_upsert_on_partitioned_table(spark, transcripts_df, tmp_path):
    """Upsert composes with identity partitioning: the delete rides the
    empty spec, the append stays partitioned under the default spec."""
    loc = str(tmp_path / "uptbl2")
    I.write_iceberg_table(transcripts_df, loc, partition_by=["role"])
    changes = spark.createDataFrame(
        [("conv-a", 1, "assistant", "REVISED", None, "2024-01-01 10:00:00")],
        "conv_id string, turn_idx int, role string, text string, tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    I.upsert_iceberg_table(changes, loc, ["conv_id", "turn_idx"])
    got = I.read_iceberg_table(spark, loc)
    expect = transcripts_df.join(
        changes.select("conv_id", "turn_idx"), ["conv_id", "turn_idx"], "left_anti"
    ).unionByName(changes)
    assert _collect(got) == _collect(expect)
    # new data files still partitioned; default spec untouched
    meta = I.current_metadata(loc)
    assert meta["default-spec-id"] == 0
    assert I.read_iceberg_table(
        spark, loc, partition_filter={"role": "assistant"}
    ).count() == expect.filter("role = 'assistant'").count()


def test_set_table_properties_merge(spark, transcripts_df, tmp_path):
    loc = str(tmp_path / "proptbl")
    I.write_iceberg_table(transcripts_df, loc, properties={"a": "1"})
    I.set_table_properties(loc, {"b": "2"})
    I.set_table_properties(loc, {"a": "3"})
    props = I.current_metadata(loc)["properties"]
    assert props["a"] == "3" and props["b"] == "2"
    # data untouched by metadata-only commits
    assert I.read_iceberg_table(spark, loc).count() == transcripts_df.count()


# ------------------------------------------------- partition transforms


def test_murmur3_matches_spec_vectors():
    """The bucket hash must be the spec's exact 32-bit Murmur3 over the
    single-value serialization (Appendix B published test vectors)."""
    def s32(u):
        return u - (1 << 32) if u >= (1 << 31) else u

    assert s32(I._murmur3_32((34).to_bytes(8, "little", signed=True))) == 2017239379
    assert s32(I._murmur3_32("iceberg".encode())) == 1210000089
    # int is widened to long before hashing → same bucket as long
    assert I._bucket_value(34, 16, "int") == I._bucket_value(34, 16, "long")


@pytest.fixture()
def multiday_df(spark):
    rows = [
        ("conv-a", 0, "user", "day one a", None, "2024-01-01 08:00:00"),
        ("conv-a", 1, "assistant", "day one b", None, "2024-01-01 09:00:00"),
        ("conv-b", 0, "user", "day two", None, "2024-01-02 10:00:00"),
        ("conv-c", 0, "user", "day three", "tool_x", "2024-01-03 11:00:00"),
    ]
    return spark.createDataFrame(
        rows,
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))


def test_day_partition_write_and_prune(spark, multiday_df, tmp_path):
    import datetime as dt

    loc = str(tmp_path / "daytbl")
    I.write_iceberg_table(multiday_df, loc, partition_by=["days(ts)"])

    files = I.live_data_files(loc)
    # transform fields are metadata-only: not in _spec_cols (no column
    # to materialize), day ints recorded in the manifest tuples
    assert all(f["_spec_cols"] == [] for f in files)
    days = {f["partition"]["ts_day"] for f in files}
    epoch = dt.date(1970, 1, 1)
    want_days = {
        (dt.date(2024, 1, d) - epoch).days for d in (1, 2, 3)
    }
    assert days == want_days

    # full read: ts survives in the data files (nothing materialized)
    back = I.read_iceberg_table(spark, loc)
    assert _collect(back) == _collect(multiday_df)

    # transform-granularity filter: one day, date-typed value
    one = I.read_iceberg_table(
        spark, loc, partition_filter={"days(ts)": dt.date(2024, 1, 2)}
    )
    assert _collect(one) == _collect(multiday_df.filter("conv_id = 'conv-b'"))
    assert len(one.inputFiles()) < len(files)

    # value filter on the source column prunes via the transform too
    t = dt.datetime(2024, 1, 3, 11, 0, 0)
    v = I.read_iceberg_table(spark, loc, partition_filter={"ts": t})
    assert _collect(v) == _collect(multiday_df.filter("conv_id = 'conv-c'"))
    assert len(v.inputFiles()) < len(files)


def test_bucket_partition_write_and_prune(spark, multiday_df, tmp_path):
    loc = str(tmp_path / "buckettbl")
    I.write_iceberg_table(multiday_df, loc, partition_by=["bucket(4, conv_id)"])

    files = I.live_data_files(loc)
    buckets = {f["partition"]["conv_id_bucket"] for f in files}
    assert buckets == {
        I._bucket_value(c, 4, "string") for c in ("conv-a", "conv-b", "conv-c")
    }

    back = I.read_iceberg_table(spark, loc)
    assert _collect(back) == _collect(multiday_df)

    # value filter prunes to the key's bucket, residual keeps it exact
    # (other keys sharing the bucket are filtered out row-wise)
    one = I.read_iceberg_table(
        spark, loc, partition_filter={"conv_id": "conv-a"}
    )
    assert _collect(one) == _collect(multiday_df.filter("conv_id = 'conv-a'"))
    want_files = {
        f["file_path"]
        for f in files
        if f["partition"]["conv_id_bucket"]
        == I._bucket_value("conv-a", 4, "string")
    }
    assert {p.removeprefix("file://") for p in one.inputFiles()} <= want_files


def test_day_partition_append_same_spec(spark, multiday_df, tmp_path):
    """Appending with the same transform terms reuses the spec (no
    spurious partition evolution)."""
    loc = str(tmp_path / "daytbl2")
    I.write_iceberg_table(multiday_df, loc, partition_by=["days(ts)"])
    I.append_iceberg_table(multiday_df, loc, partition_by=["days(ts)"])
    meta = I.current_metadata(loc)
    assert len(meta["partition-specs"]) == 1
    assert I.read_iceberg_table(spark, loc).count() == 2 * multiday_df.count()


# ---------------------------------------------- concurrent commit safety


def test_stale_commit_raises_conflict(spark, transcripts_df, tmp_path):
    """A writer that built on stale metadata must get CommitConflict —
    never silently clobber the racing winner's version file."""
    loc = str(tmp_path / "racetbl")
    I.write_iceberg_table(transcripts_df, loc)
    stale = I.current_metadata(loc)
    # racing writer wins a commit in between
    I.set_table_properties(loc, {"winner": "w1"})
    schema = stale["schemas"][stale["current-schema-id"]]
    with pytest.raises(I.CommitConflict):
        I._commit(loc, schema, [], prev_meta=stale,
                  spec={"spec-id": 0, "fields": []})
    # the winner's commit is intact
    assert I.current_metadata(loc)["properties"]["winner"] == "w1"


def test_interleaved_writers_both_survive(spark, transcripts_df, tmp_path):
    """Two writers racing through the retrying commit path: both commits
    land (one retries), nothing lost."""
    loc = str(tmp_path / "racetbl2")
    I.write_iceberg_table(transcripts_df, loc)
    meta0 = I.current_metadata(loc)
    schema = meta0["schemas"][meta0["current-schema-id"]]
    # both writers capture the SAME stale metadata
    s1 = I._commit_retrying(loc, schema, [], dict(meta0), I._empty_spec)
    s2 = I._commit_retrying(loc, schema, [], dict(meta0), I._empty_spec)
    meta = I.current_metadata(loc)
    ids = {s["snapshot-id"] for s in meta["snapshots"]}
    assert {s1, s2} <= ids and s1 != s2
    assert meta["last-sequence-number"] == 3


def test_create_properties_single_commit(spark, transcripts_df, tmp_path):
    """Table-create with properties publishes ONE metadata version: the
    properties ride the initial commit (no crash window in which the
    data snapshot is visible without them — the exactly-once marker of
    the streaming sink depends on this)."""
    import glob as _glob

    loc = str(tmp_path / "proptbl")
    I.write_iceberg_table(
        transcripts_df, loc, properties={"stream.batch-id": "0"}
    )
    versions = _glob.glob(os.path.join(loc, "metadata", "v*.metadata.json"))
    assert len(versions) == 1
    meta = I.current_metadata(loc)
    assert meta["properties"]["stream.batch-id"] == "0"


def _lose_race(monkeypatch, loc, racing_commit):
    """Stage a lost race: capture the table metadata, let
    ``racing_commit()`` land on top of it, then serve the captured
    (stale) metadata from ``current_metadata`` until the first publish
    attempt. That attempt conflicts; every later read is fresh."""
    import copy

    stale = I.current_metadata(loc)
    racing_commit()
    real_read, real_publish = I.current_metadata, I._publish_metadata
    published = []

    def read(location):
        return copy.deepcopy(stale) if not published else real_read(location)

    def publish(*args, **kwargs):
        published.append(True)
        return real_publish(*args, **kwargs)

    monkeypatch.setattr(I, "current_metadata", read)
    monkeypatch.setattr(I, "_publish_metadata", publish)


def _current_fields(loc):
    meta = I.current_metadata(loc)
    return [
        (f["id"], f["name"])
        for f in I._schema_by_id(meta, meta["current-schema-id"])["fields"]
    ]


def test_racing_evolve_keeps_other_writers_column(
    spark, transcripts_df, tmp_path, monkeypatch
):
    """A schema evolution that loses the race re-runs its checks on the
    fresh schema: the winner's column is not dropped and its field id is
    never handed to another column."""
    import pyspark.sql.types as T

    loc = str(tmp_path / "evrace")
    I.write_iceberg_table(transcripts_df, loc)
    base = list(transcripts_df.schema.fields)
    col_c = T.StructField("c", T.StringType(), True)
    col_d = T.StructField("d", T.LongType(), True)
    _lose_race(
        monkeypatch, loc,
        lambda: I.evolve_iceberg_schema(loc, T.StructType(base + [col_c])),
    )
    with pytest.raises(ValueError, match=r"dropped columns \['c'\]"):
        I.evolve_iceberg_schema(loc, T.StructType(base + [col_d]))
    monkeypatch.undo()

    assert _current_fields(loc)[-1] == (7, "c")
    # the caller's retry against the fresh schema gets a fresh id
    I.evolve_iceberg_schema(loc, T.StructType(base + [col_c, col_d]))
    assert _current_fields(loc)[-2:] == [(7, "c"), (8, "d")]
    meta = I.current_metadata(loc)
    seen = {}
    for s in meta["schemas"]:
        for f in s["fields"]:
            assert seen.setdefault(f["id"], (f["name"], f["type"])) == (
                f["name"], f["type"]
            )


def test_racing_rename_of_other_column_survives(
    spark, transcripts_df, tmp_path, monkeypatch
):
    """Two renames of different columns race: the loser renames on top
    of the winner's schema, so both renames survive."""
    loc = str(tmp_path / "rnrace")
    I.write_iceberg_table(transcripts_df, loc)
    _lose_race(
        monkeypatch, loc, lambda: I.rename_iceberg_column(loc, "text", "body")
    )
    I.rename_iceberg_column(loc, "tool", "tool_name")
    monkeypatch.undo()

    names = [n for _id, n in _current_fields(loc)]
    assert "body" in names and "tool_name" in names
    assert "text" not in names and "tool" not in names
    back = I.read_iceberg_table(spark, loc)
    assert sorted(r["body"] for r in back.collect()) == sorted(
        r["text"] for r in transcripts_df.collect()
    )


def test_drop_refuses_racing_equality_delete(
    spark, transcripts_df, tmp_path, monkeypatch
):
    """A drop that loses the race to an equality delete keyed on the
    same column re-runs its guard on the fresh metadata and refuses,
    so the delete stays resolvable."""
    loc = str(tmp_path / "droprace")
    I.write_iceberg_table(transcripts_df, loc)
    keys = spark.createDataFrame([("conv-a",)], "conv_id string")
    _lose_race(
        monkeypatch, loc, lambda: I.delete_iceberg_rows(keys, loc, ["conv_id"])
    )
    with pytest.raises(ValueError, match="live equality-delete file"):
        I.drop_iceberg_column(loc, "conv_id")
    monkeypatch.undo()

    assert "conv_id" in [n for _id, n in _current_fields(loc)]
    assert _collect(I.read_iceberg_table(spark, loc)) == _collect(
        transcripts_df.filter("conv_id <> 'conv-a'")
    )


def test_append_after_racing_partition_evolution(
    spark, transcripts_df, tmp_path, monkeypatch
):
    """An append with no partition_by that loses the race to a
    partition-evolving append commits under the spec its files were
    written under, and the winner's spec stays the table default."""
    loc = str(tmp_path / "specrace")
    I.write_iceberg_table(transcripts_df, loc)
    _lose_race(
        monkeypatch, loc,
        lambda: I.append_iceberg_table(
            transcripts_df, loc, partition_by=["role"]
        ),
    )
    I.append_iceberg_table(transcripts_df, loc)
    monkeypatch.undo()

    meta = I.current_metadata(loc)
    specs = {sp["spec-id"]: sp for sp in meta["partition-specs"]}
    assert [f["name"] for f in specs[meta["default-spec-id"]]["fields"]] == [
        "role"
    ]
    assert _collect(I.read_iceberg_table(spark, loc)) == sorted(
        _collect(transcripts_df) * 3
    )


def test_one_commit_loop_per_kind():
    """Structural guard on the commit protocol: only ``_commit`` and
    ``_retry_metadata_update`` publish metadata, and only the three
    retry loops catch CommitConflict — a hand-rolled loop elsewhere is
    how a stale retry slips back in."""
    import ast

    tree = ast.parse(Path(I.__file__).read_text())
    publishers, catchers = [], []
    for stmt in tree.body:
        owner = getattr(stmt, "name", "<module>")
        for node in ast.walk(stmt):
            if isinstance(node, ast.Call) and "_publish_metadata" in {
                getattr(node.func, "id", None), getattr(node.func, "attr", None)
            }:
                publishers.append(owner)
            if isinstance(node, ast.ExceptHandler) and node.type is not None:
                names = {
                    getattr(n, "id", None) or getattr(n, "attr", None)
                    for n in ast.walk(node.type)
                }
                if "CommitConflict" in names:
                    catchers.append(owner)
    assert sorted(publishers) == ["_commit", "_retry_metadata_update"]
    assert sorted(catchers) == [
        "_commit_retrying", "_replace_retrying", "_retry_metadata_update"
    ]


def test_one_read_plan_for_both_readers():
    """Structural guard on how a data file is read: only
    ``_read_plans`` reads a file record's sequence number to decide
    which deletes apply (``files_df`` only reports it), so the batch
    scan and the stream source cannot disagree; and the stream's
    executor-side read builds no per-row Python lists."""
    import ast

    from htrtf_spark.sources import iceberg_stream

    readers, plan_compares = [], 0
    for mod in (I, iceberg_stream):
        tree = ast.parse(Path(mod.__file__).read_text())
        for stmt in tree.body:
            owner = getattr(stmt, "name", "<module>")
            for node in ast.walk(stmt):
                if (
                    isinstance(node, ast.Subscript)
                    and isinstance(node.ctx, ast.Load)
                    and getattr(node.slice, "value", None) == "_seq"
                ):
                    readers.append(owner)
                if owner == "_read_plans" and isinstance(node, ast.Compare):
                    plan_compares += sum(
                        isinstance(op, (ast.Gt, ast.GtE, ast.Lt, ast.LtE))
                        for op in node.ops
                    )
        if mod is iceberg_stream:
            reader = next(
                n for n in ast.walk(tree)
                if isinstance(n, ast.FunctionDef) and n.name == "read"
            )
            calls = {
                getattr(n.func, "attr", None)
                for n in ast.walk(reader) if isinstance(n, ast.Call)
            }
            assert "to_pylist" not in calls
    assert sorted(set(readers)) == ["_read_plans", "files_df"]
    assert plan_compares == 2  # equality (>) and position (>=) deletes


# ------------------------------------- rename/drop evolution (field ids)


def test_rename_column_old_files_resolve_by_id(spark, transcripts_df, tmp_path):
    loc = str(tmp_path / "rntbl")
    I.write_iceberg_table(transcripts_df, loc)
    sid1 = I.current_metadata(loc)["current-snapshot-id"]

    I.rename_iceberg_column(loc, "text", "body")

    # old data files (written under 'text') surface under 'body' — the
    # parquet column is resolved by FIELD ID, not name; values intact
    back = I.read_iceberg_table(spark, loc)
    assert "body" in back.columns and "text" not in back.columns
    assert sorted(r["body"] for r in back.collect()) == sorted(
        r["text"] for r in transcripts_df.collect()
    )

    # append under the NEW name; both generations read together
    renamed = transcripts_df.withColumnRenamed("text", "body")
    I.append_iceberg_table(renamed, loc)
    assert I.read_iceberg_table(spark, loc).count() == 2 * transcripts_df.count()

    # time travel to the pre-rename snapshot surfaces the OLD name
    # (snapshot schema-id resolution)
    old = I.read_iceberg_table(spark, loc, snapshot_id=sid1)
    assert "text" in old.columns and "body" not in old.columns
    assert _collect(old) == _collect(transcripts_df)


def test_drop_column_hides_without_rewrite(spark, transcripts_df, tmp_path):
    loc = str(tmp_path / "droptbl")
    I.write_iceberg_table(transcripts_df, loc)
    sid1 = I.current_metadata(loc)["current-snapshot-id"]
    files_before = {f["file_path"] for f in I.live_data_files(loc)}

    I.drop_iceberg_column(loc, "tool")
    back = I.read_iceberg_table(spark, loc)
    assert "tool" not in back.columns
    # no data file was rewritten
    assert {f["file_path"] for f in I.live_data_files(loc)} == files_before

    # time travel to the pre-drop snapshot still sees the column
    old = I.read_iceberg_table(spark, loc, snapshot_id=sid1)
    assert "tool" in old.columns
    assert _collect(old) == _collect(transcripts_df)


def test_readd_after_drop_gets_fresh_id(spark, transcripts_df, tmp_path):
    """Re-adding a dropped column name must NOT resurrect old values —
    the new field has a fresh id, and id-based resolution maps the old
    files' same-named parquet column to nothing."""
    from pyspark.sql import types as T

    loc = str(tmp_path / "readdtbl")
    I.write_iceberg_table(transcripts_df, loc)
    I.drop_iceberg_column(loc, "tool")
    new_schema = T.StructType(
        [f for f in transcripts_df.schema.fields if f.name != "tool"]
        + [T.StructField("tool", T.StringType(), True)]
    )
    I.evolve_iceberg_schema(loc, new_schema)
    back = I.read_iceberg_table(spark, loc)
    assert [r["tool"] for r in back.collect()] == [None] * transcripts_df.count()


def test_drop_partition_source_refused(spark, transcripts_df, tmp_path):
    loc = str(tmp_path / "dropparttbl")
    I.write_iceberg_table(transcripts_df, loc, partition_by=["role"])
    with pytest.raises(ValueError, match="partition source"):
        I.drop_iceberg_column(loc, "role")


def test_equality_delete_survives_rename(spark, transcripts_df, tmp_path):
    """Equality-delete files written before a rename keep applying after
    it: their key columns are recorded as field ids and the delete
    parquet is resolved by id like any data file."""
    loc = str(tmp_path / "delrntbl")
    I.write_iceberg_table(transcripts_df, loc)
    keys = transcripts_df.filter("conv_id = 'conv-a'").select("conv_id").distinct()
    I.delete_iceberg_rows(keys, loc, ["conv_id"])
    I.rename_iceberg_column(loc, "conv_id", "conversation")
    back = I.read_iceberg_table(spark, loc)
    assert sorted(r["conversation"] for r in back.collect()) == ["conv-b"]


def test_truncate_partition_write_and_prune(spark, tmp_path):
    """truncate(W, col): ints floor toward -inf (spec: truncate(10, -1)
    = -10), strings keep the first W codepoints; value filters prune
    through the transform."""
    assert I._truncate_value(1, 10, "int") == 0
    assert I._truncate_value(-1, 10, "int") == -10
    assert I._truncate_value("iceberg", 3, "string") == "ice"

    rows = [(i, f"user-{i % 7:03d}", float(i)) for i in range(-20, 80)]
    df = spark.createDataFrame(rows, "k int, name string, v double")
    loc = str(tmp_path / "trunctbl")
    I.write_iceberg_table(df, loc, partition_by=["truncate(25, k)"])

    files = I.live_data_files(loc)
    assert {f["partition"]["k_trunc"] for f in files} == {-25, 0, 25, 50, 75}

    back = I.read_iceberg_table(spark, loc)
    assert sorted(r["k"] for r in back.collect()) == list(range(-20, 80))

    one = I.read_iceberg_table(spark, loc, partition_filter={"k": 30})
    assert [r["k"] for r in one.collect()] == [30]
    assert len(one.inputFiles()) < len(files)

    # string truncate
    loc2 = str(tmp_path / "trunctbl2")
    I.write_iceberg_table(df, loc2, partition_by=["truncate(6, name)"])
    vals = {
        f["partition"]["name_trunc"] for f in I.live_data_files(loc2)
    }
    assert vals == {"user-0"}  # all names share the 6-codepoint prefix
    got = I.read_iceberg_table(
        spark, loc2, partition_filter={"name": "user-003"}
    )
    assert sorted(r["k"] for r in got.collect()) == [
        i for i in range(-20, 80) if i % 7 == 3
    ]


# --------------------------------------------------- incremental reads


def test_incremental_read_window_and_deletes(spark, transcripts_df, tmp_path):
    """read_iceberg_increment opens ONLY the data files appended after
    the from-snapshot (sequence-window pruning), and deletes visible at
    the upper snapshot apply to the windowed rows; deletes of OLDER
    rows don't resurface anything."""
    loc = str(tmp_path / "incrtbl")
    s1 = I.write_iceberg_table(transcripts_df, loc)
    batch2 = transcripts_df.withColumn(
        "conv_id", F.concat(F.lit("b2-"), F.col("conv_id"))
    )
    I.append_iceberg_table(batch2, loc)
    files_after = I.live_data_files(loc)
    b2_files = {f["file_path"] for f in files_after if f["_seq"] == 2}

    inc = I.read_iceberg_increment(spark, loc, from_snapshot_id=s1)
    assert _collect(inc) == _collect(batch2)
    assert {p.removeprefix("file://") for p in inc.inputFiles()} <= b2_files

    # delete one batch-2 conv and one batch-1 conv: incremental loses
    # only the batch-2 rows
    keys = spark.createDataFrame(
        [("b2-conv-a",), ("conv-b",)], "conv_id string"
    )
    I.delete_iceberg_rows(keys, loc, ["conv_id"])
    inc2 = I.read_iceberg_increment(spark, loc, from_snapshot_id=s1)
    assert _collect(inc2) == _collect(batch2.filter("conv_id <> 'b2-conv-a'"))

    # empty window: from the latest snapshot there is nothing new
    latest = I.current_metadata(loc)["current-snapshot-id"]
    assert I.read_iceberg_increment(spark, loc, from_snapshot_id=latest).count() == 0


def test_metadata_tables(spark, transcripts_df, tmp_path):
    """snapshots_df / files_df metadata tables (the table$snapshots /
    table$files analogs): per-snapshot lineage and per-file manifests
    without touching any data file."""
    loc = str(tmp_path / "metatbl")
    s1 = I.write_iceberg_table(transcripts_df, loc, partition_by=["role"])
    s2 = I.append_iceberg_table(transcripts_df, loc)

    snaps = {r["snapshot_id"]: r for r in I.snapshots_df(spark, loc).collect()}
    assert set(snaps) == {s1, s2}
    assert snaps[s2]["parent_id"] == s1
    assert snaps[s1]["added_records"] == transcripts_df.count()
    assert snaps[s1]["operation"] == "append"

    files = I.files_df(spark, loc).collect()
    assert sum(r["record_count"] for r in files if r["content"] == 0) == (
        2 * transcripts_df.count()
    )
    assert any('"role": "user"' in r["partition_json"] for r in files)

    # time travel: files at snapshot 1 only
    f1 = I.files_df(spark, loc, snapshot_id=s1)
    assert sum(r["record_count"] for r in f1.collect()) == transcripts_df.count()


def test_hour_month_year_partition_transforms(spark, multiday_df, tmp_path):
    """The remaining spec time transforms: ints from epoch, pruned and
    read back exactly like day."""
    import datetime as dt

    assert I._time_value("month", dt.date(2024, 1, 5)) == (2024 - 1970) * 12
    assert I._time_value("year", dt.date(2024, 6, 1)) == 54
    assert I._time_value(
        "hour", dt.datetime(1970, 1, 2, 3, 0, 0)
    ) == 27

    for term, field, n_parts in [
        ("hours(ts)", "ts_hour", 4),   # 4 distinct hours in the fixture
        ("months(ts)", "ts_month", 1),
        ("years(ts)", "ts_year", 1),
    ]:
        loc = str(tmp_path / field)
        I.write_iceberg_table(multiday_df, loc, partition_by=[term])
        files = I.live_data_files(loc)
        assert len({f["partition"][field] for f in files}) == n_parts
        back = I.read_iceberg_table(spark, loc)
        assert _collect(back) == _collect(multiday_df)

    # hour prune: exactly the 08:00 turn
    loc = str(tmp_path / "hp")
    I.write_iceberg_table(multiday_df, loc, partition_by=["hours(ts)"])
    got = I.read_iceberg_table(
        spark, loc,
        partition_filter={"ts": dt.datetime(2024, 1, 1, 8, 0, 0)},
    )
    assert [r["text"] for r in got.collect()] == ["day one a"]
    assert len(got.inputFiles()) < len(I.live_data_files(loc))


def test_avro_deflate_codec_roundtrip(tmp_path):
    """Deflate-codec container files (what native Iceberg manifest
    writers emit) roundtrip identically to the null codec and are
    smaller for repetitive payloads."""
    schema = {
        "type": "record",
        "name": "r",
        "fields": [
            {"name": "a", "type": "long"},
            {"name": "b", "type": "string"},
            {"name": "c", "type": ["null", "string"]},
        ],
    }
    recs = [
        {"a": i, "b": "/data/commit-00001/part-000.parquet", "c": None}
        for i in range(200)
    ]
    pn = str(tmp_path / "n.avro")
    pd_ = str(tmp_path / "d.avro")
    avro_write(pn, schema, recs, file_meta={"x": "y"})
    avro_write(pd_, schema, recs, file_meta={"x": "y"}, codec="deflate")
    sn, mn, rn = avro_read(pn)
    sd, md, rd = avro_read(pd_)
    assert rn == rd == recs
    assert mn == md == {"x": "y"}
    assert sn == sd == schema
    import os as _os

    assert _os.path.getsize(pd_) < _os.path.getsize(pn)


def test_vectorized_bucket_hash_matches_scalar():
    import numpy as np

    rng = np.random.RandomState(7)
    vals = np.concatenate(
        [
            rng.randint(-(2**62), 2**62, size=5000),
            np.array([0, 1, -1, 34, 2**62 - 1, -(2**62)]),
        ]
    )
    vec = I._murmur3_32_i64_vec(vals)
    scalar = np.array(
        [
            I._murmur3_32(int(v).to_bytes(8, "little", signed=True))
            for v in vals
        ],
        dtype=np.uint32,
    )
    assert (vec == scalar).all()


def test_bucket_partition_on_long_column(spark, tmp_path):
    """Int/long bucket partitioning goes through the vectorized numpy
    hash path end to end (incl. nulls in the partition source)."""
    rows = [(i if i % 11 else None, f"t{i}") for i in range(100)]
    df = spark.createDataFrame(rows, "k long, txt string")
    loc = str(tmp_path / "longbuckettbl")
    I.write_iceberg_table(df, loc, partition_by=["bucket(8, k)"])
    back = I.read_iceberg_table(spark, loc)

    def nsort(d):  # None-safe row sort
        return sorted((tuple(r) for r in d.collect()),
                      key=lambda t: (t[0] is None, t))
    assert nsort(back) == nsort(df)
    vals = {f["partition"]["k_bucket"] for f in I.live_data_files(loc)}
    want = {I._bucket_value(i, 8, "long") for i, _ in rows if i is not None}
    assert vals == want | {None}
    one = I.read_iceberg_table(spark, loc, partition_filter={"k": 23})
    assert [r["k"] for r in one.collect()] == [23]


def test_upsert_is_single_atomic_snapshot(spark, transcripts_df, tmp_path):
    """Upsert commits ONE snapshot (operation 'overwrite') whose
    manifest list carries both the DELETES and the DATA manifest —
    no intermediate state where keys are deleted but rows not yet
    appended."""
    from htrtf_spark.sources.avro_io import avro_read

    loc = str(tmp_path / "atomictbl")
    I.write_iceberg_table(transcripts_df, loc)
    n_before = len(I.current_metadata(loc)["snapshots"])

    up = transcripts_df.filter("conv_id = 'conv-a'").withColumn(
        "text", F.lit("updated text")
    )
    I.upsert_iceberg_table(up, loc, ["conv_id", "turn_idx"])

    meta = I.current_metadata(loc)
    assert len(meta["snapshots"]) == n_before + 1
    snap = I._find_snapshot(meta, meta["current-snapshot-id"])
    assert snap["summary"]["operation"] == "overwrite"
    _, _, manifests = avro_read(snap["manifest-list"])
    own = [m for m in manifests if m["added_snapshot_id"] == snap["snapshot-id"]]
    assert sorted(m["content"] for m in own) == [0, 1]

    back = I.read_iceberg_table(spark, loc)
    assert back.count() == transcripts_df.count()
    assert back.filter("conv_id = 'conv-a'").select("text").distinct().collect()[0][
        "text"
    ] == "updated text"


def test_partitioned_write_hash_distribution_file_counts(spark, tmp_path):
    """Partitioned writes cluster rows by partition value first: file
    count stays O(partitions), not O(tasks x partitions) — the
    small-files guard a 400k-file table depends on."""
    df = spark.range(0, 4000, 1, 16).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS grp", "repeat('x', 10) AS txt"
    )
    loc = str(tmp_path / "disttbl")
    I.write_iceberg_table(df, loc, partition_by=["grp"])
    files = I.live_data_files(loc)
    # without hash distribution this would be up to 16 x 3 = 48 files
    assert len(files) <= 6
    assert {f["partition"]["grp"] for f in files} == {"0", "1", "2"}
    back = I.read_iceberg_table(spark, loc)
    assert back.count() == 4000


# ------------------------------------------- model-based op sequences


@pytest.mark.parametrize("seed", [11, 29])
def test_random_op_sequences_match_model(spark, tmp_path, seed):
    """Model-based check: a seeded random sequence of
    append / equality-delete / upsert / compact / expire ops against a
    tiny in-memory model table; after EVERY op the snapshot read must
    equal the model exactly. Catches cross-op interactions (sequence
    numbers, delete applicability, manifest carry-forward, compaction
    rewrites) no single-op test exercises."""
    import random

    rng = random.Random(seed)
    loc = str(tmp_path / f"modeltbl{seed}")
    next_id = 0

    def fresh_rows(n):
        nonlocal next_id
        rows = [(next_id + i, f"v{seed}-{next_id + i}") for i in range(n)]
        next_id += n
        return rows

    model: dict[int, str] = dict(fresh_rows(5))
    # incremental-scan model: rows each append/upsert snapshot ADDED
    added_by_snapshot: dict[int, list] = {}
    sid0 = I.write_iceberg_table(
        spark.createDataFrame(sorted(model.items()), "k long, v string"), loc
    )
    added_by_snapshot[sid0] = sorted(model.items())

    def snapshot_seq(sid):
        return {
            sn["snapshot-id"]: sn["sequence-number"]
            for sn in I.current_metadata(loc)["snapshots"]
        }[sid]

    def check():
        got = sorted(
            (r["k"], r["v"])
            for r in I.read_iceberg_table(spark, loc).collect()
        )
        assert got == sorted(model.items())
        # a stats-pruned range read over a random k window must equal
        # the model's own slice — pruning composes with every op mix
        if model:
            lo = rng.choice(sorted(model))
            hi = lo + rng.randint(0, 5)
            got_rng = sorted(
                (r["k"], r["v"])
                for r in I.read_iceberg_table(
                    spark, loc, range_filter={"k": (lo, hi)}
                ).collect()
            )
            assert got_rng == sorted(
                (k, v) for k, v in model.items() if lo <= k <= hi
            )
        # incremental-append oracle: from a random LIVE snapshot, the
        # window must surface exactly the rows appended by append/
        # upsert snapshots after it that are STILL LIVE — regardless
        # of interleaved compactions (replace snapshots skipped, files
        # from each append snapshot's own manifest list)
        live = I.snapshot_ids(loc)
        frm = rng.choice(live)
        frm_seq = snapshot_seq(frm)
        got_inc = sorted(
            (r["k"], r["v"])
            for r in I.read_iceberg_increment(
                spark, loc, from_snapshot_id=frm
            ).collect()
        )
        live_set = set(model.items())
        want_inc = sorted(
            {
                rw
                for sid, rows in added_by_snapshot.items()
                if sid in live and snapshot_seq(sid) > frm_seq
                for rw in rows
                if rw in live_set
            }
        )
        assert got_inc == want_inc, (frm, got_inc, want_inc)

    check()
    for _step in range(10):
        op = rng.choice(
            ["append", "delete", "upsert", "compact", "expire", "rewrite"]
        )
        if op == "append":
            rows = fresh_rows(rng.randint(1, 4))
            sid = I.append_iceberg_table(
                spark.createDataFrame(rows, "k long, v string"), loc
            )
            added_by_snapshot[sid] = rows
            model.update(rows)
        elif op == "delete" and model:
            keys = rng.sample(sorted(model), k=min(2, len(model)))
            I.delete_iceberg_rows(
                spark.createDataFrame([(k,) for k in keys], "k long"),
                loc,
                ["k"],
            )
            for k in keys:
                model.pop(k, None)
        elif op == "upsert" and model:
            keys = rng.sample(sorted(model), k=min(2, len(model)))
            rows = [(k, f"upd{seed}-{k}-{_step}") for k in keys] + fresh_rows(1)
            sid = I.upsert_iceberg_table(
                spark.createDataFrame(rows, "k long, v string"), loc, ["k"]
            )
            added_by_snapshot[sid] = rows
            model.update(rows)
        elif op == "compact":
            I.compact_iceberg_table(spark, loc)
        elif op == "expire":
            I.expire_snapshots(loc, keep_last=1)
        elif op == "rewrite":
            # metadata-only manifest consolidation: every observable
            # below (live reads, time travel, incremental windows) must
            # be bit-identical whether or not it ran
            I.rewrite_manifests(loc)
        check()


def test_drop_column_referenced_by_live_equality_delete_refused(
    spark, transcripts_df, tmp_path
):
    """ADVICE r3 (high): dropping the key column of a live equality
    delete used to brick the table (every read KeyError-ed resolving
    equality_ids, and re-adding the name mints a fresh id). The drop
    must be refused like a partition source; after compaction retires
    the delete, the drop succeeds."""
    loc = str(tmp_path / "dropeqtbl")
    I.write_iceberg_table(transcripts_df, loc)
    keys = spark.createDataFrame([("conv-a",)], "conv_id string")
    I.delete_iceberg_rows(keys, loc, ["conv_id"])

    with pytest.raises(ValueError, match="equality-delete"):
        I.drop_iceberg_column(loc, "conv_id")
    # table still fully readable (the old bug made this unrecoverable)
    assert I.read_iceberg_table(spark, loc).count() == 1

    # compaction applies + retires the delete; now the drop is legal
    I.compact_iceberg_table(spark, loc)
    assert I.live_delete_files(loc) == []
    I.drop_iceberg_column(loc, "conv_id")
    back = I.read_iceberg_table(spark, loc)
    assert "conv_id" not in back.columns
    assert back.count() == 1

    # dropping a column NOT referenced by deletes is still fine with
    # live deletes present elsewhere
    loc2 = str(tmp_path / "dropeqtbl2")
    I.write_iceberg_table(transcripts_df, loc2)
    I.delete_iceberg_rows(keys, loc2, ["conv_id"])
    I.drop_iceberg_column(loc2, "tool")
    assert I.read_iceberg_table(spark, loc2).count() == 1


def test_incremental_read_expired_from_snapshot_descriptive(
    spark, transcripts_df, tmp_path
):
    """ADVICE r3 (low): an expired from_snapshot_id raises
    ExpiredSnapshotError (still a KeyError) telling the caller to
    re-baseline, not a bare KeyError."""
    loc = str(tmp_path / "exptbl")
    s1 = I.write_iceberg_table(transcripts_df, loc)
    I.append_iceberg_table(transcripts_df, loc)
    I.expire_snapshots(loc, keep_last=1)
    with pytest.raises(I.ExpiredSnapshotError, match="re-baseline"):
        I.read_iceberg_increment(spark, loc, from_snapshot_id=s1)
    # and it is catchable as plain KeyError for old handlers
    with pytest.raises(KeyError):
        I.read_iceberg_increment(spark, loc, from_snapshot_id=s1)


def test_compaction_interleaved_delete_survives(
    spark, transcripts_df, tmp_path, monkeypatch
):
    """VERDICT r3 #8: a delete committed between compaction's read and
    its commit must survive. The old blind metadata retry re-published
    a manifest list containing ONLY the rewrite (rows materialized
    pre-delete) — the delete vanished. Compaction must redo the whole
    read->rewrite->commit cycle on conflict."""
    loc = str(tmp_path / "ctbl")
    I.write_iceberg_table(transcripts_df, loc)

    real_commit = I._commit
    fired = {"n": 0}

    def racing_commit(*args, **kwargs):
        # first compaction commit attempt: sneak a real delete in just
        # before, so the attempt hits CommitConflict and must redo
        if kwargs.get("carry_prior_manifests") is False and fired["n"] == 0:
            fired["n"] += 1
            monkeypatch.setattr(I, "_commit", real_commit)
            keys = spark.createDataFrame([("conv-a",)], "conv_id string")
            I.delete_iceberg_rows(keys, loc, ["conv_id"])
            monkeypatch.setattr(I, "_commit", racing_commit)
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(I, "_commit", racing_commit)
    I.compact_iceberg_table(spark, loc)
    monkeypatch.setattr(I, "_commit", real_commit)

    assert fired["n"] == 1
    got = I.read_iceberg_table(spark, loc)
    assert _collect(got) == _collect(transcripts_df.filter("conv_id <> 'conv-a'"))
    # the rewrite retired the delete file (it was applied during redo)
    assert I.live_delete_files(loc) == []


def test_compaction_interleaved_append_survives(
    spark, transcripts_df, tmp_path, monkeypatch
):
    """Same race with an APPEND: the appended rows must not be erased
    by the rewrite's manifest replacement."""
    loc = str(tmp_path / "ctbl2")
    I.write_iceberg_table(transcripts_df, loc)

    real_commit = I._commit
    fired = {"n": 0}
    extra = transcripts_df.withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-late"))
    )

    def racing_commit(*args, **kwargs):
        if kwargs.get("carry_prior_manifests") is False and fired["n"] == 0:
            fired["n"] += 1
            monkeypatch.setattr(I, "_commit", real_commit)
            I.append_iceberg_table(extra, loc)
            monkeypatch.setattr(I, "_commit", racing_commit)
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(I, "_commit", racing_commit)
    I.compact_iceberg_table(spark, loc)
    monkeypatch.setattr(I, "_commit", real_commit)

    assert fired["n"] == 1
    got = I.read_iceberg_table(spark, loc)
    assert _collect(got) == _collect(transcripts_df.unionByName(extra))


def test_column_stats_file_pruning_unpartitioned(spark, tmp_path):
    """VERDICT r3 #2: manifests record per-column lower/upper bounds
    (spec fields 125/128, Appendix-D binary single-values) and
    read_iceberg_table's range_filter skips files by bounds even on an
    UNPARTITIONED table — no parquet footer opened for a pruned file."""
    import datetime as dt

    rows = [
        (f"conv-{i:03d}", 0, "user", f"text {i}",
         dt.datetime(2024, 1, 1 + i // 25, i % 24, 0, 0))
        for i in range(100)
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, ts timestamp"
    )
    loc = str(tmp_path / "statstbl")
    # range-disjoint files on ts: 4 files, each covering ~1 day
    I.write_iceberg_table(df.repartitionByRange(4, "ts"), loc)
    files = I.live_data_files(loc)
    assert len(files) == 4
    # every data file carries ts (fid 5) and conv_id (fid 1) bounds
    for f in files:
        fids = {e["key"] for e in f["lower_bounds"]}
        assert {1, 5} <= fids
        assert fids == {e["key"] for e in f["upper_bounds"]}

    # a one-day ts window opens a strict subset of the files…
    lo, hi = dt.datetime(2024, 1, 2), dt.datetime(2024, 1, 2, 23, 59, 59)
    got = I.read_iceberg_table(spark, loc, range_filter={"ts": (lo, hi)})
    opened = {p.split("/")[-1] for p in got.inputFiles()}
    all_files = {f["file_path"].split("/")[-1] for f in files}
    assert opened < all_files and len(opened) >= 1
    # …and the result is exact
    want = df.filter((F.col("ts") >= F.lit(lo)) & (F.col("ts") <= F.lit(hi)))
    assert _collect(got) == _collect(want)

    # string-column range prunes too (conv_id is correlated with ts here)
    got2 = I.read_iceberg_table(
        spark, loc, range_filter={"conv_id": ("conv-000", "conv-020")}
    )
    assert {p.split("/")[-1] for p in got2.inputFiles()} < all_files
    assert got2.count() == 21

    # open-ended range; unknown column refused
    got3 = I.read_iceberg_table(spark, loc, range_filter={"ts": (hi, None)})
    assert got3.count() == df.filter(F.col("ts") > F.lit(hi)).count() + want.filter(
        F.col("ts") == F.lit(hi)
    ).count()
    with pytest.raises(ValueError, match="unknown column"):
        I.read_iceberg_table(spark, loc, range_filter={"nope": (1, 2)})


def test_range_filter_exact_without_stats(spark, transcripts_df, tmp_path):
    """Entries with no recorded bound for the filtered column are KEPT
    and the residual row filter preserves exactness; bounds survive
    rename (field-id keyed)."""
    loc = str(tmp_path / "statstbl2")
    I.write_iceberg_table(transcripts_df, loc)
    I.rename_iceberg_column(loc, "turn_idx", "idx")
    got = I.read_iceberg_table(spark, loc, range_filter={"idx": (1, None)})
    assert got.count() == 1 and got.collect()[0]["idx"] == 1


def test_null_count_file_pruning(spark, tmp_path):
    """value_counts/null_value_counts (spec fields 109/110) power
    IS NULL / IS NOT NULL file pruning: a no-null file is skipped for
    is_null, an all-null file is skipped for not_null, mixed files are
    row-filtered exactly."""
    full = spark.createDataFrame(
        [(f"c{i}", 0, "user", f"t{i}", f"tool_{i}") for i in range(20)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    allnull = spark.createDataFrame(
        [(f"n{i}", 0, "user", f"t{i}", None) for i in range(20)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    mixed = spark.createDataFrame(
        [(f"m{i}", 0, "user", f"t{i}", f"tool_{i}" if i % 2 else None)
         for i in range(20)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    )
    loc = str(tmp_path / "nulltbl")
    I.write_iceberg_table(full.coalesce(1), loc)
    I.append_iceberg_table(allnull.coalesce(1), loc)
    I.append_iceberg_table(mixed.coalesce(1), loc)
    files = I.live_data_files(loc)
    assert len(files) == 3
    for f in files:
        assert {e["key"] for e in f["value_counts"]} == {1, 2, 3, 4, 5}
        assert all(e["value"] == 20 for e in f["value_counts"])

    isnull = I.read_iceberg_table(spark, loc, null_filter={"tool": "is_null"})
    assert len(isnull.inputFiles()) == 2  # the no-null file never opened
    assert isnull.count() == 20 + 10

    notnull = I.read_iceberg_table(spark, loc, null_filter={"tool": "not_null"})
    assert len(notnull.inputFiles()) == 2  # the all-null file never opened
    assert notnull.count() == 20 + 10

    with pytest.raises(ValueError, match="is_null"):
        I.read_iceberg_table(spark, loc, null_filter={"tool": "nope"})
    # composes with range_filter
    both = I.read_iceberg_table(
        spark, loc,
        range_filter={"conv_id": ("m0", "mz")},
        null_filter={"tool": "not_null"},
    )
    assert both.count() == 10


def test_files_df_surfaces_column_stats(spark, transcripts_df, tmp_path):
    """table$files analog exposes the decoded bounds and null counts by
    column name (observability for pruning decisions)."""
    import json as _json

    loc = str(tmp_path / "statsmeta")
    I.write_iceberg_table(transcripts_df.coalesce(1), loc)
    row = I.files_df(spark, loc).collect()[0]
    lower = _json.loads(row["lower_bounds_json"])
    upper = _json.loads(row["upper_bounds_json"])
    nulls = _json.loads(row["null_counts_json"])
    assert lower["conv_id"] == "conv-a" and upper["conv_id"] == "conv-b"
    assert lower["turn_idx"] == 0 and upper["turn_idx"] == 1
    assert nulls["tool"] == 2 and nulls["conv_id"] == 0
    assert lower["ts"].startswith("2024-01-01T00:00:00")


def test_string_bounds_truncated_but_valid(spark, tmp_path):
    """String bounds are truncated to 16 chars in the manifests (a
    manifest must not carry full text values) while remaining VALID
    bounds: lower = prefix, upper = prefix with last codepoint
    incremented — pruning on long strings stays exact."""
    rows = [
        ("conv-a", 0, "user", "aaaaaaaaaaaaaaaaaaaaaaaa-long-low"),
        ("conv-b", 0, "user", "zzzzzzzzzzzzzzzzzzzzzzzz-long-high"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string"
    )
    loc = str(tmp_path / "trunctbl")
    I.write_iceberg_table(df.coalesce(1), loc)
    f = I.live_data_files(loc)[0]
    lower = {e["key"]: e["value"] for e in f["lower_bounds"]}
    upper = {e["key"]: e["value"] for e in f["upper_bounds"]}
    lo = I._decode_bound(lower[4], "string")
    hi = I._decode_bound(upper[4], "string")
    assert len(lo) <= 16 and len(hi) <= 16
    assert lo == "a" * 16
    assert hi == "z" * 15 + "{"  # 'z'+1 — a true upper bound
    for _cid, _ti, _r, text in rows:
        assert lo <= text <= hi

    # pruning with long-string range filters is still exact
    got = I.read_iceberg_table(
        spark, loc, range_filter={"text": ("a", "b")}
    )
    assert got.count() == 1 and got.collect()[0]["conv_id"] == "conv-a"


def test_manifest_partition_summaries_skip_whole_manifests(
    spark, multiday_df, tmp_path, monkeypatch
):
    """Manifest-list field_summary rows (spec 507) let the reader skip a
    whole manifest — proven by counting avro opens: filtering to days
    covered only by commit 2 must never OPEN commit 1's manifest file."""
    loc = str(tmp_path / "sumtbl")
    half1 = multiday_df.filter("ts < timestamp'2024-01-03 00:00:00'")
    half2 = multiday_df.filter("ts >= timestamp'2024-01-03 00:00:00'")
    I.write_iceberg_table(half1, loc, partition_by=["days(ts)"])
    I.append_iceberg_table(half2, loc, partition_by=["days(ts)"])

    meta = I.current_metadata(loc)
    snap = I._find_snapshot(meta, meta["current-snapshot-id"])
    _, _, manifests = I.avro_read(snap["manifest-list"])
    assert len(manifests) == 2
    assert all(m["partitions"] for m in manifests)

    opened = []
    real_avro_read = I.avro_read

    def counting_read(path):
        opened.append(path)
        return real_avro_read(path)

    import datetime as dt
    monkeypatch.setattr(I, "avro_read", counting_read)
    got = I.read_iceberg_table(
        spark, loc, partition_filter={"days(ts)": [dt.date(2024, 1, 3)]}
    )
    n = got.count()
    monkeypatch.setattr(I, "avro_read", real_avro_read)

    manifest_paths = {m["manifest_path"] for m in manifests}
    opened_manifests = set(opened) & manifest_paths
    assert len(opened_manifests) == 1  # commit-1 manifest never opened
    want = multiday_df.filter("CAST(ts AS DATE) = DATE'2024-01-03'").count()
    assert n == want and n > 0

    # a value filter on the SOURCE column prunes through the transform
    opened.clear()
    monkeypatch.setattr(I, "avro_read", counting_read)
    got2 = I.read_iceberg_table(
        spark, loc,
        partition_filter={"ts": [dt.datetime(2024, 1, 1, 8, 0, 0)]},
    )
    n2 = got2.count()
    monkeypatch.setattr(I, "avro_read", real_avro_read)
    assert len(set(opened) & manifest_paths) == 1  # only commit 1 opened
    assert n2 == multiday_df.filter(
        "ts = timestamp'2024-01-01 08:00:00'"
    ).count() and n2 == 1


def test_remove_orphan_files(spark, transcripts_df, tmp_path):
    """Files from a write that crashed before its metadata commit are
    reaped; every referenced file (any snapshot, incl. time travel)
    survives; young orphans inside the grace window survive."""
    loc = str(tmp_path / "orphtbl")
    s1 = I.write_iceberg_table(transcripts_df, loc)
    I.append_iceberg_table(transcripts_df, loc)

    # crashed write: data files exist, no commit references them
    ice_schema = I._schema_by_id(
        I.current_metadata(loc), I.current_metadata(loc)["current-schema-id"]
    )
    orphans = I._write_data_files(
        transcripts_df, loc, seq=99, ice_schema=ice_schema
    )
    orphan_paths = {o["file_path"] for o in orphans}
    # crashed mid-commit manifest
    stray = os.path.join(loc, "metadata", "manifest-99999-deadbeef.avro")
    with open(stray, "wb") as fh:
        fh.write(b"not a real manifest")

    # inside the grace window: nothing is removed
    assert I.remove_orphan_files(loc, grace_seconds=3600) == []

    removed = set(I.remove_orphan_files(loc, grace_seconds=-1))
    assert orphan_paths <= removed
    assert os.path.abspath(stray) in removed
    # table fully intact, both snapshots
    assert I.read_iceberg_table(spark, loc).count() == 6
    assert I.read_iceberg_table(spark, loc, snapshot_id=s1).count() == 3
    # idempotent
    assert I.remove_orphan_files(loc, grace_seconds=-1) == []


def test_rollback_to_snapshot(spark, transcripts_df, tmp_path):
    """Metadata-only rollback: reads return the rolled-back state, the
    later snapshot stays time-travelable, and appends after rollback
    build on the rolled-back state."""
    loc = str(tmp_path / "rbtbl")
    s1 = I.write_iceberg_table(transcripts_df, loc)
    extra = transcripts_df.withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-v2"))
    )
    s2 = I.append_iceberg_table(extra, loc)
    assert I.read_iceberg_table(spark, loc).count() == 6

    I.rollback_to_snapshot(loc, s1)
    assert I.read_iceberg_table(spark, loc).count() == 3
    # the rolled-back-over snapshot is still time-travelable
    assert I.read_iceberg_table(spark, loc, snapshot_id=s2).count() == 6

    # appends after rollback build on the rolled-back state
    I.append_iceberg_table(extra.limit(1), loc)
    got = I.read_iceberg_table(spark, loc)
    assert got.count() == 4
    assert got.filter("conv_id LIKE '%-v2'").count() == 1

    with pytest.raises(KeyError):
        I.rollback_to_snapshot(loc, 999)


def test_incremental_scan_across_compaction(spark, transcripts_df, tmp_path):
    """CODE-REVIEW r4: an incremental window spanning a compaction must
    surface each appended row EXACTLY ONCE — neither re-emitting the
    whole rewritten table (replace snapshots skipped) nor losing the
    appends the compaction rewrote away (files come from each append
    snapshot's own manifest list)."""
    loc = str(tmp_path / "inccomp")
    s1 = I.write_iceberg_table(transcripts_df, loc)
    t2 = transcripts_df.withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-b2"))
    )
    t3 = transcripts_df.withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-b3"))
    )
    I.append_iceberg_table(t2, loc)
    I.compact_iceberg_table(spark, loc)   # rewrites batch1+batch2
    I.append_iceberg_table(t3, loc)

    inc = I.read_iceberg_increment(spark, loc, from_snapshot_id=s1)
    assert _collect(inc) == _collect(t2.unionByName(t3))

    # window that ends ON the compaction snapshot: only t2
    snaps = I.snapshot_ids(loc)
    inc2 = I.read_iceberg_increment(
        spark, loc, from_snapshot_id=s1, to_snapshot_id=snaps[2]
    )
    assert _collect(inc2) == _collect(t2)


def test_streaming_source_across_compaction(spark, transcripts_df, tmp_path):
    """Same contract for the streaming source: a compaction between
    drains must not duplicate already-streamed rows nor lose the
    not-yet-streamed appends it rewrote."""
    from htrtf_spark.sources import iceberg_stream

    iceberg_stream.register(spark)
    loc = str(tmp_path / "strcomp")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    I.write_iceberg_table(transcripts_df, loc)

    def drain():
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
        return spark.read.parquet(out)

    assert drain().count() == 3  # batch 1

    t2 = transcripts_df.withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-b2"))
    )
    I.append_iceberg_table(t2, loc)       # NOT yet streamed
    I.compact_iceberg_table(spark, loc)   # rewrites everything
    t3 = transcripts_df.withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-b3"))
    )
    I.append_iceberg_table(t3, loc)

    got = drain()
    assert got.count() == 9  # 3 + t2(3) + t3(3): no dup, no loss
    assert _collect(got.select(*transcripts_df.columns)) == _collect(
        transcripts_df.unionByName(t2).unionByName(t3)
    )


def test_timestamp_bound_encoding_exact():
    """CODE-REVIEW r4: micros encoding must be exact integer arithmetic
    — float total_seconds() truncates ~1% of values 1µs low, which put
    upper bounds BELOW a file's true max (boundary rows pruned away)."""
    import datetime as dt

    # a value float total_seconds() mis-encodes
    v = dt.datetime(1970, 1, 1) + dt.timedelta(
        seconds=555122063, microseconds=543873
    )
    enc = I._encode_bound(v, "timestamptz")
    assert I._decode_bound(enc, "timestamptz") == v
    # brute sweep around a few second boundaries
    for base in (1_000_000_007, 555_122_063, 1_700_000_001):
        for us in (0, 1, 499999, 500000, 999999):
            x = dt.datetime(1970, 1, 1) + dt.timedelta(seconds=base, microseconds=us)
            assert I._decode_bound(I._encode_bound(x, "timestamp"), "timestamp") == x


# ---------------------------------------------------- rollback ancestry
def test_expire_after_rollback_keeps_current_branch(
    spark, transcripts_df, tmp_path
):
    """ADVICE r4 (high): expire must retain the CURRENT snapshot's
    ancestry, not the newest-by-sequence snapshots — after
    rollback(s1) with a newer abandoned s2, expire(keep_last=1) used
    to drop s1 (the live table!) and keep s2, deleting live data."""
    loc = str(tmp_path / "rbexp")
    s1 = I.write_iceberg_table(transcripts_df, loc)
    extra = transcripts_df.withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-v2"))
    )
    s2 = I.append_iceberg_table(extra, loc)
    I.rollback_to_snapshot(loc, s1)

    expired = I.expire_snapshots(loc, keep_last=1)
    # the abandoned branch is expired, the current snapshot survives
    assert s2 in expired and s1 not in expired
    meta = I.current_metadata(loc)
    assert meta["current-snapshot-id"] == s1
    assert {s["snapshot-id"] for s in meta["snapshots"]} == {s1}
    # table still fully readable — live data intact
    assert I.read_iceberg_table(spark, loc).count() == 3
    # abandoned s2's unshared data files are gone from disk
    with pytest.raises(KeyError):
        I.read_iceberg_table(spark, loc, snapshot_id=s2)


def test_expire_after_rollback_appended_branch(spark, transcripts_df, tmp_path):
    """keep_last counts ANCESTORS of current: after rollback + new
    append, keep_last=2 keeps {s3, s1} and expires abandoned s2 even
    though s2 is newer than s1 by sequence."""
    loc = str(tmp_path / "rbexp2")
    s1 = I.write_iceberg_table(transcripts_df, loc)
    extra = transcripts_df.withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-v2"))
    )
    s2 = I.append_iceberg_table(extra, loc)
    I.rollback_to_snapshot(loc, s1)
    s3 = I.append_iceberg_table(extra.limit(1), loc)

    expired = I.expire_snapshots(loc, keep_last=2)
    assert expired == [s2]
    meta = I.current_metadata(loc)
    assert {s["snapshot-id"] for s in meta["snapshots"]} == {s1, s3}
    assert I.read_iceberg_table(spark, loc).count() == 4
    # linear-history behavior unchanged: nothing more to expire
    assert I.expire_snapshots(loc, keep_last=2) == []


def test_incremental_skips_abandoned_branch(spark, transcripts_df, tmp_path):
    """ADVICE r4 (medium): incremental windows walk the upper
    snapshot's parent chain — abandoned-branch appends (rolled back,
    still in metadata with in-window sequence numbers) must not
    surface; a marker ON the abandoned branch raises the re-baseline
    signal."""
    loc = str(tmp_path / "rbinc")
    s1 = I.write_iceberg_table(transcripts_df, loc)
    extra = transcripts_df.withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-dead"))
    )
    s2 = I.append_iceberg_table(extra, loc)  # will be abandoned
    I.rollback_to_snapshot(loc, s1)
    live = transcripts_df.withColumn(
        "conv_id", F.concat(F.col("conv_id"), F.lit("-live"))
    )
    s3 = I.append_iceberg_table(live, loc)

    inc = I.read_iceberg_increment(spark, loc, from_snapshot_id=s1)
    got = {r["conv_id"] for r in inc.collect()}
    assert got == {"conv-a-live", "conv-b-live"}  # s2's rows invisible
    assert inc.count() == 3

    # marker on the abandoned branch: incremental cannot reconcile
    with pytest.raises(I.ExpiredSnapshotError):
        I.read_iceberg_increment(spark, loc, from_snapshot_id=s2)
    # explicit upper snapshot on the abandoned branch still works
    # (time-travel semantics: s2's own ancestry is s1 -> s2)
    assert (
        I.read_iceberg_increment(
            spark, loc, from_snapshot_id=s1, to_snapshot_id=s2
        ).count()
        == 3
    )
    assert s3 is not None


def test_overwrite_retry_revalidates_schema(
    spark, transcripts_df, tmp_path, monkeypatch
):
    """ADVICE r4 (low): overwrite resolves the table schema INSIDE its
    conflict-retry loop — a schema evolution landing between read and
    commit must fail the retry's validation instead of being stamped
    over with the stale schema-id."""
    import pyspark.sql.types as T

    loc = str(tmp_path / "ovrace")
    I.write_iceberg_table(transcripts_df, loc)

    real_commit = I._commit
    state = {"raced": False}

    def racing_commit(*args, **kwargs):
        if not state["raced"]:
            state["raced"] = True
            # a concurrent writer evolves the schema (adds a column)
            # after overwrite read its metadata
            new_schema = T.StructType(
                list(transcripts_df.schema.fields)
                + [T.StructField("lang", T.StringType(), True)]
            )
            I.evolve_iceberg_schema(loc, new_schema)
            raise I.CommitConflict("simulated race")
        return real_commit(*args, **kwargs)

    monkeypatch.setattr(I, "_commit", racing_commit)
    with pytest.raises(ValueError, match="overwrite schema mismatch"):
        I.overwrite_iceberg_table(transcripts_df, loc)
    # the stale-schema overwrite must NOT have committed: the table is
    # still the original snapshot under the EVOLVED current schema
    meta = I.current_metadata(loc)
    assert len(meta["snapshots"]) == 1
    assert meta["current-schema-id"] == 1  # evolution survived
    assert I.read_iceberg_table(spark, loc).count() == 3


# ----------------------------------------------------- rewrite_manifests
def _current_manifests(loc):
    meta = I.current_metadata(loc)
    snap = [
        s for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    ][0]
    _, _, mans = avro_read(snap["manifest-list"])
    return snap, mans


def test_rewrite_manifests_consolidates(spark, transcripts_df, tmp_path):
    """VERDICT r4 #4: N appends leave N manifests in the list (planning
    cost O(commits)); rewrite_manifests merges them into one EXISTING
    manifest without touching a data file, commits a replace snapshot,
    and is a no-op when already consolidated."""
    loc = str(tmp_path / "rwm")
    I.write_iceberg_table(transcripts_df, loc)
    for i in range(3):
        I.append_iceberg_table(
            transcripts_df.withColumn(
                "conv_id", F.concat(F.lit(f"a{i}-"), F.col("conv_id"))
            ),
            loc,
        )
    _, before = _current_manifests(loc)
    assert len(before) == 4
    expect = _collect(I.read_iceberg_table(spark, loc))
    data_before = {f["file_path"] for f in I.live_data_files(loc)}

    sid = I.rewrite_manifests(loc)
    assert sid is not None
    snap, after = _current_manifests(loc)
    assert len(after) == 1
    assert snap["summary"]["operation"] == "replace"
    assert after[0]["added_files_count"] == 0
    assert after[0]["existing_files_count"] == len(data_before)
    # metadata-only: the exact same data files, the exact same rows
    assert {f["file_path"] for f in I.live_data_files(loc)} == data_before
    assert _collect(I.read_iceberg_table(spark, loc)) == expect
    # original per-file sequence numbers survive the rewrite
    assert sorted({f["_seq"] for f in I.live_data_files(loc)}) == [1, 2, 3, 4]
    # already consolidated: second call declines to churn metadata
    assert I.rewrite_manifests(loc) is None


def test_rewrite_manifests_preserves_delete_semantics(
    spark, transcripts_df, tmp_path
):
    """Equality-delete applicability is sequence-number based; a rewrite
    must keep original sequence numbers so (a) pre-rewrite deletes still
    mask pre-delete data and (b) post-rewrite deletes still apply to
    pre-rewrite data files."""
    loc = str(tmp_path / "rwmdel")
    I.write_iceberg_table(transcripts_df, loc)
    b2 = transcripts_df.withColumn(
        "conv_id", F.concat(F.lit("b2-"), F.col("conv_id"))
    )
    I.append_iceberg_table(b2, loc)
    I.delete_iceberg_rows(
        spark.createDataFrame([("conv-a",)], "conv_id string"), loc, ["conv_id"]
    )
    expect1 = _collect(
        transcripts_df.union(b2).filter("conv_id <> 'conv-a'")
    )
    assert I.rewrite_manifests(loc) is not None
    _, mans = _current_manifests(loc)
    # data group and delete group stay separate manifests
    assert sorted(m["content"] for m in mans) == [0, 1]
    assert _collect(I.read_iceberg_table(spark, loc)) == expect1
    # a NEW delete (higher sequence) still applies to the old data files
    I.delete_iceberg_rows(
        spark.createDataFrame([("b2-conv-b",)], "conv_id string"),
        loc,
        ["conv_id"],
    )
    expect2 = _collect(
        transcripts_df.union(b2).filter(
            "conv_id NOT IN ('conv-a', 'b2-conv-b')"
        )
    )
    assert _collect(I.read_iceberg_table(spark, loc)) == expect2


def test_rewrite_manifests_incremental_and_streaming_invisible(
    spark, transcripts_df, tmp_path
):
    """A rewrite snapshot adds no rows: incremental readers crossing it
    see exactly the genuinely-appended batches, once each."""
    loc = str(tmp_path / "rwminc")
    s1 = I.write_iceberg_table(transcripts_df, loc)
    b2 = transcripts_df.withColumn(
        "conv_id", F.concat(F.lit("b2-"), F.col("conv_id"))
    )
    I.append_iceberg_table(b2, loc)
    rw = I.rewrite_manifests(loc)
    assert rw is not None
    b3 = transcripts_df.withColumn(
        "conv_id", F.concat(F.lit("b3-"), F.col("conv_id"))
    )
    I.append_iceberg_table(b3, loc)
    inc = I.read_iceberg_increment(spark, loc, from_snapshot_id=s1)
    assert _collect(inc) == _collect(b2.union(b3))
    # window starting AT the rewrite snapshot: only the later append
    inc2 = I.read_iceberg_increment(spark, loc, from_snapshot_id=rw)
    assert _collect(inc2) == _collect(b3)


def test_rewrite_manifests_partitioned_summaries_still_prune(
    spark, transcripts_df, tmp_path
):
    """Merged manifests keep per-spec grouping and carry merged
    field-507 summaries (bytes reused, conservatively widened), so
    partition-filtered reads stay correct and file-pruned."""
    loc = str(tmp_path / "rwmpart")
    I.write_iceberg_table(transcripts_df, loc, partition_by=["role"])
    I.append_iceberg_table(
        transcripts_df.withColumn(
            "conv_id", F.concat(F.lit("p2-"), F.col("conv_id"))
        ),
        loc,
    )
    assert I.rewrite_manifests(loc) is not None
    _, mans = _current_manifests(loc)
    assert len(mans) == 1 and mans[0]["partitions"] is not None
    got = I.read_iceberg_table(
        spark, loc, partition_filter={"role": "assistant"}
    )
    both = transcripts_df.union(
        transcripts_df.withColumn(
            "conv_id", F.concat(F.lit("p2-"), F.col("conv_id"))
        )
    )
    assert _collect(got) == _collect(both.filter("role = 'assistant'"))
    # pruning: only assistant-partition files are opened
    opened = {p.removeprefix("file://") for p in got.inputFiles()}
    assistant_files = {
        f["file_path"]
        for f in I.live_data_files(loc)
        if f["partition"].get("role") == "assistant"
    }
    assert opened == assistant_files


def test_rewrite_manifests_respects_partition_evolution(
    spark, transcripts_df, tmp_path
):
    """Manifests under DIFFERENT specs never merge with each other: each
    merged manifest keeps its own spec + write-schema file_meta so
    evolution-aware readers resolve exactly as before."""
    loc = str(tmp_path / "rwmevo")
    I.write_iceberg_table(transcripts_df, loc)  # unpartitioned spec 0
    I.append_iceberg_table(
        transcripts_df.withColumn(
            "conv_id", F.concat(F.lit("e2-"), F.col("conv_id"))
        ),
        loc,
        partition_by=["role"],  # evolved spec
    )
    expect = _collect(I.read_iceberg_table(spark, loc))
    # two specs, one manifest each: nothing to merge yet — no-op
    assert I.rewrite_manifests(loc) is None
    # a second append per spec makes both groups mergeable
    I.append_iceberg_table(
        transcripts_df.withColumn(
            "conv_id", F.concat(F.lit("e3-"), F.col("conv_id"))
        ),
        loc,
    )
    expect = _collect(I.read_iceberg_table(spark, loc))
    assert I.rewrite_manifests(loc) is not None
    _, mans = _current_manifests(loc)
    assert len(mans) == 2
    assert {m["partition_spec_id"] for m in mans} == {0, 1}
    assert _collect(I.read_iceberg_table(spark, loc)) == expect


def test_rewrite_manifests_time_travel_then_expire(
    spark, transcripts_df, tmp_path
):
    """Old snapshots stay time-travelable after a rewrite; expiring them
    reaps the superseded small manifests but NOT the data files (still
    referenced by the merged manifest)."""
    loc = str(tmp_path / "rwmexp")
    s1 = I.write_iceberg_table(transcripts_df, loc)
    I.append_iceberg_table(
        transcripts_df.withColumn(
            "conv_id", F.concat(F.lit("x2-"), F.col("conv_id"))
        ),
        loc,
    )
    old_manifest_paths = {m["manifest_path"] for m in _current_manifests(loc)[1]}
    assert I.rewrite_manifests(loc) is not None
    # time travel to the pre-rewrite snapshot still replays it
    assert _collect(
        I.read_iceberg_table(spark, loc, snapshot_id=s1)
    ) == _collect(transcripts_df)
    data_files = {f["file_path"] for f in I.live_data_files(loc)}
    expired = I.expire_snapshots(loc, keep_last=1)
    assert len(expired) == 2
    assert all(not os.path.exists(p) for p in old_manifest_paths)
    assert all(os.path.exists(p) for p in data_files)
    got = I.read_iceberg_table(spark, loc)
    assert got.count() == 6


def test_maintain_iceberg_table_policy(spark, transcripts_df, tmp_path):
    """One-call maintenance: compacts only when deletes (or small
    files) warrant it, rewrites manifests only past the threshold,
    expires/reaps only when asked — and the table reads identically
    throughout."""
    loc = str(tmp_path / "mnt")
    I.write_iceberg_table(transcripts_df, loc)

    # healthy young table: nothing fires
    r = I.maintain_iceberg_table(spark, loc)
    assert r == {
        "compacted": False,
        "rewrote_manifests": None,
        "expired": [],
        "orphans_removed": 0,
    }

    # accumulate appends past the manifest threshold: rewrite fires
    for i in range(3):
        I.append_iceberg_table(
            transcripts_df.withColumn(
                "conv_id", F.concat(F.lit(f"m{i}-"), F.col("conv_id"))
            ),
            loc,
        )
    expect = _collect(I.read_iceberg_table(spark, loc))
    r = I.maintain_iceberg_table(spark, loc, rewrite_min_manifests=2)
    assert not r["compacted"] and r["rewrote_manifests"] is not None
    assert len(_current_manifests(loc)[1]) == 1
    assert _collect(I.read_iceberg_table(spark, loc)) == expect

    # a delete makes the next pass compact (and therefore skip the
    # manifest rewrite — the replace snapshot is already consolidated)
    I.delete_iceberg_rows(
        spark.createDataFrame([("conv-a",)], "conv_id string"),
        loc, ["conv_id"],
    )
    expect = _collect(
        I.read_iceberg_table(spark, loc)
    )
    r = I.maintain_iceberg_table(spark, loc, rewrite_min_manifests=2)
    assert r["compacted"] and r["rewrote_manifests"] is None
    assert I.live_delete_files(loc) == []
    assert _collect(I.read_iceberg_table(spark, loc)) == expect

    # expire + orphan reap fire only when configured
    r = I.maintain_iceberg_table(
        spark, loc, expire_keep_last=1, orphan_grace_seconds=0.0
    )
    assert not r["compacted"] and len(r["expired"]) > 0
    assert _collect(I.read_iceberg_table(spark, loc)) == expect

    # small-file trigger: average live file far below the threshold
    r = I.maintain_iceberg_table(
        spark, loc,
        compact_min_delete_files=None,
        compact_max_avg_file_bytes=10**9,
    )
    assert r["compacted"]
    assert _collect(I.read_iceberg_table(spark, loc)) == expect


def test_merge_manifest_summaries_contains_nan_three_valued():
    """ADVICE r5: merging contains_nan must not narrow unknown to
    known — any None row poisons the merge to None unless some row is
    affirmatively True (which stays True regardless of unknowns);
    False is claimable only when every row recorded False."""
    from htrtf_spark.sources.iceberg import _merge_manifest_summaries

    spec_fields = [{
        "source-id": 1, "field-id": 1000, "name": "p", "transform": "identity",
    }]
    schema = {"fields": [{"id": 1, "name": "p", "type": "long"}]}

    def row(nan):
        return {"partitions": [{
            "contains_null": False, "contains_nan": nan,
            "lower_bound": None, "upper_bound": None,
        }]}

    def merged_nan(nans):
        out = _merge_manifest_summaries(
            [row(n) for n in nans], spec_fields, schema
        )
        return out[0]["contains_nan"]

    assert merged_nan([False, False]) is False
    assert merged_nan([None, False]) is None      # unknown poisons
    assert merged_nan([False, None]) is None      # order-independent
    assert merged_nan([None, None]) is None
    assert merged_nan([None, True]) is True       # True beats unknown
    assert merged_nan([True, None]) is True
    assert merged_nan([False, True]) is True


def _rows(spark, tag, n=3):
    return spark.createDataFrame(
        [(f"{tag}-{i}", i) for i in range(n)], "name string, v int"
    )


def test_refs_tags_branches_and_wap(spark, tmp_path):
    """Snapshot refs (v2 ``refs`` map): tags pin immutable corpora,
    branches take appends main cannot see, fast_forward publishes the
    branch atomically — the write-audit-publish flow end to end."""
    import pytest

    from htrtf_spark.sources.iceberg import (
        append_iceberg_table,
        create_branch,
        create_tag,
        drop_ref,
        fast_forward,
        list_refs,
        read_iceberg_table,
        resolve_ref,
        write_iceberg_table,
    )

    loc = str(tmp_path / "tbl")
    s1 = write_iceberg_table(_rows(spark, "base"), loc)

    # tag the released corpus
    assert create_tag(loc, "run-47") == s1
    assert resolve_ref(loc, "run-47") == s1 == resolve_ref(loc, "main")

    # WRITE: append lands on the audit branch only
    create_branch(loc, "audit")
    s2 = append_iceberg_table(_rows(spark, "cand"), loc, branch="audit")
    assert read_iceberg_table(spark, loc).count() == 3        # main blind
    assert read_iceberg_table(spark, loc, ref="main").count() == 3
    assert read_iceberg_table(spark, loc, ref="audit").count() == 6
    assert resolve_ref(loc, "audit") == s2
    # a second branch append chains on the branch head
    s3 = append_iceberg_table(_rows(spark, "cand2"), loc, branch="audit")
    assert read_iceberg_table(spark, loc, ref="audit").count() == 9
    assert read_iceberg_table(spark, loc).count() == 3

    # AUDIT: gates run against the branch (here: row-count sanity)
    # PUBLISH: one pointer move, atomic
    assert fast_forward(loc, "audit") == s3
    assert read_iceberg_table(spark, loc).count() == 9
    assert fast_forward(loc, "audit") == s3  # idempotent

    # the tag still reads the OLD corpus byte-for-byte
    tagged = read_iceberg_table(spark, loc, ref="run-47")
    assert tagged.count() == 3
    assert {r["name"] for r in tagged.collect()} == {
        "base-0", "base-1", "base-2"
    }

    refs = list_refs(loc)
    assert refs["run-47"]["type"] == "tag"
    assert refs["audit"]["type"] == "branch"

    # guards
    with pytest.raises(ValueError, match="main"):
        create_tag(loc, "main")
    with pytest.raises(ValueError, match="already exists as a"):
        create_branch(loc, "run-47")
    with pytest.raises(ValueError, match="unknown branch"):
        append_iceberg_table(_rows(spark, "x"), loc, branch="nope")
    with pytest.raises(KeyError):
        read_iceberg_table(spark, loc, ref="nope")
    with pytest.raises(ValueError, match="snapshot_id or ref"):
        read_iceberg_table(spark, loc, snapshot_id=s1, ref="main")
    drop_ref(loc, "audit")
    with pytest.raises(KeyError):
        resolve_ref(loc, "audit")


def test_fast_forward_rejects_diverged_main(spark, tmp_path):
    """An append that lands on MAIN after the branch forked makes
    publish a non-fast-forward: fast_forward must refuse (silently
    winning would drop the main-side commit)."""
    import pytest

    from htrtf_spark.sources.iceberg import (
        append_iceberg_table,
        create_branch,
        fast_forward,
        read_iceberg_table,
        write_iceberg_table,
    )

    loc = str(tmp_path / "tbl")
    write_iceberg_table(_rows(spark, "base"), loc)
    create_branch(loc, "audit")
    append_iceberg_table(_rows(spark, "branchside"), loc, branch="audit")
    append_iceberg_table(_rows(spark, "mainside"), loc)  # diverge main
    with pytest.raises(ValueError, match="not a fast-forward"):
        fast_forward(loc, "audit")
    # both lineages intact
    assert read_iceberg_table(spark, loc).count() == 6
    assert read_iceberg_table(spark, loc, ref="audit").count() == 6


def test_expire_snapshots_respects_refs(spark, tmp_path):
    """Tags protect their snapshot, branches their ancestor chain;
    drop_ref releases them to the next expire."""
    from htrtf_spark.sources.iceberg import (
        append_iceberg_table,
        create_tag,
        drop_ref,
        expire_snapshots,
        read_iceberg_table,
        write_iceberg_table,
    )

    loc = str(tmp_path / "tbl")
    s1 = write_iceberg_table(_rows(spark, "v1"), loc)
    append_iceberg_table(_rows(spark, "v2"), loc)
    append_iceberg_table(_rows(spark, "v3"), loc)
    create_tag(loc, "keepme", s1)

    expired = expire_snapshots(loc, keep_last=1)
    assert s1 not in expired  # the tag held it
    assert read_iceberg_table(spark, loc, ref="keepme").count() == 3
    assert read_iceberg_table(spark, loc).count() == 9

    drop_ref(loc, "keepme")
    expired = expire_snapshots(loc, keep_last=1)
    assert s1 in expired


def test_refs_review_guards(spark, tmp_path):
    """Review r6 fourth pass: re-pointing an existing ref requires
    replace=True; branch appends reject table-wide properties and
    validate the branch BEFORE writing data; branch appends never move
    main's default write spec; expire protects a branch's unpublished
    chain until the branch is dropped."""
    import pytest

    from htrtf_spark.sources.iceberg import (
        append_iceberg_table,
        create_branch,
        create_tag,
        current_metadata,
        drop_ref,
        expire_snapshots,
        fast_forward,
        read_iceberg_table,
        resolve_ref,
        write_iceberg_table,
    )

    loc = str(tmp_path / "tbl")
    s1 = write_iceberg_table(_rows(spark, "v1"), loc)
    s2 = append_iceberg_table(_rows(spark, "v2"), loc)

    create_tag(loc, "rel", s1)
    with pytest.raises(ValueError, match="replace=True"):
        create_tag(loc, "rel", s2)
    assert resolve_ref(loc, "rel") == s1  # unchanged
    assert create_tag(loc, "rel", s2, replace=True) == s2

    create_branch(loc, "audit")
    with pytest.raises(ValueError, match="table-wide"):
        append_iceberg_table(
            _rows(spark, "x"), loc, branch="audit",
            properties={"k": "v"},
        )
    # default write spec on main is untouched by a PARTITIONED branch
    # append (the audit must not change main's write behavior)
    before = current_metadata(loc)["default-spec-id"]
    append_iceberg_table(
        _rows(spark, "b1"), loc, branch="audit", partition_by=["v"]
    )
    assert current_metadata(loc)["default-spec-id"] == before

    # branch-chain expire protection: the unpublished branch snapshot
    # survives keep_last=1 while the branch exists
    expired = expire_snapshots(loc, keep_last=1)
    assert read_iceberg_table(spark, loc, ref="audit").count() == 9
    br_head = resolve_ref(loc, "audit")
    assert br_head not in expired

    # publish, then drop the ref: nothing dangles
    fast_forward(loc, "audit")
    drop_ref(loc, "audit")
    drop_ref(loc, "rel")
    expire_snapshots(loc, keep_last=1)
    assert read_iceberg_table(spark, loc).count() == 9


def test_wap_audit_extraction_flow(spark, tmp_path):
    """The AUDIT step of write-audit-publish with the REAL extraction:
    candidate transcripts appended to a branch, the extraction + audit
    counters run against the branch read, then publish — main's
    extraction output changes only after fast_forward."""
    from pyspark.sql import functions as F

    from htrtf_spark import synth
    from htrtf_spark.plans.pipeline import extract_turns
    from htrtf_spark.schema import TRANSCRIPTS_SCHEMA
    from htrtf_spark.sources.iceberg import (
        append_iceberg_table,
        create_branch,
        fast_forward,
        write_iceberg_table,
    )
    from htrtf_spark.sources.transcripts import read_transcripts_iceberg

    pdf = synth.synth_pandas(n_convs=10, seed=61)
    convs = sorted(pdf["conv_id"].unique())
    base = pdf[pdf["conv_id"].isin(convs[:6])]
    cand = pdf[pdf["conv_id"].isin(convs[6:])]

    loc = str(tmp_path / "transcripts")
    write_iceberg_table(
        spark.createDataFrame(base, schema=TRANSCRIPTS_SCHEMA), loc
    )
    create_branch(loc, "audit")
    append_iceberg_table(
        spark.createDataFrame(cand, schema=TRANSCRIPTS_SCHEMA),
        loc, branch="audit",
    )

    # audit read: extraction over the BRANCH sees base + candidate
    audited = extract_turns(
        read_transcripts_iceberg(spark, loc, ref="audit"),
        check_schema=False,
    )
    assert audited.count() == len(pdf)
    # row conservation (the audit gate): nothing silently dropped
    assert audited.filter(F.col("extracted_text").isNotNull()).count() > 0
    # main extraction unchanged until publish
    assert extract_turns(
        read_transcripts_iceberg(spark, loc), check_schema=False
    ).count() == len(base)

    fast_forward(loc, "audit")
    assert extract_turns(
        read_transcripts_iceberg(spark, loc), check_schema=False
    ).count() == len(pdf)


def test_wap_ingest_job(spark, tmp_path):
    """jobs/run_wap_ingest: passing candidates publish atomically (and
    the audit branch retires); failing candidates leave main untouched
    with the branch kept for inspection (or dropped on request)."""
    import sys

    sys.path.insert(0, ROOT)
    from jobs.run_wap_ingest import wap_ingest

    from pyspark.sql import functions as F

    from htrtf_spark import synth
    from htrtf_spark.schema import TRANSCRIPTS_SCHEMA
    from htrtf_spark.sources.iceberg import (
        list_refs,
        read_iceberg_table,
        write_iceberg_table,
    )

    pdf = synth.synth_pandas(n_convs=8, seed=71)
    convs = sorted(pdf["conv_id"].unique())
    base = pdf[pdf["conv_id"].isin(convs[:5])]
    good = pdf[pdf["conv_id"].isin(convs[5:])]

    loc = str(tmp_path / "transcripts")
    write_iceberg_table(
        spark.createDataFrame(base, schema=TRANSCRIPTS_SCHEMA), loc
    )

    res = wap_ingest(
        spark, loc,
        spark.createDataFrame(good, schema=TRANSCRIPTS_SCHEMA),
        max_reject_bp=9000,
    )
    assert res["published"] and res["rows"] == len(good)
    assert read_iceberg_table(spark, loc).count() == len(pdf)
    assert res["branch"] not in list_refs(loc)  # retired after publish

    # failing batch: every text empties after charset cleaning →
    # reject fraction 10000 bp > budget
    bad = spark.createDataFrame(
        [(f"bad-{i}", 0, "user", "§§§", None)
         for i in range(4)],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
    res2 = wap_ingest(spark, loc, bad, max_reject_bp=1000)
    assert not res2["published"] and res2["reject_bp"] == 10000
    assert read_iceberg_table(spark, loc).count() == len(pdf)  # untouched
    assert res2["branch"] in list_refs(loc)  # kept for inspection
    # branch still carries the failed batch for debugging
    assert read_iceberg_table(spark, loc, ref=res2["branch"]).count() == \
        len(pdf) + 4

    # drop_on_fail releases the branch
    res3 = wap_ingest(
        spark, loc, bad, max_reject_bp=1000, drop_on_fail=True
    )
    assert not res3["published"]
    assert res3["branch"] not in list_refs(loc)


def test_scan_reads_metadata_once(spark, transcripts_df, tmp_path, monkeypatch):
    """A scan pins its snapshot from ONE metadata read: schema, data
    files and deletes cannot come from different snapshots when a
    commit races the scan."""
    loc = str(tmp_path / "onceread")
    s1 = I.write_iceberg_table(transcripts_df, loc)
    I.append_iceberg_table(transcripts_df, loc)
    I.delete_iceberg_rows(
        spark.createDataFrame([("conv-b",)], "conv_id string"), loc, ["conv_id"]
    )
    real = I.current_metadata
    reads = []

    def counting(location):
        reads.append(location)
        return real(location)

    monkeypatch.setattr(I, "current_metadata", counting)
    assert I.read_iceberg_table(spark, loc).count() == 4
    assert len(reads) == 1
    assert I.read_iceberg_increment(spark, loc, from_snapshot_id=s1).count() == 2
    assert len(reads) == 2


def _data_relations(df) -> int:
    """Parquet relations over the (k, v) data files in the analyzed
    plan; an equality-delete relation reads only the key column."""
    import re

    plan = df._jdf.queryExecution().analyzed().toString()
    return len(re.findall(r"Relation \[k#\d+,v#\d+\]", plan))


def test_scan_groups_files_by_read_plan(spark, tmp_path):
    """Files that read alike, with the same deletes applying, share one
    parquet relation whatever snapshot added them; an equality delete
    between two appends splits the files it applies to from the later
    ones. Rows equal the union of one scan per file."""

    def batch(tag):
        rows = [(f"{tag}{i}", i) for i in range(3)] + [("dup", 9)]
        return spark.createDataFrame(rows, "k string, v int").repartition(2)

    def per_file(loc):
        meta = I.current_metadata(loc)
        snap = I._snapshot_or_current(meta)
        scans = [
            I._scan(spark, meta, records=[rec])
            for rec in I._manifest_files(snap, 0)
        ]
        out = scans[0]
        for df in scans[1:]:
            out = out.unionByName(df)
        return _collect(out)

    plain = str(tmp_path / "plain")
    I.write_iceberg_table(batch("w"), plain)
    for tag in ("a", "b", "c"):
        I.append_iceberg_table(batch(tag), plain)
    got = I.read_iceberg_table(spark, plain)
    assert _data_relations(got) == 1
    assert _collect(got) == per_file(plain)
    assert len(_collect(got)) == 16

    deleted = str(tmp_path / "deleted")
    I.write_iceberg_table(batch("w"), deleted)
    I.append_iceberg_table(batch("a"), deleted)
    I.append_iceberg_table(batch("b"), deleted)
    I.delete_iceberg_rows(
        spark.createDataFrame([("dup",)], "k string"), deleted, ["k"]
    )
    I.append_iceberg_table(batch("c"), deleted)
    got = I.read_iceberg_table(spark, deleted)
    assert _data_relations(got) == 2
    assert _collect(got) == per_file(deleted)
    # the delete hits the three batches before it, not the one after
    assert [r for r in _collect(got) if r[0] == "dup"] == [("dup", 9)]
    assert len(_collect(got)) == 13


def _rows_sha256(df) -> str:
    import hashlib

    rows = sorted(repr(tuple(r)) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()


@pytest.fixture()
def typed_df(spark):
    import datetime as dt

    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("s", T.StringType()),
        T.StructField("i", T.IntegerType(), False),
        T.StructField("l", T.LongType()),
        T.StructField("d", T.DoubleType()),
        T.StructField("dt", T.DateType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("b", T.BinaryType()),
        T.StructField("n", T.StringType()),
    ])
    rows = [
        (
            None if k % 7 == 0 else f"key-{k % 5}",
            k,
            None if k % 6 == 0 else k * 1_000_003 - 40_000_000,
            None if k % 9 == 0 else k * 0.25 - 3.0,
            dt.date(2024, 1, 1) + dt.timedelta(days=k % 4),
            None if k % 8 == 0 else dt.datetime(2024, 1, 1, k % 24, k % 60),
            bytes([k % 256, 7]),
            None if k % 2 else f"nullable {k}",
        )
        for k in range(60)
    ]
    return spark.createDataFrame(rows, schema).repartition(3)


@pytest.mark.parametrize(
    "partition_by",
    [None, ["s"], ["bucket(4, l)"], ["day(ts)"], ["truncate(5, s)"]],
)
def test_task_writer_records_match_spark_written_footers(
    spark, typed_df, tmp_path, partition_by
):
    """The task-side writer's data_file records carry what the footer
    of a Spark-written parquet file of the same rows gives: counts and
    bounds per column, for every column type and under identity,
    bucket, day and truncate specs with a NULL partition value. The
    rows read back are sha256-equal to the written ones."""
    import glob

    import pyarrow.parquet as pq

    loc = str(tmp_path / "typed")
    I.write_iceberg_table(typed_df, loc, partition_by=partition_by)
    meta = I.current_metadata(loc)
    ice_schema = I._schema_by_id(meta, meta["current-schema-id"])
    records = I.live_data_files(loc)
    assert sum(r["record_count"] for r in records) == 60
    if partition_by:
        field = meta["partition-specs"][0]["fields"][0]["name"]
        values = [r["partition"][field] for r in records]
        assert None in values  # the NULL partition has its own file
        assert len(values) == len(set(values))  # one file per value
    for n, rec in enumerate(records):
        spark_dir = str(tmp_path / f"spark-{n}")
        spark.read.parquet(rec["file_path"]).coalesce(1).write.parquet(spark_dir)
        (path,) = glob.glob(os.path.join(spark_dir, "*.parquet"))
        md = pq.read_metadata(path)
        lower, upper = I._file_column_bounds(md, ice_schema)
        values, nulls = I._file_column_counts(md, ice_schema)
        assert rec["record_count"] == md.num_rows
        assert rec["value_counts"] == values
        assert (rec["null_value_counts"] or []) == nulls
        assert (rec["lower_bounds"] or []) == lower
        assert (rec["upper_bounds"] or []) == upper
    got = I.read_iceberg_table(spark, loc).select(*typed_df.columns)
    assert _rows_sha256(got) == _rows_sha256(typed_df)


def test_partition_runs_treat_nulls_as_equal():
    """Run boundaries fall where any key column changes, NULL to value
    and value to NULL included, and two adjacent NULLs are one key."""
    import pyarrow as pa

    batch = pa.record_batch({
        "a": [None, None, "x", "x", None, "x", "x"],
        "b": [1, 1, 1, None, None, None, None],
        "v": list(range(7)),
    })
    runs = [
        (key, rows.column("v").to_pylist())
        for key, rows in I._partition_runs([batch], ["a", "b"])
    ]
    assert runs == [
        ((None, 1), [0, 1]), (("x", 1), [2]), (("x", None), [3]),
        ((None, None), [4]), (("x", None), [5, 6]),
    ]


def test_partitioned_write_with_null_partition_values(spark, tmp_path):
    """Two identity partition columns with NULLs: one file per distinct
    key, NULL keys included, each holding exactly its rows."""
    rows = [
        (None if k % 3 == 0 else f"r{k % 2}", None if k % 4 == 0 else k % 2, k)
        for k in range(40)
    ]
    df = spark.createDataFrame(rows, "a string, b int, v int").repartition(3)
    loc = str(tmp_path / "nullparts")
    I.write_iceberg_table(df, loc, partition_by=["a", "b"])
    got = {}
    for rec in I.live_data_files(loc):
        key = (rec["partition"]["a"], rec["partition"]["b"])
        assert key not in got  # one file per key
        got[key] = rec["record_count"]
    want = {}
    for a, b, _v in rows:
        want[(a, b)] = want.get((a, b), 0) + 1
    assert got == want and (None, None) in got
    back = I.read_iceberg_table(spark, loc).select("a", "b", "v")
    assert _rows_sha256(back) == _rows_sha256(df)


def test_failed_task_write_commits_nothing_and_leaves_orphans(
    spark, typed_df, tmp_path
):
    """One task's batch function raises: the write raises, the table's
    metadata version and current snapshot stay as they were, and the
    files the other tasks wrote are unreferenced orphans that
    remove_orphan_files reaps."""
    import time

    loc = str(tmp_path / "failing")
    I.write_iceberg_table(typed_df, loc)
    before = I.current_metadata(loc)
    referenced = {r["file_path"] for r in I.live_data_files(loc)}
    poisoned = typed_df.withColumn(
        "n", F.when(F.col("i") == 13, F.lit("poison")).otherwise(F.col("n"))
    )

    def fail_on_poison(batches):
        for batch in batches:
            if "poison" in batch.column("n").to_pylist():
                time.sleep(1.0)  # the other tasks write their files first
                raise RuntimeError("poisoned batch")
            yield batch

    ddl = ", ".join(f"{f.name} {f.dataType.simpleString()}" for f in typed_df.schema)
    with pytest.raises(Exception, match="poisoned batch"):
        I.append_iceberg_table(poisoned, loc, kernel=(fail_on_poison, ddl))
    after = I.current_metadata(loc)
    assert after["_version"] == before["_version"]
    assert after["current-snapshot-id"] == before["current-snapshot-id"]

    def data_files():
        return {
            os.path.join(d, f)
            for d, _dirs, fs in os.walk(os.path.join(loc, "data"))
            for f in fs
        }

    orphans = data_files() - referenced
    assert orphans  # the tasks that did not fail wrote their files
    removed = set(I.remove_orphan_files(loc, grace_seconds=0))
    assert orphans <= removed
    assert data_files() == referenced
    assert _rows_sha256(I.read_iceberg_table(spark, loc)) == _rows_sha256(typed_df)


def test_empty_write_commits_no_data_file(spark, typed_df, tmp_path):
    """An empty input commits a snapshot with no data file (no empty
    parquet file is written) and reads back empty."""
    loc = str(tmp_path / "empty")
    I.write_iceberg_table(typed_df.limit(0), loc)
    assert I.live_data_files(loc) == []
    assert not os.listdir(os.path.join(loc, "data"))
    assert I.read_iceberg_table(spark, loc).count() == 0
