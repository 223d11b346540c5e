"""Apache Iceberg v2 table layer, pure Python over the PUBLIC spec
(https://iceberg.apache.org/spec/), for environments without
iceberg-spark-runtime on the classpath (this sandbox has no network and
no Iceberg jars — see read_transcripts_iceberg for the native-jar path
used on a real cluster).

What this implements — the actual Iceberg on-disk contract, not a
look-alike:

- HadoopCatalog directory layout: ``<location>/metadata/v{N}.metadata.json``
  + ``version-hint.text``, data files under ``<location>/data/``.
- Table metadata JSON (format-version 2): schemas with field-ids,
  partition-specs / sort-orders, snapshot log, sequence numbers.
- Snapshots: each commit writes an Avro manifest file (one
  ``manifest_entry`` per data file, Iceberg field-ids 100/101/103/104/134
  on the ``data_file`` struct) and an Avro manifest list
  (``manifest_file`` entries, field-ids 500–517), then a new metadata
  version. Appends carry prior manifests forward in the new manifest
  list, so time travel to any snapshot-id replays exactly that
  snapshot's file set.
- Reads: version-hint → metadata JSON → snapshot → manifest list →
  manifests → live data files (status != DELETED) → schema-pinned
  ``spark.read.parquet`` over exactly those files. Column projection and
  predicate pushdown still happen in the parquet scan; snapshot isolation
  comes from the manifest file list.

Data files are written by the tasks that hold the rows, Iceberg's own
writer protocol: each ``mapInArrow`` task streams its Arrow batches to
parquet with pyarrow (one directory per commit, one file per task and
partition value) and returns each file's data_file record, stats taken
from the footer it wrote. The driver collects the records and makes
the metadata commit. A caller may hand the write a batch kernel (the
extraction kernel, say) that runs in the same task, so decode and
write are one Python pass and the rows never return to the JVM. No
Spark writer and no Hadoop FileSystem is involved.

Commit protocol (the spec's optimistic concurrency): a commit builds
metadata version N+1 from version N and publishes it with a
fail-if-exists link (``_publish_metadata``). A writer that loses the
race gets ``CommitConflict`` and re-applies its change to the fresh
metadata. Three loops do that, and no other code catches the conflict:
``_retry_metadata_update`` re-runs a metadata-only change (properties,
schema, refs, rollback, expiry, manifest rewrite) and its guards
against the fresh metadata; ``_commit_retrying`` re-commits data or
delete files that are already written (append, upsert, deletes);
``_replace_retrying`` redoes the whole write of a replace commit
(overwrite, compaction), whose rows depend on the state it replaces.

Scans read the metadata once: ``_scan`` pins one snapshot and takes
the schema, the data files and the delete files from that one read.

Identity partitioning + partition evolution: ``partition_by`` columns
cluster the rows by partition value (the write stays distributed), each
task writes one file per partition value it holds, without the
partition columns, and the per-file partition tuple is recorded in the
manifest entry (spec-typed Avro record, field-ids 1000+), each manifest carries
its own partition-spec, and an append may introduce a NEW spec
(evolution) — old manifests keep their old spec, exactly the Iceberg
model. Reads prune DATA FILES BY MANIFEST PARTITION VALUES before any
parquet scan (``partition_filter=``) — files under a spec that lacks a
filtered column are conservatively kept, the correct evolution
semantics. Identity partition columns are materialized from metadata on
read (one lit per file group), as Iceberg readers do.

Row-level deletes: ``delete_iceberg_rows`` writes a v2
EQUALITY_DELETES parquet file (data_file.content=2, equality_ids =
field-ids) under a DELETES manifest (content=1). Reads apply each
delete file to every data file with a strictly smaller sequence number
via a broadcast anti join — rows appended after the delete are
untouched, and time travel to a pre-delete snapshot still sees the
rows, exactly the spec's applicability rule. No data file is ever
rewritten.

Schema evolution: ``evolve_iceberg_schema`` (add columns),
``rename_iceberg_column`` and ``drop_iceberg_column``. Field ids are
the identity: reads resolve every parquet column BY FIELD ID against
the write-time schema each manifest records, so renamed columns keep
their data with no rewrite, dropped columns vanish from the
projection, a re-added name gets a fresh id (old values are NOT
resurrected), and time travel resolves the schema via the SNAPSHOT's
schema-id — an old snapshot surfaces exactly the columns and names it
was committed under.

Position deletes: ``delete_iceberg_positions`` writes a v2
POSITION_DELETES file of (file_path, pos) rows (content=1);
``find_positions`` builds that set from a SQL predicate using Spark's
``_metadata.row_index``. Reads anti-join the scan's (path, row index)
against applicable position-delete sets (seq ≤ delete's — they may
target same-commit rows).

Maintenance: ``compact_iceberg_table`` rewrites the visible rows into
fresh data files (deletes merged away; the new snapshot's manifest
list references only the rewrite, older snapshots keep time-traveling
to the originals) and ``expire_snapshots`` drops expired snapshots and
physically removes files referenced only by them — the standard
Iceberg lifecycle pair.

Partition transforms: identity, ``days/hours/months/years(col)``
(ints from epoch),
``bucket(N, col)`` (the spec's 32-bit Murmur3 single-value hash,
verified against Appendix B's published vectors) and
``truncate(W, col)`` (floored int truncation / string codepoint
prefix). Transform partition
columns are metadata-only (the source column stays in the data files);
reads prune by applying the file spec's transform to value filters, or
accept transform-granularity filters like ``{"days(ts)": [...]}``.

Manifests are written with the "null" Avro codec (debuggable, and
metadata is tiny next to data); the reader also accepts "deflate" —
what native Iceberg writers emit — so externally-written manifests
load.
"""

from __future__ import annotations

import datetime
import functools
import glob
import itertools
import json
import os
import pickle
import struct
import time
import uuid
from typing import NamedTuple

import pandas as pd  # noqa: F401 — resolves pandas_udf type hints
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from htrtf_spark.sources.avro_io import avro_read, avro_write

# ---------------------------------------------------------------- schemas
_SPARK_TO_ICE = {
    T.StringType(): "string",
    T.IntegerType(): "int",
    T.LongType(): "long",
    T.DoubleType(): "double",
    T.FloatType(): "float",
    T.BooleanType(): "boolean",
    T.DateType(): "date",
    T.BinaryType(): "binary",
    T.TimestampType(): "timestamptz",
    T.TimestampNTZType(): "timestamp",
}
_ICE_TO_SPARK = {v: k for k, v in _SPARK_TO_ICE.items()}


def _iceberg_schema(spark_schema: T.StructType) -> dict:
    fields = []
    for i, f in enumerate(spark_schema.fields, start=1):
        ice = _SPARK_TO_ICE.get(f.dataType)
        if ice is None:
            raise ValueError(f"unsupported Iceberg column type: {f.dataType}")
        fields.append(
            {"id": i, "name": f.name, "required": not f.nullable, "type": ice}
        )
    return {"type": "struct", "schema-id": 0, "fields": fields}


def _spark_schema(ice_schema: dict) -> T.StructType:
    return T.StructType(
        [
            T.StructField(f["name"], _ICE_TO_SPARK[f["type"]], not f["required"])
            for f in ice_schema["fields"]
        ]
    )


# Avro schema for manifest entries (Iceberg spec "Manifests" table;
# optional stats columns omitted — they are optional in the spec).
# The ``partition`` record is SPEC-TYPED: one field per partition column
# (field-ids 1000+), so every manifest entry carries its file's
# partition tuple — what read-side pruning keys on.

# identity-partitionable Iceberg types and their Avro encodings
_ICE_TO_AVRO_PART = {"string": "string", "int": "int", "long": "long"}


# ------------------------------------------------- partition transforms
# Iceberg spec "Partition Transforms" + Appendix B. ``partition_by``
# terms: a bare column name (identity), ``days(col)``/``day(col)``
# (timestamp/date → int days from 1970-01-01), or ``bucket(N, col)``
# (32-bit Murmur3 of the value's single-value serialization, seed 0,
# then (hash & Int.MAX) % N — the spec's exact hash, verified against
# the spec's published test vectors in tests/test_iceberg.py).

import re as _re


def _parse_partition_term(term: str) -> tuple[str, str, int | None, str]:
    """'(source_col, transform, param, field_name)' for a partition_by
    term. Default field names follow Iceberg: col_day / col_bucket."""
    for unit in ("day", "hour", "month", "year"):
        m = _re.match(rf"^\s*{unit}s?\s*\(\s*(\w+)\s*\)\s*$", term)
        if m:
            return m.group(1), unit, None, f"{m.group(1)}_{unit}"
    m = _re.match(r"^\s*bucket\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*$", term)
    if m:
        n = int(m.group(1))
        if n <= 0:
            raise ValueError(f"bucket count must be positive: {term!r}")
        return m.group(2), f"bucket[{n}]", n, f"{m.group(2)}_bucket"
    m = _re.match(r"^\s*truncate\s*\(\s*(\d+)\s*,\s*(\w+)\s*\)\s*$", term)
    if m:
        w = int(m.group(1))
        if w <= 0:
            raise ValueError(f"truncate width must be positive: {term!r}")
        return m.group(2), f"truncate[{w}]", w, f"{m.group(2)}_trunc"
    if not _re.match(r"^\w+$", term):
        raise ValueError(f"unsupported partition term: {term!r}")
    return term, "identity", None, term


def _murmur3_32(data: bytes, seed: int = 0) -> int:
    """32-bit Murmur3 (x86 variant), the hash Iceberg's bucket transform
    mandates (spec Appendix B), returned as unsigned 32-bit."""
    c1, c2 = 0xCC9E2D51, 0x1B873593
    h = seed & 0xFFFFFFFF
    n4 = len(data) // 4 * 4
    for i in range(0, n4, 4):
        k = int.from_bytes(data[i : i + 4], "little")
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
        h = ((h << 13) | (h >> 19)) & 0xFFFFFFFF
        h = (h * 5 + 0xE6546B64) & 0xFFFFFFFF
    k = 0
    for i, b in enumerate(data[n4:]):
        k |= b << (8 * i)
    if k:
        k = (k * c1) & 0xFFFFFFFF
        k = ((k << 15) | (k >> 17)) & 0xFFFFFFFF
        k = (k * c2) & 0xFFFFFFFF
        h ^= k
    h ^= len(data)
    h ^= h >> 16
    h = (h * 0x85EBCA6B) & 0xFFFFFFFF
    h ^= h >> 13
    h = (h * 0xC2B2AE35) & 0xFFFFFFFF
    h ^= h >> 16
    return h


def _murmur3_32_i64_vec(vals):
    """Vectorized spec bucket hash for int64 values: Murmur3-32 of the
    8-byte little-endian form = two 4-byte blocks, pure numpy uint32
    arithmetic (wrapping multiply/shift — no per-value Python). Equal
    to _murmur3_32(v.to_bytes(8,'little',signed=True)) for every input
    (pytest-verified against the scalar spec implementation)."""
    import numpy as np

    v = np.asarray(vals, dtype=np.int64).astype(np.uint64)
    c1 = np.uint32(0xCC9E2D51)
    c2 = np.uint32(0x1B873593)
    h = np.zeros(v.shape, dtype=np.uint32)
    with np.errstate(over="ignore"):
        for k in (
            (v & np.uint64(0xFFFFFFFF)).astype(np.uint32),
            (v >> np.uint64(32)).astype(np.uint32),
        ):
            k = (k * c1).astype(np.uint32)
            k = ((k << np.uint32(15)) | (k >> np.uint32(17))).astype(np.uint32)
            k = (k * c2).astype(np.uint32)
            h ^= k
            h = ((h << np.uint32(13)) | (h >> np.uint32(19))).astype(np.uint32)
            h = (h * np.uint32(5) + np.uint32(0xE6546B64)).astype(np.uint32)
        h ^= np.uint32(8)  # message length
        h ^= h >> np.uint32(16)
        h = (h * np.uint32(0x85EBCA6B)).astype(np.uint32)
        h ^= h >> np.uint32(13)
        h = (h * np.uint32(0xC2B2AE35)).astype(np.uint32)
        h ^= h >> np.uint32(16)
    return h


def _bucket_value(value, n: int, ice_type: str) -> int | None:
    """Spec bucket transform of one value: int/long hash their 8-byte
    little-endian form (ints are widened to long first — Appendix B),
    strings hash their UTF-8 bytes; null → null partition."""
    if value is None:
        return None
    if ice_type in ("int", "long"):
        data = int(value).to_bytes(8, "little", signed=True)
    elif ice_type == "string":
        data = str(value).encode("utf-8")
    else:
        raise ValueError(f"bucket transform unsupported for {ice_type}")
    return (_murmur3_32(data) & 0x7FFFFFFF) % n


def _day_value(value) -> int | None:
    """Spec day transform of one python value: int passes through (already
    days-from-epoch); date/datetime/pandas.Timestamp → days since
    1970-01-01."""
    import datetime as dt

    if value is None:
        return None
    if isinstance(value, bool):
        raise ValueError("day transform of a bool")
    if isinstance(value, int):
        return value
    if isinstance(value, dt.datetime):
        return (value.date() - dt.date(1970, 1, 1)).days
    if isinstance(value, dt.date):
        return (value - dt.date(1970, 1, 1)).days
    raise ValueError(f"day transform of unsupported value {value!r}")


def _truncate_value(value, w: int, src_type: str):
    """Spec truncate transform: ints truncate toward negative infinity
    (v - (v mod W), python % already floors); strings keep the first W
    CODEPOINTS (the spec's unicode rule)."""
    if value is None:
        return None
    if src_type in ("int", "long"):
        return int(value) - (int(value) % w)
    if src_type == "string":
        return str(value)[:w]
    raise ValueError(f"truncate transform unsupported for {src_type}")


def _time_value(transform: str, value) -> int | None:
    """Spec hour/month/year transforms of one python value: hours /
    months / years since 1970-01-01 (naive datetimes are treated as
    UTC, matching the pinned-UTC session the Spark side computes in)."""
    import datetime as dt

    if value is None:
        return None
    if isinstance(value, int) and not isinstance(value, bool):
        return value  # already a partition value
    if transform == "hour":
        if not isinstance(value, dt.datetime):
            raise ValueError(f"hour transform of unsupported {value!r}")
        utc = value if value.tzinfo else value.replace(tzinfo=dt.timezone.utc)
        return int(utc.timestamp() // 3600)
    if not isinstance(value, dt.date):
        raise ValueError(f"{transform} transform of unsupported {value!r}")
    if transform == "month":
        return (value.year - 1970) * 12 + value.month - 1
    return value.year - 1970  # year


def _transform_py(transform: str, value, src_type: str):
    """Apply a spec transform to one PYTHON value (driver-side pruning)."""
    if transform == "identity":
        return value
    if transform == "day":
        return _day_value(value)
    if transform in ("hour", "month", "year"):
        return _time_value(transform, value)
    if transform.startswith("bucket["):
        return _bucket_value(value, int(transform[7:-1]), src_type)
    if transform.startswith("truncate["):
        return _truncate_value(value, int(transform[9:-1]), src_type)
    raise ValueError(f"unsupported transform {transform!r}")


def _transform_column(transform: str, source: str, src_type: str):
    """Apply a spec transform as a Spark Column (write path + residual
    read filters). day stays JVM-side; bucket is an Arrow-batched pandas
    UDF of the spec's Murmur3 (memoized per batch over distinct values —
    partition sources are low-cardinality by design)."""
    from pyspark.sql import functions as F

    if transform == "identity":
        return F.col(source)
    if transform == "day":
        return F.datediff(
            F.col(source).cast("date"), F.lit("1970-01-01").cast("date")
        )
    if transform == "hour":
        # session TZ is pinned UTC; floor division keeps pre-epoch exact
        return F.floor(
            F.unix_timestamp(F.col(source).cast("timestamp")) / 3600
        ).cast("int")
    if transform == "month":
        d = F.col(source).cast("date")
        return ((F.year(d) - 1970) * 12 + F.month(d) - 1).cast("int")
    if transform == "year":
        return (F.year(F.col(source).cast("date")) - 1970).cast("int")
    if transform.startswith("bucket["):
        n = int(transform[7:-1])

        if src_type in ("int", "long"):

            @F.pandas_udf("int")
            def _bucket(s: pd.Series) -> pd.Series:
                import numpy as np

                mask = s.notna()
                out = pd.array([None] * len(s), dtype="Int32")
                if mask.any():
                    h = _murmur3_32_i64_vec(s[mask].to_numpy(dtype="int64"))
                    out[np.asarray(mask)] = (
                        (h & np.uint32(0x7FFFFFFF)) % np.uint32(n)
                    ).astype("int32")
                return pd.Series(out)

        else:

            @F.pandas_udf("int")
            def _bucket(s: pd.Series) -> pd.Series:
                # strings: memoized over the batch's distinct values
                mapping = {
                    v: _bucket_value(v, n, src_type)
                    for v in s.dropna().unique()
                }
                return s.map(mapping).astype("Int32")

        return _bucket(F.col(source))
    if transform.startswith("truncate["):
        w = int(transform[9:-1])
        if src_type in ("int", "long"):
            # pmod floors like python %, so negatives truncate toward -inf
            return (F.col(source) - F.pmod(F.col(source), F.lit(w))).cast(
                "long" if src_type == "long" else "int"
            )
        return F.substring(F.col(source), 1, w)
    raise ValueError(f"unsupported transform {transform!r}")


def _partition_value_type(pf: dict, ice_schema: dict) -> str:
    """Iceberg type of a partition FIELD's value: identity and truncate
    keep the source type; day and bucket produce int (spec result
    types)."""
    if pf["transform"] == "identity" or pf["transform"].startswith("truncate["):
        by_id = {f["id"]: f for f in ice_schema["fields"]}
        return by_id[pf["source-id"]]["type"]
    return "int"


def _partition_record_schema(spec_fields: list[dict], ice_schema: dict) -> dict:
    fields = []
    for pf in spec_fields:
        avro_t = _ICE_TO_AVRO_PART[_partition_value_type(pf, ice_schema)]
        fields.append(
            {
                "name": pf["name"],
                "type": ["null", avro_t],
                "field-id": pf["field-id"],
            }
        )
    return {"type": "record", "name": "r102", "fields": fields}


def _data_file_schema(spec_fields: list[dict], ice_schema: dict) -> dict:
    return {
        "type": "record",
        "name": "r2",
        "fields": [
            {"name": "content", "type": "int", "field-id": 134},
            {"name": "file_path", "type": "string", "field-id": 100},
            {"name": "file_format", "type": "string", "field-id": 101},
            {
                "name": "partition",
                "type": _partition_record_schema(spec_fields, ice_schema),
                "field-id": 102,
            },
            {"name": "record_count", "type": "long", "field-id": 103},
            {"name": "file_size_in_bytes", "type": "long", "field-id": 104},
            # field-ids of the equality columns for EQUALITY_DELETES
            # files (content=2); null for data files — spec field 135
            {
                "name": "equality_ids",
                "type": ["null", {"type": "array", "items": "int"}],
                "field-id": 135,
            },
            # per-column min/max for manifest-level file pruning (spec
            # fields 125/128; maps with int keys use the k/v-record
            # array representation). default None: entries rebuilt from
            # pre-stats manifests stay encodable.
            {
                "name": "lower_bounds",
                "type": _bounds_avro("k126_v127", 126, 127),
                "field-id": 125,
                "default": None,
            },
            {
                "name": "upper_bounds",
                "type": _bounds_avro("k129_v130", 129, 130),
                "field-id": 128,
                "default": None,
            },
            # value_counts (incl. nulls) / null_value_counts — spec
            # fields 109/110; power IS NULL / IS NOT NULL file pruning
            {
                "name": "value_counts",
                "type": _counts_avro("k119_v120", 119, 120),
                "field-id": 109,
                "default": None,
            },
            {
                "name": "null_value_counts",
                "type": _counts_avro("k121_v122", 121, 122),
                "field-id": 110,
                "default": None,
            },
        ],
    }


def _counts_avro(name: str, key_fid: int, val_fid: int) -> list:
    return [
        "null",
        {
            "type": "array",
            "items": {
                "type": "record",
                "name": name,
                "fields": [
                    {"name": "key", "type": "int", "field-id": key_fid},
                    {"name": "value", "type": "long", "field-id": val_fid},
                ],
            },
        },
    ]


def _bounds_avro(name: str, key_fid: int, val_fid: int) -> list:
    return [
        "null",
        {
            "type": "array",
            "items": {
                "type": "record",
                "name": name,
                "fields": [
                    {"name": "key", "type": "int", "field-id": key_fid},
                    {"name": "value", "type": "bytes", "field-id": val_fid},
                ],
            },
        },
    ]


def _manifest_entry_schema(spec_fields: list[dict], ice_schema: dict) -> dict:
    return {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int", "field-id": 0},
            {"name": "snapshot_id", "type": ["null", "long"], "field-id": 1},
            {"name": "sequence_number", "type": ["null", "long"], "field-id": 3},
            {"name": "file_sequence_number", "type": ["null", "long"], "field-id": 4},
            {
                "name": "data_file",
                "type": _data_file_schema(spec_fields, ice_schema),
                "field-id": 2,
            },
        ],
    }
# Avro schema for manifest-list entries (spec "Manifest Lists").
_MANIFEST_FILE_SCHEMA = {
    "type": "record",
    "name": "manifest_file",
    "fields": [
        {"name": "manifest_path", "type": "string", "field-id": 500},
        {"name": "manifest_length", "type": "long", "field-id": 501},
        {"name": "partition_spec_id", "type": "int", "field-id": 502},
        {"name": "content", "type": "int", "field-id": 517},
        {"name": "sequence_number", "type": "long", "field-id": 515},
        {"name": "min_sequence_number", "type": "long", "field-id": 516},
        {"name": "added_snapshot_id", "type": "long", "field-id": 503},
        {"name": "added_files_count", "type": "int", "field-id": 504},
        {"name": "existing_files_count", "type": "int", "field-id": 505},
        {"name": "deleted_files_count", "type": "int", "field-id": 506},
        {"name": "added_rows_count", "type": "long", "field-id": 512},
        {"name": "existing_rows_count", "type": "long", "field-id": 513},
        {"name": "deleted_rows_count", "type": "long", "field-id": 514},
        # per-partition-field summaries (spec field 507): ordered like
        # the manifest's spec fields; lets a reader skip a WHOLE
        # manifest (never opened) when no partition can match — the
        # second pruning tier above file-level pruning. default None:
        # manifest lists rebuilt from pre-summary rows stay encodable.
        {
            "name": "partitions",
            "type": [
                "null",
                {
                    "type": "array",
                    "items": {
                        "type": "record",
                        "name": "field_summary",
                        "fields": [
                            {"name": "contains_null", "type": "boolean", "field-id": 509},
                            {"name": "contains_nan", "type": ["null", "boolean"], "field-id": 518},
                            {"name": "lower_bound", "type": ["null", "bytes"], "field-id": 510},
                            {"name": "upper_bound", "type": ["null", "bytes"], "field-id": 511},
                        ],
                    },
                },
            ],
            "field-id": 507,
            "default": None,
        },
    ],
}


def _partition_summaries(
    files: list[dict], spec_fields: list[dict], ice_schema: dict
) -> list[dict] | None:
    """field_summary rows (contains_null, bounds) for one manifest's
    data files, ordered like its spec fields."""
    if not spec_fields:
        return None
    out = []
    for pf in spec_fields:
        ptype = _partition_value_type(pf, ice_schema)
        vals = [f["partition"].get(pf["name"]) for f in files]
        non_null = [v for v in vals if v is not None]
        lo = hi = None
        if non_null:
            lo = _encode_bound(min(non_null), ptype)
            hi = _encode_bound(max(non_null), ptype)
        out.append(
            {
                "contains_null": any(v is None for v in vals),
                "contains_nan": None,
                "lower_bound": lo,
                "upper_bound": hi,
            }
        )
    return out

_ADDED, _EXISTING, _DELETED = 1, 0, 2


# ----------------------------------------------------------------- paths
def _meta_dir(location: str) -> str:
    return os.path.join(location, "metadata")


def _version_hint(location: str) -> str:
    return os.path.join(_meta_dir(location), "version-hint.text")


class CommitConflict(Exception):
    """Another writer published this metadata version first. The caller
    must refresh metadata and rebuild its commit (the HadoopCatalog
    CommitFailedException analog). Data files already written are fine —
    only the metadata commit is retried."""


def _latest_version(location: str) -> int:
    """Newest committed metadata version by LISTING v*.metadata.json —
    not by trusting version-hint.text, which is written after the atomic
    commit and may lag under concurrent writers (HadoopTableOperations
    does the same directory probe past the hint)."""
    best = -1
    for p in glob.glob(os.path.join(_meta_dir(location), "v*.metadata.json")):
        stem = os.path.basename(p)[1:].split(".", 1)[0]
        if stem.isdigit():
            best = max(best, int(stem))
    if best < 0:
        raise FileNotFoundError(f"no Iceberg metadata at {location}")
    return best


def table_exists(location: str) -> bool:
    """True if any committed metadata version exists. Checks the
    directory listing, not version-hint.text — the hint is advisory and
    may be missing after a crash between the commit link and the hint
    write."""
    try:
        _latest_version(location)
        return True
    except FileNotFoundError:
        return False


def current_metadata(location: str) -> dict:
    n = _latest_version(location)
    with open(os.path.join(_meta_dir(location), f"v{n}.metadata.json")) as fh:
        meta = json.load(fh)
    # the version this dict was read from, so a commit built on it
    # targets exactly version+1 — staleness then surfaces as a
    # CommitConflict instead of silently clobbering a racing writer.
    # Internal bookkeeping; stripped before the metadata is written.
    meta["_version"] = n
    return meta


def _publish_metadata(location: str, meta: dict, version: int) -> None:
    """Atomic fail-if-exists commit point: ``os.link`` onto the version
    path (POSIX link(2) fails with EEXIST if the loser raced — unlike
    rename(2), which silently clobbers). Exactly one of two racing
    writers wins a version; the loser gets CommitConflict and must
    rebuild from refreshed metadata. version-hint.text is advisory
    (readers list the directory) and written after the commit point."""
    meta = {k: v for k, v in meta.items() if k != "_version"}
    meta_path = os.path.join(_meta_dir(location), f"v{version}.metadata.json")
    tmp = meta_path + f".tmp-{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as fh:
        json.dump(meta, fh, indent=2)
    try:
        os.link(tmp, meta_path)
    except FileExistsError:
        raise CommitConflict(
            f"metadata version {version} already committed at {location}"
        ) from None
    finally:
        os.unlink(tmp)
    with open(_version_hint(location), "w") as fh:
        fh.write(str(version))


def _retry_metadata_update(location: str, mutate) -> object:
    """Refresh → mutate → publish with retry-on-conflict: the one
    commit loop for every metadata-only change. ``mutate(meta)`` returns
    (new_meta, result) — new_meta None commits nothing — or raises to
    abort; it is re-invoked against FRESH metadata after every lost
    race, so its decisions and guards can never be stale."""
    while True:
        meta = current_metadata(location)
        new_meta, result = mutate(meta)
        if new_meta is None:
            return result  # nothing to do — commit nothing
        new_meta["last-updated-ms"] = int(time.time() * 1000)
        try:
            _publish_metadata(location, new_meta, meta["_version"] + 1)
            return result
        except CommitConflict:
            continue


# ----------------------------------------------------------------- write
def _make_spec(ice_schema: dict, partition_by: list[str], spec_id: int) -> dict:
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    fields = []
    for i, term in enumerate(partition_by):
        col, transform, _n, field_name = _parse_partition_term(term)
        if col not in by_name:
            raise ValueError(f"partition column {col!r} not in table schema")
        src_t = by_name[col]["type"]
        if transform == "identity" and src_t not in _ICE_TO_AVRO_PART:
            raise ValueError(
                f"identity partition on {col!r} needs string/int/long, "
                f"got {src_t}"
            )
        if transform in ("day", "month", "year") and src_t not in (
            "timestamp", "timestamptz", "date"
        ):
            raise ValueError(
                f"{transform} transform on {col!r} needs timestamp/date, "
                f"got {src_t}"
            )
        if transform == "hour" and src_t not in ("timestamp", "timestamptz"):
            raise ValueError(
                f"hour transform on {col!r} needs a timestamp, got {src_t}"
            )
        if transform.startswith("bucket[") and src_t not in (
            "int", "long", "string"
        ):
            raise ValueError(
                f"bucket transform on {col!r} needs int/long/string, "
                f"got {src_t}"
            )
        if transform.startswith("truncate[") and src_t not in (
            "int", "long", "string"
        ):
            raise ValueError(
                f"truncate transform on {col!r} needs int/long/string, "
                f"got {src_t}"
            )
        fields.append(
            {
                "name": field_name,
                "transform": transform,
                "source-id": by_name[col]["id"],
                "field-id": 1000 + i,
            }
        )
    return {"spec-id": spec_id, "fields": fields}


# ------------------------------------------------ column statistics
# Single-value binary serialization (spec "Appendix D") for the
# lower_bounds / upper_bounds maps of data_file manifest entries —
# little-endian fixed-width for numerics, UTF-8 for strings, micros
# since epoch for timestamps, days for dates.
_EPOCH_DATE = datetime.date(1970, 1, 1)


def _encode_bound(value, ice_type: str) -> bytes | None:
    if value is None:
        return None
    if ice_type == "boolean":
        return b"\x01" if value else b"\x00"
    if ice_type == "int":
        return struct.pack("<i", int(value))
    if ice_type == "long":
        return struct.pack("<q", int(value))
    if ice_type == "float":
        return struct.pack("<f", float(value))
    if ice_type == "double":
        return struct.pack("<d", float(value))
    if ice_type == "date":
        days = (value - _EPOCH_DATE).days if isinstance(value, datetime.date) else int(value)
        return struct.pack("<i", days)
    if ice_type in ("timestamp", "timestamptz"):
        if isinstance(value, datetime.datetime):
            if value.tzinfo is not None:
                value = value.astimezone(datetime.timezone.utc).replace(tzinfo=None)
            # EXACT integer micros: total_seconds() is a float and
            # truncates ~1% of values 1 microsecond LOW, which would
            # make an upper bound sit below the file's true max and
            # range_filter silently drop boundary rows
            micros = (value - datetime.datetime(1970, 1, 1)) // datetime.timedelta(
                microseconds=1
            )
        else:
            micros = int(value)
        return struct.pack("<q", micros)
    if ice_type == "string":
        return value.encode("utf-8") if isinstance(value, str) else bytes(value)
    if ice_type == "binary":
        return bytes(value)
    return None  # unsupported type: no bound recorded (legal per spec)


def _decode_bound(b: bytes, ice_type: str):
    if b is None:
        return None
    if ice_type == "boolean":
        return b != b"\x00"
    if ice_type == "int":
        return struct.unpack("<i", b)[0]
    if ice_type == "long":
        return struct.unpack("<q", b)[0]
    if ice_type == "float":
        return struct.unpack("<f", b)[0]
    if ice_type == "double":
        return struct.unpack("<d", b)[0]
    if ice_type == "date":
        return _EPOCH_DATE + datetime.timedelta(days=struct.unpack("<i", b)[0])
    if ice_type in ("timestamp", "timestamptz"):
        micros = struct.unpack("<q", b)[0]
        return datetime.datetime(1970, 1, 1) + datetime.timedelta(microseconds=micros)
    if ice_type == "string":
        return b.decode("utf-8")
    if ice_type == "binary":
        return b
    return None


def _norm_bound(v):
    """User-supplied range endpoint → decoded-bound comparison domain
    (tz-aware datetimes become naive UTC, matching _decode_bound)."""
    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


# spec: string/binary bounds SHOULD be truncated (native Iceberg:
# write.metadata.metrics.* default truncate(16)) — a manifest must not
# carry megabyte text values per file
_BOUND_TRUNC = 16


def _truncate_lower(v: str) -> str:
    return v[:_BOUND_TRUNC]


def _truncate_upper(v: str) -> str | None:
    """Valid UPPER bound ≤ 16 chars: the prefix with its last codepoint
    incremented (spec "Truncate" for upper_bounds). Falls back to
    shorter prefixes when a codepoint is at the maximum; None when no
    valid truncation exists (bound omitted — prune simply skips)."""
    if len(v) <= _BOUND_TRUNC:
        return v
    prefix = v[:_BOUND_TRUNC]
    for i in range(len(prefix) - 1, -1, -1):
        cp = ord(prefix[i])
        if cp >= 0x10FFFF:
            continue
        nxt = cp + 1
        if 0xD800 <= nxt <= 0xDFFF:
            # never mint a lone surrogate (unencodable in UTF-8);
            # U+E000 is the next real codepoint and still an upper bound
            nxt = 0xE000
        return prefix[:i] + chr(nxt)
    return None


def _file_column_bounds(md, ice_schema: dict) -> tuple[list[dict], list[dict]]:
    """Per-column lower/upper bounds of one parquet file, from its footer
    ``md`` (row-group statistics; no data page is read). Returned in the spec's
    Avro map representation: k/v record arrays keyed by FIELD ID.
    Parquet writers may truncate binary stats (Spark: 64 bytes, with
    proper max-side increment), which still satisfies the bounds
    contract — lower_bounds ≤ data ≤ upper_bounds."""
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    mins: dict[int, object] = {}
    maxs: dict[int, object] = {}
    typ: dict[int, str] = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            name = col.path_in_schema
            f = by_name.get(name)
            if f is None or "." in name:
                continue  # nested or non-schema column: no bound
            if f["type"] == "binary":
                continue  # unbounded payloads (media bytes) — a bound
                # could be megabytes per file; no pruning value either
            st = col.statistics
            if st is None or not st.has_min_max:
                # one stats-less row group blinds the whole file for
                # this column (partial bounds would be WRONG bounds)
                mins.pop(f["id"], None)
                maxs.pop(f["id"], None)
                by_name.pop(name)
                continue
            fid = f["id"]
            typ[fid] = f["type"]
            mins[fid] = st.min if fid not in mins else min(mins[fid], st.min)
            maxs[fid] = st.max if fid not in maxs else max(maxs[fid], st.max)
    for fid in list(mins):
        if typ[fid] == "string" and isinstance(mins[fid], str):
            mins[fid] = _truncate_lower(mins[fid])
    for fid in list(maxs):
        if typ[fid] == "string" and isinstance(maxs[fid], str):
            t = _truncate_upper(maxs[fid])
            if t is None:
                maxs.pop(fid)
            else:
                maxs[fid] = t
    lower = [
        {"key": fid, "value": enc}
        for fid, v in sorted(mins.items())
        if (enc := _encode_bound(v, typ[fid])) is not None
    ]
    upper = [
        {"key": fid, "value": enc}
        for fid, v in sorted(maxs.items())
        if (enc := _encode_bound(v, typ[fid])) is not None
    ]
    return lower, upper


def _file_column_counts(md, ice_schema: dict) -> tuple[list[dict], list[dict]]:
    """Per-column value counts (incl. nulls — flat schema, so the row
    count) and null counts of one parquet file, from its footer ``md``
    (row-group statistics). A row group without a null_count blinds that column."""
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    nulls: dict[int, int] = {}
    for rg in range(md.num_row_groups):
        row_group = md.row_group(rg)
        for ci in range(row_group.num_columns):
            col = row_group.column(ci)
            f = by_name.get(col.path_in_schema)
            if f is None or "." in col.path_in_schema:
                continue
            st = col.statistics
            if st is None or st.null_count is None:
                nulls.pop(f["id"], None)
                by_name.pop(col.path_in_schema)
                continue
            nulls[f["id"]] = nulls.get(f["id"], 0) + int(st.null_count)
    values = [
        {"key": f["id"], "value": int(md.num_rows)}
        for f in ice_schema["fields"]
        if "." not in f["name"]
    ]
    null_counts = [
        {"key": fid, "value": n} for fid, n in sorted(nulls.items())
    ]
    return values, null_counts


def _write_data_files(
    df: DataFrame,
    location: str,
    seq: int,
    spec_fields: list[dict] | None = None,
    ice_schema: dict | None = None,
    kernel: tuple | None = None,
) -> list[dict]:
    """Write one commit's data files from the tasks that hold the rows
    and return their data_file records (``_write_files``): no Spark
    writer runs, and the driver reads no file. The file of a failed or
    speculative task attempt is in no returned record, so it is an
    unreferenced orphan (``remove_orphan_files``).

    ``kernel`` is a ``(batch function, DDL)`` pair in ``mapInArrow``
    form. The rows written are then what it yields for ``df``'s
    batches, and it runs inside the writing task: its rows never return
    to the JVM, and no second Python stage starts.

    Partitioned commits cluster rows by partition value
    (Iceberg's write.distribution-mode=hash; without it every task
    writes a file into every partition, the classic small-files
    pitfall) and sort each task's rows by it, so a task writes each of
    its partition values into one file. Transform partition values are
    derived as columns first. Identity partition columns and the
    derived columns are manifest metadata and are not stored in the
    files; a transform's SOURCE column stays, exactly the spec's
    layout. A partitioned commit runs ``kernel`` before the shuffle, as
    a stage of its own."""
    spec_fields = spec_fields or []
    part_cols = [pf["name"] for pf in spec_fields]
    if part_cols:
        if kernel is not None:
            df, kernel = df.mapInArrow(*kernel), None
        by_id = {f["id"]: f for f in ice_schema["fields"]}
        for pf in spec_fields:
            if pf["transform"] != "identity":
                s = by_id[pf["source-id"]]
                df = df.withColumn(
                    pf["name"],
                    _transform_column(pf["transform"], s["name"], s["type"]),
                )
        df = df.repartition(*part_cols).sortWithinPartitions(*part_cols)
    stored = [
        f for f in _rows_schema(df, kernel).fields if f.name not in part_cols
    ]
    commit_dir = os.path.join(
        location, "data", f"commit-{seq:05d}-{uuid.uuid4().hex[:8]}"
    )
    return _write_files(
        df, commit_dir, T.StructType(stored), part_cols, ice_schema,
        kernel=kernel,
    )


def _rows_schema(df: DataFrame, kernel: tuple | None) -> T.StructType:
    """Schema of the rows a write stores: ``df``'s, or its kernel's."""
    return T.DataType.fromDDL(kernel[1]) if kernel else df.schema


def _write_files(
    df: DataFrame,
    out_dir: str,
    stored: T.StructType,
    part_cols: list[str],
    ice_schema: dict | None,
    kernel: tuple | None = None,
    content: int = 0,
    equality_ids: list[int] | None = None,
) -> list[dict]:
    """Stream ``df``'s rows to parquet under ``out_dir`` with pyarrow,
    one ``mapInArrow`` task per input partition (``_write_task``), and
    collect the data_file records the tasks return, sorted by path.
    An empty input writes no file."""
    from pyspark.sql.pandas.types import to_arrow_schema

    task = functools.partial(
        _write_task,
        out_dir=os.path.abspath(out_dir),
        schema=to_arrow_schema(stored),
        part_cols=part_cols,
        ice_schema=ice_schema,
        fn=kernel[0] if kernel else None,
        content=content,
        equality_ids=equality_ids,
    )
    rows = df.mapInArrow(task, "data_file binary").collect()
    return sorted(
        (pickle.loads(r.data_file) for r in rows), key=lambda r: r["file_path"]
    )


def _write_task(batches, out_dir, schema, part_cols, ice_schema, fn, content,
                equality_ids):
    """One task of ``_write_files``: run ``fn`` (if any) over the
    task's batches and write them with ``write_task_files``. Yields one
    pickled data_file record per file, whose counts and bounds come
    from the footer the writer just wrote."""
    import pyarrow as pa

    files = write_task_files(fn(batches) if fn else batches, out_dir, schema, part_cols)
    for key, path, md, size in files:
        lower, upper = (
            _file_column_bounds(md, ice_schema) if ice_schema else ([], [])
        )
        values, nulls = (
            _file_column_counts(md, ice_schema) if ice_schema else ([], [])
        )
        record = {
            "content": content,
            "file_path": path,
            "file_format": "PARQUET",
            "partition": dict(zip(part_cols, key)),
            "record_count": md.num_rows,
            "file_size_in_bytes": size,
            "equality_ids": equality_ids,
            "lower_bounds": lower or None,
            "upper_bounds": upper or None,
            "value_counts": values or None,
            "null_value_counts": nulls or None,
        }
        yield pa.RecordBatch.from_pydict(
            {"data_file": [pickle.dumps(record)]},
            schema=pa.schema([("data_file", pa.binary())]),
        )


def write_task_files(batches, out_dir, schema, part_cols, filesystem=None):
    """The task-side parquet writer: stream a task's Arrow ``batches``
    to parquet files under ``out_dir``, one file per run of rows with
    equal ``part_cols`` values (one file in all when unpartitioned).
    Names carry the task attempt, so a retried or speculative attempt
    never overwrites another's file. ``filesystem`` is a
    ``pyarrow.fs`` filesystem (default local) that ``out_dir`` is a
    path of. Yields ``(partition tuple, path, footer metadata, size)``
    per file once it is closed."""
    import pyarrow.parquet as pq
    from pyarrow import fs as pafs
    from pyspark import TaskContext

    fs = filesystem or pafs.LocalFileSystem()
    ctx = TaskContext.get()
    stem = f"part-{ctx.partitionId():05d}-{ctx.taskAttemptId()}"
    runs = itertools.groupby(
        _partition_runs(batches, part_cols), key=lambda run: run[0]
    )
    for i, (key, pieces) in enumerate(runs):
        fs.create_dir(out_dir, recursive=True)
        path = f"{out_dir}/{stem}-{i:05d}.parquet"
        footer: list = []
        with fs.open_output_stream(path) as sink:
            with pq.ParquetWriter(sink, schema, metadata_collector=footer) as w:
                for _key, rows in pieces:
                    rows = rows.select(schema.names)
                    if rows.schema != schema:
                        rows = rows.cast(schema)
                    w.write_batch(rows)
            size = sink.tell()
        yield key, path, footer[0], size


def _partition_runs(batches, cols: list[str]):
    """(partition tuple, rows) for each run of consecutive rows that
    agree on ``cols``; unpartitioned, each non-empty batch is one run.
    Run boundaries come from an Arrow comparison of adjacent keys in
    which two NULLs are equal; only each run's first key becomes Python
    values."""
    import numpy as np
    import pyarrow.compute as pc

    for batch in batches:
        n = batch.num_rows
        if not n:
            continue
        if not cols:
            yield (), batch
            continue
        changed = np.zeros(n - 1, dtype=bool)
        for c in cols:
            prev, cur = batch.column(c).slice(0, n - 1), batch.column(c).slice(1)
            both_null = pc.and_(pc.is_null(prev), pc.is_null(cur))
            same = pc.or_(pc.fill_null(pc.equal(prev, cur), False), both_null)
            changed |= pc.invert(same).to_numpy(zero_copy_only=False)
        bounds = [0, *(np.flatnonzero(changed) + 1).tolist(), n]
        for start, end in zip(bounds, bounds[1:]):
            key = tuple(batch.column(c)[start].as_py() for c in cols)
            yield key, batch.slice(start, end - start)


def _commit(
    location: str,
    ice_schema: dict,
    data_files: list[dict],
    prev_meta: dict | None,
    spec: dict | None = None,
    manifest_content: int = 0,
    carry_prior_manifests: bool = True,
    properties: dict[str, str] | None = None,
    extra_manifests: list[tuple[list[dict], int, dict]] | None = None,
    operation: str | None = None,
    summary_extra: dict[str, str] | None = None,
    branch: str | None = None,
    set_default_spec: bool = True,
) -> int:
    """Write manifest + manifest list + next metadata version; returns the
    new snapshot id. Commit protocol mirrors HadoopCatalog: the metadata
    version file is the atomic fail-if-exists commit point (written
    last); a racing writer that built on the same ``prev_meta`` raises
    CommitConflict instead of clobbering. ``spec`` is this commit's
    partition spec (manifests keep their own spec forever — that is
    what makes evolution safe). ``properties`` are merged into the SAME
    metadata this commit publishes (on create, into the initial
    metadata) so a property like the streaming sink's batch-id is never
    a separate second commit — no crash window between data and
    property. ``extra_manifests`` adds further (files, content, spec)
    manifests to the SAME snapshot — e.g. an atomic MERGE-style upsert
    commits its DELETES manifest and its DATA manifest together, so
    readers can never observe the delete without the append.
    ``set_default_spec=False`` leaves the table's default spec where it
    is: an append that asked for no spec must not undo a racing
    writer's partition evolution."""
    meta_dir = _meta_dir(location)
    os.makedirs(meta_dir, exist_ok=True)
    os.makedirs(os.path.join(location, "data"), exist_ok=True)

    spec = spec or {"spec-id": 0, "fields": []}
    seq = (prev_meta["last-sequence-number"] + 1) if prev_meta else 1
    snapshot_id = seq  # deterministic, unique per table
    if branch is not None:
        # branch commit (the write-audit-publish shape): the new
        # snapshot's parent is the BRANCH head, and only the branch
        # ref advances — main (current-snapshot-id) is untouched, so
        # main readers cannot observe unaudited data
        if prev_meta is None:
            raise ValueError("branch commit requires an existing table")
        _branch_refs = prev_meta.get("refs", {})
        if (
            branch not in _branch_refs
            or _branch_refs[branch].get("type") != "branch"
        ):
            raise ValueError(f"unknown branch {branch!r}")
        parent_id = _branch_refs[branch]["snapshot-id"]
    else:
        parent_id = prev_meta["current-snapshot-id"] if prev_meta else None

    groups = [(data_files, manifest_content, spec)]
    groups += list(extra_manifests or [])
    new_manifests: list[dict] = []
    for g_files, g_content, g_spec in groups:
        manifest_path = os.path.join(
            meta_dir, f"manifest-{seq:05d}-{uuid.uuid4().hex[:8]}.avro"
        )
        entries = [
            {
                "status": _ADDED,
                "snapshot_id": snapshot_id,
                "sequence_number": seq,
                "file_sequence_number": seq,
                "data_file": f,
            }
            for f in g_files
        ]
        avro_write(
            manifest_path,
            _manifest_entry_schema(g_spec["fields"], ice_schema),
            entries,
            file_meta={
                "schema": json.dumps(ice_schema),
                "partition-spec": json.dumps(g_spec["fields"]),
                "partition-spec-id": str(g_spec["spec-id"]),
                "format-version": "2",
                "content": "data" if g_content == 0 else "deletes",
            },
        )
        new_manifests.append(
            {
                "manifest_path": os.path.abspath(manifest_path),
                "manifest_length": os.path.getsize(manifest_path),
                "partition_spec_id": g_spec["spec-id"],
                "content": g_content,
                "sequence_number": seq,
                "min_sequence_number": seq,
                "added_snapshot_id": snapshot_id,
                "added_files_count": len(g_files),
                "existing_files_count": 0,
                "deleted_files_count": 0,
                "added_rows_count": sum(f["record_count"] for f in g_files),
                "existing_rows_count": 0,
                "deleted_rows_count": 0,
                "partitions": _partition_summaries(
                    g_files, g_spec["fields"], ice_schema
                ),
            }
        )
    prior_manifests: list[dict] = []
    if (
        prev_meta is not None
        and carry_prior_manifests
        and parent_id is not None
    ):
        # a branch commit carries the BRANCH head's manifests — its
        # lineage, not main's
        prev_snap = _find_snapshot(prev_meta, parent_id)
        _, _, prior_manifests = avro_read(prev_snap["manifest-list"])
    manifest_list_path = os.path.join(
        meta_dir, f"snap-{snapshot_id}-{uuid.uuid4().hex[:8]}.avro"
    )
    avro_write(
        manifest_list_path,
        _MANIFEST_FILE_SCHEMA,
        prior_manifests + new_manifests,
        file_meta={
            "snapshot-id": str(snapshot_id),
            "format-version": "2",
        },
    )

    now_ms = int(time.time() * 1000)
    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": seq,
        "timestamp-ms": now_ms,
        "manifest-list": os.path.abspath(manifest_list_path),
        "schema-id": ice_schema.get("schema-id", 0),
        "summary": {
            "operation": operation
            or (
                "overwrite"
                if len({c for _f, c, _s in groups}) > 1
                else ("append" if manifest_content == 0 else "delete")
            ),
            "added-data-files": str(
                sum(m["added_files_count"] for m in new_manifests)
            ),
            "added-records": str(
                sum(m["added_rows_count"] for m in new_manifests)
            ),
            # spec summary field: lets the streaming source cap
            # micro-batches by BYTES without opening any manifest
            "added-files-size": str(
                sum(
                    int(f.get("file_size_in_bytes", 0))
                    for g_files, _c, _s in groups
                    for f in g_files
                )
            ),
            # e.g. replace-kind: compact|overwrite — lets a consumer
            # tell a no-op rewrite from a logical row replacement when
            # both carry operation=replace (streaming/rebaseline.py)
            **(summary_extra or {}),
        },
    }
    if parent_id is not None:
        snapshot["parent-snapshot-id"] = parent_id

    if prev_meta is None:
        meta = {
            "format-version": 2,
            "table-uuid": str(uuid.uuid4()),
            "location": os.path.abspath(location),
            "last-sequence-number": seq,
            "last-updated-ms": now_ms,
            "last-column-id": len(ice_schema["fields"]),
            "current-schema-id": 0,
            "schemas": [ice_schema],
            "default-spec-id": spec["spec-id"],
            "partition-specs": [spec],
            "last-partition-id": max(
                [999] + [f["field-id"] for f in spec["fields"]]
            ),
            "default-sort-order-id": 0,
            "sort-orders": [{"order-id": 0, "fields": []}],
            "properties": {
                "write.format.default": "parquet",
                **(properties or {}),
            },
            "current-snapshot-id": snapshot_id,
            "snapshots": [snapshot],
            "snapshot-log": [
                {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
            ],
            "metadata-log": [],
        }
        version = 1
    else:
        version = prev_meta["_version"] + 1
        meta = dict(prev_meta)
        if properties:
            meta["properties"] = {
                **prev_meta.get("properties", {}),
                **properties,
            }
        known_specs = {s["spec-id"]: s for s in prev_meta["partition-specs"]}
        for _f, _c, g_spec in groups:
            if g_spec["spec-id"] not in known_specs:
                # partition evolution: register the new spec; prior
                # manifests keep referencing theirs
                known_specs[g_spec["spec-id"]] = g_spec
                meta["partition-specs"] = list(
                    meta.get("partition-specs", prev_meta["partition-specs"])
                ) + [g_spec]
                meta["last-partition-id"] = max(
                    [prev_meta["last-partition-id"]]
                    + [f["field-id"] for f in g_spec["fields"]]
                )
        if manifest_content == 0 and branch is None and set_default_spec:
            # only MAIN data commits move the default write spec; a
            # delete commit's (possibly empty) spec must not change how
            # later appends are partitioned, and a BRANCH (audit)
            # append must leave main's write behavior untouched until
            # fast_forward (review r6)
            meta["default-spec-id"] = spec["spec-id"]
        meta["last-sequence-number"] = seq
        meta["last-updated-ms"] = now_ms
        meta["snapshots"] = prev_meta["snapshots"] + [snapshot]
        if branch is not None:
            # only the ref moves; main's pointer and snapshot-log (the
            # main-timeline history) stay untouched until fast_forward
            refs = dict(prev_meta.get("refs", {}))
            refs[branch] = {**refs[branch], "snapshot-id": snapshot_id}
            meta["refs"] = refs
        else:
            meta["current-snapshot-id"] = snapshot_id
            meta["snapshot-log"] = prev_meta["snapshot-log"] + [
                {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
            ]
        meta["metadata-log"] = prev_meta["metadata-log"] + [
            {
                "timestamp-ms": prev_meta["last-updated-ms"],
                "metadata-file": os.path.join(
                    _meta_dir(location), f"v{version - 1}.metadata.json"
                ),
            }
        ]

    _publish_metadata(location, meta, version)  # atomic commit point
    return snapshot_id


def _empty_spec(meta: dict) -> dict:
    """The unpartitioned spec for global delete commits: reuse an
    existing empty spec; synthesize one only the first time."""
    known = {s["spec-id"]: s for s in meta["partition-specs"]}
    empty = [s for s in known.values() if not s["fields"]]
    return empty[0] if empty else {"spec-id": max(known) + 1, "fields": []}


def _commit_retrying(location, ice_schema, entries, meta, spec_fn, **kw) -> int:
    """_commit with refresh-and-retry on a racing writer: the already
    written (distributed) data/delete files are reused; only the
    driver-side metadata build is redone against refreshed metadata."""
    while True:
        try:
            return _commit(
                location, ice_schema, entries, prev_meta=meta,
                spec=spec_fn(meta), **kw,
            )
        except CommitConflict:
            meta = current_metadata(location)


def _replace_retrying(
    location: str,
    rows,
    partition_by: list[str] | None,
    kind: str,
    properties=None,
    kernel: tuple | None = None,
) -> int:
    """Commit a replace snapshot (its manifest list carries only the new
    files) of ``rows(meta, ice_schema)``, written under the current
    schema. A racing commit restarts the WHOLE read→write→commit cycle
    against refreshed metadata, never just the metadata: the rows were
    computed from the state being replaced, so a blind retry would erase
    the interleaved commit (the spec's replace-commit validation)."""
    while True:
        meta = current_metadata(location)
        ice_schema = _schema_by_id(meta, meta["current-schema-id"])
        df = rows(meta, ice_schema)
        spec = _resolve_commit_spec(meta, ice_schema, partition_by)
        files = _write_data_files(
            df, location, seq=meta["last-sequence-number"] + 1,
            spec_fields=spec["fields"], ice_schema=ice_schema, kernel=kernel,
        )
        try:
            return _commit(
                location, ice_schema, files, prev_meta=meta, spec=spec,
                carry_prior_manifests=False,
                properties=_resolve_properties(properties, files),
                operation="replace", summary_extra={"replace-kind": kind},
            )
        except CommitConflict:
            continue


def _resolve_properties(properties, files: list[dict]) -> dict | None:
    """A write's commit properties: ``properties`` itself, or, when it is
    callable, what it returns for the written files' data_file records.
    The callable form runs after the files are written and before the
    commit, so properties that describe the commit's own data (a tick's
    row count and wall time) ride the same atomic commit."""
    return properties(files) if callable(properties) else properties


def _check_schema(schema: T.StructType, ice_schema: dict, op: str) -> None:
    """The written rows' ``schema`` must carry the table schema's names
    and types (nullability aside) — the precondition of every write into
    an existing table."""

    def nullable(fields):
        return T.StructType(
            [T.StructField(f.name, f.dataType, True) for f in fields]
        )

    want = nullable(_spark_schema(ice_schema).fields)
    got = nullable(schema.fields)
    if got != want:
        raise ValueError(
            f"{op} schema mismatch: table={want.simpleString()} "
            f"df={got.simpleString()}"
        )


def _resolve_commit_spec(
    meta: dict, ice_schema: dict, partition_by: list[str] | None
) -> dict:
    """The spec a commit writes under: the table default when
    ``partition_by`` is None, else the existing spec with the same
    (name, transform) list, else a freshly registered spec (evolution)."""
    specs = {sp["spec-id"]: sp for sp in meta["partition-specs"]}
    if partition_by is None:
        return specs[meta["default-spec-id"]]
    match = [
        sp for sp in specs.values()
        if [(f["name"], f["transform"]) for f in sp["fields"]]
        == [
            (_parse_partition_term(c)[3], _parse_partition_term(c)[1])
            for c in partition_by
        ]
    ]
    return match[0] if match else _make_spec(
        ice_schema, list(partition_by), spec_id=max(specs) + 1
    )


def write_iceberg_table(
    df: DataFrame,
    location: str,
    partition_by: list[str] | None = None,
    properties=None,
    kernel: tuple | None = None,
) -> int:
    """Create an Iceberg v2 table at ``location`` from ``df`` (snapshot 1),
    optionally identity-partitioned. Fails if the table already exists.
    ``kernel`` — a ``(batch function, DDL)`` pair, as ``mapInArrow``
    takes — writes what it yields for ``df`` instead of ``df``, run in
    the writing tasks (``_write_data_files``). ``properties`` is a dict,
    or a function of the written data_file records
    (``_resolve_properties``)."""
    if table_exists(location):
        raise FileExistsError(f"Iceberg table already exists at {location}")
    ice_schema = _iceberg_schema(_rows_schema(df, kernel))
    spec = _make_spec(ice_schema, partition_by or [], spec_id=0)
    files = _write_data_files(
        df, location, seq=1, spec_fields=spec["fields"],
        ice_schema=ice_schema, kernel=kernel,
    )
    # properties ride the initial commit itself — a second metadata
    # commit here would open a crash window in which the data snapshot
    # is visible without the properties (e.g. the streaming sink's
    # batch-id marker → replayed batch appended twice)
    return _commit(
        location, ice_schema, files, prev_meta=None, spec=spec,
        properties=_resolve_properties(properties, files),
    )


def set_table_properties(location: str, properties: dict[str, str]) -> None:
    """Metadata-only property merge, committed as a new metadata version
    (fail-if-exists commit point; refresh-and-retry on a racing
    writer)."""

    def mutate(meta):
        new_meta = dict(meta)
        new_meta["properties"] = {**meta.get("properties", {}), **properties}
        return new_meta, None

    _retry_metadata_update(location, mutate)


def append_iceberg_table(
    df: DataFrame,
    location: str,
    partition_by: list[str] | None = None,
    properties=None,
    branch: str | None = None,
    kernel: tuple | None = None,
) -> int:
    """Append ``df`` as a new snapshot; schema must match the table's.
    ``partition_by=None`` keeps the table's current default spec; a
    DIFFERENT column list is partition evolution — a new spec-id is
    registered and becomes the default, while existing manifests keep
    their original spec (no data rewrite, the Iceberg model).

    ``branch=`` targets a named branch (``create_branch``) instead of
    main: the snapshot's parent is the branch head and only the branch
    ref advances — the write-audit-publish WRITE step; main readers
    observe nothing until ``fast_forward``. ``properties`` are
    table-wide (not branch-scoped) and therefore rejected on branch
    appends — they would be visible before publish. ``kernel`` and a
    callable ``properties`` work as in ``write_iceberg_table``."""
    meta = current_metadata(location)
    if branch is not None:
        # fail BEFORE the distributed data write: a typo'd or dropped
        # branch must not cost a full corpus write (review r6)
        _refs = meta.get("refs", {})
        if branch not in _refs or _refs[branch].get("type") != "branch":
            raise ValueError(f"unknown branch {branch!r}")
        if properties:
            raise ValueError(
                "properties are table-wide and would be visible before "
                "the branch is published; set them at fast_forward time"
            )
    ice_schema = _schema_by_id(meta, meta["current-schema-id"])
    _check_schema(_rows_schema(df, kernel), ice_schema, "append")

    spec = _resolve_commit_spec(meta, ice_schema, partition_by)

    def spec_fn(m: dict) -> dict:
        # the files are partitioned under ``spec`` whatever a racing
        # writer did since: the default spec stays that one, while a
        # requested spec is re-resolved (a racer may have taken its id)
        if partition_by is None:
            return spec
        return _resolve_commit_spec(m, ice_schema, partition_by)

    files = _write_data_files(
        df, location, seq=meta["last-sequence-number"] + 1,
        spec_fields=spec["fields"], ice_schema=ice_schema, kernel=kernel,
    )
    # the distributed data write happens ONCE; only the driver-side
    # metadata commit retries on a racing writer (refresh + rebuild —
    # properties still ride the same atomic commit as the data)
    return _commit_retrying(
        location, ice_schema, files, meta, spec_fn,
        properties=_resolve_properties(properties, files), branch=branch,
        set_default_spec=partition_by is not None,
    )


def evolve_iceberg_schema(location: str, new_schema: T.StructType) -> int:
    """ADD-COLUMN schema evolution (spec "Schema Evolution"): the new
    schema must contain every existing column with its name and type
    unchanged (field-ids are preserved — Iceberg's rename/drop rules
    need id-based column resolution, which the add-only subset doesn't);
    new columns get fresh field-ids and must be nullable (old data files
    have no values for them — reads surface NULL). Registers the schema
    under the next schema-id and makes it current; no data is touched.
    The checks run against the metadata the commit builds on, so a
    column a racing writer added first makes this call refuse rather
    than drop it. Returns the new schema-id."""

    def build(meta: dict, cur: dict) -> tuple[list[dict], int]:
        by_name = {f["name"]: f for f in cur["fields"]}
        new_names = [f.name for f in new_schema.fields]
        missing = [n for n in by_name if n not in new_names]
        if missing:
            raise ValueError(
                f"schema evolution is add-only: dropped columns {missing}"
            )
        next_id = meta["last-column-id"]
        fields = []
        for f in new_schema.fields:
            ice_t = _SPARK_TO_ICE.get(f.dataType)
            if ice_t is None:
                raise ValueError(f"unsupported Iceberg column type: {f.dataType}")
            if f.name in by_name:
                if by_name[f.name]["type"] != ice_t:
                    raise ValueError(
                        f"schema evolution is add-only: column {f.name!r} "
                        f"changed type {by_name[f.name]['type']} → {ice_t}"
                    )
                fields.append(dict(by_name[f.name]))
            else:
                if not f.nullable:
                    raise ValueError(
                        f"new column {f.name!r} must be nullable (old data "
                        "files have no values for it)"
                    )
                next_id += 1
                fields.append(
                    {"id": next_id, "name": f.name, "required": False, "type": ice_t}
                )
        return fields, next_id

    return _commit_schema(location, build)


def _commit_schema(location: str, build) -> int:
    """Register the fields ``build(meta, current_schema)`` returns as
    the next schema and make it current. ``build`` returns
    (fields, last_column_id) and raises to refuse; it runs inside the
    commit loop, so after a lost race the new fields and every guard are
    recomputed from the fresh metadata (a racing writer's columns and
    field ids are never overwritten)."""

    def mutate(meta):
        fields, last_column_id = build(
            meta, _schema_by_id(meta, meta["current-schema-id"])
        )
        schema_id = max(s["schema-id"] for s in meta["schemas"]) + 1
        new_ice = {"type": "struct", "schema-id": schema_id, "fields": fields}
        new_meta = dict(meta)
        new_meta["schemas"] = meta["schemas"] + [new_ice]
        new_meta["current-schema-id"] = schema_id
        new_meta["last-column-id"] = max(meta["last-column-id"], last_column_id)
        return new_meta, schema_id

    return _retry_metadata_update(location, mutate)


def rename_iceberg_column(location: str, old: str, new: str) -> int:
    """Rename a column (spec "Schema Evolution"): the field KEEPS its id,
    only the name changes in the new schema. Reads resolve parquet
    columns BY FIELD ID, so files written before the rename surface
    their data under the new name with no rewrite; time travel to an
    older snapshot surfaces the old name (snapshot schema-id). Returns
    the new schema-id."""

    def build(meta: dict, cur: dict) -> tuple[list[dict], int]:
        names = {f["name"] for f in cur["fields"]}
        if old not in names:
            raise ValueError(f"no such column: {old!r}")
        if new in names:
            raise ValueError(f"column {new!r} already exists")
        fields = [
            dict(f, name=new) if f["name"] == old else dict(f)
            for f in cur["fields"]
        ]
        return fields, meta["last-column-id"]

    return _commit_schema(location, build)


def drop_iceberg_column(location: str, name: str) -> int:
    """Drop a column (spec "Schema Evolution"): removed from the new
    schema only — no data file is rewritten; reads simply stop
    projecting it, and time travel to a pre-drop snapshot still sees
    it. A column that is the SOURCE of any partition spec field is
    refused (the spec forbids dropping partition sources). Re-adding
    the same name later creates a FRESH field id, so old values are
    not resurrected (id-based resolution). Returns the new schema-id."""

    def build(meta: dict, cur: dict) -> tuple[list[dict], int]:
        by_name = {f["name"]: f for f in cur["fields"]}
        if name not in by_name:
            raise ValueError(f"no such column: {name!r}")
        fid = by_name[name]["id"]
        for spec in meta["partition-specs"]:
            if any(pf["source-id"] == fid for pf in spec["fields"]):
                raise ValueError(
                    f"column {name!r} is a partition source (spec-id "
                    f"{spec['spec-id']}) and cannot be dropped"
                )
        # mirror the partition-source guard for equality deletes: a live
        # EQUALITY_DELETES file that keys on this field id must stay
        # resolvable (read_iceberg_table applies deletes by field id on
        # every read); dropping the column would make every read —
        # current, time-travel, files_df — fail, and re-adding the name
        # would mint a FRESH id, leaving the table unrecoverable. Refuse
        # instead; the caller can compact (rewrites data, drops applied
        # deletes) first.
        if meta.get("current-snapshot-id") is not None:
            for d in _manifest_files(_snapshot_or_current(meta), 1):
                if d["content"] == 2 and fid in (d.get("equality_ids") or []):
                    raise ValueError(
                        f"column {name!r} (field id {fid}) is referenced by "
                        f"a live equality-delete file ({d['file_path']}) "
                        "and cannot be dropped; compact the table first to "
                        "apply and retire the deletes"
                    )
        fields = [dict(f) for f in cur["fields"] if f["name"] != name]
        if not fields:
            raise ValueError("cannot drop the last column")
        return fields, meta["last-column-id"]

    return _commit_schema(location, build)


def delete_iceberg_rows(
    keys_df: DataFrame, location: str, equality_cols: list[str]
) -> int:
    """Row-level delete via an Iceberg v2 EQUALITY_DELETES file
    (spec "Delete Formats"): rows of ``keys_df``'s distinct
    ``equality_cols`` values are written as a parquet delete file
    (distributed write), committed under a DELETES manifest
    (content=1, data_file.content=2, equality_ids=field-ids). It
    applies to every data file with a STRICTLY SMALLER sequence
    number — rows appended after the delete are untouched, exactly
    the spec's applicability rule. No data file is rewritten."""
    meta = current_metadata(location)
    ice_schema = _schema_by_id(meta, meta["current-schema-id"])
    entries = _write_equality_delete_files(
        keys_df, location, meta, ice_schema, equality_cols
    )
    return _commit_retrying(
        location, ice_schema, entries, meta, _empty_spec, manifest_content=1
    )


def _write_equality_delete_files(
    keys_df: DataFrame,
    location: str,
    meta: dict,
    ice_schema: dict,
    equality_cols: list[str],
) -> list[dict]:
    """Distributed write of an EQUALITY_DELETES parquet set; returns the
    data_file records (content=2, equality_ids=field-ids)."""
    by_name = {f["name"]: f for f in ice_schema["fields"]}
    missing = [c for c in equality_cols if c not in by_name]
    if missing:
        raise ValueError(f"equality columns not in table schema: {missing}")
    eq_ids = [by_name[c]["id"] for c in equality_cols]
    return _write_delete_files(
        keys_df.select(*equality_cols), location, meta, eq_ids
    )


def _write_delete_files(
    rows: DataFrame, location: str, meta: dict, equality_ids: list[int] | None
) -> list[dict]:
    """Task-side write of the distinct ``rows`` as one commit's delete
    files; returns their data_file records: EQUALITY_DELETES (content=2)
    keyed on ``equality_ids``, or POSITION_DELETES (content=1) when
    ``equality_ids`` is None."""
    prefix = "posdelete" if equality_ids is None else "delete"
    seq = meta["last-sequence-number"] + 1
    del_dir = os.path.join(
        location, "data", f"{prefix}-{seq:05d}-{uuid.uuid4().hex[:8]}"
    )
    return _write_files(
        rows.distinct(), del_dir, rows.schema, [], None,
        content=1 if equality_ids is None else 2, equality_ids=equality_ids,
    )


def delete_iceberg_positions(pos_df: DataFrame, location: str) -> int:
    """Row-level delete via a v2 POSITION_DELETES file (spec "Position
    Delete Files"): ``pos_df`` carries (file_path, pos) — the data file
    path exactly as recorded in the manifests and the 0-based row index
    within it. Applies to data files with sequence number ≤ the
    delete's (position deletes may target rows added in the same
    commit). Use ``find_positions`` to build ``pos_df`` from a
    predicate."""
    meta = current_metadata(location)
    ice_schema = _schema_by_id(meta, meta["current-schema-id"])
    entries = _write_delete_files(
        pos_df.selectExpr(
            "CAST(file_path AS STRING) AS file_path", "CAST(pos AS LONG) AS pos"
        ),
        location, meta, None,
    )
    return _commit_retrying(
        location, ice_schema, entries, meta, _empty_spec, manifest_content=1
    )


_STRIP_SCHEME = r"^file:(//)?"


def find_positions(
    spark: SparkSession, location: str, predicate: str
) -> DataFrame:
    """(file_path, pos) of every live-data-file row matching a SQL
    predicate — the scan attaches Spark's ``_metadata`` file path and
    row index, normalized to the manifest path form, and identity
    partition columns are materialized from manifest metadata per file
    group (Hive-layout files don't store them), so predicates may
    reference partition columns. Feed the result to
    ``delete_iceberg_positions``."""
    return (
        _scan(spark, current_metadata(location), positions=True)
        .filter(predicate)
        .select("file_path", "pos")
    )


def upsert_iceberg_table(
    df: DataFrame, location: str, key_cols: list[str]
) -> int:
    """MERGE-style upsert in ONE ATOMIC SNAPSHOT, like native MERGE:
    the commit carries BOTH a DELETES manifest (equality-delete the
    incoming keys — applies to data files with strictly smaller
    sequence numbers only, so the appended rows themselves are
    untouched) and a DATA manifest with the new rows. Readers see
    either the old table or the fully-merged one — never the
    in-between (keys deleted, rows not yet appended) the previous
    two-commit composition exposed. No data file is rewritten.
    Returns the snapshot id."""
    meta = current_metadata(location)
    ice_schema = _schema_by_id(meta, meta["current-schema-id"])
    _check_schema(df.schema, ice_schema, "upsert")
    del_entries = _write_equality_delete_files(
        df.select(*key_cols), location, meta, ice_schema, key_cols
    )
    data_spec = _resolve_commit_spec(meta, ice_schema, None)
    files = _write_data_files(
        df, location, seq=meta["last-sequence-number"] + 1,
        spec_fields=data_spec["fields"], ice_schema=ice_schema,
    )
    # the DELETES manifest leads: its (empty) spec is re-resolved from
    # the refreshed metadata on every retry, while the data files keep
    # the spec they were written under
    return _commit_retrying(
        location, ice_schema, del_entries, meta, _empty_spec,
        manifest_content=1, extra_manifests=[(files, 0, data_spec)],
    )


# ----------------------------------------------------------- maintenance
def overwrite_iceberg_table(
    df: DataFrame,
    location: str,
    partition_by: list[str] | None = None,
    properties=None,
    kernel: tuple | None = None,
) -> int:
    """INSERT OVERWRITE: replace the table's visible rows with ``df``
    in ONE snapshot (operation replace — the manifest list carries only
    the new manifest; prior snapshots stay time-travelable until
    expire). Schema must match. Same conflict rule as compaction: a
    racing commit forces a redo of the data write against refreshed
    metadata, so nothing committed in between is silently erased —
    though its EFFECT is then overwritten, which is what OVERWRITE
    means. The schema is validated on every attempt, against the
    schema the attempt writes under. ``kernel`` and a callable
    ``properties`` work as in ``write_iceberg_table``."""

    def rows(_meta: dict, ice_schema: dict) -> DataFrame:
        _check_schema(_rows_schema(df, kernel), ice_schema, "overwrite")
        return df

    return _replace_retrying(
        location, rows, partition_by, "overwrite", properties=properties,
        kernel=kernel,
    )


def compact_iceberg_table(
    spark: SparkSession, location: str, partition_by: list[str] | None = None
) -> int:
    """Maintenance REWRITE (the spec's replace operation): materialize
    the CURRENT visible rows (all deletes applied), write them as fresh
    data files under the default (or given) partition spec, and commit a
    snapshot whose manifest list contains ONLY the new manifest — prior
    data and delete files stop being referenced (still present on disk
    for older snapshots' time travel until expire_snapshots). This is
    how accumulated delete files get merged away without breaking
    snapshot isolation.

    Conflict validation (the spec's replace-commit rule): a REWRITE
    commit drops every prior manifest, so a commit that lands between
    compaction's read and its commit (append, delete, upsert) would be
    silently erased by a blind metadata-only retry — the rewritten
    copies were materialized WITHOUT the new delete, and the new data
    files aren't in the rewrite's manifest list at all. On
    CommitConflict the ENTIRE read→rewrite→commit cycle therefore
    restarts against refreshed metadata (equivalent to native Iceberg's
    RewriteDataFiles validate-or-abort plus the caller's retry); the
    interleaved commit's effect survives."""
    return _replace_retrying(
        location, lambda meta, _ice: _scan(spark, meta), partition_by,
        "compact",
    )


def _merge_manifest_summaries(
    rows: list[dict], spec_fields: list[dict], write_schema: dict
) -> list[dict] | None:
    """Merge the field-507 partition summaries of several manifest-list
    rows (all under the SAME spec) into one conservative summary:
    contains_null ORs, bounds widen to the union. Bounds are compared in
    DECODED form but the winning original encoded bytes are kept, so no
    value ever round-trips through a re-encode. Any row without
    summaries poisons the merge to None — a reader must then open the
    manifest rather than risk a false prune."""
    if not spec_fields:
        return None
    if any(not r.get("partitions") for r in rows):
        return None
    merged: list[dict] = []
    for i, pf in enumerate(spec_fields):
        ptype = _partition_value_type(pf, write_schema)
        lo_b = hi_b = None
        lo_v = hi_v = None
        contains_null = False
        # three-valued OR (ADVICE r5): any True wins (conservatively
        # "may contain NaN" regardless of unknowns); otherwise ANY
        # None row poisons the merge to None (unknown) — False is only
        # claimable when EVERY source row affirmatively recorded False,
        # mirroring the bounds/partitions poisoning rule above.
        contains_nan: bool | None = False
        for r in rows:
            s = r["partitions"][i]
            contains_null = contains_null or s["contains_null"]
            v = s.get("contains_nan")
            if v:
                contains_nan = True
            elif v is None and contains_nan is False:
                contains_nan = None
            for key, better in (("lower_bound", "lo"), ("upper_bound", "hi")):
                b = s.get(key)
                if b is None:
                    continue
                v = _decode_bound(b, ptype)
                if better == "lo" and (lo_v is None or v < lo_v):
                    lo_v, lo_b = v, b
                elif better == "hi" and (hi_v is None or v > hi_v):
                    hi_v, hi_b = v, b
        merged.append(
            {
                "contains_null": contains_null,
                "contains_nan": contains_nan,
                "lower_bound": lo_b,
                "upper_bound": hi_b,
            }
        )
    return merged


def rewrite_manifests(
    location: str, target_entries_per_manifest: int = 100_000
) -> int | None:
    """Maintenance REWRITE MANIFESTS (the metadata analog of native
    Iceberg's ``rewriteManifests`` action): consolidate the CURRENT
    snapshot's accumulated small manifests into few large ones without
    touching a single data file. Every append adds one manifest to the
    list, so after thousands of commits scan PLANNING opens thousands
    of tiny Avro files even when field-507 summaries prune most of
    them; this keeps planning cost O(live files / target), not
    O(commits) — at 100 TB / ~400k files that is the difference between
    a sub-second plan and minutes of metadata I/O per query.

    Semantics preserved exactly:

    - Live entries (status != DELETED) are re-emitted with status
      EXISTING and their ORIGINAL snapshot-id / sequence numbers, so
      equality-delete applicability (strictly-smaller-sequence rule)
      and ``read_iceberg_table`` results are bit-identical.
    - Entries are grouped by (content, spec-id, write schema): each
      merged manifest keeps the same write-time schema + spec file_meta
      its sources had, so schema-pinned reads of pre-rename/pre-drop
      files still resolve by field-id, and delete manifests stay
      separate from data manifests.
    - The commit is a ``replace`` snapshot — incremental readers and
      the streaming source skip it (no rows are new), and older
      snapshots keep their own manifest lists for time travel until
      ``expire_snapshots``.
    - Manifest-list rows carry existing (not added) counts, the new
      snapshot's sequence number, ``min_sequence_number`` of their
      entries, and merged field-507 summaries (conservatively widened;
      bounds bytes are reused, never re-encoded).

    A racing commit restarts the whole read→merge→commit cycle against
    refreshed metadata (same rule as ``compact_iceberg_table`` — a
    blind metadata retry would erase the interleaved commit's
    manifest). Returns the new snapshot id, or None when the list is
    already consolidated (fewer-or-equal manifests than the merged
    layout would produce — rewriting would churn metadata for nothing).

    Reference analog: the reference consolidates its many per-batch
    checkpoint artifacts into one canonical set before long runs
    (Modules/utils.py:309-350 batch bookkeeping); this is the same
    dont-let-bookkeeping-grow-linearly rule applied to table metadata.
    """

    def mutate(meta):
        cur_id = meta.get("current-snapshot-id")
        if cur_id is None:
            return None, None
        snap = _find_snapshot(meta, cur_id)
        _, _, manifests = avro_read(snap["manifest-list"])

        groups: dict[tuple, dict] = {}
        for m in manifests:
            writer_schema, mmeta, entries = avro_read(m["manifest_path"])
            key = (
                int(m.get("content", 0)),
                int(m["partition_spec_id"]),
                mmeta.get("schema", ""),
                mmeta.get("partition-spec", "[]"),
            )
            g = groups.setdefault(
                key,
                {
                    "writer_schema": writer_schema,
                    "file_meta": dict(mmeta),
                    "rows": [],
                    "entries": [],
                },
            )
            g["rows"].append(m)
            g["entries"].extend(e for e in entries if e["status"] != _DELETED)

        n_merged = sum(
            max(1, -(-len(g["entries"]) // target_entries_per_manifest))
            for g in groups.values()
            if g["entries"]
        )
        if len(manifests) <= n_merged:
            return None, None  # already consolidated; a rewrite would only churn

        seq = meta["last-sequence-number"] + 1
        snapshot_id = seq
        meta_dir = _meta_dir(location)
        new_rows: list[dict] = []
        for (content, spec_id, schema_json, spec_json), g in groups.items():
            if not g["entries"]:
                continue
            spec_fields = json.loads(spec_json)
            write_schema = json.loads(schema_json) if schema_json else {"fields": []}
            summary = _merge_manifest_summaries(
                g["rows"], spec_fields, write_schema
            )
            ents = g["entries"]
            for lo in range(0, len(ents), target_entries_per_manifest):
                chunk = ents[lo : lo + target_entries_per_manifest]
                path = os.path.join(
                    meta_dir, f"manifest-{seq:05d}-{uuid.uuid4().hex[:8]}.avro"
                )
                avro_write(
                    path,
                    g["writer_schema"],
                    [{**e, "status": _EXISTING} for e in chunk],
                    file_meta=g["file_meta"],
                )
                new_rows.append(
                    {
                        "manifest_path": os.path.abspath(path),
                        "manifest_length": os.path.getsize(path),
                        "partition_spec_id": spec_id,
                        "content": content,
                        "sequence_number": seq,
                        "min_sequence_number": min(
                            int(e["sequence_number"]) for e in chunk
                        ),
                        "added_snapshot_id": snapshot_id,
                        "added_files_count": 0,
                        "existing_files_count": len(chunk),
                        "deleted_files_count": 0,
                        "added_rows_count": 0,
                        "existing_rows_count": sum(
                            int(e["data_file"]["record_count"]) for e in chunk
                        ),
                        "deleted_rows_count": 0,
                        # group-level merged summaries: conservative
                        # (wider than a per-chunk recompute) but never
                        # wrong — with the default target one chunk per
                        # group is the common case anyway
                        "partitions": summary,
                    }
                )

        manifest_list_path = os.path.join(
            meta_dir, f"snap-{snapshot_id}-{uuid.uuid4().hex[:8]}.avro"
        )
        avro_write(
            manifest_list_path,
            _MANIFEST_FILE_SCHEMA,
            new_rows,
            file_meta={
                "snapshot-id": str(snapshot_id),
                "format-version": "2",
            },
        )
        now_ms = int(time.time() * 1000)
        snapshot = {
            "snapshot-id": snapshot_id,
            "sequence-number": seq,
            "timestamp-ms": now_ms,
            "manifest-list": os.path.abspath(manifest_list_path),
            "schema-id": meta["current-schema-id"],
            "parent-snapshot-id": cur_id,
            "summary": {
                "operation": "replace",
                "replace-kind": "rewrite-manifests",
                "added-data-files": "0",
                "added-records": "0",
                "added-files-size": "0",
                "rewritten-manifests": str(len(manifests)),
                "merged-manifests": str(len(new_rows)),
            },
        }
        new_meta = dict(meta)
        new_meta["last-sequence-number"] = seq
        new_meta["current-snapshot-id"] = snapshot_id
        new_meta["snapshots"] = meta["snapshots"] + [snapshot]
        new_meta["snapshot-log"] = meta["snapshot-log"] + [
            {"snapshot-id": snapshot_id, "timestamp-ms": now_ms}
        ]
        new_meta["metadata-log"] = meta["metadata-log"] + [
            {
                "timestamp-ms": meta["last-updated-ms"],
                "metadata-file": os.path.join(
                    meta_dir, f"v{meta['_version']}.metadata.json"
                ),
            }
        ]
        return new_meta, snapshot_id

    # a racing commit re-runs mutate: its manifest must be in the merge too
    return _retry_metadata_update(location, mutate)


def maintain_iceberg_table(
    spark: SparkSession,
    location: str,
    compact_min_delete_files: int | None = 1,
    compact_max_avg_file_bytes: int | None = None,
    rewrite_min_manifests: int = 8,
    expire_keep_last: int | None = None,
    orphan_grace_seconds: float | None = None,
) -> dict:
    """One maintenance pass — the cron-cadence production entry that
    keeps a continuously-ingested table healthy (the OPTIMIZE+VACUUM
    combo of native lakehouses), composing the four existing ops under
    explicit thresholds. Returns a report of what ran.

    Order matters and is fixed:

    1. **compact** (``compact_iceberg_table``) when the live snapshot
       carries ≥ ``compact_min_delete_files`` delete files (merge the
       deletes away), or when the mean live data-file size has fallen
       under ``compact_max_avg_file_bytes`` (small-file compaction).
       Pass None to disable a trigger.
    2. **rewrite manifests** (``rewrite_manifests``) when the current
       manifest list holds > ``rewrite_min_manifests`` manifests —
       skipped when compaction just ran (its replace snapshot already
       carries one fresh manifest per spec).
    3. **expire** (``expire_snapshots``) to ``expire_keep_last``
       ancestors, when set. Leave None on tables with incremental or
       streaming consumers whose lag can exceed the retention — an
       expired marker forces those consumers through the re-baseline
       escape hatch (streaming/rebaseline.py).
    4. **orphan reap** (``remove_orphan_files``) with
       ``orphan_grace_seconds``, when set.

    Metadata decisions are driver-side and cheap (one metadata read +
    one manifest-list read); only compaction touches data files."""
    report: dict = {
        "compacted": False,
        "rewrote_manifests": None,
        "expired": [],
        "orphans_removed": 0,
    }
    meta = current_metadata(location)
    if meta.get("current-snapshot-id") is None:
        return report

    snap = _snapshot_or_current(meta)
    n_deletes = len(_manifest_files(snap, 1))
    compact = bool(
        compact_min_delete_files is not None
        and n_deletes >= compact_min_delete_files
        and n_deletes > 0
    )
    if not compact and compact_max_avg_file_bytes is not None:
        data = _manifest_files(snap, 0)
        # >1 files: compaction can only help by REDUCING file count; a
        # single small file would trigger a full-table rewrite on every
        # pass forever (the trigger could never self-clear)
        if len(data) > 1:
            avg = sum(
                int(f.get("file_size_in_bytes", 0)) for f in data
            ) / len(data)
            compact = avg < compact_max_avg_file_bytes
    if compact:
        compact_iceberg_table(spark, location)
        report["compacted"] = True
    else:
        _, _, manifests = avro_read(snap["manifest-list"])
        if len(manifests) > rewrite_min_manifests:
            report["rewrote_manifests"] = rewrite_manifests(location)
    if expire_keep_last is not None:
        report["expired"] = expire_snapshots(
            location, keep_last=expire_keep_last
        )
    if orphan_grace_seconds is not None:
        report["orphans_removed"] = len(
            remove_orphan_files(location, grace_seconds=orphan_grace_seconds)
        )
    return report


def _referenced(snapshots: list[dict]) -> tuple[set[str], set[str]]:
    """(manifest paths, data and delete file paths) referenced by the
    snapshots' manifest lists. Manifests are immutable, so each is read
    once however many snapshots carry it forward."""
    manifests, files = set(), set()
    for s in snapshots:
        _, _, mans = avro_read(s["manifest-list"])
        for m in mans:
            if m["manifest_path"] in manifests:
                continue
            manifests.add(m["manifest_path"])
            _, _, entries = avro_read(m["manifest_path"])
            files.update(e["data_file"]["file_path"] for e in entries)
    return manifests, files


def expire_snapshots(location: str, keep_last: int = 1) -> list[int]:
    """Drop all but the newest ``keep_last`` ANCESTORS of the current
    snapshot from the table metadata and DELETE the data/delete/manifest
    files referenced ONLY by the expired snapshots (Iceberg's
    expire-snapshots contract: retain-last applies to the current
    branch's ancestor chain; snapshots NOT on the current branch —
    abandoned by ``rollback_to_snapshot`` — are expired regardless).
    Selecting keepers purely by sequence number would, after a
    rollback, keep the newer abandoned branch and drop the CURRENT
    snapshot itself, deleting the table's live data. Returns the
    expired snapshot ids."""
    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")

    # publish-FIRST protocol (review r6): keep/drop is recomputed from
    # fresh metadata on EVERY attempt — a tag/branch created between
    # attempts re-protects its snapshots — and no file is deleted until
    # the metadata commit has WON. A crash after the commit leaves
    # orphan files (remove_orphan_files territory), never a published
    # ref pointing at deleted data.
    def mutate(meta):
        chain = _ancestors(meta, meta.get("current-snapshot-id"))
        keep_ids = {s["snapshot-id"] for s in chain[:keep_last]} or {
            # no resolvable current snapshot: newest-by-sequence
            s["snapshot-id"]
            for s in sorted(
                meta["snapshots"], key=lambda x: x["sequence-number"]
            )[-keep_last:]
        }
        # snapshot references survive expiry: a TAG protects exactly
        # its snapshot (whose manifest list references all its live
        # files); a BRANCH protects its whole ancestor chain (its
        # history is the branch's main-equivalent timeline). drop_ref
        # first to release.
        for r in meta.get("refs", {}).values():
            if r.get("type") == "tag":
                keep_ids.add(r["snapshot-id"])
            else:
                keep_ids |= {
                    s["snapshot-id"]
                    for s in _ancestors(meta, r["snapshot-id"])
                }
        keep = [s for s in meta["snapshots"] if s["snapshot-id"] in keep_ids]
        drop = [
            s for s in meta["snapshots"] if s["snapshot-id"] not in keep_ids
        ]
        if not drop:
            return None, ([], [])
        dropped_ids = {s["snapshot-id"] for s in drop}
        new_meta = dict(meta)
        new_meta["snapshots"] = keep
        new_meta["snapshot-log"] = [
            e for e in meta["snapshot-log"]
            if e["snapshot-id"] not in dropped_ids
        ]
        return new_meta, (keep, drop)

    keep, drop = _retry_metadata_update(location, mutate)
    keep_man, keep_data = _referenced(keep)
    drop_man, drop_data = _referenced(drop)
    for path in sorted(drop_man - keep_man) + sorted(drop_data - keep_data):
        if os.path.exists(path):
            os.remove(path)
    for s in drop:
        if os.path.exists(s["manifest-list"]):
            os.remove(s["manifest-list"])
    return [s["snapshot-id"] for s in drop]


def remove_orphan_files(
    location: str, grace_seconds: float = 86400.0
) -> list[str]:
    """Delete files under the table location referenced by NO snapshot
    (Iceberg's remove-orphan-files maintenance). Data files are written
    in the tasks, before the driver commits their records, so a write
    that failed or crashed before its metadata commit leaves its files
    behind, and so does a failed or speculative task attempt of a write
    that succeeded: its file is in no record the driver committed.
    Without this they stay on disk forever. Only
    files older than ``grace_seconds`` are removed — a racing in-flight
    commit's files are younger than any sane grace period (the same
    default-3-day contract as the native procedure; tests pass 0).
    Metadata JSON/version files are never touched. Returns the removed
    paths."""
    snapshots = current_metadata(location)["snapshots"]
    manifests, files = _referenced(snapshots)
    referenced = {
        os.path.abspath(p)
        for p in manifests | files | {s["manifest-list"] for s in snapshots}
    }

    cutoff = time.time() - grace_seconds
    removed: list[str] = []
    roots = [os.path.join(location, "data")]
    for root in roots:
        for dirpath, _dirs, files in os.walk(root):
            for f in files:
                p = os.path.abspath(os.path.join(dirpath, f))
                if p in referenced or os.path.getmtime(p) > cutoff:
                    continue
                os.remove(p)
                removed.append(p)
    # unreferenced avro in metadata/ (crashed mid-commit manifests);
    # *.json and version-hint are the commit log itself — never touched
    meta_dir = _meta_dir(location)
    for f in os.listdir(meta_dir):
        if not f.endswith(".avro"):
            continue
        p = os.path.abspath(os.path.join(meta_dir, f))
        if p in referenced or os.path.getmtime(p) > cutoff:
            continue
        os.remove(p)
        removed.append(p)
    # prune now-empty orphan commit dirs
    for root in roots:
        for dirpath, dirs, files in os.walk(root, topdown=False):
            if dirpath != root and not dirs and not files:
                os.rmdir(dirpath)
    return sorted(removed)


def rollback_to_snapshot(location: str, snapshot_id: int) -> None:
    """Point the table back at an earlier EXISTING snapshot (Iceberg's
    rollback): metadata-only — current-snapshot-id moves, the snapshot
    log records the rollback, no file is touched, and later snapshots
    remain time-travelable until expire_snapshots. Appends after a
    rollback build on the rolled-back state (fresh, still-monotonic
    sequence numbers)."""

    def mutate(meta):
        _find_snapshot(meta, snapshot_id)  # must exist
        new_meta = dict(meta)
        new_meta["current-snapshot-id"] = snapshot_id
        new_meta["snapshot-log"] = list(meta.get("snapshot-log", [])) + [
            {"snapshot-id": snapshot_id, "timestamp-ms": int(time.time() * 1000)}
        ]
        return new_meta, None

    _retry_metadata_update(location, mutate)


# ------------------------------------------------------------------ read
def _schema_by_id(meta: dict, schema_id: int) -> dict:
    for s in meta["schemas"]:
        if s["schema-id"] == schema_id:
            return s
    raise KeyError(f"schema-id {schema_id} not in table metadata")


class ExpiredSnapshotError(KeyError):
    """An incremental read's ``from_snapshot_id`` was expired from table
    metadata. Subclasses KeyError so pre-existing ``except KeyError``
    handlers keep working; carries a re-baseline instruction."""


def _find_snapshot(meta: dict, snapshot_id: int) -> dict:
    for s in meta["snapshots"]:
        if s["snapshot-id"] == snapshot_id:
            return s
    raise KeyError(f"snapshot {snapshot_id} not found")


def _snapshot_or_current(meta: dict, snapshot_id: int | None = None) -> dict:
    """Snapshot ``snapshot_id``, or the current one when it is None."""
    if snapshot_id is None:
        snapshot_id = meta["current-snapshot-id"]
    return _find_snapshot(meta, snapshot_id)


def _ancestors(meta: dict, snapshot_id: int | None) -> list[dict]:
    """The snapshot and its ancestor chain (parent-snapshot-id walk),
    newest first. This is the table's LIVE BRANCH when started from
    current-snapshot-id: after ``rollback_to_snapshot``, snapshots on
    the abandoned branch still sit in metadata with in-range sequence
    numbers but are NOT ancestors — every reader that selects snapshots
    by sequence window must intersect with this chain (the native
    incremental-append-scan rule), and expiration must never drop a
    member of it while keeping non-members. The walk stops at a parent
    already expired from metadata."""
    by_id = {s["snapshot-id"]: s for s in meta["snapshots"]}
    out: list[dict] = []
    sid = snapshot_id
    seen: set = set()
    while sid in by_id and sid not in seen:
        seen.add(sid)
        s = by_id[sid]
        out.append(s)
        sid = s.get("parent-snapshot-id")
    return out


def _retracts(snapshot: dict) -> bool:
    """True for a snapshot that removes rows a consumer may already hold:
    a delete, an upsert (operation overwrite) or an INSERT OVERWRITE
    (replace-kind overwrite). Compaction and manifest rewrites replace
    files without changing rows."""
    summ = snapshot.get("summary", {})
    op = summ.get("operation")
    return op in ("delete", "overwrite") or (
        op == "replace" and summ.get("replace-kind") == "overwrite"
    )


def _window(meta: dict, from_seq: int, upper: dict) -> list[dict]:
    """The snapshots on ``upper``'s ANCESTOR chain with ``from_seq <
    sequence <= upper's``, oldest first: the one sequence-window walk
    behind incremental reads, stream offsets and the retraction checks
    of ticks and stream re-baseline. Selecting by sequence number alone
    would, after rollback_to_snapshot, include abandoned-branch
    snapshots that are not in the table's live state."""
    to_seq = int(upper["sequence-number"])
    return sorted(
        (
            sn
            for sn in _ancestors(meta, upper["snapshot-id"])
            if from_seq < int(sn["sequence-number"]) <= to_seq
        ),
        key=lambda sn: int(sn["sequence-number"]),
    )


def _appended_files(meta: dict, from_seq: int, upper: dict) -> list[dict]:
    """The incremental-append window: the data files each snapshot of
    ``_window(meta, from_seq, upper)`` itself added, oldest snapshot
    first, read from that snapshot's OWN manifest list. REPLACE
    snapshots (compaction, INSERT OVERWRITE, rewrite_manifests) are
    skipped: they rewrite rows already surfaced, and reading each append
    from its own list keeps the appends a later compaction rewrote
    away."""
    return [
        rec
        for sn in _window(meta, from_seq, upper)
        if sn.get("summary", {}).get("operation") != "replace"
        for rec in _manifest_files(sn, 0, added_only=True)
    ]


def read_iceberg_increment(
    spark: SparkSession,
    location: str,
    from_snapshot_id: int,
    to_snapshot_id: int | None = None,
    partition_filter: dict[str, object] | None = None,
    range_filter: dict[str, tuple] | None = None,
    null_filter: dict[str, str] | None = None,
) -> DataFrame:
    """Incremental append scan: the rows ADDED after ``from_snapshot_id``
    (exclusive) and visible at ``to_snapshot_id`` (inclusive; default
    current) — only data files with a sequence number inside the window
    are opened, so processing N new days of a 10^12-turn table costs N
    days of scan, not a full-table rescan. Delete files visible at the
    upper snapshot still apply to the windowed rows (the result is
    "appended AND still live"); rows deleted FROM OLDER snapshots are
    not surfaced (this is incremental append, not full CDC — no
    before/after images).

    REPLACE snapshots (compaction / INSERT OVERWRITE with
    operation=replace) inside the window are SKIPPED, and each append
    snapshot's files come from that snapshot's OWN manifest list - so
    a compaction between ticks neither re-surfaces the whole rewritten
    table NOR hides appends it rewrote away (the Iceberg
    incremental-append-scan rule). Retention must exceed consumer lag.
    The window, the schema and the deletes come from one metadata
    read."""
    meta = current_metadata(location)
    try:
        from_seq = _find_snapshot(meta, from_snapshot_id)["sequence-number"]
    except KeyError:
        # routine expire_snapshots on the source can drop the marker an
        # incremental consumer persisted; surface a descriptive,
        # catchable signal instead of crash-looping on a bare KeyError —
        # the caller should re-baseline (full reload) from current
        raise ExpiredSnapshotError(
            f"from_snapshot_id {from_snapshot_id} is no longer in "
            f"{location!r} metadata (expired by expire_snapshots?); "
            "the incremental window cannot be reconstructed — "
            "re-baseline with a full read of the current snapshot"
        ) from None
    to_snap = _snapshot_or_current(meta, to_snapshot_id)
    ancestry = _ancestors(meta, to_snap["snapshot-id"])
    if from_snapshot_id not in {s["snapshot-id"] for s in ancestry}:
        raise ExpiredSnapshotError(
            f"from_snapshot_id {from_snapshot_id} is not an ancestor of "
            f"the window's upper snapshot in {location!r} (table rolled "
            "back past the consumer's marker?) — rows emitted from the "
            "abandoned branch cannot be reconciled incrementally; "
            "re-baseline with a full read of the current snapshot"
        )
    return _scan(
        spark, meta, to_snapshot_id,
        partition_filter=partition_filter,
        range_filter=range_filter,
        null_filter=null_filter,
        records=_appended_files(meta, int(from_seq), to_snap),
    )


def snapshots_df(spark: SparkSession, location: str) -> DataFrame:
    """Metadata table: one row per snapshot (the native reader's
    ``table$snapshots``) — id, parent, sequence number, schema id,
    commit time, operation, record/file adds. Driver-side metadata
    only; no data file is touched."""
    meta = current_metadata(location)
    rows = [
        (
            int(s["snapshot-id"]),
            int(s["parent-snapshot-id"]) if "parent-snapshot-id" in s else None,
            int(s["sequence-number"]),
            int(s.get("schema-id", 0)),
            int(s["timestamp-ms"]),
            s.get("summary", {}).get("operation"),
            int(s.get("summary", {}).get("added-data-files", 0)),
            int(s.get("summary", {}).get("added-records", 0)),
        )
        for s in meta["snapshots"]
    ]
    return spark.createDataFrame(
        rows,
        "snapshot_id long, parent_id long, sequence_number long, "
        "schema_id int, committed_at_ms long, operation string, "
        "added_data_files int, added_records long",
    )


def files_df(
    spark: SparkSession, location: str, snapshot_id: int | None = None
) -> DataFrame:
    """Metadata table: one row per live data/delete file at a snapshot
    (the native ``table$files``) — content, path, format, sequence
    number, record count, size, partition tuple as a JSON string, plus
    the decoded column stats (lower/upper bounds and null counts by
    COLUMN NAME) as JSON strings. Reads manifests only."""
    meta = current_metadata(location)
    snap = _snapshot_or_current(meta, snapshot_id)
    ice_schema = _schema_by_id(
        meta, snap.get("schema-id", meta["current-schema-id"])
    )
    by_id = {f["id"]: f for f in ice_schema["fields"]}

    def _stats_json(rec: dict, key: str) -> str:
        out = {}
        for e in rec.get(key) or []:
            f = by_id.get(e["key"])
            if f is None:
                continue
            v = (
                e["value"]
                if key == "null_value_counts"
                else _decode_bound(e["value"], f["type"])
            )
            out[f["name"]] = v if not hasattr(v, "isoformat") else v.isoformat()
        return json.dumps(out, sort_keys=True)

    rows = []
    for rec in _manifest_files(snap, 0) + _manifest_files(snap, 1):
        rows.append(
            (
                int(rec["content"]),
                rec["file_path"],
                rec["file_format"],
                int(rec["_seq"]),
                int(rec["record_count"]),
                int(rec["file_size_in_bytes"]),
                json.dumps(rec["partition"], sort_keys=True),
                _stats_json(rec, "lower_bounds"),
                _stats_json(rec, "upper_bounds"),
                _stats_json(rec, "null_value_counts"),
            )
        )
    return spark.createDataFrame(
        rows,
        "content int, file_path string, file_format string, "
        "sequence_number long, record_count long, "
        "file_size_in_bytes long, partition_json string, "
        "lower_bounds_json string, upper_bounds_json string, "
        "null_counts_json string",
    )


def snapshot_ids(location: str) -> list[int]:
    return [s["snapshot-id"] for s in current_metadata(location)["snapshots"]]


def _manifest_files(
    snapshot: dict, content: int, skip_manifest=None, added_only: bool = False
) -> list[dict]:
    """File records of one manifest content kind (0 data, 1 deletes)
    that are live in a snapshot's manifest list, each annotated from its
    manifest: ``_spec_fields`` (its partition spec), ``_spec_cols`` (that
    spec's identity columns), ``_write_fields`` (its write-time schema)
    and ``_seq`` (the entry's sequence number). ``added_only`` keeps just
    the entries the snapshot itself added. ``skip_manifest(row)`` skips a
    manifest-list row before its manifest file is opened."""
    snap_seq = int(snapshot["sequence-number"])
    _, _, manifests = avro_read(snapshot["manifest-list"])
    files: list[dict] = []
    for m in manifests:
        if m.get("content", 0) != content:
            continue
        if added_only and int(m.get("sequence_number", snap_seq)) != snap_seq:
            continue  # carried-forward manifest from an older commit
        if skip_manifest is not None and skip_manifest(m):
            continue  # summary-proven: nothing in it can match
        _, mmeta, entries = avro_read(m["manifest_path"])
        spec_fields = json.loads(mmeta.get("partition-spec", "[]"))
        write_fields = json.loads(mmeta.get("schema", "{}")).get("fields", [])
        # identity partition columns are real table columns (dropped from
        # the Hive-layout files, re-materialized on read); transform
        # fields (day/bucket) are metadata-only — their SOURCE column
        # stays in the data files
        spec_cols = [
            f["name"] for f in spec_fields if f["transform"] == "identity"
        ]
        for e in entries:
            if e["status"] == _DELETED or (
                added_only
                and (e["status"] != _ADDED or e["sequence_number"] != snap_seq)
            ):
                continue
            rec = dict(e["data_file"])
            rec["_spec_cols"] = spec_cols
            rec["_spec_fields"] = spec_fields
            rec["_write_fields"] = write_fields
            rec["_seq"] = e["sequence_number"]
            files.append(rec)
    return files


def live_data_files(
    location: str,
    snapshot_id: int | None = None,
    skip_manifest=None,
) -> list[dict]:
    """Data-file records visible at a snapshot (default: current), each
    annotated with ``_spec_cols`` — the partition column names of the
    manifest's spec (evolution-aware: per manifest, not per table).

    ``skip_manifest(manifest_list_row) -> bool`` lets the caller skip a
    whole manifest from its partition summaries (spec field 507) before
    the manifest file is even opened — at 100 TB this is the difference
    between listing thousands of manifests and opening the 3 whose
    partition range can match."""
    meta = current_metadata(location)
    return _manifest_files(
        _snapshot_or_current(meta, snapshot_id), 0, skip_manifest
    )


def added_data_files(location: str, snapshot: dict) -> list[dict]:
    """The data files a snapshot itself ADDED (its manifest-list entries
    whose sequence number equals the snapshot's own) — the unit of an
    incremental APPEND scan. Unlike live_data_files(to_snapshot), this
    still sees files that a LATER replace (compaction) rewrote away,
    so an incremental window spanning a compaction surfaces every
    appended row exactly once."""
    return _manifest_files(snapshot, 0, added_only=True)


def live_delete_files(location: str, snapshot_id: int | None = None) -> list[dict]:
    """Delete-file records visible at a snapshot — EQUALITY_DELETES
    (content=2, with equality column NAMES resolved from the recorded
    field-ids) and POSITION_DELETES (content=1) — each with its
    sequence number."""
    meta = current_metadata(location)
    ice_schema = _schema_by_id(meta, meta["current-schema-id"])
    by_id = {f["id"]: f["name"] for f in ice_schema["fields"]}
    out = _manifest_files(_snapshot_or_current(meta, snapshot_id), 1)
    for rec in out:
        if rec["content"] == 2:
            # resolve names from the delete file's own WRITE-time
            # schema first (always has its key fields), current
            # schema second — never KeyError on a since-renamed or
            # (historically) dropped field
            wmap = {f["id"]: f["name"] for f in rec["_write_fields"]}
            rec["_eq_cols"] = [
                by_id.get(i, wmap.get(i, f"_fid_{i}"))
                for i in rec["equality_ids"] or []
            ]
    return out


class _ReadPlan(NamedTuple):
    """How one data file is read. Hashable: files with equal plans share
    one parquet relation. ``constants`` are the (column, value) pairs of
    its identity partition columns, from the manifest (Hive-layout files
    do not store them), under the read schema's name of each field's
    source (rename-proof; a dropped source is left out). ``columns`` maps
    every schema column, in schema order, to (target name, write-time
    name or None); None reads as typed nulls (the file predates the
    column). ``eq_deletes`` holds (path, ((delete-file column, target
    column), ...)) per equality-delete file that applies, and
    ``pos_deletes`` the paths of the position-delete files that apply."""

    constants: tuple
    columns: tuple
    eq_deletes: tuple
    pos_deletes: tuple


def _read_plans(
    records: list[dict], ice_schema: dict, deletes: list[dict]
) -> list[_ReadPlan]:
    """The read plan of each data-file record under ``ice_schema``,
    given the delete-file records visible to the read: the one place
    both Iceberg readers (``_scan`` and the stream source) decide how a
    file is read. Columns and equality keys resolve by FIELD ID (the
    Iceberg column-resolution rule): a file written before a rename
    stores the old name. Which deletes apply is the spec's rule: an
    equality delete hits data files with a STRICTLY smaller sequence
    number, a position delete those with a smaller or equal one (it may
    target rows of its own commit)."""
    ice_by_id = {f["id"]: f for f in ice_schema["fields"]}
    eq, pos = [], []
    for d in deletes:
        if d["content"] == 1:
            pos.append((d["_seq"], d["file_path"]))
            continue
        wmap = {f["id"]: f["name"] for f in d["_write_fields"]}
        keys = []
        for fid in d["equality_ids"] or []:
            tgt = ice_by_id.get(fid)
            if tgt is None:
                raise ValueError(
                    f"equality delete on field id {fid} which is not in "
                    "the read schema (column dropped?)"
                )
            keys.append((wmap.get(fid, tgt["name"]), tgt["name"]))
        eq.append((d["_seq"], (d["file_path"], tuple(keys))))
    plans = []
    for rec in records:
        wmap = {f["id"]: f["name"] for f in rec["_write_fields"]}
        seq = rec["_seq"]
        plans.append(
            _ReadPlan(
                tuple(
                    (
                        ice_by_id[pf["source-id"]]["name"],
                        rec["partition"].get(pf["name"]),
                    )
                    for pf in rec["_spec_fields"]
                    if pf["transform"] == "identity"
                    and pf["source-id"] in ice_by_id
                ),
                tuple(
                    (f["name"], wmap.get(f["id"])) for f in ice_schema["fields"]
                ),
                tuple(e for dseq, e in eq if dseq > seq),
                tuple(p for dseq, p in pos if dseq >= seq),
            )
        )
    return plans


def _wanted(flt: dict, pfield: dict, source: dict | None) -> set | None:
    """The values of partition field ``pfield`` that filter ``flt``
    admits, or None when the filter cannot prune on that field (another
    source column, a dropped source, or another transform granularity).
    A value filter is mapped through the field's transform."""
    if source is None or flt["source"] != source["name"]:
        return None
    if flt["kind"] == "value":
        return {
            _transform_py(pfield["transform"], x, source["type"])
            for x in flt["values"]
        }
    if flt["transform"] == pfield["transform"]:
        return flt["values"]
    return None


def read_iceberg_table(
    spark: SparkSession,
    location: str,
    snapshot_id: int | None = None,
    ref: str | None = None,
    partition_filter: dict[str, object] | None = None,
    range_filter: dict[str, tuple] | None = None,
    null_filter: dict[str, str] | None = None,
) -> DataFrame:
    """Snapshot-isolated read: exactly the manifest-listed live files, with
    the table schema pinned from metadata (no parquet inference drift).
    ``snapshot_id`` time-travels to any committed snapshot. The table
    metadata is read ONCE, and one snapshot is pinned from it (the
    current one by default): the schema, the data files and the delete
    files all come from that read, so a commit racing the scan cannot
    mix two snapshots.

    ``partition_filter`` keys are either a COLUMN NAME (value
    semantics: keep rows whose column equals one of the given values —
    files are pruned by applying the file spec's transform to the
    filter values, so a value filter prunes day- and bucket-partitioned
    files too) or a TRANSFORM TERM like ``"days(ts)"`` / ``"bucket(16,
    conv_id)"`` (partition-granularity semantics: values are partition
    values — day ints or dates, bucket ints — and rows are kept when
    the transform of the column matches). Data files are pruned FROM
    THE MANIFESTS (no parquet footer is even opened for a pruned file —
    the 400k-files-at-100TB path). Files written under a spec that does
    not partition by a filtered column are kept (cannot prune what was
    not partitioned) and the residual predicate is applied as a plain
    filter, so the result is exact across partition evolution. Identity
    partition columns are materialized from manifest metadata (one lit
    per file group), mirroring native Iceberg readers.

    ``range_filter`` is ``{column: (lo, hi)}`` (inclusive; None = open
    end): files are pruned by the manifests' per-column lower/upper
    bounds — column-stats pruning that works even when the column is
    NOT a partition source (a ``ts BETWEEN`` on an unpartitioned
    10^12-turn table skips whole files from the manifest alone, no
    parquet footer opened). Files with no recorded bound for the column
    are kept, and the residual row predicate keeps the result exact.

    ``null_filter`` is ``{column: "is_null" | "not_null"}``: files are
    pruned by the manifests' null_value_counts / value_counts (spec
    fields 110/109) — ``is_null`` skips files with zero nulls in the
    column, ``not_null`` skips files that are all-null. Same
    exactness-by-residual contract."""
    meta = current_metadata(location)
    if ref is not None:
        # named-ref read ("give me the tagged training corpus" / "read
        # the audit branch"): resolve to a snapshot and take the
        # time-travel path — including the snapshot's own schema
        if snapshot_id is not None:
            raise ValueError("pass snapshot_id or ref, not both")
        if ref != "main":
            refs = meta.get("refs", {})
            if ref not in refs:
                raise KeyError(f"no such ref {ref!r}")
            snapshot_id = refs[ref]["snapshot-id"]
    return _scan(
        spark, meta, snapshot_id,
        partition_filter=partition_filter,
        range_filter=range_filter,
        null_filter=null_filter,
    )


def _scan(
    spark: SparkSession,
    meta: dict,
    snapshot_id: int | None = None,
    partition_filter: dict[str, object] | None = None,
    range_filter: dict[str, tuple] | None = None,
    null_filter: dict[str, str] | None = None,
    records: list[dict] | None = None,
    positions: bool = False,
) -> DataFrame:
    """The one scan builder (``read_iceberg_table`` documents the
    filters). Everything comes from ``meta``: the snapshot
    (``snapshot_id``, default current), the schema (the snapshot's when
    time-travelling, else the current one), its live data files — or
    ``records``, an incremental window — and its delete files. Files
    are grouped by their ``_read_plans`` plan, not by snapshot: each
    group is one parquet relation, so a window of appends with no
    delete between them reads as one relation. ``positions=True`` adds
    each row's (file_path, pos) and applies no delete: the rows a
    position delete can address."""
    from pyspark.sql import functions as F

    snap = _snapshot_or_current(meta, snapshot_id)
    # time travel reads the SNAPSHOT's schema (spec: each snapshot
    # records its schema-id) — after add/rename/drop evolution, an old
    # snapshot surfaces exactly the columns it was written under, not
    # the current ones
    ice_schema = _schema_by_id(
        meta,
        snap.get("schema-id", meta["current-schema-id"])
        if snapshot_id is not None
        else meta["current-schema-id"],
    )
    schema = _spark_schema(ice_schema)
    ice_by_name = {f["name"]: f for f in ice_schema["fields"]}
    ice_by_id = {f["id"]: f for f in ice_schema["fields"]}
    filters = []
    for k, v in (partition_filter or {}).items():
        vals = set(v) if isinstance(v, (list, tuple, set, frozenset)) else {v}
        source, transform, _n, _fname = _parse_partition_term(k)
        if source not in ice_by_name:
            raise ValueError(f"partition_filter on unknown columns: [{k!r}]")
        if transform == "identity":
            filters.append({"kind": "value", "source": source, "values": vals})
        else:
            # transform-key values are PARTITION values; normalize
            # dates/datetimes for day
            if transform == "day":
                vals = {_day_value(x) for x in vals}
            filters.append(
                {
                    "kind": "transform",
                    "source": source,
                    "transform": transform,
                    "values": vals,
                }
            )

    ranges = []
    for col, (lo, hi) in (range_filter or {}).items():
        if col not in ice_by_name:
            raise ValueError(f"range_filter on unknown column: {col!r}")
        ranges.append((col, ice_by_name[col]["id"], lo, hi))
    nullchecks = []
    for col, kind in (null_filter or {}).items():
        if col not in ice_by_name:
            raise ValueError(f"null_filter on unknown column: {col!r}")
        if kind not in ("is_null", "not_null"):
            raise ValueError(
                f"null_filter value must be 'is_null' or 'not_null', got {kind!r}"
            )
        nullchecks.append((col, ice_by_name[col]["id"], kind))

    def _bounds_map(rec: dict, key: str) -> dict[int, bytes]:
        return {e["key"]: e["value"] for e in rec.get(key) or []}

    def _stats_pruned(rec: dict) -> bool:
        """True if the file's recorded column bounds prove it disjoint
        from every requested range. Files written before stats were
        recorded (or with a stats-less column) are never pruned."""
        if nullchecks:
            nulls = {e["key"]: e["value"] for e in rec.get("null_value_counts") or []}
            vals = {e["key"]: e["value"] for e in rec.get("value_counts") or []}
            for _col, fid, kind in nullchecks:
                if fid not in nulls:
                    continue  # no stats recorded: keep the file
                if kind == "is_null" and nulls[fid] == 0:
                    return True
                if (
                    kind == "not_null"
                    and fid in vals
                    and nulls[fid] == vals[fid]
                ):
                    return True  # every value in the column is null
        if not ranges:
            return False
        lower = _bounds_map(rec, "lower_bounds")
        upper = _bounds_map(rec, "upper_bounds")
        for col, fid, lo, hi in ranges:
            # resolve by FIELD ID (rename-proof); the bound was written
            # under the same id regardless of the column's name then
            ice_t = ice_by_id[fid]["type"]
            fmin = _decode_bound(lower.get(fid), ice_t)
            fmax = _decode_bound(upper.get(fid), ice_t)
            if fmax is not None and lo is not None and fmax < _norm_bound(lo):
                return True
            if fmin is not None and hi is not None and fmin > _norm_bound(hi):
                return True
        return False

    def _pruned(rec: dict) -> bool:
        """True if the manifests prove this file cannot match."""
        if _stats_pruned(rec):
            return True
        for pfield in rec["_spec_fields"]:
            s = ice_by_id.get(pfield["source-id"])
            pval = rec["partition"].get(pfield["name"])
            for flt in filters:
                want = _wanted(flt, pfield, s)
                if want is not None and pval not in want:
                    return True
        return False

    specs_by_id = {s["spec-id"]: s for s in meta["partition-specs"]}

    def _skip_manifest(m: dict) -> bool:
        """True if the manifest-list row's partition summaries (spec
        field 507) prove no file inside can match the partition
        filters — the manifest file is then never opened."""
        if not filters:
            return False
        summaries = m.get("partitions")
        spec = specs_by_id.get(m.get("partition_spec_id"))
        if not summaries or spec is None:
            return False  # pre-summary manifest (or unknown spec): open it
        for pfield, summ in zip(spec["fields"], summaries):
            s = ice_by_id.get(pfield["source-id"])
            if s is None:
                continue
            ptype = _partition_value_type(pfield, ice_schema)
            lo = _decode_bound(summ.get("lower_bound"), ptype)
            hi = _decode_bound(summ.get("upper_bound"), ptype)
            for flt in filters:
                want = _wanted(flt, pfield, s)
                if want is None:
                    continue
                possible = summ.get("contains_null", True) and None in want
                non_null = [w for w in want if w is not None]
                if non_null and lo is not None and hi is not None:
                    possible = possible or any(lo <= w <= hi for w in non_null)
                elif non_null and (lo is None or hi is None):
                    possible = True  # no bounds recorded: cannot prove
                if not possible:
                    return True
        return False

    if records is None:
        records = _manifest_files(snap, 0, _skip_manifest)
    records = [rec for rec in records if not _pruned(rec)]
    deletes = [] if positions else _manifest_files(snap, 1)
    # one relation per read plan: files that read alike, with the same
    # deletes applying, share a relation whatever their snapshot
    groups: dict[_ReadPlan, list[str]] = {}
    for rec, plan in zip(records, _read_plans(records, ice_schema, deletes)):
        groups.setdefault(plan, []).append(rec["file_path"])

    # positions mode: the columns of a position delete file
    address = (
        [T.StructField("file_path", T.StringType()), T.StructField("pos", T.LongType())]
        if positions
        else []
    )
    if not groups:
        return spark.createDataFrame([], T.StructType(schema.fields + address))

    def _row_address(path_col: str, pos_col: str) -> list:
        return [
            F.regexp_replace(
                F.col("_metadata.file_path"), _STRIP_SCHEME, ""
            ).alias(path_col),
            F.col("_metadata.row_index").alias(pos_col),
        ]

    by_name = {f.name: f for f in schema.fields}
    # one DataFrame per delete file, shared by every group it applies
    # to; equality keys are read under their delete-time names and
    # surfaced under the target names
    pos_dfs = {
        path: spark.read.schema("file_path string, pos long")
        .parquet(path)
        .select(F.col("file_path").alias("_fp"), F.col("pos").alias("_pos"))
        for path in {p for plan in groups for p in plan.pos_deletes}
    }
    eq_dfs = {
        path: spark.read.schema(
            T.StructType(
                [T.StructField(dc, by_name[tc].dataType, True) for dc, tc in keys]
            )
        )
        .parquet(path)
        .select(*[F.col(dc).alias(tc) for dc, tc in keys])
        for path, keys in {e for plan in groups for e in plan.eq_deletes}
    }

    # None (NULL) partition values sort first —
    # plain tuple sort would TypeError comparing None with str/int
    def _group_order(item):
        plan, _paths = item
        return (
            tuple(
                (c, v is not None, "" if v is None else str(v))
                for c, v in plan.constants
            ),
            tuple((t, w or "") for t, w in plan.columns),
            plan.eq_deletes,
            plan.pos_deletes,
        )

    parts = []
    for plan, paths in sorted(groups.items(), key=_group_order):
        consts = dict(plan.constants)
        # field-id column resolution: read each column under its
        # WRITE-time name, surface it under the target name; columns the
        # file predates (or whose id the file never had) become NULL
        read_fields, rename = [], []
        for (target, wname), sp_f in zip(plan.columns, schema.fields):
            if target in consts:
                continue  # materialized from manifest metadata below
            if wname is None:
                rename.append(F.lit(None).cast(sp_f.dataType).alias(target))
            else:
                read_fields.append(T.StructField(wname, sp_f.dataType, True))
                rename.append(F.col(wname).alias(target))
        df = spark.read.schema(T.StructType(read_fields)).parquet(*paths)
        if plan.pos_deletes:
            # attach the scan's (file path, row index) and anti-join
            # each applicable position-delete set
            df = df.select("*", *_row_address("_fp", "_pos"))
            for path in plan.pos_deletes:
                df = df.join(
                    F.broadcast(pos_dfs[path]), on=["_fp", "_pos"],
                    how="left_anti",
                )
            df = df.drop("_fp", "_pos")
        df = df.select(
            *rename, *(_row_address("file_path", "pos") if positions else [])
        )
        for c, v in plan.constants:
            df = df.withColumn(c, F.lit(v).cast(by_name[c].dataType))
        for path, keys in plan.eq_deletes:
            # NULL-SAFE equality per the spec: a null delete key deletes
            # rows where the column IS NULL (plain equi-join anti would
            # never match NULL = NULL)
            right = eq_dfs[path]
            cond = None
            for _dc, c in keys:
                right = right.withColumnRenamed(c, f"__d_{c}")
                term = F.col(c).eqNullSafe(F.col(f"__d_{c}"))
                cond = term if cond is None else cond & term
            df = df.join(F.broadcast(right), on=cond, how="left_anti")
        # select LAST: the anti joins move their key columns to the front
        parts.append(df.select(*[f.name for f in schema.fields + address]))
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    # residual predicate for files from non-partitioned (or differently
    # partitioned) specs that survived the manifest prune — this is what
    # keeps the result EXACT regardless of pruning. NULL needs an
    # explicit isNull branch — isin() never matches NULL under SQL
    # three-valued logic, which would silently drop the null-partition
    # rows the manifest prune correctly kept.
    for flt in filters:
        wanted = flt["values"]
        if flt["kind"] == "value":
            expr = F.col(flt["source"])
        else:
            src_t = ice_by_name[flt["source"]]["type"]
            expr = _transform_column(flt["transform"], flt["source"], src_t)
        non_null = [v for v in wanted if v is not None]
        cond = expr.isin(*non_null) if non_null else F.lit(False)
        if None in wanted:
            cond = cond | expr.isNull()
        out = out.filter(cond)
    # range residual: files kept for lack of bounds (or bounds that
    # merely overlap the range) still get exact row filtering
    for col, _fid, lo, hi in ranges:
        if lo is not None:
            out = out.filter(F.col(col) >= F.lit(lo))
        if hi is not None:
            out = out.filter(F.col(col) <= F.lit(hi))
    for col, _fid, kind in nullchecks:
        out = out.filter(
            F.col(col).isNull() if kind == "is_null" else F.col(col).isNotNull()
        )
    return out


# ------------------------------------------------------------------ refs
# Snapshot references (Iceberg v2 table-metadata ``refs`` map): named
# TAGS (immutable pointers — "the corpus we trained run 47 on") and
# BRANCHES (movable pointers appends can target). Together with
# ``fast_forward`` they give the WRITE-AUDIT-PUBLISH pattern every
# production training-data pipeline wants: append a candidate batch to
# an audit branch (main readers cannot see it), run the hygiene /
# quality gates against the branch, then fast-forward main — one
# metadata-pointer move, no data rewrite, atomic.
# ``main`` is not a stored ref: it IS current-snapshot-id.


def list_refs(location: str) -> dict:
    """{name: {"snapshot-id", "type"}} for every stored ref."""
    return dict(current_metadata(location).get("refs", {}))


def _set_ref(
    location: str,
    name: str,
    ref_type: str,
    snapshot_id: int | None,
    replace: bool,
) -> int:
    if name == "main":
        raise ValueError(
            "'main' is the table's current snapshot, not a stored ref"
        )

    def mutate(meta):
        sid = (
            int(snapshot_id)
            if snapshot_id is not None
            else meta.get("current-snapshot-id")
        )
        if sid is None:
            raise ValueError("table has no snapshot to reference")
        _find_snapshot(meta, sid)  # raises if the snapshot is unknown
        refs = dict(meta.get("refs", {}))
        if name in refs and refs[name].get("type") != ref_type:
            raise ValueError(
                f"ref {name!r} already exists as a "
                f"{refs[name].get('type')}; drop_ref it first"
            )
        if name in refs and not replace:
            # an innocent retry must never silently redefine what
            # corpus a released pointer means (review r6) — moving an
            # existing ref is an explicit decision
            raise ValueError(
                f"ref {name!r} already exists (-> "
                f"{refs[name]['snapshot-id']}); pass replace=True to "
                f"re-point it"
            )
        refs[name] = {"snapshot-id": sid, "type": ref_type}
        new_meta = dict(meta)
        new_meta["refs"] = refs
        return new_meta, sid

    return _retry_metadata_update(location, mutate)


def create_tag(
    location: str, name: str, snapshot_id: int | None = None,
    replace: bool = False,
) -> int:
    """Pin ``name`` to a snapshot (default: the current one) — the
    immutable "this exact corpus" pointer. Re-pointing an EXISTING tag
    requires ``replace=True`` (a retried create must never silently
    redefine a released pointer). Tagged snapshots survive
    ``expire_snapshots``. One metadata commit; returns the pinned
    snapshot id."""
    return _set_ref(location, name, "tag", snapshot_id, replace)


def create_branch(
    location: str, name: str, snapshot_id: int | None = None,
    replace: bool = False,
) -> int:
    """Create a branch at a snapshot (default current); re-pointing an
    existing branch requires ``replace=True`` (it discards the branch's
    unpublished head). ``append_iceberg_table(..., branch=name)`` then
    advances the branch without touching main; branch history survives
    ``expire_snapshots``. Returns the branch's starting snapshot id."""
    return _set_ref(location, name, "branch", snapshot_id, replace)


def drop_ref(location: str, name: str) -> None:
    """Remove a tag/branch. The snapshots it protected become ordinary
    expire candidates at the next ``expire_snapshots``."""

    def mutate(meta):
        refs = dict(meta.get("refs", {}))
        if name not in refs:
            raise KeyError(f"no such ref {name!r}")
        del refs[name]
        new_meta = dict(meta)
        new_meta["refs"] = refs
        return new_meta, None

    _retry_metadata_update(location, mutate)


def resolve_ref(location: str, name: str) -> int:
    """Snapshot id a ref points to ('main' = the current snapshot)."""
    meta = current_metadata(location)
    if name == "main":
        sid = meta.get("current-snapshot-id")
        if sid is None:
            raise KeyError("table has no current snapshot")
        return sid
    refs = meta.get("refs", {})
    if name not in refs:
        raise KeyError(f"no such ref {name!r}")
    return refs[name]["snapshot-id"]


def fast_forward(location: str, branch: str) -> int:
    """PUBLISH step of write-audit-publish: move main
    (current-snapshot-id) to the branch head — allowed only when the
    current snapshot is an ancestor of the branch head (a true
    fast-forward; anything else would silently drop main-side commits
    — the racing-append case surfaces here as an error instead).
    One metadata-pointer commit; no data moves. Returns the new
    current snapshot id."""

    def mutate(meta):
        refs = meta.get("refs", {})
        if branch not in refs or refs[branch].get("type") != "branch":
            raise KeyError(f"no such branch {branch!r}")
        head = refs[branch]["snapshot-id"]
        cur = meta.get("current-snapshot-id")
        if cur == head:
            return None, head  # already published - no-op, no commit
        chain = {s["snapshot-id"] for s in _ancestors(meta, head)}
        if cur is not None and cur not in chain:
            raise ValueError(
                f"not a fast-forward: current snapshot {cur} is not an "
                f"ancestor of branch {branch!r} head {head} (append "
                f"landed on main since the branch forked — rebase the "
                f"branch by re-appending onto a fresh one)"
            )
        new_meta = dict(meta)
        new_meta["current-snapshot-id"] = head
        new_meta["snapshot-log"] = meta["snapshot-log"] + [
            {"snapshot-id": head, "timestamp-ms": int(time.time() * 1000)}
        ]
        return new_meta, head

    return _retry_metadata_update(location, mutate)
