"""Multimodal column plumbing: image/audio/video as opaque ``binary``
columns with typed metadata, processed by ONE media stage (``map_media``:
a per-row function over Arrow batches under ``mapInArrow``; ``map_images``
adds the PNG decode).

The IMAGE path is REAL end to end: payloads are PNG bytes decoded by the
stdlib codec (htrtf_spark.operators.png_io), normalized with the
reference's ``(255-img)/255`` arithmetic
(/root/reference/Modules/utils.py:184-186), and featurized as grid block
means — no image library needed. Audio/video decode remains stubbed
(``fake=True`` gives a deterministic payload-seeded stand-in with the
same shape contract), since no audio codec is implementable in-scope.

Reference analog: per-record PIL image load + normalize/pad
(/root/reference/Modules/utils.py:154-186).
"""

from __future__ import annotations

import hashlib
import zlib
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType(), False),  # image | audio | video
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("width", T.IntegerType(), True),
        T.StructField("height", T.IntegerType(), True),
        T.StructField("duration_ms", T.IntegerType(), True),
    ]
)

FEATURES_DDL = (
    "media_id long, kind string, n_bytes int, feat array<float>, "
    "feat_norm_bp long, decode_ok boolean"
)

FEATURE_DIM = 16


def synth_image_array(media_id: int) -> np.ndarray:
    """Deterministic greyscale test image, closed-form per pixel so an
    external oracle can recompute every derived statistic:
    ``P(r,c) = (3*id + 7*r + 13*c) % 256`` with id-dependent dimensions."""
    h = 16 + (media_id * 7) % 17
    w = 16 + (media_id * 11) % 23
    r = np.arange(h, dtype=np.int64)[:, None]
    c = np.arange(w, dtype=np.int64)[None, :]
    return ((3 * media_id + 7 * r + 13 * c) % 256).astype(np.uint8)


def synth_media(spark, n: int = 200, seed: int = 42) -> DataFrame:
    """Deterministic media table for tests/benches: image payloads are
    REAL PNG bytes (closed-form pixels, encodable by any PNG writer);
    audio/video payloads are opaque seeded bytes."""
    from htrtf_spark.operators.png_io import encode_png

    rs = np.random.RandomState(seed)
    rows = []
    kinds = ["image", "audio", "video"]
    for i in range(n):
        kind = kinds[i % 3]
        if kind == "image":
            img = synth_image_array(i)
            payload = encode_png(img)
            h, w = img.shape
            rows.append((i, kind, bytearray(payload), int(w), int(h), None))
        else:
            payload = rs.bytes(64 + int(rs.randint(0, 192)))
            # duration is CLOSED-FORM (not an RNG draw) so frame/window
            # grids derived from it are externally recomputable
            rows.append(
                (i, kind, bytearray(payload), None, None,
                 100 + (i * 937) % 599900)
            )
    return spark.createDataFrame(rows, schema=MEDIA_SCHEMA)


def decode_image(payload: bytes, fake: bool = False) -> np.ndarray:
    """Decode + normalize an image payload.

    Real path (default): stdlib PNG decode → reference normalization
    ``(255-img)/255`` (utils.py:184-186) → float32 [H, W]. Raises
    ValueError on non-PNG/unsupported payloads (a data error the stage
    maps to ``decode_ok=False``).

    ``fake=True`` keeps the deterministic stand-in used for kinds with no
    codec (audio/video): a payload-digest-seeded FEATURE_DIM vector.
    """
    from htrtf_spark.operators.png_io import decode_png, normalize

    if fake:
        digest = hashlib.sha256(payload or b"").digest()
        seed = int.from_bytes(digest[:4], "big")
        rs = np.random.RandomState(seed)
        return rs.rand(FEATURE_DIM).astype(np.float32)
    return normalize(decode_png(payload))


def image_features(img: np.ndarray, grid: int = 4) -> np.ndarray:
    """grid×grid block means of a normalized [H, W] image → FEATURE_DIM
    vector (the resize/feature-extract step; blocks cover the image by
    index partition so any H, W ≥ grid works)."""
    h, w = img.shape
    rows = np.linspace(0, h, grid + 1, dtype=np.int64)
    cols = np.linspace(0, w, grid + 1, dtype=np.int64)
    out = np.empty(grid * grid, dtype=np.float32)
    for i in range(grid):
        for j in range(grid):
            out[i * grid + j] = img[
                rows[i] : rows[i + 1], cols[j] : cols[j + 1]
            ].mean()
    return out


def map_media(media: DataFrame, fn: Callable[[dict], Iterable[tuple]],
              ddl: str, kind: str | None = None) -> DataFrame:
    """The one media stage: ``fn(row) → output rows`` (tuples in
    ``ddl``'s column order) over the media rows of ``kind`` (all rows
    when None), under ``mapInArrow``. Each output batch is built from
    ``ddl``'s Arrow schema, so a batch whose rows yield nothing is still
    a well-typed empty batch."""
    from pyspark.sql.pandas.types import to_arrow_schema

    row_type = pa.struct(to_arrow_schema(T.DataType.fromDDL(ddl)))

    def stage(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            rows = [out for row in batch.to_pylist() for out in fn(row)]
            yield pa.RecordBatch.from_struct_array(pa.array(rows, row_type))

    if kind is not None:
        media = media.filter(F.col("kind") == kind)
    return media.mapInArrow(stage, ddl)


def map_images(
    media: DataFrame, fn: Callable[[dict, np.ndarray], tuple], ddl: str
) -> DataFrame:
    """``map_media`` over the image rows: each payload is PNG-decoded
    once and ``fn(row, decoded)`` gives its one output row. A payload
    that does not decode (bad or unsupported bytes, or NULL) yields no
    row."""
    from htrtf_spark.operators.png_io import decode_png

    def on_image(row: dict) -> Iterable[tuple]:
        try:
            decoded = decode_png(row["payload"] or b"")
        except (ValueError, OSError, zlib.error):
            return ()
        return (fn(row, decoded),)

    return map_media(media, on_image, ddl, kind="image")


def extract_features(media: DataFrame, fake: bool = True) -> DataFrame:
    """Payload → fixed-dim feature vector + lineage columns, over every
    media row; a payload that does not decode keeps its row with
    ``decode_ok=false``."""

    def featurize(row: dict) -> Iterable[tuple]:
        raw = row["payload"] or b""
        try:
            f = decode_image(raw, fake=fake)
            f = f if fake else image_features(f)
        except (ValueError, OSError, zlib.error):
            yield row["media_id"], row["kind"], len(raw), None, None, False
            return
        norm_bp = int(round(float(np.linalg.norm(f)) * 10000))
        yield row["media_id"], row["kind"], len(raw), f.tolist(), norm_bp, True

    return map_media(media, featurize, FEATURES_DDL)


IMAGE_STATS_DDL = (
    "media_id long, width int, height int, n_px long, sum_inv long, "
    "mean_inv_bp long"
)


def extract_image_stats(media: DataFrame) -> DataFrame:
    """(media_id, width, height, n_px, sum_inv, mean_inv_bp) for every
    decodable image payload — the oracle surface for the REAL decode —
    in EXACT INTEGER domain so an external engine can recompute them
    bit-for-bit: per image, ``sum_inv`` is the integer sum of
    (255 - pixel) — the unnormalized reference ink mass
    (utils.py:184-186 before the /255) — and ``mean_inv_bp`` is
    (10000 * sum_inv) // (255 * n_px): pure integer floor division, no
    float rounding-mode hazard between engines."""
    from htrtf_spark.operators.png_io import to_gray

    def stats(row: dict, decoded: np.ndarray) -> tuple:
        img = to_gray(decoded)
        h, w = img.shape
        s = int((255 - img).sum())
        return row["media_id"], w, h, h * w, s, (10000 * s) // (255 * h * w)

    return map_images(media, stats, IMAGE_STATS_DDL)


def media_size_stats(media: DataFrame) -> DataFrame:
    """Pure-JVM metadata rollup over the opaque columns (no decode)."""
    return (
        media.groupBy("kind")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.length("payload")).alias("total_bytes"),
            F.max("width").alias("max_w"),
            F.max("height").alias("max_h"),
            F.max("duration_ms").alias("max_duration_ms"),
        )
        .orderBy("kind")
    )


# ------------------------------------------------------- frame sampling

FRAMES_DDL = (
    "media_id long, frame_idx int, frame_ts_ms long, feat_digest long"
)

def sample_frames(media: DataFrame, stride_ms: int = 200,
                  max_frames: int = 64) -> DataFrame:
    """Video frame sampling over the video rows (the task's
    "frame-sample" op; narrow, no shuffle): one output row per sampled
    frame at timestamps 0, stride, 2·stride, … < duration (capped at
    ``max_frames`` — uniform head sampling; a real decoder would seek
    those timestamps). The decode itself is the documented stub (no
    video codec in this container): ``feat_digest`` is a deterministic
    48-bit digest of (payload bytes, frame ts) standing in for the
    decoded frame's feature hash, so downstream joins/dedup over frames
    are exercisable end to end. Exact integer arithmetic throughout —
    the frame grid is externally recomputable from duration_ms alone."""

    def frames(row: dict) -> Iterable[tuple]:
        dur = row["duration_ms"]
        if dur is None or dur <= 0:
            return
        base = hashlib.sha256(row["payload"] or b"").digest()
        for i in range(min(-(-dur // stride_ms), max_frames)):
            ts = i * stride_ms
            d = hashlib.sha256(base + ts.to_bytes(8, "big")).digest()
            yield row["media_id"], i, ts, int.from_bytes(d[:6], "big")

    return map_media(media, frames, FRAMES_DDL, kind="video")


# ------------------------------------------------------- audio framing

AUDIO_FRAMES_DDL = (
    "media_id long, n_frames int, first_center_ms long, last_center_ms long"
)


def audio_framing(media: DataFrame, win_ms: int = 25,
                  hop_ms: int = 10) -> DataFrame:
    """Audio analysis framing over the audio rows (the task's audio
    feature-extract plumbing): the standard win/hop grid — n_frames =
    1 + floor((duration − win) / hop) for duration ≥ win, else no row —
    with integer frame centers. The PCM decode is the documented stub;
    the grid arithmetic (what the Spark stage owns) is exact and
    externally recomputable from duration_ms."""

    def grid(row: dict) -> Iterable[tuple]:
        dur = row["duration_ms"]
        if dur is None or dur < win_ms:
            return
        n = 1 + (dur - win_ms) // hop_ms
        yield row["media_id"], n, win_ms // 2, (n - 1) * hop_ms + win_ms // 2

    return map_media(media, grid, AUDIO_FRAMES_DDL, kind="audio")
