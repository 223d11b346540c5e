"""Inference-side conv feature stack + external-params source.

Implements the batch analogs of SURVEY §2.9's T1 (3×3 same-padding conv,
leaky_relu — /root/reference/Modules/layers.py:215-248 and
Structure_006.py:53-80), T2 (2×2 SAME max-pool with ceil dim/seq_len
tracking — layers.py:282-289), T17 (layer norm — layers.py:298-313) and
T18 (valid-region mask — tasks.py:72-76), and completes S7: the
reference side-loads pretrained weights from an external H5 file
(load_AACHEN_PARAMS, utils.py:392-440, wired by get_weights_dict
:718-740); here the params live in a parquet table of named tensors,
loaded once on the driver (a few MB), validated against the declared
shapes, and SHIPPED BY BROADCAST into the Arrow stage — the correct
scale shape: weights move once per executor, not per task or per row.

All math is vectorized numpy (the conv is 9 shifted matmuls, no per-pixel
Python). Eval-mode semantics: dropout layers are identity
(Structure_006 runs rate=0 at eval), exactly like the reference's
evalFLAG path.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

# (filters per conv layer, pool after layer?) — Structure_006.py:53-80
CONV_SPEC = [(16, True), (32, True), (48, True), (64, False), (80, False)]
LEAKY_ALPHA = 0.2  # tf.nn.leaky_relu default


# ------------------------------------------------------------- params (S7)

PARAMS_DDL = "name string, shape array<int>, values array<float>"


def synth_params(seed: int = 0, spec=None, in_channels: int = 1) -> dict:
    """Deterministic pretrained-weight stand-in: seeded normal tensors
    with the exact shapes the conv stack declares (the reference's
    AACHEN H5 holds real trained values; shape contract is identical)."""
    rs = np.random.RandomState(seed)
    params: dict[str, np.ndarray] = {}
    cin = in_channels
    for li, (cout, _pool) in enumerate(spec or CONV_SPEC, start=1):
        params[f"conv{li}/kernel"] = rs.normal(
            0, 0.1, size=(3, 3, cin, cout)
        ).astype(np.float32)
        params[f"conv{li}/bias"] = np.zeros(cout, dtype=np.float32)
        cin = cout
    return params


def write_params(spark: SparkSession, params: dict, path: str) -> None:
    """S8-style sink for the params table (name, shape, values)."""
    rows = [
        (name, list(arr.shape), [float(x) for x in arr.ravel()])
        for name, arr in sorted(params.items())
    ]
    spark.createDataFrame(rows, PARAMS_DDL).coalesce(1).write.mode(
        "overwrite"
    ).parquet(path)


def load_params(spark: SparkSession, path: str) -> dict:
    """S7: external-params scan — one small driver-side collect of the
    named-tensor table, reshaped and shape-validated (the analog of
    load_AACHEN_PARAMS + get_weights_dict, utils.py:392-440,718-740)."""
    rows = spark.read.parquet(path).collect()
    params: dict[str, np.ndarray] = {}
    for r in rows:
        arr = np.asarray(r["values"], dtype=np.float32)
        shape = tuple(r["shape"])
        if int(np.prod(shape)) != arr.size:
            raise ValueError(
                f"param {r['name']!r}: declared shape {shape} holds "
                f"{int(np.prod(shape))} values, file has {arr.size}"
            )
        params[r["name"]] = arr.reshape(shape)
    return params


def seed_params(
    prior: dict,
    init: dict,
    scopes: list[str],
) -> tuple[dict, dict]:
    """Transfer-learning seeding (the Structure_006_TL analog,
    /root/reference/Projects/Parzival/Structure_006_TL/Structure_006_TL.py:173-178:
    a scoped variable-subset Saver restores "BLSTM[12345]" + "conv"
    variables from a prior run while the rest initialize fresh).

    Spark-first form over the parquet named-tensor table: start from
    ``init`` (the fresh-initialized parameter dict) and overwrite every
    tensor whose NAME matches any ``scopes`` glob (fnmatch syntax —
    ``conv*``, ``bilstm[12345]/*`` — the same character-class shapes the
    reference passes as TF scope regexes) with the prior run's value.
    Tensors only in the prior, or matching no scope, stay untouched —
    exactly the subset-restore contract. A scope hit with a SHAPE
    mismatch is a config error and raises (the reference would fail
    inside tf.assign; we fail with a named error before compute).

    Returns (params, report) where report lists copied / fresh /
    ignored-prior names for lineage. Callers then broadcast ``params``
    to the decode stages like any other loaded weight table."""
    from fnmatch import fnmatchcase

    def in_scope(name: str) -> bool:
        return any(fnmatchcase(name, pat) for pat in scopes)

    out = dict(init)
    copied: list[str] = []
    for name, arr in sorted(prior.items()):
        if not in_scope(name):
            continue
        if name not in init:
            continue  # prior has a scoped tensor the new arch lacks
        if tuple(init[name].shape) != tuple(arr.shape):
            raise ValueError(
                f"transfer scope hit {name!r}: prior shape "
                f"{tuple(arr.shape)} != target shape "
                f"{tuple(init[name].shape)}"
            )
        out[name] = arr
        copied.append(name)
    report = {
        "copied": copied,
        "fresh": sorted(n for n in init if n not in copied),
        "ignored_prior": sorted(
            n for n in prior
            if n not in copied and (not in_scope(n) or n not in init)
        ),
    }
    return out, report


def seed_params_from(
    spark: SparkSession,
    prior_path: str,
    init: dict,
    scopes: list[str],
) -> tuple[dict, dict]:
    """``seed_params`` with the prior read from a parquet named-tensor
    table (S7 scan — one small driver collect, weights are KB-MB)."""
    return seed_params(load_params(spark, prior_path), init, scopes)


def validate_params(params: dict, spec=None, in_channels: int = 1) -> None:
    """Abort-before-compute check that every layer's tensors exist with
    the declared shapes (the reference fails inside tf.assign otherwise;
    we fail at load time with a named error)."""
    cin = in_channels
    for li, (cout, _pool) in enumerate(spec or CONV_SPEC, start=1):
        k, b = f"conv{li}/kernel", f"conv{li}/bias"
        if k not in params or b not in params:
            raise ValueError(f"missing params for layer {li}: {k}, {b}")
        if params[k].shape != (3, 3, cin, cout):
            raise ValueError(
                f"{k} has shape {params[k].shape}, expected {(3, 3, cin, cout)}"
            )
        if params[b].shape != (cout,):
            raise ValueError(
                f"{b} has shape {params[b].shape}, expected {(cout,)}"
            )
        cin = cout


# ------------------------------------------------------------- numpy ops

def conv2d_same(x: np.ndarray, w: np.ndarray, b: np.ndarray) -> np.ndarray:
    """T1 core: 3×3 'SAME' (zero-pad) conv, stride 1 — nine shifted
    [H·W, Cin]×[Cin, Cout] matmuls, no per-pixel Python.
    x: [H, W, Cin], w: [3, 3, Cin, Cout], b: [Cout] → [H, W, Cout]."""
    h, wd, cin = x.shape
    xp = np.zeros((h + 2, wd + 2, cin), dtype=np.float64)
    xp[1:-1, 1:-1] = x
    out = np.broadcast_to(b.astype(np.float64), (h, wd, w.shape[3])).copy()
    for dy in range(3):
        for dx in range(3):
            out += xp[dy : dy + h, dx : dx + wd].reshape(-1, cin).dot(
                w[dy, dx].astype(np.float64)
            ).reshape(h, wd, -1)
    return out


def leaky_relu(x: np.ndarray, alpha: float = LEAKY_ALPHA) -> np.ndarray:
    return np.where(x >= 0, x, alpha * x)


def max_pool_2x2_same(x: np.ndarray) -> np.ndarray:
    """T2: 2×2/stride-2 max pool with SAME padding — output dims are
    ceil(dim/2) (layers.py:282-289); the pad cells are -inf so they
    never win."""
    h, wd, c = x.shape
    ho, wo = -(-h // 2), -(-wd // 2)
    xp = np.full((ho * 2, wo * 2, c), -np.inf, dtype=x.dtype)
    xp[:h, :wd] = x
    return xp.reshape(ho, 2, wo, 2, c).max(axis=(1, 3))


def layer_norm(x: np.ndarray, eps: float = 1e-6) -> np.ndarray:
    """T17 (layers.py:298-313): normalize over the feature axis."""
    mu = x.mean(axis=-1, keepdims=True)
    var = x.var(axis=-1, keepdims=True)
    return (x - mu) / np.sqrt(var + eps)


def valid_mask(h: int, w: int, pad_h: int, pad_w: int) -> np.ndarray:
    """T18 (tasks.py:72-76): 0/1 mask of the valid region inside a
    padded [pad_h, pad_w] frame."""
    m = np.zeros((pad_h, pad_w), dtype=np.float32)
    m[:h, :w] = 1.0
    return m


def conv_stack(
    img: np.ndarray, params: dict, spec=None
) -> tuple[np.ndarray, int, int]:
    """T1+T2 pipeline at eval (dropout = identity): [H, W] normalized
    image → feature map [H', W', C_last], plus the tracked output dims.
    seq_len tracking (ceil(w/2) per pool) matches layers.py:285."""
    spec = spec or CONV_SPEC
    x = img[:, :, None].astype(np.float64)
    for li, (_cout, pool) in enumerate(spec, start=1):
        x = leaky_relu(
            conv2d_same(x, params[f"conv{li}/kernel"], params[f"conv{li}/bias"])
        )
        if pool:
            x = max_pool_2x2_same(x)
    return x, x.shape[0], x.shape[1]


def out_dims(h: int, w: int, spec=None) -> tuple[int, int]:
    """Closed-form T2 dim tracking: ceil-halve per pooled layer."""
    for _cout, pool in spec or CONV_SPEC:
        if pool:
            h, w = -(-h // 2), -(-w // 2)
    return h, w


# ------------------------------------------------------------- Spark stage

CONV_FEATURES_DDL = (
    "media_id long, height int, width int, out_h int, out_w int, "
    "seq_len_out int, box_sum long, feat array<float>"
)


def featurize_conv(
    media: DataFrame, params_path: str, spec=None
) -> DataFrame:
    """S7+T1+T2 end to end, narrow (no shuffle): load external params
    once, validate, broadcast, then per image row PNG decode →
    (255-x)/255 normalize → conv stack with the BROADCAST weights →
    per-channel mean feature vector. ``box_sum`` is an exact-integer
    probe through the SAME conv code: an all-ones 3×3 kernel over the
    raw inverted uint8 image — every value integer, recomputable
    externally, so the conv arithmetic itself is gated."""
    from htrtf_spark.operators.multimodal import map_images
    from htrtf_spark.operators.png_io import normalize, to_gray

    spark = media.sparkSession
    params = load_params(spark, params_path)
    validate_params(params, spec)
    bc = spark.sparkContext.broadcast(params)
    ones_k = np.ones((3, 3, 1, 1), dtype=np.float32)
    zero_b = np.zeros(1, dtype=np.float32)

    def featurize(row: dict, decoded: np.ndarray) -> tuple:
        img = normalize(decoded)
        h, w = img.shape
        fmap, oh, ow = conv_stack(img, bc.value, spec)
        # fold RGB before the integer probe (decode_png can return
        # [H, W, 3]); grey passes through unchanged
        inv = (255.0 - to_gray(decoded).astype(np.float64))[:, :, None]
        box = conv2d_same(inv, ones_k, zero_b)
        feat = fmap.mean(axis=(0, 1)).astype(np.float32).tolist()
        return (row["media_id"], h, w, oh, ow, out_dims(h, w, spec)[1],
                int(round(box.sum())), feat)

    return map_images(media, featurize, CONV_FEATURES_DDL)
