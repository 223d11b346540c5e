"""BiLSTM decode head + CTC loss: batch analogs of SURVEY §2.9 T3–T6,
completing the reference's eval path end to end on Spark.

- T3 height-collapse reshape ([H',W',C] → time-major [W', H'·C]) —
  /root/reference/Projects/IAM_lines/Structure_006/Structure_006.py:82-85
- T4 BiLSTM ×5 — layers.py:6-107 (tf.contrib.rnn.BasicLSTMCell,
  forget_bias=1.0, bidirectional_dynamic_rnn, outputs concatenated);
  cell math reproduced exactly: gates split (i, j, f, o),
  c' = c·σ(f+1) + σ(i)·tanh(j), h' = tanh(c')·σ(o)
- T5 dense projection to logits — layers.py:145-172 (no activation),
  Structure_006.py:117-123
- T6 CTC loss — Structure_006.py:130-134; standard log-domain forward
  algorithm over the blank-extended target

Each record's sequence runs at its own natural length (the reference
feeds per-record seq_len into dynamic_rnn; here every record is decoded
individually inside the Arrow batch, so there is no padding to mask).
The recurrence is sequential in T by nature — T after three ceil-halved
pools is ceil(W/8), single digits at line scale — while everything
inside a step is a batched matmul. Weights ship via the same broadcast
params table as the conv stack (operators/convnet.py, S7).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from htrtf_spark.operators import convnet, ctc

NUM_LSTM_LAYERS = 5  # Structure_006.py:87-115


def _sigmoid(x: np.ndarray) -> np.ndarray:
    return 1.0 / (1.0 + np.exp(-x))


def lstm_forward(
    x: np.ndarray, kernel: np.ndarray, bias: np.ndarray
) -> np.ndarray:
    """TF BasicLSTMCell(forget_bias=1.0) unidirectional pass.
    x: [T, D]; kernel: [D + H, 4H] (gate order i, j, f, o);
    bias: [4H] → outputs [T, H]."""
    t_len, d = x.shape
    hid = kernel.shape[1] // 4
    h = np.zeros(hid, dtype=np.float64)
    c = np.zeros(hid, dtype=np.float64)
    out = np.empty((t_len, hid), dtype=np.float64)
    wk = kernel.astype(np.float64)
    bk = bias.astype(np.float64)
    for t in range(t_len):
        g = np.concatenate([x[t], h]).dot(wk) + bk
        i, j, f, o = g[:hid], g[hid : 2 * hid], g[2 * hid : 3 * hid], g[3 * hid :]
        c = c * _sigmoid(f + 1.0) + _sigmoid(i) * np.tanh(j)
        h = np.tanh(c) * _sigmoid(o)
        out[t] = h
    return out


def bilstm(x: np.ndarray, params: dict, layer: int) -> np.ndarray:
    """T4: forward + time-reversed backward pass, concat on features
    (tf.nn.bidirectional_dynamic_rnn + tf.concat(outputs, 2))."""
    fw = lstm_forward(
        x, params[f"bilstm{layer}/fw_kernel"], params[f"bilstm{layer}/fw_bias"]
    )
    bw = lstm_forward(
        x[::-1], params[f"bilstm{layer}/bw_kernel"], params[f"bilstm{layer}/bw_bias"]
    )[::-1]
    return np.concatenate([fw, bw], axis=1)


def height_collapse(fmap: np.ndarray) -> np.ndarray:
    """T3 (Structure_006.py:82-85): [H', W', C] → [W', H'·C], width as
    the time axis, (height, channel) flattened height-major."""
    h, w, c = fmap.shape
    return fmap.transpose(1, 0, 2).reshape(w, h * c)


def net_logits(img: np.ndarray, params: dict, conv_spec=None) -> np.ndarray:
    """Full eval path: conv stack (T1/T2) → T3 reshape → 5×BiLSTM (T4)
    → dense logits (T5). Returns [T, num_classes]."""
    fmap, _oh, _ow = convnet.conv_stack(img, params, conv_spec)
    x = height_collapse(fmap)
    for layer in range(1, NUM_LSTM_LAYERS + 1):
        x = bilstm(x, params, layer)
    return x.dot(params["logits/kernel"].astype(np.float64)) + params[
        "logits/bias"
    ].astype(np.float64)


def synth_net_params(
    seed: int = 0,
    num_hidden: int = 16,
    num_classes: int = 32,
    conv_spec=None,
    image_height: int = 40,
) -> dict:
    """Seeded full-network weights (conv + bilstm + dense) with the exact
    shape contract the reference's checkpoint holds. ``image_height`` is
    the PRE-pool height the T3 reshape assumes fixed (the reference
    requires one dataset-wide height — check_valid_and_test_sets)."""
    spec = conv_spec or convnet.CONV_SPEC
    params = convnet.synth_params(seed=seed, spec=spec)
    rs = np.random.RandomState(seed + 1)
    oh, _ = convnet.out_dims(image_height, image_height, spec)
    d = oh * spec[-1][0]
    for layer in range(1, NUM_LSTM_LAYERS + 1):
        for direction in ("fw", "bw"):
            params[f"bilstm{layer}/{direction}_kernel"] = rs.normal(
                0, 0.2, size=(d + num_hidden, 4 * num_hidden)
            ).astype(np.float32)
            params[f"bilstm{layer}/{direction}_bias"] = np.zeros(
                4 * num_hidden, dtype=np.float32
            )
        d = 2 * num_hidden
    params["logits/kernel"] = rs.normal(
        0, 0.2, size=(2 * num_hidden, num_classes)
    ).astype(np.float32)
    params["logits/bias"] = np.zeros(num_classes, dtype=np.float32)
    return params


# ----------------------------------------------------------------- T6

def ctc_loss(log_probs: np.ndarray, targets: np.ndarray, blank: int) -> float:
    """T6 (Structure_006.py:130-134): -log P(targets | log_probs) by the
    standard log-domain CTC forward algorithm over the blank-extended
    label sequence (merge-repeated semantics). log_probs: [T, C] already
    log-softmaxed; targets: [L] label ids."""
    t_len = log_probs.shape[0]
    if t_len == 0:
        # zero frames: only the empty labeling has probability 1
        return 0.0 if len(targets) == 0 else float("inf")
    ext = np.full(2 * len(targets) + 1, blank, dtype=np.int64)
    ext[1::2] = targets
    s_len = len(ext)
    neg = -np.inf
    alpha = np.full(s_len, neg)
    alpha[0] = log_probs[0, ext[0]]
    if s_len > 1:
        alpha[1] = log_probs[0, ext[1]]
    for t in range(1, t_len):
        prev = alpha
        alpha = np.full(s_len, neg)
        for s in range(s_len):
            acc = prev[s]
            if s >= 1:
                acc = np.logaddexp(acc, prev[s - 1])
            # skip transition: allowed unless current is blank or equals
            # the label two back (merge-repeated rule)
            if s >= 2 and ext[s] != blank and ext[s] != ext[s - 2]:
                acc = np.logaddexp(acc, prev[s - 2])
            alpha[s] = acc + log_probs[t, ext[s]]
    total = alpha[-1] if s_len == 1 else np.logaddexp(alpha[-1], alpha[-2])
    return float(-total)


def log_softmax(logits: np.ndarray) -> np.ndarray:
    m = logits.max(axis=-1, keepdims=True)
    z = logits - m
    return z - np.log(np.exp(z).sum(axis=-1, keepdims=True))


# ------------------------------------------------------------- Spark stage

NET_DECODE_DDL = (
    "media_id long, height int, width int, t_frames int, n_classes int, "
    "decoded string, logit_sum_bp long"
)


def net_decode(
    media: DataFrame,
    params_path: str,
    charset: list[str],
    conv_spec=None,
    image_height: int = 40,
) -> DataFrame:
    """The reference's whole eval pipeline (image → text) as one narrow
    distributed stage with broadcast weights: per image row PNG decode
    → normalize → full net (T1–T5) → greedy CTC collapse (T7/T8 reuse)
    → string. ``logit_sum_bp`` pins the float path to an integer (sum
    of logits × 10⁴, rounded) for lineage and cross-run drift
    detection."""
    from htrtf_spark.operators.augment import _crop_or_pad_axis
    from htrtf_spark.operators.multimodal import map_images
    from htrtf_spark.operators.png_io import normalize

    spark = media.sparkSession
    bc = spark.sparkContext.broadcast(convnet.load_params(spark, params_path))

    def decode(row: dict, decoded: np.ndarray) -> tuple:
        # the T3 reshape needs ONE dataset-wide height (the reference
        # rescales at dataset build, P8 + the check_valid_and_test_sets
        # precondition); pad/crop here with paper (0 after normalize)
        img = _crop_or_pad_axis(normalize(decoded), image_height, 0)
        logits = net_logits(img, bc.value, conv_spec)
        seq = ctc.collapse_ids(logits.argmax(axis=1), len(charset))
        return (row["media_id"], *decoded.shape[:2], *logits.shape,
                "".join(charset[i] for i in seq),
                int(round(float(logits.sum()) * 1e4)))

    return map_images(media, decode, NET_DECODE_DDL)
