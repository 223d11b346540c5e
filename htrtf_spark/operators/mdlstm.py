"""Multi-dimensional LSTM family: batch-numpy analogs of SURVEY §2.9
T10–T16 — the last §2 operators the round-1 survey parked as
out-of-scope, implemented here for full-table coverage.

Reference (/root/reference/Modules/MDLSTM.py, layers.py):

- T10 cell — MDLSTM.py:224-314: gates = Linear([x, h_left, h_top]) split
  (i, f, λ, o, j); c' = (c_top·σ(λ) + c_left·(1−σ(λ)))·σ(f) +
  σ(i)·tanh(j); h' = tanh(c')·σ(o)
- T11 diagonal wavefront skew — MDLSTM.py:493-504,571-578: column w is
  top-padded by w zeros so anti-diagonals align as time steps; at step t
  column w holds pixel (t−w, w); its step-(t−1) same-column state is the
  TOP neighbor and the step-(t−1) previous-column state is the LEFT
  neighbor (delay_state, :207-213). The whole wavefront advances as ONE
  [W, ·] matmul per step — the reference's own skew-defeat trick, which
  is also why this maps cleanly onto a vectorized batch op.
- T12 width chunking — layers.py:345-369: pad W to a chunk multiple,
  split along W, stack chunks on the batch axis (states reset per
  chunk), undo after — bounds per-task state for very wide inputs.
- T13 padded-band pruning — MDLSTM.py:215-222: zero state outside the
  valid diagonal band max(0, t+1−H) ≤ w ≤ min(t, W−1).
- T14 four-direction sweep — layers.py:327-343: flip H/W/both, run,
  flip back.
- T15 multi-direction combine — layers.py:174-212 (sum, FNN variant) /
  :250-280 (tanh(sum), CNN variant).
- T16 MultiDirectionalDropOut — layers.py:371-377: train-only inverted
  dropout; identity at eval (the extraction path never applies it).
"""

from __future__ import annotations

from functools import partial

import numpy as np

from htrtf_spark.operators.rnn import _sigmoid


def skew(img: np.ndarray) -> np.ndarray:
    """T11: [H, W, C] → [H+W−1, W, C]; sk[t, w] = img[t−w, w] (zeros
    outside)."""
    h, w, c = img.shape
    out = np.zeros((h + w - 1, w, c), dtype=img.dtype)
    for col in range(w):
        out[col : col + h, col] = img[:, col]
    return out


def unskew(sk: np.ndarray, h: int) -> np.ndarray:
    """T11 inverse: [H+W−1, W, C] → [H, W, C]."""
    _t, w, c = sk.shape
    out = np.empty((h, w, c), dtype=sk.dtype)
    for col in range(w):
        out[:, col] = sk[col : col + h, col]
    return out


def _band_mask(t: int, h: int, w: int) -> np.ndarray:
    """T13: boolean [W] — columns whose step-t wavefront cell is a real
    pixel (max(0, t+1−h) ≤ w ≤ min(t, w−1))."""
    cols = np.arange(w)
    return (cols >= max(0, t + 1 - h)) & (cols <= t)


def mdlstm_sweep(
    img: np.ndarray, kernel: np.ndarray, bias: np.ndarray
) -> np.ndarray:
    """T10+T11+T13: one corner-to-corner MDLSTM pass over [H, W, C_in].
    kernel: [C_in + 2·U, 5·U] (gate order i, f, λ, o, j — MDLSTM.py:294);
    bias: [5·U]. Returns [H, W, U]. Each wavefront step is one [W, ·]
    matmul — no per-pixel Python."""
    h, w, cin = img.shape
    units = kernel.shape[1] // 5
    if kernel.shape[0] != cin + 2 * units:
        raise ValueError(
            f"kernel rows {kernel.shape[0]} != C_in + 2*units "
            f"({cin + 2 * units})"
        )
    sk = skew(img).astype(np.float64)
    wk, bk = kernel.astype(np.float64), bias.astype(np.float64)
    c_top = np.zeros((w, units))
    h_top = np.zeros((w, units))
    c_left = np.zeros((w, units))
    h_left = np.zeros((w, units))
    out = np.zeros((h + w - 1, w, units))
    for t in range(h + w - 1):
        g = np.concatenate([sk[t], h_left, h_top], axis=1).dot(wk) + bk
        i, f, lam, o, j = np.split(g, 5, axis=1)
        sl = _sigmoid(lam)
        new_c = (c_top * sl + c_left * (1.0 - sl)) * _sigmoid(f) + _sigmoid(
            i
        ) * np.tanh(j)
        new_h = np.tanh(new_c) * _sigmoid(o)
        band = _band_mask(t, h, w)[:, None]
        new_c = np.where(band, new_c, 0.0)  # T13
        new_h = np.where(band, new_h, 0.0)
        out[t] = new_h
        # c_top→c_left (delayed one column), new→top (MDLSTM.py:306-308)
        c_left = np.vstack([np.zeros((1, units)), new_c[:-1]])
        h_left = np.vstack([np.zeros((1, units)), new_h[:-1]])
        c_top, h_top = new_c, new_h
    return unskew(out, h)


DIRECTIONS = ("df", "uf", "db", "ub")  # down/up × forward/backward


def _flip(img: np.ndarray, direction: str) -> np.ndarray:
    """T14 axis flips: d/u = scan from top/bottom, f/b = from
    left/right (tf.reverse on axes {1}, {2}, {1,2})."""
    if direction[0] == "u":
        img = img[::-1]
    if direction[1] == "b":
        img = img[:, ::-1]
    return img


def mdlstm_4dir(img: np.ndarray, params: dict, layer: int = 1,
                combine: str = "sum") -> np.ndarray:
    """T14+T15: run the sweep from all four corners and combine —
    ``sum`` (FNN variant, layers.py:174-212) or ``tanh_sum`` (CNN
    variant, :250-280). Params: mdlstm{layer}/{dir}_kernel, _bias."""
    acc = None
    for d in DIRECTIONS:
        o = mdlstm_sweep(
            _flip(img, d),
            params[f"mdlstm{layer}/{d}_kernel"],
            params[f"mdlstm{layer}/{d}_bias"],
        )
        o = _flip(o, d)  # map back to image orientation
        acc = o if acc is None else acc + o
    return np.tanh(acc) if combine == "tanh_sum" else acc


def width_chunked(img: np.ndarray, chunk: int, fn) -> np.ndarray:
    """T12 (layers.py:345-369): zero-pad W to a multiple of ``chunk``,
    run ``fn`` on every chunk independently (states reset at chunk
    boundaries, exactly like the reference's batch-axis stack), concat
    and drop the pad."""
    h, w, c = img.shape
    pad = (-w) % chunk
    if pad:
        img = np.concatenate(
            [img, np.zeros((h, pad, c), dtype=img.dtype)], axis=1
        )
    outs = [
        fn(img[:, s : s + chunk]) for s in range(0, img.shape[1], chunk)
    ]
    return np.concatenate(outs, axis=1)[:, :w]


def dropout(x: np.ndarray, rate: float, rng: np.random.RandomState | None,
            training: bool = False) -> np.ndarray:
    """T16: inverted dropout; identity at eval (rate is only applied
    when training=True, matching tf.layers.dropout semantics and the
    evalFLAG path the extraction pipeline always takes)."""
    if not training or rate <= 0.0:
        return x
    if rng is None:
        raise ValueError("training dropout needs an explicit seeded RNG")
    keep = 1.0 - rate
    return x * (rng.binomial(1, keep, size=x.shape) / keep)


def synth_mdlstm_params(seed: int = 0, cin: int = 1, units: int = 8,
                        layer: int = 1) -> dict:
    """Seeded 4-direction weight set with the exact shape contract."""
    rs = np.random.RandomState(seed)
    params = {}
    for d in DIRECTIONS:
        params[f"mdlstm{layer}/{d}_kernel"] = rs.normal(
            0, 0.3, size=(cin + 2 * units, 5 * units)
        ).astype(np.float32)
        params[f"mdlstm{layer}/{d}_bias"] = np.zeros(
            5 * units, dtype=np.float32
        )
    return params


# ------------------------------------------------------------- Spark stage

MDLSTM_FEATURES_DDL = (
    "media_id long, height int, width int, units int, act_sum_bp long"
)


def mdlstm_features(media, units: int = 8, seed: int = 11, chunk: int = 0):
    """T10–T15 over the media table's image rows, narrow, with broadcast
    weights (same S7 shape as the conv stack): per image row PNG decode
    → normalize → 4-direction MDLSTM sweep (width-chunked when
    ``chunk`` > 0, T12). ``act_sum_bp`` pins the float activations to an
    integer for cross-run drift detection; numerics vs the raster
    recursion are pytest-verified."""
    from htrtf_spark.operators.multimodal import map_images
    from htrtf_spark.operators.png_io import normalize

    bc = media.sparkSession.sparkContext.broadcast(
        synth_mdlstm_params(seed=seed, cin=1, units=units)
    )

    def features(row: dict, decoded: np.ndarray) -> tuple:
        img = normalize(decoded)[:, :, None]
        sweep = partial(mdlstm_4dir, params=bc.value)
        feats = width_chunked(img, chunk, sweep) if chunk else sweep(img)
        return (row["media_id"], *img.shape[:2], units,
                int(round(float(feats.sum()) * 1e4)))

    return map_images(media, features, MDLSTM_FEATURES_DDL)
