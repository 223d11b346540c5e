"""Data-augmentation operator family (SURVEY §2.10, D1–D8): randomized
image maps run as ONE seeded per-row function over the media stage
(``multimodal.map_images``).

Reference: /root/reference/Modules/DataAugmentation.py (D1 scale :11-43,
D2 shear :45-74, D3 rotate :76-101, D4 translate :103-128, D5 dilate
:130-148, D6 erode :150-168, D7 distort :170-182) and pack_images
(/root/reference/Modules/utils.py:742-761). There, each op is a
per-image function gated by a Bernoulli draw from the GLOBAL numpy RNG;
here the RNG is seeded PER ROW from (seed, media_id) so the output is
deterministic under any partitioning/retry — the property a distributed
augmentation stage needs and a global-RNG design cannot give.

All geometry is pure numpy (inverse-mapped affine warp; this container
has no cv2/PIL). Documented divergences from the reference, chosen
deliberately:

- ``scale`` crops/pads each axis independently; the reference branches
  only on the horizontal comparison (DataAugmentation.py:38-41), which
  crashes on mixed grow/shrink draws — a bug, not a semantic.
- The stochastic morphology kernel in the reference sets empty cells to
  ``value or 1e-16`` (DataAugmentation.py:144,164), which cv2 treats as
  NONZERO — so the sampled pattern degenerates to the full square. We
  keep the sampled support (center always on); pass ``full_kernel=True``
  for the reference's effective (full-square) behavior.

Convention: augmentation operates on the INVERTED image (ink = high),
exactly as the reference's driver does (``img_np = 255 - img_npo``,
DataAugmentation.py:191); the border fill 0 is therefore background.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from htrtf_spark.operators.multimodal import map_images


# --------------------------------------------------------------- geometry

def affine_warp(
    img: np.ndarray, m: np.ndarray, interp: str = "bilinear"
) -> np.ndarray:
    """dst(x, y) = src(M⁻¹·(x, y, 1)) with constant-0 border — the
    cv2.warpAffine contract (forward matrix, inverse sampling). Fully
    vectorized: one meshgrid, one gather."""
    h, w = img.shape
    a = np.vstack([m, [0.0, 0.0, 1.0]])
    inv = np.linalg.inv(a)
    ys, xs = np.meshgrid(np.arange(h), np.arange(w), indexing="ij")
    sx = inv[0, 0] * xs + inv[0, 1] * ys + inv[0, 2]
    sy = inv[1, 0] * xs + inv[1, 1] * ys + inv[1, 2]
    if interp == "nearest":
        xi = np.rint(sx).astype(np.int64)
        yi = np.rint(sy).astype(np.int64)
        ok = (xi >= 0) & (xi < w) & (yi >= 0) & (yi < h)
        out = np.zeros((h, w), dtype=img.dtype)
        out[ok] = img[yi[ok], xi[ok]]
        return out
    x0 = np.floor(sx).astype(np.int64)
    y0 = np.floor(sy).astype(np.int64)
    fx, fy = sx - x0, sy - y0
    acc = np.zeros((h, w), dtype=np.float64)
    for dy in (0, 1):
        for dx in (0, 1):
            xi, yi = x0 + dx, y0 + dy
            wgt = (fx if dx else 1 - fx) * (fy if dy else 1 - fy)
            ok = (xi >= 0) & (xi < w) & (yi >= 0) & (yi < h)
            vals = np.zeros((h, w), dtype=np.float64)
            vals[ok] = img[yi[ok], xi[ok]]
            acc += wgt * vals
    if np.issubdtype(img.dtype, np.integer):
        return np.clip(np.rint(acc), 0, 255).astype(img.dtype)
    return acc.astype(img.dtype)


def _resize(img: np.ndarray, hn: int, wn: int) -> np.ndarray:
    """Nearest-neighbor resize (the D1 scale primitive)."""
    h, w = img.shape
    ri = np.minimum((np.arange(hn) * h) // max(hn, 1), h - 1)
    ci = np.minimum((np.arange(wn) * w) // max(wn, 1), w - 1)
    return img[ri[:, None], ci[None, :]]


def _crop_or_pad_axis(img: np.ndarray, target: int, axis: int) -> np.ndarray:
    """Center-crop or center-pad one axis to ``target`` (reference
    scale's re-framing, both directions handled)."""
    n = img.shape[axis]
    if n == target:
        return img
    if n > target:
        lo = n // 2 - target // 2
        sl = [slice(None), slice(None)]
        sl[axis] = slice(lo, lo + target)
        return img[tuple(sl)]
    before = (target - n) // 2
    after = target - n - before
    pads = [(0, 0), (0, 0)]
    pads[axis] = (before, after)
    return np.pad(img, pads, mode="constant")


# --------------------------------------------------------------- D1–D6

def scale(img: np.ndarray, rs: np.random.RandomState,
          prob: float = 0.5, stdv: float = 0.12) -> np.ndarray:
    """D1 (DataAugmentation.py:11-43): lognormal(σ=stdv) resize, then
    re-frame to the original H×W (crop if grown, pad if shrunk)."""
    if not rs.binomial(1, prob):
        return img
    h, w = img.shape
    f = rs.lognormal(sigma=stdv)
    hn, wn = max(int(f * h), 1), max(int(f * w), 1)
    out = _resize(img, hn, wn)
    out = _crop_or_pad_axis(out, h, 0)
    return _crop_or_pad_axis(out, w, 1)


def shear(img: np.ndarray, rs: np.random.RandomState,
          prob: float = 0.5, prec: float = 4.0) -> np.ndarray:
    """D2 (:45-74): horizontal shear by tan(vonmises(κ=prec)) about the
    reference's y=50 anchor line (its 3-point affine fixes (·,50))."""
    if not rs.binomial(1, prob):
        return img
    m = np.tan(rs.vonmises(0, prec))
    mat = np.array([[1.0, m, -50.0 * m], [0.0, 1.0, 0.0]])
    return affine_warp(img, mat)


def rotate(img: np.ndarray, rs: np.random.RandomState,
           prob: float = 0.5, prec: float = 100.0) -> np.ndarray:
    """D3 (:76-101): rotation about the center by vonmises(κ=prec·max
    (h/w, w/h)) — wide lines get proportionally smaller angles."""
    if not rs.binomial(1, prob):
        return img
    h, w = img.shape
    k = prec * max(h / w, w / h)
    ang = rs.vonmises(0, k)  # radians; reference converts to deg for cv2
    c, s = np.cos(ang), np.sin(ang)
    cx, cy = w / 2.0, h / 2.0
    mat = np.array(
        [[c, s, (1 - c) * cx - s * cy], [-s, c, s * cx + (1 - c) * cy]]
    )
    return affine_warp(img, mat)


def translate(img: np.ndarray, rs: np.random.RandomState,
              prob: float = 0.5, stdv: float = 0.02) -> np.ndarray:
    """D4 (:103-128): shift by N(0, stdv·dim) per axis."""
    if not rs.binomial(1, prob):
        return img
    h, w = img.shape
    tx = rs.normal(0, stdv * w)
    ty = rs.normal(0, stdv * h)
    mat = np.array([[1.0, 0.0, tx], [0.0, 1.0, ty]])
    return affine_warp(img, mat)


def _stochastic_kernel(rs: np.random.RandomState, srate: float,
                       full_kernel: bool) -> np.ndarray:
    """Geometric-sized square with exp(-distance)-Bernoulli support
    (:136-144). Center always on; ``full_kernel`` reproduces the
    reference's effective all-on support (the ``or 1e-16`` quirk)."""
    k = min(2 * rs.geometric(srate) + 1, 15)
    xs, ys = np.meshgrid(np.arange(k), np.arange(k), indexing="ij")
    d = np.hypot(xs - k // 2, ys - k // 2)
    draws = rs.binomial(1, np.exp(-d)).astype(bool)
    if full_kernel:
        return np.ones((k, k), dtype=bool)
    draws[k // 2, k // 2] = True
    return draws


def _morph(img: np.ndarray, support: np.ndarray, op: str) -> np.ndarray:
    """Max (dilate) / min (erode) filter over the structuring support,
    vectorized one shifted-view per ON cell (≤225, usually ≤9). Border
    handling matches cv2: replicated edge (min/max sees edge values)."""
    k = support.shape[0]
    r = k // 2
    padded = np.pad(img, r, mode="edge")
    h, w = img.shape
    out = None
    for dy, dx in np.argwhere(support):
        view = padded[dy : dy + h, dx : dx + w]
        if out is None:
            out = view.copy()
        elif op == "max":
            np.maximum(out, view, out=out)
        else:
            np.minimum(out, view, out=out)
    return out if out is not None else img.copy()


def dilate(img: np.ndarray, rs: np.random.RandomState, prob: float = 0.5,
           srate: float = 0.4, full_kernel: bool = False) -> np.ndarray:
    """D5 (:130-148)."""
    if not rs.binomial(1, prob):
        return img
    return _morph(img, _stochastic_kernel(rs, srate, full_kernel), "max")


def erode(img: np.ndarray, rs: np.random.RandomState, prob: float = 0.5,
          srate: float = 0.8, full_kernel: bool = False) -> np.ndarray:
    """D6 (:150-168)."""
    if not rs.binomial(1, prob):
        return img
    return _morph(img, _stochastic_kernel(rs, srate, full_kernel), "min")


def distort(img: np.ndarray, rs: np.random.RandomState,
            prob: float = 0.5) -> np.ndarray:
    """D7 (:170-182): translate → rotate → shear → scale → dilate →
    erode, each independently gated — the reference's exact order."""
    img = translate(img, rs, prob)
    img = rotate(img, rs, prob)
    img = shear(img, rs, prob)
    img = scale(img, rs, prob)
    img = dilate(img, rs, prob)
    img = erode(img, rs, prob)
    return img


def pack_images(imgs: list[np.ndarray], height: int, width: int) -> np.ndarray:
    """D8 (utils.py:742-761): bottom/right zero-pad every image to
    (height, width); returns the stacked [N, height, width] batch."""
    out = np.zeros((len(imgs), height, width), dtype=imgs[0].dtype if imgs else np.uint8)
    for i, img in enumerate(imgs):
        h, w = img.shape
        if h > height or w > width:
            raise ValueError(
                f"image {i} is {h}x{w}, larger than pack target "
                f"{height}x{width}"
            )
        out[i, :h, :w] = img
    return out


# --------------------------------------------------------------- Spark stage

def _row_rng(seed: int, media_id: int) -> np.random.RandomState:
    """Deterministic per-row RNG: same (seed, media_id) → same draws on
    any executor, any partitioning, any retry."""
    return np.random.RandomState((seed * 1_000_003 + media_id * 7919) % 2**31)


AUGMENT_DDL = (
    "media_id long, height int, width int, pack_h int, pack_w int, "
    "ink_in long, ink_out long, payload binary"
)


def augment_images(media: DataFrame, seed: int = 0, prob: float = 0.5,
                   pack_h: int = 64, pack_w: int = 64) -> DataFrame:
    """D1–D8 over the media table's image rows, narrow (no shuffle):
    PNG decode → invert (255-x, the reference driver's convention) → D7
    distort with a per-row seeded RNG → D8 pack → re-encode. Emits
    integer ink mass before/after for lineage, and the packed augmented
    image as PNG bytes; per-row determinism makes retries idempotent."""
    from htrtf_spark.operators.png_io import encode_png, to_gray

    def augment(row: dict, decoded: np.ndarray) -> tuple:
        img = to_gray(decoded)
        inv = (255 - img).astype(np.uint8)
        aug = distort(inv, _row_rng(seed, row["media_id"]), prob)
        packed = pack_images([aug[:pack_h, :pack_w]], pack_h, pack_w)[0]
        return (row["media_id"], *img.shape, pack_h, pack_w, int(inv.sum()),
                int(packed.sum()), encode_png(packed))

    return map_images(media, augment, AUGMENT_DDL)


DETERMINISTIC_AUG_DDL = (
    "media_id long, height int, width int, ink_shifted long, "
    "ink_dilated long"
)


def deterministic_augment(media: DataFrame, ty: int = 2, tx: int = 3) -> DataFrame:
    """Oracle-checkable augmentation path: integer translate by (ty, tx)
    then full-3×3 dilate on the inverted image, all in exact integer
    arithmetic — every output value recomputable from closed-form pixels
    by an external SQL engine. The randomized path shares every
    primitive with this one (same warp/morph code, p=1 and fixed
    draws), so a hash match here certifies the machinery."""
    from htrtf_spark.operators.png_io import to_gray

    mat = np.array([[1.0, 0.0, float(tx)], [0.0, 1.0, float(ty)]])

    def augment(row: dict, decoded: np.ndarray) -> tuple:
        img = to_gray(decoded)
        shifted = affine_warp((255 - img).astype(np.uint8), mat, interp="nearest")
        dil = _morph(shifted, np.ones((3, 3), dtype=bool), "max")
        return row["media_id"], *img.shape, int(shifted.sum()), int(dil.sum())

    return map_images(media, augment, DETERMINISTIC_AUG_DDL)
