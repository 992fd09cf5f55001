"""Hierarchical quad-tree cell ids over lon/lat (engine-own, H3/S2 role).

Layout of a cell id (int64):
    bits 63..5 : Morton-interleaved (ix, iy) at resolution r  (2r bits used)
    bits  4..0 : resolution r ∈ [0, 29]

x axis: lon ∈ [-180, 180) → ix ∈ [0, 2^r)   (wraps around the antimeridian)
y axis: lat ∈ [-90, 90]   → iy ∈ [0, 2^r)   (clamped at the poles)

Everything is vectorized numpy over int64 — safe to call from pandas UDFs on
million-row batches. Parent/child moves are bit shifts, so multi-resolution
rollups are cheap `F.shiftright`-style column ops on the Spark side too.
"""

from __future__ import annotations

import numpy as np

MAX_RES = 29
_RES_BITS = 5
_RES_MASK = (1 << _RES_BITS) - 1

# Morton bit-spreading magic constants (64-bit, interleave up to 32 bits).
_B = [
    np.uint64(0x5555555555555555),
    np.uint64(0x3333333333333333),
    np.uint64(0x0F0F0F0F0F0F0F0F),
    np.uint64(0x00FF00FF00FF00FF),
    np.uint64(0x0000FFFF0000FFFF),
]
_S = [np.uint64(1), np.uint64(2), np.uint64(4), np.uint64(8), np.uint64(16)]


def _spread(v: np.ndarray) -> np.ndarray:
    """Spread the low 32 bits of each value so bit i moves to bit 2i."""
    v = v.astype(np.uint64)
    v = (v | (v << _S[4])) & _B[4]
    v = (v | (v << _S[3])) & _B[3]
    v = (v | (v << _S[2])) & _B[2]
    v = (v | (v << _S[1])) & _B[1]
    v = (v | (v << _S[0])) & _B[0]
    return v


def _compact(v: np.ndarray) -> np.ndarray:
    """Inverse of _spread: gather even bits back down."""
    v = v.astype(np.uint64) & _B[0]
    v = (v | (v >> _S[0])) & _B[1]
    v = (v | (v >> _S[1])) & _B[2]
    v = (v | (v >> _S[2])) & _B[3]
    v = (v | (v >> _S[3])) & _B[4]
    v = (v | (v >> _S[4])) & np.uint64(0xFFFFFFFF)
    return v


def _grid_xy(lon, lat, res: int):
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    n = np.int64(1) << np.int64(res)
    x = (lon + 180.0) / 360.0
    y = (lat + 90.0) / 180.0
    ix = np.floor(x * n).astype(np.int64)
    iy = np.floor(y * n).astype(np.int64)
    ix = np.mod(ix, n)  # lon wraps
    iy = np.clip(iy, 0, n - 1)  # lat clamps
    return ix, iy


def encode_cell(lon, lat, res: int) -> np.ndarray:
    """(lon, lat) → int64 cell id at resolution res. Vectorized."""
    assert 0 <= res <= MAX_RES
    ix, iy = _grid_xy(lon, lat, res)
    code = _spread(ix.astype(np.uint64)) | (_spread(iy.astype(np.uint64)) << np.uint64(1))
    return ((code << np.uint64(_RES_BITS)) | np.uint64(res)).astype(np.int64)


def encode_xy(ix, iy, res: int) -> np.ndarray:
    ix = np.asarray(ix, dtype=np.uint64)
    iy = np.asarray(iy, dtype=np.uint64)
    code = _spread(ix) | (_spread(iy) << np.uint64(1))
    return ((code << np.uint64(_RES_BITS)) | np.uint64(res)).astype(np.int64)


def cell_res(cell) -> np.ndarray:
    return (np.asarray(cell, dtype=np.int64) & _RES_MASK).astype(np.int64)


def cell_xy(cell):
    """cell id → (ix, iy) grid coordinates at its own resolution."""
    c = np.asarray(cell, dtype=np.uint64) >> np.uint64(_RES_BITS)
    return _compact(c).astype(np.int64), _compact(c >> np.uint64(1)).astype(np.int64)


def cell_bounds(cell):
    """cell id → (lon_min, lat_min, lon_max, lat_max). Vectorized."""
    r = cell_res(cell)
    ix, iy = cell_xy(cell)
    n = (np.int64(1) << r).astype(np.float64)
    lon_min = ix / n * 360.0 - 180.0
    lat_min = iy / n * 180.0 - 90.0
    return lon_min, lat_min, lon_min + 360.0 / n, lat_min + 180.0 / n


def parent(cell, parent_res=None) -> np.ndarray:
    """Ancestor at parent_res (default: res-1). Pure bit arithmetic — on the
    Spark side this is expressible with shiftrightunsigned/bitwise ops."""
    c = np.asarray(cell, dtype=np.int64)
    r = cell_res(c)
    pr = r - 1 if parent_res is None else np.asarray(parent_res, dtype=np.int64)
    shift = (np.uint64(2) * (r - pr).astype(np.uint64)) + np.uint64(_RES_BITS)
    code = (c.astype(np.uint64) >> np.uint64(_RES_BITS)) >> (shift - np.uint64(_RES_BITS))
    return ((code << np.uint64(_RES_BITS)) | pr.astype(np.uint64)).astype(np.int64)


def children(cell) -> np.ndarray:
    """The 4 child ids (res+1) of each cell; shape (..., 4)."""
    c = np.asarray(cell, dtype=np.int64)
    r = cell_res(c)
    code = c.astype(np.uint64) >> np.uint64(_RES_BITS)
    base = code << np.uint64(2)
    kids = [
        (((base | np.uint64(k)) << np.uint64(_RES_BITS)) | (r + 1).astype(np.uint64)).astype(np.int64)
        for k in range(4)
    ]
    return np.stack(kids, axis=-1)


def neighbors(cell) -> np.ndarray:
    """The 8 surrounding cells (ring k=1), deduplicated at grid edges."""
    return ring(cell, 1)


def ring(cell, k: int) -> np.ndarray:
    """All cells within Chebyshev distance k of `cell` (a (2k+1)² block,
    including the center — the kNN frontier expands by growing k).
    Scalar cell in → 1-D unique id array out. Lon wraps; lat clamps."""
    c = np.int64(cell)
    r = int(cell_res(c))
    n = np.int64(1) << np.int64(r)
    ix, iy = cell_xy(c)
    dx, dy = np.meshgrid(np.arange(-k, k + 1), np.arange(-k, k + 1))
    nx = np.mod(ix + dx.ravel(), n)
    ny = iy + dy.ravel()
    ok = (ny >= 0) & (ny < n)
    return np.unique(encode_xy(nx[ok].astype(np.uint64), ny[ok].astype(np.uint64), r))


def cover_bbox(lon_min, lat_min, lon_max, lat_max, res: int, limit: int = 4096) -> np.ndarray:
    """All cells at `res` intersecting the bbox (conservative superset cover
    used as the PIP-join pre-filter). Antimeridian-crossing boxes are out of
    scope (FIXTURES.md F2). Raises if the cover would exceed `limit` cells —
    callers should drop to a coarser res instead (bounded broadcast size)."""
    n = np.int64(1) << np.int64(res)
    ix0, iy0 = _grid_xy(lon_min, lat_min, res)
    # subtract epsilon so an exact upper edge doesn't spill into the next cell
    ix1, iy1 = _grid_xy(min(lon_max, 180.0 - 1e-12), min(lat_max, 90.0), res)
    ix1 = np.minimum(ix1, n - 1)
    iy1 = np.minimum(iy1, n - 1)
    count = int((ix1 - ix0 + 1) * (iy1 - iy0 + 1))
    if count > limit:
        raise ValueError(f"bbox cover of {count} cells exceeds limit {limit} at res {res}")
    xs = np.arange(int(ix0), int(ix1) + 1, dtype=np.uint64)
    ys = np.arange(int(iy0), int(iy1) + 1, dtype=np.uint64)
    gx, gy = np.meshgrid(xs, ys)
    return encode_xy(gx.ravel(), gy.ravel(), res)
