"""Hierarchical cell ids on the WebMercatorQuad quadtree.

The cell id is a 64-bit integer encoding (zoom, gx, gy) of an XYZ/Google
tile via Morton (Z-order) interleave with a leading marker bit so that ids
of different zooms never collide and *prefix = parent* (the quadkey
property, matching gdal2tiles ``QuadTree`` digits — see
``/root/reference/swig/python/gdal-utils/osgeo_utils/gdal2tiles.py:518``):

    cell = (1 << (2*z)) | morton(gx, gy)        # 2 bits per level

``parent(cell) = cell >> 2``; ``children(cell) = cell*4 + [0,1,2,3]`` where
the child digit is the quadkey digit (bit0 = x, bit1 = y). The marker bit
makes the zoom recoverable: ``zoom = (bit_length(cell) - 1) // 2``.

kRing gives the (2r+1)^2 neighborhood at the same zoom (the H3-style ring
API over quadtree cells used by ring-expansion kNN — the candidate-gather
analog of ``/root/reference/alg/gdalgrid.cpp:261-277``). x wraps across the
antimeridian; y clamps at the poles.

Supports zoom 0..30 (2 + 60 bits < 63, fits signed int64 for Spark
LongType).
"""

from __future__ import annotations

import numpy as np

MAX_ZOOM = 30

# 16-bit -> 32-bit bit-spread table for fast Morton interleave.
_SPREAD16 = None


def _spread_table():
    global _SPREAD16
    if _SPREAD16 is None:
        v = np.arange(1 << 16, dtype=np.uint64)
        x = v
        x = (x | (x << 16)) & np.uint64(0x0000FFFF0000FFFF)
        x = (x | (x << 8)) & np.uint64(0x00FF00FF00FF00FF)
        x = (x | (x << 4)) & np.uint64(0x0F0F0F0F0F0F0F0F)
        x = (x | (x << 2)) & np.uint64(0x3333333333333333)
        x = (x | (x << 1)) & np.uint64(0x5555555555555555)
        _SPREAD16 = x
    return _SPREAD16


def _spread(v):
    """Interleave zeros between bits of v (v < 2^30)."""
    t = _spread_table()
    v = np.asarray(v, dtype=np.uint64)
    lo = t[(v & np.uint64(0xFFFF)).astype(np.int64)]
    hi = t[(v >> np.uint64(16)).astype(np.int64)]
    return (hi << np.uint64(32)) | lo


def encode(gx, gy, zoom):
    """(gx, gy, zoom) XYZ tile -> int64 cell id. Vectorized."""
    z = int(zoom)
    if not 0 <= z <= MAX_ZOOM:
        raise ValueError(f"zoom {z} out of range 0..{MAX_ZOOM}")
    gx = np.asarray(gx, dtype=np.int64)
    gy = np.asarray(gy, dtype=np.int64)
    morton = _spread(gx) | (_spread(gy) << np.uint64(1))
    marker = np.uint64(1) << np.uint64(2 * z)
    return (morton | marker).astype(np.int64)


def zoom_of(cell):
    """Recover zoom from the marker bit. Vectorized."""
    cell = np.asarray(cell, dtype=np.uint64)
    # bit_length-1 via log2 is unsafe for large ints; use a loop over 64 bits
    # on the unique high bit. Vectorized: position of highest set bit.
    out = np.zeros(cell.shape, dtype=np.int64)
    c = cell.copy()
    for shift in (32, 16, 8, 4, 2, 1):
        mask = c >= (np.uint64(1) << np.uint64(shift))
        out[mask] += shift
        c[mask] >>= np.uint64(shift)
    return out // 2


def decode(cell):
    """int64 cell id -> (gx, gy, zoom). Vectorized (single zoom not required)."""
    cell = np.asarray(cell, dtype=np.uint64)
    z = zoom_of(cell)
    morton = cell & ~(np.uint64(1) << (2 * z.astype(np.uint64)))
    gx = _compact(morton)
    gy = _compact(morton >> np.uint64(1))
    return gx.astype(np.int64), gy.astype(np.int64), z


def _compact(v):
    """Inverse of _spread: extract even bits."""
    v = np.asarray(v, dtype=np.uint64) & np.uint64(0x5555555555555555)
    v = (v | (v >> np.uint64(1))) & np.uint64(0x3333333333333333)
    v = (v | (v >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    v = (v | (v >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    v = (v | (v >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    v = (v | (v >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return v


def parent(cell, steps=1):
    """Parent cell `steps` zoom levels up (prefix property)."""
    return (np.asarray(cell, dtype=np.int64) >> (2 * steps)).astype(np.int64)


def children(cell):
    """The 4 children one zoom level down, digit order 0,1,2,3 (quadkey)."""
    c = np.asarray(cell, dtype=np.int64)
    base = c << 2
    return np.stack([base, base + 1, base + 2, base + 3], axis=-1)


def k_ring(cell: int, r: int) -> np.ndarray:
    """All cells within Chebyshev distance r of `cell` at the same zoom
    (the (2r+1)^2 box). x wraps at the antimeridian, y clamps at poles.
    """
    gx, gy, z = decode(np.asarray([cell]))
    gx, gy, z = int(gx[0]), int(gy[0]), int(z[0])
    n = 1 << z
    xs = (np.arange(gx - r, gx + r + 1) % n + n) % n
    ys = np.arange(max(0, gy - r), min(n - 1, gy + r) + 1)
    xv, yv = np.meshgrid(xs, ys)
    return np.unique(encode(xv.ravel(), yv.ravel(), z))


def cover_bbox(xmin, ymin, xmax, ymax, zoom, lat_is_y=True):
    """Cell cover of a lat/lon bbox at a zoom: all XYZ tiles intersecting it.

    Handles antimeridian-crossing boxes when xmin > xmax (split into two).
    Returns int64 cell ids. Driver-side helper for broadcast polygon covers
    (the analog of GDAL's filter-envelope install, ogrlayer.cpp:3887-3925).
    """
    from . import mercator as M

    if xmin > xmax:  # crosses antimeridian: split
        a = cover_bbox(xmin, ymin, 180.0, ymax, zoom)
        b = cover_bbox(-180.0, ymin, xmax, ymax, zoom)
        return np.unique(np.concatenate([a, b]))
    n = 1 << int(zoom)
    ymin_c = float(np.clip(ymin, -M.MAX_LAT, M.MAX_LAT))
    ymax_c = float(np.clip(ymax, -M.MAX_LAT, M.MAX_LAT))
    gx0, gy1 = M.latlon_to_tile_xyz(ymin_c, xmin, zoom)  # south-west -> max gy
    gx1, gy0 = M.latlon_to_tile_xyz(ymax_c, xmax, zoom)  # north-east -> min gy
    gx0, gx1 = int(gx0), int(gx1)
    gy0, gy1 = int(gy0), int(gy1)
    xs = np.arange(gx0, min(gx1, n - 1) + 1)
    ys = np.arange(gy0, min(gy1, n - 1) + 1)
    xv, yv = np.meshgrid(xs, ys)
    return np.unique(encode(xv.ravel(), yv.ravel(), zoom))
