"""General ST_Buffer (positive AND negative) — the round-3 extension.

``OGRGeometry::Buffer`` (``/root/reference/ogr/ogrgeometry.cpp:4949``)
delegates to GEOS Buffer with quadrant segments. The container has no
GEOS, so this builds the buffer from first principles via the
mathematical-morphology identities, with the snap-rounding overlay
(kernels/snap.py) doing the set algebra — the piece soup is full of
shared edges and vertex contacts, exactly what that kernel exists for:

- dilation  A ⊕ D = A ∪ (∂A ⊕ D):  union-fold A with the boundary
  band = one swept rectangle per edge (both sides, width 2d) plus one
  disk polygon (4·quadsegs-gon, GEOS's quadrant-segment discretization,
  vertex at angle 0) per vertex;
- erosion   A ⊖ D = A − (∂A ⊕ D):  difference-fold A with the same
  band (negative buffer; also how gdal warp cutline insets work).

Both identities are exact for sets; the only approximation is the
polygonal disk (inscribed 4·quadsegs-gon — the same discretization
GEOS uses). Holes and multi-part inputs need no special cases: the
band covers every ring's boundary, so dilation shrinks holes and
erosion grows them, by construction.

For AXIS-ALIGNED inputs the result is exactly the Minkowski sum with
the 4·quadsegs-gon (rect ends meet disk vertices at the axis angles),
giving closed-form areas: dilation of a convex w×h rect =
w·h + 2(w+h)·d + 4·quadsegs·(d²/2)·sin(π/(2·quadsegs)); erosion =
(w−2d)(h−2d). Non-axis corners are within the usual chord-sagitta
approximation of GEOS.
"""

from __future__ import annotations

import math

import numpy as np

from . import snap as SN


def disk_polygon(cx: float, cy: float, d: float, quadsegs: int = 8):
    """Inscribed 4·quadsegs-gon around (cx, cy), CCW, vertex at angle
    0 — so axis-aligned edge rects meet it exactly at their corners.

    Built as ONE first-quadrant arc rotated by exact coordinate swaps
    ((c,s) -> (-s,c) -> (-c,-s) -> (s,-c)): libm's sin(pi) = 1.2e-16
    noise would otherwise leak into the axis vertices, where adding a
    POSITION turns it into a position-DEPENDENT ulp (cy + d*1.2e-16
    rounds differently at cy=1 vs cy=99) — breaking the translation
    equivariance the dyadic buffer oracles and the per-class fixture
    cache rely on (found by the r7 sf1 sweep: the qs=1 chamfer diamond
    {(±d,0),(0,±d)} must be exact at every position)."""
    qs = int(quadsegs)
    cs = [(1.0, 0.0)]
    cs += [(math.cos(math.pi / 2 * k / qs), math.sin(math.pi / 2 * k / qs))
           for k in range(1, qs)]
    quad = cs
    full = (quad
            + [(-s, c) for c, s in quad]
            + [(-c, -s) for c, s in quad]
            + [(s, -c) for c, s in quad])
    xs = np.array([cx + d * c for c, s in full])
    ys = np.array([cy + d * s for c, s in full])
    return (xs, ys)


def edge_capsule(ax, ay, bx, by, d, quadsegs: int = 8):
    """Segment ⊕ disk-polygon = the convex hull of the disk translated
    to both endpoints (the Minkowski sum of a segment and a convex
    polygon) — ONE convex piece per edge replacing the swept rect plus
    its two end disks. Returns a CCW ring or None for a degenerate
    edge with coincident endpoints."""
    from .polypoly import convex_hull

    da = disk_polygon(ax, ay, d, quadsegs)
    db = disk_polygon(bx, by, d, quadsegs)
    pts = convex_hull(np.concatenate([da[0], db[0]]),
                      np.concatenate([da[1], db[1]]))
    if len(pts) < 3:
        return None
    return (np.array([p[0] for p in pts]), np.array([p[1] for p in pts]))


def band_pieces(rings, d: float, quadsegs: int = 8):
    """∂A ⊕ D as a list of single-ring soups: one convex capsule per
    edge over every ring of the soup (end disks are the capsule caps,
    shared between adjacent edges)."""
    pieces = []
    for xs, ys in rings:
        n = len(xs)
        for i in range(n):
            c = edge_capsule(float(xs[i]), float(ys[i]),
                             float(xs[(i + 1) % n]), float(ys[(i + 1) % n]),
                             d, quadsegs)
            if c is not None:
                pieces.append(c)
    return pieces


def buffer_rings(rings, d: float, quadsegs: int = 8, grid: float = None):
    """Buffer a ring soup by signed distance ``d`` (negative = erosion).
    Returns a ring soup in world coordinates. Planar (no dateline
    wrap); fully-eroded input returns [].

    The band fold runs as ONE n-way arrangement pass
    (kernels/snap.overlay_rings_snapped_n) — a sequential per-piece
    fold re-nodes the growing accumulator per piece and was the
    st_buffer bench hotspot."""
    if d == 0.0 or not rings:
        return list(rings)
    pieces = band_pieces(rings, abs(float(d)), quadsegs)
    if grid is None:
        grid = SN.default_grid(rings, pieces)
    op = "union" if d > 0 else "difference"
    return SN.overlay_rings_snapped_n(
        rings, [[p] for p in pieces], op, grid
    )


def buffer_path(xs, ys, d: float, quadsegs: int = 8, grid: float = None,
                closed: bool = False):
    """Buffer a polyline (or closed path) by ``d > 0``: the union of
    per-segment capsules — the LineString arm of OGRGeometry::Buffer.
    Returns a ring soup."""
    if d <= 0.0:
        raise ValueError("line buffer needs d > 0")
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    n = len(xs)
    pieces = []
    last = n if closed else n - 1
    for i in range(last):
        c = edge_capsule(float(xs[i]), float(ys[i]),
                         float(xs[(i + 1) % n]), float(ys[(i + 1) % n]),
                         d, quadsegs)
        if c is not None:
            pieces.append(c)
    if not pieces:
        return []
    if grid is None:
        grid = SN.default_grid([], pieces)
    return SN.overlay_rings_snapped_n(
        [pieces[0]], [[p] for p in pieces[1:]], "union", grid
    )
