"""Ray-cast point-in-polygon on packed coordinate arrays.

Exact vectorized port of ``OGRLinearRing::isPointInRing``
(``/root/reference/ogr/ogrlinearring.cpp:452-521``): odd crossing count of
the rightward ray, y-straddle test ``((y1>0) != (y2>0))`` in its literal
form ``((y1>0 and y2<=0) or (y2>0 and y1<=0))``, crossing accepted when the
x-intersection ``(x1*y2 - x2*y1)/(y2-y1) > 0``. Coordinates are translated
to the test point first, exactly as the reference does — this is
*strict-interior* semantics (boundary points are NOT inside unless the ray
arithmetic says so; GDAL pairs this with a separate isPointOnRingBoundary,
``ogrlinearring.cpp:524``, which we do not need for generic-position data).

Polygon containment composes rings per ``OGRPolygon::Contains`` fast path
(``/root/reference/ogr/ogrpolygon.cpp:780``): inside exterior ring AND
inside no hole.

Vectorization strategy: loop over *segments* (polygons have tens..thousands
of vertices), vectorize over *points* (batches of 10^4..10^6) — the shape
Arrow batches hand us.
"""

from __future__ import annotations

import numpy as np

from .wkb import PackedGeometry


def points_in_ring(px, py, ring_xs, ring_ys):
    """Boolean mask: which of the points are strictly inside the ring.

    px/py: float64 arrays of test points. ring_xs/ring_ys: closed ring
    (first == last vertex), >= 4 points.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    n = len(ring_xs)
    if n < 4:
        return np.zeros(px.shape, dtype=bool)
    crossings = np.zeros(px.shape, dtype=np.int64)
    # diffs relative to test points, exactly like the reference
    x2 = ring_xs[0] - px
    y2 = ring_ys[0] - py
    for i in range(1, n):
        x1 = ring_xs[i] - px
        y1 = ring_ys[i] - py
        straddle = ((y1 > 0) & (y2 <= 0)) | ((y2 > 0) & (y1 <= 0))
        if straddle.any():
            with np.errstate(divide="ignore", invalid="ignore"):
                xint = (x1 * y2 - x2 * y1) / (y2 - y1)
            crossings += (straddle & (xint > 0.0)).astype(np.int64)
        x2, y2 = x1, y1
    return (crossings % 2) != 0


def points_in_polygon(px, py, geom: PackedGeometry, test_envelope=True):
    """Boolean mask: strictly inside the (multi)polygon.

    Per part: inside exterior ring AND NOT inside any hole
    (ogrpolygon.cpp:780); multipolygon = any part contains.
    """
    px = np.asarray(px, dtype=np.float64)
    py = np.asarray(py, dtype=np.float64)
    result = np.zeros(px.shape, dtype=bool)
    if test_envelope:
        xmin, ymin, xmax, ymax = geom.envelope()
        cand = (px >= xmin) & (px <= xmax) & (py >= ymin) & (py <= ymax)
        if not cand.any():
            return result
    else:
        cand = np.ones(px.shape, dtype=bool)

    idx = np.nonzero(cand)[0]
    cpx, cpy = px[idx], py[idx]
    acc = np.zeros(cpx.shape, dtype=bool)
    ring_i = 0
    for nrings in geom.part_rings:
        s, e = geom.ring_offsets[ring_i], geom.ring_offsets[ring_i + 1]
        inside = points_in_ring(cpx, cpy, geom.xs[s:e], geom.ys[s:e])
        for j in range(1, int(nrings)):
            if inside.any():
                hs = geom.ring_offsets[ring_i + j]
                he = geom.ring_offsets[ring_i + j + 1]
                in_hole = points_in_ring(cpx, cpy, geom.xs[hs:he], geom.ys[hs:he])
                inside &= ~in_hole
        acc |= inside
        ring_i += int(nrings)
    result[idx] = acc
    return result

