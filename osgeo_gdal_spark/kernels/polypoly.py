"""Polygon-polygon predicates without GEOS.

The exact-refine kernels behind a polygon x polygon spatial join — the
filter-and-refine pattern of ``ogrlayer.cpp:4004-4076`` extended beyond
point probes (the reference delegates the exact test to GEOS prepared
geometries; these are the closed-form equivalents for polygon rings):

- ``segments_cross``: proper segment intersection (strict), vectorized
  over all edge pairs;
- ``polygons_intersect``: interiors overlap ⟺ any edge pair crosses, or
  a vertex of one lies strictly inside the other, or (grazing overlap
  with no vertex containment) an edge MIDPOINT of one lies strictly
  inside the other. Boundary-only touches are NOT intersections here
  (strict-interior semantics, matching the repo's PIP convention; the
  fixture layers are built on offset grids so ties never arise);
- ``polygon_contains_polygon``: every vertex of B strictly inside A and
  no edge crossings.

All predicates operate on PackedGeometry ring arrays (kernels/wkb.py) and
honor holes via the even-odd PIP kernel.
"""

from __future__ import annotations

import numpy as np

from . import pip as PIP


def _rings(g):
    ring_i = 0
    for nrings in g.part_rings:
        for _ in range(int(nrings)):
            s, e = g.ring_offsets[ring_i], g.ring_offsets[ring_i + 1]
            yield g.xs[s:e], g.ys[s:e]
            ring_i += 1


def _edges(g):
    ex0, ey0, ex1, ey1 = [], [], [], []
    for xs, ys in _rings(g):
        x1, y1 = np.roll(xs, -1), np.roll(ys, -1)
        ex0.append(xs)
        ey0.append(ys)
        ex1.append(x1)
        ey1.append(y1)
    return (np.concatenate(ex0), np.concatenate(ey0),
            np.concatenate(ex1), np.concatenate(ey1))


def segments_cross(a0x, a0y, a1x, a1y, b0x, b0y, b1x, b1y) -> bool:
    """True if ANY segment of A properly crosses ANY segment of B
    (strict: shared endpoints / collinear touching do not count).
    Vectorized over the full (edges_A x edges_B) pair matrix."""
    A0x = a0x[:, None]; A0y = a0y[:, None]
    A1x = a1x[:, None]; A1y = a1y[:, None]
    B0x = b0x[None, :]; B0y = b0y[None, :]
    B1x = b1x[None, :]; B1y = b1y[None, :]
    d1 = (A1x - A0x) * (B0y - A0y) - (A1y - A0y) * (B0x - A0x)
    d2 = (A1x - A0x) * (B1y - A0y) - (A1y - A0y) * (B1x - A0x)
    d3 = (B1x - B0x) * (A0y - B0y) - (B1y - B0y) * (A0x - B0x)
    d4 = (B1x - B0x) * (A1y - B0y) - (B1y - B0y) * (A1x - B0x)
    return bool(((d1 * d2 < 0) & (d3 * d4 < 0)).any())


def polygons_intersect(ga, gb) -> bool:
    """Strict-interior intersection of two (multi)polygons with holes."""
    # cheap envelope reject first (FilterGeometry stage 1)
    ax0, ay0, ax1, ay1 = ga.envelope()
    bx0, by0, bx1, by1 = gb.envelope()
    if ax1 < bx0 or bx1 < ax0 or ay1 < by0 or by1 < ay0:
        return False
    ea = _edges(ga)
    eb = _edges(gb)
    if segments_cross(*ea, *eb):
        return True
    # vertex containment (covers A inside B / B inside A)
    if PIP.points_in_polygon(ea[0], ea[1], gb).any():
        return True
    if PIP.points_in_polygon(eb[0], eb[1], ga).any():
        return True
    # edge midpoints (covers equal-boundary / vertex-on-boundary overlaps)
    if PIP.points_in_polygon((ea[0] + ea[2]) / 2.0,
                             (ea[1] + ea[3]) / 2.0, gb).any():
        return True
    if PIP.points_in_polygon((eb[0] + eb[2]) / 2.0,
                             (eb[1] + eb[3]) / 2.0, ga).any():
        return True
    return False


def polygon_contains_polygon(ga, gb) -> bool:
    """A strictly contains B: all B vertices inside A, no edge crossings."""
    ea = _edges(ga)
    eb = _edges(gb)
    if segments_cross(*ea, *eb):
        return False
    return bool(PIP.points_in_polygon(eb[0], eb[1], ga).all())


def convex_hull(xs, ys):
    """Andrew monotone chain over point arrays; returns hull ring (open,
    CCW in y-up coords) — the ST_ConvexHull / `gdal vector convex-hull`
    kernel (no GEOS needed)."""
    pts = sorted(set(zip([float(v) for v in xs], [float(v) for v in ys])))
    if len(pts) <= 2:
        return pts

    def half(points):
        out = []
        for p in points:
            while len(out) >= 2 and (
                (out[-1][0] - out[-2][0]) * (p[1] - out[-2][1])
                - (out[-1][1] - out[-2][1]) * (p[0] - out[-2][0])
            ) <= 0:
                out.pop()
            out.append(p)
        return out

    lower = half(pts)
    upper = half(pts[::-1])
    return lower[:-1] + upper[:-1]


# --- boundary-exact predicate tier (OGC Touches/Overlaps/Equals/Covers,
#     ogrgeometry.cpp:6082 Touches / :6409 Overlaps / :1239 Equals /
#     GEOS covers — composed from the primitives above; the fixtures for
#     these predicates DELIBERATELY share coordinates, so unlike the
#     strict-interior tier every test here is boundary-aware) ------------

def _pts_on_edges(px, py, ex0, ey0, ex1, ey1):
    """Mask: which points lie ON any closed segment (collinear + within
    the segment bbox). Exact float arithmetic — fixtures share exact
    coordinates, so == is the right test."""
    PX = np.asarray(px, dtype=np.float64)[:, None]
    PY = np.asarray(py, dtype=np.float64)[:, None]
    X0 = ex0[None, :]; Y0 = ey0[None, :]
    X1 = ex1[None, :]; Y1 = ey1[None, :]
    cross = (X1 - X0) * (PY - Y0) - (Y1 - Y0) * (PX - X0)
    on = (
        (cross == 0)
        & (PX >= np.minimum(X0, X1)) & (PX <= np.maximum(X0, X1))
        & (PY >= np.minimum(Y0, Y1)) & (PY <= np.maximum(Y0, Y1))
    )
    return on.any(axis=1)


def _probe_points(e):
    """Vertices + edge midpoints of an edge set — the boundary sample
    used for closed (inside-or-on) membership tests."""
    xs = np.concatenate([e[0], (e[0] + e[2]) / 2.0])
    ys = np.concatenate([e[1], (e[1] + e[3]) / 2.0])
    return xs, ys


def _face_witnesses(ga, gb, max_halve=48):
    """Interior-face witness points of the two-polygon arrangement when
    NO edges properly cross: at every ring vertex v (of either polygon),
    the two wedge points v ± t·((prev+next)/2 − v) with t halved until
    the point is off BOTH boundaries. With no crossings every face of
    the arrangement is bounded by complete rings, and each ring's
    vertices contribute a witness on each side — so classifying the
    witnesses by strict PIP classifies every face that any boundary
    touches. Yields (x, y) points (off both boundaries)."""
    ea, eb = _edges(ga), _edges(gb)
    for g in (ga, gb):
        for xs, ys in _rings(g):
            if len(xs) >= 2 and xs[0] == xs[-1] and ys[0] == ys[-1]:
                xs, ys = xs[:-1], ys[:-1]   # open the ring: real wedges at
                # every vertex (the closing duplicate makes i=0 degenerate)
            n = len(xs)
            if n < 3:
                continue
            for i in range(n):
                vx, vy = float(xs[i]), float(ys[i])
                mx = (float(xs[i - 1]) + float(xs[(i + 1) % n])) / 2.0
                my = (float(ys[i - 1]) + float(ys[(i + 1) % n])) / 2.0
                if mx == vx and my == vy:
                    continue
                for sgn in (1.0, -1.0):
                    t = 0.25
                    for _ in range(max_halve):
                        px = vx + sgn * t * (mx - vx)
                        py = vy + sgn * t * (my - vy)
                        p = np.array([px]), np.array([py])
                        if (not _pts_on_edges(*p, *ea).any()
                                and not _pts_on_edges(*p, *eb).any()):
                            yield px, py
                            break
                        t /= 2.0


def interiors_intersect(ga, gb) -> bool:
    """True iff the OPEN interiors meet — the boundary-exact refinement
    of polygons_intersect (whose ray-cast counts some on-boundary points
    as inside). A proper edge crossing settles it; otherwise the face
    witnesses (off both boundaries, where strict PIP is reliable) are
    classified against both polygons."""
    ax0, ay0, ax1, ay1 = ga.envelope()
    bx0, by0, bx1, by1 = gb.envelope()
    if ax1 < bx0 or bx1 < ax0 or ay1 < by0 or by1 < ay0:
        return False
    ea, eb = _edges(ga), _edges(gb)
    if segments_cross(*ea, *eb):
        return True
    for px, py in _face_witnesses(ga, gb):
        p = np.array([px]), np.array([py])
        if PIP.points_in_polygon(*p, ga)[0] and PIP.points_in_polygon(*p, gb)[0]:
            return True
    return False


def boundaries_touch(ga, gb) -> bool:
    """Any boundary contact: a vertex of one lies on the other's
    boundary (covers crossing-at-vertex, shared edges, corner touches —
    collinear overlapping segments always put some endpoint on the other
    segment unless identical, and identical segments share endpoints)."""
    ea, eb = _edges(ga), _edges(gb)
    if _pts_on_edges(ea[0], ea[1], *eb).any():
        return True
    return bool(_pts_on_edges(eb[0], eb[1], *ea).any())


def polygons_touch(ga, gb) -> bool:
    """OGC Touches: boundaries meet, open interiors do not."""
    return boundaries_touch(ga, gb) and not interiors_intersect(ga, gb)


def polygons_covers(ga, gb) -> bool:
    """A covers B (closed containment; boundary contact allowed): no
    proper crossings, every boundary probe of B is inside-or-on A, and
    every interior face witness lying in B's interior also lies in A's
    (catches a hole of A poking into B even when all of B's own probes
    sit on shared boundary)."""
    ea, eb = _edges(ga), _edges(gb)
    if segments_cross(*ea, *eb):
        return False
    xs, ys = _probe_points(eb)
    inside = PIP.points_in_polygon(xs, ys, ga)
    on = _pts_on_edges(xs, ys, *ea)
    if not bool((inside | on).all()):
        return False
    for px, py in _face_witnesses(ga, gb):
        p = np.array([px]), np.array([py])
        if PIP.points_in_polygon(*p, gb)[0] and not PIP.points_in_polygon(*p, ga)[0]:
            return False
    return True


def polygons_equal(ga, gb) -> bool:
    """OGC Equals as exact ring-set equality: each ring canonicalized to
    its lexicographically-smallest rotation of the orientation-normalized
    open vertex list (the fixture layers carry exact coordinates; a
    tolerance tier would need snapping first)."""

    def canon(g):
        rings = set()
        for xs, ys in _rings(g):
            pts = list(zip(xs.tolist(), ys.tolist()))
            if len(pts) > 1 and pts[0] == pts[-1]:
                pts = pts[:-1]
            rev = pts[::-1]
            best = None
            for cand in (pts, rev):
                for r in range(len(cand)):
                    rot = tuple(cand[r:] + cand[:r])
                    if best is None or rot < best:
                        best = rot
            rings.add(best)
        return rings

    return canon(ga) == canon(gb)


def polygons_overlap(ga, gb) -> bool:
    """OGC Overlaps (same dimension): open interiors intersect and
    neither covers the other."""
    return (
        interiors_intersect(ga, gb)
        and not polygons_covers(ga, gb)
        and not polygons_covers(gb, ga)
    )


def polygons_disjoint(ga, gb) -> bool:
    """OGC Disjoint: no boundary contact and no interior intersection."""
    return not boundaries_touch(ga, gb) and not interiors_intersect(ga, gb)


def line_polygon_relate(gl, gp):
    """(has_interior_inside, has_interior_outside, boundary_contact) of a
    LineString against a polygon: line segments split at their proper
    crossings with the polygon's edges; each sub-segment midpoint (off
    the boundary by construction — a midpoint ON the boundary means the
    sub-segment runs along it and is excluded) classifies strictly
    inside or outside. The OGC line/area predicates compose from the
    triple: Crosses = in ∧ out; Within = in ∧ ¬out; Touches = contact ∧
    ¬in (ogrgeometry.cpp:6155 Crosses — GEOS replaced)."""
    lx = np.asarray(gl.xs, dtype=np.float64)
    ly = np.asarray(gl.ys, dtype=np.float64)
    a0x, a0y, a1x, a1y = lx[:-1], ly[:-1], lx[1:], ly[1:]
    ep = _edges(gp)

    rx = (a1x - a0x)[:, None]
    ry = (a1y - a0y)[:, None]
    sx = (ep[2] - ep[0])[None, :]
    sy = (ep[3] - ep[1])[None, :]
    qpx = ep[0][None, :] - a0x[:, None]
    qpy = ep[1][None, :] - a0y[:, None]
    rxs = rx * sy - ry * sx
    with np.errstate(divide="ignore", invalid="ignore"):
        t = (qpx * sy - qpy * sx) / rxs
        u = (qpx * ry - qpy * rx) / rxs
    cross = (rxs != 0) & (t > 0) & (t < 1) & (u > 0) & (u < 1)

    px_, py_ = [], []
    for i in range(len(a0x)):
        ts = sorted({0.0, 1.0} | {float(v) for v in t[i][cross[i]]})
        for ta, tb in zip(ts, ts[1:]):
            tm = (ta + tb) / 2.0
            px_.append(float(a0x[i]) + tm * float(a1x[i] - a0x[i]))
            py_.append(float(a0y[i]) + tm * float(a1y[i] - a0y[i]))
    P = np.array(px_), np.array(py_)
    onb = _pts_on_edges(*P, *ep)
    pin = PIP.points_in_polygon(*P, gp)
    has_in = bool((pin & ~onb).any())
    has_out = bool((~pin & ~onb).any())
    contact = bool(cross.any() or _pts_on_edges(lx, ly, *ep).any())
    return has_in, has_out, contact


def line_crosses_polygon(gl, gp) -> bool:
    """OGC Crosses (dim 1 vs dim 2): the line has interior points both
    inside and outside the polygon."""
    has_in, has_out, _ = line_polygon_relate(gl, gp)
    return has_in and has_out


def buffer_convex(g, dist: float, quadsegs: int = 30):
    """Positive round-join buffer of a CONVEX single-ring polygon — the
    Minkowski sum with a disc (OGRGeometry::Buffer,
    ogrgeometry.cpp:4949, delegates to GEOS; GEOS likewise discretizes
    arcs with ``quadsegs`` segments per quarter circle, which is the
    same contract here). Returns (xs, ys) of the buffered ring (open,
    CCW in y-up). For convex input this construction is exact up to the
    arc discretization: every edge offsets along its exterior normal
    and every vertex grows a circular arc spanning the exterior turn
    angle. Non-convex or negative-distance input raises (that tier
    genuinely needs a GEOS-class engine)."""
    import math

    if dist <= 0:
        raise NotImplementedError("negative/zero buffer needs GEOS-tier erosion")
    rings = list(_rings(g))
    if len(rings) != 1:
        raise NotImplementedError("buffer of multi-ring geometry needs GEOS")
    xs, ys = rings[0]
    if len(xs) >= 2 and xs[0] == xs[-1] and ys[0] == ys[-1]:
        xs, ys = xs[:-1], ys[:-1]
    # orient CCW (positive y-up shoelace)
    area2 = float(np.sum(xs * np.roll(ys, -1) - np.roll(xs, -1) * ys))
    if area2 < 0:
        xs, ys = xs[::-1].copy(), ys[::-1].copy()
    n = len(xs)
    # convexity check: all turns left (cross > 0); collinear allowed
    for i in range(n):
        ax, ay = xs[i - 1], ys[i - 1]
        bx, by = xs[i], ys[i]
        cx, cy = xs[(i + 1) % n], ys[(i + 1) % n]
        if (bx - ax) * (cy - by) - (by - ay) * (cx - bx) < 0:
            raise NotImplementedError("non-convex buffer needs GEOS")

    step = (math.pi / 2.0) / max(1, int(quadsegs))
    out_x, out_y = [], []
    for i in range(n):
        bx, by = float(xs[i]), float(ys[i])
        cxn, cyn = float(xs[(i + 1) % n]), float(ys[(i + 1) % n])
        axp, ayp = float(xs[i - 1]), float(ys[i - 1])
        # exterior normals of incoming and outgoing edges (CCW y-up:
        # interior on the left -> exterior normal = (dy, -dx)/|e|)
        for (ex0, ey0, ex1, ey1, which) in (
            (axp, ayp, bx, by, "in"),
            (bx, by, cxn, cyn, "out"),
        ):
            dx, dy = ex1 - ex0, ey1 - ey0
            ln = math.hypot(dx, dy)
            if ln == 0:
                continue
            if which == "in":
                nin = (dy / ln, -dx / ln)
            else:
                nout = (dy / ln, -dx / ln)
        a0 = math.atan2(nin[1], nin[0])
        a1 = math.atan2(nout[1], nout[0])
        turn = a1 - a0
        while turn < 0:
            turn += 2.0 * math.pi
        k = max(1, int(math.ceil(turn / step)))
        for j in range(k + 1):
            a = a0 + turn * j / k
            out_x.append(bx + dist * math.cos(a))
            out_y.append(by + dist * math.sin(a))
    return np.array(out_x), np.array(out_y)


def interior_point(pg) -> tuple:
    """A point guaranteed inside the polygon — OGRGeometry::PointOnSurface
    (ogrgeometry.cpp:6730, GEOS InteriorPointArea): scan the horizontal
    bisector of the envelope, collect even-odd boundary crossings, and
    take the midpoint of the WIDEST interior interval. If the bisector
    passes exactly through a vertex (degenerate crossing set), nudge it
    by successive fractions of the height, exactly GEOS's retry."""
    ys = pg.ys
    y0, y1 = float(np.min(ys)), float(np.max(ys))
    h = y1 - y0
    for k in range(1, 32):
        c = y0 + h * (0.5 + (0.0 if k == 1 else (0.5 / (1 << k)) * (-1) ** k))
        xs_cross = []
        bad = False
        for r in range(len(pg.ring_offsets) - 1):
            s, e = pg.ring_offsets[r], pg.ring_offsets[r + 1]
            rx, ry = pg.xs[s:e], pg.ys[s:e]
            n = len(rx)
            for i in range(n - 1):
                ya, yb = ry[i], ry[i + 1]
                if ya == c or yb == c:
                    bad = True
                    break
                if (ya < c) != (yb < c):
                    xs_cross.append(
                        float(rx[i] + (c - ya) * (rx[i + 1] - rx[i])
                              / (yb - ya))
                    )
            if bad:
                break
        if bad or len(xs_cross) < 2 or len(xs_cross) % 2 == 1:
            continue
        xs_cross.sort()
        best = max(
            range(0, len(xs_cross), 2),
            key=lambda i: xs_cross[i + 1] - xs_cross[i],
        )
        return (0.5 * (xs_cross[best] + xs_cross[best + 1]), c)
    # pathological flat polygon: fall back to the first vertex
    return (float(pg.xs[0]), float(pg.ys[0]))


def _seg_point_d2(px, py, ax, ay, bx, by):
    """Vectorized min squared distance from points (px, py) to segment
    (a, b): clamp the projection parameter to [0, 1]."""
    dx, dy = bx - ax, by - ay
    L2 = dx * dx + dy * dy
    if L2 == 0.0:
        qx, qy = ax, ay
        return (px - qx) ** 2 + (py - qy) ** 2
    t = np.clip(((px - ax) * dx + (py - ay) * dy) / L2, 0.0, 1.0)
    qx, qy = ax + t * dx, ay + t * dy
    return (px - qx) ** 2 + (py - qy) ** 2


def geometry_distance(A, B) -> float:
    """Planar minimum distance between two geometries
    (OGRGeometry::Distance, ogrgeometry.cpp:3892): 0 when boundaries
    cross or one contains the other's representative point; else the
    min vertex-to-segment distance both ways. Points/LineStrings/
    Polygons/MultiPolygons all reduce to their packed vertex/segment
    soup."""
    from .pip import points_in_polygon

    def segs(pg):
        out = []
        if pg.geom_type == "Point":
            return out
        for r in range(len(pg.ring_offsets) - 1):
            s, e = pg.ring_offsets[r], pg.ring_offsets[r + 1]
            xs, ys = pg.xs[s:e], pg.ys[s:e]
            if pg.geom_type == "LineString":
                pts = list(zip(xs, ys))
            else:
                pts = list(zip(xs, ys))
                if pts[0] != pts[-1]:
                    pts.append(pts[0])
            out.extend(
                (pts[i][0], pts[i][1], pts[i + 1][0], pts[i + 1][1])
                for i in range(len(pts) - 1)
            )
        return out

    poly_types = ("Polygon", "MultiPolygon")
    # containment short-circuit (distance 0)
    if A.geom_type in poly_types and len(B.xs):
        if bool(points_in_polygon(B.xs[:1], B.ys[:1], A).any()):
            return 0.0
    if B.geom_type in poly_types and len(A.xs):
        if bool(points_in_polygon(A.xs[:1], A.ys[:1], B).any()):
            return 0.0

    sa, sb = segs(A), segs(B)
    best = np.inf
    # vertex-of-A vs segments-of-B and vice versa covers the min for
    # non-crossing geometries; crossing pairs hit the containment /
    # zero tests below
    if sb:
        for x, y in zip(A.xs, A.ys):
            for (ax, ay, bx, by) in sb:
                best = min(best, float(_seg_point_d2(x, y, ax, ay, bx, by)))
    if sa:
        for x, y in zip(B.xs, B.ys):
            for (ax, ay, bx, by) in sa:
                best = min(best, float(_seg_point_d2(x, y, ax, ay, bx, by)))
    if not sa and not sb:   # point vs point
        best = float((A.xs[0] - B.xs[0]) ** 2 + (A.ys[0] - B.ys[0]) ** 2)
    # proper segment crossing -> 0
    if best > 0.0 and sa and sb:
        for (ax, ay, bx, by) in sa:
            for (cx, cy, dx, dy) in sb:
                d = (bx - ax) * (dy - cy) - (by - ay) * (dx - cx)
                if d == 0.0:
                    continue
                t = ((cx - ax) * (dy - cy) - (cy - ay) * (dx - cx)) / d
                u = ((cx - ax) * (by - ay) - (cy - ay) * (bx - ax)) / d
                if 0.0 <= t <= 1.0 and 0.0 <= u <= 1.0:
                    return 0.0
    return float(np.sqrt(best))
