"""Snap-rounding overlay: boolean ops on NON-general-position inputs.

Closes the general-position contract gap named by kernels/
overlay_kernel.py and kernels/polypoly.py: real-world layers constantly
present vertex-on-edge (T) contacts and collinear overlapping (shared)
edges between the two inputs, which the crossing-only kernel refuses.
GEOS solved the same problem with a snap-rounding pass before its
overlay (the reference reaches it via ``OGRGeometry::Intersection``,
``/root/reference/ogr/ogrgeometry.cpp:4893``, and the layer-algebra
SNAP options, ``ogr/ogrsf_frmts/generic/ogrlayer.cpp:5402``).

Recipe (all per-pair, feature-sized — runs inside the same broadcast
Arrow kernel as the general-position overlay):

1. **Snap** both inputs to a power-of-two grid (ST_SetPrecision
   semantics; the default resolution derives from coordinate
   magnitude). Snapped coordinates are exact dyadic floats, so they
   convert losslessly to int64 LATTICE UNITS.
2. **Snap-round the arrangement** (round 5 — classical Hobby /
   Guibas-Marshall): proper crossings are WELDED to the integer
   lattice and every edge reroutes through each hot pixel (closed
   half-unit square around a vertex or rounded crossing) it
   intersects, iterated to convergence. The subdivision stays
   ALL-INTEGER, and every vertex ends >= 0.5 lattice units (L-inf)
   from every non-incident sub-segment — so the round-4 float-noding
   failure modes (noise micro-segments, collapsed probe clearances)
   cannot occur. T-contacts and collinear overlaps node exactly.
3. **Classify by side-sampling**: a sub-segment lies on the result
   boundary iff the op's predicate (inA ∧ inB for intersection,
   inA ∨ inB for union, inA ∧ ¬inB for difference) differs between
   the two sides. Probes sit at CLEARANCE-BOUNDED offsets (half the
   exact first-crossing distance of the probe ray), so they always
   sample the adjacent face. Coincident (shared) sub-segments
   collapse to one before probing.
4. **Orient interior-on-left and face-walk**: kept segments are
   directed so the result interior lies to their left (shells come out
   CCW, holes CW). Assembly picks, at every node, the first outgoing
   edge CLOCKWISE from the reversed incoming direction — the planar
   face-traversal successor rule — which stays correct at the degree-4
   nodes (corner contacts) the general-position walker never sees.

Contract notes:
- The boolean ops return the AREAL (dimension-2) component; the
  LINESTRING component of boundary-only intersections is available
  separately via ``overlay_lines_snapped`` (round 5 — the
  KEEP_LOWER_DIMENSION_GEOMETRIES half; corner-touch POINTs remain
  unemitted).
- Snapping + hot-pixel rerouting is a real geometric perturbation of
  O(grid) per vertex — the same contract as ST_SetPrecision + GEOS
  snap-rounding. Conservation laws (i + d = a, u = a + b - i) hold
  EXACTLY against the rounded inputs (overlay_areas_snapped 'a'/'b').
"""

from __future__ import annotations

import math

import numpy as np

from .clip import ring_area
from .overlay_kernel import (
    _points_in_rings,
    geometry_rings,
    rings_area,
    rings_envelope,
    rings_to_wkb,
)

# lattice extent bound: |coord|/grid < 2^25 keeps every cross/dot
# product within 2^51 — exact in int64 AND in float64
_MAX_LATTICE = 1 << 25

# cut-point weld sub-lattice: float crossing points are quantized to
# 2^-20 lattice units so that geometrically-coincident crossings
# (three near-concurrent edges, coincident capsule edges) become
# BIT-IDENTICAL and the rounding-noise micro-segments between them
# (observed: 6.6e-10 lattice units long, with a noise-direction
# normal that defeats side probing) collapse to exact zero length.
# The perturbation is grid/2^21 in world units — 6 orders below the
# grid/2 snap perturbation the kernel already accepts.
_WELD = float(1 << 20)

# probe-ray clearance floor (lattice units): hits closer than this are
# float noise from edges passing exactly through the probe base (the
# collinear parents), not real faces. 2^-22 sits well above the
# ~1e-9 cross-product noise and below the 2^-20 weld cell.
_T_FLOOR = 2.0 ** -22


def default_grid(rings_a, rings_b) -> float:
    """Snap resolution derived from coordinate magnitude (the
    SetPrecision auto rule): 2^(e-23) for the smallest power of two
    2^e >= max|coord| — ~7 decimal digits of relative precision
    (float32-grade, far above double noise), and a lattice extent of
    2^24 that stays inside the kernel's exact-int64 bound (2^25)."""
    m = 1.0
    for rings in (rings_a, rings_b):
        for xs, ys in rings:
            if len(xs):
                m = max(m, float(np.abs(xs).max()), float(np.abs(ys).max()))
    return 2.0 ** (math.ceil(math.log2(m)) - 23)


def snap_rings(rings, grid: float):
    """ST_SetPrecision over a ring soup: quantize every vertex to the
    grid (round-half-away, exact for power-of-two grids), drop repeated
    consecutive vertices and collapsed rings, restore orientation
    (shells CCW / holes CW survive by sign of the snapped area)."""
    out = []
    for xs, ys in rings:
        qx = np.rint(np.asarray(xs, dtype=np.float64) / grid)
        qy = np.rint(np.asarray(ys, dtype=np.float64) / grid)
        if np.abs(qx).max(initial=0) >= _MAX_LATTICE or \
                np.abs(qy).max(initial=0) >= _MAX_LATTICE:
            raise ValueError(
                f"snap grid {grid} too fine for coordinate magnitude "
                f"(lattice extent >= 2^25); pick a coarser grid"
            )
        keep = np.ones(len(qx), dtype=bool)
        if len(qx) > 1:
            keep[1:] = (qx[1:] != qx[:-1]) | (qy[1:] != qy[:-1])
            if qx[0] == qx[-1] and qy[0] == qy[-1]:
                keep[-1] = False
        qx, qy = qx[keep] * grid, qy[keep] * grid
        if len(qx) < 3 or ring_area(qx, qy) == 0.0:
            continue
        out.append((qx, qy))
    return out


def _lattice_edges(rings, grid: float):
    """Ring soup -> int64 directed edge arrays in lattice units."""
    ex0, ey0, ex1, ey1 = [], [], [], []
    for xs, ys in rings:
        ix = np.rint(np.asarray(xs) / grid).astype(np.int64)
        iy = np.rint(np.asarray(ys) / grid).astype(np.int64)
        ex0.append(ix)
        ey0.append(iy)
        ex1.append(np.roll(ix, -1))
        ey1.append(np.roll(iy, -1))
    if not ex0:
        z = np.zeros(0, dtype=np.int64)
        return z, z, z, z
    return (np.concatenate(ex0), np.concatenate(ey0),
            np.concatenate(ex1), np.concatenate(ey1))


def _node_edges(ea, eb):
    """Exact noding of edge set ``ea`` against edge set ``eb`` (both
    int64 lattice): returns ``cuts`` — edge index -> list of
    (t_as_float, px, py) split points in LATTICE float coords — covering
    proper crossings, T-contacts (eb endpoints interior to an ea edge)
    and collinear overlaps (projections of eb endpoints onto collinear
    ea edges). Crossing points must be computed by the CALLER once per
    pair and pushed into both sides' cuts; this helper only handles the
    asymmetric endpoint-on-edge family."""
    ax0, ay0, ax1, ay1 = (a.astype(np.float64) for a in ea)
    cuts: dict = {}
    # candidate endpoints of eb: unique lattice points
    pts = np.unique(
        np.stack([np.concatenate([eb[0], eb[2]]),
                  np.concatenate([eb[1], eb[3]])], axis=1), axis=0
    )
    if not len(pts) or not len(ea[0]):
        return cuts
    px = pts[:, 0].astype(np.float64)
    py = pts[:, 1].astype(np.float64)
    rx = (ax1 - ax0)[:, None]
    ry = (ay1 - ay0)[:, None]
    qx = px[None, :] - ax0[:, None]
    qy = py[None, :] - ay0[:, None]
    # exact in float64: all quantities are integers < 2^51
    cross = rx * qy - ry * qx
    dot = rx * qx + ry * qy
    rr = rx * rx + ry * ry
    on = (cross == 0.0) & (dot > 0.0) & (dot < rr)
    ii, jj = np.nonzero(on)
    for i, j in zip(ii.tolist(), jj.tolist()):
        t = float(dot[i, j] / rr[i, 0])
        cuts.setdefault(i, []).append((t, float(px[j]), float(py[j])))
    return cuts


def _proper_crossings(ea, eb, cuts_a, cuts_b):
    """Exact proper-crossing detection on the lattice; the float
    crossing point is computed once and shared."""
    ax0, ay0, ax1, ay1 = (a.astype(np.float64) for a in ea)
    bx0, by0, bx1, by1 = (b.astype(np.float64) for b in eb)
    rx = (ax1 - ax0)[:, None]
    ry = (ay1 - ay0)[:, None]
    sx = (bx1 - bx0)[None, :]
    sy = (by1 - by0)[None, :]
    qpx = bx0[None, :] - ax0[:, None]
    qpy = by0[None, :] - ay0[:, None]
    rxs = rx * sy - ry * sx          # exact: integer-valued
    c1 = qpx * sy - qpy * sx
    c2 = qpx * ry - qpy * rx
    with np.errstate(divide="ignore", invalid="ignore"):
        t = c1 / rxs
        u = c2 / rxs
    cross = (rxs != 0) & (t > 0) & (t < 1) & (u > 0) & (u < 1)
    ia, ib = np.nonzero(cross)
    for i, j in zip(ia.tolist(), ib.tolist()):
        tv = float(t[i, j])
        uv = float(u[i, j])
        px = float(ax0[i]) + tv * float(ax1[i] - ax0[i])
        py = float(ay0[i]) + tv * float(ay1[i] - ay0[i])
        cuts_a.setdefault(i, []).append((tv, px, py))
        cuts_b.setdefault(j, []).append((uv, px, py))


def _split(ea, cuts):
    """Split lattice edges at their cut points -> float sub-segment
    endpoint lists (lattice units). Cut points are WELDED to the
    2^-20 sub-lattice so coincident crossings computed from different
    edge parameterizations agree bitwise (micro-segment killer)."""
    x0, y0, x1, y1 = (a.astype(np.float64) for a in ea)
    segs = []
    for i in range(len(x0)):
        pts = [(0.0, float(x0[i]), float(y0[i]))]
        pts += sorted(
            {(t, round(px * _WELD) / _WELD, round(py * _WELD) / _WELD)
             for (t, px, py) in cuts.get(i, ())}
        )
        pts.append((1.0, float(x1[i]), float(y1[i])))
        for (_, ax, ay), (_, bx, by) in zip(pts, pts[1:]):
            if ax == bx and ay == by:
                continue
            segs.append((ax, ay, bx, by))
    return segs


def _side_probes(segs, soups):
    """Vectorized left/right side probes for a list of sub-segments.

    A probe must sample the face ADJACENT to the segment, so its
    offset ε is bounded by the CLEARANCE — the distance along ±n̂ from
    the base point to the first crossing with any edge of any soup
    (a fixed ε can silently jump a sliver face thinner than ε, which
    is exactly what snapped buffer arrangements produce: this was the
    round-4 erosion wrong-answer). Probes landing exactly ON an edge
    (collinear within the edge's extent) are re-tried with halved ε
    and then from shifted base points along the segment.
    Returns (Lx, Ly, Rx, Ry) arrays in lattice units.
    """
    ax = np.array([s[0] for s in segs])
    ay = np.array([s[1] for s in segs])
    bx = np.array([s[2] for s in segs])
    by = np.array([s[3] for s in segs])
    dx, dy = bx - ax, by - ay
    ln = np.hypot(dx, dy)
    nx, ny = -dy / ln, dx / ln

    # all edges of all soups, flattened
    e0x, e0y, e1x, e1y = [], [], [], []
    for rings in soups:
        for xs, ys in rings:
            e0x.append(np.asarray(xs))
            e0y.append(np.asarray(ys))
            e1x.append(np.roll(xs, -1))
            e1y.append(np.roll(ys, -1))
    ex0 = np.concatenate(e0x)[None, :]
    ey0 = np.concatenate(e0y)[None, :]
    ex1 = np.concatenate(e1x)[None, :]
    ey1 = np.concatenate(e1y)[None, :]
    rx, ry = ex1 - ex0, ey1 - ey0
    rr = rx * rx + ry * ry

    def on_any(px, py):
        qx = px[:, None] - ex0
        qy = py[:, None] - ey0
        cross = rx * qy - ry * qx
        dot = rx * qx + ry * qy
        return ((cross == 0.0) & (dot >= 0.0) & (dot <= rr)).any(axis=1)

    def clearance_eps(px, py):
        """Half the first-crossing distance of the probe ray
        p ± t·n̂ against every edge (t solved by Cramer; hits below
        _T_FLOOR are the collinear parents through the base point,
        not faces). Returns per-segment (eps_left, eps_right)."""
        den = nx[:, None] * ry - ny[:, None] * rx       # n̂ × r
        qx = ex0 - px[:, None]
        qy = ey0 - py[:, None]
        with np.errstate(divide="ignore", invalid="ignore"):
            t = (qx * ry - qy * rx) / den
            u = (qx * ny[:, None] - qy * nx[:, None]) / den
        valid = (den != 0.0) & (u >= 0.0) & (u <= 1.0) & np.isfinite(t)
        tl = np.where(valid & (t > _T_FLOOR), t, np.inf).min(axis=1)
        tr = np.where(valid & (t < -_T_FLOOR), -t, np.inf).min(axis=1)
        return (np.minimum(0.25, 0.5 * tl), np.minimum(0.25, 0.5 * tr))

    for f in (0.5, 0.25, 0.75, 0.375, 0.625):
        px, py = ax + f * dx, ay + f * dy
        eps_l, eps_r = clearance_eps(px, py)
        for _ in range(20):
            lx, ly = px + eps_l * nx, py + eps_l * ny
            rx2, ry2 = px - eps_r * nx, py - eps_r * ny
            bad = on_any(lx, ly) | on_any(rx2, ry2)
            if not bad.any():
                return lx, ly, rx2, ry2
            eps_l = np.where(bad, eps_l * 0.5, eps_l)
            eps_r = np.where(bad, eps_r * 0.5, eps_r)
    raise RuntimeError(
        "snapped overlay: side probes could not clear the boundaries")


_OPS = {
    "intersection": lambda a, b: a & b,
    "union": lambda a, b: a | b,
    "difference": lambda a, b: a & ~b,
}


# ---------------------------------------------------------------------------
# Integer snap-rounding arrangement (round 5).
#
# Round 4 noded at FLOAT crossing points, which broke the exact-lattice
# guarantee downstream: rounding-noise micro-segments (6.6e-10 lattice
# units long, with noise-direction normals) defeated side probing, and
# near-parallel float slivers collapsed probe clearances — the general-
# buffer wrong answer. The classical fix is snap rounding (Hobby 1999;
# Guibas & Marshall): round every crossing to the lattice and REROUTE
# each edge through every "hot pixel" (closed half-unit square around a
# vertex or rounded crossing) it intersects, iterating until no proper
# crossings remain. The result is an ALL-INTEGER planar subdivision
# with a hard guarantee: every vertex is >= 0.5 lattice units (L-inf)
# from every non-incident sub-segment — since the min distance between
# two non-crossing segments is attained at an endpoint, non-incident
# sub-segments are >= 0.5 apart, so probe clearances are never noise.
# Perturbation stays O(grid) per vertex, the contract already accepted.
# ---------------------------------------------------------------------------


def _segs_of_chains(chains):
    """Closed int-vertex chains -> directed segment list [(a, b)]."""
    segs = []
    for ring in chains:
        n = len(ring)
        for i in range(n):
            a, b = ring[i], ring[(i + 1) % n]
            if a != b:
                segs.append((a, b))
    return segs


def _int_crossings(segs):
    """Rounded lattice points of all PROPER crossings among integer
    segments. Sign tests are exact int64 (products <= 2^53); the float
    crossing point has ~1e-9 error, far below the 0.5 rounding cell."""
    pts = set()
    n = len(segs)
    if n < 2:
        return pts
    A = np.array([s[0] for s in segs], dtype=np.int64)
    B = np.array([s[1] for s in segs], dtype=np.int64)
    ax, ay, bx, by = A[:, 0], A[:, 1], B[:, 0], B[:, 1]
    rx, ry = bx - ax, by - ay
    chunk = max(1, (1 << 22) // max(n, 1))
    for lo in range(0, n, chunk):
        hi = min(n, lo + chunk)
        rxs = rx[lo:hi, None] * ry[None, :] - ry[lo:hi, None] * rx[None, :]
        qpx = ax[None, :] - ax[lo:hi, None]
        qpy = ay[None, :] - ay[lo:hi, None]
        c1 = qpx * ry[None, :] - qpy * rx[None, :]
        c2 = qpx * ry[lo:hi, None] - qpy * rx[lo:hi, None]
        pos = rxs > 0
        tin = np.where(pos, (c1 > 0) & (c1 < rxs), (c1 < 0) & (c1 > rxs))
        uin = np.where(pos, (c2 > 0) & (c2 < rxs), (c2 < 0) & (c2 > rxs))
        cross = (rxs != 0) & tin & uin
        ii, jj = np.nonzero(cross)
        for i, j in zip((ii + lo).tolist(), jj.tolist()):
            if i == j:
                continue
            t = float(c1[i - lo, j]) / float(rxs[i - lo, j])
            px = float(ax[i]) + t * float(rx[i])
            py = float(ay[i]) + t * float(ry[i])
            pts.add((int(round(px)), int(round(py))))
    return pts


def _reroute_vias(segs, hot):
    """For each integer segment, the ordered list of hot pixels whose
    CLOSED half-unit square it intersects (excluding its endpoints) —
    the snap-rounding reroute. Exact int64 SAT test on 2x-scaled
    coordinates (segment vs axis-aligned box: bbox overlap + not all
    four corners strictly on one side of the segment line)."""
    if not segs or not hot:
        return {}
    A = np.array([s[0] for s in segs], dtype=np.int64) * 2
    B = np.array([s[1] for s in segs], dtype=np.int64) * 2
    ax, ay, bx, by = A[:, 0], A[:, 1], B[:, 0], B[:, 1]
    rx, ry = bx - ax, by - ay
    H = np.array(sorted(hot), dtype=np.int64) * 2
    vias: dict = {}
    chunk = max(1, (1 << 22) // max(len(segs), 1))
    for lo in range(0, len(H), chunk):
        hx = H[lo:lo + chunk, 0][None, :]
        hy = H[lo:lo + chunk, 1][None, :]
        bb = ((np.minimum(ax, bx)[:, None] <= hx + 1)
              & (np.maximum(ax, bx)[:, None] >= hx - 1)
              & (np.minimum(ay, by)[:, None] <= hy + 1)
              & (np.maximum(ay, by)[:, None] >= hy - 1))
        # separating-axis: no hit when all 4 box corners lie strictly
        # on one side of the segment's line
        allpos = np.ones(bb.shape, dtype=bool)
        allneg = np.ones(bb.shape, dtype=bool)
        for dx in (-1, 1):
            for dy in (-1, 1):
                cr = (rx[:, None] * (hy + dy - ay[:, None])
                      - ry[:, None] * (hx + dx - ax[:, None]))
                allpos &= cr > 0
                allneg &= cr < 0
        hit = bb & ~(allpos | allneg)
        ii, jj = np.nonzero(hit)
        for i, j in zip(ii.tolist(), (jj + lo).tolist()):
            h = (int(H[j, 0] // 2), int(H[j, 1] // 2))
            if h == segs[i][0] or h == segs[i][1]:
                continue
            vias.setdefault(i, []).append(h)
    # order vias along each segment by exact projection
    for i, lst in vias.items():
        (x0, y0), (x1, y1) = segs[i]
        dx, dy = x1 - x0, y1 - y0
        lst.sort(key=lambda h: (h[0] - x0) * dx + (h[1] - y0) * dy)
    return vias


def _snap_round_chains(chains):
    """Iterated snap rounding of closed integer-vertex chains: node at
    rounded crossings and reroute through hot pixels until the
    arrangement has no proper crossings and no un-split pixel
    penetration. Returns the rerouted chains (still closed, integer)."""
    for _ in range(16):
        segs = _segs_of_chains(chains)
        hot = {p for ring in chains for p in ring}
        hot |= _int_crossings(segs)
        vias = _reroute_vias(segs, hot)
        if not vias:
            return chains
        out, k = [], 0
        for ring in chains:
            n = len(ring)
            nring = []
            for i in range(n):
                a, b = ring[i], ring[(i + 1) % n]
                nring.append(a)
                if a != b:
                    nring.extend(vias.get(k, ()))
                    k += 1
            # drop consecutive duplicates
            clean = [p for q, p in zip([nring[-1]] + nring[:-1], nring)
                     if p != q]
            out.append(clean if clean else nring[:1])
        chains = out
    raise RuntimeError("snap rounding did not converge in 16 rounds")


def _rounded_core(groups, grid):
    """Joint snap-rounded arrangement of several ring soups (WORLD
    coords on the grid). Returns (lat_groups, segs_u, seg_groups):
    the rerouted ring soups in lattice units (float arrays, for
    even-odd PIP), the deduped undirected integer sub-segments (as
    float 4-tuples, for side-probe classification), and the set of
    group indices whose boundary contributed each sub-segment (the
    lower-dimensional overlay needs boundary provenance)."""
    chains, gidx = [], []
    for g, soup in enumerate(groups):
        for xs, ys in soup:
            ix = np.rint(np.asarray(xs) / grid).astype(np.int64)
            iy = np.rint(np.asarray(ys) / grid).astype(np.int64)
            chains.append(list(zip(ix.tolist(), iy.tolist())))
            gidx.append(g)
    chains = _snap_round_chains(chains)
    lat_groups = [[] for _ in groups]
    for ring, g in zip(chains, gidx):
        if len(ring) >= 3:
            lat_groups[g].append((
                np.array([p[0] for p in ring], dtype=np.float64),
                np.array([p[1] for p in ring], dtype=np.float64)))
    seen: dict = {}
    owners: dict = {}
    for ring, g in zip(chains, gidx):
        n = len(ring)
        for i in range(n):
            a, b = ring[i], ring[(i + 1) % n]
            if a == b:
                continue
            key = (min(a, b), max(a, b))
            if key not in seen:
                seen[key] = (float(a[0]), float(a[1]),
                             float(b[0]), float(b[1]))
            owners.setdefault(key, set()).add(g)
    keys = list(seen)
    return (lat_groups, [seen[k] for k in keys],
            [owners[k] for k in keys])


def _assemble_faces(segs):
    """Walk directed segments into cycles with the planar face-traversal
    successor: at each node take the first outgoing edge CLOCKWISE from
    the reversed incoming direction. Correct at degree-4 nodes (corner
    contacts) where arbitrary-successor walking could braid faces."""
    succ: dict = {}
    for (ax, ay, bx, by) in segs:
        succ.setdefault((ax, ay), []).append((bx, by))
    cycles = []
    while succ:
        start = next(iter(succ))
        outs = succ[start]
        node, prev = outs.pop(), start
        if not outs:
            del succ[start]
        path = [start, node]
        ok = True
        while node != start:
            outs = succ.get(node)
            if not outs:
                ok = False
                break
            if len(outs) == 1:
                nxt = outs.pop()
            else:
                din = math.atan2(node[1] - prev[1], node[0] - prev[0])
                rev = din + math.pi

                def cw_gap(cand):
                    a = math.atan2(cand[1] - node[1], cand[0] - node[0])
                    d = (rev - a) % (2.0 * math.pi)
                    return d if d > 1e-12 else 2.0 * math.pi

                nxt = min(outs, key=cw_gap)
                outs.remove(nxt)
            if not outs:
                del succ[node]
            prev, node = node, nxt
            if node != start:
                path.append(node)
            if len(path) > len(segs) + 1:
                ok = False
                break
        if ok and len(path) >= 3:
            xs = np.array([p[0] for p in path])
            ys = np.array([p[1] for p in path])
            if abs(ring_area(xs, ys)) > 1e-12:
                cycles.append((xs, ys))
    return cycles


def _eo_normalize(soup, grid):
    """Resolve a possibly self-overlapping multi-ring soup to proper
    even-odd faces (two identical member rects XOR to empty, etc.) via
    self-intersection; single-ring soups are proper by construction.
    Used by the disjoint/empty early-exits, whose raw return would
    otherwise leak uncancelled rings into area sums."""
    if len(soup) <= 1:
        return list(soup)
    return overlay_rings_snapped(soup, soup, "intersection", grid)


def _snapped_memberships(rings_a, rings_b, grid):
    """Shared arrangement core for the 2-way overlays: snap, node,
    split, dedup coincident sub-segments and classify both sides —
    returns (a, b, segs_u, ina_l, inb_l, ina_r, inb_r), or a short
    string tag for the degenerate early-exits ('empty' / 'disjoint')."""
    a = snap_rings(rings_a, grid)
    b = snap_rings(rings_b, grid)
    if not a or not b:
        return a, b, "empty", None, None, None, None
    ax0, ay0, ax1, ay1 = rings_envelope(a)
    bx0, by0, bx1, by1 = rings_envelope(b)
    if ax1 < bx0 or bx1 < ax0 or ay1 < by0 or by1 < ay0:
        return a, b, "disjoint", None, None, None, None

    # integer snap-rounded joint arrangement (crossings welded to the
    # lattice, edges rerouted through hot pixels — see _rounded_core)
    (la, lb), segs_u, _ = _rounded_core([a, b], grid)
    lx, ly, rx2, ry2 = _side_probes(segs_u, (la, lb))
    ina_l = _points_in_rings(lx, ly, la)
    inb_l = _points_in_rings(lx, ly, lb)
    ina_r = _points_in_rings(rx2, ry2, la)
    inb_r = _points_in_rings(rx2, ry2, lb)
    return a, b, segs_u, ina_l, inb_l, ina_r, inb_r


def _select_and_assemble(segs_u, in_l, in_r, grid):
    kept = []
    for i, (ax, ay, bx, by) in enumerate(segs_u):
        if bool(in_l[i]) == bool(in_r[i]):
            continue
        if in_l[i]:
            kept.append((ax, ay, bx, by))      # interior on left already
        else:
            kept.append((bx, by, ax, ay))
    cycles = _assemble_faces(kept)
    return [(xs * grid, ys * grid) for xs, ys in cycles]


def overlay_rings_snapped(rings_a, rings_b, op: str, grid: float = None):
    """Boolean overlay on snapped inputs — accepts vertex-on-edge and
    shared-edge contacts. op ∈ {intersection, union, difference,
    symdifference}. Returns a ring soup in WORLD coordinates."""
    if op == "symdifference":
        return (overlay_rings_snapped(rings_a, rings_b, "difference", grid)
                + overlay_rings_snapped(rings_b, rings_a, "difference", grid))
    if op not in _OPS:
        raise ValueError(op)
    if grid is None:
        grid = default_grid(rings_a, rings_b)
    a, b, segs_u, ina_l, inb_l, ina_r, inb_r = \
        _snapped_memberships(rings_a, rings_b, grid)
    if isinstance(segs_u, str):        # 'empty' or 'disjoint'
        if op == "intersection":
            return []
        if op == "union":
            return _eo_normalize(a, grid) + _eo_normalize(b, grid)
        return _eo_normalize(a, grid)
    want = _OPS[op]
    return _select_and_assemble(
        segs_u, want(ina_l, inb_l), want(ina_r, inb_r), grid)


def overlay_areas_snapped(rings_a, rings_b, grid: float = None):
    """Intersection / union / A−B / B−A areas in ONE noding +
    classification pass (the per-pair overlay queries and the snapped
    predicates need all of them; running four ops re-nodes four
    times). Returns dict {'i','u','d','db'} of world-unit areas."""
    if grid is None:
        grid = default_grid(rings_a, rings_b)
    a, b, segs_u, ina_l, inb_l, ina_r, inb_r = \
        _snapped_memberships(rings_a, rings_b, grid)
    if isinstance(segs_u, str):
        a_area = rings_area(_eo_normalize(a, grid))
        b_area = rings_area(_eo_normalize(b, grid))
        return {"i": 0.0, "u": a_area + b_area, "d": a_area,
                "db": b_area, "a": a_area, "b": b_area}
    out = {}
    for key, want in (("i", _OPS["intersection"]), ("u", _OPS["union"]),
                      ("d", _OPS["difference"]),
                      ("db", lambda x, y: y & ~x),
                      # rounded per-input areas: the EXACT conservation
                      # laws (i + d = a, u = a + b - i) hold against
                      # these, not the pre-rounding inputs, because
                      # snap rounding reroutes edges through hot pixels
                      ("a", lambda x, y: x), ("b", lambda x, y: y)):
        out[key] = rings_area(_select_and_assemble(
            segs_u, want(ina_l, inb_l), want(ina_r, inb_r), grid))
    return out


__all__ = [
    "default_grid",
    "snap_rings",
    "overlay_rings_snapped",
    "geometry_rings",
    "rings_area",
    "rings_to_wkb",
]


def boundaries_touch_snapped(rings_a, rings_b, grid: float = None) -> bool:
    """True when the snapped boundaries of the two soups share at least
    one point — shared lattice vertices, vertex-on-edge contacts,
    proper crossings or collinear overlaps, all decided exactly on the
    int64 lattice. Combined with the areal overlay this derives the
    full boundary-aware predicate set on snapped inputs:
    intersects = touch OR i_area > 0; touches = touch AND i_area == 0.
    """
    if grid is None:
        grid = default_grid(rings_a, rings_b)
    a = snap_rings(rings_a, grid)
    b = snap_rings(rings_b, grid)
    if not a or not b:
        return False
    ea = _lattice_edges(a, grid)
    eb = _lattice_edges(b, grid)
    # shared lattice vertices
    va = set(zip(ea[0].tolist(), ea[1].tolist()))
    vb = set(zip(eb[0].tolist(), eb[1].tolist()))
    if va & vb:
        return True
    # vertex-on-edge (either direction)
    if _node_edges(ea, eb) or _node_edges(eb, ea):
        return True
    # proper crossings
    cuts_a: dict = {}
    cuts_b: dict = {}
    _proper_crossings(ea, eb, cuts_a, cuts_b)
    if cuts_a:
        return True
    # collinear overlap with NO endpoint inside the other edge (exact
    # same-extent segments): covered by the shared-vertex test above,
    # since snapped identical segments share lattice endpoints
    return False


def overlay_rings_snapped_n(rings_a, soups, op: str, grid: float = None):
    """N-way snapped overlay against the UNION of many soups in ONE
    arrangement pass: ``union`` returns A ∪ (∪ soups), ``difference``
    returns A − (∪ soups). This is the buffer fold's engine — a
    sequential per-piece fold re-nodes the growing accumulator per
    piece (O(pieces · E²)); here every edge is noded against every
    other group exactly once (O(E_total²), vectorized), then each
    noded sub-segment is classified by the n-way predicate and
    face-walked as usual."""
    if op not in ("union", "difference"):
        raise ValueError(op)
    if grid is None:
        grid = default_grid(rings_a, [r for s in soups for r in s])
    a = snap_rings(rings_a, grid)
    bs = [s for s in (snap_rings(sp, grid) for sp in soups) if s]
    if not bs:
        return _eo_normalize(a, grid)
    if not a:
        if op == "difference":
            return []
        # union of the soups alone: run with the first soup as A
        a, bs = bs[0], bs[1:]
        if not bs:
            return _eo_normalize(a, grid)

    groups = [a] + bs
    # integer snap-rounded joint arrangement across ALL groups at once
    lat, segs_u, _ = _rounded_core(groups, grid)
    la, lbs = lat[0], lat[1:]
    all_soups = [la] + lbs
    lx, ly, rx2, ry2 = _side_probes(segs_u, all_soups)
    ia_l = _points_in_rings(lx, ly, la)
    ia_r = _points_in_rings(rx2, ry2, la)
    ib_l = np.zeros(len(segs_u), dtype=bool)
    ib_r = np.zeros(len(segs_u), dtype=bool)
    for lb in lbs:
        ib_l |= _points_in_rings(lx, ly, lb)
        ib_r |= _points_in_rings(rx2, ry2, lb)
    if op == "union":
        in_l, in_r = ia_l | ib_l, ia_r | ib_r
    else:
        in_l, in_r = ia_l & ~ib_l, ia_r & ~ib_r
    kept = []
    for i, (ax, ay, bx, by) in enumerate(segs_u):
        if bool(in_l[i]) == bool(in_r[i]):
            continue
        kept.append((ax, ay, bx, by) if in_l[i] else (bx, by, ax, ay))

    cycles = _assemble_faces(kept)
    return [(xs * grid, ys * grid) for xs, ys in cycles]


def overlay_lines_snapped(rings_a, rings_b, grid: float = None):
    """Lower-dimensional (LINESTRING) intersection component — the
    KEEP_LOWER_DIMENSION_GEOMETRIES half of GDAL's layer algebra
    (``ogr/ogrsf_frmts/generic/ogrlayer.cpp:5402-5411``; GEOS overlay
    returns the shared edge as a LineString when two polygons touch
    along a border). A snap-rounded sub-segment belongs to the line
    component iff BOTH boundaries contributed it (provenance from
    _rounded_core) and NEITHER side lies in the areal intersection
    (segments bounding an intersection face stay areal, exactly as
    GEOS suppresses them). Shared polylines are stitched through
    degree-2 nodes. Returns [(xs, ys)] open polylines in WORLD
    coordinates; lengths are exact lattice arithmetic scaled by grid.
    """
    if grid is None:
        grid = default_grid(rings_a, rings_b)
    a = snap_rings(rings_a, grid)
    b = snap_rings(rings_b, grid)
    if not a or not b:
        return []
    (la, lb), segs_u, seg_groups = _rounded_core([a, b], grid)
    shared = [i for i, g in enumerate(seg_groups) if len(g) == 2]
    if not shared:
        return []
    lx, ly, rx2, ry2 = _side_probes(segs_u, (la, lb))
    ina_l = _points_in_rings(lx, ly, la)
    inb_l = _points_in_rings(lx, ly, lb)
    ina_r = _points_in_rings(rx2, ry2, la)
    inb_r = _points_in_rings(rx2, ry2, lb)
    keep = [segs_u[i] for i in shared
            if not (ina_l[i] and inb_l[i])
            and not (ina_r[i] and inb_r[i])]
    if not keep:
        return []
    # stitch undirected segments into maximal polylines through
    # degree-2 nodes (deterministic: sorted segment list, sorted nodes)
    adj: dict = {}
    for idx, (ax, ay, bx, by) in enumerate(sorted(keep)):
        adj.setdefault((ax, ay), []).append(((bx, by), idx))
        adj.setdefault((bx, by), []).append(((ax, ay), idx))
    used = set()
    lines = []
    # start at odd-degree nodes first (path endpoints), then cycles
    starts = sorted([n for n, es in adj.items() if len(es) != 2]) + \
        sorted(adj)
    for start in starts:
        for (nxt, idx) in adj[start]:
            if idx in used:
                continue
            used.add(idx)
            path = [start, nxt]
            node, prev_idx = nxt, idx
            while len(adj[node]) == 2:
                (n1, i1), (n2, i2) = adj[node]
                ni, nn = (i2, n2) if i1 == prev_idx else (i1, n1)
                if ni in used:
                    break
                used.add(ni)
                path.append(nn)
                node, prev_idx = nn, ni
            lines.append((
                np.array([p[0] for p in path]) * grid,
                np.array([p[1] for p in path]) * grid))
    return lines


def overlay_points_snapped(rings_a, rings_b, grid: float = None):
    """Dimension-0 (POINT) intersection component — corner touches and
    T-contact apexes, completing KEEP_LOWER_DIMENSION_GEOMETRIES
    (ogrlayer.cpp:5402-5411) together with overlay_lines_snapped. A
    rounded-arrangement vertex belongs to the point component iff BOTH
    boundaries pass through it, NO incident sub-segment is shared by
    both boundaries (that is the line component), and NO incident face
    lies in the areal intersection (checked on the incident segments'
    side memberships). Returns [(x, y)] in WORLD coordinates."""
    if grid is None:
        grid = default_grid(rings_a, rings_b)
    a = snap_rings(rings_a, grid)
    b = snap_rings(rings_b, grid)
    if not a or not b:
        return []
    (la, lb), segs_u, seg_groups = _rounded_core([a, b], grid)
    va = {(x, y) for xs, ys in la for x, y in zip(xs, ys)}
    vb = {(x, y) for xs, ys in lb for x, y in zip(xs, ys)}
    shared_v = va & vb
    if not shared_v:
        return []
    incident: dict = {}
    for i, (ax, ay, bx, by) in enumerate(segs_u):
        incident.setdefault((ax, ay), []).append(i)
        incident.setdefault((bx, by), []).append(i)
    lx, ly, rx2, ry2 = _side_probes(segs_u, (la, lb))
    ina_l = _points_in_rings(lx, ly, la)
    inb_l = _points_in_rings(lx, ly, lb)
    ina_r = _points_in_rings(rx2, ry2, la)
    inb_r = _points_in_rings(rx2, ry2, lb)
    pts = []
    for v in sorted(shared_v):
        segs = incident.get(v, ())
        if any(len(seg_groups[i]) == 2 for i in segs):
            continue                      # line component through v
        if any((ina_l[i] and inb_l[i]) or (ina_r[i] and inb_r[i])
               for i in segs):
            continue                      # areal intersection at v
        pts.append((v[0] * grid, v[1] * grid))
    return pts
