"""Cell-prefix broadcast spatial join with an exact, native PIP refine.

The engine's core operator — the Spark-native re-expression of OGR's
filter-and-refine spatial predicate (``ogrlayer.cpp:4004-4076``: envelope
reject -> envelope accept -> exact refine) and of the layer-algebra
nested-loop joins (``ogrlayer.cpp:5385+``), restructured for 10^12 rows:

1. driver-side: each polygon -> covering cell set at a fixed join zoom
   (per *part* envelope, so antimeridian-split multipolygons don't cover
   the world) -> a small table of (cell, polygon) cover rows;
2. ``broadcast()`` that table and equi-join pages on the flat cell key —
   a map-side broadcast hash join: the pages side NEVER shuffles, which is
   what survives a 100 TB scan (hot cells skew the *match count*, not a
   shuffle partition);
3. each cover row carries everything its cell's decision needs — the
   true-hit filter of Zimbrao & de Souza's raster approximation. Cells
   wholly inside a polygon accept on the envelope alone (cells wholly
   outside get no row); a cell that meets a single rect part, as every
   boundary cell of an axis-rect polygon does, tests that part's half-open
   box; every other cell carries only the edges a rightward ray from inside
   the cell can cross, in flat slot columns padded to the cover's widest
   row (or, past 4 edges, in one ``edges`` array);
4. the join condition decides each pair natively: strict envelope AND box
   AND a ray cast over the row's edges, step for step
   ``kernels/pip.points_in_ring``, folding each finished ring in as
   ``points_in_polygon`` composes holes and parts. The cast is a small
   state machine, one table lookup per edge, unrolled over the slots so
   that Spark compiles the join into its stage's generated code; over an
   ``edges`` array it is one ``aggregate``, which Spark only interprets.

There is no Python stage: the executed plan is one page scan feeding one
broadcast hash join whose condition holds the whole predicate.

The polygon x polygon join (``spatial_join_polygons``), the overlays and
the raster zonal pass do run Python per pair or per tile. They read the
method layer from one place: ``broadcast_layer`` ships ``[(fid, eas_id,
wkb)]`` once with its content digest, and ``Layer.geoms`` parses it once
per executor into a small cache keyed by that digest.
"""

from __future__ import annotations

from itertools import chain

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from ..functions import sqlgen as G
from ..kernels import cells as C, pip as PIP, polypoly as PP, wkb as W

DEFAULT_JOIN_ZOOM = 7

# Per-executor cache of prepared method layers: (content digest, prepare)
# -> {fid: prepared geometry}. The digest is computed driver-side; id() of
# the broadcast value is unsafe, as CPython reuses addresses after GC, so a
# later job's layer landing at the same address would silently read the
# previous job's polygons. It keeps the last few entries, so that two jobs
# interleaving Arrow batches in one Python worker don't evict each other
# every batch.
_LAYER_CACHE: dict = {}
_LAYER_CACHE_SIZE = 4

# Cover regions grow by this many degrees before edges are chosen. A
# superset of edges is always exact; the pad absorbs the tile formula's
# rounding and the ray cast's, so a region that no edge comes within _PAD
# of has one parity for all of its points.
_PAD = 1e-4
_INF = float("inf")
_NO_BOX = (-_INF, -_INF, _INF, _INF)

_KEYS = ("cell_key", "poly_fid", "eas_id")
_ENV = ("p_xmin", "p_ymin", "p_xmax", "p_ymax")
_BOX = ("box_x0", "box_y0", "box_x1", "box_y1")
_SLOT = ("x1", "y1", "x2", "y2", "k")
_SLOT_TYPES = [(c, T.IntegerType() if c == "k" else T.DoubleType()) for c in _SLOT]
_EDGE = T.StructType([T.StructField(c, t) for c, t in _SLOT_TYPES])
# A cover row's edges sit in flat, non-nullable slot columns e{i}_x1 ..
# e{i}_k, as many as the cover's widest row needs, so that the join
# condition unrolls the ray cast into code Spark compiles. HotSpot's JIT
# leaves a method over 8,000 bytes of bytecode interpreted, and the join's
# generated consume method holds the whole condition: 4 slots is the most
# whose zonal_stats-shaped stage stays under that. A cover needing more
# keeps one ``edges`` array folded by an ``aggregate``, which Spark does
# not compile.
_MAX_SLOTS = 4
# a slot past a row's last edge: horizontal, so it never straddles, and
# k = 0, so it folds no ring in
_PAD_EDGE = (0.0, 0.0, 0.0, 0.0, 0)


def _cover_schema(slots):
    """_KEYS, the strict envelope, the half-open box, ``ray`` (whether the
    row needs the ray cast) and the edges: ``slots`` flat slots, or one
    ``edges`` array when that is over _MAX_SLOTS."""
    fields = ([T.StructField(c, T.LongType()) for c in _KEYS]
              + [T.StructField(c, T.DoubleType()) for c in _ENV + _BOX]
              + [T.StructField("ray", T.BooleanType(), False)])
    if slots > _MAX_SLOTS:
        return T.StructType(fields + [T.StructField("edges", T.ArrayType(_EDGE))])
    return T.StructType(fields + [T.StructField(f"e{i}_{c}", t, False)
                                  for i in range(slots) for c, t in _SLOT_TYPES])


def _fold(r, h, p, k, c):
    """One step of kernels/pip.points_in_ring for an edge e = (vertex i,
    vertex i-1) that the point's rightward ray crosses (c) or not: c flips
    the ring parity r. The edges run ring by ring, each part's holes before
    its shell, and e.k marks an edge that starts a ring after a hole (1) or
    after a shell (2). There the finished ring folds in, as
    points_in_polygon composes rings: a hole into h (some hole of the
    current part holds the point), a shell into p (some part holds it)."""
    return ((k == 0 and r) != c,
            False if k == 2 else h or (k == 1 and r),
            p or (k == 2 and r and not h))


# _fold over the state s = r | h<<1 | p<<2, as a table indexed by
# 6s + 2k + c; after the last edge, whose ring is a shell, the point is
# inside when some part holds it or the last part's shell does and none
# of its holes
_TABLE = [r | h << 1 | p << 2
          for s in range(8) for k in range(3) for c in (False, True)
          for r, h, p in [_fold(*(bool(s & b) for b in (1, 2, 4)), k, c)]]
_INSIDE = [s for s in range(8) if s & 4 or s & 3 == 1]
_TABLE_SQL = f"array({', '.join(map(str, _TABLE))})"


def _cross(x1, y1, x2, y2, x, y):
    """The ray from (x, y) crosses the edge: it straddles the edge's
    y-range and their x-intersection, with the edge translated to the
    point, lies right of it. The straddle test short-circuits the
    division, which ANSI mode would fail on a horizontal edge."""
    X1, Y1, X2, Y2 = (f"({v} - {o})" for v, o in ((x1, x), (y1, y), (x2, x), (y2, y)))
    return (f"((({Y1} > 0 AND {Y2} <= 0) OR ({Y2} > 0 AND {Y1} <= 0)) "
            f"AND ({X1} * {Y2} - {X2} * {Y1}) / ({Y2} - {Y1}) > 0)")


def _step(s, k, cross):
    """The state after one edge: one table lookup that reads ``s`` once,
    so that the unrolled fold grows linearly in the number of edges."""
    return f"element_at({_TABLE_SQL}, {s} * 6 + {k} * 2 + IF({cross}, 1, 0) + 1)"


def _inside(s):
    return f"{s} IN ({', '.join(map(str, _INSIDE))})"


def _contains_sql(cover: DataFrame) -> str:
    """The containment decision for a page (lon, lat) joined to a row of
    ``cover``: strict envelope AND half-open box AND, for a row with
    ``ray``, the ray cast over its edges — unrolled over the slot columns,
    or one ``aggregate`` over ``edges``. The aggregate's point rides in its
    accumulator: a lambda reading lon/lat from outside fails to bind once
    the cover mixes null and non-null edge arrays."""
    if "edges" in cover.columns:
        cross = _cross("e.x1", "e.y1", "e.x2", "e.y2", "a.x", "a.y")
        ray = ("aggregate(edges, named_struct('s', 0, 'x', lon, 'y', lat), "
               f"(a, e) -> named_struct('s', {_step('a.s', 'e.k', cross)}, "
               f"'x', a.x, 'y', a.y), a -> {_inside('a.s')})")
    else:
        s, i = "0", 0
        while f"e{i}_k" in cover.columns:
            x1, y1, x2, y2, k = (f"e{i}_{c}" for c in _SLOT)
            s = _step(s, k, _cross(x1, y1, x2, y2, "lon", "lat"))
            i += 1
        ray = _inside(s)
    return ("lon > p_xmin AND lon < p_xmax AND lat > p_ymin AND lat < p_ymax "
            "AND lon >= box_x0 AND lon < box_x1 AND lat >= box_y0 AND lat < box_y1 "
            f"AND (NOT ray OR {ray})")


def _decision_cols(cover: DataFrame) -> list:
    """The cover columns that only serve the containment decision."""
    return [c for c in cover.columns if c not in _KEYS]


class Layer:
    """A polygon layer broadcast once as ``[(fid, eas_id, wkb)]``, with its
    content digest. Pickles small: executors read the broadcast."""

    def __init__(self, bc, digest):
        self.bc, self.digest = bc, digest

    def geoms(self, prepare=None):
        """{fid: prepare(parse_wkb(wkb))} from the per-executor cache.
        ``prepare`` must be a module-level function, so that every batch
        sees the same object and hits the cache."""
        key = (self.digest, prepare)
        got = _LAYER_CACHE.get(key)
        if got is None:
            got = {fid: W.parse_wkb(buf) for fid, _eas, buf in self.bc.value}
            if prepare is not None:
                got = {fid: prepare(g) for fid, g in got.items()}
            while len(_LAYER_CACHE) >= _LAYER_CACHE_SIZE:
                _LAYER_CACHE.pop(next(iter(_LAYER_CACHE)))
            _LAYER_CACHE[key] = got
        return got


def broadcast_layer(spark, polys) -> Layer:
    """Ship the method polygon layer (PolyFeature-like: .fid/.eas_id/.wkb())
    to the executors: the one broadcast every per-polygon Python stage
    reads its geometries from."""
    import hashlib

    rows = [(int(pf.fid), int(pf.eas_id), bytes(pf.wkb())) for pf in polys]
    h = hashlib.sha256()
    for fid, eas, buf in rows:
        h.update(f"{fid}:{eas}:{len(buf)}:".encode())
        h.update(buf)
    return Layer(spark.sparkContext.broadcast(rows), h.hexdigest())


def _ring_is_rect(xs, ys) -> bool:
    """A closed 5-point ring whose edges alternate horizontal and vertical:
    a true rectangle, on which the ray cast is the half-open box
    ``xmin <= x < xmax AND ymin <= y < ymax``."""
    if len(xs) != 5 or xs[0] != xs[4] or ys[0] != ys[4]:
        return False
    dx, dy = np.diff(xs) != 0, np.diff(ys) != 0
    return bool(np.all(dx != dy) and np.all(dx[1:] != dx[:-1]))


def is_axis_rect(g: W.PackedGeometry) -> bool:
    """True when the polygon IS its envelope (single axis-aligned
    rectangle ring) — then the strict-envelope filter is the exact
    predicate. The distributed analog of OGR's rectangle-filter fast path
    (InstallFilter detects the rectangle case, ogrlayer.cpp:3887-3925;
    FilterGeometry's envelope-accept, ogrlayer.cpp:4004-4076)."""
    if len(g.part_rings) != 1 or int(g.part_rings[0]) != 1:
        return False
    return _ring_is_rect(g.xs, g.ys)


class _Rings:
    """One polygon's ring table and ray-castable edges. Edge k runs from
    vertex i to vertex i-1 of ring ``ring[k]`` (the kernel's x1/y1, x2/y2);
    rings under 4 points carry no edges, as the kernel skips them."""

    def __init__(self, g: W.PackedGeometry):
        cols, part, shell, rect, box = [], [], [], [], []
        r = 0
        for p, nrings in enumerate(g.part_rings):
            for j in range(int(nrings)):
                s, e = g.ring_offsets[r], g.ring_offsets[r + 1]
                xs, ys = g.xs[s:e], g.ys[s:e]
                part.append(p)
                shell.append(j == 0)
                rect.append(_ring_is_rect(xs, ys))
                box.append((xs.min(), ys.min(), xs.max(), ys.max()) if e > s
                           else _NO_BOX)
                if e - s >= 4:
                    cols.append((xs[1:], ys[1:], xs[:-1], ys[:-1],
                                 np.full(e - s - 1, r)))
                r += 1
        self.x1, self.y1, self.x2, self.y2, self.ring = (
            [np.concatenate(c) for c in zip(*cols)] if cols
            else [np.zeros(0)] * 4 + [np.zeros(0, dtype=np.int64)])
        self.part, self.shell = np.array(part), np.array(shell, dtype=bool)
        self.rect, self.box = rect, np.array(box, dtype=np.float64).reshape(-1, 4)
        self.shell_of = np.nonzero(self.shell)[0]  # part -> its shell ring

    def classify(self, regions):
        """(meets, relevant) over cells x edges for the regions padded by
        _PAD: whether the edge meets the region, and whether a point of the
        region can need it — its closed y-range meets the y-band, it is not
        horizontal, its max x reaches the region and its ring does not lie
        wholly right of the region (such a ring's straddling edges all
        cross, and a closed ring has an even number of them)."""
        x0, y0 = regions[:, :1] - _PAD, regions[:, 1:2] - _PAD
        x1, y1 = regions[:, 2:3] + _PAD, regions[:, 3:] + _PAD
        ax, ay, bx, by = self.x1, self.y1, self.x2, self.y2
        band = (np.minimum(ay, by) <= y1) & (np.maximum(ay, by) >= y0)
        reach = np.maximum(ax, bx) >= x0
        meets = band & reach & (np.minimum(ax, bx) <= x1)
        # a segment inside the bbox test still misses the box when its
        # line leaves all four corners strictly on one side
        dx, dy = bx - ax, by - ay
        sides = [dx * (cy - ay) - dy * (cx - ax)
                 for cx, cy in ((x0, y0), (x1, y0), (x1, y1), (x0, y1))]
        meets &= ~(np.logical_and.reduce([s > 0 for s in sides])
                   | np.logical_and.reduce([s < 0 for s in sides]))
        relevant = band & reach & (ay != by) & (self.box[self.ring, 0] <= x1)
        return meets, relevant

    def compose(self, relevant):
        """The cover-row decision (box, edges) for a boundary cell whose
        needed edges are ``relevant``: None when no point of it can be
        inside (no part's shell is among them), a rect part's half-open box
        when that shell is all it needs, or else the edges of the parts
        whose shell is needed, ring by ring, each part's holes before its
        shell, with their ``k`` markers."""
        k = np.nonzero(relevant)[0]
        r = self.ring[k]
        live = np.zeros(len(self.shell_of), dtype=bool)  # parts whose shell is needed
        live[self.part[r[self.shell[r]]]] = True
        k, r = k[live[self.part[r]]], r[live[self.part[r]]]
        if not len(k):
            return None
        order = np.argsort(2 * self.part[r] + self.shell[r], kind="stable")
        k, r = k[order], r[order]
        if r[0] == r[-1] and self.rect[r[0]]:
            return tuple(self.box[r[0]].tolist()), None
        mark = np.zeros(len(k), dtype=np.int64)
        new = np.nonzero(r[1:] != r[:-1])[0]
        mark[new + 1] = np.where(self.shell[r[new]], 2, 1)
        return _NO_BOX, list(zip(self.x1[k].tolist(), self.y1[k].tolist(),
                                 self.x2[k].tolist(), self.y2[k].tolist(),
                                 mark.tolist()))


def _cell_regions(keys, zoom):
    """(x0, y0, x1, y1) of each flat cell key. The outer row and column of
    the tile grid reach to infinity, as the key's clamp does."""
    n = 1 << zoom
    gx, gy = keys // n, keys % n
    x0 = -180.0 + gx * (360.0 / n)
    x1 = -180.0 + (gx + 1) * (360.0 / n)

    def lat(g):
        return np.degrees(np.arctan(np.sinh(np.pi * (1.0 - 2.0 * g / n))))

    y0, y1 = lat(gy + 1.0), lat(gy * 1.0)
    x0[gx == 0], x1[gx == n - 1] = -_INF, _INF
    y0[gy == n - 1], y1[gy == 0] = -_INF, _INF
    return np.stack([x0, y0, x1, y1], axis=1)


def _decisions(g, keys, regions):
    """Decisions [(key, box, edges)] for one polygon's cells, given their
    finite regions. Cells that no edge meets take the parity of their
    centre: an envelope-only row when it is inside, no row otherwise."""
    rings, out = _Rings(g), []
    # cells per pass, so that the cells x edges matrices stay near 4M cells
    step = max(1, (1 << 22) // max(1, len(rings.ring)))
    for s in range(0, len(keys), step):
        meets, relevant = rings.classify(regions[s:s + step])
        boundary = meets.any(axis=1)
        inner = np.nonzero(~boundary)[0]
        centre = regions[s + inner]
        inside = PIP.points_in_polygon((centre[:, 0] + centre[:, 2]) / 2,
                                       (centre[:, 1] + centre[:, 3]) / 2, g)
        out += [(int(keys[s + i]), _NO_BOX, None) for i in inner[inside]]
        for i in np.nonzero(boundary)[0]:
            row = rings.compose(relevant[i])
            if row is not None:
                out.append((int(keys[s + i]),) + row)
    return out


def polygon_cover_df(spark, polys, zoom=DEFAULT_JOIN_ZOOM):
    """Small driver-side table: one row per (cell_key, polygon) with the
    polygon attributes, its strict envelope and the cell's decision
    (_cover_schema): a half-open ``box_*`` (infinite for an envelope-only
    accept) and, for cells a ray cast must decide (``ray``), the edges it
    needs — in as many flat slots as the widest row needs, each row padded
    with _PAD_EDGE, or in one ``edges`` array when that is over
    _MAX_SLOTS. ``_contains_sql`` evaluates the decision for a joined
    page. Any number of rings may meet one cell: the ray cast keeps one
    ring's parity at a time.

    polys: list of PolyFeature (sources/polygons.py) or any object with
    .fid/.eas_id/.wkb().
    """
    n = 1 << zoom
    rows = []
    for pf in polys:
        g = W.parse_wkb(pf.wkb())
        part_cells = []
        ring_i = 0
        for nrings in g.part_rings:
            s, e = g.ring_offsets[ring_i], g.ring_offsets[ring_i + 1]
            xs, ys = g.xs[s:e], g.ys[s:e]
            part_cells.append(C.cover_bbox(float(xs.min()), float(ys.min()),
                                           float(xs.max()), float(ys.max()), zoom))
            ring_i += int(nrings)
        gx, gy, _ = C.decode(np.unique(np.concatenate(part_cells)))
        keys = gx * n + gy
        env = g.envelope()
        regions = _cell_regions(keys, zoom)
        regions[:, :2] = np.maximum(regions[:, :2], env[:2])
        regions[:, 2:] = np.minimum(regions[:, 2:], env[2:])
        rows += [((k, pf.fid, pf.eas_id, *env, *box), edges)
                 for k, box, edges in _decisions(g, keys, regions)]
    from ..session import local_df

    slots = max((len(e) for _, e in rows if e is not None), default=0)
    if slots > _MAX_SLOTS:
        rows = [(*head, e is not None, e) for head, e in rows]
    else:
        pad = [_PAD_EDGE] * slots
        rows = [(*head, e is not None, *chain(*((e or []) + pad)[:slots]))
                for head, e in rows]
    return local_df(spark, rows, _cover_schema(slots))


def with_cell_key(df: DataFrame, zoom=DEFAULT_JOIN_ZOOM,
                  lon="lon", lat="lat") -> DataFrame:
    """Attach the flat cell join key — native Spark SQL, codegen'd."""
    return df.withColumn("cell_key", F.expr(G.cell_key_sql(lon, lat, zoom)))


def spatial_join(spark, pages: DataFrame, polys, zoom=DEFAULT_JOIN_ZOOM,
                 how: str = "inner") -> DataFrame:
    """pages x polygons containment join: a page matches a polygon when it
    lies inside the polygon's strict envelope and
    ``kernels/pip.points_in_polygon`` holds for it.

    how: 'inner' (pairs), 'semi' (clip — pages inside any polygon),
    'anti' (erase — pages inside none). Mirrors OGR layer algebra
    Clip/Erase (ogrlayer.cpp:7537/:7846) for point inputs.

    The whole predicate (``_contains_sql``) sits in the broadcast join's
    condition, so the page source is scanned once and no row enters
    Python. 'semi' and 'anti' keep or drop each page by the same
    condition in one ``left_semi`` / ``left_anti`` broadcast join.
    """
    if how not in ("inner", "semi", "anti"):
        raise ValueError(how)
    cover = polygon_cover_df(spark, polys, zoom)
    keyed = with_cell_key(pages, zoom)
    contains = F.expr(_contains_sql(cover))
    if how == "inner":
        return (keyed.join(F.broadcast(cover), "cell_key")
                .filter(contains).drop("cell_key", *_decision_cols(cover)))
    cond = (keyed["cell_key"] == cover["cell_key"]) & contains
    return keyed.join(F.broadcast(cover), cond, "left_" + how).drop("cell_key")


def zonal_stats(spark, pages: DataFrame, polys, value_col: str,
                zoom=DEFAULT_JOIN_ZOOM) -> DataFrame:
    """Per-polygon stats of a page attribute — the vector-side analog of
    GDAL zonal statistics (alg/zonal.cpp stat set: count/min/max/mean/
    stdev/sum). One broadcast join + one partial-aggregating groupBy."""
    j = spatial_join(spark, pages, polys, zoom)
    return j.groupBy("eas_id").agg(
        F.count("*").alias("zn_count"),
        F.min(value_col).alias("zn_min"),
        F.max(value_col).alias("zn_max"),
        F.sum(value_col).alias("zn_sum"),
        F.avg(value_col).alias("zn_mean"),
    )


# predicate -> the exact test on (feature, polygon), kernels/polypoly.py
_POLY_PREDICATES = {
    "intersects": PP.polygons_intersect,
    "within": lambda a, b: PP.polygon_contains_polygon(b, a),
    "contains": PP.polygon_contains_polygon,
    "touches": PP.polygons_touch,
    "overlaps": PP.polygons_overlap,
    "equals": PP.polygons_equal,
    "covers": lambda a, b: PP.polygons_covers(b, a),  # polygon covers feat
}


def spatial_join_polygons(spark, feats: DataFrame, polys,
                          zoom=DEFAULT_JOIN_ZOOM,
                          predicate: str = "intersects",
                          dilate: float = 0.0) -> DataFrame:
    """Polygon x polygon containment/intersection join — the moment a
    second VECTOR layer shows up (the reference's envelope + prepared-
    geometry pattern, ogrlayer.cpp:4004-4076, with GEOS replaced by the
    closed-form kernels in kernels/polypoly.py):

    1. the small layer's per-part cell cover broadcasts (polygon_cover_df);
    2. each feature row explodes NATIVELY to the cells its bbox touches
       (mercator tile ranges from the flat bbox struct — no Python);
    3. cell equi-join + native strict bbox-overlap prefilter;
    4. distinct (feature, polygon) candidates refine in an Arrow batch
       against the broadcast layer (``broadcast_layer``).

    feats needs (fid, geometry WKB, bbox struct). Returns feats columns +
    eas_id of each matching polygon.

    predicate: a key of ``_POLY_PREDICATES``, or 'candidates_closed' for
    the closed-envelope candidates with no exact refine.
    """
    if predicate != "candidates_closed" and predicate not in _POLY_PREDICATES:
        raise ValueError(predicate)
    n = 1 << zoom
    cover = polygon_cover_df(spark, polys, zoom)

    # dilate > 0 (the snapped-overlay path): widen the feature's cell
    # range and the envelope comparison by the snap grid, so boundaries
    # within one grid step of each other — which snapping will make
    # coincident — still produce a candidate pair
    d = float(dilate)
    xlo = f"(bbox.xmin - {d!r})" if d else "bbox.xmin"
    xhi = f"(bbox.xmax + {d!r})" if d else "bbox.xmax"
    ylo = f"(bbox.ymin - {d!r})" if d else "bbox.ymin"
    yhi = f"(bbox.ymax + {d!r})" if d else "bbox.ymax"
    tx = G.tile_x_sql(xlo, zoom), G.tile_x_sql(xhi, zoom)
    # mercator y grows downward: ymax -> smaller ty
    ty = G.tile_y_sql(yhi, zoom), G.tile_y_sql(ylo, zoom)
    keyed = feats.select(
        "*",
        F.explode(F.expr(f"sequence({tx[0]}, {tx[1]})")).alias("_cx"),
        F.expr(f"sequence({ty[0]}, {ty[1]})").alias("_cys"),
    ).select(
        "*", F.explode("_cys").alias("_cy")
    ).withColumn("cell_key", F.col("_cx") * n + F.col("_cy")).drop("_cx", "_cys", "_cy")

    cand = keyed.join(F.broadcast(cover), "cell_key")
    # envelope-overlap prefilter, fully native. Boundary-aware predicates
    # (touches/equals/covers/disjoint-complement) must keep edge-aligned
    # envelopes -> closed comparison; the strict-interior tier uses the
    # strict one (a shared envelope edge can't make interiors intersect).
    closed_pred = predicate in ("touches", "overlaps", "equals", "covers",
                                "candidates_closed")
    lt = (lambda a, b: a <= b) if closed_pred else (lambda a, b: a < b)
    fxlo, fxhi = F.col("bbox.xmin"), F.col("bbox.xmax")
    fylo, fyhi = F.col("bbox.ymin"), F.col("bbox.ymax")
    if d:
        fxlo, fxhi = fxlo - d, fxhi + d
        fylo, fyhi = fylo - d, fyhi + d
    cand = cand.filter(
        lt(fxlo, F.col("p_xmax")) & lt(F.col("p_xmin"), fxhi)
        & lt(fylo, F.col("p_ymax")) & lt(F.col("p_ymin"), fyhi)
    ).dropDuplicates(["fid", "poly_fid"])

    if predicate == "candidates_closed":
        # closed-envelope candidates WITHOUT the exact refine: the
        # snapped overlay consumes these directly (its kernel decides
        # emptiness itself, and must see boundary-only contacts that the
        # strict-interior refine would drop)
        matched = cand
    else:
        layer = broadcast_layer(spark, polys)
        test = _POLY_PREDICATES[predicate]

        @F.pandas_udf(T.BooleanType())
        def matches(poly_fid, geom):
            import pandas as pd

            geoms = layer.geoms()
            return pd.Series([test(W.parse_wkb(bytes(buf)), geoms[int(f)])
                              for f, buf in zip(poly_fid, geom)])

        matched = cand.filter(matches("poly_fid", "geometry"))
    return matched.drop("cell_key", *_decision_cols(cover)).withColumnRenamed(
        "poly_fid", "b_fid")
