"""Distributed contour: per-tile marching squares with halo cell ownership.

GDAL contour (``/root/reference/alg/contour.cpp``) emits iso-line segments
then stitches polylines; the segment phase is cell-local, so distribution
needs only the focal-style 1-px halo: a tile owns every 2x2 cell whose
top-left pixel lives in it, and the east/south border of its
``focal.halo_apply`` pad provides the other corners for border cells.
Segment output is exactly the full-raster marching squares, partitioned by
owner tile (verified against a full-grid reference). Polyline stitching across tiles is the deferred second phase
(same border machinery as polygonize).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from ..sources.raster import TILE, tile_map, tile_row
from .focal import halo_apply
from .graph import connected_components

_SEG_SCHEMA = T.StructType(
    [
        T.StructField("level", T.DoubleType()),
        T.StructField("cx", T.LongType()),
        T.StructField("cy", T.LongType()),
        T.StructField("x0", T.DoubleType()),
        T.StructField("y0", T.DoubleType()),
        T.StructField("x1", T.DoubleType()),
        T.StructField("y1", T.DoubleType()),
    ]
)


def contour_segments(tiles: DataFrame, zoom: int, levels,
                     cell_window=None) -> DataFrame:
    """Iso-line segments in global pixel-center coordinates for each level.

    ``cell_window`` = (cx0, cy0, w, h) global CELL rect: the stencil then
    runs marching squares only over this tile's slice of the window
    (srcwin pushdown INSIDE the tile — marching squares is cell-local,
    so the sliced run emits exactly the window's subset of the full-tile
    soup; the per-crossing-cell Python loop shrinks with the window
    instead of scanning all TILE^2 cells and filtering after)."""
    lv = [float(x) for x in levels]
    win = None if cell_window is None else tuple(int(v) for v in cell_window)

    def stencil(tgx, tgy, _zoom, pad):
        import pandas as pd

        from ..kernels.contour import marching_squares

        ox, oy = tgx * TILE, tgy * TILE
        # this tile's cell slice of the window (tile-local, half-open)
        if win is not None:
            wx0, wy0, ww, wh = win
            lx0 = max(0, wx0 - ox)
            lx1 = min(TILE, wx0 + ww - ox)
            ly0 = max(0, wy0 - oy)
            ly1 = min(TILE, wy0 + wh - oy)
            if lx0 >= lx1 or ly0 >= ly1:
                return pd.DataFrame(
                    columns=["level", "cx", "cy", "x0", "y0", "x1", "y1"])
        else:
            lx0 = ly0 = 0
            lx1 = ly1 = TILE
        # cells owned by this tile are those with top-left pixel inside
        # it -> the tile plus its east column / south row of halo
        sub = pad[1:, 1:][ly0:ly1 + 1, lx0:lx1 + 1]
        rows = []
        for level in lv:
            # marching_squares skips any cell with a NaN corner, so the
            # NaN halo padding (global border tiles, sparse tile tables)
            # needs no trimming — missing neighbors simply emit nothing.
            # origin restores full-tile cell indices, so the emitted
            # coordinates are bit-identical to the unwindowed run
            for j, i, x0, y0, x1, y1 in marching_squares(
                    sub, level, with_cells=True, origin=(lx0, ly0)):
                rows.append((level, ox + j, oy + i,
                             ox + x0, oy + y0, ox + x1, oy + y1))
        return pd.DataFrame(
            rows, columns=["level", "cx", "cy", "x0", "y0", "x1", "y1"])

    return halo_apply(tiles, zoom, 1, stencil, _SEG_SCHEMA)


def contour_polylines(tiles: DataFrame, zoom: int, levels,
                      bucket=512, emit_wkb=False,
                      cell_window=None, shuffle_partitions=None) -> DataFrame:
    """Stitch per-cell segments into polylines — the second phase of GDAL
    contour (``alg/contour.cpp`` segment merger / ring appender),
    distributed in three stages:

    1. **global vertex degrees**: one groupBy over segment endpoints.
       Endpoints join bit-exactly across tiles because a shared endpoint
       is interpolated from the SAME two corner values on both sides.
       Vertices with degree != 2 (chain terminals, and the degenerate
       junction vertices where an isoline passes exactly through a pixel
       corner) are CHAIN BREAKERS — polylines end there.
    2. **local stitch** per (level, super-tile bucket): union-find over
       the bucket's segments joined only at degree-2 vertices; emits one
       FRAGMENT row per local chain with its unmatched degree-2 endpoints
       (bucket-border crossings) and a terminal flag.
    3. **global merge**: ``graph.connected_components`` over fragments
       sharing a border endpoint — a tiny graph (only chains crossing
       buckets).

    Returns (level, polyline_id, n_segs, length, closed); closed = the
    merged chain has no terminal and no unmatched endpoint. With
    ``emit_wkb=True`` each polyline also carries its ordered LineString
    WKB (fragment chains are walked locally; the per-polyline assembly
    connects the few bucket fragments at their shared endpoints).
    """
    if cell_window is not None:
        # prune TILES natively before the stencil kernel: a cell (cx, cy)
        # draws on pixels cx..cx+1, so tiles fully outside the padded
        # window contribute nothing (srcwin pushdown — at z12+ this is
        # the difference between 4 tiles and 16M)
        wx0, wy0, ww, wh = cell_window
        from ..sources.raster import TILE as _T
        tiles = tiles.filter(
            (F.col("gx") * _T <= wx0 + ww) & ((F.col("gx") + 1) * _T > wx0)
            & (F.col("gy") * _T <= wy0 + wh) & ((F.col("gy") + 1) * _T > wy0))
    # ROI contouring (the gdal_contour-over-srcwin shape): the window
    # pushes INTO the stencil (cells are computed only inside it — bit-
    # identical to computing everything and filtering, see
    # contour_segments), and degrees are computed over the windowed
    # soup, so chains cut by the window end at the new degree-1 border
    # vertices — the oracle sees the same soup.
    segs = contour_segments(tiles, zoom, levels, cell_window=cell_window)
    if cell_window is not None:
        wx0, wy0, ww, wh = cell_window
        segs = segs.filter(
            (F.col("cx") >= wx0) & (F.col("cx") < wx0 + ww)
            & (F.col("cy") >= wy0) & (F.col("cy") < wy0 + wh))
    vkey = "%.17g|%.17g|%.17g"
    segs = segs.withColumn(
        "vk0", F.format_string(vkey, "level", "x0", "y0")
    ).withColumn("vk1", F.format_string(vkey, "level", "x1", "y1"))
    # materialize the soup ONCE: three consumers read it (the two degree
    # attachments and the endpoint union) — unmaterialized, the whole
    # stencil chain re-evaluates per consumer (measured ~3x the stitch
    # stage cost)
    segs = segs.localCheckpoint()
    ends = segs.select(F.col("vk0").alias("vk")).unionByName(
        segs.select(F.col("vk1").alias("vk")))
    vdeg = ends.groupBy("vk").agg(F.count("*").alias("deg"))
    segs = (
        segs.join(vdeg.withColumnRenamed("vk", "vk0")
                  .withColumnRenamed("deg", "deg0"), "vk0")
        .join(vdeg.withColumnRenamed("vk", "vk1")
              .withColumnRenamed("deg", "deg1"), "vk1")
        .withColumn(
            "bk",
            F.format_string(
                "%d|%d",
                F.floor(((F.col("x0") + F.col("x1")) / 2)
                        / F.lit(float(bucket))).cast("long"),
                F.floor(((F.col("y0") + F.col("y1")) / 2)
                        / F.lit(float(bucket))).cast("long"),
            ),
        )
    )

    frag_schema = T.StructType([
        T.StructField("level", T.DoubleType()),
        T.StructField("frag_id", T.LongType()),
        T.StructField("n_segs", T.LongType()),
        T.StructField("length", T.DoubleType()),
        T.StructField("terminal", T.BooleanType()),
        # order-free exact integer digest components (summable across
        # fragments, cross-engine reproducible — see q_contour_polylines):
        # sqx/sqy = sum of quantized endpoint coords, qlen = sum of
        # per-segment quantized lengths, minq = lexicographic min packed
        # quantized endpoint
        T.StructField("sqx", T.LongType()),
        T.StructField("sqy", T.LongType()),
        T.StructField("qlen", T.LongType()),
        T.StructField("minq", T.LongType()),
        T.StructField("open_keys", T.ArrayType(T.StringType())),
        # ordered vertex chain [x0, y0, x1, y1, ...] — walked locally so
        # the global stage can emit LineString WKB by joining fragments
        # at their shared endpoints
        T.StructField("chain", T.ArrayType(T.DoubleType())),
    ])

    def local_stitch(pdf):
        import pandas as pd

        lev = float(pdf["level"].iloc[0])
        n = len(pdf)
        x0 = pdf["x0"].to_numpy(); y0 = pdf["y0"].to_numpy()
        x1 = pdf["x1"].to_numpy(); y1 = pdf["y1"].to_numpy()
        vk0 = pdf["vk0"].to_numpy(); vk1 = pdf["vk1"].to_numpy()
        d0 = pdf["deg0"].to_numpy(); d1 = pdf["deg1"].to_numpy()
        # exact per-segment integer digests (Q = 2^20 like the segment
        # gate; sqrt of dx*dx + dy*dy is correctly-rounded IEEE in both
        # engines, and coords < 2^9 so every quantized value is exact
        # in int64)
        Q = float(1 << 20)
        qx0 = np.floor(x0 * Q + 0.5).astype(np.int64)
        qy0 = np.floor(y0 * Q + 0.5).astype(np.int64)
        qx1 = np.floor(x1 * Q + 0.5).astype(np.int64)
        qy1 = np.floor(y1 * Q + 0.5).astype(np.int64)
        qln = np.floor(
            np.sqrt((x1 - x0) * (x1 - x0) + (y1 - y0) * (y1 - y0)) * Q
            + 0.5).astype(np.int64)
        pack = np.minimum(qx0 * (1 << 30) + qy0, qx1 * (1 << 30) + qy1)
        parent = list(range(n))

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        byv = {}
        localdeg = {}
        for i in range(n):
            for vk, gd in ((vk0[i], d0[i]), (vk1[i], d1[i])):
                if gd != 2:
                    continue  # junction/terminal: never union through
                localdeg[vk] = localdeg.get(vk, 0) + 1
                j = byv.get(vk)
                if j is None:
                    byv[vk] = i
                else:
                    a, b = find(j), find(i)
                    if a != b:
                        parent[max(a, b)] = min(a, b)
        groups = {}
        for i in range(n):
            r = find(i)
            g = groups.setdefault(
                r, {"n": 0, "len": 0.0, "open": [], "term": False,
                    "hid": None, "segs": [],
                    "sqx": 0, "sqy": 0, "qlen": 0, "minq": None})
            g["n"] += 1
            g["len"] += float(np.hypot(x1[i] - x0[i], y1[i] - y0[i]))
            g["segs"].append(i)
            g["sqx"] += int(qx0[i]) + int(qx1[i])
            g["sqy"] += int(qy0[i]) + int(qy1[i])
            g["qlen"] += int(qln[i])
            p = int(pack[i])
            if g["minq"] is None or p < g["minq"]:
                g["minq"] = p
            h = hash((lev, float(x0[i]), float(y0[i]),
                      float(x1[i]), float(y1[i]))) & 0x7FFFFFFFFFFFFFFF
            if g["hid"] is None or h < g["hid"]:
                g["hid"] = h
            for vk, gd in ((vk0[i], d0[i]), (vk1[i], d1[i])):
                if gd != 2:
                    g["term"] = True
                elif localdeg.get(vk, 0) == 1:
                    g["open"].append(vk)  # partner lives in another bucket

        def walk(seg_ids):
            # order the fragment's segments into one vertex chain; start
            # at a chain end (a vertex used once within the fragment) or
            # anywhere for a closed loop
            adj = {}
            for i in seg_ids:
                a = (float(x0[i]), float(y0[i]))
                b = (float(x1[i]), float(y1[i]))
                adj.setdefault(a, []).append((i, b))
                adj.setdefault(b, []).append((i, a))
            start = None
            for v, es in sorted(adj.items()):
                if len(es) == 1:
                    start = v
                    break
            if start is None:
                start = min(adj)
            chain = [start]
            used = set()
            cur = start
            while True:
                nxt = None
                for i, other in adj[cur]:
                    if i not in used:
                        used.add(i)
                        nxt = other
                        break
                if nxt is None:
                    break
                chain.append(nxt)
                cur = nxt
            out = []
            for vx, vy in chain:
                out += [vx, vy]
            return out

        rows = [
            {"level": lev, "frag_id": g["hid"], "n_segs": g["n"],
             "length": g["len"], "terminal": g["term"],
             "sqx": g["sqx"], "sqy": g["sqy"], "qlen": g["qlen"],
             "minq": g["minq"],
             "open_keys": sorted(g["open"]),
             "chain": walk(g["segs"])}
            for g in groups.values()
        ]
        return pd.DataFrame(rows)

    frags = segs.groupBy("level", "bk").applyInPandas(
        local_stitch, frag_schema).localCheckpoint()

    fends = frags.select(
        "frag_id", F.explode_outer("open_keys").alias("vk"))
    open_ends = fends.filter(F.col("vk").isNotNull())
    a = open_ends.select("vk", F.col("frag_id").alias("fa"))
    b = open_ends.select("vk", F.col("frag_id").alias("fb"))
    # the cross-bucket fragment graph is micro-state (only chains that
    # CROSS buckets), so callers may scope a small shuffle width
    edges = a.join(b, "vk").filter(F.col("fa") != F.col("fb")).select(
        F.col("fa").alias("src"), F.col("fb").alias("dst"))
    lab = connected_components(
        edges, frags.select(F.col("frag_id").alias("node")),
        shuffle_partitions,
    ).select(F.col("node").alias("frag_id"),
             F.col("label").alias("polyline_id"))
    with_pl = frags.join(lab, "frag_id")
    unmatched = (
        open_ends.join(lab, "frag_id")
        .groupBy("polyline_id", "vk").agg(F.count("*").alias("deg"))
        .groupBy("polyline_id")
        .agg(F.sum(F.when(F.col("deg") < 2, 1).otherwise(0)).alias("n_open"))
    )
    digest = (
        with_pl.groupBy("level", "polyline_id")
        .agg(
            F.sum("n_segs").alias("n_segs"),
            F.sum("length").alias("length"),
            F.sum("sqx").alias("sqx"),
            F.sum("sqy").alias("sqy"),
            F.sum("qlen").alias("qlen"),
            F.min("minq").alias("minq"),
            F.max(F.col("terminal").cast("int")).alias("_term"),
        )
        .join(unmatched, "polyline_id", "left")
        .withColumn(
            "closed",
            (F.coalesce(F.col("n_open"), F.lit(0)) == 0) & (F.col("_term") == 0),
        )
        .drop("n_open", "_term")
    )
    if not emit_wkb:
        return digest

    wkb_schema = T.StructType([
        T.StructField("polyline_id", T.LongType()),
        T.StructField("wkb", T.BinaryType()),
    ])

    def assemble_wkb(pdf):
        import pandas as pd
        import struct

        pid = int(pdf["polyline_id"].iloc[0])
        chains = [list(c) for c in pdf["chain"]]
        # connect fragments at shared endpoints (few per polyline)
        pts_of = [
            [(c[i], c[i + 1]) for i in range(0, len(c), 2)] for c in chains
        ]
        cur = pts_of.pop(0)
        while pts_of:
            hit = None
            for j, other in enumerate(pts_of):
                if other[0] == cur[-1]:
                    hit, piece = j, other[1:]
                elif other[-1] == cur[-1]:
                    hit, piece = j, other[::-1][1:]
                elif other[-1] == cur[0]:
                    hit, piece = j, None
                    cur = other[:-1] + cur
                elif other[0] == cur[0]:
                    hit, piece = j, None
                    cur = other[::-1][:-1] + cur
                else:
                    continue
                if piece is not None:
                    cur = cur + piece
                break
            if hit is None:
                break  # disconnected remainder (shouldn't happen)
            pts_of.pop(hit)
        buf = [struct.pack("<BII", 1, 2, len(cur))]  # WKB LineString
        for vx, vy in cur:
            buf.append(struct.pack("<dd", vx, vy))
        return pd.DataFrame([{"polyline_id": pid, "wkb": b"".join(buf)}])

    wkbs = (
        frags.join(lab, "frag_id").select("polyline_id", "chain")
        .groupBy("polyline_id").applyInPandas(assemble_wkb, wkb_schema)
    )
    return digest.join(wkbs, "polyline_id")


# --- contour POLYGON mode: fill between consecutive levels ---------------

def band_classify(tiles: DataFrame, levels) -> DataFrame:
    """Pixel classification into level bands: band = number of levels
    <= value (np.digitize). Band 0 is (-inf, L0), band i is [L_{i-1},
    L_i), band n is [L_{n-1}, inf) — the interval semantics of contour
    polygon mode (alg/contour.cpp polygon appender's ELEV_MIN/ELEV_MAX
    intervals). Emits a category tile table polygonize can consume."""
    lv = [float(x) for x in levels]

    def classify(grid, row):
        band = np.digitize(grid.astype(np.float64), lv).astype(np.float64)
        return tile_row(band, like=row, nodata=None)

    return tile_map(tiles, classify)


_CPOLY_SCHEMA = T.StructType(
    [
        T.StructField("region_id", T.LongType()),
        T.StructField("band", T.IntegerType()),
        T.StructField("n_rings", T.IntegerType()),
        T.StructField("area", T.DoubleType()),
        T.StructField("perimeter", T.DoubleType()),
        T.StructField("wkb", T.BinaryType()),
    ]
)


def contour_polygons(tiles: DataFrame, zoom: int, levels,
                     shuffle_partitions=None,
                     walk_partitions=None) -> DataFrame:
    """Contour POLYGON mode (``gdal_contour -p``; alg/contour.cpp polygon
    appender + marching_squares/polygon_ring.h): iso-BANDS as polygons.
    This is the pixel-classified variant — each pixel joins the band of
    its value and band regions polygonize on the integer lattice (the
    reference interpolates fractional crossings; band membership and
    total band area differ by at most the boundary-cell fringe, and the
    lattice variant is exactly verifiable: ring-assembled shoelace area
    == band pixel count, perimeter == band boundary-edge count).

    Plan: band_classify (map-only) -> polygonize_polygons (single
    labeling pass + ring assembly) -> per-region area/perimeter from the
    assembled WKB rings themselves, so the driver oracle checks the ring
    GEOMETRY, not just region bookkeeping."""
    from ..kernels import wkb as W
    from . import polygonize as PZ

    polys = PZ.polygonize_polygons(band_classify(tiles, levels), zoom,
                                   shuffle_partitions=shuffle_partitions,
                                   walk_partitions=walk_partitions)

    def measure(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                g = W.parse_wkb(bytes(row["wkb"]))
                area = 0.0
                perim = 0.0
                ring_i = 0
                for nrings in g.part_rings:
                    for _j in range(int(nrings)):
                        s, e = (g.ring_offsets[ring_i],
                                g.ring_offsets[ring_i + 1])
                        xs, ys = g.xs[s:e], g.ys[s:e]
                        ring_i += 1
                        # y-down lattice shoelace: exterior positive
                        area += float(
                            np.sum(xs * np.roll(ys, -1) - np.roll(xs, -1) * ys)
                        ) / 2.0
                        perim += float(
                            np.sum(np.abs(np.diff(xs)) + np.abs(np.diff(ys)))
                        ) + abs(float(xs[0] - xs[-1])) + abs(float(ys[0] - ys[-1]))
                rows.append({
                    "region_id": int(row["region_id"]),
                    "band": int(row["value"]),
                    "n_rings": int(row["n_rings"]),
                    "area": area, "perimeter": perim,
                    "wkb": bytes(row["wkb"]),
                })
            if rows:
                yield pd.DataFrame(rows)

    return polys.mapInPandas(measure, _CPOLY_SCHEMA)
