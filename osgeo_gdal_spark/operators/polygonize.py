"""Distributed polygonize: category raster -> connected regions.

The re-expression of GDAL's polygonize (``/root/reference/alg/
polygonize.cpp`` two-scan run-merging enumerator +
``alg/gdalrasterpolygonenumerator.cpp``) for a tiled table — SURVEY §7
hard part (a), the genuinely distributed piece:

1. **per-tile CC labeling** (vectorized row-run RLE + union-find over
   runs, 4-connectivity, same-value connectivity like GDAL's enumerator
   — the same run-merging idea as the reference's two-scan enumerator,
   done in numpy): each component gets a *globally unique provisional
   id* = min global flat pixel index ``gpy * world + gpx`` it contains —
   deterministic, collision-free, and independently computable by the
   SQL oracle for block-structured rasters;
2. **border-run extraction**: for each tile edge, (position, value,
   component id) runs — the only cross-tile information needed;
3. **edge table**: self-join of borders between adjacent tiles where
   values match -> (id_a, id_b) merge edges;
4. **connected components** of the merge edges
   (``graph.connected_components``): rounds ~ log2(region diameter in
   tiles), each a small join over the edge table — NOT over pixels;
5. final aggregation: per-region pixel_count / value / bbox.

Regions, borders AND the different-value adjacency table are all emitted
from ONE labeling pass per tile (a union-schema mapInPandas) — the tile
pixels are decoded and labeled exactly once however many of the three
consumers run.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from ..sources.raster import TILE, parse_tile
from .graph import connected_components


def _label_tile(grid: np.ndarray) -> np.ndarray:
    """4-connected same-value labeling, fully vectorized: row-run RLE ->
    union-find over runs (Python touches only the merge PAIRS, never
    pixels). Returns dense int64 label ids 0..k-1 per pixel, numbered in
    first-appearance (row-major) order."""
    h, w = grid.shape
    starts = np.ones((h, w), dtype=bool)
    if w > 1:
        starts[:, 1:] = grid[:, 1:] != grid[:, :-1]
    run_id = np.cumsum(starts.ravel()).reshape(h, w) - 1
    nruns = int(run_id[-1, -1]) + 1
    parent = np.arange(nruns, dtype=np.int64)

    if h > 1:
        vm = grid[1:, :] == grid[:-1, :]
        ra = run_id[:-1, :][vm]
        rb = run_id[1:, :][vm]
        # unique merge pairs only (a run pair repeats across its overlap)
        pairs = np.unique(ra * np.int64(nruns) + rb)
        pa = (pairs // nruns).tolist()
        pb = (pairs % nruns).tolist()

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for x, y in zip(pa, pb):
            rx, ry = find(x), find(y)
            if rx != ry:
                parent[max(rx, ry)] = min(rx, ry)

    # full resolve by vectorized pointer jumping, then dense relabel in
    # first-appearance order (roots are min run ids, already row-major)
    while True:
        nxt = parent[parent]
        if np.array_equal(nxt, parent):
            break
        parent = nxt
    _, dense = np.unique(parent, return_inverse=True)
    return dense[parent[run_id]]


# one union schema so regions + borders + adjacency come from a single
# labeling pass (kind: 'r' region, 'b' border run, 'a' adjacency edge)
_PIECE_SCHEMA = T.StructType(
    [
        T.StructField("kind", T.StringType()),
        T.StructField("rid", T.LongType()),        # r/b/e: provisional region id; a: rid_a
        T.StructField("value", T.DoubleType()),    # r/b
        T.StructField("n_pixels", T.LongType()),   # r
        T.StructField("xmin", T.LongType()),       # r: bbox; e: edge x0
        T.StructField("ymin", T.LongType()),       # r: bbox; e: edge y0
        T.StructField("xmax", T.LongType()),       # r: bbox; e: edge x1
        T.StructField("ymax", T.LongType()),       # r: bbox; e: edge y1
        T.StructField("edge_key", T.StringType()),  # b
        T.StructField("side", T.IntegerType()),     # b
        T.StructField("pos", T.LongType()),         # b
        T.StructField("rid_b", T.LongType()),       # a
        T.StructField("npx", T.LongType()),         # a
    ]
)


def _tile_all(row, zoom, with_edges=False):
    """Label one tile ONCE; return (regions, borders, adjacency, edges)
    as column-dicts of numpy arrays (no per-pixel Python). ``edges``
    (None unless with_edges) are the directed unit boundary edges
    (inside on the LEFT) in global lattice coords — a pixel contributes
    an edge on each side whose 4-neighbor differs in value; tile-seam
    sides come from the border table; world borders are emitted here.
    Emitting them from the SAME pass keeps the 'labeled exactly once'
    contract for polygonize_polygons too."""
    world = (1 << zoom) * TILE
    grid = parse_tile(row).astype(np.float64)
    lab = _label_tile(grid)
    gx, gy = int(row["gx"]), int(row["gy"])
    ox, oy = gx * TILE, gy * TILE
    h, w = grid.shape
    xs = ox + np.broadcast_to(np.arange(w, dtype=np.int64)[None, :], (h, w))
    ys = oy + np.broadcast_to(np.arange(h, dtype=np.int64)[:, None], (h, w))
    flat = (ys * world + xs).ravel()
    linv = lab.ravel()
    k = int(linv.max()) + 1

    # provisional id per dense label = min global flat index (vectorized)
    big = np.iinfo(np.int64).max
    rid_of = np.full(k, big, dtype=np.int64)
    np.minimum.at(rid_of, linv, flat)
    rid = rid_of[lab]

    # per-region stats — labels are dense so every slot is populated
    counts = np.bincount(linv, minlength=k).astype(np.int64)
    first = np.full(k, big, dtype=np.int64)
    np.minimum.at(first, linv, np.arange(linv.size, dtype=np.int64))
    values = grid.ravel()[first]
    xmin = np.full(k, big, dtype=np.int64)
    ymin = np.full(k, big, dtype=np.int64)
    xmax = np.full(k, -1, dtype=np.int64)
    ymax = np.full(k, -1, dtype=np.int64)
    np.minimum.at(xmin, linv, xs.ravel())
    np.minimum.at(ymin, linv, ys.ravel())
    np.maximum.at(xmax, linv, xs.ravel())
    np.maximum.at(ymax, linv, ys.ravel())
    regions = {
        "rid": rid_of, "value": values, "n_pixels": counts,
        "xmin": xmin, "ymin": ymin, "xmax": xmax, "ymax": ymax,
    }

    # border runs (arrays, not per-pixel Python)
    n = 1 << zoom
    b_key, b_side, b_pos, b_val, b_rid = [], [], [], [], []
    if gx + 1 < n:
        b_key.append(np.full(h, f"v:{ox + w}:{gy}", dtype=object))
        b_side.append(np.zeros(h, dtype=np.int32))
        b_pos.append(oy + np.arange(h, dtype=np.int64))
        b_val.append(grid[:, -1])
        b_rid.append(rid[:, -1])
    if gx > 0:
        b_key.append(np.full(h, f"v:{ox}:{gy}", dtype=object))
        b_side.append(np.ones(h, dtype=np.int32))
        b_pos.append(oy + np.arange(h, dtype=np.int64))
        b_val.append(grid[:, 0])
        b_rid.append(rid[:, 0])
    if gy + 1 < n:
        b_key.append(np.full(w, f"h:{oy + h}:{gx}", dtype=object))
        b_side.append(np.zeros(w, dtype=np.int32))
        b_pos.append(ox + np.arange(w, dtype=np.int64))
        b_val.append(grid[-1, :])
        b_rid.append(rid[-1, :])
    if gy > 0:
        b_key.append(np.full(w, f"h:{oy}:{gx}", dtype=object))
        b_side.append(np.ones(w, dtype=np.int32))
        b_pos.append(ox + np.arange(w, dtype=np.int64))
        b_val.append(grid[0, :])
        b_rid.append(rid[0, :])
    borders = {
        "edge_key": np.concatenate(b_key) if b_key else np.array([], dtype=object),
        "side": np.concatenate(b_side) if b_side else np.array([], dtype=np.int32),
        "pos": np.concatenate(b_pos) if b_pos else np.array([], dtype=np.int64),
        "value": np.concatenate(b_val) if b_val else np.array([], dtype=np.float64),
        "rid": np.concatenate(b_rid) if b_rid else np.array([], dtype=np.int64),
    }

    # in-tile different-value adjacency (for sieve), vectorized
    pair_rows = []
    for a, b in ((rid[:, :-1], rid[:, 1:]), (rid[:-1, :], rid[1:, :])):
        diff = a != b
        if diff.any():
            lo = np.minimum(a[diff], b[diff])
            hi = np.maximum(a[diff], b[diff])
            pair_rows.append(np.stack([lo, hi], axis=1))
    if pair_rows:
        allp = np.concatenate(pair_rows)
        u, c = np.unique(allp, axis=0, return_counts=True)
        adjacency = {"rid_a": u[:, 0], "rid_b": u[:, 1], "npx": c.astype(np.int64)}
    else:
        z = np.array([], dtype=np.int64)
        adjacency = {"rid_a": z, "rid_b": z, "npx": z}

    edges = None
    if with_edges:
        out_r, out_x0, out_y0, out_x1, out_y1 = [], [], [], [], []

        def emit(m, dx0, dy0, dx1, dy1):
            out_r.append(rid[m])
            out_x0.append(xs[m] + dx0)
            out_y0.append(ys[m] + dy0)
            out_x1.append(xs[m] + dx1)
            out_y1.append(ys[m] + dy1)

        north = np.zeros((h, w), dtype=bool)
        north[1:, :] = grid[1:, :] != grid[:-1, :]
        south = np.zeros((h, w), dtype=bool)
        south[:-1, :] = grid[:-1, :] != grid[1:, :]
        west = np.zeros((h, w), dtype=bool)
        west[:, 1:] = grid[:, 1:] != grid[:, :-1]
        east = np.zeros((h, w), dtype=bool)
        east[:, :-1] = grid[:, :-1] != grid[:, 1:]
        if gy == 0:
            north[0, :] = True
        if gy == n - 1:
            south[-1, :] = True
        if gx == 0:
            west[:, 0] = True
        if gx == n - 1:
            east[:, -1] = True

        emit(north, 0, 0, 1, 0)   # top edge, left-to-right
        emit(east, 1, 0, 1, 1)    # right edge, downward
        emit(south, 1, 1, 0, 1)   # bottom edge, right-to-left
        emit(west, 0, 1, 0, 0)    # left edge, upward
        if out_r:
            edges = {
                "rid": np.concatenate(out_r),
                "x0": np.concatenate(out_x0), "y0": np.concatenate(out_y0),
                "x1": np.concatenate(out_x1), "y1": np.concatenate(out_y1),
            }
        else:
            z = np.array([], dtype=np.int64)
            edges = {"rid": z, "x0": z, "y0": z, "x1": z, "y1": z}
    return regions, borders, adjacency, edges


def _pieces_df(tiles: DataFrame, zoom: int, with_edges=False) -> DataFrame:
    """ONE mapInPandas pass emitting the union piece table (cached by the
    callers); each tile is decoded + labeled exactly once — including the
    boundary edges (kind 'e', endpoint coords carried in the bbox
    columns) when the caller assembles rings."""

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            frames = []
            for _, row in pdf.iterrows():
                regions, borders, adjacency, edges = _tile_all(
                    row, zoom, with_edges
                )
                nr = len(regions["rid"])
                frames.append(pd.DataFrame({
                    "kind": np.full(nr, "r", dtype=object),
                    "rid": regions["rid"], "value": regions["value"],
                    "n_pixels": regions["n_pixels"],
                    "xmin": regions["xmin"], "ymin": regions["ymin"],
                    "xmax": regions["xmax"], "ymax": regions["ymax"],
                }))
                nb = len(borders["rid"])
                if nb:
                    frames.append(pd.DataFrame({
                        "kind": np.full(nb, "b", dtype=object),
                        "rid": borders["rid"], "value": borders["value"],
                        "edge_key": borders["edge_key"],
                        "side": borders["side"], "pos": borders["pos"],
                    }))
                na = len(adjacency["rid_a"])
                if na:
                    frames.append(pd.DataFrame({
                        "kind": np.full(na, "a", dtype=object),
                        "rid": adjacency["rid_a"], "rid_b": adjacency["rid_b"],
                        "npx": adjacency["npx"],
                    }))
                if edges is not None and len(edges["rid"]):
                    ne = len(edges["rid"])
                    frames.append(pd.DataFrame({
                        "kind": np.full(ne, "e", dtype=object),
                        "rid": edges["rid"],
                        "xmin": edges["x0"], "ymin": edges["y0"],
                        "xmax": edges["x1"], "ymax": edges["y1"],
                    }))
            if frames:
                out = pd.concat(frames)
                for c in ["rid", "n_pixels", "xmin", "ymin", "xmax", "ymax",
                          "pos", "rid_b", "npx"]:
                    if c not in out:
                        out[c] = np.nan
                    out[c] = out[c].astype("Int64")
                for c in ["value"]:
                    if c not in out:
                        out[c] = np.nan
                for c in ["edge_key"]:
                    if c not in out:
                        out[c] = None
                if "side" not in out:
                    out["side"] = np.nan
                out["side"] = out["side"].astype("Int32")
                yield out[[f.name for f in _PIECE_SCHEMA.fields]]

    return tiles.mapInPandas(gen, _PIECE_SCHEMA)


def _polygonize_parts(tiles: DataFrame, zoom: int, with_edges=False,
                      shuffle_partitions=None):
    """Shared machinery: returns (regions, final_labels, borders,
    adjacency, edges) where labels maps every provisional rid to its
    merged component label and edges (None unless with_edges) are the
    in-tile directed boundary edges. All views come from one cached
    single-pass piece table — each tile is decoded + labeled exactly
    once, ring assembly included."""
    pieces = _pieces_df(tiles, zoom, with_edges).cache()
    regions = pieces.filter(F.col("kind") == "r").select(
        "rid", "value", "n_pixels", "xmin", "ymin", "xmax", "ymax"
    )
    borders = pieces.filter(F.col("kind") == "b").select(
        "edge_key", "side", "pos", "value", "rid"
    )
    adjacency = pieces.filter(F.col("kind") == "a").select(
        F.col("rid").alias("rid_a"), "rid_b", "npx"
    )
    ring_edges = None
    if with_edges:
        ring_edges = pieces.filter(F.col("kind") == "e").select(
            "rid",
            F.col("xmin").alias("x0"), F.col("ymin").alias("y0"),
            F.col("xmax").alias("x1"), F.col("ymax").alias("y1"),
        )

    a = borders.filter(F.col("side") == 0).select(
        "edge_key", "pos", F.col("value").alias("va"), F.col("rid").alias("ra")
    )
    b = borders.filter(F.col("side") == 1).select(
        "edge_key", "pos", F.col("value").alias("vb"), F.col("rid").alias("rb")
    )
    edges = (
        a.join(b, ["edge_key", "pos"])
        .filter(F.col("va") == F.col("vb"))
        .select(F.col("ra").alias("src"), F.col("rb").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )
    labels = connected_components(
        edges, regions.select(F.col("rid").alias("node")),
        shuffle_partitions,
    ).select(F.col("node").alias("rid"), "label")

    return regions, labels, borders, adjacency, ring_edges


def polygonize(tiles: DataFrame, zoom: int, shuffle_partitions=None):
    """Region table for a tiled category raster.

    Returns DataFrame (region_id, value, n_pixels, xmin, ymin, xmax, ymax)
    where region_id = min global flat pixel index in the region.
    """
    regions, labels, _borders, _adj, _e = _polygonize_parts(
        tiles, zoom, shuffle_partitions=shuffle_partitions)
    merged = (
        regions.join(labels, "rid")
        .groupBy(F.col("label").alias("region_id"))
        .agg(
            F.first("value").alias("value"),
            F.sum("n_pixels").alias("n_pixels"),
            F.min("xmin").alias("xmin"),
            F.min("ymin").alias("ymin"),
            F.max("xmax").alias("xmax"),
            F.max("ymax").alias("ymax"),
        )
    )
    return merged


def sieve(tiles: DataFrame, zoom: int, threshold: int,
          shuffle_partitions=None):
    """Remove small connected regions by merging each region below
    `threshold` pixels into its largest neighbor — GDAL sieve semantics
    (``/root/reference/alg/gdalsievefilter.cpp``: small polygons merged
    into their largest neighbour). Absorb pointers are resolved through
    CHAINS and CYCLES: the small->largest-neighbor edges are closed into
    connected components (each component holds at most one non-small
    region since every small region emits exactly one edge); the
    component's surviving region is its non-small member when present,
    else its largest member (ties -> smallest id). This replaces the old
    single-hop pass where two mutually-absorbing small regions survived
    with swapped stats, and where chains needed another call.

    Returns the merged region table (region_id, value, n_pixels, bbox) —
    value/id of the absorber; absorbed regions disappear into it.
    """
    regions, labels, borders, in_tile, _e = _polygonize_parts(
        tiles, zoom, shuffle_partitions=shuffle_partitions)

    # cross-tile diff-value border pairs complete the adjacency graph
    a = borders.filter(F.col("side") == 0).select(
        "edge_key", "pos", F.col("value").alias("va"), F.col("rid").alias("rid_a")
    )
    b = borders.filter(F.col("side") == 1).select(
        "edge_key", "pos", F.col("value").alias("vb"), F.col("rid").alias("rid_b")
    )
    cross = (
        a.join(b, ["edge_key", "pos"])
        .filter(F.col("va") != F.col("vb"))
        .groupBy("rid_a", "rid_b")
        .agg(F.count("*").alias("npx"))
    )
    adj = in_tile.unionByName(cross.select("rid_a", "rid_b", "npx"))

    lab_a = labels.select(F.col("rid").alias("rid_a"), F.col("label").alias("la"))
    lab_b = labels.select(F.col("rid").alias("rid_b"), F.col("label").alias("lb"))
    edges = (
        adj.join(lab_a, "rid_a").join(lab_b, "rid_b")
        .filter(F.col("la") != F.col("lb"))
        .select(F.col("la").alias("ra"), F.col("lb").alias("rb"))
        .distinct()
    )
    sym = edges.unionByName(
        edges.select(F.col("rb").alias("ra"), F.col("ra").alias("rb"))
    ).distinct()

    merged = (
        regions.join(labels, "rid")
        .groupBy(F.col("label").alias("region_id"))
        .agg(
            F.first("value").alias("value"),
            F.sum("n_pixels").alias("n_pixels"),
            F.min("xmin").alias("xmin"), F.min("ymin").alias("ymin"),
            F.max("xmax").alias("xmax"), F.max("ymax").alias("ymax"),
        )
    ).localCheckpoint()
    sizes = merged.select("region_id", F.col("n_pixels").alias("nb_size"))
    # each small region -> its largest neighbor (tie: smallest id)
    small = merged.filter(F.col("n_pixels") < threshold).select(
        F.col("region_id").alias("ra")
    )
    cand = (
        small.join(sym, "ra")
        .join(sizes.withColumnRenamed("region_id", "rb"), "rb")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("ra").orderBy(F.desc("nb_size"), F.asc("rb"))
    absorb = (
        cand.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select(F.col("ra"), F.col("rb"))
    ).localCheckpoint()

    # connected components of the absorb graph: trees of smalls rooted
    # at one big, or all-small cycles
    comp = connected_components(
        absorb.select(F.col("ra").alias("src"), F.col("rb").alias("dst")),
        shuffle_partitions=shuffle_partitions,
    ).select(F.col("node").alias("region_id"), F.col("label").alias("comp"))

    # component root: non-small first, then largest, then smallest id
    with_comp = merged.join(comp, "region_id", "left").withColumn(
        "comp", F.coalesce("comp", "region_id")
    )
    wroot = Window.partitionBy("comp").orderBy(
        F.asc((F.col("n_pixels") < threshold).cast("int")),
        F.desc("n_pixels"), F.asc("region_id"),
    )
    rooted = with_comp.withColumn("_rk", F.row_number().over(wroot))
    roots = rooted.filter(F.col("_rk") == 1).select(
        "comp",
        F.col("region_id").alias("final_id"),
        F.col("value").alias("final_value"),
    )
    return (
        with_comp.join(roots, "comp")
        .groupBy(F.col("final_id").alias("region_id"))
        .agg(
            F.first("final_value").alias("value"),
            F.sum("n_pixels").alias("n_pixels"),
            F.min("xmin").alias("xmin"), F.min("ymin").alias("ymin"),
            F.max("xmax").alias("xmax"), F.max("ymax").alias("ymax"),
        )
    )


# ---------------------------------------------------------------------------
# ring assembly: region boundaries -> WKB polygons
# (the polygonize second phase, /root/reference/alg/polygonize_polygonizer.cpp
#  RPolygon/ring machinery; distributed as boundary-edge extraction per tile
#  + per-region local stitching — edges are O(perimeter), never O(area))
# ---------------------------------------------------------------------------

def _seam_edges(borders):
    """Boundary edges along tile seams where the two sides differ in
    value: side 0 (west/north tile) gets its east/south edge, side 1 its
    west/north edge — all native SQL on the border-run table."""
    a = borders.filter(F.col("side") == 0).select(
        "edge_key", "pos", F.col("value").alias("va"), F.col("rid").alias("rid_a")
    )
    b = borders.filter(F.col("side") == 1).select(
        "edge_key", "pos", F.col("value").alias("vb"), F.col("rid").alias("rid_b")
    )
    j = a.join(b, ["edge_key", "pos"]).filter(F.col("va") != F.col("vb"))
    parts = F.split(F.col("edge_key"), ":")
    j = j.withColumn("_kind", parts.getItem(0)).withColumn(
        "_c", parts.getItem(1).cast("long"))
    vert = j.filter(F.col("_kind") == "v")
    horz = j.filter(F.col("_kind") == "h")
    edges = []
    # vertical seam at x = _c: side0 pixel east edge goes DOWN, side1 west
    # edge goes UP
    edges.append(vert.select(
        F.col("rid_a").alias("rid"), F.col("_c").alias("x0"),
        F.col("pos").alias("y0"), F.col("_c").alias("x1"),
        (F.col("pos") + 1).alias("y1")))
    edges.append(vert.select(
        F.col("rid_b").alias("rid"), F.col("_c").alias("x0"),
        (F.col("pos") + 1).alias("y0"), F.col("_c").alias("x1"),
        F.col("pos").alias("y1")))
    # horizontal seam at y = _c: side0 pixel south edge right-to-left,
    # side1 north edge left-to-right
    edges.append(horz.select(
        F.col("rid_a").alias("rid"), (F.col("pos") + 1).alias("x0"),
        F.col("_c").alias("y0"), F.col("pos").alias("x1"),
        F.col("_c").alias("y1")))
    edges.append(horz.select(
        F.col("rid_b").alias("rid"), F.col("pos").alias("x0"),
        F.col("_c").alias("y0"), (F.col("pos") + 1).alias("x1"),
        F.col("_c").alias("y1")))
    out = edges[0]
    for e in edges[1:]:
        out = out.unionByName(e)
    return out


def _assemble_rings(edges):
    """Stitch directed unit edges (inside-left) into closed rings.
    At pinch vertices (two outgoing edges) take the LEFT-most turn
    relative to the incoming direction — each boundary component becomes
    a simple ring. Collinear runs collapse. Returns [(signed_area,
    [(x, y), ...])]; positive area (y-down shoelace) = exterior."""
    from collections import defaultdict

    out_edges = defaultdict(list)
    for x0, y0, x1, y1 in edges:
        out_edges[(x0, y0)].append((x1, y1))
    # deterministic candidate order
    for v in out_edges.values():
        v.sort()
    used = set()
    rings = []

    def turn_pref(din, cands):
        # left-most turn: rank candidate directions by turning angle;
        # din = (dx, dy). left turn = cross(din, dout) < 0 in y-down.
        def key(c):
            dout = (c[0], c[1])
            cross = din[0] * dout[1] - din[1] * dout[0]
            dot = din[0] * dout[0] + din[1] * dout[1]
            # order: left turn, straight, right turn, back
            if cross < 0:
                return 0
            if cross == 0 and dot > 0:
                return 1
            if cross > 0:
                return 2
            return 3
        return min(cands, key=lambda c: (key((c[0], c[1])), c))

    all_edges = sorted(
        (x0, y0, x1, y1) for (x0, y0), outs in out_edges.items()
        for (x1, y1) in outs
    )
    for e0 in all_edges:
        if e0 in used:
            continue
        ring = [(e0[0], e0[1])]
        cur = e0
        while True:
            used.add(cur)
            head = (cur[2], cur[3])
            ring.append(head)
            if head == (ring[0][0], ring[0][1]):
                break
            din = (cur[2] - cur[0], cur[3] - cur[1])
            cands = [
                (nx - head[0], ny - head[1], nx, ny)
                for (nx, ny) in out_edges.get(head, ())
                if (head[0], head[1], nx, ny) not in used
            ]
            if not cands:
                break  # open chain (shouldn't happen for closed regions)
            dx, dy, nx, ny = turn_pref(din, [(c[0], c[1], c[2], c[3]) for c in cands])
            cur = (head[0], head[1], nx, ny)
        if len(ring) < 4 or ring[0] != ring[-1]:
            continue
        # collapse collinear runs (over the UNIQUE vertices — ring[-1] is
        # the closing duplicate of ring[0] and must not act as a neighbor)
        uniq = ring[:-1]
        n = len(uniq)
        slim = []
        for i in range(n):
            px, py = uniq[i - 1]
            cx, cy = uniq[i]
            nx2, ny2 = uniq[(i + 1) % n]
            if (cx - px) * (ny2 - cy) != (cy - py) * (nx2 - cx):
                slim.append((cx, cy))
        if len(slim) < 3:
            continue
        area = 0.0
        for i in range(len(slim)):
            x0_, y0_ = slim[i - 1]
            x1_, y1_ = slim[i]
            area += x0_ * y1_ - x1_ * y0_
        rings.append((area / 2.0, slim + [slim[0]]))
    return rings


_POLY_SCHEMA = T.StructType(
    [
        T.StructField("region_id", T.LongType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("n_rings", T.IntegerType()),
        T.StructField("wkb", T.BinaryType()),
    ]
)


def polygonize_polygons(tiles: DataFrame, zoom: int,
                        shuffle_partitions=None, walk_partitions=None):
    """Full polygonize: region table + WKB polygon boundaries in GLOBAL
    PIXEL coordinates (ring vertices on the integer pixel lattice).
    Exterior ring first, then holes — one polygon per region (regions are
    4-connected so the exterior is unique). Verified by the
    rasterize<->polygonize round-trip (SURVEY §7 step 7)."""
    from ..kernels import wkb as W

    regions, labels, borders, _adj, in_tile = _polygonize_parts(
        tiles, zoom, with_edges=True,
        shuffle_partitions=shuffle_partitions,
    )
    edges = in_tile.unionByName(_seam_edges(borders))
    lab = labels.select("rid", "label")
    edges = edges.join(lab, "rid").select(
        F.col("label").alias("region_id"), "x0", "y0", "x1", "y1"
    )
    vals = (
        regions.join(labels, "rid")
        .groupBy(F.col("label").alias("region_id"))
        .agg(F.first("value").alias("value"))
    )

    def assemble(pdf):
        import pandas as pd

        rid_ = int(pdf["region_id"].iloc[0])
        es = list(zip(pdf["x0"].astype(int), pdf["y0"].astype(int),
                      pdf["x1"].astype(int), pdf["y1"].astype(int)))
        rings = _assemble_rings(es)
        if not rings:
            return pd.DataFrame(
                columns=["region_id", "value", "n_rings", "wkb"])
        # even-odd ring set: largest-|area| (the exterior; positive
        # y-down shoelace) first, then holes/secondary rings. ALL rings
        # are kept — a region whose boundary pinches at a diagonal corner
        # can legitimately produce more than one positive ring, and
        # even-odd filling of the full set reproduces the region exactly.
        rings.sort(key=lambda r: -abs(r[0]))
        ordered = rings
        wkb = W.polygon_wkb([[(float(x), float(y)) for x, y in ring[:-1]]
                             for _a, ring in ordered])
        return pd.DataFrame([
            {"region_id": rid_, "value": 0.0, "n_rings": len(ordered),
             "wkb": wkb}
        ])

    walk = walk_partitions if walk_partitions is not None \
        else shuffle_partitions
    if walk is not None:
        # parallelism floor for the ring walk: per-group CPU cost is
        # invisible to AQE's byte-based coalescing, which folds the
        # skinny edge table into ONE task (~0.7 s serial walk measured
        # on the contour-band fixture); an explicit repartition at the
        # caller's width is exempt from coalescing and the groupBy
        # reuses its partitioning. walk_partitions decouples the
        # CPU-bound walk width from the micro-state loop width
        # (shuffle_partitions) — the walk parallelizes per region.
        edges = edges.repartition(int(walk), "region_id")
    polys = edges.groupBy("region_id").applyInPandas(assemble, _POLY_SCHEMA)
    return polys.drop("value").join(vals, "region_id")


def footprint(tiles: DataFrame, zoom: int, valid,
              shuffle_partitions=None, walk_partitions=None) -> DataFrame:
    """Raster footprint (apps/gdal_footprint_lib.cpp): polygon boundary of
    the validity mask. ``valid`` is a python predicate over the pixel
    array (e.g. ``lambda g: g != 0``); the mask is materialized as a
    binary tile table and polygonized, keeping the valid regions."""
    from ..sources.raster import tile_map, tile_row

    def maskify(g, row):
        m = valid(g.astype(np.float64)).astype(np.uint8)
        return tile_row(m, like=row, dataset_id="mask", band=1, nodata=None)

    mask_tiles = tile_map(tiles, maskify)
    polys = polygonize_polygons(mask_tiles, zoom,
                                shuffle_partitions=shuffle_partitions,
                                walk_partitions=walk_partitions)
    return polys.filter(F.col("value") == 1.0)
