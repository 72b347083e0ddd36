"""Distributed vector->raster burn (gdal_rasterize equivalent).

The Spark shape of ``GDALRasterizeGeometries`` (``/root/reference/alg/
gdalrasterize.cpp:999``, chunking ``:905-940``): GDAL splits the target
raster into scanline chunks sized to RAM and burns every geometry into
each chunk; here the chunk list is the DISTRIBUTED tile cover —

1. driver-side, each geometry is transformed to global pixel coords
   (the ``pfnTransformer`` stage of ``gv_rasterize_one_shape``,
   gdalrasterize.cpp:672-681) and keeps only its pixel-space envelope;
2. the (feature x touched-tile) cover list is derived NATIVELY by
   ``sources.raster.tile_cover`` over the envelope's tile range (an
   envelope wholly off the raster covers nothing) — no driver-side O(n_tiles)
   enumeration, the cover is |features| x |tiles touched| rows;
3. geometry coordinate payload rides a broadcast;
4. ``groupBy(gx, gy).applyInPandas`` burns each covered tile with the
   exact llrasterize.cpp kernels (kernels/rasterize.py), features in
   ascending fid order — the deterministic analog of GDAL's
   feature-iteration burn order (REPLACE: last feature wins).

MERGE_ALG=ADD (gdalrasterize.cpp:84-141) adds each geometry's burn once
per pixel; ALL_TOUCHED (llrasterize.cpp:407) widens polygons by their
boundary-touched pixels.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession

from ..kernels import rasterize as RK, wkb as W
from ..sources.raster import TILE, TILE_SCHEMA, tile_cover, tile_row
from ..session import local_df


def lonlat_to_px(lon, lat, zoom):
    """Forward web-mercator to GLOBAL continuous pixel coords (the same
    convention as interpolate_at_points / the SQL oracles: px counts from
    lon=-180, py from the north edge)."""
    world = (1 << zoom) * TILE
    lon = np.asarray(lon, dtype=np.float64)
    lat = np.asarray(lat, dtype=np.float64)
    px = (lon + 180.0) / 360.0 * world
    merc = np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))
    py = (1.0 - merc / np.pi) / 2.0 * world
    return px, py


def shapes_from_features(feats, burn_of, kind="polygon"):
    """PolyFeature list -> [(fid, kind, part_sizes, xs, ys, burn)] with
    rings oriented clockwise (y-up shoelace), mirroring
    GDALCollectRingsFromGeometry (gdalrasterize.cpp:443-481)."""
    shapes = []
    for pf in feats:
        g = W.parse_wkb(pf.wkb())
        part_sizes, xs, ys = [], [], []
        ring_i = 0
        for nrings in g.part_rings:
            for _ in range(int(nrings)):
                s, e = g.ring_offsets[ring_i], g.ring_offsets[ring_i + 1]
                rx, ry = g.xs[s:e].copy(), g.ys[s:e].copy()
                if W.shoelace_area(rx, ry) > 0:  # CCW in y-up -> reverse
                    rx, ry = rx[::-1].copy(), ry[::-1].copy()
                part_sizes.append(len(rx))
                xs.append(rx)
                ys.append(ry)
                ring_i += 1
        shapes.append(
            (pf.fid, kind, part_sizes,
             np.concatenate(xs), np.concatenate(ys), float(burn_of(pf)))
        )
    return shapes


def rasterize(spark: SparkSession, shapes, zoom: int, all_touched=False,
              merge="replace", init=0.0, dataset_id="rasterize",
              crs="EPSG:3857") -> DataFrame:
    """Burn shapes into a sparse tile table at ``zoom``.

    shapes: [(fid, kind, part_sizes, xs_lon, ys_lat, burn_value)] with
    kind in {polygon, line, point}. Only tiles touched by some feature
    envelope are emitted (background tiles are implicit ``init``).
    """
    n = 1 << zoom
    world = n * TILE
    payload = {}
    env_rows = []
    for fid, kind, part_sizes, xs, ys, burn in shapes:
        px, py = lonlat_to_px(xs, ys, zoom)
        payload[int(fid)] = (kind, list(part_sizes), px, py, float(burn))
        # pixel-space envelope padded by 1 px (crossing rounding + the
        # all-touched boundary walk can reach one pixel beyond)
        x0 = max(0, int(np.floor(px.min())) - 1)
        x1 = min(world - 1, int(np.ceil(px.max())) + 1)
        y0 = max(0, int(np.floor(py.min())) - 1)
        y1 = min(world - 1, int(np.ceil(py.max())) + 1)
        env_rows.append((int(fid), x0 // TILE, x1 // TILE, y0 // TILE, y1 // TILE))
    bc = spark.sparkContext.broadcast(payload)

    env = local_df(spark, env_rows,
                   "fid LONG, tx0 LONG, tx1 LONG, ty0 LONG, ty1 LONG")
    # native cover explode — the (feature x tile) list never touches the
    # driver (contrast: GDAL's single-process chunk loop)
    cover = tile_cover(env)

    mode = str(merge)
    at = bool(all_touched)
    init_v = float(init)
    ds = dataset_id
    crs_v = crs

    def burn_tile(pdf):
        import pandas as pd

        gx, gy = int(pdf["gx"].iloc[0]), int(pdf["gy"].iloc[0])
        ox, oy = gx * TILE, gy * TILE
        arr = np.full((TILE, TILE), init_v, dtype=np.float64)
        geoms = bc.value
        for fid in sorted(int(f) for f in pdf["fid"]):
            kind, part_sizes, px, py, burn = geoms[fid]
            m = RK.shape_mask(kind, part_sizes, px - ox, py - oy,
                              TILE, TILE, all_touched=at)
            if mode == "replace":
                arr[m] = burn
            elif mode == "add":
                arr[m] += burn
            else:
                raise ValueError(mode)
        return pd.DataFrame([tile_row(
            arr, dataset_id=ds, zoom=zoom, gx=gx, gy=gy, band=1, nodata=None,
            crs=crs_v)])

    return cover.groupBy("gx", "gy").applyInPandas(burn_tile, TILE_SCHEMA)


def cover_tiles(shapes, zoom: int):
    """Driver-side copy of the cover tile set (for oracle construction)."""
    n = 1 << zoom
    world = n * TILE
    keys = set()
    for _fid, _kind, _ps, xs, ys, _burn in shapes:
        px, py = lonlat_to_px(xs, ys, zoom)
        x0 = max(0, int(np.floor(px.min())) - 1)
        x1 = min(world - 1, int(np.ceil(px.max())) + 1)
        y0 = max(0, int(np.floor(py.min())) - 1)
        y1 = min(world - 1, int(np.ceil(py.max())) + 1)
        for gx in range(x0 // TILE, x1 // TILE + 1):
            for gy in range(y0 // TILE, y1 // TILE + 1):
                keys.add((gx, gy))
    return sorted(keys)
