"""Proximity: per-pixel distance to the nearest target pixel.

The distributed re-expression of ``/root/reference/alg/gdalproximity.cpp``
(distance-to-nearest-target raster; its MAXDIST option is load-bearing
here): with a bounded search radius, the exact computation decomposes into

1. **target extraction**: one kernel pass emits (gpx, gpy) rows for pixels
   matching the target predicate — a tiny table relative to the raster;
2. **ring replication**: each target is broadcast to every tile within
   ``ceil(max_dist / TILE)`` tiles of its own (the kRing pattern shared
   with kNN) — the only data movement, proportional to targets x ring;
3. **per-tile exact kernel**: vectorized min-distance from the tile's
   65k pixel centers to its gathered local targets (chunked numpy);
   pixels with no target within ``max_dist`` get ``max_dist`` (GDAL's
   capped-distance semantics).

Unlike the reference's two-pass sweep (single-machine, approximate at
corner cases), this is exact within the radius — verified against a
driver-side brute force over the full grid.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from ..sources.raster import TILE, TILE_SCHEMA, parse_tile, tile_row

_TARGET_SCHEMA = T.StructType(
    [T.StructField("tpx", T.LongType()), T.StructField("tpy", T.LongType())]
)


def extract_targets(tiles: DataFrame, target_value: float) -> DataFrame:
    def gen(batches):
        import pandas as pd

        for pdf in batches:
            outs = []
            for _, row in pdf.iterrows():
                grid = parse_tile(row).astype(np.float64)
                ys, xs = np.nonzero(grid == target_value)
                if len(xs):
                    outs.append(
                        pd.DataFrame(
                            {
                                "tpx": int(row["gx"]) * TILE + xs,
                                "tpy": int(row["gy"]) * TILE + ys,
                            }
                        )
                    )
            if outs:
                yield pd.concat(outs)

    return tiles.mapInPandas(gen, _TARGET_SCHEMA)


def proximity(tiles: DataFrame, zoom: int, target_value: float,
              max_dist: float) -> DataFrame:
    """Distance raster (float64 tiles, capped at max_dist)."""
    n = 1 << zoom
    r = int(np.ceil(max_dist / TILE))
    targets = extract_targets(tiles, target_value)
    # replicate each target to the tiles whose pixels might be within range
    ring = F.explode(
        F.expr(
            f"""
            FILTER(
              FLATTEN(TRANSFORM(sequence(-{r}, {r}), dx ->
                TRANSFORM(sequence(-{r}, {r}), dy ->
                  STRUCT(CAST(FLOOR(tpx / CAST({TILE} AS DOUBLE)) AS BIGINT) + dx AS gx,
                         CAST(FLOOR(tpy / CAST({TILE} AS DOUBLE)) AS BIGINT) + dy AS gy)))),
              t -> t.gx >= 0 AND t.gx < {n} AND t.gy >= 0 AND t.gy < {n})
            """
        )
    ).alias("t")
    scattered = targets.select("tpx", "tpy", ring).select("tpx", "tpy", "t.gx", "t.gy")

    # the kernel's output depends only on the tile KEY and the gathered
    # targets — joining the full tile rows would replicate each ~512 KB
    # pixels payload once per in-range target (shuffle volume = tiles x
    # targets x tile bytes). Join only the skinny key/metadata columns.
    tile_keys = tiles.select("zoom", "gx", "gy", "band", "crs")
    joined = tile_keys.join(scattered, ["gx", "gy"], "left")

    def kernel(pdf):
        import pandas as pd

        first = pdf.iloc[0]
        gx, gy = int(first["gx"]), int(first["gy"])
        tx = pdf["tpx"].dropna().to_numpy(np.float64)
        ty = pdf["tpy"].dropna().to_numpy(np.float64)
        px = gx * TILE + np.arange(TILE, dtype=np.float64)[None, :]
        py = gy * TILE + np.arange(TILE, dtype=np.float64)[:, None]
        out = np.full((TILE, TILE), float(max_dist))
        if len(tx):
            # chunk over pixel rows to bound the (pixels x targets) matrix
            for y0 in range(0, TILE, 32):
                block_py = py[y0 : y0 + 32]
                d2 = (
                    (px[..., None] - tx[None, None, :]) ** 2
                    + (block_py[..., None] - ty[None, None, :]) ** 2
                )
                out[y0 : y0 + 32] = np.minimum(
                    np.sqrt(d2.min(axis=2)), float(max_dist)
                )
        return pd.DataFrame([tile_row(out, like=first, dataset_id="proximity",
                                      gx=gx, gy=gy, nodata=None)])

    return joined.groupBy("gx", "gy").applyInPandas(kernel, TILE_SCHEMA)
