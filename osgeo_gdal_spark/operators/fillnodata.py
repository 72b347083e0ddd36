"""fillnodata: inverse-distance inpainting of nodata pixels.

The distributed form of ``/root/reference/alg/rasterfill.cpp``
(GDALFillNodata: IDW interpolation of nearby valid pixels within a max
search distance; the reference additionally smooths — deferred). With the
search radius R bounded (rasterfill's MAX_SEARCH_DIST), the computation is
tile-local after an R-px halo exchange (``focal.halo_apply`` at width R):
every nodata pixel sees all valid pixels within R regardless of tile
borders, so the distributed result equals the full-raster result exactly.

Weights: 1/d^2 over valid pixels with Euclidean d <= R (value at distance
0 impossible — donors are valid pixels, the target is nodata). Pixels with
no donor in range keep nodata.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame

from ..sources.raster import TILE, TILE_SCHEMA, tile_row
from .focal import halo_apply


def fill_kernel(pad: np.ndarray, r: int, nodata: float) -> np.ndarray:
    """Fill the interior TILE x TILE window of a (TILE+2r)^2 padded array.
    NaN marks missing halo (global border)."""
    valid = (~np.isnan(pad)) & (pad != nodata)
    out = pad[r : r + TILE, r : r + TILE].copy()
    holes = np.argwhere(out == nodata)
    if len(holes) == 0:
        return out
    # precompute the (2r+1)^2 offset window and weights
    dy, dx = np.mgrid[-r : r + 1, -r : r + 1]
    d2 = (dx * dx + dy * dy).astype(np.float64)
    in_range = (d2 > 0) & (d2 <= r * r)
    w = np.where(in_range, 1.0 / np.maximum(d2, 1e-300), 0.0)
    for iy, ix in holes:
        py, px = iy + r, ix + r
        win = pad[py - r : py + r + 1, px - r : px + r + 1]
        vwin = valid[py - r : py + r + 1, px - r : px + r + 1]
        ww = np.where(vwin, w, 0.0)
        s = ww.sum()
        if s > 0:
            out[iy, ix] = float((np.where(vwin, win, 0.0) * ww).sum() / s)
    return out


def fillnodata(tiles: DataFrame, zoom: int, nodata: float, radius: int) -> DataFrame:
    """IDW-fill nodata pixels using valid pixels within `radius` px."""
    r = int(radius)
    if not 1 <= r <= TILE:
        raise ValueError("radius must be in 1..TILE")

    def stencil(tgx, tgy, zoom_v, pad):
        import pandas as pd

        out = fill_kernel(pad, r, nodata)
        return pd.DataFrame([tile_row(
            out, dataset_id="fillnodata", zoom=zoom_v, gx=tgx, gy=tgy,
            band=1, nodata=nodata, crs="EPSG:3857")])

    return halo_apply(tiles, zoom, r, stencil, TILE_SCHEMA)
