"""Raster tile operators — gdal_translate / overview / gdalwarp equivalents.

Distributed shape (SURVEY §3.2 mapping): the chunk list of GDAL's warp
operation ≙ the partitioning of destination-tile rows; each task runs a
vectorized numpy kernel over one tile (or one parent group). References:
``/root/reference/apps/gdal_translate_lib.cpp:676`` (GDALTranslate:
band/window/scale/type), ``/root/reference/gcore/overview.cpp`` (pyramid
AVERAGE), ``/root/reference/alg/gdalwarpkernel.cpp:1058`` (PerformWarp —
per-dst-pixel inverse mapping + kernel sampling),
``/root/reference/alg/gdalwarpoperation.cpp:100-146`` (chunking design).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from ..kernels import resample as R
from ..sources.raster import TILE, TILE_SCHEMA, key_range, parse_tile, tile_row
from ..session import local_df
from .focal import halo_apply

def translate_tiles(tiles: DataFrame, scale=1.0, offset=0.0,
                    out_dtype="uint8", srcwin=None) -> DataFrame:
    """gdal_translate equivalent: optional pixel window + linear scale +
    type cast with the GDALCopyWords rounding rule. srcwin = (gpx0, gpy0,
    w, h) in global pixels; tiles fully outside are pruned NATIVELY before
    any kernel runs (the -srcwin pushdown)."""
    if srcwin is not None:
        x0, y0, w, h = srcwin
        tiles = tiles.filter(
            (F.col("gx") * TILE < x0 + w) & ((F.col("gx") + 1) * TILE > x0)
            & (F.col("gy") * TILE < y0 + h) & ((F.col("gy") + 1) * TILE > y0)
        )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                grid = parse_tile(row).astype(np.float64)
                ox0, oy0 = int(row["gx"]) * TILE, int(row["gy"]) * TILE
                if srcwin is not None:
                    x0, y0, w, h = srcwin
                    sx0 = max(0, x0 - ox0)
                    sy0 = max(0, y0 - oy0)
                    sx1 = min(TILE, x0 + w - ox0)
                    sy1 = min(TILE, y0 + h - oy0)
                    grid = grid[sy0:sy1, sx0:sx1]
                    ox0, oy0 = ox0 + sx0, oy0 + sy0
                    if grid.size == 0:
                        continue
                out = R.round_to_dtype(grid * scale + offset, np.dtype(out_dtype))
                rows.append(tile_row(out, like=row, _ox0=ox0, _oy0=oy0))
            if rows:
                pdf_out = pd.DataFrame(rows)
                yield pdf_out

    schema = T.StructType(
        TILE_SCHEMA.fields
        + [T.StructField("_ox0", T.LongType()), T.StructField("_oy0", T.LongType())]
    )
    return tiles.mapInPandas(kernel, schema)


def unscale_tiles(tiles: DataFrame, scale: float, offset: float) -> DataFrame:
    """``gdal raster unscale`` (apps/gdalalg_raster_unscale.cpp →
    gdal_translate -unscale): apply the band's scale/offset metadata,
    out = v*scale + offset emitted as Float64 (the reference forces
    Float64 output for non-complex types). Map-only per-tile pass."""
    return translate_tiles(tiles, scale=scale, offset=offset,
                           out_dtype="float64").drop("_ox0", "_oy0")


def unscale_set_type_tiles(tiles: DataFrame, scale: float, offset: float,
                           out_dtype: str, srcwin=None) -> DataFrame:
    """Fused ``unscale -> set-type`` (the chain every
    `gdal raster unscale ! set-type` pipeline runs): ONE kernel pass
    instead of two mapInPandas round-trips. Bit-identical to the
    two-pass chain — the Float64 intermediate is v*scale+offset exactly,
    and GDALCopyWord of that intermediate equals GDALCopyWord of the
    fused expression (x*1.0+0.0 == x bitwise). Optional srcwin pushes
    the pixel window into the same pass (native tile pruning first)."""
    return translate_tiles(tiles, scale=scale, offset=offset,
                           out_dtype=out_dtype, srcwin=srcwin)


def set_type_tiles(tiles: DataFrame, out_dtype: str) -> DataFrame:
    """``gdal raster set-type`` (apps/gdalalg_raster_set_type.cpp → -ot):
    datatype conversion under the GDALCopyWord rule
    (gcore/gdal_priv_templates.hpp: +0.5, floor, clamp to the output
    range, NaN -> 0). Map-only per-tile pass."""
    return translate_tiles(tiles, scale=1.0, offset=0.0,
                           out_dtype=out_dtype).drop("_ox0", "_oy0")


def _window_prune(tiles: DataFrame, has_origin: bool, window):
    """Native tile prune for a global-pixel window: drop tiles that
    cannot intersect [x0, x0+w) x [y0, y0+h) BEFORE the pixel blobs
    cross the Python boundary. Pure plan-level filter on tile metadata
    (origin + width/height), so pruned tiles never ship their payload;
    opaque (mapInPandas/applyInPandas) upstream operators block any
    deeper pushdown, and for native per-tile upstream chains pushing the
    tile filter to the source is exactly the intended srcwin pruning."""
    wx0, wy0, ww, wh = (int(v) for v in window)
    if has_origin:
        ox = F.col("_ox0")
        oy = F.col("_oy0")
    else:
        ox = F.col("gx") * TILE
        oy = F.col("gy") * TILE
    if "width" in tiles.columns and "height" in tiles.columns:
        tw, th = F.col("width"), F.col("height")
    else:
        tw = th = F.lit(TILE)
    return tiles.filter(
        (ox < wx0 + ww) & (ox + tw > wx0)
        & (oy < wy0 + wh) & (oy + th > wy0))


def explode_pixels(tiles: DataFrame, window=None) -> DataFrame:
    """Tile rows -> (zoom, gpx, gpy, value) global-pixel rows (the oracle
    bridge; origin taken from _ox0/_oy0 when present for windowed tiles).

    ``window`` = (x0, y0, w, h) global-pixel rect: only pixels inside it
    are emitted — the grid is SLICED before the row build, so the emitted
    rows are bit-identical to the unwindowed explode filtered to the rect
    (same array content, same origin arithmetic), while non-window tiles
    are pruned natively and window tiles build w*h rows instead of
    TILE^2 (guide §4.1: pass only what crosses the boundary). The window
    is the caller's only rect filter: no post-filter on gpx/gpy needs to
    restate it."""
    return _explode(tiles, window, banded=False)


def explode_pixels_banded(tiles: DataFrame, window=None) -> DataFrame:
    """explode_pixels with the band column kept — the multi-band oracle
    bridge (blend / nodata-to-alpha emit several bands per tile).
    ``window`` as in explode_pixels (slice-exact, natively pruned)."""
    return _explode(tiles, window, banded=True)


def _explode(tiles: DataFrame, window, banded: bool) -> DataFrame:
    """The one generator body behind explode_pixels(_banded)."""
    has_origin = "_ox0" in tiles.columns
    if window is not None:
        tiles = _window_prune(tiles, has_origin, window)
        wx0, wy0, ww, wh = (int(v) for v in window)

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            outs = []
            for _, row in pdf.iterrows():
                grid = parse_tile(row)
                oy0 = int(row["_oy0"]) if has_origin else int(row["gy"]) * TILE
                ox0 = int(row["_ox0"]) if has_origin else int(row["gx"]) * TILE
                if window is not None:
                    ly0 = max(0, wy0 - oy0)
                    ly1 = min(grid.shape[0], wy0 + wh - oy0)
                    lx0 = max(0, wx0 - ox0)
                    lx1 = min(grid.shape[1], wx0 + ww - ox0)
                    if ly0 >= ly1 or lx0 >= lx1:
                        continue
                    grid = grid[ly0:ly1, lx0:lx1]
                    oy0 += ly0
                    ox0 += lx0
                ys, xs = np.indices(grid.shape)
                cols = {"zoom": int(row["zoom"])}
                if banded:
                    cols["band"] = int(row["band"])
                cols["gpx"] = (ox0 + xs.ravel()).astype(np.int64)
                cols["gpy"] = (oy0 + ys.ravel()).astype(np.int64)
                cols["value"] = grid.ravel().astype(np.float64)
                outs.append(pd.DataFrame(cols))
            if outs:
                yield pd.concat(outs)

    band = "band INT, " if banded else ""
    return tiles.mapInPandas(
        gen, f"zoom INT, {band}gpx LONG, gpy LONG, value DOUBLE")


def pyramid_average(tiles: DataFrame) -> DataFrame:
    """One AVERAGE overview level (see pyramid_reduce)."""
    return pyramid_reduce(tiles, "average")


def pyramid_reduce(tiles: DataFrame, mode: str) -> DataFrame:
    """One overview level: parent tile at zoom-1 assembled from up to 4
    children, each 2x2-reduced into its quadrant. Modes follow the
    overview.cpp resampler dispatch (:4758-4800): average (nodata-aware),
    nearest, mode, rms, min, max, sum (kernels/resample.py reduce_2x2).
    Missing children = implicit zero, matching a sparse tile table.
    Output values are float64."""

    def reduce(pdf):
        import pandas as pd

        pgx, pgy = int(pdf["pgx"].iloc[0]), int(pdf["pgy"].iloc[0])
        zoom = int(pdf["zoom"].iloc[0]) - 1
        grid = np.zeros((TILE, TILE), dtype=np.float64)
        for _, row in pdf.iterrows():
            child = parse_tile(row).astype(np.float64)
            qx = (int(row["gx"]) % 2) * (TILE // 2)
            qy = (int(row["gy"]) % 2) * (TILE // 2)
            if mode == "average":
                if row["nodata"] is not None and not np.isnan(row["nodata"]):
                    red = R.average_2x2_nodata(child, float(row["nodata"]))
                else:
                    red = R.average_2x2(child)
            else:
                red = R.reduce_2x2(child, mode)
            grid[qy : qy + TILE // 2, qx : qx + TILE // 2] = red
        return pd.DataFrame([tile_row(grid, like=pdf.iloc[0], zoom=zoom,
                                      gx=pgx, gy=pgy)])

    parents = tiles.withColumn(
        "pgx", F.expr("CAST(FLOOR(gx / CAST(2.0 AS DOUBLE)) AS BIGINT)")
    ).withColumn("pgy", F.expr("CAST(FLOOR(gy / CAST(2.0 AS DOUBLE)) AS BIGINT)"))
    return parents.groupBy("pgx", "pgy").applyInPandas(reduce, TILE_SCHEMA)


def overview_refresh(tiles: DataFrame, dirty: DataFrame,
                     mode: str = "average") -> DataFrame:
    """``gdal raster overview refresh`` partial recompute
    (apps/gdalalg_raster_overview_refresh.cpp --bbox/--like: refresh
    only the overview region touched by an update): recompute the
    zoom−1 parents whose 2×2 child block contains a DIRTY tile; clean
    parents are never read — the incremental maintenance path for a
    100 TB pyramid after ``raster update``.

    ``dirty``: (gx, gy) of changed full-res tiles. The parent key set
    derives natively (gx div 2, gy div 2, distinct — tiny) and
    broadcasts into a semi join selecting the ≤ 4× dirty children; the
    reduce then runs only on those groups. No full-table scan-reduce."""
    parents = (dirty.select(F.expr("gx div 2").alias("_pgx"),
                            F.expr("gy div 2").alias("_pgy"))
               .distinct())
    children = tiles.join(
        F.broadcast(parents),
        (F.expr("gx div 2") == F.col("_pgx"))
        & (F.expr("gy div 2") == F.col("_pgy")),
        "left_semi",
    )
    return pyramid_reduce(children, mode)


def resample_tiles(tiles: DataFrame, out_size: int, method: str) -> DataFrame:
    """Per-tile rescale to out_size x out_size with a GDAL warp kernel
    (near/bilinear/cubic/cubicspline/lanczos — exact numpy ports of
    gdalresamplingkernels.h / gdalwarpkernel.cpp weights). Tile-local
    (no halo): the v1 warp step for integer zoom rescales."""

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                grid = parse_tile(row).astype(np.float64)
                out = R.resample_grid(grid, out_size, out_size, method)
                rows.append(tile_row(out, like=row))
            if rows:
                yield pd.DataFrame(rows)

    return tiles.mapInPandas(kernel, TILE_SCHEMA)


def _dst_to_src(transform, dx, dy, world):
    """Vectorized inverse mapping dst pixel index -> src continuous pixel
    coord (the GDALTransformerFunc slot, alg/gdaltransformer.cpp:96).

    - ('affine', a, b, c, d): sx = a*X + b, sy = c*Y + d.
    - ('geodetic',): dst is a plate-carree (EPSG:4326-style) world grid at
      the same size; src is the mercator grid — the classic gdalwarp
      3857->4326 chain (srcPix->geo->reproject->dstPix,
      alg/gdaltransformer.cpp:1345) in closed form. X maps to itself;
      lat = 90 - (Y+0.5)/world*180, sy = (1 - merc(lat)/pi)/2*world - 0.5.
      Latitudes beyond the mercator limit (~85.05) map outside the source.
    """
    kind = transform[0]
    if kind == "affine":
        _, a, b, c, d = transform
        return a * dx + b, c * dy + d
    if kind == "geodetic":
        sx = dx.astype(np.float64) * np.ones_like(dy, dtype=np.float64)
        lat = 90.0 - (dy + 0.5) / world * 180.0
        with np.errstate(divide="ignore", over="ignore"):
            merc = np.log(np.tan(np.pi / 4.0 + np.radians(lat) / 2.0))
        sy = (1.0 - merc / np.pi) / 2.0 * world - 0.5
        # quantize the transformed coord to 1/4096 px — the analog of
        # GDAL's default error-bounded approximate transformer
        # (alg/gdaltransformer.cpp:3979; gdalwarp defaults to 0.125 px
        # error). Also what lets a DuckDB oracle match bit-exactly: libm
        # log/tan differ between engines in the last ULP, and the
        # quantized value only disagrees when the true coord sits within
        # that ULP of a 2^-12 boundary.
        sy = np.floor(sy * 4096.0 + 0.5) / 4096.0
        sy = sy * np.ones_like(dx, dtype=np.float64)
        return sx, sy
    raise ValueError(kind)


def _cover_sql(transform, world):
    """SQL expressions (over dst tile corner pixels X0/X1/Y0/Y1) bounding
    the src window — used to derive the (dst tile, src tile) cover
    NATIVELY with a sequence-explode, replacing any driver-side O(n^2)
    tile enumeration. Both v1 transforms are monotone per axis, so the
    corners bound the window exactly (the general sampled-edge version is
    GDALSuggestedWarpOutput2, alg/gdaltransformer.cpp:342)."""
    def D(x):
        return f"CAST({x!r} AS DOUBLE)"

    kind = transform[0]
    if kind == "affine":
        _, a, b, c, d = transform
        sx = lambda X: f"({D(a)} * {X} + {D(b)})"  # noqa: E731
        sy = lambda Y: f"({D(c)} * {Y} + {D(d)})"  # noqa: E731
    elif kind == "geodetic":
        sx = lambda X: f"(CAST({X} AS DOUBLE))"  # noqa: E731
        sy = lambda Y: (  # merc chain; clamp the pole overflow to +-2*world
            f"(LEAST(CAST({2 * world} AS DOUBLE), GREATEST(CAST({-2 * world} AS DOUBLE), "
            f"(CAST(1.0 AS DOUBLE) - LN(TAN(PI()/4.0 + "
            f"RADIANS(90.0 - ({Y} + CAST(0.5 AS DOUBLE)) / {world} * 180.0) / 2.0)) / PI()) "
            f"/ CAST(2.0 AS DOUBLE) * {world} - CAST(0.5 AS DOUBLE))))"
        )  # noqa: E731
    else:
        raise ValueError(kind)
    return sx, sy


def _amode_rows(Vs: np.ndarray) -> np.ndarray:
    """Per-row mode of a (rows × K) scan-order value stack with the
    GWKAverageOrMode/ModeT tie rule (alg/gdalwarpkernel.cpp GWKModeT /
    generic-T path): max final count, ties → the value whose LAST
    scan-order occurrence comes first. Sorted-run formulation — memory
    is O(rows · K), never the old O(rows · K²) equality tensor:

    sort each row (stable, NaNs last; NaN != NaN makes every NaN its own
    run), take contiguous equal-value runs; a run's count is its length
    and its last scan occurrence is the max original index inside it.
    Score = count·(K+1) + (K − last) is unique per row (distinct last
    occurrences), so one np.maximum.at picks the winner."""
    n, K = Vs.shape
    order = np.argsort(Vs, axis=-1, kind="stable")
    S = np.take_along_axis(Vs, order, -1)
    newrun = np.ones((n, K), dtype=bool)
    newrun[:, 1:] = S[:, 1:] != S[:, :-1]
    starts = np.nonzero(newrun.ravel())[0]
    run_counts = np.diff(np.append(starts, n * K)).astype(np.int64)
    run_vals = S.ravel()[starts]
    run_last = np.maximum.reduceat(order.ravel(), starts)
    run_row = starts // K
    valid = ~np.isnan(run_vals)
    score = np.where(
        valid, run_counts * np.int64(K + 1) + (K - run_last), np.int64(-1)
    )
    best = np.full(n, -1, dtype=np.int64)
    np.maximum.at(best, run_row, score)
    out = np.full(n, np.nan)
    sel = valid & (score == best[run_row])
    out[run_row[sel]] = run_vals[sel]
    return out


_EPSA = 1e-10  # GWKAverageOrMode footprint epsilon (gdalwarpkernel.cpp)


def _footprint_indices(bx0, bx1, by0, by1, world):
    """Source index window of a dst pixel's footprint box
    (GWKAverageOrModeThread, alg/gdalwarpkernel.cpp:7573): pixels in
    [floor(min+eps), ceil(max-eps)), clamped to the world, degenerate
    boxes widened to one pixel. Returns (ix0, ix1, iy0, iy1, valid)."""
    valid = (
        np.isfinite(bx0) & np.isfinite(bx1)
        & np.isfinite(by0) & np.isfinite(by1)
        & (bx1 > -_EPSA) & (bx0 < world + _EPSA)
        & (by1 > -_EPSA) & (by0 < world + _EPSA)
    )
    ix0 = np.maximum(np.floor(np.where(valid, bx0, 0) + _EPSA),
                     0.0).astype(np.int64)
    ix1 = np.minimum(np.ceil(np.where(valid, bx1, 0) - _EPSA),
                     float(world)).astype(np.int64)
    iy0 = np.maximum(np.floor(np.where(valid, by0, 0) + _EPSA),
                     0.0).astype(np.int64)
    iy1 = np.minimum(np.ceil(np.where(valid, by1, 0) - _EPSA),
                     float(world)).astype(np.int64)
    ix1 = np.where((ix0 == ix1) & (ix1 < world), ix1 + 1, ix1)
    iy1 = np.where((iy0 == iy1) & (iy1 < world), iy1 + 1, iy1)
    return ix0, ix1, iy0, iy1, valid


def _aggregate_footprints(mosaic, IX0, IX1, IY0, IY1, VAL, ox, oy,
                          mw, mh, method):
    """Unweighted footprint aggregation (GWKAverageOrModeThread generic
    path, non-fractional COMPUTE_WEIGHT): average/asum/amin/amax fold
    streams; amode/amed/aq1/aq3 gather the scan-order value stack and
    select (mode: max count, ties -> first value to REACH the max count
    = the one whose LAST scan occurrence is earliest, GWKTS_First;
    quantiles: sort ascending, index ceil(quant*n - 1),
    gdalwarpkernel.cpp:8338). NaNs in the mosaic are nodata. Returns
    (out, cnt); out is NaN where no source pixel contributed."""
    acc = np.zeros(IX0.shape)
    cnt = np.zeros(IX0.shape, dtype=np.int64)
    amin_ = np.full(IX0.shape, np.inf)
    amax_ = np.full(IX0.shape, -np.inf)
    kmax = int((IX1 - IX0).max()) if VAL.any() else 0
    lmax = int((IY1 - IY0).max()) if VAL.any() else 0
    gathered = []  # scan-order (row-major) value planes for amode
    for l_ in range(lmax):
        for k_ in range(kmax):
            m = VAL & (IX0 + k_ < IX1) & (IY0 + l_ < IY1)
            jx = np.clip(IX0 + k_ - ox, 0, mw - 1)
            jy = np.clip(IY0 + l_ - oy, 0, mh - 1)
            v = mosaic[jy, jx]
            m = m & ~np.isnan(v)
            acc += np.where(m, v, 0.0)
            cnt += m
            amin_ = np.where(m & (v < amin_), v, amin_)
            amax_ = np.where(m & (v > amax_), v, amax_)
            if method in ("amode", "amed", "aq1", "aq3"):
                gathered.append(np.where(m, v, np.nan))
    with np.errstate(invalid="ignore", divide="ignore"):
        if method == "average":
            out = np.where(cnt > 0, acc / cnt, np.nan)
        elif method == "asum":
            out = np.where(cnt > 0, acc, np.nan)
        elif method == "amin":
            out = np.where(cnt > 0, amin_, np.nan)
        elif method == "amax":
            out = np.where(cnt > 0, amax_, np.nan)
        else:
            # amode / amed / aq1 / aq3 from the gathered scan-order
            # value stack, processed in ROW SLABS so memory stays
            # O(slab · K) — the old amode built an O(pixels · K²)
            # equality tensor (≈4 GB at a 16× MODE downscale).
            V = np.stack(gathered, axis=-1) if gathered else \
                np.full(IX0.shape + (1,), np.nan)
            K = V.shape[-1]
            Vf = V.reshape(-1, K)
            cf = cnt.reshape(-1)
            outf = np.full(Vf.shape[0], np.nan)
            slab = max(1, (1 << 22) // max(K, 1))  # ~32 MB slabs
            for s0 in range(0, Vf.shape[0], slab):
                sl = slice(s0, min(s0 + slab, Vf.shape[0]))
                if method == "amode":
                    outf[sl] = _amode_rows(Vf[sl])
                else:
                    # GRA_Med/Q1/Q3 selection rule
                    # (gdalwarpkernel.cpp:8338): sort ascending,
                    # take index ceil(quant·n − 1)
                    quant = {"amed": 0.5, "aq1": 0.25,
                             "aq3": 0.75}[method]
                    S = np.sort(Vf[sl], axis=-1)  # NaNs last
                    cs = cf[sl]
                    qi = np.clip(
                        np.ceil(quant * cs - 1).astype(np.int64),
                        0, K - 1,
                    )
                    rows_ = np.arange(S.shape[0])
                    outf[sl] = np.where(cs > 0, S[rows_, qi], np.nan)
            out = outf.reshape(IX0.shape)
    return out, cnt


def warp_tiles(tiles: DataFrame, zoom: int, transform, method="bilinear",
               nodata=0.0, dataset_id="warp", dst_zoom=None) -> DataFrame:
    """The gdalwarp core: dst global pixel (X, Y) samples src at
    ``_dst_to_src(transform)`` with a resampling kernel. ``dst_zoom``
    sets a DIFFERENT destination grid size (the ``gdal raster resize``
    shape); default is the source zoom.

    Distributed shape (ChunkAndWarpImage ≙ partitioning,
    alg/gdalwarpoperation.cpp:1069): the (dst_tile, src_tile) cover list
    is derived NATIVELY from a range DF + corner-bound SQL + sequence
    explode (never on the driver — at z=12+ a driver loop would be 16M+
    iterations), joins the tile table, and
    ``groupBy(dst_tile).applyInPandas`` mosaics the gathered src tiles and
    runs the vectorized inverse-mapping kernel (per-dst-scanline batched
    transform ≙ whole-tile numpy here, gdalwarpkernel.cpp:1058).
    Out-of-source pixels get ``nodata``.
    """
    from ..kernels.resample import _KERNELS

    n = 1 << zoom
    world = n * TILE
    if method in ("near", "average", "amin", "amax", "asum", "amode",
                  "amed", "aq1", "aq3"):
        radius = 0
    else:
        radius = _KERNELS[method][1]
    spark = tiles.sparkSession

    sxe, sye = _cover_sql(transform, world)
    pad = radius + 1
    zd = zoom if dst_zoom is None else dst_zoom
    nd = 1 << zd
    dst = key_range(spark, nd * nd).select(
        (F.col("id") % nd).alias("dgx"),
        (F.col("id") / nd).cast("long").alias("dgy"),
    )
    bounds = dst.select(
        "dgx", "dgy",
        F.expr(f"LEAST({sxe('(dgx * 256)')}, {sxe('((dgx + 1) * 256)')})").alias("sx0"),
        F.expr(f"GREATEST({sxe('(dgx * 256)')}, {sxe('((dgx + 1) * 256)')})").alias("sx1"),
        F.expr(f"LEAST({sye('(dgy * 256)')}, {sye('((dgy + 1) * 256)')})").alias("sy0"),
        F.expr(f"GREATEST({sye('(dgy * 256)')}, {sye('((dgy + 1) * 256)')})").alias("sy1"),
    ).select(
        "dgx", "dgy",
        F.expr(f"GREATEST(0, CAST(FLOOR((sx0 - {pad}) / CAST({TILE} AS DOUBLE)) AS BIGINT))").alias("tx0"),
        F.expr(f"LEAST({n - 1}, CAST(FLOOR((sx1 + {pad}) / CAST({TILE} AS DOUBLE)) AS BIGINT))").alias("tx1"),
        F.expr(f"GREATEST(0, CAST(FLOOR((sy0 - {pad}) / CAST({TILE} AS DOUBLE)) AS BIGINT))").alias("ty0"),
        F.expr(f"LEAST({n - 1}, CAST(FLOOR((sy1 + {pad}) / CAST({TILE} AS DOUBLE)) AS BIGINT))").alias("ty1"),
    )
    cover = (
        bounds.filter((F.col("tx0") <= F.col("tx1")) & (F.col("ty0") <= F.col("ty1")))
        .select("dgx", "dgy",
                F.explode(F.expr("sequence(tx0, tx1)")).alias("gx"), "ty0", "ty1")
        .select("dgx", "dgy", "gx",
                F.explode(F.expr("sequence(ty0, ty1)")).alias("gy"))
    )
    gathered = cover.join(tiles, ["gx", "gy"])

    def warp_one(pdf):
        import pandas as pd

        dgx, dgy = int(pdf["dgx"].iloc[0]), int(pdf["dgy"].iloc[0])
        zoom_v = zd
        # mosaic the gathered src tiles into one array covering their bbox
        sxs = pdf["gx"].astype(int) * TILE
        sys_ = pdf["gy"].astype(int) * TILE
        ox, oy = int(sxs.min()), int(sys_.min())
        mw = int(sxs.max()) + TILE - ox
        mh = int(sys_.max()) + TILE - oy
        mosaic = np.full((mh, mw), np.nan)
        for _, row in pdf.iterrows():
            g = parse_tile(row).astype(np.float64)
            yy, xx = int(row["gy"]) * TILE - oy, int(row["gx"]) * TILE - ox
            mosaic[yy : yy + TILE, xx : xx + TILE] = g
        # dst pixels -> src continuous coords (vectorized)
        dx = dgx * TILE + np.arange(TILE)[None, :]
        dy = dgy * TILE + np.arange(TILE)[:, None]
        gx_f, gy_f = _dst_to_src(transform, dx, dy, world)
        sx = gx_f - ox
        sy = gy_f - oy
        oob_override = None
        if method == "near":
            ix = np.clip(np.floor(sx + 0.5).astype(np.int64), 0, mw - 1)
            iy = np.clip(np.floor(sy + 0.5).astype(np.int64), 0, mh - 1)
            IY, IX = np.broadcast_arrays(iy, ix)
            out = mosaic[IY, IX]
        elif method in ("average", "amin", "amax", "asum", "amode",
                        "amed", "aq1", "aq3"):
            # aggregating resamplers (GWKAverageOrMode,
            # alg/gdalwarpkernel.cpp:7573): the dst pixel's source
            # FOOTPRINT is the box between the transforms of (X, Y) and
            # (X+1, Y+1); contributing pixels are those whose index lands
            # in [floor(min+1e-10), ceil(max-1e-10)) (unweighted — the
            # default non-fractional COMPUTE_WEIGHT), aggregated per mode.
            gx2_f, gy2_f = _dst_to_src(transform, dx + 1, dy + 1, world)
            bx0 = np.minimum(gx_f, gx2_f)
            bx1 = np.maximum(gx_f, gx2_f)
            by0 = np.minimum(gy_f, gy2_f)
            by1 = np.maximum(gy_f, gy2_f)
            ix0, ix1, iy0, iy1, valid = _footprint_indices(
                bx0, bx1, by0, by1, world)
            IX0, IY0 = np.broadcast_arrays(ix0, iy0)
            IX1, IY1 = np.broadcast_arrays(ix1, iy1)
            VAL = np.broadcast_to(valid, IX0.shape)
            out, cnt = _aggregate_footprints(
                mosaic, IX0, IX1, IY0, IY1, VAL, ox, oy, mw, mh, method)
            oob_override = ~VAL | (cnt == 0)
        else:
            fn, rad = _KERNELS[method]
            bx = np.floor(sx).astype(np.int64)
            by = np.floor(sy).astype(np.int64)
            out = np.zeros((TILE, TILE))
            wsum = np.zeros((TILE, TILE))
            for oyk in range(-rad + 1, rad + 1):
                wy = fn((by + oyk) - sy)
                iy = np.clip(by + oyk, 0, mh - 1)
                for oxk in range(-rad + 1, rad + 1):
                    wx = fn((bx + oxk) - sx)
                    ix = np.clip(bx + oxk, 0, mw - 1)
                    w = wy * wx
                    IY, IX = np.broadcast_arrays(iy, ix)
                    v = mosaic[IY, IX]
                    valid = ~np.isnan(v)
                    out += np.where(valid, v, 0.0) * np.where(valid, w, 0.0)
                    wsum += np.where(valid, w, 0.0)
            with np.errstate(invalid="ignore", divide="ignore"):
                out = np.where(wsum != 0, out / wsum, np.nan)
        # src coords outside the global raster -> nodata
        if oob_override is not None:
            oob = oob_override
        else:
            oob = (
                (gx_f < -0.5) | (gx_f > world - 0.5)
                | (gy_f < -0.5) | (gy_f > world - 0.5)
                | ~np.isfinite(gy_f) | ~np.isfinite(gx_f)
            )
        out = np.where(oob | np.isnan(out), nodata, out)
        return pd.DataFrame([tile_row(
            out, like=pdf.iloc[0], dataset_id=dataset_id, zoom=zoom_v,
            gx=dgx, gy=dgy, nodata=nodata)])

    return gathered.groupBy("dgx", "dgy").applyInPandas(warp_one, TILE_SCHEMA)


def resize_tiles(tiles: DataFrame, zoom: int, dst_zoom: int,
                 method="bilinear", nodata=0.0) -> DataFrame:
    """``gdal raster resize`` (apps/gdalalg_raster_resize.cpp): rescale
    the whole dataset onto a different grid size with a named
    resampling method — the dst pixel center maps through the size
    ratio, sx = (X + 0.5)·(W/W') − 0.5, exactly GDALTranslate/Warp's
    geotransform composition. Thin named verb over the distributed warp
    (same cross-tile gather; no new shuffle shape); power-of-two zoom
    ratios make the affine coefficients exact dyadics."""
    w_src = (1 << zoom) * TILE
    w_dst = (1 << dst_zoom) * TILE
    a = w_src / w_dst
    b = 0.5 * a - 0.5
    return warp_tiles(tiles, zoom, ("affine", a, b, a, b), method, nodata,
                      dataset_id="resize", dst_zoom=dst_zoom)


def warp_affine(tiles: DataFrame, zoom: int, a: float, b: float, c: float,
                d: float, method="bilinear", nodata=0.0) -> DataFrame:
    """Separable affine warp — the geotransform∘reproject∘geotransform⁻¹
    chain of SURVEY §3.2 collapsed for rescale/shift warps."""
    return warp_tiles(tiles, zoom, ("affine", a, b, c, d), method, nodata)


def warp_cutline(tiles: DataFrame, zoom: int, transform, cutline_shapes,
                 method="bilinear", nodata=0.0,
                 dataset_id="warpcut") -> DataFrame:
    """gdalwarp -cutline (``alg/gdalcutline.cpp`` GDALWarpCutlineMasker;
    ``apps/gdalwarp_lib.cpp:248-251``): destination pixels outside the
    cutline polygon(s) become ``nodata``.

    Spark-first composition, exactly the masker's design: the cutline
    is RASTERIZED once into 0/1 density tiles on the dst grid
    (operators/rasterize — scanline even-odd fill, the same
    llrasterize.cpp core the reference's masker calls), then one Arrow
    blend pass multiplies it into the warped tiles. The mask join is a
    skinny (gx, gy) equi-join — no pixel shuffle beyond the warped
    tiles themselves; dst tiles the cutline never touches blend against
    the implicit all-zero mask (left join, null ⇒ all nodata)."""
    from . import rasterize as RZ

    spark = tiles.sparkSession
    warped = warp_tiles(tiles, zoom, transform, method, nodata, dataset_id)
    mask = RZ.rasterize(spark, cutline_shapes, zoom, dataset_id="cutmask")
    m = mask.select("gx", "gy", F.col("pixels").alias("mask_pixels"))
    joined = warped.join(m, ["gx", "gy"], "left")
    ndv = float(nodata)

    def blend(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                arr = parse_tile(row).astype(np.float64)
                mp = row["mask_pixels"]
                if mp is None:
                    out = np.full_like(arr, ndv)
                else:
                    mk = np.frombuffer(bytes(mp), dtype=np.float64) \
                        .reshape(TILE, TILE)
                    out = np.where(mk != 0.0, arr, ndv)
                rows.append(tile_row(out, like=row, nodata=ndv))
            if rows:
                yield pd.DataFrame(rows)

    return joined.mapInPandas(blend, TILE_SCHEMA)


def warp_reproject_geodetic(tiles: DataFrame, zoom: int, method="bilinear",
                            nodata=0.0) -> DataFrame:
    """CRS reprojection warp: mercator source grid -> plate-carree
    (EPSG:4326-style) destination grid of the same pixel size — the
    gdalwarp -t_srs EPSG:4326 classic. Poleward of the mercator limit the
    destination gets ``nodata``."""
    return warp_tiles(tiles, zoom, ("geodetic",), method, nodata,
                      dataset_id="warp4326")


def interpolate_at_points(tiles: DataFrame, points: DataFrame, zoom: int,
                          method="bilinear") -> DataFrame:
    """Raster->vector point join: sample the tiled raster at lon/lat points
    (``GDALInterpolateAtPoint``, /root/reference/alg/
    gdal_interpolateatpoint.cpp:415; §2.E raster->vector row).

    Exact across tile borders without halos: each point's 4 bilinear taps
    (or 1 nearest tap) become (tap pixel, weight) rows; each tap joins to
    the ONE tile that owns its pixel; per-tile kernels emit value*weight
    partials; a groupBy(point) SUM reassembles the sample. Weights are
    computed natively; only the pixel lookup is a (vectorized) kernel.

    points needs (pid, lon, lat). Returns (pid, value).
    """
    n = 1 << zoom
    world = n * TILE
    # continuous pixel coords with center-of-pixel convention: the value
    # at pixel (i, j) sits at continuous coord (i + 0.5, j + 0.5)
    qx = f"((lon + CAST(180.0 AS DOUBLE)) / CAST(360.0 AS DOUBLE) * {world})"
    from ..functions.sqlgen import merc_y_sql

    qy = (f"((CAST(1.0 AS DOUBLE) - {merc_y_sql('lat')} / PI()) "
          f"/ CAST(2.0 AS DOUBLE) * {world})")
    pts = points.withColumn("fx", F.expr(qx) - 0.5).withColumn(
        "fy", F.expr(qy) - 0.5
    )
    if method == "near":
        taps = pts.select(
            "pid",
            F.expr(f"LEAST({world - 1}, GREATEST(0, CAST(FLOOR(fx + CAST(0.5 AS DOUBLE)) AS BIGINT)))").alias("gpx"),
            F.expr(f"LEAST({world - 1}, GREATEST(0, CAST(FLOOR(fy + CAST(0.5 AS DOUBLE)) AS BIGINT)))").alias("gpy"),
            F.lit(1.0).alias("w"),
        )
    elif method == "bilinear":
        base = pts.select(
            "pid",
            F.expr("CAST(FLOOR(fx) AS BIGINT)").alias("x0"),
            F.expr("CAST(FLOOR(fy) AS BIGINT)").alias("y0"),
            (F.col("fx") - F.expr("FLOOR(fx)")).alias("ax"),
            (F.col("fy") - F.expr("FLOOR(fy)")).alias("ay"),
        )
        corners = base.select(
            "pid",
            F.explode(
                F.array(
                    F.struct(F.col("x0").alias("gpx"), F.col("y0").alias("gpy"),
                             ((1 - F.col("ax")) * (1 - F.col("ay"))).alias("w")),
                    F.struct((F.col("x0") + 1).alias("gpx"), F.col("y0").alias("gpy"),
                             (F.col("ax") * (1 - F.col("ay"))).alias("w")),
                    F.struct(F.col("x0").alias("gpx"), (F.col("y0") + 1).alias("gpy"),
                             ((1 - F.col("ax")) * F.col("ay")).alias("w")),
                    F.struct((F.col("x0") + 1).alias("gpx"), (F.col("y0") + 1).alias("gpy"),
                             (F.col("ax") * F.col("ay")).alias("w")),
                )
            ).alias("t"),
        ).select("pid", "t.gpx", "t.gpy", "t.w")
        # clamp taps to the raster (edge replication, GWK edge behavior)
        taps = corners.select(
            "pid",
            F.expr(f"LEAST({world - 1}, GREATEST(0, gpx))").alias("gpx"),
            F.expr(f"LEAST({world - 1}, GREATEST(0, gpy))").alias("gpy"),
            "w",
        )
    elif method == "cubic":
        # 4x4 Catmull-Rom (gdal_interpolateatpoint.cpp cubic path):
        # taps at x0-1..x0+2, weight = k(ax - (i-1)) * k(ay - (j-1));
        # the weight polynomial comes from sqlgen so an oracle can embed
        # the identical text
        from ..functions.sqlgen import cubic_w_sql

        base = pts.select(
            "pid",
            F.expr("CAST(FLOOR(fx) AS BIGINT)").alias("x0"),
            F.expr("CAST(FLOOR(fy) AS BIGINT)").alias("y0"),
            (F.col("fx") - F.expr("FLOOR(fx)")).alias("ax"),
            (F.col("fy") - F.expr("FLOOR(fy)")).alias("ay"),
        )
        wx = cubic_w_sql("(ax - CAST(i - 1 AS DOUBLE))")
        wy = cubic_w_sql("(ay - CAST(j - 1 AS DOUBLE))")
        corners = base.select(
            "pid",
            F.explode(F.expr(
                "flatten(transform(sequence(0, 3), j -> "
                "transform(sequence(0, 3), i -> named_struct("
                "'gpx', x0 + i - 1, 'gpy', y0 + j - 1, "
                f"'w', ({wx}) * ({wy})))))"
            )).alias("t"),
        ).select("pid", "t.gpx", "t.gpy", "t.w")
        taps = corners.select(
            "pid",
            F.expr(f"LEAST({world - 1}, GREATEST(0, gpx))").alias("gpx"),
            F.expr(f"LEAST({world - 1}, GREATEST(0, gpy))").alias("gpy"),
            "w",
        )
    else:
        raise ValueError(method)

    taps = taps.withColumn(
        "gx", F.expr(f"CAST(FLOOR(gpx / CAST({TILE} AS DOUBLE)) AS BIGINT)")
    ).withColumn(
        "gy", F.expr(f"CAST(FLOOR(gpy / CAST({TILE} AS DOUBLE)) AS BIGINT)")
    )

    joined = taps.join(tiles.select("gx", "gy", "width", "height", "dtype", "pixels"),
                       ["gx", "gy"])

    out_schema = T.StructType(
        [T.StructField("pid", T.LongType()), T.StructField("part", T.DoubleType())]
    )

    def sample(batches):
        import pandas as pd

        for pdf in batches:
            vals = np.empty(len(pdf), dtype=np.float64)
            # group taps by tile within the batch; decode each tile once
            for (gx, gy), idx in pdf.groupby(["gx", "gy"]).groups.items():
                grid = parse_tile(pdf.loc[idx[0]])
                lx = (pdf.loc[idx, "gpx"] - gx * TILE).to_numpy(np.int64)
                ly = (pdf.loc[idx, "gpy"] - gy * TILE).to_numpy(np.int64)
                vals[pdf.index.get_indexer(idx)] = grid[ly, lx]
            yield pd.DataFrame(
                {"pid": pdf["pid"].to_numpy(), "part": vals * pdf["w"].to_numpy()}
            )

    parts = joined.mapInPandas(sample, out_schema)
    return parts.groupBy("pid").agg(F.sum("part").alias("value"))


ZONE_NODATA = -1


def _zone_setup(spark, polys, zoom: int):
    """Shared zonal machinery: broadcast geometry payload + the per-tile
    covering-fid LIST table (one skinny row per covered tile — built
    from the per-PART tile-range explode, then collect_set so VALUE
    tiles are never replicated per zone; the list table broadcasts,
    the same small-layer constraint as the spatial-join machinery)."""
    from ..kernels import wkb as W
    from .rasterize import lonlat_to_px
    from .spatial_join import payload_key

    world = (1 << zoom) * TILE
    maxt = (1 << zoom) - 1
    payload = []
    env_rows = []
    for pf in sorted(polys, key=lambda p: p.fid):
        g = W.parse_wkb(pf.wkb())
        payload.append((int(pf.fid), int(pf.eas_id), pf.wkb()))
        ring_i = 0
        for nrings in g.part_rings:
            s, e = g.ring_offsets[ring_i], g.ring_offsets[ring_i + 1]
            xs, ys = g.xs[s:e], g.ys[s:e]
            ring_i += int(nrings)
            px, py = lonlat_to_px(
                np.array([xs.min(), xs.max()]),
                np.array([ys.min(), ys.max()]), zoom,
            )
            env_rows.append(
                (int(pf.fid),
                 max(0, int(px.min() // TILE)), min(maxt, int(px.max() // TILE)),
                 max(0, int(py.min() // TILE)), min(maxt, int(py.max() // TILE)))
            )
    bc = spark.sparkContext.broadcast(payload)
    pkey = payload_key([(fid, buf) for fid, _eas, buf in payload])

    env = local_df(spark, 
        env_rows, "fid LONG, tx0 LONG, tx1 LONG, ty0 LONG, ty1 LONG"
    )
    cover_lists = (
        env.select(
            "fid",
            F.explode(F.expr("sequence(tx0, tx1)")).alias("gx"),
            "ty0", "ty1",
        )
        .select("fid", "gx", F.explode(F.expr("sequence(ty0, ty1)")).alias("gy"))
        .groupBy("gx", "gy")
        .agg(F.sort_array(F.collect_set("fid")).alias("_zfids"))
    )
    return bc, pkey, cover_lists, world


def _burn_zone_grid(gx, gy, fids, geoms, eas_of, world):
    """Burn one tile's int64 zone grid: eas_id at every pixel whose
    CENTER (lon/lat, zonal.cpp 'default' rule, exact strict ray cast —
    with the InstallFilter rectangle shortcut ogrlayer.cpp:3887 for
    axis-rect zones) is inside the zone, ascending-fid REPLACE order."""
    from ..kernels import pip as PIP
    from .spatial_join import is_axis_rect

    ox, oy = gx * TILE, gy * TILE
    lon = (ox + np.arange(TILE) + 0.5) / world * 360.0 - 180.0
    yfrac = (oy + np.arange(TILE) + 0.5) / world
    merc = (1.0 - 2.0 * yfrac) * np.pi
    lat = np.degrees(2.0 * np.arctan(np.exp(merc)) - np.pi / 2.0)
    zones = np.full((TILE, TILE), ZONE_NODATA, dtype=np.int64)
    for fid in sorted(int(f) for f in fids):
        g = geoms[fid]
        if is_axis_rect(g):
            x0, y0, x1, y1 = g.envelope()
            m = ((lon > x0) & (lon < x1))[None, :] \
                & ((lat > y0) & (lat < y1))[:, None]
        else:
            LON = np.broadcast_to(lon[None, :], (TILE, TILE)).ravel()
            LAT = np.broadcast_to(lat[:, None], (TILE, TILE)).ravel()
            m = PIP.points_in_polygon(LON, LAT, g).reshape(TILE, TILE)
        zones[m] = eas_of[fid]
    return zones


def zone_tiles(spark, polys, zoom: int) -> DataFrame:
    """Materialized zone-id raster (one int64 grid per covered tile) —
    the reusable artifact when several value rasters share one zone
    layer. The inline zonal paths below FUSE the burn into the stat
    pass instead (no extra stage)."""
    bc, pkey, cover_lists, world = _zone_setup(spark, polys, zoom)

    out_schema = T.StructType(
        [
            T.StructField("gx", T.LongType()),
            T.StructField("gy", T.LongType()),
            T.StructField("zones", T.BinaryType()),
        ]
    )

    def burn(batches):
        import pandas as pd

        from .spatial_join import _prepared

        for pdf in batches:
            geoms = _prepared([(f, b) for f, _e, b in bc.value], pkey)
            eas_of = {f: e for f, e, _b in bc.value}
            rows = []
            for _, row in pdf.iterrows():
                gx, gy = int(row["gx"]), int(row["gy"])
                zones = _burn_zone_grid(
                    gx, gy, row["_zfids"], geoms, eas_of, world)
                rows.append(
                    {"gx": gx, "gy": gy, "zones": zones.ravel().tobytes()}
                )
            if rows:
                yield pd.DataFrame(rows)

    return cover_lists.mapInPandas(burn, out_schema)


def _zonal_partials(tiles, polys, zoom, reducer, out_schema):
    """Fused zonal pass: value tiles join the broadcast covering-fid
    list on (gx, gy) — value tiles NEVER shuffle and are never
    replicated per zone — then one task burns the tile's zone grid and
    reduces (zone, value) partials in a single vectorized pass. Per-tile
    work scales with the zones covering that tile, not the layer size;
    the shuffle carries partial rows, never pixels."""
    spark = tiles.sparkSession
    bc, pkey, cover_lists, world = _zone_setup(spark, polys, zoom)
    joined = tiles.join(F.broadcast(cover_lists), ["gx", "gy"])

    def partials(batches):
        import pandas as pd

        from .spatial_join import _prepared

        for pdf in batches:
            geoms = _prepared([(f, b) for f, _e, b in bc.value], pkey)
            eas_of = {f: e for f, e, _b in bc.value}
            rows = []
            for _, row in pdf.iterrows():
                vals = parse_tile(row).astype(np.float64).ravel()
                zones = _burn_zone_grid(
                    int(row["gx"]), int(row["gy"]),
                    row["_zfids"], geoms, eas_of, world).ravel()
                m = zones != ZONE_NODATA
                if not m.any():
                    continue
                rows += reducer(zones[m], vals[m])
            if rows:
                yield pd.DataFrame(
                    rows, columns=[f.name for f in out_schema.fields]
                )

    return joined.mapInPandas(partials, out_schema)


def raster_zonal_stats(tiles: DataFrame, polys, zoom: int) -> DataFrame:
    """True raster zonal statistics (``/root/reference/alg/zonal.cpp``,
    stat list apps/gdalalg_raster_zonal_stats.cpp:63-82; 'default'
    pixel-inclusion rule = pixel CENTER inside zone): zones are the
    polygon layer, values are the tile pixels.

    Distributed shape: the fused burned-zone pass (_zonal_partials) —
    the raster-sequential strategy of zonal.cpp with the per-tile
    all-zones PIP loop replaced by a per-tile burn over only the
    COVERING zones, one sort+reduceat partial pass, and a tiny
    groupBy(zone) merge."""
    out_schema = T.StructType(
        [
            T.StructField("eas_id", T.LongType()),
            T.StructField("cnt", T.LongType()),
            T.StructField("vsum", T.DoubleType()),
            T.StructField("vmin", T.DoubleType()),
            T.StructField("vmax", T.DoubleType()),
        ]
    )

    def reducer(z, v):
        order = np.argsort(z, kind="stable")
        z, v = z[order], v[order]
        uz, starts = np.unique(z, return_index=True)
        cnts = np.diff(np.append(starts, len(z)))
        return list(zip(
            uz.tolist(), cnts.tolist(),
            np.add.reduceat(v, starts).tolist(),
            np.minimum.reduceat(v, starts).tolist(),
            np.maximum.reduceat(v, starts).tolist(),
        ))

    part = _zonal_partials(tiles, polys, zoom, reducer, out_schema)
    return part.groupBy("eas_id").agg(
        F.sum("cnt").alias("zn_count"),
        F.sum("vsum").alias("zn_sum"),
        F.min("vmin").alias("zn_min"),
        F.max("vmax").alias("zn_max"),
        (F.sum("vsum") / F.sum("cnt")).alias("zn_mean"),
    )


def histogram(tiles: DataFrame, bin_width: float) -> DataFrame:
    """Fixed-bin raster histogram (GetHistogram over blocks,
    gcore/gdalrasterband.cpp): per-tile partial bin counts (numpy bincount)
    -> groupBy(bin) merge. Shuffle carries bins, not pixels."""
    out_schema = T.StructType(
        [T.StructField("bin", T.LongType()), T.StructField("cnt", T.LongType())]
    )

    def partials(batches):
        import pandas as pd

        for pdf in batches:
            acc = {}
            for _, row in pdf.iterrows():
                grid = parse_tile(row).astype(np.float64)
                bins = np.floor(grid.ravel() / bin_width).astype(np.int64)
                u, c = np.unique(bins, return_counts=True)
                for b, n in zip(u.tolist(), c.tolist()):
                    acc[b] = acc.get(b, 0) + n
            if acc:
                yield pd.DataFrame(
                    {"bin": list(acc.keys()), "cnt": list(acc.values())}
                )

    return tiles.mapInPandas(partials, out_schema).groupBy("bin").agg(
        F.sum("cnt").alias("n_pixels")
    )


def mosaic_first(tiles_a: DataFrame, tiles_b: DataFrame) -> DataFrame:
    """Mosaic two tile tables: first non-null wins per tile key (buildvrt
    overlay-order semantics, apps/gdalbuildvrt_lib.cpp) — a unionByName +
    window-rank, no pixel kernel needed when tiles align."""
    from pyspark.sql import Window

    u = tiles_a.withColumn("_src", F.lit(0)).unionByName(
        tiles_b.withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy("zoom", "gx", "gy", "band").orderBy("_src")
    return (
        u.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .drop("_rk", "_src")
    )


def mosaic_overlay(tile_tables, nodata: float) -> DataFrame:
    """Pixel-level nodata-aware mosaic (gdalbuildvrt overlay order,
    apps/gdalbuildvrt_lib.cpp: sources are drawn in list order with LATER
    sources on top; nodata pixels are transparent). Aligned tile grids;
    one groupBy(tile) + per-tile numpy paint-over — the shuffle carries
    only the overlapping tiles' payloads."""
    u = None
    for i, t in enumerate(tile_tables):
        w = t.withColumn("_src", F.lit(i))
        u = w if u is None else u.unionByName(w)

    nd = float(nodata)

    def paint(pdf):
        import pandas as pd

        pdf = pdf.sort_values("_src")
        first = pdf.iloc[0]
        out = np.full((int(first["height"]), int(first["width"])), nd)
        for _, row in pdf.iterrows():
            g = parse_tile(row).astype(np.float64)
            out = np.where(g != nd, g, out)
        return pd.DataFrame([tile_row(out, like=first, dataset_id="mosaic",
                                      nodata=nd)])

    return u.groupBy("zoom", "gx", "gy", "band").applyInPandas(paint, TILE_SCHEMA)


def pansharpen(pan_tiles: DataFrame, rgb_tiles: DataFrame,
               weights=(1.0 / 3, 1.0 / 3, 1.0 / 3)) -> DataFrame:
    """Weighted-Brovey pansharpening (alg/gdalpansharpen.cpp): for each
    aligned tile, out_band = band * pan / pseudo_pan where pseudo_pan =
    sum(w_i * band_i). Trivially partition-local: one equi-join on the
    tile key + one numpy kernel; bands arrive as rows (band column) and
    leave the same way."""
    pan = pan_tiles.select(
        "zoom", "gx", "gy", F.col("pixels").alias("pan_pixels"),
        F.col("dtype").alias("pan_dtype"),
    )
    joined = rgb_tiles.join(pan, ["zoom", "gx", "gy"])

    wlist = list(weights)

    def kernel(grp):
        # applyInPandas guarantees grp holds ALL band rows of exactly one
        # tile — a repartition+mapInPandas shape instead would let Arrow
        # split one tile's bands across record batches, silently computing
        # pseudo_pan from a subset of bands
        import pandas as pd

        bands = {}
        for _, row in grp.iterrows():
            bands[int(row["band"])] = parse_tile(row).astype(np.float64)
        first = grp.iloc[0]
        pan_arr = np.frombuffer(
            bytes(first["pan_pixels"]), dtype=np.dtype(first["pan_dtype"])
        ).reshape(first["height"], first["width"]).astype(np.float64)
        pseudo = sum(w * bands[i + 1] for i, w in enumerate(wlist)
                     if (i + 1) in bands)
        with np.errstate(invalid="ignore", divide="ignore"):
            ratio = np.where(pseudo > 0, pan_arr / pseudo, 0.0)
        return pd.DataFrame([
            tile_row(arr * ratio, like=first, dataset_id="pansharp", band=bid)
            for bid, arr in bands.items()])

    return joined.groupBy("zoom", "gx", "gy").applyInPandas(kernel, TILE_SCHEMA)


def raster_zonal_hist(tiles: DataFrame, polys, zoom: int) -> DataFrame:
    """Per-(zone, value) pixel counts — the decomposable carrier for the
    categorical zonal statistics (majority/minority/variety/median).
    Same fused burned-zone pass as raster_zonal_stats; one vectorized
    np.unique per tile over the (zone, value) pairs. Shuffle carries
    (zone, value) partials, never pixels; for integer rasters the
    histogram is small and every downstream stat is exact."""
    out_schema = T.StructType(
        [
            T.StructField("eas_id", T.LongType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("cnt", T.LongType()),
        ]
    )

    def reducer(z, v):
        pairs = np.stack([z.astype(np.float64), v], axis=1)
        u, c = np.unique(pairs, axis=0, return_counts=True)
        return [
            (int(zz), float(vv), int(n))
            for (zz, vv), n in zip(u.tolist(), c.tolist())
        ]

    part = _zonal_partials(tiles, polys, zoom, reducer, out_schema)
    return part.groupBy("eas_id", "value").agg(F.sum("cnt").alias("cnt"))


def raster_zonal_full(tiles: DataFrame, polys, zoom: int) -> DataFrame:
    """The categorical tier of the zonal stat set
    (apps/gdalalg_raster_zonal_stats.cpp:63-82 choices; accumulator
    semantics alg/raster_stats.h): count, variety, majority (mode: max
    count, ties -> LARGEST value, raster_stats.h mode() comparator),
    minority (min count, ties -> smallest value), median (our pinned
    convention: lower-middle element — the value whose cumulative count
    first reaches floor((n+1)/2); the reference CLI lists median but the
    in-repo accumulator carries no quantile), stdev/variance (population,
    from exact integer sum/sumsq partials)."""
    from pyspark.sql import Window

    hist = raster_zonal_hist(tiles, polys, zoom).withColumn(
        "vl", F.col("value").cast("long")
    )
    w_maj = Window.partitionBy("eas_id").orderBy(F.desc("cnt"), F.desc("vl"))
    w_min = Window.partitionBy("eas_id").orderBy(F.asc("cnt"), F.asc("vl"))
    w_cum = Window.partitionBy("eas_id").orderBy("vl").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    ranked = (
        hist
        .withColumn("rk_maj", F.row_number().over(w_maj))
        .withColumn("rk_min", F.row_number().over(w_min))
        .withColumn("cum", F.sum("cnt").over(w_cum))
    )
    n_tot = hist.groupBy("eas_id").agg(
        F.sum("cnt").alias("zn_count"),
        F.count("*").alias("zn_variety"),
        F.sum(F.col("vl") * F.col("cnt")).alias("_s1"),
        F.sum(F.col("vl") * F.col("vl") * F.col("cnt")).alias("_s2"),
    )
    med = (
        ranked.join(n_tot.select("eas_id", "zn_count"), "eas_id")
        .filter(F.col("cum") * 2 >= F.col("zn_count") + F.lit(1))
        .groupBy("eas_id").agg(F.min("vl").alias("zn_median"))
    )
    maj = ranked.filter(F.col("rk_maj") == 1).select(
        "eas_id", F.col("vl").alias("zn_majority"))
    mino = ranked.filter(F.col("rk_min") == 1).select(
        "eas_id", F.col("vl").alias("zn_minority"))
    return (
        n_tot.join(maj, "eas_id").join(mino, "eas_id").join(med, "eas_id")
        .select(
            "eas_id", "zn_count", "zn_variety", "zn_majority", "zn_minority",
            "zn_median",
            F.sqrt(
                (F.col("_s2") / F.col("zn_count"))
                - (F.col("_s1") / F.col("zn_count"))
                * (F.col("_s1") / F.col("zn_count"))
            ).alias("zn_stdev"),
        )
    )


def _zone_px_bounds(polys, zoom: int, quant: int = 64):
    """Axis-rect zones -> GLOBAL pixel-space bounds quantized to 1/quant
    px. The quantization is the approx-transformer analog (same move as
    the warp reprojection's 1/4096-px snap): it makes every coverage
    weight an exact dyadic rational, so weighted sums are EXACT doubles
    in any summation order — that is what lets a cross-engine oracle
    match bit-for-bit with no rounding."""
    from .rasterize import lonlat_to_px

    out = []
    for pf in polys:
        x0, y0, x1, y1 = pf.params["bounds"]
        px, py = lonlat_to_px(np.array([x0, x1]), np.array([y1, y0]), zoom)
        out.append(
            (int(pf.fid), int(pf.eas_id),
             round(px[0] * quant) / quant, round(py[0] * quant) / quant,
             round(px[1] * quant) / quant, round(py[1] * quant) / quant)
        )
    return out


def raster_zonal_frac(tiles: DataFrame, polys, zoom: int) -> DataFrame:
    """Fractional-coverage zonal statistics — the ``coverage`` /
    ``weighted_*`` stat tier of apps/gdalalg_raster_zonal_stats.cpp:63-82
    (each pixel contributes the FRACTION of its cell covered by the
    zone, not a 0/1 center test).

    v1 scope: axis-rect zones (the dominant tile-index / bbox workload).
    The zone's pixel-space footprint of an axis rect is itself an axis
    rect (lon→px is linear, lat→py monotone), so per-pixel coverage is
    the product of two clamped 1-D overlaps — computed as an outer
    product per (tile, zone) cover row. Bounds are quantized to 1/64 px
    (see _zone_px_bounds) making every weight and weighted term exact.
    General polygons: interior pixels weigh 1 (center rule), boundary
    pixels need the per-pixel clip weight — implemented in
    raster_zonal_frac_poly below (kernels/clip.polygon_cov_weights).

    Returns (eas_id, zn_cov, zn_wsum, zn_wmean): Σw, Σw·v, Σw·v / Σw.
    Overlapping zones each receive their own coverage (per-zone weights,
    unlike the burned REPLACE grid).
    """
    from .spatial_join import is_axis_rect
    from ..kernels import wkb as W

    for pf in polys:
        if not is_axis_rect(W.parse_wkb(pf.wkb())):
            raise NotImplementedError(
                "fractional zonal v1 covers axis-rect zones; general "
                "polygons need the boundary-band clip weights "
                "(kernels/clip.sh_clip_ring per ring-touched pixel)"
            )

    spark = tiles.sparkSession
    bounds = _zone_px_bounds(polys, zoom)
    bc = spark.sparkContext.broadcast(bounds)
    maxt = (1 << zoom) - 1

    env = local_df(spark, 
        [
            (fid,
             max(0, int(px0 // TILE)), min(maxt, int(px1 // TILE)),
             max(0, int(py0 // TILE)), min(maxt, int(py1 // TILE)))
            for fid, _eas, px0, py0, px1, py1 in bounds
        ],
        "fid LONG, tx0 LONG, tx1 LONG, ty0 LONG, ty1 LONG",
    )
    cover = env.select(
        "fid",
        F.explode(F.expr("sequence(tx0, tx1)")).alias("gx"),
        "ty0", "ty1",
    ).select("fid", "gx", F.explode(F.expr("sequence(ty0, ty1)")).alias("gy"))

    joined = tiles.join(cover, ["gx", "gy"])

    out_schema = T.StructType(
        [
            T.StructField("eas_id", T.LongType()),
            T.StructField("cov", T.DoubleType()),
            T.StructField("wsum", T.DoubleType()),
        ]
    )

    def partials(batches):
        import pandas as pd

        by_fid = {
            fid: (eas, px0, py0, px1, py1)
            for fid, eas, px0, py0, px1, py1 in bc.value
        }
        for pdf in batches:
            rows = []
            for (gx, gy), idx in pdf.groupby(["gx", "gy"]).groups.items():
                row = pdf.loc[idx[0]]
                vals = parse_tile(row).astype(np.float64)
                ox, oy = int(gx) * TILE, int(gy) * TILE
                ex = ox + np.arange(TILE, dtype=np.float64)   # pixel left edges
                ey = oy + np.arange(TILE, dtype=np.float64)   # pixel top edges
                for fid in pdf.loc[idx, "fid"]:
                    eas, px0, py0, px1, py1 = by_fid[int(fid)]
                    wx = np.clip(np.minimum(px1, ex + 1.0) - np.maximum(px0, ex),
                                 0.0, 1.0)
                    wy = np.clip(np.minimum(py1, ey + 1.0) - np.maximum(py0, ey),
                                 0.0, 1.0)
                    if not wx.any() or not wy.any():
                        continue
                    Wgt = wy[:, None] * wx[None, :]
                    cov = float(Wgt.sum())
                    if cov == 0.0:
                        continue
                    rows.append((int(eas), cov, float((Wgt * vals).sum())))
            if rows:
                yield pd.DataFrame(rows, columns=["eas_id", "cov", "wsum"])

    part = joined.mapInPandas(partials, out_schema)
    return part.groupBy("eas_id").agg(
        F.sum("cov").alias("zn_cov"),
        F.sum("wsum").alias("zn_wsum"),
        (F.sum("wsum") / F.sum("cov")).alias("zn_wmean"),
    )


_QUAD_SCHEMA = T.StructType(
    [
        T.StructField("pgx", T.LongType()),
        T.StructField("pgy", T.LongType()),
        T.StructField("qx", T.IntegerType()),
        T.StructField("qy", T.IntegerType()),
        T.StructField("quad", T.BinaryType()),
    ]
)


def _pyramid_halo(tiles: DataFrame, r: int, quad_kernel) -> DataFrame:
    """One overview level whose 2x reduction reads ``r`` source pixels
    past each tile: ``focal.halo_apply`` hands each src tile its
    (TILE+2r)^2 pad, ``quad_kernel(pad)`` reduces it to the tile's
    128x128 quadrant of the parent, and the quadrants assemble into
    parent tiles. Two skinny shuffles (halo, then quadrants); full
    pixel payloads never shuffle twice."""
    import pandas as pd

    # infer zoom + metadata from ONE row (single-level tile tables carry
    # one zoom and constant metadata): first() limit-pushes to a single
    # partition, where the old min(zoom) aggregate scanned — and fully
    # computed — every tile just to learn a constant
    meta = tiles.select("zoom", "dataset_id", "band", "nodata", "crs") \
        .first().asDict()
    zoom = int(meta["zoom"])
    meta["zoom"] = zoom - 1

    def reduce_tile(tgx, tgy, _zoom, pad):
        return pd.DataFrame(
            [{"pgx": tgx // 2, "pgy": tgy // 2, "qx": tgx % 2,
              "qy": tgy % 2, "quad": quad_kernel(pad).tobytes()}]
        )

    quads = halo_apply(tiles, zoom, r, reduce_tile, _QUAD_SCHEMA)
    half = TILE // 2

    def assemble(pdf: "pd.DataFrame") -> "pd.DataFrame":
        pgx, pgy = int(pdf["pgx"].iloc[0]), int(pdf["pgy"].iloc[0])
        grid = np.zeros((TILE, TILE), dtype=np.float64)
        for _, row in pdf.iterrows():
            q = np.frombuffer(bytes(row["quad"]), dtype=np.float64).reshape(
                half, half
            )
            grid[int(row["qy"]) * half:(int(row["qy"]) + 1) * half,
                 int(row["qx"]) * half:(int(row["qx"]) + 1) * half] = q
        return pd.DataFrame([tile_row(grid, like=meta, gx=pgx, gy=pgy)])

    return quads.groupBy("pgx", "pgy").applyInPandas(assemble, TILE_SCHEMA)


def pyramid_gauss(tiles: DataFrame) -> DataFrame:
    """One GAUSS overview level (GDALResampleChunk_Gauss,
    gcore/overview.cpp:1996). Unlike the block-local modes in
    pyramid_reduce, the 3x3 binomial window reaches ONE SOURCE PIXEL
    past each 2x2 block — a cross-tile dependency: each src tile reads
    the east/south/SE border of its 1-px halo pad and reduces to its
    quadrant with kernels/resample.gauss_2x (see _pyramid_halo)."""
    from ..kernels import resample as RK2

    return _pyramid_halo(tiles, 1, lambda pad: RK2.gauss_2x(pad[1:, 1:]))


def raster_calc(bands: dict, expr: str, nodata=None) -> DataFrame:
    """gdal_calc.py / VRT derived-band pixel functions
    (frmts/vrt/vrtderivedrasterband.cpp; builtin set
    frmts/vrt/pixelfunctions.cpp): an infix numpy expression over named
    aligned tile tables. The expression compiles ONCE driver-side
    (kernels/calc.py — whitelisted ast, no eval) so bad input fails
    before any task launches; tile tables equi-join on (zoom, gx, gy)
    and each task evaluates one tile.

    bands: {"A": tiles_df, "B": tiles_df, ...} — same zoom/tiling.
    """
    from ..kernels import calc as CALC

    names = sorted(bands)
    CALC.compile_expr(expr, names)  # fail fast on the driver
    expr_s = str(expr)

    base = None
    for nm in names:
        df = bands[nm].select(
            "zoom", "gx", "gy",
            F.col("pixels").alias(f"_px_{nm}"),
            F.col("dtype").alias(f"_dt_{nm}"),
            *([
                "dataset_id", "band", "width", "height", "crs",
            ] if base is None else []),
        )
        base = df if base is None else base.join(df, ["zoom", "gx", "gy"])

    nd = nodata

    def kernel(batches):
        import pandas as pd

        from ..kernels import calc as CALC2

        fn = CALC2.compile_expr(expr_s, names)
        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                arrs = {}
                for nm in names:
                    w, h = int(row["width"]), int(row["height"])
                    arrs[nm] = np.frombuffer(
                        bytes(row[f"_px_{nm}"]),
                        dtype=np.dtype(row[f"_dt_{nm}"]),
                    ).reshape(h, w).astype(np.float64)
                out = np.asarray(fn(arrs), dtype=np.float64)
                rows.append(tile_row(
                    out, like=row, dataset_id=f"calc({row['dataset_id']})",
                    nodata=nd))
            if rows:
                yield pd.DataFrame(rows)

    return base.mapInPandas(kernel, TILE_SCHEMA)


def pyramid_conv(tiles: DataFrame, method: str = "cubic") -> DataFrame:
    """One BILINEAR or CUBIC convolution overview level
    (GDALResampleChunk_Convolution, gcore/overview.cpp:2593, at ratio
    2). The scaled kernel reaches past the 2x2 block on every side
    (bilinear: 1 left/top + 2 right/bottom; cubic: 3 + 4), so each src
    tile reads a 4-px halo pad from all 8 neighbors and reduces to its
    quadrant with kernels/resample.conv_2x (exact dyadic weights) — the
    same halo exchange and quadrant assembly as pyramid_gauss (see
    _pyramid_halo)."""
    from ..kernels import resample as RK2

    if method not in RK2.CONV_2X:
        raise ValueError(f"unknown conv overview method {method!r}")
    return _pyramid_halo(tiles, 4, lambda pad: RK2.conv_2x(pad, method))


def raster_zonal_frac_poly(tiles: DataFrame, zones, zoom: int) -> DataFrame:
    """General-polygon fractional-coverage zonal statistics — completes
    the ``coverage``/``weighted_*`` tier of
    apps/gdalalg_raster_zonal_stats.cpp:63-82 beyond axis rects.

    ``zones``: list of (eas_id, rings) with rings = [outer, hole, ...]
    and each ring an (xs, ys) vertex pair in GLOBAL pixel coordinates
    (the raster grid CRS — GDAL's same-CRS contract for zonal stats;
    reproject the vector side first otherwise).

    Per (tile, zone) cover pair the kernel classifies pixels in three
    tiers (kernels/clip.polygon_cov_weights): cells the boundary passes
    through get the exact Sutherland-Hodgman clip area, all others the
    0/1 center rule, holes subtract. Work is O(interior + perimeter)
    per tile — never O(pixels x vertices).

    Exactness contract: with dyadic vertices whose edges are axis-
    parallel or 45-degree with power-of-2 leg length, every clip vertex
    is dyadic and all sums are exact in any order (the zonal_frac
    oracle discipline extended to general polygons). Arbitrary
    float vertices still work; exactness then degrades to ~1-ulp.

    Plan shape: zone metadata broadcasts; tiles equi-join the exploded
    (zone, tile) cover list; one skinny (eas_id, cov, wsum) shuffle.
    """
    spark = tiles.sparkSession
    maxt = (1 << zoom) - 1

    zmeta = []
    for eas, rings in zones:
        ox0 = min(float(np.min(r[0])) for r in rings[:1])
        ox1 = max(float(np.max(r[0])) for r in rings[:1])
        oy0 = min(float(np.min(r[1])) for r in rings[:1])
        oy1 = max(float(np.max(r[1])) for r in rings[:1])
        zmeta.append((int(eas), ox0, oy0, ox1, oy1))
    bc = spark.sparkContext.broadcast(
        {int(eas): [(np.asarray(r[0], dtype=np.float64),
                     np.asarray(r[1], dtype=np.float64)) for r in rings]
         for eas, rings in zones}
    )

    env = local_df(spark, 
        [
            (eas,
             max(0, int(x0 // TILE)), min(maxt, int(x1 // TILE)),
             max(0, int(y0 // TILE)), min(maxt, int(y1 // TILE)))
            for eas, x0, y0, x1, y1 in zmeta
        ],
        "eas_id LONG, tx0 LONG, tx1 LONG, ty0 LONG, ty1 LONG",
    )
    cover = env.select(
        "eas_id",
        F.explode(F.expr("sequence(tx0, tx1)")).alias("gx"),
        "ty0", "ty1",
    ).select("eas_id", "gx",
             F.explode(F.expr("sequence(ty0, ty1)")).alias("gy"))

    joined = tiles.join(cover, ["gx", "gy"])

    out_schema = T.StructType(
        [
            T.StructField("eas_id", T.LongType()),
            T.StructField("cov", T.DoubleType()),
            T.StructField("wsum", T.DoubleType()),
        ]
    )

    def partials(batches):
        import pandas as pd

        from ..kernels import clip as CL

        for pdf in batches:
            rows = []
            for (gx, gy), idx in pdf.groupby(["gx", "gy"]).groups.items():
                row = pdf.loc[idx[0]]
                vals = parse_tile(row).astype(np.float64)
                ox, oy = int(gx) * TILE, int(gy) * TILE
                for eas in pdf.loc[idx, "eas_id"]:
                    w = CL.polygon_cov_weights(bc.value[int(eas)], ox, oy, TILE)
                    cov = float(w.sum())
                    if cov == 0.0:
                        continue
                    rows.append((int(eas), cov, float((w * vals).sum())))
            if rows:
                yield pd.DataFrame(rows, columns=["eas_id", "cov", "wsum"])

    part = joined.mapInPandas(partials, out_schema)
    return part.groupBy("eas_id").agg(
        F.sum("cov").alias("zn_cov"),
        F.sum("wsum").alias("zn_wsum"),
        (F.sum("wsum") / F.sum("cov")).alias("zn_wmean"),
    )


def viewshed(tiles: DataFrame, zoom: int, observers, radius: int,
             obs_height: float) -> DataFrame:
    """Viewshed over the tiled DEM (the reference's alg/viewshed/, here
    with the EXACT per-ray profile — kernels/viewshed.py documents the
    model and why it cross-reproduces bit-for-bit).

    ``observers``: [(obs_id, px, py)] in global pixel coords. Each
    observer gathers the tiles its (radius+1) chebyshev box overlaps
    (the zonal cover-join shape), assembles its private window in ONE
    task, and runs the ring-vectorized kernel — GDAL's viewshed is also
    single-threaded per observer; the distributed win is parallelism
    ACROSS observers (the many-tower / many-sensor workload), with
    radius bounding the gather exactly like proximity's MAXDIST.

    Returns (obs_id, gpx, gpy, visible).
    """
    spark = tiles.sparkSession
    r1 = radius + 1
    maxt = (1 << zoom) - 1

    world = (maxt + 1) * TILE
    for o, px, py in observers:
        if not (r1 <= int(px) < world - r1 and r1 <= int(py) < world - r1):
            # the gathered window would leave the raster: local indices
            # into the assembled array would wrap silently (wrong
            # visibility), so refuse loudly instead
            raise ValueError(
                f"viewshed observer {o} at ({px}, {py}) is within "
                f"radius+1={r1} px of the raster edge (world {world})"
            )

    obs = local_df(spark, 
        [(int(o), int(px), int(py)) for o, px, py in observers],
        "obs_id LONG, opx LONG, opy LONG",
    )
    env = obs.select(
        "obs_id", "opx", "opy",
        F.expr(f"GREATEST(0, (opx - {r1}) div {TILE})").alias("tx0"),
        F.expr(f"LEAST({maxt}, (opx + {r1}) div {TILE})").alias("tx1"),
        F.expr(f"GREATEST(0, (opy - {r1}) div {TILE})").alias("ty0"),
        F.expr(f"LEAST({maxt}, (opy + {r1}) div {TILE})").alias("ty1"),
    )
    cover = env.select(
        "obs_id", "opx", "opy",
        F.explode(F.expr("sequence(tx0, tx1)")).alias("gx"), "ty0", "ty1",
    ).select("obs_id", "opx", "opy", "gx",
             F.explode(F.expr("sequence(ty0, ty1)")).alias("gy"))

    joined = cover.join(tiles, ["gx", "gy"])

    out_schema = T.StructType(
        [
            T.StructField("obs_id", T.LongType()),
            T.StructField("gpx", T.LongType()),
            T.StructField("gpy", T.LongType()),
            T.StructField("visible", T.BooleanType()),
        ]
    )
    rad = int(radius)
    hgt = float(obs_height)

    def kernel(pdf):
        import pandas as pd

        from ..kernels import viewshed as VS

        oid = int(pdf["obs_id"].iloc[0])
        opx, opy = int(pdf["opx"].iloc[0]), int(pdf["opy"].iloc[0])
        # missing tiles inside the gather box would zero-fill the window
        # and make visibility silently wrong — mirror the loud world-edge
        # check (observers are pre-validated >= r1 from the edge, so the
        # cover box never clips and its full extent is known here)
        exp_nx = (opx + rad + 1) // TILE - (opx - rad - 1) // TILE + 1
        exp_ny = (opy + rad + 1) // TILE - (opy - rad - 1) // TILE + 1
        if len(pdf) != exp_nx * exp_ny:
            raise ValueError(
                f"viewshed observer {oid}: gather box expects "
                f"{exp_nx * exp_ny} tiles, joined {len(pdf)} — DEM has "
                f"holes inside radius {rad} of ({opx}, {opy})"
            )
        gxs = sorted(pdf["gx"].unique())
        gys = sorted(pdf["gy"].unique())
        win = np.zeros((len(gys) * TILE, len(gxs) * TILE))
        for _, row in pdf.iterrows():
            arr = parse_tile(row).astype(np.float64)
            iy = gys.index(row["gy"])
            ix = gxs.index(row["gx"])
            win[iy * TILE:(iy + 1) * TILE, ix * TILE:(ix + 1) * TILE] = arr
        x0, y0 = gxs[0] * TILE, gys[0] * TILE
        vis = VS.viewshed_window(win, opx - x0, opy - y0, rad, hgt)
        size = 2 * rad + 1
        yy, xx = np.mgrid[0:size, 0:size]
        return pd.DataFrame(
            {
                "obs_id": oid,
                "gpx": (opx - rad + xx.ravel()).astype(np.int64),
                "gpy": (opy - rad + yy.ravel()).astype(np.int64),
                "visible": vis.ravel(),
            }
        )

    return joined.groupBy("obs_id").applyInPandas(kernel, out_schema)


DEM_RAMP = [
    (0.0, (0.0, 0.0, 128.0)),
    (64.0, (0.0, 128.0, 0.0)),
    (128.0, (255.0, 255.0, 0.0)),
    (192.0, (255.0, 128.0, 0.0)),
    (255.0, (255.0, 255.0, 255.0)),
]


def color_relief(tiles: DataFrame, ramp=None) -> DataFrame:
    """gdaldem color-relief (apps/gdaldem_lib.cpp GDALColorRelief):
    per-pixel piecewise-linear ramp interpolation to (r, g, b). Pure
    native SQL over the exploded pixels — no halo, no Python; the
    channel expressions come from sqlgen so the oracle embeds the
    identical text. Returns (gpx, gpy, r, g, b)."""
    from ..functions import sqlgen as G2

    ramp = ramp or DEM_RAMP
    px = explode_pixels(tiles)
    return px.select(
        "gpx", "gpy",
        F.expr(G2.color_relief_sql("value", ramp, 0)).alias("r"),
        F.expr(G2.color_relief_sql("value", ramp, 1)).alias("g"),
        F.expr(G2.color_relief_sql("value", ramp, 2)).alias("b"),
    )


# --- raster pipeline cosmetics (round 5): blend / nodata-to-alpha /
# --- clean-collar / rgb-to-palette ---------------------------------------

def _mul255(a, b):
    """(a*b + 255) // 256 — GDAL's MulScale255 (gdalalg_raster_blend.cpp:183),
    byte ratio product by ceiling. int32/int64 numpy arrays."""
    return (a * b + 255) // 256


def _div255(a, b):
    """(a*255) // b with the 0/0-guard conventions of DivScale255
    (gdalalg_raster_blend.cpp:231): a==0 -> 0, b==0 -> 255."""
    return np.where(a == 0, 0,
                    np.where(b == 0, 255, (a * 255) // np.maximum(b, 1)))


def blend_tiles(base: DataFrame, overlay: DataFrame, mode="src_over",
                opacity=100) -> DataFrame:
    """``gdal raster blend`` (apps/gdalalg_raster_blend.cpp) over two
    aligned RGBA tile tables — per-tile numpy INTEGER math, exact to
    the reference's byte formulas:

    - opacity% -> 255 scale: (pct*255 + 50) // 100  (:2790)
    - src_over (:1711 RGBA generic): premultiplied composite with the
      (255<<8)/DA table un-premultiply;
    - multiply/screen/darken/lighten (:890+): Mapserver generic
      formulas through MulScale255/DivScale255.

    One groupBy on the tile key; the shuffle carries only tile
    payloads (the 100 TB shape — pixel math never leaves the task)."""
    if mode not in ("src_over", "multiply", "screen", "darken", "lighten"):
        raise ValueError(f"unsupported blend mode {mode!r}")
    op255 = (int(opacity) * 255 + 50) // 100
    u = base.withColumn("_src", F.lit(0)).unionByName(
        overlay.withColumn("_src", F.lit(1)))

    def kernel(key, pdf):
        import pandas as pd

        bands = {}
        for _, row in pdf.iterrows():
            g = parse_tile(row).astype(np.int64)
            bands[(int(row["_src"]), int(row["band"]))] = (g, row)
        if len(bands) < 8:
            return pd.DataFrame()       # incomplete RGBA pair
        C = [bands[(0, b)][0] for b in (1, 2, 3)]
        A = bands[(0, 4)][0]
        OC = [bands[(1, b)][0] for b in (1, 2, 3)]
        OA0 = bands[(1, 4)][0]
        proto = bands[(0, 1)][1]

        OA = _mul255(OA0, op255)
        if mode == "src_over":
            s_mul = _mul255(A, 255 - OA)
            DA = OA + s_mul
            inv = np.where(DA > 0, ((255 << 8) + DA // 2) // np.maximum(DA, 1),
                           0)
            out = [((_c := (oc * OA + c * s_mul + 255) // 256) * inv
                    + 255) >> 8
                   for c, oc in zip(C, OC)]
        else:
            DA = OA + A - _mul255(OA, A)
            Cp = [_mul255(c, A) for c in C]
            OCp = [_mul255(oc, OA) for oc in OC]
            out = []
            for c, oc in zip(Cp, OCp):
                if mode == "multiply":
                    t = _mul255(c, oc) + _mul255(c, 255 - OA) \
                        + _mul255(oc, 255 - A)
                elif mode == "screen":
                    t = c + oc - _mul255(c, oc)
                elif mode == "darken":
                    t = np.minimum(_mul255(oc, A), _mul255(c, OA)) \
                        + _mul255(c, 255 - OA) + _mul255(oc, 255 - A)
                else:                           # lighten
                    t = np.maximum(_mul255(oc, A), _mul255(c, OA)) \
                        + _mul255(c, 255 - OA) + _mul255(oc, 255 - A)
                out.append(_div255(t, DA))
        return pd.DataFrame([
            tile_row(g.astype(np.uint8), like=proto, dataset_id="blend",
                     band=bi, nodata=None)
            for bi, g in enumerate(out + [DA], start=1)])

    return u.groupBy("zoom", "gx", "gy").applyInPandas(
        kernel, TILE_SCHEMA)


def nodata_to_alpha_tiles(tiles: DataFrame) -> DataFrame:
    """``gdal raster nodata-to-alpha``
    (apps/gdalalg_raster_nodata_to_alpha.cpp): append the dataset mask
    as an alpha band — 0 where every band equals its nodata value,
    255 elsewhere — and clear the nodata flag on the data bands. One
    groupBy on the tile key."""
    def kernel(key, pdf):
        import pandas as pd

        rows = []
        mask = None
        proto = None
        nb = 0
        for _, row in pdf.iterrows():
            g = parse_tile(row)
            nd = row["nodata"]
            m = np.ones(g.shape, dtype=bool) if nd is None or \
                (isinstance(nd, float) and np.isnan(nd)) else (g != nd)
            mask = m if mask is None else (mask | m)
            proto = row
            nb = max(nb, int(row["band"]))
            # data bands pass through as a column copy, never re-encoded
            rows.append({**row[TILE_SCHEMA.names], "nodata": None})
        alpha = np.where(mask, 255, 0).astype(np.uint8)
        rows.append(tile_row(alpha, like=proto, band=nb + 1, nodata=None))
        return pd.DataFrame(rows)

    import pandas as pd  # noqa: F401  (kernel-scope import for executors)

    return tiles.groupBy("zoom", "gx", "gy").applyInPandas(
        kernel, TILE_SCHEMA)


def clean_collar_pixels(px: DataFrame, near_dist=15, color=0,
                        value_col="value") -> DataFrame:
    """``gdal raster clean-collar`` / nearblack 'twopasses'
    (apps/nearblack_lib.cpp:545 ProcessLine) with max_non_black=0 over
    a single-band pixel table: the collar is the union of the four
    directional near-color runs from the raster borders. With
    max_non_black=0 the reference's sequential pass interplay is
    inert (replaced pixels stay near-color), so the mask is exactly
    run-based and the whole operator is NATIVE Spark SQL — four
    window minima over the row / column partitionings (two shuffles),
    no Python in the plan. Collar pixels take the replace value
    (0 for black, 255 for white) and alpha 0."""
    from pyspark.sql import Window

    v = F.col(value_col)
    near = (F.abs(v - F.lit(int(color))) <= int(near_dist)).cast("int")
    p = px.withColumn("_near", near)
    wrow = Window.partitionBy("gpy")
    wcol = Window.partitionBy("gpx")
    bad_x = F.when(F.col("_near") == 0, F.col("gpx"))
    bad_y = F.when(F.col("_near") == 0, F.col("gpy"))
    p = (
        p.withColumn("_minbx", F.min(bad_x).over(wrow))
        .withColumn("_maxbx", F.max(bad_x).over(wrow))
        .withColumn("_minby", F.min(bad_y).over(wcol))
        .withColumn("_maxby", F.max(bad_y).over(wcol))
    )
    collar = (
        F.col("_minbx").isNull()
        | (F.col("gpx") < F.col("_minbx"))
        | (F.col("gpx") > F.col("_maxbx"))
        | (F.col("gpy") < F.col("_minby"))
        | (F.col("gpy") > F.col("_maxby"))
    )
    repl = 255 if int(color) == 255 else 0
    return p.select(
        "gpx", "gpy",
        F.when(collar, F.lit(repl)).otherwise(v).alias(value_col),
        F.when(collar, F.lit(0)).otherwise(F.lit(255)).alias("alpha"),
    )


def median_cut_palette(cols, wts, max_colors):
    """Weighted median-cut palette fit (the driver-side core of
    ``gdal raster rgb-to-palette``, apps/gdalalg_raster_rgb_to_palette.cpp).
    ``cols`` is an (n, 3) int64 array of distinct RGB colors, ``wts``
    their pixel counts. Splits the box with the widest channel range at
    its weighted median (ties: first box, stable order) until
    ``max_colors`` boxes or no splittable box remains; each palette
    entry is the weighted integer mean of its box. Fully integer and
    deterministic; returns a sorted list of (r, g, b) tuples."""
    boxes = [np.arange(len(cols))]
    while len(boxes) < max_colors:
        # widest box by channel range (ties: first box)
        best, bc, brange = None, 0, -1
        for bi, idx in enumerate(boxes):
            if len(idx) < 2:
                continue
            rng = cols[idx].max(axis=0) - cols[idx].min(axis=0)
            c = int(rng.argmax())
            if rng[c] > brange:
                best, bc, brange = bi, c, int(rng[c])
        if best is None or brange <= 0:
            break
        idx = boxes[best]
        order = idx[np.argsort(cols[idx, bc], kind="stable")]
        cum = np.cumsum(wts[order])
        half = int(np.searchsorted(cum, cum[-1] / 2.0)) + 1
        half = min(max(half, 1), len(order) - 1)
        boxes[best] = order[:half]
        boxes.append(order[half:])
    palette = []
    for idx in boxes:
        w = wts[idx]
        palette.append(tuple(
            int((cols[idx, c] * w).sum() // max(w.sum(), 1))
            for c in range(3)))
    palette.sort()
    return palette


def rgb_to_palette_tiles(tiles: DataFrame, max_colors=256):
    """``gdal raster rgb-to-palette``
    (apps/gdalalg_raster_rgb_to_palette.cpp): median-cut palette fit
    DRIVER-SIDE over the distributed color histogram (bounded: the
    groupBy(color) result is at most min(pixels, 2^24) rows and is
    capped by taking the top-weight colors), then one broadcast
    nearest-palette-entry assignment per tile. Returns (palette,
    indexed tile DataFrame); the palette is a list of (r, g, b)."""
    hist = (
        tiles.filter(F.col("band").isin(1, 2, 3))
        .groupBy("zoom", "gx", "gy", "band")
        .agg(F.first("pixels").alias("pixels"),
             F.first("width").alias("width"),
             F.first("height").alias("height"),
             F.first("dtype").alias("dtype"))
    )

    def colors(batches):
        import pandas as pd

        for pdf in batches:
            out = {}
            for key, sub in pdf.groupby(["zoom", "gx", "gy"]):
                if len(sub) < 3:
                    continue
                by_band = {int(r["band"]): parse_tile(r)
                           for _, r in sub.iterrows()}
                packed = (by_band[1].astype(np.int64) << 16) \
                    | (by_band[2].astype(np.int64) << 8) \
                    | by_band[3].astype(np.int64)
                vals, cnts = np.unique(packed, return_counts=True)
                for vv, cc in zip(vals.tolist(), cnts.tolist()):
                    out[vv] = out.get(vv, 0) + cc
            yield pd.DataFrame({"color": list(out), "cnt": list(out.values())})

    agg = (
        hist.mapInPandas(colors, "color LONG, cnt LONG")
        .groupBy("color").agg(F.sum("cnt").alias("cnt"))
        .orderBy(F.desc("cnt"), "color").limit(1 << 16)
        .collect()
    )
    cols = np.array([[r["color"] >> 16, (r["color"] >> 8) & 255,
                      r["color"] & 255] for r in agg], dtype=np.int64)
    wts = np.array([r["cnt"] for r in agg], dtype=np.int64)
    palette = median_cut_palette(cols, wts, max_colors)
    pal = np.array(palette, dtype=np.int64)

    spark = tiles.sparkSession
    bc_pal = spark.sparkContext.broadcast(pal)

    def assign(key, pdf):
        import pandas as pd

        by_band = {int(r["band"]): (parse_tile(r), r)
                   for _, r in pdf.iterrows()}
        if not {1, 2, 3} <= set(by_band):
            return pd.DataFrame()
        p = bc_pal.value
        r8, g8, b8 = (by_band[b][0].astype(np.int64) for b in (1, 2, 3))
        # exact nearest palette entry (squared RGB distance, first wins)
        d = ((r8[..., None] - p[:, 0]) ** 2
             + (g8[..., None] - p[:, 1]) ** 2
             + (b8[..., None] - p[:, 2]) ** 2)
        pidx = d.argmin(axis=-1).astype(np.uint8)
        return pd.DataFrame([tile_row(pidx, like=by_band[1][1],
                                      dataset_id="palette", band=1,
                                      nodata=None)])

    indexed = tiles.filter(F.col("band").isin(1, 2, 3)) \
        .groupBy("zoom", "gx", "gy").applyInPandas(assign, TILE_SCHEMA)
    return palette, indexed


def compare_tiles(a: DataFrame, b: DataFrame) -> DataFrame:
    """``gdal raster compare`` (apps/gdalalg_raster_compare.cpp):
    per-band pixel difference report between two aligned tile tables —
    differing-pixel count, max and sum of absolute differences. One
    groupBy on (tile, band); per-tile numpy integer math."""
    u = a.withColumn("_src", F.lit(0)).unionByName(
        b.withColumn("_src", F.lit(1)))

    def kernel(key, pdf):
        import pandas as pd

        by_src = {int(r["_src"]): parse_tile(r).astype(np.int64)
                  for _, r in pdf.iterrows()}
        if len(by_src) < 2:
            return pd.DataFrame()
        d = np.abs(by_src[0] - by_src[1])
        proto = pdf.iloc[0]
        return pd.DataFrame([{
            "zoom": int(proto["zoom"]), "gx": int(proto["gx"]),
            "gy": int(proto["gy"]), "band": int(proto["band"]),
            "n_diff": int((d > 0).sum()),
            "max_abs_diff": int(d.max()),
            "sum_abs_diff": int(d.sum()),
        }])

    return u.groupBy("zoom", "gx", "gy", "band").applyInPandas(
        kernel,
        "zoom INT, gx LONG, gy LONG, band INT, n_diff LONG, "
        "max_abs_diff LONG, sum_abs_diff LONG")


# --------------------------------------------------------------------------
# gdal raster reclassify / scale / update / stack (round-5 verb sweep)
# --------------------------------------------------------------------------

_RECLASS_INF = float("inf")


def parse_reclass_mapping(text: str, nodata=None):
    """Parse the ``gdal raster reclassify -m`` mapping grammar
    (frmts/vrt/vrtreclassifier.cpp:213-345): ``;``-separated entries,
    each ``FROM=TO`` where FROM is a constant, an interval ``[a,b]`` /
    ``(a,b)`` / half-open mixes with ``-inf``/``inf`` bounds, ``NO_DATA``
    or ``DEFAULT``; TO is a number, ``NO_DATA`` or ``PASS_THROUGH``.
    Open bounds use nextafter exactly like the reference
    (vrtreclassifier.cpp:148-156).

    Returns (intervals, default_value, default_pass_through) with
    intervals = [(lo, hi, dst_or_None)] (dst None == PASS_THROUGH).
    Raises ValueError on grammar errors, NO_DATA without a nodata value,
    and overlapping intervals (vrtreclassifier.cpp:172-192)."""
    intervals = []
    default_value = None
    default_pass = False
    for raw in text.split(";"):
        entry = raw.strip()
        if not entry:
            continue
        if "=" not in entry:
            raise ValueError(f"reclassify: expected FROM=TO, got {entry!r}")
        src_s, dst_s = entry.split("=", 1)
        src_s, dst_s = src_s.strip(), dst_s.strip()

        if dst_s.upper() == "NO_DATA":
            if nodata is None:
                raise ValueError(
                    "reclassify: value mapped to NO_DATA, but NoData "
                    "value is not set")
            dst, pass_through = float(nodata), False
        elif dst_s.upper() == "PASS_THROUGH":
            dst, pass_through = None, True
        else:
            dst, pass_through = float(dst_s), False

        if src_s.upper() == "DEFAULT":
            if pass_through:
                default_pass = True
            else:
                default_value = dst
            continue
        if src_s.upper() == "NO_DATA":
            if nodata is None:
                raise ValueError(
                    "reclassify: value mapped from NO_DATA, but NoData "
                    "value is not set")
            intervals.append((float(nodata), float(nodata), dst))
            continue
        if src_s.startswith("[") or src_s.startswith("("):
            lo_inc = src_s.startswith("[")
            if src_s.endswith("]"):
                hi_inc = True
            elif src_s.endswith(")"):
                hi_inc = False
            else:
                raise ValueError(
                    f"reclassify: interval must end with ')' or ']': {src_s!r}")
            body = src_s[1:-1].split(",")
            if len(body) != 2:
                raise ValueError(f"reclassify: expected two bounds: {src_s!r}")
            lo = -_RECLASS_INF if body[0].strip().lower() == "-inf" else float(body[0])
            hi = _RECLASS_INF if body[1].strip().lower() == "inf" else float(body[1])
            if lo > hi:
                raise ValueError(f"reclassify: lower bound > upper: {src_s!r}")
            if not lo_inc:
                lo = np.nextafter(lo, _RECLASS_INF)
            if not hi_inc:
                hi = np.nextafter(hi, -_RECLASS_INF)
            intervals.append((lo, hi, dst))
        else:
            v = float(src_s)
            intervals.append((v, v, dst))

    intervals.sort(key=lambda t: t[0])
    for (a_lo, a_hi, _), (b_lo, b_hi, _) in zip(intervals, intervals[1:]):
        if b_lo <= a_hi:
            raise ValueError(
                f"reclassify: intervals [{a_lo},{a_hi}] and [{b_lo},{b_hi}] "
                "overlap")
    return intervals, default_value, default_pass


def reclassify_tiles(tiles: DataFrame, mapping: str, nodata=None,
                     out_dtype="float64") -> DataFrame:
    """``gdal raster reclassify`` (apps/gdalalg_raster_reclassify.cpp via
    frmts/vrt/vrtreclassifier.cpp): per-pixel interval remap. Mapping is
    parsed ONCE on the driver; each task runs one vectorized np.select
    over its tile. A value matched by no interval with no DEFAULT raises
    (the reference's CE_Failure 'not matched by any interval',
    vrtreclassifier.cpp Reclassify caller contract) — loud, never a
    silent 0."""
    intervals, default_value, default_pass = parse_reclass_mapping(
        mapping, nodata)

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                grid = parse_tile(row).astype(np.float64)
                conds = [(grid >= lo) & (grid <= hi)
                         for lo, hi, _ in intervals]
                choices = [np.full_like(grid, dst) if dst is not None else grid
                           for _, _, dst in intervals]
                matched = np.logical_or.reduce(conds) if conds else \
                    np.zeros_like(grid, dtype=bool)
                if default_value is not None:
                    default = np.full_like(grid, default_value)
                elif default_pass:
                    default = grid
                else:
                    if not matched.all():
                        bad = grid[~matched].ravel()[0]
                        raise ValueError(
                            f"reclassify: value {bad} not matched by any "
                            "interval and no DEFAULT mapping set")
                    default = grid
                out = np.select(conds, choices, default=default)
                out = R.round_to_dtype(out, np.dtype(out_dtype))
                rows.append(tile_row(out, like=row))
            if rows:
                yield pd.DataFrame(rows)

    return tiles.mapInPandas(kernel, TILE_SCHEMA)


def scale_tiles(tiles: DataFrame, src_min: float, src_max: float,
                dst_min: float, dst_max: float, exponent=None,
                clip=True, out_dtype="float64") -> DataFrame:
    """``gdal raster scale`` (apps/gdalalg_raster_scale.cpp →
    VRTComplexSource power/linear scaling, frmts/vrt/vrtsources.cpp:
    4041-4056): t = clip((v - srcMin)/(srcMax - srcMin), 0, 1) when clip;
    out = (dstMax - dstMin) * t**exponent + dstMin. Linear (no exponent)
    uses the gdal_translate ratio/offset form out = v*ratio + offset with
    ratio = (dstMax-dstMin)/(srcMax-srcMin), offset = dstMin -
    srcMin*ratio (apps/gdal_translate_lib.cpp -scale).

    Integral exponents are computed by repeated multiplication (not libm
    pow) so results are bit-exact across engines — mathematically equal
    to the reference's pow() and reproducible by the SQL oracle."""
    if exponent is not None:
        exp_int = int(exponent) if float(exponent).is_integer() else None

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            rows = []
            for _, row in pdf.iterrows():
                v = parse_tile(row).astype(np.float64)
                if exponent is None:
                    ratio = (dst_max - dst_min) / (src_max - src_min)
                    out = v * ratio + (dst_min - src_min * ratio)
                else:
                    t = (np.zeros_like(v) if src_min == src_max
                         else (v - src_min) / (src_max - src_min))
                    if clip:
                        t = np.clip(t, 0.0, 1.0)
                    if exp_int is not None and exp_int >= 0:
                        p = np.ones_like(t)
                        for _ in range(exp_int):
                            p = p * t
                    else:
                        p = np.power(t, float(exponent))
                    out = (dst_max - dst_min) * p + dst_min
                out = R.round_to_dtype(out, np.dtype(out_dtype))
                rows.append(tile_row(out, like=row))
            if rows:
                yield pd.DataFrame(rows)

    return tiles.mapInPandas(kernel, TILE_SCHEMA)


def update_tiles(base: DataFrame, patch: DataFrame, patch_nodata: float) -> DataFrame:
    """``gdal raster update`` (apps/gdalalg_raster_update.cpp: warp new
    content INTO an existing dataset; same-grid case): patch pixels
    overwrite base pixels except where the patch is nodata; patch tiles
    outside the base extent are cropped (the reference warps INTO the
    existing dataset's extent — no growth).

    ONE shuffle at scale: base and patch union with a source tag and
    co-group on the tile key; the kernel passes base-only tiles through
    untouched, drops patch-only tiles, and composites overlaps — no
    distinct/semi/anti pre-joins (each of those is its own shuffle of
    the same key set)."""
    keys = ["zoom", "gx", "gy", "band"]
    u = base.withColumn("_src", F.lit(0)).unionByName(
        patch.withColumn("_src", F.lit(1)))

    def kernel(key, pdf):
        import pandas as pd

        by_src = {int(r["_src"]): (r, parse_tile(r)) for _, r in pdf.iterrows()}
        if 0 not in by_src:
            return pd.DataFrame()  # patch outside base extent: cropped
        brow, bgrid = by_src[0]
        if 1 in by_src:
            _, pgrid = by_src[1]
            out = np.where(pgrid.astype(np.float64) == patch_nodata,
                           bgrid, pgrid).astype(bgrid.dtype)
        else:
            out = bgrid  # untouched base tile passes through
        return pd.DataFrame([tile_row(out, like=brow)])

    return u.groupBy(*keys).applyInPandas(kernel, TILE_SCHEMA)


def stack_tiles(tile_tables: list, dataset_id="stack") -> DataFrame:
    """``gdal raster stack`` (apps/gdalalg_raster_stack.cpp: concatenate
    inputs as bands of one dataset). Pure NATIVE plan — a unionByName
    with band renumbering (input i's band b becomes offset_i + b); no
    Python kernel, no shuffle (band arithmetic is map-side)."""
    out = None
    offset = 0
    for df in tile_tables:
        n_bands = 1  # callers pass single-band tables; multiband inputs
        # pre-explode via explode_pixels_banded semantics upstream
        part = df.withColumn("band", F.col("band") + F.lit(offset)) \
                 .withColumn("dataset_id", F.lit(dataset_id))
        out = part if out is None else out.unionByName(part)
        offset += n_bands
    return out


def as_features(tiles: DataFrame, geotransform=(0.0, 1.0, 0.0, -1.0),
                nodata=None) -> DataFrame:
    """``gdal raster as-features`` (apps/gdalalg_raster_as_features.cpp):
    one vector feature per pixel — band value, row/col, and the cell
    CENTER coordinates under a north-up geotransform (x0, dx, y0, dy);
    ``skip-nodata`` drops nodata pixels. Everything after the pixel
    explode is a NATIVE column expression (the filter and the affine run
    in codegen, so Catalyst can push a value predicate into the scan
    side of downstream joins)."""
    x0, dx, y0, dy = geotransform
    px = explode_pixels(tiles)
    if nodata is not None:
        px = px.filter(F.col("value") != F.lit(float(nodata)))
    return px.select(
        F.col("gpy").alias("row"),
        F.col("gpx").alias("col"),
        (F.lit(x0) + (F.col("gpx") + F.lit(0.5)) * F.lit(dx)).alias("x"),
        (F.lit(y0) + (F.col("gpy") + F.lit(0.5)) * F.lit(dy)).alias("y"),
        "value",
    )
