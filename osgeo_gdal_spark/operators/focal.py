"""Focal (neighborhood) raster operators with cross-tile halos.

The §2.G pattern (``/root/reference/apps/gdaldem_lib.cpp`` 3x3 stencils —
hillshade/slope/aspect/TPI/TRI/roughness; generic neighbors
``apps/gdalalg_raster_neighbors.cpp``): a per-tile numpy stencil whose
tile-edge pixels need a 1-px **halo** from the 8 neighbor tiles — the
distributed equivalent of GDAL reading neighbor blocks through its block
cache.

``halo_apply`` is the one halo exchange, shared by every focal operator,
fillnodata, contour segments and the GAUSS/convolution pyramids: every
tile sends its body and its r-px edge strips to each neighbor (an explode
to <= 9 (target, strip) rows carrying only the needed TILE x r / r x r
slices, NOT whole tiles), then ``groupBy(target)`` assembles one
NaN-filled (TILE+2r)^2 padded array and hands it to the caller's stencil.
Shuffle volume is 8 strips/tile ~ 3% of the raster at r=1, vs 9x for
naive whole-tile replication.

Slope uses Horn's formula exactly as gdaldem:
  dzdx = ((c + 2f + i) - (a + 2d + g)) / (8 * xres)
  dzdy = ((g + 2h + i) - (a + 2b + c)) / (8 * yres)
  slope_deg = degrees(atan(sqrt(dzdx^2 + dzdy^2)))
Pixels on the global raster border get ``nodata`` (gdaldem's default
skip-edges behavior).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from ..sources.raster import TILE, TILE_SCHEMA, tile_map, tile_row

_STRIP_SCHEMA = T.StructType(
    [
        T.StructField("tgx", T.LongType()),
        T.StructField("tgy", T.LongType()),
        T.StructField("dx", T.IntegerType()),
        T.StructField("dy", T.IntegerType()),
        T.StructField("zoom", T.IntegerType()),
        T.StructField("strip", T.BinaryType()),
        T.StructField("sh", T.IntegerType()),
        T.StructField("sw", T.IntegerType()),
    ]
)


def _strips(tiles: DataFrame, zoom: int, r: int) -> DataFrame:
    """Each tile -> its own body (dx=dy=0) + the 8 edge strips of `r`
    pixels addressed to neighbors. Strip payloads are float64."""
    n = 1 << zoom

    def gen(g, row):
        g = g.astype(np.float64)
        gx, gy = int(row["gx"]), int(row["gy"])
        pieces = {
            (0, 0): g,
            (1, 0): g[:, -r:],     # our east cols -> east neighbor's west halo
            (-1, 0): g[:, :r],     # our west cols -> west neighbor's east halo
            (0, 1): g[-r:, :],     # our south rows -> south neighbor's north halo
            (0, -1): g[:r, :],     # our north rows -> north neighbor's south halo
            (1, 1): g[-r:, -r:],   # SE corner -> SE neighbor's NW halo
            (1, -1): g[:r, -r:],   # NE corner -> NE neighbor's SW halo
            (-1, 1): g[-r:, :r],   # SW corner -> SW neighbor's NE halo
            (-1, -1): g[:r, :r],   # NW corner -> NW neighbor's SE halo
        }
        rows = []
        for (dx, dy), arr in pieces.items():
            tgx, tgy = gx + dx, gy + dy
            if not (0 <= tgx < n and 0 <= tgy < n):
                continue
            rows.append(
                {
                    "tgx": tgx, "tgy": tgy, "dx": dx, "dy": dy,
                    "zoom": int(row["zoom"]),
                    "strip": arr.tobytes(),
                    "sh": arr.shape[0], "sw": arr.shape[1],
                }
            )
        return rows

    return tile_map(tiles, gen, _STRIP_SCHEMA)


def halo_apply(tiles: DataFrame, zoom: int, r: int, fn,
               schema) -> DataFrame:
    """The halo exchange: ``fn(tgx, tgy, zoom, pad)`` runs once per tile
    with ``pad`` the (TILE+2r)^2 float64 array whose interior
    ``pad[r:r+TILE, r:r+TILE]`` is the tile and whose r-px border holds
    the 8 neighbors' edge pixels. Border pixels with no sender (the
    global raster edge, tiles missing from a sparse table) stay NaN, and
    a position whose own tile is missing gets no call and no rows.
    ``fn`` returns a pandas DataFrame of ``schema`` rows."""
    # the sender sits at (tgx - dx, tgy - dy): d = 1 is the west/north
    # neighbor, whose strip fills the first r columns/rows of the pad
    side = {1: slice(0, r), 0: slice(r, r + TILE), -1: slice(r + TILE, None)}

    def assemble(pdf):
        if not ((pdf["dx"] == 0) & (pdf["dy"] == 0)).any():
            import pandas as pd

            return pd.DataFrame()  # only neighbors' strips: no tile here
        pad = np.full((TILE + 2 * r, TILE + 2 * r), np.nan)
        for dx, dy, sh, sw, strip in zip(pdf["dx"], pdf["dy"], pdf["sh"],
                                         pdf["sw"], pdf["strip"]):
            pad[side[int(dy)], side[int(dx)]] = np.frombuffer(
                bytes(strip), dtype=np.float64).reshape(sh, sw)
        return fn(int(pdf["tgx"].iloc[0]), int(pdf["tgy"].iloc[0]),
                  int(pdf["zoom"].iloc[0]), pad)

    return (_strips(tiles, zoom, r).groupBy("tgx", "tgy")
            .applyInPandas(assemble, schema))


def _dem_compute(mode, pad, xres, yres, nodata, alt_deg=45.0, az_deg=315.0):
    """All gdaldem 3x3 stencils over the padded array. Window layout
    matches the reference's afWin (row-major 0..8, center=4):
        a=0 b=1 c=2 / d=3 4 f=5 / g=6 h=7 i=8."""
    a = pad[0:-2, 0:-2]; b = pad[0:-2, 1:-1]; c = pad[0:-2, 2:]
    d = pad[1:-1, 0:-2]; e = pad[1:-1, 1:-1]; f_ = pad[1:-1, 2:]
    g_ = pad[2:, 0:-2]; h = pad[2:, 1:-1]; i_ = pad[2:, 2:]
    if mode == "slope":
        dzdx = ((c + 2 * f_ + i_) - (a + 2 * d + g_)) / (8.0 * xres)
        dzdy = ((g_ + 2 * h + i_) - (a + 2 * b + c)) / (8.0 * yres)
        out = np.degrees(np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy)))
    elif mode == "slope_pct_zt":
        # Zevenbergen-Thorne gradient (-alg ZevenbergenThorne,
        # gdaldem_lib.cpp GDALSlopeZevenbergenThorneAlg) in PERCENT
        # (-p): only +,-,*,/,sqrt — IEEE-exact cross-engine, so this
        # variant gets a full hash oracle (the Horn-degrees form needs
        # libm atan)
        dzdx = (f_ - d) / (2.0 * xres)
        dzdy = (h - b) / (2.0 * yres)
        out = np.sqrt(dzdx * dzdx + dzdy * dzdy) * 100.0
    elif mode == "aspect":
        # GDALAspectAlg (gdaldem_lib.cpp:1445-1480), azimuth convention
        dx = (c + 2 * f_ + i_) - (a + 2 * d + g_)
        dy = (g_ + 2 * h + i_) - (a + 2 * b + c)
        asp = np.degrees(np.arctan2(dy, -dx))
        asp = np.where(asp > 90.0, 450.0 - asp, 90.0 - asp)
        asp = np.where(asp == 360.0, 0.0, asp)
        out = np.where((dx == 0) & (dy == 0), nodata, asp)
    elif mode == "tpi":
        # GDALTPIAlg: center minus neighbor mean
        out = e - (a + b + c + d + f_ + g_ + h + i_) * 0.125
    elif mode == "tri_wilson":
        out = (np.abs(a - e) + np.abs(b - e) + np.abs(c - e) + np.abs(d - e)
               + np.abs(f_ - e) + np.abs(g_ - e) + np.abs(h - e)
               + np.abs(i_ - e)) * 0.125
    elif mode == "tri_riley":
        out = np.sqrt((a - e) ** 2 + (b - e) ** 2 + (c - e) ** 2 + (d - e) ** 2
                      + (f_ - e) ** 2 + (g_ - e) ** 2 + (h - e) ** 2
                      + (i_ - e) ** 2)
    elif mode == "roughness":
        # GDALRoughnessAlg: max - min over the whole window
        stack = np.stack([a, b, c, d, e, f_, g_, h, i_])
        out = stack.max(axis=0) - stack.min(axis=0)
    elif mode == "hillshade":
        # Horn hillshade: 1 + 254 * cos(incidence), clamped at 1
        dzdx = ((c + 2 * f_ + i_) - (a + 2 * d + g_)) / (8.0 * xres)
        dzdy = ((g_ + 2 * h + i_) - (a + 2 * b + c)) / (8.0 * yres)
        slope_r = np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy))
        aspect_r = np.arctan2(dzdy, -dzdx)
        alt, az = np.radians(alt_deg), np.radians(az_deg)
        cang = (np.sin(alt) * np.cos(slope_r)
                + np.cos(alt) * np.sin(slope_r)
                * np.cos(az - np.pi / 2.0 - aspect_r))
        out = np.where(cang <= 0.0, 1.0, 1.0 + 254.0 * cang)
    elif mode == "hillshade_combined":
        # gdaldem hillshade -combined (GDALHillshadeCombinedAlg,
        # gdaldem_lib.cpp:1151): classic shade modulated by slope —
        # cang = 1 - acos(classic) * slope_rad * 4/pi^2 (float64 here;
        # the reference computes in float32)
        dzdx = ((c + 2 * f_ + i_) - (a + 2 * d + g_)) / (8.0 * xres)
        dzdy = ((g_ + 2 * h + i_) - (a + 2 * b + c)) / (8.0 * yres)
        slope_r = np.arctan(np.sqrt(dzdx * dzdx + dzdy * dzdy))
        aspect_r = np.arctan2(dzdy, -dzdx)
        alt, az = np.radians(alt_deg), np.radians(az_deg)
        classic = (np.sin(alt) * np.cos(slope_r)
                   + np.cos(alt) * np.sin(slope_r)
                   * np.cos(az - np.pi / 2.0 - aspect_r))
        cang = 1.0 - (np.arccos(np.clip(classic, -1.0, 1.0)) * slope_r
                      * (4.0 / (np.pi * np.pi)))
        out = np.where(cang <= 0.0, 1.0, 1.0 + 254.0 * cang)
    elif mode == "hillshade_multi":
        # gdaldem hillshade -multidirectional (USGS OF 92-422;
        # GDALHillshadeMultiDirectionalAlg): four azimuths 225/270/
        # 315/360 weighted by sin^2(aspect - az), reference gradient
        # convention x = -dzdx, y = +dzdy
        dzdx = ((c + 2 * f_ + i_) - (a + 2 * d + g_)) / (8.0 * xres)
        dzdy = ((g_ + 2 * h + i_) - (a + 2 * b + c)) / (8.0 * yres)
        x, y = -dzdx, dzdy
        xx, yy = x * x, y * y
        s2 = xx + yy
        alt = np.radians(alt_deg)
        sin_a, cos_a = np.sin(alt), np.cos(alt)
        c225 = -np.sqrt(2.0) / 2.0
        v225 = np.maximum(0.0, sin_a + (x - y) * c225 * cos_a)
        v270 = np.maximum(0.0, sin_a - x * cos_a)
        v315 = np.maximum(0.0, sin_a + (x + y) * c225 * cos_a)
        v360 = np.maximum(0.0, sin_a - y * cos_a)
        w225 = 0.5 * s2 - x * y
        w270 = xx
        w315 = s2 - w225
        w360 = yy
        # the four weights sum to 2*s2, so the /s2 normalization leaves
        # the reference's factor 2 (flat limit 1 + 254 sin(alt) matches)
        with np.errstate(invalid="ignore", divide="ignore"):
            cang = np.where(
                s2 == 0.0,
                sin_a * 2.0,
                ((w225 * v225 + w270 * v270 + w315 * v315 + w360 * v360)
                 / s2) / np.sqrt(1.0 + s2),
            )
        out = 1.0 + 127.0 * cang
    else:
        raise ValueError(mode)
    return np.where(np.isnan(out), nodata, out)


def focal_dem(tiles: DataFrame, zoom: int, mode="slope", xres=1.0, yres=1.0,
              nodata=-9999.0) -> DataFrame:
    """Any gdaldem 3x3 operator (slope/aspect/tpi/tri_wilson/tri_riley/
    roughness/hillshade — apps/gdaldem_lib.cpp formulas) per tile with
    exact cross-tile halos."""

    def stencil(tgx, tgy, zoom_v, pad):
        import pandas as pd

        out = _dem_compute(mode, pad, xres, yres, nodata)
        return pd.DataFrame([tile_row(
            out, dataset_id=mode, zoom=zoom_v, gx=tgx, gy=tgy, band=1,
            nodata=nodata, crs="EPSG:3857")])

    return halo_apply(tiles, zoom, 1, stencil, TILE_SCHEMA)


def focal_generic(tiles: DataFrame, zoom: int, kernel, method="mean",
                  nodata=-9999.0) -> DataFrame:
    """Generic focal neighbors with an ARBITRARY odd-size kernel — the
    `gdal raster neighbors` analog (``apps/gdalalg_raster_neighbors.cpp``
    -> VRT KernelFilteredSource): per-pixel weighted reduce over the KxK
    window, distributed on a width-(K//2) halo exchange (the shared
    ``halo_apply``), so results equal the full-raster convolution across
    tile borders exactly.

    Reference-exact reduction semantics (frmts/vrt/vrtfilters.cpp
    FilterData, the VRT KernelFilteredSource the verb compiles to):
    every method reduces the WEIGHTED tap values v·w over valid taps
    with w != 0 — 'mean' normalizes by Σw over available taps
    (world-border renormalization), 'sum' is the raw weighted sum,
    'min'/'max'/'median' reduce the weighted values (median averages
    the two middles on even counts), 'stddev' is the population stddev
    of the weighted values, 'mode' is the most frequent weighted value
    with the reference's first-to-reach-max-count tie rule (row-major
    tap scan order). A nodata (NaN) CENTER pixel stays nodata.
    """
    K = np.asarray(kernel, dtype=np.float64)
    if K.ndim != 2 or K.shape[0] != K.shape[1] or K.shape[0] % 2 != 1:
        raise ValueError("kernel must be square with odd size")
    r = K.shape[0] // 2
    meth = str(method)
    nd = float(nodata)

    def stencil(tgx, tgy, zoom_v, pad):
        import pandas as pd

        acc = np.zeros((TILE, TILE))
        wacc = np.zeros((TILE, TILE))
        mn = np.full((TILE, TILE), np.inf)
        mx = np.full((TILE, TILE), -np.inf)
        s1 = np.zeros((TILE, TILE))
        s2 = np.zeros((TILE, TILE))
        cnt = np.zeros((TILE, TILE))
        stack = []  # weighted taps in row-major scan order (median/mode)
        for dy in range(-r, r + 1):
            for dx in range(-r, r + 1):
                w = K[dy + r, dx + r]
                if w == 0.0:
                    # vrtfilters.cpp skips zero-coef taps for EVERY method
                    continue
                v = pad[r + dy:r + dy + TILE, r + dx:r + dx + TILE]
                ok = ~np.isnan(v)
                wv = np.where(ok, w * v, 0.0)
                acc += wv
                wacc += np.where(ok, w, 0.0)
                s1 += wv
                s2 += wv * wv
                cnt += ok
                if meth in ("min", "max"):
                    mn = np.where(ok & (w * v < mn), w * v, mn)
                    mx = np.where(ok & (w * v > mx), w * v, mx)
                if meth in ("median", "mode"):
                    stack.append(np.where(ok, w * v, np.nan))
        with np.errstate(invalid="ignore", divide="ignore"):
            if meth == "mean":
                out = np.where(wacc != 0, acc / wacc, nd)
            elif meth == "sum":
                out = acc
            elif meth == "min":
                out = np.where(np.isfinite(mn), mn, nd)
            elif meth == "max":
                out = np.where(np.isfinite(mx), mx, nd)
            elif meth == "stddev":
                # population stddev of the weighted values over valid
                # w != 0 taps (Welford in the reference == this closed
                # form; cnt excludes zero-weight and nodata taps)
                m = s1 / np.maximum(cnt, 1)
                out = np.where(cnt > 0,
                               np.sqrt(np.maximum(s2 / np.maximum(cnt, 1) - m * m, 0.0)),
                               nd)
            elif meth == "median":
                S = np.stack(stack)
                import warnings

                with warnings.catch_warnings():
                    warnings.simplefilter("ignore", RuntimeWarning)
                    med = np.nanmedian(S, axis=0)
                out = np.where(cnt > 0, med, nd)
            elif meth == "mode":
                # first value to REACH the max multiplicity in tap scan
                # order wins (vrtfilters.cpp mapValToCount > maxCount):
                # r[k] = occurrences of tap k's value among taps 0..k;
                # winner = earliest tap attaining max r  ==  the last
                # occurrence of the winning value.
                S = np.stack(stack)  # (K2, TILE, TILE)
                k2 = S.shape[0]
                rr = np.zeros((k2, TILE, TILE), dtype=np.int32)
                for k in range(k2):
                    eq = np.zeros((TILE, TILE), dtype=np.int32)
                    for j in range(k + 1):
                        eq += (S[j] == S[k])
                    rr[k] = eq  # 0 exactly when tap k is NaN
                score = rr.astype(np.int64) * k2 + (k2 - 1 - np.arange(
                    k2, dtype=np.int64))[:, None, None]
                kstar = np.argmax(score, axis=0)
                picked = np.take_along_axis(S, kstar[None], axis=0)[0]
                out = np.where(cnt > 0, picked, nd)
            else:
                raise ValueError(meth)
        out = np.where(np.isnan(pad[r:r + TILE, r:r + TILE]), nd, out)
        return pd.DataFrame([tile_row(
            out, dataset_id=f"focal_{meth}", zoom=zoom_v, gx=tgx, gy=tgy,
            band=1, nodata=nd, crs="EPSG:3857")])

    return halo_apply(tiles, zoom, r, stencil, TILE_SCHEMA)


def focal_stats_window(tiles: DataFrame, zoom: int, window,
                       qdiv: float = 32.0, nodata=-9999.0) -> DataFrame:
    """Fused median / stddev / quantized-mode over a pixel window —
    ONE halo exchange and ONE stencil pass emitting (gpx, gpy, med, sd,
    mode_q) pixel rows directly.

    The un-fused form (three ``focal_generic`` chains — median, stddev,
    and mode over ``raster_calc('floor(A / qdiv)')`` — three halo
    exchanges, three explode_pixels bridges, two (gpx, gpy) joins) pays
    3x the shuffle and Python-boundary cost for stats that all read the
    SAME 3x3 padded array. Pixel-exact fusion contract: every stat
    replays ``focal_generic``'s numpy expressions (w=1 taps, identical
    accumulation order); the mode runs over ``np.floor(pad / qdiv)``,
    elementwise identical to classifying first and haloing second.

    ``window`` = (x0, y0, w, h) global-pixel rect. Tiles are pruned
    natively to the 1-px tap rect before the exchange (srcwin pushdown),
    and only window pixels are emitted — the explode/filter/join bridge
    disappears.
    """
    x0, y0, ww, wh = (int(v) for v in window)
    x1, y1 = x0 + ww, y0 + wh
    nd = float(nodata)
    qd = float(qdiv)

    # srcwin pushdown: keep only tiles intersecting the tap rect
    # [x0-1, x1] x [y0-1, y1] (inclusive) — all taps of every emitted
    # pixel live in kept tiles, so the halo exchange stays exact
    tiles = tiles.filter(
        ((F.col("gx") + 1) * TILE > x0 - 1) & (F.col("gx") * TILE <= x1)
        & ((F.col("gy") + 1) * TILE > y0 - 1) & (F.col("gy") * TILE <= y1))

    out_schema = T.StructType([
        T.StructField("gpx", T.LongType()),
        T.StructField("gpy", T.LongType()),
        T.StructField("med", T.DoubleType()),
        T.StructField("sd", T.DoubleType()),
        T.StructField("mode_q", T.DoubleType()),
    ])

    def stencil(tgx, tgy, _zoom, pad):
        import pandas as pd

        # window sub-rect of this tile (half-open, tile-local)
        wx0 = max(0, x0 - tgx * TILE)
        wx1 = min(TILE, x1 - tgx * TILE)
        wy0 = max(0, y0 - tgy * TILE)
        wy1 = min(TILE, y1 - tgy * TILE)
        if wx0 >= wx1 or wy0 >= wy1:
            return pd.DataFrame(columns=["gpx", "gpy", "med", "sd",
                                         "mode_q"])
        qpad = np.floor(pad / qd)  # == halo of floor(A / qdiv) tiles

        h, w = wy1 - wy0, wx1 - wx0
        s1 = np.zeros((h, w))
        s2 = np.zeros((h, w))
        cnt = np.zeros((h, w))
        stack = []   # raw taps for median (row-major scan order)
        qstack = []  # quantized taps for mode (same order)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                v = pad[1 + wy0 + dy:1 + wy1 + dy,
                        1 + wx0 + dx:1 + wx1 + dx]
                qv = qpad[1 + wy0 + dy:1 + wy1 + dy,
                          1 + wx0 + dx:1 + wx1 + dx]
                ok = ~np.isnan(v)
                wv = np.where(ok, 1.0 * v, 0.0)
                s1 += wv
                s2 += wv * wv
                cnt += ok
                stack.append(np.where(ok, 1.0 * v, np.nan))
                qstack.append(np.where(~np.isnan(qv), 1.0 * qv, np.nan))

        with np.errstate(invalid="ignore", divide="ignore"):
            # median — focal_generic 'median'
            S = np.stack(stack)
            import warnings

            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                medv = np.nanmedian(S, axis=0)
            med = np.where(cnt > 0, medv, nd)
            # population stddev — focal_generic 'stddev'
            m = s1 / np.maximum(cnt, 1)
            sd = np.where(
                cnt > 0,
                np.sqrt(np.maximum(s2 / np.maximum(cnt, 1) - m * m, 0.0)),
                nd)
            # quantized mode — focal_generic 'mode' tie rule
            # (first-to-reach-max-count in tap scan order)
            Q = np.stack(qstack)
            k2 = Q.shape[0]
            rr = np.zeros((k2, h, w), dtype=np.int32)
            for k in range(k2):
                eq = np.zeros((h, w), dtype=np.int32)
                for j in range(k + 1):
                    eq += (Q[j] == Q[k])
                rr[k] = eq
            score = rr.astype(np.int64) * k2 + (k2 - 1 - np.arange(
                k2, dtype=np.int64))[:, None, None]
            kstar = np.argmax(score, axis=0)
            picked = np.take_along_axis(Q, kstar[None], axis=0)[0]
            qcnt = np.sum(~np.isnan(Q), axis=0)
            mode_q = np.where(qcnt > 0, picked, nd)

        center = pad[1 + wy0:1 + wy1, 1 + wx0:1 + wx1]
        cmask = np.isnan(center)
        med = np.where(cmask, nd, med)
        sd = np.where(cmask, nd, sd)
        qcenter = qpad[1 + wy0:1 + wy1, 1 + wx0:1 + wx1]
        mode_q = np.where(np.isnan(qcenter), nd, mode_q)

        ys, xs = np.indices((h, w))
        return pd.DataFrame({
            "gpx": (tgx * TILE + wx0 + xs.ravel()).astype(np.int64),
            "gpy": (tgy * TILE + wy0 + ys.ravel()).astype(np.int64),
            "med": med.ravel(),
            "sd": sd.ravel(),
            "mode_q": mode_q.ravel(),
        })

    return halo_apply(tiles, zoom, 1, stencil, out_schema)
