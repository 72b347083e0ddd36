"""Grid / scatter interpolation: points -> regular raster.

The distributed re-expression of ``gdal_grid`` (``/root/reference/alg/
gdalgrid.cpp``): invdist (:110), moving average (:630), nearest (:905).
GDAL evaluates every grid node against a quadtree of ALL points; here the
bounded search radius decomposes the problem exactly (the proximity/kNN
ring pattern):

1. points get continuous global-pixel coords natively (forward mercator
   SQL — zero Python);
2. each point is replicated to exactly the output tiles its RADIUS BOX
   overlaps (native sequence explode) — the only shuffle, proportional to
   points x box tiles (usually 1); a whole-tile kRing would over-gather
   by (TILE/radius)^2 when radius << TILE;
3. per-tile vectorized kernel: (pixel centers x gathered points) distance
   matrix chunked over rows; weights/reduction per method.

Determinism: the gathered points are sorted by (px, py, z) and the
inverse-distance accumulators are summed SEQUENTIALLY in that order
(np.cumsum, not pairwise np.sum) so a DuckDB oracle can reproduce the
float result bit-exactly with ``list_reduce(list(term ORDER BY ...))``.
GDAL itself accumulates in point-array order (gdalgrid.cpp:141-177);
fixing the order is the distributed analog.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from ..sources.raster import TILE, TILE_SCHEMA, key_range, tile_row

_COINCIDENT_EPS = 1e-13  # gdalgrid.cpp:165 singularity guard


def points_to_px(points: DataFrame, zoom: int, lon="lon", lat="lat",
                 value="z", projection="mercator") -> DataFrame:
    """Attach continuous global pixel coords (px, py) — native SQL.

    projection='mercator' targets the web-mercator tile grid;
    'equirect' grids in the layer's own lon/lat CRS (plate carree) —
    what gdal_grid itself does, and pure arithmetic (no transcendentals),
    so a DuckDB oracle reproduces the coords bit-exactly (Spark and
    DuckDB libm LN/TAN differ in the last ULP)."""
    world = (1 << zoom) * TILE
    px = f"(({lon} + CAST(180.0 AS DOUBLE)) / CAST(360.0 AS DOUBLE) * {world})"
    if projection == "mercator":
        merc = f"LN(TAN(RADIANS({lat})) + CAST(1.0 AS DOUBLE) / COS(RADIANS({lat})))"
        py = (f"((CAST(1.0 AS DOUBLE) - {merc} / PI()) / CAST(2.0 AS DOUBLE) "
              f"* {world})")
    elif projection == "equirect":
        py = (f"((CAST(90.0 AS DOUBLE) - {lat}) / CAST(180.0 AS DOUBLE) "
              f"* {world})")
    else:
        raise ValueError(projection)
    return points.select(
        F.expr(px).alias("px"), F.expr(py).alias("py"),
        F.col(value).cast("double").alias("z"),
    )


def grid_interpolate(spark: SparkSession, points: DataFrame, zoom: int,
                     method: str, radius: float, power=2.0, smoothing=0.0,
                     nodata=0.0, window=None, max_points=12,
                     min_points=0) -> DataFrame:
    """points (px, py, z) -> tile table at ``zoom`` over ``window`` =
    (gpx0, gpy0, w, h) global-pixel rect (default: full world).

    method: 'invdist' (w = 1/r^p, r^2 includes smoothing^2, coincident
    point short-circuits), 'invdistnn'
    (GDALGridInverseDistanceToAPowerNearestNeighbor,
    alg/gdalgrid.cpp:242: only the ``max_points`` NEAREST in-radius
    points contribute, ordered by smoothed r^2 — ties by (px, py, z);
    fewer than ``min_points`` -> nodata), 'average' (mean in radius),
    'nearest' (min-distance value, ties -> smallest (px, py, z)).
    Pixels with no point in radius get ``nodata``.
    """
    n = 1 << zoom
    world = n * TILE
    if window is None:
        window = (0, 0, world, world)
    x0, y0, w, h = window
    tx0, tx1 = x0 // TILE, (x0 + w - 1) // TILE
    ty0, ty1 = y0 // TILE, (y0 + h - 1) // TILE

    # dst tile keys, native
    nx = tx1 - tx0 + 1
    dst = key_range(spark, nx * (ty1 - ty0 + 1)).select(
        (F.col("id") % nx + tx0).alias("gx"),
        (F.col("id") / nx).cast("long").alias("_r"),
    ).select("gx", (F.col("_r") + ty0).alias("gy"))

    # scatter each point to exactly the dst tiles its RADIUS BOX overlaps
    # (radius granularity, not tile granularity — a whole-tile kRing would
    # over-gather by (TILE/radius)^2 when radius << TILE)
    rr = float(radius)
    # native prefilter: only points whose radius box reaches the window
    # (also keeps the sequence() ranges non-degenerate — Spark sequence
    # with start > stop DESCENDS rather than being empty)
    points = points.filter(
        (F.col("px") >= x0 - rr) & (F.col("px") <= x0 + w + rr)
        & (F.col("py") >= y0 - rr) & (F.col("py") <= y0 + h + rr)
    )
    scattered = points.select(
        "px", "py", "z",
        F.explode(F.expr(
            f"sequence(GREATEST({tx0}, CAST(FLOOR((px - {rr}) / CAST({TILE} AS DOUBLE)) AS BIGINT)), "
            f"LEAST({tx1}, CAST(FLOOR((px + {rr}) / CAST({TILE} AS DOUBLE)) AS BIGINT)))"
        )).alias("gx"),
        F.expr(
            f"sequence(GREATEST({ty0}, CAST(FLOOR((py - {rr}) / CAST({TILE} AS DOUBLE)) AS BIGINT)), "
            f"LEAST({ty1}, CAST(FLOOR((py + {rr}) / CAST({TILE} AS DOUBLE)) AS BIGINT)))"
        ).alias("_gys"),
    ).select("px", "py", "z", "gx", F.explode("_gys").alias("gy")).filter(
        # empty sequence guard: points far outside the window produce
        # descending ranges -> filter degenerates
        (F.col("gx") >= tx0) & (F.col("gx") <= tx1)
        & (F.col("gy") >= ty0) & (F.col("gy") <= ty1)
    )
    joined = dst.join(scattered, ["gx", "gy"], "left")

    meth = str(method)
    rad = float(radius)
    pw = float(power)
    sm = float(smoothing)
    nd = float(nodata)
    maxp = int(max_points)
    minp = int(min_points)

    def kernel(pdf):
        import pandas as pd

        gx, gy = int(pdf["gx"].iloc[0]), int(pdf["gy"].iloc[0])
        pts = pdf.dropna(subset=["px"])
        # deterministic accumulation order (see module docstring)
        pts = pts.sort_values(["px", "py", "z"], kind="mergesort")
        tx = pts["px"].to_numpy(np.float64)
        ty = pts["py"].to_numpy(np.float64)
        tz = pts["z"].to_numpy(np.float64)
        out = np.full((TILE, TILE), nd)
        # only the requested-window sub-rectangle of this tile needs
        # computing (pixels outside stay nodata — GDAL computes exactly
        # the requested grid)
        wy0 = max(0, y0 - gy * TILE)
        wy1 = min(TILE, y0 + h - gy * TILE)
        wx0 = max(0, x0 - gx * TILE)
        wx1 = min(TILE, x0 + w - gx * TILE)
        ww = wx1 - wx0
        xc = (gx * TILE
              + np.arange(wx0, wx1, dtype=np.float64)[None, :] + 0.5)
        if len(tx):
            for y0_ in range(wy0, wy1, 32):
                yc = (gy * TILE + np.arange(y0_, min(y0_ + 32, wy1),
                                            dtype=np.float64)[:, None] + 0.5)
                rx = tx[None, None, :] - xc[..., None]      # (1, W, P)
                ry = ty[None, None, :] - yc[..., None]      # (B, 1, P)
                rx = np.broadcast_to(rx, (yc.shape[0], ww, len(tx)))
                ry = np.broadcast_to(ry, (yc.shape[0], ww, len(tx)))
                d2 = rx * rx + ry * ry
                in_r = d2 <= rad * rad  # circle: R2²dx²+R1²dy² <= R1²R2²
                if meth == "invdist":
                    r2s = d2 + sm * sm
                    # p=2 avoids pow entirely: numpy's SIMD power() is off
                    # by 1 ULP even for integer exponents, and C/DuckDB pow
                    # would differ again — 1/r2 is exact everywhere
                    if pw == 2.0:
                        inv = 1.0 / r2s
                    else:
                        inv = 1.0 / np.power(r2s, pw / 2.0)
                    wgt = np.where(in_r, inv, 0.0)
                    term = wgt * tz[None, None, :]
                    num = np.cumsum(term, axis=2)[..., -1]   # sequential sum
                    den = np.cumsum(wgt, axis=2)[..., -1]
                    with np.errstate(invalid="ignore", divide="ignore"):
                        val = np.where(den != 0.0, num / den, nd)
                    # coincident-point short-circuit (first such point in
                    # accumulation order wins, gdalgrid.cpp:163-168)
                    coin = in_r & (r2s < _COINCIDENT_EPS)
                    has = coin.any(axis=2)
                    first = np.argmax(coin, axis=2)
                    val = np.where(has, tz[first], val)
                elif meth == "invdistnn":
                    # nearest-N IDW (gdalgrid.cpp:242): candidates sorted
                    # by SMOOTHED r^2 (the reference's multimap key); the
                    # stable argsort keeps the (px, py, z) pre-sort as the
                    # tie rule; only the first max_points accumulate,
                    # sequentially in that order
                    r2s = d2 + sm * sm
                    key = np.where(in_r, r2s, np.inf)
                    order = np.argsort(key, axis=2, kind="stable")
                    S = np.take_along_axis(key, order, axis=2)
                    Z = np.take_along_axis(
                        np.broadcast_to(tz[None, None, :], key.shape),
                        order, axis=2)
                    if maxp > 0:
                        S = S[..., :maxp]
                        Z = Z[..., :maxp]
                    sel = np.isfinite(S)
                    with np.errstate(invalid="ignore", divide="ignore"):
                        if pw == 2.0:
                            wgt = np.where(sel, 1.0 / S, 0.0)
                        else:
                            wgt = np.where(
                                sel, 1.0 / np.power(S, pw / 2.0), 0.0)
                    num = np.cumsum(wgt * np.where(sel, Z, 0.0),
                                    axis=2)[..., -1]
                    den = np.cumsum(wgt, axis=2)[..., -1]
                    nsel = sel.sum(axis=2)
                    with np.errstate(invalid="ignore", divide="ignore"):
                        val = np.where((nsel >= max(minp, 1))
                                       & (den != 0.0), num / den, nd)
                    # coincident short-circuit runs BEFORE the nn loop
                    # (gdalgrid.cpp:340): first such point in order wins
                    coin = in_r & (r2s < _COINCIDENT_EPS)
                    has = coin.any(axis=2)
                    first = np.argmax(coin, axis=2)
                    val = np.where(has, tz[first], val)
                elif meth == "average":
                    cnt = in_r.sum(axis=2)
                    ssum = np.cumsum(np.where(in_r, tz[None, None, :], 0.0),
                                     axis=2)[..., -1]
                    with np.errstate(invalid="ignore", divide="ignore"):
                        val = np.where(cnt > 0, ssum / cnt, nd)
                elif meth == "average_distance_pts":
                    # GDALGridDataMetricAverageDistancePts
                    # (alg/gdalgrid.cpp:1283): mean distance between all
                    # UNIQUE PAIRS of in-radius points. Round 5: pair
                    # distances are QUANTIZED to the dyadic 2^-20 px
                    # grid (the repo's approx-transformer analog, cf.
                    # warp's 1/4096 px source quantization) — every
                    # partial sum is then exactly representable in
                    # double, so summation is ORDER-FREE in both
                    # engines and the per-cell fold collapses to one
                    # BLAS product: acc = 0.5 * m^T D m with m the
                    # cell's in-radius indicator (the previous
                    # order-pinned Python pair loop was the 2nd-slowest
                    # bench query; this is exact, not approximate,
                    # given the quantized metric).
                    npts = len(tx)
                    if npts >= 2:
                        ddx = tx[:, None] - tx[None, :]
                        ddy = ty[:, None] - ty[None, :]
                        D = np.sqrt(ddx * ddx + ddy * ddy)
                        D = np.floor(D * 1048576.0 + 0.5) / 1048576.0
                        np.fill_diagonal(D, 0.0)
                        M = in_r.reshape(-1, npts).astype(np.float64)
                        acc = (0.5 * ((M @ D) * M).sum(axis=1)) \
                            .reshape(in_r.shape[:2])
                        k = in_r.sum(axis=2).astype(np.int64)
                        cntp = k * (k - 1) // 2
                    else:
                        acc = np.zeros(in_r.shape[:2])
                        cntp = np.zeros(in_r.shape[:2], dtype=np.int64)
                    with np.errstate(invalid="ignore", divide="ignore"):
                        val = np.where(cntp > 0, acc / cntp, nd)
                elif meth in ("minimum", "maximum", "range", "count",
                              "average_distance"):
                    # data metrics (GDALGridDataMetricMinimum/:976,
                    # Maximum/:1043, Range/:1110, Count/:1177,
                    # AverageDistance/:1232): min/max/count are order-free;
                    # average node->point distance accumulates
                    # SEQUENTIALLY like every other metric here
                    has = in_r.any(axis=2)
                    if meth == "count":
                        val = np.where(has, in_r.sum(axis=2).astype(
                            np.float64), nd)
                    elif meth == "average_distance":
                        dist = np.where(in_r, np.sqrt(d2), 0.0)
                        ssum = np.cumsum(dist, axis=2)[..., -1]
                        cnt = in_r.sum(axis=2)
                        with np.errstate(invalid="ignore", divide="ignore"):
                            val = np.where(has, ssum / cnt, nd)
                    else:
                        mnv = np.where(in_r, tz[None, None, :],
                                       np.inf).min(axis=2)
                        mxv = np.where(in_r, tz[None, None, :],
                                       -np.inf).max(axis=2)
                        if meth == "minimum":
                            val = np.where(has, mnv, nd)
                        elif meth == "maximum":
                            val = np.where(has, mxv, nd)
                        else:
                            val = np.where(has, mxv - mnv, nd)
                else:  # nearest: min distance, ties by sort order (first)
                    d2m = np.where(in_r, d2, np.inf)
                    best = np.argmin(d2m, axis=2)
                    val = np.where(np.isfinite(d2m.min(axis=2)), tz[best], nd)
                out[y0_:y0_ + yc.shape[0], wx0:wx1] = val
        return pd.DataFrame([tile_row(
            out, dataset_id=f"grid_{meth}", zoom=zoom, gx=gx, gy=gy, band=1,
            nodata=nd, crs="EPSG:3857")])

    return joined.groupBy("gx", "gy").applyInPandas(kernel, TILE_SCHEMA)


_TRI_SCHEMA = ("ax DOUBLE, ay DOUBLE, az DOUBLE, bx DOUBLE, by DOUBLE, "
               "bz DOUBLE, cx DOUBLE, cy DOUBLE, cz DOUBLE")


def delaunay_tin_distributed(spark: SparkSession, points: DataFrame,
                             block: float = 64.0, max_rounds: int = 3):
    """Distributed block-merge Delaunay (replaces the round-3 driver
    ``toPandas`` + single Bowyer-Watson — the named scale bound):

    1. points explode to the 3x3 neighborhood of their cell at block
       size B (the halo gather, same shape as the zonal cover join);
    2. each cell triangulates its gathered set locally and CERTIFIES a
       triangle iff its circumcircle — clipped to the global point
       extent — lies inside the cell's 3B x 3B gather region (every
       point that could invalidate it was local, so it is a triangle of
       the GLOBAL Delaunay triangulation; kernels/delaunay.
       delaunay_certified);
    3. certified triangles dedup on canonical vertex order;
    4. completeness check against the Euler count 2n - 2 - h (h =
       boundary points of the convex hull, computed by a two-stage
       partition-candidate hull). Missing triangles ⇒ circumcircles
       bigger than the halo ⇒ escalate: next round quadruples B; the
       last round gathers everything into ONE EXECUTOR TASK and
       certifies all (exact fallback — the reference's single qhull
       pass, but off the driver).

    Cocircular point sets (non-unique Delaunay) can make blocks pick
    different diagonals, in which case the Euler count never matches
    and the build lands on the exact single-task fallback — correct,
    just not block-parallel.

    Returns (triangles DataFrame (ax..cz), rounds_used).
    """
    import pandas as pd

    from ..kernels import delaunay as DL
    from ..kernels import polypoly as PP

    st = points.agg(
        F.countDistinct(F.struct("px", "py")).alias("n"),
        F.min("px").alias("x0"), F.max("px").alias("x1"),
        F.min("py").alias("y0"), F.max("py").alias("y1"),
    ).first()
    n_pts = int(st["n"])
    extent = (float(st["x0"]), float(st["y0"]),
              float(st["x1"]), float(st["y1"]))
    span = max(extent[2] - extent[0], extent[3] - extent[1], 1e-9)

    def _certification_target():
        # hull boundary count h: per-partition hull candidates (tiny),
        # then one driver hull + an on-boundary count over the
        # candidates' hull. Computed LAZILY — when round 0 is already
        # the exact single-task fallback (block >= span) the Euler
        # count is never consulted, so its two probe jobs are skipped.
        def cand(batches):
            for pdf in batches:
                hull = PP.convex_hull(pdf["px"].to_numpy(),
                                      pdf["py"].to_numpy())
                if hull:
                    yield pd.DataFrame(hull, columns=["px", "py"])

        hcand = points.select("px", "py").mapInPandas(
            cand, "px DOUBLE, py DOUBLE").collect()
        hull = PP.convex_hull([r["px"] for r in hcand],
                              [r["py"] for r in hcand])
        hx = np.array([p[0] for p in hull])
        hy = np.array([p[1] for p in hull])

        def on_boundary(batches):
            nh = len(hx)
            for pdf in batches:
                px = pdf["px"].to_numpy()
                py = pdf["py"].to_numpy()
                on = np.zeros(len(px), dtype=bool)
                for i in range(nh):
                    x0e, y0e = hx[i], hy[i]
                    x1e, y1e = hx[(i + 1) % nh], hy[(i + 1) % nh]
                    cross = (x1e - x0e) * (py - y0e) - (y1e - y0e) * (px - x0e)
                    dot = (x1e - x0e) * (px - x0e) + (y1e - y0e) * (py - y0e)
                    rr = (x1e - x0e) ** 2 + (y1e - y0e) ** 2
                    on |= (cross == 0.0) & (dot >= 0.0) & (dot <= rr)
                yield pd.DataFrame({"c": [int(on.sum())]})

        h_cnt = (points.select("px", "py").distinct()
                 .mapInPandas(on_boundary, "c LONG")
                 .agg(F.sum("c")).first()[0]) or 0
        return 2 * n_pts - 2 - int(h_cnt)

    target = None if float(block) >= span else _certification_target()

    def make_kernel(bs, final):
        def kernel(key, pdf):
            pdf = pdf.sort_values(["px", "py", "z"]).drop_duplicates(
                ["px", "py"], keep="first")
            px = pdf["px"].to_numpy(dtype=np.float64)
            py = pdf["py"].to_numpy(dtype=np.float64)
            pz = pdf["z"].to_numpy(dtype=np.float64)
            if len(px) < 3:
                return pd.DataFrame(
                    columns=["ax", "ay", "az", "bx", "by", "bz",
                             "cx", "cy", "cz"])
            region = None
            if not final:
                cx0, cy0 = int(key[0]), int(key[1])
                region = ((cx0 - 1) * bs, (cy0 - 1) * bs,
                          (cx0 + 2) * bs, (cy0 + 2) * bs)
            try:
                tris = DL.delaunay_certified(px, py, region, extent)
            except ValueError:        # collinear local set
                tris = []
            rows = []
            for (i, j, k) in tris:
                vs = sorted([(px[i], py[i], pz[i]), (px[j], py[j], pz[j]),
                             (px[k], py[k], pz[k])])
                rows.append(tuple(v for vert in vs for v in vert))
            return pd.DataFrame(
                rows, columns=["ax", "ay", "az", "bx", "by", "bz",
                               "cx", "cy", "cz"])

        return kernel

    rnd = 0
    while True:
        bs = float(block) * (4.0 ** rnd)
        final = bs >= span or rnd >= max_rounds - 1
        if final:
            keyed = points.select(
                "px", "py", "z",
                F.lit(0).cast("long").alias("cx0"),
                F.lit(0).cast("long").alias("cy0"),
            )
        else:
            keyed = points.select(
                "px", "py", "z",
                F.floor(F.col("px") / bs).cast("long").alias("_cx"),
                F.floor(F.col("py") / bs).cast("long").alias("_cy"),
            ).select(
                "px", "py", "z", "_cy",
                F.explode(F.expr("sequence(_cx - 1, _cx + 1)"))
                .alias("cx0"),
            ).select(
                "px", "py", "z", "cx0",
                F.explode(F.expr("sequence(_cy - 1, _cy + 1)"))
                .alias("cy0"),
            )
        tri = keyed.groupBy("cx0", "cy0").applyInPandas(
            make_kernel(bs, final), _TRI_SCHEMA)
        if not final:
            # only the 3x3-replicated rounds can emit the same certified
            # triangle from several cells; the single-task final round
            # cannot, so it skips the dedup shuffle
            tri = tri.dropDuplicates(["ax", "ay", "az", "bx", "by", "bz",
                                      "cx", "cy", "cz"])
        tri = tri.localCheckpoint()
        if final or tri.count() == target:
            return tri, rnd + 1
        rnd += 1


def grid_linear(spark: SparkSession, points: DataFrame, zoom: int,
                nodata=0.0, window=None, block: float = 64.0) -> DataFrame:
    """gdal_grid 'linear' (GDALGridLinear, alg/gdalgrid.cpp + the
    vendored qhull in alg/delaunay.c): Delaunay-TIN barycentric
    interpolation; pixels outside the convex hull get nodata.

    Distributed shape (round 4 — the driver toPandas is gone): the TIN
    comes from ``delaunay_tin_distributed`` (block-certified Delaunay,
    exact single-TASK fallback for non-certifiable inputs), triangles
    explode NATIVELY to the dst tiles their bbox covers, and each tile
    evaluates its pixels against only ITS triangles in one vectorized
    pass — the shuffle carries (tile, triangle) rows, never pixels, and
    no O(points) state ever sits on the driver or in a broadcast.
    """
    from ..kernels import delaunay as DL

    n = 1 << zoom
    world = n * TILE
    if window is None:
        window = (0, 0, world, world)
    x0, y0, w, h = window
    tx0, tx1 = x0 // TILE, (x0 + w - 1) // TILE
    ty0, ty1 = y0 // TILE, (y0 + h - 1) // TILE
    nd = float(nodata)
    linear_key = {"dataset_id": "grid_linear", "zoom": zoom, "band": 1,
                  "nodata": nd, "crs": "EPSG:3857"}

    tri, _rounds = delaunay_tin_distributed(spark, points, block=block)

    cov = tri.select(
        "*",
        F.explode(F.expr(
            f"sequence(GREATEST({tx0}, CAST(FLOOR(LEAST(ax, bx, cx) "
            f"/ CAST({TILE} AS DOUBLE)) AS BIGINT)), "
            f"LEAST({tx1}, CAST(FLOOR(GREATEST(ax, bx, cx) "
            f"/ CAST({TILE} AS DOUBLE)) AS BIGINT)))"
        )).alias("gx"),
    ).select(
        "*",
        F.explode(F.expr(
            f"sequence(GREATEST({ty0}, CAST(FLOOR(LEAST(ay, by, cy) "
            f"/ CAST({TILE} AS DOUBLE)) AS BIGINT)), "
            f"LEAST({ty1}, CAST(FLOOR(GREATEST(ay, by, cy) "
            f"/ CAST({TILE} AS DOUBLE)) AS BIGINT)))"
        )).alias("gy"),
    )

    def tile_kernel(key, pdf):
        import pandas as pd

        gx, gy = int(key[0]), int(key[1])
        pdf = pdf.sort_values(["ax", "ay", "bx", "by", "cx", "cy"])
        planes = DL.tin_planes(
            np.concatenate([pdf["ax"], pdf["bx"], pdf["cx"]]),
            np.concatenate([pdf["ay"], pdf["by"], pdf["cy"]]),
            np.concatenate([pdf["az"], pdf["bz"], pdf["cz"]]),
            [(i, i + len(pdf), i + 2 * len(pdf)) for i in range(len(pdf))],
        )
        out = np.full((TILE, TILE), nd)
        wy0 = max(0, y0 - gy * TILE)
        wy1 = min(TILE, y0 + h - gy * TILE)
        wx0 = max(0, x0 - gx * TILE)
        wx1 = min(TILE, x0 + w - gx * TILE)
        if wy1 > wy0 and wx1 > wx0:
            xs = (gx * TILE + np.arange(wx0, wx1) + 0.5)
            ys = (gy * TILE + np.arange(wy0, wy1) + 0.5)
            QX = np.broadcast_to(xs[None, :], (len(ys), len(xs))).ravel()
            QY = np.broadcast_to(ys[:, None], (len(ys), len(xs))).ravel()
            vals = DL.tin_interpolate(planes, QX, QY, nd)
            out[wy0:wy1, wx0:wx1] = vals.reshape(len(ys), len(xs))
        return pd.DataFrame([tile_row(out, like=linear_key, gx=gx, gy=gy)])

    filled = cov.groupBy("gx", "gy").applyInPandas(tile_kernel, TILE_SCHEMA)

    # window tiles no triangle bbox covers are all-nodata
    nx = tx1 - tx0 + 1
    dst = key_range(spark, nx * (ty1 - ty0 + 1)).select(
        (F.col("id") % nx + tx0).alias("gx"),
        (F.col("id") / nx).cast("long").alias("_r"),
    ).select("gx", (F.col("_r") + ty0).alias("gy"))
    missing = dst.join(cov.select("gx", "gy").distinct(),
                       ["gx", "gy"], "left_anti")

    def empty_tile(batches):
        import pandas as pd

        # encoded once per task; each missing tile only restamps gx/gy
        blank = tile_row(np.full((TILE, TILE), nd), like=linear_key,
                         gx=0, gy=0)
        for pdf in batches:
            rows = [{**blank, "gx": int(r["gx"]), "gy": int(r["gy"])}
                    for _, r in pdf.iterrows()]
            if rows:
                yield pd.DataFrame(rows)

    return filled.unionByName(missing.mapInPandas(empty_tile, TILE_SCHEMA))
