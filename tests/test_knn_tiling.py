"""kNN ring-expansion and tiling pyramid tests against brute-force goldens."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osgeo_gdal_spark.kernels import checksum as CK, mercator as M
from osgeo_gdal_spark.operators import knn as KNN, spatial_join as SJ, tiling as TL
from osgeo_gdal_spark.sources import pages as PG
from tests.conftest import SF_DIR

K = 5
QUERIES = [
    (0, 2.25, 48.7),       # inside the hot cluster
    (1, -100.0, 40.0),
    (2, 139.7, 35.6),
    (3, 0.0, 0.0),
    (4, 18.4, -33.9),
    (5, -43.2, -22.9),
    (6, 151.2, -33.8),
    (7, 77.2, 28.6),
]


@pytest.fixture(scope="module")
def pages(spark):
    df = PG.pages_df(spark, SF_DIR)
    return SJ.with_cell_key(df, KNN.KNN_ZOOM).cache()


@pytest.fixture(scope="module")
def pages_pdf(pages):
    return pages.select("url", "lon", "lat").toPandas()


def brute_force_topk(pages_pdf, qlon, qlat, k=K):
    d2 = (pages_pdf["lon"] - qlon) ** 2 + (pages_pdf["lat"] - qlat) ** 2
    df = pd.DataFrame({"url": pages_pdf["url"], "dist2": d2})
    df = df.sort_values(["dist2", "url"]).head(k)
    return list(zip(df["url"], range(1, k + 1)))


def test_knn_matches_brute_force(spark, pages, pages_pdf):
    got = KNN.knn_join(spark, pages, QUERIES, k=K).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["qid"], []).append((r["rank"], r["url"]))
    for qid, qlon, qlat in QUERIES:
        want = brute_force_topk(pages_pdf, qlon, qlat)
        got_q = [(u, rk) for rk, u in sorted(by_q[qid])]
        assert got_q == want, f"qid={qid}"


def test_tile_counts_against_kernel(spark, pages, pages_pdf):
    zoom = 6
    got = {(r["gx"], r["gy"]): r["cnt"] for r in TL.tile_counts(pages, zoom).collect()}
    gx, gy = M.latlon_to_tile_xyz(
        pages_pdf["lat"].to_numpy(), pages_pdf["lon"].to_numpy(), zoom
    )
    want = {}
    for x, y in zip(gx.tolist(), gy.tolist()):
        want[(x, y)] = want.get((x, y), 0) + 1
    assert got == want
    assert sum(got.values()) == len(pages_pdf)


def test_pyramid_counts_conserve_mass(spark, pages):
    zoom = 6
    base = TL.tile_counts(pages, zoom)
    pyr = TL.pyramid_counts(base, levels=3)
    sums = {r["dz"]: r["s"] for r in pyr.groupBy("dz").agg(F.sum("cnt").alias("s")).collect()}
    assert len(set(sums.values())) == 1  # every level holds all pages
    top = pyr.filter(F.col("dz") == 3)
    n_top = top.count()
    assert n_top <= (2 ** (zoom - 3)) ** 2


def test_burn_tiles_and_explode_roundtrip(spark, pages):
    zoom = 3
    tiles = TL.burn_point_tiles(pages, zoom).cache()
    n_pages = pages.count()
    assert tiles.agg(F.sum("n_points")).first()[0] == n_pages
    # pixel explode sums back to the same mass
    px = TL.explode_tile_pixels(tiles)
    assert px.agg(F.sum("value")).first()[0] == n_pages
    # per-tile checksum recomputes identically from the exploded pixels
    one = tiles.orderBy(F.desc("n_points")).first()
    grid = np.frombuffer(one["pixels"], dtype=np.float64).reshape(256, 256)
    assert CK.checksum_image(grid) == one["checksum"]


def test_pyramid_average_reduction(spark, pages):
    from osgeo_gdal_spark.operators import raster_ops as RO
    from osgeo_gdal_spark.sources.raster import parse_tile

    zoom = 3
    # burned count tiles carry no band metadata; pyramid_reduce reads it
    tiles = TL.burn_point_tiles(pages, zoom).select(
        "*", F.lit("points").alias("dataset_id"), F.lit(1).alias("band"),
        F.lit(None).cast("double").alias("nodata"),
        F.lit("EPSG:3857").alias("crs")).cache()
    parents = RO.pyramid_reduce(tiles, "average").collect()
    assert parents and all(r["zoom"] == zoom - 1 for r in parents)
    # AVERAGE preserves mean mass: parent sum * 4 == its children's
    # point counts (missing children are zero fill)
    want = {}
    for r in tiles.select("gx", "gy", "n_points").collect():
        key = (r["gx"] // 2, r["gy"] // 2)
        want[key] = want.get(key, 0) + r["n_points"]
    assert {(r["gx"], r["gy"]) for r in parents} == set(want)
    for r in parents:
        assert parse_tile(r).sum() * 4 == pytest.approx(
            want[(r["gx"], r["gy"])], rel=1e-9)


def test_hex_binning_matches_python_cube_round(spark):
    """Hex cell assignment equals an independent python cube-round, and
    each point's cell center is the NEAREST hex center (the defining
    property of cube rounding)."""
    import math

    from osgeo_gdal_spark.operators import tiling as TL
    from osgeo_gdal_spark.sources import pages as PG
    from tests.conftest import SF_DIR

    size = 3.0
    pages = PG.pages_df(spark, SF_DIR)
    pts = pages.select("lon", "lat").limit(300).collect()

    def cube_round(lon, lat):
        qf = (math.sqrt(3.0) / 3.0 * lon - lat / 3.0) / size
        rf = (lat * 2.0 / 3.0) / size
        x, z = qf, rf
        y = -x - z
        rx, ry, rz = round(x), round(y), round(z)
        dx, dy, dz = abs(rx - x), abs(ry - y), abs(rz - z)
        if dx > dy and dx > dz:
            rx = -ry - rz
        elif dy > dz:
            ry = -rx - rz
        else:
            rz = -rx - ry
        return int(rx), int(rz)

    got = {(r["hq"], r["hr"]): r["cnt"]
           for r in TL.hex_counts(pages, size).collect()}
    want = {}
    all_pts = pages.select("lon", "lat").collect()
    for r in all_pts:
        c = cube_round(r["lon"], r["lat"])
        want[c] = want.get(c, 0) + 1
    assert got == want

    # nearest-center property on a sample: axial -> cartesian center
    def center(hq, hr):
        y = hr * 1.5 * size
        x = math.sqrt(3.0) * size * (hq + hr / 2.0)
        return x, y

    for r in pts[:50]:
        hq, hr = cube_round(r["lon"], r["lat"])
        cx, cy = center(hq, hr)
        d0 = (r["lon"] - cx) ** 2 + (r["lat"] - cy) ** 2
        for dq, dr in ((1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)):
            nx, ny = center(hq + dq, hr + dr)
            dn = (r["lon"] - nx) ** 2 + (r["lat"] - ny) ** 2
            assert d0 <= dn + 1e-9
