"""ST_* function library and multimodal ingest-plan tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osgeo_gdal_spark.functions import st as ST
from osgeo_gdal_spark.kernels import wkb as W
from osgeo_gdal_spark.sources import multimodal as MM, polygons as PL


def test_st_register_and_sql(spark):
    ST.register_all(spark)
    PL.polygons_df(spark).createOrReplaceTempView("poly_layer")
    rows = spark.sql(
        "SELECT fid, ST_Area(geometry) AS a, ST_GeometryType(geometry) AS t, "
        "ST_AsText(ST_MakePoint(CAST(1.5 AS DOUBLE), CAST(-2.5 AS DOUBLE))) AS p "
        "FROM poly_layer ORDER BY fid"
    ).collect()
    assert rows[0]["a"] == pytest.approx(PL.POLYGONS[0].area())
    assert rows[0]["t"] == "Polygon"
    assert rows[8]["t"] == "MultiPolygon"
    assert rows[0]["p"] == "POINT (1.500000 -2.500000)"


def test_st_contains_point(spark):
    df = PL.polygons_df(spark).select(
        "fid",
        ST.st_contains_point(
            "geometry",
            F.lit(2.25).cast("double"),   # inside the Paris rect (fid 9)
            F.lit(48.7).cast("double"),
        ).alias("c"),
    )
    got = {r["fid"]: r["c"] for r in df.collect()}
    assert got[9] is True and sum(got.values()) == 1


def test_st_makevalid_passthrough_and_buffer_tier(spark):
    # MakeValid (round-4): ALREADY-VALID input — including the donut
    # and dateline-multipolygon fixture rows — passes through unchanged
    rows = PL.polygons_df(spark).select(
        "geometry", ST.st_makevalid("geometry").alias("b")
    ).collect()
    for r in rows:
        assert bytes(r["b"]) == bytes(r["geometry"])
    # buffer (round-4): REAL for the whole layer — the rect_hole and
    # dateline-multipolygon rows that used to raise now run the general
    # morphology kernel; every buffered area strictly exceeds the input
    from osgeo_gdal_spark.kernels import wkb as W

    rows2 = PL.polygons_df(spark).select(
        "geometry", ST.st_buffer("geometry").alias("b")
    ).collect()
    for r in rows2:
        a0 = W.polygon_area(W.parse_wkb(bytes(r["geometry"])))
        a1 = W.polygon_area(W.parse_wkb(bytes(r["b"])))
        assert a1 > a0


def test_st_buffer_convex_real(spark):
    import math

    from osgeo_gdal_spark.kernels import wkb as W

    rect = W.polygon_wkb([[(0, 0), (10, 0), (10, 8), (0, 8)]])
    df = spark.createDataFrame([(bytearray(rect),)], "g binary")
    out = df.select(ST.st_buffer("g").alias("b")).collect()[0]["b"]
    g = W.parse_wkb(bytes(out))
    area = W.polygon_area(g)
    nseg = 30
    arc = 4 * (0.5 * math.sin((math.pi / 2) / nseg) * nseg)  # r=1 chords
    want = 80.0 + 2 * (10 + 8) * 1.0 + arc
    assert abs(area - want) < 1e-9


def test_st_makepoint_roundtrip(spark):
    df = spark.range(5).select(
        ST.st_makepoint(
            (F.col("id") * 10).cast("double"), (F.col("id") - 2).cast("double")
        ).alias("g")
    )
    for i, row in enumerate(df.collect()):
        g = W.parse_wkb(bytes(row["g"]))
        assert (g.xs[0], g.ys[0]) == (i * 10.0, i - 2.0)


def test_simplify_kernel_and_udf(spark):
    from osgeo_gdal_spark.kernels import simplify as SIMP
    # a square with redundant collinear midpoints + one real detour vertex
    xs = np.array([0.0, 5.0, 10.0, 10.0, 10.0, 5.0, 4.9, 0.0, 0.0, 0.0])
    ys = np.array([0.0, 0.0, 0.0, 5.0, 10.0, 10.0, 5.0, 10.0, 5.0, 0.0])
    ox, oy = SIMP.simplify_ring(xs, ys, 1.0)
    # collinear midpoints dropped; the (4.9, 5.0) detour (>1 deep) kept
    assert len(ox) < len(xs)
    assert (4.9, 5.0) in set(zip(ox.tolist(), oy.tolist()))
    for corner in [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0)]:
        assert corner in set(zip(ox.tolist(), oy.tolist()))
    # the UDF path preserves area within tolerance on fixture polygons
    from osgeo_gdal_spark.kernels import wkb as Wk
    df = PL.polygons_df(spark).select("fid", ST.st_simplify_tol1("geometry").alias("g"))
    for row in df.collect():
        g = Wk.parse_wkb(bytes(row["g"]))
        orig = PL.POLYGONS[row["fid"]]
        if g.geom_type == "Polygon":
            assert abs(Wk.polygon_area(g) - orig.area()) <= orig.area() * 0.05


def test_st_polygon_predicates_and_hull(spark):
    from osgeo_gdal_spark.functions import st as ST
    from osgeo_gdal_spark.kernels import wkb as W

    ST.register_all(spark)
    import pandas as pd

    sq = lambda x0, y0, x1, y1: bytearray(  # noqa: E731
        W.polygon_wkb([[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]]))
    df = spark.createDataFrame(pd.DataFrame({
        "a": [sq(0, 0, 10, 10)] * 3,
        "b": [sq(5, 5, 15, 15), sq(11, 0, 20, 5), sq(2, 2, 8, 8)],
    }))
    rows = spark.sql("SELECT ST_Intersects(a, b) AS i, ST_Contains(a, b) AS c "
                     "FROM {df}", df=df).collect()
    assert [r["i"] for r in rows] == [True, False, True]
    assert [r["c"] for r in rows] == [False, False, True]
    hull_rows = spark.sql(
        "SELECT ST_Area(ST_ConvexHull(a)) AS ha FROM {df}", df=df).collect()
    assert all(abs(r["ha"] - 100.0) < 1e-9 for r in hull_rows)


def test_st_length_geodesic_fromtext_srid(spark):
    """The remaining reference-SQLite ST functions
    (ogrsqlitesqlfunctions.cpp registry): Length (perimeter for
    polygons), GeodesicLength (spherical haversine v1), GeomFromText
    round-trip, AsBinary identity, SRID constant."""
    import math

    from osgeo_gdal_spark.functions import st as ST
    from osgeo_gdal_spark.kernels import wkb as W

    sq = W.polygon_wkb([[(0.0, 0.0), (3.0, 0.0), (3.0, 4.0), (0.0, 4.0)]])
    ln = W.linestring_wkb([(0.0, 0.0), (3.0, 4.0)])
    df = spark.createDataFrame([(1, bytearray(sq)), (2, bytearray(ln))],
                               "id LONG, g BINARY")
    out = {r["id"]: r for r in df.select(
        "id",
        ST.st_length(F.col("g")).alias("len"),
        ST.st_geodesic_length(F.col("g")).alias("geo"),
        ST.st_srid(F.col("g")).alias("srid"),
        ST.st_asbinary(F.col("g")).alias("bin"),
    ).collect()}
    assert out[1]["len"] == 14.0          # perimeter 2*(3+4)
    assert out[2]["len"] == 5.0           # 3-4-5
    assert out[1]["srid"] == 4326
    assert bytes(out[2]["bin"]) == ln
    # geodesic (ELLIPSOIDAL since round 5): 1 degree of longitude at
    # the equator is exactly a * pi/180; the spherical v1 stays
    # available as ST_SphericalLength
    eq = W.linestring_wkb([(0.0, 0.0), (1.0, 0.0)])
    df2 = spark.createDataFrame([(1, bytearray(eq))], "id LONG, g BINARY")
    geo = df2.select(ST.st_geodesic_length(F.col("g")).alias("m")).first()["m"]
    assert abs(geo - 2 * math.pi * 6378137.0 / 360.0) < 1e-6
    sph = df2.select(ST.st_spherical_length(F.col("g")).alias("m")).first()["m"]
    assert abs(sph - 2 * math.pi * 6371008.8 / 360.0) < 1.0

    # WKT round-trips through the parser for all four types
    spark.udf.register("_noop", lambda: None)  # ensure session alive
    wkts = [
        "POINT (3.5 -7.25)",
        "LINESTRING (0 0, 3 4, 10 10)",
        "POLYGON ((0 0, 10 0, 10 10, 0 10, 0 0), (4 4, 6 4, 6 6, 4 6, 4 4))",
        "MULTIPOLYGON (((0 0, 4 0, 4 4, 0 4, 0 0)), ((10 10, 12 10, 12 12, 10 12, 10 10)))",
    ]
    df3 = spark.createDataFrame([(i, w) for i, w in enumerate(wkts)],
                                "id LONG, wkt STRING")
    back = df3.select("id", ST.st_geomfromtext(F.col("wkt")).alias("g")) \
        .collect()
    types = {r["id"]: W.parse_wkb(bytes(r["g"])).geom_type for r in back}
    assert types == {0: "Point", 1: "LineString", 2: "Polygon",
                     3: "MultiPolygon"}
    pg = W.parse_wkb(bytes([r for r in back if r["id"] == 2][0]["g"]))
    assert W.polygon_area(pg) == 96.0     # 100 - 4 hole


def test_st_geodesic_area_and_concave_hull(spark):
    import math

    from osgeo_gdal_spark.functions import st as ST
    from osgeo_gdal_spark.kernels import wkb as W

    from osgeo_gdal_spark.kernels import geodesic as GD

    # octant triangle (0,0) (90,0) (0,90): exactly 1/8 of the WGS84
    # ELLIPSOID (the pole-incident lambda-slide closes the polar cap)
    octant = W.polygon_wkb([[(0.0, 0.0), (90.0, 0.0), (0.0, 90.0)]])
    # small 1x1-degree square at the equator ~= (111.3 km)^2
    sq = W.polygon_wkb([[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]])
    df = spark.createDataFrame(
        [(1, bytearray(octant)), (2, bytearray(sq))], "id LONG, g BINARY")
    out = {r["id"]: r["a"] for r in df.select(
        "id", ST.st_geodesic_area(F.col("g")).alias("a")).collect()}
    assert abs(out[1] - GD.ellipsoid_area() / 8) / out[1] < 1e-12
    deg = 2 * math.pi * 6378137.0 / 360.0
    assert abs(out[2] - deg * deg) / (deg * deg) < 0.01
    # spherical v1 stays available: l'Huilier octant on the mean sphere
    R = 6371008.8
    sph = {r["id"]: r["a"] for r in df.select(
        "id", ST.st_spherical_area(F.col("g")).alias("a")).collect()}
    assert abs(sph[1] - 4 * math.pi * R * R / 8) / (R * R) < 1e-9

    # concave hull: C-shaped cloud -> notch excluded; area between the
    # true concave area and the convex hull area
    pts = [(float(x), float(y)) for x in range(11) for y in range(11)
           if not (x > 3 and 3 <= y <= 7)]
    # encode as a polygon ring purely as a point carrier
    cloud = W.polygon_wkb([pts])
    df2 = spark.createDataFrame([(1, bytearray(cloud))], "id LONG, g BINARY")
    hull = df2.select(ST.st_concavehull(F.col("g")).alias("h")).first()["h"]
    area = W.polygon_area(W.parse_wkb(bytes(hull)))
    assert 50.0 <= area < 95.0   # convex hull would be 100


def test_st_distance_normalize_setprecision(spark):
    from osgeo_gdal_spark.functions import st as ST
    from osgeo_gdal_spark.kernels import wkb as W

    sq = W.polygon_wkb([[(0.0, 0.0), (2.0, 0.0), (2.0, 2.0), (0.0, 2.0)]])
    far = W.polygon_wkb([[(5.0, 0.0), (7.0, 0.0), (7.0, 2.0), (5.0, 2.0)]])
    df = spark.createDataFrame(
        [(1, bytearray(sq), bytearray(far))], "id LONG, a BINARY, b BINARY")
    d = df.select(ST.st_distance(F.col("a"), F.col("b")).alias("d")) \
        .first()["d"]
    assert d == 3.0

    # normalize: CW ring starting mid-sequence -> CCW from min vertex;
    # idempotent
    cw = W.polygon_wkb([[(2.0, 2.0), (2.0, 0.0), (0.0, 0.0), (0.0, 2.0)]])
    df2 = spark.createDataFrame([(1, bytearray(cw))], "id LONG, g BINARY")
    n1 = bytes(df2.select(ST.st_normalize(F.col("g")).alias("n"))
               .first()["n"])
    pg = W.parse_wkb(n1)
    assert (pg.xs[0], pg.ys[0]) == (0.0, 0.0)
    assert W.shoelace_area(pg.xs, pg.ys) > 0    # CCW
    df3 = spark.createDataFrame([(1, bytearray(n1))], "id LONG, g BINARY")
    n2 = bytes(df3.select(ST.st_normalize(F.col("g")).alias("n"))
               .first()["n"])
    assert n2 == n1

    # set precision: snapping collapses the sliver vertex; area snaps to
    # the unit-grid polygon's
    sliver = W.polygon_wkb(
        [[(0.1, -0.2), (4.2, 0.3), (3.9, 3.8), (3.95, 3.85), (0.0, 4.1)]])
    df4 = spark.createDataFrame([(1, bytearray(sliver))], "id LONG, g BINARY")
    snapped = bytes(df4.select(ST.st_setprecision(F.col("g")).alias("s"))
                    .first()["s"])
    spg = W.parse_wkb(snapped)
    assert all(float(v) == round(float(v)) for v in spg.xs)
    assert W.polygon_area(spg) == 16.0


def test_frame_sample_plan_semantics(spark):
    """Hand-checked schedules: short video -> one frame per second;
    long video -> capped at max_frames with uniform re-stride."""
    from osgeo_gdal_spark.sources import multimodal as MM

    vids = spark.createDataFrame(
        [(1, 5000, 30),      # 5s @ 30fps -> 6 samples at 1000ms
         (2, 120000, 24)],   # 120s -> capped at 32, stride 120000//31
        "video_id LONG, duration_ms INT, fps INT",
    )
    out = {r["video_id"]: r
           for r in MM.frame_sample_plan(vids, 1000, 32).collect()}
    r1 = out[1]
    assert r1["n_frames"] == 150 and r1["n_samples"] == 6
    assert r1["stride_ms"] == 1000
    # digest = sum of min((k*1000*30)//1000, 149): the k=5 sample lands
    # at t=duration whose raw index 150 == n_frames (one past the last
    # decodable frame) and clamps to 149
    assert r1["frame_digest"] == 0 + 30 + 60 + 90 + 120 + 149
    r2 = out[2]
    assert r2["n_samples"] == 32 and r2["stride_ms"] == 120000 // 31
    assert r2["n_frames"] == 120000 * 24 // 1000
    want = sum(min((k * r2["stride_ms"] * 24) // 1000,
                   r2["n_frames"] - 1) for k in range(32))
    assert r2["frame_digest"] == want

    # max_frames=1 used to divide by zero in the re-stride: one sample,
    # frame 0, stride 0
    one = {r["video_id"]: r
           for r in MM.frame_sample_plan(vids, 1000, 1).collect()}
    assert one[2]["n_samples"] == 1 and one[2]["stride_ms"] == 0
    assert one[2]["frame_digest"] == 0


def test_st_segmentize_and_dump(spark):
    from osgeo_gdal_spark.functions import st as ST
    from osgeo_gdal_spark.kernels import wkb as W

    # 3x4 rect, max edge 1.0 -> every edge split into unit steps;
    # area and perimeter unchanged
    sq = W.polygon_wkb([[(0.0, 0.0), (3.0, 0.0), (3.0, 4.0), (0.0, 4.0)]])
    ln = W.linestring_wkb([(0.0, 0.0), (2.5, 0.0)])
    mp = W.multipolygon_wkb(
        [[[(0.0, 0.0), (1.0, 0.0), (1.0, 1.0), (0.0, 1.0)]],
         [[(5.0, 5.0), (8.0, 5.0), (8.0, 9.0), (5.0, 9.0)]]])
    df = spark.createDataFrame(
        [(1, bytearray(sq)), (2, bytearray(ln)), (3, bytearray(mp))],
        "id LONG, g BINARY")
    seg = {r["id"]: bytes(r["s"]) for r in df.select(
        "id", ST.st_segmentize(F.col("g")).alias("s")).collect()}
    pg = W.parse_wkb(seg[1])
    # 14-length perimeter at unit spacing -> 14 distinct vertices
    assert len(pg.xs) == 15           # closed ring repeats the first
    assert W.polygon_area(pg) == 12.0
    lg = W.parse_wkb(seg[2])
    assert len(lg.xs) == 4            # 0, 0.833.., 1.666.., 2.5
    assert lg.xs[-1] == 2.5

    dumped = df.select(
        "id", F.explode(ST.st_dump(F.col("g"))).alias("part")).collect()
    by_id = {}
    for r in dumped:
        by_id.setdefault(r["id"], []).append(bytes(r["part"]))
    assert len(by_id[3]) == 2
    areas = sorted(W.polygon_area(W.parse_wkb(p)) for p in by_id[3])
    assert areas == [1.0, 12.0]
    assert len(by_id[1]) == 1 and by_id[1][0] == sq


def test_audio_chunk_plan_semantics(spark):
    """Hand-checked schedules: short clip -> one chunk; long clip ->
    overlapped 30s/25s windows with a short final chunk; invalid
    overlap raises."""
    from osgeo_gdal_spark.sources import multimodal as MM

    auds = spark.createDataFrame(
        [(1, 10000, 16000),      # 10s @ 16k -> one chunk of 160000
         (2, 87000, 22050)],     # 87s -> chunks at 0/25/50/75s... -> 4? 
        "audio_id LONG, duration_ms INT, sample_rate INT",
    )
    out = {r["audio_id"]: r
           for r in MM.audio_chunk_plan(auds, 30000, 5000).collect()}
    r1 = out[1]
    assert r1["n_samples"] == 160000
    assert r1["n_chunks"] == 1
    assert r1["last_len"] == 160000 and r1["start_digest"] == 0
    r2 = out[2]
    n = 87000 * 22050 // 1000
    chunk = 22050 * 30
    hop = 22050 * 25
    want_chunks = 1 + -(-(n - chunk) // hop)
    assert r2["n_samples"] == n and r2["chunk_samples"] == chunk
    assert r2["n_chunks"] == want_chunks
    assert r2["last_len"] == n - (want_chunks - 1) * hop
    assert 0 < r2["last_len"] <= chunk
    assert r2["start_digest"] == hop * (want_chunks - 1) * want_chunks // 2

    import pytest as _pt

    with _pt.raises(ValueError, match="overlap_ms"):
        MM.audio_chunk_plan(auds, 30000, 30000)
