"""Golden tests for WKB codec, ray-cast PIP, checksum, resampling kernels."""

import numpy as np
import pytest

from osgeo_gdal_spark.kernels import checksum, pip, resample, wkb


SQUARE = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
HOLE = [(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0)]


def test_wkb_polygon_roundtrip():
    buf = wkb.polygon_wkb([SQUARE, HOLE])
    g = wkb.parse_wkb(buf)
    assert g.geom_type == "Polygon"
    assert list(g.part_rings) == [2]
    assert g.envelope() == (0.0, 0.0, 10.0, 10.0)
    assert len(g.xs) == 10  # 5 + 5 closed


def test_wkb_point_and_multipolygon():
    p = wkb.parse_wkb(wkb.point_wkb(3.5, -7.25))
    assert p.geom_type == "Point" and p.xs[0] == 3.5 and p.ys[0] == -7.25
    mp = wkb.parse_wkb(wkb.multipolygon_wkb([[SQUARE], [HOLE]]))
    assert mp.geom_type == "MultiPolygon"
    assert list(mp.part_rings) == [1, 1]


def test_wkb_big_endian():
    import struct
    # hand-build big-endian point
    buf = struct.pack(">BIdd", 0, 1, 1.5, 2.5)
    g = wkb.parse_wkb(buf)
    assert (g.xs[0], g.ys[0]) == (1.5, 2.5)


def test_shoelace_area_and_centroid():
    g = wkb.parse_wkb(wkb.polygon_wkb([SQUARE, HOLE]))
    assert wkb.polygon_area(g) == pytest.approx(100.0 - 4.0)
    cx, cy = wkb.centroid(g)
    assert (cx, cy) == (pytest.approx(5.0), pytest.approx(5.0))


def test_pip_square_with_hole():
    g = wkb.parse_wkb(wkb.polygon_wkb([SQUARE, HOLE]))
    px = np.array([5.0, 1.0, 5.0, 11.0, -1.0, 4.5])
    py = np.array([1.0, 5.0, 5.0, 5.0, 5.0, 4.5])
    #              in    in   hole  out   out  hole
    mask = pip.points_in_polygon(px, py, g)
    assert mask.tolist() == [True, True, False, False, False, False]


def test_pip_strict_interior_vertex_and_edge():
    # ray-cast semantics from ogrlinearring.cpp:452-521: generic interior
    # points in, clearly-outside points out; a point just inside an edge in.
    g = wkb.parse_wkb(wkb.polygon_wkb([SQUARE]))
    px = np.array([1e-9, 10.0 - 1e-9, 5.0])
    py = np.array([1e-9, 5.0, 10.0 - 1e-9])
    assert pip.points_in_polygon(px, py, g).tolist() == [True, True, True]


def test_pip_concave_triangle():
    tri = [(0.0, 0.0), (10.0, 0.0), (5.0, 8.0)]
    g = wkb.parse_wkb(wkb.polygon_wkb([tri]))
    px = np.array([5.0, 0.5, 9.5, 5.0])
    py = np.array([2.0, 7.0, 7.0, 7.9])
    assert pip.points_in_polygon(px, py, g).tolist() == [True, False, False, True]


def test_pip_matches_matplotlib_free_reference():
    """Property check: ray-cast agrees with an independent winding
    implementation on random points vs a random simple polygon."""
    rng = np.random.default_rng(7)
    # star-shaped polygon around origin => simple
    angles = np.sort(rng.uniform(0, 2 * np.pi, 12))
    radii = rng.uniform(2.0, 5.0, 12)
    ring = [(float(r * np.cos(a)), float(r * np.sin(a))) for r, a in zip(radii, angles)]
    g = wkb.parse_wkb(wkb.polygon_wkb([ring]))
    px = rng.uniform(-6, 6, 500)
    py = rng.uniform(-6, 6, 500)
    got = pip.points_in_polygon(px, py, g)

    def winding_inside(x, y):
        xs = np.array([p[0] for p in ring] + [ring[0][0]])
        ys = np.array([p[1] for p in ring] + [ring[0][1]])
        inside = False
        for i in range(len(xs) - 1):
            x1, y1, x2, y2 = xs[i], ys[i], xs[i + 1], ys[i + 1]
            if (y1 > y) != (y2 > y):
                xint = x1 + (y - y1) * (x2 - x1) / (y2 - y1)
                if xint > x:
                    inside = not inside
        return inside

    want = np.array([winding_inside(x, y) for x, y in zip(px, py)])
    assert (got == want).all()


def test_checksum_byte_tif_golden():
    """The canonical byte.tif (20x20 uint8) checksums to 4672
    (autotest/utilities/test_gdal_translate.py:52). We reproduce the exact
    pixel array from the reference fixture file and assert the port."""
    import pathlib
    tif = pathlib.Path("/root/reference/autotest/gcore/data/byte.tif")
    if not tif.exists():
        pytest.skip("reference fixture missing")
    data = tif.read_bytes()
    # byte.tif is a 20x20 uncompressed striped GTiff; extract the single
    # strip. Parse minimal TIFF: locate StripOffsets (tag 273).
    import struct
    endian = "<" if data[:2] == b"II" else ">"
    (ifd_off,) = struct.unpack_from(endian + "I", data, 4)
    (n_tags,) = struct.unpack_from(endian + "H", data, ifd_off)
    strip_off = strip_cnt = None
    for i in range(n_tags):
        tag, typ, cnt, val = struct.unpack_from(endian + "HHII", data, ifd_off + 2 + i * 12)
        if tag == 273:
            strip_off = val
        if tag == 279:
            strip_cnt = val
    assert strip_off is not None and strip_cnt == 400
    pixels = np.frombuffer(data, dtype=np.uint8, count=400, offset=strip_off).reshape(20, 20)
    assert checksum.checksum_image(pixels) == 4672


def test_checksum_float_conversion():
    arr = np.array([[0.4, 0.6], [-0.6, 2.5]])
    # IntFromDouble: +0.5 then floor -> 0, 1, 0 (floor(-0.1) = -1!), 3
    # -0.6+0.5 = -0.1 -> floor = -1; C % with negative dividend truncates.
    got = checksum.checksum_image(arr)
    # C-truncation remainders: 0%7=0, 1%11=1, -1%13=-1, 3%17=3 -> sum 3
    assert got == 3


def test_resample_identity_and_near():
    src = np.arange(16, dtype=np.float64).reshape(4, 4)
    for m in ["near", "bilinear", "cubic", "lanczos", "cubicspline"]:
        out = resample.resample_grid(src, 4, 4, m)
        if m in ("near", "bilinear", "cubic", "lanczos"):
            # interpolating kernels reproduce the grid exactly at nodes
            np.testing.assert_allclose(out, src, atol=1e-9)


def test_resample_2x_upsample_bilinear_golden():
    src = np.array([[0.0, 10.0], [20.0, 30.0]])
    out = resample.resample_grid(src, 4, 4, "bilinear")
    # dst row 1 center at src y=0.25 -> 0.75*row0 + 0.25*row1 = [5, 15];
    # col centers -0.25 (edge-clamped), 0.25, 0.75, 1.25 (edge-clamped)
    np.testing.assert_allclose(out[1], [5.0, 7.5, 12.5, 15.0], atol=1e-12)


def test_average_2x2_golden_and_nodata():
    src = np.array([[1, 2, 3, 4], [5, 6, 7, 8], [9, 10, 11, 12], [13, 14, 15, 16]], dtype=np.uint8)
    out = resample.average_2x2(src)
    np.testing.assert_allclose(out, [[3.5, 5.5], [11.5, 13.5]])
    src2 = src.astype(np.float64)
    src2[0, 0] = -9999.0
    out2 = resample.average_2x2_nodata(src2, -9999.0)
    assert out2[0, 0] == pytest.approx((2 + 5 + 6) / 3.0)
    src3 = np.full((2, 2), -9999.0)
    assert resample.average_2x2_nodata(src3, -9999.0)[0, 0] == -9999.0


def test_round_to_dtype():
    arr = np.array([1.4, 1.5, 255.6, -0.4])
    out = resample.round_to_dtype(arr, np.uint8)
    assert out.tolist() == [1, 2, 255, 0]


def test_boundary_exact_predicates():
    """OGC Touches/Overlaps/Equals/Covers/Disjoint on exact-shared
    coordinates (the boundary-aware tier, incl. hole arrangements)."""
    from osgeo_gdal_spark.kernels import polypoly as PP, wkb as W

    def rect(x0, y0, x1, y1):
        return W.parse_wkb(
            W.polygon_wkb([[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]]))

    A = rect(0, 0, 10, 10)
    # (B, touches, overlaps, equals, interiors_intersect)
    cases = [
        (rect(10, 0, 20, 10), True, False, False, False),    # edge touch
        (rect(10, 10, 20, 20), True, False, False, False),   # corner touch
        (rect(5, 5, 15, 15), False, True, False, True),      # overlap
        (rect(2, 2, 8, 8), False, False, False, True),       # contained
        (rect(0, 2, 5, 8), False, False, False, True),       # contained, shared edge
        (rect(0, 0, 10, 10), False, False, True, True),      # equal
        (rect(20, 20, 30, 30), False, False, False, False),  # disjoint
        (rect(10, 2, 20, 8), True, False, False, False),     # partial shared edge
        (rect(3, -5, 7, 15), False, True, False, True),      # plus-sign cross
    ]
    for B, t, o, e, ii in cases:
        assert PP.polygons_touch(A, B) is t
        assert PP.polygons_overlap(A, B) is o
        assert PP.polygons_equal(A, B) is e
        assert PP.interiors_intersect(A, B) is ii
        assert PP.polygons_disjoint(A, B) is (
            not ii and not PP.boundaries_touch(A, B))

    H = W.parse_wkb(W.polygon_wkb(
        [[(0, 0), (10, 0), (10, 10), (0, 10)],
         [(3, 3), (7, 3), (7, 7), (3, 7)]]))
    assert not PP.interiors_intersect(H, rect(4, 4, 6, 6))   # inside the hole
    assert PP.polygons_disjoint(H, rect(4, 4, 6, 6))
    assert PP.polygons_touch(H, rect(3, 3, 7, 7))            # exactly the hole
    assert not PP.polygons_covers(H, rect(2, 2, 8, 8))       # swallows the hole
    assert PP.interiors_intersect(H, rect(2, 2, 8, 8))
    assert PP.polygons_covers(H, rect(1, 1, 2, 2))


def test_line_polygon_relate_and_crosses():
    from osgeo_gdal_spark.kernels import polypoly as PP, wkb as W

    rect = W.parse_wkb(
        W.polygon_wkb([[(0, 0), (10, 0), (10, 10), (0, 10)]]))
    L = lambda pts: W.parse_wkb(W.linestring_wkb(pts))  # noqa: E731
    assert PP.line_crosses_polygon(L([(-5, 5), (15, 5)]), rect)
    # within: interior points inside, none outside
    assert PP.line_polygon_relate(L([(2, 2), (8, 8)]), rect)[:2] == (
        True, False)
    # touches: boundary contact, no interior point inside
    for pts in ([(0, 2), (0, 8)], [(-5, 0), (0, 0)]):
        has_in, _out, contact = PP.line_polygon_relate(L(pts), rect)
        assert contact and not has_in
    assert not PP.line_crosses_polygon(L([(20, 20), (30, 30)]), rect)
    assert PP.line_crosses_polygon(L([(-5, 5), (5, 5)]), rect)
    # holes: a segment entirely inside the hole is DISJOINT; a segment
    # spanning meat-hole-meat crosses
    H = W.parse_wkb(W.polygon_wkb(
        [[(0, 0), (10, 0), (10, 10), (0, 10)],
         [(3, 3), (7, 3), (7, 7), (3, 7)]]))
    assert PP.line_polygon_relate(L([(4, 5), (6, 5)]), H) == (False, True, False)
    assert PP.line_crosses_polygon(L([(1, 5), (9, 5)]), H)


def test_st_crosses_dispatch(spark):
    from osgeo_gdal_spark.functions import st as ST
    from osgeo_gdal_spark.kernels import wkb as W

    ST.register_all(spark)
    line = W.linestring_wkb([(-5.0, 5.0), (15.0, 5.0)])
    poly = W.polygon_wkb([[(0, 0), (10, 0), (10, 10), (0, 10)]])
    poly2 = W.polygon_wkb([[(5, 5), (15, 5), (15, 15), (5, 15)]])
    df = spark.createDataFrame(
        [(bytearray(line), bytearray(poly), bytearray(poly2))],
        "gl binary, gp binary, gq binary")
    df.createOrReplaceTempView("xpairs")
    row = spark.sql("""SELECT ST_Crosses(gl, gp) AS lc,
                              ST_Crosses(gp, gl) AS cl,
                              ST_Crosses(gp, gq) AS pp
                       FROM xpairs""").collect()[0]
    assert row["lc"] is True and row["cl"] is True and row["pp"] is False


def test_make_valid_bowtie_and_repairs():
    from osgeo_gdal_spark.kernels import makevalid as MV

    # bowtie quad -> two CCW triangles, total area h*w (here 1*2... the
    # crossing splits (0,0)(2,1)(2,0)(0,1) into two area-0.5 triangles)
    loops = MV.make_valid_rings([0, 2, 2, 0], [0, 1, 0, 1])
    assert len(loops) == 2
    assert sorted(MV._loop_area(l) for l in loops) == [0.5, 0.5]
    # valid ring passes through as one loop, CCW, same area
    loops = MV.make_valid_rings([0, 1, 1, 0], [0, 0, 1, 1])
    assert len(loops) == 1 and MV._loop_area(loops[0]) == 1.0
    # CW input comes back CCW
    loops = MV.make_valid_rings([0, 0, 1, 1], [0, 1, 1, 0])
    assert MV._loop_area(loops[0]) == 1.0
    # duplicate consecutive vertices + unclosed input repaired
    loops = MV.make_valid_rings([0, 0, 1, 1, 0], [0, 0, 0, 1, 1])
    assert len(loops) == 1 and MV._loop_area(loops[0]) == 1.0
    # degenerate: too few points / zero area
    assert MV.make_valid_rings([0, 1], [0, 0]) == []
    assert MV.make_valid_rings([0, 1, 2], [0, 0, 0]) == []


def test_make_valid_figure_eight_and_pentagram_scope():
    """Figure-eight (two crossings, disjoint lobes): two simple CCW
    loops, exact areas. Pentagram (interleaved crossings, overlapping
    faces): the polygon-level entry raises the documented extension
    error instead of emitting an overlapping MultiPolygon."""
    import math

    import pytest

    from osgeo_gdal_spark.kernels import makevalid as MV
    from osgeo_gdal_spark.kernels import wkb as W

    # figure-eight: two unit-ish squares joined by a crossing waist
    # ring (0,0)(2,1)(4,0)(4,2)(2,1)... use the classic hourglass pair:
    # (0,0)(1,1)(0,1)(1,0) crosses once at (.5,.5) -> two triangles
    loops = MV.make_valid_rings([0, 1, 0, 1], [0, 1, 1, 0])
    assert len(loops) == 2
    assert sorted(MV._loop_area(l) for l in loops) == [0.25, 0.25]
    assert all(not MV._has_proper_crossing(l) for l in loops)
    assert not MV._loops_overlap(loops)

    # pentagram (overlapping-face tier, round-4): the per-ring noding
    # leaves overlapping composite loops, and the full-arrangement pass
    # takes over — 5 point-triangles + the winding-2 core, each its own
    # simple CCW face (GEOS linework/Polygonizer structure)
    ang = [math.pi / 2 + 4 * math.pi * k / 5 for k in range(5)]
    xs = [math.cos(a) for a in ang]
    ys = [math.sin(a) for a in ang]
    star = MV.make_valid_rings(xs, ys)
    assert MV._loops_overlap(star)
    pg = W.parse_wkb(W.polygon_wkb([list(zip(xs, ys))]))
    faces = MV.make_valid(pg)
    assert len(faces) == 6
    assert all(MV._loop_area(f) > 0 for f in faces)
    assert all(not MV._has_proper_crossing(f) for f in faces)
    # (faces legitimately SHARE edges — triangle bases == core edges —
    # so the disjoint-tier _loops_overlap midpoint probe does not apply)
    # regular pentagram: 5 congruent point-triangles + one core
    areas = sorted(MV._loop_area(f) for f in faces)
    assert max(areas[:5]) - min(areas[:5]) < 1e-9


def test_make_valid_lattice_pentagram_exact_fraction_oracle():
    """Integer-vertex pentagram vs an exact Fraction arrangement oracle:
    total face area equals (winding-weighted shoelace) - (core pentagon
    area), both computed in exact rational arithmetic — the constants
    pinned in entry_queries (9832/525 at unit scale)."""
    from fractions import Fraction as Fr

    from osgeo_gdal_spark.kernels import makevalid as MV
    from osgeo_gdal_spark.kernels import wkb as W

    sx = [0.0, 2.0, -5.0, 5.0, -2.0]
    sy = [6.0, 0.0, 4.0, 4.0, 0.0]
    pg = W.parse_wkb(W.polygon_wkb([list(zip(sx, sy))]))
    faces = MV.make_valid(pg)
    assert len(faces) == 6
    total = sum(MV._loop_area(f) for f in faces)
    assert abs(total - 9832 / Fr(525)) < 1e-9
    # the core is the largest face here: 2768/525
    assert abs(max(MV._loop_area(f) for f in faces)
               - 2768 / Fr(525)) < 1e-9


def test_interior_point_concave_hole_and_symdiff():
    import numpy as np

    from osgeo_gdal_spark.kernels import overlay_kernel as OVK
    from osgeo_gdal_spark.kernels import pip as P, polypoly as PP, wkb as W

    # C-shape whose centroid sits in the notch: point must be inside
    c = W.parse_wkb(W.polygon_wkb(
        [[(0, 0), (10, 0), (10, 2), (2, 2), (2, 8), (10, 8), (10, 10),
          (0, 10)]]
    ))
    x, y = PP.interior_point(c)
    assert bool(P.points_in_polygon(np.array([x]), np.array([y]), c)[0])
    # donut: lands in the annulus, never the hole
    dn = W.parse_wkb(W.polygon_wkb(
        [[(0, 0), (10, 0), (10, 10), (0, 10)],
         [(3, 3), (7, 3), (7, 7), (3, 7)]]
    ))
    x3, y3 = PP.interior_point(dn)
    assert bool(P.points_in_polygon(np.array([x3]), np.array([y3]), dn)[0])
    # square: exact center
    sq = W.parse_wkb(W.polygon_wkb([[(0, 0), (4, 0), (4, 4), (0, 4)]]))
    assert PP.interior_point(sq) == (2.0, 2.0)

    # symdifference area identity on overlapping unit-offset squares:
    # |A △ B| = |A| + |B| - 2|A∩B| = 16 + 16 - 2*9 = 14
    a = OVK.geometry_rings(W.parse_wkb(
        W.polygon_wkb([[(0, 0), (4, 0), (4, 4), (0, 4)]])
    ))
    b = OVK.geometry_rings(W.parse_wkb(
        W.polygon_wkb([[(1, 1), (5, 1), (5, 5), (1, 5)]])
    ))
    sd = OVK.overlay_rings(a, b, "symdifference")
    assert abs(OVK.rings_area(sd) - 14.0) < 1e-9


def test_make_valid_collinear_overlap_self_contacts():
    """The last named MakeValid extension (round 4): vertex-on-edge and
    retraced collinear-overlap self-contacts repair through the exact
    snap-lattice arrangement."""
    import numpy as np

    from osgeo_gdal_spark.kernels import makevalid as MV
    from osgeo_gdal_spark.kernels import wkb as W

    # flag-with-pole: the ring retraces along its own bottom edge; the
    # spike collapses, the flag rectangle survives
    pg = W.parse_wkb(W.polygon_wkb(
        [[(0.0, 0.0), (4.0, 0.0), (2.0, 0.0), (2.0, 3.0), (0.0, 3.0)]]))
    faces = MV.make_valid(pg)
    assert len(faces) == 1
    assert abs(MV._loop_area(faces[0]) - 6.0) < 1e-9

    # T self-contact: a vertex lands on the ring's own edge interior —
    # two triangles, total area preserved
    pg = W.parse_wkb(W.polygon_wkb(
        [[(0.0, 0.0), (6.0, 0.0), (6.0, 3.0), (3.0, 0.0), (0.0, 3.0)]]))
    faces = MV.make_valid(pg)
    assert len(faces) == 2
    assert sorted(round(MV._loop_area(f), 9) for f in faces) == [4.5, 4.5]

    # detection must NOT fire on clean inputs (valid square passes
    # through the intact tier, returning None upstream)
    sq = [(np.array([0.0, 4.0, 4.0, 0.0]), np.array([0.0, 0.0, 4.0, 4.0]))]
    assert not MV._lattice_self_contacts(sq, 2.0 ** -10)


def test_st_isvalid_and_reason(spark):
    """ST_IsValid / ST_IsValidReason over the validity classes,
    including the round-5 symmetric-spike detector gap (an EXACT
    duplicate-edge retrace has no endpoint-interior contact, so the
    lattice T-contact test alone missed it); make_valid must also
    REPAIR the spike (drop it, keep the rect)."""
    from pyspark.sql import functions as F

    from osgeo_gdal_spark.functions import st as ST
    from osgeo_gdal_spark.kernels import makevalid as MV, wkb as W

    cases = {
        1: ([[(0, 0), (3, 2), (3, 0), (0, 2)]], "self-intersection"),
        2: ([[(0, 0), (6, 0), (4, 0), (4, 3), (0, 3)]], "self-contact"),
        3: ([[(0, 0), (4, 0), (4, 4), (0, 4), (0, 2), (2, 2), (0, 2)]],
            "self-contact"),
        4: ([[(0, 0), (4, 0), (4, 3), (0, 3)]], "valid"),
        5: ([[(0, 0), (6, 0), (6, 6), (0, 6)],
             [(2, 2), (4, 2), (4, 4), (2, 4)]], "valid"),
    }
    rows = [(k, bytearray(W.polygon_wkb(
        [[(float(x), float(y)) for x, y in r] for r in rings])))
        for k, (rings, _r) in cases.items()]
    df = spark.createDataFrame(rows, "id LONG, g BINARY")
    out = {r["id"]: r for r in df.select(
        "id",
        ST.st_isvalid(F.col("g")).alias("v"),
        ST.st_isvalid_reason(F.col("g")).alias("why"),
    ).collect()}
    for k, (_rings, reason) in cases.items():
        assert out[k]["why"] == reason, k
        assert out[k]["v"] == (reason == "valid"), k
    # spike repair: retraced edge collapses, rect survives
    pg = W.parse_wkb(W.polygon_wkb(
        [[(0.0, 0.0), (4.0, 0.0), (4.0, 4.0), (0.0, 4.0), (0.0, 2.0),
          (2.0, 2.0), (0.0, 2.0)]]))
    loops = MV.make_valid(pg)
    assert loops is not None
    assert sum(abs(MV._loop_area(lp)) for lp in loops) == 16.0


def test_swapxy_round_trip():
    """st_swapxy: swap twice == identity for every linear kind; area is
    preserved (|J| = 1) and ring orientation flips sign."""
    from osgeo_gdal_spark.functions.st import _swapped_xy
    from osgeo_gdal_spark.kernels import wkb as W

    sq = [[(0.0, 0.0), (4.0, 0.0), (4.0, 2.0), (0.0, 2.0), (0.0, 0.0)]]
    geoms = [
        W.point_wkb(3.5, -1.25),
        W.linestring_wkb([(0.0, 1.0), (2.0, 5.0), (7.0, 1.5)]),
        W.polygon_wkb(sq),
        W.multipolygon_wkb([sq, [[(10.0, 10.0), (14.0, 10.0),
                                  (10.0, 13.0), (10.0, 10.0)]]]),
    ]
    swapped = _swapped_xy(geoms)
    back = _swapped_xy(swapped)
    assert [bytes(b) for b in back] == [bytes(g) for g in geoms]
    pg = W.parse_wkb(swapped[0])
    assert (pg.xs[0], pg.ys[0]) == (-1.25, 3.5)
    a0 = abs(W.polygon_area(W.parse_wkb(geoms[2])))
    a1 = abs(W.polygon_area(W.parse_wkb(swapped[2])))
    assert a0 == a1 == 8.0
