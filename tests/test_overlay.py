"""Rect-clip overlay (Sutherland-Hodgman) kernel + operator tests."""

import numpy as np

from osgeo_gdal_spark.kernels import clip as CL
from osgeo_gdal_spark.operators import overlay as OV
from osgeo_gdal_spark.sources import polygons as PL


def test_sh_clip_basic_cases():
    # square [0,10]^2 clipped by [2,3]x[8,7] window
    xs, ys = CL.sh_clip_ring([0, 10, 10, 0], [0, 0, 10, 10], 2, 3, 8, 7)
    assert CL.ring_area(xs, ys) == (8 - 2) * (7 - 3)
    # fully inside: unchanged ring
    xs, ys = CL.sh_clip_ring([4, 6, 6, 4], [4, 4, 6, 6], 2, 3, 8, 7)
    assert CL.ring_area(xs, ys) == 4.0 and len(xs) == 4
    # fully outside: empty
    xs, ys = CL.sh_clip_ring([20, 30, 30, 20], [0, 0, 10, 10], 2, 3, 8, 7)
    assert len(xs) == 0
    # triangle cut by one edge: area by sampled reference
    tx, ty = [0.0, 9.0, 0.0], [0.0, 0.0, 9.0]
    xs, ys = CL.sh_clip_ring(tx, ty, 0, 0, 4.5, 100)
    # tri x<=4.5 region: trapezoid area = integral of height over x
    want = 4.5 * 9 - 4.5 * 4.5 / 2  # int_0^4.5 (9 - x) dx
    assert abs(CL.ring_area(xs, ys) - want) < 1e-12


def test_sh_clip_hole_subtracts():
    import struct

    from osgeo_gdal_spark.kernels import wkb as W

    shell = [(0.0, 0.0), (10.0, 0.0), (10.0, 10.0), (0.0, 10.0)]
    hole = [(4.0, 4.0), (6.0, 4.0), (6.0, 6.0), (4.0, 6.0)]
    wkb = W.polygon_wkb([shell, hole])
    g = W.parse_wkb(wkb)
    total = 0.0
    ring_i = 0
    for nr in g.part_rings:
        for j in range(int(nr)):
            s, e = g.ring_offsets[ring_i], g.ring_offsets[ring_i + 1]
            cx, cy = CL.sh_clip_ring(g.xs[s:e], g.ys[s:e], 2, 2, 8, 8)
            a = abs(CL.ring_area(cx, cy))
            total += a if j == 0 else -a
            ring_i += 1
    assert total == 6 * 6 - 2 * 2


def test_clip_features_rect_vs_sampling(spark):
    """Operator result vs dense point sampling of (polygon AND rect)."""
    rect = (-100.0, -35.0, 165.0, 49.5)
    rows = OV.clip_features_rect(PL.polygons_df(spark), rect).collect()
    got = {r["eas_id"]: r["clip_area"] for r in rows}
    # features entirely outside are dropped
    assert 166 not in got and 165 not in got
    rng = np.random.default_rng(5)
    n = 400_000
    lon = rng.uniform(-180, 180, n)
    lat = rng.uniform(-90, 90, n)
    cell = 360.0 * 180.0 / n
    inrect = ((lon > rect[0]) & (lon < rect[2])
              & (lat > rect[1]) & (lat < rect[3]))
    for p in PL.POLYGONS:
        kind, prm = p.kind, p.params
        if kind == "rect":
            x0, y0, x1, y1 = prm["bounds"]
            m = (lon > x0) & (lon < x1) & (lat > y0) & (lat < y1)
        elif kind == "rect_hole":
            x0, y0, x1, y1 = prm["bounds"]
            hx0, hy0, hx1, hy1 = prm["hole"]
            m = (lon > x0) & (lon < x1) & (lat > y0) & (lat < y1)
            m &= ~((lon > hx0) & (lon < hx1) & (lat > hy0) & (lat < hy1))
        elif kind == "tri":
            (ax, ay), (bx, by), (cx, cy) = prm["vertices"]
            m = ((bx - ax) * (lat - ay) - (by - ay) * (lon - ax) > 0)
            m &= ((cx - bx) * (lat - by) - (cy - by) * (lon - bx) > 0)
            m &= ((ax - cx) * (lat - cy) - (ay - cy) * (lon - cx) > 0)
        else:
            y0, y1 = prm["lat"]
            m = (((lon > prm["west_lon"]) | (lon < prm["east_lon"]))
                 & (lat > y0) & (lat < y1))
        approx = (m & inrect).sum() * cell
        if p.eas_id in got:
            assert abs(got[p.eas_id] - approx) < max(30.0, 0.1 * approx), p.eas_id
        else:
            assert approx < 30.0, p.eas_id


# --- general boolean overlay kernel (kernels/overlay_kernel.py) ----------


def _rect_rings(x0, y0, x1, y1):
    from osgeo_gdal_spark.kernels import overlay_kernel as OK, wkb as W

    return OK.geometry_rings(
        W.parse_wkb(W.polygon_wkb([[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]]))
    )


def test_overlay_boolean_identities():
    from osgeo_gdal_spark.kernels import overlay_kernel as OK

    a = _rect_rings(0, 0, 10, 10)
    b = _rect_rings(5.25, 5.25, 15.25, 15.25)
    ia = OK.rings_area(OK.overlay_rings(a, b, "intersection"))
    ua = OK.rings_area(OK.overlay_rings(a, b, "union"))
    da = OK.rings_area(OK.overlay_rings(a, b, "difference"))
    db = OK.rings_area(OK.overlay_rings(b, a, "difference"))
    assert abs(ia - 4.75 * 4.75) < 1e-12
    # conservation: |A| = |A∩B| + |A−B|; |A∪B| = |A| + |B| − |A∩B|
    assert abs((ia + da) - 100.0) < 1e-12
    assert abs(ua - (100.0 + 100.0 - ia)) < 1e-12
    assert abs((ia + db) - 100.0) < 1e-12


def test_overlay_hole_and_containment():
    from osgeo_gdal_spark.kernels import overlay_kernel as OK, wkb as W

    holed = OK.geometry_rings(
        W.parse_wkb(
            W.polygon_wkb(
                [
                    [(0, 0), (10, 0), (10, 10), (0, 10)],
                    [(2, 2), (5, 2), (5, 5), (2, 5)],
                ]
            )
        )
    )
    probe = _rect_rings(1, 1, 6, 6)
    ia = OK.rings_area(OK.overlay_rings(holed, probe, "intersection"))
    assert abs(ia - (25.0 - 9.0)) < 1e-12
    # containment with no boundary crossings at all
    small = _rect_rings(7, 7, 8, 8)
    assert abs(OK.rings_area(OK.overlay_rings(holed, small, "intersection")) - 1.0) < 1e-12
    assert abs(OK.rings_area(OK.overlay_rings(holed, small, "union")) - 91.0) < 1e-12
    # difference punches a NEW hole: ring count grows, area drops
    d = OK.overlay_rings(holed, small, "difference")
    assert abs(OK.rings_area(d) - 90.0) < 1e-12
    assert sum(1 for xs, ys in d if OK.ring_area(xs, ys) < 0) == 2


def test_overlay_union_fold_inclusion_exclusion():
    from osgeo_gdal_spark.kernels import overlay_kernel as OK

    rects = [(0, 0, 10, 10), (5.5, 5.5, 15.5, 15.5), (8.25, 8.25, 12.25, 12.25)]

    def box_i(a, b):
        w = max(0.0, min(a[2], b[2]) - max(a[0], b[0]))
        h = max(0.0, min(a[3], b[3]) - max(a[1], b[1]))
        return w * h

    def box_i3(a, b, c):
        lo0, lo1 = max(a[0], b[0], c[0]), max(a[1], b[1], c[1])
        hi0, hi1 = min(a[2], b[2], c[2]), min(a[3], b[3], c[3])
        return max(0.0, hi0 - lo0) * max(0.0, hi1 - lo1)

    want = (
        sum((r[2] - r[0]) * (r[3] - r[1]) for r in rects)
        - box_i(rects[0], rects[1])
        - box_i(rects[0], rects[2])
        - box_i(rects[1], rects[2])
        + box_i3(*rects)
    )
    got = OK.rings_area(OK.union_all_rings([_rect_rings(*r) for r in rects]))
    assert abs(got - want) < 1e-12


def test_overlay_multipart_and_wkb_roundtrip():
    from osgeo_gdal_spark.kernels import overlay_kernel as OK, wkb as W

    # disjoint union -> multipolygon WKB that reparses to the same area
    a = _rect_rings(0, 0, 4, 4)
    b = _rect_rings(10, 10, 14, 14)
    u = OK.overlay_rings(a, b, "union")
    g = W.parse_wkb(OK.rings_to_wkb(u))
    assert len(g.part_rings) == 2
    assert abs(W.polygon_area(g) - 32.0) < 1e-12
    # intersection result with a hole round-trips shells+holes correctly
    holed = OK.geometry_rings(
        W.parse_wkb(
            W.polygon_wkb(
                [
                    [(0, 0), (10, 0), (10, 10), (0, 10)],
                    [(4, 4), (6, 4), (6, 6), (4, 6)],
                ]
            )
        )
    )
    probe = _rect_rings(1, 1, 9, 9)
    res = OK.overlay_rings(holed, probe, "intersection")
    g2 = W.parse_wkb(OK.rings_to_wkb(res))
    assert abs(W.polygon_area(g2) - (64.0 - 4.0)) < 1e-12


def test_overlay_fixture_conservation_all_pairs():
    """Every intersecting (tindex rect, POLYGONS) fixture pair satisfies
    |A| = |A∩B| + |A−B| and |A∪B| = |A| + |B| − |A∩B| in the kernel."""
    from osgeo_gdal_spark.kernels import overlay_kernel as OK, wkb as W

    polys = [OK.geometry_rings(W.parse_wkb(p.wkb())) for p in PL.POLYGONS]
    checked = 0
    for _, x0, y0, x1, y1 in PL.tindex_rects():
        a = _rect_rings(x0, y0, x1, y1)
        a_area = OK.rings_area(a)
        for rb in polys:
            ia = OK.rings_area(OK.overlay_rings(a, rb, "intersection"))
            if ia <= 0:
                continue
            checked += 1
            da = OK.rings_area(OK.overlay_rings(a, rb, "difference"))
            ua = OK.rings_area(OK.overlay_rings(a, rb, "union"))
            b_area = OK.rings_area(rb)
            assert abs(a_area - (ia + da)) < 1e-9
            assert abs(ua - (a_area + b_area - ia)) < 1e-9
    assert checked >= 15  # the fixture yields 17 intersecting pairs


def test_erase_features_matches_pair_sums(spark):
    """erase_features area == |A| − Σ|A∩B| (fixture POLYGONS disjoint);
    untouched rects pass through with their full area."""
    from osgeo_gdal_spark.kernels import overlay_kernel as OK, wkb as W

    rows = OV.erase_features(spark, PL.tindex_df(spark), PL.POLYGONS).collect()
    got = {r["a_id"]: r["piece_area"] for r in rows}
    polys = [OK.geometry_rings(W.parse_wkb(p.wkb())) for p in PL.POLYGONS]
    for i, x0, y0, x1, y1 in PL.tindex_rects():
        a = _rect_rings(x0, y0, x1, y1)
        want = OK.rings_area(a) - sum(
            OK.rings_area(OK.overlay_rings(a, rb, "intersection"))
            for rb in polys
        )
        if want <= 1e-12:
            assert 1000 + i not in got
        else:
            assert abs(got[1000 + i] - want) < 1e-9


def test_identity_features_partitions_each_input(spark):
    """Identity (ogrlayer.cpp:6770): per input rect, the emitted pieces
    (A∩B per method polygon + the NULL-attributed residual) partition
    the rect exactly — areas sum to |A| for every a_id."""
    from osgeo_gdal_spark.kernels import overlay_kernel as OK

    rows = OV.identity_features(
        spark, PL.tindex_df(spark), PL.POLYGONS
    ).collect()
    by_a = {}
    for r in rows:
        by_a.setdefault(r["a_id"], []).append(r)
    for i, x0, y0, x1, y1 in PL.tindex_rects():
        pieces = by_a[1000 + i]
        a_area = OK.rings_area(_rect_rings(x0, y0, x1, y1))
        assert abs(sum(p["piece_area"] for p in pieces) - a_area) < 1e-9
        # at most one residual (eas_id NULL) piece per input feature
        assert sum(1 for p in pieces if p["eas_id"] is None) <= 1


def test_update_features_stamps_method_layer(spark):
    """Update (ogrlayer.cpp:7188): total output area == |∪A ∪ ∪B|
    computed by inclusion-exclusion (method polygons disjoint), method
    features appear whole with NULL input attrs."""
    from osgeo_gdal_spark.kernels import overlay_kernel as OK, wkb as W

    rows = OV.update_features(
        spark, PL.tindex_df(spark), PL.POLYGONS
    ).collect()
    b_rows = [r for r in rows if r["a_id"] is None]
    assert {r["eas_id"] for r in b_rows} == {p.eas_id for p in PL.POLYGONS}
    for r in b_rows:
        pf = next(p for p in PL.POLYGONS if p.eas_id == r["eas_id"])
        assert abs(r["piece_area"] - pf.area()) < 1e-6
    a_rows = [r for r in rows if r["a_id"] is not None]
    assert all(r["eas_id"] is None for r in a_rows)
    polys = [OK.geometry_rings(W.parse_wkb(p.wkb())) for p in PL.POLYGONS]
    want_a = 0.0
    for i, x0, y0, x1, y1 in PL.tindex_rects():
        a = _rect_rings(x0, y0, x1, y1)
        want_a += OK.rings_area(a) - sum(
            OK.rings_area(OK.overlay_rings(a, rb, "intersection"))
            for rb in polys
        )
    assert abs(sum(r["piece_area"] for r in a_rows) - want_a) < 1e-8


def test_overlays_broadcast_the_layer_once(spark, monkeypatch):
    """Each overlay ships its method layer once: the candidate refine in
    spatial_join_polygons and the per-pair or per-feature kernel read
    the same broadcast."""
    from osgeo_gdal_spark.operators import spatial_join as SJ

    calls = []
    real = SJ.broadcast_layer

    def counting(spark_, polys):
        calls.append(len(polys))
        return real(spark_, polys)

    monkeypatch.setattr(SJ, "broadcast_layer", counting)
    feats = PL.tindex_df(spark)
    for build in (lambda: OV.overlay_features(spark, feats, PL.POLYGONS,
                                              "intersection"),
                  lambda: OV.erase_features(spark, feats, PL.POLYGONS),
                  lambda: OV.identity_features(spark, feats, PL.POLYGONS),
                  lambda: OV.update_features(spark, feats, PL.POLYGONS)):
        calls.clear()
        build()
        assert calls == [len(PL.POLYGONS)]


def test_dissolve_parts_and_area(spark):
    """Two-level dissolve matches the analytic inclusion-exclusion union
    area and the constructed part counts."""
    from osgeo_gdal_spark.operators import overlay as OVops

    got = {
        r["gid"]: (r["n_parts"], r["u_area"])
        for r in OVops.dissolve(spark, PL.dissolve_df(spark), "gid").collect()
    }
    want_parts = PL.dissolve_parts_expected()

    def box_i(rs):
        lo0 = max(r[0] for r in rs); lo1 = max(r[1] for r in rs)
        hi0 = min(r[2] for r in rs); hi1 = min(r[3] for r in rs)
        return max(0.0, hi0 - lo0) * max(0.0, hi1 - lo1)

    by_gid = {}
    for g, rid, x0, y0, x1, y1 in PL.dissolve_rects():
        by_gid.setdefault(g, []).append((x0, y0, x1, y1))
    for g, rects in by_gid.items():
        want = (
            sum((r[2] - r[0]) * (r[3] - r[1]) for r in rects)
            - box_i([rects[0], rects[1]])
            - box_i([rects[0], rects[2]])
            - box_i([rects[1], rects[2]])
            + box_i(rects)
        )
        n, area = got[g]
        assert n == want_parts[g]
        assert abs(area - want) < 1e-9


def test_dissolve_single_level_equivalence(spark):
    """fanin=1 (pure per-group fold) and fanin=8 (tree) agree — the
    partial-union stage is semantics-preserving."""
    from osgeo_gdal_spark.operators import overlay as OVops

    a = {
        r["gid"]: (r["n_parts"], round(r["u_area"], 9))
        for r in OVops.dissolve(
            spark, PL.dissolve_df(spark), "gid", fanin=1
        ).collect()
    }
    b = {
        r["gid"]: (r["n_parts"], round(r["u_area"], 9))
        for r in OVops.dissolve(
            spark, PL.dissolve_df(spark), "gid", fanin=8
        ).collect()
    }
    assert a == b


def test_st_set_op_functions(spark):
    """ST_Union / ST_Intersection / ST_Difference registered in Spark SQL
    compute the textbook areas."""
    from osgeo_gdal_spark.functions import st as ST
    from osgeo_gdal_spark.kernels import wkb as W

    ST.register_all(spark)
    a = W.polygon_wkb([[(0, 0), (10, 0), (10, 10), (0, 10)]])
    b = W.polygon_wkb([[(5.5, 5.5), (15.5, 5.5), (15.5, 15.5), (5.5, 15.5)]])
    df = spark.createDataFrame([(bytearray(a), bytearray(b))], "ga binary, gb binary")
    df.createOrReplaceTempView("stpairs")
    row = spark.sql(
        """SELECT ST_Area(ST_Union(ga, gb)) AS u,
                  ST_Area(ST_Intersection(ga, gb)) AS i,
                  ST_Area(ST_Difference(ga, gb)) AS d
           FROM stpairs"""
    ).collect()[0]
    assert abs(row["i"] - 4.5 * 4.5) < 1e-12
    assert abs(row["u"] - (200.0 - row["i"])) < 1e-12
    assert abs(row["d"] - (100.0 - row["i"])) < 1e-12


def test_overlay_property_random_convex_pairs():
    """Property sweep: 60 random convex-polygon pairs (deterministic
    seeds). Identities checked per pair: |A| = |A∩B| + |A−B|,
    |B| = |A∩B| + |B−A|, |A∪B| = |A| + |B| − |A∩B|; and when B is an
    axis rect, |A∩B| equals the independent Sutherland-Hodgman clip."""
    import numpy as np

    from osgeo_gdal_spark.kernels import clip as CLK, overlay_kernel as OK
    from osgeo_gdal_spark.kernels.polypoly import convex_hull

    rng = np.random.default_rng(23)
    for trial in range(60):
        pts = rng.uniform(0, 100, (12, 2))
        hull = convex_hull(pts[:, 0], pts[:, 1])
        if len(hull) < 3:
            continue
        a = [(np.array([p[0] for p in hull]),
              np.array([p[1] for p in hull]))]
        # orient CCW (convex_hull returns CCW in y-up already; assert)
        if OK.rings_area(a) < 0:
            a = [(a[0][0][::-1].copy(), a[0][1][::-1].copy())]
        if trial % 2 == 0:
            x0, y0 = rng.uniform(0, 80, 2)
            w, h = rng.uniform(10, 40, 2)
            rect = (x0, y0, x0 + w, y0 + h)
            b = [(np.array([x0, x0 + w, x0 + w, x0]),
                  np.array([y0, y0, y0 + h, y0 + h]))]
        else:
            pts2 = rng.uniform(20, 120, (10, 2))
            hull2 = convex_hull(pts2[:, 0], pts2[:, 1])
            if len(hull2) < 3:
                continue
            b = [(np.array([p[0] for p in hull2]),
                  np.array([p[1] for p in hull2]))]
            if OK.rings_area(b) < 0:
                b = [(b[0][0][::-1].copy(), b[0][1][::-1].copy())]
            rect = None
        A = OK.rings_area(a)
        B = OK.rings_area(b)
        ia = OK.rings_area(OK.overlay_rings(a, b, "intersection"))
        da = OK.rings_area(OK.overlay_rings(a, b, "difference"))
        db = OK.rings_area(OK.overlay_rings(b, a, "difference"))
        ua = OK.rings_area(OK.overlay_rings(a, b, "union"))
        tol = 1e-7 * max(A, B, 1.0)
        assert abs(A - (ia + da)) < tol, trial
        assert abs(B - (ia + db)) < tol, trial
        assert abs(ua - (A + B - ia)) < tol, trial
        if rect is not None:
            cx, cy = CLK.sh_clip_ring(a[0][0], a[0][1], *rect)
            want = abs(CLK.ring_area(cx, cy)) if len(cx) >= 3 else 0.0
            assert abs(ia - want) < tol, (trial, ia, want)
