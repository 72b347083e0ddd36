"""Snap-rounding overlay (kernels/snap.py + the snapped overlay operators):
the NON-general-position tier — vertex-on-edge, shared collinear edges,
corner contacts, holes, near-coincident boundaries — plus the
area-conservation law A∩B + A\\B = A the round-3 verdict asked for."""

import random

import numpy as np
import pytest
from pyspark.sql import functions as F

from osgeo_gdal_spark.kernels import snap as SN

G = 2.0 ** -20


def ring(*pts):
    return (np.array([p[0] for p in pts], float),
            np.array([p[1] for p in pts], float))


def rect(x0, y0, x1, y1):
    return ring((x0, y0), (x1, y0), (x1, y1), (x0, y1))


def areas(a, b, grid=G):
    return {op: SN.rings_area(SN.overlay_rings_snapped(a, b, op, grid))
            for op in ("intersection", "union", "difference",
                       "symdifference")}


DEGENERATE_CASES = [
    # (name, A, B, i, u, d)
    ("shared-full-edge", [rect(0, 0, 2, 2)], [rect(2, 0, 4, 2)],
     0.0, 8.0, 4.0),
    ("partial-shared-edge", [rect(0, 0, 2, 2)], [rect(2, 1, 4, 3)],
     0.0, 8.0, 4.0),
    ("corner-touch", [rect(-1, -1, 0, 0)], [rect(0, 0, 1, 1)],
     0.0, 2.0, 1.0),
    ("T-contact-outside", [rect(0, 0, 4, 4)],
     [ring((4, 2), (6, 1), (6, 3))], 0.0, 18.0, 16.0),
    ("identical", [rect(0, 0, 3, 3)], [rect(0, 0, 3, 3)],
     9.0, 9.0, 0.0),
    ("inset-shared-edge", [rect(0, 0, 3, 3)], [rect(1, 0, 2, 1)],
     1.0, 9.0, 8.0),
    ("poke-through-vertex-inside",
     [rect(0, 0, 4, 4)], [ring((2, 2), (4, 1), (6, 2), (4, 3))],
     2.0, 18.0, 14.0),
]


@pytest.mark.parametrize(
    "name,a,b,i,u,d", DEGENERATE_CASES, ids=[c[0] for c in DEGENERATE_CASES]
)
def test_degenerate_contact_families(name, a, b, i, u, d):
    got = areas(a, b)
    assert got["intersection"] == i
    assert got["union"] == u
    assert got["difference"] == d
    assert got["symdifference"] == (
        got["union"] - got["intersection"]
    ) or abs(got["symdifference"] -
             (got["union"] - got["intersection"])) < 1e-9


def test_hole_shared_boundaries():
    """A has a hole; B exactly fills it / partially bridges it."""
    a = [rect(0, 0, 4, 4), rect(1, 1, 3, 3)]     # even-odd: 4x4 minus 2x2
    fill = [rect(1, 1, 3, 3)]
    got = areas(a, fill)
    assert got == {"intersection": 0.0, "union": 16.0,
                   "difference": 12.0, "symdifference": 16.0}
    bridge = [rect(2, -1, 3, 2)]   # enters through the shared bottom edge
    got = areas(a, bridge)
    assert got["intersection"] == 1.0      # only the y in [0,1] strip
    assert got["union"] == 12.0 + 3.0 - 1.0
    assert got["difference"] == 11.0


def test_snap_recovers_near_coincident():
    """Boundaries 1e-9 apart snap together at a 2^-10 grid: the sliver
    disappears and the shared edge is exact."""
    a = [rect(0, 0, 2, 2)]
    b = [rect(2 + 1e-9, 0, 4, 2 + 1e-9)]
    got = areas(a, b, grid=2.0 ** -10)
    assert got["intersection"] == 0.0
    assert got["union"] == 8.0
    assert got["difference"] == 4.0


def test_area_conservation_random_rect_soup():
    """A∩B + A\\B = |A| and |A∪B| = |A|+|B|−|A∩B| over random integer
    rectangles — heavy shared-edge/corner collision rate by design."""
    rnd = random.Random(20260817)
    for _ in range(60):
        def poly():
            x0 = rnd.randint(0, 8)
            y0 = rnd.randint(0, 8)
            return [rect(x0, y0, x0 + rnd.randint(1, 5),
                         y0 + rnd.randint(1, 5))]

        a, b = poly(), poly()
        got = areas(a, b)
        aa, ab = SN.rings_area(a), SN.rings_area(b)
        assert abs(got["intersection"] + got["difference"] - aa) < 1e-9
        assert abs(got["union"] -
                   (aa + ab - got["intersection"])) < 1e-9
        assert abs(got["symdifference"] -
                   (got["union"] - got["intersection"])) < 1e-9


def test_area_conservation_triangles_on_lattice():
    """Conservation over random lattice triangles (non-axis-parallel
    edges exercise the exact int64 collinearity tests). Diagonal
    crossings land at RATIONAL points, which snap rounding welds to
    the lattice — so the EXACT laws hold against the ROUNDED input
    areas (overlay_areas_snapped 'a'/'b'), while the rounded inputs
    match the originals to the hot-pixel perturbation bound."""
    rnd = random.Random(7)
    made = 0
    while made < 40:
        def tri():
            pts = [(rnd.randint(0, 10), rnd.randint(0, 10))
                   for _ in range(3)]
            xs = np.array([p[0] for p in pts], float)
            ys = np.array([p[1] for p in pts], float)
            from osgeo_gdal_spark.kernels.clip import ring_area
            a = ring_area(xs, ys)
            if abs(a) < 0.5:
                return None
            if a < 0:          # ring-soup contract: shells CCW
                xs, ys = xs[::-1].copy(), ys[::-1].copy()
            return [(xs, ys)]

        a, b = tri(), tri()
        if a is None or b is None:
            continue
        made += 1
        got = SN.overlay_areas_snapped(a, b, G)
        aa, ab = abs(SN.rings_area(a)), abs(SN.rings_area(b))
        # exact in the rounded arrangement
        assert abs(got["i"] + got["d"] - got["a"]) < 1e-9
        assert abs(got["u"] - (got["a"] + got["b"] - got["i"])) < 1e-9
        # rounded inputs match originals to the hot-pixel bound:
        # <= #vertices * (grid/2) * diameter of perturbed area
        assert abs(got["a"] - aa) < 64 * G
        assert abs(got["b"] - ab) < 64 * G


def test_snap_rings_collapses_slivers():
    """snap_rings drops rings that quantize to zero area and removes
    repeated vertices."""
    sliver = [ring((0, 0), (4, 1e-12), (4, 0))]
    assert SN.snap_rings(sliver, 2.0 ** -10) == []
    dup = [ring((0, 0), (0, 0), (2, 0), (2, 2), (0, 2), (0, 2))]
    out = SN.snap_rings(dup, 2.0 ** -10)
    assert len(out) == 1 and len(out[0][0]) == 4


def test_operator_snapped_contact_pairs(spark):
    """overlay_areas_features_snapped over the contact fixture: per-pair
    intersection areas match the closed-form box algebra for every class,
    including the jittered one, and the shared snapped candidate plan
    (``_pairs(..., grid)``) emits no exact-refine UDF."""
    from osgeo_gdal_spark.operators import overlay as OV
    from osgeo_gdal_spark.sources import polygons as PL

    feats = PL.contact_feats_df(spark)
    polys = PL.contact_polys()
    ov = OV.overlay_areas_features_snapped(
        spark, feats, polys, grid=PL.CONTACT_GRID
    )
    got = {r["a_id"]: r["i_area"] for r in ov.collect() if r["i_area"] > 0}
    want = {}
    for p in PL.contact_pairs():
        ax0, ay0, ax1, ay1 = p["a"]
        bx0, by0, bx1, by1 = p["b"]
        if p["tri"] is not None:
            continue
        iw = max(0, min(ax1, bx1) - max(ax0, bx0))
        ih = max(0, min(ay1, by1) - max(ay0, by0))
        if iw * ih > 0:
            want[p["a_id"]] = float(iw * ih)
    assert got == want
    # plan guard: candidates_closed path -> the only Python stage is the
    # overlay kernel (MapInPandas); the exact-refine pandas UDF
    # (ArrowEvalPython) must NOT appear (AQE prints the plan twice, so
    # count >= 1, not == 1)
    plan = ov._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 0
    assert plan.count("MapInPandas") >= 1

# --- general ST_Buffer (kernels/buffer.py) -------------------------------

def test_buffer_convex_rect_analytic_qs8():
    """Dilation of a rect with quadsegs=8 matches the inscribed-polygon
    closed form exactly up to the snap-grid perturbation."""
    import math

    from osgeo_gdal_spark.kernels import buffer as BF

    A = [rect(0, 0, 6, 4)]
    d, qs = 1.0, 8
    got = SN.rings_area(BF.buffer_rings(A, d, qs))
    want = 24 + 2 * (6 + 4) * d + 4 * qs * (d * d / 2) * math.sin(
        math.pi / (2 * qs))
    assert abs(got - want) < 1e-5
    # and within the chord-sagitta bound of the true disk form
    assert got < 24 + 20 * d + math.pi * d * d


def test_buffer_concave_pixel_oracle():
    """Non-convex L-shape dilation and erosion vs a fine-grid
    point-sampling oracle using TRUE disk distance — an arithmetic path
    fully independent of the band-union construction."""
    import numpy as np

    from osgeo_gdal_spark.kernels import buffer as BF
    from osgeo_gdal_spark.kernels.overlay_kernel import _points_in_rings

    L = [(np.array([0, 6, 6, 3, 3, 0], float),
          np.array([0, 0, 2, 2, 5, 5], float))]
    step = 0.02
    gx, gy = np.meshgrid(np.arange(-1.5, 7.5, step),
                         np.arange(-1.5, 6.5, step))
    px, py = gx.ravel(), gy.ravel()
    inside = _points_in_rings(px, py, L)
    xs, ys = L[0]
    n = len(xs)
    mind = np.full(px.shape, np.inf)
    for i in range(n):
        ax, ay = xs[i], ys[i]
        bx, by = xs[(i + 1) % n], ys[(i + 1) % n]
        dx, dy = bx - ax, by - ay
        t = np.clip(((px - ax) * dx + (py - ay) * dy) / (dx * dx + dy * dy),
                    0, 1)
        mind = np.minimum(mind, np.hypot(px - (ax + t * dx),
                                         py - (ay + t * dy)))
    d = 0.75
    got = SN.rings_area(BF.buffer_rings(L, d, quadsegs=8))
    pix = (inside | (mind <= d)).sum() * step * step
    assert abs(got - pix) / pix < 2e-3      # chord sagitta + pixel noise
    got = SN.rings_area(BF.buffer_rings(L, -0.5, quadsegs=8))
    pix = (inside & (mind >= 0.5)).sum() * step * step
    assert abs(got - pix) / pix < 2e-3


def test_buffer_qs1_chamfer_exact():
    """quadsegs=1 (dyadic chamfer disk): every closed form is BITWISE
    exact — the forms the st_buffer driver oracle pins."""
    import numpy as np

    from osgeo_gdal_spark.kernels import buffer as BF

    A = [rect(0, 0, 6, 4)]
    assert SN.rings_area(BF.buffer_rings(A, 1.0, 1)) == 24 + 20 + 2.0
    assert SN.rings_area(BF.buffer_rings(A, -1.0, 1)) == 8.0
    assert SN.rings_area(BF.buffer_rings(A, -2.5, 1)) == 0.0
    L = [(np.array([0, 6, 6, 3, 3, 0], float),
          np.array([0, 0, 2, 2, 5, 5], float))]
    d = 0.75
    assert SN.rings_area(BF.buffer_rings(L, d, 1)) == \
        21 + 22 * d + 1.5 * d * d
    assert SN.rings_area(BF.buffer_rings(L, -d, 1)) == \
        (6 - 2 * d) * (2 - 2 * d) + 3 * (3 - 2 * d) + d * d / 2


def test_buffer_hole_and_roundtrip():
    """Dilation shrinks holes / erosion grows them (morphology
    identities through the band construction), and erode(dilate(A))
    contains A."""
    import math

    import numpy as np

    from osgeo_gdal_spark.kernels import buffer as BF
    from osgeo_gdal_spark.kernels.overlay_kernel import _points_in_rings

    H = [rect(0, 0, 8, 8),
         (np.array([3, 3, 5, 5], float), np.array([3, 5, 5, 3], float))]
    d, qs = 0.5, 8
    got = SN.rings_area(BF.buffer_rings(H, d, qs))
    disk = 4 * qs * (d * d / 2) * math.sin(math.pi / (2 * qs))
    want = 64 + 2 * 16 * d + disk - 1          # hole shrinks to 1x1
    assert abs(got - want) < 1e-5
    got = SN.rings_area(BF.buffer_rings(H, -d, qs))
    hole_dil = 4 + 2 * 4 * d + disk            # hole grows
    assert abs(got - (49 - hole_dil)) < 1e-5
    # round trip: erode(dilate(A, d), d) >= A on sample points
    rt = BF.buffer_rings(BF.buffer_rings([rect(0, 0, 4, 3)], 1.0, qs),
                         -1.0, qs)
    px = np.array([0.1, 2.0, 3.9, 0.1, 3.9])
    py = np.array([0.1, 1.5, 2.9, 2.9, 0.1])
    assert _points_in_rings(px, py, rt).all()


def test_dissolve_snapped_shared_borders(spark):
    """dissolve(snap_grid=...) on edge-sharing tilings (the admin-layer
    case): every group unions to its closed-form block area and part
    count, across the two-level salt tree."""
    from osgeo_gdal_spark.operators import overlay as OV
    from osgeo_gdal_spark.sources import polygons as PL

    _, expect = PL.tiling_dissolve_rects()
    got = {r["gid"]: (r["n_parts"], r["u_area"]) for r in
           OV.dissolve(spark, PL.tiling_dissolve_df(spark), "gid",
                       snap_grid=2.0 ** -16, fanin=3).collect()}
    assert got == expect


def test_buffer_line_and_point():
    """LineString and Point buffer arms: qs=1 exact closed forms (the
    st_buffer oracle's line/point classes) and qs=8 analytic tolerance
    vs the true stadium."""
    import math

    from osgeo_gdal_spark.kernels import buffer as BF

    d = 0.5
    # straight segment: capsule = 2d*len + diamond
    assert SN.rings_area(BF.buffer_path([0, 4], [0, 0], d, 1)) == \
        2 * d * 4 + 2 * d * d
    # right-angle polyline: joint contributes 1.5 d^2 total
    assert SN.rings_area(BF.buffer_path([0, 4, 4], [0, 0, 3], d, 1)) == \
        2 * d * 7 + 1.5 * d * d
    # qs=8 stadium ~ true: 2dL + pi d^2, short by exactly the inscribed
    # 32-gon sagitta pi*d^2 - 16*sin(pi/16)*d^2 (~0.0201 d^2)
    got = SN.rings_area(BF.buffer_path([0, 4], [0, 0], d, 8))
    want = 2 * d * 4 + math.pi * d * d
    sag = (math.pi - 16 * math.sin(math.pi / 16)) * d * d
    assert 0 < want - got < sag + 1e-3
    # point diamond
    dx, dy = BF.disk_polygon(1.0, 2.0, d, 1)
    assert SN.rings_area([(dx, dy)]) == 2 * d * d


def test_st_buffer_udf_line_point(spark):
    from osgeo_gdal_spark.functions import st as ST
    from osgeo_gdal_spark.kernels import wkb as W

    ln = W.linestring_wkb([(0.0, 0.0), (6.0, 0.0)])
    pt = W.point_wkb(3.0, 4.0)
    df = spark.createDataFrame(
        [(1, bytearray(ln)), (2, bytearray(pt))], "id LONG, g BINARY")
    rows = {r["id"]: W.parse_wkb(bytes(r["b"]))
            for r in df.select("id",
                               ST.st_buffer("g").alias("b")).collect()}
    import math

    area_ln = W.polygon_area(rows[1])
    assert abs(area_ln - (2 * 6 + math.pi)) < 3e-2   # qs=8 stadium
    area_pt = W.polygon_area(rows[2])
    assert abs(area_pt - math.pi) < 3e-2             # 32-gon disk


# --- round-5 property suite: random lattice polygon PAIRS ---------------
# The conservation laws, exact in the snap-rounded arrangement (the
# buffer bug showed the probing method needs adversarial coverage):
#   i + d  = a            (A's rounded area partitions into in-B/out-B)
#   u      = a + b - i    (inclusion-exclusion)
#   sym    = u - i        (symdifference identity)
# plus crash-freedom across T-contacts, shared edges and crossings.

from hypothesis import given as _given, settings as _settings, \
    strategies as _st


@_st.composite
def _lattice_poly(draw):
    """Random SIMPLE lattice polygon: distinct integer points sorted by
    angle around their centroid (star-shaped => simple by construction),
    rejected when the area is tiny."""
    pts = draw(_st.lists(
        _st.tuples(_st.integers(0, 12), _st.integers(0, 12)),
        min_size=3, max_size=8, unique=True))
    cx = sum(p[0] for p in pts) / len(pts)
    cy = sum(p[1] for p in pts) / len(pts)
    import math as _m
    pts = sorted(pts, key=lambda p: _m.atan2(p[1] - cy, p[0] - cx))
    xs = np.array([p[0] for p in pts], float)
    ys = np.array([p[1] for p in pts], float)
    from osgeo_gdal_spark.kernels.clip import ring_area as _ra
    a = _ra(xs, ys)
    if abs(a) < 1.0:
        return None
    if a < 0:
        xs, ys = xs[::-1].copy(), ys[::-1].copy()
    return [(xs, ys)]


@_settings(max_examples=1000, deadline=None, derandomize=True)
@_given(_lattice_poly(), _lattice_poly())
def test_hypothesis_snapped_overlay_conservation(A, B):
    from hypothesis import assume

    assume(A is not None and B is not None)
    got = SN.overlay_areas_snapped(A, B, G)
    assert abs(got["i"] + got["d"] - got["a"]) < 1e-9
    assert abs(got["db"] + got["i"] - got["b"]) < 1e-9
    assert abs(got["u"] - (got["a"] + got["b"] - got["i"])) < 1e-9
    # rounded inputs stay within the hot-pixel perturbation bound
    assert abs(got["a"] - abs(SN.rings_area(A))) < 64 * G
    assert abs(got["b"] - abs(SN.rings_area(B))) < 64 * G
    # the symdifference identity through the ring-emitting API
    sym = SN.rings_area(SN.overlay_rings_snapped(A, B, "symdifference", G))
    assert abs(sym - (got["u"] - got["i"])) < 1e-9


def test_lower_dimension_overlay_lines():
    """KEEP_LOWER_DIMENSION semantics (ogrlayer.cpp:5402-5411): the
    intersection of two edge-sharing rects is their shared segment;
    areal overlap, corner touches and inset-with-shared-edge emit NO
    line component (GEOS suppresses boundary rows of areal results;
    corner contact is the POINT component)."""
    full = SN.overlay_lines_snapped([rect(0, 0, 2, 2)],
                                    [rect(2, 0, 4, 2)], G)
    assert len(full) == 1
    xs, ys = full[0]
    assert sorted(zip(xs.tolist(), ys.tolist())) == [(2.0, 0.0), (2.0, 2.0)]
    partial = SN.overlay_lines_snapped([rect(0, 0, 2, 2)],
                                       [rect(2, 1, 4, 3)], G)
    assert len(partial) == 1
    xs, ys = partial[0]
    assert sorted(zip(xs.tolist(), ys.tolist())) == [(2.0, 1.0), (2.0, 2.0)]
    assert SN.overlay_lines_snapped([rect(0, 0, 2, 2)],
                                    [rect(1, 0, 3, 2)], G) == []
    assert SN.overlay_lines_snapped([rect(0, 0, 1, 1)],
                                    [rect(1, 1, 2, 2)], G) == []
    assert SN.overlay_lines_snapped([rect(0, 0, 3, 3)],
                                    [rect(1, 0, 2, 1)], G) == []
    # L-shaped shared border (two collinear-broken segments stitch
    # through the degree-2 corner into ONE polyline)
    a = [ring((0, 0), (2, 0), (2, 2), (0, 2))]
    b = [ring((2, 0), (4, 0), (4, 4), (0, 4), (0, 2), (2, 2))]
    lines = SN.overlay_lines_snapped(a, b, G)
    assert len(lines) == 1
    total = float(np.hypot(np.diff(lines[0][0]),
                           np.diff(lines[0][1])).sum())
    assert total == 4.0


def test_lower_dimension_overlay_points():
    """The POINT component: corner touches and T-contact apexes emit
    points; shared edges (line component) and areal overlaps do not."""
    assert SN.overlay_points_snapped([rect(0, 0, 1, 1)],
                                     [rect(1, 1, 2, 2)], G) == [(1.0, 1.0)]
    tri = (np.array([4.0, 6, 6]), np.array([2.0, 1, 3]))
    assert SN.overlay_points_snapped([rect(0, 0, 4, 4)], [tri], G) \
        == [(4.0, 2.0)]
    assert SN.overlay_points_snapped([rect(0, 0, 2, 2)],
                                     [rect(2, 0, 4, 2)], G) == []
    assert SN.overlay_points_snapped([rect(0, 0, 2, 2)],
                                     [rect(1, 1, 3, 3)], G) == []
    assert SN.overlay_points_snapped([rect(0, 0, 2, 2)],
                                     [rect(0, 0, 2, 2)], G) == []
