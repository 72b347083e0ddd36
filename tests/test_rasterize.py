"""Rasterize kernels (llrasterize.cpp ports) + distributed burn operator."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osgeo_gdal_spark.kernels import rasterize as RK
from osgeo_gdal_spark.operators import rasterize as RZ
from osgeo_gdal_spark.sources import polygons as PL, raster as RS


def _center_pip_even_odd(part_sizes, xs, ys, w, h):
    """Reference: pixel burned iff its center is inside by even-odd ray
    cast — the documented semantics of the scanline fill
    (llrasterize.cpp:41-45)."""
    cx = np.arange(w) + 0.5
    cy = np.arange(h) + 0.5
    CX, CY = np.meshgrid(cx, cy)
    inside = np.zeros((h, w), dtype=bool)
    off = 0
    for n in part_sizes:
        rx, ry = np.asarray(xs[off:off + n]), np.asarray(ys[off:off + n])
        off += n
        x1, y1 = np.roll(rx, 1), np.roll(ry, 1)
        for ex1, ey1, ex2, ey2 in zip(x1, y1, rx, ry):
            if ey1 == ey2:
                continue
            m = (CY >= min(ey1, ey2)) & (CY < max(ey1, ey2))
            xint = ex1 + (CY - ey1) * (ex2 - ex1) / (ey2 - ey1)
            # crossings rounded to int like the kernel (floor(x + 0.5));
            # pixel center x + 0.5 compares against the rounded crossing
            inside ^= m & (CX >= np.floor(xint + 0.5))
    return inside


def test_polygon_fill_rect():
    # rect x in [2.3, 6.3], y in [1.2, 4.8] on a 10x8 grid
    ps = [5]
    xs = [2.3, 6.3, 6.3, 2.3, 2.3]
    ys = [1.2, 1.2, 4.8, 4.8, 1.2]
    m = RK.polygon_mask(ps, xs, ys, 10, 8)
    want = np.zeros((8, 10), dtype=bool)
    # x spans: crossings floor(2.3+.5)=2, floor(6.3+.5)=6 -> cols 2..5
    # y rows: centers 1.5..4.5 -> rows 1..4
    want[1:5, 2:6] = True
    np.testing.assert_array_equal(m, want)


def test_polygon_fill_triangle_matches_center_rule():
    ps = [4]
    xs = [1.1, 14.7, 7.4, 1.1]
    ys = [2.2, 3.9, 13.6, 2.2]
    m = RK.polygon_mask(ps, xs, ys, 16, 16)
    want = _center_pip_even_odd(ps, xs, ys, 16, 16)
    np.testing.assert_array_equal(m, want)
    assert m.sum() > 20


def test_polygon_fill_hole():
    ps = [5, 5]
    xs = [1.0, 11.0, 11.0, 1.0, 1.0, 4.0, 8.0, 8.0, 4.0, 4.0]
    ys = [1.0, 1.0, 11.0, 11.0, 1.0, 4.0, 4.0, 8.0, 8.0, 4.0]
    m = RK.polygon_mask(ps, xs, ys, 12, 12)
    assert m[2, 2] and m[2, 6]          # shell
    assert not m[5, 5] and not m[6, 6]  # hole unfilled (even-odd)
    assert m[9, 9]
    assert m.sum() == 10 * 10 - 4 * 4


def test_bresenham_diagonal_and_endpoint_rule():
    # two segments: endpoint of the first is NOT burned twice; the last
    # segment includes its endpoint
    ps = [3]
    xs = [0.5, 3.5, 3.5]
    ys = [0.5, 3.5, 0.5]
    m = RK.line_pixels(ps, xs, ys, 6, 6)
    want = np.zeros((6, 6), dtype=bool)
    for i in range(4):
        want[i, i] = True          # diagonal
    for i in range(4):
        want[i, 3] = True          # vertical back up
    np.testing.assert_array_equal(m, want)


def test_all_touched_line_covers_every_crossed_pixel():
    # sloped segment from (0.2, 0.2) to (4.8, 2.6): every pixel whose box
    # the segment passes through must be set
    ps = [2]
    xs = [0.2, 4.8]
    ys = [0.2, 2.6]
    m = RK.line_pixels_all_touched(ps, xs, ys, 6, 4)
    # brute force: sample the segment densely
    t = np.linspace(0, 1, 20001)
    px = (0.2 + t * 4.6).astype(np.float64)
    py = (0.2 + t * 2.4).astype(np.float64)
    want = np.zeros((4, 6), dtype=bool)
    want[np.floor(py).astype(int), np.floor(px).astype(int)] = True
    np.testing.assert_array_equal(m, want)


def test_all_touched_polygon_superset_of_fill():
    ps = [4]
    xs = [1.1, 14.7, 7.4, 1.1]
    ys = [2.2, 3.9, 13.6, 2.2]
    fill = RK.shape_mask("polygon", ps, xs, ys, 16, 16, all_touched=False)
    at = RK.shape_mask("polygon", ps, xs, ys, 16, 16, all_touched=True)
    assert (at & fill).sum() == fill.sum()  # superset
    assert at.sum() > fill.sum()


ZOOM = 2


def _reference_world_burn(shapes, zoom, merge="replace", all_touched=False):
    """Single-chunk reference: burn the whole world grid driver-side with
    the same kernels (chunk offsets 0,0) — what GDAL does in one process."""
    world = (1 << zoom) * 256
    arr = np.zeros((world, world), dtype=np.float64)
    for fid, kind, ps, xs, ys, burn in sorted(shapes, key=lambda s: s[0]):
        px, py = RZ.lonlat_to_px(xs, ys, zoom)
        m = RK.shape_mask(kind, ps, px, py, world, world, all_touched=all_touched)
        if merge == "replace":
            arr[m] = burn
        else:
            arr[m] += burn
    return arr


@pytest.fixture(scope="module")
def shapes():
    return RZ.shapes_from_features(PL.POLYGONS, lambda p: p.eas_id)


@pytest.mark.parametrize("merge,all_touched", [
    ("replace", False), ("add", False), ("replace", True),
])
def test_rasterize_distributed_equals_single_chunk(spark, shapes, merge,
                                                   all_touched):
    out = RZ.rasterize(spark, shapes, ZOOM, merge=merge,
                       all_touched=all_touched).collect()
    want = _reference_world_burn(shapes, ZOOM, merge, all_touched)
    assert len(out) == len(RZ.cover_tiles(shapes, ZOOM))
    burned_total = 0
    for row in out:
        grid = RS.parse_tile(row)
        ox, oy = row["gx"] * 256, row["gy"] * 256
        np.testing.assert_array_equal(
            grid, want[oy:oy + 256, ox:ox + 256],
            err_msg=f"tile {row['gx']},{row['gy']}",
        )
        burned_total += int((grid != 0).sum())
    assert burned_total == int((want != 0).sum())  # cover missed nothing
    assert burned_total > 1000


def test_rasterize_partition_invariance(spark, shapes):
    a = {(r["gx"], r["gy"]): r["checksum"]
         for r in RZ.rasterize(spark, shapes, ZOOM).collect()}
    b_df = RZ.rasterize(spark, shapes, ZOOM)
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        b = {(r["gx"], r["gy"]): r["checksum"] for r in b_df.collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    assert a == b


def test_rasterize_line_shapes(spark):
    # a long diagonal line across the world burns the same pixels
    # distributed as in one chunk
    line = [(0, "line", [2],
             np.array([-150.0, 150.0]), np.array([-60.0, 60.0]), 9.0)]
    out = RZ.rasterize(spark, line, ZOOM).collect()
    want = _reference_world_burn(line, ZOOM)
    for row in out:
        ox, oy = row["gx"] * 256, row["gy"] * 256
        np.testing.assert_array_equal(
            RS.parse_tile(row), want[oy:oy + 256, ox:ox + 256])
    got_n = sum(int((RS.parse_tile(r) != 0).sum()) for r in out)
    assert got_n == int((want != 0).sum()) > 200


def test_polygon_fill_random_convex_property():
    """Property: scanline fill == center-rule even-odd PIP for random
    convex polygons (hulls of random point sets — simple by construction,
    arbitrary slopes/orientations)."""
    from osgeo_gdal_spark.kernels.polypoly import convex_hull

    rng = np.random.default_rng(17)
    for trial in range(25):
        npts = int(rng.integers(3, 9))
        xs = rng.uniform(1, 39, npts)
        ys = rng.uniform(1, 29, npts)
        hull = convex_hull(xs, ys)
        if len(hull) < 3:
            continue
        hx = [p[0] for p in hull]
        hy = [p[1] for p in hull]
        got = RK.polygon_mask([len(hull)], hx, hy, 40, 30)
        want = _center_pip_even_odd([len(hull)], hx, hy, 40, 30)
        np.testing.assert_array_equal(got, want, err_msg=f"trial {trial}")


def test_polygon_fill_horizontal_edge_at_pixel_center():
    """The bottom-horizontal special case (llrasterize.cpp:150-185): a
    rect whose horizontal edges sit EXACTLY at pixel-center height must
    still fill its interior rows once and only once."""
    ps = [5]
    xs = [2.0, 8.0, 8.0, 2.0, 2.0]
    ys = [1.5, 1.5, 5.5, 5.5, 1.5]   # edges at y = k + 0.5 exactly
    m = RK.polygon_mask(ps, xs, ys, 12, 8)
    # scanlines with center in [1.5, 5.5): rows 1..4 crossings; plus the
    # bottom horizontal fill at the exact-center row. Mass must stay
    # rectangular: cols 2..7 over contiguous rows, no double/missing rows
    cols = np.nonzero(m.any(axis=0))[0]
    rows = np.nonzero(m.any(axis=1))[0]
    assert cols.tolist() == [2, 3, 4, 5, 6, 7]
    assert rows.tolist() == list(range(rows[0], rows[-1] + 1))
    per_row = m[rows].sum(axis=1)
    assert (per_row == 6).all()


def test_rasterize_skips_tiles_outside_the_raster(spark):
    """A point at lat -89 lies south of the z1 mercator raster: its
    clamped envelope is an empty tile box, so no tile is burned, matching
    the driver-side ``cover_tiles``."""
    pt = [(0, "point", [1], np.array([10.0]), np.array([-89.0]), 1.0)]
    got = sorted((r["gx"], r["gy"])
                 for r in RZ.rasterize(spark, pt, 1).collect())
    assert got == RZ.cover_tiles(pt, 1) == []
