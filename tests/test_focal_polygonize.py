"""Focal stencil (halo join) and polygonize operator tests."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from osgeo_gdal_spark.operators import focal as FO, polygonize as PZ
from osgeo_gdal_spark.sources import raster as RS


@pytest.fixture(scope="module")
def tiles(spark):
    return RS.synth_tiles(spark, 1).cache()


def reference_slope(zoom=1, nodata=-9999.0):
    """Driver-side reference: full-raster Horn slope from the generator."""
    world = (1 << zoom) * 256
    gpx = np.arange(world)[None, :] * np.ones((world, 1), dtype=np.int64)
    gpy = np.arange(world)[:, None] * np.ones((1, world), dtype=np.int64)
    z = ((gpx * 7 + gpy * 11 + zoom) % 255).astype(np.float64)
    a = z[0:-2, 0:-2]; b = z[0:-2, 1:-1]; c = z[0:-2, 2:]
    d = z[1:-1, 0:-2]; f_ = z[1:-1, 2:]
    g_ = z[2:, 0:-2]; h = z[2:, 1:-1]; i_ = z[2:, 2:]
    dzdx = ((c + 2 * f_ + i_) - (a + 2 * d + g_)) / 8.0
    dzdy = ((g_ + 2 * h + i_) - (a + 2 * b + c)) / 8.0
    slope = np.degrees(np.arctan(np.sqrt(dzdx**2 + dzdy**2)))
    out = np.full((world, world), nodata)
    out[1:-1, 1:-1] = slope
    return out


def test_focal_slope_matches_reference_incl_tile_borders(spark, tiles):
    got_rows = FO.focal_dem(tiles, 1, "slope").collect()
    want = reference_slope()
    for row in got_rows:
        grid = RS.parse_tile(row)
        ox, oy = row["gx"] * 256, row["gy"] * 256
        np.testing.assert_allclose(
            grid, want[oy : oy + 256, ox : ox + 256], atol=1e-9,
            err_msg=f"tile {row['gx']},{row['gy']}",
        )


def test_focal_slope_partition_invariance(spark, tiles):
    a = {(r["gx"], r["gy"]): r["checksum"]
         for r in FO.focal_dem(tiles.repartition(1), 1, "slope").collect()}
    b = {(r["gx"], r["gy"]): r["checksum"]
         for r in FO.focal_dem(tiles.repartition(7), 1, "slope").collect()}
    assert a == b


def test_polygonize_block_regions(spark):
    cat = RS.synth_category_tiles(spark, 1, block=96)
    out = PZ.polygonize(cat, 1).collect()
    # 512/96 -> 6 blocks per axis (last clipped) = 36 regions
    assert len(out) == 36
    full = [r for r in out if r["n_pixels"] == 96 * 96]
    assert len(full) == 25  # 5x5 interior blocks are full 96x96
    total = sum(r["n_pixels"] for r in out)
    assert total == 512 * 512
    # region value matches its block coordinates
    for r in out:
        bx, by = r["xmin"] // 96, r["ymin"] // 96
        assert r["value"] == float((bx + by) % 3)
        assert r["region_id"] == r["ymin"] * 512 + r["xmin"]


def test_polygonize_partition_invariance(spark):
    cat = RS.synth_category_tiles(spark, 1, block=96)
    a = {(r["region_id"], r["n_pixels"]) for r in PZ.polygonize(cat.repartition(1), 1).collect()}
    b = {(r["region_id"], r["n_pixels"]) for r in PZ.polygonize(cat.repartition(5), 1).collect()}
    assert a == b


def _reference_stencil(mode, zoom=1, nodata=-9999.0):
    from osgeo_gdal_spark.operators.focal import _dem_compute
    world = (1 << zoom) * 256
    gpx = np.arange(world)[None, :] * np.ones((world, 1), dtype=np.int64)
    gpy = np.arange(world)[:, None] * np.ones((1, world), dtype=np.int64)
    z = ((gpx * 7 + gpy * 11 + zoom) % 255).astype(np.float64)
    pad = np.full((world + 2, world + 2), np.nan)
    pad[1:-1, 1:-1] = z
    return _dem_compute(mode, pad, 1.0, 1.0, nodata)


@pytest.mark.parametrize(
    "mode", ["aspect", "tpi", "tri_wilson", "tri_riley", "roughness", "hillshade"]
)
def test_focal_dem_modes_match_reference(spark, tiles, mode):
    got = {(r["gx"], r["gy"]): RS.parse_tile(r)
           for r in FO.focal_dem(tiles, 1, mode).collect()}
    want = _reference_stencil(mode)
    for (gx, gy), grid in got.items():
        ox, oy = gx * 256, gy * 256
        np.testing.assert_allclose(
            grid, want[oy : oy + 256, ox : ox + 256], atol=1e-9
        )


def test_sieve_absorbs_small_regions(spark):
    """Brute-force reference: label the full 512^2 grid driver-side, apply
    the same merge rule (small -> largest neighbor, tie -> smallest id),
    compare region tables."""
    from osgeo_gdal_spark.operators.polygonize import _label_tile

    block, thr, world = 96, 2000, 512
    cat = RS.synth_category_tiles(spark, 1, block=block)
    got = {r["region_id"]: (r["value"], r["n_pixels"])
           for r in PZ.sieve(cat, 1, thr).collect()}

    gpx = np.arange(world)[None, :] * np.ones((world, 1), dtype=np.int64)
    gpy = np.arange(world)[:, None] * np.ones((1, world), dtype=np.int64)
    grid = ((gpx // block + gpy // block) % 3).astype(np.float64)
    lab = _label_tile(grid)
    flat = (gpy * world + gpx).ravel()
    k = lab.max() + 1
    rid_of = np.full(k, np.iinfo(np.int64).max)
    np.minimum.at(rid_of, lab.ravel(), flat)
    sizes = np.bincount(lab.ravel())
    # adjacency
    adj = {i: set() for i in range(k)}
    for a, b in ((lab[:, :-1], lab[:, 1:]), (lab[:-1, :], lab[1:, :])):
        d = a != b
        for x, y in zip(a[d].ravel().tolist(), b[d].ravel().tolist()):
            adj[x].add(y); adj[y].add(x)
    into = {}
    for i in range(k):
        if sizes[i] < thr and adj[i]:
            best = sorted(adj[i], key=lambda j: (-sizes[j], rid_of[j]))[0]
            into[i] = best
    want = {}
    for i in range(k):
        tgt = into.get(i, i)
        rid = int(rid_of[tgt])
        v, n = want.get(rid, (float(grid[lab == tgt][0]), 0))
        want[rid] = (v, n + int(sizes[i]))
    assert got == want
    # sanity: something was actually absorbed and mass conserved
    assert len(got) < k and sum(n for _, n in got.values()) == world * world


def test_marching_squares_hand_case():
    from osgeo_gdal_spark.kernels.contour import marching_squares
    g = np.array([[0.0, 0.0], [0.0, 10.0]])
    segs = marching_squares(g, 5.0)
    # one segment crossing right edge (at y=0.5) and bottom edge (x=0.5)
    assert len(segs) == 1
    (x0, y0, x1, y1) = segs[0]
    assert {(x0, y0), (x1, y1)} == {(1.0, 0.5), (0.5, 1.0)}


def test_contour_segments_match_full_grid(spark, tiles):
    from osgeo_gdal_spark.kernels.contour import marching_squares
    from osgeo_gdal_spark.operators import contour as CT

    levels = [100.0, 200.5]
    got = {
        (r["level"], round(r["x0"], 9), round(r["y0"], 9),
         round(r["x1"], 9), round(r["y1"], 9))
        for r in CT.contour_segments(tiles, 1, levels).collect()
    }
    world = 512
    gpx = np.arange(world)[None, :] * np.ones((world, 1), dtype=np.int64)
    gpy = np.arange(world)[:, None] * np.ones((1, world), dtype=np.int64)
    grid = ((gpx * 7 + gpy * 11 + 1) % 255).astype(np.float64)
    want = set()
    for lev in levels:
        for x0, y0, x1, y1 in marching_squares(grid, lev):
            want.add((lev, round(x0, 9), round(y0, 9), round(x1, 9), round(y1, 9)))
    assert got == want and len(want) > 1000


def test_label_tile_l_shape_union():
    """ADVICE repro: an L-shaped region whose two arms get separate
    provisional labels that later union — labels must stay dense and the
    region stats must not crash on merged-away ids."""
    from osgeo_gdal_spark.operators.polygonize import _label_tile

    g = np.array([[1.0, 0.0, 0.0, 2.0],
                  [1.0, 1.0, 1.0, 1.0]])
    lab = _label_tile(g)
    # regions: the L/U of 1s (6 px), the 0s (2 px), the single 2
    assert lab[0, 0] == lab[1, 0] == lab[1, 3] == lab[1, 1]
    assert lab[0, 3] != lab[0, 0] and lab[0, 1] != lab[0, 0]
    k = lab.max() + 1
    assert k == 3  # dense ids, no gaps
    assert sorted(np.bincount(lab.ravel()).tolist()) == [1, 2, 5]


def test_label_tile_matches_bruteforce_random():
    """Property: RLE+union-find labeling == per-pixel BFS on random grids."""
    from osgeo_gdal_spark.operators.polygonize import _label_tile

    rng = np.random.default_rng(7)
    for _ in range(5):
        g = rng.integers(0, 3, size=(40, 40)).astype(np.float64)
        lab = _label_tile(g)
        # BFS reference
        ref = -np.ones(g.shape, dtype=np.int64)
        nxt = 0
        for y in range(40):
            for x in range(40):
                if ref[y, x] >= 0:
                    continue
                stack = [(y, x)]
                ref[y, x] = nxt
                while stack:
                    cy, cx = stack.pop()
                    for dy, dx in ((1, 0), (-1, 0), (0, 1), (0, -1)):
                        ny, nx_ = cy + dy, cx + dx
                        if (0 <= ny < 40 and 0 <= nx_ < 40
                                and ref[ny, nx_] < 0 and g[ny, nx_] == g[cy, cx]):
                            ref[ny, nx_] = nxt
                            stack.append((ny, nx_))
                nxt += 1
        # same partition (labels may be numbered differently)
        import itertools
        pairs = set(zip(lab.ravel().tolist(), ref.ravel().tolist()))
        assert len(pairs) == lab.max() + 1 == nxt


def test_polygonize_concave_region_spanning_tiles(spark):
    """A U-shaped region straddling the tile border (requires in-tile
    union AND cross-tile merge) — the exact shape that crashed the old
    range(k) loops."""
    world = 512
    grid = np.zeros((world, world), dtype=np.uint8)
    # U shape: left arm, right arm, bottom bar; crosses x=256 tile border
    grid[100:300, 200:220] = 7
    grid[100:300, 300:320] = 7
    grid[280:300, 200:320] = 7
    tiles = RS.tiles_from_grid(spark, grid, 1)
    out = {r["value"]: (r["n_pixels"], r["xmin"], r["ymin"], r["xmax"], r["ymax"])
           for r in PZ.polygonize(tiles, 1).collect()}
    n7 = int((grid == 7).sum())
    assert out[7.0] == (n7, 200, 100, 319, 299)
    assert out[0.0][0] == world * world - n7
    assert len(out) == 2


def test_sieve_chain_resolves_in_one_call(spark):
    """Chain absorb: small squares -> small frame -> big background must
    collapse into the background in ONE sieve call (the old single-hop
    pass left the frame's group alive)."""
    world = 512
    grid = np.zeros((world, world), dtype=np.uint8)
    grid[90:130, 90:130] = 3     # frame, 1400 px after carve-outs
    grid[100:110, 100:110] = 1   # 100 px
    grid[100:110, 110:120] = 2   # 100 px
    # threshold 2000: regions 1, 2 (100 px) and 3 (1400 px) are all small.
    # largest neighbor of 1 and 2 is the frame (3); the frame's largest
    # neighbor is the background -> chain 1->3->0, 2->3->0.
    tiles = RS.tiles_from_grid(spark, grid, 1)
    got = {r["value"]: r["n_pixels"] for r in PZ.sieve(tiles, 1, 2000).collect()}
    assert got == {0.0: world * world}


def test_sieve_nested_smalls_absorb_into_host(spark):
    """Two tiny regions carved inside a large host region: both absorb
    into the host, whose pixel count returns to its full rectangle."""
    world = 512
    grid = np.zeros((world, world), dtype=np.uint8)
    grid[0:200, 0:256] = 5    # host: 200*256 px minus the carve-outs
    grid[0:200, 256:512] = 6
    grid[50:60, 50:70] = 8    # 200 px, only neighbors: 5 and 9
    grid[60:70, 50:70] = 9    # 200 px, only neighbors: 5 and 8
    tiles = RS.tiles_from_grid(spark, grid, 1)
    got = {r["value"]: r["n_pixels"] for r in PZ.sieve(tiles, 1, 300).collect()}
    assert 8.0 not in got and 9.0 not in got
    assert got[5.0] == 200 * 256


def _burn_polys(polys_rows, world):
    """Even-odd burn of polygonize_polygons output with the rasterize
    kernel — the rasterize<->polygonize round-trip (SURVEY §7 step 7)."""
    from osgeo_gdal_spark.kernels import rasterize as RK, wkb as W

    out = np.full((world, world), np.nan)
    for r in polys_rows:
        g = W.parse_wkb(bytes(r["wkb"]))
        part_sizes, ring_i = [], 0
        for nr in g.part_rings:
            for _ in range(int(nr)):
                s, e = g.ring_offsets[ring_i], g.ring_offsets[ring_i + 1]
                part_sizes.append(e - s)
                ring_i += 1
        m = RK.polygon_mask(part_sizes, g.xs, g.ys, world, world)
        assert not (m & ~np.isnan(out)).any(), "regions overlap"
        out[m] = r["value"]
    return out


def test_polygonize_rings_roundtrip_blocks(spark):
    cat = RS.synth_category_tiles(spark, 1, block=96)
    rows = PZ.polygonize_polygons(cat, 1).collect()
    assert len(rows) == 36
    world = 512
    got = _burn_polys(rows, world)
    gpx = np.arange(world)[None, :] * np.ones((world, 1), dtype=np.int64)
    gpy = np.arange(world)[:, None] * np.ones((1, world), dtype=np.int64)
    want = ((gpx // 96 + gpy // 96) % 3).astype(np.float64)
    assert not np.isnan(got).any()
    np.testing.assert_array_equal(got, want)


def test_polygonize_rings_hole_and_concave(spark):
    """A U-shaped region spanning the tile seam + an island inside another
    region: ring assembly must emit holes and concave exteriors whose
    burn reproduces the source exactly."""
    world = 512
    grid = np.zeros((world, world), dtype=np.uint8)
    grid[100:300, 200:220] = 7
    grid[100:300, 300:320] = 7
    grid[280:300, 200:320] = 7
    grid[400:440, 100:140] = 3          # island inside background
    tiles = RS.tiles_from_grid(spark, grid, 1)
    rows = PZ.polygonize_polygons(tiles, 1).collect()
    vals = sorted(r["value"] for r in rows)
    assert vals == [0.0, 3.0, 7.0]
    bg = [r for r in rows if r["value"] == 0.0][0]
    assert bg["n_rings"] >= 3  # exterior + U-hole + island-hole
    got = _burn_polys(rows, world)
    np.testing.assert_array_equal(got, grid.astype(np.float64))


def test_footprint_mask_polygon(spark):
    world = 512
    grid = np.zeros((world, world), dtype=np.uint8)
    grid[50:200, 60:400] = 9   # valid data block spanning the tile seam
    grid[100:120, 100:140] = 0  # nodata hole inside it
    tiles = RS.tiles_from_grid(spark, grid, 1)
    rows = PZ.footprint(tiles, 1, lambda g: g != 0).collect()
    assert len(rows) == 1
    fp = rows[0]
    assert fp["n_rings"] == 2  # exterior + the nodata hole
    got = _burn_polys(rows, world)
    want = np.where(grid != 0, 1.0, np.nan)
    m = ~np.isnan(want)
    np.testing.assert_array_equal(got[m], want[m])
    assert np.isnan(got[~m]).all()


def test_contour_polylines_match_bruteforce_stitch(spark, tiles):
    from osgeo_gdal_spark.kernels.contour import marching_squares
    from osgeo_gdal_spark.operators import contour as CT

    levels = [100.0, 200.5]
    rows = CT.contour_polylines(tiles, 1, levels, bucket=128).collect()
    got = sorted((r["level"], r["n_segs"], round(r["length"], 6), r["closed"])
                 for r in rows)

    # driver-side reference with the SAME semantics: chains join only at
    # vertices of global degree 2 (junction vertices — the isoline passing
    # exactly through a pixel corner — break polylines)
    world = 512
    gpx = np.arange(world)[None, :] * np.ones((world, 1), dtype=np.int64)
    gpy = np.arange(world)[:, None] * np.ones((1, world), dtype=np.int64)
    grid = ((gpx * 7 + gpy * 11 + 1) % 255).astype(np.float64)
    want = []
    for lev in levels:
        segs = marching_squares(grid, lev)
        deg = {}
        for x0, y0, x1, y1 in segs:
            for v in ((x0, y0), (x1, y1)):
                deg[v] = deg.get(v, 0) + 1
        parent = list(range(len(segs)))

        def find(i):
            while parent[i] != i:
                parent[i] = parent[parent[i]]
                i = parent[i]
            return i

        byv = {}
        for i, (x0, y0, x1, y1) in enumerate(segs):
            for v in ((x0, y0), (x1, y1)):
                if deg[v] != 2:
                    continue
                if v in byv:
                    a, b = find(byv[v]), find(i)
                    if a != b:
                        parent[max(a, b)] = min(a, b)
                else:
                    byv[v] = i
        groups = {}
        for i, (x0, y0, x1, y1) in enumerate(segs):
            r = find(i)
            n, ln, term = groups.get(r, (0, 0.0, False))
            t = term or deg[(x0, y0)] != 2 or deg[(x1, y1)] != 2
            groups[r] = (n + 1, ln + np.hypot(x1 - x0, y1 - y0), t)
        for n, ln, term in groups.values():
            want.append((lev, n, round(ln, 6), not term))
    assert got == sorted(want)
    assert any(not c for (_l, _n, _len, c) in got)  # open chains exist


def test_contour_polylines_closed_loop(spark):
    """A smooth bump crossing the tile seam yields ONE closed polyline."""
    from osgeo_gdal_spark.operators import contour as CT

    world = 512
    yy, xx = np.mgrid[0:world, 0:world].astype(np.float64)
    grid = 100.0 * np.exp(-(((xx - 256.0) / 40.0) ** 2
                            + ((yy - 256.0) / 40.0) ** 2))
    tiles = RS.tiles_from_grid(spark, grid, 1)
    rows = CT.contour_polylines(tiles, 1, [50.0], bucket=128).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["closed"] and r["n_segs"] > 50
    # ~circle of radius 40*sqrt(ln 2) px
    import math
    expect = 2 * math.pi * 40.0 * math.sqrt(math.log(2.0))
    assert abs(r["length"] - expect) < 0.05 * expect


def test_focal_generic_methods_match_full_grid(spark, tiles):
    """Generic KxK focal (mean/sum/min/max/stddev) vs a driver-side
    full-grid reference, including tile-border pixels (the halo)."""
    from osgeo_gdal_spark.operators.focal import focal_generic

    world = 512
    gpx = np.arange(world)[None, :] * np.ones((world, 1), dtype=np.int64)
    gpy = np.arange(world)[:, None] * np.ones((1, world), dtype=np.int64)
    z = ((gpx * 7 + gpy * 11 + 1) % 255).astype(np.float64)
    r = 2
    pad = np.full((world + 2 * r, world + 2 * r), np.nan)
    pad[r:-r, r:-r] = z
    K = np.ones((5, 5))
    K[0, 0] = 0.0  # non-trivial weight pattern for min/max skip logic

    for meth in ("mean", "sum", "min", "max", "stddev", "median"):
        got = {(rw["gx"], rw["gy"]): RS.parse_tile(rw)
               for rw in focal_generic(tiles, 1, K, meth).collect()}
        # reference (vrtfilters.cpp semantics: weighted taps, w==0
        # skipped for every method)
        acc = np.zeros((world, world)); wacc = np.zeros((world, world))
        s1 = np.zeros((world, world)); s2 = np.zeros((world, world))
        cnt = np.zeros((world, world))
        mn = np.full((world, world), np.inf); mx = np.full((world, world), -np.inf)
        stk = []
        for dy in range(-r, r + 1):
            for dx in range(-r, r + 1):
                w = K[dy + r, dx + r]
                if w == 0.0:
                    continue
                v = pad[r + dy:r + dy + world, r + dx:r + dx + world]
                ok = ~np.isnan(v)
                wv = np.where(ok, w * v, 0.0)
                acc += wv
                wacc += np.where(ok, w, 0.0)
                s1 += wv; s2 += wv * wv
                cnt += ok
                mn = np.where(ok & (w * v < mn), w * v, mn)
                mx = np.where(ok & (w * v > mx), w * v, mx)
                stk.append(np.where(ok, w * v, np.nan))
        if meth == "mean":
            want = np.where(wacc != 0, acc / wacc, -9999.0)
        elif meth == "sum":
            want = acc
        elif meth == "min":
            want = np.where(np.isfinite(mn), mn, -9999.0)
        elif meth == "max":
            want = np.where(np.isfinite(mx), mx, -9999.0)
        elif meth == "median":
            import warnings

            with warnings.catch_warnings():
                warnings.simplefilter("ignore", RuntimeWarning)
                med = np.nanmedian(np.stack(stk), axis=0)
            want = np.where(cnt > 0, med, -9999.0)
        else:
            m = s1 / np.maximum(cnt, 1)
            want = np.where(cnt > 0,
                            np.sqrt(np.maximum(s2 / np.maximum(cnt, 1) - m * m, 0.0)),
                            -9999.0)
        for (gx, gy), g in got.items():
            np.testing.assert_allclose(
                g, want[gy*256:(gy+1)*256, gx*256:(gx+1)*256],
                atol=1e-9, err_msg=f"{meth} tile {gx},{gy}")


def test_contour_polyline_wkb_emission(spark):
    """emit_wkb: the gaussian bump's single closed contour comes back as
    an ordered LineString whose vertices are exactly the stitched segment
    endpoints (closed ring: first == last after closure by walk)."""
    import struct

    from osgeo_gdal_spark.kernels.contour import marching_squares
    from osgeo_gdal_spark.operators import contour as CT

    world = 512
    yy, xx = np.mgrid[0:world, 0:world].astype(np.float64)
    grid = 100.0 * np.exp(-(((xx - 256.0) / 40.0) ** 2
                            + ((yy - 256.0) / 40.0) ** 2))
    tiles = RS.tiles_from_grid(spark, grid, 1)
    rows = CT.contour_polylines(tiles, 1, [50.0], bucket=128,
                                emit_wkb=True).collect()
    assert len(rows) == 1
    r = rows[0]
    buf = bytes(r["wkb"])
    endian, gtype, npts = struct.unpack_from("<BII", buf, 0)
    assert gtype == 2  # LineString
    pts = [struct.unpack_from("<dd", buf, 9 + 16 * i) for i in range(npts)]
    assert npts == r["n_segs"] + 1 or npts == r["n_segs"]
    # vertex set equals the segment endpoint set of the reference
    ref = set()
    for x0, y0, x1, y1 in marching_squares(grid, 50.0):
        ref.add((x0, y0)); ref.add((x1, y1))
    assert set(pts) == ref
    # consecutive vertices are true segments of the reference
    seg_ref = set()
    for x0, y0, x1, y1 in marching_squares(grid, 50.0):
        seg_ref.add(((x0, y0), (x1, y1))); seg_ref.add(((x1, y1), (x0, y0)))
    for a, b in zip(pts[:-1], pts[1:]):
        assert (a, b) in seg_ref


def test_hillshade_combined_and_multidirectional_properties():
    """Reference-formula properties (gdaldem_lib.cpp:1151 combined;
    USGS OF92-422 multidirectional): flat terrain limits, value range,
    NW-facing slopes brighter than SE-facing under the default light,
    and combined <= classic brightness on steep shadowed slopes."""
    import numpy as np

    from osgeo_gdal_spark.operators.focal import _dem_compute

    # flat: multi = classic = 1 + 254 sin(45deg); combined saturates to
    # 255 (reference: cang = 1 - acos(.)*atan(0)*4/pi^2 = 1)
    flat = np.zeros((6, 6))
    m = _dem_compute("hillshade_multi", flat, 1.0, 1.0, -1.0)
    c = _dem_compute("hillshade_combined", flat, 1.0, 1.0, -1.0)
    h = _dem_compute("hillshade", flat, 1.0, 1.0, -1.0)
    want_flat = 1.0 + 254.0 * np.sin(np.radians(45.0))
    assert np.allclose(m, want_flat) and np.allclose(h, want_flat)
    assert np.allclose(c, 255.0)

    # plane rising east / falling south faces the default az=315 light
    # (screen coords, y = row) -> bright; its negation -> dark
    xx, yy = np.meshgrid(np.arange(8.0), np.arange(8.0))
    nw_facing = 0.3 * (xx - yy)
    se_facing = -nw_facing
    for mode in ("hillshade", "hillshade_multi", "hillshade_combined"):
        bright = _dem_compute(mode, nw_facing, 1.0, 1.0, -1.0)[3, 3]
        dark = _dem_compute(mode, se_facing, 1.0, 1.0, -1.0)[3, 3]
        assert bright > dark, mode
        full_m = _dem_compute(mode, nw_facing, 1.0, 1.0, -1.0)
        assert (full_m >= 1.0 - 1e-9).all() and (full_m <= 255.0 + 1e-9).all()


def test_focal_mode_scan_order_tie_rule(spark):
    """Mode ties resolve to the FIRST value reaching the max
    multiplicity in row-major tap scan order (vrtfilters.cpp
    mapValToCount > maxCount) — checked against a per-pixel dict
    transliteration of the reference loop on a quantized grid."""
    import numpy as np
    from osgeo_gdal_spark.operators.focal import focal_generic
    from osgeo_gdal_spark.sources import raster as RS

    world = 512
    gpx = np.arange(world)[None, :] * np.ones((world, 1), dtype=np.int64)
    gpy = np.arange(world)[:, None] * np.ones((1, world), dtype=np.int64)
    z = (((gpx * 7 + gpy * 11 + 1) % 255) // 32).astype(np.float64)
    tiles = RS.tiles_from_grid(spark, z, 1)
    got = {(rw["gx"], rw["gy"]): RS.parse_tile(rw)
           for rw in focal_generic(tiles, 1, np.ones((3, 3)),
                                   "mode").collect()}
    full = np.zeros((world, world))
    for gy in range(2):
        for gx in range(2):
            full[gy*256:(gy+1)*256, gx*256:(gx+1)*256] = got[(gx, gy)]
    rng = np.random.RandomState(7)
    pts = [(int(rng.randint(world)), int(rng.randint(world)))
           for _ in range(200)] + [(0, 0), (0, 511), (511, 0), (511, 511)]
    for (py, px) in pts:
        counts, best, bestc = {}, None, 0
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                yy, xx = py + dy, px + dx
                if not (0 <= yy < world and 0 <= xx < world):
                    continue
                v = z[yy, xx]
                counts[v] = counts.get(v, 0) + 1
                if counts[v] > bestc:
                    bestc, best = counts[v], v
        assert full[py, px] == best, (py, px, full[py, px], best)


def test_contour_polyline_oracle_stage_headroom():
    """The polyline oracle's unrolled hook+jump CC must have converged
    with room to spare: running HALF the stages must give the identical
    polyline digest multiset (reach doubles per stage, so agreement at
    k and 2k stages pins the fixpoint)."""
    import duckdb

    from osgeo_gdal_spark import entry_queries as EQ

    full = duckdb.connect().execute(EQ.sql_contour_polylines()).fetchall()
    saved = EQ._POLY_STAGES
    try:
        EQ._POLY_STAGES = saved // 2
        half = duckdb.connect().execute(EQ.sql_contour_polylines()).fetchall()
    finally:
        EQ._POLY_STAGES = saved
    assert sorted(full) == sorted(half)
    assert len(full) > 0


def test_focal_stats_window_matches_unfused_chains(spark, tiles):
    """r8 fusion contract: focal_stats_window (ONE halo pass) must be
    pixel-exact against the un-fused composition it replaced — three
    focal_generic chains (median, stddev, mode over floor(A/32)) each
    windowed through the explode_pixels bridge and joined on (gpx, gpy).
    Exact equality (==) on every stat: the fused stencil replays the
    same numpy expressions in the same accumulation order."""
    from osgeo_gdal_spark.operators import focal as FO, raster_ops as RO

    x0, x1, y0, y1 = 200, 312, 200, 312  # spans the z1 tile seam at 256
    k3 = np.ones((3, 3))

    def window(df):
        return RO.explode_pixels(df).filter(
            (F.col("gpx") >= x0) & (F.col("gpx") < x1)
            & (F.col("gpy") >= y0) & (F.col("gpy") < y1))

    med = {(r["gpx"], r["gpy"]): r["value"]
           for r in window(FO.focal_generic(tiles, 1, k3, "median")).collect()}
    std = {(r["gpx"], r["gpy"]): r["value"]
           for r in window(FO.focal_generic(tiles, 1, k3, "stddev")).collect()}
    qt = RO.raster_calc({"A": tiles}, "floor(A / 32)")
    mode = {(r["gpx"], r["gpy"]): r["value"]
            for r in window(FO.focal_generic(qt, 1, k3, "mode")).collect()}

    fused = {(r["gpx"], r["gpy"]): (r["med"], r["sd"], r["mode_q"])
             for r in FO.focal_stats_window(
                 tiles, 1, (x0, y0, x1 - x0, y1 - y0), qdiv=32.0).collect()}

    assert set(fused) == set(med) == set(std) == set(mode)
    assert len(fused) == (x1 - x0) * (y1 - y0)
    for key, (fmed, fsd, fmode) in fused.items():
        assert fmed == med[key], key
        assert fsd == std[key], key
        assert fmode == mode[key], key


def test_contour_segments_cell_window_exact_slice(spark, tiles):
    """r8 srcwin pushdown contract: contour_segments with cell_window
    must emit EXACTLY the full soup's subset for those cells — same
    float coordinates bit-for-bit (integer origin offsets commute
    exactly through the marching-squares interpolation)."""
    from osgeo_gdal_spark.operators import contour as CT

    levels = [100.0, 200.5]
    cx0, cy0, w, h = 200, 200, 112, 112  # spans the z1 tile seam at 256
    full = {
        (r["level"], r["cx"], r["cy"], r["x0"], r["y0"], r["x1"], r["y1"])
        for r in CT.contour_segments(tiles, 1, levels).collect()
        if cx0 <= r["cx"] < cx0 + w and cy0 <= r["cy"] < cy0 + h
    }
    got = {
        (r["level"], r["cx"], r["cy"], r["x0"], r["y0"], r["x1"], r["y1"])
        for r in CT.contour_segments(
            tiles, 1, levels, cell_window=(cx0, cy0, w, h)).collect()
    }
    assert got == full
    assert len(got) > 100
