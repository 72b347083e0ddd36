"""End-to-end tests of the cell-cover broadcast PIP join on real testdata.

Golden oracle: an independent pandas evaluation of each polygon's strict
SQL predicate over the same deterministically geocoded points — a
different code path (SQL-predicate semantics) than the engine's ray-cast
kernel, so agreement is meaningful (the FIXTURES.md §2 row-set invariant).
"""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from osgeo_gdal_spark.operators import spatial_join as SJ, tiling as TL
from osgeo_gdal_spark.sources import pages as PG, polygons as PL
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def pages(spark):
    return PG.pages_df(spark, SF_DIR).cache()


@pytest.fixture(scope="module")
def pages_pdf(pages):
    return pages.select("url", "doc_id", "lon", "lat").toPandas()


def _expected_pairs(pages_pdf):
    """Evaluate each polygon's strict predicate in pure pandas/numpy."""
    pairs = set()
    lon = pages_pdf["lon"].to_numpy()
    lat = pages_pdf["lat"].to_numpy()
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
            e1 = (bx - ax) * (lat - ay) - (by - ay) * (lon - ax) > 0
            e2 = (cx - bx) * (lat - by) - (cy - by) * (lon - bx) > 0
            e3 = (ax - cx) * (lat - cy) - (ay - cy) * (lon - cx) > 0
            m = e1 & e2 & e3
        elif kind == "dateline":
            y0, y1 = prm["lat"]
            m = ((lon > prm["west_lon"]) | ((lon > -180) & (lon < prm["east_lon"])))
            m &= (lat > y0) & (lat < y1)
        for url in pages_pdf["url"].to_numpy()[m]:
            pairs.add((url, p.eas_id))
    return pairs


def test_join_rows_match_golden(spark, pages, pages_pdf):
    got = SJ.spatial_join(spark, pages, PL.POLYGONS).select("url", "eas_id").collect()
    got_pairs = {(r["url"], r["eas_id"]) for r in got}
    want = _expected_pairs(pages_pdf)
    assert got_pairs == want
    assert len(want) > 50  # fixture sanity: the join actually matches rows


def test_hot_cluster_lands_in_paris_polygon(spark, pages):
    counts = {
        r["eas_id"]: r["cnt"]
        for r in SJ.spatial_join(spark, pages, PL.POLYGONS)
        .groupBy("eas_id").agg(F.count("*").alias("cnt")).collect()
    }
    n_pages = pages.count()
    # ~5% of pages are in the hot cluster covered by eas_id 170
    assert counts.get(170, 0) >= 0.04 * n_pages


def test_semi_and_anti_partition_pages(spark, pages):
    n = pages.count()
    semi = SJ.spatial_join(spark, pages, PL.POLYGONS, how="semi").count()
    anti = SJ.spatial_join(spark, pages, PL.POLYGONS, how="anti").count()
    assert semi + anti == n
    assert semi > 0 and anti > 0


def test_text_byte_identity_through_join(spark, pages):
    """input_hint invariant: extracted text unchanged per url end-to-end."""
    j = SJ.spatial_join(spark, pages, PL.POLYGONS).select("url", "text").distinct()
    src = pages.select("url", F.col("text").alias("src_text"))
    cmp = j.join(src, "url")
    bad = cmp.filter(F.col("text") != F.col("src_text")).count()
    assert bad == 0


def test_partition_invariance(spark, pages):
    """FIXTURES.md invariant 5: identical result at 2 parallelism levels."""
    a = SJ.spatial_join(spark, pages.repartition(2), PL.POLYGONS)
    b = SJ.spatial_join(spark, pages.repartition(16), PL.POLYGONS)
    pa = {(r["url"], r["eas_id"]) for r in a.select("url", "eas_id").collect()}
    pb = {(r["url"], r["eas_id"]) for r in b.select("url", "eas_id").collect()}
    assert pa == pb


def test_zonal_stats(spark, pages, pages_pdf):
    zs = SJ.zonal_stats(spark, pages, PL.POLYGONS, "doc_id").collect()
    want = _expected_pairs(pages_pdf)
    by_eas = {}
    url2doc = dict(zip(pages_pdf["url"], pages_pdf["doc_id"]))
    for url, eas in want:
        by_eas.setdefault(eas, []).append(url2doc[url])
    for row in zs:
        docs = by_eas[row["eas_id"]]
        assert row["zn_count"] == len(docs)
        assert row["zn_min"] == min(docs)
        assert row["zn_max"] == max(docs)
        assert row["zn_sum"] == sum(docs)


def test_broadcast_join_no_pages_shuffle(spark, pages):
    """Scale guard: the candidate plan must be a BroadcastHashJoin (pages
    side map-only) — a sort-merge join here would shuffle 100 TB."""
    cover = SJ.polygon_cover_df(spark, PL.POLYGONS)
    keyed = SJ.with_cell_key(pages)
    plan = keyed.join(F.broadcast(cover), "cell_key")._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_successive_joins_different_polygon_sets(spark, pages, pages_pdf):
    """Regression for the stale prepared-geometry cache: two successive
    joins with DIFFERENT (non-rect) polygon sets in one session must each
    match their own brute force. The old id()-keyed cache could silently
    reuse the first job's parsed polygons for the second."""
    tri_a = PL.PolyFeature(0, 900, "a", "tri",
                           {"vertices": ((130.0005, 10.0005), (160.0005, 15.0005),
                                         (142.3455, 44.8885))})
    tri_b = PL.PolyFeature(0, 901, "b", "tri",
                           {"vertices": ((-60.0005, -10.0005), (-20.0005, -5.0005),
                                         (-42.3455, 30.8885))})

    def brute(p):
        lon = pages_pdf["lon"].to_numpy()
        lat = pages_pdf["lat"].to_numpy()
        (ax, ay), (bx, by), (cx, cy) = p.params["vertices"]
        m = ((bx - ax) * (lat - ay) - (by - ay) * (lon - ax) > 0)
        m &= ((cx - bx) * (lat - by) - (cy - by) * (lon - bx) > 0)
        m &= ((ax - cx) * (lat - cy) - (ay - cy) * (lon - cx) > 0)
        return set(pages_pdf["url"].to_numpy()[m])

    for tri in (tri_a, tri_b):
        got = {r["url"] for r in
               SJ.spatial_join(spark, pages, [tri]).select("url").collect()}
        assert got == brute(tri), tri.prfedea
    # content digests differ, so the per-worker cache cannot collide
    pa = SJ.payload_key([(tri_a.fid, tri_a.wkb())])
    pb = SJ.payload_key([(tri_b.fid, tri_b.wkb())])
    assert pa != pb


def test_polypoly_kernels():
    from osgeo_gdal_spark.kernels import polypoly as PP, wkb as W

    sq = lambda x0, y0, x1, y1: W.parse_wkb(  # noqa: E731
        W.polygon_wkb([[(x0, y0), (x1, y0), (x1, y1), (x0, y1)]]))
    a = sq(0, 0, 10, 10)
    assert PP.polygons_intersect(a, sq(5, 5, 15, 15))       # overlap
    assert not PP.polygons_intersect(a, sq(11, 0, 20, 10))  # disjoint
    assert PP.polygons_intersect(a, sq(2, 2, 8, 8))         # containment
    assert PP.polygons_intersect(sq(2, 2, 8, 8), a)
    assert PP.polygon_contains_polygon(a, sq(2, 2, 8, 8))
    assert not PP.polygon_contains_polygon(a, sq(5, 5, 15, 15))
    # cross-shape: edges cross, but NO vertex of either inside the other
    wide = sq(-5, 3, 15, 7)
    tall = sq(3, -5, 7, 15)
    assert PP.polygons_intersect(wide, tall)
    # hole: a small rect fully inside the hole does NOT intersect
    holed = W.parse_wkb(W.polygon_wkb([
        [(0, 0), (20, 0), (20, 20), (0, 20)],
        [(5, 5), (15, 5), (15, 15), (5, 15)],
    ]))
    assert not PP.polygons_intersect(holed, sq(8, 8, 12, 12))
    assert PP.polygons_intersect(holed, sq(1, 1, 3, 3))
    assert PP.polygons_intersect(holed, sq(3, 3, 8, 8))  # straddles hole edge

    hull = PP.convex_hull([0, 10, 10, 0, 5], [0, 0, 10, 10, 5])
    assert sorted(hull) == [(0, 0), (0, 10), (10, 0), (10, 10)]


def test_spatial_join_polygons_vs_bruteforce(spark):
    from osgeo_gdal_spark.kernels import polypoly as PP, wkb as W

    ti = PL.tindex_df(spark)
    got = {(r["a_id"], r["eas_id"])
           for r in SJ.spatial_join_polygons(spark, ti, PL.POLYGONS)
           .select("a_id", "eas_id").collect()}
    want = set()
    for af in PL.tindex_features():
        ga = W.parse_wkb(af.wkb())
        for p in PL.POLYGONS:
            gb = W.parse_wkb(p.wkb())
            if PP.polygons_intersect(ga, gb):
                want.add((af.eas_id, p.eas_id))
    assert got == want
    assert len(want) > 10  # the layers genuinely overlap


def test_spatial_join_polygons_boundary_predicates(spark):
    """predicate='touches'/'overlaps'/'equals' on the polygon join: an
    edge-aligned probe layer must survive the (now closed) envelope
    prefilter and match only under the right predicate."""
    from pyspark.sql import types as T

    from osgeo_gdal_spark.kernels import wkb as W
    from osgeo_gdal_spark.operators import spatial_join as SJ
    from osgeo_gdal_spark.sources import polygons as PL

    base = PL.POLYGONS[0]          # rect (-10.0005, 20.0005, 10.0005, 40.0005)
    x0, y0, x1, y1 = base.params["bounds"]
    feats = [
        (0, (x1, y0, x1 + 5.0, y1)),          # edge touch
        (1, (x1, y1, x1 + 4.0, y1 + 4.0)),    # corner touch
        (2, (x0 + 5.0, y0 + 5.0, x1 + 5.0, y1 + 5.0)),  # overlap
        (3, (x0, y0, x1, y1)),                # equal
        (4, (x1 + 20.0, y0, x1 + 25.0, y1)),  # disjoint
    ]
    rows = []
    for fid, (a, b, c, d) in feats:
        rows.append((
            fid, bytearray(W.polygon_wkb([[(a, b), (c, b), (c, d), (a, d)]])),
            {"xmin": a, "ymin": b, "xmax": c, "ymax": d},
        ))
    schema = T.StructType([
        T.StructField("fid", T.LongType()),
        T.StructField("geometry", T.BinaryType()),
        T.StructField("bbox", T.StructType([
            T.StructField("xmin", T.DoubleType()),
            T.StructField("ymin", T.DoubleType()),
            T.StructField("xmax", T.DoubleType()),
            T.StructField("ymax", T.DoubleType()),
        ])),
    ])
    df = spark.createDataFrame(rows, schema)
    polys = [base]

    def fids(predicate):
        got = SJ.spatial_join_polygons(spark, df, polys, predicate=predicate)
        return sorted(r["fid"] for r in got.collect())

    assert fids("touches") == [0, 1]
    assert fids("overlaps") == [2]
    assert fids("equals") == [3]


def test_geoparquet_roundtrip(spark, tmp_path):
    """GeoParquet 1.0 writer: the 'geo' file metadata (primary_column,
    WKB encoding, data bbox) survives a write and Spark can still read
    the data back unchanged."""
    import json

    from osgeo_gdal_spark.kernels import wkb as W
    from osgeo_gdal_spark.sources import polygons as PLs

    rows = [
        (1, bytearray(W.polygon_wkb([[(0.0, 0.0), (2.0, 0.0), (2.0, 2.0),
                                      (0.0, 2.0)]]))),
        (2, bytearray(W.polygon_wkb([[(5.0, -1.0), (7.0, -1.0),
                                      (7.0, 3.0), (5.0, 3.0)]]))),
    ]
    df = spark.createDataFrame(rows, "fid LONG, geometry BINARY")
    out = str(tmp_path / "gp")
    PLs.write_geoparquet(df, out)
    meta = PLs.read_geoparquet_meta(out)
    assert meta["version"] == "1.0.0"
    assert meta["primary_column"] == "geometry"
    col = meta["columns"]["geometry"]
    assert col["encoding"] == "WKB"
    assert col["bbox"] == [0.0, -1.0, 7.0, 3.0]
    back = spark.read.parquet(out)
    assert back.count() == 2
    got = {r["fid"]: bytes(r["geometry"]) for r in back.collect()}
    assert got[1] == bytes(rows[0][1])
