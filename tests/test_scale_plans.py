"""Scale-shape guards: the physical plans the engine MUST produce.

These tests read .explain output — they pin the properties that make the
100 TB case work (pushdown to the scan, column pruning, broadcast joins,
map-side partial aggregation) so a regression shows up as a test failure,
not as a 10x cluster bill. (SURVEY §4 maps each to the GDAL-side
technique it replaces.)
"""

import pytest
from pyspark.sql import functions as F

from osgeo_gdal_spark import entry_queries as EQ
from osgeo_gdal_spark.operators import skew as SK, spatial_join as SJ, tiling as TL
from osgeo_gdal_spark.sources import pages as PG, polygons as PL
from tests.conftest import SF_DIR_ORACLE as SF


def plan_of(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def optimized_of(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def test_filter_pushdown_reaches_parquet_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") < 5).select("l_orderkey")
    plan = plan_of(q)
    assert "PushedFilters: [IsNotNull(l_quantity), LessThan(l_quantity,5.0)" in plan


def test_column_pruning_reaches_scan(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = li.select("l_orderkey", "l_quantity")
    plan = plan_of(q)
    assert "ReadSchema: struct<l_orderkey:bigint,l_quantity:double>" in plan


def test_geocode_pipeline_prunes_text_columns(spark):
    """The spatial join on counts must NOT scan text/html — Catalyst
    prunes payload columns the query doesn't touch."""
    # other modules cache the documents table with all columns; pruning is
    # a property of the cold scan, so drop caches first
    spark.catalog.clearCache()
    pages = PG.pages_df(spark, SF)
    j = SJ.spatial_join(spark, pages, PL.POLYGONS).groupBy("eas_id").count()
    plan = plan_of(j)
    scan_lines = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert scan_lines and all("text" not in ln and "html" not in ln
                              for ln in scan_lines)


def test_spatial_join_is_broadcast_not_smj(spark):
    pages = PG.pages_df(spark, SF)
    j = SJ.spatial_join(spark, pages, PL.POLYGONS)
    plan = plan_of(j)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan


def test_tile_counts_has_partial_aggregation(spark):
    """The groupBy must partial-aggregate map-side (HashAggregate appears
    twice: partial + final) so the shuffle carries tiles, not pages."""
    pages = PG.pages_df(spark, SF)
    plan = plan_of(TL.tile_counts(pages, 6))
    assert plan.count("HashAggregate") >= 2


def test_whole_stage_codegen_covers_geocode(spark):
    """Geocode + tile math must stay inside WholeStageCodegen (JVM,
    vectorizable) — no Python eval nodes in the native pipeline."""
    pages = PG.pages_df(spark, SF)
    df = TL.tile_counts(pages, 6)
    df.collect()  # AQE only materializes codegen spans in the final plan
    plan = plan_of(df)
    # codegen stages print as "*(n)" markers in executedPlan.toString
    assert "*(1)" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_spatial_join_has_no_python_eval(spark):
    """The PIP refine is native: the join's executed plan has no Python
    evaluation node at all."""
    pages = PG.pages_df(spark, SF)
    j = SJ.spatial_join(spark, pages, PL.POLYGONS)
    plan = plan_of(j)
    assert plan.count("ArrowEvalPython") == 0
    assert plan.count("BatchEvalPython") == 0


# HotSpot's JIT compiles no method over this many bytes of bytecode
# (-XX:+DontCompileHugeMethods, on by default): a generated stage method
# above it runs interpreted
HOTSPOT_HUGE_METHOD_LIMIT = 8000


def test_spatial_join_stays_in_whole_stage_codegen(spark):
    """The containment predicate compiles: in the final AQE plan the cell
    join is a codegen'd ``*(n) BroadcastHashJoin``, and every generated
    method of its stages is small enough for the JIT. A higher-order
    function in the join condition, such as an ``aggregate`` ray cast,
    would take the join out of codegen."""
    pages = PG.pages_df(spark, SF)
    debug = spark._jvm.org.apache.spark.sql.execution.debug.package
    plans = {how: SJ.spatial_join(spark, pages, PL.POLYGONS, how=how).agg(F.count("*"))
             for how in ("inner", "semi", "anti")}
    plans["zonal_stats"] = EQ.q_zonal_stats(spark, SF)
    plans["spatial_join_pairs"] = EQ.q_spatial_join_pairs(spark, SF)
    for name, df in plans.items():
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().executedPlan()  # final AQE plan
        joins = [ln for ln in plan.toString().splitlines() if "BroadcastHashJoin" in ln]
        assert joins and all("*(" in ln for ln in joins), (name, plan.toString())
        stages = debug.codegenStringSeq(plan)
        sizes = [stages.apply(i)._3().maxMethodCodeSize() for i in range(stages.size())]
        assert sizes and max(sizes) < HOTSPOT_HUGE_METHOD_LIMIT, (name, sizes)


def test_salted_join_matches_plain_join(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet").limit(20000)
    dim = spark.read.parquet(f"{SF}/orders.parquet").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    plain = li.join(dim, "l_orderkey").groupBy("o_orderpriority").count()
    salted = SK.salted_join(li, dim, "l_orderkey").groupBy("o_orderpriority").count()
    a = {(r[0], r[1]) for r in plain.collect()}
    b = {(r[0], r[1]) for r in salted.collect()}
    assert a == b


def test_salted_count_matches_plain(spark):
    pages = PG.pages_df(spark, SF)
    keyed = SJ.with_cell_key(pages, 6)
    plain = {r["cell_key"]: r["cnt"] for r in
             keyed.groupBy("cell_key").agg(F.count("*").alias("cnt")).collect()}
    salted = {r["cell_key"]: r["cnt"] for r in
              SK.salted_count(keyed, ["cell_key"]).collect()}
    assert plain == salted


def test_key_histogram_surfaces_hot_cell(spark):
    pages = PG.pages_df(spark, SF)
    keyed = SJ.with_cell_key(pages, 6)
    hist = SK.key_histogram(keyed, ["cell_key"], top=3).collect()
    # fixture plants 5% of pages in one Paris cell -> clear #1 hot key
    assert hist[0]["cnt"] >= 0.04 * pages.count()


def test_adaptive_repartition_preserves_rows(spark):
    pages = PG.pages_df(spark, SF)
    keyed = SJ.with_cell_key(pages, 6)
    out = SK.adaptive_repartition(keyed, "cell_key", target_rows_per_task=10)
    assert out.count() == keyed.count()
    assert set(out.columns) == set(keyed.columns)


def test_spatial_join_strategy_plan_shapes(spark):
    """One page scan feeds one broadcast join, and the broadcast cover is a
    JVM-side LocalTableScan: a fallback to pickled rows would scan them
    in Python workers again."""
    pages = PG.pages_df(spark, SF)
    plan = plan_of(SJ.spatial_join(spark, pages, PL.POLYGONS))
    assert plan.count("FileScan parquet") == 1
    assert plan.count("BroadcastHashJoin") == 1
    assert "LocalTableScan" in plan.split("BroadcastExchange", 1)[1]
    # semi/anti keep or drop each page in the same single broadcast join
    for how in ("semi", "anti"):
        plan = plan_of(SJ.spatial_join(spark, pages, PL.POLYGONS, how=how))
        assert plan.count("FileScan parquet") == 1, (how, plan)
        assert plan.count("BroadcastHashJoin") == 1, (how, plan)
    # the clip/erase counts query is one semi and one anti such join:
    # no hash shuffle (no url distinct, no join back to the pages)
    plan = plan_of(EQ.q_spatial_semi_anti(spark, SF))
    assert "hashpartitioning" not in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_proximity_shuffle_carries_no_pixels(spark):
    """The proximity gather join must not replicate the ~512 KB pixels
    payload per (tile x target) row — only skinny key columns shuffle."""
    from osgeo_gdal_spark.operators import proximity as PX
    from osgeo_gdal_spark.sources import raster as RS

    tiles = RS.synth_tiles(spark, 1)
    out = PX.proximity(tiles, 1, 17.0, 80.0)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    # the tile side entering the gather join must project only skinny
    # key/metadata columns (first child line under the LeftOuter join)
    join_part = opt.split("Join LeftOuter", 1)[1]
    left_child = join_part.splitlines()[1]
    assert "Project" in left_child and "pixels" not in left_child


def test_warp_cover_is_native_not_driver_literal(spark):
    """The (dst, src) warp tile cover must come from a Range + sequence
    explode — a driver-side Python loop would show up as a LocalTableScan
    of n^2 literal rows (and be 16M+ iterations at z12)."""
    from osgeo_gdal_spark.operators import raster_ops as RO
    from osgeo_gdal_spark.sources import raster as RS

    tiles = RS.synth_tiles(spark, 1)
    out = RO.warp_tiles(tiles, 1, ("affine", 0.5, 100.25, 0.5, 50.25))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Range (" in plan
    assert "LocalTableScan" not in plan


def test_grid_scatter_no_cartesian(spark):
    """Grid interpolation must scatter by radius-box equi-join, never a
    cartesian/nested-loop product of points x tiles."""
    import pandas as pd
    from osgeo_gdal_spark.operators import grid as GR

    pts = spark.createDataFrame(pd.DataFrame(
        {"px": [10.0, 400.0], "py": [10.0, 300.0], "z": [1.0, 2.0]}))
    out = GR.grid_interpolate(spark, pts, 1, "invdist", 24.0,
                              window=(0, 0, 512, 512))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_polygonize_rings_single_labeling_pass(spark):
    """polygonize_polygons decodes+labels each tile exactly ONCE: the
    ring edges come from the same cached piece table as regions/borders
    (kind 'e'), so the optimized plan contains NO second Python scan of
    the tile table — every MapInPandas in the plan reads the shared
    InMemoryRelation, and the piece scan itself appears exactly once."""
    import numpy as np

    from osgeo_gdal_spark.operators import polygonize as PZ
    from osgeo_gdal_spark.sources.raster import TILE, TILE_SCHEMA

    spark.catalog.clearCache()
    # 2x2 tile block fixture: constant quadrant values
    rows = []
    for gx in range(2):
        for gy in range(2):
            grid = np.full((TILE, TILE), float(gx * 2 + gy), dtype=np.float64)
            rows.append((
                "t", 1, gx, gy, 1, TILE, TILE, "float64", None,
                "EPSG:3857", bytearray(grid.tobytes()), 0,
            ))
    tiles = spark.createDataFrame(rows, TILE_SCHEMA)
    out = PZ.polygonize_polygons(tiles, zoom=1)
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    # the only tile-decoding Python stage is the cached piece pass: the
    # optimized plan references it through InMemoryRelation, and there is
    # no MapInPandas LEFT OUTSIDE the cache (ring edges need no rescan)
    assert "InMemoryRelation" in opt
    n_map = opt.count("MapInPandas")
    n_cached = opt.count("InMemoryRelation")
    assert n_map <= n_cached, (n_map, n_cached, opt[:2000])
    assert out.count() == 4  # four constant quadrant regions


def test_overlay_features_plan_is_broadcast(spark):
    """The overlay pairwise kernel rides the broadcast cell-cover join:
    no SortMergeJoin anywhere, features never shuffle for the join."""
    from osgeo_gdal_spark.operators import overlay as OV

    ov = OV.overlay_features(spark, PL.tindex_df(spark), PL.POLYGONS,
                             "intersection")
    plan = plan_of(ov)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_zonal_fused_plan_no_tile_shuffle(spark):
    """Fused zonal: value tiles join the broadcast covering-fid list —
    a BroadcastHashJoin, never a SortMergeJoin that would shuffle pixel
    payloads."""
    from osgeo_gdal_spark.operators import raster_ops as RO
    from osgeo_gdal_spark.sources import raster as RS

    tiles = RS.synth_tiles(spark, 1)
    out = RO.raster_zonal_stats(tiles, PL.POLYGONS, 1)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_dissolve_plan_two_level_tree(spark):
    """Dissolve is the map-side-combine shape: exactly two grouped-map
    Python stages (partial per (group, salt), final per group)."""
    from osgeo_gdal_spark.operators import overlay as OV

    d = OV.dissolve(spark, PL.dissolve_df(spark), "gid")
    plan = plan_of(d)
    assert plan.count("FlatMapGroupsInPandas") == 2


def test_fingerprint_winnow_is_map_only(spark):
    """Winnowing fingerprints derive entirely from each doc's own text:
    the plan must contain NO Exchange (shuffle) at all."""
    from osgeo_gdal_spark.operators import corpus as CP

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(CP.winnow_fingerprints(docs))
    assert "Exchange" not in plan


def test_decontaminate_joins_broadcast_phrases(spark):
    """The benchmark phrase table broadcasts; the corpus side is never
    shuffled for the join (shingle explode feeds a BroadcastHashJoin)."""
    from osgeo_gdal_spark.operators import corpus as CP

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = CP.decontaminate(docs, ["the quick brown"], n=3)
    plan = plan_of(out)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pack_sequences_window_partitions_by_shard(spark):
    """Packing must parallelize across shards: the window exchange
    hash-partitions by shard (never a single-partition global sort)."""
    from osgeo_gdal_spark.operators import corpus as CP

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(CP.pack_sequences(docs, 512, shard_size=100))
    assert "hashpartitioning(shard" in plan
    assert "SinglePartition" not in plan


def test_text_byte_identity_through_shuffle(spark):
    """The north-rule per-row invariant: text extracted from html is
    BYTE-identical to the source text for every url, and survives a
    repartition + join (shuffle round-trips) unchanged."""
    pages = PG.pages_df(spark, SF)
    ex = pages.withColumn("extracted", PG.extract_text("html"))
    assert ex.filter(
        F.encode(F.col("extracted"), "utf-8") != F.encode(F.col("text"), "utf-8")
    ).count() == 0

    # carry text through a shuffle + self-join keyed on url
    a = pages.select("url", "text").repartition(16, "url")
    b = pages.select("url", F.col("text").alias("text2")).repartition(8, "url")
    j = a.join(b, "url")
    assert j.count() == pages.count()
    assert j.filter(
        F.encode(F.col("text"), "utf-8") != F.encode(F.col("text2"), "utf-8")
    ).count() == 0


def test_warp_cutline_no_cartesian(spark):
    """The cutline mask joins the warped tiles on the skinny (gx, gy)
    key — never a cartesian / broadcast-nested-loop, and the blend is
    one MapInPandas over the joined tiles."""
    from osgeo_gdal_spark.entry_queries import RASTER_ZOOM, WARP
    from osgeo_gdal_spark.operators import raster_ops as RO, rasterize as RZ
    from osgeo_gdal_spark.sources import raster as RS

    tiles = RS.synth_tiles(spark, RASTER_ZOOM)
    cut = [PL.PolyFeature(0, 1, "C", "rect",
                          {"bounds": (10.0005, -50.0005, 50.0005,
                                      -10.0005)})]
    shapes = RZ.shapes_from_features(cut, lambda p: 1.0)
    out = RO.warp_cutline(
        tiles, RASTER_ZOOM,
        ("affine", WARP["a"], WARP["b"], WARP["c"], WARP["d"]), shapes)
    plan = plan_of(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_grid_linear_distributed_no_driver_state(spark):
    """grid_linear's plan carries the TIN as a DataFrame join (cover
    explode + per-tile applyInPandas) — no cartesian, and the
    triangulation never round-trips through the driver (pinned by the
    toPandas-ban test in test_grid.py; here: the plan shape)."""
    from osgeo_gdal_spark.entry_queries import _grid_linear_pts
    from osgeo_gdal_spark.operators import grid as GR

    pts = spark.createDataFrame(_grid_linear_pts(),
                                "px DOUBLE, py DOUBLE, z DOUBLE")
    tiles = GR.grid_linear(spark, pts, 1, nodata=-1.0,
                           window=(56, 56, 48, 48))
    plan = plan_of(tiles)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan      # per-tile TIN evaluation


def test_bm25_plan_broadcasts_and_takes_ordered(spark):
    """BM25: df and corpus stats broadcast (no shuffle of the big side
    for them) and the top-k runs as TakeOrderedAndProject — never a
    global single-partition sort of all docs."""
    from osgeo_gdal_spark.operators import corpus as CP

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = CP.bm25_topk(docs, ("data", "model"), k=10)
    plan = plan_of(q)
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan


def test_update_tiles_single_shuffle(spark):
    """raster update must co-group base+patch in ONE exchange — no
    distinct/semi/anti pre-joins re-shuffling the same key set (each
    would be its own stage at 100 TB)."""
    from osgeo_gdal_spark.operators import raster_ops as RO
    from osgeo_gdal_spark.sources import raster as RS
    from pyspark.sql import functions as F

    base = RS.synth_tiles(spark, 1)
    patch = RS.synth_tiles(spark, 1, dataset_id="p", coeffs=(13, 5),
                           nodata=7.0).filter(F.col("gx") == 0)
    out = RO.update_tiles(base, patch, 7.0)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1, plan
    assert "SortMergeJoin" not in plan and "BroadcastHashJoin" not in plan


def test_identity_plan_single_pairs_join(spark):
    """Identity is SINGLE-PASS: exactly one grouped fold over the
    matched pairs (one FlatMapGroupsInPandas), broadcast joins only —
    not an Intersection plan unioned with a second Erase scan+join."""
    from osgeo_gdal_spark.operators import overlay as OV

    ov = OV.identity_features(spark, PL.tindex_df(spark), PL.POLYGONS)
    plan = plan_of(ov)
    assert plan.count("FlatMapGroupsInPandas") == 1, plan[:2000]
    # r8: the matched-pair table is PINNED (localCheckpoint) so the fold
    # and the left-anti read one materialization — the final plan shows
    # the pinned scan; the broadcast cell-cover join property is asserted
    # on the pairs plan itself below
    assert "Scan ExistingRDD" in plan, plan[:2000]
    from osgeo_gdal_spark.operators import spatial_join as SJ

    pairs_plan = plan_of(
        SJ.spatial_join_polygons(spark, PL.tindex_df(spark), PL.POLYGONS))
    assert "BroadcastHashJoin" in pairs_plan, pairs_plan[:2000]
    # the only sort-merge allowed is the erase-standard left-anti
    # pass-through on the skinny fid key (AQE turns it broadcast when
    # the matched set is small)
    n_smj = plan.count("SortMergeJoin")
    assert n_smj <= plan.count("LeftAnti"), plan[:2000]


def test_dedup_incremental_keeps_both_lineage_cuts(spark):
    """Regression (round-5): dedup_incremental calls _fp_exploded for
    BOTH the index and new sides; the bounded cache-cut must retain one
    relation per call site — a shared tag would unpersist the index
    side's cut mid-plan and re-expose the interpreted-HOF blowup
    (1 task, 25 min at sf0.1). Guard: the optimized plan holds TWO
    distinct InMemoryRelations and both stay cached after execution."""
    from osgeo_gdal_spark.operators import corpus as CP

    docs = spark.createDataFrame(
        [(i, "w%d x y z a b c d e f" % (i % 4)) for i in range(40)],
        "doc_id LONG, text STRING")
    out = CP.dedup_incremental(
        docs.filter("doc_id % 10 != 0"), docs.filter("doc_id % 10 = 0"))
    out.count()  # materialize both cuts
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("InMemoryRelation") >= 2, opt[:2000]


def test_line_tier_partial_aggregation(spark):
    """c4_line_stats and count_min_sketch must partial-aggregate
    map-side (partial + final HashAggregate) so the shuffle carries
    per-key partials, never raw lines/words."""
    from osgeo_gdal_spark.operators.corpus import (c4_line_stats,
                                                   count_min_sketch,
                                                   doc_lines)

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    p1 = plan_of(c4_line_stats(doc_lines(docs, width=8)))
    assert p1.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in p1 and "ArrowEvalPython" not in p1
    p2 = plan_of(count_min_sketch(docs))
    assert p2.count("HashAggregate") >= 2
    assert "BatchEvalPython" not in p2 and "ArrowEvalPython" not in p2


def test_line_dedup_shuffles_digests_not_text(spark):
    """Round-6 (VERDICT r5 #4): the line-dedup window's Exchange must key
    on the 16-byte md5 digest, and the relation entering that Exchange
    must NOT carry the raw line column — at 100 TB the old line-keyed
    shuffle payload was the corpus itself."""
    import re

    from osgeo_gdal_spark.operators.corpus import doc_lines, line_dedup_stats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(line_dedup_stats(doc_lines(docs, width=2)))
    assert "hashpartitioning(lh#" in plan, plan[:2000]
    assert "hashpartitioning(line#" not in plan, plan[:2000]
    # the Project feeding the window Exchange is the skinny digest
    # relation: (doc_id, line_idx, lh) — no line text column survives
    m = re.search(r"Exchange hashpartitioning\(lh#\d+.*?Project \[([^\]]*)\]",
                  plan, re.S)
    assert m is not None, plan[:2000]
    assert "line#" not in m.group(1), m.group(1)


def test_portable_sketch_cut_reuses_identical_plan(spark):
    """Round-6 (VERDICT r5 #1): _bounded_cache_cut keyed by canonicalized
    plan — a second invocation over the SAME input returns the SAME live
    cached relation (no evict+rebuild), while a different input still
    evicts the previous cut (bounded: one live relation per tag)."""
    from osgeo_gdal_spark.operators import dedup as DD

    docs = spark.createDataFrame(
        [(i, "a b c d e f g h %d" % (i % 3)) for i in range(30)],
        "doc_id LONG, text STRING")
    s1 = DD.minhash_portable(docs)
    s1.count()
    c1 = DD._CUT_CACHE["minhash_grams"][1]
    s2 = DD.minhash_portable(docs)
    s2.count()
    assert DD._CUT_CACHE["minhash_grams"][1] is c1
    other = docs.filter("doc_id % 2 = 0")
    DD.minhash_portable(other).count()
    assert DD._CUT_CACHE["minhash_grams"][1] is not c1


def test_png_encode_gray_is_map_only(spark):
    """Round-6: greyscale PNG encoding must be a pure map stage — zero
    Exchange between the tile source and the encoder (a shuffle here
    would move every tile's pixels twice at 100 TB). RGB co-groups band
    rows, so exactly ONE tile-key Exchange is allowed there."""
    from osgeo_gdal_spark.sources.raster import synth_tiles

    tiles = synth_tiles(spark, 1)
    p_gray = plan_of(TL.encode_png_tiles(tiles))
    assert "Exchange" not in p_gray, p_gray[:1500]
    p_rgb = plan_of(TL.encode_png_tiles(tiles, rgb=True))
    assert p_rgb.count("Exchange") == 1, p_rgb[:1500]


def test_gtiff_encode_is_map_only(spark):
    """Round-7: GeoTIFF tile encoding must be a pure map stage — zero
    Exchange between the tile source and the encoder (same contract as
    the greyscale PNG path)."""
    from osgeo_gdal_spark.sources.raster import synth_tiles

    tiles = synth_tiles(spark, 1)
    p = plan_of(TL.encode_gtiff_tiles(tiles))
    assert "Exchange" not in p, p[:1500]


def test_resize_cover_derivation_is_native(spark):
    """Round-6: resize (warp with dst_zoom) derives its (dst, src) tile
    cover from a native range DF — no Python eval stage may appear
    before the single warp kernel, and the gather join keys on the tile
    ids."""
    from osgeo_gdal_spark.operators import raster_ops as RO
    from osgeo_gdal_spark.sources.raster import synth_tiles

    out = RO.resize_tiles(synth_tiles(spark, 1), 1, 0, method="bilinear")
    plan = plan_of(out)
    assert plan.count("FlatMapGroupsInPandas") == 1, plan[:2000]
    # the only Arrow/Python stages are the tile synthesis + the warp
    # kernel; the cover derivation itself is pure Catalyst (sequence
    # explode + join)
    assert "BatchEvalPython" not in plan
