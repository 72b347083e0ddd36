"""Cell-ring-expansion kNN — distributed nearest-neighbor gather.

Re-expresses the per-cell radius search GDAL's gridder uses for candidate
gathering (``/root/reference/alg/gdalgrid.cpp:242-277`` invdistnn over a
CPLQuadTree, quadrant variants ``:1181-1326``) as the Spark-shaped
equivalent:

- query points (small) are expanded driver-side to their kRing cells at a
  coarse zoom and **broadcast**;
- one equi-join on the flat cell key gathers candidates from the big pages
  side (map-side, no pages shuffle);
- exact distance + ``Window.partitionBy(query).orderBy(dist)`` top-k
  (Catalyst turns the rank filter into a partial top-k);
- a driver-side soundness check grows the ring where the kth candidate is
  farther than the ring's guaranteed-covered radius, and re-gathers just
  those queries — bounded iterations, exact global result.

Distance metric: squared planar degrees (``dist2``) — pure multiply/add,
bit-identical across numpy / Spark / DuckDB, so the oracle can verify
results exactly. Ties broken by url ascending (pinned in FIXTURES.md §5).
haversine is available in kernels/distance.py for geographic scoring.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, Window, functions as F, types as T

from ..kernels import cells as C, mercator as M
from ..session import local_df

KNN_ZOOM = 4  # coarse gather zoom: world = 16x16 cells


def _ring_rows(queries, r, zoom):
    """[(qid, qlon, qlat)] -> rows (cell_key, qid, qlon, qlat) for kRing r."""
    n = 1 << zoom
    rows = []
    for qid, qlon, qlat in queries:
        gx, gy = M.latlon_to_tile_xyz(qlat, qlon, zoom)
        cell = int(C.encode(int(gx), int(gy), zoom))
        for c in C.k_ring(cell, r):
            cx, cy, _ = C.decode(np.asarray([c]))
            rows.append((int(cx[0]) * n + int(cy[0]), qid, qlon, qlat))
    return rows


def _ring_guaranteed_deg(qlon, qlat, r, zoom):
    """Exact min degree distance from the query to the *outside* of its
    kRing box: any point beyond the box is at least this far away (planar
    metric), so a provisional kth distance below it is globally correct.

    Computed from the real tile bounds (mercator lat extents shrink toward
    the poles, so a fixed tile count is NOT a fixed degree count). Queries
    whose ring hits the antimeridian or pole get 0 (forces widening until
    max_r full coverage)."""
    n = 1 << zoom
    gx, gy = M.latlon_to_tile_xyz(qlat, qlon, zoom)
    gx0, gy0 = int(gx) - r, int(gy) - r
    gx1, gy1 = int(gx) + r, int(gy) + r
    if gx0 < 0 or gy0 < 0 or gx1 > n - 1 or gy1 > n - 1:
        return 0.0
    west = -180.0 + gx0 * 360.0 / n
    east = -180.0 + (gx1 + 1) * 360.0 / n
    # XYZ gy increases southward; TMS ty = n-1-gy
    _, _, _, north_m = M.tile_bounds_meters(gx0, (n - 1) - gy0, zoom)
    _, south_m, _, _ = M.tile_bounds_meters(gx1, (n - 1) - gy1, zoom)
    north, _ = M.meters_to_latlon(0.0, north_m)
    south, _ = M.meters_to_latlon(0.0, south_m)
    return max(
        0.0,
        min(qlon - west, east - qlon, qlat - float(south), float(north) - qlat),
    )


def knn_join(spark, pages: DataFrame, queries, k=5, zoom=KNN_ZOOM,
             max_r=None) -> DataFrame:
    """Exact top-k nearest pages per query point.

    queries: [(qid:int, lon:float, lat:float)]. Returns columns
    (qid, url, dist2, rank). Iteratively widens rings for queries whose
    provisional kth distance exceeds the ring-covered radius.
    """
    n = 1 << zoom
    if max_r is None:
        max_r = n  # full coverage fallback
    schema = T.StructType(
        [
            T.StructField("cell_key", T.LongType()),
            T.StructField("qid", T.LongType()),
            T.StructField("qlon", T.DoubleType()),
            T.StructField("qlat", T.DoubleType()),
        ]
    )
    pending = {int(q[0]): (float(q[1]), float(q[2])) for q in queries}
    results = None
    r = 1
    while pending and r <= max_r:
        qlist = [(qid, lon, lat) for qid, (lon, lat) in pending.items()]
        ring = local_df(spark, _ring_rows(qlist, r, zoom), schema)
        cand = pages.join(F.broadcast(ring), "cell_key")
        dist2 = (F.col("lon") - F.col("qlon")) * (F.col("lon") - F.col("qlon")) + (
            F.col("lat") - F.col("qlat")
        ) * (F.col("lat") - F.col("qlat"))
        scored = cand.withColumn("dist2", dist2)
        w = Window.partitionBy("qid").orderBy(F.col("dist2").asc(), F.col("url").asc())
        topk = (
            scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("qid", "url", "dist2", "rank")
        )
        got = topk.groupBy("qid").agg(
            F.count("*").alias("cnt"), F.max("dist2").alias("kth_d2")
        ).collect()
        done_ids = set()
        for row in got:
            qlon, qlat = pending[row["qid"]]
            guar = _ring_guaranteed_deg(qlon, qlat, r, zoom)
            if row["cnt"] >= k and row["kth_d2"] < guar * guar:
                done_ids.add(row["qid"])
        if r >= max_r:
            done_ids = set(pending)  # final pass: accept what we have
        if done_ids:
            part = topk.filter(F.col("qid").isin([int(i) for i in done_ids]))
            results = part if results is None else results.unionByName(part)
            for qid in done_ids:
                pending.pop(qid, None)
        r *= 2
    if pending:
        raise RuntimeError(f"kNN did not converge for queries {sorted(pending)}")
    return results


