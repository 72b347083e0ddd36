"""The benchmark workloads, and the registered-query pass that
``join_scan``'s traced pass runs as a companion.

Each workload drives the engine through its public functions, one op at a
time, and checks every op's output against ``oracles``. An op returns
``(items, output)``; ``check`` returns a list of problems (empty = correct).
Spans name the layer being called (``<module>.<what>``); ``probes`` runs the
traced pass's extra single-layer timings after the traced ops.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import sys
import time

import numpy as np
from pyspark.sql import functions as F

from osgeo_gdal_spark import entry_queries as EQ
from osgeo_gdal_spark.functions import sqlgen as G
from osgeo_gdal_spark.kernels import (checksum as CK, pip as PIP, png as PNG,
                                      resample as R, wkb as W)
from osgeo_gdal_spark.operators import (raster_ops as RO, spatial_join as SJ,
                                        tiling as TL)
from osgeo_gdal_spark.plans.lineage import StageWriter
from osgeo_gdal_spark.sources import polygons as PL, raster as RS

import oracles as O


class Env:
    """What every workload shares: the live session (replaced when the
    runner restarts Spark), the seed, a scratch directory, the tracer."""

    def __init__(self, spark, seed: int, work_dir: str, tracer, cores: int):
        self.spark = spark
        self.seed = seed
        self.work_dir = work_dir
        self.tracer = tracer
        self.cores = cores

    def span(self, name: str, **attrs):
        return self.tracer.span(name, **attrs)


def _timed(fn, reps: int = 3) -> float:
    """Median wall time of ``reps`` calls."""
    times = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def _noop_write(df):
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """One op at a time: ``run_op(k) -> (items, output)`` and
    ``check(k, output) -> problems``. ``warmup_ops`` ops precede the timed
    ones. ``layers`` names the per-layer metrics the traced pass must
    measure for this workload (its spans, outputs, probes and companions);
    a traced run that lacks one of them fails."""

    name = ""
    warmup_ops = 3  # the first ops after the cold one are still slower (JIT)
    layers: tuple[str, ...] = ()

    def prepare(self):
        """Build inputs and expected outputs; part of set-up."""

    def layer_values(self, outs: list[dict]) -> dict:
        """Per-layer metrics read off the traced ops' outputs."""
        return {}

    def probes(self, outs: list[dict]) -> dict:
        """Per-layer metrics timed on their own after the traced ops."""
        return {}

    def companions(self) -> list["QueryMix"]:
        """Query lists whose layers this workload's traced pass also times,
        by running each once after its own probes."""
        return []

    def cleanup(self, outs: list[dict]):
        """Release what checked ops left behind, except the newest op's,
        which the traced pass's probes may still read."""

    def close(self):
        """Release everything at exit."""


class JoinScan(Workload):
    """Geocode a seeded doc_id range, join it to the polygon layer, count
    pages per polygon and per z6 tile. Every op of a run scans the same
    range, so the oracle runs once."""

    name = "join_scan"
    TILE_ZOOM = 6
    layers = ("sources.geocode_s", "spatial_join.build_s", "spatial_join.exec_s",
              "spatial_join.candidate_pairs", "spatial_join.match_ratio",
              "spatial_join.split_edge_pages", "tiling.tile_counts_s", "kernels.pip_s")

    def __init__(self, env: Env, pages_per_op: int = 16_000_000,
                 partitions: int | None = None):
        self.env = env
        self.pages = pages_per_op
        self.partitions = partitions or 4 * env.cores
        self.first_id = random.Random(env.seed).randrange(0, O.MAX_DOC_ID - pages_per_op)
        self.want = None

    def prepare(self):
        oracle = O.JoinOracle(
            [(pf.eas_id, pf.wkb()) for pf in PL.POLYGONS], self.pages,
            self.TILE_ZOOM, self.env.cores, os.path.join(self.env.work_dir, "duckdb"))
        try:
            self.want = oracle.compute(self.first_id, self.pages)
        finally:
            oracle.close()

    def _pages(self):
        lo = self.first_id
        ids = self.env.spark.range(lo, lo + self.pages, 1, self.partitions)
        return ids.select(
            F.col("id").alias("doc_id"),
            F.expr(G.url_sql("id", G.SPARK)).alias("url"),
            F.expr(G.lon_sql("id")).alias("lon"),
            F.expr(G.lat_sql("id")).alias("lat"),
        )

    def run_op(self, k: int):
        spark = self.env.spark
        pages = self._pages()
        with self.env.span("spatial_join.build"):
            joined = SJ.spatial_join(spark, pages, PL.POLYGONS)
        with self.env.span("spatial_join.exec"):
            counts = {r["eas_id"]: r["n"] for r in
                      joined.groupBy("eas_id").agg(F.count("*").alias("n")).collect()}
        with self.env.span("tiling.tile_counts"):
            tiles = {(r["gx"], r["gy"]): r["cnt"] for r in
                     TL.tile_counts(pages, self.TILE_ZOOM).collect()}
        return self.pages, {"counts": counts, "tiles": tiles}

    def check(self, k: int, out: dict) -> list[str]:
        want_counts, want_tiles, _ = self.want
        return (O.compare_counts("pages in polygon", out["counts"], want_counts)
                + O.compare_counts("pages in z6 tile", out["tiles"], want_tiles))

    def layer_values(self, outs: list[dict]) -> dict:
        return {"spatial_join.split_edge_pages": self.want[2]}

    def probes(self, outs: list[dict]) -> dict:
        spark = self.env.spark
        pages = self._pages()
        keyed = SJ.with_cell_key(pages)
        geocode_s = _timed(lambda: _noop_write(keyed))
        cover = SJ.polygon_cover_df(spark, PL.POLYGONS)
        candidates = keyed.join(F.broadcast(cover), "cell_key").count()
        matches = sum(self.want[0].values())

        lon, lat = O.geocode_np(self.first_id, self.first_id + self.pages)
        batches = []
        for pf in PL.POLYGONS:
            g = W.parse_wkb(pf.wkb())
            if SJ.is_axis_rect(g):
                continue  # decided by the envelope filter, never refined
            x0, y0, x1, y1 = g.envelope()
            m = (lon > x0) & (lon < x1) & (lat > y0) & (lat < y1)
            px, py = lon[m], lat[m]
            for s in range(0, len(px), 65536):  # Arrow batch size
                batches.append((px[s:s + 65536], py[s:s + 65536], g))
        del lon, lat

        def pip():
            for px, py, g in batches:
                PIP.points_in_polygon(px, py, g)

        return {"sources.geocode_s": geocode_s,
                "spatial_join.candidate_pairs": candidates,
                "spatial_join.match_ratio": matches / candidates if candidates else 0.0,
                "kernels.pip_s": _timed(pip)}

    def companions(self) -> list[Workload]:
        return [QueryMix(self.env)]


class RasterPyramid(Workload):
    """Synthesize a base zoom, reduce it level by level with AVERAGE,
    checkpoint every level through the resumable stage writer, and encode
    every level's tiles as PNG. The seed picks the generator ``coeffs``."""

    name = "raster_pyramid"
    STAGE = "pyramid"
    layers = ("tiling.png_encode_s", "raster.synth_s", "raster_ops.pyramid_s",
              "lineage.run_stage_s", "lineage.completed_units_s",
              "lineage.bytes_written", "lineage.write_amplification",
              "kernels.average_2x2_s", "kernels.png_encode_s", "kernels.checksum_s")

    def __init__(self, env: Env, base_zoom: int = 4, levels: int = 2):
        self.env = env
        self.base_zoom = base_zoom
        self.zooms = list(range(base_zoom - 1, base_zoom - 1 - levels, -1))
        self.ckpt_dir = os.path.join(env.work_dir, "ckpt")
        self.tiles_per_op = sum(4 ** z for z in self.zooms)
        rng = random.Random(env.seed)
        self.coeffs = (rng.randrange(1, 255), rng.randrange(1, 255))
        self.want: dict = {}

    def prepare(self):
        os.makedirs(self.ckpt_dir, exist_ok=True)
        for z in self.zooms:
            for gx in range(1 << z):
                for gy in range(1 << z):
                    tile = O.pyramid_tile(self.coeffs, self.base_zoom, z, gx, gy)
                    self.want[(z, gx, gy)] = (O.digest(tile),
                                              np.floor(tile).astype(np.uint8))

    def _writer(self, k: int) -> StageWriter:
        writer = StageWriter(self.env.spark, os.path.join(self.ckpt_dir, f"op-{k}"),
                             f"op-{k}")
        inner = writer.completed_units

        def completed_units(stage):
            with self.env.span("lineage.completed_units"):
                return inner(stage)

        writer.completed_units = completed_units
        return writer

    def _level(self, writer: StageWriter, z: int):
        return (writer.read_stage(self.STAGE).filter(F.col("unit_id") == str(z))
                .drop("unit_id", "run_id"))

    def run_op(self, k: int):
        spark = self.env.spark
        writer = self._writer(k)

        def build_unit(unit: str):
            z = int(unit)
            if z == self.base_zoom - 1:
                src = RS.synth_tiles(spark, self.base_zoom, dataset_id="bench",
                                     coeffs=self.coeffs)
            else:
                src = self._level(writer, z + 1)
            return RO.pyramid_average(src)

        with self.env.span("lineage.run_stage"):
            levels = writer.run_stage(self.STAGE, [str(z) for z in self.zooms], build_unit)
        with self.env.span("tiling.png_encode"):
            pngs = TL.encode_png_tiles(levels.drop("unit_id", "run_id"), band=1).collect()
        return self.tiles_per_op, {"writer": writer, "pngs": pngs}

    def check(self, k: int, out: dict) -> list[str]:
        writer, want = out["writer"], self.want
        problems = []
        rows = {r["unit_id"]: r["rows"] for r in writer.metrics(self.STAGE).collect()}
        want_rows = {str(z): 4 ** z for z in self.zooms}
        if rows != want_rows:
            problems.append(f"rows per written unit {rows} != {want_rows}")

        got = {(r["zoom"], r["gx"], r["gy"]): r for r in
               writer.read_stage(self.STAGE).select(
                   "zoom", "gx", "gy", "dtype", "width", "height",
                   F.sha2("pixels", 256).alias("digest")).collect()}
        if set(got) != set(want):
            problems.append(f"{len(got)} tiles read back, expected {len(want)}")
        for key in sorted(set(got) & set(want)):
            r = got[key]
            if (r["dtype"], r["width"], r["height"]) != ("float64", O.TILE, O.TILE):
                problems.append(f"tile {key}: {r['dtype']} {r['width']}x{r['height']}")
            elif r["digest"] != want[key][0]:
                problems.append(f"tile {key}: pixel digest differs")

        pngs = {(r["zoom"], r["gx"], r["gy"]): r["png"] for r in out["pngs"]}
        if set(pngs) != set(want):
            problems.append(f"{len(pngs)} PNG tiles, expected {len(want)}")
        for key in sorted(set(pngs) & set(want)):
            try:
                img = O.decode_png_gray8(bytes(pngs[key]))
            except ValueError as e:
                problems.append(f"PNG {key}: {e}")
                continue
            if not np.array_equal(img, want[key][1]):
                problems.append(f"PNG {key}: decoded pixels differ")
        out["bytes_written"] = _dir_bytes(writer.root)
        return problems[:10]

    def layer_values(self, outs: list[dict]) -> dict:
        if not outs:
            return {}
        written = statistics.median(o["bytes_written"] for o in outs)
        raw = self.tiles_per_op * O.TILE * O.TILE * 8  # float64 pixels
        return {"lineage.bytes_written": written,
                "lineage.write_amplification": written / raw}

    def probes(self, outs: list[dict]) -> dict:
        spark, coeffs, writer = self.env.spark, self.coeffs, outs[-1]["writer"]
        synth_s = _timed(lambda: _noop_write(
            RS.synth_tiles(spark, self.base_zoom, dataset_id="bench", coeffs=coeffs)))
        pyramid_s = _timed(lambda: _noop_write(
            RO.pyramid_average(self._level(writer, self.zooms[0]))))

        z0 = self.base_zoom
        base = [O.pyramid_tile(coeffs, z0, z0, gx, gy).astype(np.uint8)
                for gx in range(1 << z0) for gy in range(1 << z0)]
        levels = [O.pyramid_tile(coeffs, z0, z, gx, gy) for z in self.zooms
                  for gx in range(1 << z) for gy in range(1 << z)]
        # each level is reduced from the one above it: base, then all but the last
        children = base + levels[:-(4 ** self.zooms[-1])]
        level_bytes = [np.floor(t).astype(np.uint8) for t in levels]

        def average():
            for t in children:
                R.average_2x2(t)

        def encode():
            for t in level_bytes:
                PNG.encode_png(t)

        def checksum():
            for t in base + levels:
                CK.checksum_image(t)

        return {"raster.synth_s": synth_s, "raster_ops.pyramid_s": pyramid_s,
                "kernels.average_2x2_s": _timed(average),
                "kernels.png_encode_s": _timed(encode),
                "kernels.checksum_s": _timed(checksum)}

    def cleanup(self, outs: list[dict]):
        for o in outs[:-1]:
            shutil.rmtree(o["writer"].root, ignore_errors=True)

    def close(self):
        shutil.rmtree(self.ckpt_dir, ignore_errors=True)


def _dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


# --- query_mix --------------------------------------------------------------

# Registered queries with exact oracles, one or more per family that the
# other two workloads skip; all read at most the documents table.
QUERY_MIX = (
    "c4_filters", "dedup_exact",            # corpus / dedup text
    "overlay_union", "clip_rect",           # overlay
    "contour_segments",                     # polygonize / contour
    "focal_stats",                          # focal
    "grid_metric_range",                    # grid
    "shortest_paths",                       # graph
)

VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = (("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14))


def write_corpus(path: str, n_docs: int = 5000, seed: int = 42):
    """A documents table shaped like the sf0.1 fixture: word-salad texts of
    10-100 words, 20 sources, five languages, 8 exact duplicates and 250
    one-word near duplicates (marked by the word ``dup``)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = random.Random(seed)
    texts = [" ".join(rng.choice(VOCAB) for _ in range(rng.randint(10, 100)))
             for _ in range(n_docs)]
    targets = rng.sample(range(n_docs // 2, n_docs), 258)
    for dst in targets[:8]:
        texts[dst] = texts[rng.randrange(n_docs // 2)]
    for dst in targets[8:]:
        words = texts[rng.randrange(n_docs // 2)].split()
        words[rng.randrange(len(words))] = "dup"
        texts[dst] = " ".join(words)
    langs, weights = zip(*LANGS)
    table = pa.table({
        "doc_id": pa.array(range(n_docs), pa.int64()),
        "text": texts,
        "lang": rng.choices(langs, weights, k=n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)


class QueryMix(Workload):
    """A fixed list of registered queries, run in a seeded order; each op
    is one query, collected and compared with its DuckDB oracle. It runs as
    one pass inside ``join_scan``'s traced pass, which times the
    ``entry_queries`` layer; it is not a workload of its own, because three
    workloads do not fit the benchmark's time budget on a noisy host."""

    name = "query_mix"

    def __init__(self, env: Env, names=QUERY_MIX):
        self.env = env
        self.order = list(names)
        random.Random(env.seed).shuffle(self.order)
        self.layers = ("entry_queries.build_s",) + tuple(f"query.{q}_s" for q in names)
        self.data_dir = os.path.join(env.work_dir, "tables")
        self.want: dict = {}

    def prepare(self):
        import duckdb

        os.makedirs(self.data_dir, exist_ok=True)
        docs = os.path.join(self.data_dir, "documents.parquet")
        write_corpus(docs)
        con = duckdb.connect()
        try:
            con.execute(f"SET threads = {self.env.cores}")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
            for name in self.order:
                cur = con.execute(EQ.ORACLES[name])
                cols = [d[0] for d in cur.description]
                self.want[name] = O.canonical_rows(cols, cur.fetchall())
        finally:
            con.close()

    def run_op(self, k: int):
        name = self.order[k % len(self.order)]
        print(f"[perfbench] op {k} runs {name}", file=sys.stderr)
        with self.env.span(f"query.{name}"):
            with self.env.span("entry_queries.build"):
                df = EQ.QUERIES[name](self.env.spark, self.data_dir)
            rows = df.collect()
        return 1, {"name": name, "columns": df.columns, "rows": rows}

    def check(self, k: int, out: dict) -> list[str]:
        got = O.canonical_rows(out["columns"], out["rows"])
        return [f"{out['name']}: {p}" for p in O.compare_rows(got, self.want[out["name"]])]


WORKLOADS = {w.name: w for w in (JoinScan, RasterPyramid)}
