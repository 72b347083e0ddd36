#!/usr/bin/env python3
"""Self-test of the benchmark: every workload at a tiny size, its checks
passing on the engine's real output and rejecting perturbed outputs.

Run from the repository root (about two minutes on 4 cores):

    python3 perfbench/selftest.py

Exits 0 when every assertion holds.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import sys

import run as R


def expect(cond: bool, what: str, failures: list):
    print(f"[selftest] {'ok  ' if cond else 'FAIL'} {what}", file=sys.stderr)
    if not cond:
        failures.append(what)


def check_benchmark_file(workloads, failures):
    bench = R.load_benchmark()
    expect([w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS),
           "BENCHMARK.json names the workloads", failures)
    names = {m["name"] for m in bench["per_layer"]}
    measured = {*R.COMMON_LAYERS, "entry_queries.build_s",
                *(f"query.{q}_s" for q in workloads.QUERY_MIX),
                *(name for w in workloads.WORKLOADS.values() for name in w.layers)}
    expect(names == measured,
           "BENCHMARK.json names exactly the per-layer metrics the traced pass measures",
           failures)


def test_join(env, workloads, failures):
    # doc_id 1000047168 geocodes to (-180.0, 57.941): on the split edge of the
    # dateline polygon, which the GDAL rule puts outside it
    wl = workloads.JoinScan(env, pages_per_op=200_000, partitions=4)
    wl.first_id = 1000047168 - 100_000
    wl.prepare()
    try:
        items, out = wl.run_op(0)
        expect(wl.check(0, out) == [], "join_scan output matches the oracle", failures)
        expect(wl.want[2] >= 1, "a split-edge page is in the input", failures)
        key = max(out["counts"], key=out["counts"].get)
        out["counts"][key] += 1
        expect(wl.check(0, out) != [], "join_scan check rejects a count off by one",
               failures)
        out["counts"][key] -= 1
        tile = next(iter(out["tiles"]))
        out["tiles"][tile] -= 1
        expect(wl.check(0, out) != [], "join_scan check rejects a tile count off by one",
               failures)
    finally:
        wl.close()


def rewrite_parquet(path: str, table):
    """Overwrite one data file of a written unit, dropping its checksum
    sidecar so the reader sees the new bytes."""
    import pyarrow.parquet as pq

    pq.write_table(table, path)
    crc = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.crc")
    if os.path.exists(crc):
        os.remove(crc)


def test_raster(env, workloads, failures):
    import numpy as np
    import pyarrow.parquet as pq

    from osgeo_gdal_spark.kernels import png as PNG

    import oracles as O

    wl = workloads.RasterPyramid(env, base_zoom=2, levels=2)
    wl.prepare()
    try:
        items, out = wl.run_op(0)
        expect(wl.check(0, out) == [], "raster_pyramid output matches the oracle", failures)

        good = out["pngs"]
        row = good[0]
        img = O.decode_png_gray8(bytes(row["png"]))
        img[3, 5] ^= 1
        out["pngs"] = [{**row.asDict(), "png": PNG.encode_png(img)}] + good[1:]
        expect(wl.check(0, out) != [], "raster_pyramid check rejects one flipped PNG pixel",
               failures)
        out["pngs"] = good

        part = sorted(glob.glob(os.path.join(out["writer"].root, "**", "data", "0",
                                             "*.parquet"), recursive=True))[0]
        table = pq.read_table(part)
        pixels = table.column("pixels").to_pylist()
        tile = np.frombuffer(pixels[0], dtype=np.float64).copy()
        tile[7] += 1.0
        pixels[0] = tile.tobytes()
        rewrite_parquet(part, table.set_column(table.schema.get_field_index("pixels"),
                                               "pixels", [pixels]))
        expect(wl.check(0, out) != [], "raster_pyramid check rejects one changed pixel",
               failures)

        part = sorted(glob.glob(os.path.join(out["writer"].root, "**", "data", "1",
                                             "*.parquet"), recursive=True))[0]
        table = pq.read_table(part)
        rewrite_parquet(part, table.slice(1))
        expect(wl.check(0, out) != [], "raster_pyramid check rejects a unit missing a row",
               failures)
    finally:
        wl.close()


def test_queries(env, workloads, failures):
    wl = workloads.QueryMix(env, names=("clip_rect", "dedup_exact"))
    wl.prepare()
    for k in range(2):
        items, out = wl.run_op(k)
        expect(wl.check(k, out) == [], f"query {out['name']} matches its oracle", failures)
        rows = out["rows"]
        first = rows[0].asDict()
        col = next(c for c, v in first.items() if isinstance(v, (int, float))
                   and not isinstance(v, bool))
        first[col] += 1
        out["rows"] = [type(rows[0])(**first)] + rows[1:]
        expect(wl.check(k, out) != [], f"query {out['name']} check rejects one changed value",
               failures)
        out["rows"] = rows[1:]
        expect(wl.check(k, out) != [], f"query {out['name']} check rejects a missing row",
               failures)


def main() -> int:
    cores = sorted(os.sched_getaffinity(0))
    work = R.HERE / ".work" / f"selftest-{os.getpid()}"
    R.configure(work, cores)

    import tracing
    import workloads

    failures: list[str] = []
    env = workloads.Env(None, 1, str(work), tracing.Tracer(), len(cores))
    try:
        check_benchmark_file(workloads, failures)
        env.spark = R.start_spark(len(cores))
        test_join(env, workloads, failures)
        test_raster(env, workloads, failures)
        test_queries(env, workloads, failures)
        env.spark.stop()
        R.shutdown_jvm()
        R.wait_for_children()
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"selftest": "pass" if not failures else "fail",
                      "failures": failures}))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
