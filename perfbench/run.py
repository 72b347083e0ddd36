#!/usr/bin/env python3
"""Benchmark of the spark-geo engine: one workload, one closed-loop client.

Run from the repository root:

    python3 perfbench/run.py --workload join_scan --seed 7 --seconds 20 --trace 0

One client in this process drives ``local[N]`` Spark (N = the CPUs this
process may use, all of them pinned): it sends the next op only after the
previous op has finished and its output has been checked against the
workload's oracle. After set-up and warm-up ops, ops run until they have
taken ``--seconds`` of op time.

The last line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json. ``--trace 1`` spends half of ``--seconds`` on a loop with
spans and Spark's event log on, and a quarter each on an untraced loop
before and after it; every loop starts on a fresh SparkContext after one
untimed op. After the traced loop it times single layers and runs any
companion query pass, with spans on. It reports the per-layer metrics;
spans go to perfbench/.work/traces/.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import statistics
import sys
import threading
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
# a run must exit within 180 s: past these ages it stops measuring, and the
# traced pass skips its registered-query pass (and then fails, see main)
DEADLINE_S = 140.0
COMPANION_DEADLINE_S = 125.0
DRIVER_MEMORY = "2g"


def process_start() -> float:
    """The perf_counter reading at which this process started."""
    now = time.perf_counter()
    try:
        with open("/proc/self/stat") as f:
            start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
        age = time.clock_gettime(time.CLOCK_BOOTTIME) - start_ticks / os.sysconf("SC_CLK_TCK")
    except (OSError, ValueError, IndexError):
        return now
    return now - age if 0.0 <= age < 60.0 else now


T_PROCESS = process_start()


# --- resident memory of the whole process tree ------------------------------


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            continue
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def process_tree(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_bytes(pids) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
    return total


class PeakRss(threading.Thread):
    """Samples the summed RSS of this process and all its descendants (the
    JVM, the Python worker daemon and its workers) every 50 ms, re-reading
    the process tree every 0.5 s."""

    def __init__(self, interval: float = 0.05, rescan_every: int = 10):
        super().__init__(daemon=True)
        self.interval = interval
        self.rescan_every = rescan_every
        self.peak = 0
        self._done = threading.Event()

    def run(self):
        pids, n = [], 0
        while not self._done.is_set():
            if n % self.rescan_every == 0:
                pids = process_tree(os.getpid())
            self.peak = max(self.peak, rss_bytes(pids))
            n += 1
            self._done.wait(self.interval)

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak / 2**20


# --- Spark session ----------------------------------------------------------


def configure(work: Path, cores: list[int]):
    """Pin this process (and so the JVM and Python workers it starts) to
    ``cores``, keep every file Spark writes inside ``work``, and put the
    repository on the Python workers' import path."""
    os.sched_setaffinity(0, cores)
    for d in ("spark-local", "tmp", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "spark-local")
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    java_opts = (f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'} "
                 f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf", "spark.ui.showConsoleProgress=false",
        "--conf", shlex.quote(f"spark.sql.warehouse.dir={work / 'warehouse'}"),
        "--driver-java-options", shlex.quote(java_opts),
        "pyspark-shell",
    ])
    sys.path.insert(0, str(ROOT))


def start_spark(n_cores: int, event_log: Path | None = None):
    """The engine's own session (``get_spark``) with an explicit core count.
    With ``event_log``, the new SparkContext writes an uncompressed event
    log there: the JVM is already up, so the settings go in as JVM system
    properties, which a new SparkConf reads (and which a later restart
    without ``event_log`` clears again)."""
    from pyspark import SparkContext

    from osgeo_gdal_spark.session import get_spark

    if SparkContext._jvm is not None:
        props = SparkContext._jvm.java.lang.System
        if event_log is None:
            props.clearProperty("spark.eventLog.enabled")
        else:
            event_log.mkdir(parents=True, exist_ok=True)
            for key, value in (("spark.eventLog.enabled", "true"),
                               ("spark.eventLog.compress", "false"),
                               ("spark.eventLog.dir", event_log.as_uri())):
                props.setProperty(key, value)
    spark = get_spark(app="perfbench", cores=n_cores)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm():
    """Stop the JVM this process launched and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def wait_for_children(timeout: float = 30.0):
    deadline = time.monotonic() + timeout
    while len(process_tree(os.getpid())) > 1 and time.monotonic() < deadline:
        time.sleep(0.1)


# --- the closed loop --------------------------------------------------------


class OpRecord:
    __slots__ = ("k", "wl", "secs", "items", "ok", "out")

    def __init__(self, k, wl, secs, items, ok, out):
        self.k, self.wl, self.secs, self.items, self.ok, self.out = (
            k, wl, secs, items, ok, out)


class Runner:
    """The closed loop: numbers ops across workloads and keeps every record."""

    def __init__(self, env):
        self.env = env
        self.records: list[OpRecord] = []
        self.next_k = 0

    def one_op(self, wl) -> OpRecord:
        k, self.next_k = self.next_k, self.next_k + 1
        spark, tracer = self.env.spark, self.env.tracer
        sc = spark.sparkContext
        sc.setJobGroup(f"op-{k}", f"{wl.name} op {k}")
        t0 = time.perf_counter()
        try:
            with tracer.span("op", op=k):
                items, out = wl.run_op(k)
        except Exception:
            traceback.print_exc()
            rec = OpRecord(k, wl, time.perf_counter() - t0, 0, False, None)
        else:
            secs = time.perf_counter() - t0
            sc.setJobGroup(f"check-{k}", f"{wl.name} check {k}")
            try:
                with tracer.span("check", op=k):
                    problems = wl.check(k, out)
            except Exception:
                traceback.print_exc()
                problems = ["check raised"]
            for p in problems:
                print(f"[perfbench] op {k} FAILED: {p}", file=sys.stderr)
            rec = OpRecord(k, wl, secs, items, not problems, out)
        print(f"[perfbench] op {k}: {rec.secs:.3f} s, {rec.items} items, "
              f"{'ok' if rec.ok else 'FAILED'}", file=sys.stderr)
        sc.setJobGroup("idle", "between ops")
        spark.catalog.clearCache()
        self.records.append(rec)
        wl.cleanup([r.out for r in self.records if r.wl is wl and r.out is not None])
        return rec

    def run_ops(self, wl, n: int) -> list[OpRecord]:
        return [self.one_op(wl) for _ in range(n)]

    def measure(self, wl, seconds: float) -> list[OpRecord]:
        """Ops until they have taken ``seconds`` of op time."""
        recs, busy = [], 0.0
        while busy < seconds:
            if time.perf_counter() - T_PROCESS > DEADLINE_S and recs:
                print("[perfbench] deadline reached, measurement cut short",
                      file=sys.stderr)
                break
            rec = self.one_op(wl)
            recs.append(rec)
            busy += rec.secs
        return recs


def throughput(recs: list[OpRecord]) -> float:
    """Median over the checked ops of items per second of op time: one op
    caught in a slow stretch of the host moves it no more than any other."""
    rates = [r.items / r.secs for r in recs if r.ok and r.secs > 0]
    return statistics.median(rates) if rates else 0.0


def load_benchmark() -> dict:
    with open(ROOT / "BENCHMARK.json") as f:
        return json.load(f)


def end_to_end(recs, setup_s: float, peak_mb: float) -> dict:
    return {
        "items_per_s": throughput(recs),
        "op_p50_s": statistics.median(r.secs for r in recs),
        "setup_s": setup_s,
        "peak_rss_mb": peak_mb,
    }


SPARK_COUNTERS = ("jobs", "stages", "tasks", "task_failures", "executor_run_s",
                  "executor_cpu_s", "python_boot_s", "arrow_bytes_to_python",
                  "arrow_bytes_from_python", "shuffle_write_bytes")
# per-layer metrics every traced run measures, whatever the workload
COMMON_LAYERS = ("check_s", *(f"spark.{key}" for key in SPARK_COUNTERS),
                 "driver.plan_s", "trace.untraced_items_per_s",
                 "trace.traced_items_per_s", "trace.overhead_items_per_s")


def per_layer(wl, tracer, untraced, traced, companion, probes, groups) -> dict:
    done = [r for r in traced if r.ok]
    spanned = {r.k for r in done + companion if r.ok}
    values = {f"{name}_s": statistics.median(secs)
              for name, secs in tracer.per_op_totals(spanned).items()
              if name != "op"}
    values.update(wl.layer_values([r.out for r in done]))
    values.update(probes)
    logged = [(r, groups[f"op-{r.k}"]) for r in done if f"op-{r.k}" in groups]
    if logged:
        for key in SPARK_COUNTERS:
            values[f"spark.{key}"] = statistics.mean(g[key] for _, g in logged)
        values["driver.plan_s"] = statistics.mean(r.secs - g["job_span_s"] for r, g in logged)
    before, after = throughput(untraced), throughput(traced)
    values["trace.untraced_items_per_s"] = before
    values["trace.traced_items_per_s"] = after
    values["trace.overhead_items_per_s"] = after - before
    return values


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "osgeo_gdal_spark" / "__init__.py").is_file():
        print(f"[perfbench] engine package not found under {ROOT}", file=sys.stderr)
        return 2
    bench = load_benchmark()
    names = [w["name"] for w in bench["workloads"]]
    if args.workload not in names:
        print(f"[perfbench] unknown workload {args.workload!r}; one of {names}",
              file=sys.stderr)
        return 2

    cores = sorted(os.sched_getaffinity(0))
    work = HERE / ".work" / f"run-{args.workload}-{os.getpid()}"
    configure(work, cores)
    rss = PeakRss()
    rss.start()

    import tracing
    import workloads

    tracer = tracing.Tracer()
    env = workloads.Env(None, args.seed, str(work), tracer, len(cores))
    wl = workloads.WORKLOADS[args.workload](env)
    runner = Runner(env)

    def restart(event_log: Path | None = None):
        """A new SparkContext on the same JVM, then one untimed op, which
        starts the new context's Python workers."""
        env.spark.stop()
        env.spark = start_spark(len(cores), event_log)
        runner.run_ops(wl, 1)

    layers: tuple[str, ...] = ()
    try:
        env.spark = start_spark(len(cores))
        wl.prepare()
        runner.run_ops(wl, wl.warmup_ops)
        setup_s = time.perf_counter() - T_PROCESS
        if args.trace:
            # untraced, traced, untraced: each loop follows a fresh context
            # and one op, and ops still drifting faster weigh on both sides
            restart()
            untraced = runner.measure(wl, args.seconds / 4)
            restart(event_log=work / "eventlog")
            tracer.enabled = True
            traced = runner.measure(wl, args.seconds / 2)
            env.spark.sparkContext.setJobGroup("probe", "single-layer timings")
            probes = wl.probes([r.out for r in traced if r.ok]) if any(
                r.ok for r in traced) else {}
            layers = COMMON_LAYERS + wl.layers
            companion = []
            for other in wl.companions():
                layers += other.layers
                if time.perf_counter() - T_PROCESS > COMPANION_DEADLINE_S:
                    print(f"[perfbench] no time left for {other.name}", file=sys.stderr)
                    continue
                other.prepare()
                companion += runner.run_ops(other, len(other.order))
            tracer.enabled = False
            restart()
            untraced += runner.measure(wl, args.seconds / 4)
        else:
            untraced = runner.measure(wl, args.seconds)
        env.spark.stop()
        shutdown_jvm()
        wait_for_children()
        peak_mb = rss.stop()

        if args.trace:
            values = per_layer(wl, tracer, untraced, traced, companion, probes,
                               tracing.fold_event_log(str(work / "eventlog")))
            spec = bench["per_layer"]
            tracer.dump(str(HERE / ".work" / "traces" / f"{args.workload}-seed{args.seed}.json"),
                        {"workload": args.workload, "seed": args.seed, "metrics": values})
        else:
            values = end_to_end(untraced, setup_s, peak_mb)
            spec = bench["end_to_end"]
    finally:
        wl.close()
        shutil.rmtree(work, ignore_errors=True)

    attempted = len(runner.records)
    failed = sum(not r.ok for r in runner.records)
    # a layer the workload calls but the traced pass did not measure (a
    # skipped companion pass, an empty event log) must not read as 0 s: the
    # per-layer pass then counts as one more op, a failed one
    missing = [name for name in layers if name not in values]
    if missing:
        print(f"[perfbench] per-layer pass FAILED, not measured: {missing}",
              file=sys.stderr)
        attempted, failed = attempted + 1, failed + 1
    # layers this workload never calls report 0
    metrics = {m["name"]: {"value": values.get(m["name"], 0.0), "unit": m["unit"]}
               for m in spec}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
