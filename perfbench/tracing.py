"""Spans kept in memory, and Spark's event log folded per job group.

A span records name, start, end, parent and the op it belongs to; spans
are written out once, when the benchmark ends. The benchmark tags every
Spark job with ``setJobGroup`` (``op-<k>``, ``check-<k>``, ``probe-...``);
``fold_event_log`` sums the log's task and stage metrics per group.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        self._next_id += 1
        rec = {"id": self._next_id, "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None,
               "op": attrs.pop("op", self._stack[0]["op"] if self._stack else None),
               **attrs}
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)

    def per_op_totals(self, ops) -> dict[str, list[float]]:
        """span name -> [seconds summed within one op], one entry per op in
        ``ops`` that has such a span."""
        sums: dict[str, dict] = {}
        for s in self.spans:
            if s["op"] in ops:
                d = sums.setdefault(s["name"], {})
                d[s["op"]] = d.get(s["op"], 0.0) + s["end"] - s["start"]
        return {name: list(d.values()) for name, d in sums.items()}

    def dump(self, path: str, extra: dict):
        """Write spans (with self time: duration minus the part covered by
        child spans) plus ``extra`` as one JSON document."""
        children: dict = {}
        for s in self.spans:
            children.setdefault(s["parent"], []).append(s)
        t0 = min((s["start"] for s in self.spans), default=0.0)
        out = []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            dur = s["end"] - s["start"]
            covered = _union_length(
                [(c["start"], c["end"]) for c in children.get(s["id"], [])])
            out.append({**s, "start": s["start"] - t0, "end": s["end"] - t0,
                        "dur_s": dur, "self_s": dur - covered})
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({**extra, "spans": out}, f, indent=1)


def _union_length(intervals) -> float:
    total, end = 0.0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


# --- Spark event log -------------------------------------------------------

PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
SHUFFLE_WRITE = "internal.metrics.shuffle.write.bytesWritten"


def _new_group():
    return {"jobs": 0, "stages": 0, "tasks": 0, "task_failures": 0,
            "executor_run_s": 0.0, "executor_cpu_s": 0.0, "python_boot_s": 0.0,
            "arrow_bytes_to_python": 0, "arrow_bytes_from_python": 0,
            "shuffle_write_bytes": 0, "job_spans": []}


def fold_event_log(log_dir: str) -> dict[str, dict]:
    """job group -> summed metrics. Reads the uncompressed event log(s)
    Spark wrote under ``log_dir`` (rolling or single-file layout)."""
    files = sorted(p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
                   if os.path.isfile(p) and not os.path.basename(p).startswith(
                       (".", "appstatus")))
    groups: dict[str, dict] = {}
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, int] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (e.get("Properties") or {}).get("spark.jobGroup.id") or "none"
                    job_group[e["Job ID"]] = g
                    job_start[e["Job ID"]] = e["Submission Time"]
                    groups.setdefault(g, _new_group())["jobs"] += 1
                    for sid in e["Stage IDs"]:
                        stage_group[sid] = g
                elif kind == "SparkListenerJobEnd":
                    jid = e["Job ID"]
                    if jid in job_group:
                        groups[job_group[jid]]["job_spans"].append(
                            (job_start[jid] / 1000.0, e["Completion Time"] / 1000.0))
                elif kind == "SparkListenerStageCompleted":
                    info = e["Stage Info"]
                    g = groups.setdefault(stage_group.get(info["Stage ID"], "none"),
                                          _new_group())
                    g["stages"] += 1
                    for acc in info.get("Accumulables", []):
                        name, val = acc.get("Name"), acc.get("Value")
                        if name in PY_BOOT:
                            g["python_boot_s"] += int(val) / 1000.0
                        elif name == PY_SENT:
                            g["arrow_bytes_to_python"] += int(val)
                        elif name == PY_RECV:
                            g["arrow_bytes_from_python"] += int(val)
                        elif name == SHUFFLE_WRITE:
                            g["shuffle_write_bytes"] += int(val)
                elif kind == "SparkListenerTaskEnd":
                    g = groups.setdefault(stage_group.get(e["Stage ID"], "none"),
                                          _new_group())
                    g["tasks"] += 1
                    if (e.get("Task End Reason") or {}).get("Reason") != "Success":
                        g["task_failures"] += 1
                    tm = e.get("Task Metrics") or {}
                    g["executor_run_s"] += tm.get("Executor Run Time", 0) / 1000.0
                    g["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
    for g in groups.values():
        g["job_span_s"] = _union_length(g.pop("job_spans"))
    return groups
