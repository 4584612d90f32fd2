"""In-memory spans, Spark job counting and event-log totals.

Spans are recorded by the benchmark around its calls into the program's
layers; nothing inside the program is instrumented. A disabled tracer
(``Tracer(False)``) records nothing, so the untraced run pays only a
context-manager call per boundary.
"""

from __future__ import annotations

import glob
import itertools
import json
import os
import time
from contextlib import contextmanager


class Tracer:
    """Spans held in memory: name, start, end, parent, and counters."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list = []
        self._stack: list = []
        self._ids = itertools.count(1)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield attrs
            return
        sid = next(self._ids)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        start = time.perf_counter()
        try:
            yield attrs
        finally:
            end = time.perf_counter()
            self._stack.pop()
            self.spans.append(
                {"id": sid, "parent": parent, "name": name,
                 "start": start, "end": end, **attrs}
            )

    def self_times(self) -> dict:
        """Per span name: count, total seconds and self seconds (duration
        minus the part covered by direct children, which nest strictly)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        out = {}
        for s in self.spans:
            dur = s["end"] - s["start"]
            agg = out.setdefault(s["name"], {"count": 0, "total_s": 0.0, "self_s": 0.0})
            agg["count"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - child.get(s["id"], 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "self_times": self.self_times()}, fh)


class JobCounter:
    """Exact Spark job counts per call, through job groups."""

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._ids = itertools.count()

    @contextmanager
    def group(self, out: dict):
        """Count the jobs the block starts into ``out["jobs"]``."""
        gid = f"perfbench-{next(self._ids)}"
        self._sc.setJobGroup(gid, gid)
        try:
            yield
        finally:
            # PySpark's SparkContext has setJobGroup but no clearJobGroup
            self._sc._jsc.clearJobGroup()
            out["jobs"] = len(self._sc.statusTracker().getJobIdsForGroup(gid))


def event_log_totals(log_dir: str, t0: float, t1: float, cores: int) -> dict:
    """Task totals from Spark's JSON event log for tasks launched in the
    epoch interval ``[t0, t1]``. Read after the session stops, when the
    log is complete."""
    run_ms = cpu_ns = shuffle_w = spill = 0
    for path in glob.glob(os.path.join(log_dir, "*")):
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerTaskEnd"' not in line:
                    continue
                ev = json.loads(line)
                launch = ev["Task Info"]["Launch Time"] / 1000.0
                m = ev.get("Task Metrics")
                if m is None or not t0 <= launch <= t1:
                    continue
                run_ms += m["Executor Run Time"]
                cpu_ns += m["Executor CPU Time"]
                shuffle_w += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                spill += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
    wall = max(t1 - t0, 1e-9)
    return {
        "spark.executor_run_s": run_ms / 1000.0,
        "spark.executor_cpu_s": cpu_ns / 1e9,
        "spark.shuffle_write_bytes": shuffle_w,
        "spark.spill_bytes": spill,
        "spark.slot_util": run_ms / 1000.0 / (wall * cores),
    }
