"""Benchmark driver: one workload, one Spark session, one JSON result.

    python3 perfbench/run.py --workload crawl_commit --seed 1 --seconds 20 --trace 0

Run from the repository root. The program is imported from the current
directory; all files the run writes (inputs, page cache, outputs, Spark
scratch, event log, temp files) go under ``perfbench/.run/`` there, and
the traced run's spans go to ``perfbench/.run/traces/``. The last line of
standard output is the result object; the lines before it print every
metric with its unit, the input's measured properties and the check
results. See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

T_START = time.perf_counter()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
MIN_OPS = 2


def _isolate(work: str) -> dict:
    """Point every scratch location of Python, Spark and the JVM into
    ``work`` so the run reuses nothing from earlier runs."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "spark-local", "eventlog", "warehouse")}
    for d in dirs.values():
        os.makedirs(d)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["spark-local"]
    # no hsperfdata files in the system temp dir from the launcher JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_DRIVER_MEM"] = "4g"
    # each task of the fused extract stage and of the near-dup kernels
    # keeps a JVM thread and a Python worker busy at once, so half the
    # cores as task slots already fill the host; measured as fast as all
    # of them, and slowed less while the host's other tenants took CPU
    os.environ["SPARK_GRAFT_CPUS"] = str(max(1, len(os.sched_getaffinity(0)) // 2))
    return dirs


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and its Python workers) to
    exit. A second call does nothing."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(120)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "onnxocr_ray_spark")):
        print("perfbench: run from the repository root (onnxocr_ray_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import workloads as wl
    from spans import JobCounter, Tracer, event_log_totals

    if args.workload not in wl.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(BENCH_DIR, ".run", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    dirs = _isolate(work)
    traced = bool(args.trace)
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    from onnxocr_ray_spark.session import get_spark

    conf = {
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={dirs['tmp']} -XX:-UsePerfData",
        "spark.local.dir": dirs["spark-local"],
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.ui.showConsoleProgress": "false",
    }
    if traced:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.dir": "file://" + dirs["eventlog"]})
    tracer = Tracer(traced)
    with tracer.span("session.start") as start:
        t0 = time.perf_counter()
        spark = get_spark(extra_conf=conf)
        start["s"] = time.perf_counter() - t0
    try:
        ctx = wl.Ctx(spark=spark, tracer=tracer, jobs=JobCounter(spark) if traced else None,
                     work=work, seed=args.seed)
        ctx.layer["session.start_s"] = [start["s"]]
        workload = wl.WORKLOADS[args.workload]()
        with tracer.span("setup"):
            props = workload.setup(ctx)
        setup_s = time.perf_counter() - T_START

        # closed loop, one operation at a time, until --seconds of
        # operation time have been spent (and at least MIN_OPS attempts)
        op_s, docs, errors, spent = [], [], 0, 0.0
        loop_t0 = time.time()
        while spent < args.seconds or len(op_s) + errors < MIN_OPS:
            i = len(op_s) + errors
            t0 = time.perf_counter()
            try:
                with tracer.span("op", i=i):
                    n = workload.op(ctx, i)
            except Exception:
                traceback.print_exc()
                errors += 1
                spent += time.perf_counter() - t0
                continue
            op_s.append(time.perf_counter() - t0)
            spent += op_s[-1]
            docs.append(n)
            if traced:
                workload.probe(ctx)
        loop_t1 = time.time()

        with tracer.span("check"):
            checks = workload.check(ctx)
        props.update(workload.input_props(ctx))
        if traced:
            with tracer.span("idle_layer_probe"):
                wl.idle_layer_probe(ctx, workload)
            # the event log is complete only once the session has stopped
            _stop(spark)
            spark_totals = event_log_totals(dirs["eventlog"], loop_t0, loop_t1, cores)
    finally:
        _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    if not op_s:
        print("perfbench: every operation failed", file=sys.stderr)
        return 1

    attempted = errors + len(checks)
    failed = errors + checks.count(False)
    e2e = {
        "docs_per_sec": (sum(docs) / spent, "1/s"),
        "op_p50_s": (statistics.median(op_s), "s"),
        "setup_s": (setup_s, "s"),
        "ok_op_share": ((attempted - failed) / attempted, "ratio"),
    }
    if traced:
        metrics = {}
        for k, v in sorted(ctx.layer.items()):
            unit = _unit(k)
            # counts report an observed value, never an average of two
            mid = statistics.median_low(v) if unit == "count" else statistics.median(v)
            metrics[k] = (mid, unit)
        metrics.update({k: (v, _unit(k)) for k, v in spark_totals.items()})
        metrics["trace.docs_per_sec"] = (e2e["docs_per_sec"][0], "1/s")
        metrics["trace.op_p50_s"] = (e2e["op_p50_s"][0], "s")
        trace_dir = os.path.join(BENCH_DIR, ".run", "traces")
        os.makedirs(trace_dir, exist_ok=True)
        tracer.write(os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json"))
    else:
        metrics = e2e

    print(f"workload {args.workload} seed {args.seed} trace {args.trace}: "
          f"{len(op_s)} timed ops, {docs[0]} docs/op, op seconds "
          + " ".join(f"{t:.3f}" for t in op_s))
    print("  input: " + ", ".join(f"{k}={v}" for k, v in props.items()))
    print(f"  checks: {attempted - failed}/{attempted} passed; "
          f"failed_op_share={failed / attempted:.4f}")
    for k, (v, unit) in metrics.items():
        print(f"  {k} = {v:.6g} {unit}" + (f" (median of {len(op_s)} ops)" if k == "op_p50_s" else ""))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


def _unit(name: str) -> str:
    if name.endswith("_ms"):
        return "ms"
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes"):
        return "bytes"
    if name.endswith((".jobs", ".rows")):
        return "count"
    return "ratio"


if __name__ == "__main__":
    sys.exit(main())
