#!/usr/bin/env python
"""Round-6 optimization harness (guide §1): per-query noop-sink timing
and .explain("formatted") capture into plans/r06/.

bench.py is FROZEN for driver measurement; this file holds the extra
instrumentation the optimization round needs. Usage:

  python bench_extra.py time  [query ...]     # noop-sink per-query seconds
  python bench_extra.py plans [query ...]     # write plans/r06/<q>_<tag>.txt

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf1.0 here — the scale
the driver measured round 5 at), SPARK_GRAFT_CPUS (default 32),
SPARK_GRAFT_PLAN_TAG (default "before").
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
TAG = os.environ.get("SPARK_GRAFT_PLAN_TAG", "before")
REPS = int(os.environ.get("SPARK_GRAFT_EXTRA_REPS", "3"))

HEADLINE = [
    "extract_e2e", "q1_pricing", "q3_revenue", "dedup_minhash_lsh",
    "dedup_ngram_jaccard", "dedup_simhash", "ann_topk_cosine",
    "sessionize", "text_quality", "window_hourly",
]


def _spark():
    from onnxocr_ray_spark.session import get_spark

    spark = get_spark(
        app_name="onnxocr_ray_spark_bench_extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=CPUS,
    )
    return spark


def materialize(df):
    df.write.mode("overwrite").format("noop").save()


def _timed(spark, queries, name, reps=REPS):
    """Best-of-reps build+materialize seconds (same methodology as
    bench.py's per-pass minimum)."""
    best = None
    for _ in range(reps):
        t0 = time.perf_counter()
        df = queries[name].fn(spark, SF_DIR)
        spark.sparkContext.setJobDescription(f"bench_extra:{name}")
        materialize(df)
        dt = time.perf_counter() - t0
        best = dt if best is None or dt < best else best
        spark.catalog.clearCache()
    return best


def cmd_time(names):
    from onnxocr_ray_spark.registry import load_all

    spark = _spark()
    queries = load_all()
    # warm JVM + python worker pool
    materialize(queries["q1_pricing"].fn(spark, SF_DIR))
    materialize(queries["dedup_simhash"].fn(spark, SF_DIR))
    spark.catalog.clearCache()
    out = {}
    for name in names or HEADLINE:
        out[name] = round(_timed(spark, queries, name), 3)
        print(f"{name}: {out[name]}", file=sys.stderr)
    print(json.dumps({"sf_dir": SF_DIR, "cpus": CPUS, "queries": out,
                      "total": round(sum(out.values()), 3)}))


def cmd_plans(names):
    from onnxocr_ray_spark.registry import load_all

    spark = _spark()
    queries = load_all()
    plans_dir = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                             "plans", "r06")
    os.makedirs(plans_dir, exist_ok=True)
    for name in names or HEADLINE:
        df = queries[name].fn(spark, SF_DIR)
        plan = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
                "formatted"
            )
        )
        path = os.path.join(plans_dir, f"{name}_{TAG}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path}", file=sys.stderr)


if __name__ == "__main__":
    cmd = sys.argv[1] if len(sys.argv) > 1 else "time"
    names = sys.argv[2:]
    {"time": cmd_time, "plans": cmd_plans}[cmd](names)
