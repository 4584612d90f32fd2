#!/usr/bin/env python
"""Benchmark runner (driver contract), throttle-robust.

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value", "unit", "queries", "sf", ...}.

Timing excludes session startup; each query is materialized with the
noop sink (full execution, no driver-side result pull).

This VM throttles CPU in minutes-long bursts (identical jobs measured
22.8 s -> 70.9 s across windows; BENCH/BASELINE.md §3), so a single
timing window can over-report everything 3-4x. Methodology:

1. A Spark-free kernel probe gates the start: if the host is visibly
   throttled (single-process extraction rate under PROBE_FLOOR), wait
   up to ~4 minutes for the window to pass before measuring.
2. The headline list is timed in up to MAX_PASSES full passes, each a
   separate time window (separated by a pause when the pass looks
   throttled); the per-query minimum across passes is reported. A pass
   whose running total already beats TARGET_TOTAL ends the loop early,
   so a clean host costs one pass.
3. The probe rate before each pass is recorded in the output for
   honesty; BENCH/scaling.json (bench_scaling.py, probe-gated paired
   rounds) is embedded as the two-cluster-size scaling evidence.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "extract_e2e",          # flagship three-stage extraction
    "q1_pricing",
    "q3_revenue",
    "dedup_minhash_lsh",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "ann_topk_cosine",
    "sessionize",
    "text_quality",
    "window_hourly",
]

# Clean-host calibration (BENCH/BASELINE.md §3): single-process kernel
# rate measures ~1650-1700 docs/s in clean windows with the round-3
# tokenizer; mediocre windows read ~1100-1400 and shuffle-heavy queries
# amplify host steal through their stage barriers (measured 2.2 s ->
# 29 s on an identical plan). Gate the start at ~60% of clean; the
# multi-pass minimum handles moderate noise after that.
PROBE_FLOOR = float(os.environ.get("SPARK_GRAFT_PROBE_FLOOR", "1000"))
# Clean-window headline total measured 13-17 s at local[32]/sf0.1; a
# pass whose total-of-minimums is under this is accepted as clean.
TARGET_TOTAL = float(os.environ.get("SPARK_GRAFT_TARGET_TOTAL", "18"))
MAX_PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
# always take at least two passes: a single-shot timing conflates one
# query with one scheduling hiccup; two passes give every query a
# same-session minimum even when pass 1 already beats the target
MIN_PASSES = int(os.environ.get("SPARK_GRAFT_BENCH_MIN_PASSES", "2"))
PASS_PAUSE_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_PAUSE", "45"))


def materialize(df) -> int:
    df.write.mode("overwrite").format("noop").save()
    return 0


def kernel_probe_rate() -> float:
    """Single-process extraction-kernel docs/s (Spark-free, ~1.5 s)."""
    from bench_scaling import _probe_worker

    return _probe_worker(1500)


def wait_for_clean_window(max_wait_sec: float = 240) -> float:
    """Block until the host probe clears PROBE_FLOOR or the budget runs
    out; returns the last probe rate either way."""
    deadline = time.monotonic() + max_wait_sec
    while True:
        rate = kernel_probe_rate()
        if rate >= PROBE_FLOOR or time.monotonic() >= deadline:
            return rate
        time.sleep(min(30, max(1, deadline - time.monotonic())))


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", "") or 0.1)

    from onnxocr_ray_spark.session import get_spark
    from onnxocr_ray_spark.registry import load_all
    from onnxocr_ray_spark.packaging import ship_package

    spark = get_spark(
        app_name="onnxocr_ray_spark_bench",
        master=f"local[{cpus}]",
        shuffle_partitions=cpus,
    )
    ship_package(spark)
    queries = load_all()

    # count docs once for the throughput figure (outside timed sections)
    import duckdb

    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{sf_dir}/documents.parquet'"
    ).fetchone()[0]

    # Warm the JVM (codegen/JIT) AND the executor Python worker pool, so
    # the timings below measure the queries, not first-run compilation or
    # the ~1-2 s spin-up of 32 Python workers (q1 is JVM-only;
    # dedup_simhash is an Arrow/mapInPandas stage).
    materialize(queries["q1_pricing"].fn(spark, sf_dir))
    materialize(queries["dedup_simhash"].fn(spark, sf_dir))

    probe_rates = [wait_for_clean_window()]

    timings: dict = {}
    for pass_i in range(MAX_PASSES):
        for name in HEADLINE:
            q = queries[name]
            # time build + execute together: a query may run jobs at
            # build time (extract()'s straggler probe), so timing only
            # the final action would under-report it
            t0 = time.perf_counter()
            df = q.fn(spark, sf_dir)
            materialize(df)
            dt = time.perf_counter() - t0
            if name not in timings or dt < timings[name]:
                timings[name] = dt
            spark.catalog.clearCache()
        total = sum(timings.values())
        if pass_i + 1 >= MAX_PASSES:
            break
        if pass_i + 1 >= MIN_PASSES and total <= TARGET_TOTAL:
            break
        if total > TARGET_TOTAL:
            # pass looked throttled: let the window move on, then re-gate
            time.sleep(PASS_PAUSE_SEC)
            probe_rates.append(wait_for_clean_window(max_wait_sec=120))

    timings = {k: round(v, 3) for k, v in timings.items()}
    total = round(sum(timings.values()), 3)

    # Throughput figure on a corpus big enough that per-job fixed costs
    # (probe, scheduling, plan build) amortize — the quantity that
    # matters at 100 TB. The 5k-doc headline timing above is dominated
    # by ~1s of fixed cost at local[32].
    from onnxocr_ray_spark.operators.extract import extract
    from onnxocr_ray_spark.sources.pages import pages_table

    tp_pages = pages_table(spark, sf_dir, copies=4)
    tp_docs = tp_pages.count()
    tp_best = None
    for _rep in range(3):
        t0 = time.perf_counter()
        materialize(extract(tp_pages))
        dt = time.perf_counter() - t0
        tp_best = dt if tp_best is None or dt < tp_best else tp_best
        spark.catalog.clearCache()

    out = {
        "metric": "headline query wall-clock (full pipeline + corpus operators)",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "cpus": cpus,
        "docs": n_docs,
        "extract_docs_per_sec": round(tp_docs / tp_best, 2),
        "throughput_corpus_docs": tp_docs,
        "throughput_sec": round(tp_best, 3),
        "probe_docs_per_sec": [round(r, 1) for r in probe_rates],
        "passes": len(probe_rates),
    }
    # embed the latest two-cluster-size scaling evidence (written by
    # bench_scaling.py; methodology + hardware calibration in
    # BENCH/BASELINE.md)
    scaling_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "scaling.json"
    )
    if os.path.exists(scaling_path):
        with open(scaling_path) as fh:
            s = json.load(fh)
        out["scaling"] = {
            "low_cpus": s["low"]["cpus"],
            "high_cpus": s["high"]["cpus"],
            "low_docs_per_sec": s["low"]["docs_per_sec"],
            "high_docs_per_sec": s["high"]["docs_per_sec"],
            "efficiency": s["efficiency"],
            # the headline is a ratio of per-level minima (best-case
            # upper bound); the median paired round is the typical
            # figure on this throttling host — surfaced side-by-side
            # so readers see both (ADVICE r3)
            "median_all_rounds_efficiency": s.get(
                "median_all_rounds_efficiency"
            ),
            "pass": s["pass"],
            "methodology": s.get("methodology"),
            "clean_rounds": s.get("clean_rounds"),
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
