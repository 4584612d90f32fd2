"""The three workloads: set-up, one timed operation, output checks and
the traced run's layer probes.

Each workload owns a fresh directory (``ctx.work``) for its inputs, page
cache and outputs. A workload's ``op(i)`` is the unit the timed loop
measures; everything it returns is checked after the loop, outside the
timed intervals.
"""

from __future__ import annotations

import glob
import hashlib
import os
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen

N_BUCKETS = 64
SLICE_BUCKETS = 8
STRAGGLER_BYTES = 1 << 20

# module.query metric prefix -> registered query name
NEARDUP_QUERIES = {
    "dedup.minhash_lsh": "dedup_minhash_lsh",
    "dedup.simhash_pairs": "dedup_simhash_pairs",
    "dedup.ngram_jaccard": "dedup_ngram_jaccard",
    "similarity.semantic": "dedup_semantic",
    "graph.cc_canonical": "dedup_cc_canonical",
}


@dataclass
class Ctx:
    spark: object
    tracer: object
    jobs: object          # JobCounter in the traced run, else None
    work: str
    seed: int
    layer: dict = field(default_factory=dict)   # per-layer samples


def _p(ctx: Ctx, *parts: str) -> str:
    return os.path.join(ctx.work, *parts)


def _timed(ctx: Ctx, name: str, fn, *args, **kw):
    """Call ``fn`` under a span (and a job group when traced); return the
    result and the span's attributes (``s`` seconds, ``jobs``)."""
    with ctx.tracer.span(name) as attrs:
        t0 = time.perf_counter()
        if ctx.jobs is None:
            out = fn(*args, **kw)
        else:
            with ctx.jobs.group(attrs):
                out = fn(*args, **kw)
        attrs["s"] = time.perf_counter() - t0
    return out, attrs


def _sample(ctx: Ctx, key: str, value) -> None:
    ctx.layer.setdefault(key, []).append(value)


# --- extraction layers ---------------------------------------------------


def _pages(ctx: Ctx, docs_dir: str, cache_root: str):
    from onnxocr_ray_spark.sources.pages import pages_table

    pages, a = _timed(ctx, "sources.pages_table", pages_table, ctx.spark, docs_dir,
                      cache_root=cache_root)
    _sample(ctx, "sources.pages_build_s", a["s"])
    return pages


def _page_rows(cache_root: str) -> list:
    """(url, html) of the materialized page table, read without Spark."""
    (path,) = glob.glob(os.path.join(cache_root, "pages_*.parquet"))
    t = pq.read_table(path, columns=["url", "html"])
    return list(zip(t.column("url").to_pylist(), t.column("html").to_pylist()))


def _oracle(ctx: Ctx, rows: list) -> dict:
    """url -> checksum from the serial oracle; also the kernel ms/doc."""
    from onnxocr_ray_spark.oracle import extract_serial

    t0 = time.perf_counter()
    res = extract_serial(rows)
    _sample(ctx, "kernels.doc_ms", (time.perf_counter() - t0) * 1000.0 / len(rows))
    return {u: r.checksum for u, r in res.items()}


def _committed(out_dir: str) -> dict:
    t = pq.read_table(os.path.join(out_dir, "data"), columns=["url", "checksum"])
    return dict(zip(t.column("url").to_pylist(), t.column("checksum").to_pylist()))


def _extract_probe(ctx: Ctx, pages) -> float:
    """extract(pages) build and its run into the noop sink, on one op's
    input, as separate spans and job counts."""
    from onnxocr_ray_spark.operators.extract import extract

    df, b = _timed(ctx, "operators.extract.build", extract, pages)
    _, r = _timed(ctx, "operators.extract.run",
                  lambda: df.write.format("noop").mode("overwrite").save())
    _sample(ctx, "extract.build_s", b["s"])
    _sample(ctx, "extract.run_s", r["s"])
    _sample(ctx, "extract.jobs", b["jobs"] + r["jobs"])
    return b["s"] + r["s"]


def _commit(ctx: Ctx, pages, out_dir: str, **kw):
    from onnxocr_ray_spark.plans.lineage import run_extraction

    run, a = _timed(ctx, "plans.lineage.run_extraction", run_extraction,
                    ctx.spark, pages, out_dir, n_buckets=N_BUCKETS, **kw)
    return run, a


def _commit_probe(ctx: Ctx, commit: dict, pages) -> None:
    """Traced run: split one commit into extract and lineage self time."""
    _sample(ctx, "lineage.jobs", commit["jobs"])
    _sample(ctx, "lineage.commit_s", commit["s"] - _extract_probe(ctx, pages))


def _bucket_of(spark, urls: list) -> dict:
    """url -> lineage bucket, computed by Spark's own hash."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(pd.DataFrame({"url": urls}))
    t = df.select("url", F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).alias("wp")).toArrow()
    return dict(zip(t.column("url").to_pylist(), t.column("wp").to_pylist()))


class CrawlCommit:
    """Every op commits the whole page table into a fresh directory."""

    name = "crawl_commit"
    N_DOCS = 1000
    # commit time keeps falling over the first few commits of a session
    # (JIT of the driver-side write and lineage paths); three warm-up
    # commits put the timed ops past the steepest part of that curve
    WARMUP = 3

    def setup(self, ctx: Ctx) -> dict:
        props = gen.corpus(_p(ctx, "inputs"), ctx.seed, self.N_DOCS)
        self.pages = _pages(ctx, _p(ctx, "inputs"), _p(ctx, "pages"))
        self.runs = {}
        for i in range(self.WARMUP):
            _commit(ctx, self.pages, _p(ctx, f"warm-{i}"))
        return props

    def op(self, ctx: Ctx, i: int) -> int:
        run, self.last = _commit(ctx, self.pages, _p(ctx, f"out-{i}"), run_id=f"op-{i}")
        self.runs[i] = run
        return run.n_docs

    def probe(self, ctx: Ctx) -> None:
        _commit_probe(ctx, self.last, self.pages)

    def check(self, ctx: Ctx) -> list:
        rows = _page_rows(_p(ctx, "pages"))
        want = _oracle(ctx, rows)
        return [
            run.n_docs == len(want) and _committed(run.output_dir) == want
            for run in self.runs.values()
        ]

    def input_props(self, ctx: Ctx) -> dict:
        return _page_props(_p(ctx, "pages"))


def _page_props(cache_root: str) -> dict:
    (path,) = glob.glob(os.path.join(cache_root, "pages_*.parquet"))
    sizes = pq.read_table(path, columns=["html_size"]).column("html_size").to_numpy()
    return {"pages": int(len(sizes)), "html_bytes": int(sizes.sum()),
            "over_1mib_share": round(float((sizes > STRAGGLER_BYTES).mean()), 5)}


class SliceResume:
    """Each op commits the next 8-bucket slice into one output directory,
    so it reads the growing lineage table beside its write. Once all 64
    buckets are committed the next op starts a new snapshot id in the
    same directory."""

    name = "slice_resume"
    N_DOCS = 1600
    LONG_PER_SLICE = 2
    LONG_BYTES = 1_150_000
    WARMUP = 1

    def setup(self, ctx: Ctx) -> dict:
        def pick_long(langs):
            from onnxocr_ray_spark.sources.pages import page_url

            # doc_id % 97 < 10 plants the synthesizer's edge pages; keep
            # long texts off those and put the same number in every slice
            ids = [i for i in range(len(langs)) if i % 97 >= 10]
            wp = _bucket_of(ctx.spark, [page_url(i, langs[i]) for i in ids])
            rng = np.random.default_rng([ctx.seed, 3])
            by_slice = {}
            for i in ids:
                by_slice.setdefault(wp[page_url(i, langs[i])] // SLICE_BUCKETS, []).append(i)
            return [int(i) for s in sorted(by_slice)
                    for i in rng.choice(by_slice[s], self.LONG_PER_SLICE, replace=False)]

        props = gen.corpus(_p(ctx, "inputs"), ctx.seed, self.N_DOCS,
                           pick_long=pick_long, long_bytes=self.LONG_BYTES)
        self.pages = _pages(ctx, _p(ctx, "inputs"), _p(ctx, "pages"))
        self.out = _p(ctx, "out")
        self.runs = {}
        for i in range(self.WARMUP):
            self._commit(ctx, i)
        return props

    def _slice(self, i: int) -> list:
        s = i % (N_BUCKETS // SLICE_BUCKETS)
        return list(range(s * SLICE_BUCKETS, (s + 1) * SLICE_BUCKETS))

    def _commit(self, ctx: Ctx, i: int):
        return _commit(ctx, self.pages, self.out, only_buckets=self._slice(i),
                       run_id=f"op-{i}",
                       snapshot_id=f"snap-{i // (N_BUCKETS // SLICE_BUCKETS)}")

    def op(self, ctx: Ctx, i: int) -> int:
        i += self.WARMUP
        run, self.last = self._commit(ctx, i)
        self.runs[i] = run
        self.last_i = i
        return run.n_docs

    def probe(self, ctx: Ctx) -> None:
        from pyspark.sql import functions as F

        part = self.pages.filter(
            F.pmod(F.xxhash64("url"), F.lit(N_BUCKETS)).isin(self._slice(self.last_i))
        )
        _commit_probe(ctx, self.last, part)

    def check(self, ctx: Ctx) -> list:
        rows = _page_rows(_p(ctx, "pages"))
        want = _oracle(ctx, rows)
        wp = _bucket_of(ctx.spark, [u for u, _ in rows])
        got = _committed(self.out)
        data_ok = got == {u: c for u, c in want.items() if u in got}
        per_bucket = {}
        for u, c in want.items():
            per_bucket.setdefault(wp[u], []).append(c)
        expect = {
            b: (len(cs), hashlib.sha256("\n".join(sorted(cs)).encode()).hexdigest())
            for b, cs in per_bucket.items()
        }
        lineage = pq.read_table(os.path.join(self.out, "lineage")).to_pylist()
        ok = []
        for i, run in self.runs.items():
            mine = {r["wp"]: (r["n_docs"], r["bucket_checksum"])
                    for r in lineage if r["run_id"] == f"op-{i}"}
            want_slice = {b: expect[b] for b in self._slice(i) if b in expect}
            ok.append(data_ok and mine == want_slice and run.n_docs == sum(
                n for n, _ in want_slice.values()))
        return ok

    def input_props(self, ctx: Ctx) -> dict:
        return _page_props(_p(ctx, "pages"))


# --- near-dup layers -------------------------------------------------------


def _digest(table) -> tuple:
    """Row count and an order-insensitive hash of an Arrow table."""
    pdf = table.to_pandas()
    h = pd.util.hash_pandas_object(pdf, index=False).to_numpy().sum(dtype=np.uint64)
    return len(pdf), int(h)


def _sweep(ctx: Ctx, sf_dir: str, record: bool = True) -> dict:
    """The five near-dup queries on ``sf_dir``, each built then
    materialized on the driver as Arrow. Returns name -> Arrow table."""
    from onnxocr_ray_spark.registry import load_all

    queries = load_all()
    out = {}
    for key, qname in NEARDUP_QUERIES.items():
        fn = queries[qname].fn
        with ctx.tracer.span(key) as attrs:
            df, b = _timed(ctx, f"{key}.build", fn, ctx.spark, sf_dir)
            out[qname], r = _timed(ctx, f"{key}.run", df.toArrow)
            attrs["rows"] = out[qname].num_rows
        if record and ctx.jobs is not None:
            _sample(ctx, f"{key}.build_s", b["s"])
            _sample(ctx, f"{key}.run_s", r["s"])
            _sample(ctx, f"{key}.jobs", b["jobs"] + r["jobs"])
            _sample(ctx, f"{key}.rows", out[qname].num_rows)
    return out


def _rows(table) -> list:
    def norm(v):
        return round(v, 6) if isinstance(v, float) else v

    return sorted(tuple(norm(v) for v in row.values()) for row in table.to_pylist())


def _duckdb_matches(sf_dir: str, got: dict) -> bool:
    """Compare each query's Spark rows with its registered DuckDB oracle."""
    from onnxocr_ray_spark.registry import load_all

    queries = load_all()
    con = duckdb.connect()
    for t in ("documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    ok = True
    for qname, spark_tbl in got.items():
        want = con.sql(queries[qname].sql).arrow()
        want = want.select(spark_tbl.column_names)
        ok &= _rows(want) == _rows(spark_tbl)
    con.close()
    return ok


class NeardupSweep:
    """Every op runs the five registered near-dup queries, materialized."""

    name = "neardup_sweep"
    N_DOCS = 1000
    DUP_SHARE = 0.10
    MEGA = 100
    ORACLE_DOCS = 240
    # sweep time keeps falling over the first sweeps of a session; the
    # small oracle sweep and this many full sweeps run before timing
    WARMUP = 1

    def setup(self, ctx: Ctx) -> dict:
        props = gen.neardup_corpus(_p(ctx, "inputs"), ctx.seed, self.N_DOCS,
                                   self.DUP_SHARE, self.MEGA)
        # the first warm-up sweep runs on a small input from the same
        # generator; its rows are checked against the DuckDB oracle after
        # the loop
        gen.neardup_corpus(_p(ctx, "oracle"), ctx.seed, self.ORACLE_DOCS, self.DUP_SHARE, 12)
        self.small = _sweep(ctx, _p(ctx, "oracle"), record=False)
        for _ in range(self.WARMUP):
            _sweep(ctx, _p(ctx, "inputs"), record=False)
        self.outputs = []
        return props

    def op(self, ctx: Ctx, i: int) -> int:
        self.outputs.append(_sweep(ctx, _p(ctx, "inputs")))
        return self.N_DOCS

    def probe(self, ctx: Ctx) -> None:
        pass

    def check(self, ctx: Ctx) -> list:
        digests = [{q: _digest(t) for q, t in out.items()} for out in self.outputs]
        oracle_ok = _duckdb_matches(_p(ctx, "oracle"), self.small)
        return [oracle_ok] + [d == digests[0] for d in digests]

    def input_props(self, ctx: Ctx) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (CrawlCommit, SliceResume, NeardupSweep)}


def idle_layer_probe(ctx: Ctx, workload) -> None:
    """Traced run only: measure, on a small input from the same seed, the
    layers this workload's loop does not call, so every per-layer metric
    exists on every workload."""
    if isinstance(workload, NeardupSweep):
        d = _p(ctx, "probe-extract")
        gen.corpus(os.path.join(d, "inputs"), ctx.seed, 300)
        pages = _pages(ctx, os.path.join(d, "inputs"), os.path.join(d, "pages"))
        _oracle(ctx, _page_rows(os.path.join(d, "pages")))
        _, commit = _commit(ctx, pages, os.path.join(d, "out"))
        _commit_probe(ctx, commit, pages)
    else:
        d = _p(ctx, "probe-neardup")
        gen.neardup_corpus(d, ctx.seed, NeardupSweep.ORACLE_DOCS, NeardupSweep.DUP_SHARE, 12)
        _sweep(ctx, d)
