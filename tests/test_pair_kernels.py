"""Focused tests for the blocked-pair kernel (operators/pairs.py) and
the four queries' scorers.

The oracle-alignment suite pins end-to-end outputs at three SFs; these
tests pin the invariants the kernel must hold INDEPENDENTLY of the
synthetic corpus, with inputs crafted to hit them:

- min-band dedup: a pair colliding in SEVERAL LSH bands must be emitted
  exactly once (in its first matching band), with the exact count;
- triangle tiling: a single hot block must produce exactly its
  m-choose-2 pairs once each across diagonal + cross tiles, whatever
  hash group each doc lands in;
- the dense and the sparse set-overlap paths agree, and a hot block's
  memory does not grow with m^2.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF0001


def test_lsh_bucket_kernel_emits_multiband_pair_once(spark):
    """Two identical docs collide in ALL four bands; the min-band rule
    must emit their pair exactly once with the full intersection."""
    from onnxocr_ray_spark.operators.dedup import (
        _lsh_bucket_pair_counts,
        dedup_minhash_lsh,  # noqa: F401  (import keeps module registered)
    )

    rows = [
        (1, ["a b", "b c", "c d"], ["h0", "h1", "h2", "h3"]),
        (2, ["a b", "b c", "c d"], ["h0", "h1", "h2", "h3"]),  # all 4 collide
        (3, ["a b", "x y"], ["h0", "zz", "zz2", "zz3"]),       # band-0 only
    ]
    sh = spark.createDataFrame(
        rows, "doc_id long, shingles array<string>, bands array<string>"
    )
    ex = sh.select(
        "doc_id", "shingles", "bands",
        F.posexplode("bands").alias("band_idx", "band_hash"),
    )
    got = {
        (r.id_a, r.id_b): (r.sz_a, r.sz_b, r.c)
        for r in _lsh_bucket_pair_counts(ex).collect()
    }
    # each pair exactly once, with exact intersection counts
    assert got == {
        (1, 2): (3, 3, 3),   # identical docs — would appear 4x without dedup
        (1, 3): (3, 2, 1),
        (2, 3): (3, 2, 1),
    }


def test_ngram_tile_kernel_counts_hot_block_exactly(spark):
    """One (lang, blk) block of n docs sharing one common shingle plus a
    private one: every ordered pair must appear exactly once with c=1,
    across whatever diagonal/cross tiles the doc-hash grouping makes."""
    from onnxocr_ray_spark.operators.dedup import _ngram_block_pair_counts

    n = 40
    rows = []
    for i in range(n):
        for sh_v in ("common x", f"own {i}"):
            rows.append((i, "en", 7, 2, sh_v))
    ex = spark.createDataFrame(
        rows, "doc_id long, lang string, blk int, sz int, sh string"
    )
    out = _ngram_block_pair_counts(ex).collect()
    pairs = {(r.id_a, r.id_b): (r.s, r.c) for r in out}
    expect = {
        (a, b): (4, 1) for a in range(n) for b in range(a + 1, n)
    }
    assert pairs == expect, (len(pairs), len(expect))


def test_null_block_key_pairs_with_nothing(spark):
    """A NULL block key equals no key, as in the oracle's equi-join: its
    rows pair with nothing instead of failing the task."""
    from onnxocr_ray_spark.operators.dedup import _ngram_block_pair_counts

    rows = [
        (i, lang, 7, 2, sh_v)
        for i, lang in enumerate(["en", "en", None, None])
        for sh_v in ("common x", f"own {i}")
    ]
    ex = spark.createDataFrame(
        rows, "doc_id long, lang string, blk int, sz int, sh string"
    )
    got = {(r.id_a, r.id_b): (r.s, r.c) for r in _ngram_block_pair_counts(ex).collect()}
    assert got == {(0, 1): (4, 1)}


def _dense_and_sparse(run, monkeypatch):
    """Rows of ``run()`` with the default cap (dense matmul) and with a
    cap small enough to force the sparse bincount path through row and
    column windows; both must agree."""
    from onnxocr_ray_spark.operators import pairs

    ref = run()
    assert ref, "degenerate fixture"
    monkeypatch.setattr(pairs, "PAIR_CAP", 16)
    assert run() == ref
    return ref


def test_ngram_counting_paths_agree(spark, monkeypatch):
    """The two counting strategies (BLAS matmul / windowed bincount) must
    produce identical rows on the same input — only PAIR_CAP chooses
    between them."""
    from onnxocr_ray_spark.operators import dedup

    n = 30
    rows = []
    for i in range(n):
        for sh_v in ("common x", f"own {i}", "semi y" if i % 3 == 0 else f"o2 {i}"):
            rows.append((i, "en", 5, 3, sh_v))
    ex = spark.createDataFrame(
        rows, "doc_id long, lang string, blk int, sz int, sh string"
    )

    def run():
        out = dedup._ngram_block_pair_counts(ex).collect()
        return sorted((r.id_a, r.id_b, r.s, r.c) for r in out)

    _dense_and_sparse(run, monkeypatch)


def test_lsh_counting_paths_agree(spark, monkeypatch):
    """Same for the LSH bucket kernel, min-band rule included: docs share
    buckets in several bands and shingles across buckets."""
    from onnxocr_ray_spark.operators import dedup

    rows = [
        (i, ["common x", f"own {i}"] + (["semi y"] if i % 3 == 0 else []),
         [f"h{i % 2}", f"g{i % 3}", "k", f"z{i}"])
        for i in range(30)
    ]
    sh = spark.createDataFrame(
        rows, "doc_id long, shingles array<string>, bands array<string>"
    )
    ex = sh.select(
        "doc_id", "shingles", "bands",
        F.posexplode("bands").alias("band_idx", "band_hash"),
    )

    def run():
        out = dedup._lsh_bucket_pair_counts(ex).collect()
        return sorted((r.id_a, r.id_b, r.sz_a, r.sz_b, r.c) for r in out)

    got = _dense_and_sparse(run, monkeypatch)
    # every pair of the 30 docs shares band 2 ("k"), so each comes out once
    assert [r[:2] for r in got] == [(a, b) for a in range(30) for b in range(a + 1, 30)]


def _one_block_batch(m):
    import pyarrow as pa

    return pa.RecordBatch.from_pydict({
        "doc_id": pa.array(range(m), pa.int64()),
        "shingles": pa.array([["common x", f"own {i}"] for i in range(m)]),
        "bands": pa.array([["h"] * 4] * m),
        "band_idx": pa.array([0] * m, pa.int32()),
        "band_hash": pa.array(["h"] * m),
    })


def _drain_one_block(m):
    """Driver-side run of the LSH partition function on m docs sharing
    one bucket and one shingle: (pairs, largest batch, tracemalloc
    peak)."""
    import tracemalloc

    from pyspark.sql import types as T

    from onnxocr_ray_spark.operators import dedup, pairs

    schema = T.StructType(
        [T.StructField(c, T.LongType()) for c in ("id_a", "id_b")]
        + [T.StructField(c, T.IntegerType()) for c in ("sz_a", "sz_b")]
        + [T.StructField("c", T.LongType())]
    )
    gen = pairs.pair_kernel(
        schema, ["band_idx", "band_hash"], dedup._LSH_SCORER, min_band=dedup._lsh_bands
    )
    batch = _one_block_batch(m)
    total = largest = 0
    tracemalloc.start()
    try:
        for out in gen(iter([batch])):
            total += out.num_rows
            largest = max(largest, out.num_rows)
            del out
        peak = tracemalloc.get_traced_memory()[1]
    finally:
        tracemalloc.stop()
    return total, largest, peak


def test_hot_block_memory_is_bounded(monkeypatch):
    """One hot bucket of m docs: every pair comes out, in batches of at
    most OUT_ROWS, and peak memory does not grow with m^2 (a dense Gram
    matrix would quadruple it from m=4000 to m=8000)."""
    from onnxocr_ray_spark.operators import pairs

    monkeypatch.setattr(pairs, "PAIR_CAP", 1 << 16)
    peaks = {}
    for m in (4000, 8000):
        total, largest, peaks[m] = _drain_one_block(m)
        assert total == m * (m - 1) // 2
        assert largest <= pairs.OUT_ROWS
    assert peaks[8000] <= 1.5 * peaks[4000], peaks


def test_cluster_cos_kernel_matches_interpreted_cosine(spark):
    """The exact re-evaluation must be bit-identical to cosine_sim for
    vectors engineered to produce rounding-sensitive sums."""
    from onnxocr_ray_spark.functions import cosine_sim
    from onnxocr_ray_spark.operators.similarity import (
        _cluster_cos_candidates,
    )

    # awkward magnitudes so summation order matters in the last ulps
    vecs = [
        (0, 0, [1.0, 1e-9, 3.7, 1e8, 2.3e-5, 7.1] + [0.123456789] * 58),
        (1, 0, [0.9, 2e-9, 3.6, 1e8, 2.4e-5, 7.0] + [0.123456788] * 58),
        (2, 0, [1.1, 3e-9, 3.8, 1e8, 2.2e-5, 7.2] + [0.123456790] * 58),
    ]
    member = spark.createDataFrame(
        vecs, "vec_id long, cid long, v array<double>"
    )
    got = {
        (r.vec_id, r.ib): r.cos for r in _cluster_cos_candidates(member).collect()
    }
    a = member.alias("a")
    b = member.alias("b")
    ref = {
        (r.j, r.i): r.cos
        for r in a.join(b, F.col("a.vec_id") > F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("j"),
            F.col("b.vec_id").alias("i"),
            cosine_sim(F.col("a.v"), F.col("b.v")).alias("cos"),
        )
        .collect()
    }
    assert set(got) == set(ref)
    for k in ref:
        # bit-identical doubles, not approximately equal
        assert got[k] == ref[k], (k, got[k].hex(), ref[k].hex())
