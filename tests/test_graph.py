"""Near-dup canonical window unit tests (the oracle comparison runs in
test_oracle_alignment; these pin the transitivity argument the window
rests on, and the one-mega-cluster input a band self-join could not
afford)."""

import hashlib
import random
from collections import Counter

from pyspark.sql import functions as F

from onnxocr_ray_spark.operators.graph import _band_class_min


def _canon(df):
    return {r.doc_id: r.canonical_id for r in _band_class_min(df).collect()}


def _union_find_min(rows):
    """Component min over the equality pairs implied by shared keys."""
    parent = {d: d for d, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for i, (a, ka) in enumerate(rows):
        for b, kb in rows[i + 1:]:
            if ka == kb:
                ra, rb = find(a), find(b)
                # the smaller root wins, so every root is its set's min
                parent[max(ra, rb)] = min(ra, rb)
    return {d: find(d) for d in parent}


def test_window_equals_union_find_over_equality_pairs(spark):
    for seed in range(3):
        rng = random.Random(seed)
        doc_ids = rng.sample(range(100_000), 300)
        keys = [hashlib.md5(str(k).encode()).hexdigest() for k in range(200)]
        rows = [(d, rng.choice(keys)) for d in doc_ids]
        want = _union_find_min(rows)
        # both shapes occur: multi-member classes and singletons
        sizes = Counter(want.values()).values()
        assert max(sizes) > 1 and min(sizes) == 1
        got = _canon(spark.createDataFrame(rows, "doc_id long, b0 string"))
        assert got == want, seed


def test_one_mega_cluster_maps_to_its_min(spark):
    n = 50_000
    mega = spark.range(1_000, 1_000 + n).select(
        F.col("id").alias("doc_id"), F.lit("mega").alias("b0")
    )
    singles = [3, 500, 1_000 + n, 99_999]
    lone = spark.createDataFrame(
        [(d, f"lone{d}") for d in singles], "doc_id long, b0 string"
    )
    got = _canon(mega.unionByName(lone))
    assert len(got) == n + len(singles)
    assert all(got[d] == 1_000 for d in range(1_000, 1_000 + n))
    assert all(got[d] == d for d in singles)
