"""End-to-end persist lifecycle: a long-lived session running many
registry queries (the driver runs ~50 through ONE SparkSession) must not
accumulate cached blocks — ``registry.register`` releases the previous
query's ``scoped_persist`` handles before each build (caching.py).
Unit tests cover release_persisted in isolation; this covers the wiring
through the real query path.
"""

from __future__ import annotations

from onnxocr_ray_spark.registry import load_all

from tests.conftest import SF001

# the dedup + extract slice of the registry: LSH signatures, probed
# extract, simhash bands, CC canonical window, ngram shingle table
NAMES = [
    "dedup_minhash_lsh",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    "dedup_cc_canonical",
    "dedup_embed_cosine",
    "extract_e2e",
    "dedup_minhash_lsh",      # repeat: second run must not double the cache
    "extract_e2e",
]


def _n_cached(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


def test_sequential_queries_keep_cache_bounded(spark):
    queries = load_all()
    high_water = 0
    for name in NAMES:
        df = queries[name].fn(spark, SF001)
        df.write.mode("overwrite").format("noop").save()
        high_water = max(high_water, _n_cached(spark))
    # at any boundary only the CURRENT query's scoped caches may be live;
    # no query in this slice holds more than a couple of handles, so a
    # leak across 8 runs would blow past this
    assert high_water <= 6, high_water
    # after one more release cycle (any registry fn triggers it), the
    # previous query's caches are gone
    queries["q1_pricing"].fn(spark, SF001).write.mode("overwrite").format(
        "noop"
    ).save()
    assert _n_cached(spark) <= 1
