"""Bloom membership sketch: determinism + the properties SQL can't state."""

import hashlib

from pyspark.sql import functions as F

from onnxocr_ray_spark.operators.bloom import (
    K_HASHES,
    M_BITS,
    WORD,
    bloom_probe,
    bloom_words,
)


def _py_position(key: int, j: int) -> int:
    h = hashlib.md5(f"bloom{j}|{key}".encode()).hexdigest()
    return int(h[:8], 16) % M_BITS


def _py_pass(key: int, words) -> bool:
    return all(
        (words[_py_position(key, j) // WORD] >> (_py_position(key, j) % WORD)) & 1
        for j in range(K_HASHES)
    )


def test_members_never_rejected_and_replica_agrees(spark):
    """Zero false negatives (the Bloom guarantee), and the Spark bit
    array equals an independent pure-Python replica bit-for-bit."""
    build_keys = list(range(0, 600, 3))
    build = spark.createDataFrame([(k,) for k in build_keys], "key long")
    words = bloom_words(build, "key")
    assert len(words) == M_BITS // WORD

    expect = [0] * (M_BITS // WORD)
    for k in build_keys:
        for j in range(K_HASHES):
            p = _py_position(k, j)
            expect[p // WORD] |= 1 << (p % WORD)
    assert words == expect

    probe_keys = list(range(600))  # members + interleaved non-members
    probe = spark.createDataFrame([(k,) for k in probe_keys], "key long")
    got = {r["key"]: r["bloom_pass"] for r in
           bloom_probe(probe, "key", words).collect()}
    members = set(build_keys)
    fps = 0
    for k in probe_keys:
        assert got[k] == _py_pass(k, words)      # engine == replica
        if k in members:
            assert got[k], f"false negative on member {k}"
        elif got[k]:
            fps += 1
    assert fps > 0  # m=4096 is sized so the sketch is non-vacuous here


def test_probe_is_projection_only(spark):
    """The probe side must reach bloom_pass with no join and no shuffle —
    the whole point of pushing a membership sketch into the scan."""
    build = spark.createDataFrame([(k,) for k in range(100)], "key long")
    words = bloom_words(build, "key")
    probe = spark.range(1000).select(F.col("id").alias("key"))
    plan = (
        bloom_probe(probe, "key", words)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Exchange" not in plan
    assert "Join" not in plan
    assert plan.lstrip().startswith("*(")  # codegen'd project end to end


# --- semantic-dedup skew stress (same file: small plan/scale guards) ---

def test_dedup_semantic_survives_one_giant_cluster(spark):
    """Boilerplate corpora funnel thousands of near-identical embeddings
    into ONE cluster — the worst case for cluster-blocked pairwise
    verify (candidates ~ cluster_size^2). 2k same-direction vectors must
    complete promptly with the exact SemDeDup outcome: every member
    except the lowest id dropped."""
    import time

    from pyspark.sql import functions as F

    from onnxocr_ray_spark.operators.similarity import (
        _SEMDEDUP_TAU,
        _cluster_cos_candidates,
        _ivf_assign,
    )

    n, dim = 2000, 8
    # vectors = e1 + tiny deterministic jitter on e2 (cosine ~ 1.0)
    rows = [(i, [1.0, (i % 97) * 1e-4] + [0.0] * (dim - 2)) for i in range(n)]
    e = spark.createDataFrame(rows, "vec_id long, v array<double>")
    c = e.filter(F.col("vec_id") < 1).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    # the production verify path (r6): per-cluster arrow kernel + exact
    # rounded threshold in the JVM — dedup_semantic's exact shape
    member = _ivf_assign(e, c).join(e, "vec_id")
    t0 = time.time()
    drops = (
        _cluster_cos_candidates(member)
        .filter(F.round(F.col("cos"), 6) >= F.lit(_SEMDEDUP_TAU))
        .select("vec_id")
        .distinct()
    )
    dropped = {r.vec_id for r in drops.collect()}
    wall = time.time() - t0
    kept = sorted(set(range(n)) - dropped)
    assert kept == [0]  # exactly the lowest id survives
    assert wall < 120, f"giant-cluster pairwise took {wall:.1f}s"


def test_ivf_argmax_breaks_ties_to_lower_cid(spark):
    """The one IVF argmax (``_ivf_assign``) that every IVF query and the
    SemDeDup assignment share: equal rounded cosines go to the lower cid
    whatever the centroid rows' order, ``ccos`` is the winner's
    ``round(cosine_sim(v, cv), 6)``, and the seed set of
    ``_ivf_train(e, 0)`` is exactly the ``vec_id < _IVF_K`` rows."""
    import math

    from onnxocr_ray_spark.functions import cosine_sim
    from onnxocr_ray_spark.operators.similarity import _IVF_K, _ivf_assign, _ivf_train

    dim = 8
    vecs = {i: [1.0, (i % 5) * 1e-3, (i % 3) * 1e-3] + [0.0] * (dim - 3) for i in range(12)}
    e = spark.createDataFrame(sorted(vecs.items()), "vec_id long, v array<double>")
    near = [1.0] + [0.0] * (dim - 1)
    far = [0.0, 0.0, 0.0, 1.0] + [0.0] * (dim - 4)
    # cid 1 comes first: the tie must not follow row order
    c = spark.createDataFrame([(1, near), (2, far), (0, near)], "cid long, cv array<double>")

    got = {r.vec_id: (r.cid, r.ccos) for r in _ivf_assign(e, c).collect()}
    assert sorted(got) == sorted(vecs)
    assert {cid for cid, _ in got.values()} == {0}
    want = {
        r.vec_id: r.cos
        for r in e.crossJoin(c.filter(F.col("cid") == 0))
        .select("vec_id", F.round(cosine_sim(F.col("v"), F.col("cv")), 6).alias("cos"))
        .collect()
    }
    assert {i: ccos for i, (_, ccos) in got.items()} == want
    for i, (_, ccos) in got.items():
        v = vecs[i]
        assert abs(ccos - v[0] / math.sqrt(sum(x * x for x in v))) < 1e-6

    seeds = {r.cid: list(r.cv) for r in _ivf_train(e, 0).collect()}
    assert seeds == {i: v for i, v in vecs.items() if i < _IVF_K}
