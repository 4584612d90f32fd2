"""Graph + sketch operators.

- ``dedup_cc_canonical``: CONNECTED-COMPONENTS canonical assignment over
  the LSH near-dup edge set, with ``dedup_near_canonical``
  (relational2.py) its 1-hop twin. Two docs are linked exactly when
  their ``bands[0]`` match, and ``bands[0]`` is md5 of the two
  fixed-width hex signatures, so a link is equality of ``(sig0, sig1)``.
  Equality is transitive: the graph is a disjoint union of cliques, and
  both a node's 1-hop min and its component min are the min over its
  ``bands[0]`` equivalence class — one window, no join, no iteration.
  The oracle is a recursive CTE computing the full closure; it equals
  the window because band equality is transitive.
- ``sketch_kmv_distinct``: K-minimum-values distinct-count sketch —
  a DETERMINISTIC sketch (md5 order statistics), so unlike HLL it is
  bit-reproducible across engines and the oracle can check it exactly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from onnxocr_ray_spark.functions import portable_md5
from onnxocr_ray_spark.registry import register
from onnxocr_ray_spark.sources.tables import load_table


def _band_class_min(keyed: DataFrame) -> DataFrame:
    """``(doc_id, b0)`` -> ``(doc_id, canonical_id)``: the min doc_id of
    the node's ``b0`` equivalence class (one shuffle on ``b0``)."""
    return keyed.select(
        "doc_id",
        F.min("doc_id").over(Window.partitionBy("b0")).alias("canonical_id"),
    )


_EDGE_SQL = """
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b
        ON a.sig0 = b.sig0 AND a.sig1 = b.sig1 AND a.doc_id < b.doc_id
"""


@register(
    "dedup_cc_canonical",
    priority=85,  # rotation r5: green r4 (and prior rounds), parked; rotate back next
    sql=f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id,
             [array_to_string((string_split(lower(trim(text, ' ')), ' '))[i:i+1], ' ')
              for i in range(1, len(string_split(lower(trim(text, ' ')), ' ')))] AS shingles
      FROM documents
      WHERE len(string_split(lower(trim(text, ' ')), ' ')) >= 2
    ),
    sigs AS (
      SELECT doc_id,
             list_min(list_transform(shingles, x -> md5('0|' || x))) AS sig0,
             list_min(list_transform(shingles, x -> md5('1|' || x))) AS sig1
      FROM sh
    ),
    pairs AS ({_EDGE_SQL}),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    reach AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    SELECT s.doc_id,
           least(s.doc_id, coalesce(min(r.v), s.doc_id)) AS canonical_id
    FROM sigs s LEFT JOIN reach r ON r.u = s.doc_id
    GROUP BY s.doc_id
    """,
    doc=(
        "training-data op: connected-components canonical assignment over "
        "LSH near-dup edges — min doc_id over the bands[0] equivalence "
        "class; equals the recursive-CTE closure because band equality is "
        "transitive; oracle = recursive CTE"
    ),
)
def dedup_cc_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from onnxocr_ray_spark.operators.dedup import _signed

    return _band_class_min(
        _signed(spark, sf_dir).select("doc_id", F.col("bands")[0].alias("b0"))
    )


@register(
    "sketch_kmv_distinct",
    priority=85,  # rotation r5: green r4 (and prior rounds), parked; rotate back next
    sql="""
    WITH hashed AS (
      SELECT DISTINCT md5(cast(user_id AS VARCHAR)) AS h FROM events
    ),
    topk AS (
      SELECT h FROM hashed ORDER BY h LIMIT 64
    ),
    stats AS (
      SELECT max(h) AS kth, count(*) AS k FROM topk
    )
    SELECT k,
           CASE WHEN k < 64 THEN k
                ELSE cast(floor((k - 1)
                     / (cast(('0x' || substr(kth, 1, 15)) AS BIGINT)
                        / 1152921504606846976.0) + 0.5) AS BIGINT)
           END AS est_distinct,
           (SELECT count(DISTINCT user_id) FROM events) AS true_distinct
    FROM stats
    """,
    doc=(
        "training-data op: K-minimum-values distinct sketch (k=64) — "
        "deterministic md5 order statistics, so the estimate is "
        "bit-reproducible across engines (unlike HLL); emits the exact "
        "count alongside for error inspection"
    ),
)
def sketch_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    ev = load_table(spark, sf_dir, "events")
    k = 64
    hashed = ev.select(
        portable_md5(F.col("user_id").cast("string")).alias("h")
    )

    # Per-partition KMV state (the classic mergeable-sketch shape):
    # each partition keeps its k smallest DISTINCT hashes in a bounded
    # numpy buffer and emits <=k rows, so the global TakeOrdered merges
    # k x n_partitions rows. This replaces a distinct() pre-pass — a
    # full shuffle of every distinct hash — with zero shuffles before
    # the (tiny) final merge; duplicates cannot change the k-minimum
    # set, and capping after each Arrow batch bounds memory at O(k).
    def topk_part(batches):
        state = np.array([], dtype=object)
        for pdf in batches:
            u = pd.unique(pdf["h"])
            state = np.sort(np.union1d(state, u))[:k]
        if len(state):
            yield pd.DataFrame({"h": state})

    part_topk = hashed.mapInPandas(
        topk_part, schema=T.StructType([T.StructField("h", T.StringType())])
    )
    # distinct BEFORE the take: the same hash can reach the top-k of two
    # partitions; on <= k*n_partitions rows this dedup is negligible
    topk = part_topk.distinct().orderBy("h").limit(k)
    # kth-min hash as a fraction of the hash space: first 15 hex chars
    # (60 bits) / 16^15 — identical arithmetic on both engines
    stats = topk.agg(
        F.max("h").alias("kth"), F.count(F.lit(1)).alias("k")
    )
    frac = F.conv(F.substring("kth", 1, 15), 16, 10).cast("double") / F.lit(
        1152921504606846976.0
    )
    est = F.when(F.col("k") < k, F.col("k").cast("long")).otherwise(
        F.floor((F.col("k") - 1) / frac + 0.5).cast("long")
    )
    true_d = ev.select(F.countDistinct("user_id").alias("true_distinct"))
    return stats.crossJoin(F.broadcast(true_d)).select(
        "k", est.alias("est_distinct"), "true_distinct"
    )
