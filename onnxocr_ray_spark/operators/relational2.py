"""Second batch of engine-coverage queries (all oracle-backed).

Fills the remaining common-OLAP surface a user of the engine would
expect: as-of joins (Spark lacks a native one — composed per the
bucketize/window pattern), pivot-style conditional aggregation, running
window totals, exact quantiles, and near-dup canonical assignment on top
of the LSH candidates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from onnxocr_ray_spark.registry import register
from onnxocr_ray_spark.sources.tables import load_table


# --- as-of join: latest event at-or-before each order date ---

@register(
    "asof_last_event",
    sql="""
    SELECT purchase_id, user_id, last_click_id, last_click_ts
    FROM (
      SELECT p.event_id AS purchase_id, p.user_id,
             c.event_id AS last_click_id, c.ts AS last_click_ts,
             row_number() OVER (PARTITION BY p.event_id
                                ORDER BY c.ts DESC, c.event_id DESC) AS rn
      FROM (SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase') p
      JOIN (SELECT event_id, user_id, ts FROM events WHERE event_type = 'click') c
        ON c.user_id = p.user_id AND c.ts <= p.ts
    ) WHERE rn = 1
    """,
    doc="engine coverage: as-of join (latest click at-or-before each purchase, per user) via union + running last() window — no join, single shuffle on user_id; Spark lacks a native as-of join",
)
def asof_last_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Scale-safe as-of form: the range-filtered join (clicks x purchases
    # per user, then rn=1) materializes a quadratic intermediate on hot
    # users. Instead, interleave both event kinds in one stream ordered by
    # (ts, kind, event_id) — clicks sort BEFORE purchases at equal ts
    # (the <= bound is inclusive) and ascending event_id makes the running
    # last() pick the max-id click among same-ts ties — and carry the
    # latest click forward with one cumulative window. One shuffle, zero
    # joins, linear in the event count.
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type").isin("click", "purchase")
    )
    tagged = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("kind"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "kind", "event_id")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    click_id = F.when(F.col("kind") == 0, F.col("event_id"))
    click_ts = F.when(F.col("kind") == 0, F.col("ts"))
    return (
        tagged.withColumn("last_click_id", F.last(click_id, ignorenulls=True).over(w))
        .withColumn("last_click_ts", F.last(click_ts, ignorenulls=True).over(w))
        .filter((F.col("kind") == 1) & F.col("last_click_id").isNotNull())
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            "last_click_id",
            "last_click_ts",
        )
    )


# --- pivot-style conditional aggregation ---

@register(
    "pivot_event_counts",
    priority=15,  # rotation r5: no driver row since r2/r3 - back into the checked window
    sql="""
    SELECT user_id,
           count(*) FILTER (WHERE event_type = 'click') AS n_click,
           count(*) FILTER (WHERE event_type = 'view') AS n_view,
           count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
           count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
           count(*) FILTER (WHERE event_type = 'error') AS n_error,
           round(sum(value) FILTER (WHERE event_type = 'purchase'), 4) AS purchase_value
    FROM events GROUP BY user_id
    """,
    doc="engine coverage: pivot as conditional aggregation (portable form of groupBy().pivot())",
)
def pivot_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")

    def n_of(t):
        return F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")

    return ev.groupBy("user_id").agg(
        n_of("click"),
        n_of("view"),
        n_of("purchase"),
        n_of("signup"),
        n_of("error"),
        F.round(
            F.sum(F.when(F.col("event_type") == "purchase", F.col("value"))), 4
        ).alias("purchase_value"),
    )


# --- running totals (cumulative window) ---

@register(
    "running_total",
    priority=85,  # rotation r5: green r4 (and prior rounds), parked; rotate back next
    sql="""
    SELECT user_id, event_id,
           round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING), 4) AS running_value,
           row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq
    FROM events
    """,
    doc="engine coverage: running cumulative sum + sequence number per key",
)
def running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        "event_id",
        F.round(
            F.sum("value").over(w.rowsBetween(W.unboundedPreceding, 0)), 4
        ).alias("running_value"),
        F.row_number().over(w).cast("long").alias("seq"),
    )


# --- exact quantiles (continuous interpolation, both engines) ---

@register(
    "median_by_type",
    priority=85,  # rotation r5: green r4 (and prior rounds), parked; rotate back next
    sql="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS median_value,
           round(quantile_cont(value, 0.9), 6) AS p90_value,
           count(*) AS n
    FROM events GROUP BY event_type
    """,
    doc="engine coverage: exact continuous quantiles (Spark percentile == DuckDB quantile_cont)",
)
def median_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", F.lit(0.5)), 6).alias("median_value"),
        F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90_value"),
        F.count(F.lit(1)).alias("n"),
    )


# --- near-dup canonical assignment over LSH candidates ---

@register(
    "dedup_near_canonical",
    sql="""
    WITH sh AS (
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
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b
      FROM sigs a JOIN sigs b
        ON a.sig0 = b.sig0 AND a.sig1 = b.sig1 AND a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT id_a AS doc_id, id_b AS other FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    )
    SELECT s.doc_id,
           least(s.doc_id, coalesce(min(e.other), s.doc_id)) AS canonical_id
    FROM sigs s LEFT JOIN edges e ON e.doc_id = s.doc_id
    GROUP BY s.doc_id
    """,
    doc=(
        "training-data op: near-dup canonical assignment — min doc_id over "
        "the bands[0] equivalence class (strict 2-signature match); equals "
        "the oracle's 1-hop min and the recursive-CTE closure because band "
        "equality is transitive — the keep/drop decision layer on top of LSH"
    ),
)
def dedup_near_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    from onnxocr_ray_spark.operators.dedup import _signed
    from onnxocr_ray_spark.operators.graph import _band_class_min

    return _band_class_min(
        _signed(spark, sf_dir).select("doc_id", F.col("bands")[0].alias("b0"))
    )
