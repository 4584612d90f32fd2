"""Parquet table loaders for the driver-generated test data.

Replaces the reference's ingestion surface (HTTP JSON bodies,
`app-service.py:172-456`; HuggingFace fixture download, `test.py:62-89`)
with table scans — `spark.read.parquet` with Catalyst predicate pushdown
and column pruning. An Iceberg catalog is the production target
(BASELINE.json input_hint): ``load_table`` reads through the catalog
when an Iceberg runtime is on the classpath and ``SPARK_GRAFT_CATALOG``
names one, and falls back to parquet + explicit lineage columns
otherwise (SURVEY.md §7.3.4) — same API, same downstream plans.

Sandbox status (round 3, recorded attempt): no ``iceberg-spark-runtime``
jar ships with this PySpark install (287 jars checked) and the container
has no network to fetch one (maven central DNS fails), so the Iceberg
branch cannot execute here; ``iceberg_available`` gates it and
``tests/test_sources.py`` pins the fallback behavior. On a real cluster
the swap is configuration only: add the runtime jar + a catalog conf,
set ``SPARK_GRAFT_CATALOG``, and ``extract()``'s sized-table probe reads
``html_size`` through Iceberg's column stats for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)


def iceberg_available(spark: SparkSession) -> bool:
    """True iff an Iceberg runtime is actually on the JVM classpath (the
    SparkCatalog class loads). Cheap, cached per-JVM by the classloader."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
        return True
    except Exception:
        return False


# per-session memo of the LAZY DataFrame handle for each parquet path.
# This caches plan metadata only (schema/file listing from the reader) —
# never rows: every action on the returned frame still scans parquet.
# ``spark.read.parquet`` measured ~90 ms per call (footer read + FS init
# through py4j), paid inside every timed query build; a long session
# re-reads the same handful of tables hundreds of times. WeakKey'd on
# the SparkSession so a stopped session's handles die with it. A handle
# is keyed on the path's (mtime, size, inode) too, so a table rewritten
# in the session is listed again instead of read through its old files.
import weakref

_TABLE_HANDLES: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Format-agnostic loader. With ``SPARK_GRAFT_CATALOG`` set AND an
    Iceberg runtime present, reads ``<catalog>.<db>.<name>`` through the
    catalog (snapshot isolation, stats-backed pruning); otherwise scans
    the sf_dir parquet file. Downstream operators are identical either
    way — they see a DataFrame with the same schema."""
    catalog = os.environ.get("SPARK_GRAFT_CATALOG")
    if catalog and iceberg_available(spark):  # pragma: no cover - needs jar
        return spark.read.format("iceberg").load(f"{catalog}.{name}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    try:
        st = os.stat(path)
    except OSError:  # not a local path: no signature to key on
        return spark.read.parquet(path)
    sig = (st.st_mtime_ns, st.st_size, st.st_ino)
    handles = _TABLE_HANDLES.setdefault(spark, {})
    hit = handles.get(path)
    if hit is None or hit[0] != sig:
        hit = handles[path] = (sig, spark.read.parquet(path))
    return hit[1]


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every test table as a temp view (for the SQL API surface)."""
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)


def spread_scan(df: DataFrame) -> DataFrame:
    """Spread an under-partitioned scan across the cluster before a
    CPU-heavy Python stage.

    The driver-generated tables are single small parquet files, so the
    scan yields one input split and any Python map chained on it runs on
    ONE core (measured: the MinHash signature pass was 2.8 s serial vs
    ~0.3 s spread at sf0.1). A real 100 TB table has thousands of splits
    and this is a no-op — the repartition only fires when the scan would
    yield fewer partitions than the cluster's parallelism.

    r6: the decision reads the optimizer's sizeInBytes statistic instead
    of converting the plan to an RDD — ``df.rdd.getNumPartitions()``
    cost a measured 133 ms of driver time PER CALL (plan->RDD
    translation), which this helper's ~15 call sites paid inside the
    timed query builds. The split estimate mirrors how the scan itself
    splits files (bytes / maxPartitionBytes), so the fire/no-op decision
    is unchanged: tiny local tables repartition, production-scale tables
    (estimate >= parallelism, or any source without file stats, whose
    sizeInBytes defaults huge) pass through untouched.
    """
    spark = df.sparkSession
    target = spark.sparkContext.defaultParallelism
    try:
        size = int(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            .toString()
        )
        max_pb = int(
            spark._jvm.org.apache.spark.network.util.JavaUtils
            .byteStringAsBytes(
                spark.conf.get("spark.sql.files.maxPartitionBytes")
            )
        )
        est_splits = -(-size // max(max_pb, 1))
    except Exception:  # non-SQL plans or stats failure: exact fallback
        est_splits = df.rdd.getNumPartitions()
    if est_splits < target:
        return df.repartition(target)
    return df
