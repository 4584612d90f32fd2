"""Per-bucket lineage, metrics, and idempotent resume.

North-rule requirement: the pipeline "writes per-partition lineage rows
(input snapshot-id, partition, doc range, checksum of extracted spans)
and metrics to a checkpoint table so any partition can be replayed
idempotently after failure". The reference has no analog (its only
persistence is debug image dumps, `app-service.py:246-331`) — this is
Spark-native operational machinery:

- Work is bucketed deterministically: ``wp = pmod(xxhash64(url), n_buckets)``.
  The bucket id depends only on the url, never on physical partitioning,
  so a bucket means the same document set on any cluster size.
- Resume: buckets that already have a lineage row for the same
  snapshot_id are skipped. When no bucket is left the run returns before
  it builds or runs anything, so a no-op rerun costs one lineage read.
- Tasks are aligned to buckets: the pages to process are range-partitioned
  on ``(wp, url)`` into ``defaultParallelism`` partitions before
  extraction. Each task then holds a contiguous run of buckets, a bucket
  is cut only at a partition boundary, no partition is empty, and the
  ``partitionBy(wp)`` write makes at most ``n_buckets + P - 1`` files.
  Hash partitioning by ``wp`` would put 64 bucket ids on 64 partitions
  by chance: some empty, some several times the mean.
- Output data is written ``partitionBy(wp)`` with dynamic partition
  overwrite, passed as a writer option so the caller's session conf is
  untouched: re-processing a bucket REPLACES its files (idempotent).
- After the data write commits, only this run's ``wp=`` directories are
  read back. The driver lists them and reads them with the known schema,
  so no listing or schema-inference job runs. One ``groupBy(wp)``
  aggregation is collected: at most ``n_buckets`` rows of
  (n_docs, n_spans, bucket checksum), so lineage always describes
  WRITTEN data. A to-do bucket with no written data gets a row with
  ``n_docs = n_spans = 0`` and the checksum of no docs, so a rerun skips
  it too. The run's ``n_docs`` and ``processed_buckets`` come from the
  same rows, and the driver appends them to ``lineage/`` as one parquet
  file, renamed into place once complete.
- The bucket checksum is sha256 over the sorted per-url checksums — a
  deterministic content fingerprint that any replay must reproduce.
- A crash between data write and lineage append merely causes those
  buckets to be rewritten (same bytes) on the next run.

``output_dir`` must be a path the driver can list (local or mounted
shared storage): the read-back listing and the lineage file are
driver-side.
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass
from typing import Optional

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

from onnxocr_ray_spark.config import DEFAULT_CONFIG, ExtractConfig
from onnxocr_ray_spark.operators.extract import _extract_spread

LINEAGE_SCHEMA = (
    "snapshot_id string, run_id string, wp int, n_docs long, n_spans long,"
    " bucket_checksum string, wall_sec double, committed_at double"
)
# the columns of the written data that the lineage aggregation reads
_READBACK_SCHEMA = "n_spans int, checksum string, wp int"
_DISCOVERY_THRESHOLD = "spark.sql.sources.parallelPartitionDiscovery.threshold"
# the bucket checksum of a bucket without docs: sha256 over no checksums
_EMPTY_CHECKSUM = hashlib.sha256(b"").hexdigest()


@dataclass
class ExtractionRun:
    output_dir: str
    n_buckets: int
    processed_buckets: int
    skipped_buckets: int
    n_docs: int
    wall_sec: float


def _data_dir(output_dir: str) -> str:
    return os.path.join(output_dir, "data")


def _lineage_dir(output_dir: str) -> str:
    return os.path.join(output_dir, "lineage")


def _bucket(n_buckets: int) -> Column:
    return F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")


def read_lineage(spark: SparkSession, output_dir: str) -> Optional[DataFrame]:
    """The committed lineage rows, or None before the first commit. An
    empty (or ``_temporary``-only) directory reads as no rows; an
    unreadable lineage file raises instead of reading as "nothing
    committed", which would silently reprocess every bucket."""
    path = _lineage_dir(output_dir)
    if not os.path.exists(path):
        return None
    return spark.read.schema(LINEAGE_SCHEMA).parquet(path)


def align_to_buckets(bucketed: DataFrame, partitions: int) -> DataFrame:
    """Range-partition ``bucketed`` (which carries ``wp``) on
    ``(wp, url)``: each partition holds a contiguous run of buckets, and
    ``url`` lets a bucket be cut between neighbours, so no partition is
    left empty when ``partitions > n_buckets``."""
    return bucketed.repartitionByRange(partitions, "wp", "url")


@contextmanager
def _driver_listing(spark: SparkSession, n_paths: int):
    """Let ``spark.read`` list ``n_paths`` root paths on the driver
    instead of starting a distributed listing job; the session conf is
    restored on exit."""
    was = spark.conf.get(_DISCOVERY_THRESHOLD, None)
    if n_paths > int(spark.conf.get(_DISCOVERY_THRESHOLD)):
        spark.conf.set(_DISCOVERY_THRESHOLD, str(n_paths))
    try:
        yield
    finally:
        if was is None:
            spark.conf.unset(_DISCOVERY_THRESHOLD)
        else:
            spark.conf.set(_DISCOVERY_THRESHOLD, was)


def _bucket_facts(spark: SparkSession, data_dir: str, wps: list) -> list:
    """Collected per-bucket (wp, n_docs, n_spans, bucket_checksum) of the
    written ``wp=`` directories among ``wps``."""
    paths = [p for p in (os.path.join(data_dir, f"wp={w}") for w in wps) if os.path.isdir(p)]
    if not paths:
        return []
    with _driver_listing(spark, len(paths)):
        written = (
            spark.read.schema(_READBACK_SCHEMA)
            .option("basePath", data_dir)
            .parquet(*paths)
        )
    return (
        written.groupBy("wp")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_spans").alias("n_spans"),
            F.sha2(
                F.concat_ws("\n", F.array_sort(F.collect_list(F.col("checksum")))), 256
            ).alias("bucket_checksum"),
        )
        .collect()
    )


def _append_lineage(output_dir: str, rows: list) -> None:
    """One parquet file per commit, written under a hidden name and
    renamed into place so a reader never sees a partial file."""
    path = _lineage_dir(output_dir)
    os.makedirs(path, exist_ok=True)
    schema = to_arrow_schema(StructType.fromDDL(LINEAGE_SCHEMA))
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(pa.Table.from_pylist(rows, schema=schema), tmp)
    os.replace(tmp, os.path.join(path, name))


def run_extraction(
    spark: SparkSession,
    pages: DataFrame,
    output_dir: str,
    cfg: ExtractConfig = DEFAULT_CONFIG,
    snapshot_id: str = "snap-0",
    run_id: Optional[str] = None,
    n_buckets: int = 64,
    only_buckets: Optional[list] = None,
) -> ExtractionRun:
    """Extract ``pages`` into ``output_dir`` with lineage + resume.

    ``only_buckets`` restricts processing (used by tests to simulate an
    interrupted run and by operators to replay a specific partition).
    """
    run_id = run_id or f"run-{int(time.time() * 1000)}"

    done = set()
    lineage = read_lineage(spark, output_dir)
    if lineage is not None:
        done = {
            r["wp"]
            for r in lineage.filter(F.col("snapshot_id") == snapshot_id)
            .select("wp")
            .collect()
        }
    todo_wps = sorted(set(range(n_buckets)) - done)
    if only_buckets is not None:
        todo_wps = sorted(set(todo_wps) & set(only_buckets))
    if not todo_wps:
        return ExtractionRun(output_dir=output_dir, n_buckets=n_buckets, processed_buckets=0,
                             skipped_buckets=len(done), n_docs=0, wall_sec=0.0)

    t0 = time.perf_counter()
    todo = pages.withColumn("wp", _bucket(n_buckets)).filter(F.col("wp").isin(todo_wps))
    aligned = align_to_buckets(todo, spark.sparkContext.defaultParallelism)
    # aligned is already spread, so extract neither reshuffles it nor asks
    # for its partition count, and probes todo so that the probe does not
    # run the range shuffle too. wp is a pure function of url — recompute
    # it after extraction instead of carrying it through the kernels.
    extracted = _extract_spread(todo, aligned, cfg).withColumn("wp", _bucket(n_buckets))
    (
        extracted.select("url", "spans", "extracted_text", "n_spans", "checksum", "wp")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("wp")
        .parquet(_data_dir(output_dir))
    )
    facts = {f["wp"]: f.asDict() for f in _bucket_facts(spark, _data_dir(output_dir), todo_wps)}
    # a bucket without pages is committed as empty, so a rerun skips it
    rows = [
        facts.get(wp, dict(wp=wp, n_docs=0, n_spans=0, bucket_checksum=_EMPTY_CHECKSUM))
        for wp in todo_wps
    ]
    wall = round(time.perf_counter() - t0, 3)
    committed_at = time.time()
    _append_lineage(output_dir, [
        dict(r, snapshot_id=snapshot_id, run_id=run_id, wall_sec=wall,
             committed_at=committed_at)
        for r in rows
    ])
    return ExtractionRun(
        output_dir=output_dir,
        n_buckets=n_buckets,
        processed_buckets=len(rows),
        skipped_buckets=len(done),
        n_docs=sum(r["n_docs"] for r in rows),
        wall_sec=wall,
    )
