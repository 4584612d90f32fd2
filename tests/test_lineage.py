"""Lineage + idempotent resume (north-rule checkpoint requirement)."""

import glob
import hashlib
import os
import shutil
import tempfile

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from onnxocr_ray_spark.plans.lineage import align_to_buckets, read_lineage, run_extraction
from onnxocr_ray_spark.sources.pages import pages_table

from tests.conftest import SF0001


@pytest.fixture()
def outdir():
    d = tempfile.mkdtemp(prefix="lineage_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_full_run_writes_data_and_lineage(spark, outdir):
    pages = pages_table(spark, SF0001)
    run = run_extraction(spark, pages, outdir, n_buckets=16, snapshot_id="snapA")
    assert run.processed_buckets == 16
    assert run.skipped_buckets == 0
    assert run.n_docs == pages.count()
    lineage = read_lineage(spark, outdir)
    assert lineage.count() == 16
    data = spark.read.parquet(f"{outdir}/data")
    assert data.count() == run.n_docs


def test_interrupted_run_resumes_only_missing_buckets(spark, outdir):
    pages = pages_table(spark, SF0001)
    # simulate a crash after half the buckets committed
    first = run_extraction(
        spark, pages, outdir, n_buckets=16, snapshot_id="snapA",
        only_buckets=list(range(8)),
    )
    assert first.processed_buckets == 8
    # resume: full run must process exactly the other 8
    second = run_extraction(spark, pages, outdir, n_buckets=16, snapshot_id="snapA")
    assert second.processed_buckets == 8
    assert second.skipped_buckets == 8
    # final data identical to a clean full run
    data = spark.read.parquet(f"{outdir}/data")
    clean_dir = outdir + "_clean"
    try:
        clean = run_extraction(spark, pages, clean_dir, n_buckets=16, snapshot_id="snapA")
        clean_data = spark.read.parquet(f"{clean_dir}/data")
        a = {(r.url, r.checksum) for r in data.select("url", "checksum").collect()}
        b = {(r.url, r.checksum) for r in clean_data.select("url", "checksum").collect()}
        assert a == b
        # bucket checksums identical between interrupted+resumed and clean runs
        la = {
            (r.wp, r.bucket_checksum)
            for r in read_lineage(spark, outdir).select("wp", "bucket_checksum").collect()
        }
        lb = {
            (r.wp, r.bucket_checksum)
            for r in read_lineage(spark, clean_dir).select("wp", "bucket_checksum").collect()
        }
        assert la == lb
    finally:
        shutil.rmtree(clean_dir, ignore_errors=True)


def _files(d, pattern="*.parquet"):
    return glob.glob(os.path.join(d, "**", pattern), recursive=True)


def test_rerun_is_noop(spark, outdir):
    pages = pages_table(spark, SF0001)
    run_extraction(spark, pages, outdir, n_buckets=8, snapshot_id="snapA")
    lineage_files = sorted(os.listdir(f"{outdir}/lineage"))
    again = run_extraction(spark, pages, outdir, n_buckets=8, snapshot_id="snapA")
    assert again.processed_buckets == 0
    assert again.skipped_buckets == 8
    assert read_lineage(spark, outdir).count() == 8
    # a no-op rerun appends nothing, not even an empty file
    assert sorted(os.listdir(f"{outdir}/lineage")) == lineage_files


def test_rerun_with_empty_buckets_is_noop(spark, outdir):
    """More buckets than the input fills: the empty ones are committed as
    empty, so the rerun returns before building anything."""
    pages = pages_table(spark, SF0001)
    first = run_extraction(spark, pages, outdir, n_buckets=1024, snapshot_id="snapA")
    assert first.processed_buckets == 1024
    assert first.n_docs == pages.count()
    empty = read_lineage(spark, outdir).filter(F.col("n_docs") == 0)
    assert empty.count() > 0
    assert {r.bucket_checksum for r in empty.collect()} == {hashlib.sha256(b"").hexdigest()}
    lineage_files = sorted(os.listdir(f"{outdir}/lineage"))
    again = run_extraction(spark, pages, outdir, n_buckets=1024, snapshot_id="snapA")
    assert again.processed_buckets == 0
    assert again.skipped_buckets == 1024
    assert again.wall_sec == 0.0
    assert sorted(os.listdir(f"{outdir}/lineage")) == lineage_files


def test_new_snapshot_reprocesses(spark, outdir):
    pages = pages_table(spark, SF0001)
    run_extraction(spark, pages, outdir, n_buckets=8, snapshot_id="snapA")
    run2 = run_extraction(spark, pages, outdir, n_buckets=8, snapshot_id="snapB")
    assert run2.processed_buckets == 8  # different snapshot: all buckets again


def test_incremental_readback_partition_prunes(spark, outdir):
    """The lineage commit must re-read ONLY the buckets written this run:
    the wp isin filter has to reach the parquet scan as a partition
    filter, so commit cost grows with the increment, not total history."""
    pages = pages_table(spark, SF0001)
    # first run covers buckets 0..7
    run_extraction(
        spark, pages, outdir, n_buckets=16, snapshot_id="snapP",
        only_buckets=list(range(8)),
    )
    # the readback plan for an incremental second run (buckets 8..15)
    # must partition-prune to exactly those wp values
    df = spark.read.parquet(f"{outdir}/data").filter(
        F.col("wp").isin(list(range(8, 16)))
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "PartitionFilters" in scan and "wp" in scan.split("PartitionFilters")[1]
    # and the run itself only counts the new buckets
    run2 = run_extraction(
        spark, pages, outdir, n_buckets=16, snapshot_id="snapP",
    )
    assert run2.skipped_buckets == 8
    assert run2.processed_buckets == 8
    total = spark.read.parquet(f"{outdir}/data").count()
    assert total == pages.count()


def test_cli_main_runs_and_resumes(spark, outdir, capsys):
    """`python -m onnxocr_ray_spark` driver-entry contract (the
    spark-submit job body): first invocation extracts and commits
    lineage, second is a resume no-op."""
    import json

    from onnxocr_ray_spark.__main__ import main
    from onnxocr_ray_spark.sources.pages import pages_from_documents

    pages_dir = f"{outdir}/cli_pages"
    pages_from_documents(spark, SF0001).write.mode("overwrite").parquet(pages_dir)
    out_dir = f"{outdir}/cli_out"
    assert main(["--input", pages_dir, "--output", out_dir,
                 "--n-buckets", "16"]) == 0
    first = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert first["processed_buckets"] == 16 and first["n_docs"] == 500
    assert main(["--input", pages_dir, "--output", out_dir,
                 "--n-buckets", "16"]) == 0
    second = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert second["processed_buckets"] == 0
    assert second["skipped_buckets"] == 16


def test_run_leaves_session_conf_unchanged(spark, outdir):
    """Dynamic partition overwrite is a writer option, and the read-back's
    listing threshold is restored: a later partitioned overwrite in the
    caller's session keeps its own semantics. 64 buckets exceed the
    default listing threshold of 32, so the restore path runs."""
    spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
    before = spark.conf.getAll
    run = run_extraction(spark, pages_table(spark, SF0001), outdir, n_buckets=64)
    assert run.processed_buckets == 64
    assert spark.conf.getAll == before
    assert spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower() == "static"


def test_corrupt_lineage_raises(spark, outdir):
    """A lineage file that cannot be read must fail the run, not read as
    "nothing committed" and silently reprocess and re-append everything."""
    pages = pages_table(spark, SF0001)
    run_extraction(spark, pages, outdir, n_buckets=8, snapshot_id="snapA")
    (part,) = _files(f"{outdir}/lineage")
    with open(part, "wb") as fh:
        fh.write(b"not a parquet file" * 64)
    with pytest.raises(Exception, match="(?i)parquet"):
        run_extraction(spark, pages, outdir, n_buckets=8, snapshot_id="snapA")
    assert _files(f"{outdir}/lineage") == [part]


def test_empty_lineage_dir_means_nothing_committed(spark, outdir):
    os.makedirs(f"{outdir}/lineage/_temporary/0")
    pages = pages_table(spark, SF0001)
    run = run_extraction(spark, pages, outdir, n_buckets=8, snapshot_id="snapA")
    assert run.processed_buckets == 8
    assert run.skipped_buckets == 0
    assert run.n_docs == pages.count()


def test_lineage_matches_independent_recomputation(spark, outdir):
    """Each lineage row equals n_docs and sha256 over the sorted url
    checksums, recomputed from the committed files without Spark; the
    write makes at most one file per (task, bucket) boundary."""
    n_buckets = 16
    run = run_extraction(spark, pages_table(spark, SF0001), outdir, n_buckets=n_buckets)
    data = pq.read_table(f"{outdir}/data", columns=["checksum", "wp"]).to_pydict()
    by_wp = {}
    for c, wp in zip(data["checksum"], data["wp"]):
        by_wp.setdefault(int(wp), []).append(c)
    want = {
        wp: (len(cs), hashlib.sha256("\n".join(sorted(cs)).encode()).hexdigest())
        for wp, cs in by_wp.items()
    }
    got = {
        r["wp"]: (r["n_docs"], r["bucket_checksum"])
        for r in pq.read_table(f"{outdir}/lineage").to_pylist()
    }
    assert got == want
    assert len(got) == n_buckets == run.processed_buckets
    assert len({c for _, c in got.values()}) == n_buckets
    assert len({n for n, _ in got.values()}) > 1
    assert sum(n for n, _ in got.values()) == run.n_docs
    n_files = len(_files(f"{outdir}/data"))
    assert n_files <= n_buckets + spark.sparkContext.defaultParallelism - 1


def test_alignment_leaves_no_partition_empty(spark):
    """More partitions than buckets: range alignment on (wp, url) still
    fills every partition, where hash-by-wp leaves at least P - n_buckets
    of them empty."""
    n_buckets, parts = 8, 16
    bucketed = pages_table(spark, SF0001).select(
        "url", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int").alias("wp")
    )

    def sizes(df):
        counts = dict(
            df.groupBy(F.spark_partition_id().alias("p")).count().collect()
        )
        return [counts.get(p, 0) for p in range(parts)]

    aligned = sizes(align_to_buckets(bucketed, parts))
    assert min(aligned) > 0
    assert max(aligned) <= 2 * sum(aligned) / parts
    assert sizes(bucketed.repartition(parts, "wp")).count(0) >= parts - n_buckets
