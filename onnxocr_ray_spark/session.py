"""SparkSession factory with pinned, determinism-friendly configuration.

The reference pins its runtime the same way (one ORT session config,
`predict_base.py:18-23`; fixed thread counts, `config.yaml:96`); here the
pins are the Spark/Arrow knobs that affect plan shape and oracle
comparison:

- UTC session timezone (DuckDB oracle timestamps are UTC-naive),
- AQE on (runtime coalescing + skew handling),
- Arrow on for all pandas interchange,
- shuffle partitions sized to cores, not the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "onnxocr_ray_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        # default 128 MB packs small parquet files into too few scan
        # partitions for the Python-stage pipelines (a scan must yield at
        # least ~cores partitions or a Python map can't use the cluster);
        # 16 MB keeps scans parallel without tiny-task overhead
        .config("spark.sql.files.maxPartitionBytes", str(16 << 20))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "48g"))
        .config("spark.python.worker.reuse", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # make the package importable on executor Python workers regardless of
    # the driver's cwd (spark-submit --py-files idiom, self-service)
    from onnxocr_ray_spark.packaging import ship_package

    ship_package(spark)
    return spark
