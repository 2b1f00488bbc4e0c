"""SparkSession factory.

Local testing runs ``local[$SPARK_GRAFT_CPUS]`` (single JVM); the same
settings are cluster-safe: AQE handles runtime re-planning/skew, UTC
session timezone keeps timestamp semantics engine-portable (DuckDB oracle
comparisons), Arrow makes pandas interchange vectorized.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "automated-data-pipeline-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if shuffle_partitions is None:
        shuffle_partitions = cpus
    builder = (
        SparkSession.builder.master(os.environ.get("SPARK_MASTER", f"local[{cpus}]"))
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # tz-less parquet TIMESTAMP(MICROS) (driver fixtures) should read
        # as regular TIMESTAMP, not TIMESTAMP_NTZ — value-identical under
        # UTC and keeps one timestamp type across the engine
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # zstd: ~30-40% smaller parquet than snappy at comparable CPU —
        # at 100 TB the scan is IO-bound, so smaller bytes win twice
        # (storage + read throughput)
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
