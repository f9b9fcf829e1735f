"""SparkSession factory.

Tuned for the local[32] test harness but with settings that carry to a
real cluster: AQE (runtime re-planning, skew-join splitting, partition
coalescing) and Arrow for any Pandas-UDF escape hatch. On a 1000-executor
cluster the only knobs that change are master/memory/shuffle-partitions —
the query code is partitioning-agnostic by design.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "pipeline_apache_beam_entrega1_cs_spark",
              shuffle_partitions: int | None = None) -> SparkSession:
    """Create (or fetch) a SparkSession with scale-sane defaults.

    - AQE on: dynamic shuffle-partition coalescing + skew-join handling,
      which is what makes a fixed ``shuffle.partitions`` safe at any SF.
    - UTC session timezone: parquet timestamps compare cleanly against
      the DuckDB oracle (DuckDB timestamps are UTC-naive).
    - Arrow on: vectorized transfer for the few Pandas-UDF operators.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # The events table carries parquet TIMESTAMP(NANOS), which Spark's
        # reader rejects outright; read as long and convert in the loader
        # (schemas.load_table) — DuckDB/Arrow truncate ns->us the same way.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Warehouse for saveAsTable (bucketed-table demos); /tmp keeps the
        # repo clean and the in-memory catalog scopes tables per session.
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # A glob read makes FileStreamSink probe the literal glob path for a
    # streaming-sink metadata directory and log the FileNotFoundException
    # at WARN with its full stack trace on every read; silence only that
    # logger, so every other WARN still prints.
    jvm = spark.sparkContext._jvm
    jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
        "org.apache.spark.sql.execution.streaming.sinks.FileStreamSink",
        jvm.org.apache.logging.log4j.Level.ERROR,
    )
    return spark
