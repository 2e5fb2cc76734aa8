"""SparkSession factory tuned for the agni-spark engine.

Local mode mirrors the target deployment (large cluster, 100 TB):
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
Arrow for any Python exchange, broadcast threshold sized so dimension
tables (series registry, label postings) broadcast into the huge
samples fact table instead of shuffling it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "agni-spark", cpus: int | None = None) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # per-query codegen classes overflow a C1-only JVM's 48 MB default
        # code cache, which then flushes and recompiles hot engine code
        .config("spark.driver.defaultJavaOptions", "-XX:ReservedCodeCacheSize=256m")
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()


def tune_session(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable tuning to an externally provided session
    (the correctness driver passes its own SparkSession)."""
    for k, v in [
        ("spark.sql.session.timeZone", "UTC"),
        ("spark.sql.adaptive.enabled", "true"),
        ("spark.sql.adaptive.coalescePartitions.enabled", "true"),
        ("spark.sql.execution.arrow.pyspark.enabled", "true"),
    ]:
        try:
            spark.conf.set(k, v)
        except Exception:
            pass  # immutable in this session; accept its defaults
    return spark
