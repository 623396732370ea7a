"""SparkSession construction tuned for this engine.

Local-mode defaults mirror what we would set per-cluster at scale:
AQE on (runtime re-plan, skew-join splitting, partition coalescing),
shuffle partitions sized to cores (would be ~2-3x total cores on a real
cluster), Arrow for any pandas exchange, UTC session time so timestamp
semantics match the (naive-UTC) parquet test data and the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

SCRATCH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", ".scratch")


def get_spark(app_name: str = "log2ck_spark", cpus: int | None = None) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("LOG2CK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.path.join(SCRATCH, "warehouse"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
