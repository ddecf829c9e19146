"""SparkSession construction tuned for the KG pipeline.

Scale posture (designed for 1000-executor clusters, tested on
local[N]):
  - AQE on: runtime coalescing + skew-join splitting for
    conversation-length skew (BASELINE.json north_rule).
  - Arrow enabled + bounded batch size: the expand/toRDF UDFs move
    document batches JVM↔Python; maxRecordsPerBatch bounds peak
    executor-python memory so partitions spill, not OOM.
  - shuffle.partitions sized by caller (≈ cores locally; thousands on
    a real cluster).
  - Sinks write parquet; no Iceberg catalog is configured.
"""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import SparkSession


def build_session(
    app_name: str = "json-ld-spark",
    cpus: Optional[int] = None,
    shuffle_partitions: Optional[int] = None,
    warehouse: Optional[str] = None,
    extra_conf: Optional[dict] = None,
) -> SparkSession:
    cpus = cpus or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "8192")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.ui.enabled", "false")
        # progress bars interleave \r-lines into captured output; the
        # round driver keeps only the last ~2000 chars of the bench
        # run, so every non-JSON byte risks clipping the result line
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if warehouse:
        builder = builder.config("spark.sql.warehouse.dir", warehouse)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
