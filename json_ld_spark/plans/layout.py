"""Partition-layout guards.

A compact parquet corpus (a few MB) scans as 1-2 splits under
spark.sql.files.maxPartitionBytes, and every zero-shuffle stage
downstream of the scan inherits that granularity — on local[32] a
compute-heavy per-row stage (Arrow-batched Python expansion, shingle
hashing, LSH plane dots) then runs on 1-2 of 32 cores. On a real
cluster reading a 100 TB table the scan has thousands of splits and
these guards are no-ops; they exist so small-corpus benchmarks measure
the operators, not the file layout.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def rebalance_scan(df: DataFrame) -> DataFrame:
    """Round-robin repartition iff the frame currently has fewer
    partitions than the session's parallelism. Checking partition
    count converts the plan to an RDD but runs no job; the repartition
    ships each row once (do this on the NARROW projection that feeds a
    compute-heavy stage — ids and text, never wide intermediates).
    Measured: the minhash shingle stage at sf1 went 18.2 s → 1.2 s
    versus pushing the same work through an aggregation shuffle."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
