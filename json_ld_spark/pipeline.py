"""End-to-end KG construction pipeline (BASELINE.json north_rule):

    transcripts → stable turn order → mention counts + per-slot triple
      template (expand + toRDF, JVM-native) → alias canonicalization
      (minhash + CC; only when the caller passes an alias table)
      → bucketed graph_triples sink + per-partition lineage/metrics

Checkpoint-resume: the sink is partitioned by conv_bucket =
pmod(hash(conv_id), B), Spark's own hash-partition id (the id
HashPartitioning(conv_id, B) assigns). The emission window shuffles on
hashpartitioning(conv_id, n), so task p holds only buckets ≡ p mod
gcd(n, B): at most lcm(n, B) sink files, with no second shuffle. A
lineage table records B and per-bucket status and triple counts; a
resumed run (refused if B differs) anti-joins completed buckets and
processes only the remainder (idempotent per-partition overwrite).
At cluster scale each bucket is an independent unit of work, so a
failed job re-does only unfinished buckets.
"""

from __future__ import annotations

import os
import time
from typing import Optional

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from json_ld_spark.operators import jsonld_ops
from json_ld_spark.operators.canonicalize import apply_merge_map, build_merge_map
from json_ld_spark.operators.dedup import minhash_dedup_components

LINEAGE_SCHEMA = (
    "stage string, conv_buckets int, conv_bucket int, status string, "
    "triple_count long, error_count long, wall_sec double"
)


def _conv_bucket(conv_buckets: int) -> Column:
    """Spark's hash-partition id of conv_id over ``conv_buckets``."""
    return F.pmod(F.hash("conv_id"), F.lit(conv_buckets))


def alias_merge_map(
    spark: SparkSession,
    aliases: Optional[DataFrame] = None,
) -> DataFrame:
    """Merge map for entity aliases: minhash-block alias surface forms,
    verify with Jaccard, connect components, pick canonical heads.

    ``aliases`` is an (entity_iri, surface) DataFrame; defaults to the
    built-in gazetteer (distinct surfaces: an empty map that exercises
    the operators).
    """
    if aliases is None:
        from json_ld_spark.sources.gazetteer import GAZETTEER, entity_iri

        rows = [(entity_iri(suffix), surface) for _, surface, suffix in GAZETTEER]
        aliases = spark.createDataFrame(rows, "entity_iri string, surface string")
    return build_merge_map(minhash_dedup_components(
        aliases, "entity_iri", "surface", threshold=0.85
    ))


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    conv_buckets: int = 16,
    aliases: Optional[DataFrame] = None,
    resume: bool = True,
) -> dict:
    """Run (or resume) the full pipeline. Returns metrics dict.

    Triples are canonicalized only when an (entity_iri, surface)
    ``aliases`` table is passed. conv_bucket is Spark's hash-partition
    id of conv_id, so the sink holds at most
    lcm(defaultParallelism, conv_buckets) files: exactly conv_buckets
    when defaultParallelism divides it."""
    t0 = time.time()
    triples_path = os.path.join(out_dir, "graph_triples")
    lineage_path = os.path.join(out_dir, "lineage")

    done_buckets: list[int] = []
    if resume and os.path.exists(lineage_path):
        # one row per bucket per run: small enough to collect
        lineage = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path).collect()
        found = {r["conv_buckets"] for r in lineage}
        if found - {conv_buckets}:
            raise ValueError(f"{lineage_path} records conv_buckets {found}; "
                             f"cannot resume it with {conv_buckets}")
        done_buckets = sorted({r["conv_bucket"] for r in lineage
                               if r["stage"] == "emit" and r["status"] == "done"})
        if done_buckets:
            transcripts = transcripts.filter(
                ~_conv_bucket(conv_buckets).isin(done_buckets))

    all_triples = jsonld_ops.emit_triples(transcripts)
    if aliases is not None:
        all_triples = apply_merge_map(all_triples, alias_merge_map(spark, aliases))

    # dynamic partition overwrite: only recomputed buckets are
    # replaced, so a bucket that failed MID-write last run (partial
    # files, no lineage row) is cleanly rewritten instead of appended —
    # the parquet analog of Iceberg overwrite-by-filter
    (
        all_triples.withColumn("conv_bucket", _conv_bucket(conv_buckets))
        .write.mode("overwrite")
        .partitionBy("conv_bucket")
        .parquet(triples_path)
    )

    # per-partition lineage + metrics (one scan of the written sink —
    # counts what actually landed, not what was planned); a write of 0
    # rows leaves no file to infer the schema from. The at most B rows
    # are materialized once: the lineage write and the totals both read
    # them, not the sink.
    sink_schema = jsonld_ops.TRIPLE_SCHEMA + ", conv_bucket int"
    written = spark.read.schema(sink_schema).parquet(triples_path)
    if done_buckets:
        written = written.filter(~F.col("conv_bucket").isin(done_buckets))
    wall = time.time() - t0
    metrics = (
        written.groupBy("conv_bucket")
        .agg(
            F.count(F.when(F.col("error_code").isNull(), 1)).alias("triple_count"),
            F.count(F.when(F.col("error_code").isNotNull(), 1)).alias("error_count"),
        )
        .select(
            F.lit("emit").alias("stage"),
            F.lit(conv_buckets).alias("conv_buckets"),
            "conv_bucket",
            F.lit("done").alias("status"),
            "triple_count",
            "error_count",
            F.lit(wall).alias("wall_sec"),
        )
        .localCheckpoint()
    )
    metrics.write.mode("append").parquet(lineage_path)
    per_bucket = metrics.collect()

    return {
        "triples": sum(r["triple_count"] for r in per_bucket),
        "errors": sum(r["error_count"] for r in per_bucket),
        "wall_sec": wall,
        "buckets_skipped": len(done_buckets),
        "out": triples_path,
    }
