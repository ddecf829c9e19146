"""End-to-end KG construction pipeline (BASELINE.json north_rule):

    transcripts → stable turn order → mention counts + per-turn triple
      template (expand + toRDF, JVM-native) → alias canonicalization (minhash + CC)
      → bucketed graph_triples sink + per-partition lineage/metrics

Checkpoint-resume: the sink is partitioned by conv_bucket =
pmod(xxhash64(conv_id), N). A lineage table records per-bucket status
and triple counts; a resumed run anti-joins completed buckets and
processes only the remainder (idempotent per-partition overwrite).
At cluster scale each bucket is an independent unit of work, so a
failed job re-does only unfinished buckets.
"""

from __future__ import annotations

import os
import time
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from json_ld_spark.operators import jsonld_ops
from json_ld_spark.operators.canonicalize import apply_merge_map, build_merge_map
from json_ld_spark.operators.dedup import minhash_dedup_components

LINEAGE_SCHEMA = (
    "stage string, conv_bucket int, status string, triple_count long, "
    "error_count long, wall_sec double"
)


def alias_merge_map(
    spark: SparkSession,
    aliases: Optional[DataFrame] = None,
    checkpoint_dir: Optional[str] = None,
) -> DataFrame:
    """Merge map for entity aliases: minhash-block alias surface forms,
    verify with Jaccard, connect components, pick canonical heads.

    ``aliases`` is an (entity_iri, surface) DataFrame; defaults to the
    built-in gazetteer (exercises the operators; real corpora pass the
    discovered-alias table here). ``checkpoint_dir``: reliable
    per-round checkpoints for the CC iterations on a real cluster.
    """
    if aliases is None:
        from json_ld_spark.sources.gazetteer import GAZETTEER, entity_iri

        rows = [(entity_iri(suffix), surface) for _, surface, suffix in GAZETTEER]
        aliases = spark.createDataFrame(rows, "entity_iri string, surface string")
    return build_merge_map(minhash_dedup_components(
        aliases, "entity_iri", "surface", threshold=0.85,
        checkpoint_dir=checkpoint_dir,
    ))


def run_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    conv_buckets: int = 16,
    canonicalize: bool = True,
    resume: bool = True,
) -> dict:
    """Run (or resume) the full pipeline. Returns metrics dict."""
    t0 = time.time()
    triples_path = os.path.join(out_dir, "graph_triples")
    lineage_path = os.path.join(out_dir, "lineage")

    src = transcripts.withColumn(
        "conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(conv_buckets)).cast("int")
    )

    done_buckets: list[int] = []
    if resume and os.path.exists(lineage_path):
        lineage = spark.read.parquet(lineage_path)
        done_buckets = [
            r["conv_bucket"]
            for r in lineage.filter(
                (F.col("stage") == "emit") & (F.col("status") == "done")
            ).select("conv_bucket").distinct().collect()
        ]
        if done_buckets:
            src = src.filter(~F.col("conv_bucket").isin(done_buckets))

    all_triples = jsonld_ops.emit_triples(src.drop("conv_bucket"))
    if canonicalize:
        merge_map = alias_merge_map(spark)
        all_triples = apply_merge_map(all_triples, merge_map)
    all_triples = all_triples.withColumn(
        "conv_bucket", F.pmod(F.xxhash64("conv_id"), F.lit(conv_buckets)).cast("int")
    )

    # dynamic partition overwrite: only recomputed buckets are
    # replaced, so a bucket that failed MID-write last run (partial
    # files, no lineage row) is cleanly rewritten instead of appended —
    # the parquet analog of Iceberg overwrite-by-filter
    (
        all_triples.write.mode("overwrite")
        .partitionBy("conv_bucket")
        .parquet(triples_path)
    )

    # per-partition lineage + metrics (one scan of the written sink —
    # counts what actually landed, not what was planned)
    written = spark.read.parquet(triples_path)
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
            "conv_bucket",
            F.lit("done").alias("status"),
            "triple_count",
            "error_count",
            F.lit(wall).alias("wall_sec"),
        )
    )
    metrics.write.mode("append").parquet(lineage_path)

    totals = written.agg(
        F.count(F.when(F.col("error_code").isNull(), 1)).alias("triples"),
        F.count(F.when(F.col("error_code").isNotNull(), 1)).alias("errors"),
    ).collect()[0]
    return {
        "triples": totals["triples"],
        "errors": totals["errors"],
        "wall_sec": wall,
        "buckets_skipped": len(done_buckets),
        "out": triples_path,
    }
