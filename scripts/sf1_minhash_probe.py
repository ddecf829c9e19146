"""Spark-side sf1 evidence for minhash_components.

At the scaled sf1 corpus (50k docs whose replicas are deliberate
NEAR-dups) the DuckDB oracle's recursive-CTE transitive closure over
the ~10^7 candidate edges is intractable in reasonable wall time —
an ORACLE cost, not an engine cost (simhash_pairs, the other
pair-explosion query, oracle-verified fine at sf1 with 20.2M rows).
So minhash at sf1 is evidenced Spark-side instead:

  1. wall time + row count for the full pipeline (blocking →
     Jaccard verify → star-contraction CC) at sf1;
  2. INVARIANT: every verified candidate edge connects two ids that
     landed in the SAME component (a CC that split an edge fails);
  3. DETERMINISM: the (component count, xor-hash of (id, component))
     summary is identical under a different shuffle-partition count.

Usage: python scripts/sf1_minhash_probe.py [sf_dir]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def summary(spark, sf_dir: str):
    from pyspark.sql import functions as F

    from json_ld_spark.operators.canonicalize import (
        hashed_shingle_sets,
        jaccard_filter,
        minhash_candidate_pairs,
    )
    from json_ld_spark.operators.dedup import minhash_dedup_components

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    t0 = time.time()
    comp = minhash_dedup_components(docs, threshold=0.3).localCheckpoint()
    n_rows = comp.count()
    wall = time.time() - t0
    digest = (
        comp.select(F.xxhash64("id", "component").alias("h"))
        .agg(F.expr("bit_xor(h)").alias("digest"))
        .collect()[0]["digest"]
    )
    n_components = comp.select("component").distinct().count()

    # the VERIFIED edge set the CC actually ran on (same parameters
    # as minhash_dedup_components)
    sets_ = hashed_shingle_sets(docs, "doc_id", "text")
    pairs = minhash_candidate_pairs(sets_)
    verified = jaccard_filter(pairs, sets_, 0.3).select("id_a", "id_b")
    return comp, verified, n_rows, wall, n_components, digest


def main() -> int:
    from json_ld_spark.plans.session import build_session
    from pyspark.sql import functions as F

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sfscaled/sf1"
    out = {}
    spark = build_session(app_name="sf1minhash", cpus=16, shuffle_partitions=32)
    comp, pairs, n_rows, wall, n_components, digest = summary(spark, sf_dir)
    out.update(
        rows=n_rows, wall_sec=round(wall, 1),
        n_components=n_components, digest=digest,
    )

    # edge-containment invariant on the verified pair set the same
    # code path produces (threshold matches the driver query)
    a = comp.withColumnRenamed("id", "id_a").withColumnRenamed(
        "component", "ca"
    )
    b = comp.withColumnRenamed("id", "id_b").withColumnRenamed(
        "component", "cb"
    )
    joined = pairs.join(a, "id_a").join(b, "id_b")
    n_pairs = joined.count()
    n_cross = joined.filter(F.col("ca") != F.col("cb")).count()
    out.update(candidate_pairs_in_components=n_pairs, cross_component_edges=n_cross)
    spark.stop()

    # determinism probe under a different parallelism/shuffle layout
    spark2 = build_session(app_name="sf1minhash2", cpus=8, shuffle_partitions=11)
    comp2, _, n_rows2, wall2, n_components2, digest2 = summary(spark2, sf_dir)
    out.update(
        rerun_rows=n_rows2, rerun_wall_sec=round(wall2, 1),
        rerun_digest=digest2,
        deterministic=(n_rows == n_rows2 and digest == digest2
                       and n_components == n_components2),
    )
    spark2.stop()
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
