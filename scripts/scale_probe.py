"""Beyond-sf0.1 scale evidence: per-stage timing curves for the two
pipelines whose 100-TB behavior the design leans on — KG emission and
minhash dedup → connected components.

The claim to evidence (round-2 verdict #7): the banded candidate join
and star CC stay near-linear as the corpus grows past sf0.1 (~50k
docs / 1.3M turns). This probe runs the SAME operators on synthetic
corpora at 3 sizes up to ≥1M documents and logs per-stage wall times,
so the curve — not a single point — is on record.

Stages timed for dedup/CC:
  shingle   hashed_shingle_sets (shared pass, materialized)
  pairs     minhash signatures → banding → capped self-join
  verify    exact-Jaccard join-back filter
  cc        alternating large-star/small-star to fixpoint (+rounds)

Emission: synthesize → stable-order window → triple template →
count (same job as bench_scaling's worker, one size point per corpus).

Near-linearity check: for each consecutive size pair the probe prints
seconds-per-size growth ratio vs corpus growth ratio; a stage whose
time grows much faster than the input (ratio ≫ growth) is flagged
superlinear.

Run: python scripts/scale_probe.py [sizes_csv]   (default 125000,500000,1000000)
Prints one JSON line per size plus a summary; paste into
BENCH/BASELINE.md's scale-probe section.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def probe_size(spark, n_docs: int) -> dict:
    from pyspark.sql import functions as F

    from json_ld_spark.operators.canonicalize import (
        connected_components,
        hashed_shingle_sets,
        jaccard_filter,
        minhash_candidate_pairs,
    )
    from json_ld_spark.operators.jsonld_ops import emit_triples, valid_triples
    from json_ld_spark.sources.transcripts import synthesize_transcripts

    out: dict = {"n_docs": n_docs}

    # corpus: synthesized transcripts, one "document" per turn. The
    # snippet templates repeat at this scale, so the corpus is heavily
    # near-duplicated — the adversarial regime for banding (hot
    # buckets) that the 64-row cap must keep sub-quadratic.
    n_convs = max(n_docs // 13, 1)  # ~13 turns/conv with default skew
    tx = synthesize_transcripts(spark, n_convs=n_convs).localCheckpoint()
    n_turns = tx.count()
    out["n_turns"] = n_turns

    t0 = time.time()
    n_triples = valid_triples(emit_triples(tx)).count()
    out["emit_sec"] = round(time.time() - t0, 2)
    out["n_triples"] = n_triples
    out["triples_per_sec"] = round(n_triples / out["emit_sec"], 1)

    docs = tx.select(
        F.xxhash64("conv_id", "turn_idx").alias("doc_id"), "text"
    ).localCheckpoint()

    t0 = time.time()
    sets_ = hashed_shingle_sets(docs, "doc_id", "text")
    n_sets = sets_.count()
    out["shingle_sec"] = round(time.time() - t0, 2)

    t0 = time.time()
    pairs = minhash_candidate_pairs(sets_)
    out["n_pairs"] = pairs.count()
    out["pairs_sec"] = round(time.time() - t0, 2)

    t0 = time.time()
    verified = jaccard_filter(pairs, sets_, threshold=0.8).localCheckpoint()
    out["n_verified"] = verified.count()
    out["verify_sec"] = round(time.time() - t0, 2)

    t0 = time.time()
    stats: dict = {}
    comps = connected_components(verified.select("id_a", "id_b"), stats=stats)
    out["n_component_rows"] = comps.count()
    out["cc_sec"] = round(time.time() - t0, 2)
    out["cc_rounds"] = stats.get("rounds")
    assert n_sets == docs.count()
    return out


def main() -> None:
    sizes = (
        [int(x) for x in sys.argv[1].split(",")]
        if len(sys.argv) > 1
        else [125_000, 500_000, 1_000_000]
    )
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    from json_ld_spark.plans.session import build_session

    spark = build_session(
        app_name="scale-probe", cpus=cpus, shuffle_partitions=cpus
    )
    spark.sparkContext.setLogLevel("ERROR")

    results = []
    for n in sizes:
        r = probe_size(spark, n)
        results.append(r)
        print(json.dumps(r), flush=True)

    stages = ["emit_sec", "shingle_sec", "pairs_sec", "verify_sec", "cc_sec"]
    summary: dict = {"sizes": sizes, "growth": []}
    for a, b in zip(results, results[1:]):
        growth = b["n_docs"] / a["n_docs"]
        entry = {"docs_growth": round(growth, 2)}
        for s in stages:
            ratio = b[s] / a[s] if a[s] > 0 else None
            entry[s.replace("_sec", "_time_growth")] = (
                round(ratio, 2) if ratio else None
            )
            entry[s.replace("_sec", "_superlinear")] = bool(
                ratio and ratio > growth * 1.5
            )
        summary["growth"].append(entry)
    print(json.dumps({"summary": summary}), flush=True)
    # persist for bench_scaling.py to fold into BENCH/BASELINE.md
    bench_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCH"
    )
    os.makedirs(bench_dir, exist_ok=True)
    with open(os.path.join(bench_dir, "scale_probe.json"), "w") as f:
        json.dump({"results": results, "summary": summary, "cpus": cpus}, f,
                  indent=1)
    spark.stop()


if __name__ == "__main__":
    main()
