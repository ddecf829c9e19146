"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE JSON
line: {"metric", "value" (total sec), "unit": "sec", "queries": {name:
sec}, "sf", plus triples/sec for the KG-emission headline}. The
printed line is kept under 1900 chars (the driver parses a ~2000-char
output tail), so its "queries" table carries the slowest 30; the
complete per-query table is written to BENCH/bench_full_latest.json.

Usage: python bench.py  (or spark-submit bench.py)
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def _cpu_steal_total() -> "tuple[int, int]":
    """(steal, total) jiffies from /proc/stat — the in-band evidence
    for host-level CPU steal. Measured here: 1.8% steal over a rep
    costs ~15-20% wall on the emission pipeline; the best-of-N rep
    with ~0% steal reproduces the steal-free rate."""
    try:
        with open("/proc/stat") as f:
            vals = list(map(int, f.readline().split()[1:]))
        return vals[7], sum(vals)
    except (OSError, IndexError, ValueError):
        return 0, 1


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    # min-of-N per query: the sandbox VM sees host-level steal that
    # swings single runs +-30%; the minimum wall is the steal-free
    # estimate (same policy as scripts/bench_scaling.py)
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    # the two headline measurements (the BASELINE.json metric) get
    # more reps: at 3-4 s/rep an extra 3 reps is ~10 s of suite time
    # and all but guarantees one ~steal-free rep
    hreps = int(os.environ.get("SPARK_GRAFT_BENCH_HEADLINE_REPS",
                               str(max(reps, 5))))

    from json_ld_spark.plans.session import build_session

    spark = build_session(app_name="json-ld-spark-bench", cpus=cpus,
                          shuffle_partitions=cpus)
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry

    timings: dict[str, float] = {}
    total = 0.0

    # headline A: full KG construction over the driver-provided tables
    # (derive → window → triple template) — the oracle-aligned path;
    # the sf-dir corpus is small, so this number is dominated by fixed
    # Spark overhead and measures end-to-end latency, not rate.
    # Emission is timed through the noop sink, which materializes every
    # triple; count() would let Catalyst prune the assembled strings.
    # The triple counts are taken once, outside the timed reps.
    kg_sec = float("inf")
    n_triples = entry._triples(spark, sf_dir).count()
    kg_steal = None
    for _ in range(hreps):
        s0, j0 = _cpu_steal_total()
        t0 = time.time()
        _noop(entry._triples(spark, sf_dir))
        dt = time.time() - t0
        s1, j1 = _cpu_steal_total()
        if dt < kg_sec:
            kg_sec = dt
            kg_steal = round(100.0 * (s1 - s0) / max(1, j1 - j0), 2)
    timings["kg_emit_triples"] = round(kg_sec, 3)
    total += kg_sec

    # headline B: sustained triples/sec (the BASELINE.json metric) on a
    # synthetic corpus sized for throughput measurement (~260k turns),
    # same pipeline, after a warmup pass to exclude JIT/codegen
    from json_ld_spark.operators.jsonld_ops import emit_triples, valid_triples
    from json_ld_spark.sources.transcripts import synthesize_transcripts

    n_convs = int(os.environ.get("SPARK_GRAFT_KG_CONVS", "20000"))
    tx = synthesize_transcripts(spark, n_convs=n_convs).localCheckpoint()
    n_turns = tx.count()
    n_sustained = valid_triples(emit_triples(tx)).count()  # warmup
    # best-of-hreps with per-rep steal telemetry: the sandbox VM sees
    # host-level steal; the min-wall rep is the steal-free estimate
    # and its recorded steal% is the in-band proof (same policy as
    # scripts/bench_scaling.py). r3→r4 root cause of the 998k→798k
    # swing: 2 reps both landed on stolen intervals; hreps=5 plus the
    # steal column makes that diagnosable from the JSON alone.
    sus_sec = float("inf")
    sus_rep_secs: list = []
    sus_rep_steal: list = []
    for _ in range(hreps):
        s0, j0 = _cpu_steal_total()
        t0 = time.time()
        _noop(valid_triples(emit_triples(tx)))
        dt = time.time() - t0
        s1, j1 = _cpu_steal_total()
        sus_rep_secs.append(round(dt, 3))
        sus_rep_steal.append(round(100.0 * (s1 - s0) / max(1, j1 - j0), 2))
        sus_sec = min(sus_sec, dt)
    timings["kg_emit_sustained"] = round(sus_sec, 3)
    total += sus_sec

    # Five registry entries are left out because the emission headlines
    # above already time their path (transcripts_derive, turn_ordering,
    # kg_triples_meta, kg_triples_mentions, kg_triple_counts); the
    # sixth, jaccard_prefix_join, has an exact-join output that is
    # quadratic in near-dup clusters (gated at oracle scale only).
    skip = {"transcripts_derive", "turn_ordering", "kg_triples_meta",
            "kg_triples_mentions", "kg_triple_counts", "jaccard_prefix_join"}
    for name, q in entry.queries().items():
        if name in skip:
            continue
        # streaming queries run once (temp-dir setup + query startup
        # dominate; min-of-N would only re-measure fixed latency)
        dt = float("inf")
        for _ in range(1 if name.startswith("stream_") else reps):
            t0 = time.time()
            q(spark, sf_dir).count()
            dt = min(dt, time.time() - t0)
        timings[name] = round(dt, 3)
        total += dt

    result = {
        "metric": "headline_suite_sec",
        "value": round(total, 3),
        "unit": "sec",
        "queries": timings,
        "sf": sf_dir,
        "cpus": cpus,
        "kg_triples": n_triples,
        "kg_small_corpus_triples_per_sec": (
            round(n_triples / kg_sec, 1) if kg_sec > 0 else None
        ),
        "kg_sustained_turns": n_turns,
        "kg_sustained_triples": n_sustained,
        "kg_triples_per_sec": (
            round(n_sustained / sus_sec, 1) if sus_sec > 0 else None
        ),
        # in-band steal evidence for the two headline measurements:
        # per-rep wall + steal% for sustained, steal% of the best
        # small-corpus rep. High per-rep steal explains a slow rep;
        # the reported headline is the min-wall (lowest-steal) rep.
        "kg_sustained_rep_secs": sus_rep_secs,
        "kg_sustained_rep_steal_pct": sus_rep_steal,
        "kg_emit_triples_steal_pct": kg_steal,
    }
    # The round driver keeps only the LAST ~2000 chars of this run's
    # output and json-parses what it finds there. The r4 result line
    # was 2990 chars (106 per-query timings) — unparseable no matter
    # how clean the surrounding output. So: the FULL result goes to a
    # stable committed file, and stdout gets ONE compact line that is
    # guaranteed to fit: headline metrics + the slowest-N per-query
    # table (the scale-audit set), a pointer to the full file, and the
    # grand total over all queries.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "BENCH", "bench_full_latest.json",
    )
    try:
        os.makedirs(os.path.dirname(full_path), exist_ok=True)
        with open(full_path, "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
    except OSError:
        full_path = None
    compact = dict(result)
    slowest = dict(sorted(timings.items(), key=lambda kv: -kv[1])[:30])
    compact["queries"] = {k: round(v, 2) for k, v in slowest.items()}
    compact["n_queries"] = len(timings)
    compact["queries_omitted_sec"] = round(
        sum(v for k, v in timings.items() if k not in slowest), 2
    )
    compact["queries_full"] = "BENCH/bench_full_latest.json"
    line = json.dumps(compact, separators=(",", ":"))
    # hard guarantee: shed the cheapest timings until the line fits
    # the driver's capture window with margin
    while len(line) > 1900 and compact["queries"]:
        drop = min(compact["queries"], key=compact["queries"].get)
        compact["queries_omitted_sec"] = round(
            compact["queries_omitted_sec"] + compact["queries"].pop(drop), 2
        )
        line = json.dumps(compact, separators=(",", ":"))
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
