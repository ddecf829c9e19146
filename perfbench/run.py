"""KG-construction benchmark: one workload per run, closed loop (one
Spark job in flight), every rep's output checked.

    python3 perfbench/run.py --workload emit_sustained --seed 1 --seconds 10 --trace 0

Run from the repository root. Spark runs on local[<cpus of this
process>] from this one Python process. With ``--trace 0`` the last stdout
line carries the end-to-end metrics; with ``--trace 1`` it carries the
per-layer metrics, taken from spans around calls into each layer and
from Spark's own event log, folded by job group (one group per span).
Everything the run writes goes under ``.perfbench_work/`` in the
repository root and is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

from workloads import QUERY_MIX, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SETUPS = 3  # input set-ups per run; setup_s takes their median
# a fresh JVM's reps keep getting faster (JIT, Python-worker start-up);
# the first four are the steepest part of that, and are not timed
WARMUP_REPS = 4
PROBE_DOCS = 2000  # documents in the pipeline and query probes

QUERY_SPANS = [f"query.{q}" for q in QUERY_MIX]
SPANS = ["jsonld_ops.order", "jsonld_ops.emit", "canonicalize.merge_map",
         "pipeline.run"] + QUERY_SPANS
SPARK_WIDE = ["executor_run_ms", "executor_cpu_ms", "gc_ms", "spill_bytes",
              "shuffle_read_bytes", "tasks"]


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def build_spark(work: str, cpus: int, event_log: bool):
    from json_ld_spark.plans.session import build_session

    conf = {
        # a fixed, pre-touched heap: the resident size of the JVM then does
        # not depend on when its collector chose to grow the heap
        "spark.driver.memory": "1g",
        "spark.driver.extraJavaOptions": "-Xms1g -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.dir": os.path.join(work, "eventlog"),
                     "spark.eventLog.compress": "false"})
    spark = build_session(app_name="perfbench", cpus=cpus,
                          shuffle_partitions=cpus, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def timed_loop(rep, name: str, seconds: float, reps: list) -> None:
    """Closed loop: the next rep starts when the previous one ended,
    until ``seconds`` have passed (at least one rep). ``rep()`` returns
    (wall, problems); appends (wall, steal %, problems) to ``reps``."""
    from spans import cpu_steal_total

    start = time.perf_counter()
    while True:
        s0, j0 = cpu_steal_total()
        try:
            wall, problems = rep()
        except Exception:  # a failed rep is counted, and the run goes on
            log(traceback.format_exc())
            wall, problems = float("nan"), ["rep raised"]
        s1, j1 = cpu_steal_total()
        reps.append((wall, 100.0 * (s1 - s0) / max(1, j1 - j0), problems))
        for p in problems:
            log(f"{name} rep {len(reps)}: {p}")
        if time.perf_counter() - start >= seconds:
            return


def median_wall(reps: list) -> float:
    """Median wall of the reps that ran to the end (a rep whose output
    check failed still ran; one that raised did not)."""
    walls = [w for w, *_ in reps if w == w]
    if not walls:
        raise RuntimeError("every rep raised")
    return statistics.median(walls)


def layer_metrics(wl, tracer, fold: dict, session: list, materialize: list,
                  warmup_s: float, untraced: list, traced: list) -> dict:
    """Per-layer metrics of one traced run; metrics of layers this
    workload does not exercise read 0."""
    from workloads import replay_core

    m: dict[str, float] = {}
    count = {s: max(1, len(tracer.durations(s))) for s in SPANS}

    def per_span(span: str, key: str) -> float:
        return fold.get(span, {}).get(key, 0.0) / count[span]

    def span_s(span: str) -> float:
        d = tracer.durations(span)
        return statistics.median(d) if d else 0.0

    m["plans.session.build_s"] = statistics.median(session)
    m["sources.materialize_s"] = statistics.median(materialize)
    m["warmup_s"] = warmup_s
    for span in SPANS:
        for key in SPARK_WIDE:
            m[f"{span}.{key}"] = per_span(span, key)

    m["jsonld_ops.order.s"] = span_s("jsonld_ops.order")
    m["jsonld_ops.order.shuffle_write_bytes"] = per_span("jsonld_ops.order", "shuffle_write_bytes")
    m["jsonld_ops.emit.self_s"] = span_s("jsonld_ops.emit") - m["jsonld_ops.order.s"]
    for key in ("py_run_ms", "py_init_ms", "arrow_in_bytes", "arrow_out_bytes"):
        m[f"jsonld_ops.emit.{key}"] = per_span("jsonld_ops.emit", key)
    rows_out = per_span("jsonld_ops.emit", "py_rows_out")
    m["jsonld_ops.emit.rows_out"] = rows_out
    m["jsonld_ops.emit.arrow_out_bytes_per_triple"] = (
        m["jsonld_ops.emit.arrow_out_bytes"] / rows_out if rows_out else 0.0)
    m.update(replay_core(wl.sample_args))
    m["jsonld_ops.emit.py_other_us"] = 1e3 * m["jsonld_ops.emit.py_run_ms"] / wl.turns_in - (
        m["core.build_doc_us"] + m["core.expand_us"] + m["core.to_rdf_us"])

    m["canonicalize.merge_map_s"] = span_s("canonicalize.merge_map")
    m["canonicalize.jobs"] = per_span("canonicalize.merge_map", "jobs")

    # per pipeline rep: the sink write is the SQL execution that wrote
    # the most records; the executions after it read the sink back for
    # the lineage table
    execs = [x for x in fold.get("pipeline.run", {}).get("executions", {}).values()
             if x["start_ms"] is not None and x["end_ms"] is not None]
    write_s = lineage_s = 0.0
    for _, _, _, e0, e1 in (s for s in tracer.spans if s[0] == "pipeline.run"):
        mine = [x for x in execs if e0 <= x["start_ms"] <= e1]
        if mine:
            w = max(mine, key=lambda x: x["records_written"])
            write_s += (w["end_ms"] - w["start_ms"]) / 1e3
            lineage_s += sum(x["end_ms"] - x["start_ms"] for x in mine
                             if x["start_ms"] >= w["end_ms"]) / 1e3
    m["pipeline.write_s"] = write_s / count["pipeline.run"]
    m["pipeline.lineage_s"] = lineage_s / count["pipeline.run"]
    m["sink.files"] = float(wl.sink_files)
    m["sink.bytes"] = float(wl.sink_bytes)
    m["sink_bytes_per_triple"] = wl.sink_bytes / wl.probe_triples if wl.probe_triples else 0.0
    m["pipeline.s"] = span_s("pipeline.run")

    for span in QUERY_SPANS:
        m[f"{span}.s"] = span_s(span)
        m[f"{span}.jobs"] = per_span(span, "jobs")
        m[f"{span}.shuffle_write_bytes"] = per_span(span, "shuffle_write_bytes")

    traced_wall = median_wall(traced)
    m["host.steal_pct"] = statistics.median(r[1] for r in untraced + traced)
    m["trace.overhead_frac"] = traced_wall / median_wall(untraced) - 1.0
    # the rep is the emit span, which holds the order layer
    m["trace.unattributed_frac"] = 1.0 - span_s("jsonld_ops.emit") / traced_wall
    # the pipeline's merge map runs before its sink write, inside the run
    m["pipeline.unattributed_frac"] = (1.0 - (
        m["canonicalize.merge_map_s"] + m["pipeline.write_s"] + m["pipeline.lineage_s"])
        / m["pipeline.s"]) if m["pipeline.s"] else 0.0
    all_reps = untraced + traced
    m["failed_frac"] = sum(1 for r in all_reps if r[2]) / len(all_reps)
    m["quarantine_frac"] = wl.quarantined / wl.turns_in
    return m


def run(args, work: str) -> dict:
    from spans import RssSampler, Tracer, fold_event_log, read_events
    from workloads import noop

    cpus = len(os.sched_getaffinity(0))
    wl = WORKLOADS[args.workload](args.seed, work)
    # set up SETUPS times: (re)build the Spark session, then the inputs.
    # Only the first build launches the JVM; the median is a set-up in a
    # running JVM, which is what repeats from run to run.
    spark, session, materialize = None, [], []
    for k in range(SETUPS):
        t0 = time.perf_counter()
        if spark is not None:
            spark.stop()
        spark = build_spark(work, cpus, event_log=False)
        t1 = time.perf_counter()
        wl.materialize(spark, k)
        session.append(t1 - t0)
        materialize.append(time.perf_counter() - t1)
    setup_s = statistics.median(s + m for s, m in zip(session, materialize))
    log(f"{wl.name}: sessions {[round(t, 3) for t in session]} s, "
        f"inputs {[round(t, 3) for t in materialize]} s")
    wl.reference(spark)
    log(f"{wl.name}: {wl.turns_in} turns in, {wl.triples} reference triples")

    untraced: list = []
    t0 = time.perf_counter()
    for _ in range(WARMUP_REPS):  # checked, not timed
        timed_loop(lambda: wl.run(spark, Tracer()), wl.name, 0, untraced)
    warmup_s = time.perf_counter() - t0
    with RssSampler(os.getpid()) as rss:
        timed_loop(lambda: wl.run(spark, Tracer()), wl.name, args.seconds, untraced)
    log(f"{wl.name}: warmup {warmup_s:.3f} s, reps (wall s, steal %) "
        f"{[(round(w, 3), round(s, 1)) for w, s, _ in untraced[WARMUP_REPS:]]}")
    failed = sum(1 for r in untraced if r[2])
    if not args.trace:
        wall = median_wall(untraced[WARMUP_REPS:])
        return {
            "correct": failed == 0, "attempted": len(untraced), "failed": failed,
            "metrics": {
                "setup_s": {"value": setup_s, "unit": "s"},
                "wall_s": {"value": wall, "unit": "s"},
                "triples_per_s": {"value": wl.triples / wall, "unit": "1/s"},
                "peak_rss_mb": {"value": rss.peak / 2**20, "unit": "MB"},
            },
        }

    # traced phase: a new Spark context in the same (warm) JVM with the
    # event log on, so that the untraced reps above pay nothing for it
    from json_ld_spark.operators.jsonld_ops import with_stable_turn_order
    from json_ld_spark.pipeline import alias_merge_map

    spark.stop()
    spark = build_spark(work, cpus, event_log=True)
    app_id = spark.sparkContext.applicationId
    tracer = Tracer(spark)
    wl.materialize(spark, SETUPS)
    wl.run(spark, Tracer())  # warms the new context's Python workers

    def traced_rep():
        # the order layer forced on its own, then the rep
        with tracer.span("jsonld_ops.order"):
            noop(with_stable_turn_order(wl.transcripts(spark)))
        return wl.run(spark, tracer)

    traced: list = []
    timed_loop(traced_rep, wl.name, args.seconds / 2, traced)
    log(f"{wl.name}: traced reps {[round(r[0], 3) for r in traced]}")
    probes: list = []
    if wl.name == "emit_docs":
        # the pipeline and query layers over a smaller corpus of the same
        # kind, checked against the same oracle: a warm-up pipeline run,
        # then one traced run of each (the query plans run for the first
        # time)
        wl.probe_corpus(PROBE_DOCS)
        timed_loop(lambda: wl.pipeline(spark, Tracer()), "pipeline warmup", 0, probes)
        with tracer.span("canonicalize.merge_map"):
            noop(alias_merge_map(spark))
        timed_loop(lambda: wl.pipeline(spark, tracer), "pipeline", 0, probes)
        timed_loop(lambda: wl.query_mix(spark, tracer), "query_mix", 0, probes)
    spark.stop()
    fold = fold_event_log(read_events(event_log_path(work, app_id)))
    metrics = layer_metrics(wl, tracer, fold, session, materialize, warmup_s,
                            untraced[WARMUP_REPS:], traced)
    failed += sum(1 for r in traced + probes if r[2])
    return {"correct": failed == 0, "attempted": len(untraced) + len(traced) + len(probes),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics.items())}}


def event_log_path(work: str, app_id: str) -> str:
    base = os.path.join(work, "eventlog")
    for name in os.listdir(base):
        if app_id in name:
            return os.path.join(base, name)
    raise FileNotFoundError(f"no event log for {app_id} in {base}")


def unit_of(name: str) -> str:
    for suffix, unit in (("_per_turn", "triples/turn"), ("_per_triple", "bytes/triple"),
                         ("bytes", "bytes"), ("_ms", "ms"), ("_us", "us"), ("_pct", "%"),
                         ("_frac", "ratio"), ("_s", "s"), (".s", "s")):
        if name.endswith(suffix):
            return unit
    return "count"


def stop_jvm() -> None:
    """Stop the JVM the session launched, then wait until it and every
    other child process of this one (the JVM's Python workers) ended."""
    import subprocess

    from pyspark import SparkContext

    from spans import descendants

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 30
    while descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.1)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "json_ld_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        log(f"no json_ld_spark package under {ROOT}: run from a full checkout")
        return 2

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # keep every file Spark, the JVM and the Python workers write inside
    # the checkout; the workers import json_ld_spark from the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tempfile.tempdir = None
    # (the JVM's perf-data file would go to /tmp whatever its tmpdir)
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    try:
        result = run(args, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
