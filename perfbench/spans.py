"""Spans, Spark event-log folding and host sampling for the benchmark.

A span wraps one call into a layer's public function from the
benchmark's own code. Spark is lazy, so the span also covers the Spark
action the call triggers; the span's name is set as the Spark job group,
and ``fold_event_log`` sums the event log's task metrics per group.
"""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# Python-worker SQL metrics of the MapInPandas node, by their names in
# the event log's task accumulables.
PY_METRICS = {
    "data sent to Python workers": "arrow_in_bytes",
    "data returned from Python workers": "arrow_out_bytes",
    "time to run Python workers": "py_run_ms",
    "time to initialize Python workers": "py_init_ms",
    "time to start Python workers": "py_start_ms",
}
PY_NODES = ("MapInPandas", "PythonMapInArrow", "MapInArrow")


class Tracer:
    """Records spans in memory as (name, start, end, start epoch ms,
    end epoch ms); the epoch bounds line spans up with event-log times.
    When ``spark`` is given, each span runs under a Spark job group
    named after it."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[tuple[str, float, float, float, float]] = []

    @contextmanager
    def span(self, name: str):
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setJobGroup(name, name)
        e0, t0 = time.time() * 1e3, time.perf_counter()
        try:
            yield
        finally:
            self.spans.append((name, t0, time.perf_counter(), e0, time.time() * 1e3))
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)

    def durations(self, name: str) -> list[float]:
        return [s[2] - s[1] for s in self.spans if s[0] == name]


def _walk_plan(node: dict, out: set) -> None:
    if node.get("nodeName") in PY_NODES:
        for m in node.get("metrics", []):
            if m.get("name") == "number of output rows":
                out.add(m["accumulatorId"])
    for child in node.get("children", []):
        _walk_plan(child, out)


def read_events(path: str) -> list[dict]:
    """Events of one application. ``path`` is an uncompressed event log
    file or a Spark 4 rolling event-log directory (``eventlog_v2_*``)."""
    files = sorted(glob.glob(os.path.join(path, "events_*")),
                   key=lambda f: int(os.path.basename(f).split("_")[1])) \
        if os.path.isdir(path) else [path]
    events = []
    for f in files:
        with open(f) as fh:
            events.extend(json.loads(line) for line in fh if line.strip())
    return events


def fold_event_log(events: list[dict]) -> dict[str, dict]:
    """Per job group: jobs, tasks, executor run/CPU/GC time, spill,
    shuffle read/write bytes, the Python-worker metrics of
    ``PY_METRICS``, output rows of the Python node, records written, and
    the SQL executions (id → start, end, records written) the group ran.
    Jobs without a group are folded under ``""``."""
    job_group: dict[int, str] = {}
    job_exec: dict[int, int] = {}
    stage_job: dict[int, int] = {}
    py_row_ids: set = set()
    exec_times: dict[int, list] = defaultdict(lambda: [None, None])
    exec_written: dict[int, float] = defaultdict(float)
    groups: dict[str, dict] = defaultdict(lambda: defaultdict(float))

    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = e["Job ID"]
            job_group[job] = props.get("spark.jobGroup.id") or ""
            groups[job_group[job]]["jobs"] += 1
            if props.get("spark.sql.execution.id") is not None:
                job_exec[job] = int(props["spark.sql.execution.id"])
            for sid in e.get("Stage IDs", []):
                stage_job.setdefault(sid, job)
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            _walk_plan(e.get("sparkPlanInfo", {}), py_row_ids)
            exec_times[e["executionId"]][0] = e["time"]
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            _walk_plan(e.get("sparkPlanInfo", {}), py_row_ids)
        elif kind.endswith("SparkListenerSQLExecutionEnd"):
            exec_times[e["executionId"]][1] = e["time"]

    for e in events:
        if e["Event"] != "SparkListenerTaskEnd":
            continue
        job = stage_job.get(e["Stage ID"])
        acc = groups[job_group.get(job, "")]
        m = e.get("Task Metrics") or {}
        acc["tasks"] += 1
        acc["executor_run_ms"] += m.get("Executor Run Time", 0)
        acc["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
        acc["gc_ms"] += m.get("JVM GC Time", 0)
        acc["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
        sr = m.get("Shuffle Read Metrics") or {}
        acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        acc["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
        written = (m.get("Output Metrics") or {}).get("Records Written", 0)
        acc["records_written"] += written
        if job in job_exec:
            exec_written[job_exec[job]] += written
        for a in (e.get("Task Info") or {}).get("Accumulables", []):
            name = PY_METRICS.get(a.get("Name"))
            if name is not None:
                acc[name] += float(a.get("Update", 0))
            elif a.get("ID") in py_row_ids:
                acc["py_rows_out"] += float(a.get("Update", 0))

    exec_group = {eid: job_group[job] for job, eid in sorted(job_exec.items(), reverse=True)}
    out = {}
    for g, acc in groups.items():
        row = dict(acc)
        row["executions"] = {
            eid: {"start_ms": t[0], "end_ms": t[1], "records_written": exec_written.get(eid, 0.0)}
            for eid, t in exec_times.items() if exec_group.get(eid) == g
        }
        out[g] = row
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: shared pages (a forked worker's, or a
    spawned child's before it execs) are split among their sharers, so
    summing over processes counts each page once."""
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def descendants(root_pid: int) -> list[int]:
    """Every process below ``root_pid`` in the process tree."""
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):  # the process ended meanwhile
            continue
        children[ppid].append(int(d))
    out, stack = [], list(children.get(root_pid, []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(children.get(pid, []))
    return out


def pss_bytes_of_tree(root_pid: int) -> int:
    """Summed PSS of ``root_pid`` and all its descendants (here: the
    benchmark process, its JVM and the JVM's Python workers)."""
    total = 0
    for pid in [root_pid] + descendants(root_pid):
        try:
            total += _pss_bytes(pid)
        except (OSError, ValueError):  # the process ended meanwhile
            pass
    return total


class RssSampler:
    """Background thread keeping the peak of ``pss_bytes_of_tree``. One
    sample walks the page tables of every process (about 30 ms with a
    1 GB JVM), so samples are a second apart to keep the sampler out of
    the timings."""

    def __init__(self, pid: int, interval: float = 1.0):
        self.pid, self.interval = pid, interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, pss_bytes_of_tree(self.pid))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.peak = max(self.peak, pss_bytes_of_tree(self.pid))


def cpu_steal_total() -> tuple[int, int]:
    """(steal, total) jiffies from the first line of /proc/stat."""
    with open("/proc/stat") as f:
        vals = list(map(int, f.readline().split()[1:]))
    return vals[7], sum(vals)
