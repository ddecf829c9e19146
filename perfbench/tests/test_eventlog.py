"""The event-log fold on a tiny recorded Spark 4.1 log (local[2],
trimmed to the events the fold reads). Three actions were recorded:

- job group ``agg``: range(100) in 2 partitions, grouped by id % 3,
  through the noop sink: 2 jobs (map stage, then the reduce), 3 tasks;
- job group ``py``: mapInPandas over range(10) in 2 partitions, through
  the noop sink: 1 job, 2 tasks, 10 rows out of the Python node;
- no group: a collect of range(5), 1 job, 2 tasks.
"""

from __future__ import annotations

import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from spans import fold_event_log, read_events  # noqa: E402


@pytest.fixture(scope="module")
def fold():
    return fold_event_log(read_events(os.path.join(HERE, "tiny_eventlog.jsonl")))


def test_groups(fold):
    assert set(fold) == {"agg", "py", ""}


def test_task_metric_sums(fold):
    agg = fold["agg"]
    assert (agg["jobs"], agg["tasks"]) == (2, 3)
    assert agg["executor_run_ms"] == 318 + 324 + 149
    assert agg["shuffle_write_bytes"] == 2 * 133
    assert agg["shuffle_read_bytes"] == 2 * 133
    assert agg["spill_bytes"] == 0
    assert "py_rows_out" not in agg
    assert (fold[""]["jobs"], fold[""]["tasks"]) == (1, 2)


def test_python_worker_metrics(fold):
    py = fold["py"]
    assert (py["jobs"], py["tasks"]) == (1, 2)
    assert py["arrow_in_bytes"] == 2 * 232
    assert py["arrow_out_bytes"] == 2 * 216
    assert py["py_start_ms"] == 1302 + 1311
    assert py["py_init_ms"] == 323 + 326
    assert py["py_run_ms"] == 1941 + 1946
    # only the Python node's output rows, not the range feeding it
    assert py["py_rows_out"] == 10
    assert py["executor_run_ms"] == 2322 + 2328


def test_sql_executions_by_group(fold):
    assert list(fold["agg"]["executions"]) == [0]
    assert list(fold["py"]["executions"]) == [1]
    assert list(fold[""]["executions"]) == [2]
    for row in fold.values():
        for x in row["executions"].values():
            assert x["start_ms"] <= x["end_ms"]
