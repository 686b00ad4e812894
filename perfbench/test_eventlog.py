"""Tests for the event-log parser, on a tiny recorded log.

``testdata/tiny_eventlog.jsonl`` is a real Spark 4.1 event log, cut to
the job-start and task-end events the parser reads plus two event kinds
it must skip; ``testdata/record_tiny_eventlog.py`` re-records it. It was
recorded with ``local[2]`` from two job groups:

- ``perfbench-0``: ``spark.range(0, 1000, 1, 2).mapInPandas(identity)``
  counted — one job, a Python stage and the count's reduce stage;
- ``perfbench-1``: ``spark.range(0, 1000, 1, 2)`` grouped by ``id % 10``
  and collected — a shuffle.

Run: ``python3 -m pytest perfbench/test_eventlog.py``
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import eventlog  # noqa: E402

LOG = HERE / "testdata" / "tiny_eventlog.jsonl"


def _raw_events(kind):
    with open(LOG) as f:
        return [e for e in map(json.loads, f) if e["Event"] == kind]


def test_jobs_map_to_their_groups():
    groups = eventlog.parse_file(LOG)
    assert groups["perfbench-0"].jobs == 1
    assert groups["perfbench-1"].jobs >= 1
    starts = _raw_events("SparkListenerJobStart")
    assert sum(g.jobs for g in groups.values()) == len(starts)


def test_every_task_is_counted_once():
    groups = eventlog.parse_file(LOG)
    tasks = _raw_events("SparkListenerTaskEnd")
    assert sum(g.totals["tasks"] for g in groups.values()) == len(tasks)
    run_ms = sum(t["Task Metrics"]["Executor Run Time"] for t in tasks)
    assert sum(g.totals["run_ms"] for g in groups.values()) == run_ms


def test_python_metrics_land_on_the_python_group():
    groups = eventlog.parse_file(LOG)
    py, shuffle = groups["perfbench-0"].totals, groups["perfbench-1"].totals
    assert py["python_sent_bytes"] > 0
    assert py["python_received_bytes"] > 0
    assert py["python_run_ms"] > 0
    assert py["python_boot_ms"] > 0
    assert shuffle["python_sent_bytes"] == 0


def test_shuffle_bytes_land_on_the_shuffle_group():
    groups = eventlog.parse_file(LOG)
    shuffle = groups["perfbench-1"].totals
    assert shuffle["shuffle_write_bytes"] > 0
    assert shuffle["shuffle_read_bytes"] == shuffle["shuffle_write_bytes"]


def test_blank_lines_and_unknown_events_are_ignored():
    lines = ['{"Event": "SparkListenerLogStart"}', "", "  "]
    assert eventlog.parse(lines) == {}


def test_task_skew_uses_the_widest_stage():
    s = eventlog.GroupStats()
    s.stage_tasks[1] = [10, 10, 40]       # narrow stage, big ratio
    s.stage_tasks[2] = [10, 20, 20, 30]   # widest: max 30 / median 20
    assert eventlog.task_skew(s) == 1.5
    assert eventlog.task_skew(eventlog.GroupStats()) == 1.0


def test_merge_sums_totals_and_keeps_stages():
    a, b = eventlog.GroupStats(), eventlog.GroupStats()
    a.jobs, b.jobs = 1, 2
    a.totals["run_ms"], b.totals["run_ms"] = 5, 7
    a.stage_tasks[3] = [1]
    b.stage_tasks[3] = [2]
    m = eventlog.merge([a, b])
    assert (m.jobs, m.totals["run_ms"], m.stage_tasks[3]) == (3, 12, [1, 2])
