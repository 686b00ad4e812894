"""Spark event-log parser: per-job-group task and Python metrics.

Reads the JSON-lines log that ``spark.eventLog.enabled`` writes and
groups every finished task by the job group (``spark.jobGroup.id``) of
the job its stage ran in. Per group it sums:

- task metrics: executor run time, executor CPU time, JVM GC time,
  shuffle bytes written and read (local + remote), bytes spilled
  (memory + disk), and keeps each stage's task run times for the skew
  ratio;
- the Python SQL metrics that ``MapInPandas`` and the other Python
  execs publish: time to start, initialize and run Python workers, and
  data sent to / returned from them. They are summed from each task's
  own update, so a metric that several stages share counts once.

A stage that several jobs share is attributed to the first job that
lists it.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

# accumulable display name -> key; the timings are millisecond metrics
PYTHON_METRICS = {
    "time to start Python workers": "python_boot_ms",
    "time to initialize Python workers": "python_init_ms",
    "time to run Python workers": "python_run_ms",
    "data sent to Python workers": "python_sent_bytes",
    "data returned from Python workers": "python_received_bytes",
}



@dataclass
class GroupStats:
    jobs: int = 0
    totals: dict = field(default_factory=lambda: defaultdict(float))
    # stage id -> task run times (ms)
    stage_tasks: dict = field(default_factory=lambda: defaultdict(list))


def _task_totals(m: dict) -> dict:
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    return {
        "tasks": 1,
        "run_ms": m.get("Executor Run Time", 0),
        "cpu_ns": m.get("Executor CPU Time", 0),
        "gc_ms": m.get("JVM GC Time", 0),
        "shuffle_write_bytes": sw.get("Shuffle Bytes Written", 0),
        "shuffle_read_bytes": (sr.get("Remote Bytes Read", 0)
                               + sr.get("Local Bytes Read", 0)),
        "spill_bytes": (m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0)),
    }


def parse(lines) -> dict[str | None, GroupStats]:
    """Iterable of event-log lines -> {job group id (or None): stats}."""
    stage_group: dict[int, str | None] = {}
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            groups[group].jobs += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, group)
        elif kind == "SparkListenerTaskEnd":
            m = ev.get("Task Metrics")
            if not m:
                continue
            sid = ev["Stage ID"]
            g = groups[stage_group.get(sid)]
            for k, v in _task_totals(m).items():
                g.totals[k] += v
            g.stage_tasks[sid].append(m.get("Executor Run Time", 0))
            for acc in ev.get("Task Info", {}).get("Accumulables", []):
                key = PYTHON_METRICS.get(acc.get("Name"))
                if key is not None:
                    g.totals[key] += float(acc.get("Update", 0))
    return dict(groups)


def parse_file(path) -> dict[str | None, GroupStats]:
    with open(path) as f:
        return parse(f)


def merge(stats: list[GroupStats]) -> GroupStats:
    out = GroupStats()
    for s in stats:
        out.jobs += s.jobs
        for k, v in s.totals.items():
            out.totals[k] += v
        for sid, runs in s.stage_tasks.items():
            out.stage_tasks[sid].extend(runs)
    return out


def task_skew(stats: GroupStats) -> float:
    """max / median task run time of the stage with the most tasks
    (ties: the later stage); 1.0 when there is no task."""
    if not stats.stage_tasks:
        return 1.0
    _, runs = max(stats.stage_tasks.items(), key=lambda kv: (len(kv[1]), kv[0]))
    runs = sorted(runs)
    mid = len(runs) // 2
    median = runs[mid] if len(runs) % 2 else (runs[mid - 1] + runs[mid]) / 2
    return max(runs) / median if median > 0 else 1.0
