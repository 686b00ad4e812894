"""BENCHMARK.json agrees with what the benchmark prints, and keeps to
its format limits.

Run: ``python3 -m pytest perfbench/test_benchmark_json.py``
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import report  # noqa: E402
import run  # noqa: E402

SPEC = json.loads((HERE.parent / "BENCHMARK.json").read_text())
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


def test_end_to_end_metrics_match_the_run():
    assert {m["name"]: m["unit"] for m in SPEC["end_to_end"]} == run.E2E
    setup = [m for m in SPEC["end_to_end"] if m["name"] == "setup_s"]
    assert setup[0]["bound"] == max(m["bound"] for m in SPEC["end_to_end"])


def test_per_layer_metrics_match_the_traced_run():
    assert {m["name"]: m["unit"]
            for m in SPEC["per_layer"]} == report.PER_LAYER


def test_workloads_are_runnable():
    from workloads import WORKLOADS
    assert {w["name"] for w in SPEC["workloads"]} == set(WORKLOADS)


def test_format_limits():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads",
                         "end_to_end", "per_layer"}
    names = [m["name"] for key in ("workloads", "end_to_end", "per_layer")
             for m in SPEC[key]]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    assert all(UNIT.match(m["unit"])
               for key in ("end_to_end", "per_layer") for m in SPEC[key])
    assert all(len(w["why"]) <= 200 and "\n" not in w["why"]
               for w in SPEC["workloads"])
    assert all(0 < m["bound"] <= 0.25 for m in SPEC["end_to_end"])
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert 1 <= SPEC["run_seconds"] <= 60
