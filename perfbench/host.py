"""Host-fit settings, applied only by the benchmark.

The engine's own defaults target a large box: ``session.get_spark``
asks for a 48g driver heap and ``local[$SPARK_GRAFT_CPUS or 32]``, and
Python workers started from a directory other than the repository root
cannot import ``cesium_spark``. The benchmark runs the engine unchanged
and fits it to the host through the environment and ``extra_conf``
only:

- ``local[n]`` with ``n`` = CPUs this process may run on, and
  ``SPARK_GRAFT_CPUS`` set to the same ``n``;
- ``CESIUM_SPARK_DRIVER_MEM`` = ``DRIVER_MEM`` (local mode runs the
  executors inside the driver JVM, so this is the whole Spark heap);
- ``PYTHONPATH`` = the repository root, inherited by the JVM and from
  it by every Python worker;
- ``spark.local.dir``, ``SPARK_LOCAL_DIRS``, ``TMPDIR`` and the JVM's
  ``java.io.tmpdir`` inside the benchmark's output directory, so a run
  reads and writes only inside its checkout.
"""

from __future__ import annotations

import os
from pathlib import Path

DRIVER_MEM = "2g"


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def apply_env(repo_root: Path, scratch: Path) -> None:
    """Set the process environment before the JVM is launched."""
    tmp = scratch / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    path = [str(repo_root)]
    if os.environ.get("PYTHONPATH"):
        path.append(os.environ["PYTHONPATH"])
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus()),
        "CESIUM_SPARK_DRIVER_MEM": DRIVER_MEM,
        "PYTHONPATH": os.pathsep.join(path),
        "SPARK_LOCAL_DIRS": str(tmp),
        "TMPDIR": str(tmp),
    })


def spark_conf(scratch: Path, event_log_dir: Path | None) -> dict[str, str]:
    conf = {
        "spark.local.dir": str(scratch / "tmp"),
        # no hsperfdata file under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={scratch / 'tmp'} -XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir is not None:
        event_log_dir.mkdir(parents=True, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_log_dir.resolve().as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return conf


def master() -> str:
    return f"local[{cpus()}]"
