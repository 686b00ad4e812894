"""Re-record ``tiny_eventlog.jsonl`` (see ../test_eventlog.py).

    python3 perfbench/testdata/record_tiny_eventlog.py

Runs two tiny job groups on ``local[2]`` with the event log on, then
keeps the job-start and task-end events the parser reads plus the
log-start and stage-completed events it must skip, drops each kept event's bulky ``Properties`` except the
job group, and cuts a completed stage's info down to its ids.
"""

from __future__ import annotations

import json
import shutil
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

KEEP = {"SparkListenerLogStart", "SparkListenerJobStart",
        "SparkListenerTaskEnd", "SparkListenerStageCompleted"}
OUT = Path(__file__).resolve().parent / "tiny_eventlog.jsonl"


def record(log_dir: Path) -> Path:
    spark = (SparkSession.builder.master("local[2]")
             .config("spark.ui.enabled", "false")
             .config("spark.sql.adaptive.enabled", "false")
             .config("spark.sql.shuffle.partitions", "2")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", log_dir.as_uri())
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    sc = spark.sparkContext

    def identity(batches):
        yield from batches

    sc.setLocalProperty("spark.jobGroup.id", "perfbench-0")
    spark.range(0, 1000, 1, 2).mapInPandas(identity, "id long").count()
    sc.setLocalProperty("spark.jobGroup.id", "perfbench-1")
    (spark.range(0, 1000, 1, 2).groupBy((F.col("id") % 10).alias("k"))
     .count().collect())
    sc.setLocalProperty("spark.jobGroup.id", None)
    spark.stop()
    [log] = list(log_dir.iterdir())
    return log


def main() -> None:
    log_dir = Path(".perfbench_out/tiny-eventlog").resolve()
    shutil.rmtree(log_dir, ignore_errors=True)
    log_dir.mkdir(parents=True)
    try:
        with open(record(log_dir)) as src, open(OUT, "w") as dst:
            for line in src:
                ev = json.loads(line)
                if ev["Event"] not in KEEP:
                    continue
                if "Properties" in ev:
                    group = ev["Properties"].get("spark.jobGroup.id")
                    ev["Properties"] = ({"spark.jobGroup.id": group}
                                        if group else {})
                if ev["Event"] == "SparkListenerJobStart":
                    ev.pop("Stage Infos", None)
                if ev["Event"] == "SparkListenerStageCompleted":
                    # call sites name the recording machine's paths
                    info = ev["Stage Info"]
                    ev["Stage Info"] = {k: info[k] for k in
                                        ("Stage ID", "Stage Attempt ID")}
                dst.write(json.dumps(ev) + "\n")
    finally:
        shutil.rmtree(log_dir)


if __name__ == "__main__":
    main()
