"""Phase-A scaling decomposition probe (diagnostic, not shipped in bench).

Runs the phase-A pipeline (``run_pipeline``, as bench.py times it)
inside one pinned JVM per parallelism level, after the same warm-up
build, and prints the wall of each pipeline stage (derive, rollup_1m,
rollup_1h, rollup_1d, compress) from the run report. Purpose: separate
a stage whose n2/n8 ratio is << 4 (intrinsic scaling loss) from
per-stage fixed cost that is the same at every level.

Usage:  taskset -c 0-7 python tools/probe_scaling.py local[8] <input> <out> <warm>
"""
from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    master, input_path, out, warm_path = sys.argv[1:5]
    os.environ["CESIUM_SPARK_DRIVER_MEM"] = "4g"
    os.environ["SPARK_GRAFT_CPUS"] = master[master.find("[") + 1:-1]
    import bench
    from cesium_spark.plans.pipeline import run_pipeline
    from cesium_spark.sources.table_io import TableIO

    spark = bench._session(master, local_dir=os.path.dirname(out),
                           extra_conf={"spark.driver.extraJavaOptions":
                                       "-Xms4g -XX:+AlwaysPreTouch"})
    reports = []
    for path, root in ((warm_path, f"{out}_warm"), (input_path, out)):
        shutil.rmtree(root, ignore_errors=True)
        reports.append(run_pipeline(TableIO(spark, root),
                                    spark.read.parquet(path),
                                    features=bench.BENCH_FEATS))
    spark.stop()
    stages = {k: round(v / 1000.0, 2) for k, v in reports[-1]["stages"].items()
              if isinstance(v, int)}
    print(json.dumps({"master": master, "sections": stages,
                      "total": round(reports[-1]["wall_sec"], 2)}))


if __name__ == "__main__":
    main()
