"""_ledger + _metrics tables: per-partition lineage and checkpoint/resume.

Work unit (the planner's IR, SURVEY.md §3.4): ``(stage, tier,
window_date)``. The ledger records one row per *completed* unit with
its row counts and a content checksum; the resume planner anti-joins
pending units against completed ones (``left_anti`` — SURVEY.md §2.11)
so a restarted run recomputes only unfinished partitions. Output writes
are idempotent per partition (dynamic partition overwrite / Iceberg
MERGE), so a crash between data-write and ledger-append only causes a
harmless recompute of that partition — never duplication.

Appends are tiny (a few rows per stage), so each is written as ONE
file; run metrics are buffered by ``record_metric`` and written by
``flush_metrics`` in one append per run, not one file per metric.

Checksum: sum over rows of crc32(concat of key/value string forms) —
deterministic under any row order and partitioning, cheap (JVM-side),
and sensitive to any value change; used by tests and the bench
correctness rider to prove two runs produced identical tables.
"""

from __future__ import annotations

import datetime as dt
import time
import uuid
from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cesium_spark.sources.table_io import TableIO

LEDGER_TABLE = "_ledger"
METRICS_TABLE = "_metrics"

LEDGER_SCHEMA = (
    "run_id string, stage string, tier string, window_date date, "
    "state string, in_count long, out_count long, checksum long, "
    "wall_ms long, updated_at timestamp"
)

METRICS_SCHEMA = (
    "run_id string, stage string, metric string, value double, "
    "updated_at timestamp"
)


def new_run_id() -> str:
    return uuid.uuid4().hex[:16]


def driver_frame(spark: SparkSession, rows: list[tuple],
                 schema: str) -> DataFrame:
    """Driver-side rows as a DataFrame, through Arrow. A plain
    ``createDataFrame(list)`` goes through a pickled Python RDD: a
    30-row ledger append took about 1.0 s that way and 0.2 s through
    Arrow (local[4], 4-vCPU VM)."""
    names = [col.split()[0] for col in schema.split(",")]
    return spark.createDataFrame(pd.DataFrame(rows, columns=names), schema)


def content_checksum(df: DataFrame, cols: list[str]) -> DataFrame:
    """Adds a crc32-per-row column 'row_crc' over the given columns."""
    return df.withColumn(
        "row_crc",
        F.crc32(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])))


class Ledger:
    def __init__(self, io: TableIO):
        self.io = io
        self.spark = io.spark
        self._metric_rows: list[tuple] = []

    def completed_units(self, stage: str) -> DataFrame:
        """(tier, window_date) units already finished by ANY run —
        checkpoint state survives process death."""
        if not self.io.exists(LEDGER_TABLE):
            return self.spark.createDataFrame([], "tier string, window_date date")
        return (self.io.read(LEDGER_TABLE)
                .where((F.col("stage") == stage) & (F.col("state") == "done"))
                .select("tier", "window_date").distinct())

    def pending(self, units: DataFrame, stage: str) -> DataFrame:
        """Resume planner: anti-join the work list against completed."""
        return units.join(self.completed_units(stage),
                          ["tier", "window_date"], "left_anti")

    def done_units(self, stages: Iterable[str]) -> set[tuple[str, dt.date]]:
        """(stage, window_date) of every unit of ``stages`` finished by
        any run, from one read of the ledger: the driver-side form of
        :meth:`completed_units` for planning several stages at once."""
        if not self.io.exists(LEDGER_TABLE):
            return set()
        rows = (self.io.read(LEDGER_TABLE)
                .where((F.col("state") == "done")
                       & F.col("stage").isin(list(stages)))
                .select("stage", "window_date").distinct().collect())
        return {(r["stage"], r["window_date"]) for r in rows}

    def record_done(self, run_id: str, stage: str, per_unit: DataFrame,
                    wall_ms: int) -> None:
        """per_unit: (tier, window_date, in_count, out_count, checksum)."""
        rows = (per_unit
                .withColumn("run_id", F.lit(run_id))
                .withColumn("stage", F.lit(stage))
                .withColumn("state", F.lit("done"))
                .withColumn("wall_ms", F.lit(wall_ms))
                .withColumn("updated_at", F.current_timestamp())
                .select("run_id", "stage", "tier", "window_date", "state",
                        "in_count", "out_count", "checksum", "wall_ms",
                        "updated_at"))
        self._append(rows, LEDGER_TABLE)

    def record_metric(self, run_id: str, stage: str, metric: str,
                      value: float) -> None:
        """Buffer one metric row; :meth:`flush_metrics` writes it."""
        self._metric_rows.append(
            (run_id, stage, metric, float(value),
             dt.datetime.now(dt.timezone.utc)))

    def flush_metrics(self) -> None:
        """Append every buffered metric row to ``_metrics`` as one file."""
        if not self._metric_rows:
            return
        self._append(driver_frame(self.spark, self._metric_rows,
                                  METRICS_SCHEMA), METRICS_TABLE)
        self._metric_rows = []

    def _append(self, rows: DataFrame, table: str) -> None:
        # a handful of rows: one file, not one per upstream partition
        self.io.write(rows.coalesce(1), table, mode="append")

    def metrics(self) -> DataFrame:
        return self.io.read(METRICS_TABLE)

    def entries(self) -> DataFrame:
        return self.io.read(LEDGER_TABLE)


class StageTimer:
    def __init__(self, ledger: Ledger, run_id: str, stage: str):
        self.ledger = ledger
        self.run_id = run_id
        self.stage = stage

    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    @property
    def wall_ms(self) -> int:
        return int((time.monotonic() - self.t0) * 1000)

    def __exit__(self, exc_type, exc, tb):
        self.ledger.record_metric(self.run_id, self.stage, "wall_ms",
                                  self.wall_ms)
        return False
