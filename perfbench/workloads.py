"""The two workloads: each sets up untimed, then runs one operation at
a time (a closed loop with one client) and checks every result.

- ``backfill``: ``run_pipeline`` over the whole input into a fresh
  warehouse, tiers 1m/1h/1d, compression on, in a cold JVM.
- ``dashboard``: the backfill warehouse of the same seed, then one
  dashboard refresh per operation: six read queries over one seeded
  tier and ``window_date`` range, each written to the ``noop`` sink.

An operation that raises or whose output check fails counts as failed.
"""

from __future__ import annotations

import datetime as dt
import json
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cesium_spark.codecs.chunks import decode_chunks
from cesium_spark.functions.registry import DEFAULT_FEATS
from cesium_spark.operators.downsample import m4_downsample
from cesium_spark.operators.fold import fold_moments
from cesium_spark.operators.gapfill import gapfill
from cesium_spark.operators.rollup import (pivot_wide, rollup_features,
                                           rollup_moments)
from cesium_spark.plans.ledger import content_checksum
from cesium_spark.plans.pipeline import LS_TIER_FEATS, run_pipeline
from cesium_spark.sources.table_io import TableIO

import inputs
import oracle
from spans import Tracer, snapshot

TIERS = ("1m", "1h", "1d")
# columns the pipeline checksums per (tier, window_date) unit
CHECKSUM_COLS = ["conv_id", "channel", "window_start", "feature", "value"]
# double -> string is shortest round-trip, so the digest is bit-exact
DECODED_COLS = ["conv_id", "channel", "turn_idx", "ts", "y"]


@dataclass
class Op:
    kind: str
    wall: float
    ok: bool = True
    error: str = ""
    turns: int = 0
    report: dict | None = None
    info: dict = field(default_factory=dict)


def dir_bytes(root: Path) -> int:
    return sum(size for size, _, _ in snapshot(str(root)).values())


def ledger_units(io: TableIO, run_id: str) -> list[dict]:
    return [r.asDict() for r in io.read("_ledger")
            .where(F.col("run_id") == run_id).collect()]


def tier_sums(units: list[dict]) -> dict[str, list[int]]:
    """stage -> [sum of unit checksums, sum of out_count] (lists, so the
    value survives a JSON round trip unchanged)."""
    out: dict[str, list[int]] = {}
    for u in units:
        s = out.setdefault(u["stage"], [0, 0])
        s[0] += u["checksum"]
        s[1] += u["out_count"]
    return dict(sorted(out.items()))


def unit_checksums_hold(io: TableIO, units: list[dict]) -> str:
    """'' when every rollup unit's recorded checksum equals the one
    recomputed from its tier table, else what differs. The pipeline
    writes both, so this catches a ledger that does not match the
    table, not a wrong value (``oracle`` checks values)."""
    for tier in TIERS:
        df = io.read(f"features_{tier}")
        now = {r["window_date"]: r["checksum"] for r in
               content_checksum(df, CHECKSUM_COLS).groupBy("window_date")
               .agg(F.sum("row_crc").alias("checksum")).collect()}
        was = {u["window_date"]: u["checksum"] for u in units
               if u["stage"].startswith("rollup_") and u["tier"] == tier}
        if now != was:
            return f"{tier} partitions differ from their ledger checksums"
    return ""


def written_windows(io: TableIO) -> int:
    """Distinct (conv, channel, window) rows over every tier table."""
    total = 0
    for tier in TIERS:
        df = io.read(f"features_{tier}")
        total += df.select("conv_id", "channel", "window_start") \
            .distinct().count()
    return total


class Workload:
    name = ""

    def __init__(self, spark: SparkSession, out: Path, seed: int,
                 tracer: Tracer):
        self.spark = spark
        self.out = out
        self.seed = seed
        self.tracer = tracer
        self.phases: dict[str, float] = {}
        self.report: dict | None = None  # last pipeline report seen

    def oracle_check(self, io: TableIO) -> str:
        """The independent check of a build: a seeded sample of windows
        of every tier, re-derived from the input rows."""
        return oracle.features_sample(
            {t: io.read(f"features_{t}") for t in TIERS}, self.rows,
            DEFAULT_FEATS, self.seed)

    def phase(self, name: str, fn):
        t = time.monotonic()
        result = fn()
        self.phases[name] = time.monotonic() - t
        return result

    def warehouse_turns(self) -> int:
        raise NotImplementedError

    def latencies(self, ops: list[Op]) -> list[float]:
        """Latency samples of the passed operations."""
        return [o.wall for o in ops if o.ok]

    def stored_bytes(self) -> int:
        raise NotImplementedError

    def setup(self) -> None:
        raise NotImplementedError

    def run_op(self, i: int, traced: bool) -> Op:
        raise NotImplementedError

    def verify(self, ops: list[Op]) -> None:
        """Checks too slow to run between operations, made after the
        timed window; a failure marks the operation it checks."""

    def _pipeline(self, io: TableIO, df: DataFrame) -> tuple[dict, float]:
        t = time.monotonic()
        with self.tracer.span("pipeline.run_pipeline"):
            report = run_pipeline(io, df)
        wall = time.monotonic() - t
        self.report = report
        return report, wall


class Backfill(Workload):
    """Cold: the build is the first Spark work after the input is made,
    as when a batch job (``tools/submit_pipeline.py``) runs the pipeline,
    so every build pays JIT compilation, code generation and Python
    worker start-up as users do."""

    name = "backfill"

    def setup(self) -> None:
        self.tr, self.turns, self.rows = self.phase(
            "input", lambda: inputs.transcripts(self.spark, self.seed))
        # every build must also repeat the per-tier checksums of the
        # first build of the same input in this checkout
        digest = int(pd.util.hash_pandas_object(self.rows).sum()) % 2**64
        self.ref = (self.out.parent / "ref"
                    / f"backfill-{self.seed}-{digest:016x}.json")
        self.expected = (json.loads(self.ref.read_text())
                         if self.ref.exists() else None)
        self.last_root: Path | None = None
        self._stored = 0  # stays 0 when no build completes

    def warehouse_turns(self) -> int:
        return self.turns

    def stored_bytes(self) -> int:
        return self._stored

    def run_op(self, i: int, traced: bool) -> Op:
        if self.last_root is not None:
            shutil.rmtree(self.last_root, ignore_errors=True)
        root = self.out / "wh" / f"backfill-{i}"
        self.last_root = root
        io = TableIO(self.spark, str(root))
        report, wall = self._pipeline(io, self.tr)
        self._stored = dir_bytes(root)
        op = Op(self.name, wall, turns=self.turns, report=report)
        units = ledger_units(io, report["run_id"])
        got = tier_sums(units)
        op.error = (self.oracle_check(io)
                    or unit_checksums_hold(io, units))
        if report["turns"] != self.turns:
            op.error = f"turns {report['turns']} != {self.turns}"
        elif not op.error and self.expected is None:
            self.expected = got
            self.ref.parent.mkdir(parents=True, exist_ok=True)
            self.ref.write_text(json.dumps(got))
        elif not op.error and got != self.expected:
            op.error = f"tier checksums {got} != {self.expected}"
        op.ok = not op.error
        if traced:
            op.info["series_rows"] = io.read("series").count()
            op.info["windows"] = written_windows(io)
            op.info["units"] = units
        return op


class Dashboard(Workload):
    """One operation is one dashboard refresh: every query kind in turn
    over the refresh's tier and window_date range, each written to the
    noop sink."""

    name = "dashboard"
    REFRESHES = 50  # more than any run reaches
    WARMUP = 1

    def setup(self) -> None:
        self.tr, self.turns, self.rows = self.phase(
            "input", lambda: inputs.transcripts(self.spark, self.seed))
        root = self.out / "wh" / "dashboard"
        self.io = TableIO(self.spark, str(root))

        def build():
            report, _ = self._pipeline(self.io, self.tr)
            self.tr.unpersist()
            self.units = ledger_units(self.io, report["run_id"])
            # warm-up: untimed refreshes, so timed ones run warm code
            for r in inputs.refresh_plan(self.seed + 1, self.WARMUP):
                self.refresh(r)

        self.phase("warmup", build)
        self._stored = dir_bytes(root)
        self.plan = inputs.refresh_plan(self.seed, self.REFRESHES)

    def warehouse_turns(self) -> int:
        return self.turns

    def latencies(self, ops: list[Op]) -> list[float]:
        """Per query, as a dashboard user waits for each panel."""
        return [w for o in ops if o.ok for _, w in o.info["queries"]]

    def stored_bytes(self) -> int:
        return self._stored

    def _range(self, df: DataFrame, r: dict) -> DataFrame:
        return df.where(F.col("window_date").between(
            F.lit(r["d0"]), F.lit(r["d1"])))

    def query(self, kind: str, tier: str | None, r: dict) -> DataFrame:
        series = self._range(self.io.read("series"), r)
        if kind == "tier_wide":
            return pivot_wide(self._tier_rows(tier, r), DEFAULT_FEATS)
        if kind == "m4":
            return m4_downsample(series, tier)
        if kind == "gapfill":
            return gapfill(series, tier, "ffill")
        if kind == "fold":
            return fold_moments(rollup_moments(series, "1m"), "1d")
        if kind == "decode":
            return self._decoded(r)
        if kind == "conv_ls":
            return rollup_features(series, "conv", LS_TIER_FEATS)
        raise ValueError(kind)

    def _tier_rows(self, tier: str, r: dict) -> DataFrame:
        return self._range(self.io.read(f"features_{tier}"), r) \
            .withColumn("tier", F.lit(tier))

    def _decoded(self, r: dict) -> DataFrame:
        lo = dt.datetime.combine(r["d0"], dt.time())
        hi = dt.datetime.combine(r["d1"] + dt.timedelta(days=1), dt.time())
        chunks = self.io.read("chunks").where(
            (F.col("ts_max") >= F.lit(lo)) & (F.col("ts_min") < F.lit(hi)))
        return decode_chunks(chunks).where(
            F.col("ts").cast("date").between(F.lit(r["d0"]), F.lit(r["d1"])))

    def refresh(self, r: dict) -> list[tuple[str, float]]:
        """(kind, seconds) of each query, in the order run."""
        walls = []
        for kind, tier in r["queries"]:
            t = time.monotonic()
            with self.tracer.span(f"q.{kind}"):
                self.query(kind, tier, r).write.format("noop") \
                    .mode("overwrite").save()
            walls.append((kind, time.monotonic() - t))
        return walls

    def run_op(self, i: int, traced: bool) -> Op:
        r = self.plan[i]
        t = time.monotonic()
        with self.tracer.span("dashboard.refresh"):
            walls = self.refresh(r)
        op = Op(self.name, time.monotonic() - t)
        op.info["queries"] = walls
        op.error = self._check(r)
        op.ok = not op.error
        return op

    def _check(self, r: dict) -> str:
        for tier in TIERS:
            want = sum(u["out_count"] for u in self.units
                       if u["tier"] == tier
                       and r["d0"] <= u["window_date"] <= r["d1"])
            got = self._tier_rows(tier, r).count()
            if got != want:
                return f"{tier} read {got} rows, ledger says {want}"
        return ""

    def verify(self, ops: list[Op]) -> None:
        """Values of the first refresh's range: a seeded sample of tier
        windows and the M4 result re-derived from the input rows, and
        the decoded chunks bit-exact to the series rows. Once per run,
        after the timed window, so the loop stays on the refreshes."""
        if not ops or not ops[0].ok:
            return
        r = self.plan[0]

        def digest(df):
            return content_checksum(df, DECODED_COLS).agg(
                F.count("*").alias("n"),
                F.sum("row_crc").alias("crc")).first().asDict()

        err = self.oracle_check(self.io)
        for tier in TIERS:
            err = err or oracle.m4(self.query("m4", tier, r), self.rows,
                                   tier, r["d0"], r["d1"])
        if not err:
            want = digest(self._range(self.io.read("series"), r)
                          .select(*DECODED_COLS))
            got = digest(self._decoded(r))
            if got != want:
                err = f"decode {got} != series {want}"
        ops[0].error, ops[0].ok = err, not err


WORKLOADS = {w.name: w for w in (Backfill, Dashboard)}
