"""End-to-end pipeline: scan → derive → rollup tiers → compress →
materialize (+ ledger/lineage) → retention expiry (SURVEY.md §3.4).

This is the engine's equivalent of the reference's front door
``cesium/featurize.py::featurize_time_series`` † plus the engine-side
systems the north_rule mandates: continuous aggregates as idempotent
per-partition MERGE, checkpoint-resume via the ledger, retention tiers.

Scale shape (10^12 turns): the pending windowed tiers (1m/1h/1d) are
  one scan (partition-pruned to the union of pending window_dates)
  → ONE hash exchange on (conv_id, channel, date block)
  → kernels for every tier (``rollup_features_multi``)
  → per tier, dynamic-partition-overwrite of exactly its touched
    (tier, window_date) partitions.
Incremental runs therefore cost O(new windows), not O(table) — the
batch-incremental formulation of continuous aggregates (SURVEY.md §2.10).

Tier staging: the tiers share one kernel pass, but each still commits
as its own stage — partition overwrite, then its ledger rows — so
resume stays per (tier, window_date): a crash after the 1h commit
recomputes only the tiers (and dates) the ledger lacks, and the
overwrite makes that recompute idempotent. Sharing the pass costs no
granularity: every 1m/1h/1d window nests inside one
(conv, channel, GROUP_SPAN_DAYS block) group, so one shuffle emits all
three (bench.py phase A and perfbench's backfill time this path).
Tiers the fused kernel does not cover ('conv', '1w', '1mo') get their
own ``rollup_features`` pass through the same write/ledger code.

Bookkeeping is read and written once per run where it can be: one
ledger read plans every tier, one ``groupBy(window_date)`` gives the
input counts, one aggregate over the persisted kernel output gives
every unit's row count and checksum, and the run's metrics are one
``_metrics`` append, written even when the run fails.
"""

from __future__ import annotations

import time
from collections.abc import Iterable, Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cesium_spark.codecs.chunks import compression_metrics, encode_chunks
from cesium_spark.functions.registry import DEFAULT_FEATS
from cesium_spark.operators.derive import derive_series
from cesium_spark.operators.rollup import (
    MULTI_TIER_UNITS,
    rollup_features,
    rollup_features_multi,
)
from cesium_spark.plans.ledger import (
    Ledger,
    StageTimer,
    content_checksum,
    driver_frame,
    new_run_id,
)
from cesium_spark.sources.table_io import TableIO

FEATURE_TABLE = "features_{tier}"
CHUNKS_TABLE = "chunks"
SERIES_TABLE = "series"

# conv-tier (whole-conversation) Lomb–Scargle runs where the north_star
# wants it: over the full latency series, not minute slices
LS_TIER_FEATS = ["freq1_freq", "freq1_amplitude1", "freq1_signif",
                 "period_fast", "freq_varrat", "linear_trend"]

CHECKSUM_COLS = ["conv_id", "channel", "window_start", "feature", "value"]
UNIT_SCHEMA = ("tier string, window_date date, in_count long, "
               "out_count long, checksum long")


def run_pipeline(
    io: TableIO,
    transcripts: DataFrame,
    tiers: Iterable[str] = ("1m", "1h", "1d"),
    features: Iterable[str] | None = None,
    run_id: str | None = None,
    compress: bool = True,
    fail_after_stage: str | None = None,  # test hook: simulate a crash
) -> dict:
    """Returns run report {run_id, stages: {...}, turns, turns_per_sec}."""
    run_id = run_id or new_run_id()
    ledger = Ledger(io)
    feats = list(features) if features is not None else DEFAULT_FEATS
    report: dict = {"run_id": run_id, "stages": {}}
    t_start = time.monotonic()
    try:
        turns = transcripts.count()
        report["turns"] = turns

        with StageTimer(ledger, run_id, "derive") as st:
            series = derive_series(transcripts)
            io.write(series.withColumn("window_date", F.col("ts").cast("date")),
                     SERIES_TABLE, mode="overwrite", partition_by=["window_date"])
            series = io.read(SERIES_TABLE)
        report["stages"]["derive"] = st.wall_ms
        if fail_after_stage == "derive":
            raise RuntimeError("injected failure after derive")

        _rollup_tiers(io, ledger, run_id, series, list(tiers), feats, report,
                      fail_after_stage)

        if compress:
            stage = "compress"
            with StageTimer(ledger, run_id, stage) as st:
                chunks = encode_chunks(series)
                io.write(chunks, CHUNKS_TABLE, mode="overwrite")
                # measured bytes/point per blob kind → _metrics: retention
                # sizing runs on the measured ratio, and the number guards
                # the codec's Gorilla window-reuse divergence (see
                # codecs.chunks.compression_metrics)
                comp = compression_metrics(io.read(CHUNKS_TABLE)).collect()
                report["compression"] = {}
                for r in comp:
                    ledger.record_metric(run_id, stage,
                                         f"bytes_per_point_{r['kind']}",
                                         r["bytes_per_point"])
                    report["compression"][r["kind"]] = {
                        "bytes_per_point": r["bytes_per_point"],
                        "ratio_vs_raw": r["ratio_vs_raw"]}
            report["stages"][stage] = st.wall_ms

        wall = time.monotonic() - t_start
        report["wall_sec"] = wall
        report["turns_per_sec"] = turns / wall if wall > 0 else float("nan")
        ledger.record_metric(run_id, "pipeline", "turns", turns)
        ledger.record_metric(run_id, "pipeline", "turns_per_sec",
                             report["turns_per_sec"])
        return report
    finally:
        # stage walls recorded so far land even when a stage raised
        ledger.flush_metrics()


def _rollup_tiers(io: TableIO, ledger: Ledger, run_id: str,
                  series: DataFrame, tiers: Sequence[str], feats: list[str],
                  report: dict, fail_after_stage: str | None) -> None:
    """Rollup stages: every pending 1m/1h/1d unit from ONE fused kernel
    pass, then per tier (in order) its partition overwrite, its ledger
    rows and the crash hook."""
    stages = {tier: f"rollup_{tier}" for tier in tiers}
    done = ledger.done_units(stages.values())
    date_rows = {r["window_date"]: r["count"]
                 for r in series.groupBy("window_date").count().collect()}
    pending = {tier: sorted(d for d in date_rows
                            if (stages[tier], d) not in done)
               for tier in tiers}
    fused = [t for t in tiers if t in MULTI_TIER_UNITS and pending[t]]

    produced: dict[str, tuple[DataFrame, dict]] = {}
    persisted: list[DataFrame] = []
    try:
        for tier in tiers:
            stage = stages[tier]
            with StageTimer(ledger, run_id, stage) as st:
                dates = pending[tier]
                if not dates:
                    report["stages"][stage] = {"skipped": True}
                    continue
                if tier not in produced:
                    group = fused if tier in fused else [tier]
                    out = _produce(series, group, pending, feats).persist()
                    persisted.append(out)
                    stats = _unit_stats(out)
                    produced.update((t, (out, stats)) for t in group)
                out, stats = produced[tier]
                if tier in fused:
                    # the shared pass covers the union of the fused
                    # tiers' pending dates; commit only this tier's own
                    out = out.where((F.col("tier") == tier)
                                    & F.col("window_date").isin(dates))
                io.merge_overwrite_partitions(
                    out, FEATURE_TABLE.format(tier=tier),
                    partition_by=["window_date"])
                # in_count: the stage's whole input, repeated per unit
                in_count = sum(date_rows[d] for d in dates)
                units = [(tier, d, in_count, *stats[(tier, d)])
                         for d in dates if (tier, d) in stats]
                ledger.record_done(
                    run_id, stage, driver_frame(io.spark, units, UNIT_SCHEMA),
                    st.wall_ms)
            report["stages"][stage] = st.wall_ms
            if fail_after_stage == stage:
                raise RuntimeError(f"injected failure after {stage}")
    finally:
        for df in persisted:
            df.unpersist()


def _produce(series: DataFrame, group: list[str], pending: dict,
             feats: list[str]) -> DataFrame:
    """Long features of ``group``'s pending dates, with ``window_date``:
    one fused pass for 1m/1h/1d, else one tier's ``rollup_features``."""
    dates = sorted(set().union(*(pending[t] for t in group)))
    slice_df = series.where(F.col("window_date").isin(dates))
    if group[0] in MULTI_TIER_UNITS:
        out = rollup_features_multi(slice_df, group, feats)
    else:
        [tier] = group
        out = rollup_features(slice_df, tier, feats)
    return out.withColumn("window_date", F.col("window_start").cast("date"))


def _unit_stats(out: DataFrame) -> dict[tuple, tuple[int, int]]:
    """(tier, window_date) -> (out_count, checksum) of the kernel
    output, in one aggregate job; the checksum equals the one computed
    from the written partition (same rows, same string forms)."""
    rows = (content_checksum(out, CHECKSUM_COLS)
            .groupBy("tier", "window_date")
            .agg(F.count("*").alias("out_count"),
                 F.sum("row_crc").alias("checksum"))
            .collect())
    return {(r["tier"], r["window_date"]): (r["out_count"], r["checksum"])
            for r in rows}


def expire_raw(io: TableIO, watermark_date: str) -> int:
    """Retention: drop raw series partitions older than the watermark
    once their rollups exist (SURVEY.md §2.9). Parquet backend rewrites;
    Iceberg would DELETE FROM … WHERE / drop partitions."""
    return io.delete_where(SERIES_TABLE, f"window_date < date'{watermark_date}'")
