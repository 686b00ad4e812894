"""Resume/lineage tests (SURVEY.md §5.2 layer 5): kill after partial
materialization → rerun → identical final tables; ledger shows completed
partitions skipped."""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from cesium_spark.plans.ledger import Ledger, content_checksum
from cesium_spark.plans.pipeline import expire_raw, run_pipeline
from cesium_spark.sources.table_io import TableIO

FEATS = ["mean", "std", "n_epochs", "amplitude"]


def _table_checksum(io, name):
    df = io.read(name)
    return (content_checksum(
        df, ["conv_id", "channel", "window_start", "feature", "value"])
        .agg(F.sum("row_crc")).collect()[0][0], df.count())


def test_crash_resume_identical_output(spark, tiny_transcripts, tmp_path):
    io = TableIO(spark, str(tmp_path / "t1"))

    # full uninterrupted run → golden checksums
    io_ref = TableIO(spark, str(tmp_path / "ref"))
    run_pipeline(io_ref, tiny_transcripts, tiers=("1h", "1d"),
                 features=FEATS, compress=False)
    golden = {t: _table_checksum(io_ref, f"features_{t}") for t in ("1h", "1d")}

    # crashed run: dies after the 1h tier
    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(io, tiny_transcripts, tiers=("1h", "1d"), features=FEATS,
                     compress=False, fail_after_stage="rollup_1h")
    assert io.exists("features_1h")
    assert not io.exists("features_1d")

    # resumed run: must skip 1h (ledger) and produce identical tables
    report = run_pipeline(io, tiny_transcripts, tiers=("1h", "1d"),
                          features=FEATS, compress=False)
    assert report["stages"]["rollup_1h"] == {"skipped": True}
    for t in ("1h", "1d"):
        assert _table_checksum(io, f"features_{t}") == golden[t]


def test_crash_before_ledger_append_resumes_fused_tiers(
        spark, tiny_transcripts, tmp_path, monkeypatch):
    """All three tiers share one kernel pass; a crash after features_1d
    is written but before its ledger rows land must resume to the
    uninterrupted tables (the overwrite leaves no duplicate rows) with
    one ledger row per unit."""
    tiers = ("1m", "1h", "1d")
    io_ref = TableIO(spark, str(tmp_path / "ref"))
    run_pipeline(io_ref, tiny_transcripts, tiers=tiers, features=FEATS,
                 compress=False)
    golden = {t: _table_checksum(io_ref, f"features_{t}") for t in tiers}

    io = TableIO(spark, str(tmp_path / "t"))
    record_done = Ledger.record_done

    def crash_on_1d(self, run_id, stage, per_unit, wall_ms):
        if stage == "rollup_1d":
            raise RuntimeError("injected crash before the ledger append")
        record_done(self, run_id, stage, per_unit, wall_ms)

    with monkeypatch.context() as m:
        m.setattr(Ledger, "record_done", crash_on_1d)
        with pytest.raises(RuntimeError, match="injected crash"):
            run_pipeline(io, tiny_transcripts, tiers=tiers, features=FEATS,
                         compress=False)
    assert io.exists("features_1d")

    report = run_pipeline(io, tiny_transcripts, tiers=tiers, features=FEATS,
                          compress=False)
    assert report["stages"]["rollup_1m"] == {"skipped": True}
    assert report["stages"]["rollup_1h"] == {"skipped": True}
    assert report["stages"]["rollup_1d"] != {"skipped": True}
    for t in tiers:
        assert _table_checksum(io, f"features_{t}") == golden[t], t
    done = (Ledger(io).entries().where("state = 'done'")
            .groupBy("stage", "window_date").count().toPandas())
    assert set(done["stage"]) == {f"rollup_{t}" for t in tiers}
    assert (done["count"] == 1).all()


def test_run_metrics_are_one_append(spark, tiny_transcripts, tmp_path):
    """Each run adds exactly one _metrics file holding all its metrics,
    and a run that dies still records the stage walls it reached."""
    io = TableIO(spark, str(tmp_path / "m"))
    ledger = Ledger(io)

    def files():
        return sorted(glob.glob(os.path.join(io.path("_metrics"),
                                             "part-*.parquet")))

    def metrics_in(path, run_id):
        rows = spark.read.parquet(path).where(F.col("run_id") == run_id)
        return {(r["stage"], r["metric"]) for r in rows.collect()}

    with pytest.raises(RuntimeError, match="injected failure"):
        run_pipeline(io, tiny_transcripts, tiers=("1h", "1d"),
                     features=FEATS, compress=False, run_id="crashed",
                     fail_after_stage="rollup_1h")
    [first] = files()
    assert metrics_in(first, "crashed") == {("derive", "wall_ms"),
                                            ("rollup_1h", "wall_ms")}

    run_pipeline(io, tiny_transcripts, tiers=("1h", "1d"), features=FEATS,
                 compress=False, run_id="resumed")
    [second] = sorted(set(files()) - {first})
    want = {("derive", "wall_ms"), ("rollup_1h", "wall_ms"),
            ("rollup_1d", "wall_ms"), ("pipeline", "turns"),
            ("pipeline", "turns_per_sec")}
    assert metrics_in(second, "resumed") == want
    total = ledger.metrics().where(F.col("run_id") == "resumed").count()
    assert total == len(want)


def test_ledger_lineage_per_partition(spark, tiny_transcripts, tmp_path):
    io = TableIO(spark, str(tmp_path / "t2"))
    run_pipeline(io, tiny_transcripts, tiers=("1d",), features=FEATS,
                 compress=False)
    ledger = Ledger(io)
    entries = ledger.entries().where("stage = 'rollup_1d'").toPandas()
    # one lineage row per (tier, window_date) work unit, with counts
    assert len(entries) > 1
    assert (entries["state"] == "done").all()
    assert (entries["out_count"] > 0).all()
    assert entries["checksum"].notna().all()
    # metrics recorded
    m = ledger.metrics().toPandas()
    assert {"turns", "turns_per_sec"} <= set(m["metric"])


def test_rerun_is_noop_and_idempotent(spark, tiny_transcripts, tmp_path):
    io = TableIO(spark, str(tmp_path / "t3"))
    run_pipeline(io, tiny_transcripts, tiers=("1d",), features=FEATS,
                 compress=False)
    before = _table_checksum(io, "features_1d")
    report = run_pipeline(io, tiny_transcripts, tiers=("1d",), features=FEATS,
                          compress=False)
    assert report["stages"]["rollup_1d"] == {"skipped": True}
    assert _table_checksum(io, "features_1d") == before


def test_retention_expiry(spark, tiny_transcripts, tmp_path):
    io = TableIO(spark, str(tmp_path / "t4"))
    run_pipeline(io, tiny_transcripts, tiers=("1d",), features=FEATS,
                 compress=False)
    total = io.read("series").count()
    cutoff = (io.read("series").agg(F.max("window_date")).collect()[0][0])
    deleted = expire_raw(io, str(cutoff))
    assert 0 < deleted < total
    assert io.read("series").count() == total - deleted
    # rollups survive expiry
    assert io.read("features_1d").count() > 0


def test_pipeline_records_compression_metrics(spark, tiny_transcripts,
                                              tmp_path):
    """The compress stage writes measured bytes/point per blob kind
    into _metrics (retention sizing reads the ratio, not a guess)."""
    io = TableIO(spark, str(tmp_path / "cm"))
    report = run_pipeline(io, tiny_transcripts, tiers=("1d",),
                          features=["mean"], compress=True)
    assert set(report["compression"]) == {"ts", "idx", "y"}
    assert all(v["bytes_per_point"] > 0
               for v in report["compression"].values())
    ledger = Ledger(io)
    rows = (ledger.metrics()
            .where(F.col("metric").startswith("bytes_per_point_"))
            .toPandas())
    assert set(rows["metric"]) == {"bytes_per_point_ts",
                                   "bytes_per_point_idx",
                                   "bytes_per_point_y"}
    got = dict(zip(rows["metric"], rows["value"]))
    for kind, rep in report["compression"].items():
        assert got[f"bytes_per_point_{kind}"] == rep["bytes_per_point"]
