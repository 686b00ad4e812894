"""Tiered rollup — the distributed re-expression of
``cesium/featurize.py::featurize_time_series`` † (SURVEY.md §2.3, §3.4).

Two execution paths, by design (SURVEY.md §4.3):

**Exact kernel path** (default; the correctness-bearing one): hash
exchange on the group keys → per-partition sort → ``mapInPandas``
streaming kernel over sorted Arrow batches → length-bucketed numpy
feature kernels (``cesium_spark.functions.batched``, scalar fallback in
``functions.registry``). Every window is a deterministic
single-threaded numpy reduction over turn_idx-sorted rows — bit-for-bit
identical at any Spark parallelism or partitioning. This is what the
"rolled-up points match the reference bit-for-bit" bar requires: native
float aggregation is partition-order dependent and can never satisfy it.

**Native moments path** (throughput/fold path): pure JVM two-phase
aggregation of exactly-mergeable statistics (count, min, max, Σy, Σy²,
Σy³, t extremes). Used for tier folding (1m→1h→1d, operators/fold.py)
and metrics; mean/std/skew derived from moments are flagged inexact.

Scale: groups are bounded by the window (a 1-minute slice of one
conversation), so kernel memory is O(window), and the single shuffle is
the hash exchange on (conv_id, channel, window_start) — map-side
partials do not apply to opaque kernels, which is precisely why the
algebraic subset also has the native path. AQE handles residual skew;
whole-conversation ('conv' tier) Lomb–Scargle on Zipf-tailed lengths is
the known hot spot (SURVEY.md §4.4) — the nhist/qso kernels self-cap
(documented) and the LS scan is Press–Rybicki O(n log n) with a
deterministic thinning cap above FAST_MAX_N points.
"""

from __future__ import annotations

from collections.abc import Iterable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cesium_spark.arrow_stream import stream_groups
from cesium_spark.functions.batched import compute_features_matrix
from cesium_spark.functions.registry import (
    DEFAULT_FEATS,
    custom_snapshot,
    validate,
)

# tier name -> date_trunc unit; 'conv' = whole-conversation series
TIERS = {"1m": "minute", "1h": "hour", "1d": "day",
         # calendar tiers: fold targets for long-horizon retention —
         # irregular spans (weeks cross months, months vary 28-31 d),
         # which is exactly what date_trunc handles; both Spark and
         # DuckDB truncate weeks to ISO Monday
         "1w": "week", "1mo": "month"}

# windowed-tier group key = (conv, channel, floor(days/SPAN)): bounds a
# whale conversation's group at SPAN days while amortizing per-group
# Arrow/pandas fixed cost over ~SPAN days of windows (see rollup_features)
GROUP_SPAN_DAYS = 4

ROLLUP_SCHEMA = (
    "conv_id string, channel string, window_start timestamp, "
    "feature string, value double"
)

ROLLUP_MULTI_SCHEMA = (
    "conv_id string, channel string, tier string, "
    "window_start timestamp, feature string, value double"
)

# tiers rollup_features_multi computes -> numpy datetime64 unit
MULTI_TIER_UNITS = {"1m": "m", "1h": "h", "1d": "D"}

MOMENTS_SCHEMA_COLS = [
    "n", "y_min", "y_max", "y_sum", "y_sum2", "y_sum3", "t_min", "t_max",
]


def _with_window(series: DataFrame, tier: str) -> DataFrame:
    if tier in TIERS:
        return series.withColumn("window_start", F.date_trunc(TIERS[tier], F.col("ts")))
    if tier == "conv":
        return series.withColumn(
            "window_start", F.to_timestamp(F.lit("1970-01-01 00:00:00")))
    raise ValueError(f"unknown tier {tier!r}; expected one of {list(TIERS)} or 'conv'")


def rollup_features(series: DataFrame, tier: str,
                    features: Iterable[str] | None = None,
                    meta: DataFrame | None = None) -> DataFrame:
    """Exact path: long-form features table
    (conv_id, channel, tier, window_start, feature, value).

    Execution shape (round-2 redesign, measured 110s → 9s on the sf0.1
    hourly rollup): one hash exchange on the group keys, a per-partition
    sort on (keys, window_start, turn_idx), then ``mapInPandas`` streams
    whole Arrow batches (~64k rows spanning hundreds of groups) through
    the kernel — window slices are contiguous runs, evaluated by the
    length-bucketed batch kernels in functions/batched.py. This replaces
    the round-1 ``groupBy().applyInPandas`` + per-window Python loop,
    whose per-GROUP Arrow/pandas fixed cost and per-WINDOW dict dispatch
    (~0.7 ms) dominated wall time on 1-3-point windows. Values are
    UNCHANGED: each window is still one deterministic numpy reduction
    over turn_idx-sorted data (SURVEY.md §4.3), pinned bitwise by
    tests/test_batched_bitwise.py and the layer-2 oracle suite.

    Skew policy (SURVEY.md §4.4): group size is bounded by conversation
    length. Windowed tiers bound n by construction; the 'conv' tier on
    Zipf-tailed lengths relies on (a) self-capping kernels (nhist and
    qso thin deterministically above their documented caps; the LS scan
    is FFT-based O(n log n)) and (b) the native moments path + fold for
    exactly-mergeable statistics, which is the salted/partial route —
    salting the opaque exact kernel would change float summation order
    and break the bit-for-bit contract, so it is deliberately absent
    here. Residual partition skew is AQE's job.

    ``meta`` (cesium meta_features-as-inputs †, SURVEY.md §2.7): a
    per-conversation dims table (conv_id, <dims...>), broadcast-joined
    onto the series before the kernel exchange; inside the kernel the
    dim values are handed to graph-dep custom features as named
    parameters (see registry.register_custom). For passthrough onto the
    OUTPUT feature matrix use :func:`with_meta` on the wide view."""
    feats = validate(list(features) if features is not None else DEFAULT_FEATS)
    n_feats = len(feats)
    meta_cols = _checked_meta_cols(meta)
    # snapshot registered custom features into the kernel closure —
    # executors import the registry fresh and would see it empty
    custom = custom_snapshot(feats)

    def process_rows(pdf: pd.DataFrame) -> pd.DataFrame:
        """Rows arrive sorted by (group keys, window_start, turn_idx) —
        the sortWithinPartitions below — so window slices are contiguous
        runs and every slice is turn_idx-sorted, exactly the ordering
        the determinism contract pins (SURVEY.md §4.3)."""
        conv = pdf["conv_id"].to_numpy()
        chan = pdf["channel"].to_numpy()
        w = pdf["window_start"].to_numpy()
        change = np.concatenate(([True],
                                 (conv[1:] != conv[:-1])
                                 | (chan[1:] != chan[:-1])
                                 | (w[1:] != w[:-1])))
        starts = np.flatnonzero(change)
        ends = np.concatenate((starts[1:], [len(pdf)]))
        t = pdf["t"].to_numpy(np.float64)
        y = pdf["y"].to_numpy(np.float64)
        e = pdf["e"].to_numpy(np.float64)
        metas = None
        if meta_cols:
            metas = [{c: pdf[c].iloc[int(s)] for c in meta_cols}
                     for s in starts]
        # batched cross-window evaluation (functions/batched.py):
        # bit-identical to a per-window compute_features loop (pinned by
        # tests/test_batched_bitwise.py + the layer-2 oracle suite);
        # windows of MANY groups share one length-bucketed numpy pass
        values = compute_features_matrix(t, y, e, starts, ends, feats,
                                         metas=metas,
                                         custom=custom).ravel()
        n_win = starts.size
        return pd.DataFrame({
            "conv_id": np.repeat(conv[starts], n_feats),
            "channel": np.repeat(chan[starts], n_feats),
            "window_start": np.repeat(w[starts], n_feats),
            "feature": np.tile(np.asarray(feats, dtype=object), n_win),
            "value": values,
        })

    def kernel_stream(batches):
        """mapInPandas body: one Arrow batch (~64k rows) amortizes the
        Arrow/pandas fixed cost over HUNDREDS of groups — applyInPandas
        pays it once per group, which dominated wall time on tiny
        windows (measured 110s → 9s on the sf0.1 hourly rollup). The
        carry logic lives in arrow_stream.stream_groups: the trailing
        (possibly batch-split) group is held back as a LIST of frames
        and concatenated once at its boundary, so no window is ever
        evaluated from partial rows and a whale group spanning B
        batches costs O(B), not O(B²); memory is one batch + one group
        (bounded by GROUP_SPAN_DAYS of one conversation)."""
        yield from stream_groups(batches, keys, process_rows)

    windowed = (
        _with_window(series, tier)
        # manual pre-UDF projection: Catalyst cannot prune through the
        # opaque kernel (SURVEY.md §4.2)
        .select("conv_id", "channel", "window_start", "turn_idx", "t", "y", "e")
    )
    if meta_cols:
        # broadcast join: the dims table is one row per conversation —
        # tiny next to the turn stream — so no shuffle of the series
        windowed = windowed.join(
            F.broadcast(meta.select("conv_id", *meta_cols)),
            "conv_id", "left")
    # Windowed tiers additionally group by a contiguous DATE BLOCK: a
    # 1m/1h/1d window never crosses a date boundary (date_trunc
    # alignment), so splitting a conversation at date-block boundaries
    # cannot change any value, but a Zipf-tail conversation spanning D
    # days splits into D/GROUP_SPAN_DAYS parallel groups instead of one
    # straggler — the skew fix that matters at 10^12 turns (SURVEY.md
    # §4.4). The block is GROUP_SPAN_DAYS (not 1): per-group fixed cost
    # (Arrow + pandas + kernel dispatch) dominates for ordinary
    # conversations, so fewer/bigger groups are faster (measured 1.25x
    # on the sf0.1 hourly rollup at span 4 vs 1) while the worst-case
    # group stays bounded at GROUP_SPAN_DAYS of ONE conversation. The
    # 'conv' tier needs the whole series in one group (exact
    # whole-series kernels).
    keys = ["conv_id", "channel"]
    if tier in TIERS:
        windowed = windowed.withColumn(
            "grp_date",
            (F.datediff(F.col("window_start"), F.lit("1970-01-01"))
             / F.lit(GROUP_SPAN_DAYS)).cast("int"))
        keys.append("grp_date")

    # Explicit CPU-proportional partitioning for the kernel stage: AQE's
    # byte-based coalescing sees a few MB of shuffle data and would
    # collapse this to 1-2 reduce tasks, but the cost here is Python/
    # numpy CPU per window, not bytes (measured 2x wall on local[32]
    # when AQE coalesced the kernel exchange). A user-specified hash
    # repartition on the exact group keys is preserved by AQE. 4x cores
    # gives slot granularity for residual group-size skew. The per-
    # partition sort makes group/window slices contiguous runs for the
    # streaming kernel (one exchange + one local sort — the same
    # shuffle the old groupBy paid, minus its per-group Arrow tax).
    spark = series.sparkSession
    n_parts = spark.sparkContext.defaultParallelism * 4
    grouped = (
        windowed
        .repartition(n_parts, *keys)
        .sortWithinPartitions(*keys, "window_start", "turn_idx")
        .mapInPandas(kernel_stream, schema=ROLLUP_SCHEMA)
        .withColumn("tier", F.lit(tier))
        .select("conv_id", "channel", "tier", "window_start", "feature", "value")
    )
    return grouped


def rollup_features_multi(series: DataFrame, tiers: Iterable[str],
                          features: Iterable[str] | None = None,
                          meta: DataFrame | None = None) -> DataFrame:
    """ALL windowed tiers from ONE shuffle: long features table
    (conv_id, channel, tier, window_start, feature, value) for every
    tier in ``tiers`` (subset of 1m/1h/1d; the 'conv' tier needs whole
    conversations — use :func:`rollup_features`).

    Why this exists: 1m/1h/1d windows all NEST inside the
    (conv, channel, GROUP_SPAN_DAYS date block) group, so one hash
    exchange + one sorted scan can emit every tier — at 10^12 turns
    that is one shuffle of the turn stream instead of three, and one
    pass of kernel CPU amortized across tiers. ``plans.pipeline``
    builds every pending windowed tier with one call (the path
    bench.py phase A and perfbench's backfill time). Values are
    bit-identical to per-tier :func:`rollup_features` calls (pinned by
    tests/test_rollup_multi.py): the kernel derives each tier's window
    ids by numpy datetime64 truncation, which equals Spark's UTC
    ``date_trunc`` for post-epoch timestamps (the engine's domain)."""
    tiers = list(tiers)
    bad = [t for t in tiers if t not in MULTI_TIER_UNITS]
    if bad:
        raise ValueError(f"rollup_features_multi supports {list(MULTI_TIER_UNITS)}; "
                         f"got {bad} (run 'conv' via rollup_features)")
    feats = validate(list(features) if features is not None else DEFAULT_FEATS)
    n_feats = len(feats)
    meta_cols = _checked_meta_cols(meta)
    custom = custom_snapshot(feats)
    tier_units = [(t, MULTI_TIER_UNITS[t]) for t in tiers]

    def process_rows(pdf: pd.DataFrame) -> pd.DataFrame:
        conv = pdf["conv_id"].to_numpy()
        chan = pdf["channel"].to_numpy()
        ts64 = pdf["ts"].to_numpy("datetime64[us]")
        grp_change = np.concatenate(([True],
                                     (conv[1:] != conv[:-1])
                                     | (chan[1:] != chan[:-1])))
        t = pdf["t"].to_numpy(np.float64)
        y = pdf["y"].to_numpy(np.float64)
        e = pdf["e"].to_numpy(np.float64)
        outs = []
        for tier, unit in tier_units:
            w = ts64.astype(f"datetime64[{unit}]")
            change = grp_change.copy()
            change[1:] |= w[1:] != w[:-1]
            starts = np.flatnonzero(change)
            ends = np.concatenate((starts[1:], [len(pdf)]))
            metas = None
            if meta_cols:
                metas = [{c: pdf[c].iloc[int(s)] for c in meta_cols}
                         for s in starts]
            values = compute_features_matrix(t, y, e, starts, ends, feats,
                                             metas=metas,
                                             custom=custom).ravel()
            n_win = starts.size
            outs.append(pd.DataFrame({
                "conv_id": np.repeat(conv[starts], n_feats),
                "channel": np.repeat(chan[starts], n_feats),
                "tier": tier,
                "window_start": np.repeat(w[starts].astype("datetime64[us]"),
                                          n_feats),
                "feature": np.tile(np.asarray(feats, dtype=object), n_win),
                "value": values,
            }))
        return pd.concat(outs, ignore_index=True)

    def kernel_stream(batches):
        # O(B)-carry group streaming (see rollup_features' kernel)
        yield from stream_groups(
            batches, ("conv_id", "channel", "grp_date"), process_rows)

    cols = ["conv_id", "channel", "ts", "turn_idx", "t", "y", "e"]
    windowed = series.select(*cols).withColumn(
        "grp_date",
        (F.datediff(F.col("ts"), F.lit("1970-01-01"))
         / F.lit(GROUP_SPAN_DAYS)).cast("int"))
    if meta_cols:
        windowed = windowed.join(
            F.broadcast(meta.select("conv_id", *meta_cols)), "conv_id", "left")
    keys = ["conv_id", "channel", "grp_date"]
    spark = series.sparkSession
    n_parts = spark.sparkContext.defaultParallelism * 4
    return (windowed
            .repartition(n_parts, *keys)
            .sortWithinPartitions(*keys, "ts", "turn_idx")
            .mapInPandas(kernel_stream, schema=ROLLUP_MULTI_SCHEMA))


def pivot_wide(features_long: DataFrame, features: Iterable[str]) -> DataFrame:
    """Wide view: one row per (conv, channel, tier, window), one column
    per feature — ≙ cesium's (feature, channel) MultiIndex output
    (assemble_featureset †)."""
    return (
        features_long
        .groupBy("conv_id", "channel", "tier", "window_start")
        .pivot("feature", list(features))
        .agg(F.first("value"))
    )


def unpivot_long(wide: DataFrame, features: Iterable[str],
                 key_cols: Iterable[str] = ("conv_id", "channel", "tier",
                                            "window_start")) -> DataFrame:
    """Melt the wide feature matrix back to the long (feature, value)
    shape — the exact inverse of :func:`pivot_wide` over the same
    feature list, via the native ``stack`` table generator: a pure
    per-row expansion inside whole-stage codegen, ZERO exchanges (the
    long→wide direction pays the pivot's hash aggregate; wide→long is
    free). NULL cells are kept as explicit (feature, NULL) rows so
    roundtripping preserves the degenerate-feature policy (a dropped
    NULL row would silently re-read as "feature not computed").

    Feature names pass through ``stack`` as single-quoted literals;
    names are validated against quote injection rather than escaped
    (a feature named ``a'b`` is a registry bug, not an input).
    """
    feats = list(features)
    if not feats:
        raise ValueError("unpivot_long needs at least one feature")
    bad = [f for f in feats if "'" in f or "\n" in f]
    if bad:
        raise ValueError(f"feature names must not contain quotes: {bad}")
    missing = [f for f in feats if f not in wide.columns]
    if missing:
        raise ValueError(f"features not in wide frame: {missing}")
    pairs = ", ".join(f"'{f}', cast(`{f}` AS double)" for f in feats)
    stack = F.expr(
        f"stack({len(feats)}, {pairs}) AS (feature, value)")
    return wide.select(*key_cols, stack)


def with_meta(wide: DataFrame, meta: DataFrame,
              on: str = "conv_id") -> DataFrame:
    """cesium meta_features passthrough (``assemble_featureset(...,
    meta_features)`` †, SURVEY.md §2.3/§2.7): conversation-level dims
    broadcast-joined onto the feature matrix, one column per dim. Left
    join: series without dims keep their features (dims NULL)."""
    return wide.join(F.broadcast(meta), on, "left")


def _checked_meta_cols(meta: DataFrame | None) -> list[str]:
    """Meta dim columns, rejecting names that a shared kernel
    intermediate (cads/lomb_model/delta_t_hist) would silently shadow
    in custom-feature dependency resolution (registry resolves
    _INTERMEDIATES before meta)."""
    if meta is None:
        return []
    from cesium_spark.functions.registry import _INTERMEDIATES
    cols = [c for c in meta.columns if c != "conv_id"]
    clash = sorted(set(cols) & set(_INTERMEDIATES))
    if clash:
        raise ValueError(
            f"meta column(s) {clash} collide with shared kernel "
            "intermediates and would be shadowed in custom-feature "
            "dependency resolution; rename the meta dimension(s)")
    return cols


def rollup_moments(series: DataFrame, tier: str) -> DataFrame:
    """Native path: exactly-mergeable window statistics, JVM-only
    two-phase aggregation (partial + final, whole-stage codegen)."""
    return (
        _with_window(series, tier)
        .groupBy("conv_id", "channel", "window_start")
        .agg(
            F.count("y").alias("n"),
            F.min("y").alias("y_min"),
            F.max("y").alias("y_max"),
            F.sum("y").alias("y_sum"),
            F.sum(F.col("y") * F.col("y")).alias("y_sum2"),
            F.sum(F.col("y") * F.col("y") * F.col("y")).alias("y_sum3"),
            F.min("t").alias("t_min"),
            F.max("t").alias("t_max"),
        )
        .withColumn("tier", F.lit(tier))
    )


def moments_derived(moments: DataFrame) -> DataFrame:
    """mean/std/skew/amplitude/n_epochs/total_time from moments —
    the inexact (float-sum) fast path; exact values come from kernels."""
    n = F.col("n").cast("double")
    mu = F.col("y_sum") / n
    m2 = F.col("y_sum2") / n - mu * mu
    m3 = (F.col("y_sum3") / n) - 3 * mu * (F.col("y_sum2") / n) + 2 * mu * mu * mu
    return moments.select(
        "conv_id", "channel", "tier", "window_start",
        n.alias("n_epochs"),
        F.col("y_max").alias("maximum"),
        F.col("y_min").alias("minimum"),
        ((F.col("y_max") - F.col("y_min")) / 2).alias("amplitude"),
        mu.alias("mean"),
        F.sqrt(F.greatest(m2, F.lit(0.0))).alias("std"),
        F.when(m2 > 0, m3 / F.pow(m2, 1.5)).alias("skew"),
        (F.col("t_max") - F.col("t_min")).alias("total_time"),
    )


def rollup_quantiles(series: DataFrame, tier: str,
                     qs: tuple[float, ...] = (0.5, 0.95, 0.99),
                     approx: bool = False,
                     accuracy: int = 10000) -> DataFrame:
    """Per-tier latency/value quantiles (p50/p95/p99 of the north_star's
    turn-latency series).

    Two paths, same schema:

    - ``approx=False``: exact ``percentile`` (linear interpolation on
      the sorted group — the definition DuckDB's ``quantile_cont``
      shares, so results are oracle-comparable bit-for-bit after
      rounding). Exact percentile buffers each group's values; right
      for verification scales and modest groups.
    - ``approx=True``: ``percentile_approx`` (Greenwald–Khanna sketch,
      MERGEABLE partial aggregation — the 100 TB path: map-side
      partials, bounded memory per group regardless of group size,
      and tier folds can re-merge sketches). Deterministic for a given
      accuracy but NOT restatable in DuckDB; it is verified against
      the exact path by bounded-rank-error pytest instead.
    """
    if tier not in TIERS:
        raise ValueError(f"unknown tier {tier!r}")
    if not qs or any(not 0.0 <= q <= 1.0 for q in qs):
        raise ValueError(f"quantiles must lie in [0,1], got {qs!r}")
    arr = F.array(*[F.lit(float(q)) for q in qs])
    agg = (F.percentile_approx("y", arr, F.lit(accuracy)) if approx
           else F.percentile("y", arr))
    g = (
        _with_window(series, tier)
        .groupBy("conv_id", "channel", "window_start")
        .agg(F.count("y").alias("n"), agg.alias("__qs"))
    )
    cols = ["conv_id", "channel", "window_start", "n"] + [
        F.col("__qs")[i].alias(f"p{int(round(q * 100)):02d}")
        for i, q in enumerate(qs)
    ]
    return g.select(*cols).withColumn("tier", F.lit(tier))
