"""Independent re-derivation of engine outputs from the input rows.

Neither check reads a stored reference, so both hold on a seed never
run before:

- ``features_sample``: a seeded sample of tier windows, re-derived in
  pandas from the raw transcripts (series derivation with the engine's
  pinned semantics, then the per-series ``functions.registry`` kernels
  one window at a time) and compared bit for bit with the warehouse's
  ``features_{tier}`` rows. The engine computes the same windows with
  the batched kernels behind a Spark shuffle.
- ``m4``: M4 tuples of one dashboard range computed in pandas and
  compared exactly with ``m4_downsample``'s result (every M4 field is
  a selected value or a count, so the comparison needs no tolerance).
"""

from __future__ import annotations

import random

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cesium_spark.functions.registry import compute_features
from cesium_spark.operators.derive import DEFAULT_ERROR_VALUE

# pandas floor frequency of each windowed tier
FREQ = {"1m": "min", "1h": "h", "1d": "D"}
# windows re-derived per tier; the largest conversation is always in
# the sample, so a whale's long windows are checked on every build
SAMPLE_CONVS = 3
SAMPLE_WINDOWS = 12
KEYS = ["conv_id", "channel", "window_start", "feature"]
M4_KEYS = ["conv_id", "channel", "bucket"]
M4_COLS = ["y_min", "y_max", "y_first", "y_last", "t_first", "t_last", "n"]


def series(tr: pd.DataFrame) -> pd.DataFrame:
    """series(conv_id, channel, turn_idx, ts, t, y, e) of transcripts
    rows: t is seconds since the conversation's first turn, latency is
    the gap to the previous turn (from turn 1 on), tokens counts
    whitespace-separated words, tool_rate is 1 where a tool was called.
    Spark casts a timestamp to double as microseconds / 1e6."""
    tr = tr.sort_values(["conv_id", "turn_idx", "ts"], kind="stable")
    sec = tr["ts"].to_numpy("datetime64[us]").view("int64") / 1e6
    sec = pd.Series(sec, index=tr.index)
    by = sec.groupby(tr["conv_id"])
    base = pd.DataFrame({"conv_id": tr["conv_id"],
                         "turn_idx": tr["turn_idx"].astype("int64"),
                         "ts": tr["ts"], "t": sec - by.transform("min")})
    channels = {
        "latency": sec - by.shift(1),
        "tokens": tr["text"].str.strip().str.split(r"\s+").str.len()
        .astype("float64"),
        "tool_rate": tr["tool"].notna().astype("float64"),
    }
    out = pd.concat([base.assign(channel=name, y=y)
                     for name, y in channels.items()], ignore_index=True)
    out = out[out["y"].notna()]
    return out.assign(e=DEFAULT_ERROR_VALUE)[
        ["conv_id", "channel", "turn_idx", "ts", "t", "y", "e"]]


def _micros(ts) -> np.ndarray:
    return np.asarray(ts, dtype="datetime64[us]").view("int64")


def _same(got: pd.DataFrame, want: pd.DataFrame, keys: list[str],
          cols: list[str]) -> str:
    """'' when both frames hold the same keys and bit-equal values
    (NaN equal to NaN), else a description of the first difference."""
    got = got.sort_values(keys, kind="stable").reset_index(drop=True)
    want = want.sort_values(keys, kind="stable").reset_index(drop=True)
    if len(got) != len(want):
        return f"{len(got)} rows, expected {len(want)}"
    for k in keys:
        g, w = got[k].to_numpy(), want[k].to_numpy()
        if k in ("window_start", "bucket"):
            g, w = _micros(g), _micros(w)
        if not np.array_equal(g, w):
            return f"key {k} differs"
    for c in cols:
        g = got[c].to_numpy("float64")
        w = want[c].to_numpy("float64")
        bad = ~((g == w) | (np.isnan(g) & np.isnan(w)))
        if bad.any():
            row = got[bad].iloc[0]
            return (f"{c} of {tuple(row[k] for k in keys)} is "
                    f"{g[bad][0]!r}, expected {w[bad][0]!r}")
    return ""


def features_sample(tables: dict[str, DataFrame], tr: pd.DataFrame,
                    feats: list[str], seed: int) -> str:
    """'' when a seeded sample of windows of every tier in ``tables``
    (tier -> the warehouse's features table) equals its re-derivation
    from ``tr``, else what differs."""
    rng = random.Random(seed)
    sizes = tr.groupby("conv_id").size()
    others = sorted(set(sizes.index) - {sizes.idxmax()})
    convs = [sizes.idxmax(), *rng.sample(others, SAMPLE_CONVS - 1)]
    s = series(tr[tr["conv_id"].isin(convs)])
    for tier, table in tables.items():
        start = s["ts"].dt.floor(FREQ[tier])
        keys = sorted(set(zip(s["conv_id"], _micros(start))))
        pick = set(rng.sample(keys, min(SAMPLE_WINDOWS, len(keys))))
        mine = s[[k in pick for k in zip(s["conv_id"], _micros(start))]]
        want = []
        for (conv, ch, w0), g in mine.groupby(
                ["conv_id", "channel", start.loc[mine.index]], sort=True):
            g = g.sort_values("turn_idx", kind="stable")
            vals = compute_features(g["t"].to_numpy(), g["y"].to_numpy(),
                                    g["e"].to_numpy(), feats)
            want += [(conv, ch, w0, f, v) for f, v in vals.items()]
        want = pd.DataFrame(want, columns=KEYS + ["value"])
        dates = sorted({w0.date() for w0 in want["window_start"]})
        got = (table
               .where(F.col("window_date").isin(dates)
                      & F.col("conv_id").isin(convs))
               .select(*KEYS, "value",
                       F.unix_micros("window_start").alias("us"))
               .toPandas())
        got = got[[k in pick for k in zip(got["conv_id"], got["us"])]]
        diff = _same(got.drop(columns="us"), want, KEYS, ["value"])
        if diff:
            return f"features_{tier} sample: {diff}"
    return ""


def m4(got: DataFrame, tr: pd.DataFrame, tier: str, d0, d1) -> str:
    """'' when ``got`` (``m4_downsample`` of the series rows dated
    d0..d1) equals the M4 tuples derived from ``tr``, else what
    differs."""
    s = series(tr)
    day = s["ts"].dt.normalize()
    s = s[(day >= pd.Timestamp(d0)) & (day <= pd.Timestamp(d1))]
    s = s.assign(bucket=s["ts"].dt.floor(FREQ[tier])).sort_values(
        M4_KEYS + ["t", "turn_idx"], kind="stable")
    g = s.groupby(M4_KEYS, sort=True)
    want = pd.DataFrame({
        "y_min": g["y"].min(), "y_max": g["y"].max(),
        "y_first": g["y"].first(), "y_last": g["y"].last(),
        "t_first": g["t"].min(), "t_last": g["t"].max(),
        "n": g["y"].size(),
    }).reset_index()
    diff = _same(got.toPandas(), want, M4_KEYS, M4_COLS)
    return f"m4 {tier} {d0}..{d1}: {diff}" if diff else ""
