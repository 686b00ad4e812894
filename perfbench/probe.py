"""Spark-free layer probe: the rollup kernel and the group-streaming
helper on seeded in-memory frames, timed without Spark or Arrow.

Two shapes, the two ends of what the rollup kernel sees:
- ``minute``: many 1-3-point windows (the 1m tier), DEFAULT_FEATS;
- ``conv``: a few long series (the conv tier), the pipeline's
  LS_TIER_FEATS.
``stream_groups`` is fed key-sorted batches that split groups across
batch boundaries, with an ``emit`` that only counts rows, so its figure
is the carry and boundary cost alone.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd

from cesium_spark.arrow_stream import stream_groups
from cesium_spark.functions.batched import compute_features_matrix
from cesium_spark.functions.registry import DEFAULT_FEATS
from cesium_spark.plans.pipeline import LS_TIER_FEATS

REPS = 3


def _windows(rng: np.random.Generator, lengths: np.ndarray):
    n = int(lengths.sum())
    ends = np.cumsum(lengths)
    starts = ends - lengths
    # per-window time axis: seconds since window start, sorted
    t = np.concatenate([np.sort(rng.uniform(0, 60.0 * L, L))
                        for L in lengths])
    y = rng.normal(30.0, 8.0, n)
    e = np.full(n, 1e-4)
    return t, y, e, starts, ends


def _best_rate(fn, units: int) -> float:
    """units per second of the median of REPS timed calls."""
    walls = []
    for _ in range(REPS):
        t = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t)
    return units / sorted(walls)[len(walls) // 2]


def kernel_rates(seed: int) -> dict[str, float]:
    rng = np.random.default_rng([seed, 1])
    minute = _windows(rng, rng.integers(1, 4, 4000))
    conv = _windows(rng, rng.integers(500, 2000, 8))
    stream = _stream_batches(rng)
    return {
        "kernel.windows_per_s.minute": _best_rate(
            lambda: compute_features_matrix(*minute, DEFAULT_FEATS),
            minute[3].size),
        "kernel.windows_per_s.conv": _best_rate(
            lambda: compute_features_matrix(*conv, LS_TIER_FEATS),
            conv[3].size),
        "arrow_stream.rows_per_s": _best_rate(
            lambda: sum(stream_groups(stream, ("conv_id", "channel"), len)),
            sum(len(b) for b in stream)),
    }


def _stream_batches(rng: np.random.Generator, rows: int = 200_000,
                    batch: int = 8192) -> list[pd.DataFrame]:
    sizes = rng.integers(1, 400, rows // 50)
    sizes = sizes[np.cumsum(sizes) <= rows]
    conv = np.repeat([f"conv{i:08d}" for i in range(sizes.size)], sizes)
    df = pd.DataFrame({"conv_id": conv, "channel": "latency",
                       "y": rng.normal(size=conv.size)})
    return [df.iloc[i:i + batch] for i in range(0, len(df), batch)]
