"""Seeded inputs: transcripts of a fixed size and the dashboard's
refreshes.

Conversation lengths in ``sources.synth`` are Pareto-tailed, so the
turn count of ``n`` conversations swings threefold from seed to seed.
A workload whose size moved with its seed would report the seed, not
the engine, so the benchmark fixes the input at ``TARGET_TURNS`` turns:
it generates a seeded pool of ``POOL_CONVS`` conversations and keeps
them in index order while they fit. Lengths keep
``generate_transcripts``' own cap of ``MAX_LEN`` turns, so the Zipf
whale tail is in the input: a typical seed's largest conversation is
about 6,600 turns.

Sizing, measured at ``local[4]`` on a 4-vCPU virtual machine whose
speed drifted by a third while other machines loaded its host: a
cold build of 70,000 turns took 28-40 s, 50,000 turns 34 s and 30,000
turns 32-36 s, with ``rollup_1m`` 40-45% of the build at every size,
so the build is bulk work at 30,000 turns already. Fixed cost per run
(JVM start, input, checks, stop: about 20 s) dominates run length; a
whole run took 61 s (backfill) and 73 s (dashboard) at 70,000 turns
and 49-57 s and 75-77 s at 30,000, the dashboard window holding one
refresh at 70,000 turns and two or three at 30,000. Dashboard latency
varies from refresh to refresh as much as from run to run, so the
benchmark spends its run budget on refreshes: 30,000 turns. A pool of
800 conversations fills 29,999-30,000 turns for every seed from 1 to
200.
"""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from cesium_spark.sources.synth import (EPOCH, SPAN_DAYS, TRANSCRIPT_SCHEMA,
                                        generate_transcripts_pandas)

TARGET_TURNS = 30_000
MAX_LEN = 20_000  # generate_transcripts' default
POOL_CONVS = 800

QUERY_KINDS = ("tier_wide", "m4", "gapfill", "fold", "decode", "conv_ls")
QUERY_TIERS = ("1m", "1h", "1d")
# kinds that read or produce one tier; each refresh runs them per tier
TIERED_KINDS = ("tier_wide", "m4", "gapfill")
QUERY_DAYS = 2


def transcripts(spark: SparkSession, seed: int
                ) -> tuple[DataFrame, int, pd.DataFrame]:
    """Cached transcripts of about TARGET_TURNS turns, their count and
    the same rows in pandas (for the independent checks).

    The pool is drawn on the driver with ``generate_transcripts_pandas``,
    whose rows equal ``generate_transcripts``' for the same seed and
    index; drawing it there keeps set-up off the Python workers."""
    pool = generate_transcripts_pandas(POOL_CONVS, seed=seed, max_len=MAX_LEN)
    keep, total = [], 0
    for conv_id, n in pool.groupby("conv_id", sort=True).size().items():
        if total + n <= TARGET_TURNS:
            keep.append(conv_id)
            total += n
    rows = pool[pool["conv_id"].isin(keep)].reset_index(drop=True)
    out = spark.createDataFrame(rows, schema=TRANSCRIPT_SCHEMA).cache()
    count = out.count()
    if count != total:
        raise RuntimeError(f"input selection kept {count} turns, "
                           f"expected {total}")
    return out, count, rows


def span_day(i: int) -> dt.date:
    return (EPOCH.astype("datetime64[D]") + i).item()


def refresh_plan(seed: int, refreshes: int) -> list[dict]:
    """Seeded dashboard refreshes, each over a QUERY_DAYS-day
    ``window_date`` range with a seeded start. Every refresh runs the
    same queries in the same order: the tier-dependent kinds once per
    tier, the others once, so a run's mix of work does not depend on
    its seed or on how many refreshes fit in its window."""
    rng = random.Random(seed)
    queries = [(kind, tier) for kind in QUERY_KINDS
               for tier in (QUERY_TIERS if kind in TIERED_KINDS else [None])]
    plan = []
    for _ in range(refreshes):
        start = rng.randrange(0, SPAN_DAYS - QUERY_DAYS + 1)
        plan.append({"queries": queries,
                     "d0": span_day(start),
                     "d1": span_day(start + QUERY_DAYS - 1)})
    return plan
