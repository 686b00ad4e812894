"""Benchmark entry point.

    python3 perfbench/run.py --workload {backfill,dashboard}
        --seed N --seconds S --trace {0,1}

Run from the repository root. Prints a human-readable summary, then as
the last line one JSON object ``{correct, attempted, failed, metrics}``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Exits 1 when any output check failed. Everything the run
writes lands in ``.perfbench_out/`` under the working directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
REPO = HERE.parent
OUT = Path(".perfbench_out").resolve()

# percentile reported as latency_tail_s
TAIL_PCT = 75

# end-to-end metrics of an untraced run, with their units. Peak RSS is
# a per-layer metric instead: its run-to-run spread is too wide to hold
# a regression bound (README.md, "Memory").
E2E = {"setup_s": "s", "latency_p50_s": "s", "latency_tail_s": "s",
       "stored_bytes_per_turn": "B"}


class RssSampler:
    """Peak summed RSS of a process and all its descendants (the JVM
    and the Python workers it forks), sampled every ``period`` s."""

    def __init__(self, pid: int, period: float = 0.1):
        self.pid = pid
        self.period = period
        self.peak = 0
        self.peak_procs = 0
        self.peak_jvm = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        return False

    def _tree_rss(self) -> tuple[int, int, int]:
        """(summed RSS bytes, process count, JVM RSS bytes)."""
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
                with open(f"/proc/{d}/statm") as f:
                    rss[int(d)] = int(f.read().split()[1])
            except (OSError, IndexError, ValueError):
                continue  # the process ended while we read it
            children.setdefault(ppid, []).append(int(d))
        total, procs, todo = 0, 0, [self.pid]
        while todo:
            p = todo.pop()
            total += rss.get(p, 0)
            procs += 1
            todo.extend(children.get(p, []))
        page = os.sysconf("SC_PAGE_SIZE")
        return total * page, procs, rss.get(self.pid, 0) * page

    def _run(self):
        while not self._stop.is_set():
            rss, procs, jvm = self._tree_rss()
            if rss > self.peak:
                self.peak, self.peak_procs, self.peak_jvm = rss, procs, jvm
            self._stop.wait(self.period)


def stop(spark) -> None:
    """Stop Spark and wait for the JVM to exit: the gateway process
    ends when its stdin closes (spark.stop() already ended the Python
    daemon and its workers)."""
    proc = spark.sparkContext._gateway.proc
    spark.stop()
    proc.stdin.close()
    proc.wait(timeout=60)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "dashboard"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    # fail before starting a JVM when the engine is not importable
    sys.path.insert(0, str(REPO))
    import cesium_spark  # noqa: F401

    import host
    scratch = OUT / "run"
    shutil.rmtree(scratch, ignore_errors=True)
    scratch.mkdir(parents=True)
    host.apply_env(REPO, scratch)
    event_dir = scratch / "eventlog" if args.trace else None

    from cesium_spark.session import get_spark

    import report
    from spans import Tracer, instrument
    from workloads import WORKLOADS, Op

    t_setup = time.monotonic()
    spark = get_spark(master=host.master(), app_name="perfbench",
                      extra_conf=host.spark_conf(scratch, event_dir))
    session_s = time.monotonic() - t_setup
    tracer = Tracer(spark.sparkContext)
    wl = WORKLOADS[args.workload](spark, scratch, args.seed, tracer)
    ops = []
    try:
        if args.trace:
            instrument(tracer)
        wl.setup()
        setup_s = time.monotonic() - t_setup
        t0 = time.monotonic()
        with RssSampler(spark.sparkContext._gateway.proc.pid) as rss:
            i = 0
            while True:
                tracer.enabled = bool(args.trace)
                tracer.op = i
                try:
                    op = wl.run_op(i, tracer.enabled)
                except Exception as exc:  # keep measuring; count it
                    op = Op(args.workload, 0.0, ok=False,
                            error=f"{type(exc).__name__}: {exc}")
                finally:
                    tracer.enabled = False
                ops.append(op)
                i += 1
                # closed loop: start the next operation only while it
                # is expected to end inside the window
                elapsed = time.monotonic() - t0
                if elapsed + elapsed / i > args.seconds:
                    break
        try:
            wl.verify(ops)
        except Exception as exc:
            ops[0].ok = False
            ops[0].error = f"{type(exc).__name__}: {exc}"
        stored = wl.stored_bytes()
    finally:
        tracer.restore()
        stop(spark)

    walls = wl.latencies(ops)
    peak_mb = rss.peak / 2**20
    values = {
        "setup_s": setup_s,
        "latency_p50_s": report.median(walls),
        "latency_tail_s": report.percentile(walls, TAIL_PCT),
        "stored_bytes_per_turn": stored / wl.warehouse_turns(),
    }
    metrics_e2e = {k: (values[k], u) for k, u in E2E.items()}
    failed = sum(not o.ok for o in ops)
    for o in ops:
        if not o.ok:
            print(f"FAILED {o.kind}: {o.error}", file=sys.stderr)
    print(f"peak_rss_mb={peak_mb:.1f} processes={rss.peak_procs} "
          f"jvm_mb={rss.peak_jvm / 2**20:.1f}")
    report.print_summary(args, ops, metrics_e2e, session_s, wl, TAIL_PCT)
    if args.trace:
        spans_path = OUT / f"spans-{args.workload}-{args.seed}.jsonl"
        tracer.dump(spans_path)
        metrics = report.layer_metrics(
            wl, ops, tracer, event_dir, session_s, peak_mb, args.seed)
        print(f"spans: {spans_path}")
    else:
        metrics = metrics_e2e
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u}
                    for k, (v, u) in metrics.items()},
    }
    print(json.dumps(result))
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
