"""Human-readable summary and the traced run's per-layer metrics."""

from __future__ import annotations

from collections import defaultdict
from pathlib import Path

import eventlog
import probe
from spans import GROUP_PREFIX

STAGES = ("derive", "rollup_1m", "rollup_1h", "rollup_1d", "compress")
QUERY_KINDS = ("tier_wide", "m4", "gapfill", "fold", "decode", "conv_ls")


def percentile(values: list[float], pct: float) -> float:
    """Linear-interpolated percentile; 0.0 when there is no value."""
    v = sorted(values)
    if not v:
        return 0.0
    pos = (len(v) - 1) * pct / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def median(values: list[float]) -> float:
    return percentile(values, 50)


def print_summary(args, ops, e2e, session_s, wl, tail_pct) -> None:
    """Every end-to-end figure by name and unit, including the ones
    that are not BENCHMARK.json metrics (turns_per_s on backfill) and
    fail_ratio."""
    ok = [o for o in ops if o.ok]
    lines = [f"workload={args.workload} seed={args.seed} "
             f"trace={args.trace} ops={len(ops)} ok={len(ok)} "
             f"tail=p{tail_pct} session_start_s={session_s:.3f} "
             + " ".join(f"{k}_s={v:.3f}" for k, v in wl.phases.items())]
    lines.append("  op_walls_s " + " ".join(f"{o.wall:.3f}" for o in ops))
    for o in ops:
        if o.report:
            lines.append("  stages_ms " + " ".join(
                f"{k}={v}" for k, v in o.report["stages"].items()))
    for name, (value, unit) in e2e.items():
        lines.append(f"  {name:<24} {value:14.4f} {unit}")
    p50 = e2e["latency_p50_s"][0]
    if args.workload == "backfill" and ok:
        turns = ok[0].turns
        lines.append(f"  {'turns_per_s':<24} {turns / p50:14.4f} turns/s")
    if args.workload == "dashboard":
        for kind in QUERY_KINDS:
            walls = query_walls(ok, kind)
            lines.append(f"  q.{kind + '_s':<22} {median(walls):14.4f} s"
                         f"  (n={len(walls)})")
    fails = sum(not o.ok for o in ops)
    lines.append(f"  {'fail_ratio':<24} {fails / max(1, len(ops)):14.4f} "
                 f"({fails}/{len(ops)})")
    print("\n".join(lines))


def query_walls(ops, kind: str) -> list[float]:
    return [w for o in ops for k, w in o.info.get("queries", []) if k == kind]


def _subtree(spans: list[dict], root: int) -> list[dict]:
    children = defaultdict(list)
    for s in spans:
        children[s["parent"]].append(s)
    out, todo = [], [root]
    while todo:
        sid = todo.pop()
        out.append(spans[sid])
        todo.extend(c["id"] for c in children[sid])
    return out


def _ancestors(spans: list[dict], s: dict):
    while s["parent"] is not None:
        s = spans[s["parent"]]
        yield s


def _stats(groups: dict, spans: list[dict]) -> eventlog.GroupStats:
    """Event-log totals of the Spark jobs the given spans started."""
    keys = [f"{GROUP_PREFIX}{s['id']}" for s in spans]
    return eventlog.merge([groups[k] for k in keys if k in groups])


def _op_metrics(op, root: dict, spans: list[dict],
                groups: dict) -> dict[str, float]:
    tree = _subtree(spans, root["id"])
    dur = defaultdict(float)
    calls = defaultdict(int)
    for s in tree:
        dur[s["name"]] += s["end"] - s["start"]
        calls[s["name"]] += 1
    io = [s for s in tree if s["name"].startswith("table_io.")]
    stats = _stats(groups, tree)
    tot = stats.totals
    m = {}
    stages = (op.report or {}).get("stages", {})
    for st in STAGES:
        v = stages.get(st)
        m[f"stage.{st}_s"] = v / 1000.0 if isinstance(v, (int, float)) else 0.0
    m["pipeline.spark_jobs"] = float(stats.jobs) if op.report else 0.0
    m["ledger.pending_s"] = dur["ledger.pending"]
    m["ledger.record_done_s"] = dur["ledger.record_done"]
    m["ledger.record_metric_s"] = dur["ledger.record_metric"]
    m["ledger.record_metric_calls"] = float(calls["ledger.record_metric"])
    m["ledger.files_written"] = float(sum(
        s.get("files", 0) for s in io
        if any(a["name"].startswith("ledger.") for a in _ancestors(spans, s))))
    m["table_io.write_s"] = dur["table_io.write"]
    m["table_io.merge_s"] = dur["table_io.merge"]
    m["table_io.files_written"] = float(sum(s.get("files", 0) for s in io))
    m["table_io.bytes_written"] = float(sum(s.get("bytes", 0) for s in io))
    m["derive.rows_out"] = float(op.info.get("series_rows", 0))
    m["derive.self_s"] = dur["derive.derive_series"]
    windows = op.info.get("windows", 0)
    m["rollup.windows_out"] = float(windows)
    # in_count is the stage's whole input, repeated on each of its units
    in_rows = {u["stage"]: u["in_count"] for u in op.info.get("units", [])
               if u["stage"].startswith("rollup_")}
    m["rollup.rows_per_window"] = (sum(in_rows.values()) / windows
                                   if windows else 0.0)
    m["python.run_s"] = tot["python_run_ms"] / 1e3
    m["python.boot_s"] = tot["python_boot_ms"] / 1e3
    m["python.init_s"] = tot["python_init_ms"] / 1e3
    m["python.sent_bytes"] = tot["python_sent_bytes"]
    m["python.received_bytes"] = tot["python_received_bytes"]
    m["codec.encode_s"] = sum(s["end"] - s["start"] for s in io
                              if s.get("table") == "chunks")
    decode = _stats(groups, [s for d in tree if d["name"] == "q.decode"
                             for s in _subtree(spans, d["id"])])
    m["codec.decode_s"] = decode.totals["python_run_ms"] / 1e3
    m["spark.shuffle_write_bytes"] = tot["shuffle_write_bytes"]
    m["spark.shuffle_read_bytes"] = tot["shuffle_read_bytes"]
    m["spark.spill_bytes"] = tot["spill_bytes"]
    m["spark.task_skew"] = eventlog.task_skew(stats)
    m["spark.executor_run_s"] = tot["run_ms"] / 1e3
    m["spark.executor_cpu_s"] = tot["cpu_ns"] / 1e9
    m["spark.gc_s"] = tot["gc_ms"] / 1e3
    return m


# every per-layer metric of a traced run, in output order, with its unit
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "memory.peak_rss_mb": "MB",
    **{f"stage.{st}_s": "s" for st in STAGES},
    "pipeline.spark_jobs": "count",
    "ledger.pending_s": "s", "ledger.record_done_s": "s",
    "ledger.record_metric_s": "s", "ledger.record_metric_calls": "count",
    "ledger.files_written": "count",
    "table_io.write_s": "s", "table_io.merge_s": "s",
    "table_io.files_written": "count", "table_io.bytes_written": "B",
    "derive.rows_out": "count", "derive.self_s": "s",
    "rollup.windows_out": "count", "rollup.rows_per_window": "rows",
    "kernel.windows_per_s.minute": "1/s", "kernel.windows_per_s.conv": "1/s",
    "python.run_s": "s", "python.boot_s": "s", "python.init_s": "s",
    "python.sent_bytes": "B", "python.received_bytes": "B",
    "arrow_stream.rows_per_s": "1/s",
    "codec.encode_s": "s", "codec.decode_s": "s",
    "codec.bytes_per_point.ts": "B", "codec.bytes_per_point.idx": "B",
    "codec.bytes_per_point.y": "B",
    **{f"q.{kind}_s": "s" for kind in QUERY_KINDS},
    "spark.shuffle_write_bytes": "B", "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B", "spark.task_skew": "ratio",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "trace.overhead_s": "s",
}


def layer_metrics(wl, ops, tracer, event_dir: Path, session_s: float,
                  peak_rss_mb: float, seed: int
                  ) -> dict[str, tuple[float, str]]:
    [log] = list(event_dir.iterdir())
    groups = eventlog.parse_file(log)
    spans = tracer.spans
    roots = {s["op"]: s for s in spans if s["parent"] is None
             and s["op"] is not None}
    traced = [i for i, o in enumerate(ops) if o.ok and i in roots]
    per_op = [_op_metrics(ops[i], roots[i], spans, groups) for i in traced]
    m: dict[str, float] = {"session.start_s": session_s,
                           "session.warmup_s": wl.phases.get("warmup", 0.0),
                           "memory.peak_rss_mb": peak_rss_mb}
    # median over operations: a build or a dashboard refresh
    for key in (per_op[0] if per_op else {}):
        m[key] = median([p[key] for p in per_op])
    comp = (wl.report or {}).get("compression", {})
    for kind in ("ts", "idx", "y"):
        m[f"codec.bytes_per_point.{kind}"] = comp.get(kind, {}).get(
            "bytes_per_point", 0.0)
    for kind in QUERY_KINDS:
        m[f"q.{kind}_s"] = median(query_walls([ops[i] for i in traced],
                                               kind))
    m.update(probe.kernel_rates(seed))
    m["trace.overhead_s"] = median([tracer.cost.get(i, 0.0)
                                     for i in traced])
    return {k: (m.get(k, 0.0), u) for k, u in PER_LAYER.items()}
