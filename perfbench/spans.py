"""Span tracer for the traced run.

Spans are recorded from the benchmark's own process, around calls into
each module's public functions: the benchmark replaces those attributes
with wrappers for the run and puts the originals back afterwards. The
engine's source is not touched.

Each span holds ``id, name, parent, op, start, end`` (seconds on the
run's monotonic clock) and, for table writes, the table name and the
files and bytes it created or replaced. While a span is open the
thread's Spark job group is ``perfbench-<id>``, so the event log ties
every Spark job to the innermost span that started it.

The tracer times its own work per operation (span records, job-group
calls, file listings) in ``cost``: a cold build cannot run twice in one
JVM, so its traced and untraced walls never share a run. Spark's cost
of writing the event log is not in it.
"""

from __future__ import annotations

import functools
import json
import os
import time
from contextlib import contextmanager
from pathlib import Path

JOB_GROUP_KEY = "spark.jobGroup.id"
GROUP_PREFIX = "perfbench-"


def snapshot(root: str) -> dict[str, tuple[int, int, int]]:
    """path -> (size, mtime_ns, inode) of every file under root."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            out[p] = (st.st_size, st.st_mtime_ns, st.st_ino)
    return out


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) created or replaced between two snapshots."""
    changed = [p for p, sig in after.items() if before.get(p) != sig]
    return len(changed), sum(after[p][0] for p in changed)


class Tracer:
    def __init__(self, spark_context):
        self.sc = spark_context
        self.spans: list[dict] = []
        self.enabled = False
        self.op: int | None = None
        self.cost: dict[int | None, float] = {}
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self._t0 = time.monotonic()

    def now(self) -> float:
        return time.monotonic() - self._t0

    def _charge(self, t0: float) -> None:
        self.cost[self.op] = (self.cost.get(self.op, 0.0)
                              + time.perf_counter() - t0)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t = time.perf_counter()
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "op": self.op, "start": self.now(), **attrs}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        prev = self.sc.getLocalProperty(JOB_GROUP_KEY)
        self.sc.setLocalProperty(JOB_GROUP_KEY, f"{GROUP_PREFIX}{rec['id']}")
        self._charge(t)
        try:
            yield rec
        finally:
            t = time.perf_counter()
            rec["end"] = self.now()
            self._stack.pop()
            self.sc.setLocalProperty(JOB_GROUP_KEY, prev)
            self._charge(t)

    def wrap(self, owner, attr: str, name: str) -> None:
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name):
                return orig(*args, **kwargs)

        self._install(owner, attr, orig, traced)

    def wrap_table_write(self, owner, attr: str, name: str) -> None:
        """Wrap a ``TableIO`` method ``(self, df, table, ...)``: the span
        also records the files and bytes the call created or replaced."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def traced(io, df, table, *args, **kwargs):
            with self.span(name, table=table) as rec:
                if rec is None:
                    return orig(io, df, table, *args, **kwargs)
                t = time.perf_counter()
                before = snapshot(io.path(table))
                self._charge(t)
                result = orig(io, df, table, *args, **kwargs)
                t = time.perf_counter()
                rec["files"], rec["bytes"] = written(
                    before, snapshot(io.path(table)))
                self._charge(t)
                return result

        self._install(owner, attr, orig, traced)

    def wrap_context(self, owner, attr: str, prefix: str) -> None:
        """Wrap a context-manager class ``(ledger, run_id, stage)`` (the
        pipeline's ``StageTimer``) so each ``with`` block is a span."""
        orig = getattr(owner, attr)
        tracer = self

        class Traced(orig):
            def __enter__(self):
                self._span = tracer.span(f"{prefix}{self.stage}")
                self._span.__enter__()
                return super().__enter__()

            def __exit__(self, *exc):
                try:
                    return super().__exit__(*exc)
                finally:
                    self._span.__exit__(*exc)

        self._install(owner, attr, orig, Traced)

    def _install(self, owner, attr, orig, new) -> None:
        self._patched.append((owner, attr, orig))
        setattr(owner, attr, new)

    def restore(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            setattr(owner, attr, orig)
        self._patched.clear()

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec, default=str) + "\n")


def instrument(tracer: Tracer) -> None:
    """Wrap the public calls of TableIO, Ledger and the operators that
    ``plans.pipeline`` imports."""
    from cesium_spark.plans import ledger, pipeline
    from cesium_spark.sources.table_io import TableIO

    tracer.wrap_table_write(TableIO, "write", "table_io.write")
    tracer.wrap_table_write(TableIO, "merge_overwrite_partitions",
                            "table_io.merge")
    for attr in ("pending", "record_done", "record_metric"):
        tracer.wrap(ledger.Ledger, attr, f"ledger.{attr}")
    for attr, name in (("derive_series", "derive.derive_series"),
                       ("rollup_features", "rollup.rollup_features"),
                       ("encode_chunks", "codec.encode_chunks"),
                       ("compression_metrics", "codec.compression_metrics"),
                       ("content_checksum", "ledger.content_checksum")):
        tracer.wrap(pipeline, attr, name)
    tracer.wrap_context(pipeline, "StageTimer", "stage.")
