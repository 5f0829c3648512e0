"""Traced run: spans around the package's public functions, Spark job
groups per span, and an event-log roll-up into per-layer metrics.

Nothing here edits the package. ``Tracer.wrap`` replaces a function on
its defining module AND on every loaded package module that imported it
by name (``extract.py`` binds ``doc_frame``/``write_json_lines``/
``batch_key_columns`` at import), so a call is traced wherever it is made.

Each span sets the Spark job group to its own id for its duration and
restores the caller's group on exit, so every Spark job is attributed to
the innermost span active when it was submitted. Spans stay in memory
(name, start, end, parent, run id) until the run ends.

Self time of a span = its duration minus the union of its direct
children's intervals. Spark metrics of a span are those of the jobs
submitted while it was the innermost span.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

SPARK_FIELDS = (
    "jobs", "stages", "tasks", "executor_cpu_s", "executor_run_s",
    "jvm_gc_s", "shuffle_bytes", "spill_bytes",
)


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    run_id: str
    start: float
    end: float = 0.0
    counts: dict = field(default_factory=dict)


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._ids = itertools.count(1)
        self._patched: list[tuple[object, str, object]] = []
        # time spent in this module's own bookkeeping, for trace.bookkeeping_frac
        self.bookkeeping_s = 0.0

    # -- spans ---------------------------------------------------------

    def _group(self, span: Span | None) -> str | None:
        return None if span is None else f"span:{span.id}"

    def begin(self, name: str) -> Span:
        t = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        span = Span(next(self._ids), name, parent.id if parent else None, self.run_id, 0.0)
        self.spans.append(span)
        self._stack.append(span)
        self.sc.setLocalProperty("spark.jobGroup.id", self._group(span))
        self.sc.setLocalProperty("spark.job.description", name)
        span.start = time.perf_counter()
        self.bookkeeping_s += span.start - t
        return span

    def end(self, span: Span) -> None:
        span.end = time.perf_counter()
        self._stack.pop()
        parent = self._stack[-1] if self._stack else None
        self.sc.setLocalProperty("spark.jobGroup.id", self._group(parent))
        self.sc.setLocalProperty("spark.job.description", parent.name if parent else None)
        self.bookkeeping_s += time.perf_counter() - span.end

    @contextmanager
    def span(self, name: str):
        s = self.begin(name)
        try:
            yield s
        finally:
            self.end(s)

    # -- wrapping ------------------------------------------------------

    def _traced(self, fn, name: str, after=None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            s = self.begin(name)
            try:
                out = fn(*args, **kwargs)
            finally:
                self.end(s)
            if after is not None:
                t = time.perf_counter()
                after(s, args, kwargs, out)
                self.bookkeeping_s += time.perf_counter() - t
            return out

        return wrapper

    def wrap(self, module, attr: str, name: str, after=None) -> None:
        """Trace ``module.attr`` everywhere the package bound it by name."""
        orig = getattr(module, attr)
        traced = self._traced(orig, name, after)
        for mod in list(sys.modules.values()):
            if mod is None or not getattr(mod, "__name__", "").startswith("mysql_to_s3_spark"):
                continue
            if getattr(mod, attr, None) is orig:
                self._patched.append((mod, attr, orig))
                setattr(mod, attr, traced)

    def wrap_method(self, cls, attr: str, name: str) -> None:
        raw = cls.__dict__[attr]
        if isinstance(raw, classmethod):
            traced = classmethod(self._traced(raw.__func__, name))
        else:
            traced = self._traced(raw, name)
        self._patched.append((cls, attr, raw))
        setattr(cls, attr, traced)

    def unwrap(self) -> None:
        for obj, attr, orig in reversed(self._patched):
            setattr(obj, attr, orig)
        self._patched.clear()

    # -- roll-up -------------------------------------------------------

    def rollup(self, event_log_dir: str) -> dict[str, float]:
        """Per-span-name metrics: calls/wall_s/self_s from the spans, Spark
        metrics from the event log, plus every counter a span recorded."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        spark = read_event_log(event_log_dir)
        out: dict[str, float] = {}

        def add(key: str, v: float) -> None:
            out[key] = out.get(key, 0.0) + v

        for s in self.spans:
            wall = s.end - s.start
            add(f"{s.name}.calls", 1)
            add(f"{s.name}.wall_s", wall)
            add(f"{s.name}.self_s", wall - _covered([(c.start, c.end) for c in children.get(s.id, [])]))
            for k, v in s.counts.items():
                add(f"{s.name}.{k}", v)
            for k, v in spark.get(f"span:{s.id}", {}).items():
                add(f"{s.name}.{k}", v)
        return out


def _covered(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(event_log_dir: str) -> dict[str, dict[str, float]]:
    """Job group -> summed Spark metrics from an uncompressed event log."""
    stage_group: dict[int, str] = {}
    out: dict[str, dict[str, float]] = {}

    def acc(group: str, key: str, v: float) -> None:
        g = out.setdefault(group, {k: 0.0 for k in SPARK_FIELDS})
        g[key] += v

    # Spark 4 writes a rolling log: eventlog_v2_<app>/events_<n>_<app>
    paths = sorted(
        glob.glob(os.path.join(event_log_dir, "**", "events_*"), recursive=True),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if not group:
                        continue
                    acc(group, "jobs", 1)
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_group and ev["Stage Info"].get("Submission Time"):
                        acc(stage_group[sid], "stages", 1)
                elif kind == "SparkListenerTaskEnd":
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    acc(group, "tasks", 1)
                    acc(group, "executor_cpu_s", m.get("Executor CPU Time", 0) / 1e9)
                    acc(group, "executor_run_s", m.get("Executor Run Time", 0) / 1e3)
                    acc(group, "jvm_gc_s", m.get("JVM GC Time", 0) / 1e3)
                    sw = m.get("Shuffle Write Metrics") or {}
                    acc(group, "shuffle_bytes", sw.get("Shuffle Bytes Written", 0))
                    acc(group, "spill_bytes", m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0))
    return out


def dir_bytes(path: str) -> tuple[int, int]:
    """(bytes, data files) under ``path``, skipping Hadoop's hidden and
    underscore-prefixed side files."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for fn in files:
            if fn.startswith((".", "_")):
                continue
            n_bytes += os.path.getsize(os.path.join(root, fn))
            n_files += 1
    return n_bytes, n_files
