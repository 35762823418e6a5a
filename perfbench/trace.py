"""Spans around the calls into each layer, and their per-layer metrics.

A traced call patches the module attributes through which the library calls
its layers (for example ``biblib_spark.operators.dedupe.candidate_pairs``)
with wrappers that open a span and set a Spark job group named after it, so
every job a layer submits carries its span's id into the event log. The
patches are undone when the call ends.

Spark plans lazily: ``candidate_pairs`` returns a plan and its jobs would run
later, inside whichever layer first forces it. Wrappers of lazy layers
therefore end with a *barrier* that writes the layer's output to parquet and
hands the re-read table downstream, so each layer's work runs inside its own
span. The barrier writes and the changed plans are part of the traced run's
cost, reported as ``trace.overhead_s``.

Spans stay in memory; the per-layer table is computed once the session has
stopped and its event log is complete. A layer's self time is its spans'
duration minus the part covered by child spans.
"""

from __future__ import annotations

import contextlib
import functools
import os
import time
from dataclasses import dataclass, field

from perfbench.eventlog import Job, Stage

GROUP_PREFIX = "perfbench:"

#: layers in report order; the first three cross the JVM<->Python boundary
PY_LAYERS = ("dedupe", "verify", "sources")
LAYERS = ("dedupe", "candidates", "verify", "components", "election", "sources", "checkpoint")
LAYER_FIELDS = (
    "wall_s", "task_cpu_s", "busy_frac", "gc_s", "shuffle_write_mb",
    "shuffle_read_mb", "fetch_wait_s", "spill_mb", "tasks", "jobs", "driver_gap_s",
)
PY_FIELDS = ("py_in_mb", "py_out_mb", "py_run_s", "py_start_s")
MB = float(1 << 20)


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0
    children: list[int] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"{GROUP_PREFIX}{self.sid}"


class Tracer:
    """Records spans, sets one Spark job group per span, places barriers."""

    def __init__(self, spark, barrier_dir: str):
        self.spark = spark
        self.sc = spark.sparkContext
        self.barrier_dir = barrier_dir
        self.spans: list[Span] = []
        self.outputs: dict[str, list[str]] = {}  # layer -> parquet dirs
        self.inputs: dict[str, tuple] = {}  # layer -> last call's arguments
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent, time.time())
        self.spans.append(s)
        if parent is not None:
            self.spans[parent].children.append(s.sid)
        self._stack.append(s.sid)
        self.sc.setJobGroup(s.group, name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                top = self.spans[self._stack[-1]]
                self.sc.setJobGroup(top.group, top.name)
            else:
                self.sc.setJobGroup(f"{GROUP_PREFIX}post", "after traced calls")

    def barrier(self, layer: str, df):
        path = os.path.join(self.barrier_dir, f"{layer}-{len(self.spans)}")
        df.write.mode("overwrite").parquet(path)
        self.outputs.setdefault(layer, []).append(path)
        return self.spark.read.parquet(path)

    def _wrap(self, fn, layer: str, output: str | None):
        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            self.inputs[layer] = args
            with self.span(layer):
                out = fn(*args, **kwargs)
                if output == "barrier":
                    out = self.barrier(layer, out)
                elif output == "spill":  # (DataFrame, parquet dir) already written
                    self.outputs.setdefault(layer, []).append(out[1])
            return out

        return wrapper

    @contextlib.contextmanager
    def patched(self, targets):
        """``targets``: (module, attribute, layer, output) with output one of
        None (eager or pass-through), "barrier" or "spill"."""
        saved = []
        try:
            for module, attr, layer, output in targets:
                fn = getattr(module, attr)
                saved.append((module, attr, fn))
                setattr(module, attr, self._wrap(fn, layer, output))
            yield self
        finally:
            for module, attr, fn in reversed(saved):
                setattr(module, attr, fn)


def _union(intervals):
    out: list[list[float]] = []
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return out


def _measure(union) -> float:
    return sum(b - a for a, b in union)


def _overlap(u, v) -> float:
    """Measure of the intersection of two disjoint-sorted interval lists."""
    total, i, j = 0.0, 0, 0
    while i < len(u) and j < len(v):
        lo, hi = max(u[i][0], v[j][0]), min(u[i][1], v[j][1])
        total += max(0.0, hi - lo)
        if u[i][1] < v[j][1]:
            i += 1
        else:
            j += 1
    return total


def self_time(span: Span, spans: list[Span]) -> float:
    kids = _union(
        (max(spans[c].start, span.start), min(spans[c].end, span.end))
        for c in span.children
    )
    return (span.end - span.start) - _measure(kids)


def layer_metrics(spans: list[Span], stages: list[Stage], jobs: list[Job], cores: int) -> dict:
    """``<layer>.<field>`` for every layer in LAYERS (zero where a layer did
    not run) plus the root spans' uncovered remainder and total wall."""
    by_group = {s.group: s for s in spans}
    own_stages: dict[int, list[Stage]] = {}
    for st in stages:
        span = by_group.get(st.group)
        if span is not None:
            own_stages.setdefault(span.sid, []).append(st)
    job_count: dict[int, int] = {}
    for j in jobs:
        span = by_group.get(j.group)
        if span is not None:
            job_count[span.sid] = job_count.get(span.sid, 0) + 1

    out: dict[str, float] = {}
    for layer in LAYERS:
        acc = dict.fromkeys(LAYER_FIELDS + (PY_FIELDS if layer in PY_LAYERS else ()), 0.0)
        run_s = 0.0
        for span in (s for s in spans if s.name == layer):
            sts = own_stages.get(span.sid, [])
            self_s = self_time(span, spans)
            acc["wall_s"] += self_s
            acc["jobs"] += job_count.get(span.sid, 0)
            busy = _union(
                (max(st.submit_s, span.start), min(st.complete_s, span.end)) for st in sts
            )
            kids = _union((spans[c].start, spans[c].end) for c in span.children)
            acc["driver_gap_s"] += max(0.0, self_s - (_measure(busy) - _overlap(busy, kids)))
            for st in sts:
                run_s += st.get("internal.metrics.executorRunTime") / 1e3
                acc["tasks"] += st.tasks
                acc["task_cpu_s"] += st.get("internal.metrics.executorCpuTime") / 1e9
                acc["gc_s"] += st.get("internal.metrics.jvmGCTime") / 1e3
                acc["shuffle_write_mb"] += st.get("internal.metrics.shuffle.write.bytesWritten") / MB
                acc["shuffle_read_mb"] += (
                    st.get("internal.metrics.shuffle.read.localBytesRead")
                    + st.get("internal.metrics.shuffle.read.remoteBytesRead")
                ) / MB
                acc["fetch_wait_s"] += st.get("internal.metrics.shuffle.read.fetchWaitTime") / 1e3
                acc["spill_mb"] += st.get("spill size") / MB
                if layer in PY_LAYERS:
                    acc["py_in_mb"] += st.get("data sent to Python workers") / MB
                    acc["py_out_mb"] += st.get("data returned from Python workers") / MB
                    acc["py_run_s"] += st.get("time to run Python workers") / 1e3
                    acc["py_start_s"] += (
                        st.get("time to start Python workers")
                        + st.get("time to initialize Python workers")
                    ) / 1e3
        acc["busy_frac"] = run_s / (acc["wall_s"] * cores) if acc["wall_s"] > 0 else 0.0
        for k, v in acc.items():
            out[f"{layer}.{k}"] = v

    roots = [s for s in spans if s.parent is None]
    out["trace.wall_s"] = sum(s.end - s.start for s in roots)
    out["trace.uncovered_s"] = sum(self_time(s, spans) for s in roots)
    return out
