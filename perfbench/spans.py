"""Spans around calls into the package, with Spark jobs attributed to them.

Everything here sits outside the package. A span tags the Spark jobs its
call launches with a job group of its own (restoring its parent's on exit)
and, on exit, reads the job and stage records of that group from the
driver's ``AppStatusStore``. Spans stay in memory until the run writes them
out. ``Traced`` wraps one of the Orchestrator's injected collaborators so
that each public method call becomes a span.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

SPAN_COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_bytes", "spill_bytes", "input_bytes",
)


class Tracer:
    """Records spans when ``enabled``; otherwise every span is a no-op, so
    traced and untraced code paths make the same package calls."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next_id = 0
        # wall time spent in the tracer's own bookkeeping (job-group calls,
        # listener-bus drain, status-store reads, ``after`` hooks): the
        # tracing overhead
        self.overhead_s = 0.0

    @contextmanager
    def span(self, layer: str, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        self._next_id += 1
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": self._next_id,
            "parent": parent["id"] if parent else None,
            "layer": layer,
            "name": name,
            "group": f"perfbench-span-{self._next_id}",
            "children": [],
            **attrs,
        }
        entered = time.time()
        t0 = time.perf_counter()
        self._stack.append(rec)
        self.sc.setJobGroup(rec["group"], f"{layer}.{name}", False)
        self.overhead_s += time.perf_counter() - t0
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            t0 = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                self.sc.setJobGroup(
                    parent["group"], f"{parent['layer']}.{parent['name']}", False
                )
            else:
                self.sc._jsc.clearJobGroup()
            self._collect(rec)
            self.spans.append(rec)
            if parent is not None:
                # the parent's self time leaves out this span and the
                # tracer's bookkeeping around it
                parent["children"].append((entered, time.time()))
            self.overhead_s += time.perf_counter() - t0

    def after(self, fn) -> None:
        """Run ``fn()``, benchmark bookkeeping that follows a closed span
        (counting files, sizing a commit), as tracing overhead: outside
        every span, so no layer is charged for it."""
        t0 = time.perf_counter()
        fn()
        self.overhead_s += time.perf_counter() - t0

    def _collect(self, rec: dict) -> None:
        """Attach the span's own jobs' counters and its self/driver time."""
        jsc = self.sc._jsc.sc()
        # job-end events reach the status store through the async listener
        # bus; drain it so the last job's stages are complete
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        counters = dict.fromkeys(SPAN_COUNTERS, 0)
        intervals = []
        seen_stages: set[int] = set()
        for jid in self.sc.statusTracker().getJobIdsForGroup(rec["group"]):
            job = store.job(jid)
            counters["jobs"] += 1
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined():
                end = done.get().getTime() / 1e3 if done.isDefined() else rec["end"]
                intervals.append((sub.get().getTime() / 1e3, end))
            ids = job.stageIds()
            for i in range(ids.length()):
                sid = ids.apply(i)
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = store.lastStageAttempt(sid)
                if str(st.status()) == "SKIPPED":  # shuffle output reused
                    continue
                counters["stages"] += 1
                counters["tasks"] += st.numCompleteTasks()
                counters["executor_run_s"] += st.executorRunTime() / 1e3
                counters["executor_cpu_s"] += st.executorCpuTime() / 1e9
                counters["shuffle_write_bytes"] += st.shuffleWriteBytes()
                counters["spill_bytes"] += (
                    st.memoryBytesSpilled() + st.diskBytesSpilled()
                )
                counters["input_bytes"] += st.inputBytes()
        rec.update(counters)
        dur = rec["end"] - rec["start"]
        rec["time_s"] = dur
        children = rec["children"]
        rec["self_s"] = dur - _covered(children, rec["start"], rec["end"])
        rec["driver_s"] = dur - _covered(
            children + intervals, rec["start"], rec["end"]
        )
        del rec["children"]


def _covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Traced:
    """Delegating proxy: every method call on the wrapped object runs inside
    a ``layer`` span named after the method. ``after(name, args, kwargs,
    span)`` may add attributes once the span has closed."""

    def __init__(self, target, tracer: Tracer, layer: str, after=None):
        self._target = target
        self._tracer = tracer
        self._layer = layer
        self._after = after

    def __getattr__(self, name):
        attr = getattr(self._target, name)
        if not callable(attr) or name.startswith("_"):
            return attr

        def call(*args, **kwargs):
            with self._tracer.span(self._layer, name) as rec:
                out = attr(*args, **kwargs)
            if self._after is not None and rec is not None:
                self._tracer.after(lambda: self._after(name, args, kwargs, rec))
            return out

        return call


def layer_totals(spans: list[dict], layer: str, names=None) -> dict:
    """Sum of span fields over one layer (optionally only some method
    names); ``calls`` is the span count."""
    out = dict.fromkeys(
        ("calls", "time_s", "self_s", "driver_s", *SPAN_COUNTERS), 0
    )
    for s in spans:
        if s["layer"] != layer or (names is not None and s["name"] not in names):
            continue
        out["calls"] += 1
        for k in ("time_s", "self_s", "driver_s", *SPAN_COUNTERS):
            out[k] += s.get(k, 0)
        for k, v in s.items():
            if k.startswith("x_"):
                out[k] = out.get(k, 0) + v
    return out
