"""Spans around the calls the benchmark makes into each layer, and the
Spark work each op caused, read from Spark's status tracker and status
store. Everything is recorded from outside the package: module
functions the package calls internally are wrapped for the traced run
and restored afterwards.

Every timed op runs under its own Spark job group, traced or not. With
tracing off the benchmark uses ``NullTracer``: spans are empty contexts
and no statistics are read."""

from __future__ import annotations

import contextlib
import functools
import statistics
import time
from collections import defaultdict


class NullTracer:
    enabled = False

    def span(self, name: str):
        return contextlib.nullcontext()

    def op(self, group: str, op_id: int, kind: str):
        return contextlib.nullcontext()

    def count(self, name: str, value: float = 1.0) -> None:
        pass

    def restore(self) -> None:
        pass


class Tracer:
    """Spans are ``(name, start, end, parent, op_id)`` tuples kept in
    memory; ``parent`` is the index of the enclosing span. Per-op Spark
    statistics come from the op's job group, which the caller sets."""

    enabled = True

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[list] = []
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.op_stats: list[dict] = []
        self._stack: list[int] = []
        self._op_id: int | None = None
        self._patched: list[tuple] = []

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        idx = len(self.spans)
        self.spans.append([name, time.perf_counter(), None, parent, self._op_id])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def count(self, name: str, value: float = 1.0) -> None:
        """Record one sample of a counter at a layer boundary."""
        self.samples[name].append(value)

    @contextlib.contextmanager
    def op(self, group: str, op_id: int, kind: str):
        """Trace one timed op that runs under the Spark job group
        ``group``."""
        self._op_id = op_id
        t0 = time.time()
        try:
            with self.span(f"op.{kind}"):
                yield
        finally:
            t1 = time.time()
            self._op_id = None
            s = group_stats(self.spark, group, t0, t1)
            s["kind"] = kind
            self.op_stats.append(s)

    def wrap(self, module, attr: str, name: str, on_result=None) -> None:
        """Replace ``module.attr`` with a version that runs inside a
        span named ``name``; ``on_result(result, args, kwargs)`` may
        record counters from what the call returned."""
        original = getattr(module, attr)

        @functools.wraps(original)
        def traced(*args, **kwargs):
            with self.span(name):
                result = original(*args, **kwargs)
            if on_result is not None:
                on_result(result, args, kwargs)
            return result

        setattr(module, attr, traced)
        self._patched.append((module, attr, original))

    def restore(self) -> None:
        for module, attr, original in reversed(self._patched):
            setattr(module, attr, original)
        self._patched.clear()

    # --- summaries ------------------------------------------------------

    def durations(self, name: str) -> list[float]:
        return [e - s for n, s, e, _, op in self.spans if n == name and op is not None]

    def calls_per_op(self, name: str) -> float:
        ops = sum(1 for sp in self.spans if sp[0].startswith("op.") and sp[4] is not None)
        return len(self.durations(name)) / ops if ops else 0.0

    def median_s(self, name: str) -> float:
        d = self.durations(name)
        return statistics.median(d) if d else 0.0

    def self_times(self) -> dict[str, float]:
        """Total self time per span name: each span's duration minus the
        part of it its child spans cover."""
        child_cover = defaultdict(list)
        for name, s, e, parent, _ in self.spans:
            if parent is not None:
                child_cover[parent].append((s, e))
        out = defaultdict(float)
        for i, (name, s, e, _, _) in enumerate(self.spans):
            out[name] += (e - s) - _union_length(child_cover[i])
        return dict(out)

    def per_op(self, key: str) -> float:
        vals = [st.get(key, 0.0) for st in self.op_stats]
        return statistics.fmean(vals) if vals else 0.0

    def mean(self, name: str) -> float:
        vals = self.samples.get(name)
        return statistics.fmean(vals) if vals else 0.0

    def dump(self) -> dict:
        return {
            "spans": [
                {"name": n, "start": s, "end": e, "parent": p, "op_id": op}
                for n, s, e, p, op in self.spans
            ],
            "self_time_s": self.self_times(),
            "op_stats": self.op_stats,
        }


def group_stats(spark, group: str, t0: float = 0.0, t1: float = 0.0) -> dict:
    """The Spark work of the jobs of one job group, summed over their
    stages from the status store. With the op's wall-clock bounds
    ``t0``/``t1`` (epoch seconds) it also gives ``driver_s``, the op's
    time outside any job."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    s = defaultdict(float)
    intervals = []
    for jid in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        s["jobs"] += 1
        job = store.job(jid)
        if job.submissionTime().isDefined():
            start = job.submissionTime().get().getTime() / 1000.0
            end = (
                job.completionTime().get().getTime() / 1000.0
                if job.completionTime().isDefined()
                else t1
            )
            intervals.append((max(start, t0), min(end, t1)))
        for sid in info.stageIds:
            st = store.lastStageAttempt(sid)
            s["stages"] += 1
            s["tasks"] += st.numTasks()
            s["executor_run_s"] += st.executorRunTime() / 1e3
            s["executor_cpu_s"] += st.executorCpuTime() / 1e9
            s["input_bytes"] += st.inputBytes()
            s["shuffle_write_bytes"] += st.shuffleWriteBytes()
            s["shuffle_read_bytes"] += st.shuffleReadBytes()
            s["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            s["gc_s"] += st.jvmGcTime() / 1e3
    if t1 > t0:
        s["wall_s"] = t1 - t0
        s["driver_s"] = max(0.0, s["wall_s"] - _union_length(intervals))
    return dict(s)


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
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
