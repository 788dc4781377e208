"""Span tracing and Spark counters for the traced run.

``Tracer.wrap(owner, attr, name)`` replaces a public function or method of
the engine with a wrapper that records a span (name, start, end, parent)
around each call. Spans stay in memory; ``self_times`` subtracts each span's
children from its duration. The wrappers are installed only in the traced
run, so end-to-end metrics are measured with tracing off.

``SparkCounters`` tags each operation with a job group and afterwards reads
job, stage and task counts from the status tracker, and executor run time,
CPU time and shuffle bytes from the status store. Both exist with
``spark.ui.enabled=false``.
"""

from __future__ import annotations

import functools
import json
import time
from dataclasses import dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.overhead = 0.0  # seconds spent inside wrappers, outside the calls
        self._stack: list[int] = []
        self._restore: list[tuple[object, str, object]] = []
        self.op = 0

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (a module function or a plain method) with
        a span-recording wrapper until ``unwrap_all``."""
        func = getattr(owner, attr)

        @functools.wraps(func)
        def traced(*args, **kwargs):
            t0 = time.perf_counter()
            idx = len(self.spans)
            span = Span(name, 0.0, 0.0, self._stack[-1] if self._stack else None, self.op)
            self.spans.append(span)
            self._stack.append(idx)
            t1 = time.perf_counter()
            try:
                return func(*args, **kwargs)
            finally:
                t2 = time.perf_counter()
                self._stack.pop()
                span.start, span.end = t1, t2
                self.overhead += (t1 - t0) + (time.perf_counter() - t2)

        setattr(owner, attr, traced)
        self._restore.append((owner, attr, func))

    def record(self, name: str, start: float, end: float) -> None:
        """Add a top-level span timed by the caller."""
        self.spans.append(Span(name, start, end, None, self.op))

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._restore):
            setattr(owner, attr, orig)
        self._restore.clear()

    def self_times(self) -> list[float]:
        """Per span: duration minus the duration of its direct children."""
        out = [s.end - s.start for s in self.spans]
        for s in self.spans:
            if s.parent is not None:
                out[s.parent] -= s.end - s.start
        return out

    def per_op(self) -> dict[int, dict[str, float]]:
        """op id -> {span name: summed self time (s)}."""
        out: dict[int, dict[str, float]] = {}
        for s, self_t in zip(self.spans, self.self_times()):
            d = out.setdefault(s.op, {})
            d[s.name] = d.get(s.name, 0.0) + self_t
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s, self_t in zip(self.spans, self.self_times()):
                f.write(json.dumps({"name": s.name, "start": s.start, "end": s.end,
                                    "parent": s.parent, "op": s.op,
                                    "self": self_t}) + "\n")


class SparkCounters:
    """Job/stage/task counts and executor time of one tagged operation."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = 0

    def begin(self, label: str) -> str:
        self._n += 1
        group = f"perfbench-{self._n}-{label}"
        self.sc.setJobGroup(group, label)
        return group

    def end(self, group: str) -> dict[str, float]:
        self._jsc.listenerBus().waitUntilEmpty()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        store = self._jsc.statusStore()
        jvm = self.sc._jvm
        empty = self.sc._gateway.new_array(jvm.double, 0)
        out = dict(jobs=0, stages=0, tasks=0, executor_run_s=0.0, executor_cpu_s=0.0,
                   shuffle_bytes=0)
        for jid in self.sc.statusTracker().getJobIdsForGroup(group):
            out["jobs"] += 1
            it = store.job(jid).stageIds().iterator()
            while it.hasNext():
                attempts = store.stageData(it.next(), False, jvm.java.util.ArrayList(),
                                           False, empty)
                for i in range(attempts.size()):
                    sd = attempts.apply(i)
                    if sd.status().toString() != "COMPLETE":
                        continue
                    out["stages"] += 1
                    out["tasks"] += sd.numCompleteTasks()
                    out["executor_run_s"] += sd.executorRunTime() / 1e3
                    out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    out["shuffle_bytes"] += sd.shuffleReadBytes() + sd.shuffleWriteBytes()
        out["offjvm_s"] = out["executor_run_s"] - out["executor_cpu_s"]
        return out
