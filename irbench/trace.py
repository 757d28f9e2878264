"""In-memory span recorder and Spark job/task counter for the benchmark.

Spans sit around the benchmark's calls into the engine's layers (never
inside the engine).  Each span records name, start, end, parent span and
op id; the list is kept in memory and written out once the run ends.
With tracing off, ``span`` is a no-op context manager, so traced and
untraced runs execute the same engine calls in the same order.
"""

from __future__ import annotations

import time
from contextlib import contextmanager


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        #: seconds spent in the tracer's own bookkeeping (the overhead)
        self.cost_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        c0 = time.perf_counter()
        rec = {"id": len(self.spans), "name": name, "op": self.op,
               "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.cost_s += rec["start"] - c0
        try:
            yield
        finally:
            end = time.perf_counter()
            rec["end"] = end
            self._stack.pop()
            self.cost_s += time.perf_counter() - end

    def self_times(self, op: str) -> dict[str, float]:
        """name -> summed self time (duration minus the time its child
        spans cover) over the spans of one op."""
        spans = [s for s in self.spans if s["op"] == op]
        child = {s["id"]: 0.0 for s in spans}
        for s in spans:
            if s["parent"] in child:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in spans:
            out[s["name"]] = out.get(s["name"], 0.0) + (
                s["end"] - s["start"] - child[s["id"]])
        return out


class JobCounter:
    """Spark jobs and completed tasks per job group, read from
    ``SparkContext.statusTracker()`` after the listener bus drains.  Its
    calls sit outside the timed op window; ``cost_s`` sums their time."""

    def __init__(self, sc):
        self.sc = sc
        self.tracker = sc.statusTracker()
        self.cost_s = 0.0

    def set_group(self, group: str) -> None:
        t0 = time.perf_counter()
        self.sc.setJobGroup(group, group)
        self.cost_s += time.perf_counter() - t0

    def clear_group(self) -> None:
        t0 = time.perf_counter()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.cost_s += time.perf_counter() - t0

    def count(self, *groups: str) -> tuple[int, int]:
        t0 = time.perf_counter()
        # job/stage events reach the status store asynchronously
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = tasks = 0
        for g in groups:
            for jid in self.tracker.getJobIdsForGroup(g):
                jobs += 1
                info = self.tracker.getJobInfo(jid)
                for sid in (info.stageIds if info else []):
                    st = self.tracker.getStageInfo(sid)
                    if st is not None:
                        tasks += st.numCompletedTasks
        self.cost_s += time.perf_counter() - t0
        return jobs, tasks
