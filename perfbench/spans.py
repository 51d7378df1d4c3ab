"""Spans around calls into the package, with Spark counters read from
the driver's status store (it answers with ``spark.ui.enabled=false``).

A traced call runs under its own job group. When it returns, the
tracer drains the listener bus, lists the group's jobs, and sums the
counters of the stages those jobs ran. A stage that ran before the
span (a shuffle another call left behind and this one reuses) is
skipped, so no work is counted twice. Spans stay in memory until the run writes them out.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

COUNTERS = ["wall_s", "driver_s", "jobs", "tasks", "exec_run_s", "exec_cpu_s",
            "input_bytes", "shuffle_bytes", "output_bytes", "spill_bytes"]


def _ids(scala_seq) -> list[int]:
    s = scala_seq.mkString(",")
    return [int(x) for x in s.split(",")] if s else []


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Records spans: name, start, end, parent span, op id, and for a
    span around a package call, the Spark counters of its job group."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count()
        self.sc = None

    def attach(self, spark) -> None:
        self.sc = spark.sparkContext

    @contextmanager
    def span(self, name: str, *, op_id: str | None = None, spark_counters: bool = False,
             **attrs):
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": self._stack[-1] if self._stack else None,
               "op_id": op_id, **attrs}
        group = f"perfbench-{sid}"
        if spark_counters:
            self.sc.setJobGroup(group, name)
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if spark_counters:
                self.sc.setJobGroup(f"perfbench-idle-{sid}", "")
                rec.update(self._counters(group, rec["start"], rec["end"]))
            self.spans.append(rec)

    def _counters(self, group: str, t0: float, t1: float) -> dict:
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        intervals, stages = [], set()
        for j in jobs:
            jd = store.job(j)
            sub, comp = jd.submissionTime(), jd.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime() / 1e3, comp.get().getTime() / 1e3))
            stages.update(_ids(jd.stageIds()))
        c = dict.fromkeys(COUNTERS[2:], 0)
        c["failed_tasks"] = 0
        c["jobs"] = len(jobs)
        for s in sorted(stages):
            sd = store.lastStageAttempt(s)
            if sd.status().toString() in ("SKIPPED", "PENDING"):
                continue
            sub = sd.submissionTime()
            if not sub.isDefined() or sub.get().getTime() / 1e3 < t0 - 0.001:
                continue  # ran before this span: another group's stage, reused here
            c["tasks"] += sd.numCompleteTasks()
            c["failed_tasks"] += sd.numFailedTasks()
            c["exec_run_s"] += sd.executorRunTime() / 1e3
            c["exec_cpu_s"] += sd.executorCpuTime() / 1e9
            c["input_bytes"] += sd.inputBytes()
            c["shuffle_bytes"] += sd.shuffleWriteBytes()
            c["output_bytes"] += sd.outputBytes()
            c["spill_bytes"] += sd.diskBytesSpilled()
        busy = _union_s([(max(a, t0), min(b, t1)) for a, b in intervals if b > t0 and a < t1])
        c["wall_s"] = t1 - t0
        c["driver_s"] = max(0.0, c["wall_s"] - busy)
        return c

    def self_times(self) -> None:
        """Adds ``self_s`` to every span: its duration minus the time its
        child spans cover (children of one span never overlap)."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["end"] - s["start"]
        for s in self.spans:
            s["self_s"] = s["end"] - s["start"] - child.get(s["id"], 0.0)
