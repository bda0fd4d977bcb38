"""Spans and per-operation Spark counters for the traced run.

The benchmark measures the program from outside: spans are opened by
the benchmark's own code around calls into the program's public
functions, and the Spark counters come from the driver's status store
(``SparkContext.statusStore``), which stays populated with the UI off.
Jobs are attributed to an operation by job id: with one client in a
closed loop, every job submitted between an operation's start and end
belongs to it, including jobs the program submits from helper threads
that do not inherit the operation's job group.

With tracing off every method here is a no-op, so the untraced run
pays nothing but a few attribute lookups.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

# Counters summed over an operation's jobs and stages.
SPARK_COUNTERS = (
    "jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "gc_s",
)


class StatusStore:
    """Read-only view of the driver's status store through py4j."""

    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._store = sc.statusStore()
        self._bus = sc.listenerBus()
        self._dag = sc.dagScheduler()

    def next_job_id(self) -> int:
        return int(self._dag.nextJobId())

    def counters(self, first_job: int, end_job: int) -> tuple[dict, list]:
        """Counters of jobs ``[first_job, end_job)`` and their
        ``(submitted, completed)`` intervals in epoch seconds."""
        self._bus.waitUntilEmpty()
        out = dict.fromkeys(SPARK_COUNTERS, 0)
        intervals = []
        seen_stages: set[int] = set()
        for jid in range(first_job, end_job):
            job = self._store.job(jid)
            out["jobs"] += 1
            if job.submissionTime().isDefined() and job.completionTime().isDefined():
                intervals.append((job.submissionTime().get().getTime() / 1000.0,
                                  job.completionTime().get().getTime() / 1000.0))
            ids = job.stageIds()
            for i in range(ids.size()):
                sid = int(ids.apply(i))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                st = self._store.lastStageAttempt(sid)
                if st.status().name() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks() + st.numFailedTasks()
                out["failed_tasks"] += st.numFailedTasks()
                out["executor_run_s"] += st.executorRunTime() / 1e3
                out["executor_cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
                out["spill_bytes"] += st.diskBytesSpilled()
                out["gc_s"] += st.jvmGcTime() / 1e3
        return out, intervals


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


class Tracer:
    """Spans kept in memory and written out when the run ends. Each span
    has a name, start, end, parent and pass id; operation spans also
    carry the job-id range their counters are read from."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self.pass_id = "setup"
        self._stack: list[dict] = []
        self._status: StatusStore | None = None
        self._epoch = time.time() - time.perf_counter()

    def attach(self, spark) -> None:
        self._status = StatusStore(spark)

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        sp = {"name": name, "pass": self.pass_id,
              "parent": self._stack[-1]["id"] if self._stack else None,
              "id": len(self.spans), **attrs}
        self.spans.append(sp)
        self._stack.append(sp)
        if self._status is not None:
            sp["first_job"] = self._status.next_job_id()
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            if self._status is not None:
                sp["end_job"] = self._status.next_job_id()
            self._stack.pop()

    def attach_counters(self, sp: dict | None) -> None:
        """Read the status-store counters of a finished span's jobs into
        it, with its driver gap: wall time not covered by any job."""
        if sp is None or self._status is None:
            return
        counters, intervals = self._status.counters(sp["first_job"], sp["end_job"])
        lo, hi = sp["start"] + self._epoch, sp["end"] + self._epoch
        clipped = [(max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi]
        counters["driver_gap_s"] = max(0.0, (sp["end"] - sp["start"]) - union_seconds(clipped))
        sp["counters"] = counters

    def children(self, sp: dict) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sp["id"]]

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for sp in self.spans:
                fh.write(json.dumps(sp) + "\n")
