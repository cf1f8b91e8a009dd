"""Attribute Spark work to benchmark ops through the status store.

Spark keeps every job and stage in its ``AppStatusStore`` even with the
UI off. Stage and job ids are allocated from one counter each, so the
stages an op ran are exactly the ids between a mark taken before it and
a mark taken after it. Ops run one at a time, which makes the window
exact; it also catches stages started on other threads, such as a
streaming query's micro-batches, which job groups do not (job groups are
thread-local).

The listener bus that fills the store is asynchronous, so ``mark`` first
waits for it to drain. The store only keeps ``spark.ui.retainedStages``
stages; ``RETAIN_CONF`` raises that cap and is passed to the session in
traced and untraced runs alike, so both run the same configuration.
"""

from __future__ import annotations

import json
from dataclasses import dataclass

RETAIN_CONF = {
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedTasks": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
}


@dataclass(frozen=True)
class Mark:
    stage: int  # highest stage id seen, -1 before the first stage
    job: int  # highest job id seen, -1 before the first job


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class StageWindows:
    """Marks and per-window summaries over one session's status store."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        jsc = sc._jsc.sc()
        self._store = jsc.statusStore()
        self._kv = self._store.store()
        self._bus = jsc.listenerBus()
        self._stage_cls = jvm.java.lang.Class.forName(
            "org.apache.spark.status.StageDataWrapper"
        )
        self._job_cls = jvm.java.lang.Class.forName(
            "org.apache.spark.status.JobDataWrapper"
        )
        scala_module = getattr(
            getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"),
            "MODULE$",
        )
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala_module)

    def _last(self, cls, key: str) -> int:
        it = self._kv.view(cls).reverse().max(1).iterator()
        if not it.hasNext():
            return -1
        return getattr(it.next().info(), key)()

    def mark(self) -> Mark:
        self._bus.waitUntilEmpty()
        return Mark(self._last(self._stage_cls, "stageId"),
                    self._last(self._job_cls, "jobId"))

    def stages(self, a: Mark, b: Mark) -> list[dict]:
        """Last attempt of every stage allocated between two marks."""
        return [
            json.loads(self._mapper.writeValueAsString(self._store.lastStageAttempt(i)))
            for i in range(a.stage + 1, b.stage + 1)
        ]

    def summary(self, a: Mark, b: Mark, wall_s: float) -> dict[str, float]:
        """Counters of the window ``a``..``b`` that took ``wall_s`` seconds.

        ``stage_busy_s`` is the time at least one stage was running;
        ``driver_gap_s`` is the rest of the wall time, when only the
        driver worked (planning, Python, file I/O, job scheduling).
        """
        ran = [s for s in self.stages(a, b) if s.get("status") != "SKIPPED"]
        busy = _union_length([
            (s["submissionTime"] / 1000.0, s["completionTime"] / 1000.0)
            for s in ran
            if s.get("submissionTime") and s.get("completionTime")
        ])
        return {
            "jobs": float(b.job - a.job),
            "stages": float(len(ran)),
            "tasks": float(sum(s["numCompleteTasks"] + s["numFailedTasks"] for s in ran)),
            "stage_busy_s": busy,
            "driver_gap_s": max(wall_s - busy, 0.0),
            "task_run_s": sum(s["executorRunTime"] for s in ran) / 1e3,
            "task_cpu_s": sum(s["executorCpuTime"] for s in ran) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in ran) / 1e3,
            "shuffle_read_bytes": float(sum(s["shuffleReadBytes"] for s in ran)),
            "shuffle_write_bytes": float(sum(s["shuffleWriteBytes"] for s in ran)),
            "spill_bytes": float(sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in ran)),
            "input_bytes": float(sum(s["inputBytes"] for s in ran)),
            "output_bytes": float(sum(s["outputBytes"] for s in ran)),
            "failed_tasks": float(sum(s["numFailedTasks"] for s in ran)),
        }
