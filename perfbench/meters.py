"""Reads Spark's status stores from outside the engine package.

Every read first drains the listener bus (``waitUntilEmpty``): the status
store is filled asynchronously, so without the drain a job that has just
returned can still lack its ``completionTime``.  Job and stage records are
fetched per request, by the job group the benchmark thread set, and
serialized to JSON inside the JVM so one py4j call returns a whole record.
SQL-execution metrics go through ``tools/shuffle_audit._execution_metrics``,
which de-duplicates the accumulators AQE re-registers on every re-plan.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.shuffle_audit import _execution_metrics  # noqa: E402

MB = 2.0**20

# stage fields summed per request: (stage JSON key, scale to the reported unit)
STAGE_SUMS = {
    "task_run_s": ("executorRunTime", 1e-3),
    "task_cpu_s": ("executorCpuTime", 1e-9),
    "gc_s": ("jvmGcTime", 1e-3),
    "shuffle_write_mb": ("shuffleWriteBytes", 1 / MB),
    "shuffle_read_mb": ("shuffleReadBytes", 1 / MB),
    "spill_mb": ("diskBytesSpilled", 1 / MB),
    "tasks": ("numTasks", 1),
}

# SQL metric name -> reported per-layer key (sizes, summed per execution)
SQL_SIZES = {
    "size of files read": "scan_mb",
    "data sent to Python workers": "to_worker_mb",
}


class StatusReader:
    """Job, stage and SQL-execution records of one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        sc = spark.sparkContext
        self._bus = sc._jsc.sc().listenerBus()
        self._store = sc._jsc.sc().statusStore()
        self._sql_store = spark._jsparkSession.sharedState().statusStore()
        self._tracker = sc.statusTracker()
        jvm = sc._jvm
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def _json(self, obj) -> dict:
        return json.loads(self._mapper.writeValueAsString(obj))

    def group_records(self, group: str) -> tuple[list[dict], list[dict]]:
        """``(jobs, stages)`` run under job group ``group``; skipped stages
        are left out.  Times are epoch milliseconds."""
        self.drain()
        jobs = [self._json(self._store.job(j)) for j in self._tracker.getJobIdsForGroup(group)]
        stages: dict[int, dict] = {}
        for job in jobs:
            for sid in job["stageIds"]:
                if sid in stages:
                    continue
                try:
                    stage = self._json(self._store.lastStageAttempt(sid))
                except Exception:  # never submitted: the stage was skipped
                    continue
                if stage["status"] != "SKIPPED":
                    stages[sid] = stage
        return jobs, list(stages.values())

    def executions_by_description(self) -> dict[str, list[int]]:
        """SQL execution ids keyed by their description, which is the job
        group description the calling thread set (the request id)."""
        self.drain()
        out: dict[str, list[int]] = {}
        listed = self._sql_store.executionsList()
        for i in range(listed.size()):
            e = listed.apply(i)
            out.setdefault(e.description(), []).append(e.executionId())
        return out

    def sql_sizes_mb(self, exec_ids: list[int]) -> dict[str, float]:
        """Per-layer SQL size metrics (MB) summed over ``exec_ids``."""
        metrics = _execution_metrics(self._sql_store, set(exec_ids))
        return {key: metrics.get(name, 0.0) / MB for name, key in SQL_SIZES.items()}


def stage_sums(stages: list[dict]) -> dict[str, float]:
    return {
        key: sum(s[field] for s in stages) * scale for key, (field, scale) in STAGE_SUMS.items()
    }


def stage_wait_s(stages: list[dict]) -> float:
    """Summed stage-submit -> first-task-launch wait."""
    return sum(
        (s["firstTaskLaunchedTime"] - s["submissionTime"]) / 1e3
        for s in stages
        if s.get("firstTaskLaunchedTime") and s.get("submissionTime")
    )


def peak_rss_mb(pids: list[int]) -> float:
    """Summed VmHWM (peak resident set) of ``pids``, in MB."""
    total_kb = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    total_kb += int(line.split()[1])
    return total_kb / 1024.0
