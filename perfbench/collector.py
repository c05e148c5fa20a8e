"""Spark status-store counters per job group.

Reads ``sc._jsc.sc().statusStore()`` (the store behind the web UI and the
REST API, kept even with ``spark.ui.enabled=false``). Each status object is
serialized to JSON on the JVM side with the same Jackson + Scala module the
REST API uses, so a whole job list or stage costs one py4j round trip.
"""

from __future__ import annotations

import json
from contextlib import contextmanager
from datetime import datetime
from typing import Iterator

# Counter names, in the order the benchmark reports them.
COUNTERS = (
    "jobs",
    "stages",
    "tasks",
    "empty_tasks",
    "shuffle_write_bytes",
    "shuffle_read_bytes",
    "spill_bytes",
    "run_time_s",
    "cpu_s",
    "gc_s",
    "result_bytes",
    "exec_s",
    "serial_stage_s",
)


def _ts(value: str | None) -> float | None:
    # The REST API date format: 2024-01-01T00:00:00.123GMT
    if not value:
        return None
    return datetime.strptime(value.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, None
    for lo, hi in sorted(intervals):
        if end is None or lo > end:
            total += hi - lo
            end = hi
        elif hi > end:
            total += hi - end
            end = hi
    return total


def in_group(group: str | None, prefix: str) -> bool:
    return group is not None and (group == prefix or group.startswith(prefix + "."))


class StatusStore:
    """Counters for the Spark jobs run under a job group.

    ``tasks=True`` also reads every task of every stage, which is what
    ``empty_tasks`` needs; leave it off outside traced runs.
    """

    def __init__(self, spark, tasks: bool = False):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self.mapper.registerModule(getattr(scala_module, "MODULE$"))
        self.mapper.setDateFormat(jvm.org.apache.spark.status.api.v1.JacksonMessageWriter.makeISODateFormat())
        self.tasks = tasks

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    @contextmanager
    def group(self, name: str) -> Iterator[str]:
        """Tag every job started inside the block with job group ``name``;
        the enclosing group, if any, is restored after it."""
        keys = ("spark.jobGroup.id", "spark.job.description")
        outer = [self.sc.getLocalProperty(k) for k in keys]
        self.sc.setJobGroup(name, name)
        try:
            yield name
        finally:
            for key, value in zip(keys, outer):
                self.sc.setLocalProperty(key, value)

    def jobs(self, prefix: str) -> list[dict]:
        """Jobs whose group is ``prefix`` or starts with ``prefix + '.'``."""
        jobs = self._json(self.store.jobsList(None))
        return [j for j in jobs if in_group(j.get("jobGroup"), prefix)]

    def counters(self, jobs: list[dict], cores: int) -> dict[str, float]:
        """Sum the counters over ``jobs`` (from :meth:`jobs`); all must have ended."""
        out = dict.fromkeys(COUNTERS, 0.0)
        spans, stage_ids = [], set()
        for job in jobs:
            out["jobs"] += 1
            stage_ids.update(job["stageIds"])
            lo, hi = _ts(job.get("submissionTime")), _ts(job.get("completionTime"))
            if lo is not None and hi is not None:
                spans.append((lo, hi))
        for stage_id in stage_ids:
            try:
                stage = self._json(self.store.lastStageAttempt(stage_id))
            except Exception:  # py4j error: stage skipped (never ran) or evicted
                continue
            if stage.get("status") == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += stage["numTasks"]
            out["shuffle_write_bytes"] += stage["shuffleWriteBytes"]
            out["shuffle_read_bytes"] += stage["shuffleReadBytes"]
            out["spill_bytes"] += stage["memoryBytesSpilled"] + stage["diskBytesSpilled"]
            out["run_time_s"] += stage["executorRunTime"] / 1e3
            out["cpu_s"] += stage["executorCpuTime"] / 1e9
            out["gc_s"] += stage["jvmGcTime"] / 1e3
            out["result_bytes"] += stage["resultSize"]
            if stage["numTasks"] == 1:
                lo, hi = _ts(stage.get("firstTaskLaunchedTime")), _ts(stage.get("completionTime"))
                if lo is not None and hi is not None:
                    out["serial_stage_s"] += hi - lo
            if self.tasks:
                out["empty_tasks"] += self._empty_tasks(stage_id, stage["attemptId"])
        out["exec_s"] = _union_s(spans)
        # Wall time with at least one job running x cores: the core-seconds
        # the jobs could have used.
        out["core_busy_frac"] = out["run_time_s"] / (out["exec_s"] * cores) if out["exec_s"] else 0.0
        out["empty_task_frac"] = out["empty_tasks"] / out["tasks"] if out["tasks"] else 0.0
        return out

    def _empty_tasks(self, stage_id: int, attempt_id: int) -> int:
        """Tasks of one stage that read no record from a scan or a shuffle."""
        empty = 0
        for task in self._json(self.store.taskList(stage_id, attempt_id, 1 << 30)):
            metrics = task.get("taskMetrics") or {}
            read = metrics.get("inputMetrics", {}).get("recordsRead", 0) + metrics.get(
                "shuffleReadMetrics", {}
            ).get("recordsRead", 0)
            empty += read == 0
        return empty
