"""Span recording and Spark stage metrics for the traced run.

``Tracer`` keeps spans (name, start, end, parent, run id) in memory
around the benchmark's calls into each layer and writes them out once,
at the end.  ``StageMetrics`` reads what Spark recorded for the jobs of
one job group: SQL executions, shuffle bytes written, bytes spilled and
per-stage task times.  It reads Spark's status stores, which are kept
with the UI disabled, and is only called after the timer of the work it
describes has stopped.
"""

from __future__ import annotations

import json
import time
from collections.abc import Iterator
from contextlib import contextmanager
from dataclasses import dataclass
from pathlib import Path


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str) -> Iterator[dict]:
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._open[-1] if self._open else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def write(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for rec in self.spans:
                f.write(json.dumps(rec) + "\n")


@dataclass
class GroupStats:
    wall_s: float = 0.0  # the caller's timer around the group's work
    sql_execs: int = 0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0
    single_task_stages: int = 0
    # sum over multi-task stages of the slowest and the median task's
    # run time; their ratio is the group's task skew (1.0 = balanced)
    max_task_ms: float = 0.0
    median_task_ms: float = 0.0

    def add(self, other: GroupStats) -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))

    @property
    def task_skew(self) -> float:
        return self.max_task_ms / self.median_task_ms if self.median_task_ms else 1.0


class StageMetrics:
    """Per-job-group statistics from the SQL and application status
    stores."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.app_store = self.sc._jsc.sc().statusStore()
        jvm = self.sc._jvm
        self._quantiles = self.sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._no_status = jvm.java.util.ArrayList()

    def drain(self) -> None:
        """Wait until Spark's listeners have processed every event posted
        so far, so the status stores describe all finished jobs."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def clear_group(self) -> None:
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)

    def sql_exec_count(self) -> int:
        return self.sql_store.executionsList().size()

    def group_stats(self, group: str, mark: int) -> GroupStats:
        """Statistics of the jobs run under ``group``; ``mark`` is the
        SQL execution count taken before the group's first job."""
        self.drain()
        tracker = self.sc.statusTracker()
        stats = GroupStats(sql_execs=self.sql_exec_count() - mark)
        stage_ids: set[int] = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        for stage_id in sorted(stage_ids):
            self._add_stage(stats, stage_id)
        return stats

    def _add_stage(self, stats: GroupStats, stage_id: int) -> None:
        attempts = self.app_store.stageData(stage_id, False, self._no_status, False, self._quantiles)
        for k in range(attempts.size()):
            sd = attempts.apply(k)
            if str(sd.status()) != "COMPLETE":
                continue  # skipped stages reuse an earlier stage's shuffle output
            stats.shuffle_write_mb += sd.shuffleWriteBytes() / 1e6
            stats.spill_mb += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
            if sd.numTasks() <= 1:
                stats.single_task_stages += 1
                continue
            summary = self.app_store.taskSummary(stage_id, sd.attemptId(), self._quantiles)
            if summary.isDefined():
                run_time = summary.get().executorRunTime()
                stats.median_task_ms += run_time.apply(0)
                stats.max_task_ms += run_time.apply(1)

