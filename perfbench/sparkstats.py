"""Spark counters read from outside the program: the jobs of an operation
(found through its job group) and their stages' task metrics, from the
application status store. The session runs with the UI off, so there is no
REST API; the status store behind it is still kept."""

from __future__ import annotations

import time
from dataclasses import dataclass, fields

from perfbench.stats import covered

MB = 1024.0 * 1024.0


@dataclass
class OpCounters:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_mb: float = 0.0
    shuffle_read_mb: float = 0.0
    spill_mb: float = 0.0
    driver_s: float = 0.0  # operation wall time not covered by any job

    def add(self, other: "OpCounters") -> None:
        for f in fields(self):
            setattr(self, f.name, getattr(self, f.name) + getattr(other, f.name))


class SparkCounters:
    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self._seen: set[int] = set()

    def new_job_ids(self, groups: list[str]) -> list[int]:
        """Jobs of ``groups`` not returned by an earlier call."""
        ids = set()
        for g in groups:
            ids.update(int(j) for j in self.sc.statusTracker().getJobIdsForGroup(g))
        fresh = sorted(ids - self._seen)
        self._seen.update(fresh)
        return fresh

    def _job_window(self, job_id: int, wait_s: float = 5.0) -> tuple[float, float, list[int]]:
        """(submitted, completed) in epoch seconds and the stage ids of a job.
        The listener bus updates the store asynchronously, so wait for the
        job's completion to land."""
        deadline = time.monotonic() + wait_s
        while True:
            jd = self.store.job(job_id)
            if jd.completionTime().isDefined() or time.monotonic() > deadline:
                break
            time.sleep(0.01)
        sub = jd.submissionTime()
        done = jd.completionTime()
        start = sub.get().getTime() / 1000.0 if sub.isDefined() else 0.0
        end = done.get().getTime() / 1000.0 if done.isDefined() else time.time()
        stage_ids = list(self.sc.statusTracker().getJobInfo(job_id).stageIds)
        return start, end, stage_ids

    def collect(self, job_ids: list[int], op_start: float, op_end: float) -> OpCounters:
        """Counters of ``job_ids``; ``op_start``/``op_end`` are the
        operation's wall-clock bounds (``time.time()``)."""
        out = OpCounters(jobs=len(job_ids))
        windows = []
        stage_ids: set[int] = set()
        for j in job_ids:
            start, end, stages = self._job_window(j)
            windows.append((start, end))
            stage_ids.update(stages)
        out.driver_s = max(0.0, (op_end - op_start) - covered(windows, op_start, op_end))
        no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        for sid in sorted(stage_ids):
            try:
                attempts = self.store.stageData(
                    sid, False, self.jvm.java.util.ArrayList(), False, no_quantiles
                )
            except Exception:  # noqa: BLE001 — a stage AQE never submitted has no entry
                continue
            for i in range(attempts.size()):
                s = attempts.apply(i)
                if s.status().toString() == "SKIPPED":
                    continue
                out.stages += 1
                out.tasks += s.numTasks()
                out.failed_tasks += s.numFailedTasks()
                out.task_run_s += s.executorRunTime() / 1000.0
                out.task_cpu_s += s.executorCpuTime() / 1e9
                out.gc_s += s.jvmGcTime() / 1000.0
                out.shuffle_write_mb += s.shuffleWriteBytes() / MB
                out.shuffle_read_mb += s.shuffleReadBytes() / MB
                out.spill_mb += (s.memoryBytesSpilled() + s.diskBytesSpilled()) / MB
        return out
