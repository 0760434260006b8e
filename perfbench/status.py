"""Per-job-group execution metrics read from Spark's status store.

Every operation the benchmark times runs under a job group it sets. The
status store (``AppStatusStore``) keeps task metrics for every job and
stage with the UI off, so the numbers here cost no tracing inside the
library: they are Spark's own per-stage task-metric sums.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

# Terminal job states; a job still RUNNING has not reported its last tasks.
_DONE_JOB = {"SUCCEEDED", "FAILED"}
_DONE_STAGE = {"COMPLETE", "FAILED", "SKIPPED"}
#: longest wait for the listener to catch up with a finished job group
SETTLE_TIMEOUT_S = 30.0


class StatusReader:
    """Reads stage metrics for a job group from the session's status store."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.jvm = self.sc._jvm
        self.store = self.sc._jsc.sc().statusStore()
        self.bus = self.sc._jsc.sc().listenerBus()
        self._groups = 0

    @contextmanager
    def group(self, name: str):
        """Run the body's Spark jobs under a fresh job group; yields its id."""
        self._groups += 1
        gid = f"perfbench-{self._groups}-{name}"
        keys = ("spark.jobGroup.id", "spark.job.description")
        prev = [self.sc.getLocalProperty(k) for k in keys]
        self.sc.setJobGroup(gid, name)
        try:
            yield gid
        finally:
            for k, v in zip(keys, prev):
                self.sc.setLocalProperty(k, v)

    def _jobs(self, gid: str) -> list:
        jobs = []
        it = self.store.jobsList(None).iterator()
        while it.hasNext():
            j = it.next()
            g = j.jobGroup()
            if g.isDefined() and g.get() == gid:
                jobs.append(j)
        return jobs

    def metrics(self, gid: str) -> dict:
        """Sums of task metrics over every stage of every job in ``gid``.

        The status listener runs asynchronously. So this first drains the
        listener bus, so that every job the group started is in the store,
        then waits until each of those jobs and stages has reached a final
        state.
        """
        self.bus.waitUntilEmpty(int(SETTLE_TIMEOUT_S * 1000))
        deadline = time.monotonic() + SETTLE_TIMEOUT_S
        while True:
            jobs = self._jobs(gid)
            stages = self._stages(jobs)
            if all(j.status().toString() in _DONE_JOB for j in jobs) and all(
                s.status().toString() in _DONE_STAGE for s in stages
            ):
                break
            if time.monotonic() > deadline:
                raise TimeoutError(f"status store did not settle for job group {gid}")
            time.sleep(0.05)
        out = {
            "jobs": len(jobs),
            "failed_jobs": sum(j.status().toString() == "FAILED" for j in jobs),
            "stages": 0,
            "tasks": 0,
            "task_cpu_s": 0.0,
            "task_run_s": 0.0,
            "gc_s": 0.0,
            "shuffle_write_bytes": 0,
            "shuffle_write_records": 0,
            "shuffle_read_bytes": 0,
            "spill_bytes": 0,
            "peak_exec_mem_bytes": 0,
            "input_bytes": 0,
            "output_bytes": 0,
            "output_records": 0,
        }
        for s in stages:
            if s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numCompleteTasks()
            out["task_cpu_s"] += s.executorCpuTime() / 1e9
            out["task_run_s"] += s.executorRunTime() / 1e3
            out["gc_s"] += s.jvmGcTime() / 1e3
            out["shuffle_write_bytes"] += s.shuffleWriteBytes()
            out["shuffle_write_records"] += s.shuffleWriteRecords()
            out["shuffle_read_bytes"] += s.shuffleReadBytes()
            out["spill_bytes"] += s.memoryBytesSpilled() + s.diskBytesSpilled()
            out["peak_exec_mem_bytes"] = max(out["peak_exec_mem_bytes"], s.peakExecutionMemory())
            out["input_bytes"] += s.inputBytes()
            out["output_bytes"] += s.outputBytes()
            out["output_records"] += s.outputRecords()
        return out

    def _stages(self, jobs: list) -> list:
        ids = set()
        for j in jobs:
            it = j.stageIds().iterator()
            while it.hasNext():
                ids.add(int(it.next()))
        stages = []
        no_tasks = self.jvm.java.util.ArrayList()
        no_quantiles = self.sc._gateway.new_array(self.jvm.double, 0)
        for sid in sorted(ids):
            # Scala default arguments are invisible through py4j: pass all five.
            try:
                attempts = self.store.stageData(sid, False, no_tasks, False, no_quantiles)
            except Exception:  # stage evicted or never submitted
                continue
            it = attempts.iterator()
            while it.hasNext():
                stages.append(it.next())
        return stages
