"""Spark job, stage and task counts for a window of benchmark work.

The calling thread tags its jobs with ``setJobGroup``; jobs that the
program starts from its own helper threads carry no group.  A window
therefore counts every job id that is new in the bench group or in the
no-group set, which covers all jobs while nothing else runs.
"""

from __future__ import annotations

import time

from py4j.protocol import Py4JError

GROUP = "perfbench"


class SparkCounter:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.tracker = self.sc.statusTracker()
        self._jtracker = self.sc._jsc.statusTracker()

    def _drain(self) -> None:
        """Wait until the status store has seen every finished event."""
        try:
            self.sc._jsc.sc().listenerBus().waitUntilEmpty(10_000)
        except Py4JError:
            time.sleep(0.2)

    def _job_ids(self) -> set[int]:
        return set(self.tracker.getJobIdsForGroup(GROUP)) | set(
            self.tracker.getJobIdsForGroup(None)
        )

    def start(self, label: str) -> tuple[set[int], float]:
        self._drain()
        self.sc.setJobGroup(GROUP, label)
        return self._job_ids(), time.time()

    def finish(self, token: tuple[set[int], float]) -> dict:
        """Counts for the jobs started since ``start`` returned ``token``:
        jobs, stages (skipped ones included), tasks run, tasks failed, and
        the delay from ``start`` to the first stage submission in ms."""
        before, t0 = token
        self._drain()
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        jobs = sorted(self._job_ids() - before)
        stages = tasks = failed = 0
        first_submit = None
        for j in jobs:
            info = self.tracker.getJobInfo(j)
            if info is None:
                continue
            stages += len(info.stageIds)
            for s in info.stageIds:
                st = self.tracker.getStageInfo(s)
                if st is None:
                    continue
                tasks += st.numCompletedTasks + st.numFailedTasks
                failed += st.numFailedTasks
                jst = self._jtracker.getStageInfo(s)
                sub = jst.submissionTime() if jst is not None else -1
                if sub > 0 and (first_submit is None or sub < first_submit):
                    first_submit = sub
        plan_ms = (first_submit - t0 * 1000.0) if first_submit else None
        return {
            "jobs": len(jobs),
            "stages": stages,
            "tasks": tasks,
            "failed_tasks": failed,
            "plan_ms": plan_ms,
        }
