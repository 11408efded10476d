"""Counters read from Spark's own status store (works with the UI off).

Work is bracketed by job ids: job ids grow in submission order, so the jobs
above a mark taken before some work are the jobs that work submitted, from
any driver thread.  Their stages are summed; stages a job skipped (their
shuffle output was reused) did no work and are left out.
"""

from __future__ import annotations

import dataclasses
import statistics

from py4j.protocol import Py4JJavaError


def _java_list(jvm, seq):
    return jvm.scala.jdk.javaapi.CollectionConverters.asJava(seq)


@dataclasses.dataclass
class StageStats:
    stages: int = 0
    tasks: int = 0
    executor_run_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    task_max_s: float = 0.0
    task_median_s: float = 0.0

    @property
    def shuffle_write_mb(self) -> float:
        return self.shuffle_write_bytes / 1e6

    @property
    def spill_mb(self) -> float:
        return self.spill_bytes / 1e6


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._jvm = sc._jvm
        self._tracker = sc.statusTracker()
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()

    def _flush(self) -> None:
        # the store is filled by an asynchronous listener; wait for it
        self._jsc.listenerBus().waitUntilEmpty()

    def job_mark(self) -> int:
        """Id of the last job submitted so far."""
        self._flush()
        return max(self._tracker.getJobIdsForGroup(None), default=-1)

    def jobs_since(self, mark: int, until: int | None = None) -> list[int]:
        """Ids of the jobs after ``mark`` (and up to ``until``)."""
        self._flush()
        return sorted(
            j for j in self._tracker.getJobIdsForGroup(None)
            if j > mark and (until is None or j <= until)
        )

    def job_submit_times(self, mark: int, until: int) -> list[float]:
        """Submission times (epoch seconds) of the jobs in (mark, until]."""
        out = []
        for j in self.jobs_since(mark, until):
            t = self._store.job(j).submissionTime()
            if t.isDefined():
                out.append(t.get().getTime() / 1000.0)
        return sorted(out)

    def stats_since(self, mark: int, tasks: bool = False) -> StageStats:
        """Sum over the completed stages of the jobs after ``mark``.  With
        ``tasks``, also the max and median task run time of the heaviest
        stage (the per-stage skew signal)."""
        stage_ids = set()
        for j in self.jobs_since(mark):
            info = self._tracker.getJobInfo(j)
            if info is not None:
                stage_ids.update(info.stageIds)
        st = StageStats()
        heaviest = None
        for sid in sorted(stage_ids):
            try:
                s = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # never ran and not recorded
                continue
            if s.status().toString() != "COMPLETE":
                continue
            run_ms = s.executorRunTime()
            st.stages += 1
            st.tasks += s.numCompleteTasks()
            st.executor_run_s += run_ms / 1000.0
            st.gc_s += s.jvmGcTime() / 1000.0
            st.shuffle_write_bytes += s.shuffleWriteBytes()
            st.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
            if heaviest is None or run_ms > heaviest[2]:
                heaviest = (sid, s.attemptId(), run_ms)
        if tasks and heaviest is not None:
            runs = [
                t.taskMetrics().get().executorRunTime() / 1000.0
                for t in _java_list(self._jvm, self._store.taskList(heaviest[0], heaviest[1], 1 << 20))
                if t.taskMetrics().isDefined()
            ]
            if runs:
                st.task_max_s = max(runs)
                st.task_median_s = statistics.median(runs)
        return st
