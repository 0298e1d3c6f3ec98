"""Reader of Spark's status store: jobs, stages, executor run time, shuffle
bytes and spill per job group. The store is kept with
``spark.ui.enabled=false`` too, so nothing here needs the UI.

Job ids come from ``SparkStatusTracker.getJobIdsForGroup``; stage numbers
from ``AppStatusStore.lastStageAttempt``. Read a group soon after its jobs
end: the store keeps only the most recent ``spark.ui.retainedJobs`` jobs
and ``spark.ui.retainedStages`` stages.
"""

from __future__ import annotations

from dataclasses import asdict, dataclass

from py4j.protocol import Py4JJavaError


@dataclass
class GroupStats:
    jobs: int = 0
    stages: int = 0  # stages that ran (skipped ones are not counted)
    executor_run_s: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0  # memory + disk spill

    def __iadd__(self, other: "GroupStats") -> "GroupStats":
        for k, v in asdict(other).items():
            setattr(self, k, getattr(self, k) + v)
        return self


class StatusStore:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext
        self._tracker = self._sc.statusTracker()
        self._store = self._sc._jsc.sc().statusStore()

    def group(self, group_id: str) -> GroupStats:
        out = GroupStats()
        stage_ids: set[int] = set()
        for job_id in self._tracker.getJobIdsForGroup(group_id):
            info = self._tracker.getJobInfo(job_id)
            if info is None:
                continue
            out.jobs += 1
            stage_ids.update(info.stageIds)
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(sid)
            except Py4JJavaError:  # the stage is not (or no longer) in the store
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out.stages += 1
            out.executor_run_s += st.executorRunTime() / 1000.0
            out.shuffle_read_bytes += st.shuffleReadBytes()
            out.shuffle_write_bytes += st.shuffleWriteBytes()
            out.spill_bytes += st.memoryBytesSpilled() + st.diskBytesSpilled()
        return out
