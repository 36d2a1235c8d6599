"""Per-interval deltas from Spark's application status store, read via py4j.

The store is filled by the status listener even with the UI disabled. Stage
and job ids only grow, so the work done between two marks is the set of
stages and jobs whose ids lie above the earlier mark. ``stageList`` and
``jobsList`` return newest first, which lets a read stop at the mark.
"""

from __future__ import annotations

FIELDS = {
    "tasks": "numCompleteTasks",
    "input_bytes": "inputBytes",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "executor_run_s": "executorRunTime",
    "gc_s": "jvmGcTime",
}
_MS_FIELDS = ("executor_run_s", "gc_s")


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext._jsc.sc()
        self._bus = sc.listenerBus()
        self._store = sc.statusStore()
        self._quantiles = getattr(self._store, "stageList$default$4")()

    def _stages(self):
        # stageList(statuses, details, withSummaries, quantiles, taskStatus)
        return self._store.stageList(None, False, False, self._quantiles, None)

    def _drain(self) -> None:
        self._bus.waitUntilEmpty()

    def mark(self) -> tuple[int, int]:
        """(newest stage id, newest job id) seen so far."""
        self._drain()
        stages = self._stages()
        jobs = self._store.jobsList(None)
        return (
            stages.apply(0).stageId() if stages.size() else -1,
            jobs.apply(0).jobId() if jobs.size() else -1,
        )

    def between(self, start: tuple[int, int], end: tuple[int, int]) -> dict[str, float]:
        """Work done after mark ``start`` up to mark ``end``: jobs, stages,
        tasks, bytes and times."""
        out = {k: 0.0 for k in ("jobs", "stages", *FIELDS)}
        stages = self._stages()
        for i in range(stages.size()):
            st = stages.apply(i)
            if st.stageId() <= start[0]:
                break
            if st.stageId() > end[0]:
                continue
            out["stages"] += 1
            for name, getter in FIELDS.items():
                out[name] += getattr(st, getter)()
        jobs = self._store.jobsList(None)
        for i in range(jobs.size()):
            job_id = jobs.apply(i).jobId()
            if job_id <= start[1]:
                break
            out["jobs"] += job_id <= end[1]
        for name in _MS_FIELDS:
            out[name] /= 1000.0
        return out
