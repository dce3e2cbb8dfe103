"""Spark counters per operation, read from the driver's status store.

Each timed operation runs its Spark jobs under job groups the benchmark
names (``job_group``). After the operation, outside its timed region,
``collect`` sums the completed stages of those groups via
``AppStatusStore.lastStageAttempt``; ``storage`` reads the block
manager's cached-RDD footprint via ``SparkContext.getRDDStorageInfo``.
Both work with the UI disabled: the status store backs the status
tracker either way.
"""

from __future__ import annotations

STAGE_FIELDS = (
    "jobs", "stages", "tasks", "single_task_stages", "exec_s", "run_s",
    "cpu_s", "gc_s", "shuffle_write_mb", "shuffle_read_mb", "spill_mb",
    "input_mb",
)

_MB = 1e6


def job_group(op_id: int, phase: str) -> str:
    """The job group of one phase (``build`` or ``run``) of one operation."""
    return f"perfbench-{op_id}-{phase}"


def _ms(opt_date) -> int | None:
    return opt_date.get().getTime() if opt_date.isDefined() else None


def collect(spark, groups: list[str]) -> dict:
    """Sum job and stage counters over every job launched in ``groups``."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(STAGE_FIELDS, 0)
    for g in groups:
        for jid in tracker.getJobIdsForGroup(g):
            out["jobs"] += 1
            job = store.job(jid)
            start, end = _ms(job.submissionTime()), _ms(job.completionTime())
            if start is not None and end is not None:
                out["exec_s"] += (end - start) / 1000.0
            for sid in tracker.getJobInfo(jid).stageIds:
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001 — a never-submitted stage has no attempt
                    continue
                if st.status().toString() != "COMPLETE":
                    continue  # skipped: its shuffle output was reused
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["single_task_stages"] += st.numTasks() == 1
                out["run_s"] += st.executorRunTime() / 1000.0
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["gc_s"] += st.jvmGcTime() / 1000.0
                out["shuffle_write_mb"] += st.shuffleWriteBytes() / _MB
                out["shuffle_read_mb"] += (
                    st.shuffleRemoteBytesRead() + st.shuffleLocalBytesRead()
                ) / _MB
                out["spill_mb"] += (st.memoryBytesSpilled() + st.diskBytesSpilled()) / _MB
                out["input_mb"] += st.inputBytes() / _MB
    return out


def storage(spark) -> tuple[int, float]:
    """(cached RDD count, MB they hold in memory and on disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    n, size = 0, 0
    for info in infos:
        if info.isCached():
            n += 1
            size += info.memSize() + info.diskSize()
    return n, size / _MB
