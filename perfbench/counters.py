"""Spark work per operation, read from the live application status store.

Each traced operation runs its jobs under job group ``pb<op>`` (jobs
launched while a DataFrame is being built run under ``pb<op>-build``).
After the run the groups are resolved to jobs and stages through
``AppStatusStore``, which Spark fills even with the UI disabled.
"""

from __future__ import annotations

import time

from py4j.protocol import Py4JJavaError

FIELDS = (
    "jobs", "build_jobs", "stages", "tasks", "exec_run_s", "exec_cpu_s",
    "py_worker_s", "shuffle_read_bytes", "shuffle_write_bytes",
)


def spark_conf() -> dict[str, str]:
    """Settings that keep every job and stage of a traced run in the
    status store."""
    return {
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.ui.retainedExecutions": "100000",
    }


def job_group_setter(spark):
    sc = spark.sparkContext

    def set_group(group: str) -> None:
        sc.setJobGroup(group, group, interruptOnCancel=False)

    return set_group


def wait_idle(spark, timeout_s: float = 30.0) -> None:
    """Wait until no job is running and the listener has caught up."""
    tracker = spark.sparkContext.statusTracker()
    deadline = time.monotonic() + timeout_s
    while tracker.getActiveJobsIds() and time.monotonic() < deadline:
        time.sleep(0.05)
    time.sleep(0.5)


def op_counters(spark, op_id: int) -> dict[str, float]:
    """Jobs, stages, tasks, executor time and shuffle bytes of one
    operation. Stages a job skipped (reused shuffle output) are not
    counted."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    out = dict.fromkeys(FIELDS, 0.0)
    for group in (f"pb{op_id}", f"pb{op_id}-build"):
        for jid in tracker.getJobIdsForGroup(group):
            out["jobs"] += 1
            if group.endswith("-build"):
                out["build_jobs"] += 1
            job = store.job(jid)
            it = job.stageIds().iterator()
            while it.hasNext():
                sid = it.next()
                try:
                    st = store.lastStageAttempt(sid)
                except Py4JJavaError:  # stage evicted from the store
                    continue
                if st.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += st.numCompleteTasks()
                run_s = st.executorRunTime() / 1e3
                cpu_s = st.executorCpuTime() / 1e9
                out["exec_run_s"] += run_s
                out["exec_cpu_s"] += cpu_s
                out["py_worker_s"] += max(run_s - cpu_s, 0.0)
                out["shuffle_read_bytes"] += st.shuffleReadBytes()
                out["shuffle_write_bytes"] += st.shuffleWriteBytes()
    return out
