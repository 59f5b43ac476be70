"""Spark's own per-stage metrics, read from its status store.

The store answers through the JVM gateway even with the UI disabled;
this reads what Spark already records and adds no instrumentation.
"""

from __future__ import annotations


def job_stages(sc, group: str) -> tuple[int, list[dict]]:
    """``(jobs, stages)`` run under job group ``group``; each stage is a
    dict of Spark's stage metrics (times in seconds, epoch-based)."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    wanted: set[int] = set()
    for job in jobs:
        info = tracker.getJobInfo(job)
        if info is not None:
            wanted.update(int(s) for s in info.stageIds)
    jvm, gw = sc._jvm, sc._gateway
    store = sc._jsc.sc().statusStore()
    listed = store.stageList(None, False, False, gw.new_array(jvm.double, 0),
                             jvm.java.util.ArrayList())
    out = []
    it = listed.iterator()
    while it.hasNext():
        s = it.next()
        if s.stageId() not in wanted or s.status().toString() != "COMPLETE":
            continue
        sub, done = s.submissionTime(), s.completionTime()
        if not (sub.isDefined() and done.isDefined()):
            continue
        out.append({
            "stage": s.stageId(),
            "t0": sub.get().getTime() / 1e3,
            "t1": done.get().getTime() / 1e3,
            "tasks": s.numTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "input_bytes": s.inputBytes(),
            "input_rows": s.inputRecords(),
            "shuffle_read_bytes": s.shuffleReadBytes(),
            "shuffle_write_bytes": s.shuffleWriteBytes(),
        })
    return len(jobs), out
