"""Per-layer attribution of one traced operation's wall time.

Inputs are the operation's spans (driver and workers) and the Spark
stages it ran. The driver timeline is the operation span with its
children: driver-side spans around public calls, and Spark's stage
intervals, which the driver waits on. Inside a stage, work is in task
time across parallel tasks: worker spans give each layer's task time,
and the rest of the stage's task time is that stage's remainder. A
stage's wall time is split in two: ``spark`` (scheduling) is the part
its tasks' run time cannot fill at the stage's parallelism; the rest
goes to layers in proportion to their task time. Driver time under no
span and no stage is ``unattributed``.
"""

from __future__ import annotations

from .spans import self_times

#: table rows, in print order
ROWS = (
    "plan",
    "scan",
    "kernel.hash",
    "kernel.add",
    "kernel.codec",
    "kernel.merge",
    "runner.finalize",
    "spark",
    "spark.exec",
    "trace",
    "unattributed",
)

#: how each row is measured (printed under the table)
NOTES = {
    "scan": "remainder of the partial-build stage: parquet scan, JVM->Arrow, "
            "batch coalescing and any tokenizing (no public entry point)",
    "kernel.merge": "merge_blobs, plus the remainder of applyInPandas tree stages",
    "spark": "stage wall time not filled by task run time (job/stage/task scheduling)",
    "spark.exec": "task time of stages that run no library call (JVM-only query work)",
    "trace": "the benchmark's own counting inside traced calls",
    "unattributed": "driver time under no span and no stage",
}


def _row(span_name: str) -> str:
    if span_name.startswith("kernel.codec"):
        return "kernel.codec"
    if span_name in ("runner.topk", "runner.topk_sketch", "op"):
        return "unattributed"
    return span_name


def attribute(driver: list[dict], workers: list[dict], stages: list[dict], cores: int) -> dict:
    """Seconds of the operation's wall time per row of ``ROWS``."""
    rows = dict.fromkeys(ROWS, 0.0)
    # each stage interval is a child of the deepest driver span holding it
    extra: dict = {}
    for st in stages:
        mid = (st["t0"] + st["t1"]) / 2
        holders = [s for s in driver if s["t0"] <= mid <= s["t1"]]
        if holders:
            owner = max(holders, key=lambda s: s["t0"])
            extra.setdefault(owner["id"], []).append((st["t0"], st["t1"]))
    driver_self = self_times(driver, extra)
    for s in driver:
        rows[_row(s["name"])] += driver_self[s["id"]]
    worker_self = self_times(workers)
    for st in stages:
        wall = st["t1"] - st["t0"]
        mine = [s for s in workers if s.get("stage") == st["stage"]]
        task = {}
        for s in mine:
            task[_row(s["name"])] = task.get(_row(s["name"]), 0.0) + worker_self[s["id"]]
        run = max(st["run_s"], sum(task.values()))
        names = {s["name"] for s in mine}
        if "kernel.add" in names:
            rest = "scan"
        elif "kernel.merge" in names:
            rest = "kernel.merge"
        else:
            rest = "spark.exec"
        task[rest] = task.get(rest, 0.0) + run - sum(task.values())
        busy = min(wall, run / max(min(st["tasks"], cores), 1))
        rows["spark"] += wall - busy
        for name, secs in task.items():
            if run > 0:
                rows[name] += busy * secs / run
    return rows
