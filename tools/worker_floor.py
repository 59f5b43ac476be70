"""Per-task Python CPU floor of a Spark job that does nothing.

Usage: python tools/worker_floor.py [partitions] [jobs]

Runs a ``mapInArrow`` whose closure only imports this package and
drains its input, over ``partitions`` partitions (default 9, the
wide-merge partial stage), ``jobs`` times (default 20) after two
untimed warm-up jobs. Prints the Python CPU per job and per task, read
from ``/proc``, split into the driver process and the Spark Python
daemon plus its workers (every non-JVM process under the JVM,
including reaped workers). Whatever the worker side spends per task
here is fixed cost that every library task pays before it touches a
row. Run it from the repository root, so the workers import the
package from the working tree.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from heavykeeper_rs_spark.session import get_spark  # noqa: E402

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces: fields start after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def _descendants(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], list(children.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def python_cpu() -> tuple[float, float]:
    """(driver, daemon + workers) CPU seconds so far. The driver counts
    only itself; the workers side sums utime, stime and the reaped
    children's cutime, cstime of every non-JVM process under it."""
    me = _stat(os.getpid())
    driver = (int(me[11]) + int(me[12])) / _TICK
    workers = 0.0
    for pid in _descendants(os.getpid()):
        st = _stat(pid)
        if st is not None and _comm(pid) != "java":
            workers += sum(int(x) for x in st[11:15]) / _TICK
    return driver, workers


def noop(batches):
    import heavykeeper_rs_spark  # noqa: F401  (what every library task loads)

    for _ in batches:
        pass
    return iter(())


def main() -> None:
    parts = int(sys.argv[1]) if len(sys.argv) > 1 else 9
    jobs = int(sys.argv[2]) if len(sys.argv) > 2 else 20
    spark = get_spark(app="worker-floor", master=f"local[{len(os.sched_getaffinity(0))}]")
    spark.sparkContext.setLogLevel("ERROR")
    df = spark.range(0, parts, 1, parts).mapInArrow(noop, "id long")
    try:
        for _ in range(2):  # start the daemon and its workers, import the package
            df.collect()
        d0, w0 = python_cpu()
        for _ in range(jobs):
            df.collect()
        d1, w1 = python_cpu()
    finally:
        spark.stop()
    tasks = jobs * parts
    print(f"{jobs} jobs x {parts} tasks, Python CPU:")
    print(f"  driver            {(d1 - d0) / jobs:8.4f} s/job  {(d1 - d0) / tasks * 1e3:7.2f} ms/task")
    print(f"  daemon + workers  {(w1 - w0) / jobs:8.4f} s/job  {(w1 - w0) / tasks * 1e3:7.2f} ms/task")
    total = (d1 - d0) + (w1 - w0)
    print(f"  total             {total / jobs:8.4f} s/job  {total / tasks * 1e3:7.2f} ms/task")


if __name__ == "__main__":
    main()
