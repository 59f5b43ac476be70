"""Process-tree resource readings from ``/proc`` and the CPU control."""

from __future__ import annotations

import os
import threading
import time

_TICK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat_path(path: str) -> list[str] | None:
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    # comm may hold spaces: fields start after the last ')'
    return raw[raw.rindex(")") + 2 :].split()


def _stat(pid: int) -> list[str] | None:
    return _stat_path(f"/proc/{pid}/stat")


def tree(root: int) -> list[int]:
    """``root`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st is not None:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, []))
    return out


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


def cpu_seconds(root: int) -> dict[str, float]:
    """CPU seconds (user + system, including reaped children) of the
    tree under ``root``, split into the JVM and Python processes."""
    out = {"jvm": 0.0, "python": 0.0}
    for pid in tree(root):
        st = _stat(pid)
        if st is None:
            continue
        # fields 14-17 of stat (utime stime cutime cstime), 0-based 11-14 here
        secs = sum(int(x) for x in st[11:15]) / _TICK
        out["jvm" if _comm(pid) == "java" else "python"] += secs
    return out


def _thread_kind(name: str) -> str:
    if name.startswith("Executor task"):
        return "task"
    if name.startswith(("C1 ", "C2 ")):
        return "jit"
    if name.startswith(("GC ", "G1 ", "VM Thread")):
        return "gc"
    return "other"


def jvm_threads(root: int) -> dict[int, tuple[str, float]]:
    """Thread id -> (kind, CPU seconds) of the JVMs in the tree under
    ``root``. Kinds: ``task`` (Spark executor task threads), ``jit``
    (C1/C2 compiler threads), ``gc`` and ``other``."""
    out = {}
    for pid in tree(root):
        if _comm(pid) != "java":
            continue
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            st = _stat_path(f"/proc/{pid}/task/{tid}/stat")
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    name = f.read().strip()
            except OSError:
                continue
            if st is not None:
                out[int(tid)] = (_thread_kind(name), (int(st[11]) + int(st[12])) / _TICK)
    return out


def jvm_thread_cpu(before: dict, after: dict) -> dict[str, float]:
    """CPU seconds per thread kind between two ``jvm_threads`` readings.
    Compiler threads come and go: one that exits in between is missed."""
    out = {"task": 0.0, "jit": 0.0, "gc": 0.0, "other": 0.0}
    for tid, (kind, secs) in after.items():
        out[kind] += secs - before.get(tid, (kind, 0.0))[1]
    return out


class PeakRss:
    """Samples the summed RSS of the process tree under ``root`` on a
    daemon thread until ``stop``: RSS every ``interval`` seconds, the
    tree's membership (a full /proc walk) every ``rescan`` seconds.
    ``peak`` is the whole tree's; ``peak_python`` that of its Python
    processes alone (driver, daemon, workers: the library's memory)."""

    def __init__(self, root: int, interval: float = 0.02, rescan: float = 0.5) -> None:
        self.root, self.interval, self.rescan = root, interval, rescan
        self.peak = self.peak_python = 0
        self._halt = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        jvm, python, scanned = [], [], 0.0
        while not self._halt.is_set():
            now = time.monotonic()
            if now - scanned >= self.rescan:
                pids, scanned = tree(self.root), now
                jvm = [p for p in pids if _comm(p) == "java"]
                python = [p for p in pids if p not in jvm]
            py = rss_bytes(python)
            self.peak_python = max(self.peak_python, py)
            self.peak = max(self.peak, py + rss_bytes(jvm))
            self._halt.wait(self.interval)

    def stop(self) -> tuple[int, int]:
        """``(peak, peak_python)`` in bytes."""
        self._halt.set()
        self._thread.join(timeout=5)
        return self.peak, self.peak_python


def _burn(n: int) -> int:
    # the loop of bench.py's _cpu_control, kept identical so the rates compare
    x = 0
    for i in range(n):
        x += i * i
    return x


def cpu_control(reps: int = 3, n: int = 2_000_000) -> dict:
    """No-Spark single-core CPU rate (million loop steps per second).
    Recorded beside the metrics, never gated: a run on a contended box
    reads low here."""
    rates = []
    for _ in range(reps):
        t0 = time.perf_counter()
        _burn(n)
        rates.append(n / (time.perf_counter() - t0))
    rates.sort()
    return {
        "median_mops": round(rates[len(rates) // 2] / 1e6, 2),
        "spread": round((rates[-1] - rates[0]) / rates[-1], 3),
    }
