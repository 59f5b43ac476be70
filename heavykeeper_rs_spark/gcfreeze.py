"""Freeze a Spark Python worker's import-time heap once, so the
daemon's per-task ``gc.collect()`` stops re-scanning it.

PySpark's daemon (``pyspark/daemon.py``) runs ``gc.collect()`` in each
forked worker after every task it reuses the worker for. A full
collection walks every object the collector tracks. Once this package
has imported numpy and pandas that is about 73k objects, 25-27 ms of
CPU per task on CPython 3.11, against about 10 ms with only pyspark
loaded. ``gc.freeze()`` moves every tracked object into the permanent
generation, which no collection scans; after it the same call costs
0.0-0.2 ms, even once the operators, ``pyarrow.compute`` and the entry
module are imported on top.

What the freeze gives up is bounded. Frozen objects are still freed by
reference counting. Only reference cycles among the objects alive at
the freeze (modules, classes, functions and the command of the task
that first imported this package) are never collected. That set exists
once per worker process and does not grow with the tasks the worker
runs, and ``install`` runs a full collection just before freezing, so
cycles that were already garbage are freed rather than frozen. Objects
made after the freeze, which is everything a task allocates, are
collected as before.

The freeze happens only in Spark's Python daemon and its workers, never
in the driver: the driver's heap keeps changing as jobs are planned and
its cyclic garbage must stay collectable. A worker is recognised by
the ``PYTHON_WORKER_FACTORY_SECRET`` variable, which the JVM sets in
the environment of the daemon it starts and so of every worker the
daemon forks, or by an active ``TaskContext``. The variable also covers the
package being imported in the daemon before it forks (from a
``sitecustomize`` hook, say), where no task is active yet; the freeze
then happens once in the daemon and every forked worker inherits it.

Freezing at the start of every task instead would freeze each task's
own cycles for good; ``gc.disable()`` does not stop an explicit
``gc.collect()``.
"""

from __future__ import annotations

import gc
import os
import sys

_frozen = False


def _in_spark_worker() -> bool:
    """True in a Spark Python daemon or worker process."""
    if os.environ.get("PYTHON_WORKER_FACTORY_SECRET"):
        return True
    # only look at TaskContext if pyspark is already loaded: importing
    # it here would cost every non-Spark user of the kernel
    taskcontext = sys.modules.get("pyspark.taskcontext")
    return taskcontext is not None and taskcontext.TaskContext.get() is not None


def install() -> None:
    """Collect, then freeze the tracked heap, once per process and only
    in a Spark Python worker (idempotent; a forked worker inherits the
    daemon's freeze)."""
    global _frozen
    if _frozen or not _in_spark_worker():
        return
    gc.collect()
    gc.freeze()
    _frozen = True
