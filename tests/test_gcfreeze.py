"""Import-time heap freeze in Spark Python workers
(``heavykeeper_rs_spark.gcfreeze``), which keeps PySpark's per-task
``gc.collect()`` from re-scanning numpy and pandas."""

import os
import subprocess
import sys

import pyarrow as pa

from heavykeeper_rs_spark.kernel import HKParams
from heavykeeper_rs_spark.operators.topk import _build_partial

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _freeze_count_after_import(extra_env: dict) -> int:
    env = {k: v for k, v in os.environ.items() if k != "PYTHON_WORKER_FACTORY_SECRET"}
    env.update(extra_env)
    out = subprocess.run(
        [sys.executable, "-c", "import gc, heavykeeper_rs_spark; print(gc.get_freeze_count())"],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
        check=True,
    )
    return int(out.stdout.strip())


def test_driver_import_does_not_freeze():
    assert _freeze_count_after_import({}) == 0


def test_worker_marker_import_freezes():
    assert _freeze_count_after_import({"PYTHON_WORKER_FACTORY_SECRET": "x"}) > 0


def _run_in_workers(spark, probe):
    """Runs a library partial build then ``probe()`` in two Spark tasks;
    returns the probe's values."""
    build = _build_partial(HKParams(k=4, width=64, depth=2), 1, False)

    def report(batches):
        for _ in build(batches):
            pass
        yield pa.RecordBatch.from_pydict({"v": [probe()]})

    return [r.v for r in spark.range(0, 64, 1, 2).mapInArrow(report, "v long").collect()]


def test_spark_worker_heap_is_frozen(spark):
    def freeze_count():
        import gc

        return gc.get_freeze_count()

    counts = _run_in_workers(spark, freeze_count)
    assert len(counts) == 2 and all(c > 0 for c in counts)


def test_worker_cycles_made_after_freeze_are_collected(spark):
    def cycle_survives_collect():
        import gc
        import weakref

        class Node:
            pass

        a, b = Node(), Node()
        a.peer, b.peer = b, a
        ref = weakref.ref(a)
        del a, b
        gc.collect()
        return int(ref() is not None)

    assert _run_in_workers(spark, cycle_survives_collect) == [0, 0]
