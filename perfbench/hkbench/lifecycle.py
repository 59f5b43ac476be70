"""Spark session start and stop for one benchmark process."""

from __future__ import annotations

import os
import signal
import time

from . import proc

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def start(wl, cores: int, worker_path: list[str]):
    """A Spark session on ``local[cores]`` whose Python workers find the
    library (and ``worker_path``) on their path: they import the
    package to run the closures it ships, whatever the working directory."""
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + worker_path
        + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    from heavykeeper_rs_spark.session import get_spark

    spark = get_spark(app=f"perfbench-{wl.name}", master=f"local[{cores}]",
                      shuffle_partitions=cores)
    spark.sparkContext.setLogLevel("ERROR")
    for key, value in wl.spark_conf.items():
        spark.conf.set(key, value)
    prime(spark)
    return spark


def prime(spark) -> None:
    """Send five column types through one Arrow job before anything else.

    Which column types the JVM's Arrow writers see before the JIT
    compiles them decides how fast every later Arrow job runs. Left to
    chance, a fresh JVM settles in one of two states for its whole life:
    Spark's task threads spent 0.6-0.9 s or 1.2-1.9 s of CPU per
    u64-zipf operation, about half the runs each, the slow state
    spending its extra time in Arrow's struct-vector child lists
    (``AbstractStructVector.getChildren``, ``Arrays.copyOf``). After this
    job all ten runs tried landed in the slow state (1.7-2.3 s), the one
    a session reaches once it has run queries over mixed schemas."""
    import pyarrow as pa

    # nested, so the workers get it by value: they cannot import hkbench
    def count_rows(batches):
        rows = 0
        for batch in batches:
            rows += batch.num_rows
        yield pa.RecordBatch.from_pydict({"rows": [rows]})

    (spark.range(0, 400_000, 1, 4)
     .selectExpr("id", "CAST(id AS INT) AS i", "CAST(id AS DOUBLE) AS d",
                 "CAST(id AS STRING) AS s", "CAST(CAST(id AS STRING) AS BINARY) AS b")
     .mapInArrow(count_rows, "rows long")
     .collect())


def shutdown(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until every process
    this run started (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    started = proc.tree(os.getpid())[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the gateway JVM exits on stdin EOF
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
    deadline = time.monotonic() + 30
    while True:
        alive = [pid for pid in started if os.path.exists(f"/proc/{pid}")]
        if not alive:
            return
        if time.monotonic() > deadline:
            for pid in alive:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            deadline = float("inf")
        time.sleep(0.1)
