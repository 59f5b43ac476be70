"""Spans around the library's public calls, recorded by the benchmark.

A span is ``{id, parent, name, t0, t1, op, ...attrs}`` with wall-clock
seconds (``time.time()``), so spans written by Spark's Python workers,
the driver and Spark's own stage records share one clock (local mode).

``install`` wraps the public calls named in ``WRAPPED`` in place. The
driver installs them before it imports ``__spark_entry__``; Python
workers install them at interpreter start through the ``hook``
directory's ``sitecustomize`` when the traced run puts that directory
on their path. Workers append spans as JSON lines to one file per
process; the driver keeps its spans in memory. Library files are not
touched: the wrappers replace module attributes in the running
process only.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import json
import os
import time

#: (module, attribute path, span name) of every wrapped public call.
#: ``operators.topk`` binds ``merge_blobs`` at import, so it is wrapped
#: in both modules.
WRAPPED = (
    ("heavykeeper_rs_spark.kernel", "hash_items", "kernel.hash"),
    ("heavykeeper_rs_spark.kernel", "hash_string_buffers", "kernel.hash"),
    ("heavykeeper_rs_spark.kernel", "hash_byte_slices", "kernel.hash"),
    ("heavykeeper_rs_spark.kernel", "HeavyKeeper.add_batch", "kernel.add"),
    ("heavykeeper_rs_spark.kernel", "HeavyKeeper.add_batch_hashed", "kernel.add"),
    ("heavykeeper_rs_spark.kernel", "HeavyKeeper.serialize", "kernel.codec.serialize"),
    ("heavykeeper_rs_spark.kernel", "HeavyKeeper.deserialize", "kernel.codec.deserialize"),
    ("heavykeeper_rs_spark.kernel", "HeavyKeeper.list", "runner.finalize"),
    ("heavykeeper_rs_spark.kernel", "merge_blobs", "kernel.merge"),
    ("heavykeeper_rs_spark.operators.topk", "merge_blobs", "kernel.merge"),
    ("heavykeeper_rs_spark.operators.topk", "estimate_partitions", "plan"),
    ("heavykeeper_rs_spark.operators.topk", "effective_scan_tasks", "plan"),
    ("heavykeeper_rs_spark.operators.topk", "parallelize_scan", "plan"),
    ("heavykeeper_rs_spark.operators.topk", "topk_sketch", "runner.topk_sketch"),
    ("heavykeeper_rs_spark.operators.topk", "topk", "runner.topk"),
    ("heavykeeper_rs_spark.operators.topk", "topk_tokens", "runner.topk"),
    ("heavykeeper_rs_spark.operators.topk", "local_result_df", "runner.finalize"),
)

#: Spark local property that marks the tasks of a traced operation
TRACE_PROP = "perfbench.trace.op"


class Recorder:
    """Span stack and sink of one process.

    ``op`` is the id of the traced operation in progress, or None when
    recording is off. Spans go to ``spans`` (driver) or, when ``path``
    names a directory, are appended as JSON lines to one file per
    process in it (workers, which fork after ``install``).
    """

    def __init__(self, path: str | None = None) -> None:
        self.path = path
        self.spans: list[dict] = []
        self.stack: list[int] = []
        self.op: int | None = None
        self._ids = itertools.count(1)

    def current_op(self) -> int | None:
        if self.path is None:
            return self.op
        from pyspark import TaskContext

        ctx = TaskContext.get()
        prop = ctx.getLocalProperty(TRACE_PROP) if ctx is not None else None
        return int(prop) if prop else None

    def begin(self, name: str, op: int) -> dict:
        span = {
            "id": next(self._ids),
            "parent": self.stack[-1] if self.stack else None,
            "name": name,
            "op": op,
            "t0": time.time(),
        }
        self.stack.append(span["id"])
        return span

    def end(self, span: dict, **attrs) -> None:
        """Close ``span`` now and emit it."""
        span["t1"] = time.time()
        self.stack.pop()
        span.update(attrs)
        self.emit(span)

    def emit(self, span: dict) -> None:
        if self.path is None:
            self.spans.append(span)
            return
        from pyspark import TaskContext

        ctx = TaskContext.get()
        if ctx is not None:
            span["stage"] = ctx.stageId()
            span["task"] = ctx.taskAttemptId()
        pid = os.getpid()
        span["id"] = f"{pid}-{span['id']}"
        if span["parent"] is not None:
            span["parent"] = f"{pid}-{span['parent']}"
        with open(os.path.join(self.path, f"w-{pid}.jsonl"), "a") as f:
            f.write(json.dumps(span) + "\n")


@contextlib.contextmanager
def span(recorder: Recorder, name: str):
    """Record one driver-side span of ``recorder`` (nothing while no
    operation is in progress)."""
    op = recorder.current_op()
    if op is None:
        yield
        return
    rec = recorder.begin(name, op)
    try:
        yield
    finally:
        recorder.end(rec)


def _attrs(name: str, fn_name: str, args: tuple, result) -> dict:
    """Work counts for a wrapped call, taken from its arguments and
    result. Only the integer lane of ``add_batch`` needs a pass over the
    data (its distinct-key count); the caller times that separately."""
    import numpy as np

    if name == "kernel.hash":
        n = int(np.asarray(args[0]).shape[0])
        return {"n": n - 1 if fn_name == "hash_string_buffers" else n}
    if name == "kernel.add":
        if fn_name == "add_batch_hashed":
            return {"n": int(np.asarray(args[2]).sum()),
                    "distinct": int(np.asarray(args[1]).shape[0])}
        items = np.asarray(args[1])
        out = {"n": int(items.shape[0])}
        if items.dtype.kind in "iu" and (len(args) < 3 or args[2] is None):
            import pandas as pd

            out["distinct"] = int(pd.unique(items).shape[0])
        return out
    if name == "kernel.codec.serialize":
        # describe()["fill"], computed directly: describe() raises on
        # int64 keys (mem_bytes takes len() of every tracked key)
        return {"bytes": len(result), "dense": result[4] == 1,
                "fill": float((args[0].counts > 0).mean())}
    if name == "kernel.codec.deserialize":
        return {"bytes": len(args[-1])}
    if name == "kernel.merge":
        return {"n": len(args[0]), "bytes": sum(len(b) for b in args[0])}
    return {}


def _wrap(fn, name: str, recorder: Recorder):
    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        op = recorder.current_op()
        if op is None:
            return fn(*args, **kwargs)
        rec = recorder.begin(name, op)
        try:
            result = fn(*args, **kwargs)
        except BaseException:
            recorder.end(rec, error=True)
            raise
        rec["t1"] = time.time()
        recorder.stack.pop()
        # counting is the benchmark's own work: a sibling "trace" span
        # keeps it out of the enclosing call's self time
        count = recorder.begin("trace", op)
        rec.update(_attrs(name, fn.__name__, args, result))
        recorder.end(count)
        recorder.emit(rec)
        return result

    return wrapper


def install(recorder: Recorder) -> None:
    """Wrap every call in ``WRAPPED`` so it records into ``recorder``."""
    import importlib

    for module_name, path, name in WRAPPED:
        owner = importlib.import_module(module_name)
        *outer, attr = path.split(".")
        for part in outer:
            owner = getattr(owner, part)
        raw = owner.__dict__[attr] if isinstance(owner, type) else getattr(owner, attr)
        if isinstance(raw, classmethod):
            setattr(owner, attr, classmethod(_wrap(raw.__func__, name, recorder)))
        else:
            setattr(owner, attr, _wrap(raw, name, recorder))


def read_worker_spans(trace_dir: str) -> list[dict]:
    """Every span the workers wrote under ``trace_dir``."""
    out: list[dict] = []
    for fname in sorted(os.listdir(trace_dir)):
        if fname.endswith(".jsonl"):
            with open(os.path.join(trace_dir, fname)) as f:
                out.extend(json.loads(line) for line in f if line.strip())
    return out


def self_times(spans: list[dict], extra_children: dict | None = None) -> dict:
    """Self time of every span: its duration minus the part of its
    interval that its children cover (union, clipped to the parent).

    ``extra_children`` maps a span id to further ``(t0, t1)`` intervals
    to treat as children (Spark stage intervals, for example).
    """
    kids: dict = {}
    for s in spans:
        if s.get("parent") is not None:
            kids.setdefault(s["parent"], []).append((s["t0"], s["t1"]))
    for sid, ivs in (extra_children or {}).items():
        kids.setdefault(sid, []).extend(ivs)
    return {
        s["id"]: (s["t1"] - s["t0"]) - covered(kids.get(s["id"], []), s["t0"], s["t1"])
        for s in spans
    }


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, end = 0.0, lo
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
