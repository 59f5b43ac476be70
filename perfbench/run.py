"""Benchmark of the heavykeeper_rs_spark library: one workload per run.

    python3 perfbench/run.py --workload u64-zipf --seed 1 --seconds 10 --trace 0

Runs from the root of a checkout. One client drives the workload's
operations in a closed loop (one operation in flight) on
``local[<cores>]`` until ``--seconds`` have passed, checks every result
against exact answers computed from the same seeded inputs, prints a
table and, as the last line, one JSON object. ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` records spans around the library's
public calls on every second operation and reports per-layer metrics.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(HERE, ".cache")

#: input checks (row digest) per run; setup_s takes their median
SETUP_REPS = 3
#: operations run before timing starts (one pass for query-suite)
WARMUP_OPS = 3


def _process_start() -> float:
    """Epoch seconds at which this process started."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + ticks / os.sysconf("SC_CLK_TCK")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    started = _process_start()
    args = _parse(argv)
    sys.path.insert(0, ROOT)
    if not os.path.isfile(os.path.join(ROOT, "__spark_entry__.py")):
        print(f"error: no library checkout at {ROOT}", file=sys.stderr)
        return 2
    try:
        import heavykeeper_rs_spark  # noqa: F401
    except ImportError as e:
        print(f"error: cannot import the library: {e}", file=sys.stderr)
        return 2
    from hkbench import fixtures, lifecycle, proc, spans, stats
    from hkbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"error: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    cores = len(os.sched_getaffinity(0))

    t = time.perf_counter()
    control_pre = proc.cpu_control()
    control_s = time.perf_counter() - t
    os.makedirs(CACHE, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix="run-", dir=CACHE)
    worker_path = []
    recorder = trace_dir = rss = None
    if args.trace:
        trace_dir = os.path.join(run_dir, "trace")
        os.makedirs(trace_dir)
        os.environ["PERFBENCH_TRACE_DIR"] = trace_dir
        worker_path = [os.path.join(HERE, "hook"), HERE]
        recorder = spans.Recorder()
        spans.install(recorder)
    t = time.perf_counter()
    spark = lifecycle.start(wl, cores, worker_path)
    session_s = time.perf_counter() - t
    try:
        boot_s = time.time() - started - control_s
        spec = wl.spec(args.seed)
        # the same steps whether or not the exact answers are cached:
        # write (or find) the input, then check it against the cache
        t = time.perf_counter()
        data_dir = wl.prepare(spark, args.seed, run_dir)
        source_s = time.perf_counter() - t
        reps = []
        for _ in range(SETUP_REPS):
            t = time.perf_counter()
            data_digest, data_bytes = fixtures.digest(data_dir)
            reps.append(time.perf_counter() - t)
        # left out of setup_s: a miss runs DuckDB in a child process
        t = time.perf_counter()
        exact, cached = fixtures.exact(CACHE, wl.name, spec, data_dir, data_digest)
        exact_s = time.perf_counter() - t
        rss = proc.PeakRss(os.getpid())
        ops = wl.operations(spark, data_dir)
        t = time.perf_counter()
        for i in range(max(WARMUP_OPS // len(ops), 1) * len(ops)):
            ops[i % len(ops)][1]()
        warm_s = time.perf_counter() - t
        setup_s = boot_s + source_s + statistics.median(reps) + warm_s

        run = _measure(spark, wl, ops, exact, args.seconds, recorder)
        layer = None
        if recorder is not None:
            layer = _layer_metrics(spark, wl, data_dir, run, recorder, trace_dir, cores,
                                   session_s, source_s, exact_s, data_bytes)
    finally:
        lifecycle.shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        if rss is not None:
            peak, peak_python = rss.stop()
    control_post = proc.cpu_control()

    times = run["times"]
    untraced = [dt for dt, traced in zip(times, run["traced"]) if not traced]
    by_op = _times_by_op(run, traced=False)
    py_cpu = _times_by_op(run, traced=False, field="python_cpu")
    # each operation's median first: a run of query-suite holds one or two
    # passes, and the median of its 15 leaves must not depend on which
    p50 = stats.p50([stats.p50(v) for v in by_op.values()])
    tail = stats.tail(untraced)
    units = wl.units(exact)
    quality = run["quality"]
    e2e = {
        "setup_s": (setup_s, "s"),
        "job_p50_s": (p50, "s"),
        "job_tail_s": (tail[0], "s") if tail else None,
        "keys_per_s": (units / p50, "keys/s") if wl.unit == "keys" else None,
        "docs_per_s": (units / p50, "docs/s") if wl.unit == "docs" else None,
        # one pass over the operation list, from each operation's median
        # (one operation outside query-suite)
        "suite_s": (sum(stats.p50(v) for v in by_op.values()), "s"),
        "recall_at_k": (min(q["recall_at_k"] for q in quality), "ratio") if quality else None,
        "count_are": (max(q["count_are"] for q in quality), "ratio") if quality else None,
        "error_rate": (stats.error_rate(run["raised"], run["wrong"], run["attempted"]), "ratio"),
        "peak_rss_mb": (peak / 2**20, "MB"),
        "python_peak_rss_mb": (peak_python / 2**20, "MB"),
        "cpu_s_per_op": (sum(run["cpu"].values()) / len(times), "s"),
        # each operation's median, averaged over the operation list
        "python_cpu_s_per_op": (statistics.mean(stats.p50(v) for v in py_cpu.values()), "s"),
    }
    print(f"workload {wl.name}  seed {args.seed}  local[{cores}]  "
          f"ops {run['attempted']} ({sum(run['traced'])} traced)  "
          f"measured {run['elapsed']:.1f}s  exact answers "
          f"{'cached' if cached else 'computed'} in {exact_s:.2f}s")
    print(f"  setup: process start to session {boot_s:.2f}s (session {session_s:.2f}s), "
          f"input {source_s:.2f}s, input check {statistics.median(reps):.2f}s, "
          f"warm-up {warm_s:.2f}s")
    for name, val in e2e.items():
        print(f"  {name:<20}" + (f"{val[0]:>16.6g} {val[1]}" if val else f"{'n/a':>16}"))
    print("  operation times (s): " + " ".join(f"{dt:.3f}" for dt in times))
    if tail:
        print(f"  job_tail_s is p{tail[1]:.1f} of {tail[2]} samples")
    else:
        print(f"  job_tail_s n/a: {len(untraced)} samples, fewer than "
              f"{stats.TAIL_BEYOND + 1}")
    n_ops = len(times)
    print("  JVM CPU per operation by thread (s): " + "  ".join(
        f"{k} {v / n_ops:.3f}" for k, v in run["jvm_threads"].items()))
    print(f"  cpu control (Mops/s, not gated): before {control_pre['median_mops']} "
          f"(spread {control_pre['spread']}), after {control_post['median_mops']} "
          f"(spread {control_post['spread']})")
    failed = run["raised"] + run["wrong"]
    if layer is None:
        metrics = {k: {"value": v[0], "unit": v[1]} for k, v in e2e.items()
                   if k in _gated()}
    else:
        _print_layers(layer)
        metrics = layer["metrics"]
    print(json.dumps({"correct": failed == 0, "attempted": run["attempted"],
                      "failed": failed, "metrics": metrics}))
    return 0


def _gated() -> set[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"] for m in json.load(f)["end_to_end"]}


def _measure(spark, wl, ops, exact, seconds, recorder) -> dict:
    """Closed loop over ``ops`` (whole passes) until ``seconds`` pass."""
    from hkbench import proc, sparkstats, spans

    sc = spark.sparkContext
    run = {"times": [], "python_cpu": [], "traced": [], "names": [], "quality": [],
           "ops": [], "raised": 0, "wrong": 0, "attempted": 0}
    cpu0 = proc.cpu_seconds(os.getpid())
    threads0 = proc.jvm_threads(os.getpid())
    t_begin = time.perf_counter()
    # a traced run needs a traced and an untraced time of every operation:
    # two passes, since every second operation is traced
    least = 2 * len(ops) if recorder is not None else 1
    while time.perf_counter() - t_begin < seconds or run["attempted"] < least:
        for name, fn in ops:
            run["attempted"] += 1
            traced = recorder is not None and run["attempted"] % 2 == 0
            op_id = run["attempted"]
            py0 = proc.cpu_seconds(os.getpid())["python"]
            if traced:
                sc.setJobGroup(f"perfbench-{op_id}", name)
                sc.setLocalProperty(spans.TRACE_PROP, str(op_id))
                recorder.op = op_id
            try:
                with spans.span(recorder, "op") if traced else contextlib.nullcontext():
                    t0 = time.perf_counter()
                    result = fn()
                    dt = time.perf_counter() - t0
            except Exception:
                run["raised"] += 1
                traceback.print_exc(file=sys.stderr)
                continue
            finally:
                if traced:
                    recorder.op = None
                    sc.setLocalProperty(spans.TRACE_PROP, None)
                    sc.setJobGroup("perfbench-untraced", "")
            run["python_cpu"].append(proc.cpu_seconds(os.getpid())["python"] - py0)
            run["times"].append(dt)
            run["traced"].append(traced)
            run["names"].append(name)
            verdict = wl.check(name, result, exact)
            if not verdict["ok"]:
                run["wrong"] += 1
                print(f"wrong result: {name} {verdict}", file=sys.stderr)
            if "recall_at_k" in verdict:
                run["quality"].append(verdict)
            if traced:
                jobs, stages = sparkstats.job_stages(sc, f"perfbench-{op_id}")
                run["ops"].append({"op": op_id, "name": name, "wall": dt,
                                   "jobs": jobs, "stages": stages})
    run["elapsed"] = time.perf_counter() - t_begin
    cpu1 = proc.cpu_seconds(os.getpid())
    run["cpu"] = {k: cpu1[k] - cpu0[k] for k in cpu0}
    run["jvm_threads"] = proc.jvm_thread_cpu(threads0, proc.jvm_threads(os.getpid()))
    return run


def _times_by_op(run: dict, traced: bool, field: str = "times") -> dict[str, list[float]]:
    """Operation name -> wall times (or another per-operation ``field``)
    of its traced (or untraced) runs."""
    out: dict = {}
    for name, dt, was_traced in zip(run["names"], run[field], run["traced"]):
        if was_traced == traced:
            out.setdefault(name, []).append(dt)
    return out


def _median_time(fn, reps: int) -> float:
    out = []
    for _ in range(reps):
        t = time.perf_counter()
        fn()
        out.append(time.perf_counter() - t)
    return statistics.median(out)


def _layer_metrics(spark, wl, data_dir, run, recorder, trace_dir, cores, session_s,
                   source_s, exact_s, data_bytes) -> dict:
    """Per-layer table and metrics of a traced run (probes run after
    the measured loop, so they do not disturb it)."""
    import pyarrow as pa

    from hkbench import layers, stats
    from hkbench.spans import read_worker_spans, self_times
    from heavykeeper_rs_spark.operators import topk as topk_mod

    job_floor = _median_time(lambda: spark.range(1).count(), 5)
    projected = wl.projected(wl.input_df(spark, data_dir))
    plan_s = _median_time(lambda: (topk_mod.estimate_partitions(projected),
                                   topk_mod.effective_scan_tasks(projected),
                                   topk_mod.parallelize_scan(projected)), 3)

    def drain(batches):
        rows = 0
        for b in batches:
            rows += b.num_rows
        yield pa.RecordBatch.from_pydict({"rows": [rows]})

    scan_runs = []
    for _ in range(3):
        t = time.perf_counter()
        per_task = [r["rows"] for r in projected.mapInArrow(drain, "rows long").collect()]
        scan_runs.append((time.perf_counter() - t, per_task))
    scan_s, per_task = sorted(scan_runs)[1]

    driver = recorder.spans
    workers = read_worker_spans(trace_dir)
    driver_self = self_times(driver)
    worker_self = self_times(workers)
    own = {**driver_self, **worker_self}
    by_op: dict = {}
    for s in driver + workers:
        by_op.setdefault(s["op"], []).append(s)
    traced_ops = run["ops"]
    n = len(traced_ops)
    table = dict.fromkeys(layers.ROWS, 0.0)
    for op in traced_ops:
        spans_of = by_op.get(op["op"], [])
        rows = layers.attribute([s for s in spans_of if "stage" not in s],
                                [s for s in spans_of if "stage" in s], op["stages"], cores)
        for k, v in rows.items():
            table[k] += v / n
    every = [s for op in traced_ops for s in by_op.get(op["op"], [])]

    def total(name, field=None):
        """(self seconds, or the sum of ``field``; span count) of ``name``."""
        sel = [s for s in every if s["name"] == name]
        return sum(own[s["id"]] if field is None else s.get(field, 0) for s in sel), len(sel)

    hash_s, _ = total("kernel.hash")
    hash_n, _ = total("kernel.hash", "n")
    add_s, _ = total("kernel.add")
    add_n, _ = total("kernel.add", "n")
    with_distinct = [s for s in every if s["name"] == "kernel.add" and "distinct" in s]
    ser = [s for s in every if s["name"] == "kernel.codec.serialize" and "stage" in s]
    ser_s, _ = total("kernel.codec.serialize")
    ser_all = [s for s in every if s["name"] == "kernel.codec.serialize"]
    de_s, de_n = total("kernel.codec.deserialize")
    fold = [s for s in every if s["name"] == "kernel.merge" and "stage" not in s]
    add_stages = {s["stage"] for s in every if s["name"] == "kernel.add" and "stage" in s}
    merge_stages = {s["stage"] for s in every if s["name"] == "kernel.merge" and "stage" in s}
    all_stages = [st for op in traced_ops for st in op["stages"]]
    partial = [st for st in all_stages if st["stage"] in add_stages]
    tree = [st for st in all_stages if st["stage"] in merge_stages]
    treated = _times_by_op(run, traced=True)
    plain = _times_by_op(run, traced=False)
    # per operation first: in query-suite the traced and untraced
    # operations of a pass are different leaves
    overhead = stats.p50([stats.p50(treated[k]) - stats.p50(plain[k])
                          for k in treated if k in plain])
    cpu = run["cpu"]
    m = {
        "session.start_s": (session_s, "s"),
        # the input write (sketch workloads; 0 for the fixed query-suite tables)
        "sources.fixture_s": (source_s, "s"),
        "sources.fixture_bytes": (data_bytes, "bytes"),
        # exact answers: the cache load on a hit, the DuckDB child on a miss
        "sources.exact_s": (exact_s, "s"),
        "spark.job_floor_s": (job_floor, "s"),
        "spark.jobs_per_op": (sum(op["jobs"] for op in traced_ops) / n, "count"),
        "spark.stages_per_op": (len(all_stages) / n, "count"),
        "spark.tasks_per_op": (sum(st["tasks"] for st in all_stages) / n, "count"),
        "scan.s": (scan_s, "s"),
        "scan.rows_per_s": (sum(per_task) / scan_s, "rows/s"),
        "scan.input_bytes": (wl.projected_bytes(data_dir), "bytes"),
        "scan.nonempty_tasks": (sum(1 for r in per_task if r > 0), "count"),
        "plan.probe_s": (plan_s, "s"),
        "kernel.hash_ns_per_key": (1e9 * hash_s / max(hash_n, 1), "ns"),
        "kernel.add_ns_per_key": (1e9 * add_s / max(add_n, 1), "ns"),
        "kernel.distinct_ratio": (sum(s["distinct"] for s in with_distinct)
                                  / max(sum(s["n"] for s in with_distinct), 1), "ratio"),
        "kernel.fill": (statistics.mean(s["fill"] for s in ser) if ser else 0.0, "ratio"),
        "codec.serialize_ms": (1e3 * ser_s / max(len(ser_all), 1), "ms"),
        "codec.deserialize_ms": (1e3 * de_s / max(de_n, 1), "ms"),
        "codec.blob_bytes": (statistics.mean(s["bytes"] for s in ser) if ser else 0.0, "bytes"),
        "codec.dense_share": (sum(1 for s in ser if s["dense"]) / max(len(ser), 1), "ratio"),
        "merge.blobs": (len(ser) / n, "count"),
        "merge.fold_ms": (1e3 * sum(own[s["id"]] for s in fold) / n, "ms"),
        "merge.collect_bytes": (sum(s["bytes"] for s in fold) / n, "bytes"),
        "merge.tree_task_s": (sum(st["run_s"] for st in tree) / n, "s"),
        "merge.shuffle_bytes": (sum(st["shuffle_write_bytes"] for st in all_stages) / n,
                                "bytes"),
        "runner.partial_task_s": (sum(st["run_s"] for st in partial) / n, "s"),
        "runner.partial_cpu_s": (sum(st["cpu_s"] for st in partial) / n, "s"),
        "runner.finalize_s": (table["runner.finalize"], "s"),
        "proc.jvm_cpu_s": (cpu["jvm"] / len(run["times"]), "s"),
        "proc.python_cpu_s": (cpu["python"] / len(run["times"]), "s"),
        # the JVM's executor task threads alone: parquet decode, Arrow
        # transfer, Spark's own operators
        "proc.jvm_task_cpu_s": (run["jvm_threads"]["task"] / len(run["times"]), "s"),
        "proc.jvm_jit_cpu_s": (run["jvm_threads"]["jit"] / len(run["times"]), "s"),
        "proc.cpu_util": ((cpu["jvm"] + cpu["python"]) / (run["elapsed"] * cores), "ratio"),
        "trace.overhead_s": (overhead, "s"),
    }
    # the table rows, except spark.exec (idle outside query-suite), the
    # benchmark's own trace row and runner.finalize (reported above)
    for row in layers.ROWS:
        if row not in ("spark.exec", "trace", "runner.finalize"):
            m[f"layer.{row}_s"] = (table[row], "s")
    extra = {
        "traced job_p50_s": stats.p50([stats.p50(v) for v in treated.values()]),
        "untraced job_p50_s": stats.p50([stats.p50(v) for v in plain.values()]),
    }
    if len(plain) > 1:
        for name, walls in plain.items():
            extra[f"query.{name}_s"] = statistics.median(walls)
    return {"table": table, "extra": extra,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in m.items()}}


def _print_layers(layer) -> None:
    from hkbench import layers

    table = layer["table"]
    total = sum(table.values())
    print("  per-layer wall time per traced operation (mean)")
    for name in layers.ROWS:
        print(f"    {name + '_s':<20}{table[name]:>10.4f} s  {100 * table[name] / total:5.1f}%")
    print(f"    {'sum':<20}{total:>10.4f} s")
    for name, note in layers.NOTES.items():
        print(f"    {name}: {note}")
    for name, val in layer["extra"].items():
        print(f"  {name:<34}{val:>14.6g}")
    for name, val in layer["metrics"].items():
        print(f"  {name:<34}{val['value']:>14.6g} {val['unit']}")


if __name__ == "__main__":
    sys.exit(main())
