"""Exact-answer cache for the benchmark's inputs.

Every run makes its inputs the same way, whether or not their answers
are cached: the sketch workloads write the library generator's output
to a parquet directory of the run's own, and ``query-suite`` reads the
tables under ``perfbench/data``. Only the exact answers are cached, in
``<cache>/exact/<workload>-<key>.json`` where ``key`` hashes the
workload's spec (generator, seed, sizes). An entry holds the spec, the
SHA-256 of the input files' rows and the answers; it is reused only
when both match. A miss computes the answers in a child process
(``python3 -m hkbench.fixtures <workload> <data_dir>``), so the run's
own process does the same work and holds the same memory on a hit as on
a miss.
"""

from __future__ import annotations

import hashlib
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)


def spec_key(spec: dict) -> str:
    return hashlib.sha256(json.dumps(spec, sort_keys=True).encode()).hexdigest()[:16]


def digest(data_dir: str) -> tuple[str, int]:
    """(SHA-256 over the rows of the parquet files, their total bytes).

    The hash covers each file's table as an Arrow IPC stream, not its
    bytes: Spark names its part files with a random id, and parquet-mr
    lists a column's encodings in an order that varies between JVMs."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    files, total = [], 0
    for dirpath, _, names in os.walk(data_dir):
        for name in names:
            if not name.endswith(".parquet") or name.startswith("."):
                continue  # Spark's _SUCCESS and .crc side files
            path = os.path.join(dirpath, name)
            table = pq.read_table(path)
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, table.schema) as writer:
                writer.write_table(table)
            files.append(hashlib.sha256(sink.getvalue()).hexdigest())
            total += os.path.getsize(path)
    return hashlib.sha256("\n".join(sorted(files)).encode()).hexdigest(), total


def entry_path(cache_dir: str, workload: str, spec: dict) -> str:
    return os.path.join(cache_dir, "exact", f"{workload}-{spec_key(spec)}.json")


def load(path: str, spec: dict, data_digest: str) -> dict | None:
    """The cached exact answers at ``path`` if spec and digest match."""
    try:
        with open(path) as f:
            entry = json.load(f)
    except (OSError, ValueError):
        return None
    if entry.get("spec") != spec or entry.get("digest") != data_digest:
        return None
    return entry["exact"]


def exact(cache_dir: str, workload: str, spec: dict, data_dir: str,
          data_digest: str) -> tuple[dict, bool]:
    """(exact answers for ``data_dir``, whether they came from the cache)."""
    path = entry_path(cache_dir, workload, spec)
    answers = load(path, spec, data_digest)
    if answers is not None:
        return answers, True
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join([ROOT, HERE] + [
        p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p])
    out = subprocess.run([sys.executable, "-m", "hkbench.fixtures", workload, data_dir],
                         cwd=HERE, env=env, check=True, capture_output=True, text=True)
    answers = json.loads(out.stdout)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        json.dump({"spec": spec, "digest": data_digest, "exact": answers}, f)
    os.replace(tmp, path)
    return answers, False


if __name__ == "__main__":
    from hkbench.workloads import WORKLOADS

    print(json.dumps(WORKLOADS[sys.argv[1]].exact(sys.argv[2])))
