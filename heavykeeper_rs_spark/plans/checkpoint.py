"""Per-partition lineage + metrics checkpointing for resumable sketch jobs.

North-rule contract: a 10^12-row build must survive preemption. The
partial (per-partition) sketches ARE the job state, so checkpointing
them makes the whole aggregation resumable:

- during the partial stage each task atomically writes
  ``{dir}/partials/part-{pid}.bin`` (temp + rename) plus a metrics
  JSON line (rows, uniques, seconds, mem_bytes, input lineage token);
- on re-run, a task whose blob already exists short-circuits: it
  emits the saved blob without doing any Python sketch work (the scan
  cost of already-done partitions is bounded by early-exit);
- blobs are validated against the job's params fingerprint — a
  checkpoint from a different sketch shape, build mode, or input
  lineage is refused, not silently merged;
- the combine stage is the SAME bounded-fan-in merge tree as the
  non-checkpointed paths (no reducer ever folds more than ``fan_in``
  blobs — at 10^5 partitions the critical path is
  O(fan_in · log_fan_in(n)) merges, not one O(n) fold);
- the final merged sketch is written to ``{dir}/final.bin``; a
  completed job resumes in O(1).

Two build modes share the machinery: plain-column top-K
(``topk_checkpointed``) and the flagship in-kernel tokenizer job
(``topk_tokens_checkpointed`` — the build most worth resuming at
100 TB).

On a real cluster ``dir`` is shared storage (S3/HDFS); locally it's a
directory. Only POSIX rename atomicity is assumed.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, IntegerType, StringType, StructField, StructType

from ..kernel import HeavyKeeper, HKParams, merge_blobs

_CKPT_SCHEMA = StructType(
    [
        StructField("salt", IntegerType(), False),
        StructField("sketch", BinaryType(), False),
        StructField("status", StringType(), False),
    ]
)


def _params_token(
    params: HKParams, lineage: str, n_parts: int, mode: str = "topk"
) -> str:
    """Job identity: sketch shape + build mode + input lineage +
    PARTITION LAYOUT.

    The partition count is part of the identity because partial blobs
    are keyed by partition id — a rerun that splits the same input
    differently (changed spark.sql.files.maxPartitionBytes, different
    parallelism, new files) would otherwise reuse blobs for partitions
    that now hold different rows, silently dropping/double-counting.
    A layout change makes the token mismatch and the job refuses the
    stale checkpoint instead. ``mode`` keeps a tokens build from
    resuming a plain-column build with the same params.
    """
    return (
        f"mode={mode};k={params.k};w={params.width};d={params.depth};"
        f"decay={params.decay};seed={params.seed};lineage={lineage};"
        f"n_parts={n_parts}"
    )


def _atomic_write(path: str, data: bytes) -> None:
    tmp = f"{path}.tmp.{os.getpid()}"
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


@dataclass
class CheckpointReport:
    total_partitions: int
    resumed_partitions: int
    computed_partitions: int
    final_was_cached: bool


def _parse_status(s: str) -> tuple[int, int]:
    res = comp = 0
    for part in s.split(","):
        kind, _, n = part.partition(":")
        if kind == "resumed":
            res += int(n)
        elif kind == "computed":
            comp += int(n)
    return res, comp


def _tree_merge_status(partials: DataFrame, n_groups: int, fan_in: int) -> DataFrame:
    """Bounded-fan-in merge tree over (salt, sketch, status) rows — the
    checkpoint twin of ``operators.topk._tree_merge`` that also folds
    the resumed/computed counters. ``salt`` starts as the partition id;
    each level integer-divides it by ``fan_in``, so no reducer ever
    folds more than ``fan_in`` blobs and 10^5 partitions merge through
    ~log_fan_in(10^5) levels instead of one sequential O(n) fold."""

    def merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
        blob = merge_blobs(list(pdf["sketch"]))
        res = comp = 0
        for s in pdf["status"]:
            r, c = _parse_status(s)
            res += r
            comp += c
        return pd.DataFrame(
            {
                "salt": [int(pdf["salt"].iloc[0])],
                "sketch": [blob],
                "status": [f"resumed:{res},computed:{comp}"],
            }
        )

    out = partials
    groups = max(int(n_groups), 1)
    fan_in = max(int(fan_in), 2)
    while groups > fan_in:
        out = (
            out.withColumn("salt", (F.col("salt") / fan_in).cast("int"))
            .groupBy("salt")
            .applyInPandas(merge_group, _CKPT_SCHEMA)
        )
        groups = -(-groups // fan_in)  # ceil div
    return out


def _checkpointed_sketch(
    keyed: DataFrame,
    params: HKParams,
    ckpt_dir: str,
    lineage: str,
    fan_in: int,
    mode: str,
    feed: Callable[[HeavyKeeper, pa.RecordBatch], int],
) -> tuple[HeavyKeeper, CheckpointReport]:
    """Shared resumable-build scaffold: per-partition partial blobs on
    shared storage, bounded-fan-in merge tree, O(1) completed-job
    resume. ``feed(sketch, batch) -> rows_consumed`` is the only
    mode-specific piece."""
    os.makedirs(f"{ckpt_dir}/partials", exist_ok=True)
    n_input_parts = max(keyed.rdd.getNumPartitions(), 1)
    token = _params_token(params, lineage, n_input_parts, mode)
    token_path = f"{ckpt_dir}/TOKEN"
    if os.path.exists(token_path):
        existing = open(token_path).read()
        if existing != token:
            raise ValueError(
                f"checkpoint dir {ckpt_dir} belongs to a different job: "
                f"{existing!r} != {token!r}"
            )
    else:
        _atomic_write(token_path, token.encode())

    final_path = f"{ckpt_dir}/final.bin"
    if os.path.exists(final_path):
        sk = HeavyKeeper.deserialize(open(final_path, "rb").read())
        n_parts = len(
            [f for f in os.listdir(f"{ckpt_dir}/partials") if f.endswith(".bin")]
        )
        return sk, CheckpointReport(n_parts, n_parts, 0, True)

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        blob_path = f"{ckpt_dir}/partials/part-{pid:05d}.bin"
        if os.path.exists(blob_path):
            # resume: emit the saved partial, skip all sketch work
            yield pa.RecordBatch.from_pydict(
                {
                    "salt": pa.array([pid], type=pa.int32()),
                    "sketch": pa.array([open(blob_path, "rb").read()], type=pa.binary()),
                    "status": pa.array(["resumed:1,computed:0"], type=pa.string()),
                }
            )
            return
        rng = np.random.default_rng(
            np.random.PCG64(((params.seed << 17) ^ 0x9E3779B97F4A7C15) + pid)
        )
        sk = HeavyKeeper(params, rng=rng)
        t0 = time.time()
        rows = 0
        for batch in batches:
            if batch.num_rows == 0:
                continue
            rows += feed(sk, batch)
        blob = sk.serialize()
        _atomic_write(blob_path, blob)
        metrics = {
            "pid": pid,
            "rows": rows,
            "tracked": len(sk.pq),
            "mem_bytes": sk.mem_bytes(),
            "seconds": round(time.time() - t0, 3),
            "token": token,
            "ts": time.time(),
        }
        _atomic_write(
            f"{ckpt_dir}/partials/part-{pid:05d}.metrics.json",
            json.dumps(metrics).encode(),
        )
        yield pa.RecordBatch.from_pydict(
            {
                "salt": pa.array([pid], type=pa.int32()),
                "sketch": pa.array([blob], type=pa.binary()),
                "status": pa.array(["resumed:0,computed:1"], type=pa.string()),
            }
        )

    partials = keyed.mapInArrow(build, _CKPT_SCHEMA)
    combined = _tree_merge_status(partials, n_input_parts, fan_in).collect()
    resumed = computed = 0
    for r in combined:
        res, comp = _parse_status(r["status"])
        resumed += res
        computed += comp
    blobs = [r["sketch"] for r in combined]
    if not blobs:
        sk = HeavyKeeper(params)
    else:
        sk = HeavyKeeper.deserialize(merge_blobs(blobs))
    _atomic_write(final_path, sk.serialize())
    summary = {
        "token": token,
        "resumed": resumed,
        "computed": computed,
        "tracked": len(sk.pq),
        "finished_ts": time.time(),
    }
    _atomic_write(f"{ckpt_dir}/SUMMARY.json", json.dumps(summary).encode())
    n_parts = len(
        [f for f in os.listdir(f"{ckpt_dir}/partials") if f.endswith(".bin")]
    )
    return sk, CheckpointReport(n_parts, resumed, computed, False)


def topk_checkpointed(
    df: DataFrame,
    col: str,
    params: HKParams,
    ckpt_dir: str,
    lineage: str = "",
    merge_groups: int = 8,
) -> tuple[HeavyKeeper, CheckpointReport]:
    """Resumable distributed HeavyKeeper build over one key column.

    Returns (sketch, report). ``lineage`` should identify the input
    (table path + snapshot/version — ``sources.catalog.snapshot_lineage``
    builds one); it is baked into the checkpoint token so stale
    checkpoints never silently merge. ``merge_groups`` is the merge
    tree's fan-in.
    """
    keyed = df.select(F.col(col).cast(StringType()).alias("__key"))

    def feed(sk: HeavyKeeper, batch: pa.RecordBatch) -> int:
        keys = batch.column(0).to_numpy(zero_copy_only=False)
        valid = pd.notna(keys)
        sk.add_batch(keys[valid])
        return int(valid.sum())

    return _checkpointed_sketch(
        keyed, params, ckpt_dir, lineage, merge_groups, "topk", feed
    )


def topk_tokens_checkpointed(
    df: DataFrame,
    text_col: str,
    params: HKParams,
    ckpt_dir: str,
    lineage: str = "",
    merge_groups: int = 8,
    token_re: str = "[a-z]+",
    max_token_len: int = 64,
) -> tuple[HeavyKeeper, CheckpointReport]:
    """Resumable FLAGSHIP build: in-kernel tokenization (the
    ``operators.topk.topk_tokens`` job — no explode, no token shuffle)
    with per-partition checkpoint/resume. At 100 TB this is the job
    most worth resuming: each partition's tokenizer pass is minutes of
    CPU, and a preempted executor costs exactly its unfinished
    partitions, not the run."""
    import re

    from ..operators.topk import _feed, _feed_tokens_arrow

    rex = re.compile(token_re)
    ascii_ok = token_re == "[a-z]+"
    keyed = df.select(F.col(text_col).cast(StringType()).alias("__text"))

    def feed(sk: HeavyKeeper, batch: pa.RecordBatch) -> int:
        if ascii_ok and _feed_tokens_arrow(
            sk, batch.column(0), max_token_len, params.seed
        ):
            col = batch.column(0)
            return batch.num_rows - col.null_count
        texts = batch.column(0).to_numpy(zero_copy_only=False)
        chunk: list[str] = []
        size = 0
        rows = 0
        for t in texts:
            if t is None:
                continue
            rows += 1
            chunk.append(t)
            size += len(t)
            if size < (4 << 20):
                continue
            _feed(sk, rex, chunk, max_token_len)
            chunk, size = [], 0
        if chunk:
            _feed(sk, rex, chunk, max_token_len)
        return rows

    return _checkpointed_sketch(
        keyed, params, ckpt_dir, lineage, merge_groups, "tokens", feed
    )


def read_metrics(ckpt_dir: str) -> list[dict]:
    out = []
    pdir = f"{ckpt_dir}/partials"
    if not os.path.isdir(pdir):
        return out
    for fn in sorted(os.listdir(pdir)):
        if fn.endswith(".metrics.json"):
            out.append(json.loads(open(f"{pdir}/{fn}").read()))
    return out
