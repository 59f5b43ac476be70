"""Distributed HeavyKeeper top-K over a DataFrame column.

The reference's build → merge → list flow (examples/ip_files.rs +
src/heavykeeper.rs:406-457) re-expressed as a Spark two-phase
aggregate, exactly the shape of Catalyst's HashAggregateExec pair:

  partial:  per-partition sketch build inside ``mapInArrow`` (Arrow
            batches → np.unique pre-aggregation → vectorized kernel)
  combine:  salted multi-level ``groupBy(salt).applyInPandas`` merge
            tree with bounded fan-in (see ``_tree_merge``) — the
            explicit skew control demanded by the north rule: no
            single reducer ever merges more than ``fan_in`` blobs
  final:    driver merges the ≤ fan_in surviving blobs and emits an
            ordered result DataFrame

Scale notes (100 TB / 1000-executor thinking):
- The shuffles move only sketch blobs (~KiB–MiB each), never row
  data. Input rows are consumed map-side.
- Column pruning: we select ONLY the key column before mapInArrow, so
  the parquet scan reads a single column (verify via .explain →
  ReadSchema; PLANS.md captures the plans).
- Tree depth = ceil(log_fan_in(partitions)) is derived from the known
  partition count, so small jobs keep a single shuffle while 10^5
  partitions get ~5 levels of 8-way merges.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..kernel import HeavyKeeper, HKParams, merge_blobs
from ..variants import BucketedTopK, CuckooTopK

_BLOB_SCHEMA = StructType(
    [StructField("salt", IntegerType(), False), StructField("sketch", BinaryType(), False)]
)

#: sketch-variant registry (README.md:48-51: all three expose one API)
VARIANTS = {
    "topk": None,  # canonical depth-row HeavyKeeper (kernel.HeavyKeeper)
    "bucketed": BucketedTopK,
    "cuckoo": CuckooTopK,
}

#: Default candidate-pool floor for the DISTRIBUTED top-k operators.
#:
#: The final top-k is chosen from the UNION of the partials' priority
#: queues (cells carry only fingerprints, so an item no partial ever
#: admitted cannot be *named* at merge time). On a near-uniform domain
#: of D keys, a k-sized partial PQ is sampled almost uniformly from
#: the D keys, so a true top-k member survives P partitions with
#: probability ~ 1 - (1 - k/D)^P — at D=800, k=20, P=32 that loses
#: ~1 in 4 of the true top-20 (observed at the 100x rehearsal).
#: Tracking ``max(base, 256)`` candidates per partial (base = 2k with
#: tie_break_key, else k) drives the miss probability below 1e-5
#: there while costing only ~tens of KiB per
#: blob next to the MiB-scale cell arrays. ``candidates=`` overrides
#: the floor in either direction (e.g. huge grouped jobs where blob
#: count x PQ size dominates shuffle bytes). The kernel-level sketch
#: (``topk_sketch``, ``contains_top_k``) keeps the reference's exact
#: k-sized PQ semantics — the floor applies only to operators that
#: cut their result back to k rows.
_CANDIDATE_FLOOR = 256


def _track_k(k: int, tie_break_key: bool, candidates: int | None) -> int:
    """Partial-PQ size for a distributed top-``k`` (see
    ``_CANDIDATE_FLOOR``)."""
    base = 2 * k if tie_break_key else k
    return max(base, _CANDIDATE_FLOOR if candidates is None else int(candidates))


def local_result_df(spark: SparkSession, data: list, schema) -> DataFrame:
    """Tiny driver-side result list -> DataFrame via pandas/Arrow.

    ``createDataFrame(list_of_tuples)`` schedules a
    defaultParallelism-task Python-RDD job (~2s of worker round-trips
    on local[32]) even for 10 rows; the pandas path converts to Arrow
    on the driver and costs zero tasks."""
    from pyspark.sql.types import _parse_datatype_string

    st = schema
    if isinstance(st, str):
        st = _parse_datatype_string(st)
    pdf = pd.DataFrame(data, columns=[f.name for f in st.fields])
    return spark.createDataFrame(pdf, schema=st)


def ensure_parallelism(keyed: DataFrame) -> DataFrame:
    """Round-robin a small (single-split) input to defaultParallelism.

    Use ONLY in front of kernels whose per-row Python compute clearly
    outweighs a row shuffle (measured: minhash/simhash shingling,
    signature matmuls — 1.5s+/partition). The plain sketch builders are
    ~10x cheaper than the exchange they'd pay, so they deliberately do
    NOT use this; at corpus scale the scan yields >> defaultParallelism
    splits and parallelism comes for free either way.

    The repartition DECISION needs the exact partition count (an
    estimate could insert a needless exchange on an already-parallel
    input), so this is the one remaining site that compiles the plan
    to an RDD — via the JVM-side handle, skipping the Python-RDD
    wrapper ``df.rdd`` builds (~140 ms vs ~80 ms per call on this
    box; a fixed driver cost, not a scale term)."""
    par = keyed.sparkSession.sparkContext.defaultParallelism
    try:
        n = int(keyed._jdf.rdd().getNumPartitions())
    except Exception:
        n = keyed.rdd.getNumPartitions()
    if n < par:
        return keyed.repartition(par)
    return keyed


def effective_scan_tasks(df: DataFrame) -> int:
    """Estimate how many scan tasks will carry ROWS — not how many
    splits exist. Parquet assigns a row group to the split holding its
    midpoint, so a 100 MB single-row-group file yields 32 splits but
    ONE non-empty task: every `n < defaultParallelism` check based on
    RDD partition counts is blind to it (the round-8 finding — at sf1
    every single-row-group table ran its whole scan+kernel on one core
    of 32). Driver cost is bounded: footers are only read when the
    input is FEWER files than cores (each footer read is ~ms on any
    FS); many-file inputs return the file count unread, and non-parquet
    or unreachable files fall back to the optimistic split count so no
    needless exchange is inserted at scale."""
    par = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    try:
        files = df.inputFiles()
    except Exception:
        return par
    if not files or len(files) >= par:
        return max(len(files), par)
    total_rg = 0
    for f in files:
        path = f[7:] if f.startswith("file://") else f
        if not path.endswith(".parquet") or not os.path.exists(path):
            return par  # unknown layout: assume the scan splits fine
        try:
            import pyarrow.parquet as _pq

            total_rg += _pq.ParquetFile(path).num_row_groups
        except Exception:
            return par
    return max(total_rg, 1)


#: parallelize_scan fan-out floor: inputs smaller than this many
#: compressed bytes are NOT worth an exchange — a single task chews
#: through them faster than a repartition stage round-trips (measured
#: at sf0.1: fanning out a 0.6 MB documents scan cost +0.1-0.3 s per
#: query). Size-based, so the SAME code takes the single-task plan on
#: toy inputs and the fan-out on anything where one core would be the
#: bottleneck; override via HK_SCAN_FANOUT_MIN_MB.
_FANOUT_MIN_BYTES = int(
    float(os.environ.get("HK_SCAN_FANOUT_MIN_MB", "4")) * (1 << 20)
)


def _input_bytes(files: list[str]) -> int | None:
    """Total size of local input files; None when any is unsizeable
    (remote FS — callers then assume 'large')."""
    total = 0
    for f in files:
        path = f[7:] if f.startswith("file://") else f
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    return total


def parallelize_scan(df: DataFrame) -> DataFrame:
    """Round-robin-repartition a scan whose EFFECTIVE task count (row
    groups, not splits — see ``effective_scan_tasks``) is below
    defaultParallelism. Use in front of compute that clearly outweighs
    one row exchange of the projected columns (regex tokenization,
    Python kernels); at corpus scale the scan has >= cores row groups
    and this is a no-op, so the exchange only ever exists where the
    alternative was leaving most of the machine idle. Inputs below
    ``_FANOUT_MIN_BYTES`` stay single-task — on toy inputs the
    exchange costs more than it saves (both directions measured)."""
    par = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if files:
        size = _input_bytes(files)
        if size is not None and size < _FANOUT_MIN_BYTES:
            return df
    n = effective_scan_tasks(df)
    if n < par:
        return df.repartition(par)
    return df


def estimate_partitions(df: DataFrame, bias: str = "high") -> int:
    """Cheap physical-partition ESTIMATE — no plan-to-RDD compile.

    ``df.rdd.getNumPartitions()`` costs ~140 ms of driver time per
    query (Python-RDD wrapper + plan compile; round-3 judged it a
    fixed overhead worth removing). The consumers here tolerate
    estimation error, so a file-listing heuristic suffices:

    - ``bias="high"`` (merge-tree sizing): max(#input files,
      defaultParallelism). Overestimate ⇒ a few empty salt groups /
      at most one extra near-empty tree level; underestimate ⇒ pids
      wrap modulo the estimate and fan in earlier. Both correct.
    - ``bias="low"`` (per-partition reservoir sizing): min(#input
      files, defaultParallelism). The safe error direction here is a
      SMALL count (it enlarges the per-partition reservoir): Spark
      bin-packs small files, so a raw file count can be far ABOVE the
      actual split count — sizing the reservoir by it would starve the
      sample (200 packed files ⇒ m≈10 over ~8 real splits). min(...)
      caps that: a single file reports 1 (full reservoir per split),
      and many files report defaultParallelism at most.
    """
    par = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    try:
        n_files = len(df.inputFiles())
    except Exception:
        n_files = 0
    if bias == "low":
        return max(min(n_files, par), 1) if n_files else par
    return max(n_files, par)


def _dict_encodable(t: pa.DataType) -> bool:
    return (
        pa.types.is_string(t)
        or pa.types.is_large_string(t)
        or pa.types.is_binary(t)
        or pa.types.is_large_binary(t)
    )


def _make_sketch(variant: str, params: HKParams, rng):
    if variant == "topk":
        return HeavyKeeper(params, rng=rng)
    cls = VARIANTS[variant]
    return cls(
        params.k, params.width, params.depth, params.decay, params.seed, rng=rng
    )


def _deserialize_variant(variant: str, blob: bytes):
    if variant == "topk":
        return HeavyKeeper.deserialize(blob)
    return VARIANTS[variant].deserialize(blob)


def _merge_variant_blobs(variant: str, blobs: list[bytes]) -> bytes:
    if variant == "topk":
        return merge_blobs(blobs)
    acc = _deserialize_variant(variant, blobs[0])
    for b in blobs[1:]:
        acc.merge(_deserialize_variant(variant, b))
    return acc.serialize()


def _feed_str_col(sk, col: pa.Array, w: np.ndarray | None, seed: int, hashed: bool):
    """Feed a non-null Arrow string/binary column into a sketch.

    ``hashed=True`` (canonical kernel): dictionary-encode (C pass),
    hash the DISTINCT values straight off the Arrow buffers
    (``hash_string_buffers``) and insert via ``add_batch_hashed`` —
    zero per-key Python objects; only the few keys that enter the
    top-K queue materialize (lazy ``take``). This is the string-lane
    fix for the round-2 per-core gap (object-array SipHash bound).
    ``hashed=False`` (variant layouts): dictionary pre-aggregation
    with object keys, as before."""
    import pyarrow.compute as pc

    from ..kernel import arrow_string_buffers, hash_string_buffers

    d = pc.dictionary_encode(col)
    idx = d.indices.to_numpy(zero_copy_only=False)
    nd = len(d.dictionary)
    if w is None:
        wagg = np.bincount(idx, minlength=nd).astype(np.int64)
    else:
        wagg = np.bincount(idx, weights=w, minlength=nd).astype(np.int64)
    if not hashed:
        sk.add_batch(d.dictionary.to_numpy(zero_copy_only=False), wagg)
        return
    dic = d.dictionary
    offsets, data = arrow_string_buffers(dic)
    h = hash_string_buffers(offsets, data, seed)

    def key_take(sel: np.ndarray) -> np.ndarray:
        return np.asarray(dic.take(pa.array(sel)).to_pylist(), dtype=object)

    sk.add_batch_hashed(h, wagg, key_take)


# Kernel feed granularity: Spark hands mapInArrow 65536-row batches
# (session.py maxRecordsPerBatch); the NumPy kernel's per-pass dispatch
# overhead amortizes and its Zipf pre-aggregation ratio improves with
# batch size (measured 7.3 -> 11.7 -> 14.6 M keys/s on the reference
# fixture at 64k -> 256k -> 1M rows — distinct-per-batch grows
# sublinearly on Zipf, so bigger feeds do proportionally less duel
# work), so the builder coalesces input batches to this many rows
# before each kernel pass. An int64 key lane buffers 8 MB at this
# setting; the byte cap bounds task memory when the key column carries
# long strings.
_COALESCE_ROWS = 1048576
_COALESCE_BYTES = 128 << 20


def _build_partial(
    params: HKParams, merge_groups: int, weighted: bool, variant: str = "topk"
):
    """mapInArrow kernel: one sketch per input partition."""
    # zero-object lane on ALL layouts (round 4: variants gained
    # add_batch_hashed; all three share the hash_items family, and
    # hash_string_buffers produces identical values off the buffers)
    hashed = True

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        rng = np.random.default_rng(
            np.random.PCG64(((params.seed << 17) ^ 0x9E3779B97F4A7C15) + pid)
        )
        sk = _make_sketch(variant, params, rng)
        saw = False
        kbuf: list[pa.Array] = []
        wbuf: list[np.ndarray] = []
        rows = 0
        nbytes = 0

        def flush() -> None:
            nonlocal kbuf, wbuf, rows, nbytes
            if not kbuf:
                return
            kcol = kbuf[0] if len(kbuf) == 1 else pa.concat_arrays(kbuf)
            w = None
            if weighted:
                w = wbuf[0] if len(wbuf) == 1 else np.concatenate(wbuf)
            if _dict_encodable(kcol.type):
                _feed_str_col(sk, kcol, w, params.seed, hashed)
            elif w is not None:
                sk.add_batch(kcol.to_numpy(zero_copy_only=False), w.astype(np.int64))
            else:
                # int64 columns come through as native int lanes
                # (the u64 fast path)
                sk.add_batch(kcol.to_numpy(zero_copy_only=False))
            kbuf, wbuf, rows, nbytes = [], [], 0, 0

        for batch in batches:
            if batch.num_rows == 0:
                continue
            saw = True
            if weighted:
                mask = pc.and_kleene(
                    batch.column(0).is_valid(), batch.column(1).is_valid()
                )
                fb = batch.filter(mask)
                if fb.num_rows == 0:
                    continue
                kbuf.append(fb.column(0))
                wbuf.append(
                    np.asarray(
                        fb.column(1).to_numpy(zero_copy_only=False),
                        dtype=np.float64,
                    )
                )
            else:
                col = batch.column(0).drop_null()
                if len(col) == 0:
                    continue
                kbuf.append(col)
            rows += len(kbuf[-1])
            nbytes += kbuf[-1].nbytes
            if rows >= _COALESCE_ROWS or nbytes >= _COALESCE_BYTES:
                flush()
        flush()
        if saw:
            yield pa.RecordBatch.from_pydict(
                {
                    "salt": pa.array([pid % merge_groups], type=pa.int32()),
                    "sketch": pa.array([sk.serialize()], type=pa.binary()),
                }
            )

    return fn


def _merge_group(pdf: pd.DataFrame) -> pd.DataFrame:
    salt = int(pdf["salt"].iloc[0])
    blob = merge_blobs(list(pdf["sketch"]))
    return pd.DataFrame({"salt": [salt], "sketch": [blob]})


def _merge_group_variant(variant: str):
    if variant == "topk":
        return _merge_group

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        blob = _merge_variant_blobs(variant, list(pdf["sketch"]))
        return pd.DataFrame({"salt": [int(pdf["salt"].iloc[0])], "sketch": [blob]})

    return fn


def topk_sketch(
    df: DataFrame,
    col: str,
    k: int,
    width: int = 4096,
    depth: int = 4,
    decay: float = 0.9,
    seed: int = 12345,
    weight_col: str | None = None,
    merge_groups: int = 64,
    variant: str = "topk",
):
    """Build the merged top-K sketch for ``df[col]`` (driver-side
    result). This is the UDAF surface of the library (SURVEY §2.4).
    ``variant`` selects the layout: 'topk' (canonical), 'bucketed', or
    'cuckoo' — same API, different accuracy/throughput profile."""
    if variant not in VARIANTS:
        raise ValueError(f"unknown variant {variant!r}; one of {sorted(VARIANTS)}")
    params = HKParams(k=k, width=width, depth=depth, decay=decay, seed=seed)
    # binary keys (13-byte flow records, examples/ip_files.rs:6) pass
    # through untouched; integer keys stay int64 lanes end-to-end (the
    # u64 fast path the reference benches); everything else becomes a
    # UTF-8 string
    src_type = dict(df.dtypes).get(col)
    if src_type == "binary":
        key_cast = F.col(col)
    elif src_type in ("bigint", "int", "smallint", "tinyint"):
        key_cast = F.col(col).cast(LongType())
    else:
        key_cast = F.col(col).cast(StringType())
    cols = [key_cast.alias("__key")]
    weighted = weight_col is not None
    if weighted:
        cols.append(F.col(weight_col).cast(LongType()).alias("__w"))
    keyed = df.select(*cols)  # column pruning: scan reads only these
    n_parts = estimate_partitions(keyed)
    partials = keyed.mapInArrow(
        _build_partial(params, max(n_parts, 1), weighted, variant), _BLOB_SCHEMA
    )
    combined = _tree_merge(partials, variant, n_parts, fan_in=merge_groups)
    blobs = [r["sketch"] for r in combined.select("sketch").collect()]
    if not blobs:
        return _make_sketch(variant, params, None)
    return _deserialize_variant(variant, _merge_variant_blobs(variant, blobs))


def _tree_merge(
    partials: DataFrame, variant: str, n_groups: int, fan_in: int = 64
) -> DataFrame:
    """Multi-level salted merge tree with bounded fan-in.

    ``salt`` starts as the partition id; each level integer-divides it
    by ``fan_in`` and merges within the group, shrinking the blob count
    fan_in-fold, until at most ``fan_in`` blobs remain for the driver.
    fan_in=64 by default: collecting 64 KiB-to-MiB blobs to one place
    is cheap, while an extra applyInPandas level costs a whole stage of
    latency (measured: the 32->4 level tripled a 40M-key job's wall
    time); at 10^5 partitions two 64-way levels still bound every
    reducer.
    No reducer ever folds more than fan_in blobs, so the combine
    stage's critical path is O(fan_in * log_{fan_in}(partitions))
    merges — treeAggregate shape. (The reference's pairwise merge
    chain, src/heavykeeper.rs:406-457, is the degenerate fan_in=2
    depth=n version.) Level count is derived from the known partition
    count, so small jobs keep a single shuffle.
    """
    merge_fn = _merge_group_variant(variant)
    out = partials
    groups = max(int(n_groups), 1)
    fan_in = max(int(fan_in), 2)  # fan_in <= 1 would never converge
    while groups > fan_in:
        out = (
            out.withColumn("salt", (F.col("salt") / fan_in).cast("int"))
            .groupBy("salt")
            .applyInPandas(merge_fn, _BLOB_SCHEMA)
        )
        groups = -(-groups // fan_in)  # ceil div
    return out


def topk(
    df: DataFrame,
    col: str,
    k: int,
    width: int = 4096,
    depth: int = 4,
    decay: float = 0.9,
    seed: int = 12345,
    weight_col: str | None = None,
    merge_groups: int = 64,
    tie_break_key: bool = False,
    variant: str = "topk",
    candidates: int | None = None,
) -> DataFrame:
    """Top-K most frequent values of ``df[col]`` as a DataFrame
    ``(item string, count long)`` ordered by count desc.

    ``tie_break_key=True`` orders ties by item asc (instead of the
    reference's insertion-sequence rule, src/priority_queue.rs:204-207)
    — needed for deterministic comparison against SQL oracles. The
    sketch tracks ``max(2k, _CANDIDATE_FLOOR)`` candidates then cuts
    to k, so boundary ties resolve identically to ``ORDER BY count
    DESC, item LIMIT k`` whenever the sketch is exact in that regime
    AND the candidate pool survives the union-of-partial-PQs noise on
    flat domains (see ``_CANDIDATE_FLOOR``). ``candidates=`` pins the
    partial PQ size explicitly.
    """
    track = _track_k(k, tie_break_key, candidates)
    sk = topk_sketch(
        df, col, track, width, depth, decay, seed, weight_col, merge_groups, variant
    )
    spark = df.sparkSession
    rows = sk.list()
    if tie_break_key:
        # ties order by the RENDERED item (the output column is a
        # string, and every SQL oracle orders by it as VARCHAR) — for
        # str/bytes keys this equals the old byte order (UTF-8
        # preserves code-point order); for the int64 fast lane it makes
        # "10" < "9" match the oracle instead of 9 < 10
        rows = sorted(rows, key=lambda t: (-t[1], _item_str(t[0])))
    rows = rows[:k]
    data = [(_item_str(item), int(c)) for item, c in rows]
    schema = StructType(
        [StructField("item", StringType(), False), StructField("count", LongType(), False)]
    )
    return local_result_df(spark, data, schema)


def _item_str(item) -> str:
    if isinstance(item, bytes):
        return item.decode("utf-8", errors="replace")
    return str(item)


_LOWER_LUT = np.arange(256, dtype=np.uint8)
_LOWER_LUT[65:91] |= 0x20  # A-Z -> a-z; everything else identity
_ALPHA_LUT = np.zeros(256, dtype=bool)
_ALPHA_LUT[65:91] = _ALPHA_LUT[97:123] = True


def _ascii_token_slices(
    offsets: np.ndarray, data: np.ndarray, max_token_len: int
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(starts, lens, lowered buffer) of every ``[a-z]+`` token
    occurrence in a batch of ASCII documents — pure NumPy, zero Python
    objects. Equivalent to ``re.findall('[a-z]+', text.lower())`` per
    doc when the buffer is ASCII (the caller checks): A–Z fold to a–z
    with one masked OR, tokens are maximal alpha runs, and runs
    spanning a document boundary are split at it (two adjacent docs
    are contiguous in the Arrow buffer)."""
    # one-gather case fold + one-gather token-byte classification
    # (256-entry LUTs beat copy + range masks + masked OR ~3x)
    low = _LOWER_LUT[data]
    alpha = _ALPHA_LUT[data]
    # run boundaries from ONE transition pass: xor of adjacent alpha
    # flags (with phantom non-alpha sentinels at both ends) yields
    # starts and ends interleaved — a single flatnonzero
    trans = np.empty(alpha.shape[0] + 1, dtype=bool)
    trans[0] = alpha[0] if alpha.shape[0] else False
    if alpha.shape[0]:
        np.logical_xor(alpha[1:], alpha[:-1], out=trans[1:-1])
        trans[-1] = alpha[-1]
    idx = np.flatnonzero(trans).astype(np.int64)
    starts = idx[0::2]
    ends = idx[1::2]
    # split runs that cross a doc boundary: boundary b is inside a run
    # iff both neighbors are alpha
    bnd = np.unique(offsets[1:-1])  # empty docs repeat a boundary
    if bnd.size:
        inner = bnd[(bnd > 0) & (bnd < low.shape[0])]
        cross = inner[alpha[inner - 1] & alpha[inner]]
        if cross.size:
            seg_starts = np.sort(np.concatenate([starts, cross]))
            run_idx = np.searchsorted(starts, seg_starts, side="right") - 1
            run_end = ends[run_idx]
            nxt = np.searchsorted(cross, seg_starts, side="right")
            next_cross = np.where(
                nxt < cross.shape[0], cross[np.minimum(nxt, cross.shape[0] - 1)], np.iinfo(np.int64).max
            )
            seg_ends = np.minimum(run_end, next_cross)
            starts, ends = seg_starts, seg_ends
    lens = ends - starts
    if max_token_len:
        keep = lens <= max_token_len
        starts, lens = starts[keep], lens[keep]
    return starts, lens, low


def _feed_tokens_arrow(sk, col, max_token_len: int, seed: int) -> bool:
    """Object-free token feed: tokenize + hash every occurrence off
    the Arrow buffers and insert via ``add_batch_hashed``; only tokens
    entering the top-K queue ever materialize. Returns False (caller
    falls back to the regex/str path) when the batch holds any
    non-ASCII byte — exotic case folding ('K'→'k') then differs from
    the byte fold, so the exact str semantics take over."""
    import pyarrow.compute as pc

    from ..kernel import arrow_string_buffers, hash_byte_slices

    if col.null_count:
        col = pc.fill_null(col, "")
    offsets, data = arrow_string_buffers(col)
    if data.size and int(data.max()) >= 128:
        return False
    starts, lens, low = _ascii_token_slices(offsets, data, max_token_len)
    if starts.size == 0:
        return True
    h_all = hash_byte_slices(starts, lens, low, seed)
    inv, uh = pd.factorize(h_all, sort=False)
    k = uh.shape[0]
    w = np.bincount(inv, minlength=k).astype(np.int64)
    first = np.empty(k, dtype=np.int64)
    first[inv[::-1]] = np.arange(h_all.shape[0] - 1, -1, -1)

    def key_take(sel: np.ndarray) -> np.ndarray:
        idx = first[sel]
        return np.asarray(
            [low[s : s + l].tobytes() for s, l in zip(starts[idx], lens[idx])],
            dtype=object,
        )

    sk.add_batch_hashed(np.asarray(uh, dtype=np.uint64), w, key_take)
    return True


def _feed(sk, rex, chunk: list[str], max_token_len: int) -> None:
    toks = rex.findall("\n".join(chunk).lower())
    if not toks:
        return
    arr = np.asarray(toks, dtype=object)
    # factorize on CPython's cached str hashes first (khash — much
    # cheaper than SipHash over every occurrence), then the kernel only
    # SipHashes the distinct tokens; length filter runs on uniques
    inv, uniq = pd.factorize(arr)
    uniq = np.asarray(uniq, dtype=object)
    w = np.bincount(inv, minlength=uniq.shape[0]).astype(np.int64)
    if max_token_len:
        lens = np.fromiter(map(len, uniq), dtype=np.int64, count=uniq.shape[0])
        keep = lens <= max_token_len
        uniq, w = uniq[keep], w[keep]
    if uniq.size:
        sk.add_batch(uniq, weights=w)


def topk_tokens(
    df: DataFrame,
    text_col: str,
    k: int,
    width: int = 65536,
    depth: int = 4,
    decay: float = 0.9,
    seed: int = 12345,
    token_re: str = "[a-z]+",
    max_token_len: int = 64,
    merge_groups: int = 64,
    tie_break_key: bool = False,
    candidates: int | None = None,
) -> DataFrame:
    """Top-K tokens with tokenization INSIDE the sketch kernel.

    The word_count example (examples/word_count.rs:131-165) at corpus
    scale: rather than explode()-ing a 40x token blowup through the
    JVM->Python Arrow channel, each batch is tokenized entirely off
    the Arrow byte buffers (``_feed_tokens_arrow`` — zero Python token
    objects; occurrences are hashed in place and fed through
    ``add_batch_hashed``). Non-ASCII batches or a custom ``token_re``
    fall back to the chunked C-level regex pass. No explode, no
    shuffle of tokens — the only network traffic is sketch blobs.
    """
    import re

    params = HKParams(
        k=_track_k(k, tie_break_key, candidates),
        width=width, depth=depth, decay=decay, seed=seed,
    )
    rex = re.compile(token_re)
    ascii_ok = token_re == "[a-z]+"

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        rng = np.random.default_rng(
            np.random.PCG64(((params.seed << 17) ^ 0x9E3779B97F4A7C15) + pid)
        )
        sk = HeavyKeeper(params, rng=rng)
        saw = False
        for batch in batches:
            if batch.num_rows == 0:
                continue
            saw = True
            if ascii_ok and _feed_tokens_arrow(
                sk, batch.column(0), max_token_len, params.seed
            ):
                continue
            texts = batch.column(0).to_numpy(zero_copy_only=False)
            # chunked join: one C-level regex pass per ~4 MB of text —
            # NOT one batch-wide string (64k multi-KB docs would build
            # a transient multi-hundred-MB str)
            chunk: list[str] = []
            size = 0
            for t in texts:
                if t is None:
                    continue
                chunk.append(t)
                size += len(t)
                if size < (4 << 20):
                    continue
                _feed(sk, rex, chunk, max_token_len)
                chunk, size = [], 0
            if chunk:
                _feed(sk, rex, chunk, max_token_len)
        if saw:
            yield pa.RecordBatch.from_pydict(
                {
                    "salt": pa.array([pid % merge_groups], type=pa.int32()),
                    "sketch": pa.array([sk.serialize()], type=pa.binary()),
                }
            )

    keyed = df.select(F.col(text_col).cast(StringType()).alias("__text"))
    n_parts = estimate_partitions(keyed)
    fan_in = merge_groups  # caller's fan-in, BEFORE the salt rebinding
    merge_groups = max(n_parts, 1)
    partials = keyed.mapInArrow(build, _BLOB_SCHEMA)
    combined = _tree_merge(partials, "topk", n_parts, fan_in=fan_in)
    blobs = [r["sketch"] for r in combined.select("sketch").collect()]
    sk = (
        HeavyKeeper(params)
        if not blobs
        else HeavyKeeper.deserialize(merge_blobs(blobs))
    )
    rows = sk.list()
    if tie_break_key:
        rows = sorted(rows, key=lambda t: (-t[1], t[0]))
    rows = rows[:k]
    data = [(item.decode("utf-8", errors="replace"), int(c)) for item, c in rows]
    schema = StructType(
        [StructField("item", StringType(), False), StructField("count", LongType(), False)]
    )
    return local_result_df(df.sparkSession, data, schema)


_GROUP_BLOB_SCHEMA = StructType(
    [
        StructField("group", StringType(), False),
        StructField("salt", IntegerType(), False),
        StructField("sketch", BinaryType(), False),
    ]
)


def grouped_partial_builder(
    new_sketch,
    feed,
    max_live_groups: int = 4096,
    weighted: bool = False,
):
    """mapInArrow kernel factory for per-(partition, group) partials
    with BOUNDED memory in the group dimension.

    ``new_sketch(pid) -> sketch`` and ``feed(sketch, values)`` define
    the sketch family (``feed(sketch, values, weights)`` when
    ``weighted`` — the batch then carries a third weight column; rows
    with a null value OR weight are skipped). Each mapper keeps at most
    ``max_live_groups`` live sketches; when feeding pushes it past the
    cap, the least-recently-touched sketches are serialized, emitted
    early, and evicted down to half the cap — the per-group merge tree
    downstream folds multiple blobs per (partition, group), so early
    emission is merely more partials, never wrong. The cap is enforced
    INSIDE the per-batch group loop, not just between batches: one
    Arrow batch can carry more distinct groups than the cap (64k-row
    batches over a URL-scale group key), and a between-batches-only
    check would let the live dict spike to O(batch distinct groups)
    sketches. High-cardinality group keys therefore cost
    O(max_live_groups × sketch size) per mapper instead of O(all
    groups seen) — with eviction-to-half, a group-ordered stream still
    amortizes to one blob per (partition, group).
    """
    cap = max(int(max_live_groups), 2)

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        ctx = TaskContext.get()
        pid = ctx.partitionId() if ctx is not None else 0
        sketches: dict[str, object] = {}
        touch: dict[str, int] = {}
        t = 0

        def flush(groups_to_flush: list[str]) -> pa.RecordBatch:
            items = sorted((g, sketches.pop(g)) for g in groups_to_flush)
            for g in groups_to_flush:
                touch.pop(g, None)
            return pa.RecordBatch.from_pydict(
                {
                    "group": pa.array([g for g, _ in items], type=pa.string()),
                    "salt": pa.array([pid] * len(items), type=pa.int32()),
                    "sketch": pa.array(
                        [sk.serialize() for _, sk in items], type=pa.binary()
                    ),
                }
            )

        for batch in batches:
            if batch.num_rows == 0:
                continue
            t += 1
            g = batch.column(0).to_numpy(zero_copy_only=False)
            v = batch.column(1).to_numpy(zero_copy_only=False)
            w = batch.column(2).to_numpy(zero_copy_only=False) if weighted else None
            valid = pd.notna(v) if w is None else (pd.notna(v) & pd.notna(w))
            if not valid.all():
                # a group whose values are ALL null must still exist in
                # the output (SQL GROUP BY semantics: the group appears,
                # its aggregate sees zero values) — materialize an empty
                # sketch for any group dropped by the null filter
                for gn in np.unique(np.asarray(g[~valid], dtype=object)):
                    if gn not in sketches:
                        sketches[gn] = new_sketch(pid)
                        touch[gn] = t
                    if len(sketches) > cap:
                        olds = sorted(touch, key=touch.get)[: len(sketches) - cap // 2]
                        yield flush(olds)
                g, v = g[valid], v[valid]
                if w is not None:
                    w = w[valid]
            if v.size == 0:
                continue
            ug, inv = np.unique(np.asarray(g, dtype=object), return_inverse=True)
            order = np.argsort(inv, kind="stable")
            bounds = np.searchsorted(inv[order], np.arange(ug.shape[0] + 1))
            for gi in range(ug.shape[0]):
                sk = sketches.get(ug[gi])
                if sk is None:
                    sk = sketches[ug[gi]] = new_sketch(pid)
                sel = order[bounds[gi] : bounds[gi + 1]]
                if w is None:
                    feed(sk, v[sel])
                else:
                    feed(sk, v[sel], w[sel])
                touch[ug[gi]] = t
                if len(sketches) > cap:
                    # evict to half the cap so a stream of fresh groups
                    # flushes in cap/2-sized chunks, not one group at a
                    # time; LRU order — groups fed earlier in THIS batch
                    # are eligible (their blobs merge downstream)
                    olds = sorted(touch, key=touch.get)[: len(sketches) - cap // 2]
                    yield flush(olds)
        if sketches:
            yield flush(list(sketches))

    return build


def grouped_blob_tree(
    keyed: DataFrame,
    build_partials,
    merge_blobs_fn,
    finalize_fn,
    out_schema: StructType,
    fan_in: int = 64,
) -> DataFrame:
    """Shared scaffold for per-group sketch aggregation that never
    shuffles rows — only serialized sketch blobs.

    Shape (the per-group analog of ``_tree_merge``):

      partial:  ``build_partials`` runs in ``mapInArrow`` and emits one
                (group, salt=partition_id, blob) row per (partition,
                group) — rows are consumed map-side, so the shuffle
                payload is O(partitions × groups) KiB-scale blobs,
                independent of row count. A Zipf-hot group costs each
                *mapper* bounded sketch memory instead of landing its
                entire row set on one reducer.
      combine:  multi-level ``groupBy(group, salt // fan_in)`` merge
                tree — no reducer folds more than ``fan_in`` blobs per
                level, so a group spread over 10^5 partitions merges in
                ~log_fan_in(10^5) ≈ 6 levels rather than one 10^5-way
                fold.
      final:    ``groupBy(group)`` over the ≤ fan_in survivors runs
                ``finalize_fn`` to emit result rows.
    """
    n_parts = estimate_partitions(keyed)
    fan_in = max(int(fan_in), 2)  # fan_in <= 1 would never converge
    out = keyed.mapInArrow(build_partials, _GROUP_BLOB_SCHEMA)

    def merge_level(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "group": [pdf["group"].iloc[0]],
                "salt": [int(pdf["salt"].iloc[0])],
                "sketch": [merge_blobs_fn(list(pdf["sketch"]))],
            }
        )

    groups = n_parts
    while groups > fan_in:
        out = (
            out.withColumn("salt", (F.col("salt") / fan_in).cast("int"))
            .groupBy("group", "salt")
            .applyInPandas(merge_level, _GROUP_BLOB_SCHEMA)
        )
        groups = -(-groups // fan_in)  # ceil div

    def final(pdf: pd.DataFrame) -> pd.DataFrame:
        return finalize_fn(str(pdf["group"].iloc[0]), list(pdf["sketch"]))

    return out.groupBy("group").applyInPandas(final, out_schema)


def topk_by_group(
    df: DataFrame,
    group_col: str,
    key_col: str,
    k: int,
    width: int = 4096,
    depth: int = 4,
    decay: float = 0.9,
    seed: int = 12345,
    tie_break_key: bool = True,
    fan_in: int = 64,
    max_live_groups: int = 4096,
    weight_col: str | None = None,
    variant: str = "topk",
    candidates: int | None = None,
) -> DataFrame:
    """Top-K keys within each group — one sketch per group, built
    scale-safe: partial sketches per (partition, group) map-side, then
    a bounded-fan-in blob merge tree per group (``grouped_blob_tree``).

    SURVEY §2.4: the reference has no grouping sets; multi-dimension
    top-K is done by running the sketch per group key. No row ever
    crosses the network: a Zipf-hot group is absorbed by each mapper's
    bounded sketch memory and its partials merge through the tree.
    Output is (group, item, count) with deterministic
    (count desc, item asc) tie-breaking.

    ``weight_col`` makes the per-group add weighted — the reference's
    first-class weighted add (src/heavykeeper.rs:273-279) in the
    grouped plan: top items by SUM(weight) within each group.
    ``variant`` selects the sketch layout per group ('topk' canonical,
    'bucketed', 'cuckoo') — the same registry as the ungrouped path.
    """
    if variant not in VARIANTS:
        raise ValueError(f"unknown variant {variant!r}; one of {sorted(VARIANTS)}")
    params = HKParams(
        k=_track_k(k, tie_break_key, candidates),
        width=width, depth=depth, decay=decay, seed=seed,
    )
    out_schema = StructType(
        [
            StructField("group", StringType(), False),
            StructField("item", StringType(), False),
            StructField("count", LongType(), False),
        ]
    )

    def new_sketch(pid: int):
        return _make_sketch(
            variant,
            params,
            np.random.default_rng(
                np.random.PCG64(((params.seed << 17) ^ 0x9E3779B97F4A7C15) + pid)
            ),
        )

    weighted = weight_col is not None
    if weighted:
        build = grouped_partial_builder(
            new_sketch,
            lambda sk, vals, w: sk.add_batch(
                vals, np.asarray(w, dtype=np.int64)
            ),
            max_live_groups,
            weighted=True,
        )
    else:
        build = grouped_partial_builder(
            new_sketch, lambda sk, vals: sk.add_batch(vals), max_live_groups
        )

    def finalize(group: str, blobs: list[bytes]) -> pd.DataFrame:
        sk = _deserialize_variant(variant, _merge_variant_blobs(variant, blobs))
        rows = sk.list()
        if tie_break_key:
            rows = sorted(rows, key=lambda t: (-t[1], t[0]))
        rows = rows[:k]
        return pd.DataFrame(
            {
                "group": [group] * len(rows),
                "item": [_item_str(it) for it, _ in rows],
                "count": [int(c) for _, c in rows],
            }
        )

    cols = [
        F.coalesce(F.col(group_col).cast(StringType()), F.lit("None")).alias("__group"),
        F.col(key_col).cast(StringType()).alias("__key"),
    ]
    if weighted:
        cols.append(F.col(weight_col).cast(LongType()).alias("__w"))
    keyed = df.select(*cols)
    return grouped_blob_tree(
        keyed,
        build,
        lambda blobs: _merge_variant_blobs(variant, blobs),
        finalize,
        out_schema,
        fan_in=fan_in,
    )


def contains_top_k(df: DataFrame, col: str, sketch) -> DataFrame:
    """O11 (src/heavykeeper.rs:211-218) distributedly: semi-join the
    DataFrame against the sketch's tracked top-K set (broadcast).
    Works for every layout — all three variants expose list().

    Integer-keyed sketches (the u64 fast path) track Python ints in the
    PQ; ``_item_str`` normalizes both representations so the string
    compare matches the cast column."""
    items = [_item_str(it) for it, _ in sketch.list()]
    return df.filter(F.col(col).cast(StringType()).isin(items))


def estimate(
    df: DataFrame, col: str, sketch, out_col: str = "est_count"
) -> DataFrame:
    """Broadcast-probe point estimates: the distributed analog of
    count(item), for EVERY sketch layout — the reference exposes
    count() on all three (src/heavykeeper.rs:220-246,
    src/bucketed.rs:260-269, src/cuckoo.rs:280-289). The serialized
    sketch is broadcast once; each Arrow batch probes it vectorized —
    the same plan shape as a broadcast-hash-join against the summary.
    The variant is sniffed from the blob magic, so a sketch built with
    variant='bucketed' or 'cuckoo' probes identically."""
    from ..variants import deserialize_any

    blob = sketch.serialize()
    bc = df.sparkSession.sparkContext.broadcast(blob)
    out_schema = StructType(
        list(df.schema.fields) + [StructField(out_col, LongType(), True)]
    )

    def probe(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        sk = deserialize_any(bc.value)
        for batch in batches:
            if batch.num_rows == 0:
                continue
            col_a = batch.column(batch.schema.get_field_index("__probe_key"))
            # probe distinct keys only (dictionary_encode is one C
            # pass); scatter estimates back through the indices
            d = pc.dictionary_encode(col_a)
            idx = d.indices.to_numpy(zero_copy_only=False)  # float w/ NaN on null
            uniq = d.dictionary.to_numpy(zero_copy_only=False)
            est_u = sk.estimate(uniq) if len(uniq) else np.zeros(0, dtype=np.int64)
            est = np.zeros(len(col_a), dtype=np.int64)
            valid = pd.notna(idx)
            if valid.any():
                est[valid] = est_u[idx[valid].astype(np.int64)]
            out = batch.drop_columns(["__probe_key"]).append_column(
                out_col, pa.array(est, type=pa.int64())
            )
            yield out

    withkey = df.withColumn("__probe_key", F.col(col).cast(StringType()))
    return withkey.mapInArrow(probe, out_schema)

def topk_by_grouping_sets(
    df: DataFrame,
    grouping_sets: list[list[str]],
    key_col: str,
    k: int,
    width: int = 4096,
    depth: int = 4,
    decay: float = 0.9,
    seed: int = 12345,
    tie_break_key: bool = True,
    fan_in: int = 64,
    max_live_groups: int = 4096,
    weight_col: str | None = None,
    variant: str = "topk",
    candidates: int | None = None,
) -> DataFrame:
    """Sketch top-K over GROUPING SETS: one HeavyKeeper per group per
    grouping set, output (grouping, group, item, count).

    The relational ROLLUP/CUBE pattern composed from per-group
    sketches. Spark's native grouping sets run one Expand operator
    that DUPLICATES every input row per set — fine for cheap exact
    aggregates, hostile at 10^12 rows. Here each set is an independent
    blob-tree pass (``topk_by_group``): rows are consumed map-side per
    pass and only KiB-scale blobs shuffle, so s sets cost s scans and
    zero row shuffles (scans are cheap — column-pruned parquet;
    cache/persist the projected input to pay one). ``grouping`` is the
    comma-joined column list ('()' for the grand total); ``group``
    joins the set's values with '|'.

    ``topk_rollup`` / ``topk_cube`` derive the set lists.
    """
    opts = dict(
        k=k, width=width, depth=depth, decay=decay, seed=seed,
        tie_break_key=tie_break_key, fan_in=fan_in,
        max_live_groups=max_live_groups, weight_col=weight_col,
        variant=variant, candidates=candidates,
    )
    outs = []
    for cols in grouping_sets:
        label = ",".join(cols) if cols else "()"
        if cols:
            gexpr = F.concat_ws(
                "|",
                *[
                    F.coalesce(F.col(c).cast(StringType()), F.lit("None"))
                    for c in cols
                ],
            )
            part = topk_by_group(
                df.withColumn("__gset", gexpr), "__gset", key_col, **opts
            )
        else:
            base = topk(
                df, key_col, k, width=width, depth=depth, decay=decay,
                seed=seed, weight_col=weight_col, merge_groups=fan_in,
                tie_break_key=tie_break_key, variant=variant,
                candidates=candidates,
            )
            part = base.select(
                F.lit("()").alias("group"), F.col("item"), F.col("count")
            )
        outs.append(part.select(F.lit(label).alias("grouping"), "group", "item", "count"))
    out = outs[0]
    for p_ in outs[1:]:
        out = out.unionByName(p_)
    return out


def topk_rollup(
    df: DataFrame, group_cols: list[str], key_col: str, k: int, **opts
) -> DataFrame:
    """ROLLUP(group_cols): grouping sets = every prefix incl. the
    grand total — hierarchical per-level top-K in one call."""
    sets = [group_cols[:i] for i in range(len(group_cols), -1, -1)]
    return topk_by_grouping_sets(df, sets, key_col, k, **opts)


def topk_cube(
    df: DataFrame, group_cols: list[str], key_col: str, k: int, **opts
) -> DataFrame:
    """CUBE(group_cols): grouping sets = all 2^n subsets."""
    from itertools import combinations

    sets: list[list[str]] = []
    for r in range(len(group_cols), -1, -1):
        for combo in combinations(group_cols, r):
            sets.append(list(combo))
    return topk_by_grouping_sets(df, sets, key_col, k, **opts)

def build_vocab(
    df: DataFrame,
    text_col: str,
    v_size: int,
    width: int = 1 << 20,
    depth: int = 4,
    seed: int = 12345,
    token_re: str = "[a-z]+",
    max_token_len: int = 64,
) -> tuple[DataFrame, float]:
    """Frequency vocabulary for tokenizer training: (vocab DataFrame
    ``(item, count, rank)``, coverage) where coverage is the fraction
    of all token OCCURRENCES the top-``v_size`` vocabulary explains
    (1 - OOV rate).

    Built from the in-kernel token sketch (one pass, blob-only
    shuffle) plus one JVM-side total-occurrence count — in the exact
    regime (width*depth >> distinct tokens, the correct sizing for a
    vocab job) both the vocabulary and the coverage are exact.
    """
    vocab = topk_tokens(
        df, text_col, k=v_size, width=width, depth=depth, seed=seed,
        token_re=token_re, max_token_len=max_token_len, tie_break_key=True,
    )
    toks = F.filter(
        F.regexp_extract_all(F.lower(F.col(text_col)), F.lit(token_re), 0),
        lambda t: F.length(t) <= max_token_len,
    )
    total = (
        df.select(F.size(toks).alias("n")).agg(F.sum("n")).collect()[0][0] or 0
    )
    from pyspark.sql import Window as _W

    ranked = vocab.withColumn(
        "rank", F.row_number().over(_W.orderBy(F.desc("count"), "item"))
    )
    covered = vocab.agg(F.sum("count")).collect()[0][0] or 0
    coverage = float(covered) / float(total) if total else 0.0
    return ranked, coverage

