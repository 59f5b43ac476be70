"""Pure-NumPy HeavyKeeper top-K sketch kernel.

A from-scratch, vectorized re-implementation of the *semantics* of the
reference crate (pmcgleenon/heavykeeper-rs, /root/reference — read
only).  The reference is a single-threaded Rust library processing one
item at a time; this kernel processes Arrow-sized batches with NumPy
array ops and only drops to per-item Python for the statistically rare
"decay duel survivor" residue.  Counts, fingerprints and bucket layout
follow the paper / reference semantics:

- state: ``depth`` rows x ``width`` buckets, each bucket a
  ``(fingerprint: u64, count: u64)`` cell (src/heavykeeper.rs:14-18)
  — stored here as two ``uint64`` arrays of shape ``(depth, width)``.
- one base hash per item, per-row indices derived by hash composition
  (src/hash_composition.rs:13-44): ``h2 = (h1 >> 32) * K``,
  row i>0: ``h1 = rotl(h1 + h2, 5)``; index = ``h & (width-1)`` for
  power-of-two widths else ``h % width``.
- add(item, w): per row — fingerprint match or empty cell =>
  ``count += w``; else an exponential-decay duel: each unit of w
  decrements the cell with probability ``decay**count``; if the cell
  reaches 0 the challenger seizes it with the remaining increment
  (src/heavykeeper.rs:281-354; e.g. 3000 vs a count-1000 cell under
  forced decay yields 2001 = 3000 - 999, src/heavykeeper.rs:766-794).
- a bounded min-heap of K candidates with monotone ("only raise")
  updates and deterministic (count desc, insertion seq asc) ordering
  (src/priority_queue.rs:104-211).
- merge: per-cell equal fingerprints add, empty copies, otherwise keep
  self (src/heavykeeper.rs:406-457); candidate merge uses the
  *pre-merge* bucket_count of the non-tracking side as fallback — the
  BucketedTopK improvement (src/bucketed.rs:377-401) — which is
  strictly more accurate than the plain-TopK ``unwrap_or(0)``.

Statistical fidelity, not bit-equality, is the contract: the duel is
sampled with exact distributions (geometric inter-decrement gaps and a
conditioned first-success fast path) so the accuracy floors of
tests/accuracy_compare.rs hold, while merge order-independence is only
guaranteed within the published HeavyKeeper error bound (see
SURVEY.md §2.7).
"""

from __future__ import annotations

import heapq
import io
import math
import os
import struct
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from .errors import InvalidDecay, InvalidDepth, InvalidK, InvalidWidth, SketchCompatError
from .serde import dumps as serde_dumps, loads as serde_loads

_U64 = np.uint64
# add_batch dense-preagg bound: bincount table never exceeds this many
# slots (8 B each; the default caps the transient at a few MB per task
# so 32 concurrent workers' tables stay L3-resident together —
# per-worker wins above that are paid back in shared memory-bandwidth
# contention). HK_DENSE_CAP=0 disables the dense lane entirely.
_DENSE_DOMAIN_CAP = int(os.environ.get("HK_DENSE_CAP", 1 << 22))
_HASH_COMPOSE_K = _U64(0x517CC1B727220A95)  # src/hash_composition.rs:15
_DEFAULT_SEED = 12345  # src/heavykeeper.rs:111-115 (fixed default seed)
_MAGIC = b"HKS1"
# magic, version (1 dense, 2 sparse), k, width, depth, decay, seed
_HEADER = struct.Struct("<4sBqqqdq")


def _splitmix64_arr(x: np.ndarray) -> np.ndarray:
    with np.errstate(over="ignore"):
        x = (x ^ (x >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> _U64(27))) * _U64(0x94D049BB133111EB)
        return x ^ (x >> _U64(31))


_FNV_OFFSET = 0xCBF29CE484222325
_FNV_PRIME = _U64(0x100000001B3)


def hash_string_buffers(
    offsets: np.ndarray, data: np.ndarray, seed: int
) -> np.ndarray:
    """Canonical seeded 64-bit hash of variable-length byte strings,
    computed straight off (offsets, data) buffers — the layout of an
    Arrow string/binary array, so the distributed builders hash keys
    with ZERO per-key Python objects (the round-2 string-lane fix:
    the object-array SipHash was the per-core floor of every text
    workload)."""
    return hash_byte_slices(offsets[:-1], np.diff(offsets), data, seed)


def hash_byte_slices(
    starts: np.ndarray, lens: np.ndarray, data: np.ndarray, seed: int
) -> np.ndarray:
    """Seeded 64-bit hash of arbitrary (start, len) byte slices of one
    buffer — the general form of ``hash_string_buffers`` (slices may
    overlap or be out of order; the object-free tokenizer hashes every
    token occurrence in place with this).

    Vectorized FNV-1a waves: slices are processed one byte position
    per wave over a descending-length-sorted view, so each wave is a
    contiguous-prefix gather/xor/multiply with no boolean masks; a
    splitmix64 finalizer mixes the seeded state. Total work is
    O(total_bytes) vector ops regardless of length skew.
    """
    n = starts.shape[0]
    seed_mix = (seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
    if n <= 0:
        return np.zeros(0, dtype=np.uint64)
    minlen = int(lens.min())
    maxlen = int(lens.max())
    h = np.full(n, _U64(_FNV_OFFSET ^ seed_mix))
    with np.errstate(over="ignore"):
        # common-prefix waves: every string is active for j < minlen,
        # so no sorting/masking at all — the whole-batch fast path
        # (uniform-length keys, e.g. packed flow records, never sort)
        for j in range(minlen):
            h ^= data[starts + j]
            h *= _FNV_PRIME
        if maxlen > minlen:
            # tail positions: only strings longer than minlen. Sort the
            # survivors descending by length so each wave is a
            # contiguous-prefix slice; 16-bit sort keys hit numpy's
            # radix path (~6x over int64 comparison sort).
            sub = np.flatnonzero(lens > minlen)
            sl = lens[sub]
            if maxlen - minlen < 0xFFFF:
                skey = (maxlen - sl).astype(np.uint16)
            else:
                skey = -sl
            sorder = sub[np.argsort(skey, kind="stable")]
            hs = h[sorder]
            sos = starts[sorder]
            negl = -lens[sorder]  # ascending
            for j in range(minlen, maxlen):
                na = int(np.searchsorted(negl, -j, side="left"))
                if na == 0:
                    break
                hs[:na] ^= data[sos[:na] + j]
                hs[:na] *= _FNV_PRIME
            h[sorder] = hs
        # length mix + finalizer: avalanches FNV's weak high bits
        h ^= lens.astype(np.uint64) << _U64(56)
        return _splitmix64_arr(h)


def arrow_string_buffers(col) -> tuple[np.ndarray, np.ndarray]:
    """(absolute offsets int64, data uint8) zero-copy views of an
    Arrow string/binary array (nulls must be filled upstream)."""
    import pyarrow as pa

    if pa.types.is_large_string(col.type) or pa.types.is_large_binary(col.type):
        odt = np.int64
    else:
        odt = np.int32
    off = np.frombuffer(col.buffers()[1], dtype=odt)
    offsets = off[col.offset : col.offset + len(col) + 1].astype(np.int64)
    data = np.frombuffer(col.buffers()[2], dtype=np.uint8)
    return offsets, data


def _object_string_buffers(arr: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Pack an object array of str/bytes keys into (offsets, data)
    buffers — the object-array path onto ``hash_string_buffers`` so
    both representations hash identically. Arrow does the str→utf-8
    packing in C (same bytes as ``str.encode``); only arrays holding
    non-str objects (bytes, ints) fall back to per-item packing."""
    import pyarrow as pa

    try:
        pa_arr = pa.array(arr, type=pa.string(), from_pandas=False)
        if pa_arr.null_count == 0:  # a None key must not alias ""
            return arrow_string_buffers(pa_arr)
    except (pa.ArrowInvalid, pa.ArrowTypeError):
        pass
    bs = [_as_bytes(x) for x in arr]
    lens = np.fromiter(map(len, bs), dtype=np.int64, count=len(bs))
    offsets = np.zeros(len(bs) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    data = np.frombuffer(b"".join(bs), dtype=np.uint8)
    return offsets, data


def hash_items(items: np.ndarray, seed: int) -> np.ndarray:
    """Vectorized 64-bit hash of a key batch.

    bytes/str keys: packed into contiguous byte buffers and hashed with
    ``hash_string_buffers`` (identical to the Arrow zero-copy lane the
    distributed builders use — one hash function per seed everywhere,
    the analog of the reference's single ahash per item,
    src/hash_composition.rs:13-22). Integer keys: seed-mixed splitmix64
    finalizer directly on the int64 lanes — the u64 fast path the
    reference benches (benches/topk_vs_bucketed.rs uses u64 keys).
    """
    arr = np.asarray(items)
    if arr.dtype.kind in "iu":
        x = arr.astype(np.uint64) ^ _U64((seed * 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF)
        return _splitmix64_arr(x)
    arr = np.asarray(items, dtype=object)
    offsets, data = _object_string_buffers(arr)
    return hash_string_buffers(offsets, data, seed)



def _radix_argsort(key: np.ndarray, nbits: int) -> np.ndarray:
    """Stable ascending argsort of a packed uint64 key via LSD radix
    over 16-bit digits — numpy's kind='stable' picks a true radix sort
    for uint16, so each pass is O(n); ~4x faster than a comparison
    argsort on the packed uint64 for the residue sizes the kernel sees.
    ``nbits`` bounds the significant bits of ``key``."""
    order = np.argsort((key & _U64(0xFFFF)).astype(np.uint16), kind="stable")
    shift = 16
    while shift < nbits:
        digit = ((key >> _U64(shift)) & _U64(0xFFFF)).astype(np.uint16)
        order = order[np.argsort(digit[order], kind="stable")]
        shift += 16
    return order


def _rotl64(x: np.ndarray, r: int) -> np.ndarray:
    r_ = _U64(r)
    inv = _U64(64 - r)
    return (x << r_) | (x >> inv)


def compose_indices(h1: np.ndarray, depth: int, width: int) -> np.ndarray:
    """Derive ``depth`` bucket-index vectors from one hash.

    Same arithmetic as HashComposer (src/hash_composition.rs:15,35-44):
    ``h2 = (h1 >> 32) * 0x517cc1b727220a95``; row i>0:
    ``h1 = rotl(h1 + h2, 5)``; power-of-two widths use an AND mask
    (src/heavykeeper.rs:153-157).
    """
    n = h1.shape[0]
    # intp output: every downstream fancy index (gather/scatter) would
    # otherwise convert a uint64 index array per use
    out = np.empty((depth, n), dtype=np.intp)
    with np.errstate(over="ignore"):
        h2 = (h1 >> _U64(32)) * _HASH_COMPOSE_K
        h = h1.copy()
        pow2 = (width & (width - 1)) == 0
        mask = _U64(width - 1)
        for d in range(depth):
            if d > 0:
                h = _rotl64(h + h2, 5)
            out[d] = ((h & mask) if pow2 else (h % _U64(width))).astype(np.intp)
    return out


@dataclass(frozen=True)
class HKParams:
    """Sketch shape; fixed at construction, enforced at merge.

    Defaults mirror the reference builders (src/heavykeeper.rs:503-578):
    decay 0.9, seed 12345. Validation mirrors BuilderError variants.
    """

    k: int
    width: int
    depth: int
    decay: float = 0.9
    seed: int = _DEFAULT_SEED

    def __post_init__(self) -> None:
        if not isinstance(self.k, int) or self.k < 1:
            raise InvalidK(f"k must be >= 1, got {self.k!r}")
        if not isinstance(self.width, int) or self.width < 1:
            raise InvalidWidth(f"width must be >= 1, got {self.width!r}")
        if not isinstance(self.depth, int) or self.depth < 1:
            raise InvalidDepth(f"depth must be >= 1, got {self.depth!r}")
        d = float(self.decay)
        if not (0.0 <= d <= 1.0) or not np.isfinite(d):
            raise InvalidDecay(f"decay must be in [0, 1] and finite, got {self.decay!r}")

    def check_compatible(self, other: "HKParams") -> None:
        for f in ("width", "depth", "decay", "k", "seed"):
            if getattr(self, f) != getattr(other, f):
                raise SketchCompatError(f, getattr(self, f), getattr(other, f))


class TopKQueue:
    """Bounded min-heap of the K candidates.

    Mirrors TopKQueue semantics (src/priority_queue.rs): ``upsert``
    replaces the heap minimum only when ``count > min_count``
    (:138-189); updates never decrease a tracked count (:104-122);
    ties on equal counts order by insertion sequence, first-in first
    (:204-207).  Implemented as a dict + lazy-deletion heapq (counts
    are monotone, so stale heap entries are always <= live ones).
    """

    __slots__ = ("k", "counts", "seqs", "_heap", "_seq")

    def __init__(self, k: int) -> None:
        self.k = k
        self.counts: dict[bytes, int] = {}
        self.seqs: dict[bytes, int] = {}
        self._heap: list[tuple[int, int, bytes]] = []
        self._seq = 0

    def __len__(self) -> int:
        return len(self.counts)

    def _prune(self) -> None:
        h = self._heap
        while h and self.counts.get(h[0][2]) != h[0][0]:
            heapq.heappop(h)

    def min_count(self) -> int:
        """Count of the heap root, or 0 when not yet full (admit-all)."""
        if len(self.counts) < self.k:
            return 0
        self._prune()
        return self._heap[0][0] if self._heap else 0

    def candidates(self, counts: np.ndarray) -> np.ndarray:
        """Indices of the batch ``counts`` (one per distinct key) whose
        upserts, made in (count desc, key asc) order, can change the
        queue; every other upsert of the batch is a no-op.

        Only keys above ``min_count()`` qualify, and of those only the
        first k in that order. Each of those k leaves its upsert either
        in the queue at a count no later (no heavier) key strictly
        beats, so it stays, or refused by a full queue whose minimum is
        then at least every later count and only grows. Either way the
        later upserts change nothing. The cut keeps every key tied with
        the k-th count, so the key tie-break among the kept keys is the
        full loop's."""
        sel = np.flatnonzero(counts > self.min_count())
        if sel.size > self.k:
            c = counts[sel]
            cut = np.partition(c, sel.size - self.k)[sel.size - self.k]
            sel = sel[c >= cut]
        return sel

    def get(self, item: bytes) -> int | None:
        return self.counts.get(item)

    def update_if_present(self, item: bytes, count: int) -> None:
        """Never decreases (src/priority_queue.rs:104-122)."""
        old = self.counts.get(item)
        if old is not None and count > old:
            self.counts[item] = count
            heapq.heappush(self._heap, (count, self.seqs[item], item))

    def upsert(self, item: bytes, count: int) -> bytes | None:
        """Insert/raise; returns the evicted item if one fell out."""
        old = self.counts.get(item)
        if old is not None:
            if count > old:
                self.counts[item] = count
                heapq.heappush(self._heap, (count, self.seqs[item], item))
            return None
        if len(self.counts) < self.k:
            self._admit(item, count)
            return None
        self._prune()
        if not self._heap or count <= self._heap[0][0]:
            return None  # strictly-greater rule (src/priority_queue.rs:176-188)
        _, _, victim = heapq.heappop(self._heap)
        del self.counts[victim]
        del self.seqs[victim]
        self._admit(item, count)
        return victim

    def _admit(self, item: bytes, count: int) -> None:
        self.counts[item] = count
        self.seqs[item] = self._seq
        self._seq += 1
        heapq.heappush(self._heap, (count, self.seqs[item], item))

    def mem_bytes(self, item_heap_fn=None) -> int:
        """Bytes of the tracked keys: ``item_heap_fn(key)`` each, or by
        default the key's length (8 for an int key), plus 96 per entry
        for the dict and heap bookkeeping."""
        if item_heap_fn is None:
            return sum((8 if isinstance(k, int) else len(k)) + 96 for k in self.counts)
        return sum(int(item_heap_fn(k)) + 96 for k in self.counts)

    def items_sorted(self) -> list[tuple[bytes, int]]:
        """(count desc, insertion seq asc) — src/priority_queue.rs:191-211."""
        return [
            (it, c)
            for it, c in sorted(
                self.counts.items(), key=lambda kv: (-kv[1], self.seqs[kv[0]])
            )
        ]


class HeavyKeeper:
    """Mergeable top-K HeavyKeeper sketch over byte-string keys."""

    def __init__(
        self,
        params: HKParams,
        rng: np.random.Generator | None = None,
        hasher=None,
    ) -> None:
        self.params = params
        # O3 (src/heavykeeper.rs:123-131 with_hasher): optional custom
        # vectorized hash fn (items ndarray, seed) -> uint64 ndarray.
        # Merging requires both sides to use the same hash family, and
        # a custom-hasher sketch refuses serialize() (a blob can't
        # carry code; the reference has the same same-hasher contract).
        self._hasher = hasher
        self.fps = np.zeros((params.depth, params.width), dtype=np.uint64)
        self.counts = np.zeros((params.depth, params.width), dtype=np.uint64)
        self.pq = TopKQueue(params.k)
        # Deterministic per-instance RNG; distributed callers pass
        # Generator(PCG64(seed ^ partition_id)) — analog of the seeded
        # SmallRng (src/heavykeeper.rs:70-83).
        self.rng = rng if rng is not None else np.random.default_rng(params.seed)
        # Test hook: force decay outcomes, mirrors the reference unit
        # tests' threshold overwrites (src/heavykeeper.rs:766-794).
        self._force_decay: bool | None = None
        self._ubuf = np.empty(0)
        self._upos = 0
        self._decay_lut: np.ndarray | None = None
        self._decay_lut_exact_tail = True

    def _u(self) -> float:
        """Buffered uniform draw (amortizes Generator call overhead in
        the scalar duel residue)."""
        if self._upos >= self._ubuf.shape[0]:
            self._ubuf = self.rng.random(16384)
            self._upos = 0
        u = self._ubuf[self._upos]
        self._upos += 1
        return u

    # -- construction helpers (reference builder surface, O1/O2/O4) ----
    @classmethod
    def new(cls, k: int, width: int, depth: int, decay: float = 0.9) -> "HeavyKeeper":
        return cls(HKParams(k=k, width=width, depth=depth, decay=decay))

    @classmethod
    def with_seed(
        cls, k: int, width: int, depth: int, decay: float, seed: int
    ) -> "HeavyKeeper":
        return cls(HKParams(k=k, width=width, depth=depth, decay=decay, seed=seed))

    @classmethod
    def builder(cls) -> "SketchBuilder":
        """Fluent construction (src/heavykeeper.rs:107-109)."""
        return SketchBuilder(cls)

    @classmethod
    def with_hasher(
        cls, k: int, width: int, depth: int, decay: float, seed: int, hasher
    ) -> "HeavyKeeper":
        """O3: user-supplied vectorized hash family
        ``(items: ndarray, seed: int) -> uint64 ndarray``."""
        return cls(
            HKParams(k=k, width=width, depth=depth, decay=decay, seed=seed),
            hasher=hasher,
        )

    def _hash(self, items: np.ndarray) -> np.ndarray:
        if self._hasher is not None:
            return np.asarray(
                self._hasher(items, self.params.seed), dtype=np.uint64
            )
        return hash_items(items, self.params.seed)

    # ------------------------------------------------------------------
    def _decay_p_int(self, counts: np.ndarray) -> np.ndarray:
        """P(decrement) = decay**count for integer counts — the hot-path
        analog of the reference's precomputed threshold table
        (src/heavykeeper.rs:95-104): ``decay**c`` becomes one table
        gather instead of a transcendental per element.

        The table is sized so the clamped tail value is below 1e-30 —
        a decrement with probability < 1e-30 is unrealizable in any
        stream this code will ever see, so clamping there is
        behaviorally exact.  Only for decay so close to 1 that even
        2**16 entries can't reach 1e-30 does the tail fall back to
        ``np.power`` (counts beyond the table are then rare anyway)."""
        if self._force_decay is True:
            return np.ones(counts.shape, dtype=np.float64)
        if self._force_decay is False:
            return np.zeros(counts.shape, dtype=np.float64)
        lut = self._decay_lut
        if lut is None:
            d = self.params.decay
            if 0.0 < d < 1.0:
                size = min(65536, int(math.ceil(-30.0 / math.log10(d))) + 1)
            else:
                size = 2  # d<=0: [1, 0] is exact for every count; d>=1 can't underflow
            with np.errstate(under="ignore"):
                lut = np.power(d, np.arange(size, dtype=np.float64))
            self._decay_lut = lut
            self._decay_lut_exact_tail = lut[-1] < 1e-30
        c = counts.astype(np.int64, copy=False)
        idx = np.minimum(c, lut.shape[0] - 1)
        p = lut[idx]
        if not self._decay_lut_exact_tail:
            tail = c >= lut.shape[0]
            if tail.any():
                with np.errstate(under="ignore"):
                    p = p.copy()
                    p[tail] = np.power(self.params.decay, c[tail].astype(np.float64))
        return p

    # -- O5/O6: weighted batch add -------------------------------------
    def add_batch(
        self,
        items: np.ndarray,
        weights: np.ndarray | None = None,
        return_evicted: bool = False,
    ) -> list | None:
        """Insert a batch of (item, weight) pairs.

        Batch pre-aggregation collapses Zipf-skewed batches to
        near-distinct weighted adds — the vectorized analog of the
        reference's first-class weighted ``add(item, n)``
        (src/heavykeeper.rs:273-279).

        ``return_evicted=True`` returns the items that fell OUT of the
        top-K queue during this batch, in eviction order — the batch
        analog of ``add_with_evicted`` (src/heavykeeper.rs:281-354,
        tested at src/heavykeeper.rs:1524-1562). Embedding callers use
        the evicted stream to maintain side structures.
        """
        arr = np.asarray(items)
        if arr.dtype.kind not in "iu":
            arr = np.asarray(items, dtype=object)
        if arr.size == 0:
            return [] if return_evicted else None
        # Pre-aggregate with a hash-table factorize (pandas khash,
        # ~2.5x cheaper than a uint64 sort-based np.unique). Integer
        # lanes factorize the RAW keys so only the distinct values are
        # hashed (6-10x less splitmix work on Zipf batches); object
        # lanes factorize the 64-bit hash directly since hashing is
        # the cheaper way to get a fixed-width factorize key there.
        # Either way the hash IS the sketch fingerprint. On the raw-key
        # lane two distinct keys can in principle share one 64-bit hash
        # within a batch (probability ~n^2/2^65 < 1e-10 per batch); the
        # only effect is last-write-wins on the matched fast path — a
        # bounded, deterministic undercount far below sketch error, so
        # no dedup pass is spent on it.
        if arr.dtype.kind in "iu" and self._hasher is None:
            # Dense small-domain fast path: when the batch's keys live
            # in a small non-negative range (event types, ports, ids,
            # the reference's bounded-Zipf bench fixture), ONE bincount
            # over the value range replaces the khash factorize, the
            # weight accumulation AND the first-occurrence scatter —
            # each unique VALUE is its own representative. The count
            # table is bounded to 4 rows per batch element (and 2^22
            # slots absolute), so the transient stays a few MB per
            # task. Tie-order among equal-weight duelers differs from
            # the factorize lane (value-ascending vs first-occurrence);
            # both are deterministic and the estimates are identical in
            # distribution — exact-equality regression lives in
            # tests/test_kernel.py::test_dense_preagg_matches_factorize.
            if arr.size >= 4096:
                amin = int(arr.min())
                amax = int(arr.max())
                if amin >= 0 and amax < min(4 * arr.size, _DENSE_DOMAIN_CAP):
                    # bincount can't safe-cast uint64; the range check
                    # above bounds values < 2^22 so an int64 view is exact
                    arr_d = arr.astype(np.int64) if arr.dtype.kind == "u" else arr
                    if weights is None:
                        cnt = np.bincount(arr_d, minlength=amax + 1)
                    else:
                        cnt = np.bincount(
                            arr_d,
                            weights=np.asarray(weights, dtype=np.float64),
                            minlength=amax + 1,
                        )
                    uk_d = np.flatnonzero(cnt)
                    w_d = cnt[uk_d].astype(np.int64)
                    keep_d = w_d > 0
                    uk_d = uk_d[keep_d]
                    return self._add_unique(
                        uk_d,
                        w_d[keep_d],
                        fp=self._hash(uk_d),
                        return_evicted=return_evicted,
                    )
            inv, uk = pd.factorize(arr, sort=False)
            uh = self._hash(np.asarray(uk))
        else:
            h_all = self._hash(arr)
            inv, uh = pd.factorize(h_all, sort=False)
        k = uh.shape[0]
        # first-occurrence index per unique: reversed scatter (last
        # write wins == first element when traversed back-to-front)
        n = inv.shape[0]
        first = np.empty(k, dtype=np.int64)
        first[inv[::-1]] = np.arange(n - 1, -1, -1)
        if weights is None:
            w = np.bincount(inv, minlength=k).astype(np.int64)
        else:
            w = np.bincount(
                inv,
                weights=np.asarray(weights, dtype=np.float64),
                minlength=k,
            ).astype(np.int64)
        keep = w > 0  # inc == 0 is a no-op (src/heavykeeper.rs:286-288)
        uh = np.asarray(uh, dtype=np.uint64)
        return self._add_unique(
            arr[first[keep]], w[keep], fp=uh[keep], return_evicted=return_evicted
        )

    def add_batch_hashed(
        self,
        hashes: np.ndarray,
        weights: np.ndarray,
        key_take,
    ) -> None:
        """Insert pre-hashed distinct keys WITHOUT materializing them.

        The zero-object string lane: the distributed builders
        dictionary-encode the Arrow batch (C pass), hash the distinct
        values straight off the Arrow buffers
        (``hash_string_buffers``), and hand this method (hash, weight)
        int lanes plus ``key_take(indices) -> object ndarray`` — only
        the handful of keys that actually enter the top-K queue are
        ever converted to Python objects. ``hashes`` must come from
        this sketch's hash function (the seeded default family; a
        custom hasher cannot guarantee that, so it is refused).
        """
        if self._hasher is not None:
            raise ValueError(
                "add_batch_hashed requires the seeded default hash family; "
                "a custom-hasher sketch must use add_batch"
            )
        h = np.asarray(hashes, dtype=np.uint64)
        if h.size == 0:
            return
        # fold (rare) full-64-bit collisions exactly like add_batch
        inv, uh = pd.factorize(h, sort=False)
        k = uh.shape[0]
        w = np.bincount(
            inv, weights=np.asarray(weights, dtype=np.float64), minlength=k
        ).astype(np.int64)
        first = np.empty(k, dtype=np.int64)
        first[inv[::-1]] = np.arange(h.shape[0] - 1, -1, -1)
        keep = w > 0
        firstk = first[keep]
        self._add_unique_fp(
            np.asarray(uh, dtype=np.uint64)[keep],
            w[keep],
            lambda sel: key_take(firstk[sel]),
        )

    def _add_unique(
        self,
        keys: np.ndarray,
        w: np.ndarray,
        fp: np.ndarray | None = None,
        return_evicted: bool = False,
    ) -> list | None:
        if keys.shape[0] == 0:
            return [] if return_evicted else None
        if fp is None:
            fp = self._hash(keys)
        return self._add_unique_fp(
            fp, w, lambda sel: keys[sel], return_evicted=return_evicted
        )

    def _add_unique_fp(
        self,
        fp: np.ndarray,
        w: np.ndarray,
        take_keys,
        return_evicted: bool = False,
    ) -> list | None:
        n = fp.shape[0]
        if n == 0:
            return [] if return_evicted else None
        p = self.params
        idxs = compose_indices(fp, p.depth, p.width)
        # Flatten all depth rows into ONE namespaced pass: cell id =
        # d*width + idx never collides across rows, the (fps, counts)
        # state flattens to a view, and every vector op in _add_row runs
        # once over depth*n elements instead of depth times over n —
        # same memory traffic, ~4x fewer Python-level numpy dispatches.
        flat_idx = (
            idxs + (np.arange(p.depth, dtype=np.intp) * p.width)[:, None]
        ).reshape(-1)
        fp_flat = np.tile(fp, p.depth)
        w_flat = np.tile(w, p.depth)
        self._add_row(self.fps.reshape(-1), self.counts.reshape(-1), flat_idx, fp_flat, w_flat)
        # Final re-probe: resulting count per key = max over rows where
        # the key currently owns the cell (paper Algorithm 1's monotone
        # heap rule uses the per-add max; probing after the batch is
        # equivalent up to intra-batch eviction races).
        fps_f = self.fps.reshape(-1)[flat_idx]
        cnt_f = self.counts.reshape(-1)[flat_idx]
        owned = np.where((fps_f == fp_flat) & (cnt_f > 0), cnt_f, 0)
        est = owned.reshape(p.depth, n).max(axis=0).astype(np.int64)
        # PQ update, vectorized pre-filter: only keys that can change
        # the heap (TopKQueue.candidates) need Python-level upserts.
        sel = self.pq.candidates(est)
        evicted: list | None = [] if return_evicted else None
        if sel.size:
            # only now do the selected keys materialize (lazy take);
            # preserve deterministic order: weight-desc then key, so
            # equal-count ties get a stable insertion sequence
            keys_sel = np.asarray(take_keys(sel), dtype=object)
            order = np.lexsort((keys_sel, -est[sel]))
            upsert = self.pq.upsert
            if return_evicted:
                for i in order:
                    victim = upsert(_pq_key(keys_sel[i]), int(est[sel[i]]))
                    if victim is not None:
                        evicted.append(victim)
            else:
                for i in order:
                    upsert(_pq_key(keys_sel[i]), int(est[sel[i]]))
        return evicted

    def _add_row(
        self,
        fps_row: np.ndarray,
        cnt_row: np.ndarray,
        idx: np.ndarray,
        fp: np.ndarray,
        w: np.ndarray,
    ) -> None:
        """One vectorized insert pass over a (flattened) cell array.

        ``idx`` are cell ids into ``fps_row``/``cnt_row`` (the whole
        depth×width state viewed flat, ids namespaced per row)."""
        cfp = fps_row[idx]
        ccnt = cnt_row[idx]
        # Fast path 1: fingerprint match on a live cell -> count += w
        # (src/heavykeeper.rs:303-307). Direct scatter-add: batch fps
        # are unique post-factorize; two distinct keys sharing a 64-bit
        # fp AND cell would last-write-win here — the documented
        # ~1e-10/batch trade-off accepted in add_batch.
        m = (ccnt > 0) & (cfp == fp)
        if m.any():
            # direct scatter-add is safe here: fps within a batch are
            # UNIQUE (hash-factorized upstream), and a match requires
            # occupant fp == challenger fp, so two matched challengers
            # can never hit the same cell — no np.add.at buffering
            cnt_row[idx[m]] += w[m].astype(np.uint64)
        rem = np.flatnonzero(~m)
        if rem.size == 0:
            return
        # Cross-challenger ORDERING is only needed where a cell is
        # EMPTY (to decide who installs); at steady state the cell
        # array is saturated and that subset is ~nil, so sorting ALL
        # of rem (the old approach) paid a radix argsort over the
        # whole batch for nothing. Challengers at occupied cells go
        # straight to the duel machinery in arrival order — which is
        # the reference's stream order (src/heavykeeper.rs:281-354
        # processes adds strictly in sequence; weight-desc ordering
        # was our own batching artifact).
        rem_empty = ccnt[rem] == 0  # pre-update gather: match-add only
        #                             touched occupied cells, so this
        #                             still identifies empties exactly
        occupied = rem[~rem_empty]
        losers_at_empty = np.empty(0, dtype=occupied.dtype)
        er = rem[rem_empty]
        if er.size:
            # Among challengers at the same empty cell the HEAVIEST
            # installs (a lighter installer would make the heavier
            # one's whole mass duel a hopeless occupant). Packed
            # single-key sort: (cell << B) | (2^B-1 - w) orders by
            # (cell asc, w desc); B = 16 bits covers typical weights,
            # widen to 32 rather than clamp (a clamped tie would
            # install the LIGHTER one); huge weights/cell spaces fall
            # back to the exact two-key sort.
            wr = w[er]
            wmax = int(wr.max(initial=0))
            wbits = 16 if wmax < (1 << 16) - 1 else 32
            emax = int(idx[er].max())  # only idx[er] values are packed
            if wmax < (1 << wbits) - 1 and emax < (1 << (63 - wbits)):
                packed = (idx[er].astype(np.uint64) << _U64(wbits)) | (
                    _U64((1 << wbits) - 1) - wr.astype(np.uint64)
                )
                nbits = wbits + emax.bit_length()
                order = er[_radix_argsort(packed, nbits)]
            else:
                order = er[np.lexsort((-wr, idx[er]))]
            cells = idx[order]
            is_winner = np.empty(cells.shape[0], dtype=bool)
            is_winner[0] = True
            np.not_equal(cells[1:], cells[:-1], out=is_winner[1:])
            winners = order[is_winner]
            wcells = cells[is_winner]
            # Fast path 2: installs into empty cells
            # (src/heavykeeper.rs:296-301). Winner cells are unique.
            fps_row[wcells] = fp[winners]
            cnt_row[wcells] = w[winners].astype(np.uint64)
            losers_at_empty = order[~is_winner]
        # Everyone else duels the (possibly just-installed) occupant.
        duelers = np.concatenate([occupied, losers_at_empty])
        if duelers.size == 0:
            return
        # Re-check fingerprint match (a loser may share the new
        # occupant's fingerprint on a true hash collision).
        dcells = idx[duelers]
        dm = fps_row[dcells] == fp[duelers]
        if dm.any():
            # same uniqueness argument as the match fast path above
            cnt_row[dcells[dm]] += w[duelers[dm]].astype(np.uint64)
            duelers = duelers[~dm]
            dcells = dcells[~dm]
        if duelers.size == 0:
            return
        # Vectorized fast-reject: P(>=1 decrement in w trials) =
        # 1-(1-p)^w with p = decay**count. The overwhelming majority of
        # duels end here with no state change — only conditioned
        # survivors take the exact per-item path. For the dominant
        # w==1 case 1-(1-p)^1 == p exactly, so the log1p/expm1
        # transcendentals run only over the multi-weight minority.
        pm = self._decay_p_int(cnt_row[dcells])
        wd = w[duelers]
        multi_m = wd != 1
        if multi_m.any():
            mi = np.flatnonzero(multi_m)
            with np.errstate(divide="ignore", invalid="ignore", under="ignore"):
                log1m = np.log1p(-pm[mi])  # -inf when pm == 1
                p_mi = -np.expm1(wd[mi].astype(np.float64) * log1m)
            p_any = pm.copy()
            p_any[mi] = np.where(pm[mi] >= 1.0, 1.0, p_mi)
        else:
            p_any = pm
        u = self.rng.random(duelers.size)
        surv = u < p_any
        if not surv.any():
            return
        sv = np.flatnonzero(surv)
        skeys = duelers[sv]
        scells = dcells[sv]
        sw = w[skeys]
        # Vectorized w==1 survivors: the conditioned duel is exactly one
        # decrement. Group by cell; cells whose count strictly exceeds
        # the challenger multiplicity just lose that many counts — no
        # ownership change, fully vectorized. Cells that would hit zero
        # (ownership churn) take the exact sequential path.
        one = sw == 1
        if one.any():
            sv_one = np.flatnonzero(one)
            cells1 = scells[sv_one]
            uc, inv_c, mult = np.unique(
                cells1, return_inverse=True, return_counts=True
            )
            c_now = cnt_row[uc].astype(np.int64)
            safe = mult < c_now
            if safe.any():
                cnt_row[uc[safe]] = (c_now[safe] - mult[safe]).astype(np.uint64)
            # churn (mult >= count): each conditioned w==1 challenger
            # decrements exactly once; challenger #count seizes with
            # count 1 and every later one re-seizes at count 1 — so the
            # cell deterministically ends at (fp of LAST challenger, 1).
            churn_cells = ~safe
            if churn_cells.any():
                last = np.zeros(uc.shape[0], dtype=np.int64)
                np.maximum.at(last, inv_c, np.arange(cells1.shape[0]))
                tgt = uc[churn_cells]
                winner_keys = skeys[sv_one[last[churn_cells]]]
                fps_row[tgt] = fp[winner_keys]
                cnt_row[tgt] = 1
            churn = np.zeros(sv_one.shape[0], dtype=bool)  # all handled
        else:
            churn = np.zeros(0, dtype=bool)
        # Vectorized w>1 survivors where a kill is statistically
        # unreachable (E[decrements]*2 + 10 < count): the conditioned
        # number of decrements is Binomial(w, p) given >= 1 success;
        # p barely moves over so few decrements, so the Binomial draw
        # is distributionally faithful. Duplicate target cells fall
        # back to the exact path (first occurrence wins the vector
        # slot).
        multi = np.flatnonzero(~one)
        seq_parts = [np.flatnonzero(one)[churn]]
        if multi.size and self._force_decay is None:
            mc = scells[multi]
            mcnt = cnt_row[mc].astype(np.int64)
            mw = sw[multi].astype(np.float64)
            mp = self._decay_p_int(mcnt)
            no_kill = (2.0 * mw * mp + 10.0) < mcnt
            # first occurrence per cell only
            _, firstpos = np.unique(mc, return_index=True)
            is_first = np.zeros(multi.size, dtype=bool)
            is_first[firstpos] = True
            vec = no_kill & is_first
            if vec.any():
                dv = self.rng.binomial(sw[multi[vec]], mp[vec])
                dv = np.clip(dv, 1, mcnt[vec] - 1)
                cnt_row[mc[vec]] = (mcnt[vec] - dv).astype(np.uint64)
            seq_parts.append(multi[~vec])
        else:
            seq_parts.append(multi)
        seq = np.concatenate(seq_parts)
        if seq.size == 0:
            return
        # Exact residue, conditioned on >= 1 success: waves of unique
        # cells, each wave a fully-vectorized decrement loop
        # (_duel_wave); only pathological long duels drop to the scalar
        # path inside it.
        self._duel_wave(
            fps_row,
            cnt_row,
            scells[seq],
            fp[skeys[seq]],
            sw[seq].astype(np.int64),
        )

    def _duel_wave(
        self,
        fps_row: np.ndarray,
        cnt_row: np.ndarray,
        cells: np.ndarray,
        new_fp: np.ndarray,
        w: np.ndarray,
    ) -> None:
        """Duel residue driver: duplicate target cells are processed in
        waves (first occurrence per cell each round, preserving the
        sequential within-cell challenger order); each wave's duels hit
        unique cells and run through the vectorized ``_duel_vec``."""
        pos = np.arange(cells.shape[0])
        while pos.size:
            _, firstpos = np.unique(cells[pos], return_index=True)
            take = pos[firstpos]
            self._duel_vec(fps_row, cnt_row, cells[take], new_fp[take], w[take])
            if firstpos.size == pos.size:
                return
            mask = np.ones(pos.size, dtype=bool)
            mask[firstpos] = False
            pos = pos[mask]

    def _duel_vec(
        self,
        fps_row: np.ndarray,
        cnt_row: np.ndarray,
        cells: np.ndarray,
        new_fp: np.ndarray,
        w: np.ndarray,
        max_iter: int = 24,
    ) -> None:
        """Exact conditioned decay duels over UNIQUE cells, vectorized.

        Same distribution as ``_duel_one`` (truncated-geometric first
        gap, geometric gaps after), but the decrement loop runs across
        the whole wave at once; 96%+ of residue duels have w<=4 and
        c<=8, so the loop terminates in a handful of iterations.
        Stragglers past ``max_iter`` fall back to the scalar path with
        ``first_success=False`` (their conditioning is already spent).
        """
        remaining = w.copy()
        c = cnt_row[cells].astype(np.int64)
        # occupant died earlier in this batch -> immediate install
        dead = c == 0
        if dead.any():
            tgt = cells[dead]
            fps_row[tgt] = new_fp[dead]
            cnt_row[tgt] = remaining[dead].astype(np.uint64)
            if dead.all():
                return
        active = np.flatnonzero(~dead)
        force = self._force_decay
        if force is False:
            return  # no decrement ever happens (test hook)
        if force is True:
            # deterministic: every trial decrements. w >= c kills and
            # installs with remaining+1 (src/heavykeeper.rs:766-794:
            # 3000 vs 1000 -> 2001); otherwise count just drops by w.
            ac, ar, anf = cells[active], remaining[active], new_fp[active]
            cc = c[active]
            kill = ar >= cc
            if kill.any():
                fps_row[ac[kill]] = anf[kill]
                cnt_row[ac[kill]] = (ar[kill] - cc[kill] + 1).astype(np.uint64)
            if (~kill).any():
                cnt_row[ac[~kill]] = (cc[~kill] - ar[~kill]).astype(np.uint64)
            return
        decay = self.params.decay
        first = True
        it = 0
        while active.size:
            it += 1
            if it > max_iter:
                for j in active:
                    self._duel_one(
                        fps_row,
                        cnt_row,
                        int(cells[j]),
                        new_fp[j],
                        int(remaining[j]),
                        first_success=first,
                    )
                return
            ca = c[active]
            ra = remaining[active]
            with np.errstate(under="ignore", divide="ignore", invalid="ignore"):
                p = self._decay_p_int(ca)
                log1m = np.log1p(-p)  # -inf when p == 1
                u = self.rng.random(active.size)
                if first:
                    # truncated geometric on [1, remaining]
                    total = -np.expm1(ra.astype(np.float64) * log1m)
                    t = np.ceil(np.log1p(-u * total) / log1m)
                else:
                    t = np.ceil(np.log1p(-u) / log1m)
            t = np.where(p >= 1.0, 1.0, t)
            # p underflowed to 0 -> no decrement can ever occur; after
            # the conditioned first gap, a gap beyond the remaining
            # trials means the duel ends with no further decrement
            dies_out = (p <= 0.0) if first else ((p <= 0.0) | (t > ra))
            t = np.nan_to_num(t, nan=1.0, posinf=np.float64(1 << 62))
            t = np.minimum(np.maximum(t, 1.0), ra).astype(np.int64)
            go = ~dies_out
            if go.any():
                gi = active[go]
                remaining[gi] -= t[go]
                c[gi] -= 1
                cnt_row[cells[gi]] = c[gi].astype(np.uint64)
                kill = c[gi] == 0
                if kill.any():
                    ki = gi[kill]
                    fps_row[cells[ki]] = new_fp[ki]
                    # the converting trial is the first unit of the new
                    # count (src/heavykeeper.rs:766-794)
                    cnt_row[cells[ki]] = (remaining[ki] + 1).astype(np.uint64)
                alive = go.copy()
                alive[np.flatnonzero(go)[kill]] = False
            else:
                alive = go
            alive &= ~dies_out
            still = alive & (remaining[active] > 0) & (c[active] > 0)
            active = active[still]
            first = False

    def _duel_one(
        self,
        fps_row: np.ndarray,
        cnt_row: np.ndarray,
        cell: int,
        new_fp: np.uint64,
        w: int,
        first_success: bool,
    ) -> None:
        """Exact decay duel for one challenger (src/heavykeeper.rs:309-328).

        Statistically identical to the reference's per-unit Bernoulli
        loop but sampled in O(#decrements): inter-decrement gaps are
        Geometric(p). ``first_success`` means the caller already
        established (via the vectorized fast-reject) that at least one
        decrement occurs within w trials, so the first gap is drawn
        from the conditioned (truncated) geometric.
        """
        remaining = w
        decay = self.params.decay
        c = int(cnt_row[cell])
        if c == 0:  # occupant died in an earlier residue duel this batch
            fps_row[cell] = new_fp
            cnt_row[cell] = remaining
            return
        force = self._force_decay
        _log1p = math.log1p
        _expm1 = math.expm1
        _u = self._u
        while remaining > 0 and c > 0:
            if force is True:
                p = 1.0
            elif force is False:
                return
            else:
                p = decay**c
            if p <= 0.0:
                return
            if first_success:
                # truncated geometric on [1, remaining]
                if p >= 1.0:
                    t = 1
                else:
                    total = -_expm1(remaining * _log1p(-p))
                    uu = _u() * total
                    t = int(math.ceil(_log1p(-uu) / _log1p(-p)))
                    t = min(max(t, 1), remaining)
                first_success = False
            else:
                if p >= 1.0:
                    t = 1
                elif p * remaining < 1e-12:
                    # survival shortcut: P(any success) ~ p*remaining
                    if _u() < p * remaining:
                        t = int(_u() * remaining) + 1
                    else:
                        return
                else:
                    t = int(math.ceil(_log1p(-_u()) / _log1p(-p)))
                    if t > remaining:
                        return
            remaining -= t
            c -= 1
            cnt_row[cell] = c
            if c == 0:
                # challenger seizes; the converting trial counts as the
                # first unit of the new count (src/heavykeeper.rs:766-794:
                # 3000 vs 1000 under forced decay -> 2001)
                fps_row[cell] = new_fp
                cnt_row[cell] = remaining + 1
                return

    # -- O7/O8: point estimates ----------------------------------------
    def estimate(self, items: np.ndarray, use_heap: bool = True) -> np.ndarray:
        """Vectorized count(): PQ value if tracked, else min over rows
        with a matching fingerprint, else 0 (src/heavykeeper.rs:220-246).
        ``use_heap=False`` is bucket_count() (src/heavykeeper.rs:248-271).
        """
        arr = np.asarray(items)
        if arr.dtype.kind not in "iu":
            arr = np.asarray(items, dtype=object)
        n = arr.shape[0]
        p = self.params
        fp = self._hash(arr)
        idxs = compose_indices(fp, p.depth, p.width)
        out = np.zeros(n, dtype=np.int64)
        seen = np.zeros(n, dtype=bool)
        for d in range(p.depth):
            idx = idxs[d]
            m = (self.fps[d, idx] == fp) & (self.counts[d, idx] > 0)
            row = self.counts[d, idx].astype(np.int64)
            upd_new = m & ~seen
            out[upd_new] = row[upd_new]
            upd_min = m & seen
            np.minimum(out, np.where(upd_min, row, np.iinfo(np.int64).max), out=out)
            seen |= m
        if use_heap and self.pq.counts:
            get = self.pq.counts.get
            for i in range(n):
                c = get(_pq_key(arr[i]))
                if c is not None:
                    out[i] = c
        return out

    def _cell_max(self, items: np.ndarray) -> np.ndarray:
        """MAX over rows whose cell this key owns (0 if none).

        The add path's PQ maintenance already uses max-over-owned
        (``_add_unique_fp``): every owned cell accumulates ONLY its
        key's own weight, so each is a lower bound on the true count
        and the least-chipped row is the best sound estimate. The
        public ``count()``/``estimate`` keep the reference's MIN
        semantics (src/heavykeeper.rs:220-246); this internal
        estimator serves the merge, where light colliders' early decay
        chips would otherwise bias boundary candidates low."""
        arr = np.asarray(items)
        if arr.dtype.kind not in "iu":
            arr = np.asarray(items, dtype=object)
        n = arr.shape[0]
        p = self.params
        fp = self._hash(arr)
        idxs = compose_indices(fp, p.depth, p.width)
        out = np.zeros(n, dtype=np.int64)
        for d in range(p.depth):
            idx = idxs[d]
            m = (self.fps[d, idx] == fp) & (self.counts[d, idx] > 0)
            row = self.counts[d, idx].astype(np.int64)
            np.maximum(out, np.where(m, row, 0), out=out)
        return out

    def contains(self, item: bytes | str) -> bool:
        """O9 (src/heavykeeper.rs:177-199)."""
        return bool(self.estimate(np.asarray([item], dtype=object))[0] > 0)

    def query(self, item: bytes | str) -> bool:
        """O10: deprecated alias of ``contains`` (kept for parity with
        the reference, src/heavykeeper.rs:201-209 — deprecated there
        since 0.6.9)."""
        import warnings

        warnings.warn(
            "query() is a deprecated alias; use contains()",
            DeprecationWarning,
            stacklevel=2,
        )
        return self.contains(item)

    def contains_top_k(self, item: bytes | str | int) -> bool:
        """O11 (src/heavykeeper.rs:211-218)."""
        return _pq_key(item) in self.pq.counts

    # -- O12: ordered candidates ----------------------------------------
    def list(self) -> list[tuple[bytes, int]]:
        return self.pq.items_sorted()

    # -- O13: merge ------------------------------------------------------
    def merge(self, other: "HeavyKeeper") -> "HeavyKeeper":
        """In-place union; see module docstring for semantics & parity."""
        self.params.check_compatible(other.params)
        if self._hasher is not other._hasher:
            raise SketchCompatError("hasher", self._hasher, other._hasher)
        # Candidate values from the pre-merge sides, using bucket_count
        # fallback in both directions (src/bucketed.rs:377-401) — but
        # DEFER the PQ admissions until after the cell union, so every
        # candidate competes with its freshest value. Admitting first
        # (as a sequential merge naturally would) lets a boundary key
        # enter with a stale fallback and get evicted by the strictly-
        # greater rule before the cells that prove its true mass have
        # merged — in a merge TREE that loss is order-dependent and
        # irreversible (caught by the round-5 sf1 rehearsal: a global-
        # rank-9 key's presence in the merged PQ varied with task
        # completion order while its merged cells were exact).
        pending: dict = {}
        other_items = list(other.pq.counts.items())
        if other_items:
            keys = _key_array([k for k, _ in other_items])
            # PQ value when tracked, else max-over-owned cells (the
            # add path's own PQ estimator — see _cell_max)
            cells = self._cell_max(keys)
            get = self.pq.counts.get
            for (item, ocount), cc in zip(other_items, cells):
                sc = get(item)
                pending[item] = int(ocount) + int(sc if sc is not None else cc)
        mine = [k for k in self.pq.counts if k not in other.pq.counts]
        if mine:
            keys = _key_array(mine)
            oc = other._cell_max(keys)
            for item, extra in zip(mine, oc):
                pending[item] = self.pq.counts[item] + int(extra)
        # Cell union (src/heavykeeper.rs:437-448): equal fp -> add;
        # self empty -> copy other; else keep self.
        with np.errstate(over="ignore"):
            same = (self.fps == other.fps) & (self.counts > 0) & (other.counts > 0)
            self.counts[same] += other.counts[same]
            empty = self.counts == 0
            self.fps[empty] = other.fps[empty]
            self.counts[empty] = other.counts[empty]
        # Admit/update every candidate at max(fallback sum, merged-cell
        # estimate): the merged cells accumulate exactly in every row
        # the key never lost, so they are the authority for contested
        # boundary keys; the estimate never exceeds the true count, so
        # the monotone PQ rules are preserved.
        if pending:
            allk = list(pending)
            probe = self._cell_max(_key_array(allk))
            order = sorted(
                range(len(allk)),
                key=lambda i: -max(pending[allk[i]], int(probe[i])),
            )
            for i in order:
                item = allk[i]
                self.pq.upsert(item, max(pending[item], int(probe[i])))
        return self

    def _merge_parsed_sparse(
        self,
        other_params: "HKParams",
        idx: np.ndarray,
        ofps: np.ndarray,
        ocnt: np.ndarray,
        cand: list,
    ) -> "HeavyKeeper":
        """In-place merge of a PARSED sparse (v2) blob — bit-identical
        semantics to ``merge(HeavyKeeper.deserialize(blob))`` but the
        cell union touches only the other side's LIVE cells (O(nnz))
        instead of masking the whole depth x width state (O(cells)).
        A v2 blob stores exactly the count>0 cells, and for count==0
        cells every dense-union branch is a no-op (same-fp needs
        other.count>0; empty-copy would copy zeros), so restricting to
        the stored cells reproduces the dense result exactly. The
        deferred-admission PQ logic is the same code path; probing the
        other side's cells (``_sparse_cell_max``) replaces
        ``other._cell_max`` with a searchsorted over the sorted live
        cell ids. merge_blobs uses this for v2 blobs — the driver/
        reducer fold over partials was O(n_blobs x cells) and is the
        dominant combine cost for wide exact-regime sketches."""
        self.params.check_compatible(other_params)
        if self._hasher is not None:
            raise SketchCompatError("hasher", self._hasher, None)
        # other.pq reconstruction: candidates admitted in seq order
        # (never more than k, so no evictions — same dict order as
        # deserialize + pq.counts.items())
        other_items = [(it, int(c)) for it, c, _ in sorted(cand, key=lambda t: t[2])]
        other_counts = dict(other_items)
        pending: dict = {}
        if other_items:
            keys = _key_array([k for k, _ in other_items])
            cells = self._cell_max(keys)
            get = self.pq.counts.get
            for (item, ocount), cc in zip(other_items, cells):
                sc = get(item)
                pending[item] = int(ocount) + int(sc if sc is not None else cc)
        mine = [k for k in self.pq.counts if k not in other_counts]
        if mine:
            keys = _key_array(mine)
            oc = self._sparse_cell_max(keys, idx, ofps, ocnt)
            for item, extra in zip(mine, oc):
                pending[item] = self.pq.counts[item] + int(extra)
        # cell union restricted to the other side's live cells
        if idx.size:
            fps_flat = self.fps.reshape(-1)
            cnt_flat = self.counts.reshape(-1)
            cur_fp = fps_flat[idx]
            cur_cnt = cnt_flat[idx]
            with np.errstate(over="ignore"):
                same = (cur_cnt > 0) & (cur_fp == ofps)
                if same.any():
                    cnt_flat[idx[same]] = cur_cnt[same] + ocnt[same]
                empty = cur_cnt == 0
                if empty.any():
                    fps_flat[idx[empty]] = ofps[empty]
                    cnt_flat[idx[empty]] = ocnt[empty]
        if pending:
            allk = list(pending)
            probe = self._cell_max(_key_array(allk))
            order = sorted(
                range(len(allk)),
                key=lambda i: -max(pending[allk[i]], int(probe[i])),
            )
            for i in order:
                item = allk[i]
                self.pq.upsert(item, max(pending[item], int(probe[i])))
        return self

    def _sparse_cell_max(
        self, items: np.ndarray, idx: np.ndarray, ofps: np.ndarray, ocnt: np.ndarray
    ) -> np.ndarray:
        """``_cell_max`` against a parsed sparse cell set: max count
        over rows where the key owns the cell. ``idx`` is sorted
        ascending (flatnonzero order), so ownership probes are one
        searchsorted per depth row."""
        arr = np.asarray(items)
        if arr.dtype.kind not in "iu":
            arr = np.asarray(items, dtype=object)
        n = arr.shape[0]
        out = np.zeros(n, dtype=np.int64)
        if n == 0 or idx.size == 0:
            return out
        p = self.params
        fp = self._hash(arr)
        idxs = compose_indices(fp, p.depth, p.width)
        for d in range(p.depth):
            flat = idxs[d] + d * p.width
            pos = np.searchsorted(idx, flat)
            pos_c = np.minimum(pos, idx.shape[0] - 1)
            hit = (idx[pos_c] == flat) & (ofps[pos_c] == fp) & (ocnt[pos_c] > 0)
            np.maximum(out, np.where(hit, ocnt[pos_c].astype(np.int64), 0), out=out)
        return out

    # -- O14: memory audit ------------------------------------------------
    def mem_bytes(self, item_heap_fn=None) -> int:
        """Analog of mem_bytes(item_heap) (src/heavykeeper.rs:388-403).

        Like the reference, the caller may supply ``item_heap_fn(item)
        -> int`` returning the bytes an item owns beyond its inline
        representation (the Rust API takes ``item_heap: Fn(&T) ->
        usize``, e.g. ``String::capacity``; ``|_| 0`` for heap-free
        T). When omitted, keys are costed at ``len(key) + 96`` (an int
        key at 8 + 96, 8 being its inline u64 width) — the key's own
        bytes plus a fixed per-tracked-item overhead
        covering this implementation's dict/heap entries, mirroring
        the reference's ``size_of::<Bucket>()`` + queue bookkeeping
        terms."""
        return int(self.fps.nbytes + self.counts.nbytes + self.pq.mem_bytes(item_heap_fn))

    # -- O15: debug dump ---------------------------------------------------
    def describe(self) -> dict:
        nz = int((self.counts > 0).sum())
        return {
            "params": self.params.__dict__,
            "nonzero_cells": nz,
            "fill": nz / (self.params.depth * self.params.width),
            "tracked": len(self.pq),
            "mem_bytes": self.mem_bytes(),
        }

    def debug(self) -> dict:
        """O15 parity (src/heavykeeper.rs:460-496): the non-zero bucket
        dump sorted by count desc (ties by row, col) plus the queue
        contents in (count desc, insertion seq) order, alongside the
        summary stats."""
        d, w = np.nonzero(self.counts)
        cnt = self.counts[d, w].astype(np.int64)
        order = np.lexsort((w, d, -cnt))
        buckets = [
            {
                "row": int(d[i]),
                "col": int(w[i]),
                "fingerprint": int(self.fps[d[i], w[i]]),
                "count": int(cnt[i]),
            }
            for i in order
        ]
        return {
            **self.describe(),
            "buckets": buckets,
            "queue": [
                {"item": _item_repr(it), "count": int(c)}
                for it, c in self.pq.items_sorted()
            ],
        }

    # -- serialization ------------------------------------------------------
    def serialize(self) -> bytes:
        if self._hasher is not None:
            raise ValueError(
                "sketch with a custom hasher cannot be serialized: the blob "
                "format cannot carry the hash function; use the seeded "
                "default family for distributed/persisted sketches"
            )
        p = self.params
        cand = [
            (k, int(c), int(self.pq.seqs[k])) for k, c in self.pq.counts.items()
        ]
        buf = io.BytesIO()
        nz_flat = np.flatnonzero(self.counts.reshape(-1))
        cells = p.depth * p.width
        # Sparse layout (v2) when the bucket array is mostly empty —
        # an over-provisioned width (exact-regime sizing) would
        # otherwise ship depth*width*16 bytes per partial through every
        # shuffle; sparse ships 24 bytes per LIVE cell instead.
        if nz_flat.size * 3 < cells:
            buf.write(
                _HEADER.pack(_MAGIC, 2, p.k, p.width, p.depth, p.decay, p.seed)
            )
            buf.write(struct.pack("<q", nz_flat.size))
            buf.write(nz_flat.astype(np.int64).tobytes())
            buf.write(self.fps.reshape(-1)[nz_flat].tobytes())
            buf.write(self.counts.reshape(-1)[nz_flat].tobytes())
        else:
            buf.write(
                _HEADER.pack(_MAGIC, 1, p.k, p.width, p.depth, p.decay, p.seed)
            )
            buf.write(self.fps.tobytes())
            buf.write(self.counts.tobytes())
        buf.write(serde_dumps(cand))
        return buf.getvalue()

    @classmethod
    def deserialize(cls, blob: bytes) -> "HeavyKeeper":
        ver, params, off = _read_header(blob)
        depth, width = params.depth, params.width
        cells = depth * width
        if ver == 1:
            # before allocating: the header's grid must be in the blob
            if len(blob) < off + 16 * cells:
                raise ValueError("truncated dense cell section")
            sk = cls(params)
            sk.fps = np.frombuffer(blob, np.uint64, cells, off).reshape(depth, width).copy()
            off += 8 * cells
            sk.counts = np.frombuffer(blob, np.uint64, cells, off).reshape(depth, width).copy()
            off += 8 * cells
        else:  # sparse
            idx, fps_nz, cnt_nz, off = _read_sparse_cells(blob, off, cells)
            sk = cls(params)
            sk.fps.reshape(-1)[idx] = fps_nz
            sk.counts.reshape(-1)[idx] = cnt_nz
        for item, c, seq in sorted(_read_cand(blob, off), key=lambda t: t[2]):
            sk.pq.upsert(item, c)
        return sk



def _sniff_legacy_pickle(head: bytes) -> None:
    """Blobs from builds before the serde codec carried a PICKLE
    candidate section under the same magic/version bytes; decoding it
    as serde would fail mid-stream with an opaque 'unknown tag N'.
    Pickle protocol >= 2 streams start with 0x80 — never a valid serde
    tag (tags are 0..9) — so sniff and fail with a clear message."""
    if head[:1] == b"\x80":
        raise ValueError(
            "sketch blob was written by an older incompatible version of "
            "this library (pickled candidate section); rebuild the sketch"
        )


def _read_header(blob: bytes) -> tuple[int, HKParams, int]:
    """(version, params, header size) of a HeavyKeeper blob; ValueError
    when it is too short, has the wrong magic or version, or carries
    invalid params."""
    if len(blob) < _HEADER.size:
        raise ValueError("HeavyKeeper blob shorter than its header")
    magic, ver, k, width, depth, decay, seed = _HEADER.unpack_from(blob)
    if magic != _MAGIC or ver not in (1, 2):
        raise ValueError("not a HeavyKeeper v1/v2 blob")
    params = HKParams(k=k, width=width, depth=depth, decay=decay, seed=seed)
    return ver, params, _HEADER.size


def _read_cand(blob: bytes, off: int) -> list:
    """The checked candidate section at ``off`` (``_check_cand``)."""
    _sniff_legacy_pickle(blob[off : off + 2])
    return _check_cand(serde_loads(blob[off:]))


def _check_cand(cand) -> list:
    """``cand`` if it is a list of ``[key, count, seq]`` triples, the
    key an int or bytes (``_pq_key``), count and seq non-negative ints
    below 2**64; anything else is ValueError before it reaches the
    queue."""
    if not isinstance(cand, list):
        raise ValueError("candidate section is not a list")
    for t in cand:
        if not (
            isinstance(t, list)
            and len(t) == 3
            and type(t[0]) in (int, bytes)
            and all(type(v) is int and 0 <= v < 1 << 64 for v in t[1:])
        ):
            raise ValueError(f"bad candidate entry {t!r:.80}")
    return cand


class SketchBuilder:
    """Fluent builder — 1:1 with the reference's ``builder()`` API
    (src/heavykeeper.rs:503-578, src/bucketed.rs:515-560,
    src/cuckoo.rs builders): ``HeavyKeeper.builder().k(100)
    .width(4096).depth(4).decay(0.9).seed(7).build()``. Validation
    happens in ``build()`` via HKParams (the same Invalid* errors the
    reference's BuilderError surface maps to); ``hasher`` mirrors the
    reference's custom RandomState hook."""

    def __init__(self, cls) -> None:
        self._cls = cls
        self._k = None
        self._width = None
        self._depth = None
        self._decay = 0.9
        self._seed = _DEFAULT_SEED
        self._hasher = None
        self._max_kicks = None

    def k(self, k: int) -> "SketchBuilder":
        self._k = int(k)
        return self

    def width(self, width: int) -> "SketchBuilder":
        self._width = int(width)
        return self

    def depth(self, depth: int) -> "SketchBuilder":
        self._depth = int(depth)
        return self

    def decay(self, decay: float) -> "SketchBuilder":
        self._decay = float(decay)
        return self

    def seed(self, seed: int) -> "SketchBuilder":
        self._seed = int(seed)
        return self

    def hasher(self, hasher) -> "SketchBuilder":
        self._hasher = hasher
        return self

    def max_kicks(self, max_kicks: int) -> "SketchBuilder":
        """CuckooTopK only (src/cuckoo.rs builder)."""
        self._max_kicks = int(max_kicks)
        return self

    def build(self):
        if self._k is None or self._width is None or self._depth is None:
            raise InvalidK("builder requires k(), width() and depth()")
        params = HKParams(
            k=self._k, width=self._width, depth=self._depth,
            decay=self._decay, seed=self._seed,
        )
        if self._cls is HeavyKeeper:
            if self._max_kicks is not None:
                raise ValueError("max_kicks applies to the cuckoo layout only")
            return HeavyKeeper(params, hasher=self._hasher)
        if self._hasher is not None:
            raise ValueError(
                "variant layouts use the seeded default hash family; "
                "hasher() applies to the canonical HeavyKeeper only"
            )
        kwargs = {}
        if self._max_kicks is not None:
            kwargs["max_kicks"] = self._max_kicks
        return self._cls(
            params.k, params.width, params.depth, params.decay, params.seed,
            **kwargs,
        )

def _item_repr(x: object):
    """JSON-friendly item for debug(): utf-8 text when it decodes, hex
    otherwise; ints pass through."""
    if isinstance(x, (int, np.integer)):
        return int(x)
    b = x if isinstance(x, bytes) else str(x).encode()
    try:
        return b.decode("utf-8")
    except UnicodeDecodeError:
        return b.hex()


def _as_bytes(x: object) -> bytes:
    if isinstance(x, bytes):
        return x
    if isinstance(x, str):
        return x.encode("utf-8")
    return str(x).encode("utf-8")


def _pq_key(x: object):
    """Canonical candidate-dict key: python int for integer keys (the
    u64 fast path), utf-8 bytes otherwise."""
    if isinstance(x, (int, np.integer)):
        return int(x)
    return _as_bytes(x)


def _key_array(keys: list) -> np.ndarray:
    """Rebuild a key array whose dtype matches the insert path's
    hashing (int64 lanes for integer keys, object otherwise)."""
    if keys and all(isinstance(k, (int, np.integer)) for k in keys):
        return np.asarray(keys, dtype=np.int64)
    return np.asarray(keys, dtype=object)


def _read_sparse_cells(blob: bytes, off: int, cells: int):
    """(idx, fps, cnt, end offset) of a v2 blob's live-cell section at
    ``off``. ``idx`` must be strictly increasing and inside the
    ``cells`` grid: the O(nnz) merge scatters by it (a duplicate would
    silently last-write-win) and ``_sparse_cell_max`` binary-searches
    it. Every count must be non-zero: the fast path's equality with the
    dense merge rests on a v2 blob storing exactly the live cells."""
    if off + 8 > len(blob):
        raise ValueError("truncated sparse cell count")
    (nnz,) = struct.unpack_from("<q", blob, off)
    off += 8
    if nnz < 0 or off + 24 * nnz > len(blob):
        raise ValueError("bad sparse cell count")
    idx = np.frombuffer(blob[off : off + 8 * nnz], dtype=np.int64)
    off += 8 * nnz
    if nnz and (idx[0] < 0 or idx[-1] >= cells):
        raise ValueError("sparse cell index out of range")
    if nnz > 1 and not (idx[1:] > idx[:-1]).all():
        raise ValueError("sparse cell indices not strictly increasing")
    fps_nz = np.frombuffer(blob[off : off + 8 * nnz], dtype=np.uint64)
    off += 8 * nnz
    cnt_nz = np.frombuffer(blob[off : off + 8 * nnz], dtype=np.uint64)
    off += 8 * nnz
    if not cnt_nz.all():
        raise ValueError("sparse cell with a zero count")
    return idx, fps_nz, cnt_nz, off


def _parse_blob_sparse(blob: bytes):
    """(params, idx, fps, cnt, cand) views of a sparse (v2) blob, or
    None for dense/v1 blobs. Same validation as ``deserialize`` but no
    dense scatter — the merge fast path reads the triplets in place."""
    ver, params, off = _read_header(blob)
    if ver != 2:
        return None
    idx, fps_nz, cnt_nz, off = _read_sparse_cells(blob, off, params.depth * params.width)
    return params, idx, fps_nz, cnt_nz, _read_cand(blob, off)


def merge_blobs(blobs: list[bytes]) -> bytes:
    """Associative reduce over serialized sketches (combine stage).
    Sparse (v2) blobs merge through the O(nnz) fast path — identical
    semantics to pairwise ``merge`` (see ``_merge_parsed_sparse``)."""
    it = iter(blobs)
    acc = HeavyKeeper.deserialize(next(it))
    for b in it:
        parsed = _parse_blob_sparse(b)
        if parsed is None:
            acc.merge(HeavyKeeper.deserialize(b))
        else:
            acc._merge_parsed_sparse(*parsed)
    return acc.serialize()
