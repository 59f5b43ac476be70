"""BucketedTopK and CuckooTopK — the reference's two alternative sketch
layouts, re-implemented from scratch with the same batch API as
kernel.HeavyKeeper (README.md:48-51: all three variants expose the same
API).

- BucketedTopK (src/bucketed.rs): one hash → one bucket of ``depth``
  contiguous cells. add: fingerprint match → saturating add; else
  first empty cell → install; else decay-duel the bucket's MINIMUM
  cell (src/bucketed.rs:187-258, 452-476). Merge: PQ first with
  pre-merge bucket_count fallback both directions
  (src/bucketed.rs:377-401), then per-bucket union by fingerprint with
  min-count eviction when full and the incoming count is larger
  (src/bucketed.rs:403-445).
- CuckooTopK (src/cuckoo.rs): per bucket one probabilistic-decay
  "lobby" cell plus ``depth`` non-decaying heavy slots; a heavy item
  lives in one of two cuckoo candidate buckets
  (src/cuckoo.rs:560-580). add: heavy hit → pure saturating increment
  (no decay, src/cuckoo.rs:258-261); miss → lobby duel at the primary
  bucket; a lobby winner promotes into an empty heavy slot in either
  candidate bucket, else evicts the min heavy occupant if strictly
  heavier, relocating the victim through a ≤max_kicks chain
  (src/cuckoo.rs:653-707). Merge folds lobby↔heavy so an item lives in
  heavy XOR lobby (src/cuckoo.rs:471-549); merges are deterministic —
  no probabilistic decay during merge.

Execution strategy: hashing/bucket-index/fingerprint-match phases are
vectorized over the (pre-aggregated) batch; the conflict residue
(empty-slot claims, decay duels, cuckoo promotion) is per-key Python
with the same geometric-sampling shortcut as the canonical kernel.
The canonical depth-row HeavyKeeper (kernel.py) remains the
throughput-tuned default; these variants trade some batch-kernel speed
for their accuracy profiles (BASELINE.md: Bucketed/Cuckoo recall 0.985
/ 1.000 vs 0.942).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd

from .errors import SketchCompatError
from .serde import dumps as serde_dumps, loads as serde_loads
from .kernel import (
    HKParams,
    TopKQueue,
    _DENSE_DOMAIN_CAP,
    _as_bytes,
    _check_cand,
    _key_array,
    _pq_key,
    _radix_argsort,
    _sniff_legacy_pickle,
    hash_items,
)

_U64 = np.uint64
_CUCKOO_SALT = _U64(0x9E3779B97F4A7C15)
_PARAM_KEYS = frozenset(HKParams.__dataclass_fields__)


def _state_array(d: dict, name: str, shape: tuple) -> np.ndarray:
    """``d[name]`` if it is a uint64 array of ``shape``; the add and
    merge paths index it by the params' width and depth."""
    a = d.get(name)
    if not (isinstance(a, np.ndarray) and a.dtype == np.uint64 and a.shape == shape):
        raise ValueError(f"blob state {name!r} is not a uint64 array of shape {shape}")
    return a


def _mix64(x: np.ndarray | np.uint64) -> np.ndarray | np.uint64:
    """splitmix64 finalizer (src/cuckoo.rs:571-582)."""
    with np.errstate(over="ignore"):
        x = (x ^ (x >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        x = (x ^ (x >> _U64(27))) * _U64(0x94D049BB133111EB)
        return x ^ (x >> _U64(31))


class _VariantBase:
    """Shared plumbing: params, PQ, RNG, duel sampling, serialization."""

    variant: bytes = b"????"

    @classmethod
    def builder(cls):
        """Fluent construction (src/bucketed.rs:131, src/cuckoo.rs:190)."""
        from .kernel import SketchBuilder

        return SketchBuilder(cls)

    def __init__(
        self,
        k: int,
        width: int,
        depth: int,
        decay: float = 0.9,
        seed: int = 12345,
        rng: np.random.Generator | None = None,
    ) -> None:
        self.params = HKParams(k=k, width=width, depth=depth, decay=decay, seed=seed)
        self.pq = TopKQueue(k)
        self.rng = rng if rng is not None else np.random.default_rng(seed)
        self._force_decay: bool | None = None
        self._decay_lut: np.ndarray | None = None
        self._decay_lut_exact_tail = True

    # -- hashing ----------------------------------------------------------
    def _hash(self, items: np.ndarray) -> np.ndarray:
        return hash_items(items, self.params.seed)

    def _index(self, h: np.ndarray) -> np.ndarray:
        w = self.params.width
        if w & (w - 1) == 0:
            return (h & _U64(w - 1)).astype(np.int64)
        return (h % _U64(w)).astype(np.int64)

    def _preagg(self, items: np.ndarray, weights: np.ndarray | None):
        # mirror kernel.add_batch: int64 lanes stay native (splitmix
        # fast path — no object conversion), hash-table factorize
        # instead of sort-based unique
        arr = np.asarray(items)
        if arr.dtype.kind not in "iu":
            arr = np.asarray(items, dtype=object)
        if arr.size == 0:
            return arr, np.zeros(0, np.int64), np.zeros(0, np.uint64)
        if arr.dtype.kind in "iu" and arr.size >= 4096:
            # dense small-domain fast path (kernel.add_batch's twin):
            # one bincount replaces factorize + weight fold + first-
            # occurrence scatter, and only the UNIQUE values are hashed
            amin = int(arr.min())
            amax = int(arr.max())
            if amin >= 0 and amax < min(4 * arr.size, _DENSE_DOMAIN_CAP):
                # bincount can't safe-cast uint64; the range check above
                # bounds values < 2^22 so an int64 view is exact
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
                return uk_d, w_d[keep_d], self._hash(uk_d)
        h_all = self._hash(arr)
        inv, uh = pd.factorize(h_all, sort=False)
        k = uh.shape[0]
        n = inv.shape[0]
        first = np.empty(k, dtype=np.int64)
        first[inv[::-1]] = np.arange(n - 1, -1, -1)
        if weights is None:
            w = np.bincount(inv, minlength=k).astype(np.int64)
        else:
            w = np.bincount(
                inv, weights=np.asarray(weights, dtype=np.float64), minlength=k
            ).astype(np.int64)
        keep = w > 0
        uh = np.asarray(uh, dtype=np.uint64)
        return arr[first[keep]], w[keep], uh[keep]

    # -- decay duel (exact distributionally; O(#decrements)) ---------------
    def _duel(
        self, get_count, set_count, take_cell, w: int, first_success: bool = False
    ) -> int | None:
        """Duel the cell whose count is read/written via callbacks.
        Returns the winner's count if the challenger took the cell,
        else None. Mirrors decay_and_maybe_evict
        (src/bucketed.rs:452-476, src/cuckoo.rs:709-731).
        ``first_success`` = the caller's vectorized fast-reject already
        established >= 1 decrement occurs within w trials, so the first
        gap draws from the truncated geometric (kernel._duel_one
        conditioning)."""
        remaining = w
        decay = self.params.decay
        rng = self.rng
        force = self._force_decay
        while remaining > 0:
            c = get_count()
            if c == 0:
                take_cell(remaining)
                return remaining
            if force is True:
                p = 1.0
            elif force is False:
                return None
            else:
                p = decay**c
            if p <= 0.0:
                return None
            if first_success:
                if p >= 1.0:
                    t = 1
                else:
                    total = -math.expm1(remaining * math.log1p(-p))
                    uu = rng.random() * total
                    t = int(math.ceil(math.log1p(-uu) / math.log1p(-p)))
                    t = min(max(t, 1), remaining)
                first_success = False
            elif p >= 1.0:
                t = 1
            elif p * remaining < 1e-12:
                if rng.random() < p * remaining:
                    t = int(rng.integers(1, remaining + 1))
                else:
                    return None
            else:
                t = int(math.ceil(math.log1p(-rng.random()) / math.log1p(-p)))
                if t > remaining:
                    return None
            remaining -= t
            set_count(c - 1)
            if c - 1 == 0:
                take_cell(remaining + 1)
                return remaining + 1
        return None

    # -- zero-object hashed lane (round 4: ported from the canonical
    # kernel so the distributed builders feed str/bytes keys to the
    # variant layouts without materializing Python objects either) ----
    def add_batch_hashed(self, hashes, weights, key_take) -> None:
        """Insert pre-hashed distinct keys WITHOUT materializing them
        (kernel.HeavyKeeper.add_batch_hashed contract): ``hashes`` must
        come from this sketch's seeded ``hash_items`` family —
        ``hash_string_buffers`` produces identical values straight off
        the Arrow buffers — and ``key_take(indices)`` materializes only
        the keys that actually enter the top-K queue."""
        h = np.asarray(hashes, dtype=np.uint64)
        if h.size == 0:
            return
        inv, uh = pd.factorize(h, sort=False)
        k = uh.shape[0]
        w = np.bincount(
            inv, weights=np.asarray(weights, dtype=np.float64), minlength=k
        ).astype(np.int64)
        first = np.empty(k, dtype=np.int64)
        first[inv[::-1]] = np.arange(h.shape[0] - 1, -1, -1)
        keep = w > 0
        firstk = first[keep]
        self._add_core(
            np.asarray(uh, dtype=np.uint64)[keep],
            w[keep],
            lambda sel: key_take(firstk[sel]),
        )

    # -- PQ ---------------------------------------------------------------
    def _pq_update_batch_lazy(self, key_take, counts: np.ndarray) -> None:
        """PQ update that materializes ONLY the candidate keys
        (``TopKQueue.candidates``), upserted in (count desc, key asc)
        order."""
        sel = self.pq.candidates(counts)
        if sel.size:
            ks = np.asarray(key_take(sel), dtype=object)
            csel = counts[sel]
            order = np.lexsort((ks, -csel))
            for j in order:
                self.pq.upsert(_pq_key(ks[j]), int(csel[j]))

    def contains(self, item) -> bool:
        return bool(self.estimate(np.asarray([item], dtype=object))[0] > 0)

    def query(self, item) -> bool:
        """O10: deprecated alias of ``contains`` (src/bucketed.rs:299,
        src/cuckoo.rs:326 — deprecated in the reference since 0.6.9)."""
        import warnings

        warnings.warn(
            "query() is a deprecated alias; use contains()",
            DeprecationWarning,
            stacklevel=2,
        )
        return self.contains(item)

    def contains_top_k(self, item) -> bool:
        return _pq_key(item) in self.pq.counts

    def list(self) -> list[tuple[bytes, int]]:
        return self.pq.items_sorted()

    def _check_compat(self, other: "_VariantBase") -> None:
        if type(self) is not type(other):
            raise SketchCompatError("variant", type(self).__name__, type(other).__name__)
        self.params.check_compatible(other.params)

    # -- vectorized duel machinery (borrowed from the kernel) ----------
    # HeavyKeeper._duel_vec only touches params.decay / rng /
    # _force_decay / _duel_one / _decay_p_int, all of which exist
    # here; _duel_one is adapted onto the callback-based _duel below.
    from .kernel import HeavyKeeper as _HK

    _duel_vec = _HK._duel_vec
    _decay_p_int = _HK._decay_p_int
    del _HK

    def _duel_one(
        self, fps_row, cnt_row, cell, new_fp, w, first_success: bool
    ) -> None:
        cell = int(cell)
        self._duel(
            lambda: int(cnt_row[cell]),
            lambda c: cnt_row.__setitem__(cell, c),
            lambda c: (
                fps_row.__setitem__(cell, new_fp),
                cnt_row.__setitem__(cell, c),
            ),
            int(w),
            first_success=first_success,
        )

    def _state_dict(self) -> dict:
        raise NotImplementedError

    def serialize(self) -> bytes:
        d = {
            "params": self.params.__dict__,
            "cand": [(k, int(c), int(self.pq.seqs[k])) for k, c in self.pq.counts.items()],
            **self._state_dict(),
        }
        return self.variant + serde_dumps(d)

    @classmethod
    def deserialize(cls, blob: bytes):
        if blob[:4] != cls.variant:
            raise ValueError(f"not a {cls.__name__} blob")
        _sniff_legacy_pickle(blob[4:6])
        d = serde_loads(blob[4:])
        if not (isinstance(d, dict) and isinstance(d.get("params"), dict)):
            raise ValueError(f"{cls.__name__} blob has no params")
        if set(d["params"]) != _PARAM_KEYS:
            raise ValueError(f"{cls.__name__} blob params must be {sorted(_PARAM_KEYS)}")
        sk = cls(**d["params"])
        sk._load_state(d)
        for item, c, _seq in sorted(_check_cand(d.get("cand")), key=lambda t: t[2]):
            sk.pq.upsert(item, c)
        return sk


class BucketedTopK(_VariantBase):
    variant = b"HKB1"

    def __init__(self, k, width, depth, decay=0.9, seed=12345, rng=None) -> None:
        super().__init__(k, width, depth, decay, seed, rng)
        self.fps = np.zeros((width, depth), dtype=np.uint64)
        self.counts = np.zeros((width, depth), dtype=np.uint64)

    def _state_dict(self) -> dict:
        return {"fps": self.fps, "counts": self.counts}

    def _load_state(self, d: dict) -> None:
        shape = (self.params.width, self.params.depth)
        self.fps = _state_array(d, "fps", shape)
        self.counts = _state_array(d, "counts", shape)

    def add_batch(self, items: np.ndarray, weights: np.ndarray | None = None) -> None:
        keys, w, fp = self._preagg(items, weights)
        self._add_core(fp, w, lambda sel: keys[sel])

    def _add_core(self, fp: np.ndarray, w: np.ndarray, key_take) -> None:
        n = fp.shape[0]
        if n == 0:
            return
        idx = self._index(fp)
        depth = self.params.depth
        flat_c = self.counts.reshape(-1)
        flat_f = self.fps.reshape(-1)
        # vector phase: fingerprint matches (first matching slot)
        bf = self.fps[idx]
        bc = self.counts[idx]
        m = (bf == fp[:, None]) & (bc > 0)
        has = m.any(axis=1)
        slot = m.argmax(axis=1)
        if has.any():
            np.add.at(flat_c, idx[has] * depth + slot[has], w[has].astype(np.uint64))
        # residue: empty-claims and min-cell duels, processed in
        # vectorized waves (first-per-bucket each wave, heaviest
        # first). Unlike kernel._add_row — which now sorts ONLY
        # empty-cell challengers — this layout keeps the full sort:
        # the wave loop dedups buckets via sorted-run adjacency
        # (cells[1:] != cells[:-1]), which requires bucket-grouped
        # order; an unsorted variant would need np.unique per wave
        # and give the sort cost right back.
        rem = np.flatnonzero(~has)
        wr = w[rem]
        if rem.size and int(wr.max(initial=0)) < (1 << 20) and int(idx.max()) < (1 << 42):
            packed = (idx[rem].astype(np.uint64) << np.uint64(21)) | (
                np.uint64((1 << 21) - 1) - wr.astype(np.uint64)
            )
            order = rem[_radix_argsort(packed, 21 + int(idx.max()).bit_length())]
        else:
            order = rem[np.lexsort((-wr, idx[rem]))]
        waves = 0
        while order.size:
            cells = idx[order]
            is_first = np.empty(cells.shape[0], dtype=bool)
            is_first[0] = True
            np.not_equal(cells[1:], cells[:-1], out=is_first[1:])
            winners = order[is_first]
            waves += 1
            if waves > 32 or winners.size < 8:
                # long tail: per-key exact path
                for j in order:
                    self._add_one(int(idx[j]), fp[j], int(w[j]))
                break
            self._wave(winners, idx, fp, w)
            rest = order[~is_first]
            # rest keeps (bucket, -w) order for the next wave
            order = rest
        # PQ: resulting count per key (re-probe the single bucket)
        bf = self.fps[idx]
        bc = self.counts[idx]
        m = (bf == fp[:, None]) & (bc > 0)
        est = np.where(m.any(axis=1), bc[np.arange(n), m.argmax(axis=1)], 0).astype(
            np.int64
        )
        self._pq_update_batch_lazy(key_take, est)

    def _wave(self, winners: np.ndarray, idx: np.ndarray, fp: np.ndarray, w: np.ndarray) -> None:
        """One vectorized wave: unique-bucket winners get re-match /
        first-empty install / min-cell duel fast-reject; only duel
        survivors take the per-key exact path."""
        b = idx[winners]
        bf = self.fps[b]
        bc = self.counts[b]
        # re-match (state may have changed since the batch match phase)
        m = (bf == fp[winners][:, None]) & (bc > 0)
        hasm = m.any(axis=1)
        if hasm.any():
            flat_c = self.counts.reshape(-1)
            np.add.at(
                flat_c,
                b[hasm] * self.params.depth + m.argmax(axis=1)[hasm],
                w[winners[hasm]].astype(np.uint64),
            )
        rem = ~hasm
        # first-empty install (winner buckets are unique this wave)
        em = bc == 0
        has_e = em.any(axis=1) & rem
        if has_e.any():
            eslot = em.argmax(axis=1)
            tb = b[has_e]
            ts = eslot[has_e]
            src = winners[has_e]
            self.fps[tb, ts] = fp[src]
            self.counts[tb, ts] = w[src].astype(np.uint64)
        # min-cell duel with vectorized fast-reject; survivors run the
        # exact conditioned duel VECTORIZED against their bucket's min
        # cell (buckets unique this wave -> unique flat cells)
        duel = rem & ~has_e
        if duel.any():
            dw = w[winners[duel]].astype(np.float64)
            minslot = bc[duel].argmin(axis=1)
            if self._force_decay is None:
                pm = self._decay_p_int(bc[duel].min(axis=1))
                with np.errstate(divide="ignore", under="ignore"):
                    p_any = -np.expm1(dw * np.log1p(-np.minimum(pm, 1 - 1e-16)))
                surv = self.rng.random(int(duel.sum())) < p_any
            else:
                surv = np.ones(int(duel.sum()), dtype=bool)
            if surv.any():
                sv = np.flatnonzero(duel)[surv]
                cells = b[sv] * self.params.depth + minslot[surv]
                self._duel_vec(
                    self.fps.reshape(-1),
                    self.counts.reshape(-1),
                    cells,
                    fp[winners[sv]],
                    w[winners[sv]].astype(np.int64),
                )

    def _add_one(
        self, b: int, fp: np.uint64, w: int, first_success: bool = False
    ) -> None:
        crow = self.counts[b]
        frow = self.fps[b]
        live = crow > 0
        # re-check match (an earlier residue key may have installed fp)
        mslots = np.flatnonzero(live & (frow == fp))
        if mslots.size:
            crow[mslots[0]] += np.uint64(w)
            return
        empties = np.flatnonzero(~live)
        if empties.size:
            i = empties[0]
            frow[i] = fp
            crow[i] = w
            return
        mi = int(crow.argmin())

        self._duel(
            lambda: int(crow[mi]),
            lambda c: crow.__setitem__(mi, c),
            lambda c: (frow.__setitem__(mi, fp), crow.__setitem__(mi, c)),
            w,
            first_success=first_success,
        )

    def estimate(self, items: np.ndarray, use_heap: bool = True) -> np.ndarray:
        arr = np.asarray(items, dtype=object)
        fp = self._hash(arr)
        idx = self._index(fp)
        bf = self.fps[idx]
        bc = self.counts[idx]
        m = (bf == fp[:, None]) & (bc > 0)
        out = np.where(
            m.any(axis=1), bc[np.arange(arr.shape[0]), m.argmax(axis=1)], 0
        ).astype(np.int64)
        if use_heap and self.pq.counts:
            get = self.pq.counts.get
            for i in range(arr.shape[0]):
                c = get(_pq_key(arr[i]))
                if c is not None:
                    out[i] = c
        return out

    def merge(self, other: "BucketedTopK") -> "BucketedTopK":
        self._check_compat(other)
        # PQ first, pre-merge bucket_count fallbacks (src/bucketed.rs:377-401)
        other_items = list(other.pq.counts.items())
        self_only = [
            (k, c) for k, c in self.pq.counts.items() if k not in other.pq.counts
        ]
        if self_only:
            keys = _key_array([k for k, _ in self_only])
            ob = other.estimate(keys, use_heap=False)
            self_only_updates = [
                (k, c + int(e)) for (k, c), e in zip(self_only, ob)
            ]
        else:
            self_only_updates = []
        if other_items:
            keys = _key_array([k for k, _ in other_items])
            sb = self.estimate(keys, use_heap=False)
            for (item, oc), fb in zip(other_items, sb):
                mine = self.pq.counts.get(item)
                merged = (mine if mine is not None else int(fb)) + int(oc)
                self.pq.upsert(item, merged)
        for item, c in self_only_updates:
            self.pq.upsert(item, c)
        # cell union, vectorized per other-slot column (scan semantics of
        # src/bucketed.rs:403-445 preserved: match, else first empty,
        # else evict min when strictly larger)
        width = self.params.width
        rows = np.arange(width)
        for j in range(self.params.depth):
            ofp = other.fps[:, j]
            oc = other.counts[:, j]
            live = oc > 0
            mm = (self.fps == ofp[:, None]) & (self.counts > 0)
            has = mm.any(axis=1) & live
            slot = mm.argmax(axis=1)
            with np.errstate(over="ignore"):
                self.counts[rows[has], slot[has]] += oc[has]
            rest = live & ~has
            em = self.counts == 0
            has_e = em.any(axis=1) & rest
            eslot = em.argmax(axis=1)
            self.fps[rows[has_e], eslot[has_e]] = ofp[has_e]
            self.counts[rows[has_e], eslot[has_e]] = oc[has_e]
            rest2 = rest & ~has_e
            if rest2.any():
                mslot = self.counts.argmin(axis=1)
                minc = self.counts[rows, mslot]
                ev = rest2 & (oc > minc)
                self.fps[rows[ev], mslot[ev]] = ofp[ev]
                self.counts[rows[ev], mslot[ev]] = oc[ev]
        return self

    def mem_bytes(self, item_heap_fn=None) -> int:
        return int(self.fps.nbytes + self.counts.nbytes + self.pq.mem_bytes(item_heap_fn))


class CuckooTopK(_VariantBase):
    variant = b"HKC1"

    def __init__(
        self, k, width, depth, decay=0.9, seed=12345, max_kicks: int = 8, rng=None
    ) -> None:
        super().__init__(k, width, depth, decay, seed, rng)
        if max_kicks < 1:
            raise ValueError("max_kicks must be >= 1")
        self.max_kicks = int(max_kicks)
        self.lobby_fp = np.zeros(width, dtype=np.uint64)
        self.lobby_c = np.zeros(width, dtype=np.uint64)
        self.heavy_fp = np.zeros((width, depth), dtype=np.uint64)
        self.heavy_c = np.zeros((width, depth), dtype=np.uint64)

    def _state_dict(self) -> dict:
        return {
            "lobby_fp": self.lobby_fp,
            "lobby_c": self.lobby_c,
            "heavy_fp": self.heavy_fp,
            "heavy_c": self.heavy_c,
            "max_kicks": self.max_kicks,
        }

    def _load_state(self, d: dict) -> None:
        w, depth = self.params.width, self.params.depth
        self.lobby_fp = _state_array(d, "lobby_fp", (w,))
        self.lobby_c = _state_array(d, "lobby_c", (w,))
        self.heavy_fp = _state_array(d, "heavy_fp", (w, depth))
        self.heavy_c = _state_array(d, "heavy_c", (w, depth))
        max_kicks = d.get("max_kicks")
        if type(max_kicks) is not int or max_kicks < 1:
            raise ValueError(f"blob max_kicks must be an int >= 1, got {max_kicks!r}")
        self.max_kicks = max_kicks

    def _pair(self, fp: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """bucket_pair (src/cuckoo.rs:569-580), vectorized."""
        b1 = self._index(fp)
        if self.params.width == 1:
            return b1, b1
        b2 = self._index(_mix64(fp ^ _CUCKOO_SALT))
        same = b2 == b1
        b2 = np.where(same, (b2 + 1) % self.params.width, b2)
        return b1, b2

    def add_batch(self, items: np.ndarray, weights: np.ndarray | None = None) -> None:
        keys, w, fp = self._preagg(items, weights)
        self._add_core(fp, w, lambda sel: keys[sel])

    def _add_core(self, fp: np.ndarray, w: np.ndarray, key_take) -> None:
        n = fp.shape[0]
        if n == 0:
            return
        b1, b2 = self._pair(fp)
        depth = self.params.depth
        flat_c = self.heavy_c.reshape(-1)
        est = np.zeros(n, dtype=np.int64)
        # vector phase: heavy hits (primary bucket first — find_heavy
        # order). Matched slots are GLOBALLY unique — keys are
        # pre-aggregated so fps are distinct within the batch, and two
        # items matching the same (bucket, slot) would need the same
        # fp — so a direct fancy-index scatter += replaces np.add.at,
        # and the post-add estimate is a direct gather off the same
        # slots instead of a 4-gather re-probe.
        m1 = (self.heavy_fp[b1] == fp[:, None]) & (self.heavy_c[b1] > 0)
        h1 = m1.any(axis=1)
        hit = h1.copy()
        if h1.any():
            slots1 = b1[h1] * depth + m1.argmax(axis=1)[h1]
            flat_c[slots1] += w[h1].astype(np.uint64)
            est[h1] = flat_c[slots1].astype(np.int64)
        # secondary probe only for primary misses (~25-35% of rows sit
        # in their primary bucket on Zipf steady state — the gather +
        # compare on those rows was pure waste)
        nh1 = np.flatnonzero(~h1)
        if nh1.size:
            fp2 = fp[nh1]
            m2 = (self.heavy_fp[b2[nh1]] == fp2[:, None]) & (
                self.heavy_c[b2[nh1]] > 0
            )
            h2s = m2.any(axis=1)
            sel2 = nh1[h2s]
            if sel2.size:
                slots2 = b2[sel2] * depth + m2.argmax(axis=1)[h2s]
                flat_c[slots2] += w[sel2].astype(np.uint64)
                est[sel2] = flat_c[slots2].astype(np.int64)
                hit[sel2] = True
        # residue: lobby duels + promotion. Processed in waves of
        # unique primary buckets (heaviest-first within a bucket), each
        # wave vectorized: heavy recheck, lobby fast-path update, duel
        # fast-reject, and the promote *decision*; only actual
        # promotions and conditioned duel survivors drop to the scalar
        # path (rare in steady state).
        rem = np.flatnonzero(~hit)
        if rem.size:
            rem = rem[np.argsort(-w[rem], kind="stable")]
            # all waves in ONE grouping pass: occurrence-rank r of each
            # item's primary bucket within the (weight-ordered) residue
            # — wave k processes every item with r == k, i.e. the k-th
            # contender of each bucket, preserving heaviest-first order
            # per bucket without a per-wave np.unique sort
            inv = pd.factorize(b1[rem], sort=False)[0]
            order = np.argsort(inv, kind="stable")
            counts = np.bincount(inv)
            starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
            rank = np.empty(rem.size, dtype=np.int64)
            rank[order] = np.arange(rem.size) - np.repeat(starts, counts)
            n_waves = int(rank.max()) + 1
            for k in range(n_waves):
                idx = rem[rank == k]
                if idx.size <= 24:
                    # a wave this small costs more in fixed vector-op
                    # dispatch than per-item work: finish this wave and
                    # every later one scalar, in residue order (which
                    # is rank order within each bucket — heaviest
                    # contender first, same as the wave schedule)
                    for t in rem[rank >= k]:
                        est[t] = self._add_one(
                            int(b1[t]), int(b2[t]), fp[t], int(w[t])
                        )
                    break
                self._add_wave(idx, b1, b2, fp, w, est)
        self._pq_update_batch_lazy(key_take, est)

    def _add_wave(
        self,
        sub: np.ndarray,
        b1: np.ndarray,
        b2: np.ndarray,
        fp: np.ndarray,
        w: np.ndarray,
        est: np.ndarray,
    ) -> None:
        """One residue wave: ``b1[sub]`` are unique buckets, so lobby
        writes never conflict. Mirrors ``_add_one`` semantics exactly;
        the vector phases just batch the common outcomes."""
        depth = self.params.depth
        bb1, bb2, f, ww = b1[sub], b2[sub], fp[sub], w[sub]
        n = sub.shape[0]
        # No heavy recheck needed: the batch's vector phase already
        # probed both buckets, fps are unique post-preagg, and an fp
        # can only ENTER heavy when its own item is processed — earlier
        # waves promote/relocate OTHER fps. (The scalar _add_one keeps
        # its recheck because it is also the generic single-item entry
        # point.) Only a 64-bit fingerprint collision between two
        # distinct pre-aggregated keys could defeat this, in which case
        # the second key duels the lobby instead of incrementing the
        # heavy cell — the sketch stays within its error model.
        # lobby fast path (src/cuckoo.rs:635-644): empty or same fp
        lcnt = self.lobby_c[bb1]
        fast = (lcnt == 0) | (self.lobby_fp[bb1] == f)
        if fast.any():
            tb = bb1[fast]
            self.lobby_fp[tb] = f[fast]
            self.lobby_c[tb] += ww[fast].astype(np.uint64)
        # lobby duel (occupied by another fp): vectorized fast-reject,
        # conditioned survivors duel VECTORIZED against their lobby cell
        # (primary buckets are unique this wave)
        duel = np.flatnonzero(~fast)
        winners: np.ndarray | list = []
        if duel.size:
            force = self._force_decay
            if force is True:
                p_any = np.ones(duel.size)
            elif force is False:
                p_any = np.zeros(duel.size)
            else:
                pm = self._decay_p_int(self.lobby_c[bb1[duel]])
                with np.errstate(under="ignore", divide="ignore", invalid="ignore"):
                    p_any = -np.expm1(ww[duel].astype(np.float64) * np.log1p(-pm))
                p_any = np.where(pm >= 1.0, 1.0, p_any)
            u = self.rng.random(duel.size)
            sv = duel[np.flatnonzero(u < p_any)]
            if sv.size:
                cells = bb1[sv]
                self._duel_vec(
                    self.lobby_fp,
                    self.lobby_c,
                    cells,
                    f[sv],
                    ww[sv].astype(np.int64),
                )
                won = (self.lobby_fp[cells] == f[sv]) & (self.lobby_c[cells] > 0)
                winners = sv[won]
        # promote decision, vectorized over lobby holders
        holders = np.flatnonzero(fast)
        if isinstance(winners, np.ndarray) and winners.size:
            holders = np.concatenate([holders, winners])
        if holders.size == 0:
            return
        hb1, hb2 = bb1[holders], bb2[holders]
        lc = self.lobby_c[hb1].astype(np.int64)
        # one gather per bucket row, reused for the empty probe AND the
        # min (nothing has mutated heavy yet this wave — the phases
        # above only touch lobbies)
        h1c = self.heavy_c[hb1]
        h2c = self.heavy_c[hb2]
        e1_zero = h1c == 0
        e1_mask = e1_zero.any(axis=1)
        has_empty = e1_mask | (h2c == 0).any(axis=1)
        minc = np.minimum(h1c.min(axis=1), h2c.min(axis=1)).astype(np.int64)
        cand_mask = has_empty | (lc > minc)
        # common case fully vectorized: the PRIMARY bucket has an empty
        # slot. Primary buckets are unique within a wave, so the
        # installs are conflict-free scatters (first zero slot — the
        # same slot scalar _promote's argmin picks); lobbies clear
        # atomically with the install.
        e1 = np.flatnonzero(cand_mask & e1_mask)
        if e1.size:
            tb = hb1[e1]
            slot = e1_zero[e1].argmax(axis=1)
            hidx = holders[e1]
            cur = self.lobby_c[tb].copy()
            self.heavy_fp[tb, slot] = f[hidx]
            self.heavy_c[tb, slot] = cur
            self.lobby_fp[tb] = 0
            self.lobby_c[tb] = 0
            est[sub[hidx]] = cur.astype(np.int64)
            cand_mask = cand_mask.copy()
            cand_mask[e1] = False
        # SECONDARY-bucket empty installs, vectorized for candidates
        # whose secondary bucket is unique this wave (secondary buckets,
        # unlike primaries, can collide — duplicates defer to the scalar
        # path). Emptiness is re-read AFTER the primary installs above
        # so a slot an e1 install just took is never double-booked;
        # lobby cells are per-primary-bucket (unique this wave), so
        # each candidate's lobby count is still its own.
        rest = np.flatnonzero(cand_mask)
        if rest.size:
            tb2 = hb2[rest]
            e2m = self.heavy_c[tb2] == 0
            has2 = e2m.any(axis=1)
            uniq = np.zeros(rest.size, dtype=bool)
            _, fidx = np.unique(tb2, return_index=True)
            uniq[fidx] = True
            do2 = np.flatnonzero(has2 & uniq)
            if do2.size:
                sel = rest[do2]
                tb = hb2[sel]
                slot = e2m[do2].argmax(axis=1)
                hidx = holders[sel]
                tbl = hb1[sel]
                cur = self.lobby_c[tbl].copy()
                self.heavy_fp[tb, slot] = f[hidx]
                self.heavy_c[tb, slot] = cur
                self.lobby_fp[tbl] = 0
                self.lobby_c[tbl] = 0
                est[sub[hidx]] = cur.astype(np.int64)
                cand_mask[sel] = False
        # EVICTIONS, vectorized (round-4: batch the relocations by
        # level instead of per-item kick chains). For candidates whose
        # buckets are both full (fresh read — the install phases above
        # may have consumed empties): pick the global-min victim cell
        # exactly like scalar ``_min_heavy`` (primary wins ties),
        # install the lobby item over it when lobby > victim, drop the
        # attempt (lobby keeps the item) otherwise. Same-state rows
        # pointing at the same bucket pick the same argmin cell, so
        # deduping on the victim CELL makes installs conflict-free;
        # displaced victims then relocate level-synchronously in
        # ``_relocate_batch``.
        rest = np.flatnonzero(cand_mask)
        if rest.size:
            tb1r, tb2r = hb1[rest], hb2[rest]
            h1c = self.heavy_c[tb1r]
            h2c = self.heavy_c[tb2r]
            empty_any = (h1c == 0).any(axis=1) | (h2c == 0).any(axis=1)
            ar = np.arange(rest.size)
            i1 = h1c.argmin(axis=1)
            c1 = h1c[ar, i1].astype(np.int64)
            i2 = h2c.argmin(axis=1)
            c2 = h2c[ar, i2].astype(np.int64)
            use2 = c2 < c1
            vbb = np.where(use2, tb2r, tb1r)
            vii = np.where(use2, i2, i1)
            vcc = np.where(use2, c2, c1)
            lcr = self.lobby_c[tb1r].astype(np.int64)
            dead = (~empty_any) & (lcr <= vcc)
            if dead.any():
                cand_mask[rest[dead]] = False  # lobby keeps the item
            ev = np.flatnonzero((~empty_any) & (lcr > vcc))
            if ev.size:
                cells = vbb[ev] * depth + vii[ev]
                uniqv = np.zeros(ev.size, dtype=bool)
                _, fcell = np.unique(cells, return_index=True)
                uniqv[fcell] = True
                dov = ev[uniqv]
                if dov.size:
                    selv = rest[dov]
                    hv = holders[selv]
                    vbs, vis = vbb[dov], vii[dov]
                    vfp = self.heavy_fp[vbs, vis].copy()
                    vcnt = vcc[dov].copy()
                    curv = lcr[dov]
                    self.heavy_fp[vbs, vis] = f[hv]
                    self.heavy_c[vbs, vis] = curv.astype(np.uint64)
                    tbl = hb1[selv]
                    self.lobby_fp[tbl] = 0
                    self.lobby_c[tbl] = 0
                    est[sub[hv]] = curv
                    cand_mask[selv] = False
                    self._relocate_batch(vfp, vcnt, vbs)
        # the rest (colliding secondary installs / victim cells) stays
        # scalar and ordered — rare
        for j in np.flatnonzero(cand_mask):
            i = int(holders[j])
            bb, ba = int(hb1[j]), int(hb2[j])
            cur = int(self.lobby_c[bb])
            if cur <= 0 or self.lobby_fp[bb] != f[i]:
                continue  # an earlier promotion this wave displaced it
            if self._promote(f[i], cur, bb, ba):
                self.lobby_fp[bb] = 0
                self.lobby_c[bb] = 0
                est[sub[i]] = cur

    def _add_one(self, b1: int, b2: int, fp: np.uint64, w: int) -> int:
        # re-check heavy (residue ordering may have promoted this fp)
        idx = self._find_heavy(fp, b1, b2)
        if idx is not None:
            self.heavy_c.reshape(-1)[idx] += np.uint64(w)
            return int(self.heavy_c.reshape(-1)[idx])
        # lobby update at primary (src/cuckoo.rs:635-651)
        if self.lobby_c[b1] == 0 or self.lobby_fp[b1] == fp:
            self.lobby_fp[b1] = fp
            self.lobby_c[b1] += np.uint64(w)
            lc = int(self.lobby_c[b1])
        else:
            won = self._duel(
                lambda: int(self.lobby_c[b1]),
                lambda c: self.lobby_c.__setitem__(b1, c),
                lambda c: (
                    self.lobby_fp.__setitem__(b1, fp),
                    self.lobby_c.__setitem__(b1, c),
                ),
                w,
            )
            if won is None:
                return 0
            lc = won
        if self._promote(fp, lc, b1, b2):
            if self.lobby_fp[b1] == fp:
                self.lobby_fp[b1] = 0
                self.lobby_c[b1] = 0
            return lc
        return 0

    def _find_heavy(self, fp: np.uint64, b1: int, b2: int) -> int | None:
        for b in (b1, b2) if b1 != b2 else (b1,):
            m = (self.heavy_fp[b] == fp) & (self.heavy_c[b] > 0)
            if m.any():
                return b * self.params.depth + int(m.argmax())
        return None

    def _promote(self, fp: np.uint64, count: int, b1: int, b2: int) -> bool:
        """src/cuckoo.rs:653-676. argmin doubles as the first-empty
        probe (first minimal slot IS the first zero when one exists),
        halving the numpy dispatches on this hot scalar path."""
        for b in (b1, b2) if b1 != b2 else (b1,):
            row = self.heavy_c[b]
            i = int(row.argmin())
            if row[i] == 0:
                self.heavy_fp[b, i] = fp
                self.heavy_c[b, i] = count
                return True
        vb, vi, vc = self._min_heavy(b1, b2)
        if count <= vc:
            return False
        vfp = self.heavy_fp[vb, vi]
        vcount = int(self.heavy_c[vb, vi])
        self.heavy_fp[vb, vi] = fp
        self.heavy_c[vb, vi] = count
        self._relocate(vfp, vcount, vb)
        return True

    def _min_heavy(self, b1: int, b2: int) -> tuple[int, int, int]:
        i1 = int(self.heavy_c[b1].argmin())
        c1 = int(self.heavy_c[b1, i1])
        if b2 == b1:
            return b1, i1, c1
        i2 = int(self.heavy_c[b2].argmin())
        c2 = int(self.heavy_c[b2, i2])
        return (b2, i2, c2) if c2 < c1 else (b1, i1, c1)

    def _pair_one(self, fp) -> tuple[int, int]:
        """Scalar bucket_pair (src/cuckoo.rs:569-580) without the
        1-element-array overhead of the vectorized ``_pair``."""
        w = self.params.width
        f = int(fp)
        b1 = f & (w - 1) if w & (w - 1) == 0 else f % w
        if w == 1:
            return b1, b1
        x = (f ^ 0x9E3779B97F4A7C15) & 0xFFFFFFFFFFFFFFFF
        x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & 0xFFFFFFFFFFFFFFFF
        x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & 0xFFFFFFFFFFFFFFFF
        x ^= x >> 31
        b2 = x & (w - 1) if w & (w - 1) == 0 else x % w
        if b2 == b1:
            b2 = (b2 + 1) % w
        return b1, b2

    def _relocate_batch(
        self, fp: np.ndarray, count: np.ndarray, from_b: np.ndarray
    ) -> None:
        """Level-synchronous bounded kick chains: one ``_relocate``
        hop (src/cuckoo.rs:678-707) for ALL live victims per
        iteration, arrays shrinking as chains terminate. Duplicate
        targets within a level would race on the shared argmin cell,
        so all-but-the-first for each target finish on the scalar
        chain; survivors' installs hit unique cells and the displaced
        occupants (tc > 0 swaps) carry to the next level."""
        fp = np.asarray(fp, dtype=np.uint64)
        count = np.asarray(count, dtype=np.int64)
        from_b = np.asarray(from_b, dtype=np.int64)
        for _ in range(self.max_kicks):
            live = count > 0
            if not live.all():
                fp, count, from_b = fp[live], count[live], from_b[live]
            if fp.size == 0:
                return
            b1, b2 = self._pair(fp)
            target = np.where(from_b == b1, b2, b1)
            keep = target != from_b
            if not keep.all():
                fp, count, from_b, target = (
                    fp[keep], count[keep], from_b[keep], target[keep]
                )
            if fp.size == 0:
                return
            uniq = np.zeros(fp.size, dtype=bool)
            _, fi = np.unique(target, return_index=True)
            uniq[fi] = True
            for j in np.flatnonzero(~uniq):
                self._relocate(fp[j], int(count[j]), int(from_b[j]))
            if not uniq.all():
                fp, count, from_b, target = (
                    fp[uniq], count[uniq], from_b[uniq], target[uniq]
                )
            rowc = self.heavy_c[target]
            i = rowc.argmin(axis=1)
            tc = rowc[np.arange(fp.size), i].astype(np.int64)
            install = (tc == 0) | (count > tc)
            ins = np.flatnonzero(install)
            if ins.size == 0:
                return  # every remaining chain died (count <= tc > 0)
            tbs, slots = target[ins], i[ins]
            ofp = self.heavy_fp[tbs, slots].copy()
            self.heavy_fp[tbs, slots] = fp[ins]
            self.heavy_c[tbs, slots] = count[ins].astype(np.uint64)
            swapped = tc[ins] > 0  # empty installs terminate; swaps carry on
            fp = ofp[swapped]
            count = tc[ins][swapped]
            from_b = tbs[swapped]

    def _relocate(self, fp: np.uint64, count: int, from_b: int) -> None:
        """Bounded kick chain (src/cuckoo.rs:678-707)."""
        for _ in range(self.max_kicks):
            if count == 0:
                return
            p, a = self._pair_one(fp)
            target = a if from_b == p else p
            if target == from_b:
                return
            row = self.heavy_c[target]
            i = int(row.argmin())
            tc = int(row[i])
            if tc == 0:
                self.heavy_fp[target, i] = fp
                self.heavy_c[target, i] = count
                return
            if count <= tc:
                return
            ofp = self.heavy_fp[target, i]
            self.heavy_fp[target, i] = fp
            self.heavy_c[target, i] = count
            fp, count, from_b = ofp, tc, target

    def estimate(self, items: np.ndarray, use_heap: bool = True) -> np.ndarray:
        arr = np.asarray(items, dtype=object)
        n = arr.shape[0]
        fp = self._hash(arr)
        b1, b2 = self._pair(fp)
        m1 = (self.heavy_fp[b1] == fp[:, None]) & (self.heavy_c[b1] > 0)
        m2 = (self.heavy_fp[b2] == fp[:, None]) & (self.heavy_c[b2] > 0)
        c1 = np.where(m1.any(1), self.heavy_c[b1][np.arange(n), m1.argmax(1)], 0)
        c2 = np.where(m2.any(1), self.heavy_c[b2][np.arange(n), m2.argmax(1)], 0)
        lob = np.where(self.lobby_fp[b1] == fp, self.lobby_c[b1], 0)
        out = np.where(c1 > 0, c1, np.where(c2 > 0, c2, lob)).astype(np.int64)
        if use_heap and self.pq.counts:
            get = self.pq.counts.get
            for i in range(n):
                c = get(_pq_key(arr[i]))
                if c is not None:
                    out[i] = c
        return out

    def merge(self, other: "CuckooTopK") -> "CuckooTopK":
        """Deterministic merge — no decay (src/cuckoo.rs:408-553)."""
        self._check_compat(other)
        if self.max_kicks != other.max_kicks:
            raise SketchCompatError("max_kicks", self.max_kicks, other.max_kicks)
        # PQ first (pre-merge fallbacks)
        other_items = list(other.pq.counts.items())
        self_only = [
            (k, c) for k, c in self.pq.counts.items() if k not in other.pq.counts
        ]
        self_only_updates = []
        if self_only:
            keys = _key_array([k for k, _ in self_only])
            ob = other.estimate(keys, use_heap=False)
            self_only_updates = [(k, c + int(e)) for (k, c), e in zip(self_only, ob)]
        if other_items:
            keys = _key_array([k for k, _ in other_items])
            sb = self.estimate(keys, use_heap=False)
            for (item, oc), fb in zip(other_items, sb):
                mine = self.pq.counts.get(item)
                merged = (mine if mine is not None else int(fb)) + int(oc)
                self.pq.upsert(item, merged)
        for item, c in self_only_updates:
            self.pq.upsert(item, c)
        # heavy cells of other, re-inserted with lobby folding. The
        # overwhelmingly common case when merging shards of one stream
        # — fingerprint already heavy in self, no lobby involvement —
        # is handled vectorized; everything else (installs, evictions,
        # kick chains, lobby folds) takes the exact sequential path.
        w, d = self.params.width, self.params.depth
        nz = other.heavy_c.reshape(-1) > 0
        if nz.any():
            ofps = other.heavy_fp.reshape(-1)[nz]
            ocnt = other.heavy_c.reshape(-1)[nz]
            vp, va = self._pair(ofps)
            no_lobby = ~((self.lobby_c[vp] > 0) & (self.lobby_fp[vp] == ofps))
            m1 = (self.heavy_fp[vp] == ofps[:, None]) & (self.heavy_c[vp] > 0)
            h1 = m1.any(axis=1) & no_lobby
            m2 = (self.heavy_fp[va] == ofps[:, None]) & (self.heavy_c[va] > 0)
            h2 = m2.any(axis=1) & ~m1.any(axis=1) & no_lobby
            flat = self.heavy_c.reshape(-1)
            if h1.any():
                np.add.at(flat, vp[h1] * d + m1.argmax(axis=1)[h1], ocnt[h1])
            if h2.any():
                np.add.at(flat, va[h2] * d + m2.argmax(axis=1)[h2], ocnt[h2])
            handled_flat = np.zeros(other.heavy_c.size, dtype=bool)
            handled_flat[np.flatnonzero(nz)[h1 | h2]] = True
        else:
            handled_flat = np.zeros(other.heavy_c.size, dtype=bool)
        # vectorized install waves: unhandled cells whose primary bucket
        # in self has an empty slot (first winner per unique bucket per
        # wave); matches are re-checked each wave since installs mutate
        # state. Lobby-fold cells always take the sequential path.
        oc_flat = other.heavy_c.reshape(-1)
        of_flat = other.heavy_fp.reshape(-1)
        rem = np.flatnonzero(~handled_flat & (oc_flat > 0))
        for _wave in range(6):
            if rem.size == 0:
                break
            f = of_flat[rem]
            c = oc_flat[rem]
            vp, va = self._pair(f)
            nl = ~((self.lobby_c[vp] > 0) & (self.lobby_fp[vp] == f))
            m1 = (self.heavy_fp[vp] == f[:, None]) & (self.heavy_c[vp] > 0)
            m2 = (self.heavy_fp[va] == f[:, None]) & (self.heavy_c[va] > 0)
            h1 = m1.any(axis=1) & nl
            h2 = m2.any(axis=1) & ~m1.any(axis=1) & nl
            flat = self.heavy_c.reshape(-1)
            if h1.any():
                np.add.at(flat, vp[h1] * d + m1.argmax(axis=1)[h1], c[h1])
            if h2.any():
                np.add.at(flat, va[h2] * d + m2.argmax(axis=1)[h2], c[h2])
            done = h1 | h2
            # empty-primary installs: first candidate per unique bucket
            cand = nl & ~done
            em = self.heavy_c[vp] == 0
            has_e = em.any(axis=1) & cand
            done = done.copy()
            if has_e.any():
                idxs = np.flatnonzero(has_e)
                _, firstpos = np.unique(vp[idxs], return_index=True)
                winners = idxs[firstpos]
                tb = vp[winners]
                ts = em.argmax(axis=1)[winners]
                self.heavy_fp[tb, ts] = f[winners]
                self.heavy_c[tb, ts] = c[winners]
                done[winners] = True
            # empty-SECONDARY installs (round 4, mirrors _add_wave):
            # unique secondary buckets, emptiness re-read post-primary
            rest2 = np.flatnonzero(nl & ~done)
            if rest2.size:
                tb2 = va[rest2]
                e2m = self.heavy_c[tb2] == 0
                has2 = e2m.any(axis=1)
                uniq2 = np.zeros(rest2.size, dtype=bool)
                _, f2 = np.unique(tb2, return_index=True)
                uniq2[f2] = True
                do2 = np.flatnonzero(has2 & uniq2)
                if do2.size:
                    sel2 = rest2[do2]
                    self.heavy_fp[tb2[do2], e2m[do2].argmax(axis=1)] = f[sel2]
                    self.heavy_c[tb2[do2], e2m[do2].argmax(axis=1)] = c[sel2]
                    done[sel2] = True
            # evictions (round 4, mirrors _add_wave): both buckets
            # full, incoming strictly heavier than the global-min
            # victim — install over cell-deduped victims, relocate the
            # displaced occupants level-synchronously
            rest3 = np.flatnonzero(nl & ~done)
            if rest3.size:
                tb1r, tb2r = vp[rest3], va[rest3]
                h1c = self.heavy_c[tb1r]
                h2c = self.heavy_c[tb2r]
                full = ~((h1c == 0).any(axis=1) | (h2c == 0).any(axis=1))
                ar = np.arange(rest3.size)
                i1 = h1c.argmin(axis=1)
                c1 = h1c[ar, i1].astype(np.int64)
                i2 = h2c.argmin(axis=1)
                c2 = h2c[ar, i2].astype(np.int64)
                use2 = c2 < c1
                vbb = np.where(use2, tb2r, tb1r)
                vii = np.where(use2, i2, i1)
                vcc = np.where(use2, c2, c1)
                cin = c[rest3].astype(np.int64)
                dead = full & (cin <= vcc)
                if dead.any():
                    done[rest3[dead]] = True  # loses to every occupant
                ev = np.flatnonzero(full & (cin > vcc))
                if ev.size:
                    cells = vbb[ev] * d + vii[ev]
                    uq = np.zeros(ev.size, dtype=bool)
                    _, fc = np.unique(cells, return_index=True)
                    uq[fc] = True
                    dov = ev[uq]
                    if dov.size:
                        sel3 = rest3[dov]
                        vbs, vis = vbb[dov], vii[dov]
                        vfp = self.heavy_fp[vbs, vis].copy()
                        vcnt = vcc[dov].copy()
                        self.heavy_fp[vbs, vis] = f[sel3]
                        self.heavy_c[vbs, vis] = c[sel3]
                        done[sel3] = True
                        self._relocate_batch(vfp, vcnt, vbs)
            rem = rem[~done]
        todo = rem
        for t in todo:
            b, j = divmod(int(t), d)
            if True:
                oc = int(other.heavy_c[b, j])
                fp = other.heavy_fp[b, j]
                # scalar bucket_pair — bit-identical to _pair without
                # the 1-element numpy dispatch overhead (profiled at
                # ~half this loop's cost when it ran through _pair)
                p, a = self._pair_one(fp)
                count = oc
                if self.lobby_c[p] > 0 and self.lobby_fp[p] == fp:
                    count += int(self.lobby_c[p])
                    self.lobby_fp[p] = 0
                    self.lobby_c[p] = 0
                idx = self._find_heavy(fp, p, a)
                if idx is not None:
                    self.heavy_c.reshape(-1)[idx] += np.uint64(count)
                    continue
                placed = False
                for bb in (p, a) if p != a else (p,):
                    empt = np.flatnonzero(self.heavy_c[bb] == 0)
                    if empt.size:
                        i = int(empt[0])
                        self.heavy_fp[bb, i] = fp
                        self.heavy_c[bb, i] = count
                        placed = True
                        break
                if placed:
                    continue
                vb, vi, vc = self._min_heavy(p, a)
                if count > vc:
                    vfp = self.heavy_fp[vb, vi]
                    vcount = int(self.heavy_c[vb, vi])
                    self.heavy_fp[vb, vi] = fp
                    self.heavy_c[vb, vi] = count
                    self._relocate(vfp, vcount, vb)
        # lobbies of other: fold into heavy if present, else
        # higher-count-wins (ties keep self). One vector pass: lobby
        # inserts only ever land at an fp's PRIMARY bucket, so lobby
        # fps are distinct and each row's writes hit its own primary
        # cell — conflict-free scatters (heavy-hit slots are unique by
        # the distinct-fp argument, same as add_batch).
        nzl = np.flatnonzero(other.lobby_c > 0)
        if nzl.size:
            f = other.lobby_fp[nzl]
            c = other.lobby_c[nzl]
            vp, va = self._pair(f)
            m1 = (self.heavy_fp[vp] == f[:, None]) & (self.heavy_c[vp] > 0)
            m2 = (self.heavy_fp[va] == f[:, None]) & (self.heavy_c[va] > 0)
            h1 = m1.any(axis=1)
            h2 = m2.any(axis=1) & ~h1
            flatc = self.heavy_c.reshape(-1)
            if h1.any():
                flatc[vp[h1] * d + m1.argmax(axis=1)[h1]] += c[h1]
            if h2.any():
                flatc[va[h2] * d + m2.argmax(axis=1)[h2]] += c[h2]
            rest = ~(h1 | h2)
            if rest.any():
                rp = vp[rest]
                rf = f[rest]
                rc = c[rest]
                same = (self.lobby_c[rp] > 0) & (self.lobby_fp[rp] == rf)
                if same.any():
                    self.lobby_c[rp[same]] += rc[same]
                take = (~same) & (
                    (self.lobby_c[rp] == 0) | (rc > self.lobby_c[rp])
                )
                if take.any():
                    self.lobby_fp[rp[take]] = rf[take]
                    self.lobby_c[rp[take]] = rc[take]
        return self

    def mem_bytes(self, item_heap_fn=None) -> int:
        return int(
            self.lobby_fp.nbytes
            + self.lobby_c.nbytes
            + self.heavy_fp.nbytes
            + self.heavy_c.nbytes
            + self.pq.mem_bytes(item_heap_fn)
        )

def deserialize_any(blob: bytes):
    """Deserialize whichever sketch layout wrote the blob, sniffed from
    the 4-byte magic (HKS1 canonical, HKB1 bucketed, HKC1 cuckoo).

    The reference exposes count()/contains() on all three layouts
    (src/heavykeeper.rs:220-246, src/bucketed.rs:260-269,
    src/cuckoo.rs:280-289); the distributed broadcast-probe operators
    use this so a sketch built with ANY variant can be probed."""
    from .kernel import _MAGIC, HeavyKeeper

    tag = bytes(blob[:4])
    if tag == _MAGIC:
        return HeavyKeeper.deserialize(blob)
    if tag == BucketedTopK.variant:
        return BucketedTopK.deserialize(blob)
    if tag == CuckooTopK.variant:
        return CuckooTopK.deserialize(blob)
    raise ValueError(f"unknown sketch blob magic {tag!r}")
