"""Bounded top-K queue admission, memory accounting for int64 keys, and
the sparse (v2) blob's cell-index check."""

import struct

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from heavykeeper_rs_spark.kernel import HeavyKeeper, TopKQueue, merge_blobs
from heavykeeper_rs_spark.variants import BucketedTopK, CuckooTopK


class _FullLoopQueue(TopKQueue):
    """The queue before bounded admission: every key above the minimum
    gets an upsert."""

    __slots__ = ()

    def candidates(self, counts):
        return np.flatnonzero(counts > self.min_count())


def _pair(k, width, depth, seed):
    cut = HeavyKeeper.with_seed(k, width, depth, 0.9, seed)
    full = HeavyKeeper.with_seed(k, width, depth, 0.9, seed)
    full.pq.__class__ = _FullLoopQueue
    return cut, full


def _assert_same_after(batches, k, width, depth, seed):
    cut, full = _pair(k, width, depth, seed)
    for items, weights in batches:
        ev_cut = cut.add_batch(items, weights, return_evicted=True)
        ev_full = full.add_batch(items, weights, return_evicted=True)
        assert ev_cut == ev_full
        assert cut.pq.counts == full.pq.counts
        assert cut.pq.seqs == full.pq.seqs
    assert cut.serialize() == full.serialize()


key_lists = st.lists(st.integers(0, 60), min_size=1, max_size=120)
shapes = st.tuples(st.integers(1, 8), st.sampled_from([8, 16, 64]), st.integers(1, 3))


class TestBoundedAdmission:
    @settings(max_examples=40, deadline=None)
    @given(st.lists(key_lists, min_size=1, max_size=4), shapes, st.integers(0, 1000))
    def test_int_batches_match_full_loop(self, batches, shape, seed):
        batches = [(np.asarray(b, dtype=np.int64), None) for b in batches]
        _assert_same_after(batches, *shape, seed)

    @settings(max_examples=40, deadline=None)
    @given(st.lists(key_lists, min_size=1, max_size=4), shapes, st.integers(0, 1000))
    def test_str_batches_match_full_loop(self, batches, shape, seed):
        batches = [
            (np.asarray([f"key-{x}" for x in b], dtype=object), None) for b in batches
        ]
        _assert_same_after(batches, *shape, seed)

    @settings(max_examples=40, deadline=None)
    @given(
        st.lists(
            st.lists(st.tuples(st.integers(0, 60), st.integers(1, 9)), min_size=1, max_size=80),
            min_size=1,
            max_size=4,
        ),
        shapes,
        st.integers(0, 1000),
    )
    def test_weighted_batches_match_full_loop(self, batches, shape, seed):
        batches = [
            (
                np.asarray([x for x, _ in b], dtype=np.int64),
                np.asarray([w for _, w in b], dtype=np.int64),
            )
            for b in batches
        ]
        _assert_same_after(batches, *shape, seed)

    def test_zipf_batches_match_full_loop(self):
        # large batches: the int lanes' dense and factorize paths, and
        # far more distinct keys than k
        rng = np.random.default_rng(7)
        batches = [(rng.zipf(1.1, 20_000) % 50_000, None) for _ in range(3)]
        batches.append((rng.zipf(1.3, 8_000) % 3_000, None))
        _assert_same_after(batches, 20, 512, 3, 11)

    @pytest.mark.parametrize("cls", [BucketedTopK, CuckooTopK])
    def test_variant_batches_match_full_loop(self, cls):
        rng = np.random.default_rng(3)
        cut = cls(k=20, width=256, depth=3, seed=5)
        full = cls(k=20, width=256, depth=3, seed=5)
        full.pq.__class__ = _FullLoopQueue
        for n in (20_000, 5_000, 300):
            keys = rng.zipf(1.2, n) % 30_000
            words = np.asarray([f"w{x}" for x in keys[: n // 4]], dtype=object)
            for sk in (cut, full):
                sk.add_batch(keys)
                sk.add_batch(words)
            assert cut.pq.counts == full.pq.counts
            assert cut.pq.seqs == full.pq.seqs
        assert cut.serialize() == full.serialize()

    def test_cut_keeps_keys_tied_with_the_kth_count(self):
        q = TopKQueue(2)
        counts = np.array([5, 3, 3, 3, 1, 3], dtype=np.int64)
        assert q.candidates(counts).tolist() == [0, 1, 2, 3, 5]


class TestIntKeyMemBytes:
    def test_heavykeeper_describe_and_mem_bytes(self):
        sk = HeavyKeeper.new(k=8, width=64, depth=2)
        sk.add_batch(np.arange(5, dtype=np.int64))
        d = sk.describe()
        assert d["tracked"] == 5
        assert d["mem_bytes"] == sk.fps.nbytes + sk.counts.nbytes + 5 * (8 + 96)

    @pytest.mark.parametrize("cls", [BucketedTopK, CuckooTopK])
    def test_variant_mem_bytes(self, cls):
        sk = cls(k=8, width=64, depth=2)
        sk.add_batch(np.arange(5, dtype=np.int64))
        assert len(sk.pq) == 5
        base = sk.mem_bytes(item_heap_fn=lambda _k: 0)
        assert sk.mem_bytes() - base == 5 * 8


def _sparse_blob() -> bytes:
    sk = HeavyKeeper.new(k=4, width=1024, depth=2)
    sk.add_batch(np.asarray([b"a", b"b", b"c", b"d"], dtype=object))
    blob = sk.serialize()
    assert blob[4] == 2  # sparse layout
    return blob


def _edit_idx(blob: bytes, edit) -> bytes:
    off = struct.calcsize("<4sBqqqdq")
    (nnz,) = struct.unpack_from("<q", blob, off)
    assert nnz >= 2
    start = off + 8
    idx = np.frombuffer(blob[start : start + 8 * nnz], dtype=np.int64).copy()
    edit(idx)
    return blob[:start] + idx.tobytes() + blob[start + 8 * nnz :]


def _duplicate(idx):
    idx[1] = idx[0]


def _swap(idx):
    idx[0], idx[1] = idx[1], idx[0]


class TestSparseIndexCheck:
    @pytest.mark.parametrize("edit", [_duplicate, _swap])
    def test_deserialize_rejects(self, edit):
        bad = _edit_idx(_sparse_blob(), edit)
        with pytest.raises(ValueError, match="strictly increasing"):
            HeavyKeeper.deserialize(bad)

    @pytest.mark.parametrize("edit", [_duplicate, _swap])
    def test_merge_blobs_rejects(self, edit):
        good = _sparse_blob()
        bad = _edit_idx(good, edit)
        # first blob goes through deserialize, later ones through the
        # O(nnz) sparse parser
        for blobs in ([bad, good], [good, bad]):
            with pytest.raises(ValueError, match="strictly increasing"):
                merge_blobs(blobs)

    def test_untouched_blob_still_merges(self):
        good = _sparse_blob()
        merged = HeavyKeeper.deserialize(merge_blobs([good, good]))
        assert dict(merged.list()) == {b"a": 2, b"b": 2, b"c": 2, b"d": 2}
