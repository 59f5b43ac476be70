"""Blobs are untrusted input: every parser rejects a blob that breaks an
invariant the add and merge paths rely on with ValueError (or
SketchCompatError for a well-formed blob of another shape), and never
with an IndexError, struct.error or a silently different result."""

import struct

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from heavykeeper_rs_spark.errors import SketchCompatError
from heavykeeper_rs_spark.kernel import HeavyKeeper, merge_blobs
from heavykeeper_rs_spark.serde import dumps as serde_dumps, loads as serde_loads
from heavykeeper_rs_spark.variants import BucketedTopK, CuckooTopK

_HEADER = struct.calcsize("<4sBqqqdq")


def _variant_blob(cls) -> bytes:
    sk = cls(k=4, width=16, depth=2)
    sk.add_batch(np.asarray([b"a", b"b", b"b", b"c", b"c", b"c"], dtype=object))
    return sk.serialize()


def _edit_state(blob: bytes, edit) -> bytes:
    d = serde_loads(blob[4:])
    edit(d)
    return blob[:4] + serde_dumps(d)


def _set(key, value):
    return lambda d: d.__setitem__(key, value)


def _cut_rows(key, rows):
    return lambda d: d.__setitem__(key, d[key][:rows])


def _as_float(key):
    return lambda d: d.__setitem__(key, d[key].astype(np.float64))


def _transposed(key):
    return lambda d: d.__setitem__(key, np.ascontiguousarray(d[key].T))


_COMMON_EDITS = {
    "params-missing-key": lambda d: d["params"].pop("seed"),
    "params-extra-key": lambda d: d["params"].__setitem__("rng", 1),
    "params-not-dict": _set("params", [4, 16, 2]),
    "cand-not-list": _set("cand", {"a": 1}),
    "cand-short-triple": lambda d: d["cand"].__setitem__(0, d["cand"][0][:2]),
    "cand-negative-count": lambda d: d["cand"].__setitem__(0, [d["cand"][0][0], -1, 0]),
    "cand-float-count": lambda d: d["cand"].__setitem__(0, [d["cand"][0][0], 1.5, 0]),
    "cand-str-key": lambda d: d["cand"].__setitem__(0, ["a", 1, 0]),
}

_BUCKETED_EDITS = {
    "counts-3-rows": _cut_rows("counts", 3),
    "fps-3-rows": _cut_rows("fps", 3),
    "counts-float64": _as_float("counts"),
    "counts-transposed": _transposed("counts"),
    "counts-missing": lambda d: d.pop("counts"),
    "fps-list": _set("fps", [0] * 32),
}

_CUCKOO_EDITS = {
    "heavy_c-3-rows": _cut_rows("heavy_c", 3),
    "heavy_fp-float64": _as_float("heavy_fp"),
    "heavy_c-transposed": _transposed("heavy_c"),
    "lobby_c-2d": lambda d: d.__setitem__("lobby_c", d["heavy_c"]),
    "lobby_fp-short": _cut_rows("lobby_fp", 15),
    "lobby_fp-int64": lambda d: d.__setitem__("lobby_fp", d["lobby_fp"].astype(np.int64)),
    "max_kicks-zero": _set("max_kicks", 0),
    "max_kicks-str": _set("max_kicks", "8"),
    "max_kicks-missing": lambda d: d.pop("max_kicks"),
}

_VARIANT_CASES = [
    (cls, name, edit)
    for cls, own in ((BucketedTopK, _BUCKETED_EDITS), (CuckooTopK, _CUCKOO_EDITS))
    for name, edit in {**_COMMON_EDITS, **own}.items()
]


@pytest.mark.parametrize(
    "cls,edit", [(c, e) for c, _, e in _VARIANT_CASES], ids=[f"{c.__name__}-{n}" for c, n, _ in _VARIANT_CASES]
)
def test_variant_rejects_hand_edited_blob(cls, edit):
    bad = _edit_state(_variant_blob(cls), edit)
    with pytest.raises(ValueError):
        cls.deserialize(bad)


@pytest.mark.parametrize("cls", [BucketedTopK, CuckooTopK])
def test_variant_untouched_blob_roundtrips(cls):
    blob = _variant_blob(cls)
    assert _edit_state(blob, lambda d: None) == blob
    sk = cls.deserialize(blob)
    assert sk.list() == cls.deserialize(blob).list()
    sk.add_batch(np.asarray([b"d"], dtype=object))  # the loaded state is usable
    assert sk.serialize() != blob


# -- HeavyKeeper v1 (dense) and v2 (sparse) blobs ---------------------


def _hk_pair(dense: bool) -> tuple[bytes, bytes]:
    """Two same-shape blobs: v1 when ``dense``, v2 otherwise."""
    width = 16 if dense else 256
    out = []
    for lo in (0, 20):
        sk = HeavyKeeper.new(k=6, width=width, depth=2)
        keys = [b"k%d" % i for i in range(lo, lo + 30) for _ in range(1 + i % 4)]
        sk.add_batch(np.asarray(keys, dtype=object))
        blob = sk.serialize()
        assert blob[4] == (1 if dense else 2)
        out.append(blob)
    return out[0], out[1]


_BLOBS = {"v1": _hk_pair(True), "v2": _hk_pair(False)}


def _flips(blob_len: int):
    return st.lists(
        st.tuples(st.integers(0, blob_len - 1), st.integers(1, 255)), min_size=1, max_size=4
    )


def _flip(blob: bytes, flips) -> bytes:
    b = bytearray(blob)
    for pos, mask in flips:
        b[pos] ^= mask
    return bytes(b)


def _swap_idx(blob: bytes, i: int, j: int) -> bytes:
    (nnz,) = struct.unpack_from("<q", blob, _HEADER)
    start = _HEADER + 8
    idx = np.frombuffer(blob, np.int64, nnz, start).copy()
    i, j = i % nnz, j % nnz
    idx[i], idx[j] = idx[j], idx[i]
    return blob[:start] + idx.tobytes() + blob[start + 8 * nnz :]


def _check_merge(a: bytes, b: bytes) -> None:
    """``merge_blobs([a, b])`` either rejects ``b`` or equals the dense
    ``a.merge(deserialize(b))``."""
    try:
        merged = merge_blobs([a, b])
    except (ValueError, SketchCompatError):
        return
    dense = HeavyKeeper.deserialize(a).merge(HeavyKeeper.deserialize(b))
    assert merged == dense.serialize()


_fuzz = settings(max_examples=300, deadline=None, suppress_health_check=[HealthCheck.too_slow])


@pytest.mark.parametrize("layout", ["v1", "v2"])
@_fuzz
@given(data=st.data())
def test_byte_flips(layout, data):
    a, b = _BLOBS[layout]
    _check_merge(a, _flip(b, data.draw(_flips(len(b)))))


@pytest.mark.parametrize("layout", ["v1", "v2"])
@_fuzz
@given(data=st.data())
def test_truncation(layout, data):
    a, b = _BLOBS[layout]
    _check_merge(a, b[: data.draw(st.integers(0, len(b) - 1))])


@_fuzz
@given(st.integers(0, 1 << 16), st.integers(0, 1 << 16))
def test_swapped_sparse_indices(i, j):
    a, b = _BLOBS["v2"]
    _check_merge(a, _swap_idx(b, i, j))


@pytest.mark.parametrize("layout", ["v1", "v2"])
@pytest.mark.parametrize("cut", [0, 1, 4, 5, _HEADER - 1, _HEADER, _HEADER + 7])
def test_short_blob_is_value_error(layout, cut):
    """Shorter than the 45-byte header (or, for v2, than the header and
    its cell count) raises ValueError, not struct.error, on both the
    dense reader and the sparse merge parser."""
    a, b = _BLOBS[layout]
    with pytest.raises(ValueError):
        HeavyKeeper.deserialize(b[:cut])
    with pytest.raises(ValueError):
        merge_blobs([a, b[:cut]])


def test_untouched_pair_merges():
    for a, b in _BLOBS.values():
        assert merge_blobs([a, b]) == HeavyKeeper.deserialize(a).merge(HeavyKeeper.deserialize(b)).serialize()


def test_sparse_zero_count_is_value_error():
    """A v2 blob stores only live cells; the O(nnz) merge's equality
    with the dense merge is argued from that."""
    a, b = _BLOBS["v2"]
    (nnz,) = struct.unpack_from("<q", b, _HEADER)
    count0 = _HEADER + 8 + 16 * nnz
    bad = b[:count0] + bytes(8) + b[count0 + 8 :]
    with pytest.raises(ValueError, match="zero count"):
        HeavyKeeper.deserialize(bad)
    with pytest.raises(ValueError, match="zero count"):
        merge_blobs([a, bad])
