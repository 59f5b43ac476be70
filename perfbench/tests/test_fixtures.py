"""Exact-answer cache: keyed by the input's rows, not its file bytes,
and reused only when spec and digest both match."""

import pyarrow as pa
import pyarrow.parquet as pq

from hkbench import fixtures


def _write(path, keys):
    pq.write_table(pa.table({"key": pa.array(keys, pa.int64())}), path)


def test_digest_covers_rows_not_file_names(tmp_path):
    a, b = tmp_path / "a", tmp_path / "b"
    a.mkdir()
    b.mkdir()
    _write(a / "part-00000-x.parquet", [1, 2, 3])
    _write(b / "part-00000-y.parquet", [1, 2, 3])
    (b / "_SUCCESS").write_text("")
    assert fixtures.digest(str(a))[0] == fixtures.digest(str(b))[0]
    _write(b / "part-00000-y.parquet", [1, 2, 4])
    assert fixtures.digest(str(a))[0] != fixtures.digest(str(b))[0]


def test_cache_entry_needs_matching_spec_and_digest(tmp_path):
    path = tmp_path / "entry.json"
    path.write_text('{"spec": {"seed": 1}, "digest": "d1", "exact": {"rows": 3}}')
    assert fixtures.load(str(path), {"seed": 1}, "d1") == {"rows": 3}
    assert fixtures.load(str(path), {"seed": 2}, "d1") is None
    assert fixtures.load(str(path), {"seed": 1}, "d2") is None
    assert fixtures.load(str(tmp_path / "missing.json"), {"seed": 1}, "d1") is None
