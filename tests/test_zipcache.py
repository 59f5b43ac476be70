"""zipimport directory cache kept across ``importlib.invalidate_caches()``
(``heavykeeper_rs_spark.zipcache``), which Spark's Python worker calls
before every task."""

import importlib
import sys
import zipfile
import zipimport

import pyarrow as pa
import pytest

from heavykeeper_rs_spark import zipcache  # the package installs it

needs_wrapper = pytest.mark.skipif(
    sys.version_info >= (3, 13) or not hasattr(zipimport.zipimporter, "invalidate_caches"),
    reason="zipimporter re-reads nothing on invalidate here; nothing is wrapped",
)


def _write_zip(path, modules: dict) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in modules.items():
            zf.writestr(name, src)


@pytest.fixture()
def zip_on_path(tmp_path, monkeypatch):
    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, {"hkzc_first.py": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    yield archive
    for name in ("hkzc_first", "hkzc_second"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def test_unchanged_archive_is_read_at_most_once(zip_on_path, monkeypatch):
    assert importlib.import_module("hkzc_first").X == 1
    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == zip_on_path:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) <= 1


def test_rewritten_archive_is_read_again(zip_on_path):
    assert importlib.import_module("hkzc_first").X == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    _write_zip(zip_on_path, {"hkzc_first.py": "X = 1\n", "hkzc_second.py": "Y = 2\n"})
    importlib.invalidate_caches()
    assert importlib.import_module("hkzc_second").Y == 2


@needs_wrapper
def test_install_is_idempotent():
    zipcache.install()
    zipcache.install()
    inv = zipimport.zipimporter.invalidate_caches
    assert inv.__module__ == zipcache.__name__
    assert inv.__wrapped__.__module__ != zipcache.__name__


@needs_wrapper
def test_spark_worker_runs_the_wrapper(spark):
    """A worker that ran a library mapInArrow closure has the wrapper
    installed, so its next task's invalidate_caches() re-reads nothing."""
    from heavykeeper_rs_spark.kernel import HKParams
    from heavykeeper_rs_spark.operators.topk import _build_partial

    build = _build_partial(HKParams(k=4, width=64, depth=2), 1, False)

    def report(batches):
        import zipimport

        for _ in build(batches):
            pass
        inv = zipimport.zipimporter.invalidate_caches
        yield pa.RecordBatch.from_pydict({"wrapper": [inv.__module__]})

    rows = spark.range(0, 64, 1, 2).mapInArrow(report, "wrapper string").collect()
    assert [r.wrapper for r in rows] == [zipcache.__name__] * 2
