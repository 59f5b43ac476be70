"""examples/media_features_job.py argument handling."""

import importlib.util
import os
import sys

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

_JOB = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "examples",
    "media_features_job.py",
)


def _load_job():
    spec = importlib.util.spec_from_file_location("media_features_job", _JOB)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_blob_only_input_exits_with_message(spark, tmp_path, monkeypatch):
    src = str(tmp_path / "blobs.parquet")
    pq.write_table(pa.table({"img": pa.array([b"\x00\x01"], type=pa.binary())}), src)
    monkeypatch.setattr(sys, "argv", ["media_features_job.py", src, str(tmp_path / "out")])
    with pytest.raises(SystemExit, match="no id column besides 'img'"):
        _load_job().main()
