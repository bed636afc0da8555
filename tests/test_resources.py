"""Spark-free tests of ``resources.file_memo``, the file-keyed driver
memo behind the IVF centroid and quantizer-bounds index builds."""

from __future__ import annotations

import os

import pytest

from flink_anomaly_spark import resources


@pytest.fixture(autouse=True)
def _empty_memo(monkeypatch):
    monkeypatch.setattr(resources, "_FILE_MEMO", {})


def _counter():
    calls = []

    def compute():
        calls.append(1)
        return len(calls)

    return calls, compute


def test_reused_while_file_unchanged_recomputed_after_rewrite(tmp_path):
    path = tmp_path / "embeddings.parquet"
    path.write_bytes(b"v1")
    calls, compute = _counter()
    assert resources.file_memo("t", str(path), compute) == 1
    assert resources.file_memo("t", str(path), compute) == 1
    assert len(calls) == 1
    # a rewrite that changes the size
    path.write_bytes(b"version 2")
    assert resources.file_memo("t", str(path), compute) == 2
    # a rewrite that keeps the size but moves the mtime
    st = os.stat(path)
    os.utime(path, ns=(st.st_atime_ns, st.st_mtime_ns + 1_000_000_000))
    assert resources.file_memo("t", str(path), compute) == 3
    assert resources.file_memo("t", str(path), compute) == 3
    assert len(calls) == 3


def test_tags_do_not_evict_each_other(tmp_path):
    a, b = tmp_path / "a.parquet", tmp_path / "b.parquet"
    a.write_bytes(b"a")
    b.write_bytes(b"bb")
    calls_a, compute_a = _counter()
    calls_b, compute_b = _counter()
    for _ in range(3):
        assert resources.file_memo("centroids", str(a), compute_a) == 1
        assert resources.file_memo("minmax", str(b), compute_b) == 1
        assert resources.file_memo("minmax_same_file", str(a), compute_b) == 2
    assert (len(calls_a), len(calls_b)) == (1, 2)


def test_one_entry_per_tag(tmp_path):
    a, b = tmp_path / "a.parquet", tmp_path / "b.parquet"
    a.write_bytes(b"a")
    b.write_bytes(b"b")
    calls, compute = _counter()
    resources.file_memo("t", str(a), compute)
    resources.file_memo("t", str(b), compute)
    assert list(resources._FILE_MEMO) == ["t"]
    # the second file replaced the first: going back recomputes
    assert resources.file_memo("t", str(a), compute) == 3


def test_failed_stat_computes_without_caching(tmp_path):
    missing = str(tmp_path / "no_such_dir" / "embeddings.parquet")
    calls, compute = _counter()
    assert resources.file_memo("t", missing, compute) == 1
    assert resources.file_memo("t", missing, compute) == 2
    assert resources._FILE_MEMO == {}
