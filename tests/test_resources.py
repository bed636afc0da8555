"""Spark-free tests of ``resources``: ``file_memo``, the file-keyed
driver memo behind the parquet schema catalog and the IVF centroid and
quantizer-bounds index builds, and ``release_cached``'s counting and
its garbage collection after a ``truncator`` checkpoint."""

from __future__ import annotations

import gc
import os
from types import SimpleNamespace

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


@pytest.fixture
def collects(monkeypatch):
    """Counts ``gc.collect`` calls; starts with no tracked frame and no
    checkpoint taken."""
    monkeypatch.setattr(resources, "_PERSISTED", [])
    resources.release_cached()  # clears a checkpoint record left by other tests
    calls = []
    monkeypatch.setattr(gc, "collect", lambda: calls.append(1) or 0)
    return calls


def _stub_frame():
    ctx = SimpleNamespace(setCheckpointDir=lambda path: None)
    return SimpleNamespace(
        localCheckpoint=lambda eager: "local",
        checkpoint=lambda eager: "reliable",
        sparkSession=SimpleNamespace(sparkContext=ctx),
    )


def test_release_without_checkpoint_does_not_collect(collects):
    assert resources.release_cached() == 0
    assert resources.release_cached() == 0
    assert collects == []


@pytest.mark.parametrize(
    "checkpoint_dir, taken", [(None, "local"), ("/tmp/ckpt", "reliable")], ids=["local", "reliable"]
)
def test_checkpoint_makes_the_next_release_collect_once(collects, checkpoint_dir, taken):
    frame = _stub_frame()
    assert resources.truncator(frame, checkpoint_dir)(frame) == taken
    resources.release_cached()
    assert len(collects) == 1
    resources.release_cached()
    assert len(collects) == 1


class _Tracked:
    def __init__(self, is_cached):
        self.is_cached = is_cached
        self.unpersists = 0

    def unpersist(self):
        self.is_cached = False
        self.unpersists += 1


def test_release_counts_only_frames_still_cached(collects):
    frames = [_Tracked(True), _Tracked(False), _Tracked(True)]
    resources._PERSISTED.extend(frames)
    assert resources.release_cached() == 2
    assert [f.unpersists for f in frames] == [1, 1, 1]
    assert resources._PERSISTED == []
