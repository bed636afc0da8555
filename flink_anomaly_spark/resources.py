"""Cached frames, lineage checkpoints and file-keyed driver memos.

The engine's three kinds of query-spanning state live here, each once:

- :func:`persist` / :func:`release_cached` — persisted intermediates
  that lazy operators hand out and a query loop releases between
  queries;
- :func:`truncator` — the lineage-truncation strategy of the iterative
  graph algorithms (``localCheckpoint`` or reliable ``checkpoint``);
- :func:`file_memo` — driver-side values (the catalog's parquet
  schemas, IVF centroids, quantizer bounds) reused while their source
  file is unchanged.

This module imports nothing from the package, so any module can import
it at the top.
"""

from __future__ import annotations

import gc
import os
from typing import Any, Callable, TypeVar

from pyspark.sql import DataFrame

T = TypeVar("T")

#: Persisted intermediates handed out by the operators. The operators
#: return LAZY DataFrames, so they cannot unpersist before the caller's
#: action — instead every persist() is tracked here and callers that
#: run many pipelines in one session (bench loop, oracle gate) release
#: between queries via :func:`release_cached`. Strong refs on purpose:
#: the JVM-side cache outlives the Python wrapper, so a weak set would
#: lose the only handle able to unpersist it. The list holds plan
#: objects (tiny); the executor memory they pin is the leak being
#: managed.
_PERSISTED: list[DataFrame] = []


#: Set by every :func:`truncator` checkpoint, cleared by
#: :func:`release_cached`, which collects garbage only when it is set.
_CHECKPOINTED = False


def persist(df: DataFrame) -> DataFrame:
    df.persist()
    _PERSISTED.append(df)
    return df


def release_cached() -> int:
    """Unpersist every cached intermediate created through :func:`persist`.

    Returns the number of DataFrames that were still cached; frames the
    caller already unpersisted are unpersisted again but not counted.
    Safe to call at any time: a consumer that re-scans a released plan
    recomputes it (correctness is unaffected, only the branch-sharing
    speedup).

    Runs a Python ``gc.collect()`` only when a :func:`truncator`
    checkpoint was taken since the last release. ``localCheckpoint``
    blocks (the CC/pagerank/kcore/BFS/dedup-cluster lineage truncation)
    are only dropped by Spark's ContextCleaner once the DRIVER-side RDD
    reference is garbage-collected, and CPython's cyclic collector lags
    the query loop — a many-query session accumulated 10-20 live
    checkpoint RDD block sets and the checkpoint-heavy queries degraded
    15-60 % vs a fresh session. With the collect the stored-RDD count
    stays at the per-query working set (5-10) and in-loop times match
    fresh-session probes (measured in commit a897cb8). A query that took
    no checkpoint has nothing for the collect to free, so it skips the
    collect's ~70 ms."""
    global _CHECKPOINTED
    n = 0
    while _PERSISTED:
        df = _PERSISTED.pop()
        try:
            if df.is_cached:
                n += 1
            df.unpersist()
        except Exception:
            pass  # session already stopped — nothing to release
    if _CHECKPOINTED:
        _CHECKPOINTED = False
        gc.collect()
    return n


def truncator(df: DataFrame, reliable_checkpoint_dir: str | None):
    """Lineage-truncation strategy for one run of an iterative algorithm.

    By default ``localCheckpoint`` — blocks live on executors, zero
    external storage, right for single-node / sandbox runs. On a real
    cluster an executor loss mid-iteration destroys a localCheckpoint
    block with NO lineage to recompute it, killing the job — pass
    ``reliable_checkpoint_dir`` (HDFS/S3 path) to use reliable
    ``checkpoint()`` storage that survives executor loss.

    A factory on purpose: ``setCheckpointDir`` runs once per algorithm
    run (``df`` only supplies the session). Spark creates a fresh UUID
    subdirectory on every call, so setting it per frame would scatter
    one run's checkpoints.
    """
    if reliable_checkpoint_dir is not None:
        df.sparkSession.sparkContext.setCheckpointDir(reliable_checkpoint_dir)

    def _truncate(frame: DataFrame) -> DataFrame:
        global _CHECKPOINTED
        _CHECKPOINTED = True
        if reliable_checkpoint_dir is not None:
            return frame.checkpoint(eager=True)
        return frame.localCheckpoint(eager=True)

    return _truncate


#: tag → ((path, mtime_ns, size), value): one entry per tag, so a
#: long-lived process holds one corpus's index per tag at a time.
_FILE_MEMO: dict[str, tuple[tuple[str, int, int], Any]] = {}


def file_memo(tag: str, path: str, compute: Callable[[], T]) -> T:
    """``compute()``'s value, reused while the file at ``path`` keeps
    its ``(mtime_ns, size)``.

    Keyed by the file's identity, NOT by its path alone: test data at a
    fixed path can be regenerated, and a path-keyed memo in a long-lived
    process would hand out a stale index and silently diverge from the
    oracle. ``os.stat`` is ~µs next to the collect it saves. When the
    stat fails (no such file, e.g. a fixture directory) the value is
    computed and not kept."""
    try:
        st = os.stat(path)
    except OSError:
        return compute()
    key = (path, st.st_mtime_ns, st.st_size)
    hit = _FILE_MEMO.get(tag)
    if hit is not None and hit[0] == key:
        return hit[1]
    value = compute()
    _FILE_MEMO[tag] = (key, value)
    return value
