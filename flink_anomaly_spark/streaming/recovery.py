"""Failure injection + checkpoint recovery harness.

The reference exists to observe AT_LEAST_ONCE replay duplicates after
recovery (``Main.java:27-30``, ``TestFlinkStreamsRecover.java``,
``TestFlinkStatefulStreamsRecover.java``; SURVEY §2.8). Its mechanism —
a filter UDF that throws the first N times per element, tracked in a
JVM-global map surviving operator restarts (``R4``) — is test harness,
not engine capability.

Spark transposition:

- **failure injection**: a Pandas UDF that consults an on-disk flag
  (module globals are NOT shared across Spark's forked Python workers,
  unlike Flink's static field — SURVEY §2.8 R4) and raises on first
  encounter. Task retries (``spark.task.maxFailures``) and query
  restarts both re-execute it, exactly like Flink's restart strategy.
- **recovery invariant**: Structured Streaming checkpoints
  source offsets + state per micro-batch; with a replayable source and
  a transactional (file) sink, a killed-and-restarted query produces NO
  duplicates — the anomaly class the reference hunts cannot occur.
  ``assert_exactly_once_file_sink`` verifies that.
- **at-least-once parity**: ``foreach``-style side-effecting sinks are
  at-least-once in Spark too (R1's honest comparison) —
  ``count_foreach_side_effects`` exposes that path.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def make_failing_filter(flag_dir: str, fail_ids: set[int]):
    """Return a pandas UDF predicate that passes all rows, but raises
    the FIRST time it sees each id in ``fail_ids`` (flag persisted on
    disk so retries/restarts observe prior failures, mirroring the
    reference's restart-surviving ``alreadyFailed`` map,
    ``Main.java:90-111``)."""

    @F.pandas_udf(T.BooleanType())
    def unstable_pass(ids: pd.Series) -> pd.Series:
        for i in ids:
            i = int(i)
            if i in fail_ids:
                flag = os.path.join(flag_dir, f"failed_{i}")
                if not os.path.exists(flag):
                    with open(flag, "w") as f:
                        f.write("1")
                    raise RuntimeError(f"UnstableDataFailedException: id={i}")
        return pd.Series([True] * len(ids))

    return unstable_pass


def run_file_sink_with_restarts(
    spark: SparkSession,
    source_dir: str,
    out_dir: str,
    ckpt_dir: str,
    build_query,
    max_restarts: int = 10,
) -> int:
    """Run a streaming query to completion, restarting from the same
    checkpoint after each injected failure (the Spark analog of
    ``fixedDelayRestart(10, 0s)``, Main.java:29-30). Returns the number
    of restarts consumed."""
    restarts = 0
    while True:
        q = build_query().writeStream.format("parquet").option("path", out_dir).option(
            "checkpointLocation", ckpt_dir
        ).trigger(availableNow=True).start()
        try:
            q.awaitTermination()
            return restarts
        except Exception:
            restarts += 1
            if restarts > max_restarts:
                raise


def assert_exactly_once_file_sink(spark: SparkSession, out_dir: str, id_col: str) -> None:
    """The inverted anomaly: after failure+recovery, the transactional
    file sink must contain each id exactly once."""
    out = spark.read.parquet(out_dir)
    total = out.count()
    distinct = out.select(id_col).distinct().count()
    assert total == distinct, f"DUPLICATES after recovery: {total} rows, {distinct} distinct"


def count_foreach_side_effects(
    result: DataFrame, effect_dir: str
) -> int:
    """Drive a streaming DataFrame through a foreachBatch side-effecting
    sink that appends one marker file per row — the at-least-once path
    (a batch replayed after a crash re-runs its side effects; Spark
    matches Flink here, R1). Returns the number of side effects."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        for row in batch_df.collect():
            fname = os.path.join(effect_dir, f"effect_{epoch_id}_{os.urandom(4).hex()}")
            with open(fname, "w") as f:
                f.write(str(row))

    with tempfile.TemporaryDirectory(prefix="ckpt_fe_") as ckpt:
        q = (
            result.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return len(os.listdir(effect_dir))
