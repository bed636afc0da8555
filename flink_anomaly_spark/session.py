"""SparkSession factory tuned for this engine.

Local test profile is ``local[N]`` (single JVM), but every setting here
is chosen to also be correct on a large multi-executor cluster:

- AQE on (runtime coalescing, skew-join splitting, dynamic join
  strategy switch) — the primary defense against skew/mis-sized
  shuffles at 100 TB;
- shuffle partitions sized to cores locally; on a real cluster this
  would be ~2-3× total executor cores, and AQE coalesces down;
- UTC session timezone so timestamp semantics match the DuckDB oracle
  (DuckDB timestamps are UTC-naive);
- Arrow enabled for every pandas interchange (Pandas UDFs, toPandas).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def driver_memory() -> str:
    """``spark.driver.memory``: ``SPARK_GRAFT_DRIVER_MEM`` when set,
    else a quarter of physical memory capped at 16g, so a second Spark
    process (an oracle gate beside the tests) still fits on the host."""
    configured = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if configured:
        return configured
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{min(physical // 4, 16 << 30) >> 20}m"


def get_spark(
    app_name: str = "flink_anomaly_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's tuned config."""
    cpus = cpus or DEFAULT_CPUS
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.default.parallelism", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # AQE inside cached plans (default false): without it every
        # persist()ed subtree — the engine's shared-frame pattern
        # (minhash signatures, postings, token pairs) — executes with
        # AQE DISABLED: no partition coalescing, no skew splitting,
        # fixed shuffle.partitions. Scale-independent (the conf exists
        # for consumers that depend on cached output partitioning,
        # which this engine never does); measured at sf0.1:
        # allpairs 4.2->2.9 s, frequent_item_pairs 3.6->3.0 s,
        # winnowing 3.4->3.1 s, identical results (r12 optimization).
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def enable_rocksdb_state(spark: SparkSession) -> None:
    """Switch Structured Streaming state to the RocksDB provider —
    the at-scale choice (state spills to local disk instead of living
    on the executor heap; an HDFSBacked store OOMs once keyed state
    outgrows memory). Runtime conf: applies to queries started after
    the call. Verified available in this Spark build (tests)."""
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
