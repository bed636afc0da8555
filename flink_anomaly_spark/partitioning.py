"""Partitioning strategies for scale: skew salting and bucketing.

AQE (enabled in session.py) handles most skew at runtime
(skewJoin splitting, partition coalescing); these helpers cover the
cases AQE can't: aggregation skew (one hot group key) and repeated
co-located joins (bucketed tables).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Ensure at least ``min_partitions`` input splits for a CPU-bound
    per-row stage — WITHOUT shuffling inputs that are already split.

    A single small parquet file arrives as ONE split, serializing
    per-row CPU work (shingling, hashing, pandas UDFs) into one task; a
    round-robin repartition fixes that locally. But at 100 TB the scan
    already yields thousands of splits, and an unconditional
    ``repartition(par)`` would inject a full shuffle of the corpus in
    front of an otherwise narrow pipeline. So: repartition ONLY when the
    current split count is below the target; otherwise return the input
    unchanged (plan-contract-tested in test_plan_contracts.py).

    ``df.rdd.getNumPartitions()`` costs one driver-side physical
    planning pass, no job.
    """
    par = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() >= par:
        return df
    return df.repartition(par)


def _row_salt(df: DataFrame, n_salts: int):
    """Salt in ``[0, n_salts)`` derived from the row's content, not a
    random draw: a retried task recomputes the same salt for the same
    row, so the salted stage stays deterministic and a fetch failure
    re-runs only the lost tasks, not the whole stage.

    The hash covers every column of ``df``, so a hot key spreads only
    as far as its rows differ beyond the key: rows identical in all
    columns (a frame holding only the key) all get one salt."""
    return F.pmod(F.xxhash64(*df.columns), F.lit(n_salts)).cast("int")


def salted_group_agg(
    df: DataFrame,
    key: str,
    agg_exprs: dict[str, str],
    n_salts: int = 16,
) -> DataFrame:
    """Two-phase aggregation for a skewed group key.

    Phase 1 groups on (key, salt) — the hot key's rows spread across
    ``n_salts`` reducers; phase 2 merges the partials per key. Only
    algebraic aggregates (sum/count/min/max) are supported — exactly the
    set that re-aggregates losslessly. The salt is a hash of the whole
    row (``_row_salt``), so the spread needs rows that differ beyond
    ``key``.

    ``agg_exprs``: {output_col: "sum(col)" | "count(*)" | "min(col)" |
    "max(col)"}.
    """
    salt = _row_salt(df, n_salts)
    phase1_aggs, phase2_aggs = [], []
    for out, expr in agg_exprs.items():
        fn, _, arg = expr.partition("(")
        arg = arg.rstrip(")")
        fn = fn.strip().lower()
        if fn == "count":
            if arg.strip() != "*":
                # count(col) skips nulls — re-aggregating per-salt counts
                # of '*' would silently count them; support it explicitly
                phase1_aggs.append(F.count(arg).alias(f"__p_{out}"))
            else:
                phase1_aggs.append(F.count("*").alias(f"__p_{out}"))
            phase2_aggs.append(F.sum(f"__p_{out}").alias(out))
        elif fn == "sum":
            phase1_aggs.append(F.sum(arg).alias(f"__p_{out}"))
            phase2_aggs.append(F.sum(f"__p_{out}").alias(out))
        elif fn == "min":
            phase1_aggs.append(F.min(arg).alias(f"__p_{out}"))
            phase2_aggs.append(F.min(f"__p_{out}").alias(out))
        elif fn == "max":
            phase1_aggs.append(F.max(arg).alias(f"__p_{out}"))
            phase2_aggs.append(F.max(f"__p_{out}").alias(out))
        else:
            raise ValueError(f"non-algebraic aggregate {expr!r} cannot be salted")
    partial = df.withColumn("__salt", salt).groupBy(key, "__salt").agg(*phase1_aggs)
    return partial.groupBy(key).agg(*phase2_aggs)


def salted_join_hot_keys(
    fact: DataFrame,
    dim: DataFrame,
    key: str,
    hot_keys: list,
    n_salts: int = 16,
) -> DataFrame:
    """Manual skew-join salting (for engines/paths where AQE skew
    handling is unavailable, e.g. some streaming joins): explode the dim
    side's hot keys into n_salts replicas, salt the fact side's hot
    rows from a hash of their content (``_row_salt``; the spread needs
    fact rows that differ beyond ``key``), equi-join on (key, salt).
    """
    hot = F.col(key).isin(hot_keys)
    fact_salted = fact.withColumn(
        "__salt", F.when(hot, _row_salt(fact, n_salts)).otherwise(F.lit(0))
    )
    dim_salted = dim.withColumn(
        "__salt",
        F.explode(
            F.when(hot, F.sequence(F.lit(0), F.lit(n_salts - 1))).otherwise(F.array(F.lit(0)))
        ),
    )
    return fact_salted.join(dim_salted, [key, "__salt"]).drop("__salt")


def write_bucketed(
    df: DataFrame, table: str, key: str, n_buckets: int = 32, sort_by: str | None = None
) -> None:
    """Persist a table bucketed (and optionally sorted) by the join key:
    later equi-joins/aggregations on ``key`` between same-bucketed
    tables need NO shuffle — the 100 TB answer to repeated fact-fact
    joins."""
    writer = df.write.mode("overwrite").bucketBy(n_buckets, key)
    if sort_by:
        writer = writer.sortBy(sort_by)
    writer.saveAsTable(table)
