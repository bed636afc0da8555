"""Catalog: the driver's deterministic parquet tables (TESTDATA.md).

``spark.read.parquet`` gives vectorized scans with predicate pushdown
and column pruning for free — at 100 TB these scans are partition-pruned
and column-pruned by Catalyst as long as downstream code stays in the
DataFrame API (it does).

Schema inference reads the parquet footer in a Spark job (~80 ms), so
each table file's schema is inferred once and memoized by the file's
identity ``(path, mtime_ns, size)`` (:func:`resources.file_memo`); a
rewritten file is inferred again. Later loads pass the schema to
``spark.read.schema(...)`` and run no job until their own action.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_anomaly_spark.resources import file_memo

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


#: columns stored as parquet TIMESTAMP(NANOS), which Spark's vectorized
#: reader rejects. We read them as int64 nanos and truncate to µs —
#: exactly what DuckDB does when it casts TIMESTAMP_NS → TIMESTAMP, so
#: engine and oracle agree to the microsecond.
_NANOS_TS_COLS = {"events": ["ts"]}


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one catalog table.

    SIDE EFFECT (documented, deliberate): loading a nanos-timestamp
    table sets ``spark.sql.legacy.parquet.nanosAsLong`` and pins the
    session timezone to UTC — required so the driver's own (unconfigured)
    SparkSession reads events identically to the DuckDB oracle. The
    engine standardizes on UTC everywhere (session.get_spark does the
    same); callers needing a non-UTC session TZ should not mix it with
    this catalog.

    The schema of a table stored as one regular file is inferred on the
    first load only and reused while the file keeps its ``(mtime_ns,
    size)``; the memo is not per session, because no code sets a conf
    that changes parquet schema inference except ``nanosAsLong``, which
    is set here before every lookup. A directory table is inferred on
    every call (its mtime does not follow the files inside it).
    """
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; known: {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    nanos_cols = _NANOS_TS_COLS.get(name, [])
    if nanos_cols:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        # timestamp_micros() builds a session-TZ timestamp; pin UTC so
        # the value equals DuckDB's TZ-naive reading in any environment
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        df = _read(spark, name, path)
        types = dict(df.dtypes)
        for c in nanos_cols:
            # only convert when the column actually read as int64 nanos —
            # re-written copies of the table already carry µs timestamps
            if types.get(c) == "bigint":
                df = df.withColumn(c, F.timestamp_micros(F.expr(f"{c} div 1000")))
        return df
    return _read(spark, name, path)


def _read(spark: SparkSession, name: str, path: str) -> DataFrame:
    if not os.path.isfile(path):
        return spark.read.parquet(path)
    schema = file_memo(f"parquet_schema:{name}", path, lambda: spark.read.parquet(path).schema)
    return spark.read.schema(schema).parquet(path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLE_NAMES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view (for the SQL API surface)."""
    tables = load_tables(spark, sf_dir)
    for name, df in tables.items():
        df.createOrReplaceTempView(name)
    return tables
