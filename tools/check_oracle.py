"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet tables, compares row count, column names,
and an order-insensitive value hash. Usage:

    python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import sys
import time

import duckdb

sys.path.insert(0, ".")

from flink_anomaly_spark.resources import release_cached
from flink_anomaly_spark.session import get_spark
from flink_anomaly_spark.tables import TABLE_NAMES

import __spark_entry__ as entrymod


def _canon(v):
    import datetime

    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or (isinstance(v, float) and v != v):
        return "NULL"
    if isinstance(v, (np.integer, int)) and not isinstance(v, bool):
        return str(int(v))
    if isinstance(v, (np.floating, float)):
        # repr() keeps the int/float distinction ("32.0", not "32"): the
        # driver's canonicalizer distinguishes bigint 32 from float 32.0,
        # and the old "%.12g" collapsed exactly that — which is how the
        # round-3 doc_repetition_profile oracle type bug passed the local
        # gate yet failed the driver. repr(float) is also shortest-
        # round-trip exact, strictly finer than 12 significant digits.
        return repr(float(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return pd.Timestamp(v).isoformat()
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    return str(v)


def normalize(df) -> tuple[int, list[str], int]:
    """(row_count, sorted cols, order-insensitive value hash)."""
    import pandas as pd

    pdf = df if isinstance(df, pd.DataFrame) else df.toPandas()
    cols = sorted(pdf.columns)
    pdf = pdf[cols]
    # The driver's canonicalizer pandas-sorts over all columns and
    # crashes on unhashable list cells (round-1 multimodal_features
    # failure) — replicate that strictness so the local gate catches
    # array-typed output columns before the driver does.
    for c in cols:
        bad = pdf[c].map(
            lambda v: isinstance(v, (list, tuple)) or getattr(v, "ndim", 0) > 0
        )
        if bad.any():
            raise TypeError(
                f"column {c!r} contains list/array cells — driver canonicalizer "
                "cannot hash these; emit a sortable scalar (CSV string / exploded rows)"
            )
    rows = []
    for tup in pdf.itertuples(index=False):
        rows.append(tuple(_canon(v) for v in tup))
    return len(pdf), cols, hash(tuple(sorted(rows)))


def main() -> int:
    import os

    args = sys.argv[1:]
    plain = "--plain" in args
    args = [a for a in args if a != "--plain"]
    sf_dir = args[0] if args and os.path.isdir(args[0]) else "/root/testdata/sf0.01"
    only = [a for a in args if not os.path.isdir(a)]

    if plain:
        # driver-sim: a VANILLA session (no tuned config — not our UTC
        # timezone, 200 shuffle partitions, default broadcast
        # threshold). Every query must still hash-match its oracle, or
        # it silently depends on session config the driver won't have.
        from pyspark.sql import SparkSession

        spark = SparkSession.builder.master("local[32]").appName("oracle-check-plain").getOrCreate()
    else:
        spark = get_spark("oracle-check")
    import tempfile as _tf

    spill_dir = _tf.mkdtemp(prefix="duck_spill_")

    def fresh_con():
        """One DuckDB connection PER ORACLE (round-8 hardening): a
        single shared connection let the dedup_clusters recursive-CTE
        oracle balloon the buffer manager toward the limit, after which
        a later small allocation died ("Failed to allocate block of
        16384 bytes") and — under a tighter cap — the process
        segfaulted. Views are cheap to recreate; full isolation is the
        robust fix. 48GB bounds the reachability CTE while leaving the
        Spark heap headroom on a 128GB box."""
        c = duckdb.connect()
        c.execute("SET memory_limit='48GB'")
        c.execute(f"SET temp_directory='{spill_dir}'")
        for t in TABLE_NAMES:
            c.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        return c

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    unknown = [n for n in only if n not in qs]
    if unknown:
        print(f"ERROR: unknown query name(s): {unknown}")
        return 2
    failures = 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        release_cached()  # previous query's persisted intermediates
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_n, s_cols, s_hash = normalize(sdf)
        except Exception as e:
            print(f"FAIL {name}: spark error: {e}")
            failures += 1
            continue
        if name not in oracles:
            print(f"OK?  {name}: rows-only ({s_n} rows, no oracle) [{time.time()-t0:.1f}s]")
            continue
        try:
            con = fresh_con()
            try:
                odf = con.execute(oracles[name]).fetchdf()
            finally:
                con.close()
            o_n, o_cols, o_hash = normalize(odf)
        except Exception as e:
            print(f"FAIL {name}: oracle error: {e}")
            failures += 1
            continue
        status = []
        if s_n != o_n:
            status.append(f"rows {s_n}!={o_n}")
        if s_cols != o_cols:
            status.append(f"cols {s_cols}!={o_cols}")
        if s_hash != o_hash and s_n == o_n and s_cols == o_cols:
            status.append("value-hash mismatch")
        if status:
            print(f"FAIL {name}: {'; '.join(status)} [{time.time()-t0:.1f}s]")
            failures += 1
        else:
            print(f"PASS {name}: {s_n} rows [{time.time()-t0:.1f}s]")
    print(f"\n{'ALL PASS' if failures == 0 else f'{failures} FAILURES'}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
