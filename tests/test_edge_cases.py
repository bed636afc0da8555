"""Edge-case robustness: empty/whitespace/unicode text through the
text/dedup operators, and Spark↔DuckDB agreement on those inputs (the
oracle contract must hold on adversarial strings, not just the
synthetic corpus)."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from flink_anomaly_spark.operators.dedup import md5_int32, md5_long, shingles
from flink_anomaly_spark.operators.text import text_profile

EDGE_TEXTS = [
    (0, ""),
    (1, "   "),
    (2, "one"),
    (3, "exactly two"),
    (4, "tab\tand\nnewline separated tokens here"),
    (5, "ünïcödé wörds ünïcödé wörds again"),
    (6, "a a a a a a a a"),
    (7, "punctuation! only?? marks... %%% $$$"),
]


def test_text_profile_survives_edge_cases(spark):
    df = spark.createDataFrame(EDGE_TEXTS, "doc_id long, text string")
    rows = {r.doc_id: r for r in text_profile(df, "doc_id", "text").collect()}
    assert rows[0].n_tokens == 0 and rows[0].fingerprint == 0
    assert rows[1].n_tokens == 0
    assert rows[2].n_tokens == 1
    assert rows[4].n_tokens == 6  # tab/newline are \s
    assert all(0.0 <= r.quality <= 1.0 for r in rows.values())


def test_md5_hashes_agree_with_duckdb_on_unicode(spark):
    """md5-derived hashing must match DuckDB byte-for-byte on unicode
    (both hash UTF-8 bytes)."""
    df = spark.createDataFrame(EDGE_TEXTS, "doc_id long, text string")
    got = {
        r.doc_id: (r.h32, r.h60)
        for r in df.select(
            "doc_id",
            md5_int32(F.col("text")).alias("h32"),
            md5_long(F.col("text")).alias("h60"),
        ).collect()
    }
    con = duckdb.connect()
    for doc_id, text in EDGE_TEXTS:
        h32, h60 = con.execute(
            "SELECT CAST(('0x' || substr(md5(?),1,8)) AS BIGINT),"
            "       CAST(('0x' || substr(md5(?),1,15)) AS BIGINT)",
            [text, text],
        ).fetchone()
        assert got[doc_id] == (h32, h60), f"md5 mismatch on {text!r}"


def test_shingles_edge_cases(spark):
    df = spark.createDataFrame(EDGE_TEXTS, "doc_id long, text string")
    got = {r.doc_id: r.sh for r in df.select("doc_id", shingles(F.col("text"), 3).alias("sh")).collect()}
    assert got[0] == [""]  # empty text → single empty shingle
    assert got[1] == [""]  # whitespace-only → same
    assert got[2] == ["one"]
    assert got[3] == ["exactly two"]
    assert got[6] == ["a a a"] * 6  # repeated tokens keep duplicates pre-distinct


def test_text_profile_oracle_agreement_on_edges(spark):
    """Run the text_profile computation AND its DuckDB oracle over the
    edge strings — the full oracle contract on adversarial input."""
    from flink_anomaly_spark.plans.registry import QUERIES, _load_all

    _load_all()
    oracle_sql = QUERIES["text_profile"].oracle
    df = spark.createDataFrame(EDGE_TEXTS, "doc_id long, text string")
    spark_rows = {
        r.doc_id: (r.n_tokens, r.n_subwords, r.n_chars_computed, r.quality, r.lang_guess, r.fingerprint)
        for r in text_profile(df, "doc_id", "text").collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES " +
                ",".join(f"({i}, ?)" for i, _ in EDGE_TEXTS) + ") t(doc_id, text)",
                [t for _, t in EDGE_TEXTS])
    def canon(t):
        # fetchall yields Decimal for round() of DECIMAL arithmetic; the
        # gate's fetchdf converts to float64 — mirror that here
        return tuple(float(v) if type(v).__name__ == "Decimal" else v for v in t)

    duck_rows = {
        r[0]: canon(r[1:])
        for r in con.execute(oracle_sql).fetchall()
    }
    for doc_id in spark_rows:
        s, d = canon(spark_rows[doc_id]), duck_rows[doc_id]
        assert s == d, f"doc {doc_id}: spark {s} != duck {d}"


# ---------------------------------------------------------------------------
# Round-2 regression tests (review findings; see commit b04c304)
# ---------------------------------------------------------------------------


def test_zscore_degenerate_all_equal_key_matches_oracle(spark):
    """A key whose values are all equal has stddev 0. Spark double x/0
    and DuckDB x/0 disagree (NULL vs ±inf), so both sides must exclude
    degenerate groups explicitly — verified here against DuckDB running
    the registered oracle's exact guard on the same rows."""
    from flink_anomaly_spark.operators.anomaly import zscore_outliers

    rows = [(i, "flat", 5.0) for i in range(6)] + [
        (10, "varied", 1.0), (11, "varied", 1.0), (12, "varied", 1.0),
        (13, "varied", 1.0), (14, "varied", 100.0),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id string, value double")
    got = zscore_outliers(df, key="user_id", value_col="value", threshold=2.0)
    got_ids = sorted(r.event_id for r in got.collect())

    con = duckdb.connect()
    con.register("ev", df.toPandas())
    want_ids = sorted(
        r[0]
        for r in con.execute(
            """
            SELECT event_id FROM (
              SELECT event_id,
                     round((value - avg(value) OVER (PARTITION BY user_id))
                           / nullif(stddev_samp(value) OVER (PARTITION BY user_id), 0), 4) AS z
              FROM ev) t WHERE abs(z) > 2.0
            """
        ).fetchall()
    )
    # no crash, no inf-kept rows: the flat key contributes nothing
    assert got_ids == want_ids
    assert all(i >= 10 for i in got_ids)


def test_rolling_zscore_degenerate_window_excluded(spark):
    """Trailing window of identical values (std = 0) must yield no
    outlier row even when the current value differs wildly."""
    from flink_anomaly_spark.operators.anomaly import rolling_zscore_outliers

    rows = [(i, "u", float(i), 5.0) for i in range(8)] + [(8, "u", 8.0, 500.0)]
    df = spark.createDataFrame(rows, "event_id long, user_id string, ts double, value double")
    out = rolling_zscore_outliers(
        df, key="user_id", order_cols=["ts", "event_id"], value_col="value",
        lookback_rows=20, threshold=2.5,
    )
    assert out.count() == 0  # divisor NULL → dropped, never ±inf → kept


def test_minhash_bands_must_divide_num_perm(spark):
    from flink_anomaly_spark.operators.dedup import minhash_near_dup_pairs

    df = spark.createDataFrame([(1, "a b c")], "id long, text string")
    with pytest.raises(ValueError, match="divisible"):
        minhash_near_dup_pairs(df, "id", "text", num_perm=8, bands=3)


def test_interval_self_join_pre_1970_timestamps(spark):
    """Negative unix micros: truncation-based bucketing assigns rows
    near a negative boundary to the wrong bucket and silently drops
    qualifying pairs; floor-based bucketing must find all of them."""
    from flink_anomaly_spark.operators.relational import interval_self_join

    # pairs straddling the -1/0 bucket boundary (gap 600s)
    rows = [
        (1, "k", "1969-12-31 23:55:00"),
        (2, "k", "1969-12-31 23:59:30"),
        (3, "k", "1970-01-01 00:04:00"),
        (4, "k", "1968-06-01 00:00:01"),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id string, s string").select(
        "event_id", "user_id", F.col("s").cast("timestamp").alias("ts")
    )
    out = interval_self_join(df, key="user_id", ts_col="ts", id_col="event_id", max_gap_seconds=600)
    pairs = sorted((r.id1, r.id2) for r in out.collect())
    # brute-force expectation: all ordered pairs with 0 < gap <= 600s
    want = [(1, 2), (1, 3), (2, 3)]
    assert pairs == want


def test_release_cached_unpersists_dedup_intermediates(spark):
    from flink_anomaly_spark.operators.dedup import minhash_near_dup_pairs
    from flink_anomaly_spark.resources import release_cached

    df = spark.createDataFrame(
        [(i, f"w{i} common text body shared") for i in range(20)], "id long, text string"
    )
    minhash_near_dup_pairs(df, "id", "text").count()
    assert release_cached() >= 1
    # idempotent: second call has nothing left to release
    assert release_cached() == 0
