"""Tests for the scale utilities (salting, bucketing, SQL surface)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_anomaly_spark.functions.registry import sql
from flink_anomaly_spark.partitioning import (
    salted_group_agg,
    salted_join_hot_keys,
    write_bucketed,
)
from flink_anomaly_spark.plans.contracts import physical_plan
from flink_anomaly_spark.tables import load_table
from tests.conftest import SF_SMOKE


def test_salted_agg_matches_plain(spark):
    events = load_table(spark, SF_SMOKE, "events")
    plain = {
        (r.event_type): (r.n, round(r.s, 2))
        for r in events.groupBy("event_type")
        .agg(F.count("*").alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    salted = {
        (r.event_type): (r.n, round(r.s, 2))
        for r in salted_group_agg(
            events, "event_type", {"n": "count(*)", "s": "sum(value)"}
        ).collect()
    }
    assert plain == salted


def test_salted_agg_rejects_nonalgebraic(spark):
    events = load_table(spark, SF_SMOKE, "events")
    with pytest.raises(ValueError):
        salted_group_agg(events, "event_type", {"a": "avg(value)"})


def test_salted_join_matches_plain(spark):
    events = load_table(spark, SF_SMOKE, "events").select("event_id", "user_id")
    users = (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id")
        .distinct()
        .withColumn("tag", F.col("user_id") * 10)
    )
    plain = set(
        (r.event_id, r.tag) for r in events.join(users, "user_id").collect()
    )
    salted = set(
        (r.event_id, r.tag)
        for r in salted_join_hot_keys(events, users, "user_id", hot_keys=[1, 2]).collect()
    )
    assert plain == salted


@pytest.mark.parametrize(
    "salt",
    [
        lambda ev, users: salted_group_agg(ev, "event_type", {"n": "count(*)"}),
        lambda ev, users: salted_join_hot_keys(ev, users, "user_id", hot_keys=[1, 2]),
    ],
    ids=["group_agg", "join_hot_keys"],
)
def test_salted_plans_are_deterministic(spark, salt):
    """A salt drawn from the row's content, not a random generator,
    keeps the optimized plan deterministic: a retried task recomputes
    the same salt, so Spark need not re-run the whole stage."""
    events = load_table(spark, SF_SMOKE, "events")
    users = events.select("user_id").distinct()
    df = salt(events, users)
    assert df._jdf.queryExecution().optimizedPlan().deterministic()


def test_bucketed_join_no_shuffle(spark, tmp_path):
    """Joining two tables bucketed on the same key must not add a
    shuffle on the bucketed side (the Exchange disappears)."""
    # spark.sql.warehouse.dir is a static conf: tables land in the
    # default ./spark-warehouse (gitignored). The in-memory catalog
    # forgets tables between sessions but leaves directories behind —
    # clear them or saveAsTable fails with LOCATION_ALREADY_EXISTS.
    import shutil
    from urllib.parse import urlparse

    wh = urlparse(spark.conf.get("spark.sql.warehouse.dir")).path
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(os.path.join(wh, t), ignore_errors=True)
    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    write_bucketed(orders, "b_orders", "o_orderkey", n_buckets=8)
    write_bucketed(li.withColumnRenamed("l_orderkey", "o_orderkey"), "b_lineitem", "o_orderkey", n_buckets=8)
    # at smoke scale Catalyst would broadcast (bucketing bypassed);
    # disable auto-broadcast to expose the big-big join path bucketing
    # exists for
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        j = spark.table("b_orders").join(spark.table("b_lineitem"), "o_orderkey")
        plan = physical_plan(j)
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_cogroup_surface(spark):
    """groupBy().cogroup() applyInPandas — the two-sided grouped-map
    surface (per-key pandas join of two datasets without a Spark-side
    join)."""
    import pandas as pd

    events = load_table(spark, SF_SMOKE, "events")
    early = events.filter(F.col("value") < 250).select("user_id", "value")
    late = events.filter(F.col("value") >= 250).select("user_id", "value")

    def summarize(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        uid = l["user_id"].iloc[0] if len(l) else r["user_id"].iloc[0]
        return pd.DataFrame(
            {"user_id": [uid], "n_low": [len(l)], "n_high": [len(r)]}
        )

    got = {
        r.user_id: (r.n_low, r.n_high)
        for r in early.groupBy("user_id")
        .cogroup(late.groupBy("user_id"))
        .applyInPandas(summarize, "user_id long, n_low long, n_high long")
        .collect()
    }
    expect_low = {r.user_id: r.n for r in early.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    expect_high = {r.user_id: r.n for r in late.groupBy("user_id").agg(F.count("*").alias("n")).collect()}
    for uid, (nl, nh) in got.items():
        assert nl == expect_low.get(uid, 0)
        assert nh == expect_high.get(uid, 0)


def test_aqe_splits_skewed_join(spark):
    """AQE must detect and split a skewed join partition at runtime
    (SortMergeJoin(skew=true)) — the engine's first line of defense
    against hot keys at 100 TB. Thresholds lowered so the 200k-row
    fixture crosses them; the mechanism is identical at scale."""
    from flink_anomaly_spark.plans.contracts import physical_plan

    confs = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        fact = spark.range(200000).select(
            F.when(F.col("id") % 10 != 0, 0).otherwise(F.col("id")).alias("k"),
            F.col("id").alias("payload"),
        )
        dim = spark.range(20000).select(F.col("id").alias("k"), (F.col("id") * 2).alias("v"))
        j = fact.join(dim, "k")
        j.collect()
        plan = physical_plan(j)
        assert "skew=true" in plan, f"AQE did not split the skewed join:\n{plan[:2000]}"
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_sql_text_interface(spark):
    out = sql(
        spark,
        SF_SMOKE,
        """
        SELECT event_type, count(*) AS n, engine_simhash60(max(props)) AS h
        FROM events GROUP BY event_type
        """,
    )
    rows = out.collect()
    assert len(rows) == 5
    assert all(r.h is not None for r in rows)


def test_sql_registers_udfs_once_per_session(spark, monkeypatch):
    """``sql()`` registers the engine UDFs once per session: a second
    call leaves them registered as they are, and a new session, which
    does not see the first one's functions, registers its own."""
    from pyspark.sql.udf import UDFRegistration

    sql(spark, SF_SMOKE, "SELECT 1")
    registered = []
    real = UDFRegistration.register

    def counting(self, name, f, *args, **kwargs):
        registered.append(name)
        return real(self, name, f, *args, **kwargs)

    monkeypatch.setattr(UDFRegistration, "register", counting)
    sql(spark, SF_SMOKE, "SELECT 1")
    assert registered == []
    fresh = spark.newSession()
    assert not fresh.catalog.functionExists("engine_quality_score")
    out = sql(fresh, SF_SMOKE, "SELECT engine_quality_score('the cat sat') AS q").collect()
    assert registered == ["engine_simhash60", "engine_quality_score"]
    assert out[0].q is not None


def test_grouped_udaf_weighted_mean(spark):
    import warnings

    import pandas as pd

    from flink_anomaly_spark.functions.registry import grouped_udaf

    events = load_table(spark, SF_SMOKE, "events")

    def weighted_mean(key, pdf: pd.DataFrame) -> pd.DataFrame:
        w = pdf["user_id"] + 1
        return pd.DataFrame(
            {"event_type": [key[0]], "wmean": [round((pdf["value"] * w).sum() / w.sum(), 4)]}
        )

    # the wrapper's type hints must be complete: an unannotated
    # parameter makes pyspark warn that it cannot infer the eval type
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        udaf = grouped_udaf(events, "event_type", weighted_mean, "event_type string, wmean double")
    got = {r.event_type: r.wmean for r in udaf.collect()}
    assert len(got) == 5
    # cross-check one group in plain pandas
    pdf = events.filter(F.col("event_type") == "click").select("user_id", "value").toPandas()
    w = pdf["user_id"] + 1
    assert got["click"] == round((pdf["value"] * w).sum() / w.sum(), 4)


def test_udtf_explode_ngrams(spark):
    from flink_anomaly_spark.functions.registry import register_udtfs

    register_udtfs(spark)
    rows = spark.sql(
        "SELECT * FROM explode_ngrams('the quick brown fox', 2)"
    ).collect()
    assert [(r.ngram, r.pos) for r in rows] == [
        ("the quick", 0),
        ("quick brown", 1),
        ("brown fox", 2),
    ]


def test_sql_quality_udf(spark):
    out = sql(
        spark,
        SF_SMOKE,
        "SELECT doc_id, engine_quality_score(text) AS q FROM documents LIMIT 10",
    )
    rows = out.collect()
    assert all(0.0 <= r.q <= 1.0 for r in rows)
