"""Round-13 optimization tests.

Covers the streaming state-partition sizing (measured in commit a897cb8): the
formula's clamps, and — the part that guards the bench's
integrity — that the shared runners RESTORE the session's shuffle
partitions after the streaming query drains, so later batch queries in
the same session never silently inherit a streaming-sized value.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from flink_anomaly_spark.streaming import pipelines as P

SF_SMOKE = "/root/testdata/sf0.001"


def test_state_partitions_formula_clamps(spark, monkeypatch):
    par = spark.sparkContext.defaultParallelism
    # no source built yet -> None (session conf untouched)
    monkeypatch.setattr(P, "_STREAM_SOURCE_BYTES", None)
    assert P.stream_state_partitions(spark) is None
    # tiny source -> the floor of 4 (1 partition over-serializes the
    # stateful stage; measured in commit a897cb8)
    monkeypatch.setattr(P, "_STREAM_SOURCE_BYTES", 10)
    assert P.stream_state_partitions(spark) == min(4, par) or (
        P.stream_state_partitions(spark) == 4
    )
    # huge source -> capped at cluster width
    monkeypatch.setattr(P, "_STREAM_SOURCE_BYTES", 100 * 1024**4)
    assert P.stream_state_partitions(spark) == par
    # mid-size source -> ceil(bytes / target)
    monkeypatch.setattr(
        P, "_STREAM_SOURCE_BYTES", 5 * P._STATE_PARTITION_TARGET_BYTES + 1
    )
    assert P.stream_state_partitions(spark) == max(4, min(par, 6))


def test_source_builders_record_bytes(spark, tmp_path):
    P.stream_events(spark, SF_SMOKE)
    expect = os.path.getsize(os.path.join(SF_SMOKE, "events.parquet"))
    assert P._STREAM_SOURCE_BYTES == expect


def test_run_to_memory_restores_session_shuffle_partitions(spark):
    key = "spark.sql.shuffle.partitions"
    before = spark.conf.get(key)
    events = P.stream_events(spark, SF_SMOKE)
    out = P.run_to_memory(P.windowed_count_stream(events))
    # the streaming query itself ran with the sized partition count,
    # but the session value must be back for subsequent batch queries
    assert spark.conf.get(key) == before
    assert out.count() > 0


def test_inline_literal_guards(spark):
    """r12 ADVICE fixes: the inline literal builders reject degenerate
    input loudly instead of silently emitting wrong literals — empty
    lists (every consumer iterates via F.sequence over the length, and
    an empty range yields a bogus descending [1,0]) and non-integer
    values in inline_int_array (str(int(v)) truncates where the F.lit
    form preserved the float)."""
    from flink_anomaly_spark.operators import similarity as S

    for bad_call in (
        lambda: S.inline_vector([]),
        lambda: S.inline_matrix([]),
        lambda: S.inline_int_array([]),
        lambda: S.inline_int_array([1, 2.5]),
        lambda: S.inline_int_array([1, float("inf")]),
        lambda: S.inline_int_array([float("nan")]),
    ):
        with pytest.raises(ValueError):
            bad_call()
    # integral floats keep the old F.lit semantics (pre-rounded
    # micro-unit values arrive as whole floats from some callers)
    row = spark.range(1).select(S.inline_int_array([7.0, -3]).alias("a")).first()
    assert list(row["a"]) == [7, -3]


def test_pagerank_degree_carry_matches_reference(spark):
    """r13 optimization: pagerank carries the static out-degree column
    through the per-iteration checkpoint instead of re-joining a
    persisted out-degree table every step. Guard the semantics against
    a pure-Python reference on a graph that exercises every branch:
    a dangling node (1 has no out-edges... use directed edges), an
    isolated node, and a 2-cycle."""
    from flink_anomaly_spark.operators.graph import pagerank

    # directed: 1->2, 2->3, 3->1 (cycle), 4->1 (4 has out-edges, 5
    # isolated => dangling: 5; also 6->6 excluded — keep it simple)
    edge_rows = [(1, 2), (2, 3), (3, 1), (4, 1)]
    edges = spark.createDataFrame(edge_rows, "src long, dst long")
    nodes = spark.createDataFrame([(i,) for i in range(1, 6)], "id long")
    got = {r.id: r.pr for r in pagerank(edges, nodes, iterations=3).collect()}

    # reference: same fixed-iteration update, dangling mass uniform
    d, n = 0.85, 5
    out_deg = {1: 1, 2: 1, 3: 1, 4: 1}
    pr = {i: 1.0 / n for i in range(1, 6)}
    for _ in range(3):
        dm = sum(p for i, p in pr.items() if i not in out_deg)
        contrib = {}
        for s, t in edge_rows:
            contrib[t] = contrib.get(t, 0.0) + pr[s] / out_deg[s]
        pr = {
            i: (1 - d) / n + d * (contrib.get(i, 0.0) + dm / n)
            for i in range(1, 6)
        }
    # compare with the UNROUNDED reference: Spark rounds half-up and
    # Python's round() half-to-even, so exact equality of two rounded
    # values can break on a tie; 5e-7 is the exact bound of rounding
    # to 6 places (plus 1e-12 of float slack)
    assert set(got) == set(pr)
    for i in pr:
        assert abs(got[i] - pr[i]) <= 5e-7 + 1e-12, (i, got[i], pr[i])
    # the carried out_deg column must not leak into the output schema
    assert set(
        pagerank(edges, nodes, iterations=1).columns
    ) == {"id", "pr"}


def test_streaming_result_identical_across_partition_counts(spark, monkeypatch):
    """State-partition count is an execution knob, not a semantic one:
    the windowed aggregation emits identical rows at 4 and at 11
    partitions (the guard that the r13 sizing can never change what a
    streaming query computes)."""
    events = P.stream_events(spark, SF_SMOKE)
    plan = P.windowed_count_stream(events)

    def rows(n):
        monkeypatch.setattr(P, "stream_state_partitions", lambda _spark: n)
        return sorted(
            map(tuple, P.run_to_memory(plan).collect()),
            key=lambda t: (str(t[0]), str(t[2])),
        )

    assert rows(4) == rows(11)
