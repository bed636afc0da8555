"""Streaming surface tests: watermark windows, stateful concat,
file round-trip, failure/recovery (the reference's test classes
transposed — SURVEY §5)."""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import functions as F

from flink_anomaly_spark.streaming.pipelines import (
    run_to_memory,
    stream_events,
    stream_text_roundtrip,
    windowed_argmax_stream,
    windowed_count_stream,
)
from flink_anomaly_spark.streaming.recovery import (
    assert_exactly_once_file_sink,
    count_foreach_side_effects,
    make_failing_filter,
    run_file_sink_with_restarts,
)
from flink_anomaly_spark.streaming.stateful import running_concat_stream
from flink_anomaly_spark.tables import load_table
from tests.conftest import SF_SMOKE


def test_streaming_window_count_matches_batch(spark):
    """Streaming windowed agg in append mode emits exactly the windows
    the watermark finalized: those with end ≤ max_event_time − 20 s.
    (Flink flushes ALL windows at source exhaustion; Spark's
    availableNow leaves the trailing windows open — a documented
    semantic difference, SURVEY §7.4.)"""
    got = run_to_memory(windowed_count_stream(stream_events(spark, SF_SMOKE)))
    events = load_table(spark, SF_SMOKE, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    batch = (
        events.groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .filter(F.col("win.end") <= F.lit(max_ts) - F.expr("INTERVAL 20 SECONDS"))
    )
    s = {tuple(r) for r in got.collect()}
    b = {
        (r.win.start, r.win.end, r.event_type, r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert s == b
    assert len(s) > 0


def test_final_flush_emits_all_windows(spark, tmp_path):
    """End-of-stream flush parity: with the sentinel source the
    streaming windowed agg emits EVERY window — including the trailing
    one plain append mode drops — and equals the batch query exactly,
    with no sentinel artifacts in the output."""
    from flink_anomaly_spark.streaming.pipelines import stream_events_with_final_flush

    events = stream_events_with_final_flush(spark, SF_SMOKE, str(tmp_path / "eos"))
    got = run_to_memory(windowed_count_stream(events))
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    s = {tuple(r) for r in got.collect()}
    b = {
        (r.win.start, r.win.end, r.event_type, r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert s == b
    assert not any("__eos__" in str(row) for row in s)
    # and it strictly extends the plain append-mode result (the trailing
    # window that motivated the helper really was missing before)
    plain = run_to_memory(windowed_count_stream(stream_events(spark, SF_SMOKE)))
    assert plain.count() < got.count()


def test_final_flush_three_element_fixture(spark, tmp_path):
    """Mirror of the reference's testPrintWindowed fixture
    (TestFlinkStreams.java:62-83): three timestamped elements, tumbling
    windows, whole-record maxBy — Flink emits BOTH windows because the
    bounded source flushes at exhaustion; the sentinel source must
    reproduce that, trailing window included."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from flink_anomaly_spark.streaming.pipelines import stream_events_with_final_flush

    sf_dir = tmp_path / "fixture_sf"
    sf_dir.mkdir()
    base = 1_700_000_000_000_000  # µs epoch
    hour = 3_600_000_000
    # two events in hour-window 0 (values 1.0 < 5.0), one in window 1 —
    # the reference's 3-element shape: the LAST window only ever emits
    # because of the end-of-stream flush
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2, 3], pa.int64()),
            "ts": pa.array([base, base + 60_000_000, base + hour], pa.timestamp("us")),
            "user_id": pa.array([10, 11, 12], pa.int64()),
            "event_type": pa.array(["a", "a", "b"], pa.string()),
            "value": pa.array([1.0, 5.0, 3.0], pa.float64()),
            "props": pa.array([None, None, None], pa.string()),
        }
    )
    pq.write_table(tbl, str(sf_dir / "events.parquet"))

    events = stream_events_with_final_flush(spark, str(sf_dir), str(tmp_path / "eos3"))
    got = run_to_memory(windowed_argmax_stream(events))
    rows = sorted(got.collect(), key=lambda r: r.window_start)
    assert len(rows) == 2  # plain append mode would emit 0 windows here
    assert rows[0].event_id == 2 and rows[0].value == 5.0  # maxBy window 0
    assert rows[1].event_id == 3 and rows[1].value == 3.0  # the trailing window


def test_streaming_argmax_runs(spark):
    out = run_to_memory(windowed_argmax_stream(stream_events(spark, SF_SMOKE)))
    events = load_table(spark, SF_SMOKE, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    n_finalized = (
        events.select(F.window("ts", "1 hour").alias("win"))
        .distinct()
        .filter(F.col("win.end") <= F.lit(max_ts) - F.expr("INTERVAL 20 SECONDS"))
        .count()
    )
    assert out.count() == n_finalized


def test_streaming_running_concat_state(spark):
    """F1 live: every input row yields one output row; the longest
    prefix per key is the full concatenation."""
    out = run_to_memory(running_concat_stream(stream_events(spark, SF_SMOKE))).cache()
    n_events = load_table(spark, SF_SMOKE, "events").count()
    assert out.count() == n_events
    # per key, there must be exactly one row whose prefix contains all ids
    per_key = out.groupBy("key").agg(
        F.count("*").alias("n"),
        F.max(F.length("running_concat")).alias("maxlen"),
    )
    for r in per_key.collect():
        longest = (
            out.filter((F.col("key") == r.key) & (F.length("running_concat") == r.maxlen))
            .collect()[0]
            .running_concat
        )
        assert len(longest.split(",")) == r.n


def test_watermark_drops_late_data(spark, tmp_path):
    """W1 semantics check: an event arriving in a later micro-batch,
    with event time older than (watermark = max_ts − 20 s), must NOT
    update its (already finalized) window."""
    import datetime as dt

    import uuid

    src = str(tmp_path / "src")
    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    batch1 = [
        (1, t0, 1, "a", 1.0, ""),
        (2, t0 + dt.timedelta(minutes=30), 1, "a", 1.0, ""),  # watermark → 00:29:40
    ]
    late = [(3, t0 + dt.timedelta(seconds=5), 1, "a", 1.0, "")]  # ~30 min late
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    spark.createDataFrame(batch1, schema).coalesce(1).write.mode("append").parquet(src)

    name = f"wm_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.schema(schema)
        .parquet(src)
        .withWatermark("ts", "20 seconds")
        .groupBy(F.window("ts", "5 minutes").alias("win"))
        .agg(F.count("*").alias("n"))
    )
    q = (
        stream.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .start()
    )
    try:
        q.processAllAvailable()  # batch 1 ingested; watermark commits at batch end
        q.processAllAvailable()  # empty batch: watermark now 00:29:40
        spark.createDataFrame(late, schema).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()  # late row arrives AFTER the watermark advanced
    finally:
        q.stop()
    rows = spark.table(name).collect()
    # the late event (same 5-min window as event 1) must have been
    # dropped: NO update row for that window may ever exceed n=1
    # (a dict-last-wins check could false-pass on sink row ordering)
    t0_counts = [r.n for r in rows if r.win.start == t0]
    assert t0_counts and max(t0_counts) == 1, rows


def test_streaming_sliding_and_session_windows(spark):
    """Live twins of the sliding/session batch queries: finalized
    windows must be a subset of the batch result, non-empty."""
    from flink_anomaly_spark.streaming.pipelines import (
        session_count_stream,
        sliding_count_stream,
    )

    slid = run_to_memory(sliding_count_stream(stream_events(spark, SF_SMOKE)))
    assert slid.count() > 0
    batch_windows = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("win"))
        .agg(F.count("*").alias("n_events"))
    )
    got = {(r.window_start, r.window_end, r.n_events) for r in slid.collect()}
    expect = {(r.win.start, r.win.end, r.n_events) for r in batch_windows.collect()}
    assert got <= expect

    sess = run_to_memory(session_count_stream(stream_events(spark, SF_SMOKE)))
    assert sess.count() > 0
    assert set(sess.columns) == {"window_start", "window_end", "user_id", "n_events"}


def test_streaming_dedup_drops_repeats(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicate event_ids arriving
    within the watermark horizon collapse to one row."""
    import datetime as dt

    from flink_anomaly_spark.streaming.pipelines import run_to_memory, streaming_dedup

    src = str(tmp_path / "dup_src")
    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    rows = [
        (1, t0, 1, "a", 1.0, ""),
        (1, t0 + dt.timedelta(seconds=1), 1, "a", 1.0, ""),  # dup id within horizon
        (2, t0 + dt.timedelta(seconds=2), 1, "a", 1.0, ""),
        (2, t0 + dt.timedelta(seconds=3), 1, "a", 1.0, ""),  # dup
        (3, t0 + dt.timedelta(seconds=4), 1, "a", 1.0, ""),
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = run_to_memory(streaming_dedup(stream))
    got = sorted(r.event_id for r in out.collect())
    assert got == [1, 2, 3]


def test_windowed_dedup_stream_keeps_min_ts_event_id(spark, tmp_path):
    """The deterministic streaming dedup keeps exactly the
    min-(ts, event_id) record per key per finalized window — a pure
    function of the data, unlike first-arrival dropDuplicates."""
    import datetime as dt

    from flink_anomaly_spark.streaming.pipelines import run_to_memory, windowed_dedup_stream

    src = str(tmp_path / "wdedup_src")
    t0 = dt.datetime(2024, 6, 1, 0, 0, 0)
    rows = [
        (5, t0 + dt.timedelta(minutes=1), 1, "a", 5.0, ""),
        (3, t0 + dt.timedelta(minutes=1), 1, "a", 3.0, ""),  # same ts → min event_id wins
        (9, t0 + dt.timedelta(minutes=2), 1, "a", 9.0, ""),
        (7, t0 + dt.timedelta(minutes=5), 2, "b", 7.0, ""),
        # next hour, far ahead: advances the watermark so hour 0 finalizes
        (99, t0 + dt.timedelta(hours=3), 9, "z", 0.0, ""),
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    out = run_to_memory(windowed_dedup_stream(stream))
    got = {(r.user_id, r.event_type): (r.kept_event_id, r.n_dups) for r in out.collect()}
    # hour-3 window is unfinalized (watermark = max ts − 20 s) → absent
    assert got == {(1, "a"): (3, 3), (2, "b"): (7, 1)}


def test_stream_stream_interval_join_matches_batch(spark):
    """Live interval join must produce exactly the batch
    interval_self_join result (all rows are within the drained source,
    so no pair is lost to state eviction here)."""
    from flink_anomaly_spark.operators.relational import interval_self_join
    from flink_anomaly_spark.streaming.pipelines import stream_stream_interval_join

    live = run_to_memory(
        stream_stream_interval_join(stream_events(spark, SF_SMOKE), max_gap_seconds=600)
    )
    batch = interval_self_join(
        load_table(spark, SF_SMOKE, "events"),
        key="user_id", ts_col="ts", id_col="event_id", max_gap_seconds=600,
    )
    got = {(r.user_id, r.id1, r.id2, r.gap_us) for r in live.collect()}
    expect = {(r.user_id, r.id1, r.id2, r.gap_us) for r in batch.collect()}
    assert got == expect
    assert len(got) > 0


def test_text_roundtrip_streaming(spark, tmp_path):
    got = stream_text_roundtrip(spark, ["love", "flink", "hardly"], str(tmp_path))
    assert got == ["flink", "hardly", "love"]


def test_recovery_no_duplicates_after_injected_failure(spark, tmp_path):
    """The inverted anomaly (TestFlinkStreamsRecover transposed): inject
    a first-attempt failure in a filter UDF, let the query restart from
    its checkpoint, and assert the file sink holds NO duplicates —
    Spark's replayable-source + transactional-sink model is exactly-once
    where Flink AT_LEAST_ONCE duplicates (SURVEY §2.8 R1)."""
    flag_dir = str(tmp_path / "flags")
    os.makedirs(flag_dir)
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    unstable = make_failing_filter(flag_dir, fail_ids={3, 7})

    def build():
        ev = stream_events(spark, SF_SMOKE)
        return ev.filter(unstable(F.col("event_id"))).select("event_id", "event_type", "value")

    restarts = run_file_sink_with_restarts(spark, SF_SMOKE, out_dir, ckpt, build)
    assert restarts >= 1  # the injected failure really fired
    assert_exactly_once_file_sink(spark, out_dir, "event_id")
    n = spark.read.parquet(out_dir).count()
    assert n == load_table(spark, SF_SMOKE, "events").count()


def test_stateful_recovery_keyed_concat(spark, tmp_path):
    """TestFlinkStatefulStreamsRecover transposed: keyed ValueState
    (running concat) + injected failure + restart from checkpoint. The
    reference OBSERVES duplicate names in the recovered concatenation
    (AT_LEAST_ONCE); here the recovered state must contain each element
    exactly once."""
    import os as _os

    flag_dir = str(tmp_path / "flags")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _os.makedirs(flag_dir)
    unstable = make_failing_filter(flag_dir, fail_ids={42})

    def build():
        ev = stream_events(spark, SF_SMOKE).filter(unstable(F.col("event_id")))
        return running_concat_stream(ev)

    restarts = run_file_sink_with_restarts(spark, SF_SMOKE, out_dir, ckpt, build)
    assert restarts >= 1
    out = spark.read.parquet(out_dir)
    n_events = load_table(spark, SF_SMOKE, "events").count()
    assert out.count() == n_events  # one emission per element, no replays
    # per key: the longest prefix holds each event_id exactly once
    for key_row in out.select("key").distinct().collect():
        longest = (
            out.filter(F.col("key") == key_row.key)
            .orderBy(F.length("running_concat").desc())
            .first()
            .running_concat
        )
        ids = longest.split(",")
        assert len(ids) == len(set(ids)), f"duplicate ids in recovered state for {key_row.key}"


def test_stateful_concat_spans_micro_batches(spark, tmp_path):
    """GroupState must persist across micro-batches: two source files
    processed as separate batches continue the same per-key prefix."""
    import datetime as dt

    src = str(tmp_path / "src")
    t0 = dt.datetime(2024, 6, 1)
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    spark.createDataFrame(
        [(1, t0, 1, "k", 1.0, ""), (2, t0 + dt.timedelta(seconds=1), 1, "k", 1.0, "")], schema
    ).coalesce(1).write.mode("append").parquet(src)
    spark.createDataFrame(
        [(3, t0 + dt.timedelta(seconds=2), 1, "k", 1.0, "")], schema
    ).coalesce(1).write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(src)
    )
    out = run_to_memory(running_concat_stream(stream, key="event_type"))
    prefixes = {r.running_concat for r in out.collect()}
    # the cross-batch-state invariant, order-insensitively: the longest
    # prefix accumulated every element exactly once across both batches
    longest = max(prefixes, key=len)
    assert sorted(longest.split(",")) == ["1", "2", "3"]


def test_side_output_split_stream(spark, tmp_path):
    """Flink side-output parity: one stream routed to two sinks by
    predicate; the routes partition the input exactly."""
    from flink_anomaly_spark.sinks import sink_split_stream

    hi, lo = str(tmp_path / "hi"), str(tmp_path / "lo")
    ev = stream_events(spark, SF_SMOKE)
    q = sink_split_stream(
        ev,
        routes={"hi": F.col("value") >= 250, "lo": F.col("value") < 250},
        paths={"hi": hi, "lo": lo},
        checkpoint=str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    events = load_table(spark, SF_SMOKE, "events")
    assert spark.read.parquet(hi).count() == events.filter(F.col("value") >= 250).count()
    assert spark.read.parquet(lo).count() == events.filter(F.col("value") < 250).count()
    ids = {r.event_id for r in spark.read.parquet(hi).select("event_id").collect()} | {
        r.event_id for r in spark.read.parquet(lo).select("event_id").collect()
    }
    assert len(ids) == events.count()


def test_foreach_sink_at_least_once_parity(spark, tmp_path):
    """R1 honest parity: side-effecting sinks remain at-least-once in
    Spark too — replaying a batch re-runs its effects. With no failure
    the count equals the row count; the invariant is ≥ (documented
    at-least-once), == here because no replay occurred."""
    effect_dir = str(tmp_path / "effects")
    os.makedirs(effect_dir)
    ev = stream_events(spark, SF_SMOKE).filter(F.col("value") > 450)
    expected = load_table(spark, SF_SMOKE, "events").filter(F.col("value") > 450).count()

    def checkpoints():
        return {e for e in os.listdir(tempfile.gettempdir()) if e.startswith("ckpt_fe_")}

    before = checkpoints()
    got = count_foreach_side_effects(ev, effect_dir)
    assert got >= expected
    assert got == expected  # no failure injected in this run
    assert checkpoints() == before  # the query's checkpoint is removed


def test_streaming_running_zscore_state_and_warmup(spark):
    """Online z-score: prefix semantics (first two events of a key carry
    no score), warm-up gating (no flag before n_prev ≥ 10), and flags
    only on |z| > 3. Value-exactness vs the SQL prefix-window form is
    pinned by the DuckDB oracle gate (streaming_running_zscore)."""
    from flink_anomaly_spark.streaming.stateful import running_zscore_stream

    out = run_to_memory(running_zscore_stream(stream_events(spark, SF_SMOKE))).cache()
    events = load_table(spark, SF_SMOKE, "events")
    assert out.count() == events.count()  # one score row per event
    # prefix counts are 0..k-1 per key
    agg = out.groupBy("key").agg(
        F.min("n_prev").alias("mn"), F.max("n_prev").alias("mx"), F.count("*").alias("n")
    )
    for r in agg.collect():
        assert r.mn == 0 and r.mx == r.n - 1
    assert out.filter((F.col("n_prev") < 2) & F.col("z").isNotNull()).count() == 0
    assert out.filter((F.col("n_prev") < 10) & (F.col("is_outlier") == 1)).count() == 0
    assert out.filter((F.col("is_outlier") == 1) & (F.abs(F.col("z")) <= 3)).count() == 0
    out.unpersist()


def test_streaming_ohlc_bars_finalized_and_consistent(spark):
    from flink_anomaly_spark.streaming.pipelines import ohlc_stream

    out = run_to_memory(ohlc_stream(stream_events(spark, SF_SMOKE))).cache()
    events = load_table(spark, SF_SMOKE, "events")
    max_ts = events.agg(F.max("ts")).collect()[0][0]
    # append mode emits only watermark-finalized bars
    n_open = out.filter(
        F.col("bucket_start") + F.expr("INTERVAL 1 HOUR")
        > F.lit(max_ts) - F.expr("INTERVAL 20 SECONDS")
    ).count()
    assert n_open == 0
    # OHLC invariants: low ≤ open/close ≤ high, n ≥ 1
    bad = out.filter(
        (F.col("low") > F.col("open")) | (F.col("low") > F.col("close"))
        | (F.col("high") < F.col("open")) | (F.col("high") < F.col("close"))
        | (F.col("n_events") < 1)
    ).count()
    assert bad == 0
    assert out.count() > 0
    out.unpersist()


def test_stateful_recovery_running_zscore(spark, tmp_path):
    """Welford state recovery: inject a failure mid-stream, restart from
    the checkpoint, and require the recovered per-event scores to equal
    the clean run exactly — numeric state must neither replay (n too
    high) nor reset (n too low)."""
    import os as _os

    from flink_anomaly_spark.streaming.stateful import running_zscore_stream

    flag_dir = str(tmp_path / "flags")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    _os.makedirs(flag_dir)
    unstable = make_failing_filter(flag_dir, fail_ids={17})

    def build():
        ev = stream_events(spark, SF_SMOKE).filter(unstable(F.col("event_id")))
        return running_zscore_stream(ev)

    restarts = run_file_sink_with_restarts(spark, SF_SMOKE, out_dir, ckpt, build)
    assert restarts >= 1
    recovered = spark.read.parquet(out_dir).toPandas()
    clean = run_to_memory(running_zscore_stream(stream_events(spark, SF_SMOKE))).toPandas()
    key = ["key", "event_id"]
    recovered = recovered.sort_values(key).reset_index(drop=True)[clean.columns]
    clean = clean.sort_values(key).reset_index(drop=True)
    assert recovered.equals(clean)


def test_synthetic_stream_source_offset_contract():
    """The per-call offset contract, asserted deterministically (no
    streaming engine in the loop): read({"next":0}) at batchRows=200
    yields exactly rows 0..199 and offset {"next":200}; the tail batch
    is short; readBetweenOffsets replays any committed range exactly.
    (Round-11 deflake, VERDICT r10 #2: the end-to-end twin below used
    to assert ≥3 recentProgress entries, but Spark's prefetching
    wrapper around SimpleDataSourceStreamReader legally coalesces
    prefetched ranges into one batch when scheduling starves under
    whole-suite load — batch COUNT is not part of the source's
    contract, the offset arithmetic is.)"""
    from flink_anomaly_spark.sources.synthetic import SyntheticEventsStreamReader

    r = SyntheticEventsStreamReader({"rows": "500", "batchRows": "200"})
    assert r.initialOffset() == {"next": 0}
    rows, off = r.read({"next": 0})
    assert len(rows) == 200 and off == {"next": 200}
    rows2, off2 = r.read(off)
    assert len(rows2) == 200 and off2 == {"next": 400}
    tail, off3 = r.read(off2)
    assert len(tail) == 100 and off3 == {"next": 500}
    drained, off4 = r.read(off3)
    assert drained == [] and off4 == {"next": 500}
    # replay determinism: a committed range re-reads bit-identically
    assert r.readBetweenOffsets({"next": 0}, {"next": 200}) == rows
    assert r.readBetweenOffsets({"next": 200}, {"next": 400}) == rows2
    # exactly-once partition of the id space: no overlap, no gap
    all_rows = rows + rows2 + tail
    assert len({t[0] for t in all_rows}) == 500


def test_synthetic_stream_source_drains_in_micro_batches(spark, tmp_path):
    """End-to-end: the custom Python streaming source must deliver every
    row exactly once — 500 rows, 100 per event_type. Batch-count is NOT
    asserted (prefetch coalescing under load merges micro-batches; the
    offset contract is pinned by the deterministic test above)."""
    import time
    import uuid

    from flink_anomaly_spark.sources.synthetic import register_synthetic_source

    register_synthetic_source(spark)
    stream = (
        spark.readStream.format("synthetic_events")
        .option("rows", 500)
        .option("batchRows", 200)
        .load()
    )
    name = f"synth_{uuid.uuid4().hex[:8]}"
    q = (
        stream.groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "cp"))
        .start()
    )
    try:
        # generous deadline: under a fully loaded host (whole-suite run
        # on all cores) micro-batch scheduling can starve for minutes
        deadline = time.time() + 240
        while time.time() < deadline:
            rows = {r.event_type: r.n for r in spark.table(name).collect()}
            if sum(rows.values()) >= 500:
                break
            time.sleep(0.5)
        assert rows == {f"type_{i}": 100 for i in range(5)}, rows
        # exactly-once totals only: progress-entry COUNT is scheduling-
        # dependent (prefetched ranges coalesce under load) — the
        # per-batch offset arithmetic is pinned deterministically in
        # test_synthetic_stream_source_offset_contract
        assert len(q.recentProgress) >= 1
    finally:
        q.stop()


def test_streaming_two_level_agg_matches_batch(spark):
    """The chained minute→hour aggregation must equal the same two-level
    rollup computed in batch, restricted to watermark-finalized hours —
    pins both the window_time re-windowing and the shared-watermark
    finalization the oracle relies on."""
    from flink_anomaly_spark.plans.registry import all_queries
    from flink_anomaly_spark.tables import load_table

    got = {
        (r.window_start, r.event_type): (r.max_minute_n, r.total)
        for r in all_queries()["streaming_two_level_agg"](spark, SF_SMOKE).collect()
    }
    ev = load_table(spark, SF_SMOKE, "events")
    wm = ev.agg(
        (F.max("ts") - F.expr("INTERVAL 20 SECONDS")).alias("wm")
    ).collect()[0].wm
    minute = ev.groupBy(
        F.date_trunc("minute", "ts").alias("w1"), "event_type"
    ).agg(F.count("*").alias("n"))
    batch = (
        minute.groupBy(F.date_trunc("hour", "w1").alias("ws"), "event_type")
        .agg(F.max("n").alias("mx"), F.sum("n").alias("tot"))
        .filter(F.col("ws") + F.expr("INTERVAL 1 HOUR") <= F.lit(wm))
    )
    expect = {
        (r.ws, r.event_type): (r.mx, r.tot) for r in batch.collect()
    }
    assert got == expect and len(got) > 0


def test_rocksdb_state_store_matches_default(spark):
    """enable_rocksdb_state switches streaming state to the RocksDB
    provider — the at-scale store (keyed state spills to local disk
    instead of the executor heap). The windowed agg and the stateful
    running concat must produce byte-identical results under it; this
    also proves the provider class actually loads in this Spark build
    rather than failing at query start (docs/DEPLOY.md row)."""
    from flink_anomaly_spark.session import enable_rocksdb_state

    key = "spark.sql.streaming.stateStore.providerClass"
    default_counts = {
        tuple(r)
        for r in run_to_memory(
            windowed_count_stream(stream_events(spark, SF_SMOKE))
        ).collect()
    }
    default_concat = {
        tuple(r)
        for r in run_to_memory(
            running_concat_stream(stream_events(spark, SF_SMOKE))
        ).collect()
    }
    enable_rocksdb_state(spark)
    try:
        assert "RocksDB" in spark.conf.get(key)
        rocks_counts = {
            tuple(r)
            for r in run_to_memory(
                windowed_count_stream(stream_events(spark, SF_SMOKE))
            ).collect()
        }
        rocks_concat = {
            tuple(r)
            for r in run_to_memory(
                running_concat_stream(stream_events(spark, SF_SMOKE))
            ).collect()
        }
    finally:
        spark.conf.unset(key)
    assert rocks_counts == default_counts and len(rocks_counts) > 0
    assert rocks_concat == default_concat and len(rocks_concat) > 0


def test_final_flush_multi_batch(spark, tmp_path):
    """The flush must not depend on single-batch processing: with
    maxFilesPerTrigger=1 the real data and the sentinel arrive in
    SEPARATE micro-batches (the sentinel's zz_ filename sorts last), the
    watermark advances batch by batch, and the final batch still emits
    every real window — the closest local analogue of a live bounded
    source reaching end-of-stream."""
    from flink_anomaly_spark.streaming.pipelines import stream_events_with_final_flush

    events = stream_events_with_final_flush(
        spark, SF_SMOKE, str(tmp_path / "eos_mb"), max_files_per_trigger=1
    )
    got = {tuple(r) for r in run_to_memory(windowed_count_stream(events)).collect()}
    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    expect = {
        (r.win.start, r.win.end, r.event_type, r.n_events, r.sum_value)
        for r in batch.collect()
    }
    assert got == expect


def test_update_mode_vs_append_mode_emission(spark, tmp_path):
    """Round-5 (VERDICT r4 #4): for an UNBOUNDED-shaped source (3
    ts-ordered micro-batches, no EOS sentinel), update mode must
    surface the trailing windows append mode never finalizes, and must
    re-emit a window's current state across batches (the emission
    history append mode cannot have). The final snapshot equals the
    full batch aggregation exactly."""
    from flink_anomaly_spark.streaming.pipelines import (
        run_update_snapshot,
        stream_events_multi_batch,
    )

    # append mode over the same multi-batch replay: only windows the
    # final watermark passed are emitted
    ev_append = stream_events_multi_batch(spark, SF_SMOKE, str(tmp_path / "a"))
    appended = {
        (r.window_start, r.window_end, r.event_type, r.n_events, r.sum_value)
        for r in run_to_memory(windowed_count_stream(ev_append)).collect()
    }

    log: list = []
    ev_upd = stream_events_multi_batch(spark, SF_SMOKE, str(tmp_path / "u"))
    snap_df = run_update_snapshot(
        windowed_count_stream(ev_upd), ["window_start", "event_type"], update_log=log
    )
    snapshot = {
        (r.window_start, r.window_end, r.event_type, r.n_events, r.sum_value)
        for r in snap_df.collect()
    }

    batch = (
        load_table(spark, SF_SMOKE, "events")
        .groupBy(F.window("ts", "1 day").alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
    )
    expect = {
        (r.win.start, r.win.end, r.event_type, r.n_events, r.sum_value)
        for r in batch.collect()
    }
    # update snapshot = complete aggregation, trailing windows included
    assert snapshot == expect
    # append missed the trailing (never-finalized) windows
    assert appended < snapshot
    trailing = {w for (w, *_rest) in (t[:1] for t in snapshot - appended)}
    assert trailing  # at least the last day window
    # emission history: at least one window key updated in >1 batch
    # (a day window straddling a chunk boundary), impossible in append
    assert len(log) == 3
    seen: dict = {}
    for bid, keys in log:
        for k in keys:
            seen[k] = seen.get(k, 0) + 1
    assert max(seen.values()) > 1


def test_late_data_drop_metrics_and_observe(spark, tmp_path):
    """Streaming observability on an OUT-OF-ORDER replay (newest half,
    then a middle slice, then the oldest quarter): Spark applies the
    late-row filter with the watermark as of the PREVIOUS batch (one
    batch of lag — pinned here, probed empirically), so the middle
    slice is still accepted while the oldest quarter arrives behind
    the long-since-advanced watermark and every row of it is dropped.
    numRowsDroppedByWatermark counts the dropped rows AFTER map-side
    partial aggregation (one per surviving (window, event_type) group
    per partial partition — not raw inputs; pinned here because a
    monitoring rule naively comparing it to source counts would
    under-alert), df.observe() reports per-batch source counts, and
    the update-mode sink contains exactly the accepted slices' windows
    — the surface an operator watches for late-data loss."""
    import os as _os

    import pyarrow.parquet as _pq

    from flink_anomaly_spark.streaming.pipelines import _events_ts_schema

    schema, nanos = _events_ts_schema(SF_SMOKE)
    tbl = _pq.read_table(_os.path.join(SF_SMOKE, "events.parquet")).sort_by(
        [("ts", "ascending"), ("event_id", "ascending")]
    )
    n = tbl.num_rows
    q1, q2 = n // 4, n // 2
    work = str(tmp_path / "ooo")
    _os.makedirs(work)
    slices = [
        ("chunk_000.parquet", tbl.slice(q2)),          # newest half first
        ("chunk_001.parquet", tbl.slice(q1, q2 - q1)), # middle: late but accepted (lag)
        ("chunk_002.parquet", tbl.slice(0, q1)),       # oldest: dropped
    ]
    base = None
    for i, (name, part) in enumerate(slices):
        p = _os.path.join(work, name)
        _pq.write_table(part, p)
        base = base or _os.stat(p).st_mtime
        _os.utime(p, (base + 2.0 * i, base + 2.0 * i))

    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    raw = (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "chunk_*.parquet")
        .option("maxFilesPerTrigger", "1")
        .parquet(work)
    )
    raw = raw.withColumn(
        "ts",
        F.timestamp_micros(F.expr("ts div 1000")) if nanos else F.col("ts").cast("timestamp"),
    )
    observed = raw.observe("src", F.count(F.lit(1)).alias("rows"))
    agg = windowed_count_stream(observed)
    name = "late_metrics_sink"
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    progress = q.recentProgress
    per_batch_dropped = {
        p["batchId"]: sum(
            op.get("numRowsDroppedByWatermark", 0)
            for op in p.get("stateOperators", [])
        )
        for p in progress
    }
    # batches 0 and 1 accepted (1 via the one-batch watermark lag);
    # batch 2 arrives behind the advanced watermark and is dropped —
    # the metric counts post-partial-agg rows, so it is bounded by
    # [#old windows, #old input rows]
    assert per_batch_dropped.get(0, 0) == 0 and per_batch_dropped.get(1, 0) == 0
    assert per_batch_dropped.get(2, 0) > 0, per_batch_dropped
    observed_rows = sorted(
        p["observedMetrics"]["src"]["rows"]
        for p in progress
        if "src" in p.get("observedMetrics", {})
    )
    assert observed_rows == sorted([n - q2, q2 - q1, q1])
    # the sink holds exactly the accepted slices' windows
    got_windows = {r.window_start for r in spark.table(name).collect()}
    batch = load_table(spark, SF_SMOKE, "events")
    cut_ts = sorted(r.ts for r in batch.select("ts").collect())[q1]
    expect_windows = {
        r.win.start
        for r in batch.filter(F.col("ts") >= F.lit(cut_ts))
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(F.count("*"))
        .collect()
    }
    assert got_windows == expect_windows
    old_windows = {
        r.win.start
        for r in batch.filter(F.col("ts") < F.lit(cut_ts))
        .groupBy(F.window("ts", "1 day").alias("win"))
        .agg(F.count("*"))
        .collect()
    }
    # dropped-row bound: at least one state row per dropped window
    assert len(old_windows) <= per_batch_dropped[2] <= q1, per_batch_dropped
    # windows exclusive to the dropped slice never reach the sink
    exclusive_old = old_windows - expect_windows
    assert exclusive_old and exclusive_old.isdisjoint(got_windows)


def test_custom_session_operator_with_event_time_timeout(spark, tmp_path):
    """The applyInPandasWithState session operator must equal the batch
    lag+cumsum sessionization exactly: in-batch closures come from gap
    comparisons, cross-batch closures from EVENT-TIME TIMEOUTS (the
    sentinel batch raises the watermark past last+gap, Spark invokes
    the function with hasTimedOut and no rows, the final sessions
    emit). The sentinel's own session (user -1) can never time out and
    must not appear. Runs multi-batch (events, then sentinel) so the
    timeout path — not single-batch luck — produces the trailing
    sessions."""
    from pyspark.sql import Window as W

    from flink_anomaly_spark.streaming.pipelines import stream_events_with_final_flush
    from flink_anomaly_spark.streaming.stateful import session_stream_custom

    events = stream_events_with_final_flush(
        spark, SF_SMOKE, str(tmp_path / "sess"), max_files_per_trigger=1
    )
    got = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in run_to_memory(session_stream_custom(events)).collect()
    }
    batch = load_table(spark, SF_SMOKE, "events")
    w = W.partitionBy("user_id").orderBy("ts")
    lagged = batch.withColumn("prev", F.lag("ts").over(w)).withColumn(
        "new_s",
        F.when(
            F.col("prev").isNull()
            | (
                F.col("ts").cast("timestamp").cast("long")
                - F.col("prev").cast("timestamp").cast("long")
                >= 1800
            ),
            1,
        ).otherwise(0),
    )
    sess = lagged.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    expect = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in sess.groupBy("user_id", "sid")
        .agg(
            F.min("ts").alias("session_start"),
            (F.max("ts") + F.expr("INTERVAL 30 MINUTES")).alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "session_start", "session_end", "n_events")
        .collect()
    }
    assert got == expect
    assert all(uid != -1 for uid, *_ in got)  # sentinel session never emits


def test_streaming_hll_registers_match_batch_build(spark):
    """The streaming per-window HLL register state must equal the batch
    register build over the same events — same md5 projection, same
    per-(window, bucket) max — and stay bounded by 2^p rows per window
    (the constant-state property that justifies a sketch in the state
    store)."""
    import tempfile

    from pyspark.sql import functions as F

    from flink_anomaly_spark.operators.sketches import hll_bucket_rho
    from flink_anomaly_spark.streaming.pipelines import (
        hll_register_stream,
        run_to_memory,
        stream_events_with_final_flush,
    )
    from flink_anomaly_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    work = tempfile.mkdtemp(prefix="eos_flush_")
    events = stream_events_with_final_flush(spark, sf, work)
    regs = run_to_memory(hll_register_stream(events, key_col="user_id", p=8))
    got = {
        (r.window_start, r.bucket): r.reg for r in regs.collect()
    }
    bucket, rho = hll_bucket_rho(F.col("user_id"), 8)
    batch = (
        load_table(spark, sf, "events")
        .filter(F.col("user_id").isNotNull())
        .select(
            F.window("ts", "1 hour").alias("win"),
            bucket.alias("bucket"),
            rho.alias("rho"),
        )
        .groupBy(F.col("win.start").alias("ws"), "bucket")
        .agg(F.max("rho").alias("reg"))
    )
    want = {(r.ws, r.bucket): r.reg for r in batch.collect()}
    assert got == want
    from collections import Counter

    per_window = Counter(ws for ws, _ in got)
    assert per_window and max(per_window.values()) <= 256
