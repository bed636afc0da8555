"""Streaming queries registered with the driver. Each runs its
streaming pipeline to completion with an ``availableNow`` trigger and
returns the sink contents as a batch DataFrame.

ALL registered streaming queries are oracle-checked: with a
single-file parquet source the whole table is one micro-batch, so
append-mode finalization is deterministic — emitted windows are
exactly those with ``window_end <= max(event_time) - 20 s`` (the
watermark after the only data batch; pinned by
``test_streaming_window_count_matches_batch``) — and the stateful
concat folds each key in (ts, event_id) order, which a DuckDB window
``string_agg`` reproduces exactly. ``streaming_dedup`` became
oracle-checkable in round 3 by switching its registered form to the
deterministic windowed dedup (min-(ts, event_id) representative per
key per window); the first-arrival ``dropDuplicatesWithinWatermark``
operator remains available and tested, but its kept row is a
partition-interleaving race, not a function of the data — see
docs/LIMITATIONS.md.

Oracle precision notes: Spark reads the nanos timestamps truncated to
micros and computes watermarks at millisecond precision; DuckDB keeps
full nanos. Day/hour window boundaries are insensitive to sub-ms
precision, but the concat fold ORDER BY must truncate to micros
(``epoch_ns(ts) // 1000``) so ns-level ties cannot reorder rows."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from flink_anomaly_spark.plans.registry import register
from flink_anomaly_spark.resources import persist
from flink_anomaly_spark.streaming.pipelines import (
    run_to_memory,
    stream_events,
    stream_events_with_final_flush,
    windowed_argmax_stream,
    windowed_count_stream,
)
from flink_anomaly_spark.streaming.stateful import running_concat_stream


@register(
    "streaming_window_count",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start,
           date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    HAVING date_trunc('day', ts) + INTERVAL 1 DAY
           <= (SELECT max(ts) - INTERVAL 20 SECONDS FROM events)
    """,
    doc="W1 live: file-stream source → withWatermark('ts','20 seconds') → "
    "1-day tumbling count/sum per event_type → memory sink. Append mode "
    "emits exactly the watermark-finalized windows: end ≤ max(ts) − 20 s "
    "(single-batch availableNow run), which the oracle's HAVING mirrors.",
)
def q_streaming_window_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(windowed_count_stream(stream_events(spark, sf_dir)))


@register(
    "streaming_window_count_final",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start,
           date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="W1 live with Flink END-OF-STREAM parity "
    "(TestFlinkStreams.java:78-82: a bounded Flink source advances the "
    "watermark to +inf at exhaustion and flushes the trailing window; "
    "plain Spark append mode drops it): the end-of-stream sentinel "
    "source (stream_events_with_final_flush) pushes the watermark past "
    "every real window, so this streaming query emits ALL windows — "
    "the oracle is the full batch aggregation with NO watermark cut, "
    "unlike streaming_window_count whose oracle mirrors the append-"
    "mode watermark HAVING.",
)
def q_streaming_window_count_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    work = tempfile.mkdtemp(prefix="eos_flush_")
    events = stream_events_with_final_flush(spark, sf_dir, work)
    return run_to_memory(windowed_count_stream(events))


@register(
    "streaming_window_argmax_final",
    oracle="""
    SELECT window_start, window_end, event_id, user_id, event_type, value
    FROM (
      SELECT date_trunc('hour', ts) AS window_start,
             date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
             event_id, user_id, event_type, value,
             row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY value DESC, event_id ASC) AS rn
      FROM events
    ) t
    WHERE rn = 1
    """,
    doc="W2+W3 live with end-of-stream flush: the sentinel source "
    "finalizes every real hour window, so the streaming whole-record "
    "arg-max emits ALL windows — the trailing-window parity the "
    "reference's testPrintWindowed asserts. Oracle = the full batch "
    "arg-max with no watermark cut (the sentinel row itself sits in a "
    "far-future window that can never finalize, so it needs no "
    "filtering).",
)
def q_streaming_window_argmax_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    work = tempfile.mkdtemp(prefix="eos_flush_")
    events = stream_events_with_final_flush(spark, sf_dir, work)
    return run_to_memory(windowed_argmax_stream(events))


@register(
    "streaming_session_count_final",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT min(ts) AS window_start,
           max(ts) + INTERVAL 30 MINUTE AS window_end,
           user_id, count(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    doc="Streaming session windows with end-of-stream flush: the "
    "sentinel pushes the watermark past every real session's end "
    "(last event + 30 min gap), so ALL sessions emit — including the "
    "trailing per-user sessions append mode drops. The sentinel's own "
    "session (user −1, far future) can never finalize and never "
    "reaches the sink. Oracle = full lag+cumsum sessionization, no "
    "watermark HAVING — proving the flush helper generalizes beyond "
    "tumbling windows to merged session state.",
)
def q_streaming_session_count_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from flink_anomaly_spark.streaming.pipelines import session_count_stream

    work = tempfile.mkdtemp(prefix="eos_flush_")
    events = stream_events_with_final_flush(spark, sf_dir, work)
    return run_to_memory(session_count_stream(events))


@register(
    "streaming_window_count_update",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start,
           date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="W1 for a TRULY UNBOUNDED source (VERDICT r4 #4): the events "
    "table replays as 3 ts-ordered micro-batches with NO end-of-stream "
    "sentinel — the live-source case the bounded-replay flush cannot "
    "cover — and the windowed count runs in UPDATE output mode into a "
    "KV-upsert snapshot sink (run_update_snapshot). Every batch emits "
    "the changed windows' CURRENT state, watermark-finalized or not, "
    "so the final snapshot contains every window including the "
    "trailing one append mode never emits. Oracle = the full batch "
    "aggregation with no watermark cut; the snapshot must equal it "
    "exactly.",
)
def q_streaming_window_count_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from flink_anomaly_spark.streaming.pipelines import (
        run_update_snapshot,
        stream_events_multi_batch,
    )

    work = tempfile.mkdtemp(prefix="upd_replay_")
    events = stream_events_multi_batch(spark, sf_dir, work, n_chunks=3)
    return run_update_snapshot(
        windowed_count_stream(events), ["window_start", "event_type"]
    )


@register(
    "streaming_window_argmax",
    oracle="""
    SELECT window_start, window_end, event_id, user_id, event_type, value
    FROM (
      SELECT date_trunc('hour', ts) AS window_start,
             date_trunc('hour', ts) + INTERVAL 1 HOUR AS window_end,
             event_id, user_id, event_type, value,
             row_number() OVER (PARTITION BY date_trunc('hour', ts)
                                ORDER BY value DESC, event_id ASC) AS rn
      FROM events
    ) t
    WHERE rn = 1
      AND window_end <= (SELECT max(ts) - INTERVAL 20 SECONDS FROM events)
    """,
    doc="W2+W3 live (TestFlinkStreams.java:62-83): streaming tumbling "
    "window + whole-record max_by with deterministic tie-break; append "
    "mode emits the watermark-finalized windows (end ≤ max(ts) − 20 s).",
)
def q_streaming_window_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    return run_to_memory(windowed_argmax_stream(stream_events(spark, sf_dir)))


@register(
    "streaming_dedup",
    # deterministic representative (min (ts, event_id) per key per
    # tumbling hour) makes streaming dedup oracle-checkable — the
    # previous dropDuplicatesWithinWatermark form keeps the FIRST
    # ARRIVAL, which is a partition-interleaving race, not a function
    # of the data (it remains available as pipelines.streaming_dedup,
    # exercised by tests; see docs/LIMITATIONS.md). Finalization: the
    # single availableNow batch emits exactly the windows with
    # window_end ≤ max(ts) − 20 s.
    oracle="""
    WITH w AS (
      SELECT date_trunc('hour', ts) AS window_start,
             user_id, event_type, event_id, ts, value,
             row_number() OVER (PARTITION BY date_trunc('hour', ts), user_id, event_type
                                ORDER BY ts, event_id) AS rn,
             count(*) OVER (PARTITION BY date_trunc('hour', ts), user_id, event_type) AS n_dups
      FROM events)
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
           user_id, event_type,
           event_id AS kept_event_id, ts AS kept_ts, value AS kept_value, n_dups
    FROM w
    WHERE rn = 1
      AND window_start + INTERVAL 1 HOUR
          <= (SELECT max(ts) - INTERVAL 20 SECONDS FROM events)
    """,
    doc="Deterministic streaming dedup with bounded state: one "
    "representative per (user_id, event_type) per tumbling hour — the "
    "min-(ts, event_id) record via min_by over a watermarked windowed "
    "aggregation in append mode; state evicted at watermark passage.",
)
def q_streaming_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.streaming.pipelines import windowed_dedup_stream

    return run_to_memory(windowed_dedup_stream(stream_events(spark, sf_dir)))


@register(
    "streaming_sliding_count_final",
    oracle="""
    WITH e AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS s1, value FROM events)
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM (SELECT s1 AS window_start, value FROM e
          UNION ALL
          SELECT s1 - INTERVAL 30 MINUTE AS window_start, value FROM e) t
    GROUP BY window_start
    """,
    doc="Streaming sliding windows WITH end-of-stream flush (VERDICT "
    "r5 #8): proves the EOS sentinel pattern (pipelines.py "
    "stream_events_with_final_flush, mirroring TestFlinkStreams.java:"
    "78-82's bounded-source watermark-to-+inf) generalizes to "
    "OVERLAPPING windows — every real event sits in 2 of the 1 h/30 min "
    "windows, and the sentinel finalizes all of them, including the "
    "two trailing windows append mode drops. The sentinel's own two "
    "far-future windows can never finalize and never reach the sink, "
    "so the oracle is the full batch sliding expansion with NO "
    "watermark HAVING (vs streaming_sliding_count's finalized-only "
    "twin).",
)
def q_streaming_sliding_count_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from flink_anomaly_spark.streaming.pipelines import sliding_count_stream

    work = tempfile.mkdtemp(prefix="eos_flush_")
    events = stream_events_with_final_flush(spark, sf_dir, work)
    return run_to_memory(sliding_count_stream(events))


@register(
    "streaming_sliding_count",
    oracle="""
    WITH e AS (SELECT time_bucket(INTERVAL '30 minutes', ts) AS s1, value FROM events)
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
           count(*) AS n_events, round(sum(value), 2) AS sum_value
    FROM (SELECT s1 AS window_start, value FROM e
          UNION ALL
          SELECT s1 - INTERVAL 30 MINUTE AS window_start, value FROM e) t
    GROUP BY window_start
    HAVING window_start + INTERVAL 1 HOUR
           <= (SELECT max(ts) - INTERVAL 20 SECONDS FROM events)
    """,
    doc="Streaming sliding windows (1 h / 30 min slide, 20 s watermark): "
    "append mode emits exactly the watermark-finalized windows "
    "(end ≤ max(ts) − 20 s on the single-batch availableNow run) — the "
    "live twin of sliding_window_agg with the same finalization HAVING "
    "as streaming_window_count.",
)
def q_streaming_sliding_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.streaming.pipelines import sliding_count_stream

    return run_to_memory(sliding_count_stream(stream_events(spark, sf_dir)))


@register(
    "streaming_session_count",
    oracle="""
    WITH o AS (
      SELECT user_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    ), s AS (
      SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT min(ts) AS window_start,
           max(ts) + INTERVAL 30 MINUTE AS window_end,
           user_id, count(*) AS n_events
    FROM s GROUP BY user_id, sid
    HAVING max(ts) + INTERVAL 30 MINUTE
           <= (SELECT max(ts) - INTERVAL 20 SECONDS FROM events)
    """,
    doc="Streaming session windows (30 min gap, merged in the state "
    "store): a session is emitted once the watermark passes its end "
    "(last event + gap), so the single-batch run emits exactly the "
    "sessions with end ≤ max(ts) − 20 s — the oracle sessionizes via "
    "lag+cumsum like session_window_agg and applies that HAVING.",
)
def q_streaming_session_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.streaming.pipelines import session_count_stream

    return run_to_memory(session_count_stream(stream_events(spark, sf_dir)))


@register(
    "streaming_interval_join",
    oracle="""
    SELECT a.user_id AS user_id, a.event_id AS id1, b.event_id AS id2,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM events a JOIN events b ON a.user_id = b.user_id
    WHERE epoch_us(b.ts) - epoch_us(a.ts) > 0
      AND epoch_us(b.ts) - epoch_us(a.ts) <= 600000000
    """,
    doc="Stream-stream inner join with event-time bounds (pairs of "
    "events by the same user ≤ 10 min apart), watermarked on both "
    "sides so join state is evicted once rows can no longer match — "
    "the live twin of interval_event_pairs. Single-batch availableNow "
    "run: every pair joins before any state eviction, so the output "
    "equals the batch range join and the batch SQL is an exact oracle "
    "(pinned by test_stream_stream_interval_join_matches_batch).",
)
def q_streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.streaming.pipelines import stream_stream_interval_join

    return run_to_memory(
        stream_stream_interval_join(stream_events(spark, sf_dir), max_gap_seconds=600)
    )


@register(
    "streaming_running_concat",
    oracle="""
    SELECT event_type AS key, event_id,
           string_agg(CAST(event_id AS VARCHAR), ',') OVER (
             PARTITION BY event_type
             ORDER BY epoch_ns(ts) // 1000, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS running_concat
    FROM events
    WHERE value >= 200.0
    """,
    doc="F1 live (Main.java:60-83): applyInPandasWithState keyed running "
    "concatenation — GroupState(single string) ≙ ValueState<String>. "
    "Single-batch availableNow run folds each key in (ts, event_id) "
    "order, so the emitted prefixes equal a window string_agg; the "
    "oracle orders by micros (epoch_ns // 1000) because Spark's ts is "
    "nanos-truncated-to-micros while DuckDB keeps full nanos.",
)
def q_streaming_running_concat(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    # the running-prefix output is O(n²) characters per key BY SPEC
    # (docs/LIMITATIONS.md) — bound the demo input (value ≥ 200 keeps
    # ~1.75% of events: 15 rows at sf0.001, 1.7k at sf0.1) so the
    # memory-sink collection stays driver-sized at any SF
    events = stream_events(spark, sf_dir).filter(F.col("value") >= 200.0)
    return run_to_memory(running_concat_stream(events))


@register(
    "streaming_running_zscore",
    oracle="""
    WITH w AS (
      SELECT event_type AS key, event_id, value,
             count(value) OVER pre AS n_prev,
             avg(value) OVER pre AS mean_prev,
             stddev_samp(value) OVER pre AS std_prev
      FROM events
      WINDOW pre AS (PARTITION BY event_type
                     ORDER BY epoch_ns(ts) // 1000, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT key, event_id, n_prev,
           CASE WHEN n_prev >= 2 AND std_prev > 0
                THEN round((value - mean_prev) / std_prev, 4) + 0.0 END AS z,
           CASE WHEN n_prev >= 10 AND std_prev > 0
                     AND abs((value - mean_prev) / std_prev) > 3
                THEN 1 ELSE 0 END AS is_outlier
    FROM w
    """,
    doc="Stateful streaming anomaly detection: per-key Welford running "
    "(n, mean, M2) in the state store, each event z-scored against the "
    "PREFIX statistics (never its own value) with an n≥10 warm-up for "
    "the outlier flag. Single-batch availableNow run folds each key in "
    "(ts, event_id) order, so prefix-frame window aggregates are an "
    "exact oracle (z rounded to 4 — Welford vs sum/n agree to ~1e-12).",
)
def q_streaming_running_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.streaming.stateful import running_zscore_stream

    return run_to_memory(running_zscore_stream(stream_events(spark, sf_dir)))


@register(
    "streaming_ohlc",
    oracle="""
    WITH b AS (
      SELECT event_type, date_trunc('hour', ts) AS bucket_start,
             ts, event_id, value
      FROM events
    ), w AS (
      SELECT event_type, bucket_start, value,
             first_value(value) OVER (PARTITION BY event_type, bucket_start
                                      ORDER BY epoch_ns(ts) // 1000, event_id) AS open,
             first_value(value) OVER (PARTITION BY event_type, bucket_start
                                      ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC)
               AS close
      FROM b
    )
    SELECT bucket_start, event_type, min(open) AS open, max(value) AS high,
           min(value) AS low, min(close) AS close, count(*) AS n_events
    FROM w
    GROUP BY event_type, bucket_start
    HAVING bucket_start + INTERVAL 1 HOUR
           <= (SELECT max(ts) - INTERVAL 20 SECONDS FROM events)
    """,
    doc="Streaming OHLC bars (1 h per event_type): min_by/max_by on a "
    "(ts, event_id) struct under a 20 s watermark — the live twin of "
    "ohlc_resample. Append mode emits watermark-finalized bars (end ≤ "
    "max(ts) − 20 s); the oracle mirrors open/close via window "
    "first_value ordered by micros with the same tiebreak.",
)
def q_streaming_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.streaming.pipelines import ohlc_stream

    return run_to_memory(ohlc_stream(stream_events(spark, sf_dir)))


@register(
    "streaming_dim_enrich",
    oracle="""
    SELECT date_trunc('day', e.ts) AS window_start,
           date_trunc('day', e.ts) + INTERVAL 1 DAY AS window_end,
           c.c_mktsegment AS mktsegment,
           count(*) AS n_events,
           round(sum(e.value), 2) AS sum_value
    FROM events e JOIN customer c ON e.user_id = c.c_custkey
    GROUP BY 1, 2, 3
    HAVING date_trunc('day', e.ts) + INTERVAL 1 DAY
           <= (SELECT max(ts) - INTERVAL 20 SECONDS FROM events)
    """,
    doc="Stream–static dimension enrichment: the event stream joins the "
    "static customer dim hint-free (SF-proportional — the per-batch "
    "planner broadcasts it while it fits; no streaming state either "
    "way), then daily "
    "windowed count/sum per market segment under the 20 s watermark. "
    "Single-batch finalization oracle like streaming_window_count.",
)
def q_streaming_dim_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.streaming.pipelines import dim_enriched_count_stream
    from flink_anomaly_spark.tables import load_table

    dim = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return run_to_memory(dim_enriched_count_stream(stream_events(spark, sf_dir), dim))


@register(
    "streaming_two_level_agg",
    oracle="""
    WITH m AS (
      SELECT date_trunc('minute', ts) AS w1, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT date_trunc('hour', w1) AS window_start,
           date_trunc('hour', w1) + INTERVAL 1 HOUR AS window_end,
           event_type,
           max(n) AS max_minute_n,
           CAST(sum(n) AS BIGINT) AS total
    FROM m GROUP BY 1, 2, 3
    HAVING date_trunc('hour', w1) + INTERVAL 1 HOUR
           <= (SELECT max(ts) - INTERVAL 20 SECONDS FROM events)
    """,
    doc="Chained stateful aggregations in ONE streaming query "
    "(window_time re-windowing, Spark >=3.4): per-minute event counts "
    "rolled up to hourly max-minute-rate and totals — the "
    "downsample-then-rollup pattern that otherwise needs two jobs and "
    "an intermediate sink. An hour finalizes exactly when its last "
    "minute does (shared 20 s watermark), so the append-mode output is "
    "the oracle's HAVING end <= max(ts) - 20 s; verified row-identical "
    "at all three SFs.",
)
def q_streaming_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.streaming.pipelines import two_level_window_stream

    return run_to_memory(two_level_window_stream(stream_events(spark, sf_dir)))


@register(
    "streaming_topk_per_window_final",
    oracle="""
    WITH m AS (
      SELECT date_trunc('hour', ts) AS window_start, event_type,
             count(*) AS n_events, round(sum(value), 2) AS sum_value
      FROM events GROUP BY 1, 2)
    SELECT window_start, window_start + INTERVAL 1 HOUR AS window_end,
           event_type, n_events, sum_value, CAST(rank AS BIGINT) AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY window_start
                    ORDER BY n_events DESC, event_type ASC) AS rank
          FROM m) t
    WHERE rank <= 3
    """,
    doc="Streaming top-k per window — the lambda-free serve pattern: "
    "the STREAMING half is the hourly (window, event_type) count with "
    "20 s watermark and the EOS sentinel flush (so every real window "
    "finalizes); the rank-3-per-window cut runs BATCH-side on the "
    "finalized sink contents, because append-mode streaming cannot "
    "re-rank within a window until it is final — exactly where "
    "production systems put the topN (materialized-view serve layer). "
    "Per-window ties break by event_type; the window rank partitions "
    "on window_start, |windows| x |types| rows only.",
)
def q_streaming_topk_per_window_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from flink_anomaly_spark.streaming.pipelines import windowed_count_stream

    work = tempfile.mkdtemp(prefix="eos_flush_")
    events = stream_events_with_final_flush(spark, sf_dir, work)
    snap = run_to_memory(windowed_count_stream(events, duration="1 hour"))
    w = Window.partitionBy("window_start").orderBy(
        F.col("n_events").desc(), F.col("event_type").asc()
    )
    return (
        snap.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= 3)
        .select(
            "window_start",
            "window_end",
            "event_type",
            "n_events",
            "sum_value",
            "rank",
        )
    )


@register(
    "streaming_two_level_agg_final",
    oracle="""
    WITH m AS (
      SELECT date_trunc('minute', ts) AS w1, event_type, count(*) AS n
      FROM events GROUP BY 1, 2
    )
    SELECT date_trunc('hour', w1) AS window_start,
           date_trunc('hour', w1) + INTERVAL 1 HOUR AS window_end,
           event_type,
           max(n) AS max_minute_n,
           CAST(sum(n) AS BIGINT) AS total
    FROM m GROUP BY 1, 2, 3
    """,
    doc="Chained stateful aggregations WITH end-of-stream flush: the "
    "EOS sentinel must propagate the +inf watermark through BOTH "
    "stateful stages (minute counts -> hourly rollup) so the trailing "
    "hour finalizes too — proving the sentinel pattern composes "
    "through window_time re-windowing, not just single-stage aggs. "
    "The sentinel's own minute/hour windows never finalize and never "
    "reach the sink, so the oracle is the full two-level rollup with "
    "NO watermark HAVING (vs streaming_two_level_agg's finalized-only "
    "twin).",
)
def q_streaming_two_level_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from flink_anomaly_spark.streaming.pipelines import two_level_window_stream

    work = tempfile.mkdtemp(prefix="eos_flush_")
    events = stream_events_with_final_flush(spark, sf_dir, work)
    return run_to_memory(two_level_window_stream(events))


@register(
    "streaming_interval_join_left_final",
    oracle="""
    SELECT a.user_id AS user_id, a.event_id AS id1, b.event_id AS id2,
           epoch_us(b.ts) - epoch_us(a.ts) AS gap_us
    FROM events a LEFT JOIN events b
      ON a.user_id = b.user_id
     AND epoch_us(b.ts) - epoch_us(a.ts) > 0
     AND epoch_us(b.ts) - epoch_us(a.ts) <= 600000000
    """,
    doc="LEFT-OUTER stream-stream interval join, made oracle-exact by "
    "the EOS sentinel (docs/LIMITATIONS.md recorded this as "
    "non-derivable in round 3: mid-stream, the unmatched-left eviction "
    "point depends on ms-floored state-store watermark arithmetic at "
    "the cutoff boundary). The sentinel pushes the watermark 3 days "
    "past max(ts) — far beyond every real row's t1 + gap + delay — so "
    "ALL real unmatched lefts evict and emit, no boundary rows exist, "
    "and the output equals the batch left join exactly. The sentinel's "
    "own left row can never finalize and never reaches the sink. This "
    "is the Flink bounded-source Long.MAX_VALUE watermark behavior "
    "(Main.java's DataStream semantics) for outer join state.",
)
def q_streaming_interval_join_left_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from flink_anomaly_spark.streaming.pipelines import stream_stream_interval_join

    work = tempfile.mkdtemp(prefix="eos_flush_")
    events = stream_events_with_final_flush(spark, sf_dir, work)
    return run_to_memory(
        stream_stream_interval_join(events, max_gap_seconds=600, how="left_outer")
    )


@register(
    "streaming_window_count_complete",
    oracle="""
    SELECT date_trunc('day', ts) AS window_start,
           date_trunc('day', ts) + INTERVAL 1 DAY AS window_end,
           event_type,
           count(*) AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY 1, 2, 3
    """,
    doc="W1 in COMPLETE output mode — the third leg of the output-mode "
    "triple (append = streaming_window_count, update = "
    "streaming_window_count_update): every trigger re-emits the ENTIRE "
    "result table, watermark-irrelevant, so the final sink snapshot is "
    "exactly the batch aggregation with no finalization cut and no "
    "sentinel needed. Complete mode is the dashboard-refresh serve "
    "shape; its cost model (full re-emit per trigger, state never "
    "evicted) is why the other sixteen streaming queries use "
    "append/update.",
)
def q_streaming_window_count_complete(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.streaming.pipelines import windowed_count_stream

    return run_to_memory(
        windowed_count_stream(stream_events(spark, sf_dir)), output_mode="complete"
    )


def _hll_stream_oracle() -> str:
    from flink_anomaly_spark.operators.sketches import hll_windowed_oracle_sql

    return hll_windowed_oracle_sql("user_id", "events", p=8, trunc="hour")


@register(
    "streaming_hll_distinct_final",
    oracle=_hll_stream_oracle(),
    doc="Streaming HyperLogLog per hourly window — the sketch family "
    "on the streaming surface: stateless md5->(bucket, rho) per event "
    "(the projection shared with the batch sketch), ONE stateful "
    "stage of max(rho) per (window, bucket) whose state is <= 2^p "
    "register rows per open window (constant in event count — the "
    "reason to hold a sketch, not a distinct-set, in the state "
    "store), EOS-sentinel flush so every real window finalizes, and "
    "batch-side harmonic-sum finalize on the sink (the serve-layer "
    "split). The oracle replays the identical per-window register "
    "build + scaled-integer estimate with no watermark HAVING.",
)
def q_streaming_hll_distinct_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from flink_anomaly_spark.operators.sketches import hll_windowed_estimate
    from flink_anomaly_spark.streaming.pipelines import hll_register_stream

    work = tempfile.mkdtemp(prefix="eos_flush_")
    events = stream_events_with_final_flush(spark, sf_dir, work)
    regs = run_to_memory(hll_register_stream(events, key_col="user_id", p=8))
    return hll_windowed_estimate(regs, p=8)


_CMS_KEYS = [1, 2, 3, 4, 5, 6, 7, 8]


def _cms_stream_oracle() -> str:
    from flink_anomaly_spark.operators.sketches import cms_windowed_oracle_sql

    return cms_windowed_oracle_sql(
        "user_id", "events", keys=_CMS_KEYS, d=3, w=16, trunc="hour"
    )


@register(
    "streaming_cms_topk_final",
    oracle=_cms_stream_oracle(),
    doc="Streaming COUNT-MIN per hourly window — the frequency twin of "
    "streaming_hll_distinct_final: each event statelessly explodes to "
    "its d=3 salted-md5 (row, bucket) cells, the stateful stage is a "
    "windowed count per (window, row, bucket) whose state is <= d*w "
    "= 48 cell rows per open window (constant in event volume), EOS "
    "flush finalizes every real window, and the batch side answers "
    "point queries for a fixed monitored-key list with absent cells "
    "counting 0 (windows x keys x d grid LEFT-joined to the sink — "
    "broadcast-sized). w=16 is deliberately undersized so collisions "
    "(overcount) are exercised, as in countmin_top_terms. The oracle "
    "replays the identical per-window cell build + min point query.",
)
def q_streaming_cms_topk_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from flink_anomaly_spark.operators.sketches import cms_windowed_point_estimates
    from flink_anomaly_spark.streaming.pipelines import cms_cell_stream

    work = tempfile.mkdtemp(prefix="eos_flush_")
    events = stream_events_with_final_flush(spark, sf_dir, work)
    cells = run_to_memory(cms_cell_stream(events, key_col="user_id", d=3, w=16))
    return cms_windowed_point_estimates(cells, keys=_CMS_KEYS, d=3, w=16)


def _cusum_stream_oracle() -> str:
    from flink_anomaly_spark.operators.mining import (
        CUSUM_H_C,
        CUSUM_K_C,
        CUSUM_TARGET_C,
    )

    order = "epoch_ns(ts) // 1000, event_id"
    return f"""
    WITH s AS (
      SELECT event_type, event_id, ts,
             sum(CAST(round(value*100) AS BIGINT) - {CUSUM_TARGET_C + CUSUM_K_C})
               OVER w AS sp
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY {order}
                   ROWS UNBOUNDED PRECEDING)
    ), p AS (
      SELECT event_type, event_id, ts,
             sp - least(0, min(sp) OVER w2) AS pos
      FROM s
      WINDOW w2 AS (PARTITION BY event_type ORDER BY {order}
                    ROWS UNBOUNDED PRECEDING)
    )
    SELECT event_type, event_id, CAST(ts AS TIMESTAMP) AS ts,
           CAST(pos AS BIGINT) AS pos_c
    FROM p WHERE pos > {CUSUM_H_C}
    """


@register(
    "streaming_cusum_alarms",
    oracle=_cusum_stream_oracle(),
    doc="Keyed online CUSUM changepoint alarms (Page 1954) as a custom "
    "stateful streaming operator — the sequential-analysis sibling of "
    "streaming_running_zscore (level-shift detection where z-score "
    "flags single spikes). State is TWO BIGINTs per key (running sum S "
    "of the cents drift and its running min — the closed form of "
    "Page's max(0,·) recursion), constant in stream length; the cents "
    "projection runs in Catalyst before the Arrow-batched fold, so the "
    "Python side is pure integer arithmetic and the single-batch "
    "availableNow run is bit-identical to the batch window-aggregate "
    "replay (shares its constants with batch cusum_changepoints via "
    "operators.mining). Append-mode emission is immediate — alarms "
    "don't wait for watermark finalization, the operational shape an "
    "alerting sink needs.",
)
def q_streaming_cusum_alarms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.streaming.stateful import cusum_alarm_stream

    return run_to_memory(
        cusum_alarm_stream(stream_events(spark, sf_dir))
    ).withColumnRenamed("key", "event_type")


def _kmins_stream_oracle() -> str:
    from flink_anomaly_spark.operators.sketches import kmins_windowed_oracle_sql

    return kmins_windowed_oracle_sql("user_id", "events", k=16, trunc="hour")


@register(
    "streaming_kmins_distinct_final",
    oracle=_kmins_stream_oracle(),
    doc="Streaming k-mins (Flajolet–Martin register-MIN) distinct "
    "estimate per hourly window — completes the cardinality-estimator "
    "matrix on the streaming surface: register-max (streaming_hll), "
    "order-statistics (batch KMV), register-min (this). Each event "
    "statelessly explodes to k=16 salted hashes; the stateful stage is "
    "a windowed min per (window, salt) — exactly k register rows of "
    "state per open window. EOS-sentinel flush finalizes every real "
    "window; the finalize is libm-FREE (exact BIGINT register sum, two "
    "exactly-rounded float ops), one step stricter than HLL's "
    "LinearCounting ln branch. The oracle replays the identical "
    "register build + estimate.",
)
def q_streaming_kmins_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from flink_anomaly_spark.operators.sketches import kmins_windowed_estimate
    from flink_anomaly_spark.streaming.pipelines import kmins_register_stream

    work = tempfile.mkdtemp(prefix="eos_flush_")
    events = stream_events_with_final_flush(spark, sf_dir, work)
    regs = run_to_memory(kmins_register_stream(events, key_col="user_id", k=16))
    return kmins_windowed_estimate(regs, k=16)


def _tv_stream_oracle() -> str:
    from flink_anomaly_spark.operators.mining import tv_drift_oracle_sql

    return tv_drift_oracle_sql("ts", "value", "events")


@register(
    "streaming_tv_drift_final",
    oracle=_tv_stream_oracle(),
    doc="Streaming per-window distribution-drift monitor (VERDICT r8 "
    "#4): each event statelessly maps to its fixed-edge histogram bin "
    "(tv_hist_bin, shared with the batch screen), the stateful stage "
    "is a windowed count per (1-day window, bin) whose state is <= 16 "
    "rows per open window (constant in event volume — the hold-a-"
    "sketch argument), EOS-sentinel flush finalizes every real window, "
    "and the batch side computes the total-variation distance of each "
    "window against the broadcast frozen-reference histogram with the "
    "integer-exact BIGINT numerator and ONE division (TV instead of "
    "PSI: ln is libm, the selection-key lesson). Drift flag is the "
    "cross-multiplied comparison 5*tv_num > N_ref*N_day. The oracle "
    "replays the identical day-histogram build from raw events.",
)
def q_streaming_tv_drift_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import functions as F

    from flink_anomaly_spark.operators.mining import (
        tv_drift_finalize,
        tv_reference_hist,
    )
    from flink_anomaly_spark.streaming.pipelines import hist_bin_stream
    from flink_anomaly_spark.tables import load_table

    work = tempfile.mkdtemp(prefix="eos_flush_")
    events = stream_events_with_final_flush(spark, sf_dir, work)
    sunk = run_to_memory(hist_bin_stream(events, value_col="value"))
    ref = tv_reference_hist(load_table(spark, sf_dir, "events"), "ts", "value")
    day_bins = sunk.select(F.col("window_start").alias("day"), "bin", "c")
    return tv_drift_finalize(day_bins, ref)


def _benford_stream_oracle() -> str:
    from flink_anomaly_spark.operators.anomaly import benford_windowed_oracle_sql

    return benford_windowed_oracle_sql("ts", "value", "events")


@register(
    "streaming_benford_final",
    oracle=_benford_stream_oracle(),
    doc="Streaming per-window Benford's-law first-digit screen — the "
    "forensic data-quality monitor on the streaming surface: each "
    "event statelessly maps to the leading digit of its integer cents "
    "(projection shared with the batch benford_deviation screen), the "
    "stateful stage is a windowed count per (1-day window, digit) "
    "whose state is <= 9 rows per open window (constant in event "
    "volume), the EOS sentinel passes the watermark BEFORE the "
    "cents>0 domain filter so every real window finalizes, and the "
    "batch side evaluates the fixed nine-term chi-square chain over "
    "integer counts and the full-precision BENFORD_P literals (no "
    "libm, no order-sensitive float SUM) with the alarm flag as a "
    "literal threshold compare. The oracle replays the identical "
    "day-digit histogram from raw events.",
)
def q_streaming_benford_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from flink_anomaly_spark.operators.anomaly import benford_windowed_chi2
    from flink_anomaly_spark.streaming.pipelines import benford_digit_stream

    work = tempfile.mkdtemp(prefix="eos_flush_")
    events = stream_events_with_final_flush(spark, sf_dir, work)
    sunk = run_to_memory(benford_digit_stream(events, value_col="value"))
    return benford_windowed_chi2(sunk)


def _twap_stream_oracle() -> str:
    # the streaming twin replays the batch TWAP exactly — reuse its
    # oracle verbatim (the ann_ivf_recall oracle-reuse precedent);
    # mining_queries registers first in registry._load_all
    from flink_anomaly_spark.plans.registry import QUERIES

    return QUERIES["twap_daily"].oracle


@register(
    "streaming_twap_final",
    oracle=_twap_stream_oracle(),
    doc="Streaming TWAP (time-weighted average, LOCF-to-day-end) per "
    "(event_type, day) — the stateful-operator twin of the batch "
    "twap_daily hyperfunction, NOT expressible as a declarative "
    "windowed agg (each observation's weight is the time until the "
    "NEXT one): applyInPandasWithState carries five BIGINTs per open "
    "(key, day) group, folds rows in (ts, event_id) order, and an "
    "EVENT-TIME TIMEOUT at day end (raised past every real day by the "
    "EOS sentinel — Flink max-watermark parity) carries the last value "
    "to day close and emits the final row. Integer cents x integer "
    "microsecond gaps in BIGINT, one terminal division; state is "
    "bounded by open (key, day) groups, not event volume. The oracle "
    "is the batch TWAP SQL verbatim.",
)
def q_streaming_twap_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import functions as F

    from flink_anomaly_spark.streaming.stateful import twap_stream

    work = tempfile.mkdtemp(prefix="eos_flush_")
    # multi-batch source (events file, then sentinel file): day groups
    # time out when the sentinel batch raises the watermark — the same
    # forcing the custom-session operator uses
    events = stream_events_with_final_flush(
        spark, sf_dir, work, max_files_per_trigger=1
    )
    sunk = run_to_memory(twap_stream(events, key="event_type"))
    return sunk.withColumnRenamed("key", "event_type")


def _conformal_stream_oracle() -> str:
    from flink_anomaly_spark.operators.anomaly import conformal_windowed_oracle_sql

    return conformal_windowed_oracle_sql("ts", "value", "events")


@register(
    "streaming_conformal_final",
    oracle=_conformal_stream_oracle(),
    doc="Streaming per-window conformal anomaly-rate monitor (VERDICT "
    "r9 missing #1) — online scoring against a FROZEN calibration "
    "set, where conformal methods actually get used: each event "
    "statelessly looks up its calibration exceedance count in the "
    "broadcast conformal_ge_map (SHARED with the batch "
    "conformal_anomaly_pvalues, so twin and oracle cannot diverge), "
    "the per-event anomaly decision is the INTEGER cross-multiplied "
    "p <= alpha condition (conformal_anom_flag — no division in the "
    "row path), and the stateful stage holds TWO BIGINTs per open "
    "1-day window (scored count, anomaly count — constant in event "
    "volume). The map join is LEFT so the EOS sentinel survives to "
    "raise the watermark (the Benford pushdown lesson); the batch "
    "finalize keeps test-period windows, computes the rate with ONE "
    "terminal division, and trips the alarm on the integer comparison "
    "n_anom*alpha_den > 2*alpha_num*n_scored. The oracle replays the "
    "identical map, decision, and day aggregation from raw events.",
)
def q_streaming_conformal_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from flink_anomaly_spark.operators.anomaly import (
        conformal_ge_map,
        conformal_windowed_rates,
    )
    from flink_anomaly_spark.streaming.pipelines import conformal_flag_stream
    from flink_anomaly_spark.tables import load_table

    work = tempfile.mkdtemp(prefix="eos_flush_")
    events = stream_events_with_final_flush(spark, sf_dir, work)
    ge_map = conformal_ge_map(load_table(spark, sf_dir, "events"), "ts", "value")
    sunk = run_to_memory(conformal_flag_stream(events, ge_map, value_col="value"))
    return conformal_windowed_rates(sunk)


def _fano_stream_oracle() -> str:
    from flink_anomaly_spark.plans.evaluation_queries import _FANO_ORACLE

    return _FANO_ORACLE


@register(
    "streaming_fano_final",
    oracle=_fano_stream_oracle(),
    doc="Streaming per-key Fano-factor burstiness screen — the live "
    "twin of fano_burstiness_daily: each event statelessly projects "
    "to its key, the stateful stage is a windowed count whose state "
    "is ONE BIGINT per (key, open 1-day window) — bounded by the key "
    "domain, constant in event volume; NULL keys stream through (the "
    "Benford pushdown lesson — no pre-watermark predicate) and are "
    "dropped at finalize; EOS-sentinel flush closes every real "
    "window, and the batch side is the SHARED fano_finalize moment "
    "aggregation (exact BIGINT moments, one division, integer "
    "overdispersion flag), so the stream replays the batch operator "
    "row-for-row. Oracle = the batch fano oracle verbatim.",
)
def q_streaming_fano_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import functions as F

    from flink_anomaly_spark.operators.mining import fano_finalize
    from flink_anomaly_spark.streaming.pipelines import keyed_day_count_stream

    work = tempfile.mkdtemp(prefix="eos_flush_")
    events = stream_events_with_final_flush(spark, sf_dir, work)
    sunk = run_to_memory(keyed_day_count_stream(events, key_col="event_type"))
    daily = sunk.filter(F.col("key").isNotNull()).select(
        F.col("key").alias("__k"),
        F.col("window_start").alias("__d"),
        F.col("c").alias("__c"),
    )
    return fano_finalize(daily, out_key_col="event_type")


@register(
    "streaming_robust_final",
    oracle="""
    WITH daily AS (
      SELECT event_type AS k, date_trunc('day', ts) AS d,
             CAST(FLOOR(sum(CAST(round(value*100) AS BIGINT)) / 100)
                  AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    calib AS (SELECT * FROM daily WHERE d < TIMESTAMP '2024-01-08'),
    hl AS (
      SELECT k, CAST(median(s) AS DOUBLE) / 2.0 AS hl
      FROM (
        SELECT a.k, CAST(a.y + b.y AS BIGINT) AS s
        FROM calib a JOIN calib b ON a.k = b.k AND a.d <= b.d
      ) GROUP BY k
    ),
    sn AS (
      SELECT k, round(1.1926 * CAST(median(im) AS DOUBLE), 6) + 0.0 AS sn
      FROM (
        SELECT a.k, a.d, CAST(median(abs(a.y - b.y)) AS DOUBLE) AS im
        FROM calib a JOIN calib b ON a.k = b.k AND a.d <> b.d
        GROUP BY a.k, a.d
      ) GROUP BY k
    )
    SELECT daily.k AS event_type, daily.d AS day, daily.y AS day_total,
           round((CAST(daily.y AS DOUBLE) - hl.hl) / sn.sn, 6) + 0.0 AS robust_z
    FROM daily JOIN hl ON daily.k = hl.k JOIN sn ON daily.k = sn.k
    WHERE daily.d >= TIMESTAMP '2024-01-08'
      AND abs(CAST(daily.y AS DOUBLE) - hl.hl) > 2.0 * sn.sn
    """,
    doc="Streaming robust control chart — the live twin of "
    "robust_daily_outliers, run the way robust monitoring is actually "
    "deployed: HL location and Sn scale are FROZEN on the calibration "
    "prefix (days before 2024-01-08, the conformal split convention) "
    "and live days are flagged against them. The stateful stage is a "
    "windowed cents SUM: ONE BIGINT per (key, open 1-day window) — "
    "constant in event volume; NULL keys/values stream through (the "
    "Benford pushdown lesson) and drop at finalize; EOS-sentinel "
    "flush closes every real window. The finalize is the SHARED "
    "robust_flag_finalize (cross-multiplied no-division flag), so "
    "twin, batch operator, and oracle cannot diverge. The oracle "
    "replays calibration estimators and post-split flags from raw "
    "events.",
)
def q_streaming_robust_final(spark: SparkSession, sf_dir: str) -> DataFrame:
    import tempfile

    from pyspark.sql import functions as F

    from flink_anomaly_spark.operators.anomaly import CONFORMAL_SPLIT_TS
    from flink_anomaly_spark.operators.mining import (
        _daily_units,
        hodges_lehmann_from_daily,
        robust_flag_finalize,
        sn_scale_from_daily,
    )
    from flink_anomaly_spark.streaming.pipelines import keyed_day_sum_stream
    from flink_anomaly_spark.tables import load_table

    work = tempfile.mkdtemp(prefix="eos_flush_")
    events = stream_events_with_final_flush(spark, sf_dir, work)
    sunk = run_to_memory(keyed_day_sum_stream(events, key_col="event_type"))
    split = F.lit(CONFORMAL_SPLIT_TS).cast("timestamp")
    daily = (
        sunk.filter(F.col("key").isNotNull())
        .filter(F.col("window_start") >= split)
        .select(
            F.col("key").alias("__k"),
            F.col("window_start").alias("__d"),
            F.expr("CAST(FLOOR(cents / 100) AS BIGINT)").alias("__y"),
        )
    )
    calib = load_table(spark, sf_dir, "events").filter(F.col("ts") < split)
    # one calibration scan + (key, day) agg feeds both frozen estimators
    calib_daily = persist(_daily_units(calib, "event_type", "ts", "value"))
    hl = hodges_lehmann_from_daily(calib_daily).select(
        "__k", F.col("hl_location").alias("__hl")
    )
    sn = sn_scale_from_daily(calib_daily).select(
        "__k", F.col("sn_scale").alias("__sn")
    )
    return robust_flag_finalize(daily, hl, sn, "event_type")
