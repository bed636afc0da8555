"""Streaming pipelines: source → watermark → window agg → sink.

Reference semantics transposed (SURVEY §2.7, §3.2):
- ``assignTimestampsAndWatermarks(BoundedOutOfOrderness(20 s))``
  (TestFlinkStreams.java:68-75) → ``withWatermark("ts", "20 seconds")``
  — identical watermark = max-event-time − delay semantics.
- ``windowAll(TumblingEventTimeWindows)`` + ``maxBy`` (…:78-79) →
  ``groupBy(F.window(...)).agg(F.max_by(...))`` in append mode: windows
  emit exactly once, when the watermark passes window end.

``availableNow`` triggers drain the source deterministically, so these
run to completion inside tests and the driver's rows-only checks.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

#: Source size (bytes) of the most recently constructed streaming
#: source in this module — read by :func:`stream_state_partitions` to
#: size the query's state-store partition count from the DATA, not from
#: a constant. Runtime state (mutates as sources are built), excluded
#: from plan fingerprints like LAST_STATE_METRICS.
_STREAM_SOURCE_BYTES: int | None = None

#: Target bytes of source input per state partition. A streaming
#: stateful operator creates ONE state store instance per shuffle
#: partition, and every micro-batch pays a per-partition commit
#: (delta file write + fsync + maintenance) REGARDLESS of how few rows
#: the partition holds — so at small per-batch volume the fixed
#: per-partition commit cost dominates the whole query (guide §2.2's
#: many-tiny-blocks failure mode, state-store flavor). Measured at
#: sf0.1 (2 MB source, local[32], idle host, min-of-2):
#: 32 partitions → interval join 15.6 s, window_count_update 6.1 s,
#: two_level_agg 5.9 s; 4-6 partitions → 4.0 s / 2.9 s / 2.4 s;
#: 1 partition over-serializes (interval join 9.2 s). 512 KB/partition
#: lands sf0.1 at the measured sweet spot while growing linearly with
#: source volume.
_STATE_PARTITION_TARGET_BYTES = 512 * 1024


def stream_state_partitions(spark: SparkSession) -> int | None:
    """Scale-adaptive shuffle-partition count for a streaming query:
    ``ceil(source_bytes / 512 KB)`` clamped to [4, defaultParallelism].

    Derived from INPUT SIZE (guide §2: make partitioning scale-adaptive,
    not a constant tuned for local mode or the cluster): tiny replay
    sources get few state stores (the per-partition commit floor is the
    dominant cost there — measured numbers on
    ``_STATE_PARTITION_TARGET_BYTES``), a 100 TB source saturates the
    cluster width (``defaultParallelism`` — the cap a production
    deployment raises together with its core count). AQE cannot do this
    for streaming: stateful operators pin their partitioning at first
    checkpoint, so the count must be right at query start.

    Returns None when no streaming source has been built yet (callers
    leave the session conf untouched).
    """
    if _STREAM_SOURCE_BYTES is None:
        return None
    want = -(-_STREAM_SOURCE_BYTES // _STATE_PARTITION_TARGET_BYTES)  # ceil
    return max(4, min(spark.sparkContext.defaultParallelism, int(want)))


def _events_ts_schema(sf_dir: str) -> tuple[T.StructType, bool]:
    """(streaming read schema, needs nanos→µs conversion) for the events
    table — the data generator has shipped ``ts`` both as parquet
    TIMESTAMP(NANOS) (Spark's vectorized reader rejects it; read as
    int64 and truncate, matching DuckDB's NS→US cast and the batch
    ``tables.load_table`` path) and as TIMESTAMP(MICROS) (read natively
    as NTZ). Streaming needs the schema up front, so probe the footer.
    """
    import pyarrow.parquet as pq

    arrow_ts = pq.ParquetFile(os.path.join(sf_dir, "events.parquet")).schema_arrow.field("ts").type
    nanos = getattr(arrow_ts, "unit", None) == "ns"
    ts_field = T.StructField("ts", T.LongType() if nanos else T.TimestampNTZType())
    schema = T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            ts_field,
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    )
    return schema, nanos


def _events_source(
    spark: SparkSession,
    sf_dir: str,
    reader_dir: str,
    glob: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream reader over ``glob`` in ``reader_dir`` with the events
    schema of ``sf_dir``, ``ts`` as TIMESTAMP — the tail shared by the
    events stream sources. Records the events file's size for
    :func:`stream_state_partitions`."""
    global _STREAM_SOURCE_BYTES
    schema, nanos = _events_ts_schema(sf_dir)
    _STREAM_SOURCE_BYTES = os.path.getsize(os.path.join(sf_dir, "events.parquet"))
    if nanos:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # watermarks demand TIMESTAMP (not NTZ); with the session TZ pinned
    # to UTC the NTZ→LTZ cast is an exact epoch mapping
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    reader = spark.readStream.schema(schema).option("pathGlobFilter", glob)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    raw = reader.parquet(reader_dir)
    if nanos:
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded streaming DataFrame over the events table (file-stream
    source — each parquet file is a micro-batch input split).
    """
    return _events_source(spark, sf_dir, sf_dir, "events.parquet")


def windowed_count_stream(events: DataFrame, duration: str = "1 day") -> DataFrame:
    """Keyed tumbling-window count/sum with a 20 s watermark — the
    streaming twin of the batch ``window_count_agg`` query."""
    return (
        events.withWatermark("ts", "20 seconds")
        .groupBy(F.window("ts", duration).alias("win"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def windowed_argmax_stream(events: DataFrame, duration: str = "1 hour") -> DataFrame:
    """Streaming whole-record arg-max per tumbling window (W2+W3 live)."""
    rec = F.max_by(
        F.struct("event_id", "user_id", "event_type", "value"),
        F.struct(F.col("value"), -F.col("event_id")),
    ).alias("rec")
    return (
        events.withWatermark("ts", "20 seconds")
        .groupBy(F.window("ts", duration).alias("win"))
        .agg(rec)
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            F.col("rec.*"),
        )
    )


def hll_register_stream(
    events: DataFrame,
    key_col: str = "user_id",
    p: int = 8,
    duration: str = "1 hour",
) -> DataFrame:
    """Streaming per-window HyperLogLog register build — the sketch
    family married to the streaming surface (VERDICT r6 #8): the
    stateless md5 → (bucket, ρ) projection runs per event (shared with
    the batch sketch via ``hll_bucket_rho`` so engine and oracle cannot
    drift), and the stateful stage is a plain windowed ``max`` per
    (window, bucket) — state is ≤ 2^p register rows per open window,
    CONSTANT in the number of events, which is the whole point of
    carrying a sketch instead of a distinct-set in the state store.
    Finalized registers feed :func:`~flink_anomaly_spark.operators.\
sketches.hll_windowed_estimate` batch-side (the serve-layer split the
    topk-per-window query uses)."""
    from flink_anomaly_spark.operators.sketches import hll_bucket_rho

    bucket, rho = hll_bucket_rho(F.col(key_col), p)
    return (
        events.filter(F.col(key_col).isNotNull())
        .select("ts", bucket.alias("bucket"), rho.alias("rho"))
        .withWatermark("ts", "20 seconds")
        .groupBy(F.window("ts", duration).alias("win"), "bucket")
        .agg(F.max("rho").alias("reg"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "bucket",
            "reg",
        )
    )


def hist_bin_stream(
    events: DataFrame,
    value_col: str = "value",
    duration: str = "1 day",
) -> DataFrame:
    """Streaming per-window fixed-edge histogram build — the
    distribution-DRIFT sketch on the streaming surface (VERDICT r8 #4):
    the stateless bin projection is
    :func:`~flink_anomaly_spark.operators.mining.tv_hist_bin` (shared
    with the batch drift screen so twin and oracle cannot diverge), and
    the stateful stage is a plain windowed count per (window, bin) —
    state is ≤ TV_N_BINS rows per open window, CONSTANT in event
    volume, the same hold-a-sketch-not-the-data argument as the HLL /
    CMS / k-mins streams. Finalized counts feed
    :func:`~flink_anomaly_spark.operators.mining.tv_drift_finalize`
    batch-side against the broadcast reference histogram (the
    serve-layer split all sketch finals use)."""
    from flink_anomaly_spark.operators.mining import tv_hist_bin

    return (
        events.filter(F.col(value_col).isNotNull())
        .select("ts", tv_hist_bin(value_col).alias("bin"))
        .withWatermark("ts", "20 seconds")
        .groupBy(F.window("ts", duration).alias("win"), "bin")
        .agg(F.count("*").cast("bigint").alias("c"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "bin",
            "c",
        )
    )


def conformal_flag_stream(
    events: DataFrame,
    ge_map: DataFrame,
    value_col: str = "value",
    duration: str = "1 day",
) -> DataFrame:
    """Streaming per-window conformal anomaly-rate monitor — the online
    twin of the batch split-conformal screen (VERDICT r9 missing #1):
    each event statelessly looks up its calibration exceedance count in
    the BROADCAST frozen map (``conformal_ge_map``, shared with the
    batch operator so twin and oracle cannot diverge — a stream-static
    broadcast hash join, no streaming state), decides the INTEGER
    anomaly flag (``conformal_anom_flag``: the conformal p <= alpha
    condition cross-multiplied, no division in the row path), and the
    stateful stage keeps TWO BIGINTs per open window (scored count,
    anomaly count) — CONSTANT in event volume, the hold-a-sketch
    argument of the TV-drift/Benford screens.

    Sentinel/watermark discipline (the Benford lesson): the map join
    is LEFT so no row — the EOS sentinel included — is dropped before
    the aggregation; unmapped rows stream through with a 0 scored-count
    contribution and the finalize excludes pre-split windows (the
    sentinel's own window never finalizes by construction). Finalized
    counts feed
    :func:`~flink_anomaly_spark.operators.anomaly.conformal_windowed_rates`
    batch-side (the serve-layer split all sketch finals use).
    """
    from flink_anomaly_spark.operators.anomaly import conformal_anom_flag

    cents = F.round(F.col(value_col) * 100).cast("bigint")
    mapped = (
        events.filter(F.col(value_col).isNotNull())
        .select("ts", cents.alias("__s"))
        .withWatermark("ts", "20 seconds")
        .join(F.broadcast(ge_map), "__s", "left")
    )
    scored = F.when(F.col("__ge").isNotNull(), F.lit(1)).otherwise(F.lit(0))
    anom = F.when(
        F.col("__ge").isNotNull(),
        conformal_anom_flag(F.col("__ge"), F.col("__n")),
    ).otherwise(F.lit(0))
    return (
        mapped.select("ts", scored.alias("__scored"), anom.alias("__anom"))
        .groupBy(F.window("ts", duration).alias("win"))
        .agg(
            F.sum("__scored").cast("bigint").alias("n_scored"),
            F.sum("__anom").cast("bigint").alias("n_anom"),
        )
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_scored",
            "n_anom",
        )
    )


def keyed_day_count_stream(
    events: DataFrame,
    key_col: str = "event_type",
    duration: str = "1 day",
) -> DataFrame:
    """Streaming per-(key, window) event count — the live feed of the
    Fano burstiness screen (and any other daily-count statistic): a
    fully stateless projection, then a windowed count whose state is
    ONE BIGINT per (key, open window) — bounded by the key domain
    times open windows, constant in event volume. NULL keys stream
    through (the Benford no-pre-filter lesson: a key predicate would
    be pushed below the watermark and could drop the EOS sentinel);
    the finalize drops them. Finalized counts feed
    :func:`~flink_anomaly_spark.operators.mining.fano_finalize`
    batch-side (the serve-layer split all sketch finals use)."""
    return (
        events.select("ts", F.col(key_col).alias("key"))
        .withWatermark("ts", "20 seconds")
        .groupBy(F.window("ts", duration).alias("win"), "key")
        .agg(F.count("*").cast("bigint").alias("c"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "key",
            "c",
        )
    )


def cms_cell_stream(
    events: DataFrame,
    key_col: str = "user_id",
    d: int = 3,
    w: int = 16,
    duration: str = "1 hour",
) -> DataFrame:
    """Streaming per-window COUNT-MIN cell build — the frequency twin
    of :func:`hll_register_stream`: each event statelessly explodes to
    its ``d`` (row, bucket) cells (the salted-md5 bucketing shared with
    the batch sketch via ``_cms_bucket``), and the stateful stage is a
    plain windowed count per (window, row, bucket) — state is ≤ d·w
    cell rows per open window, CONSTANT in event volume. Finalized
    cells feed :func:`~flink_anomaly_spark.operators.sketches.\
cms_windowed_point_estimates` batch-side (serve-layer split)."""
    from flink_anomaly_spark.operators.sketches import _cms_bucket

    key = F.col(key_col).cast("string")
    rb = F.explode(
        F.array(
            *[
                F.struct(F.lit(r).alias("r"), _cms_bucket(key, r, w).alias("b"))
                for r in range(d)
            ]
        )
    ).alias("rb")
    return (
        events.filter(F.col(key_col).isNotNull())
        .select("ts", rb)
        .select("ts", F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
        .withWatermark("ts", "20 seconds")
        .groupBy(F.window("ts", duration).alias("win"), "r", "b")
        .agg(F.count("*").alias("cell"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "r",
            "b",
            "cell",
        )
    )


def sliding_count_stream(
    events: DataFrame, duration: str = "1 hour", slide: str = "30 minutes"
) -> DataFrame:
    """Streaming sliding-window aggregation (live twin of
    sliding_window_agg): each row lands in dur/slide windows; partial
    aggregation happens before the stateful window store."""
    return (
        events.withWatermark("ts", "20 seconds")
        .groupBy(F.window("ts", duration, slide).alias("win"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "n_events",
            "sum_value",
        )
    )


def session_count_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Streaming session windows (gap-merged in the state store)."""
    return (
        events.withWatermark("ts", "20 seconds")
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "user_id",
            "n_events",
        )
    )


def stream_stream_interval_join(
    events: DataFrame, max_gap_seconds: int = 600, how: str = "inner"
) -> DataFrame:
    """Stream-stream inner join with event-time bounds: pairs of events
    by the same user ≤ max_gap apart (the live twin of
    interval_event_pairs). Both sides carry watermarks so the join
    state store can evict rows once they can no longer match — the
    thing that keeps stream-stream join state bounded at scale."""
    left = (
        events.withWatermark("ts", "20 seconds")
        .select(F.col("user_id").alias("l_user"), F.col("event_id").alias("id1"), F.col("ts").alias("t1"))
    )
    right = (
        events.withWatermark("ts", "20 seconds")
        .select(F.col("user_id").alias("r_user"), F.col("event_id").alias("id2"), F.col("ts").alias("t2"))
    )
    cond = (
        (F.col("l_user") == F.col("r_user"))
        & (F.col("t2") > F.col("t1"))
        & (F.col("t2") <= F.col("t1") + F.expr(f"INTERVAL {max_gap_seconds} SECONDS"))
    )
    return left.join(right, cond, how).select(
        F.col("l_user").alias("user_id"),
        "id1",
        "id2",
        (F.unix_micros("t2") - F.unix_micros("t1")).alias("gap_us"),
    )


def streaming_dedup(events: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Streaming deduplication: drop repeats of the same key within the
    watermark horizon (``dropDuplicatesWithinWatermark`` — state for a
    key is evicted once the watermark passes it, keeping dedup state
    bounded; an unwatermarked dropDuplicates would grow state forever).
    The streaming face of the dedup family over an event/record feed.

    Keeps the FIRST ARRIVAL per key — which row that is depends on
    partition/task interleaving inside a micro-batch, so the output is
    correct-but-not-deterministic when key payloads differ (see
    docs/LIMITATIONS.md). For a deterministic, oracle-checkable
    representative use :func:`windowed_dedup_stream`.
    """
    return events.withWatermark("ts", "20 seconds").dropDuplicatesWithinWatermark(
        keys or ["event_id"]
    )


def windowed_dedup_stream(
    events: DataFrame,
    duration: str = "1 hour",
    keys: list[str] | None = None,
) -> DataFrame:
    """Deterministic streaming dedup: one representative per key per
    tumbling event-time window — the row with the MINIMUM (ts,
    event_id), via ``min_by`` over a watermarked windowed aggregation
    in append mode.

    Unlike :func:`streaming_dedup` (first ARRIVAL — a race), the kept
    row is a pure function of the data, so the single-batch
    availableNow finalization argument used for the other streaming
    oracles applies: emitted windows are exactly those with
    window_end ≤ max(event_time) − watermark, and within each the
    min-(ts, event_id) record is SQL-expressible (row_number = 1).
    State is bounded by |active windows × keys|, evicted at watermark
    passage — the same scale properties as the windowed aggregations.
    """
    keys = keys or ["user_id", "event_type"]
    rec = F.min_by(
        F.struct("event_id", "ts", "value"), F.struct(F.col("ts"), F.col("event_id"))
    ).alias("rec")
    return (
        events.withWatermark("ts", "20 seconds")
        .groupBy(F.window("ts", duration).alias("win"), *keys)
        .agg(rec, F.count("*").alias("n_dups"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            *keys,
            F.col("rec.event_id").alias("kept_event_id"),
            F.col("rec.ts").alias("kept_ts"),
            F.col("rec.value").alias("kept_value"),
            "n_dups",
        )
    )


def stream_events_with_final_flush(
    spark: SparkSession,
    sf_dir: str,
    work_dir: str,
    horizon: str = "3 days",
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming events source whose trailing event-time windows DO
    emit — Flink end-of-stream watermark parity (the last semantic gap
    vs the reference, round-3 verdict #5).

    Flink advances the watermark to ``Long.MAX_VALUE`` when a bounded
    source is exhausted, so ``testPrintWindowed``
    (TestFlinkStreams.java:78-82) sees its final window. Spark's
    append-mode file source never does: windows whose end lies within
    the watermark delay of max(event_time) stay in the state store and
    are dropped at query stop.

    This helper closes the gap with a SENTINEL ROW: the real events
    file is symlinked into ``work_dir`` alongside a one-row parquet
    file whose timestamp sits ``horizon`` past the real max(ts). When
    an availableNow run drains the directory, the watermark advances to
    ``sentinel_ts − delay``, which finalizes every REAL window — while
    the sentinel's own window can never finalize (its end is always
    beyond its own watermark), so the marker row never reaches the
    sink. Downstream pipelines therefore emit exactly the batch-query
    answer with no filtering and no special-casing.

    At scale this is the standard bounded-replay pattern: a terminal
    max-watermark marker in the source (Kafka tombstone / control
    topic), not a driver-side flush — state stays in the state store,
    nothing funnels through the driver. The single ``max(ts)`` lookup
    is a one-scalar index-build fetch (same class as the IVF centroid
    fetch), done once per source setup.

    ``horizon`` must exceed watermark delay + the largest downstream
    window duration so every real window end ≤ sentinel_ts − delay;
    the default clears the repo-wide maximum (1-day tumbling windows,
    20 s delay) with margin.
    """
    import pyarrow as pa
    import pyarrow.parquet as pq

    _, nanos = _events_ts_schema(sf_dir)
    os.makedirs(work_dir, exist_ok=True)
    link = os.path.join(work_dir, "events.parquet")
    if not os.path.lexists(link):
        os.symlink(os.path.join(sf_dir, "events.parquet"), link)

    sentinel_path = os.path.join(work_dir, "zz_eos_sentinel.parquet")
    if not os.path.exists(sentinel_path):
        from flink_anomaly_spark.tables import load_table

        max_ts = load_table(spark, sf_dir, "events").agg(F.max("ts")).collect()[0][0]
        sentinel_dt = max_ts + _parse_interval(horizon)
        if nanos:
            ts_arr = pa.array([int(sentinel_dt.timestamp() * 1_000_000) * 1000], pa.int64())
        else:
            ts_arr = pa.array([sentinel_dt], pa.timestamp("us"))
        tbl = pa.table(
            {
                "event_id": pa.array([-1], pa.int64()),
                "ts": ts_arr,
                "user_id": pa.array([-1], pa.int64()),
                "event_type": pa.array(["__eos__"], pa.string()),
                "value": pa.array([0.0], pa.float64()),
                "props": pa.array([None], pa.string()),
            }
        )
        pq.write_table(tbl, sentinel_path)
    # Spark's FileStreamSource orders files by MODIFICATION TIME (not
    # lexicographically), so the sentinel must carry a strictly newer
    # mtime than the (symlinked) events file or it could land in an
    # EARLIER micro-batch and the real events would be dropped as late
    # data under maxFilesPerTrigger. Make the ordering explicit instead
    # of relying on "freshly written is newest" (round-5 ADVICE fix).
    events_mtime = os.stat(link).st_mtime  # stat follows the symlink target
    sentinel_mtime = os.stat(sentinel_path).st_mtime
    if sentinel_mtime <= events_mtime:
        os.utime(sentinel_path, (events_mtime + 2.0, events_mtime + 2.0))
    assert os.stat(sentinel_path).st_mtime > os.stat(link).st_mtime, (
        "EOS sentinel must sort after the events file in the file "
        "stream's mtime order"
    )

    # with max_files_per_trigger, a multi-batch replay: real data and
    # the sentinel land in SEPARATE micro-batches (FileStreamSource
    # orders by mtime and the sentinel's mtime is forced newest above),
    # proving the flush doesn't depend on single-batch processing — the
    # watermark simply advances batch by batch and the final batch
    # emits the remaining windows, exactly like a live source reaching EOS
    return _events_source(spark, sf_dir, work_dir, "*.parquet", max_files_per_trigger)


def stream_events_multi_batch(
    spark: SparkSession, sf_dir: str, work_dir: str, n_chunks: int = 3
) -> DataFrame:
    """A TRULY-UNBOUNDED-shaped replay of the events table (VERDICT r4
    #4): the table is split into ``n_chunks`` ts-ordered parquet files
    with strictly increasing mtimes and streamed one file per
    micro-batch — so the watermark advances batch by batch and there
    is NO end-of-stream sentinel: exactly the situation of a live
    source that never exhausts, where append mode can never finalize
    the trailing windows and only update-mode emission surfaces them
    (``run_update_snapshot``).

    Chunks are ts-ordered, so no row is ever late relative to the
    watermark the previous chunk established — the replay exercises
    multi-batch state accumulation, not late-data dropping (the
    watermark-drop path is covered by streaming_window_count's append
    oracle)."""
    import pyarrow.parquet as pq2

    os.makedirs(work_dir, exist_ok=True)
    marker = os.path.join(work_dir, ".chunks_ready")
    if not os.path.exists(marker):
        tbl = pq2.read_table(os.path.join(sf_dir, "events.parquet"))
        tbl = tbl.sort_by([("ts", "ascending"), ("event_id", "ascending")])
        n = tbl.num_rows
        base = None
        for i in range(n_chunks):
            lo = i * n // n_chunks
            hi = (i + 1) * n // n_chunks
            path = os.path.join(work_dir, f"chunk_{i:03d}.parquet")
            pq2.write_table(tbl.slice(lo, hi - lo), path)
            if base is None:
                base = os.stat(path).st_mtime
            # FileStreamSource orders by mtime: force chunk i to sort
            # strictly before chunk i+1
            os.utime(path, (base + 2.0 * i, base + 2.0 * i))
        with open(marker, "w") as fh:
            fh.write(str(n_chunks))

    return _events_source(spark, sf_dir, work_dir, "chunk_*.parquet", 1)


import contextlib


@contextlib.contextmanager
def _state_partition_conf(spark: SparkSession):
    """Apply :func:`stream_state_partitions` to
    ``spark.sql.shuffle.partitions`` for the duration of ONE streaming
    query start+drain, then restore the session value — a stateful
    streaming operator reads the conf at query start and pins it in the
    checkpoint, while later BATCH queries in the same session must keep
    seeing the session's own width (the bench/gate loops share one
    session across hundreds of queries)."""
    n = stream_state_partitions(spark)
    if n is None:
        yield
        return
    key = "spark.sql.shuffle.partitions"
    prev = spark.conf.get(key)
    spark.conf.set(key, str(n))
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def run_update_snapshot(
    result: DataFrame,
    key_cols: list[str],
    update_log: list | None = None,
) -> DataFrame:
    """Execute a streaming aggregation in UPDATE output mode against a
    foreachBatch KV-upsert sink and return the final snapshot as a
    batch DataFrame.

    This is the canonical unbounded-source consumer shape: every
    micro-batch delivers only the CHANGED aggregate rows (including
    windows the watermark has not finalized — the trailing windows
    append mode never emits), and the sink overwrites those keys, so a
    reader of the sink always sees the current state of every window.
    Here the KV store is a driver-side dict keyed by ``key_cols`` —
    per batch it receives only changed aggregate rows (bounded by the
    touched key count, not the input rows); a production deployment
    swaps the dict for Redis/Cassandra/RocksDB with identical
    semantics and no driver bottleneck.

    ``update_log``, when given, receives one ``(batch_id, keys)`` tuple
    per non-empty micro-batch — the emission history that
    distinguishes update mode (same key updated repeatedly) from
    append mode (each key exactly once)."""
    snapshot: dict[tuple, tuple] = {}

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        rows = batch_df.collect()  # changed keys only — bounded
        if update_log is not None and rows:
            update_log.append((batch_id, [tuple(r[k] for k in key_cols) for r in rows]))
        for r in rows:
            snapshot[tuple(r[k] for k in key_cols)] = tuple(r)

    spark = result.sparkSession
    with _state_partition_conf(spark):
        q = (
            result.writeStream.outputMode("update")
            .foreachBatch(upsert)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.createDataFrame(list(snapshot.values()), schema=result.schema)


def _parse_interval(spec: str):
    """'3 days' / '36 hours' / '90 seconds' → datetime.timedelta."""
    import datetime

    n, unit = spec.split()
    unit = unit.rstrip("s") + "s"  # day/days → days
    return datetime.timedelta(**{unit: int(n)})


#: State-store metrics of the most recent :func:`run_to_memory`
#: execution: one entry per stateful operator in the plan, with the
#: MAX-over-micro-batches of rows held and bytes used — the numbers
#: that size executor memory / RocksDB disk at production watermark
#: lags (VERDICT r6 #6). Read by tools/bench_streaming.py right after
#: each timed run; None when the last stream had no stateful operator.
LAST_STATE_METRICS: list[dict] | None = None


def _capture_state_metrics(q) -> None:
    global LAST_STATE_METRICS
    ops: dict[int, dict] = {}
    try:
        progresses = q.recentProgress
    except Exception:
        LAST_STATE_METRICS = None
        return
    for prog in progresses:
        for i, so in enumerate(prog.get("stateOperators", []) or []):
            cur = ops.setdefault(
                i,
                {
                    "operator": so.get("operatorName", f"op{i}"),
                    "max_rows_total": 0,
                    "max_memory_bytes": 0,
                    "rows_updated": 0,
                    "rows_removed": 0,
                },
            )
            cur["max_rows_total"] = max(cur["max_rows_total"], so.get("numRowsTotal", 0))
            cur["max_memory_bytes"] = max(
                cur["max_memory_bytes"], so.get("memoryUsedBytes", 0)
            )
            cur["rows_updated"] += so.get("numRowsUpdated", 0)
            cur["rows_removed"] += so.get("numRowsRemoved", 0)
    LAST_STATE_METRICS = [ops[i] for i in sorted(ops)] or None


def run_to_memory(result: DataFrame, output_mode: str = "append") -> DataFrame:
    """Execute a streaming DataFrame to completion (availableNow) into a
    memory sink; return the sink contents as a batch DataFrame. State
    metrics of the run land in :data:`LAST_STATE_METRICS`."""
    name = f"mem_{uuid.uuid4().hex[:12]}"
    with _state_partition_conf(result.sparkSession):
        q = (
            result.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    _capture_state_metrics(q)
    return result.sparkSession.table(name)


def stream_text_roundtrip(spark: SparkSession, lines: list[str], base_dir: str) -> list[str]:
    """The reference's one asserted end-to-end test, live
    (TestFlinkStreams.java:98-128): text-file stream source → rolling
    text-file sink with checkpoint → read back.

    The reference's DefaultRollingPolicy (15 min rollover / 1 GiB) maps
    to micro-batch file commits + ``maxRecordsPerFile``.
    """
    in_dir = os.path.join(base_dir, "in")
    out_dir = os.path.join(base_dir, "out")
    ckpt = os.path.join(base_dir, "ckpt")
    os.makedirs(in_dir, exist_ok=True)
    with open(os.path.join(in_dir, "part0.txt"), "w") as f:
        f.write("\n".join(lines) + "\n")
    stream = spark.readStream.text(in_dir)
    q = (
        stream.writeStream.format("text")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    back = spark.read.text(out_dir)
    return sorted(r.value for r in back.collect())


def ohlc_stream(
    events: DataFrame,
    duration: str = "1 hour",
    key: str = "event_type",
) -> DataFrame:
    """Streaming OHLC bars (live twin of the batch ``ohlc_downsample``):
    per key and tumbling event-time window, open/high/low/close via
    min_by/max_by on a (ts, event_id) struct under a 20 s watermark.
    Append mode emits a bar once the watermark passes the window end;
    state per (key, window) is 4 doubles + the arg structs — bounded by
    |active windows × keys| and evicted at watermark passage.
    """
    ordk = F.struct(F.col("ts"), F.col("event_id"))
    return (
        events.withWatermark("ts", "20 seconds")
        .groupBy(F.window("ts", duration).alias("win"), key)
        .agg(
            F.min_by(F.col("value"), ordk).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by(F.col("value"), ordk).alias("close"),
            F.count("*").alias("n_events"),
        )
        .select(
            F.col("win.start").alias("bucket_start"),
            key,
            "open",
            "high",
            "low",
            "close",
            "n_events",
        )
    )


def dim_enriched_count_stream(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream–static enrichment join: the unbounded event stream joins a
    static dimension (hint-free — the customer dim is SF-proportional,
    so the per-micro-batch planner broadcasts it while its file-size
    estimate fits the threshold and shuffles past it; no state store
    involvement either way), then aggregates per dimension attribute
    under the usual 20 s watermark. The canonical "enrich clickstream
    with user profile" shape.
    """
    enriched = events.withWatermark("ts", "20 seconds").join(
        dim, events.user_id == dim.c_custkey
    )
    return (
        enriched.groupBy(F.window("ts", "1 day").alias("win"), "c_mktsegment")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            F.col("c_mktsegment").alias("mktsegment"),
            "n_events",
            "sum_value",
        )
    )


def two_level_window_stream(events: DataFrame) -> DataFrame:
    """CHAINED stateful aggregations in one streaming query (Spark ≥3.4
    multi-stateful-operator support): per-minute counts per event_type,
    re-windowed via ``window_time`` into hourly max/total — the
    downsample-then-rollup shape (metrics pipelines, OHLC-of-OHLC) that
    previously required two jobs with an intermediate sink. Both levels
    share the 20 s watermark; an hour finalizes only when its last
    minute did, so append mode emits exactly the hours with
    end ≤ watermark."""
    minute = (
        events.withWatermark("ts", "20 seconds")
        .groupBy(F.window("ts", "1 minute").alias("w1"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    return (
        minute.groupBy(F.window(F.window_time("w1"), "1 hour").alias("w2"), "event_type")
        .agg(F.max("n").alias("max_minute_n"), F.sum("n").alias("total"))
        .select(
            F.col("w2.start").alias("window_start"),
            F.col("w2.end").alias("window_end"),
            "event_type",
            "max_minute_n",
            "total",
        )
    )


def kmins_register_stream(
    events: DataFrame,
    key_col: str = "user_id",
    k: int = 16,
    duration: str = "1 hour",
) -> DataFrame:
    """Streaming per-window k-mins register build — the register-MIN
    sibling of :func:`hll_register_stream` (register max) and the
    third classical cardinality-estimator family after KMV's order
    statistics: each event statelessly explodes to its ``k`` salted
    32-bit hashes, the stateful stage is a windowed ``min`` per
    (window, salt) — state is exactly ``k`` register rows per open
    window, constant in event volume. The k× stateless row fan-out is
    the k-mins cost model (HLL pays 1 row/event but needs ln at
    finalize; k-mins stays libm-free end to end). Finalized registers
    feed :func:`~flink_anomaly_spark.operators.sketches.\
kmins_windowed_estimate` batch-side (serve-layer split)."""
    from flink_anomaly_spark.operators.sketches import kmins_salt_hash

    key = F.col(key_col)
    sh = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(s).alias("salt"), kmins_salt_hash(key, s).alias("h")
                )
                for s in range(k)
            ]
        )
    ).alias("sh")
    return (
        events.filter(key.isNotNull())
        .select("ts", sh)
        .select("ts", F.col("sh.salt").alias("salt"), F.col("sh.h").alias("h"))
        .withWatermark("ts", "20 seconds")
        .groupBy(F.window("ts", duration).alias("win"), "salt")
        .agg(F.min("h").alias("hmin"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "salt",
            "hmin",
        )
    )


def benford_digit_stream(
    events: DataFrame,
    value_col: str = "value",
    duration: str = "1 day",
) -> DataFrame:
    """Streaming per-window leading-digit histogram build — the
    Benford's-law forensic screen on the streaming surface: each event
    statelessly maps to the first decimal digit of its integer cents
    (the projection shared with the batch screen,
    operators/anomaly.benford_deviation), and the stateful stage is a
    plain windowed count per (window, digit) — state is ≤ 11 rows per
    open window (digits 1-9 plus the 0/NULL rows of non-positive
    cents), CONSTANT in event volume (the hold-a-sketch argument of
    the HLL / CMS / TV-drift streams).

    NO pre-aggregation domain filter: a ``cents > 0`` predicate is
    deterministic and not on the event-time column, so Catalyst pushes
    it BELOW the EventTimeWatermark node — which silently drops the
    EOS sentinel (value 0.0) before it can advance the watermark, and
    the final real window never flushes (measured: 29/30 windows at
    sf0.01). Instead every row streams through (the TV-drift shape)
    and the finalize excludes digits outside 1-9; the sentinel's own
    window never finalizes by construction. Finalized digit counts feed
    :func:`~flink_anomaly_spark.operators.anomaly.benford_windowed_chi2`
    batch-side (the serve-layer split all sketch finals use).
    """
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    # non-positive cents map to digit 0 ("0...") or NULL ("-..."),
    # excluded at finalize — never filtered here (see docstring)
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    return (
        events.filter(F.col(value_col).isNotNull())
        .select("ts", digit.alias("digit"))
        .withWatermark("ts", "20 seconds")
        .groupBy(F.window("ts", duration).alias("win"), "digit")
        .agg(F.count("*").cast("bigint").alias("c"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "digit",
            "c",
        )
    )


def keyed_day_sum_stream(
    events: DataFrame,
    key_col: str = "event_type",
    value_col: str = "value",
    duration: str = "1 day",
) -> DataFrame:
    """Streaming per-(key, window) integer-cents revenue total — the
    live feed of the robust control chart (and any daily-total
    statistic): a stateless cents projection, then a windowed sum whose
    state is ONE BIGINT per (key, open window) — bounded by the key
    domain times open windows, constant in event volume. NULL keys and
    NULL values stream through un-filtered (the Benford no-pre-filter
    lesson: a predicate would be pushed below the watermark and could
    drop the EOS sentinel; ``sum`` skips NULL cents natively) and the
    finalize drops them. Finalized cents feed
    :func:`~flink_anomaly_spark.operators.mining.robust_flag_finalize`
    batch-side against FROZEN calibration HL/Sn (the conformal
    frozen-map pattern)."""
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    return (
        events.select("ts", F.col(key_col).alias("key"), cents.alias("__c"))
        .withWatermark("ts", "20 seconds")
        .groupBy(F.window("ts", duration).alias("win"), "key")
        .agg(F.sum("__c").cast("bigint").alias("cents"))
        .select(
            F.col("win.start").alias("window_start"),
            F.col("win.end").alias("window_end"),
            "key",
            "cents",
        )
    )
