"""Stateful streaming: per-key running concatenation with managed state.

The direct live analog of the reference's ``StatefulConcatenate``
(``Main.java:60-83``): keyed ``ValueState<String>`` accumulating the
concatenation, emitting the running prefix after every element.

Spark-first: ``applyInPandasWithState`` with a single-string state
schema (mirroring the reference's one ValueState). State lives in the
executor-side state store, checkpointed per micro-batch — at scale this
is RocksDB-backed and partitioned by the grouping key, so state never
centralizes.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

OUTPUT_SCHEMA = "key string, event_id long, running_concat string"
STATE_SCHEMA = "concat string"


def _concat_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per key: fold rows (sorted by ts, event_id across the WHOLE
    batch) into the state string, emitting the running prefix per row —
    the same emit-after-every-element behavior as Main.java:70-74.

    The group arrives as an iterator of Arrow chunks
    (maxRecordsPerBatch-sized) in unspecified order — chunks must be
    concatenated and sorted together; sorting each chunk independently
    would silently break the documented (ts, event_id) order for keys
    larger than one chunk. The group's batch must fit in worker memory
    (inherent to any total-order fold; same bound as applyInPandas).
    """
    (concat,) = state.get if state.exists else ("",)
    pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts", "event_id"])
    out_ids, out_prefix = [], []
    for eid in pdf["event_id"]:
        concat = f"{concat},{eid}" if concat else str(eid)
        out_ids.append(eid)
        out_prefix.append(concat)
    yield pd.DataFrame({"key": key[0], "event_id": out_ids, "running_concat": out_prefix})
    state.update((concat,))


def running_concat_stream(events: DataFrame, key: str = "event_type") -> DataFrame:
    """Keyed running-concat over a streaming DataFrame (F1 live)."""
    return (
        events.select(F.col(key).alias("key"), "event_id", "ts")
        .groupBy("key")
        .applyInPandasWithState(
            _concat_fn,
            OUTPUT_SCHEMA,
            STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Stateful streaming anomaly detection: per-key running z-score
# ---------------------------------------------------------------------------

ZSCORE_OUTPUT_SCHEMA = "key string, event_id long, n_prev long, z double, is_outlier int"
ZSCORE_STATE_SCHEMA = "n long, mean double, m2 double"


def _zscore_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per key: Welford running (n, mean, M2) state; each event is scored
    against the state BEFORE it is folded in (prefix statistics, so the
    score never sees its own value — the honest online-anomaly setup).
    z is emitted from n ≥ 2 with positive variance; the outlier flag
    requires a warm-up of n ≥ 10. Rows are folded in (ts, event_id)
    order across the whole batch (see _concat_fn on chunk handling).
    """
    import math

    n, mean, m2 = state.get if state.exists else (0, 0.0, 0.0)
    pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts", "event_id"])
    out_ids, out_n, out_z, out_flag = [], [], [], []
    for eid, x in zip(pdf["event_id"], pdf["value"]):
        x = float(x)
        z, flag = None, 0
        if n >= 2:
            var = m2 / (n - 1)
            if var > 0:
                # emitted unrounded; the stream builder F.rounds it
                # (Python round() is banker's — the oracle's isn't)
                z = (x - mean) / math.sqrt(var)
                if n >= 10 and abs(z) > 3:
                    flag = 1
        out_ids.append(eid)
        out_n.append(n)
        out_z.append(z)
        out_flag.append(flag)
        n += 1
        delta = x - mean
        mean += delta / n
        m2 += delta * (x - mean)
    yield pd.DataFrame(
        {
            "key": key[0],
            "event_id": out_ids,
            "n_prev": out_n,
            "z": pd.array(out_z, dtype="float64"),
            "is_outlier": out_flag,
        }
    )
    state.update((n, mean, m2))


def running_zscore_stream(events: DataFrame, key: str = "event_type") -> DataFrame:
    """Keyed online z-score anomaly detection over a streaming DataFrame
    — the numeric-state sibling of :func:`running_concat_stream`
    (ValueState<String> → ValueState<(long, double, double)>), honoring
    the reference's anomaly-hunting theme live. State is 3 scalars per
    key in the state store: O(|keys|) memory at any stream length.
    """
    return (
        events.select(F.col(key).alias("key"), "event_id", "ts", "value")
        .groupBy("key")
        .applyInPandasWithState(
            _zscore_fn,
            ZSCORE_OUTPUT_SCHEMA,
            ZSCORE_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
        .withColumn("z", F.round("z", 4) + F.lit(0.0))  # +0.0 folds IEEE -0.0
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
SESSION_STATE_SCHEMA = "start long, last long, n long"


def session_stream_custom(events: DataFrame, gap_ms: int = 30 * 60 * 1000) -> DataFrame:
    """Gap-based session windows as a CUSTOM stateful operator with
    EVENT-TIME TIMEOUTS — the applyInPandasWithState pattern the
    declarative ``F.session_window`` cannot demonstrate: per-key open-
    session state (start, last, count), in-batch closure when a later
    event's gap exceeds the threshold, and CROSS-BATCH closure when
    the watermark passes ``last + gap`` — Spark then invokes the
    function for the timed-out key with NO input rows
    (``state.hasTimedOut``), which emits the final session and clears
    the state. Emitted ``session_end`` is ``last + gap`` (the
    F.session_window convention), so results are comparable to the
    declarative sessionization row for row.

    State is one fixed-width tuple per OPEN session per key —
    bounded by active keys, evicted on timeout; at 100 TB scale the
    state store is RocksDB-backed and partitioned by user_id, exactly
    like the declarative operator's internal state."""

    gap_us = gap_ms * 1000

    def fn(key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        # state carries MICROSECOND epochs — the events table's native
        # precision; ms-flooring here would shift emitted session
        # bounds off the batch sessionization by sub-ms digits
        def emit(start_us: int, last_us: int, n: int) -> pd.DataFrame:
            return pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us + gap_us, unit="us")],
                    "n_events": [n],
                }
            )

        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield emit(start, last, n)
            return
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts", "event_id"])
        ts_us = (pdf["ts"].astype("int64") // 1_000).tolist()
        cur = state.get if state.exists else None
        for t in ts_us:
            if cur is not None and t - cur[1] >= gap_us:
                yield emit(*cur)
                cur = None
            if cur is None:
                cur = (t, t, 0)
            cur = (cur[0], t, cur[2] + 1)
        state.update(cur)
        # fire when the EVENT-TIME watermark passes the session's close
        # (timeout API is ms-precision: round UP so it never fires a
        # sub-ms early)
        state.setTimeoutTimestamp((cur[1] + gap_us + 999) // 1000)

    return (
        events.select("user_id", "event_id", "ts")
        .withWatermark("ts", "20 seconds")
        .groupBy("user_id")
        .applyInPandasWithState(
            fn,
            SESSION_OUTPUT_SCHEMA,
            SESSION_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Stateful streaming CUSUM changepoint alarms
# ---------------------------------------------------------------------------

CUSUM_OUTPUT_SCHEMA = "key string, event_id long, ts timestamp, pos_c long"
CUSUM_STATE_SCHEMA = "s long, smin long"


def _cusum_fn(
    key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
) -> Iterator[pd.DataFrame]:
    """Per key: Page's CUSUM recursion over integer cents. State is the
    running sum S of (x − μ0 − k) and its running minimum — two BIGINTs
    per key, the closed form of ``pos_t = max(0, pos_{t−1} + inc_t)``
    as ``pos_t = S_t − min(0, min_{j≤t} S_j)`` (the identical algebra
    the batch operator runs as window aggregates, so the EOS-flushed
    stream replays the batch result row-for-row). Integer arithmetic
    only — association-order-free, bit-identical to the oracle."""
    from flink_anomaly_spark.operators.mining import (
        CUSUM_H_C,
        CUSUM_K_C,
        CUSUM_TARGET_C,
    )

    s, smin = state.get if state.exists else (0, 0)
    pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts", "event_id"])
    out_ids, out_ts, out_pos = [], [], []
    drift = CUSUM_TARGET_C + CUSUM_K_C
    for eid, ts, x_c in zip(pdf["event_id"], pdf["ts"], pdf["x_c"]):
        s += int(x_c) - drift
        smin = min(smin, s)
        pos = s - min(0, smin)
        if pos > CUSUM_H_C:
            out_ids.append(eid)
            out_ts.append(ts)
            out_pos.append(pos)
    yield pd.DataFrame(
        {
            "key": [key[0]] * len(out_ids),
            "event_id": pd.array(out_ids, dtype="int64"),
            # explicit dtype so a zero-alarm batch still matches the schema
            "ts": pd.Series(out_ts, dtype="datetime64[ns]"),
            "pos_c": pd.array(out_pos, dtype="int64"),
        }
    )
    state.update((s, smin))


def cusum_alarm_stream(events: DataFrame, key: str = "event_type") -> DataFrame:
    """Keyed online CUSUM changepoint alarms over a streaming DataFrame
    — the sequential-analysis sibling of :func:`running_zscore_stream`
    (level-shift detection where z-score flags single spikes). The
    cents projection runs in Catalyst BEFORE the UDF so the Python side
    is pure integer folding; state is two BIGINTs per key regardless of
    stream length."""
    return (
        events.select(
            F.col(key).alias("key"),
            "event_id",
            "ts",
            F.round(F.col("value") * 100).cast("long").alias("x_c"),
        )
        .groupBy("key")
        .applyInPandasWithState(
            _cusum_fn,
            CUSUM_OUTPUT_SCHEMA,
            CUSUM_STATE_SCHEMA,
            "append",
            GroupStateTimeout.NoTimeout,
        )
    )


# ---------------------------------------------------------------------------
# Stateful streaming TWAP per (key, day) with event-time-timeout close
# ---------------------------------------------------------------------------

TWAP_OUTPUT_SCHEMA = (
    "key string, day timestamp, n_events long, active_us long, "
    "twap_num long, twap double"
)
TWAP_STATE_SCHEMA = "last_us long, last_c long, num long, gap long, n long"

_DAY_US = 86_400_000_000


def twap_stream(events: DataFrame, key: str = "event_type") -> DataFrame:
    """Keyed streaming TWAP (time-weighted average, LOCF-to-day-end) —
    the live twin of the batch ``twap_daily`` hyperfunction and the
    operator the declarative windowed aggs CANNOT express: the weight
    of each observation is the time UNTIL THE NEXT one, which needs
    per-(key, day) open state (last observation, accumulated integer
    numerator) and a DAY-CLOSE flush — the same event-time-timeout
    applyInPandasWithState pattern as :func:`session_stream_custom`.

    Per (key, day) the state is five BIGINTs; rows fold in (ts,
    event_id) order across the whole batch (chunk handling per
    _concat_fn); when the watermark passes day end (the EOS sentinel
    raises it at stream close, Flink max-watermark parity) the group
    times out, the last value is carried to day end and the final row
    emits — integer cents × integer µs gaps summed in BIGINT, ONE
    terminal division, so the EOS-flushed stream replays the batch
    operator row-for-row. The sentinel's own (key, day) group can
    never time out and never emits.
    """

    def fn(key_t: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        day_ts = pd.Timestamp(key_t[1])
        day_us = day_ts.value // 1_000
        if state.hasTimedOut:
            last_us, last_c, num, gap, n = state.get
            tail = day_us + _DAY_US - last_us
            num += last_c * tail
            gap += tail
            state.remove()
            yield pd.DataFrame(
                {
                    "key": [key_t[0]],
                    "day": [day_ts],
                    "n_events": pd.array([n], dtype="int64"),
                    "active_us": pd.array([gap], dtype="int64"),
                    "twap_num": pd.array([num], dtype="int64"),
                    "twap": pd.array([num / (100 * gap)], dtype="float64"),
                }
            )
            return
        pdf = pd.concat(list(pdfs), ignore_index=True).sort_values(["ts", "event_id"])
        ts_us = (pdf["ts"].astype("int64") // 1_000).tolist()
        cents = pdf["x_c"].tolist()
        cur = state.get if state.exists else None
        for t, c in zip(ts_us, cents):
            c = int(c)
            if cur is None:
                cur = (t, c, 0, 0, 1)
            else:
                last_us, last_c, num, gap, n = cur
                step = t - last_us
                # rows are sorted only WITHIN a micro-batch; a row for
                # an existing group arriving in a LATER batch with
                # ts < state.last_us would silently produce a negative
                # step and a wrong TWAP — fail loudly instead (round-10
                # ADVICE). Unreachable under the shipped source (one
                # events file + sentinel, maxFilesPerTrigger=1), but the
                # helper exposes multi-batch replay.
                if step < 0:
                    raise ValueError(
                        "twap_stream: out-of-order cross-batch arrival for "
                        f"group {key_t!r}: ts {t}us < state.last {last_us}us"
                    )
                cur = (t, c, num + last_c * step, gap + step, n + 1)
        state.update(cur)
        # fire when the event-time watermark passes day end (timeout API
        # is ms-precision; the day boundary is whole seconds, so this is
        # exact)
        state.setTimeoutTimestamp((day_us + _DAY_US) // 1_000)
        yield from ()

    return (
        events.select(
            F.col(key).alias("key"),
            F.date_trunc("day", F.col("ts")).alias("day"),
            "ts",
            "event_id",
            F.round(F.col("value") * 100).cast("long").alias("x_c"),
        )
        .withWatermark("ts", "20 seconds")
        .groupBy("key", "day")
        .applyInPandasWithState(
            fn,
            TWAP_OUTPUT_SCHEMA,
            TWAP_STATE_SCHEMA,
            "append",
            GroupStateTimeout.EventTimeTimeout,
        )
    )
