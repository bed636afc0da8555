"""Pattern-mining and decision-analysis operators: Pareto skyline,
market-basket pair mining, Theil–Sen robust trend, and CUSUM
changepoint detection.

Reference scope note: GlebSolovev/flink-anomaly (Main.java:23-58) is a
DataStream anomaly repro with none of these; they extend the engine's
anomaly/analytics families (SURVEY §2.9 breadth) the way a Flink user
would reach for next. Every operator is declarative DataFrame code —
no Python in the row path — and each documents the plan shape it must
keep at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from flink_anomaly_spark.resources import persist

# ---------------------------------------------------------------------------
# Pareto frontier (2D skyline)
# ---------------------------------------------------------------------------


def pareto_frontier_2d(
    df: DataFrame,
    minimize_col: str,
    maximize_col: str,
    bucket_width: float,
) -> DataFrame:
    """Rows not dominated under (minimize ``minimize_col``, maximize
    ``maximize_col``): no other row is ≤ on the minimize axis AND ≥ on
    the maximize axis with at least one strict inequality (Börzsönyi
    et al., "The Skyline Operator", ICDE 2001).

    Scalable 2D plan — prefix-max, not pairwise: a row (p, s) is
    dominated iff ``max(s' | p' < p) >= s`` or ``max(s' | p' <= p) > s``,
    so the skyline reduces to running maxima of ``maximize_col`` over
    the ``minimize_col`` order. Those maxima are computed TWO-PHASE to
    avoid the single-partition global-sort window anti-pattern (the
    global_rank_export shape): (1) aggregate to one row per distinct
    minimize value (map-side combine shrinks the exchange to |domain|),
    (2) running max WITHIN ``bucket_width``-wide value buckets — each
    bucket an independent partition, (3) a |buckets|-row prefix-max of
    per-bucket maxima (KBs — broadcast), folded in with ``greatest``.
    The final frame joins back to the input on the minimize value via
    broadcast. No shuffle ever carries more than one row per distinct
    minimize value; the input-sized side moves zero times.
    """
    p, s = F.col("__p"), F.col("__s")
    g = (
        df.select(F.col(minimize_col).alias("__p"), F.col(maximize_col).alias("__s"))
        .groupBy("__p")
        .agg(F.max("__s").alias("__mx"))
        .withColumn("__bkt", F.floor(p / F.lit(bucket_width)).cast("bigint"))
    )
    wb = Window.partitionBy("__bkt").orderBy("__p")
    g = g.withColumn(
        "__in_cum",
        F.max("__mx").over(wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    ).withColumn(
        "__in_strict",
        F.max("__mx").over(wb.rowsBetween(Window.unboundedPreceding, -1)),
    )
    bkts = g.groupBy("__bkt").agg(F.max("__mx").alias("__bmx"))
    # prefix-max over buckets: |buckets| rows total — the only
    # unpartitioned window, deliberately tiny (domain/bucket_width rows)
    wob = Window.orderBy("__bkt").rowsBetween(Window.unboundedPreceding, -1)
    bkts = bkts.select("__bkt", F.max("__bmx").over(wob).alias("__prev_bmx"))
    bounds = g.join(F.broadcast(bkts), "__bkt").select(
        "__p",
        # greatest() skips NULLs: NULL __in_strict (first row in bucket)
        # or NULL __prev_bmx (first bucket) fall through to the other
        F.greatest("__in_strict", "__prev_bmx").alias("__strict_mx"),
        F.greatest("__in_cum", "__prev_bmx").alias("__cum_mx"),
    )
    joined = df.join(
        F.broadcast(bounds), F.col(minimize_col) == F.col("__p"), "inner"
    )
    keep = (
        F.col("__strict_mx").isNull() | (F.col(maximize_col) > F.col("__strict_mx"))
    ) & (F.col(maximize_col) >= F.col("__cum_mx"))
    return joined.filter(keep).select(*df.columns)


# ---------------------------------------------------------------------------
# Market-basket frequent item pairs
# ---------------------------------------------------------------------------


def frequent_item_pairs(
    df: DataFrame,
    basket_col: str,
    item_col: str,
    max_basket_items: int = 50,
    top_k: int = 20,
) -> DataFrame:
    """Top-k co-occurring item pairs with support and lift (the pair
    stage of Apriori / "frequently bought together").

    Plan: distinct (basket, item) → basket-size cap → equi-self-join on
    the basket key with ``item_a < item_b`` → hash-agg pair counts →
    TakeOrderedAndProject for the top-k (count desc, pair asc — total
    order, never a global sort) → two broadcast joins against the
    |items|-bounded item-frequency table for lift.

    Scale: the self-join shuffles each basket's items once, keyed by
    basket; a basket of n items emits n(n-1)/2 pairs, so the
    ``max_basket_items`` cap bounds the blow-up at cap²/2 per basket
    (mega-baskets are catalog crawls, not signal — the standard
    market-basket guard). Pair counting is map-side combinable; only
    (item, item, count) triples reach the reduce side.
    """
    items = df.select(
        F.col(basket_col).alias("__bk"), F.col(item_col).alias("__it")
    ).distinct()
    sized = items.groupBy("__bk").agg(F.count("*").alias("__n_items"))
    ok = sized.filter(F.col("__n_items") <= max_basket_items).select("__bk")
    # persisted: three consumers (pair join, item frequencies, basket
    # total) would otherwise each replay distinct + cap — the winnowing
    # shared-frame pattern
    items = persist(items.join(ok, "__bk"))
    pairs = (
        items.alias("a")
        .join(items.alias("b"), "__bk")
        .filter(F.col("a.__it") < F.col("b.__it"))
        .groupBy(F.col("a.__it").alias("__ia"), F.col("b.__it").alias("__ib"))
        .agg(F.count("*").alias("pair_count"))
    )
    top = pairs.orderBy(
        F.col("pair_count").desc(), F.col("__ia"), F.col("__ib")
    ).limit(top_k)
    freq = items.groupBy("__it").agg(F.count("*").alias("__cnt"))
    # lazy scalar: the basket count rides along as a broadcast 1-row
    # frame (no driver-side count during plan construction), derived
    # from the persisted items frame rather than replaying the cap scan
    nb = (
        items.select("__bk")
        .distinct()
        .agg(F.count("*").cast("bigint").alias("__n_baskets"))
    )
    fa = freq.select(F.col("__it").alias("__fa"), F.col("__cnt").alias("count_a"))
    fb = freq.select(F.col("__it").alias("__fb"), F.col("__cnt").alias("count_b"))
    return (
        top.join(F.broadcast(fa), F.col("__ia") == F.col("__fa"))
        .join(F.broadcast(fb), F.col("__ib") == F.col("__fb"))
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("__ia").alias("item_a"),
            F.col("__ib").alias("item_b"),
            F.col("pair_count").cast("bigint").alias("pair_count"),
            F.col("count_a").cast("bigint").alias("count_a"),
            F.col("count_b").cast("bigint").alias("count_b"),
            (
                F.round(
                    F.col("pair_count")
                    * F.col("__n_baskets")
                    / (F.col("count_a") * F.col("count_b")),
                    4,
                )
                + F.lit(0.0)
            ).alias("lift"),
        )
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust trend
# ---------------------------------------------------------------------------


def theil_sen_trend(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Theil–Sen slope: the median of all pairwise slopes
    between per-day mean values (Theil 1950 / Sen 1968) — the robust
    trend estimator (29% breakdown point vs OLS's zero).

    Plan: (1) pre-aggregate to per-(key, day) means — the O(n²) pair
    stage then runs over DAYS per key, bounded by the calendar (≤365²/2
    pairs/key/year) regardless of row count, which is what makes
    Theil–Sen feasible at 100 TB; (2) pair days within each key via an
    equi-self-join on the key (renamed columns — fresh exprs, one keyed
    exchange); (3) exact median via ``percentile`` in one hash-agg.

    Cross-engine determinism: day means are ``sum(round(v*100))/(100·n)``
    — integer cents accumulate association-order-free, the division is
    a single exactly-rounded op, so both engines see bit-identical
    slope multisets and the interpolated median matches exactly.
    """
    day = F.date_trunc("day", F.col(ts_col))
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    daily = (
        df.select(F.col(key_col).alias("__k"), day.alias("__d"), cents.alias("__c"))
        .groupBy("__k", "__d")
        .agg((F.sum("__c") / (F.lit(100.0) * F.count("*"))).alias("__v"))
    )
    slopes = (
        daily.alias("a")
        .join(daily.alias("b"), "__k")
        .filter(F.col("a.__d") < F.col("b.__d"))
        .select(
            "__k",
            (
                (F.col("b.__v") - F.col("a.__v"))
                / F.datediff(F.col("b.__d"), F.col("a.__d"))
            ).alias("__slope"),
        )
    )
    return slopes.groupBy("__k").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        (F.round(F.expr("percentile(__slope, 0.5)"), 6) + F.lit(0.0)).alias(
            "median_slope"
        ),
    ).select(F.col("__k").alias(key_col), "n_pairs", "median_slope")


# ---------------------------------------------------------------------------
# CUSUM changepoint detection
# ---------------------------------------------------------------------------

#: Tabular-CUSUM parameters shared by the batch and streaming queries
#: (integer CENTS so every accumulation is association-order-free and
#: bit-identical across engines — the scd2 cum_spend lesson).
CUSUM_TARGET_C = 5000  # reference level μ0 = 50.00
CUSUM_K_C = 2500  # slack k = 25.00 (≈ σ/2 for this corpus)
CUSUM_H_C = 30000  # decision threshold h = 300.00


def _cusum_cols(ts_col: str, order_col: str, key: str, x_cents: Column):
    """Positive/negative CUSUM statistics as window columns.

    Page's recursion ``pos_t = max(0, pos_{t-1} + (x_t − μ0 − k))`` is
    not a windowable cumsum, but its closed form is:
    ``pos_t = S_t − min(0, min_{j≤t} S_j)`` with ``S_t = Σ(x − μ0 − k)``
    — a cumulative sum minus its running minimum, both single-pass
    window aggregates over one (key, ts) sort. All integer cents.
    """
    w = (
        Window.partitionBy(key)
        .orderBy(ts_col, order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    inc_pos = x_cents - F.lit(CUSUM_TARGET_C + CUSUM_K_C)
    inc_neg = F.lit(CUSUM_TARGET_C - CUSUM_K_C) - x_cents
    s_pos = F.sum(inc_pos).over(w)
    s_neg = F.sum(inc_neg).over(w)
    pos = s_pos - F.least(F.lit(0), F.min(s_pos).over(w))
    neg = s_neg - F.least(F.lit(0), F.min(s_neg).over(w))
    return pos, neg


def cusum_alarms(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Event-level CUSUM alarms (Page 1954): one row per event whose
    positive CUSUM statistic exceeds ``CUSUM_H_C`` — a sustained upward
    level shift, the classic SPC changepoint signal (and the batch twin
    replayed by the streaming operator's oracle).

    One keyed sort computes S, its running min, and the statistic;
    keys are bounded-cardinality stream identities (event types), the
    sequential scan per key is inherent to CUSUM's recursion — the
    same key-serial shape as any keyed Flink ValueState operator.
    """
    x_c = F.round(F.col(value_col) * 100).cast("bigint")
    pos, _neg = _cusum_cols(ts_col, order_col, key_col, x_c)
    return (
        df.select(
            F.col(key_col),
            F.col(ts_col),
            F.col(order_col),
            pos.alias("pos_c"),
        )
        .filter(F.col("pos_c") > F.lit(CUSUM_H_C))
        .select(
            key_col,
            order_col,
            ts_col,
            F.col("pos_c").cast("bigint").alias("pos_c"),
        )
    )


def cusum_changepoint_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key two-sided CUSUM summary: alarm counts, statistic maxima
    (back in value units), and the first upward-alarm timestamp. Both
    sides share one window sort (same partition/order spec ⇒ Catalyst
    folds them into a single Window node / one exchange+sort)."""
    x_c = F.round(F.col(value_col) * 100).cast("bigint")
    pos, neg = _cusum_cols(ts_col, order_col, key_col, x_c)
    h = F.lit(CUSUM_H_C)
    scored = df.select(
        F.col(key_col).alias("__k"),
        F.col(ts_col).alias("__ts"),
        pos.alias("__pos"),
        neg.alias("__neg"),
    )
    return (
        scored.groupBy("__k")
        .agg(
            F.count(F.when(F.col("__pos") > h, 1)).cast("bigint").alias("n_pos_alarms"),
            F.count(F.when(F.col("__neg") > h, 1)).cast("bigint").alias("n_neg_alarms"),
            (F.max("__pos") / 100.0).alias("max_pos"),
            (F.max("__neg") / 100.0).alias("max_neg"),
            F.min(F.when(F.col("__pos") > h, F.col("__ts"))).alias("first_pos_alarm_ts"),
        )
        .select(
            F.col("__k").alias(key_col),
            "n_pos_alarms",
            "n_neg_alarms",
            "max_pos",
            "max_neg",
            "first_pos_alarm_ts",
        )
    )


def moving_median_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    window_days: int = 7,
) -> DataFrame:
    """Trailing moving MEDIAN of the last ``window_days`` OBSERVED
    per-day mean values per key — robust smoothing (a single corrupted
    day cannot move the curve, unlike a moving average).

    Window semantics are ROW-based over the per-day rows
    (``ROWS window_days−1 PRECEDING``), deliberately: a key with
    missing days medians its last ``window_days`` observations, which
    may span more calendar days — the "last N readings" convention of
    sparse telemetry. A strictly calendar-bounded variant would swap
    the frame for a ``rangeBetween`` over day epochs; the oracle
    mirrors the ROWS frame, and changing either alone breaks the
    bit-exact replay contract documented below.

    Spark has no median window aggregate; after the per-day
    pre-aggregation the frame per (key, day) holds ≤ ``window_days``
    values, so an exact median is a ``sort_array(collect_list(...))``
    over the row-bounded frame plus middle-element math — constant work
    per output row, NEVER a per-row O(n log n) over raw events (the day
    pre-agg is the scale move, as in Theil–Sen). Day means are
    integer-cents sums over counts ⇒ bit-identical inputs on both
    engines; the even-count midpoint average is one exactly-rounded op.
    """
    day = F.date_trunc("day", F.col(ts_col))
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    daily = (
        df.select(F.col(key_col).alias("__k"), day.alias("__d"), cents.alias("__c"))
        .groupBy("__k", "__d")
        .agg((F.sum("__c") / (F.lit(100.0) * F.count("*"))).alias("__v"))
    )
    w = (
        Window.partitionBy("__k")
        .orderBy("__d")
        .rowsBetween(-(window_days - 1), Window.currentRow)
    )
    arr = F.sort_array(F.collect_list("__v").over(w))
    n = F.size(arr)
    mid_hi = (n / 2 + 1).cast("int")  # 1-based upper middle
    mid_lo = (n / 2).cast("int")
    med = F.when(
        n % 2 == 1, F.element_at(arr, ((n + 1) / 2).cast("int"))
    ).otherwise((F.element_at(arr, mid_lo) + F.element_at(arr, mid_hi)) / 2.0)
    # emitted UNROUNDED: every input double is bit-identical across
    # engines (integer-cents day means) and the oracle replays the same
    # sort + midpoint ops, so the raw double matches exactly — while
    # round() itself is the divergence risk here (Spark rounds the
    # SHORTEST DECIMAL repr via BigDecimal, DuckDB rounds the binary
    # value; a midpoint landing on ...75e-4 flips between them,
    # observed at sf0.001)
    return daily.select(
        F.col("__k").alias(key_col),
        F.col("__d").alias("day"),
        n.cast("bigint").alias("n_days"),
        med.alias("moving_median"),
    )


#: Fixed-edge histogram config for the distribution-drift screens.
#: Edges are FIXED (integer-cents bins of width TV_BIN_CENTS, clamped
#: into [0, TV_N_BINS−1]) — the production drift-monitor convention
#: (PSI bins come from a frozen reference period, never from the live
#: window), and the property that makes the STREAMING twin possible:
#: an online operator cannot know the stream's global min/max.
TV_N_BINS = 16
TV_BIN_CENTS = 4000
#: Reference period: days strictly before this UTC date build the
#: reference histogram every day/window is compared against.
TV_REF_END = "2024-01-08"
#: Drift flag: tv > 1/(2·TV_DRIFT_DEN)·TV_DRIFT_NUM — evaluated as the
#: exact BIGINT cross-multiplication TV_DRIFT_MULT·tv_num > n_ref·n_day
#: (i.e. tv > 0.1), never a float threshold comparison.
TV_DRIFT_MULT = 5


def tv_hist_bin(value_col: str) -> Column:
    """Fixed-edge drift-histogram bin of ``value_col`` — SHARED by the
    batch screen and the streaming projection so engine, twin, and
    oracle cannot drift: integer cents, BIGINT floor-division by the
    bin width, clamped into [0, TV_N_BINS−1] (the clamp also absorbs
    the Spark-trunc vs DuckDB-floor divergence on negative cents)."""
    return F.expr(
        f"greatest(CAST(0 AS BIGINT), "
        f"least(CAST(round({value_col} * 100) AS BIGINT) DIV {TV_BIN_CENTS}, "
        f"{TV_N_BINS - 1}))"
    )


def tv_reference_hist(df: DataFrame, ts_col: str, value_col: str) -> DataFrame:
    """Reference histogram (bin, rc) from the frozen reference period
    (days strictly before TV_REF_END) — ≤ TV_N_BINS rows, the broadcast
    side of every drift comparison."""
    day = F.date_trunc("day", F.col(ts_col))
    return (
        df.filter(day < F.lit(TV_REF_END).cast("timestamp"))
        .select(tv_hist_bin(value_col).alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").cast("bigint").alias("rc"))
    )


def tv_drift_finalize(day_bins: DataFrame, ref: DataFrame) -> DataFrame:
    """Per-day total-variation drift vs the reference histogram.

    ``day_bins``: (day, bin, c) counts — from a batch groupBy or a
    finalized streaming window sink. ``ref``: (bin, rc).

    TV(day) = ½ Σ_b |c_b/N_day − rc_b/N_ref| is computed EXACTLY as
    the BIGINT numerator Σ_b |c_b·N_ref − rc_b·N_day| over the full
    fixed bin grid (missing bins count 0 on either side), then ONE
    correctly-rounded division by 2·N_ref·N_day — integer-exact where
    PSI's Σ(p−q)·ln(p/q) would ride libm ln (cross-engine divergent in
    the last ulp, the HBOS/priority-sampling lesson); TV is the
    standard distribution-drift metric with none of that exposure.
    The drift flag is the cross-multiplied integer comparison
    TV_DRIFT_MULT·tv_num > N_ref·N_day (τ = 0.1), never a float test.

    Scale: ref and the bin grid are broadcast (≤ TV_N_BINS rows); the
    only wide op upstream is the (day, bin) count agg — ≤ TV_N_BINS
    rows per day reach this finalize regardless of event volume.
    """
    spark = day_bins.sparkSession
    nref = ref.agg(F.sum("rc").cast("bigint").alias("__n_ref"))
    days = day_bins.groupBy("day").agg(F.sum("c").cast("bigint").alias("n_day"))
    bins = spark.range(TV_N_BINS).select(F.col("id").cast("bigint").alias("bin"))
    grid = days.crossJoin(F.broadcast(bins))
    term = F.abs(
        F.coalesce(F.col("c"), F.lit(0)) * F.col("__n_ref")
        - F.coalesce(F.col("rc"), F.lit(0)) * F.col("n_day")
    )
    return (
        grid.join(day_bins, ["day", "bin"], "left")
        .join(F.broadcast(ref), "bin", "left")
        .crossJoin(F.broadcast(nref))
        .groupBy("day", "n_day", "__n_ref")
        .agg(F.sum(term).cast("bigint").alias("tv_num"))
        .select(
            "day",
            "n_day",
            "tv_num",
            (
                F.col("tv_num").cast("double")
                / (F.lit(2) * F.col("__n_ref") * F.col("n_day")).cast("double")
            ).alias("tv"),
            (
                F.lit(TV_DRIFT_MULT) * F.col("tv_num")
                > F.col("__n_ref") * F.col("n_day")
            ).alias("drift"),
        )
    )


def tv_drift_oracle_sql(ts_col: str, value_col: str, table: str) -> str:
    """DuckDB oracle for the TV drift screens — one generator serves
    the batch query AND the streaming final (their results are defined
    to be identical), so engine, twin, and oracle share every constant
    and expression."""
    return f"""
    WITH b AS (
      SELECT date_trunc('day', {ts_col}) AS day,
             greatest(CAST(0 AS BIGINT),
                      least(CAST(round({value_col} * 100) AS BIGINT) // {TV_BIN_CENTS},
                            {TV_N_BINS - 1})) AS bin
      FROM {table}
    ),
    ref AS (SELECT bin, CAST(count(*) AS BIGINT) AS rc FROM b
            WHERE day < TIMESTAMP '{TV_REF_END}' GROUP BY bin),
    nr AS (SELECT CAST(sum(rc) AS BIGINT) AS n_ref FROM ref),
    dc AS (SELECT day, bin, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY day, bin),
    nd AS (SELECT day, CAST(sum(c) AS BIGINT) AS n_day FROM dc GROUP BY day),
    grid AS (SELECT nd.day, nd.n_day, t.bin
             FROM nd CROSS JOIN (SELECT unnest(range(0, {TV_N_BINS})) AS bin) t),
    terms AS (
      SELECT g.day, g.n_day, nr.n_ref,
             abs(coalesce(dc.c, 0) * nr.n_ref - coalesce(ref.rc, 0) * g.n_day) AS term
      FROM grid g
      LEFT JOIN dc ON dc.day = g.day AND dc.bin = g.bin
      LEFT JOIN ref ON ref.bin = g.bin
      CROSS JOIN nr
    )
    SELECT day, n_day, CAST(sum(term) AS BIGINT) AS tv_num,
           CAST(sum(term) AS DOUBLE) / CAST(2 * n_ref * n_day AS DOUBLE) AS tv,
           {TV_DRIFT_MULT} * CAST(sum(term) AS BIGINT) > n_ref * n_day AS drift
    FROM terms GROUP BY day, n_day, n_ref
    """


def tv_drift_daily(df: DataFrame, ts_col: str, value_col: str) -> DataFrame:
    """Batch distribution-drift screen: per-DAY total-variation distance
    of the value histogram against the frozen reference period — the
    batch twin of the streaming per-window drift monitor (they share
    :func:`tv_hist_bin`, :func:`tv_reference_hist`, and
    :func:`tv_drift_finalize`, so the two surfaces are the same
    operator by construction)."""
    day = F.date_trunc("day", F.col(ts_col))
    b = df.select(day.alias("day"), tv_hist_bin(value_col).alias("bin"))

    b = persist(b)  # two consumers: reference build + daily counts
    ref = (
        b.filter(F.col("day") < F.lit(TV_REF_END).cast("timestamp"))
        .groupBy("bin")
        .agg(F.count("*").cast("bigint").alias("rc"))
    )
    day_bins = b.groupBy("day", "bin").agg(F.count("*").cast("bigint").alias("c"))
    return tv_drift_finalize(day_bins, ref)


def twap_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    order_col: str,
    value_col: str,
) -> DataFrame:
    """Time-weighted average value per (key, day) over IRREGULARLY
    sampled events — the TWAP / time-weighted-average hyperfunction of
    time-series stores (TimescaleDB ``time_weight('LOCF', ...)``):
    each observation holds from its timestamp until the next
    observation (last-observation-carried-forward), the final one
    until day end, so a value that persisted 20 h dominates one that
    lasted 3 s — which a plain AVG (one vote per row) gets exactly
    wrong on event-driven data.

    Determinism: integer cents × integer µs gaps, summed in BIGINT
    (association-order-free), one terminal division. With cents ≤ 10^6
    and ≤ 86.4·10^9 µs per day the numerator stays < 10^17 — inside
    int64 on both engines (DuckDB raises on overflow; staying in range
    keeps both exact AND identical). Ties on ts are ordered by
    ``order_col`` so the gap-to-next assignment is reproducible.

    Scale shape: ONE exchange+sort on (key, day) drives both the
    lead() gap and the final hash-agg (the day boundary keeps window
    frames calendar-bounded); nothing else shuffles. The first
    observation's pre-history is NOT back-filled from the previous day
    — days are independent, which is what keeps the operator
    embarrassingly parallel across (key, day) at 100 TB.
    """
    day = F.date_trunc("day", F.col(ts_col))
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    day_end_us = F.unix_micros(
        (day + F.expr("INTERVAL 1 DAY")).cast("timestamp")
    )
    w = Window.partitionBy("__k", "__d").orderBy("__us", F.col("__o"))
    rows = df.select(
        F.col(key_col).alias("__k"),
        day.alias("__d"),
        F.col(order_col).alias("__o"),
        us.alias("__us"),
        day_end_us.alias("__end"),
        cents.alias("__c"),
    ).withColumn("__gap", F.coalesce(F.lead("__us").over(w), F.col("__end")) - F.col("__us"))
    return (
        rows.groupBy("__k", "__d")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum("__gap").cast("bigint").alias("active_us"),
            F.sum(F.col("__c") * F.col("__gap")).cast("bigint").alias("twap_num"),
        )
        .select(
            F.col("__k").alias(key_col),
            F.col("__d").alias("day"),
            "n_events",
            "active_us",
            "twap_num",
            (
                F.col("twap_num").cast("double")
                / (F.lit(100).cast("bigint") * F.col("active_us")).cast("double")
            ).alias("twap"),
        )
    )


def ks_drift_matrix(
    df: DataFrame,
    group_col: str,
    value_col: str,
) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov statistic for EVERY pair of
    groups — the distribution-drift screen a training-data pipeline
    runs between sources/snapshots before mixing them.

    Exactness at scale: the KS sup runs over the aggregated value GRID
    (distinct integer cents — bounded by the value domain, ~50k rows,
    NOT by corpus size), so the per-group ECDFs are cumulative integer
    counts over |groups| independent window partitions. The sup is
    selected by the INTEGER cross-multiplied key
    ``|cum_a·n_b − cum_b·n_a|`` (= |F_a−F_b|·n_a·n_b) — exact BIGINT
    compare, no float in selection (the libm/selection-key rule); the
    reported statistic is one exactly-rounded division, emitted
    unrounded. Requires n_a·n_b < 2^63 (~3·10⁹ rows per group) — past
    that, scale the key to 128-bit decimals.
    """
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    base = df.select(F.col(group_col).alias("__g"), cents.alias("__c"))
    grid = base.select("__c").distinct()
    groups = base.groupBy("__g").agg(F.count("*").alias("__n"))
    counts = base.groupBy("__g", "__c").agg(F.count("*").alias("__cnt"))
    dense = (
        grid.crossJoin(F.broadcast(groups.select("__g")))
        .join(counts, ["__g", "__c"], "left_outer")
        .select("__g", "__c", F.coalesce(F.col("__cnt"), F.lit(0)).alias("__cnt"))
    )
    w = (
        Window.partitionBy("__g")
        .orderBy("__c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )

    # persisted: the pair stage reads the ECDF frame twice (both sides
    # of the self-join); the frame is grid-bounded (|domain|·|groups|
    # rows), so the cache is small and saves a full corpus re-aggregation
    ecdf = persist(
        dense.withColumn("__cum", F.sum("__cnt").over(w)).select(
            "__g", "__c", "__cum"
        )
    )
    ga = groups.select(F.col("__g").alias("__ga"), F.col("__n").alias("n_a"))
    gb = groups.select(F.col("__g").alias("__gb"), F.col("__n").alias("n_b"))
    paired = (
        ecdf.alias("a")
        .join(ecdf.alias("b"), "__c")
        .filter(F.col("a.__g") < F.col("b.__g"))
        .select(
            F.col("a.__g").alias("__ga"),
            F.col("b.__g").alias("__gb"),
            F.col("a.__cum").alias("__ca"),
            F.col("b.__cum").alias("__cb"),
        )
        .join(F.broadcast(ga), "__ga")
        .join(F.broadcast(gb), "__gb")
    )
    key = F.abs(F.col("__ca") * F.col("n_b") - F.col("__cb") * F.col("n_a"))
    return (
        paired.groupBy("__ga", "__gb")
        .agg(
            F.max(key).alias("ks_num"),
            F.first("n_a").alias("n_a"),
            F.first("n_b").alias("n_b"),
        )
        .select(
            F.col("__ga").alias("group_a"),
            F.col("__gb").alias("group_b"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("ks_num").cast("bigint").alias("ks_num"),
            (
                F.col("ks_num").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double")
            ).alias("ks_stat"),
        )
    )


def seasonality_profile(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Hour-of-day seasonality index per key: mean value in the hour
    bucket relative to the key's overall mean — the multiplicative
    seasonal component of the classical decomposition, computed as ONE
    exactly-rounded division of exact integer-cents cross products
    (``(Σc_h·n) / (n_h·Σc)``), emitted unrounded. Two hash aggregations
    (hour level + key level) and a broadcast join; output is
    |keys|·24 rows."""
    hour = F.hour(F.col(ts_col))
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    base = df.select(
        F.col(key_col).alias("__k"), hour.alias("__h"), cents.alias("__c")
    )
    hourly = base.groupBy("__k", "__h").agg(
        F.sum("__c").alias("__sc_h"), F.count("*").alias("__n_h")
    )
    totals = base.groupBy("__k").agg(
        F.sum("__c").alias("__sc"), F.count("*").alias("__n")
    )
    return (
        hourly.join(F.broadcast(totals), "__k")
        .select(
            F.col("__k").alias(key_col),
            F.col("__h").cast("bigint").alias("hour"),
            F.col("__n_h").cast("bigint").alias("n_events"),
            (
                (F.col("__sc_h") * F.col("__n")).cast("double")
                / (F.col("__n_h") * F.col("__sc")).cast("double")
            ).alias("seasonality_idx"),
        )
    )


def gini_concentration(
    df: DataFrame,
    key_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Gini coefficient of an integer measure — the corpus
    inequality profile (how concentrated token mass is in a few long
    documents), the statistic behind 'a handful of documents dominate
    the training mix' reports.

    Exact and domain-bounded: over the sorted values,
    ``G = 2·Σ i·x_(i) / (n·Σx) − (n+1)/n``; grouping rows by DISTINCT
    VALUE first makes the rank sum a closed form per value
    (ranks of a tie-group are cum_before+1 … cum_before+m, so
    Σ i·x = Σ_v v·(m_v·cum_before_v + m_v(m_v+1)/2)) — the window runs
    over the VALUE DOMAIN per key, never the corpus (the KS/skyline
    pattern), and every term is exact BIGINT until the two final
    exactly-rounded divisions (emitted unrounded). Requires
    ``n²·max(x) < 2^63`` — past that, DECIMAL(38,0) the rank sum.
    """
    base = df.select(F.col(key_col).alias("__k"), F.col(value_col).alias("__x"))
    byval = base.groupBy("__k", "__x").agg(F.count("*").alias("__m"))
    w = (
        Window.partitionBy("__k")
        .orderBy("__x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = byval.withColumn("__cum", F.sum("__m").over(w)).withColumn(
        "__cb", F.col("__cum") - F.col("__m")
    )
    # DIV (integer division) keeps the tie-group rank sum in exact
    # BIGINT — `/` would detour through a double and lose exactness for
    # large tie groups; m(m+1) is always even so DIV 2 is lossless
    ranksum_v = F.col("__x") * (
        F.col("__m") * F.col("__cb") + F.expr("__m * (__m + 1) DIV 2")
    )
    agg = cum.groupBy("__k").agg(
        F.sum(F.col("__m")).cast("bigint").alias("__n"),
        F.sum(F.col("__x") * F.col("__m")).cast("bigint").alias("__t"),
        F.sum(ranksum_v).cast("bigint").alias("__s"),
    )
    gini = (2 * F.col("__s")).cast("double") / (
        F.col("__n") * F.col("__t")
    ).cast("double") - (F.col("__n") + 1).cast("double") / F.col("__n").cast(
        "double"
    )
    return agg.select(
        F.col("__k").alias(key_col),
        F.col("__n").alias("n_rows"),
        F.col("__t").alias("total"),
        gini.alias("gini"),
    )


# ---------------------------------------------------------------------------
# ROC-AUC (Mann-Whitney) of a score against a binary label
# ---------------------------------------------------------------------------


def score_auc(
    df: DataFrame,
    group_col: str,
    score_col: str,
    label_col: str,
) -> DataFrame:
    """Per-group ROC-AUC of an integer score against a 0/1 label via the
    Mann-Whitney U identity — the evaluation metric of every quality /
    toxicity / contamination classifier a data pipeline trains, computed
    without materializing the O(n_pos*n_neg) pair space.

    ``AUC = (R_pos - n_pos(n_pos+1)/2) / (n_pos*n_neg)`` with MIDRANKS
    for ties. Grouping rows by DISTINCT SCORE first makes the midrank
    sum a closed form per value (a tie-group of m rows starting after
    cum_before rows has midrank cum_before + (m+1)/2, so
    2*Sigma R_pos = Sigma_v p_v*(2*cb_v + m_v + 1)) — the window runs
    over the SCORE DOMAIN per group, never the corpus (the Gini/KS
    pattern), every term is exact BIGINT (the factor-2 form avoids the
    half-integer midrank), and the single terminal division is exactly
    rounded. Groups with an empty class are dropped (AUC undefined).
    Requires ``n^2 < 2^62`` — past that, DECIMAL(38,0) the rank sum.
    """
    base = df.select(
        F.col(group_col).alias("__g"),
        F.col(score_col).cast("bigint").alias("__s"),
        F.col(label_col).cast("int").alias("__y"),
    )
    byval = base.groupBy("__g", "__s").agg(
        F.count("*").alias("__m"),
        F.sum("__y").cast("bigint").alias("__p"),
    )
    w = (
        Window.partitionBy("__g")
        .orderBy("__s")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = byval.withColumn("__cum", F.sum("__m").over(w)).withColumn(
        "__cb", F.col("__cum") - F.col("__m")
    )
    ranksum2_v = F.col("__p") * (2 * F.col("__cb") + F.col("__m") + 1)
    agg = cum.groupBy("__g").agg(
        F.sum("__m").cast("bigint").alias("__n"),
        F.sum("__p").cast("bigint").alias("__np"),
        F.sum(ranksum2_v).cast("bigint").alias("__r2"),
    )
    n_neg = F.col("__n") - F.col("__np")
    u2 = F.col("__r2") - F.col("__np") * (F.col("__np") + 1)  # 2*U, exact
    return (
        agg.filter((F.col("__np") > 0) & (n_neg > 0))
        .select(
            F.col("__g").alias(group_col),
            F.col("__np").alias("n_pos"),
            n_neg.alias("n_neg"),
            F.round(
                u2.cast("double") / (2 * F.col("__np") * n_neg).cast("double"), 6
            ).alias("auc"),
        )
    )


# ---------------------------------------------------------------------------
# Per-key OLS trend over daily totals (closed form, integer-exact)
# ---------------------------------------------------------------------------


def ols_trend_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    epoch_date: str = "2024-01-01",
) -> DataFrame:
    """Per-key ordinary-least-squares trend of DAILY TOTALS against the
    day index — the parametric companion of ``theil_sen_trend`` (same
    day pre-aggregation, same calendar-bounded cost): slope, intercept
    and R^2 from the closed-form normal equations.

    Exactness: x is the small day index, y the day's total in WHOLE
    currency units — the exact integer-cents sum floor-divided by 100
    (an explicit ``FLOOR(cents / 100)`` on BOTH engines, so negative
    daily totals agree too — round-10 ADVICE; the double quotient is
    exact while |cents| < 2^53, far above any SF here) — so the five
    sufficient statistics (Sx, Sy, Sxy, Sxx, Syy) are EXACT BIGINT
    sums — association-order-free, bit-identical across engines — and
    slope/intercept/R^2 are scalar double expressions over them:
    slope = (n*Sxy − Sx*Sy)/(n*Sxx − Sx²), intercept by the symmetric
    closed form, R² as the squared correlation (numerator squared in
    DOUBLE — its BIGINT square would overflow first). Whole units keep
    ``n_days·max_day_total² < 2^63`` (Syy, the tightest moment)
    through a x1000 corpus scale-up — measured: cents overflowed the
    x100 probe, units clear it — past that, DECIMAL(38,0) the moments.
    Keys with < 2 days or zero x/y variance are dropped (undefined
    fit) on both engines. One map-side-combinable day agg, then a
    |keys|-row hash agg.
    """
    day = F.date_trunc("day", F.col(ts_col))
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    daily = (
        df.select(
            F.col(key_col).alias("__k"),
            F.datediff(day.cast("date"), F.lit(epoch_date).cast("date"))
            .cast("bigint")
            .alias("__x"),
            cents.alias("__c"),
        )
        .groupBy("__k", "__x")
        .agg(F.expr("CAST(FLOOR(sum(__c) / 100) AS BIGINT)").alias("__y"))
    )
    s = daily.groupBy("__k").agg(
        F.count("*").cast("bigint").alias("__n"),
        F.sum("__x").cast("bigint").alias("__sx"),
        F.sum("__y").cast("bigint").alias("__sy"),
        F.sum(F.col("__x") * F.col("__y")).cast("bigint").alias("__sxy"),
        F.sum(F.col("__x") * F.col("__x")).cast("bigint").alias("__sxx"),
        F.sum(F.col("__y") * F.col("__y")).cast("bigint").alias("__syy"),
    )
    num = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    denx = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    deny = F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    inum = F.col("__sy") * F.col("__sxx") - F.col("__sx") * F.col("__sxy")
    return (
        s.filter((F.col("__n") >= 2) & (denx > 0) & (deny > 0))
        .select(
            F.col("__k").alias(key_col),
            F.col("__n").alias("n_days"),
            F.round(num.cast("double") / denx.cast("double"), 6).alias(
                "slope_per_day"
            ),
            F.round(inum.cast("double") / denx.cast("double"), 6).alias(
                "intercept"
            ),
            F.round(
                num.cast("double") * num.cast("double")
                / (denx.cast("double") * deny.cast("double")),
                6,
            ).alias("r2"),
        )
    )


# ---------------------------------------------------------------------------
# Autocorrelation of daily totals (exact rational form)
# ---------------------------------------------------------------------------


def _daily_centered(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key daily deci-unit totals with the n-scaled centering the
    autocovariance family shares: ``__e = n·y − S`` is an EXACT BIGINT
    (clearing the rational mean S/n), so every downstream sum of
    products of ``__e`` values is association-order-free. One (key,
    day) hash agg + one unbounded key window."""
    day = F.date_trunc("day", F.col(ts_col))
    deci = F.round(F.col(value_col) * 10).cast("bigint")
    daily = (
        df.select(F.col(key_col).alias("__k"), day.alias("__d"), deci.alias("__c"))
        .groupBy("__k", "__d")
        .agg(F.sum("__c").cast("bigint").alias("__y"))
    )
    wall = Window.partitionBy("__k")
    return (
        daily.withColumn("__n", F.count("*").over(wall))
        .withColumn("__s", F.sum("__y").over(wall))
        .withColumn("__e", F.col("__n") * F.col("__y") - F.col("__s"))
    )


def _acf_sufficient_stats(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    max_lag: int,
) -> DataFrame:
    """Shared exact-BIGINT autocovariance sufficient statistics over
    daily deci-unit totals: per key ``__nd`` (day count), ``__den``
    (n²-scaled centered sum of squares) and ``__num1..__num{max_lag}``
    (n²-scaled centered cross-products at each lead). ``acf_daily``
    divides them directly; ``pacf_daily`` feeds them through the
    closed-form Durbin-Levinson unroll. ONE keyed exchange+sort serves
    the unbounded (n, S) window and every lead(k)."""
    cur = _daily_centered(df, key_col, ts_col, value_col)
    word = Window.partitionBy("__k").orderBy("__d")
    for k in range(1, max_lag + 1):
        cur = cur.withColumn(f"__e{k}", F.lead("__e", k).over(word))
    aggs = [
        F.sum(F.col("__e") * F.col("__e")).cast("bigint").alias("__den"),
        F.max("__n").alias("__nd"),
    ] + [
        F.sum(F.col("__e") * F.col(f"__e{k}")).cast("bigint").alias(f"__num{k}")
        for k in range(1, max_lag + 1)
    ]
    return cur.groupBy("__k").agg(*aggs)


def acf_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    max_lag: int = 3,
) -> DataFrame:
    """Per-key autocorrelation of DAILY TOTALS at lags 1..``max_lag`` —
    the seasonality/persistence screen run before any forecasting or
    drift model: ``acf_k = sum (y_t - m)(y_{t+k} - m) / sum (y_t - m)^2``
    over the observed day series (row-based lags, the
    moving_median_daily convention for gapped calendars).

    Exactness: the mean ``m = S/n`` is rational, so both sides are
    multiplied by n^2 — numerator ``sum (n*y_t - S)(n*y_{t+k} - S)``
    and denominator ``sum (n*y_t - S)^2`` are EXACT BIGINT
    (association-order-free), each acf one terminal division. Daily
    totals accumulate in DECI-units (``round(value*10)``) to keep
    ``n^2 * y^2`` inside int64 headroom at sf0.1 x10 (past that,
    DECIMAL(38,0) the cross-products). ONE keyed exchange+sort serves
    the unbounded (n, S) window and every lead(k); keys with zero
    variance or fewer than ``max_lag + 1`` days are dropped on both
    engines.
    """
    g = _acf_sufficient_stats(df, key_col, ts_col, value_col, max_lag)
    out_cols = [
        F.col("__k").alias(key_col),
        F.col("__nd").cast("bigint").alias("n_days"),
    ] + [
        (
            F.round(
                F.col(f"__num{k}").cast("double") / F.col("__den").cast("double"), 6
            )
            + F.lit(0.0)
        ).alias(f"acf{k}")
        for k in range(1, max_lag + 1)
    ]
    return g.filter((F.col("__den") > 0) & (F.col("__nd") > max_lag)).select(*out_cols)


def pacf_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key PARTIAL autocorrelation of daily totals at lags 1..3 —
    the AR-order-selection companion of ``acf_daily`` (Box & Jenkins:
    the PACF of an AR(p) process cuts off after lag p, where the ACF
    only decays; users read the two plots together). Computed by the
    Durbin-Levinson recursion (Durbin 1960) UNROLLED to closed form
    over the exact ACF ratios — at 3 lags the recursion is three
    algebraic steps, so it stays a per-key column expression (fully
    distributed, no driver-side fold, oracle-expressible):

        φ11 = ρ1
        φ22 = (ρ2 − ρ1²) / (1 − ρ1²)
        φ21 = ρ1 − φ22·ρ1
        φ33 = (ρ3 − φ21·ρ2 − φ22·ρ1) / (1 − φ21·ρ1 − φ22·ρ2)

    Determinism: ρk = numk/den over the SAME exact-BIGINT sufficient
    statistics as ``acf_daily`` (shared ``_acf_sufficient_stats`` — the
    two queries cannot diverge), and every subsequent +,−,×,÷ is an
    exactly-rounded IEEE double op written in the identical association
    order in the DuckDB oracle, so the unrounded doubles are
    bit-identical across engines; one terminal round(…, 6) + negative-
    zero guard per lag. Keys with zero variance, fewer than 4 days, or
    a degenerate level-2/3 innovation variance (|ρ|→1, denominator 0 —
    both engines filter on the same expression) are dropped.

    Scale shape: identical to acf_daily — one keyed exchange+sort for
    the windows, then a |keys|-row aggregate; the Durbin-Levinson
    algebra is free column math on the aggregate.
    """
    g = _acf_sufficient_stats(df, key_col, ts_col, value_col, 3)
    d = F.col("__den").cast("double")
    r1 = F.col("__num1").cast("double") / d
    r2 = F.col("__num2").cast("double") / d
    r3 = F.col("__num3").cast("double") / d
    phi11 = r1
    den2 = F.lit(1.0) - r1 * r1
    phi22 = (r2 - r1 * r1) / den2
    phi21 = r1 - phi22 * r1
    den3 = F.lit(1.0) - phi21 * r1 - phi22 * r2
    phi33 = (r3 - phi21 * r2 - phi22 * r1) / den3
    return (
        g.filter((F.col("__den") > 0) & (F.col("__nd") > 3))
        .filter((den2 != 0.0) & (den3 != 0.0))
        .select(
            F.col("__k").alias(key_col),
            F.col("__nd").cast("bigint").alias("n_days"),
            (F.round(phi11, 6) + F.lit(0.0)).alias("pacf1"),
            (F.round(phi22, 6) + F.lit(0.0)).alias("pacf2"),
            (F.round(phi33, 6) + F.lit(0.0)).alias("pacf3"),
        )
    )


# ---------------------------------------------------------------------------
# Mann-Kendall trend test over daily totals
# ---------------------------------------------------------------------------


def mann_kendall_trend(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Mann-Kendall trend TEST over daily totals (Mann 1945,
    Kendall's tau) — the significance companion of ``theil_sen_trend``
    (which gives the slope, this gives the z-score): ``S = sum over
    day pairs i<j of sign(y_j - y_i)``, tie-corrected variance
    ``18*Var = n(n-1)(2n+5) - sum_t t(t-1)(2t+5)``, and the
    continuity-corrected ``z = (S - sign(S)) / sqrt(Var)``.
    Distribution-free — no normality assumption, robust to outliers,
    the standard hydrology/monitoring trend screen.

    Exactness: daily totals are whole currency units (exact cents
    floor-divided by 100 — an explicit ``FLOOR(cents / 100)`` on BOTH
    engines so negative totals agree too, the ols_trend_daily
    convention); S and both
    variance terms are EXACT BIGINT (sign sums and closed-form tie
    counts — association-order-free); z is one deterministic
    sqrt+division over the integers, identical in both engines. The
    day pre-aggregation bounds the pair self-join by the CALENDAR
    (<= days^2/2 pairs per key, the Theil-Sen shape); tie groups come
    from a domain-sized (key, value) agg. Keys with < 2 days or zero
    variance (all days tied) are dropped on both engines.
    """
    day = F.date_trunc("day", F.col(ts_col))
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    daily = (
        df.select(F.col(key_col).alias("__k"), day.alias("__d"), cents.alias("__c"))
        .groupBy("__k", "__d")
        .agg(F.expr("CAST(FLOOR(sum(__c) / 100) AS BIGINT)").alias("__y"))
    )

    daily = persist(daily)
    a = daily.select("__k", F.col("__d").alias("__da"), F.col("__y").alias("__ya"))
    b = daily.select("__k", F.col("__d").alias("__db"), F.col("__y").alias("__yb"))
    s_stat = (
        a.join(b, "__k")
        .filter(F.col("__da") < F.col("__db"))
        .groupBy("__k")
        .agg(
            F.sum(F.signum(F.col("__yb") - F.col("__ya")).cast("bigint"))
            .cast("bigint")
            .alias("__s")
        )
    )
    base_var = daily.groupBy("__k").agg(F.count("*").cast("bigint").alias("__n"))
    ties = (
        daily.groupBy("__k", "__y")
        .agg(F.count("*").cast("bigint").alias("__t"))
        .groupBy("__k")
        .agg(
            F.sum(
                F.col("__t") * (F.col("__t") - 1) * (2 * F.col("__t") + 5)
            )
            .cast("bigint")
            .alias("__tiecorr")
        )
    )
    j = s_stat.join(base_var, "__k").join(ties, "__k")
    var18 = (
        F.col("__n") * (F.col("__n") - 1) * (2 * F.col("__n") + 5) - F.col("__tiecorr")
    )
    sgn = F.signum(F.col("__s")).cast("bigint")
    z = (F.col("__s") - sgn).cast("double") / F.sqrt(var18.cast("double") / 18.0)
    return (
        j.filter((F.col("__n") >= 2) & (var18 > 0))
        .select(
            F.col("__k").alias(key_col),
            F.col("__n").alias("n_days"),
            F.col("__s").alias("s_stat"),
            (F.round(z, 4) + F.lit(0.0)).alias("z_mk"),
            (F.abs(F.round(z, 4)) > F.lit(1.96)).alias("significant"),
        )
    )


# ---------------------------------------------------------------------------
# Spearman rank correlation over daily (count, total) pairs
# ---------------------------------------------------------------------------


def spearman_corr_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Spearman rank correlation between the DAILY EVENT COUNT
    and the DAILY TOTAL (whole currency units) — the nonparametric
    "does volume move with value?" screen (Spearman 1904): Pearson's r
    computed on midranks, robust to outliers and any monotone
    transform of either axis.

    Exactness — the integer-midrank trick: with ranks from ``RANK()``
    (min-rank) and tie-group sizes t, the midrank is ``r + (t-1)/2``,
    so DOUBLED midranks ``2r + t - 1`` are exact BIGINTs; Pearson on
    the doubled ranks equals Pearson on the midranks (scale
    invariance), so the five sufficient statistics are EXACT BIGINT
    sums (association-order-free) and rho is one fixed-shape
    double expression — sqrt is IEEE-correctly-rounded (the
    mann_kendall z convention), no libm divergence. Daily totals use
    the explicit FLOOR(cents/100) convention shared with
    ols_trend_daily.

    Scale shape: ONE map-side-combinable (key, day) agg; rank windows
    partition by KEY (days-per-key frames, calendar-bounded — never a
    global sort); one |keys|-row hash agg. Keys with < 3 days or a
    constant axis (zero rank variance) are dropped on both engines.
    """
    day = F.date_trunc("day", F.col(ts_col))
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    daily = (
        df.select(F.col(key_col).alias("__k"), day.alias("__d"), cents.alias("__c"))
        .groupBy("__k", "__d")
        .agg(
            F.count("*").cast("bigint").alias("__cnt"),
            F.expr("CAST(FLOOR(sum(__c) / 100) AS BIGINT)").alias("__y"),
        )
    )
    wx = Window.partitionBy("__k").orderBy("__cnt")
    wxt = Window.partitionBy("__k", "__cnt")
    wy = Window.partitionBy("__k").orderBy("__y")
    wyt = Window.partitionBy("__k", "__y")
    ranked = daily.select(
        "__k",
        (2 * F.rank().over(wx) + F.count("*").over(wxt) - 1)
        .cast("bigint")
        .alias("__rx"),
        (2 * F.rank().over(wy) + F.count("*").over(wyt) - 1)
        .cast("bigint")
        .alias("__ry"),
    )
    s = ranked.groupBy("__k").agg(
        F.count("*").cast("bigint").alias("__n"),
        F.sum("__rx").cast("bigint").alias("__sx"),
        F.sum("__ry").cast("bigint").alias("__sy"),
        F.sum(F.col("__rx") * F.col("__ry")).cast("bigint").alias("__sxy"),
        F.sum(F.col("__rx") * F.col("__rx")).cast("bigint").alias("__sxx"),
        F.sum(F.col("__ry") * F.col("__ry")).cast("bigint").alias("__syy"),
    )
    num = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    denx = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    deny = F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    rho = num.cast("double") / F.sqrt(denx.cast("double") * deny.cast("double"))
    return (
        s.filter((F.col("__n") >= 3) & (denx > 0) & (deny > 0))
        .select(
            F.col("__k").alias(key_col),
            F.col("__n").alias("n_days"),
            (F.round(rho, 6) + F.lit(0.0)).alias("spearman_rho"),
        )
    )


# ---------------------------------------------------------------------------
# Fano-factor burstiness of daily event counts
# ---------------------------------------------------------------------------


def fano_burstiness_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
) -> DataFrame:
    """Per-key Fano factor (index of dispersion, Fano 1947) of the
    DAILY EVENT COUNT: ``variance / mean`` of counts per day — the
    classic burstiness screen (1 = Poisson-like arrivals, > 1 =
    bursty/overdispersed traffic, the usual bot/incident signature in
    event telemetry; Church & Gale 1995 use the same statistic for
    term burstiness).

    Exactness: with biased variance, ``fano = (n*S2 - S1^2) / (n*S1)``
    over the EXACT BIGINT daily-count moments S1 = sum(c), S2 =
    sum(c^2) — one terminal division; the ``overdispersed`` flag is
    the pure INTEGER cross-multiplied comparison
    ``n*S2 - S1^2 > n*S1`` (variance > mean), no float boundary.
    Days with zero events do not exist as rows (no gap-fill) — the
    statistic is over OBSERVED days, identical on both engines.

    Scale shape: ONE map-side-combinable (key, day) count agg, then a
    |keys|-row hash agg. Keys with < 2 days or zero total are dropped.
    """
    day = F.date_trunc("day", F.col(ts_col))
    daily = (
        df.select(F.col(key_col).alias("__k"), day.alias("__d"))
        .groupBy("__k", "__d")
        .agg(F.count("*").cast("bigint").alias("__c"))
    )
    return fano_finalize(daily, out_key_col=key_col)


def fano_finalize(daily: DataFrame, out_key_col: str = "key") -> DataFrame:
    """The Fano moment aggregation over (``__k``, ``__d``, ``__c``)
    daily-count rows — SHARED between the batch operator and the
    streaming twin's serve-layer finalize (the conformal_ge_map /
    tv_hist_bin discipline: twin and oracle cannot diverge). Exact
    BIGINT moments, one terminal division, integer overdispersion
    flag; keys with < 2 days or zero total are dropped."""
    s = daily.groupBy("__k").agg(
        F.count("*").cast("bigint").alias("__n"),
        F.sum("__c").cast("bigint").alias("__s1"),
        F.sum(F.col("__c") * F.col("__c")).cast("bigint").alias("__s2"),
    )
    varnum = F.col("__n") * F.col("__s2") - F.col("__s1") * F.col("__s1")
    return (
        s.filter((F.col("__n") >= 2) & (F.col("__s1") > 0))
        .select(
            F.col("__k").alias(out_key_col),
            F.col("__n").alias("n_days"),
            F.col("__s1").alias("n_events"),
            F.round(
                F.col("__s1").cast("double") / F.col("__n").cast("double"), 6
            ).alias("mean_daily"),
            F.round(
                varnum.cast("double") / (F.col("__n") * F.col("__s1")).cast("double"),
                6,
            ).alias("fano_factor"),
            (varnum > F.col("__n") * F.col("__s1")).cast("int").alias("overdispersed"),
        )
    )


# ---------------------------------------------------------------------------
# Cohen's kappa agreement between two binary raters
# ---------------------------------------------------------------------------


def agreement_kappa(
    df: DataFrame,
    group_col: str,
    rater_a_col: str,
    rater_b_col: str,
) -> DataFrame:
    """Per-group Cohen's kappa (Cohen 1960) between two 0/1 raters —
    chance-corrected agreement, the standard way to compare two
    quality screens / labelers / filter stages beyond raw accuracy
    (kappa 0 = chance-level, 1 = perfect agreement).

    Exactness — the cross-multiplied closed form: from the integer
    2x2 contingency counts (a = both keep, b = A only, c = B only,
    d = both drop, N = a+b+c+d),

        kappa = (N*(a+d) - E) / (N*N - E),
        E     = (a+b)*(a+c) + (c+d)*(b+d)

    where E/N is the chance-agreement expectation — numerator and
    denominator are EXACT BIGINTs, kappa is ONE terminal division.
    Groups where raters are constant (denominator 0) are dropped on
    both engines.

    Scale shape: ONE map-side-combinable hash agg to |groups| rows of
    four BIGINT cells; everything after is per-group scalar math.
    """
    a_ = F.col(rater_a_col).cast("bigint")
    b_ = F.col(rater_b_col).cast("bigint")
    cells = df.groupBy(F.col(group_col).alias("__g")).agg(
        F.sum(a_ * b_).cast("bigint").alias("__a"),
        F.sum(a_ * (1 - b_)).cast("bigint").alias("__b"),
        F.sum((1 - a_) * b_).cast("bigint").alias("__c"),
        F.sum((1 - a_) * (1 - b_)).cast("bigint").alias("__d"),
    )
    n = F.col("__a") + F.col("__b") + F.col("__c") + F.col("__d")
    e = (F.col("__a") + F.col("__b")) * (F.col("__a") + F.col("__c")) + (
        F.col("__c") + F.col("__d")
    ) * (F.col("__b") + F.col("__d"))
    num = n * (F.col("__a") + F.col("__d")) - e
    den = n * n - e
    return cells.filter(den > 0).select(
        F.col("__g").alias(group_col),
        F.col("__a").alias("both_keep"),
        F.col("__b").alias("a_only"),
        F.col("__c").alias("b_only"),
        F.col("__d").alias("both_drop"),
        (F.round(num.cast("double") / den.cast("double"), 6) + F.lit(0.0)).alias(
            "kappa"
        ),
    )


# ---------------------------------------------------------------------------
# Cross-correlation of two keys' daily totals at small lags
# ---------------------------------------------------------------------------


def ccf_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    key_a: str,
    key_b: str,
    max_lag: int = 3,
    epoch_date: str = "2024-01-01",
) -> DataFrame:
    """Cross-correlation function between TWO keys' daily totals at
    lags 0..``max_lag``: Pearson correlation of series A's day-d total
    with series B's day-(d+lag) total — the lead/lag companion of
    ``acf_daily`` ("do errors today predict purchases tomorrow?"), the
    standard pairwise screen before any causal analysis of event
    telemetry.

    Exactness (the acf_daily convention): daily totals are whole units
    via the shared explicit FLOOR(cents/100); per lag, the five
    sufficient statistics over the matched (a_d, b_{d+lag}) pairs are
    EXACT BIGINT sums, and the correlation is one fixed-shape
    sqrt+division over them. Only days where BOTH series have a total
    enter a lag's sample (inner join — the overlap convention); lags
    with < 3 matched days or a zero-variance side are dropped on both
    engines.

    Scale shape: ONE map-side-combinable (key, day) agg filtered to
    the two keys, then per lag an integer-day equi-join of two
    CALENDAR-BOUNDED frames (|days| rows each — broadcastable) and a
    1-row moment agg; max_lag+1 tiny joins total, never a corpus-sized
    exchange after the first agg.
    """
    day = F.date_trunc("day", F.col(ts_col))
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    daily = (
        df.filter(F.col(key_col).isin([key_a, key_b]))
        .select(
            F.col(key_col).alias("__k"),
            F.datediff(day.cast("date"), F.lit(epoch_date).cast("date"))
            .cast("bigint")
            .alias("__d"),
            cents.alias("__c"),
        )
        .groupBy("__k", "__d")
        .agg(F.expr("CAST(FLOOR(sum(__c) / 100) AS BIGINT)").alias("__y"))
    )
    daily = persist(daily)
    a = daily.filter(F.col("__k") == key_a).select(
        F.col("__d").alias("__da"), F.col("__y").alias("__ya")
    )
    b = daily.filter(F.col("__k") == key_b).select(
        F.col("__d").alias("__db"), F.col("__y").alias("__yb")
    )
    out = None
    for lag in range(max_lag + 1):
        j = a.join(b, F.col("__db") == F.col("__da") + F.lit(lag))
        s = j.agg(
            F.count("*").cast("bigint").alias("__n"),
            F.sum("__ya").cast("bigint").alias("__sx"),
            F.sum("__yb").cast("bigint").alias("__sy"),
            F.sum(F.col("__ya") * F.col("__yb")).cast("bigint").alias("__sxy"),
            F.sum(F.col("__ya") * F.col("__ya")).cast("bigint").alias("__sxx"),
            F.sum(F.col("__yb") * F.col("__yb")).cast("bigint").alias("__syy"),
        ).select(F.lit(lag).cast("bigint").alias("lag"), "*")
        out = s if out is None else out.unionByName(s)
    num = F.col("__n") * F.col("__sxy") - F.col("__sx") * F.col("__sy")
    denx = F.col("__n") * F.col("__sxx") - F.col("__sx") * F.col("__sx")
    deny = F.col("__n") * F.col("__syy") - F.col("__sy") * F.col("__sy")
    rho = num.cast("double") / F.sqrt(denx.cast("double") * deny.cast("double"))
    return (
        out.filter((F.col("__n") >= 3) & (denx > 0) & (deny > 0))
        .select(
            "lag",
            F.col("__n").alias("n_days"),
            (F.round(rho, 6) + F.lit(0.0)).alias("ccf"),
        )
    )


# ---------------------------------------------------------------------------
# Kendall tau-b between daily count and daily total
# ---------------------------------------------------------------------------


def kendall_tau_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Kendall tau-b between the DAILY EVENT COUNT and the
    DAILY TOTAL — the concordance companion of ``spearman_corr_daily``
    (tau counts pair inversions where Spearman correlates ranks; tau's
    tie treatment, tau-b, is the standard for heavily-tied telemetry):

        tau_b = (P − Q) / sqrt((n0 − tx)(n0 − ty)),
        n0 = n(n−1)/2, tx/ty = Σ t(t−1)/2 over each axis's tie groups

    with P − Q = Σ_{i<j} sign(c_j − c_i)·sign(y_j − y_i). EXACT BIGINT
    everywhere (a sign-product sum over day pairs plus two closed-form
    tie counts — the mann_kendall machinery, applied bivariate); tau is
    one fixed-shape sqrt+division. Keys with < 2 days or an all-tied
    axis are dropped on both engines.

    Scale shape: one (key, day) map-side agg, then the CALENDAR-BOUNDED
    day-pair self-join per key (≤ days²/2 pairs — the Theil-Sen/MK
    shape) and two domain-sized tie aggs.
    """
    day = F.date_trunc("day", F.col(ts_col))
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    daily = (
        df.select(F.col(key_col).alias("__k"), day.alias("__d"), cents.alias("__c"))
        .groupBy("__k", "__d")
        .agg(
            F.count("*").cast("bigint").alias("__cnt"),
            F.expr("CAST(FLOOR(sum(__c) / 100) AS BIGINT)").alias("__y"),
        )
    )

    daily = persist(daily)
    a = daily.select(
        "__k",
        F.col("__d").alias("__da"),
        F.col("__cnt").alias("__ca"),
        F.col("__y").alias("__ya"),
    )
    b = daily.select(
        "__k",
        F.col("__d").alias("__db"),
        F.col("__cnt").alias("__cb"),
        F.col("__y").alias("__yb"),
    )
    pq = (
        a.join(b, "__k")
        .filter(F.col("__da") < F.col("__db"))
        .groupBy("__k")
        .agg(
            F.sum(
                F.signum(F.col("__cb") - F.col("__ca")).cast("bigint")
                * F.signum(F.col("__yb") - F.col("__ya")).cast("bigint")
            )
            .cast("bigint")
            .alias("__pq")
        )
    )
    n = daily.groupBy("__k").agg(F.count("*").cast("bigint").alias("__n"))
    tx = (
        daily.groupBy("__k", "__cnt")
        .agg(F.count("*").cast("bigint").alias("__t"))
        .groupBy("__k")
        .agg(
            F.expr("CAST(sum(__t * (__t - 1) DIV 2) AS BIGINT)").alias("__tx")
        )
    )
    ty = (
        daily.groupBy("__k", "__y")
        .agg(F.count("*").cast("bigint").alias("__t"))
        .groupBy("__k")
        .agg(
            F.expr("CAST(sum(__t * (__t - 1) DIV 2) AS BIGINT)").alias("__ty")
        )
    )
    j = pq.join(n, "__k").join(tx, "__k").join(ty, "__k")
    n0 = F.expr("__n * (__n - 1) DIV 2")
    denx = (n0 - F.col("__tx")).cast("double")
    deny = (n0 - F.col("__ty")).cast("double")
    tau = F.col("__pq").cast("double") / F.sqrt(denx * deny)
    return (
        j.filter((F.col("__n") >= 2) & (n0 > F.col("__tx")) & (n0 > F.col("__ty")))
        .select(
            F.col("__k").alias(key_col),
            F.col("__n").alias("n_days"),
            F.col("__pq").alias("p_minus_q"),
            (F.round(tau, 6) + F.lit(0.0)).alias("tau_b"),
        )
    )


# ---------------------------------------------------------------------------
# Durbin-Watson serial-correlation screen over daily totals
# ---------------------------------------------------------------------------


def dw_autocorr_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Durbin-Watson statistic over MEAN-CENTERED daily totals:
    ``DW = Σ_{t≥2} (e_t − e_{t−1})² / Σ e_t²`` with ``e_t = y_t − ȳ``
    (Durbin & Watson 1950) — the classic 0..4 serial-correlation screen
    (≈2 none, →0 positive, →4 negative) read next to acf1/pacf1.
    Stated honestly: this is DW of the level-adjusted series (the
    residuals of an intercept-only fit), not of OLS-trend residuals —
    trend-fit residuals are rationals with denominator n·Sxx − Sx²,
    whose exact squares overflow both engines' 64-bit integers; the
    mean-only centering keeps every sum an EXACT BIGINT via the shared
    ``_daily_centered`` trick (e scaled by n cancels in the ratio).

    Exactness: numerator and denominator are association-order-free
    BIGINT sums of squares of the n-scaled centered values (the
    acf_daily headroom bound applies ×4 for the difference squares);
    DW is ONE terminal division. Keys with < 2 days or zero variance
    are dropped on both engines. ONE keyed exchange+sort serves the
    (n, S) window and the lag.
    """
    cur = _daily_centered(df, key_col, ts_col, value_col)
    word = Window.partitionBy("__k").orderBy("__d")
    cur = cur.withColumn("__ep", F.lag("__e", 1).over(word))
    diff = F.col("__e") - F.col("__ep")
    g = cur.groupBy("__k").agg(
        F.sum(F.col("__e") * F.col("__e")).cast("bigint").alias("__den"),
        F.sum(F.when(F.col("__ep").isNotNull(), diff * diff)).cast("bigint").alias("__num"),
        F.max("__n").alias("__nd"),
    )
    return g.filter((F.col("__den") > 0) & (F.col("__nd") >= 2)).select(
        F.col("__k").alias(key_col),
        F.col("__nd").cast("bigint").alias("n_days"),
        (
            F.round(F.col("__num").cast("double") / F.col("__den").cast("double"), 6)
            + F.lit(0.0)
        ).alias("dw"),
    )


# ---------------------------------------------------------------------------
# Hodges-Lehmann robust location over daily totals
# ---------------------------------------------------------------------------


def _daily_units(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key whole-unit daily totals (the shared FLOOR(cents/100)
    convention): the (__k, __d, __y) frame the robust family — HL
    location, Sn scale, the control chart, and the streaming twin's
    calibration side — all consume. Extracted (round-11 review) so a
    composed caller aggregates the corpus ONCE: the identical-looking
    inline copies did NOT collapse at runtime (0 ReusedExchange, 5
    parquet scans in the robust chart's executed plan)."""
    day = F.date_trunc("day", F.col(ts_col))
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    return (
        df.select(F.col(key_col).alias("__k"), day.alias("__d"), cents.alias("__c"))
        .groupBy("__k", "__d")
        .agg(F.expr("CAST(FLOOR(sum(__c) / 100) AS BIGINT)").alias("__y"))
    )


def hodges_lehmann_from_daily(daily: DataFrame) -> DataFrame:
    """HL over a pre-built (__k, __d, __y) daily frame — returns
    (__k, n_pairs, hl_location)."""
    a = daily.select("__k", F.col("__d").alias("__da"), F.col("__y").alias("__ya"))
    b = daily.select("__k", F.col("__d").alias("__db"), F.col("__y").alias("__yb"))
    walsh = a.join(b, "__k").filter(F.col("__da") <= F.col("__db")).select(
        "__k", (F.col("__ya") + F.col("__yb")).cast("bigint").alias("__s")
    )
    return walsh.groupBy("__k").agg(
        F.count("*").cast("bigint").alias("n_pairs"),
        (F.median("__s") / F.lit(2.0)).alias("hl_location"),
    )


def sn_scale_from_daily(daily: DataFrame) -> DataFrame:
    """Sn over a pre-built (__k, __d, __y) daily frame — returns
    (__k, n_days, sn_scale)."""
    a = daily.select("__k", F.col("__d").alias("__da"), F.col("__y").alias("__ya"))
    b = daily.select("__k", F.col("__d").alias("__db"), F.col("__y").alias("__yb"))
    inner = (
        a.join(b, "__k")
        .filter(F.col("__da") != F.col("__db"))
        .groupBy("__k", "__da")
        .agg(F.median(F.abs(F.col("__ya") - F.col("__yb"))).alias("__im"))
    )
    return inner.groupBy("__k").agg(
        F.count("*").cast("bigint").alias("n_days"),
        (
            F.round(F.lit(1.1926) * F.median("__im"), 6) + F.lit(0.0)
        ).alias("sn_scale"),
    )


def hodges_lehmann_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Hodges-Lehmann location estimator over daily totals:
    the MEDIAN of all Walsh averages ``(y_i + y_j)/2, i ≤ j`` (Hodges
    & Lehmann 1963) — the robust "typical daily revenue" companion of
    the Theil-Sen median SLOPE: ~29% breakdown point, far less
    outlier-sensitive than the mean, more efficient than the plain
    median under near-normal data.

    Exactness: daily totals are whole units (the shared
    ``FLOOR(cents/100)`` convention); Walsh SUMS ``y_i + y_j`` are
    exact BIGINTs, the median interpolates identically in both engines
    (midpoint of two int64s is exact in a double far below 2⁵²), and
    the terminal ``/2`` is exact scaling. The day pre-aggregation
    bounds the pair self-join by the CALENDAR (≤ days·(days+1)/2
    Walsh pairs per key — the Theil-Sen/Mann-Kendall shape), so the
    pair space is a per-key constant, not corpus-proportional.
    """
    return hodges_lehmann_from_daily(
        _daily_units(df, key_col, ts_col, value_col)
    ).select(F.col("__k").alias(key_col), "n_pairs", "hl_location")


# ---------------------------------------------------------------------------
# Rousseeuw-Croux Sn robust scale over daily totals
# ---------------------------------------------------------------------------


def sn_scale_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
) -> DataFrame:
    """Per-key Rousseeuw-Croux Sn robust SCALE estimator over daily
    totals: ``Sn = 1.1926 · med_i ( med_{j≠i} |y_i − y_j| )``
    (Rousseeuw & Croux 1993) — the scale companion of the
    Hodges-Lehmann location and the Theil-Sen slope: ~50% breakdown
    (vs 0% for stddev, which one outlier day inflates without bound)
    and, unlike MAD, no symmetry assumption. Deviation from the paper
    stated honestly: both nested medians are the INTERPOLATED median
    (the engine-shared convention every median in this repo uses)
    rather than the paper's high/low order statistics — the estimates
    differ only in tie/parity handling and the breakdown properties
    are unchanged.

    Exactness: daily totals are whole units (the shared
    ``FLOOR(cents/100)``); inner |differences| are exact BIGINTs whose
    interpolated median is exact in a double; the outer median
    midpoints two such doubles — identical in both engines; the
    1.1926 consistency factor is ONE exactly-rounded multiply.

    Scale shape: the theil_sen/mann_kendall calendar-bounded day-pair
    self-join (≤ days² pairs per key — a per-key constant), a
    (key, day)-grouped median, a |keys|-row median. Keys with < 2
    days are dropped on both engines (no j≠i partner).
    """
    return sn_scale_from_daily(
        _daily_units(df, key_col, ts_col, value_col)
    ).select(F.col("__k").alias(key_col), "n_days", "sn_scale")


def robust_daily_outliers(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    value_col: str,
    threshold: float = 2.0,
) -> DataFrame:
    """Robust control chart over daily totals: flag days where
    ``|y − HL| > threshold · Sn`` (default = the 2-sigma WARNING limit
    — on these corpora the 3-sigma action limit never fires, and a
    screen the gate can only ever see returning zero rows proves
    nothing) — the outlier screen the two robust
    estimators exist FOR (location = Hodges-Lehmann, scale =
    Rousseeuw-Croux Sn; a mean/stddev chart lets the outlier days
    inflate their own detection threshold, HL/Sn have 29%/50%
    breakdown so they cannot). The classical-z companion is
    ``zscore_outliers``; this is what you run when the series has the
    anomalies you're hunting.

    Determinism: the flag is evaluated on the CROSS-MULTIPLIED form
    ``|y − HL| > threshold·Sn`` where both sides are single
    exactly-rounded double expressions over the (already engine-
    identical) HL and Sn values — no division, so Sn = 0 keys simply
    never flag (degenerate guard for free); the reported robust_z
    still divides and is rounded once. Scale shape: the HL and Sn
    day-pair joins (calendar-bounded), then one |keys|-row join back
    onto the |key·days| daily frame.
    """
    # ONE corpus scan + (key, day) aggregate feeds the chart, HL, and
    # Sn (round-11 review: the three inline copies did not collapse —
    # 0 ReusedExchange, 5 parquet scans in the executed plan; the
    # persisted |keys·days|-row frame makes it 1 scan + cached reuse)
    daily = persist(_daily_units(df, key_col, ts_col, value_col))
    hl = hodges_lehmann_from_daily(daily).select(
        "__k", F.col("hl_location").alias("__hl")
    )
    sn = sn_scale_from_daily(daily).select("__k", F.col("sn_scale").alias("__sn"))
    return robust_flag_finalize(daily, hl, sn, key_col, threshold)


def robust_flag_finalize(
    daily: DataFrame,
    hl: DataFrame,
    sn: DataFrame,
    key_col: str,
    threshold: float = 2.0,
) -> DataFrame:
    """The flag/report stage SHARED by the batch robust chart and its
    streaming twin (the fano_finalize discipline — twin and oracle
    cannot diverge): join (__k, __d, __y) daily totals onto the (__k,
    __hl) / (__k, __sn) estimator frames, keep days failing the
    CROSS-MULTIPLIED ``|y − HL| > threshold·Sn`` warning limit (no
    division — Sn = 0 keys never flag), report the divided-once
    rounded robust z."""
    j = daily.join(hl, "__k").join(sn, "__k")
    dev = F.col("__y").cast("double") - F.col("__hl")
    return (
        j.filter(F.abs(dev) > F.lit(threshold) * F.col("__sn"))
        .select(
            F.col("__k").alias(key_col),
            F.col("__d").alias("day"),
            F.col("__y").alias("day_total"),
            (F.round(dev / F.col("__sn"), 6) + F.lit(0.0)).alias("robust_z"),
        )
    )
