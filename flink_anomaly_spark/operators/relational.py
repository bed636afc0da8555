"""Relational operators: map/filter/union (reference parity) plus the
join/aggregation/sort/top-k breadth the reference lacks (SURVEY §2.9)
but the driver's TPC-H-ish testdata implies.

Everything here is pure DataFrame API — Catalyst handles pushdown,
pruning, join strategy selection (broadcast for the small dims), and
whole-stage codegen. No UDFs anywhere in this module.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_anomaly_spark.resources import persist

# ---------------------------------------------------------------------------
# Reference-parity primitives
# ---------------------------------------------------------------------------


def map_upper(df: DataFrame, col: str, out_col: str | None = None) -> DataFrame:
    """1→1 scalar transform — reference T1 ``.map(String::toUpperCase)``
    (``TestFlinkStreams.java:56``). Built-in ``upper``, no UDF.
    """
    return df.withColumn(out_col or col, F.upper(F.col(col)))


def filter_rows(df: DataFrame, predicate: Column) -> DataFrame:
    """Predicate filter — reference T2/T3 (``TestFlinkStreams.java:91``,
    ``Main.java:48``). Native Catalyst predicate → parquet pushdown.
    """
    return df.filter(predicate)


def union_all(*dfs: DataFrame) -> DataFrame:
    """Bag union — reference U1 ``stream1.union(stream2)``
    (``TestFlinkStreamsRecover.java:92``). Bag semantics (no dedup).
    unionAll is a zero-shuffle plan node: partitions are appended.
    """
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionAll(df)
    return out


# ---------------------------------------------------------------------------
# Joins (broadcast the small side; Catalyst/AQE pick physical strategy)
# ---------------------------------------------------------------------------


def join_broadcast(fact: DataFrame, dim: DataFrame, on, how: str = "inner") -> DataFrame:
    """Equi-join with an explicit broadcast hint on the dimension side.

    At 100 TB the fact side never shuffles for this join — each executor
    streams its parquet splits against a replicated hash map.
    """
    return fact.join(F.broadcast(dim), on, how)


def merge_upsert(target: DataFrame, updates: DataFrame, key: str) -> DataFrame:
    """MERGE INTO emulation (no Delta/Iceberg in this build): updated
    rows replace target rows with the same key; unmatched target rows
    survive; new keys insert. ``updates ∪ (target ⟕anti updates)``.

    The anti join shuffles on the key (or broadcasts when updates are
    small — the common CDC case, which Catalyst picks automatically);
    at scale the result is written partition-overwrite style so only
    affected partitions rewrite.
    """
    return updates.unionByName(target.join(updates, key, "left_anti"))


# ---------------------------------------------------------------------------
# Top-K and ranking
# ---------------------------------------------------------------------------


def asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_payload: list[str],
    out_prefix: str = "asof_",
) -> DataFrame:
    """As-of join (Spark has no native one): for each left row, the
    latest right row with ``right.ts <= left.ts`` on the same key.

    Scalable plan — union-then-window instead of a join: tag both
    inputs, union them (zero shuffle), then one hash-shuffle + sort on
    (key, ts) and a running ``max(struct(ts, payload))`` over preceding
    right rows. No pd.merge_asof, no per-key collect; exactly one
    shuffle regardless of input sizes, and skew behaves like any window.
    Right rows sort BEFORE left rows on ties so an equal-timestamp right
    row is visible (inclusive as-of).
    """
    from pyspark.sql import Window

    lcols = left.columns
    l_tagged = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.struct(*[F.col(c) for c in lcols]).alias("__l"),
        F.lit(None)
        .cast(
            right.select(F.struct(F.col(right_ts).alias("__rts"), *[F.col(c) for c in right_payload]).alias("s"))
            .schema["s"]
            .dataType.simpleString()
        )
        .alias("__r"),
    )
    r_tagged = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(l_tagged.schema["__l"].dataType.simpleString()).alias("__l"),
        F.struct(F.col(right_ts).alias("__rts"), *[F.col(c) for c in right_payload]).alias("__r"),
    )
    unioned = l_tagged.unionByName(r_tagged)
    w = (
        Window.partitionBy("__k")
        .orderBy("__ts", "__is_left")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = unioned.withColumn("__last_r", F.max("__r").over(w)).filter(F.col("__is_left") == 1)
    out = matched.select(
        F.col("__l.*"),
        F.col("__last_r.__rts").alias(f"{out_prefix}{right_ts}"),
        *[F.col(f"__last_r.{c}").alias(f"{out_prefix}{c}") for c in right_payload],
    )
    return out


def interval_self_join(
    df: DataFrame,
    key: str,
    ts_col: str,
    id_col: str,
    max_gap_seconds: int,
) -> DataFrame:
    """Range (interval) self-join: ordered pairs (a, b) on the same key
    with ``0 < b.ts − a.ts ≤ max_gap``.

    Spark lacks a native range join, so bucketize: assign each row to a
    ``max_gap``-wide time bucket and equi-join on (key, bucket) and
    (key, bucket+1) — every qualifying pair shares a bucket or sits in
    adjacent ones, so the join is a pair of hash joins plus a residual
    filter, never an O(n²) cross product per key.
    """
    # Floor-consistent bucketing for ALL epochs: double-division +
    # cast('long') truncates toward zero, which for pre-1970 (negative
    # micros) rows disagrees with floor and can drop qualifying pairs at
    # negative bucket boundaries. pmod is non-negative, so us − pmod is
    # the exact floor multiple; the final division is exact (integer
    # quotient, well under 2^53).
    # unix_micros requires TIMESTAMP; parquet columns are often
    # TIMESTAMP_NTZ, and the session tz is pinned to UTC (session.py)
    # so the cast is an exact epoch mapping.
    def _micros(c):
        return F.unix_micros(c.cast("timestamp"))

    us = _micros(F.col(ts_col))
    gap = F.lit(max_gap_seconds * 1_000_000).cast("long")
    bucket = ((us - F.pmod(us, gap)) / gap).cast("long")
    base = df.select(
        F.col(key).alias("k"),
        F.col(id_col).alias("id"),
        F.col(ts_col).alias("t"),
        bucket.alias("bkt"),
    )
    right = base.select(
        F.col("k"),
        F.col("id").alias("id2"),
        F.col("t").alias("t2"),
        F.explode(F.array(F.col("bkt"), F.col("bkt") - 1)).alias("bkt"),
    )
    gap_us = _micros(F.col("t2")) - _micros(F.col("t"))
    return (
        base.join(right, ["k", "bkt"])
        .filter((gap_us > 0) & (gap_us <= max_gap_seconds * 1_000_000))
        .select(
            F.col("k").alias(key),
            F.col("id").alias("id1"),
            F.col("id2"),
            gap_us.alias("gap_us"),
        )
    )


def top_k(df: DataFrame, order_by: list[Column], k: int) -> DataFrame:
    """Global top-k: ``orderBy().limit(k)`` — Spark plans TakeOrderedAndProject,
    which computes a per-partition top-k then merges k·p rows on the
    driver: no global sort shuffle, scales to arbitrary input size.
    """
    return df.orderBy(*order_by).limit(k)


def top_k_per_group(
    df: DataFrame,
    group_cols: list[str],
    order_by: list[Column],
    k: int,
    rank_col: str = "rn",
) -> DataFrame:
    """Top-k per group via row_number window — single hash shuffle on the
    group key, per-partition sort, early filter on rank."""
    from pyspark.sql import Window

    w = Window.partitionBy(*group_cols).orderBy(*order_by)
    return df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)


def bloom_build(df: DataFrame, key: Column, m_bits: int = 1 << 16, k: int = 3) -> DataFrame:
    """Distributed Bloom-filter BUILD over ``key``: returns a bitmap
    table (word: long index, bits: long) with at most ``m_bits/64``
    rows, computed with a map-side-partial ``bit_or`` aggregation —
    the build side never leaves the JVM and the shuffle carries at most
    |words| rows per partition regardless of build cardinality.

    The k hash positions are ``pmod(xxhash64(key, seed), m_bits)`` —
    engine-native, no Python. Spark's own runtime bloom filter
    (``bloom_filter_agg``) is not exposed through the public function
    registry, so this is the same pattern built from public primitives;
    unlike ``df.stat.bloomFilter`` it never materializes the filter on
    the driver — it stays a DataFrame and broadcasts into the probe.
    """
    if m_bits % 64:
        raise ValueError(f"m_bits ({m_bits}) must be a multiple of 64")
    positions = df.select(
        F.explode(
            F.array(*[F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits)) for i in range(k)])
        ).alias("pos")
    )
    return (
        positions.select(
            F.shiftright(F.col("pos"), 6).alias("word"),
            F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))").alias("mask"),
        )
        .groupBy("word")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_prefilter(
    probe: DataFrame,
    key: Column,
    bloom: DataFrame,
    m_bits: int = 1 << 16,
    k: int = 3,
) -> DataFrame:
    """Bloom-filter PROBE: keep only ``probe`` rows whose key is
    (probably) in the filter built by :func:`bloom_build` with the same
    ``m_bits``/``k``. Each of the k checks is a broadcast-hash join
    against the ≤ m_bits/64-row bitmap table plus a bit test — O(k)
    JVM-side lookups per probe row, zero shuffle of the probe side.

    No false negatives (guaranteed by construction), tunable false
    positives — so ``bloom_prefilter(...) ⋈ build == probe ⋈ build``
    exactly, with the big side shrunk BEFORE the join shuffle: the 100 TB
    pattern for joining a fact table against a selectively-filtered dim.
    """
    out = probe
    for i in range(k):
        pos = F.pmod(F.xxhash64(key, F.lit(i)), F.lit(m_bits))
        out = (
            out.withColumn(f"__w{i}", F.shiftright(pos, 6))
            .withColumn(f"__b{i}", (pos % 64).cast("int"))
            .join(
                F.broadcast(
                    bloom.select(
                        F.col("word").alias(f"__w{i}"), F.col("bits").alias(f"__bits{i}")
                    )
                ),
                f"__w{i}",
            )
            .filter(F.expr(f"(shiftrightunsigned(__bits{i}, __b{i}) & 1) = 1"))
            .drop(f"__w{i}", f"__b{i}", f"__bits{i}")
        )
    return out


def kmv_distinct_estimate(df: DataFrame, col: str, k: int = 256) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch — the classic
    bottom-k estimator (Bar-Yossef et al. 2002; the basis of the theta
    sketch): hash every value to [0, 2^32), keep the k smallest
    DISTINCT hashes, estimate N ≈ (k-1) · 2^32 / h_(k), where h_(k) is
    the k-th smallest hash. Unlike HLL (whose register layout is
    engine-private, which is why approx_stats stays rows-only), KMV
    over a deterministic md5 hash is EXACTLY reproducible in SQL — an
    approximate sketch with an exact oracle.

    Scale shape: the hash is a narrow map; distinct-of-hash aggregates
    with map-side partials; the bottom-k is TakeOrdered (per-partition
    heap of k + driver merge of k·p values) — no global sort, no wide
    shuffle of raw values. A mergeable production variant keeps the
    bottom-k set per partition and merges; the estimate is identical.

    Returns one row: (k_used, kth_hash, est_distinct, exact_distinct,
    rel_err_pct). ``exact_distinct`` rides along because the sketch's
    whole point is the accuracy trade — the query self-reports its
    error. k_used < k when the column has fewer distinct values (the
    sketch is then exact by construction: est falls back to count).

    NULL keys are excluded before hashing (md5(NULL) = NULL would sort
    nulls-FIRST in Spark's ascending orderBy but LAST in DuckDB,
    corrupting a bottom-k slot) — matching COUNT(DISTINCT)'s own
    null-ignoring semantics on the exact side."""
    from flink_anomaly_spark.operators.dedup import md5_int32

    hashes = (
        df.filter(F.col(col).isNotNull())
        .select(md5_int32(F.col(col).cast("string")).alias("h"))
        .distinct()
    )
    bottom = hashes.orderBy("h").limit(k)
    agg = bottom.agg(
        F.count("*").alias("k_used"),
        F.max("h").alias("kth_hash"),
    )
    exact = df.agg(F.countDistinct(col).alias("exact_distinct"))
    est = (
        F.when(
            F.col("k_used") < k, F.col("exact_distinct").cast("double")
        ).otherwise(
            (F.lit(float(k - 1)) * F.lit(4294967296.0)) / F.col("kth_hash")
        )
    ).alias("__est")
    return (
        agg.crossJoin(F.broadcast(exact))
        .select("k_used", "kth_hash", "exact_distinct", est)
        .select(
            "k_used",
            "kth_hash",
            F.round("__est", 4).alias("est_distinct"),
            "exact_distinct",
            # + 0.0: a tiny negative error rounding to zero must not
            # emit IEEE -0.0 (oracle-hash gotcha)
            (
                F.round(
                    (F.col("__est") - F.col("exact_distinct"))
                    / F.col("exact_distinct")
                    * 100,
                    4,
                )
                + F.lit(0.0)
            ).alias("rel_err_pct"),
        )
    )


def kmv_set_overlap(
    dfa: DataFrame, col_a: str, dfb: DataFrame, col_b: str, k: int = 256
) -> DataFrame:
    """KMV sketch SET ALGEBRA (the theta-sketch construction): build
    the bottom-k hash sets of A and B, take the bottom-k of their
    UNION; the union estimate is the standard KMV estimate on that
    set, and the intersection follows by inclusion-exclusion on the
    Jaccard estimate |bottom-k(union) ∩ A ∩ B| / k (Beyer et al. 2007
    / Dasu et al.). Everything is deterministic md5 arithmetic, so the
    estimates — normally "approximate, engine-private" — are
    oracle-exact.

    Scale shape: each side reduces to k hashes (TakeOrdered); the set
    algebra then runs on 2k rows. Estimating overlap of two 100 TB key
    columns costs two narrow scans and constant-size math — the sketch
    union/intersection never touches raw keys again, which is why
    theta sketches power cross-table overlap profiling in production
    catalogs.

    Returns one row: (k_used, est_union, est_intersection, est_jaccard,
    exact_union, exact_intersection).

    NULL keys are excluded on both sides before hashing AND in the
    exact counts (a NULL hash would corrupt one bottom-k slot with
    engine-dependent null ordering, and the exact-union full join
    would count a NULL present on both sides twice, since joins never
    match on NULL)."""
    from flink_anomaly_spark.operators.dedup import md5_int32

    dfa_nn = dfa.filter(F.col(col_a).isNotNull())
    dfb_nn = dfb.filter(F.col(col_b).isNotNull())
    ha = dfa_nn.select(md5_int32(F.col(col_a).cast("string")).alias("h")).distinct()
    hb = dfb_nn.select(md5_int32(F.col(col_b).cast("string")).alias("h")).distinct()
    bka = ha.orderBy("h").limit(k).select(F.col("h").alias("h"), F.lit(1).alias("in_a"))
    bkb = hb.orderBy("h").limit(k).select(F.col("h").alias("h"), F.lit(1).alias("in_b"))
    merged = (
        bka.join(bkb, "h", "full")
        .select(
            "h",
            F.coalesce("in_a", F.lit(0)).alias("in_a"),
            F.coalesce("in_b", F.lit(0)).alias("in_b"),
        )
        .orderBy("h")
        .limit(k)
    )
    stats = merged.agg(
        F.count("*").alias("k_used"),
        F.max("h").alias("kth"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("n_both"),
    )
    # exact counts ride along so the sketch self-reports its error
    # (they are the expensive full computation the sketch replaces)
    ea = dfa_nn.select(F.col(col_a).alias("v")).distinct()
    eb = dfb_nn.select(F.col(col_b).alias("v")).distinct()
    exact = ea.join(eb, "v", "full").agg(F.count("*").alias("exact_union"))
    exact_i = ea.join(eb, "v", "inner").agg(F.count("*").alias("exact_intersection"))
    est_u = (
        F.when(F.col("k_used") < k, F.col("exact_union").cast("double")).otherwise(
            F.lit(float(k - 1)) * F.lit(4294967296.0) / F.col("kth")
        )
    ).alias("__eu")
    out = (
        stats.crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(exact_i))
        .select("k_used", "n_both", "exact_union", "exact_intersection", est_u)
        .select(
            "k_used",
            F.round("__eu", 4).alias("est_union"),
            F.round(
                F.col("n_both") / F.col("k_used") * F.col("__eu"), 4
            ).alias("est_intersection"),
            F.round(F.col("n_both") / F.col("k_used"), 4).alias("est_jaccard"),
            "exact_union",
            "exact_intersection",
        )
    )
    return out


def hot_key_skew_report(
    df: DataFrame, key_col: str, n_partitions: int = 32, top_n: int = 10
) -> DataFrame:
    """Shuffle-skew diagnostic: the top keys by row count with their
    share of the table and the salt factor a keyed shuffle would need
    to spread them across ``n_partitions`` reducers — the measurement
    behind this repo's salting/AQE-skew decisions (salted_hot_key_join,
    salted_event_type_stats), exposed as an operator so a pipeline can
    CHECK for skew before it bites.

    skew_ratio = key_rows / (total_rows / n_partitions): >1 means the
    key alone overflows an average reducer; suggested_salt =
    ceil(skew_ratio) sub-splits it back to average size. Plan: one
    map-side-partial count per key, TakeOrdered top-n, 1-row total
    broadcast — and the total is Σ key_rows over the (small) per-key
    aggregate, NOT a second full scan of the fact table (code-review
    round-6 finding). The per-key frame is persisted because the total
    and the top-n both consume it.
    """
    per_key = persist(
        df.groupBy(F.col(key_col).alias("key")).agg(F.count("*").alias("key_rows"))
    )
    total = per_key.agg(F.sum("key_rows").cast("bigint").alias("total_rows"))
    top = per_key.orderBy(F.col("key_rows").desc(), F.col("key").asc()).limit(top_n)
    ratio = (
        F.col("key_rows").cast("double")
        * n_partitions
        / F.col("total_rows")
    )
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "key",
            "key_rows",
            "total_rows",
            F.round(F.col("key_rows") * 100.0 / F.col("total_rows"), 4).alias(
                "share_pct"
            ),
            F.round(ratio, 4).alias("skew_ratio"),
            F.when(ratio > 1, F.ceil(ratio)).otherwise(F.lit(1)).cast("bigint").alias(
                "suggested_salt"
            ),
        )
    )


def gap_fill_forward_daily(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    tiebreak_col: str,
) -> DataFrame:
    """Time-series gap filling with forward fill (the warehouse
    ``GENERATE_SERIES`` + ``LAST_VALUE IGNORE NULLS`` idiom, i.e.
    TimescaleDB's ``time_bucket_gapfill``/``locf``): bucket each key's
    events to hours (last event per hour wins, (ts, tiebreak) order),
    expand the key's OWN [first, last] hour range into a dense grid,
    carry the last observation forward across empty hours, then roll
    the filled series up to per-(key, day) coverage stats.

    Plan: the hourly argmax and the range agg share one key exchange;
    the grid is a narrow ``sequence`` explode of ≤ span-hours rows per
    key (never a global calendar cross join); the fill is one window
    over (key, hour) — at 100 TB the state is per-key and the grid is
    bounded by span, not data volume. Output: (key, day, n_hours,
    n_filled, avg_value) — n_filled / n_hours is the observability
    coverage metric this op exists to compute.
    """
    from pyspark.sql import Window

    hour = F.date_trunc("hour", F.col(ts_col))
    hourly = (
        df.groupBy(F.col(key_col).alias("key"), hour.alias("hour"))
        .agg(
            F.max_by(
                F.col(val_col), F.struct(F.col(ts_col), F.col(tiebreak_col))
            ).alias("v")
        )
    )
    rng = hourly.groupBy("key").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = rng.select(
        "key",
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.expr("INTERVAL 1 HOUR"))
        ).alias("hour"),
    )
    j = grid.join(hourly, ["key", "hour"], "left")
    w = Window.partitionBy("key").orderBy("hour").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    filled = j.select(
        "key",
        "hour",
        F.last("v", ignorenulls=True).over(w).alias("fv"),
        F.col("v").isNull().alias("fl"),
    )
    return (
        filled.groupBy(
            F.col("key").alias(key_col), F.date_trunc("day", F.col("hour")).alias("day")
        )
        .agg(
            F.count("*").alias("n_hours"),
            F.sum(F.col("fl").cast("int")).cast("bigint").alias("n_filled"),
            F.round(F.avg("fv"), 6).alias("avg_value"),
        )
    )


def kmv_set_difference(
    dfa: DataFrame, col_a: str, dfb: DataFrame, col_b: str, k: int = 256
) -> DataFrame:
    """KMV/theta-sketch set DIFFERENCE estimate |A \\ B| — the third
    theta-sketch set operation next to kmv_set_overlap's union /
    intersection / Jaccard (Dasu et al.; the `AnotB` operator of the
    DataSketches library): est|A\\B| = est|A| − est|A∩B|, with the
    intersection from the union sketch's overlap fraction. Same
    deterministic md5 arithmetic, so the normally engine-private
    estimate is oracle-exact, and the exact counts ride along so the
    sketch self-reports its error.

    Scale shape: identical to the overlap — each side reduces to k
    hashes via TakeOrdered; all set algebra runs on ≤2k rows.
    """
    from flink_anomaly_spark.operators.dedup import md5_int32

    dfa_nn = dfa.filter(F.col(col_a).isNotNull())
    dfb_nn = dfb.filter(F.col(col_b).isNotNull())
    ha = dfa_nn.select(md5_int32(F.col(col_a).cast("string")).alias("h")).distinct()
    hb = dfb_nn.select(md5_int32(F.col(col_b).cast("string")).alias("h")).distinct()
    bka = ha.orderBy("h").limit(k).select("h", F.lit(1).alias("in_a"))
    bkb = hb.orderBy("h").limit(k).select("h", F.lit(1).alias("in_b"))
    merged = (
        bka.join(bkb, "h", "full")
        .select(
            "h",
            F.coalesce("in_a", F.lit(0)).alias("in_a"),
            F.coalesce("in_b", F.lit(0)).alias("in_b"),
        )
        .orderBy("h")
        .limit(k)
    )
    st = merged.agg(
        F.count("*").alias("k_used"),
        F.max("h").alias("kth"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("bigint").alias("n_both"),
    )
    sta = bka.agg(F.count("*").alias("ka_used"), F.max("h").alias("kth_a"))
    ea = dfa_nn.select(F.col(col_a).alias("v")).distinct()
    eb = dfb_nn.select(F.col(col_b).alias("v")).distinct()
    exact = ea.agg(F.count("*").alias("exact_a"))
    exact_d = ea.join(eb, "v", "left_anti").agg(
        F.count("*").alias("exact_difference")
    )
    exact_u = ea.join(eb, "v", "full").agg(F.count("*").alias("exact_union"))
    scale = F.lit(float(k - 1)) * F.lit(4294967296.0)
    est_u = F.when(
        F.col("k_used") < k, F.col("exact_union").cast("double")
    ).otherwise(scale / F.col("kth"))
    est_a = F.when(
        F.col("ka_used") < k, F.col("exact_a").cast("double")
    ).otherwise(scale / F.col("kth_a"))
    est_i = F.col("n_both") / F.col("k_used") * est_u
    return (
        st.crossJoin(F.broadcast(sta))
        .crossJoin(F.broadcast(exact))
        .crossJoin(F.broadcast(exact_d))
        .crossJoin(F.broadcast(exact_u))
        .select(
            "k_used",
            F.round(est_a, 4).alias("est_a"),
            F.round(est_i, 4).alias("est_intersection"),
            F.round(est_a - est_i, 4).alias("est_difference"),
            "exact_a",
            "exact_difference",
        )
    )


def priority_sample_per_stratum(
    df: DataFrame,
    stratum_cols: list[str],
    weight_col: str,
    id_col: str,
    k: int,
    salt: str = "psamp:",
) -> DataFrame:
    """Fixed-size weight-proportional sampling per stratum — PRIORITY
    SAMPLING (Duffield, Lund & Thorup, JACM 2007): each item gets
    priority ``q = w / u`` with ``u`` uniform on (0, 1]; the ``k``
    highest-priority items per stratum are kept, and each kept item
    carries the unbiased weight estimate ``ŵ = max(w, τ)`` where ``τ``
    is the stratum's (k+1)-th priority. Priority sampling is the
    near-optimal fixed-size PPS scheme (variance within a factor of
    the best possible off-line scheme) — the primitive behind "give me
    exactly k docs per language, long docs proportionally more likely,
    with weights that keep corpus token totals unbiased".

    Determinism contract: ``u = (md5_int32(salt + id) + 1) / 2^32`` —
    the established hash-as-uniform trick (weighted_doc_sample) — so
    ``q = w / u`` is computed as ``w · 2^32 / (h + 1)``: the product
    ``w · 2^32`` is an exactly-representable double for any weight
    below 2^20, and IEEE multiplication/division are exactly rounded.
    Unlike ``ln``/``exp`` (whose libm results are
    implementation-defined, why Efraimidis-Sirivianos exponential
    keys are NOT used here), this makes Spark and DuckDB produce
    bit-identical priorities, so the selection — not just the
    estimates — is oracle-exact. Ties break by id. The normalization
    matters for the ESTIMATOR, not the ordering: τ must be a priority
    in weight units for ``max(w, τ)`` to be unbiased
    (``test_priority_sample_fixed_size_and_unbiased`` pins it).

    Output: stratum cols + (id, weight, rn, w_est). Scale shape: one
    hash shuffle on the stratum key; the rank filter is Spark 4's
    WindowGroupLimit rewrite (per-partition top-(k+1) BEFORE the
    exchange), so the shuffle carries ≤ (k+1) rows per stratum per map
    partition, never the corpus.
    """
    from flink_anomaly_spark.operators.dedup import md5_int32

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = md5_int32(F.concat(F.lit(salt), F.col(id_col).cast("string"))) + F.lit(1)
    q = (F.col(weight_col).cast("double") * F.lit(4294967296.0)) / h.cast("double")
    ranked = top_k_per_group(
        df.select(*stratum_cols, id_col, weight_col).withColumn("__q", q),
        group_cols=stratum_cols,
        order_by=[F.col("__q").desc(), F.col(id_col).asc()],
        k=k + 1,
    )
    from pyspark.sql import Window

    w = Window.partitionBy(*stratum_cols)
    tau = F.max(F.when(F.col("rn") == k + 1, F.col("__q"))).over(w)
    return (
        ranked.withColumn("__tau", F.coalesce(tau, F.lit(0.0)))
        .filter(F.col("rn") <= k)
        .select(
            *stratum_cols,
            F.col(id_col),
            F.col(weight_col),
            F.col("rn").cast("bigint").alias("rn"),
            F.greatest(F.col(weight_col).cast("double"), F.col("__tau")).alias(
                "w_est"
            ),
        )
    )


def weighted_sample_global(
    df: DataFrame,
    weight_col: str,
    id_col: str,
    k: int,
    salt: str = "psampg:",
) -> DataFrame:
    """CORPUS-level fixed-size weight-proportional sampling — the
    global companion of :func:`priority_sample_per_stratum`
    (PRIORITY SAMPLING, Duffield, Lund & Thorup, JACM 2007): the ``k``
    highest-priority items across the WHOLE input, priority
    ``q = w / u`` with the deterministic hash-uniform
    ``u = (md5_int32(salt + id) + 1) / 2^32``, each kept item carrying
    the unbiased estimate ``ŵ = max(w, τ)`` with τ the global (k+1)-th
    priority. This completes the sampling matrix (VERDICT r8 missing
    #3): Bernoulli (weighted_doc_sample) / per-stratum fixed-size
    (priority_sample_per_lang) / global fixed-size (here). Exponential
    A-ES keys (Efraimidis–Spirakis) are deliberately NOT used — their
    ``u^(1/w)`` key is libm-defined and cross-engine divergent, while
    ``w · 2^32 / (h+1)`` is one exactly-rounded IEEE division of
    integer-exact operands, so the SELECTION is oracle-exact.

    Scale shape: ``orderBy(q).limit(k+1)`` compiles to
    TakeOrderedAndProject — each input partition forwards only its own
    top-(k+1) rows and the driver merges ≤ (k+1)·n_partitions rows;
    there is NO global sort and NO shuffle of the corpus. The
    rank/τ window then runs over exactly k+1 rows (a deliberate,
    bounded single partition).
    """
    from flink_anomaly_spark.operators.dedup import md5_int32

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    h = md5_int32(F.concat(F.lit(salt), F.col(id_col).cast("string"))) + F.lit(1)
    q = (F.col(weight_col).cast("double") * F.lit(4294967296.0)) / h.cast("double")
    top = (
        df.select(id_col, weight_col)
        .withColumn("__q", q)
        .orderBy(F.col("__q").desc(), F.col(id_col).asc())
        .limit(k + 1)
    )
    from pyspark.sql import Window

    w_rank = Window.orderBy(F.col("__q").desc(), F.col(id_col).asc())
    w_all = Window.partitionBy()
    ranked = top.withColumn("rn", F.row_number().over(w_rank))
    tau = F.max(F.when(F.col("rn") == k + 1, F.col("__q"))).over(w_all)
    return (
        ranked.withColumn("__tau", F.coalesce(tau, F.lit(0.0)))
        .filter(F.col("rn") <= k)
        .select(
            F.col(id_col),
            F.col(weight_col),
            F.col("rn").cast("bigint").alias("rn"),
            F.greatest(F.col(weight_col).cast("double"), F.col("__tau")).alias(
                "w_est"
            ),
        )
    )


def asof_join_nearest(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    right_id: str,
    tolerance_seconds: int,
    out_id: str = "nearest_id",
    out_gap: str = "gap_us",
) -> DataFrame:
    """Nearest-as-of join (pandas ``merge_asof(direction='nearest')``,
    which Spark lacks): for each left row, the right row on the same key
    minimizing ``|right.ts − left.ts|`` within ``tolerance_seconds``;
    no candidate ⇒ NULL match columns. Ties break deterministically by
    (gap, earlier right ts, smaller right id).

    Same union-then-window shape as :func:`asof_join` — ONE exchange +
    sort on (key, ts) computes BOTH directional candidates as two
    frames of a single Window spec (Catalyst folds them into one sort):
    a running max of ``struct(ts, −id, id)`` over preceding rows
    (latest right at-or-before; −id makes the struct MAX pick the
    SMALLER id on equal ts) and a running min of ``struct(ts, id)``
    over following rows (earliest right at-or-after; the direct id
    field makes the struct MIN pick the SMALLER id on equal ts — the
    two directions need DIFFERENT tie fields because one extremizes up
    and the other down; a shared negated field would make the forward
    min pick the LARGEST id on tied timestamps). The nearest pick is
    then a row-local comparison. Right rows order before left rows on
    equal ts, so a gap-0 match is always the backward candidate.
    """
    from pyspark.sql import Window

    tol_us = tolerance_seconds * 1_000_000

    def _us(c: Column) -> Column:
        return F.unix_micros(c.cast("timestamp"))

    lcols = left.columns
    l_tagged = left.select(
        F.col(key).alias("__k"),
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__is_left"),
        F.struct(*[F.col(c) for c in lcols]).alias("__l"),
        F.lit(None).cast("struct<rts:timestamp,nid:bigint,rid:bigint>").alias("__rb"),
        F.lit(None).cast("struct<rts:timestamp,rid:bigint>").alias("__rf"),
    )
    r_tagged = right.select(
        F.col(key).alias("__k"),
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__is_left"),
        F.lit(None).cast(l_tagged.schema["__l"].dataType.simpleString()).alias("__l"),
        F.struct(
            F.col(right_ts).cast("timestamp").alias("rts"),
            (-F.col(right_id)).cast("bigint").alias("nid"),
            F.col(right_id).cast("bigint").alias("rid"),
        ).alias("__rb"),
        F.struct(
            F.col(right_ts).cast("timestamp").alias("rts"),
            F.col(right_id).cast("bigint").alias("rid"),
        ).alias("__rf"),
    )
    w = Window.partitionBy("__k").orderBy("__ts", "__is_left")
    back = F.max("__rb").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    fwd = F.min("__rf").over(w.rowsBetween(Window.currentRow, Window.unboundedFollowing))
    scored = (
        l_tagged.unionByName(r_tagged)
        .withColumn("__b", back)
        .withColumn("__f", fwd)
        .filter(F.col("__is_left") == 1)
    )
    gap_b = _us(F.col("__ts")) - _us(F.col("__b.rts"))
    gap_f = _us(F.col("__f.rts")) - _us(F.col("__ts"))
    use_back = F.col("__b").isNotNull() & (
        F.col("__f").isNull() | (gap_b <= gap_f)
    )
    chosen_id = F.when(use_back, F.col("__b.rid")).otherwise(F.col("__f.rid"))
    chosen_gap = F.when(use_back, -gap_b).otherwise(gap_f)
    in_tol = F.abs(chosen_gap) <= F.lit(tol_us)
    return scored.select(
        F.col("__l.*"),
        F.when(chosen_id.isNotNull() & in_tol, chosen_id)
        .cast("bigint")
        .alias(out_id),
        F.when(chosen_id.isNotNull() & in_tol, chosen_gap)
        .cast("bigint")
        .alias(out_gap),
    )


def negative_sampling_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 4,
    rank_bucket: int = 1000,
) -> DataFrame:
    """Deterministic random negative pairs for contrastive training:
    ``k`` pseudo-random partner documents per anchor, drawn by hashing
    (anchor id, sample index) onto the corpus ordinal space, with
    normalized-content duplicates of the anchor excluded (a "negative"
    that is a reformatted copy of the anchor is a false negative — the
    standard contrastive-sampling hygiene rule).

    Deterministic by construction — ``md5(id:j) mod N`` replaces RNG
    state, so resampling any shard reproduces bit-identical pairs (the
    priority-sampling/hash_sample design rule). The ordinal index is
    the two-phase rank (``floor(id / rank_bucket)`` partitions + a
    broadcast cumulative-offset table — the global_rank_export shape),
    the candidate join is an equi-join on the 8-byte ordinal, and the
    corpus count rides along as a broadcast 1-row aggregate.
    """
    from pyspark.sql import Window as W

    from flink_anomaly_spark.operators.dedup import md5_int32, normalize_text

    norm = normalize_text(F.col(text_col))
    d = df.select(
        F.col(id_col).alias("__id"),
        F.when(F.length(norm) > 0, F.md5(norm)).alias("__nh"),
    )
    d = d.withColumn("__bkt", F.floor(F.col("__id") / rank_bucket))
    per = F.row_number().over(W.partitionBy("__bkt").orderBy("__id"))
    offs = F.broadcast(
        d.groupBy("__bkt")
        .agg(F.count("*").alias("__cnt"))
        .select(
            "__bkt",
            (
                F.sum("__cnt").over(
                    W.orderBy("__bkt").rowsBetween(W.unboundedPreceding, W.currentRow)
                )
                - F.col("__cnt")
            ).alias("__off"),
        )
    )
    ranked = d.join(offs, "__bkt").select(
        "__id", "__nh", (per + F.col("__off") - 1).cast("bigint").alias("__rk")
    )
    n = ranked.agg(F.count("*").cast("bigint").alias("__n"))
    cands = (
        ranked.select(F.col("__id"), F.col("__nh"))
        .crossJoin(F.broadcast(n))
        .select(
            "__id",
            "__nh",
            "__n",
            F.explode(F.sequence(F.lit(0), F.lit(k - 1))).alias("__j"),
        )
        .select(
            "__id",
            "__nh",
            "__j",
            F.pmod(
                md5_int32(F.concat(F.col("__id").cast("string"), F.lit(":"), F.col("__j").cast("string"))),
                F.col("__n"),
            ).alias("__rk"),
        )
    )
    neg = ranked.select(
        F.col("__rk"),
        F.col("__id").alias("neg_id"),
        F.col("__nh").alias("__neg_nh"),
    )
    return (
        cands.join(neg, "__rk")
        .filter(F.col("neg_id") != F.col("__id"))
        .filter(
            F.col("__nh").isNull()
            | F.col("__neg_nh").isNull()
            | (F.col("__nh") != F.col("__neg_nh"))
        )
        .select(
            F.col("__id").alias(id_col),
            F.col("__j").cast("bigint").alias("sample_j"),
            F.col("neg_id"),
        )
    )
