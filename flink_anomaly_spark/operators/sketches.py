"""Deterministic, oracle-exact streaming sketches: HyperLogLog and
count-min.

Production engines ship these as opaque native accumulators (Spark's
``approx_count_distinct`` HLL++, DataSketches' CPC/theta) whose
register layouts are engine-private — which is why ``approx_stats``
stays a rows-only check. These implementations instead build the
sketch RELATIONALLY from a deterministic md5-derived hash, so the
identical construction runs in DuckDB SQL and the sketch's estimate
AND its self-reported error are value-hash-checked cross-engine
(the ``kmv_distinct_estimate`` precedent, extended to register-based
sketches).

Scale shape: both sketches are FIXED-SIZE aggregates — the shuffle
carries only per-partition partial registers/cells (m rows for HLL,
d·w for CMS), never raw values, so at 100 TB the exchange stays KBs
per map task. That is exactly the mergeability property that makes
these sketches the standard cardinality/frequency layer of a
large-scale data pipeline.

Reference parity note: the reference (GlebSolovev/flink-anomaly,
Main.java:52-58) aggregates with keyed ValueState; a Flink user
estimating stream cardinality would hang an HLL accumulator off that
same keyed state. This module is that capability, Spark-first.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_anomaly_spark.operators.dedup import md5_int32
from flink_anomaly_spark.resources import persist

# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet et al. 2007), deterministic md5 register build
# ---------------------------------------------------------------------------

#: Scaled-integer exponent for the 2^-M register sum: S = Σ 2^(HLL_SHIFT-M)
#: as BIGINT is EXACT and order-independent (every term is a power of
#: two ≥ 2^(SHIFT-25)), unlike a double Σ 2^-M whose partial sums can
#: round — the whole reason the estimate is reproducible cross-engine.
HLL_SHIFT = 30


def _hll_alpha(m: int) -> float:
    """Bias-correction constant α_m (Flajolet et al. 2007, Fig. 3)."""
    if m >= 128:
        return 0.7213 / (1 + 1.079 / m)
    return {16: 0.673, 32: 0.697, 64: 0.709}[m]


def hll_bucket_rho(col: Column, p: int) -> tuple[Column, Column]:
    """The HLL register projection, shared by the batch estimator and
    the streaming per-window register aggregation: md5-derived 32-bit
    hash → (bucket = top ``p`` bits, ρ = leading-zero run of the
    remaining ``32-p`` bits + 1). Stateless, codegen-only — safe on
    both batch and streaming DataFrames."""
    rest_bits = 32 - p
    rest_mod = 1 << rest_bits
    h = md5_int32(col.cast("string"))
    bucket = F.floor(h / rest_mod)
    rho = (
        F.when(h % rest_mod == 0, F.lit(rest_bits + 1))
        .otherwise(F.lit(rest_bits + 1) - F.length(F.bin(h % rest_mod)))
        .cast("int")
    )
    return bucket, rho


def _hll_estimate_cols(p: int):
    """Estimate expressions over an aggregated (v_present, s_present)
    pair — the finalize step shared by the global and per-window
    estimators. Returns (est_column, m)."""
    m = 1 << p
    alpha = _hll_alpha(m)
    s_total = F.col("s_present") + (F.lit(m) - F.col("v_present")) * F.lit(
        1 << HLL_SHIFT
    ).cast("bigint")
    e_raw = F.lit(alpha * m * m * float(1 << HLL_SHIFT)) / s_total.cast("double")
    zeros = F.lit(m) - F.col("v_present")
    est = F.when(
        (e_raw <= F.lit(2.5 * m)) & (zeros > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / zeros.cast("double")),
    ).otherwise(e_raw)
    return est, m


def hll_windowed_estimate(regs: DataFrame, p: int = 8) -> DataFrame:
    """Finalize per-window HLL registers — the batch half of the
    streaming serve-layer split: ``regs`` is the finalized streaming
    sink ``(window_start, window_end, bucket, reg)``; output is one row
    per window ``(window_start, window_end, m, v_present,
    est_distinct)`` with the exact same scaled-integer harmonic sum,
    LinearCounting branch, and 4-decimal rounding as
    :func:`hll_distinct_estimate`, so the estimate is bit-reproducible
    in DuckDB. Grouping key is the window — the shuffle carries ≤ m
    register rows per window."""
    agg = regs.groupBy("window_start", "window_end").agg(
        F.count("*").alias("v_present"),
        F.coalesce(
            F.sum(F.expr(f"shiftleft(cast(1 as bigint), {HLL_SHIFT} - reg)")),
            F.lit(0).cast("bigint"),
        ).alias("s_present"),
    )
    est, m = _hll_estimate_cols(p)
    return agg.select(
        "window_start",
        "window_end",
        F.lit(m).cast("bigint").alias("m"),
        F.col("v_present").cast("bigint").alias("v_present"),
        F.round(est, 4).alias("est_distinct"),
    )


def hll_windowed_oracle_sql(
    col: str, table: str, p: int = 8, trunc: str = "hour"
) -> str:
    """DuckDB mirror of stream-registers → :func:`hll_windowed_estimate`
    — one generator per sketch family so engine and oracle cannot
    drift. The full per-window HLL with no watermark HAVING: the
    registered query uses the EOS sentinel flush, so every real window
    finalizes."""
    m = 1 << p
    rest_bits = 32 - p
    rest_mod = 1 << rest_bits
    alpha = _hll_alpha(m)
    coeff = repr(alpha * m * m * float(1 << HLL_SHIFT))
    h = f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)),1,8)) AS BIGINT)"
    return f"""
    WITH h AS (SELECT date_trunc('{trunc}', ts) AS ws, {h} AS h
               FROM {table} WHERE {col} IS NOT NULL),
    r AS (SELECT ws, h // {rest_mod} AS bucket,
                 CASE WHEN h % {rest_mod} = 0 THEN {rest_bits + 1}
                      ELSE {rest_bits + 1} - length(bin(h % {rest_mod})) END AS rho
          FROM h),
    regs AS (SELECT ws, bucket, max(rho) AS reg FROM r GROUP BY ws, bucket),
    a AS (SELECT ws, CAST(count(*) AS BIGINT) AS v_present,
                 coalesce(sum(CAST(1 AS BIGINT) << ({HLL_SHIFT} - reg)),
                          CAST(0 AS BIGINT)) AS s_present
          FROM regs GROUP BY ws),
    est AS (
      SELECT ws, v_present,
             CASE WHEN {coeff} / CAST(s_present + ({m} - v_present)
                         * CAST({1 << HLL_SHIFT} AS BIGINT) AS DOUBLE)
                       <= {2.5 * m}
                   AND {m} - v_present > 0
                  THEN {float(m)!r} * ln({float(m)!r}
                         / CAST({m} - v_present AS DOUBLE))
                  ELSE {coeff} / CAST(s_present + ({m} - v_present)
                         * CAST({1 << HLL_SHIFT} AS BIGINT) AS DOUBLE)
             END AS est
      FROM a)
    SELECT ws AS window_start, ws + INTERVAL 1 {trunc} AS window_end,
           CAST({m} AS BIGINT) AS m, v_present,
           round(est, 4) AS est_distinct
    FROM est
    """


def hll_distinct_estimate(df: DataFrame, col: str, p: int = 8) -> DataFrame:
    """HyperLogLog distinct-count estimate with 2^p registers, built
    relationally from the 32-bit md5 hash (top p bits pick the
    register, ρ = leading-zero run of the remaining 32-p bits + 1).

    Register max is a plain groupBy-max on the bucket key (map-side
    partial max ⇒ the shuffle is ≤ m rows per map task); the harmonic
    mean Σ2^-M is computed as an EXACT scaled-integer sum (see
    HLL_SHIFT) so the estimate is bit-reproducible in any engine and
    any partitioning. Small-range LinearCounting correction
    (E ≤ 2.5m, empty registers present) per the original paper; ln()
    output is rounded to 4 decimals so a libm ulp cannot flip the
    oracle hash.

    Returns one row: (m, v_present, est_distinct, exact_distinct,
    rel_err_pct) — like the KMV sketch, the query self-reports its
    accuracy trade so the oracle checks estimate AND error.

    NULLs are excluded before hashing, matching COUNT(DISTINCT).
    """
    if not 4 <= p <= 16:
        # p < 4 has no α_m constant in the paper; p > 16 would spend
        # more registers than the 32-bit hash has suffix bits to fill
        raise ValueError(f"p must be in [4, 16], got {p}")
    bucket, rho = hll_bucket_rho(F.col(col), p)
    regs = (
        df.filter(F.col(col).isNotNull())
        .select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("reg"))
    )
    # exact Σ 2^(SHIFT - M) over PRESENT buckets; absent buckets have
    # register 0 and contribute 2^SHIFT each
    agg = regs.agg(
        F.count("*").alias("v_present"),
        # F.shiftleft only takes a literal shift in PySpark; the SQL
        # form accepts a column expression. Coalesce: sum over ZERO
        # register rows (empty/all-NULL input) is NULL, which would
        # propagate NULL through s_total into the estimate — an empty
        # input must estimate a defined 0 (ADVICE r6).
        F.coalesce(
            F.sum(F.expr(f"shiftleft(cast(1 as bigint), {HLL_SHIFT} - reg)")),
            F.lit(0).cast("bigint"),
        ).alias("s_present"),
    )
    exact = df.agg(F.countDistinct(col).alias("exact_distinct"))
    est, m = _hll_estimate_cols(p)
    return (
        agg.crossJoin(F.broadcast(exact))
        .select(
            F.lit(m).cast("bigint").alias("m"),
            F.col("v_present").cast("bigint").alias("v_present"),
            est.alias("__est"),
            F.col("exact_distinct").cast("bigint").alias("exact_distinct"),
        )
        .select(
            "m",
            "v_present",
            F.round("__est", 4).alias("est_distinct"),
            "exact_distinct",
            # + 0.0 clears IEEE -0.0 (oracle-hash gotcha, KMV precedent);
            # exact_distinct = 0 (empty input) defines rel_err as 0.0
            # instead of a NULL from the 0-division (ADVICE r6)
            F.when(F.col("exact_distinct") == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    (F.col("__est") - F.col("exact_distinct"))
                    / F.col("exact_distinct")
                    * 100,
                    4,
                )
                + F.lit(0.0)
            )
            .alias("rel_err_pct"),
        )
    )


def hll_oracle_sql(col: str, table: str, p: int = 8) -> str:
    """DuckDB mirror of :func:`hll_distinct_estimate` — one generator
    per sketch so engine and oracle cannot drift."""
    m = 1 << p
    rest_bits = 32 - p
    rest_mod = 1 << rest_bits
    alpha = _hll_alpha(m)
    coeff = repr(alpha * m * m * float(1 << HLL_SHIFT))
    h = f"CAST(('0x' || substr(md5(CAST({col} AS VARCHAR)),1,8)) AS BIGINT)"
    return f"""
    WITH h AS (SELECT {h} AS h FROM {table} WHERE {col} IS NOT NULL),
    r AS (SELECT h // {rest_mod} AS bucket,
                 CASE WHEN h % {rest_mod} = 0 THEN {rest_bits + 1}
                      ELSE {rest_bits + 1} - length(bin(h % {rest_mod})) END AS rho
          FROM h),
    regs AS (SELECT bucket, max(rho) AS reg FROM r GROUP BY bucket),
    a AS (SELECT CAST(count(*) AS BIGINT) AS v_present,
                 coalesce(sum(CAST(1 AS BIGINT) << ({HLL_SHIFT} - reg)),
                          CAST(0 AS BIGINT)) AS s_present
          FROM regs),
    e AS (SELECT CAST(count(DISTINCT {col}) AS BIGINT) AS exact_distinct
          FROM {table}),
    est AS (
      SELECT v_present, exact_distinct,
             CASE WHEN {coeff} / CAST(s_present + ({m} - v_present)
                         * CAST({1 << HLL_SHIFT} AS BIGINT) AS DOUBLE)
                       <= {2.5 * m}
                   AND {m} - v_present > 0
                  THEN {float(m)!r} * ln({float(m)!r}
                         / CAST({m} - v_present AS DOUBLE))
                  ELSE {coeff} / CAST(s_present + ({m} - v_present)
                         * CAST({1 << HLL_SHIFT} AS BIGINT) AS DOUBLE)
             END AS est
      FROM a CROSS JOIN e)
    SELECT CAST({m} AS BIGINT) AS m, v_present,
           round(est, 4) AS est_distinct, exact_distinct,
           CASE WHEN exact_distinct = 0 THEN 0.0
                ELSE round((est - exact_distinct) / exact_distinct * 100, 4)
                     + 0.0
           END AS rel_err_pct
    FROM est
    """


# ---------------------------------------------------------------------------
# Count-min sketch (Cormode & Muthukrishnan 2005)
# ---------------------------------------------------------------------------


def _cms_bucket(term: Column, row: int, w: int) -> Column:
    """Bucket of ``term`` under the row-``row`` hash: md5 of the
    salted term, mod w. Row salts make the d hash functions
    independent in the pairwise sense the CMS analysis needs."""
    return md5_int32(F.concat(term, F.lit(f"#{row}"))) % w


def countmin_term_estimates(
    docs: DataFrame,
    text_col: str = "text",
    d: int = 4,
    w: int = 512,
    top_n: int = 15,
) -> DataFrame:
    """Count-min sketch over the whitespace-token stream of ``docs``,
    reporting estimate-vs-exact for the global top-``top_n`` terms.

    Plan (the scale-right order): the token stream is first collapsed
    to VOCABULARY counts (one groupBy with map-side partials — the
    only shuffle proportional to data size, and it carries (term,
    partial_count), not tokens). The d·w sketch cells are then built
    from the vocab (vocab × d rows → groupBy (row, bucket) weighted
    sum — the same cells a streaming CMS would hold, proven by the
    identity Σ_term∈bucket count(term) = Σ_token 1). Estimation joins
    the top-n terms against the broadcast-sized cell table
    (d·w = 2048 rows) and takes min over the d rows — the classic
    point query. ``overcount = cms_est − exact_cnt ≥ 0`` is reported
    so the sketch's collision error is itself oracle-checked.
    """
    if d < 1 or w < 2 or top_n < 1:
        raise ValueError(f"need d >= 1, w >= 2, top_n >= 1; got {d=} {w=} {top_n=}")

    from flink_anomaly_spark.operators.text import tokens

    vocab = persist(
        docs.select(F.explode(tokens(F.col(text_col))).alias("term"))
        .groupBy("term")
        .agg(F.count("*").alias("cnt"))
    )
    cells = (
        vocab.select(
            "cnt",
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(r).alias("r"),
                            _cms_bucket(F.col("term"), r, w).alias("b"),
                        )
                        for r in range(d)
                    ]
                )
            ).alias("rb"),
        )
        .groupBy("rb.r", "rb.b")
        .agg(F.sum("cnt").alias("cell"))
    )
    top = vocab.orderBy(F.col("cnt").desc(), F.col("term").asc()).limit(top_n)
    top_exp = top.select(
        "term",
        "cnt",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cms_bucket(F.col("term"), r, w).alias("b"),
                    )
                    for r in range(d)
                ]
            )
        ).alias("rb"),
    ).select("term", "cnt", F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
    est = (
        top_exp.join(F.broadcast(cells), on=["r", "b"])
        .groupBy("term", "cnt")
        .agg(F.min("cell").alias("cms_est"))
    )
    return est.select(
        "term",
        F.col("cnt").alias("exact_cnt"),
        "cms_est",
        (F.col("cms_est") - F.col("cnt")).alias("overcount"),
    ).orderBy(F.col("exact_cnt").desc(), F.col("term").asc())


def cms_windowed_point_estimates(
    cells: DataFrame,
    keys: list[int],
    d: int = 3,
    w: int = 16,
) -> DataFrame:
    """Finalize per-window count-min cells into point estimates for a
    fixed MONITORED key list — the batch half of the streaming
    serve-layer split (``cells`` is the finalized sink of
    ``cms_cell_stream``: (window_start, window_end, r, b, cell)).

    Classic CMS point query per window: est(key) = min over the d rows
    of cell[r, bucket(key, r)], with ABSENT cells counting as 0 (a
    monitored key that hashed into untouched buckets in some window
    has estimate 0, not "min over the rows that happen to exist") —
    hence the windows × keys × d grid LEFT-joins the cells. The grid
    is |windows|·|keys|·d rows — broadcast-sized for any monitoring
    list worth the name — so the only data-sized work already happened
    in the stream."""
    spark = cells.sparkSession
    wins = cells.select("window_start", "window_end").distinct()
    cand = spark.createDataFrame([(int(k),) for k in keys], "key bigint")
    grid = wins.crossJoin(F.broadcast(cand)).select(
        "window_start",
        "window_end",
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(r).alias("r"),
                        _cms_bucket(F.col("key").cast("string"), r, w).alias("b"),
                    )
                    for r in range(d)
                ]
            )
        ).alias("rb"),
    ).select(
        "window_start", "window_end", "key", F.col("rb.r").alias("r"), F.col("rb.b").alias("b")
    )
    # the grid derives from cells (its windows), so the left join back
    # is a self-join; RENAMING the grid side mints fresh attribute ids,
    # which is the reliable disambiguation (string-alias qualifiers are
    # not, when both sides share expr ids)
    g = grid.select(
        F.col("window_start").alias("gws"),
        F.col("window_end").alias("gwe"),
        F.col("key"),
        F.col("r").alias("gr"),
        F.col("b").alias("gb"),
    )
    cond = (
        (F.col("gws") == cells["window_start"])
        & (F.col("gwe") == cells["window_end"])
        & (F.col("gr") == cells["r"])
        & (F.col("gb") == cells["b"])
    )
    return (
        g.join(cells, cond, "left")
        .groupBy("gws", "gwe", "key")
        .agg(
            F.min(F.coalesce(F.col("cell"), F.lit(0)))
            .cast("bigint")
            .alias("cms_est")
        )
        .select(
            F.col("gws").alias("window_start"),
            F.col("gwe").alias("window_end"),
            F.col("key").alias("user_id"),
            "cms_est",
        )
    )


def cms_windowed_oracle_sql(
    key_col: str,
    table: str,
    keys: list[int],
    d: int = 3,
    w: int = 16,
    trunc: str = "hour",
) -> str:
    """DuckDB mirror of stream-cells → :func:`cms_windowed_point_estimates`."""
    b_of = (
        "CAST(('0x' || substr(md5(k || '#' || CAST(r AS VARCHAR)),1,8)) "
        f"AS BIGINT) % {w}"
    )
    key_list = ", ".join(str(int(k)) for k in keys)
    return f"""
    WITH e AS (SELECT date_trunc('{trunc}', ts) AS ws,
                      CAST({key_col} AS VARCHAR) AS k
               FROM {table} WHERE {key_col} IS NOT NULL),
    salted AS (SELECT ws, CAST(r AS INT) AS r, {b_of} AS b
               FROM e, range(0, {d}) t(r)),
    cells AS (SELECT ws, r, b, CAST(count(*) AS BIGINT) AS cell
              FROM salted GROUP BY ws, r, b),
    wins AS (SELECT DISTINCT ws FROM e),
    cand AS (SELECT CAST(unnest([{key_list}]) AS BIGINT) AS key),
    grid AS (SELECT ws, key, CAST(r AS INT) AS r,
                    {b_of.replace("md5(k", "md5(CAST(key AS VARCHAR)")} AS b
             FROM wins, cand, range(0, {d}) t(r)),
    est AS (SELECT ws, key, CAST(min(coalesce(cell, 0)) AS BIGINT) AS cms_est
            FROM grid LEFT JOIN cells USING (ws, r, b) GROUP BY ws, key)
    SELECT ws AS window_start, ws + INTERVAL 1 {trunc} AS window_end,
           key AS user_id, cms_est
    FROM est
    """


def histogram_quantile_sketch(
    df: DataFrame,
    col: str,
    lo: float = 0.0,
    hi: float = 512.0,
    n_bins: int = 64,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Mergeable equi-width HISTOGRAM quantile sketch — the third
    register-based sketch family (cardinality: HLL, frequency: CMS,
    rank/quantile: this). The data-sized work is ONE groupBy onto at
    most ``n_bins`` keys (map-side partial counts ⇒ the shuffle is
    ≤ n_bins rows per map task, constant in data volume, and two
    histograms merge by adding counts — the property that lets a 100 TB
    scan carry its quantile state in a few hundred bytes where an
    exact percentile needs a global sort).

    Estimate: for each q, take the first bin whose cumulative count
    reaches ``q·N`` and interpolate linearly inside it:
    ``est = lo + bin·width + width·(q·N − cum_before)/bin_count``.
    Out-of-range values clamp into the edge bins (the sketch's stated
    accuracy contract is ±width inside [lo, hi) and edge-biased
    outside it). Every arithmetic step is IEEE add/mul/div on exactly
    representable operands — deterministic cross-engine, no libm — so
    estimates are value-hash-checked unrounded, like the KMV family.

    Output: one row per quantile (q, n, est).
    """
    if n_bins < 2 or hi <= lo:
        raise ValueError(f"need n_bins >= 2 and hi > lo; got {n_bins=} {lo=} {hi=}")
    width = (hi - lo) / n_bins
    bin_col = (
        F.least(
            F.lit(n_bins - 1),
            F.greatest(F.lit(0), F.floor((F.col(col) - F.lit(lo)) / F.lit(width))),
        )
        .cast("int")
        .alias("bin")
    )
    hist = (
        df.filter(F.col(col).isNotNull())
        .groupBy(bin_col)
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window

    # the remaining frames are <= n_bins rows — the single-partition
    # window is over the SKETCH, never the data
    w = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "cum_before", F.col("cum") - F.col("cnt")
    )
    total = hist.agg(F.sum("cnt").cast("bigint").alias("n"))
    qdf = df.sparkSession.createDataFrame([(float(q),) for q in quantiles], "q double")
    cand = (
        cum.crossJoin(F.broadcast(total))
        .crossJoin(F.broadcast(qdf))
        .filter(F.col("cum") >= F.col("q") * F.col("n"))
    )
    best = cand.groupBy("q", "n").agg(
        F.min_by(
            F.struct("bin", "cnt", "cum_before"), F.col("bin")
        ).alias("s")
    )
    est = (
        F.lit(lo)
        + F.col("s.bin") * F.lit(width)
        + F.lit(width)
        * (F.col("q") * F.col("n") - F.col("s.cum_before"))
        / F.col("s.cnt")
    )
    return best.select("q", "n", est.alias("est"))


def histogram_quantile_oracle_sql(
    col: str,
    table: str,
    lo: float = 0.0,
    hi: float = 512.0,
    n_bins: int = 64,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> str:
    """DuckDB mirror of :func:`histogram_quantile_sketch`."""
    width = (hi - lo) / n_bins
    qs = ", ".join(repr(float(q)) for q in quantiles)
    return f"""
    WITH h AS (
      SELECT CAST(least({n_bins - 1}, greatest(0,
               floor(({col} - {lo!r}) / {width!r}))) AS INT) AS bin,
             CAST(count(*) AS BIGINT) AS cnt
      FROM {table} WHERE {col} IS NOT NULL GROUP BY 1
    ), c AS (
      SELECT bin, cnt,
             sum(cnt) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM h
    ), c2 AS (SELECT bin, cnt, cum, cum - cnt AS cum_before FROM c),
    t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM h),
    -- CAST: a bare 0.9 in a DuckDB list literal is DECIMAL, and
    -- decimal q*n is EXACT where Spark's double q*n rounds — the
    -- interpolation then diverges in the last ulp (round-8 find)
    q AS (SELECT CAST(unnest([{qs}]) AS DOUBLE) AS q),
    cand AS (
      SELECT q.q, t.n, c2.bin, c2.cnt, c2.cum_before
      FROM c2, t, q WHERE c2.cum >= q.q * t.n
    ), best AS (
      SELECT q, n, min(bin) AS bin FROM cand GROUP BY q, n
    )
    SELECT best.q, best.n,
           {lo!r} + best.bin * {width!r}
             + {width!r} * (best.q * best.n - c2.cum_before) / c2.cnt AS est
    FROM best JOIN c2 USING (bin)
    """


def countmin_oracle_sql(
    toks_sql: str, d: int = 4, w: int = 512, top_n: int = 15
) -> str:
    """DuckDB mirror of :func:`countmin_term_estimates`."""
    b = (
        "CAST(('0x' || substr(md5(term || '#' || CAST(r AS VARCHAR)),1,8)) "
        f"AS BIGINT) % {w}"
    )
    return f"""
    WITH tok AS (SELECT unnest({toks_sql}) AS term FROM documents),
    vocab AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt FROM tok GROUP BY term),
    salted AS (SELECT term, cnt, CAST(r AS INT) AS r, {b} AS b
               FROM vocab, range(0, {d}) t(r)),
    cells AS (SELECT r, b, CAST(sum(cnt) AS BIGINT) AS cell
              FROM salted GROUP BY r, b),
    top AS (SELECT term, cnt FROM vocab ORDER BY cnt DESC, term ASC LIMIT {top_n}),
    top_exp AS (SELECT term, cnt, CAST(r AS INT) AS r, {b} AS b
                FROM top, range(0, {d}) t(r)),
    est AS (SELECT term, cnt, CAST(min(cell) AS BIGINT) AS cms_est
            FROM top_exp JOIN cells USING (r, b) GROUP BY term, cnt)
    SELECT term, cnt AS exact_cnt, cms_est, cms_est - cnt AS overcount
    FROM est ORDER BY exact_cnt DESC, term ASC
    """


__all__ = [
    "hll_distinct_estimate",
    "hll_oracle_sql",
    "countmin_term_estimates",
    "countmin_oracle_sql",
]


# ---------------------------------------------------------------------------
# k-mins (Flajolet–Martin / MinCount) distinct sketch
# ---------------------------------------------------------------------------


def kmins_salt_hash(col: Column, salt: int) -> Column:
    """Salted 32-bit hash for register ``salt`` of the k-mins sketch —
    the per-salt uniform hash whose MINIMUM is the register state."""
    return md5_int32(F.concat(F.lit(f"{salt}:"), col.cast("string")))


def kmins_windowed_estimate(regs: DataFrame, k: int = 16) -> DataFrame:
    """Finalize per-window k-mins registers (MinCount estimator,
    Lumbroso 2010 family): ``regs`` is the streaming sink
    ``(window_start, window_end, salt, hmin)``; the estimate maps each
    register to the uniform (0,1] variate ``(hmin+1)/2^32`` whose mean
    approximates ``1/(n+1)``, giving ``n̂ = k·2^32/(Σhmin + k) − 1``.

    The register SUM stays in exact BIGINT (association-order-free);
    the estimate is two exactly-rounded float ops — NO libm anywhere,
    one step stricter than the HLL finalize (whose LinearCounting
    branch needs ln). Completes the cardinality-estimator matrix:
    register-max (HLL), order-statistics (KMV bottom-k), register-min
    (k-mins) — the three classical families — on the streaming surface.
    """
    agg = regs.groupBy("window_start", "window_end").agg(
        F.count("*").alias("v_present"),
        F.sum("hmin").alias("__s"),
    )
    est = F.lit(float(k) * 4294967296.0) / (
        F.col("__s") + F.lit(k)
    ).cast("double") - F.lit(1.0)
    return agg.select(
        "window_start",
        "window_end",
        F.col("v_present").cast("bigint").alias("k_present"),
        F.round(est, 4).alias("est_distinct"),
    )


def kmins_windowed_oracle_sql(
    col: str, table: str, k: int = 16, trunc: str = "hour"
) -> str:
    """DuckDB mirror of stream-registers → :func:`kmins_windowed_estimate`
    (one generator per sketch family so engine and oracle cannot
    drift): full per-window register build + estimate, no watermark
    HAVING — the registered query uses the EOS sentinel flush."""
    h = (
        "CAST(('0x' || substr(md5(s || ':' || CAST("
        + col
        + " AS VARCHAR)),1,8)) AS BIGINT)"
    )
    return f"""
    WITH salts AS (SELECT CAST(unnest(range(0, {k})) AS VARCHAR) AS s),
    h AS (SELECT date_trunc('{trunc}', ts) AS ws, s, {h} AS h
          FROM {table}, salts WHERE {col} IS NOT NULL),
    regs AS (SELECT ws, s, min(h) AS hmin FROM h GROUP BY ws, s),
    a AS (SELECT ws, CAST(count(*) AS BIGINT) AS k_present,
                 sum(hmin) AS sh
          FROM regs GROUP BY ws)
    SELECT ws AS window_start, ws + INTERVAL 1 {trunc} AS window_end,
           k_present,
           round({float(k) * 4294967296.0!r} / CAST(sh + {k} AS DOUBLE) - 1.0,
                 4) AS est_distinct
    FROM a
    """


def histogram_quantiles_weekly(
    df: DataFrame,
    ts_col: str,
    col: str,
    lo: float = 0.0,
    hi: float = 512.0,
    n_bins: int = 64,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Per-week quantile estimates from DAY-level histogram sketches
    merged by ADDING bin counts — the quantile family's mergeability
    rollup (the companion to the HLL day→week register-max rollup):
    the day histograms are what a lakehouse materializes per partition;
    any coarser period's quantiles come from count addition alone, no
    rescan. The oracle builds the weekly histograms DIRECTLY from raw
    rows, so hash equality is the cross-engine proof that
    merge(day sketches) ≡ sketch(week).

    All frames after the first groupBy are ≤ (weeks × n_bins) rows;
    the estimate arithmetic is the same exactly-rounded IEEE chain as
    :func:`histogram_quantile_sketch`, value-hash-checked unrounded.
    """
    if n_bins < 2 or hi <= lo:
        raise ValueError(f"need n_bins >= 2 and hi > lo; got {n_bins=} {lo=} {hi=}")
    width = (hi - lo) / n_bins
    bin_col = (
        F.least(
            F.lit(n_bins - 1),
            F.greatest(F.lit(0), F.floor((F.col(col) - F.lit(lo)) / F.lit(width))),
        )
        .cast("int")
        .alias("bin")
    )
    day_hist = (
        df.filter(F.col(col).isNotNull())
        .select(
            F.date_trunc("week", F.col(ts_col)).alias("week_start"),
            F.date_trunc("day", F.col(ts_col)).alias("__day"),
            bin_col,
        )
        .groupBy("week_start", "__day", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    merged = day_hist.groupBy("week_start", "bin").agg(F.sum("cnt").alias("cnt"))
    from pyspark.sql import Window

    w = Window.partitionBy("week_start").orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = merged.withColumn("cum", F.sum("cnt").over(w)).withColumn(
        "cum_before", F.col("cum") - F.col("cnt")
    )
    totals = merged.groupBy("week_start").agg(F.sum("cnt").cast("bigint").alias("n"))
    qdf = df.sparkSession.createDataFrame([(float(q),) for q in quantiles], "q double")
    cand = (
        cum.join(F.broadcast(totals), "week_start")
        .crossJoin(F.broadcast(qdf))
        .filter(F.col("cum") >= F.col("q") * F.col("n"))
    )
    best = cand.groupBy("week_start", "q", "n").agg(
        F.min_by(F.struct("bin", "cnt", "cum_before"), F.col("bin")).alias("s")
    )
    est = (
        F.lit(lo)
        + F.col("s.bin") * F.lit(width)
        + F.lit(width)
        * (F.col("q") * F.col("n") - F.col("s.cum_before"))
        / F.col("s.cnt")
    )
    return best.select("week_start", "q", "n", est.alias("est"))


def histogram_quantiles_weekly_oracle_sql(
    ts_col: str,
    col: str,
    table: str,
    lo: float = 0.0,
    hi: float = 512.0,
    n_bins: int = 64,
    quantiles: tuple[float, ...] = (0.5, 0.9, 0.99),
) -> str:
    """DuckDB mirror of :func:`histogram_quantiles_weekly`, built
    DIRECTLY from raw rows (no day stage) — the mergeability check."""
    width = (hi - lo) / n_bins
    qs = ", ".join(repr(float(q)) for q in quantiles)
    return f"""
    WITH h AS (
      SELECT date_trunc('week', {ts_col}) AS ws,
             CAST(least({n_bins - 1}, greatest(0,
               floor(({col} - {lo!r}) / {width!r}))) AS INT) AS bin,
             CAST(count(*) AS BIGINT) AS cnt
      FROM {table} WHERE {col} IS NOT NULL GROUP BY 1, 2
    ), c AS (
      SELECT ws, bin, cnt,
             sum(cnt) OVER (PARTITION BY ws ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM h
    ), c2 AS (SELECT ws, bin, cnt, cum, cum - cnt AS cum_before FROM c),
    t AS (SELECT ws, CAST(sum(cnt) AS BIGINT) AS n FROM h GROUP BY ws),
    -- CAST q to DOUBLE: see histogram_quantile_oracle_sql (a bare
    -- decimal literal makes q*n exact where Spark's double rounds)
    q AS (SELECT CAST(unnest([{qs}]) AS DOUBLE) AS q),
    cand AS (
      SELECT c2.ws, q.q, t.n, c2.bin, c2.cnt, c2.cum_before
      FROM c2 JOIN t USING (ws), q WHERE c2.cum >= q.q * t.n
    ), best AS (
      SELECT ws, q, n, min(bin) AS bin FROM cand GROUP BY ws, q, n
    )
    SELECT best.ws AS week_start, best.q, best.n,
           {lo!r} + best.bin * {width!r}
             + {width!r} * (best.q * best.n - c2.cum_before) / c2.cnt AS est
    FROM best JOIN c2 ON best.ws = c2.ws AND best.bin = c2.bin
    """
