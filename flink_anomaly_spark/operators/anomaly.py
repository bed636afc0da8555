"""Anomaly detection — honoring the reference's title ("catch the
anomaly", README.md:1-2). The reference catches a *system* anomaly
(at-least-once duplication); the engine generalizes to *data* anomaly
detection over the events stream, the capability a Flink user would
build with the same keyed-state machinery.

All-built-in implementations: analytic windows for per-key z-scores,
approx quantiles for robust thresholds. No UDFs.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from flink_anomaly_spark.resources import persist


def zscore_outliers(
    df: DataFrame,
    key: str,
    value_col: str,
    threshold: float = 2.0,
) -> DataFrame:
    """Per-key z-score outliers: rows where |value − mean_key| > t·std_key.

    Unbounded analytic window → Spark computes the per-key aggregate and
    joins it back without leaving the shuffle partition (single hash
    shuffle on key, no self-join).
    """
    w = Window.partitionBy(key)
    mean = F.avg(value_col).over(w)
    std = F.stddev_samp(value_col).over(w)
    # Null divisor when std == 0 (degenerate all-equal key): engines
    # disagree on x/0 for doubles (NULL vs ±inf), so exclude such keys
    # explicitly on both the Spark and the oracle side.
    z = (F.col(value_col) - mean) / F.when(std > 0, std)
    return (
        df.withColumn("zscore", F.round(z, 4))
        .filter(F.abs(F.col("zscore")) > threshold)
    )


def mad_outliers(
    df: DataFrame,
    key: str,
    value_col: str,
    threshold: float = 3.5,
) -> DataFrame:
    """Robust per-key outliers via median absolute deviation: modified
    z-score ``0.6745·(v − median) / MAD`` (Iglewicz–Hoaglin), flagging
    rows where |robust_z| > threshold. Robust where stddev z-scores are
    not: the outliers themselves cannot inflate the detection threshold
    (median/MAD have a 50% breakdown point vs 0% for mean/stddev).

    Two keyed aggregations + joins on the same key — with AQE the
    exchange is planned once per key partitioning; both medians are
    exact (Spark ``median`` ≡ interpolated percentile, matching
    DuckDB's), so the oracle is exact too. Degenerate keys (MAD = 0,
    i.e. ≥half the values identical) are excluded on both sides, same
    convention as zscore_outliers' zero-std guard.
    """
    meds = df.groupBy(key).agg(F.median(value_col).alias("__med"))
    with_med = df.join(meds, key)
    mads = with_med.groupBy(key).agg(
        F.median(F.abs(F.col(value_col) - F.col("__med"))).alias("__mad")
    )
    rz = (
        F.lit(0.6745)
        * (F.col(value_col) - F.col("__med"))
        / F.when(F.col("__mad") > 0, F.col("__mad"))
    )
    return (
        with_med.join(mads, key)
        .withColumn("robust_z", F.round(rz, 4))
        .filter(F.abs(F.col("robust_z")) > threshold)
        .drop("__med", "__mad")
    )


def windowed_ewma(
    df: DataFrame,
    key: str,
    ts_col: str,
    id_col: str,
    value_col: str,
    alpha: float = 0.5,
    window: int = 8,
) -> DataFrame:
    """Windowed exponentially-weighted moving average per key:
    ``ewma_i = Σ_k w_k·v_{i−k} / Σ_k w_k`` with ``w_k = (1−α)^k`` over
    the trailing ``window`` rows (normalized, so early rows with fewer
    predecessors are unbiased). The truncation makes the recursive EWMA
    expressible as a fixed set of ``lag`` terms — one analytic-window
    shuffle, no recursion, no UDF — and the dropped tail weight is
    ``(1−α)^window`` (0.4% at the defaults).

    α defaults to 0.5 so every weight is an exact binary double —
    bit-identical arithmetic in any engine, which keeps the DuckDB
    oracle exact.
    """
    from pyspark.sql import Window as W

    w = W.partitionBy(key).orderBy(ts_col, id_col)
    num = F.lit(0.0)
    den = F.lit(0.0)
    for k in range(window):
        wk = (1.0 - alpha) ** k
        lagk = F.lag(value_col, k).over(w)
        num = num + F.when(lagk.isNotNull(), F.lit(wk) * lagk).otherwise(F.lit(0.0))
        den = den + F.when(lagk.isNotNull(), F.lit(wk)).otherwise(F.lit(0.0))
    return df.withColumn("ewma", F.round(num / den, 4))


def kmeans_distance_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 10,
    top_n: int = 20,
    seed: int = 42,
) -> DataFrame:
    """MLlib KMeans distance-based outliers: fit k centroids on the
    embedding column, score each vector by distance to its assigned
    centroid, return the top_n farthest (SURVEY §7.2 step 6 — the
    north-star's MLlib anomaly model).

    Seeded → deterministic run-to-run, but not oracle-expressible
    (DuckDB has no KMeans) → registered rows-only. Training is a few
    Spark jobs over the (dimensionally tiny) feature matrix; scoring is
    a broadcast of k centroids + a narrow per-row distance — both scale
    linearly in rows.
    """
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    feat = df.select(
        F.col(id_col).alias("id"),
        array_to_vector(F.col(vec_col).cast("array<double>")).alias("features"),
    )
    model = KMeans(k=k, seed=seed, featuresCol="features", predictionCol="cluster").fit(feat)
    assigned = model.transform(feat)
    centers = [c.tolist() for c in model.clusterCenters()]
    centers_df = assigned.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(centers)], "cluster int, center array<double>"
    )
    joined = assigned.withColumn("vec", vector_to_array("features")).join(
        F.broadcast(centers_df), "cluster"
    )
    dist2 = F.aggregate(
        F.zip_with(F.col("vec"), F.col("center"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = joined.select(
        F.col("id"),
        F.col("cluster"),
        F.round(F.sqrt(dist2), 6).alias("centroid_dist"),
    )
    # global top-N via orderBy+limit → TakeOrderedAndProject (per-
    # partition heap + driver merge); an unpartitioned Window would
    # shuffle every scored row into a single task. Rank is assigned
    # afterwards on the top_n surviving rows only.
    top = scored.orderBy(F.col("centroid_dist").desc(), F.col("id").asc()).limit(top_n)
    w = Window.orderBy(F.col("centroid_dist").desc(), F.col("id").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "id", "cluster", "centroid_dist", "rank"
    )


def kmeans_lloyd_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    init_ids: list[int],
    n_iter: int = 2,
    top_n: int = 20,
) -> DataFrame:
    """Fixed-iteration spherical Lloyd KMeans outliers — the ORACLE-
    EXACT twin of the MLlib ``kmeans_distance_outliers`` (reference
    analog: the MLlib anomaly model, SURVEY §7.2 step 6; VERDICT r4 #2
    asked for exactly this unrolled-Lloyd construction, mirroring the
    pagerank pattern in graph.py).

    Every step is engine-portable by construction:

    - INIT: centroids = the embeddings of a fixed deterministic id set
      (collected once; k·dim values, a bounded index-build collect).
    - ASSIGN: nearest centroid by cosine (centroids inlined as
      literals → a NARROW map over the corpus, no shuffle, no join;
      the dot product uses the same left-to-right fold as the DuckDB
      oracle's ``list_reduce``, so scores are bit-identical). Ties go
      to the smallest cell id.
    - UPDATE: the new centroid is the element-wise mean of the cell's
      members, accumulated in FIXED-POINT micro-units
      (``bigint(round(val·1e6))`` summed as integers — exact and
      order-independent, the scd2-cents pattern — then one double
      division and a round(6)). Spherical KMeans scores by cosine,
      which is scale-invariant, so the un-normalized mean is the
      correct update and no sqrt enters the centroid itself.
      The per-(cell, dim) partial sums are a map-side-combined groupBy
      over exploded (cell, pos, val) triples — at 100 TB this is one
      shuffle of k·dim partials per mapper, not a row shuffle; the
      k·dim result is collected to the driver (512 doubles) and
      re-inlined as literals for the next assignment, exactly how a
      production trainer broadcasts its model between iterations.
    - A cell that captures no members disappears for later iterations
      (k shrinks) — the oracle's group-by does the same, so the
      semantics stay aligned with no special-casing.
    - SCORE: distance-to-assigned-centroid = round(1 − cos, 6), global
      top-N via orderBy+limit (TakeOrderedAndProject: per-partition
      heap + driver merge of top_n rows, never a single-task window).
    """
    from flink_anomaly_spark.operators.similarity import (
        collect_centroids,
        cosine,
        inline_int_array,
        inline_matrix,
    )

    def scores(cents: dict[int, list[float]]):
        # one shared cosine fold over an inline_matrix centroid literal
        # (the train_pq_codebook pattern) instead of k unrolled copies:
        # identical doubles per cell, but O(1) expression size in k and
        # one SQL parse instead of k·dim py4j literal round-trips —
        # this function is rebuilt n_iter+1 times per query and the
        # unrolled form cost ~1.5 s of driver planning per rebuild
        # (r12 optimization; measured at k=8, dim=64).
        items = sorted(cents.items())
        cb = inline_matrix([cvec for _, cvec in items])
        ids = inline_int_array([ci for ci, _ in items])
        return F.transform(
            F.sequence(F.lit(1), F.lit(len(items))),
            lambda t: F.struct(
                cosine(F.col("v"), F.element_at(cb, t)).alias("cos"),
                (-F.element_at(ids, t)).alias("neg"),
                F.element_at(ids, t).alias("cell"),
            ),
        )

    init = collect_centroids(df, id_col, vec_col, init_ids)
    cents = {ci: [float(x) for x in cvec] for ci, cvec in enumerate(init)}
    dim = len(init[0])
    # persisted: the feature frame feeds n_iter update passes plus the
    # final scoring pass — without it each pass re-scans the corpus
    # (3 full reads at n_iter=2), the standard iterative-trainer cache
    # (guide §5: reuse × recompute-cost; released via
    # resources.release_cached)
    base = persist(df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v")))
    for _ in range(n_iter):
        assigned = base.select(
            "v", F.array_max(scores(cents))["cell"].alias("cell")
        )
        comp = (
            assigned.select("cell", F.posexplode("v").alias("pos", "val"))
            .withColumn(
                "ival",
                F.round(F.col("val").cast("double") * F.lit(1000000.0)).cast("bigint"),
            )
            .groupBy("cell", "pos")
            .agg(F.sum("ival").alias("s"), F.count("*").alias("n"))
            .select(
                "cell",
                "pos",
                F.round(F.col("s") / (F.col("n") * F.lit(1000000.0)), 6).alias("c"),
            )
        )
        nxt: dict[int, list[float]] = {}
        for r in comp.collect():  # k·dim rows — bounded model collect
            nxt.setdefault(r.cell, [0.0] * dim)[r.pos] = r.c
        cents = nxt
    best = F.array_max(scores(cents))
    scored = base.select(
        F.col("id"),
        best["cell"].alias("cluster"),
        (F.round(F.lit(1.0) - best["cos"], 6) + F.lit(0.0)).alias("centroid_dist"),
    )
    top = scored.orderBy(F.col("centroid_dist").desc(), F.col("id").asc()).limit(top_n)
    return top.select(F.col("id").alias(id_col), "cluster", "centroid_dist")


def rolling_zscore_outliers(
    df: DataFrame,
    key: str,
    order_cols: list[str],
    value_col: str,
    lookback_rows: int = 20,
    threshold: float = 2.5,
) -> DataFrame:
    """Streaming-flavored anomaly: z-score against a trailing window of
    the previous ``lookback_rows`` values per key (excludes current row,
    so a spike can't mask itself). ``order_cols`` must be a unique sort
    within key for deterministic results.
    """
    w = (
        Window.partitionBy(key)
        .orderBy(*order_cols)
        .rowsBetween(-lookback_rows, -1)
    )
    mean = F.avg(value_col).over(w)
    std = F.stddev_samp(value_col).over(w)
    n = F.count(value_col).over(w)
    z = (F.col(value_col) - mean) / F.when(std > 0, std)
    return (
        df.withColumn("trailing_n", n)
        .withColumn("zscore", F.round(z, 4))
        .filter((F.col("trailing_n") >= 5) & (F.abs(F.col("zscore")) > threshold))
    )


def hbos_outliers(
    df: DataFrame,
    id_col: str,
    value_col: str,
    ts_col: str,
    n_bins: int = 10,
    top_k: int = 20,
) -> DataFrame:
    """Histogram-Based Outlier Score (Goldstein & Dengel 2012) over two
    features — equi-width-binned ``value_col`` and hour-of-day — with
    the top-k rarest rows selected by an INTEGER key.

    HBOS = Σ_f log(maxcount_f / count_f(x)). log is monotone, so the
    ranking equals the ranking of the integer product
    ``count_v · count_h`` ascending — the selection key stays in exact
    BIGINT arithmetic (libm log differs in the last ulp across engines;
    a float selection key could flip borderline top-k membership, the
    round-7 priority-sampling lesson). The reported score is the
    product form ``(maxc_v/c_v)·(maxc_h/c_h)`` — the same two
    exactly-rounded divisions and one multiply on both engines.

    Binning (round-9 fix, ADVICE r8): equi-width over the OBSERVED
    [min, max] range — ``floor((v − vmin)/width)`` clamped into
    [0, n_bins−1] — instead of the original ``v / (vmax/n_bins)``
    which gave every negative value its own unbounded bin and
    degenerated when max(value) ≤ 0. A constant column (vmax = vmin,
    width 0) maps wholly to bin 0. The clamp arithmetic is the same
    exactly-rounded subtract/divide/floor on both engines.

    Plan: two broadcast-sized histogram tables (≤ n_bins and 24 rows)
    joined back to the events, then TakeOrderedAndProject — the corpus
    is scanned twice (once per histogram pass folds into one shared
    scan per feature aggregation) and never shuffled whole.
    """
    bounds = df.agg(
        F.min(value_col).alias("__vmin"), F.max(value_col).alias("__vmax")
    )
    width = (F.col("__vmax") - F.col("__vmin")) / n_bins
    clamped = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(
            F.floor((F.col("__v") - F.col("__vmin")) / width).cast("bigint"),
            F.lit(n_bins - 1).cast("bigint"),
        ),
    )
    binned = (
        df.select(
            F.col(id_col),
            F.col(value_col).alias("__v"),
            F.hour(F.col(ts_col)).alias("__h"),
        )
        .crossJoin(F.broadcast(bounds))
        .select(
            id_col,
            "__h",
            F.when(F.col("__vmax") > F.col("__vmin"), clamped)
            .otherwise(F.lit(0).cast("bigint"))
            .alias("__bv"),
        )
    )
    # persisted: both histogram passes and the final scoring join read
    # this narrow (id, hour, bin) projection — without the cache each
    # consumer rescans the corpus and recomputes the vmax aggregate
    binned = persist(binned)
    hist_v = binned.groupBy("__bv").agg(F.count("*").alias("__cv"))
    hist_h = binned.groupBy("__h").agg(F.count("*").alias("__ch"))
    maxes = hist_v.agg(F.max("__cv").alias("__mv")).crossJoin(
        hist_h.agg(F.max("__ch").alias("__mh"))
    )
    scored = (
        binned.join(F.broadcast(hist_v), "__bv")
        .join(F.broadcast(hist_h), "__h")
        .crossJoin(F.broadcast(maxes))
    )
    return (
        scored.orderBy((F.col("__cv") * F.col("__ch")).asc(), F.col(id_col).asc())
        .limit(top_k)
        .select(
            F.col(id_col),
            F.col("__bv").alias("value_bin"),
            F.col("__h").cast("bigint").alias("hour_bin"),
            F.col("__cv").cast("bigint").alias("count_v"),
            F.col("__ch").cast("bigint").alias("count_h"),
            F.round(
                (F.col("__mv").cast("double") / F.col("__cv"))
                * (F.col("__mh").cast("double") / F.col("__ch")),
                4,
            ).alias("hbos_score"),
        )
    )


#: Benford first-digit probabilities log10(1 + 1/d), d = 1..9, as
#: full-precision PYTHON literals — embedded identically in the Spark
#: expression and the oracle SQL so neither engine runs libm at query
#: time (log10 is not guaranteed correctly rounded in either).
BENFORD_P = tuple(
    float.fromhex(h)
    for h in (
        "0x1.34413509f79ffp-2",  # log10(2/1)
        "0x1.68a288b60b7fcp-3",  # log10(3/2)
        "0x1.ffbfc2bbc7801p-4",  # log10(4/3)
        "0x1.8cf183886480dp-4",  # log10(5/4)
        "0x1.44538de3b27ebp-4",  # log10(6/5)
        "0x1.1236cc009220bp-4",  # log10(7/6)
        "0x1.db11ed766abf1p-5",  # log10(8/7)
        "0x1.a30a9d609efeap-5",  # log10(9/8)
        "0x1.76d869b02a032p-5",  # log10(10/9)
    )
)


def benford_deviation(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Per-group Benford's-law first-digit test: chi-square deviation of
    the observed leading-digit distribution of integer cents from the
    Benford expectation — the forensic data-quality screen for
    fabricated or truncated numeric columns.

    Determinism: digits come from the decimal string of exact cents;
    the chi-square is a FIXED nine-term expression tree over integer
    observed counts and literal probabilities (no libm, no
    association-order-sensitive SUM over float terms — each engine
    evaluates the identical left-to-right chain). One hash aggregation
    with nine conditional integer counts; output is |groups| rows.
    """
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    digit = F.substring(cents.cast("string"), 1, 1).cast("int")
    base = df.select(F.col(group_col).alias("__g"), digit.alias("__d")).filter(
        cents > 0
    )
    aggs = [
        F.count(F.when(F.col("__d") == d, 1)).alias(f"__o{d}") for d in range(1, 10)
    ]
    g = base.groupBy("__g").agg(F.count("*").alias("__n"), *aggs)
    n = F.col("__n").cast("double")
    chi2 = None
    for d in range(1, 10):
        e = n * F.lit(BENFORD_P[d - 1])
        term = (F.col(f"__o{d}") - e) * (F.col(f"__o{d}") - e) / e
        chi2 = term if chi2 is None else chi2 + term
    return g.select(
        F.col("__g").alias(group_col),
        F.col("__n").cast("bigint").alias("n"),
        F.round(F.col("__o1") / n, 4).alias("leading_one_share"),
        F.round(chi2, 4).alias("benford_chi2"),
    )


# ---------------------------------------------------------------------------
# Split-conformal anomaly p-values (distribution-free)
# ---------------------------------------------------------------------------

#: calibration/test split instant for the conformal screen — the same
#: frozen-reference boundary the TV-drift screen uses (week 1 = calib).
CONFORMAL_SPLIT_TS = "2024-01-08"


def conformal_ge_map(
    df: DataFrame,
    ts_col: str,
    value_col: str,
    split_ts: str = CONFORMAL_SPLIT_TS,
) -> DataFrame:
    """The FROZEN calibration exceedance map shared by the batch
    conformal screen and its streaming twin (the tv_hist_bin
    shared-fragment discipline — twin and oracle cannot diverge): one
    row per DISTINCT score cents in the corpus, carrying
    ``__ge = #{calibration scores >= s}`` (suffix-cumulative sum over
    the merged calib ∪ post-split distinct-score domain — the Gini/KS
    value-domain pattern, never a quadratic inequality join) and the
    calibration size ``__n`` on every row (broadcast-friendly: the map
    is |distinct cents| rows of three BIGINTs).

    The domain is built from the SAME bounded corpus both consumers
    replay, so every arriving score hits the map; a live deployment
    scoring genuinely unseen values would quantize scores to a fixed
    grid first (the TV-drift bin pattern) to keep the broadcast map
    constant-size.
    """
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    split = F.lit(split_ts).cast("timestamp")
    base = df.select(F.col(ts_col).alias("__ts"), cents.alias("__s"))
    calib = base.filter(F.col("__ts") < split)
    test_scores = (
        base.filter(F.col("__ts") >= split)
        .select("__s")
        .distinct()
        .withColumn("__c", F.lit(0).cast("bigint"))
    )
    calib_hist = calib.groupBy("__s").agg(F.count("*").cast("bigint").alias("__c"))
    dom = (
        calib_hist.unionByName(test_scores)
        .groupBy("__s")
        .agg(F.sum("__c").alias("__c"))
    )
    w = Window.orderBy(F.col("__s").desc()).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    n_calib = calib.agg(F.count("*").cast("bigint").alias("__n"))
    return (
        dom.withColumn("__ge", F.sum("__c").over(w))
        .select("__s", "__ge")
        .join(F.broadcast(n_calib))
    )


def conformal_anomaly_pvalues(
    df: DataFrame,
    id_col: str,
    ts_col: str,
    value_col: str,
    split_ts: str = CONFORMAL_SPLIT_TS,
    top_k: int = 20,
) -> DataFrame:
    """Split-conformal anomaly p-values (Vovk et al., *Algorithmic
    Learning in a Random World*): for each test-period event the exact
    finite-sample-valid p-value ``p = (1 + #{calib >= s}) / (n_calib
    + 1)`` of its score under the calibration period — under
    exchangeability, P(p <= a) <= a with NO distributional assumption,
    which is why conformal screens survive the messy value columns a
    training pipeline meets. Returns the ``top_k`` most anomalous test
    events (smallest p).

    Exact and domain-bounded: scores are integer cents; the calibration
    exceedance count ``#{calib >= s}`` is a suffix-cumulative sum over
    the merged DISTINCT-SCORE domain (calib histogram unioned with
    zero-count test scores — the Gini/KS value-domain pattern), never a
    quadratic inequality join. Test events hash-join the |domain|-row
    map on the score; the top-k SELECTION key is the integer pair
    (exceedance count asc, id asc) — the p-value itself is ONE exactly
    rounded terminal division. State: the domain window is bounded by
    the distinct-cents cardinality, not the corpus.
    """
    cents = F.round(F.col(value_col) * 100).cast("bigint")
    split = F.lit(split_ts).cast("timestamp")
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(ts_col).alias("__ts"),
        cents.alias("__s"),
    )
    test = base.filter(F.col("__ts") >= split)
    ge = conformal_ge_map(df, ts_col, value_col, split_ts)
    scored = test.join(ge, "__s")
    return (
        scored.orderBy(F.col("__ge").asc(), F.col("__id").asc())
        .limit(top_k)
        .select(
            F.col("__id").alias(id_col),
            F.col("__ts").alias(ts_col),
            F.col("__s").alias("score_cents"),
            F.col("__ge").cast("bigint").alias("n_calib_ge"),
            F.round(
                (1 + F.col("__ge")).cast("double") / (F.col("__n") + 1).cast("double"),
                6,
            ).alias("p_value"),
        )
    )


#: Benford alarm threshold for the per-window streaming screen: a
#: chi-square this far above the 9-digit expectation flags the window.
#: A LITERAL compared against a deterministic double — no libm at
#: query time (the synthetic uniform-ish value column fails Benford by
#: construction, so the flag fires; real ledgers sit well under it).
BENFORD_ALARM_CHI2 = 20.0


def benford_windowed_chi2(day_digits: DataFrame) -> DataFrame:
    """Finalize per-window Benford chi-square from streamed (window,
    digit, count) rows — the batch half of the streaming screen's
    serve-layer split. Same fixed nine-term expression chain over
    integer counts and the BENFORD_P literals as the batch
    ``benford_deviation`` (no float SUM whose association order could
    differ; digits absent from a window coalesce to 0). Rows outside
    digits 1-9 — the streamed 0/NULL rows of non-positive cents, which
    the stream must NOT pre-filter (see benford_digit_stream's
    watermark-pushdown note) — are excluded here, mirroring the batch
    screen's ``cents > 0`` domain. Emits the alarm flag
    ``chi2 > BENFORD_ALARM_CHI2``.
    """
    kept = day_digits.filter(
        (F.col("digit") >= 1) & (F.col("digit") <= 9)
    )
    aggs = [
        F.coalesce(
            F.sum(F.when(F.col("digit") == d, F.col("c"))), F.lit(0)
        ).cast("bigint").alias(f"__o{d}")
        for d in range(1, 10)
    ]
    g = kept.groupBy("window_start").agg(
        F.sum("c").cast("bigint").alias("__n"), *aggs
    )
    n = F.col("__n").cast("double")
    chi2 = None
    for d in range(1, 10):
        e = n * F.lit(BENFORD_P[d - 1])
        term = (F.col(f"__o{d}") - e) * (F.col(f"__o{d}") - e) / e
        chi2 = term if chi2 is None else chi2 + term
    return g.select(
        "window_start",
        F.col("__n").alias("n"),
        F.round(F.col("__o1") / n, 4).alias("leading_one_share"),
        F.round(chi2, 4).alias("benford_chi2"),
        (F.round(chi2, 4) > F.lit(BENFORD_ALARM_CHI2)).alias("alarm"),
    )


def benford_windowed_oracle_sql(ts_col: str, value_col: str, table: str) -> str:
    """DuckDB replay of the streamed per-window Benford screen: the
    identical day-digit histogram build from raw events, then the same
    nine-term chain (shared BENFORD_P literals, shared term order)."""
    counts = ", ".join(
        f"CAST(count(*) FILTER (d = {dd}) AS BIGINT) AS o{dd}" for dd in range(1, 10)
    )
    terms = " + ".join(
        f"((o{dd} - CAST(n AS DOUBLE) * {BENFORD_P[dd-1]!r})"
        f" * (o{dd} - CAST(n AS DOUBLE) * {BENFORD_P[dd-1]!r})"
        f" / (CAST(n AS DOUBLE) * {BENFORD_P[dd-1]!r}))"
        for dd in range(1, 10)
    )
    return f"""
    WITH c AS (
      SELECT date_trunc('day', {ts_col}) AS window_start,
             CAST(substr(CAST(CAST(round({value_col}*100) AS BIGINT) AS VARCHAR),
                         1, 1) AS INTEGER) AS d
      FROM {table} WHERE CAST(round({value_col}*100) AS BIGINT) > 0
    ),
    a AS (SELECT window_start, CAST(count(*) AS BIGINT) AS n, {counts}
          FROM c GROUP BY 1)
    SELECT CAST(window_start AS TIMESTAMP) AS window_start, n,
           round(o1 / CAST(n AS DOUBLE), 4) AS leading_one_share,
           round({terms}, 4) AS benford_chi2,
           round({terms}, 4) > {BENFORD_ALARM_CHI2!r} AS alarm
    FROM a
    """


# ---------------------------------------------------------------------------
# Local Outlier Factor over an embedding column (LSH-blocked)
# ---------------------------------------------------------------------------


def lof_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 5,
    n_planes: int = 4,
    top_k: int = 20,
) -> DataFrame:
    """Local Outlier Factor (Breunig et al., SIGMOD 2000) over an
    embedding column — the DENSITY-RELATIVE outlier score the global
    screens (z-score / MAD / centroid distance) cannot express: a
    point is anomalous if its local density is low RELATIVE TO its
    neighbors', so a sparse-cluster member is not flagged just for
    living in a sparse region. Returns the ``top_k`` highest-LOF
    points.

    Scale shape: neighborhoods come from the deterministic LSH
    blocking (per-block pair cost bounded, the knn_graph_stats /
    embedding_near_dup_lsh plan); every stage after the kNN edges is
    EDGE-LIST sized (n*k rows): k-distance is a per-node max,
    reachability joins the edge list to the neighbor's k-distance,
    and both density sums ride exact BIGINT MICRO-UNITS of 6-rounded
    doubles (reach distances, then lrd itself re-quantized) so no
    float SUM's association order can differ between engines — each
    density is one deterministic scalar division. Singleton-bucket
    points have no neighborhood and drop out (LOF undefined), same on
    both engines.
    """
    from flink_anomaly_spark.operators.relational import top_k_per_group
    from flink_anomaly_spark.operators.similarity import (
        _dim_of,
        hyperplane_matrix,
        lsh_bucket,
    )
    from flink_anomaly_spark.partitioning import spread

    planes = hyperplane_matrix(n_planes, _dim_of(df, vec_col))
    base = persist(
        spread(
            df.select(
                F.col(id_col).alias("__nid"),
                F.col(vec_col).alias("__nvec"),
                lsh_bucket(F.col(vec_col), planes).alias("__bucket"),
            )
        )
    )
    q = base.select(
        F.col("__nid").alias("__qid"), F.col("__nvec").alias("__qvec"), "__bucket"
    )
    l2 = F.sqrt(
        F.aggregate(
            F.zip_with(
                F.col("__qvec"),
                F.col("__nvec"),
                lambda x, y: (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    pairs = (
        base.join(q, "__bucket")
        .filter(F.col("__nid") != F.col("__qid"))
        .select("__qid", "__nid", F.round(l2, 6).alias("__d"))
    )
    edges = persist(
        top_k_per_group(
            pairs,
            group_cols=["__qid"],
            order_by=[F.col("__d").asc(), F.col("__nid").asc()],
            k=k,
            rank_col="__rank",
        ).select("__qid", "__nid", "__d")
    )
    kstats = edges.groupBy("__qid").agg(
        F.count("*").cast("bigint").alias("__nn"),
        F.max("__d").alias("__kdist"),
    )
    reach = edges.join(
        kstats.select(F.col("__qid").alias("__nid"), F.col("__kdist").alias("__kd_b")),
        "__nid",
    ).select(
        "__qid",
        F.round(F.greatest(F.col("__kd_b"), F.col("__d")) * 1000000)
        .cast("bigint")
        .alias("__reach_micro"),
    )
    lrd = (
        reach.groupBy("__qid")
        .agg(F.sum("__reach_micro").alias("__s"))
        .join(kstats, "__qid")
        .select(
            "__qid",
            "__nn",
            F.round(
                F.col("__nn").cast("double")
                * F.lit(1000000000000.0)
                / F.greatest(F.col("__s"), F.lit(1)).cast("double")
            )
            .cast("bigint")
            .alias("__lrd_micro"),
        )
    )
    nbr_lrd = edges.join(
        lrd.select(
            F.col("__qid").alias("__nid"), F.col("__lrd_micro").alias("__lrd_b")
        ),
        "__nid",
    ).groupBy("__qid").agg(F.sum("__lrd_b").cast("bigint").alias("__sum_lrd_b"))
    scored = nbr_lrd.join(lrd, "__qid").select(
        "__qid",
        "__nn",
        F.col("__lrd_micro"),
        F.round(
            F.col("__sum_lrd_b").cast("double")
            / (
                F.col("__nn").cast("double")
                * F.greatest(F.col("__lrd_micro"), F.lit(1)).cast("double")
            ),
            6,
        ).alias("__lof"),
    )
    return (
        scored.orderBy(F.col("__lof").desc(), F.col("__qid").asc())
        .limit(top_k)
        .select(
            F.col("__qid").alias(id_col),
            F.col("__nn").alias("n_neighbors"),
            F.round(F.col("__lrd_micro").cast("double") / 1000000.0, 6).alias("lrd"),
            F.col("__lof").alias("lof"),
        )
    )


#: Streaming-conformal alarm level: events with conformal p <= 1/20
#: (alpha = 0.05) count as anomalies; a window whose anomaly RATE
#: exceeds 2*alpha trips the alarm. Both comparisons are evaluated
#: cross-multiplied in INTEGERS (no float boundary at the alarm).
CONFORMAL_ALPHA = (1, 20)
CONFORMAL_RATE_MULT = 2


def conformal_anom_flag(ge, n_calib) -> "F.Column":
    """The per-event integer anomaly decision shared by the streaming
    stage and the oracle: conformal ``p = (1+ge)/(n_calib+1) <= alpha``
    cross-multiplied to ``(1+ge)*alpha_den <= alpha_num*(n_calib+1)``
    — pure BIGINT comparison, no division in the row path."""
    a_num, a_den = CONFORMAL_ALPHA
    return ((1 + ge) * a_den <= a_num * (n_calib + 1)).cast("bigint")


def conformal_windowed_rates(
    day_rows: DataFrame,
    split_ts: str = CONFORMAL_SPLIT_TS,
) -> DataFrame:
    """Finalize per-window conformal anomaly rates from streamed
    (window_start, window_end, n_scored, n_anom) rows — the batch half
    of the streaming conformal screen's serve-layer split (the
    tv_drift_finalize shape): keep TEST-period windows only (the
    calibration period streams through the same stateless map — its
    windows emit but are excluded here, mirroring the Benford
    digits-outside-1-9 exclusion), rate is ONE terminal division, and
    the ``alarm`` flag is the INTEGER cross-multiplied comparison
    ``n_anom * alpha_den > mult * alpha_num * n_scored`` (rate >
    mult*alpha — under exchangeability the expected rate is <= alpha,
    so a doubled rate is a distribution change).
    """
    a_num, a_den = CONFORMAL_ALPHA
    split = F.lit(split_ts).cast("timestamp")
    return (
        day_rows.filter(F.col("window_start") >= split)
        .filter(F.col("n_scored") > 0)
        .select(
            F.col("window_start").alias("day"),
            F.col("n_scored").cast("bigint").alias("n_scored"),
            F.col("n_anom").cast("bigint").alias("n_anom"),
            F.round(
                F.col("n_anom").cast("double") / F.col("n_scored").cast("double"), 6
            ).alias("anom_rate"),
            (
                F.col("n_anom") * a_den
                > F.lit(CONFORMAL_RATE_MULT) * a_num * F.col("n_scored")
            )
            .cast("int")
            .alias("alarm"),
        )
    )


def conformal_windowed_oracle_sql(
    ts_col: str, value_col: str, table: str, split_ts: str = CONFORMAL_SPLIT_TS
) -> str:
    """DuckDB replay of the streaming conformal screen from raw events:
    the identical calibration exceedance map (suffix-cumsum over the
    merged distinct-cents domain), the identical integer anomaly
    decision per test event, the identical per-day rate + alarm."""
    a_num, a_den = CONFORMAL_ALPHA
    return f"""
    WITH base AS (
      SELECT {ts_col} AS ts, CAST(round({value_col}*100) AS BIGINT) AS s
      FROM {table} WHERE {value_col} IS NOT NULL
    ),
    calib AS (SELECT s FROM base WHERE ts < TIMESTAMP '{split_ts}'),
    nc AS (SELECT CAST(count(*) AS BIGINT) AS n FROM calib),
    dom AS (
      SELECT s, CAST(sum(c) AS BIGINT) AS c FROM (
        SELECT s, CAST(count(*) AS BIGINT) AS c FROM calib GROUP BY s
        UNION ALL
        SELECT DISTINCT s, CAST(0 AS BIGINT) AS c FROM base
        WHERE ts >= TIMESTAMP '{split_ts}'
      ) GROUP BY s
    ),
    ge AS (
      SELECT s, CAST(sum(c) OVER (ORDER BY s DESC
        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS ge
      FROM dom
    ),
    flagged AS (
      SELECT date_trunc('day', b.ts) AS day,
             CASE WHEN (1 + g.ge) * {a_den} <= {a_num} * (nc.n + 1)
                  THEN 1 ELSE 0 END AS anom
      FROM base b JOIN ge g USING (s) CROSS JOIN nc
      WHERE b.ts >= TIMESTAMP '{split_ts}'
    )
    SELECT day, CAST(count(*) AS BIGINT) AS n_scored,
           CAST(sum(anom) AS BIGINT) AS n_anom,
           round(CAST(sum(anom) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS anom_rate,
           CASE WHEN sum(anom) * {a_den} > {CONFORMAL_RATE_MULT} * {a_num} * count(*)
                THEN 1 ELSE 0 END AS alarm
    FROM flagged GROUP BY day
    """


# ---------------------------------------------------------------------------
# Mahalanobis outliers over embeddings (closed-form d=3)
# ---------------------------------------------------------------------------

#: Quantization scale for the Mahalanobis sufficient statistics: unit-
#: normalized embedding coordinates scaled to integer ten-thousandths.
#: The statistic is SCALE-INVARIANT (adjugate/determinant scaling
#: cancels: s²·s⁴/s⁶ = 1 for d=3), so the scale only sets the integer
#: grid the two engines must agree on, not the answer.
MAHA_SCALE = 10_000


def _maha3_sufficient_sql(q: tuple[str, str, str]) -> list[str]:
    """Shared aggregate-stage SQL fragments: the ten exact-BIGINT
    sufficient statistics of the 3-dim covariance over quantized
    coordinates ``q`` — one aliased expression per statistic, emitted
    verbatim into both engines' plans (Spark takes them as individual
    agg expressions, the oracle comma-joins them)."""
    q0, q1, q2 = q
    return [
        "CAST(count(*) AS BIGINT) AS n",
        f"CAST(sum({q0}) AS BIGINT) AS s0",
        f"CAST(sum({q1}) AS BIGINT) AS s1",
        f"CAST(sum({q2}) AS BIGINT) AS s2",
        f"CAST(sum({q0}*{q0}) AS BIGINT) AS p00",
        f"CAST(sum({q0}*{q1}) AS BIGINT) AS p01",
        f"CAST(sum({q0}*{q2}) AS BIGINT) AS p02",
        f"CAST(sum({q1}*{q1}) AS BIGINT) AS p11",
        f"CAST(sum({q1}*{q2}) AS BIGINT) AS p12",
        f"CAST(sum({q2}*{q2}) AS BIGINT) AS p22",
    ]


#: Shared scalar fragments for the closed-form 3x3 inverse: covariance
#: numerators C = n*P − s·sᵀ cast to DOUBLE (exact: |C| < 2^53 at every
#: probed SF), the SYMMETRIC adjugate, the determinant, and the
#: quadratic form. IDENTICAL expression text runs on both engines —
#: double +,−,× are IEEE-754-exactly specified, so with the same tree
#: shape over the same exact integers the scores are BIT-IDENTICAL
#: (no libm anywhere in the chain).
MAHA3_COV_SQL = {
    "c00": "CAST(n*p00 - s0*s0 AS DOUBLE)",
    "c01": "CAST(n*p01 - s0*s1 AS DOUBLE)",
    "c02": "CAST(n*p02 - s0*s2 AS DOUBLE)",
    "c11": "CAST(n*p11 - s1*s1 AS DOUBLE)",
    "c12": "CAST(n*p12 - s1*s2 AS DOUBLE)",
    "c22": "CAST(n*p22 - s2*s2 AS DOUBLE)",
}
MAHA3_ADJ_SQL = {
    "a00": "c11*c22 - c12*c12",
    "a01": "c02*c12 - c01*c22",
    "a02": "c01*c12 - c02*c11",
    "a11": "c00*c22 - c02*c02",
    "a12": "c01*c02 - c00*c12",
    "a22": "c00*c11 - c01*c01",
}
MAHA3_DET_SQL = "c00*a00 + c01*a01 + c02*a02"
MAHA3_M2_SQL = (
    "(dx0*(a00*dx0 + a01*dx1 + a02*dx2)"
    " + dx1*(a01*dx0 + a11*dx1 + a12*dx2)"
    " + dx2*(a02*dx0 + a12*dx1 + a22*dx2)) / det"
)


def mahalanobis_outliers(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    top_k: int = 20,
) -> DataFrame:
    """Top-k Mahalanobis-distance outliers over the first THREE
    embedding coordinates — the classic multivariate outlier score
    (Mahalanobis 1936) completing the anomaly family between the
    univariate screens (z/MAD/EWMA) and the density-based LOF:
    ``m² = (x−μ)ᵀ Σ⁻¹ (x−μ)``, which unlike the centroid-distance
    screen accounts for correlated, unequal-variance dimensions.

    Cross-engine exactness WITHOUT a matrix solve: coordinates
    quantize to the MAHA_SCALE integer grid; the ten sufficient
    statistics are EXACT BIGINT sums (association-order-free); with
    C = n·P − s·sᵀ (= n²·Cov, all BIGINT, cast to double exactly),
    the d=3 inverse is CLOSED-FORM — symmetric adjugate over 2×2
    determinants — and ``m² = dxᵀ·adj(C)·dx / det(C)`` with
    dx = n·x − s (the n-scaled centering; the n² and quantization
    scales cancel exactly). Every scalar stage is the SHARED SQL
    fragment (MAHA3_*), so both engines evaluate the identical IEEE
    expression tree over identical integers: scores are BIT-IDENTICAL,
    no rounding-boundary risk at the top-k selection (ordered by the
    rounded score desc, id asc — a total order).

    Scale shape: ONE narrow projection (3 ints per row — the vector
    never shuffles), one map-side-combinable 10-statistic agg to a
    SINGLE broadcast row, one stateless per-row score pass, and a
    TakeOrderedAndProject top-k. Higher-d deployments use
    :func:`mahalanobis_outliers_d` (round 11): the same sufficient-
    statistic discipline with a generated Cholesky in place of the
    closed-form adjugate — oracle-checked at d=8 as
    ``mahalanobis_outliers_d8``. Degenerate corpora (det ≤ 0, i.e.
    collinear dims) emit nothing on either engine.
    """
    q = [
        F.expr(
            f"CAST(round(CAST(element_at({vec_col}, {i + 1}) AS DOUBLE)"
            f" * {MAHA_SCALE}) AS BIGINT)"
        ).alias(f"q{i}")
        for i in range(3)
    ]
    rows = df.select(F.col(id_col).alias("__id"), *q)
    first, *rest = [F.expr(e) for e in _maha3_sufficient_sql(("q0", "q1", "q2"))]
    stats = rows.agg(first, *rest)
    scored = rows.join(F.broadcast(stats))
    for name, frag in MAHA3_COV_SQL.items():
        scored = scored.withColumn(name, F.expr(frag))
    for name, frag in MAHA3_ADJ_SQL.items():
        scored = scored.withColumn(name, F.expr(frag))
    scored = scored.withColumn("det", F.expr(MAHA3_DET_SQL))
    scored = (
        scored.filter(F.col("det") > 0)
        .withColumn("dx0", F.expr("CAST(n*q0 - s0 AS DOUBLE)"))
        .withColumn("dx1", F.expr("CAST(n*q1 - s1 AS DOUBLE)"))
        .withColumn("dx2", F.expr("CAST(n*q2 - s2 AS DOUBLE)"))
        .withColumn("m2", F.expr(MAHA3_M2_SQL))
    )
    return (
        scored.select(
            F.col("__id").alias(id_col),
            (F.round(F.col("m2"), 6) + F.lit(0.0)).alias("maha2"),
        )
        .orderBy(F.col("maha2").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def mahalanobis_oracle_sql(
    id_col: str, vec_col: str, table: str, top_k: int = 20
) -> str:
    """DuckDB replay of :func:`mahalanobis_outliers` — the identical
    shared MAHA3_* fragments over the identical quantized integers
    (list indexing is 1-based in both engines)."""
    quant = [
        f"CAST(round(CAST({vec_col}[{i + 1}] AS DOUBLE) * {MAHA_SCALE}) AS BIGINT)"
        f" AS q{i}"
        for i in range(3)
    ]
    cov = ", ".join(f"{frag} AS {name}" for name, frag in MAHA3_COV_SQL.items())
    adj = ", ".join(f"{frag} AS {name}" for name, frag in MAHA3_ADJ_SQL.items())
    return f"""
    WITH rows_q AS (
      SELECT {id_col} AS id, {", ".join(quant)} FROM {table}
    ),
    stats AS (
      SELECT {", ".join(_maha3_sufficient_sql(("q0", "q1", "q2")))} FROM rows_q
    ),
    cov AS (SELECT *, {cov} FROM stats),
    adj AS (SELECT *, {adj} FROM cov),
    full_s AS (SELECT *, {MAHA3_DET_SQL} AS det FROM adj),
    scored AS (
      SELECT r.id,
             CAST(s.n*r.q0 - s.s0 AS DOUBLE) AS dx0,
             CAST(s.n*r.q1 - s.s1 AS DOUBLE) AS dx1,
             CAST(s.n*r.q2 - s.s2 AS DOUBLE) AS dx2,
             s.a00, s.a01, s.a02, s.a11, s.a12, s.a22, s.det
      FROM rows_q r CROSS JOIN full_s s
      WHERE s.det > 0
    )
    SELECT id AS {id_col}, round({MAHA3_M2_SQL}, 6) + 0.0 AS maha2
    FROM scored
    ORDER BY maha2 DESC, {id_col} ASC
    LIMIT {top_k}
    """


# ---------------------------------------------------------------------------
# Mahalanobis outliers at arbitrary dimension (generated Cholesky fragments)
# ---------------------------------------------------------------------------


def maha_sufficient_sql_d(cols: tuple[str, ...]) -> list[str]:
    """Generalizes :func:`_maha3_sufficient_sql` to ``d = len(cols)``:
    ``1 + d + d(d+1)/2`` exact-BIGINT sufficient statistics (count,
    coordinate sums, upper-triangle cross-product sums), one aliased
    fragment per statistic, emitted verbatim into both engines."""
    d = len(cols)
    frags = ["CAST(count(*) AS BIGINT) AS n"]
    frags += [f"CAST(sum({cols[i]}) AS BIGINT) AS s{i}" for i in range(d)]
    frags += [
        f"CAST(sum({cols[i]}*{cols[j]}) AS BIGINT) AS p{i}_{j}"
        for i in range(d)
        for j in range(i, d)
    ]
    return frags


def maha_chol_fragments(d: int) -> list[tuple[str, str]]:
    """Dependency-ordered (name, expression) fragments that factor the
    n²-scaled covariance ``C = n·P − s·sᵀ`` as ``C = L·Lᵀ`` (Cholesky)
    USING ONLY +,−,×,÷,sqrt — every one an IEEE-754 exactly-rounded op,
    so identical fragment text over identical BIGINT statistics yields
    BIT-IDENTICAL factors on Spark and DuckDB (the MAHA3_* shared-
    fragment discipline, generated instead of hand-written so it holds
    at any d). Emits ``c{i}_{j}`` (exact-integer covariance numerators
    cast to double), ``g{j}`` (the j-th pivot — SPD iff every pivot is
    a finite positive, see :func:`maha_pivot_condition`) and
    ``l{i}_{j}``. Each fragment references only earlier names: Spark
    applies them as sequential withColumn, the oracle as one chained
    CTE stage per fragment."""
    frags: list[tuple[str, str]] = []
    for i in range(d):
        for j in range(i, d):
            frags.append((f"c{i}_{j}", f"CAST(n*p{i}_{j} - s{i}*s{j} AS DOUBLE)"))
    for j in range(d):
        dot = " + ".join(f"l{j}_{k}*l{j}_{k}" for k in range(j))
        frags.append((f"g{j}", f"c{j}_{j} - ({dot})" if dot else f"c{j}_{j}"))
        frags.append((f"l{j}_{j}", f"sqrt(g{j})"))
        for i in range(j + 1, d):
            dot = " + ".join(f"l{i}_{k}*l{j}_{k}" for k in range(j))
            num = f"c{j}_{i} - ({dot})" if dot else f"c{j}_{i}"
            frags.append((f"l{i}_{j}", f"({num}) / l{j}_{j}"))
    return frags


#: Relative pivot tolerance: a mathematically rank-deficient corpus
#: leaves pivots that are FLOAT NOISE (g_j/c_jj ~ 2⁻⁵⁰) rather than
#: exact zeros — a strict g > 0 would pass or fail it by rounding
#: luck and emit astronomically inflated scores when it passes. The
#: ratio g_j/c_jj is 1 − R²(dim j | dims < j), so any real corpus sits
#: orders of magnitude above 1e-9 and any collinear one orders below;
#: the comparison is the same IEEE expression on both engines.
MAHA_PIVOT_RTOL = "1.0e-9"


def maha_pivot_condition(d: int) -> str:
    """SPD guard shared by both engines: every Cholesky pivot finite
    and RELATIVELY positive (see MAHA_PIVOT_RTOL). NaN guards matter —
    both Spark and DuckDB order NaN ABOVE all values, so a bare
    ``g > …`` would pass a degenerate (collinear) corpus instead of
    emitting nothing."""
    return " AND ".join(
        f"(NOT isnan(g{j}) AND g{j} > {MAHA_PIVOT_RTOL} * c{j}_{j})"
        for j in range(d)
    )


def maha_solve_fragments(d: int) -> list[tuple[str, str]]:
    """Per-row forward substitution ``L·y = dx`` and the quadratic form
    ``m² = Σ y_i²`` (since ``dxᵀC⁻¹dx = ‖L⁻¹dx‖²``); same shared-
    fragment bit-identity argument as :func:`maha_chol_fragments`."""
    frags: list[tuple[str, str]] = []
    for i in range(d):
        dot = " + ".join(f"l{i}_{k}*y{k}" for k in range(i))
        num = f"dx{i} - ({dot})" if dot else f"dx{i}"
        frags.append((f"y{i}", f"({num}) / l{i}_{i}"))
    frags.append(("m2", " + ".join(f"y{i}*y{i}" for i in range(d))))
    return frags


def maha_chol_values(stats: dict[str, int], d: int) -> dict[str, float] | None:
    """Pure-Python evaluation of EXACTLY the fragments
    :func:`maha_chol_fragments` emits, in the same order with the same
    association (left-folded dot products, one subtraction, one sqrt or
    division per entry). Python floats are IEEE-754 doubles and
    ``math.sqrt`` is correctly rounded, so these values are
    BIT-IDENTICAL to what DuckDB computes from the same fragments —
    which is what lets the Spark side inject them as exact round-trip
    literals instead of chaining 80 dependent columns through Catalyst
    (CollapseProject inlines dependent projections, making the fully
    expanded Cholesky expression tree EXPONENTIAL in d — the direct
    in-plan form hangs the analyzer at d=8). Returns None when any
    pivot is non-positive/NaN (degenerate corpus), mirroring
    :func:`maha_pivot_condition`."""
    import math

    # Empty corpus / all-NULL coordinates: n = 0 or NULL sums (round-11
    # review finding: `0 * None` raised TypeError where the docstring
    # promises an empty frame). Degenerate -> None, same as a failed
    # pivot.
    if not stats.get("n") or any(v is None for v in stats.values()):
        return None

    v: dict[str, float] = {}
    n = stats["n"]
    for i in range(d):
        for j in range(i, d):
            v[f"c{i}_{j}"] = float(
                n * stats[f"p{i}_{j}"] - stats[f"s{i}"] * stats[f"s{j}"]
            )
    for j in range(d):
        dot = None
        for k in range(j):
            t = v[f"l{j}_{k}"] * v[f"l{j}_{k}"]
            dot = t if dot is None else dot + t
        g = v[f"c{j}_{j}"] if dot is None else v[f"c{j}_{j}"] - dot
        v[f"g{j}"] = g
        if math.isnan(g) or not (g > 1.0e-9 * v[f"c{j}_{j}"]):
            return None
        v[f"l{j}_{j}"] = math.sqrt(g)
        for i in range(j + 1, d):
            dot = None
            for k in range(j):
                t = v[f"l{i}_{k}"] * v[f"l{j}_{k}"]
                dot = t if dot is None else dot + t
            num = v[f"c{j}_{i}"] if dot is None else v[f"c{j}_{i}"] - dot
            v[f"l{i}_{j}"] = num / v[f"l{j}_{j}"]
    return v


def _dlit(x: float) -> str:
    """An exactly-round-tripping double literal: repr() is the shortest
    string that parses back to the same double, and string→double
    parsing is correctly rounded in both engines."""
    return f"CAST('{x!r}' AS DOUBLE)"


def mahalanobis_outliers_d(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    d: int = 8,
    top_k: int = 20,
) -> DataFrame:
    """Top-k Mahalanobis outliers over the first ``d`` embedding
    coordinates — the higher-dimensional path the d=3 closed-form
    adjugate (:func:`mahalanobis_outliers`) documents. The Cholesky
    factor of the n²-scaled covariance comes from a BOUNDED
    d²-statistic collect (one row of ``1 + d + d(d+1)/2`` exact
    BIGINTs — the promised driver-side d×d solve), evaluated in pure
    Python by :func:`maha_chol_values` with op-for-op the same IEEE
    expression order as the generated SQL fragments the DuckDB oracle
    runs, so the factors — and therefore the scores — stay
    BIT-IDENTICAL cross-engine (+,−,×,÷,sqrt are all exactly rounded;
    no libm). Per-row work stays in the engine: ``dx = n·x − s``
    against integer literals, forward substitution ``L·y = dx`` from
    :func:`maha_solve_fragments` with L injected as exact round-trip
    double literals, ``m² = ‖y‖²``.

    int64 headroom: |q| ≤ MAHA_SCALE·max|coord|; ``n·Σq²`` must stay
    below 2⁶³ — at the probed corpora (|coord| ≤ ~0.53, n ≤ 2·10⁵ at
    x100) the worst product is ~10¹⁸. Past that, widen the sufficient
    statistics to DECIMAL(38,0) on both engines.

    Scale shape: ONE narrow projection (d ints per row), one map-side-
    combinable agg collected as a SINGLE bounded row, the O(d³)
    factorization on the driver (microseconds), then a stateless
    per-row substitution pass (literals — no join at all) and a
    TakeOrderedAndProject top-k. Degenerate corpora (any non-positive
    pivot — collinear dims) return an EMPTY frame on both engines.
    """
    q = [
        F.expr(
            f"CAST(round(CAST(element_at({vec_col}, {i + 1}) AS DOUBLE)"
            f" * {MAHA_SCALE}) AS BIGINT)"
        ).alias(f"q{i}")
        for i in range(d)
    ]
    rows = df.select(F.col(id_col).alias("__id"), *q)
    first, *rest = [
        F.expr(e) for e in maha_sufficient_sql_d(tuple(f"q{i}" for i in range(d)))
    ]
    stats = rows.agg(first, *rest).collect()[0].asDict()
    chol = maha_chol_values(stats, d)
    out_schema = f"{id_col} {dict(df.dtypes)[id_col]}, maha2 double"
    if chol is None:
        return df.sparkSession.createDataFrame([], out_schema)
    scored = rows
    for i in range(d):
        scored = scored.withColumn(
            f"dx{i}",
            F.expr(f"CAST({stats['n']}L * q{i} - {stats[f's{i}']}L AS DOUBLE)"),
        )
    for name, frag in maha_solve_fragments(d):
        for lname in sorted(chol, reverse=True):  # longest names first
            if lname.startswith("l"):
                frag = frag.replace(lname, _dlit(chol[lname]))
        scored = scored.withColumn(name, F.expr(frag))
    return (
        scored.select(
            F.col("__id").alias(id_col),
            (F.round(F.col("m2"), 6) + F.lit(0.0)).alias("maha2"),
        )
        .orderBy(F.col("maha2").desc(), F.col(id_col).asc())
        .limit(top_k)
    )


def mahalanobis_d_oracle_sql(
    id_col: str, vec_col: str, table: str, d: int = 8, top_k: int = 20
) -> str:
    """DuckDB replay of :func:`mahalanobis_outliers_d`: the identical
    generated fragments, one chained CTE stage per Cholesky/solve step
    (each stage references only earlier names, mirroring Spark's
    sequential withColumn)."""
    quant = [
        f"CAST(round(CAST({vec_col}[{i + 1}] AS DOUBLE) * {MAHA_SCALE}) AS BIGINT)"
        f" AS q{i}"
        for i in range(d)
    ]
    stages = []
    prev = "stats0"
    for idx, (name, frag) in enumerate(maha_chol_fragments(d)):
        cur = f"chol{idx}"
        # MATERIALIZED: single-use chained CTEs otherwise get INLINED by
        # the optimizer, expanding the dependent Cholesky chain into an
        # exponentially large expression tree (83 s at d=8; 0.1 s
        # materialized — each stage is ONE row)
        stages.append(f"{cur} AS MATERIALIZED (SELECT *, {frag} AS {name} FROM {prev})")
        prev = cur
    chol_sql = ",\n    ".join(stages)
    solve_stages = []
    sprev = "scored0"
    for idx, (name, frag) in enumerate(maha_solve_fragments(d)):
        cur = f"solve{idx}"
        solve_stages.append(
            f"{cur} AS MATERIALIZED (SELECT *, {frag} AS {name} FROM {sprev})"
        )
        sprev = cur
    solve_sql = ",\n    ".join(solve_stages)
    dx = ",\n             ".join(
        f"CAST(s.n*r.q{i} - s.s{i} AS DOUBLE) AS dx{i}" for i in range(d)
    )
    lcols = ", ".join(
        f"s.l{i}_{j}" for j in range(d) for i in range(j, d)
    )
    return f"""
    WITH rows_q AS (
      SELECT {id_col} AS id, {", ".join(quant)} FROM {table}
    ),
    stats0 AS (
      SELECT {", ".join(maha_sufficient_sql_d(tuple(f"q{i}" for i in range(d))))}
      FROM rows_q
    ),
    {chol_sql},
    stats_ok AS (SELECT * FROM {prev} WHERE {maha_pivot_condition(d)}),
    scored0 AS (
      SELECT r.id,
             {dx},
             {lcols}
      FROM rows_q r CROSS JOIN stats_ok s
    ),
    {solve_sql}
    SELECT id AS {id_col}, round(m2, 6) + 0.0 AS maha2
    FROM {sprev}
    ORDER BY maha2 DESC, {id_col} ASC
    LIMIT {top_k}
    """


def mahalanobis_dim_attribution(
    df: DataFrame,
    vec_col: str,
    d: int = 8,
    z: float = 3.0,
) -> DataFrame:
    """Per-dimension outlier ATTRIBUTION via the whitened coordinates —
    the diagnostic that answers "WHICH dimensions drive the
    multivariate outliers?": with ``y = L⁻¹·dx`` (the same forward
    substitution :func:`mahalanobis_outliers_d` scores with),
    ``Σ_rows y·yᵀ = n·I`` exactly — the whitened coordinates have unit
    empirical variance and zero cross-correlation by construction — so
    ``|y_i| > z`` is a calibrated per-dimension z-screen and the
    counts decompose m² outliers dimension by dimension (a correlated
    pair of raw dimensions shows up in ONE whitened direction, not
    two).

    Exactness: y values are the same engine-identical doubles as the
    d8 scorer (bounded stats collect + fragment-order Cholesky +
    literal injection); the flag is ONE comparison of exact doubles
    (z is a literal); counts are integers. Emits exactly ``d`` rows
    (dim, n_extreme, n_rows) — zero counts included.

    Scale shape: one narrow d-int projection, the bounded stats
    collect, a stateless substitution scan, ONE map-side-combinable
    d-counter aggregate to a single row, unpivoted to d rows.
    """
    q = [
        F.expr(
            f"CAST(round(CAST(element_at({vec_col}, {i + 1}) AS DOUBLE)"
            f" * {MAHA_SCALE}) AS BIGINT)"
        ).alias(f"q{i}")
        for i in range(d)
    ]
    rows = df.select(*q)
    first, *rest = [
        F.expr(e) for e in maha_sufficient_sql_d(tuple(f"q{i}" for i in range(d)))
    ]
    stats = rows.agg(first, *rest).collect()[0].asDict()
    chol = maha_chol_values(stats, d)
    if chol is None:
        return df.sparkSession.createDataFrame(
            [], "dim int, n_extreme bigint, n_rows bigint"
        )
    scored = rows
    for i in range(d):
        scored = scored.withColumn(
            f"dx{i}",
            F.expr(f"CAST({stats['n']}L * q{i} - {stats[f's{i}']}L AS DOUBLE)"),
        )
    for name, frag in maha_solve_fragments(d):
        if name == "m2":
            continue
        for lname in sorted(chol, reverse=True):
            if lname.startswith("l"):
                frag = frag.replace(lname, _dlit(chol[lname]))
        scored = scored.withColumn(name, F.expr(frag))
    agg = scored.agg(
        *[
            F.sum(F.when(F.abs(F.col(f"y{i}")) > F.lit(z), 1).otherwise(0))
            .cast("bigint")
            .alias(f"e{i}")
            for i in range(d)
        ],
        F.count("*").cast("bigint").alias("nr"),
    )
    stack = ", ".join(f"{i}, e{i}" for i in range(d))
    return agg.selectExpr(
        f"stack({d}, {stack}) AS (dim, n_extreme)", "nr AS n_rows"
    ).select(F.col("dim").cast("int"), "n_extreme", "n_rows")


def mahalanobis_dim_attribution_oracle_sql(
    vec_col: str, table: str, d: int = 8, z: float = 3.0
) -> str:
    """DuckDB replay: the d8 oracle's Cholesky/solve CTE chain, then one
    d-counter aggregate unioned into d rows."""
    quant = [
        f"CAST(round(CAST({vec_col}[{i + 1}] AS DOUBLE) * {MAHA_SCALE}) AS BIGINT)"
        f" AS q{i}"
        for i in range(d)
    ]
    stages = []
    prev = "stats0"
    for idx, (name, frag) in enumerate(maha_chol_fragments(d)):
        cur = f"chol{idx}"
        stages.append(f"{cur} AS MATERIALIZED (SELECT *, {frag} AS {name} FROM {prev})")
        prev = cur
    chol_sql = ",\n    ".join(stages)
    solve_stages = []
    sprev = "scored0"
    for idx, (name, frag) in enumerate(maha_solve_fragments(d)):
        if name == "m2":
            continue
        cur = f"solve{idx}"
        solve_stages.append(
            f"{cur} AS MATERIALIZED (SELECT *, {frag} AS {name} FROM {sprev})"
        )
        sprev = cur
    solve_sql = ",\n    ".join(solve_stages)
    dx = ",\n             ".join(
        f"CAST(s.n*r.q{i} - s.s{i} AS DOUBLE) AS dx{i}" for i in range(d)
    )
    lcols = ", ".join(f"s.l{i}_{j}" for j in range(d) for i in range(j, d))
    # HAVING count(*) > 0: each branch is an ungrouped aggregate, which
    # would emit one (dim, NULL, 0) row even over the EMPTY solved frame
    # of a rank-deficient corpus — where the Spark side returns an empty
    # frame (round-11 review finding). The guard makes both paths empty.
    unions = "\n    UNION ALL ".join(
        f"SELECT {i} AS dim, CAST(sum(CASE WHEN abs(y{i}) > {z!r} THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS n_extreme, CAST(count(*) AS BIGINT) AS n_rows FROM {sprev}"
        f" HAVING count(*) > 0"
        for i in range(d)
    )
    return f"""
    WITH rows_q AS (
      SELECT {", ".join(quant)} FROM {table}
    ),
    stats0 AS (
      SELECT {", ".join(maha_sufficient_sql_d(tuple(f"q{i}" for i in range(d))))}
      FROM rows_q
    ),
    {chol_sql},
    stats_ok AS (SELECT * FROM {prev} WHERE {maha_pivot_condition(d)}),
    scored0 AS (
      SELECT {dx},
             {lcols}
      FROM rows_q r CROSS JOIN stats_ok s
    ),
    {solve_sql}
    {unions}
    """
