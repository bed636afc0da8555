"""Round-11 operators: pacf_daily (Durbin-Levinson over the shared ACF
sufficient statistics) and mahalanobis_outliers_d (generated-Cholesky
higher-d path). Each is pinned against an independent numpy reference
computed straight from the definition, plus the cross-engine and
degenerate-corpus invariants the oracle gate can't see."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def _daily_totals(duck):
    return duck.execute(
        """
        SELECT event_type, date_trunc('day', ts) AS d,
               CAST(sum(CAST(round(value*10) AS BIGINT)) AS BIGINT) AS y
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()


def _numpy_pacf(y: np.ndarray, max_lag: int = 3) -> list[float]:
    """Textbook PACF: sample ACF (biased, mean-centered — the acf_daily
    definition), then the Durbin-Levinson recursion in matrix form."""
    e = y - y.mean()
    den = float(np.dot(e, e))
    rho = [float(np.dot(e[:-k], e[k:])) / den for k in range(1, max_lag + 1)]
    pacf = []
    phi_prev: list[float] = []
    for k in range(1, max_lag + 1):
        num = rho[k - 1] - sum(
            phi_prev[j] * rho[k - 2 - j] for j in range(k - 1)
        )
        d = 1.0 - sum(phi_prev[j] * rho[j] for j in range(k - 1))
        phi_kk = num / d
        phi_prev = [
            phi_prev[j] - phi_kk * phi_prev[k - 2 - j] for j in range(k - 1)
        ] + [phi_kk]
        pacf.append(phi_kk)
    return pacf


def test_pacf_daily_matches_numpy_reference(spark, duck):
    from flink_anomaly_spark.plans.registry import all_queries

    got = {
        r.event_type: (r.n_days, r.pacf1, r.pacf2, r.pacf3)
        for r in all_queries()["pacf_daily"](spark, SF_SMOKE).collect()
    }
    series: dict[str, list[int]] = {}
    for et, _d, y in _daily_totals(duck):
        series.setdefault(et, []).append(y)
    for et, ys in series.items():
        y = np.array(ys, dtype=np.float64)
        if len(ys) < 4 or np.allclose(y, y[0]):
            assert et not in got
            continue
        want = _numpy_pacf(y)
        assert et in got, et
        nd, p1, p2, p3 = got[et]
        assert nd == len(ys)
        for g, w in zip((p1, p2, p3), want):
            assert abs(g - w) < 1e-6, (et, (p1, p2, p3), want)


def test_pacf_lag1_equals_acf_lag1(spark):
    """Durbin-Levinson level 1: pacf1 ≡ acf1 by definition — the two
    queries share _acf_sufficient_stats, so any divergence is a bug in
    the unrolled recursion, not in the statistics."""
    from flink_anomaly_spark.plans.registry import all_queries

    acf = {
        r.event_type: r.acf1
        for r in all_queries()["acf_daily"](spark, SF_SMOKE).collect()
    }
    pacf = {
        r.event_type: r.pacf1
        for r in all_queries()["pacf_daily"](spark, SF_SMOKE).collect()
    }
    for et, p1 in pacf.items():
        assert p1 == pytest.approx(acf[et], abs=1e-9)


def test_maha_chol_values_matches_numpy_cholesky():
    """The fragment-order Python evaluation must agree with numpy's
    LAPACK Cholesky to float accuracy on a random SPD system (numpy
    uses a different op order, so exact equality is not expected —
    1e-9 relative is)."""
    rng = np.random.default_rng(7)
    d = 8
    x = rng.integers(-5000, 5000, size=(400, d))
    n = x.shape[0]
    stats = {"n": n}
    for i in range(d):
        stats[f"s{i}"] = int(x[:, i].sum())
        for j in range(i, d):
            stats[f"p{i}_{j}"] = int((x[:, i] * x[:, j]).sum())
    from flink_anomaly_spark.operators.anomaly import maha_chol_values

    v = maha_chol_values(stats, d)
    assert v is not None
    s = x.sum(axis=0)
    C = n * (x.T @ x) - np.outer(s, s)
    L = np.linalg.cholesky(C.astype(np.float64))
    for i in range(d):
        for j in range(i + 1):
            assert v[f"l{i}_{j}"] == pytest.approx(L[i, j], rel=1e-9), (i, j)


def test_maha_chol_values_degenerate_returns_none():
    """A collinear corpus (coordinate 1 = 2 × coordinate 0) has a
    singular covariance — every path must emit nothing."""
    rng = np.random.default_rng(3)
    d = 3
    c0 = rng.integers(-100, 100, size=50)
    x = np.stack([c0, 2 * c0, rng.integers(-100, 100, size=50)], axis=1)
    stats = {"n": 50}
    for i in range(d):
        stats[f"s{i}"] = int(x[:, i].sum())
        for j in range(i, d):
            stats[f"p{i}_{j}"] = int((x[:, i] * x[:, j]).sum())
    from flink_anomaly_spark.operators.anomaly import maha_chol_values

    assert maha_chol_values(stats, d) is None


def test_mahalanobis_d8_matches_numpy(spark, duck):
    """End-to-end d=8 scores against a straight numpy Mahalanobis over
    the same quantized integers: m² = dxᵀ C⁻¹ dx with dx = n·x − s."""
    from flink_anomaly_spark.operators.anomaly import MAHA_SCALE
    from flink_anomaly_spark.plans.registry import all_queries

    got = [
        (r.vec_id, r.maha2)
        for r in all_queries()["mahalanobis_outliers_d8"](spark, SF_SMOKE).collect()
    ]
    raw = duck.execute("SELECT vec_id, embedding FROM embeddings").fetchall()
    ids = np.array([r[0] for r in raw])
    x = np.array(
        [[round(float(v) * MAHA_SCALE) for v in r[1][:8]] for r in raw],
        dtype=np.float64,
    )
    n = len(ids)
    s = x.sum(axis=0)
    C = n * (x.T @ x) - np.outer(s, s)
    dx = n * x - s
    m2 = np.einsum("ij,jk,ik->i", dx, np.linalg.inv(C), dx)
    order = sorted(zip(ids, m2), key=lambda t: (-t[1], t[0]))[:20]
    assert [g[0] for g in got] == [int(w[0]) for w in order]
    for (gid, gm2), (wid, wm2) in zip(got, order):
        assert gm2 == pytest.approx(wm2, rel=1e-6), gid


def test_mahalanobis_d3_consistent_with_adjugate_form(spark):
    """At d=3 the Cholesky path and the closed-form adjugate compute
    the same statistic by different float routes — ids must agree and
    scores must match to well past the round(…,6) boundary."""
    from flink_anomaly_spark.operators.anomaly import (
        mahalanobis_outliers,
        mahalanobis_outliers_d,
    )
    from flink_anomaly_spark.tables import load_table

    emb = load_table(spark, SF_SMOKE, "embeddings")
    a = mahalanobis_outliers(emb, id_col="vec_id", vec_col="embedding", top_k=20)
    b = mahalanobis_outliers_d(emb, id_col="vec_id", vec_col="embedding", d=3, top_k=20)
    ra = [(r.vec_id, r.maha2) for r in a.collect()]
    rb = [(r.vec_id, r.maha2) for r in b.collect()]
    assert [t[0] for t in ra] == [t[0] for t in rb]
    for (ia, ma), (ib, mb) in zip(ra, rb):
        assert ma == pytest.approx(mb, abs=2e-6), ia


def test_mahalanobis_d8_degenerate_corpus_empty(spark):
    """Duplicated coordinates (dim 1 ≡ dim 0) → singular covariance →
    empty frame with the contract schema, not a crash or NaN scores."""
    from flink_anomaly_spark.operators.anomaly import mahalanobis_outliers_d

    rows = [(i, [float(i % 7), float(i % 7), float(i % 3)]) for i in range(40)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    out = mahalanobis_outliers_d(df, id_col="vec_id", vec_col="embedding", d=3)
    assert out.columns == ["vec_id", "maha2"]
    assert out.count() == 0


def test_graph_family_has_no_forced_nodes_broadcast():
    """VERDICT r10 #3: a forced broadcast hint on a corpus-proportional
    frame is the OOM case at 10⁸⁺ nodes. The only hint allowed in
    graph.py is the 1-row dangling-mass scalar."""
    import inspect

    from flink_anomaly_spark.operators import graph

    src = inspect.getsource(graph)
    hints = [
        line.strip()
        for line in src.splitlines()
        if "F.broadcast" in line and not line.strip().startswith("#")
    ]
    assert hints == [".join(F.broadcast(dangling))"], hints


def test_dw_autocorr_matches_numpy(spark, duck):
    """DW over mean-centered daily totals vs the definition computed in
    numpy: sum of squared first differences / centered sum of squares
    (the n-scaling cancels in the ratio)."""
    from flink_anomaly_spark.plans.registry import all_queries

    got = {
        r.event_type: (r.n_days, r.dw)
        for r in all_queries()["dw_autocorr_daily"](spark, SF_SMOKE).collect()
    }
    series: dict[str, list[int]] = {}
    for et, _d, y in _daily_totals(duck):
        series.setdefault(et, []).append(y)
    for et, ys in series.items():
        y = np.array(ys, dtype=np.float64)
        e = y - y.mean()
        den = float(np.dot(e, e))
        if len(ys) < 2 or den == 0.0:
            assert et not in got
            continue
        want = float(np.sum(np.diff(e) ** 2)) / den
        nd, dw = got[et]
        assert nd == len(ys)
        assert dw == pytest.approx(want, abs=1e-6), et
        assert 0.0 <= dw <= 4.0


def test_hodges_lehmann_matches_numpy(spark, duck):
    """HL estimator vs the brute-force median of all Walsh averages
    over the whole-unit daily totals."""
    from flink_anomaly_spark.plans.registry import all_queries

    got = {
        r.event_type: (r.n_pairs, r.hl_location)
        for r in all_queries()["hodges_lehmann_daily"](spark, SF_SMOKE).collect()
    }
    daily = duck.execute(
        """
        SELECT event_type, date_trunc('day', ts) AS d,
               CAST(FLOOR(sum(CAST(round(value*100) AS BIGINT)) / 100)
                    AS BIGINT) AS y
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    series: dict[str, list[int]] = {}
    for et, _d, y in daily:
        series.setdefault(et, []).append(y)
    for et, ys in series.items():
        walsh = [
            (ys[i] + ys[j]) / 2.0
            for i in range(len(ys))
            for j in range(i, len(ys))
        ]
        n_pairs, hl = got[et]
        assert n_pairs == len(walsh)
        assert hl == pytest.approx(float(np.median(walsh)), abs=1e-9), et


def test_component_size_histogram_reconciles(spark, duck):
    """The histogram must partition the corpus: sum(n_docs) = |docs|,
    and every component size must equal the dedup_clusters grouping."""
    from flink_anomaly_spark.plans.registry import all_queries

    rows = all_queries()["neardup_component_size_histogram"](
        spark, SF_SMOKE
    ).collect()
    n_docs = duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    assert sum(r.n_docs for r in rows) == n_docs
    assert all(r.n_docs == r.size * r.n_components for r in rows)
    cc = all_queries()["dedup_clusters"](spark, SF_SMOKE).collect()
    from collections import Counter

    sizes = Counter(Counter(r.cluster_id for r in cc).values())
    assert {r.size: r.n_components for r in rows} == dict(sizes)


def test_sn_scale_matches_numpy(spark, duck):
    """Sn (interpolated-median convention) vs the nested-median
    definition computed brute-force in numpy over the whole-unit daily
    totals."""
    from flink_anomaly_spark.plans.registry import all_queries

    got = {
        r.event_type: (r.n_days, r.sn_scale)
        for r in all_queries()["sn_scale_daily"](spark, SF_SMOKE).collect()
    }
    daily = duck.execute(
        """
        SELECT event_type, date_trunc('day', ts) AS d,
               CAST(FLOOR(sum(CAST(round(value*100) AS BIGINT)) / 100)
                    AS BIGINT) AS y
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    series: dict[str, list[int]] = {}
    for et, _d, y in daily:
        series.setdefault(et, []).append(y)
    for et, ys in series.items():
        if len(ys) < 2:
            assert et not in got
            continue
        inner = [
            float(np.median([abs(ys[i] - ys[j]) for j in range(len(ys)) if j != i]))
            for i in range(len(ys))
        ]
        want = 1.1926 * float(np.median(inner))
        nd, sn = got[et]
        assert nd == len(ys)
        assert sn == pytest.approx(want, abs=1e-6), et
        assert sn >= 0.0


def test_phash_properties(spark):
    """pHash invariants the oracle can't see: identical payloads hash
    identically; the strict >-median split sets at most 31 of 63 bits;
    the DCT matrix is the exactly-scaled orthonormal basis."""
    import math

    from flink_anomaly_spark.operators.multimodal import (
        PHASH_DCT_Q,
        image_phash,
        synth_ppm_media,
    )

    for u in range(8):
        for x in range(8):
            want = (
                math.sqrt(1 / 8)
                if u == 0
                else math.sqrt(2 / 8) * math.cos((2 * x + 1) * u * math.pi / 16)
            ) * (1 << 15)
            assert PHASH_DCT_Q[u][x] == round(want), (u, x)
    # ids 0 and 20 produce IDENTICAL images (w, h, and raster all
    # depend on id only through id % 5, % 4, and *31 % 256... w/h
    # repeat with lcm(5,4)=20; raster offset 20*31=620 differs mod 256)
    ids = spark.createDataFrame([(i,) for i in range(40)], "doc_id long")
    got = {r.media_id: (r.phash, r.n_set_bits) for r in
           image_phash(synth_ppm_media(ids)).collect()}
    assert len(got) == 40
    for mid, (ph, nb) in got.items():
        assert 0 <= nb <= 31, (mid, nb)
        assert 0 <= ph < (1 << 63)
    # same dims, different raster phase -> hashes may collide rarely
    # but not ALL collide: structure must vary across the corpus
    assert len({ph for ph, _ in got.values()}) > 10


def test_robust_outliers_matches_numpy(spark, duck):
    """The flagged set and robust z-scores vs a brute-force numpy
    recomputation of HL, Sn, and the 2.0-warning-limit screen."""
    from flink_anomaly_spark.plans.registry import all_queries

    def _day(d):
        return d.date() if hasattr(d, "date") else d

    got = {
        (r.event_type, _day(r.day)): (r.day_total, r.robust_z)
        for r in all_queries()["robust_daily_outliers"](spark, SF_SMOKE).collect()
    }
    daily = duck.execute(
        """
        SELECT event_type, date_trunc('day', ts) AS d,
               CAST(FLOOR(sum(CAST(round(value*100) AS BIGINT)) / 100)
                    AS BIGINT) AS y
        FROM events GROUP BY 1, 2 ORDER BY 1, 2
        """
    ).fetchall()
    series: dict[str, list[tuple]] = {}
    for et, d, y in daily:
        series.setdefault(et, []).append((d, y))
    want = {}
    for et, rows in series.items():
        ys = [y for _d, y in rows]
        if len(ys) < 2:
            continue
        walsh = [
            (ys[i] + ys[j]) / 2.0 for i in range(len(ys)) for j in range(i, len(ys))
        ]
        hl = float(np.median(walsh))
        inner = [
            float(np.median([abs(ys[i] - ys[j]) for j in range(len(ys)) if j != i]))
            for i in range(len(ys))
        ]
        sn = round(1.1926 * float(np.median(inner)), 6)
        for d, y in rows:
            if sn > 0 and abs(y - hl) > 2.0 * sn:
                want[(et, _day(d))] = (y, (y - hl) / sn)
    assert set(got) == set(want)
    for k, (y, rz) in want.items():
        assert got[k][0] == y
        assert got[k][1] == pytest.approx(rz, abs=1e-6), k


def test_streaming_robust_equals_batch_split_replay(spark):
    """The streaming twin must equal the batch replay of the same
    frozen-calibration logic: HL/Sn on pre-split days, flags on
    post-split days — built here from the same operators the twin
    shares (robust_flag_finalize cannot diverge; this pins the
    streaming windowed-sum path against the batch day-agg path)."""
    from pyspark.sql import functions as F

    from flink_anomaly_spark.operators.anomaly import CONFORMAL_SPLIT_TS
    from flink_anomaly_spark.operators.mining import (
        hodges_lehmann_daily,
        robust_flag_finalize,
        sn_scale_daily,
    )
    from flink_anomaly_spark.plans.registry import all_queries
    from flink_anomaly_spark.tables import load_table

    live = sorted(
        map(tuple, all_queries()["streaming_robust_final"](spark, SF_SMOKE).collect())
    )
    events = load_table(spark, SF_SMOKE, "events")
    split = F.lit(CONFORMAL_SPLIT_TS).cast("timestamp")
    day = F.date_trunc("day", F.col("ts"))
    cents = F.round(F.col("value") * 100).cast("bigint")
    daily = (
        events.select(F.col("event_type").alias("__k"), day.alias("__d"),
                      cents.alias("__c"))
        .groupBy("__k", "__d")
        .agg(F.expr("CAST(FLOOR(sum(__c) / 100) AS BIGINT)").alias("__y"))
        .filter(F.col("__d") >= split)
    )
    calib = events.filter(F.col("ts") < split)
    hl = hodges_lehmann_daily(calib, "event_type", "ts", "value").select(
        F.col("event_type").alias("__k"), F.col("hl_location").alias("__hl")
    )
    sn = sn_scale_daily(calib, "event_type", "ts", "value").select(
        F.col("event_type").alias("__k"), F.col("sn_scale").alias("__sn")
    )
    batch = sorted(
        map(tuple, robust_flag_finalize(daily, hl, sn, "event_type").collect())
    )
    assert live == batch and len(live) > 0


def test_maha_dim_attribution_whitening_identity(spark, duck):
    """The identity the screen is calibrated on: Σ_rows y·yᵀ = n·I —
    per-dim sum of squared whitened coordinates equals the row count
    (float tolerance), and the counts match a numpy recomputation."""
    from flink_anomaly_spark.operators.anomaly import MAHA_SCALE
    from flink_anomaly_spark.plans.registry import all_queries

    got = {
        r.dim: (r.n_extreme, r.n_rows)
        for r in all_queries()["maha_dim_attribution"](spark, SF_SMOKE).collect()
    }
    raw = duck.execute("SELECT vec_id, embedding FROM embeddings ORDER BY vec_id").fetchall()
    x = np.array(
        [[round(float(v) * MAHA_SCALE) for v in r[1][:8]] for r in raw],
        dtype=np.float64,
    )
    n = len(raw)
    s = x.sum(axis=0)
    C = n * (x.T @ x) - np.outer(s, s)
    L = np.linalg.cholesky(C)
    y = np.linalg.solve(L, (n * x - s).T).T  # (n, 8) whitened
    ss = (y * y).sum(axis=0)
    assert np.allclose(ss, n, rtol=1e-9), ss
    want = (np.abs(y) > 3.0).sum(axis=0)
    assert set(got) == set(range(8))
    for dim, (ne, nr) in got.items():
        assert nr == n
        assert ne == want[dim], (dim, ne, int(want[dim]))


def test_dedup_quality_shift_reconciles(spark, duck):
    """The two cohorts must partition the corpus, and the survivor
    cohort must equal the verified dedup pipeline's survivor count."""
    from flink_anomaly_spark.plans.registry import all_queries

    q = all_queries()
    rows = {r.cohort: (r.n_docs, r.n_keep) for r in
            q["dedup_quality_shift"](spark, SF_SMOKE).collect()}
    n_docs = duck.execute("SELECT count(*) FROM documents").fetchone()[0]
    assert set(rows) <= {"survivor", "removed"}
    assert sum(n for n, _ in rows.values()) == n_docs
    surv = q["dedup_pipeline_survivors"](spark, SF_SMOKE).count()
    assert rows["survivor"][0] == surv
    for n, k in rows.values():
        assert 0 <= k <= n


def test_maha_empty_and_null_corpora(spark, duck):
    """Round-11 review findings: an empty corpus (or all-NULL first-d
    coordinates) must yield an empty frame on BOTH engines for both
    maha queries — not a TypeError on the Spark side or d rows of
    (dim, NULL, 0) from the oracle's ungrouped aggregates."""
    from flink_anomaly_spark.operators.anomaly import (
        maha_chol_values,
        mahalanobis_dim_attribution,
        mahalanobis_dim_attribution_oracle_sql,
        mahalanobis_outliers_d,
    )

    assert maha_chol_values({"n": 0, "s0": None, "p0_0": None}, 1) is None
    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    assert mahalanobis_outliers_d(empty, "vec_id", "embedding", d=3).count() == 0
    assert mahalanobis_dim_attribution(empty, "embedding", d=3).count() == 0
    nulls = spark.createDataFrame(
        [(i, None) for i in range(5)], "vec_id bigint, embedding array<float>"
    )
    assert mahalanobis_outliers_d(nulls, "vec_id", "embedding", d=3).count() == 0
    # oracle side: a collinear corpus must come back EMPTY, not d rows
    duck.execute(
        "CREATE OR REPLACE TEMP VIEW deg_emb AS "
        "SELECT CAST(range AS BIGINT) AS vec_id, "
        "[CAST(range % 7 AS FLOAT), CAST(range % 7 AS FLOAT), "
        " CAST(range % 3 AS FLOAT)] AS embedding FROM range(40)"
    )
    rows = duck.execute(
        mahalanobis_dim_attribution_oracle_sql("embedding", "deg_emb", d=3)
    ).fetchall()
    assert rows == []
