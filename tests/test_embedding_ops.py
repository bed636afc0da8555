"""Known-value tests for embedding profiling & int8 quantization."""

from __future__ import annotations

import pytest

from flink_anomaly_spark.operators.similarity import (
    collect_dim_minmax,
    embedding_dim_stats,
    int8_quantize,
)


def _vecs(spark, rows):
    return spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")


def test_dim_stats_known_values(spark):
    df = _vecs(spark, [(1, [0.0, 2.0]), (2, [1.0, 4.0]), (3, [2.0, 0.0])])
    out = {r["dim"]: r.asDict() for r in embedding_dim_stats(df, "embedding").collect()}
    assert out[0]["n"] == 3 and out[0]["mean"] == 1.0
    assert out[0]["mn"] == 0.0 and out[0]["mx"] == 2.0
    assert out[1]["mean"] == 2.0 and out[1]["mx"] == 4.0
    assert out[0]["std"] == 1.0  # sample stddev of 0,1,2


def test_collect_dim_minmax(spark):
    df = _vecs(spark, [(1, [0.0, -1.0]), (2, [4.0, 3.0])])
    mins, maxs = collect_dim_minmax(df, "embedding")
    assert mins == [0.0, -1.0] and maxs == [4.0, 3.0]


def test_int8_quantize_endpoints_and_error(spark):
    # dim0 range [0,254]: values land exactly on the grid -> zero error
    df = _vecs(spark, [(1, [0.0, 5.0]), (2, [127.0, 5.0]), (3, [254.0, 5.0])])
    mins, maxs = collect_dim_minmax(df, "embedding")
    out = {r["vec_id"]: r.asDict() for r in
           int8_quantize(df, "vec_id", "embedding", mins, maxs).collect()}
    # endpoints map to -127 / +127; midpoint to 0; constant dim -> code 0
    assert out[1]["q_csv"] == "-127,0"
    assert out[2]["q_csv"] == "0,0"
    assert out[3]["q_csv"] == "127,0"
    for r in out.values():
        assert r["mse"] == 0.0 and r["max_abs_err"] == 0.0 and r["n_dims"] == 2


def test_int8_quantize_reconstruction_error_bounded(spark):
    df = _vecs(spark, [(i, [i * 0.01, 1.0 - i * 0.03]) for i in range(50)])
    mins, maxs = collect_dim_minmax(df, "embedding")
    out = int8_quantize(df, "vec_id", "embedding", mins, maxs).collect()
    # max error is half a quantization step per dim: scale/254/2
    step = max((mx - mn) for mn, mx in zip(mins, maxs)) / 254
    for r in out:
        assert r["max_abs_err"] <= step / 2 + 1e-12
        assert 0.0 <= r["mse"] <= (step / 2) ** 2 + 1e-12


def test_int8_quantize_validates_lengths(spark):
    df = _vecs(spark, [(1, [0.0])])
    with pytest.raises(ValueError):
        int8_quantize(df, "vec_id", "embedding", [0.0], [1.0, 2.0])


def test_semantic_decontamination_known_values(spark):
    """An exact copy of an eval vector and a near-copy must be flagged
    with the right closest_eval_id; an anti-parallel vector (cos = -1)
    must not, whatever bucket it lands in."""
    from flink_anomaly_spark.operators.similarity import semantic_decontamination

    ev = spark.createDataFrame([(0, [1.0, 0.0, 0.0, 0.0])], ["vec_id", "embedding"])
    corpus = spark.createDataFrame(
        [
            (10, [1.0, 0.0, 0.0, 0.0]),   # exact copy: cos 1.0
            (11, [0.9, 0.1, 0.0, 0.0]),   # near-copy: cos ~0.994
            (12, [-1.0, 0.0, 0.0, 0.0]),  # anti-parallel: cos -1
        ],
        ["vec_id", "embedding"],
    )
    out = {
        r.vec_id: r
        for r in semantic_decontamination(
            corpus, ev, "vec_id", "embedding", threshold=0.3
        ).collect()
    }
    assert set(out) == {10, 11}
    assert out[10].closest_eval_id == 0 and out[10].cos_sim == 1.0
    assert out[11].closest_eval_id == 0 and abs(out[11].cos_sim - 0.993884) < 1e-5


def test_semantic_decontamination_string_ids(spark):
    """Round-5 ADVICE: the cosine tie-break must be type-agnostic — a
    STRING id column (common for doc ids) must analyze fine and break
    exact-cosine ties toward the LOWER eval id."""
    from flink_anomaly_spark.operators.similarity import semantic_decontamination

    # two eval vectors with the SAME direction => any flagged corpus
    # vector ties on cosine; the lower eval id must win
    ev = spark.createDataFrame(
        [("eb", [2.0, 0.0, 0.0, 0.0]), ("ea", [1.0, 0.0, 0.0, 0.0])],
        ["doc_id", "embedding"],
    )
    corpus = spark.createDataFrame(
        [("c1", [1.0, 0.0, 0.0, 0.0])], ["doc_id", "embedding"]
    )
    rows = semantic_decontamination(
        corpus, ev, "doc_id", "embedding", threshold=0.3
    ).collect()
    assert len(rows) == 1
    assert rows[0].doc_id == "c1"
    assert rows[0].closest_eval_id == "ea"
    assert rows[0].cos_sim == 1.0


def test_kmeans_lloyd_empty_cell_shrinks_k(spark):
    """Fixed-iteration Lloyd: a centroid that captures no members
    (here: a duplicate-direction init, so the cosine tie sends every
    vector to the smaller cell id) disappears for later iterations on
    both engines — the k-shrink semantics the oracle's group-by
    reproduces. The run must stay deterministic across invocations."""
    from flink_anomaly_spark.operators.anomaly import kmeans_lloyd_outliers

    rows = [(0, [1.0, 0.0]), (1, [2.0, 0.0])] + [
        (i, [1.0, 0.001 * i]) for i in range(2, 12)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = kmeans_lloyd_outliers(
        df, "vec_id", "embedding", init_ids=[0, 1], n_iter=2, top_n=5
    )
    got = [(r.vec_id, r.cluster, r.centroid_dist) for r in out.collect()]
    # vec 0 and 1 share a direction: cell 1 starves on the first
    # assignment, every row lands in cluster 0
    assert all(c == 0 for _, c, _ in got)
    assert len(got) == 5
    # farthest-from-mean rows first, ties by id
    assert got == sorted(got, key=lambda t: (-t[2], t[0]))
    again = [
        (r.vec_id, r.cluster, r.centroid_dist)
        for r in kmeans_lloyd_outliers(
            df, "vec_id", "embedding", init_ids=[0, 1], n_iter=2, top_n=5
        ).collect()
    ]
    assert got == again


def test_pq_adc_exact_on_codebook_vectors(spark):
    """A vector that IS a codeword encodes to itself in every subspace
    (per-subspace distance 0), and the query vector ranks itself first
    with the code key pinning the full encoding."""
    from flink_anomaly_spark.operators.similarity import pq_adc_topk

    # 4-dim vectors, m=2 subspaces, 2 codewords
    rows = [
        (0, [0.0, 0.0, 0.0, 0.0]),
        (1, [1.0, 1.0, 1.0, 1.0]),
        (2, [0.0, 0.0, 1.0, 1.0]),   # sub0 -> code 0, sub1 -> code 1
        (3, [0.9, 0.9, 0.1, 0.1]),   # sub0 -> code 1, sub1 -> code 0
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r.vec_id: r for r in pq_adc_topk(
        df, "vec_id", "embedding", codebook_ids=[0, 1], query_id=2, m=2, top_n=10
    ).collect()}
    # code keys: sum code_s * 2^s  (k_sub=2)
    assert out[0].pq_code_key == 0       # (0,0)
    assert out[1].pq_code_key == 3       # (1,1)
    assert out[2].pq_code_key == 2       # (0,1)
    assert out[3].pq_code_key == 1       # (1,0)
    # ADC of the query against its own encoding: q sub0 == codeword 0
    # exactly, q sub1 == codeword 1 exactly -> adc_micro == 0, rank 1
    assert out[2].adc_micro == 0 and out[2].rank == 1
    # vec 3 shares NEITHER code with the query -> strictly worse than
    # vec 0/1 which share one each
    assert out[3].adc_micro >= max(out[0].adc_micro, out[1].adc_micro)


def test_pq_requires_divisible_dim(spark):
    from flink_anomaly_spark.operators.similarity import pq_adc_topk

    df = spark.createDataFrame([(0, [0.0, 1.0, 2.0])], ["vec_id", "embedding"])
    try:
        pq_adc_topk(df, "vec_id", "embedding", codebook_ids=[0], query_id=0, m=2)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "not divisible" in str(e)


def test_hybrid_rrf_honors_custom_vector_column_name(spark):
    # ADVICE r6: vec_id_col was parameterized but vec_col was hardcoded
    # "embedding" — the API silently broke for renamed vector columns.
    # Same corpus under two column names must fuse identically.
    from flink_anomaly_spark.operators.similarity import hybrid_rrf_retrieval

    docs = spark.createDataFrame(
        [(1, "apple banana"), (2, "banana cherry"), (3, "cherry date")],
        "doc_id long, text string",
    )
    rows = [(1, [1.0, 0.0]), (2, [0.8, 0.6]), (3, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    renamed = spark.createDataFrame(rows, ["vec_id", "vec"])
    base = sorted(
        hybrid_rrf_retrieval(docs, emb, ["banana"], 1, top_n=3).collect(),
        key=lambda r: r.fused_rank,
    )
    custom = sorted(
        hybrid_rrf_retrieval(
            docs, renamed, ["banana"], 1, top_n=3, vec_col="vec"
        ).collect(),
        key=lambda r: r.fused_rank,
    )
    assert [(r.doc_id, r.rrf_score) for r in base] == [
        (r.doc_id, r.rrf_score) for r in custom
    ]


def test_mmr_diversifies_and_matches_reference(spark):
    """MMR must break up a redundant pair: two near-duplicate vectors
    both sit closest to the query, plain top-2 returns both, MMR's
    second pick must skip the duplicate for a diverse candidate.
    Full selection sequence checked against a pure-Python replay."""
    import math

    from flink_anomaly_spark.operators.similarity import mmr_diversified_topk

    def unit(v):
        n = math.sqrt(sum(x * x for x in v))
        return [x / n for x in v]

    vecs = {
        0: unit([1.0, 0.0, 0.0]),        # query
        1: unit([0.98, 0.2, 0.0]),       # near query
        2: unit([0.97, 0.22, 0.01]),     # near-duplicate of 1
        3: unit([0.7, -0.7, 0.0]),       # diverse, still relevant
        4: unit([0.1, 0.1, 0.99]),       # off-topic
    }
    df = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<double>"
    )
    out = sorted(
        mmr_diversified_topk(
            df, "vec_id", "embedding", query_ids=[0], pool_n=4, k=3,
            lam=0.5, mu=0.5,
        ).collect(),
        key=lambda r: r.pick_rank,
    )
    picks = [r.nid for r in out]

    # python replay with identical rounding and tie rules
    def cos(a, b):
        return round(
            sum(x * y for x, y in zip(a, b))
            / (math.sqrt(sum(x * x for x in a)) * math.sqrt(sum(x * x for x in b))),
            6,
        )

    simq = {i: cos(vecs[0], vecs[i]) for i in vecs if i != 0}
    pool = sorted(simq, key=lambda i: (-simq[i], i))[:4]
    sel = []
    for _ in range(3):
        best = None
        for d in pool:
            if d in sel:
                continue
            pen = max((cos(vecs[d], vecs[s]) for s in sel), default=0.0)
            score = 0.5 * simq[d] - 0.5 * pen
            key = (-score, d)
            if best is None or key < best[0]:
                best = (key, d)
        sel.append(best[1])
    assert picks == sel
    assert picks[0] == 1  # most relevant first
    assert picks[1] == 3  # NOT the near-duplicate 2: diversity kicked in
    assert 2 in picks or len(picks) == 3
