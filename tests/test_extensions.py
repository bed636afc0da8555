"""Targeted unit tests for the training-data-pipeline operators."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from flink_anomaly_spark.operators.dedup import (
    exact_dedup,
    minhash_near_dup_pairs,
    shingles,
    simhash60,
)
from flink_anomaly_spark.operators.similarity import brute_force_topk, cosine
from flink_anomaly_spark.operators.text import text_profile


def test_exact_dedup_finds_copies(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "id long, text string"
    )
    out = {r.keep_id: r.n_copies for r in exact_dedup(df, "text", "id").collect()}
    assert out == {1: 2, 3: 1}


def test_shingles_basic(spark):
    df = spark.createDataFrame([("a b c d",), ("a b",)], "text string")
    got = df.select(shingles(F.col("text"), 3).alias("sh")).collect()
    assert got[0].sh == ["a b c", "b c d"]
    assert got[1].sh == ["a b"]  # shorter than k → single whole-text shingle


def test_minhash_identical_docs_pair(spark):
    rows = [(1, "the quick brown fox jumps over the lazy dog today"),
            (2, "the quick brown fox jumps over the lazy dog today"),
            (3, "completely different words appear in this unrelated document here")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = minhash_near_dup_pairs(df, "doc_id", "text").collect()
    assert [(p.id1, p.id2, p.jaccard) for p in pairs] == [(1, 2, 1.0)]


def test_simhash_pandas_equals_catalyst(spark):
    """The production pandas-UDF simhash must be bit-identical to the
    pure-Catalyst reference implementation."""
    from flink_anomaly_spark.operators.dedup import simhash60_pandas

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    a = {r.doc_id: r.s for r in docs.select("doc_id", simhash60(F.col("text")).alias("s")).collect()}
    b = {r.doc_id: r.s for r in docs.select("doc_id", simhash60_pandas()("text").alias("s")).collect()}
    assert a == b


def test_simhash_close_for_near_dups(spark):
    rows = [(1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta iota"),
            (3, "one two three four five six seven eight")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.sh for r in df.select("doc_id", simhash60(F.col("text")).alias("sh")).collect()}

    def hamming(a, b):
        return bin(a ^ b).count("1")

    assert hamming(got[1], got[2]) < hamming(got[1], got[3])


def test_shingle_sig_pandas_equals_catalyst(spark):
    """The vectorized shingle+minhash-signature UDF must be bit-identical
    to the pure-Catalyst reference path (same contract as the simhash
    twin)."""
    from flink_anomaly_spark.operators.dedup import minhash_signature, shingle_sig_pandas

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    # pin the NULL/short-text handling equivalence: the pandas path maps
    # None → [''] which matches the Catalyst path only because concat_ws
    # coalesces a null token array to '' — a subtle invariant that must
    # not silently drift (ADVICE r2)
    edge = spark.createDataFrame(
        [(100001, None), (100002, ""), (100003, "one two")],
        "doc_id long, text string",
    )
    docs = docs.unionAll(edge)
    a = docs.select(
        "doc_id", F.array_distinct(shingles(F.col("text"), 3)).alias("sh")
    ).withColumn("sig", minhash_signature(F.col("sh"), 8))
    b = docs.withColumn("__b", shingle_sig_pandas(3, 8)(F.col("text"))).select(
        "doc_id", F.col("__b.sh").alias("sh"), F.col("__b.sig").alias("sig")
    )
    da = {r.doc_id: (list(r.sh), list(r.sig)) for r in a.collect()}
    db = {r.doc_id: (list(r.sh), list(r.sig)) for r in b.collect()}
    assert da == db


def test_shingles_pandas_equals_catalyst(spark):
    """The shingle-only vectorized UDF (ngram_jaccard's default path)
    must be bit-identical to the Catalyst shingle expressions, including
    the NULL/empty/short-text edge rows."""
    from flink_anomaly_spark.operators.dedup import shingles_pandas

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    edge = spark.createDataFrame(
        [(100001, None), (100002, ""), (100003, "one two")],
        "doc_id long, text string",
    )
    docs = docs.unionAll(edge)
    a = {
        r.doc_id: list(r.sh)
        for r in docs.select(
            "doc_id", F.array_distinct(shingles(F.col("text"), 3)).alias("sh")
        ).collect()
    }
    b = {
        r.doc_id: list(r.sh)
        for r in docs.select("doc_id", shingles_pandas(3)(F.col("text")).alias("sh")).collect()
    }
    assert a == b


def test_ngram_jaccard_vectorized_matches_catalyst(spark):
    from flink_anomaly_spark.operators.dedup import ngram_jaccard_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    # guarantee at least one qualifying pair regardless of corpus content
    near = spark.createDataFrame(
        [
            (200001, "the quick brown fox jumps over the lazy dog today"),
            (200002, "the quick brown fox jumps over the lazy dog tonight"),
        ],
        "doc_id long, text string",
    )
    docs = docs.unionAll(near)
    a = {
        (r.id1, r.id2, r.jaccard)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.1, vectorized=True
        ).collect()
    }
    b = {
        (r.id1, r.id2, r.jaccard)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.1, vectorized=False
        ).collect()
    }
    assert a == b and len(a) > 0
    # the hashed-gram join (default) must reproduce the raw-string join
    c = {
        (r.id1, r.id2, r.jaccard)
        for r in ngram_jaccard_pairs(
            docs, "doc_id", "text", threshold=0.1, hash_grams=False
        ).collect()
    }
    assert a == c


def test_minhash_vectorized_matches_catalyst_pairs(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = {
        (r.id1, r.id2, r.jaccard)
        for r in minhash_near_dup_pairs(docs, "doc_id", "text", vectorized=True).collect()
    }
    b = {
        (r.id1, r.id2, r.jaccard)
        for r in minhash_near_dup_pairs(docs, "doc_id", "text", vectorized=False).collect()
    }
    assert a == b and len(a) > 0


def test_simhash_banded_pairs_equal_brute_force(spark):
    """Banded simhash pairs must equal the brute-force all-pairs scan
    (pigeonhole exactness: max_hamming < bands ⇒ no recall loss)."""
    from flink_anomaly_spark.operators.dedup import simhash60_pandas, simhash_near_dup_pairs

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select(
        "doc_id", "text"
    )
    got = {
        (r.id1, r.id2, r.hamming)
        for r in simhash_near_dup_pairs(docs, "doc_id", "text").collect()
    }
    fps = {r.doc_id: r.fp for r in docs.select("doc_id", simhash60_pandas()("text").alias("fp")).collect()}
    ids = sorted(fps)
    expect = {
        (a, b, bin(fps[a] ^ fps[b]).count("1"))
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(fps[a] ^ fps[b]).count("1") <= 3
    }
    assert got == expect
    assert len(got) > 0


def test_simhash_pairs_param_validation(spark):
    from flink_anomaly_spark.operators.dedup import simhash_near_dup_pairs

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_dup_pairs(df, "doc_id", "text", bands=4, max_hamming=4)
    with pytest.raises(ValueError, match="divide"):
        simhash_near_dup_pairs(df, "doc_id", "text", bands=7)


def test_ivf_topk_recall_and_shape(spark):
    """IVF-flat probes 2 of 8 cells, so it's approximate — but it must
    return a full top-5 per query and recall a healthy fraction of the
    exact neighbors (0.6 measured on this data; floor at 0.4 so the
    test flags a broken index, not noise)."""
    from flink_anomaly_spark.operators.similarity import ivf_flat_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    ivf = ivf_flat_topk(emb, "vec_id", "embedding", list(range(10)), k=5)
    ex = brute_force_topk(emb, "vec_id", "embedding", list(range(10)), k=5)
    a = {(r.qid, r.nid) for r in ivf.collect()}
    b = {(r.qid, r.nid) for r in ex.collect()}
    assert len(a) == 50  # 10 queries × full k
    assert len(a & b) / len(b) >= 0.4


def test_ivf_topk_missing_centroid_raises(spark):
    from flink_anomaly_spark.operators.similarity import ivf_flat_topk

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    with pytest.raises(ValueError, match="centroid ids not present"):
        ivf_flat_topk(emb, "vec_id", "embedding", [0], centroid_ids=[10_000_000])


def test_mad_outliers_known_values(spark):
    """9 clustered values + one wild point: MAD flags exactly the wild
    point, and the stdev z-score would struggle (the outlier inflates
    the stdev toward threshold-misses) — the robustness argument."""
    from flink_anomaly_spark.operators.anomaly import mad_outliers

    rows = [(i, 1, 10.0 + (i % 3)) for i in range(9)] + [(9, 1, 1000.0)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, value double")
    got = mad_outliers(df, key="user_id", value_col="value", threshold=3.5).collect()
    assert [r.event_id for r in got] == [9]
    assert got[0].robust_z > 3.5


def test_mad_outliers_degenerate_key_excluded(spark):
    """A key where ≥ half the values are identical has MAD = 0 — those
    rows must be excluded (same convention as the zero-std guard), not
    crash or emit infs."""
    from flink_anomaly_spark.operators.anomaly import mad_outliers

    rows = [(i, 1, 5.0) for i in range(6)] + [(6, 1, 99.0)]
    df = spark.createDataFrame(rows, "event_id long, user_id long, value double")
    assert mad_outliers(df, key="user_id", value_col="value").count() == 0


def test_windowed_ewma_known_values(spark):
    """First row = its own value; second = (0.5·v2 + 0.25·v1)/0.75 —
    normalized truncated EWMA with α=0.5."""
    import datetime as dt

    from flink_anomaly_spark.operators.anomaly import windowed_ewma

    t0 = dt.datetime(2024, 1, 1)
    rows = [(i, 1, t0 + dt.timedelta(seconds=i), float(v))
            for i, v in enumerate([10.0, 20.0, 30.0])]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp, value double")
    got = {r.event_id: r.ewma for r in windowed_ewma(
        df, key="user_id", ts_col="ts", id_col="event_id", value_col="value"
    ).collect()}
    assert got[0] == 10.0
    assert got[1] == round((0.5 * 20 + 0.25 * 10) / 0.75, 4)
    assert got[2] == round((0.5 * 30 + 0.25 * 20 + 0.125 * 10) / 0.875, 4)


def test_ngram_containment_known_values(spark):
    from flink_anomaly_spark.operators.text import ngram_containment

    train = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x y z w v")], "doc_id long, text string"
    )
    ev = spark.createDataFrame(
        [(10, "a b c d q"),   # 2-grams: 4 total, 3 in train ("a b","b c","c d")
         (11, "p q r s t")],  # nothing shared
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_grams, r.n_contaminated, r.containment)
        for r in ngram_containment(ev, train, "doc_id", "text", n=2).collect()
    }
    assert got[10] == (4, 3, 0.75)
    assert got[11] == (4, 0, 0.0)


def test_cosine_known_values(spark):
    df = spark.createDataFrame(
        [([1.0, 0.0], [0.0, 1.0]), ([1.0, 1.0], [1.0, 1.0])],
        "a array<double>, b array<double>",
    )
    got = [r.c for r in df.select(F.round(cosine(F.col("a"), F.col("b")), 6).alias("c")).collect()]
    assert got == [0.0, 1.0]


def test_brute_force_topk_shape(spark):
    import random

    random.seed(7)
    rows = [(i, [random.random() for _ in range(8)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = brute_force_topk(df, "vec_id", "embedding", query_ids=[0, 1], k=3).collect()
    assert len(out) == 6
    assert all(r.nid != r.qid for r in out)
    ranks = sorted(r.rank for r in out if r.qid == 0)
    assert ranks == [1, 2, 3]


def test_multimodal_resize_plumbing(spark):
    from flink_anomaly_spark.operators.multimodal import documents_as_media, resize_images
    from flink_anomaly_spark.tables import load_table

    media = documents_as_media(load_table(spark, "/root/testdata/sf0.001", "documents"))
    resized = resize_images(media, target_w=64, target_h=64)
    rows = resized.limit(20).collect()
    assert all(r.width == 64 and r.height == 64 for r in rows)
    assert all(isinstance(r.payload, (bytes, bytearray)) and len(r.payload) >= 1 for r in rows)
    assert resized.count() == media.count()
    assert resized.schema.simpleString() == media.schema.simpleString()


def test_connected_components_chain_and_nonconvergence(spark):
    from flink_anomaly_spark.operators.dedup import connected_components

    # chain 1-2-3-4-5 plus isolated 9 → one component labeled 1, one {9}
    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)], "id1 long, id2 long")
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 9]], "id long")
    got = {r.id: r.cluster_id for r in connected_components(pairs, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 9: 9}

    # an iteration budget smaller than the diameter must raise, not
    # silently return partial labels
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, nodes, max_iterations=1)


def test_connected_components_star_equals_label_prop(spark):
    """The two independently-implemented CC algorithms must agree on
    graphs mixing chains, triangles, stars, and singletons — including
    a chain long enough that the star contraction needs multiple
    alternations."""
    import random

    from flink_anomaly_spark.operators.dedup import connected_components

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(1, 12)]  # chain 1..12
    edges += [(20, 21), (21, 22), (20, 22)]  # triangle
    edges += [(30, j) for j in range(31, 36)]  # star
    edges += [(rng.randint(40, 60), rng.randint(40, 60)) for _ in range(15)]
    edges = [(a, b) for a, b in edges if a != b]
    node_ids = sorted({n for e in edges for n in e} | {99, 100})
    pairs = spark.createDataFrame(edges, "id1 long, id2 long")
    nodes = spark.createDataFrame([(n,) for n in node_ids], "id long")
    star = {
        r.id: r.cluster_id
        for r in connected_components(pairs, nodes, algorithm="star").collect()
    }
    prop = {
        r.id: r.cluster_id
        for r in connected_components(pairs, nodes, algorithm="label_prop").collect()
    }
    assert star == prop
    assert star[99] == 99 and star[100] == 100  # singletons survive
    assert {star[i] for i in range(1, 13)} == {1}  # chain collapses to min


def test_connected_components_reliable_checkpoint(spark, tmp_path):
    # reliable checkpoint() path: same labels as localCheckpoint, and the
    # checkpoint blocks actually land in the given dir (survives executor
    # loss on a real cluster, unlike executor-local blocks)
    from flink_anomaly_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame([(1, 2), (2, 3), (3, 4), (4, 5)], "id1 long, id2 long")
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 5, 9]], "id long")
    ckpt = str(tmp_path / "ckpt")
    got = {
        r.id: r.cluster_id
        for r in connected_components(
            pairs, nodes, reliable_checkpoint_dir=ckpt
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 9: 9}
    import os

    assert any(files for _, _, files in os.walk(ckpt)), "no checkpoint data written"


def test_tfidf_favors_rare_terms(spark):
    from flink_anomaly_spark.operators.text import tf_idf_top_terms

    rows = [
        (1, "common common common rare"),
        (2, "common common unique"),
        (3, "common other words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = tf_idf_top_terms(df, "doc_id", "text", top_n=1).collect()
    top = {r.doc_id: r.term for r in out}
    # 'common' appears in every doc → idf = ln(1) = 0 → never the top term
    assert top[1] == "rare"
    assert top[2] == "unique"
    assert "common" not in top.values()


def test_text_profile_columns(spark):
    df = spark.createDataFrame([(1, "the quick brown fox")], "doc_id long, text string")
    row = text_profile(df, "doc_id", "text").collect()[0]
    assert row.n_tokens == 4
    assert row.n_chars_computed == 19
    assert 0.0 <= row.quality <= 1.0
    assert row.fingerprint >= 0


def _mini_corpus_dir(spark, tmp_path, rows):
    """Write a minimal documents.parquet so (spark, sf_dir) query
    builders can run on crafted corpora."""
    d = str(tmp_path / "sfmini")
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{d}/documents.parquet")
    return d


def test_minhash_estimate_accuracy_identical_docs(spark, tmp_path):
    """A corpus of identical docs: every pair is an LSH candidate, the
    signature estimate equals the true Jaccard (1.0) exactly, and the
    0.5-threshold confusion has no errors."""
    from flink_anomaly_spark.plans.registry import all_queries

    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, text, "en", "src0", len(text)) for i in range(4)]
    d = _mini_corpus_dir(spark, tmp_path, rows)
    out = all_queries()["minhash_estimate_accuracy"](spark, d).collect()[0]
    assert out.n_candidate_pairs == 6  # C(4,2)
    assert out.mean_abs_err == 0.0 and out.max_abs_err == 0.0
    assert out.true_pos == 6 and out.false_pos == 0 and out.false_neg == 0


def test_cross_doc_repeated_ngrams_known_overlap(spark, tmp_path):
    """Two identical docs share 100% of 10-grams; a disjoint doc shares
    none."""
    from flink_anomaly_spark.plans.registry import all_queries

    dup = " ".join(f"w{i}" for i in range(20))
    uniq = " ".join(f"u{i}" for i in range(20))
    rows = [
        (0, dup, "en", "s", len(dup)),
        (1, dup, "en", "s", len(dup)),
        (2, uniq, "en", "s", len(uniq)),
    ]
    d = _mini_corpus_dir(spark, tmp_path, rows)
    got = {
        r.doc_id: (r.n_grams, r.shared_frac)
        for r in all_queries()["cross_doc_repeated_ngrams"](spark, d).collect()
    }
    assert got[0] == (11, 1.0) and got[1] == (11, 1.0)  # 20 - 10 + 1 grams
    assert got[2] == (11, 0.0)


def test_winsorized_stats_matches_numpy(spark):
    """Winsorized mean/std vs a numpy reference (linear-interpolated
    percentiles, sample std) on the real events table."""
    import numpy as np

    from flink_anomaly_spark.plans.registry import all_queries
    from flink_anomaly_spark.tables import load_table
    from tests.conftest import SF_SMOKE

    got = {
        r.event_type: (r.n_events, r.win_mean, r.win_std)
        for r in all_queries()["winsorized_event_stats"](spark, SF_SMOKE).collect()
    }
    events = load_table(spark, SF_SMOKE, "events").select("event_type", "value").collect()
    by_type: dict[str, list[float]] = {}
    for r in events:
        by_type.setdefault(r.event_type, []).append(r.value)
    for t, vals in by_type.items():
        v = np.array(vals)
        lo, hi = np.percentile(v, 1), np.percentile(v, 99)
        w = np.clip(v, lo, hi)
        assert got[t][0] == len(v)
        assert abs(got[t][1] - round(float(w.mean()), 4)) <= 2e-4
        assert abs(got[t][2] - round(float(w.std(ddof=1)), 4)) <= 2e-4


def test_minhash_bucket_cap_drops_flood_keeps_pairs(spark):
    """max_bucket_size: a 5-way identical flood group (every band
    bucket holds all 5) is dropped by a cap of 3, while a small
    2-doc duplicate pair survives untouched; uncapped sees both."""
    flood = "common boilerplate banner text repeated on every page here"
    pair = "a genuinely unique document about riverbank erosion patterns"
    rows = [(i, flood) for i in range(1, 6)] + [(10, pair), (11, pair)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = {(p.id1, p.id2) for p in minhash_near_dup_pairs(df, "doc_id", "text").collect()}
    assert (10, 11) in uncapped and len(uncapped) == 10 + 1  # C(5,2) flood pairs + 1
    capped = {
        (p.id1, p.id2)
        for p in minhash_near_dup_pairs(df, "doc_id", "text", max_bucket_size=3).collect()
    }
    assert capped == {(10, 11)}


def test_decode_ppm_parser():
    """The pure-Python P6 parser: full header grammar (comments,
    arbitrary whitespace), strict errors on anything that is not a
    complete image — the ValueError is what routes non-PPM payloads to
    the stub path in extract_features."""
    import pytest as _pytest

    from flink_anomaly_spark.operators.multimodal import decode_ppm, encode_ppm

    raster = bytes(range(2 * 2 * 3))
    assert decode_ppm(encode_ppm(2, 2, raster)) == (2, 2, raster)
    # netpbm comments + mixed whitespace in the header
    fancy = b"P6 # a comment\n 2\t2 # another\n 255\n" + raster
    assert decode_ppm(fancy) == (2, 2, raster)
    for bad in (
        b"not an image",
        b"P6\n2 2\n255\n" + raster[:-1],   # truncated raster
        b"P6\n2 2\n65535\n" + raster * 2,  # 2-byte samples unsupported
        b"P6\n2 2\n255",                   # missing raster separator
        b"P5\n2 2\n255\n" + raster[:3],    # P5 via the P6-only wrapper
    ):
        with _pytest.raises(ValueError):
            decode_ppm(bad)
    # P5 greyscale decodes through the generic decoder
    from flink_anomaly_spark.operators.multimodal import decode_pnm

    grey = bytes([0, 100, 200, 255])
    assert decode_pnm(b"P5\n2 2\n255\n" + grey) == (2, 2, 1, grey)
    with _pytest.raises(ValueError):
        decode_pnm(b"P5\n2 2\n255\n" + grey[:-1])  # truncated


def test_extract_features_real_ppm_path(spark):
    """A P6 payload takes the REAL decode path (features = [w, h, n,
    r_mean, g_mean, b_mean, min, max]); a non-PPM payload still gets
    the deterministic sha256 stub; a null payload is flagged not-ok."""
    from flink_anomaly_spark.operators.multimodal import encode_ppm, extract_features

    # 1x2 image: pixels (10,20,30) and (40,50,60)
    img = encode_ppm(2, 1, bytes([10, 20, 30, 40, 50, 60]))
    media = spark.createDataFrame(
        [
            (1, "image", img, "image/x-portable-pixmap", 2, 1, None),
            (2, "image", b"plain bytes", "application/octet-stream", None, None, None),
            (3, "image", None, None, None, None, None),
        ],
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms long",
    )
    out = {r.media_id: r for r in extract_features(media).collect()}
    assert out[1].decode_ok and out[1].feat == [2.0, 1.0, 2.0, 25.0, 35.0, 45.0, 10.0, 60.0]
    assert out[2].decode_ok and all(0.0 <= x < 1.0 for x in out[2].feat)
    assert not out[3].decode_ok and out[3].feat is None


def test_resize_images_real_nn_path(spark):
    """P6 payloads are really resized: 2x2 -> 1x1 nearest-neighbor
    keeps the top-left pixel, and the output re-decodes as a valid P6
    with the target dimensions."""
    from flink_anomaly_spark.operators.multimodal import (
        decode_ppm,
        encode_ppm,
        resize_images,
    )

    img = encode_ppm(2, 2, bytes([1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12]))
    media = spark.createDataFrame(
        [(1, "image", img, "image/x-portable-pixmap", 2, 2, None)],
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms long",
    )
    row = resize_images(media, 1, 1).collect()[0]
    assert (row.width, row.height) == (1, 1)
    assert decode_ppm(bytes(row.payload)) == (1, 1, bytes([1, 2, 3]))


def test_kmv_sketch_accuracy_and_exact_fallback(spark):
    """KMV bottom-k distinct sketch: with k=256 the standard error is
    ~1/sqrt(k-1) ~ 6%, so the estimate must land within 20% of truth on
    10k distinct values; with fewer than k distinct values the sketch
    is exact by construction (k_used < k -> est = exact)."""
    from flink_anomaly_spark.operators.relational import kmv_distinct_estimate

    big = spark.range(0, 10_000).select(F.col("id").alias("v"))
    r = kmv_distinct_estimate(big, "v", k=256).collect()[0]
    assert r.k_used == 256 and r.exact_distinct == 10_000
    assert abs(r.rel_err_pct) < 20.0, r
    small = spark.range(0, 50).select(F.col("id").alias("v"))
    r = kmv_distinct_estimate(small, "v", k=256).collect()[0]
    assert r.k_used == 50
    assert r.est_distinct == 50.0 and r.rel_err_pct == 0.0


def test_kmv_overlap_accuracy(spark):
    """KMV set algebra on known overlap: A = 0..6000, B = 4000..10000
    (union 10k, intersection 2k, J = 0.2). Estimates must land within
    sketch error (~3/sqrt(k) ~ 20% relative) and the exact columns
    must be exact."""
    from flink_anomaly_spark.operators.relational import kmv_set_overlap

    a = spark.range(0, 6000).select(F.col("id").alias("x"))
    b = spark.range(4000, 10000).select(F.col("id").alias("y"))
    r = kmv_set_overlap(a, "x", b, "y", k=256).collect()[0]
    assert (r.exact_union, r.exact_intersection) == (10000, 2000)
    assert abs(r.est_union - 10000) / 10000 < 0.25, r
    assert abs(r.est_jaccard - 0.2) < 0.1, r
    assert abs(r.est_intersection - 2000) / 2000 < 0.5, r


def test_kmv_null_keys_excluded(spark):
    """NULL keys never enter the sketch (ADVICE r5): a NULL md5 hash
    would occupy a bottom-k slot with engine-dependent null ordering,
    and the exact-union full join would double-count a NULL on both
    sides. Estimates and exact counts must be identical with and
    without planted NULLs."""
    from flink_anomaly_spark.operators.relational import (
        kmv_distinct_estimate,
        kmv_set_overlap,
    )

    vals = [(float(i),) for i in range(300)]
    clean = spark.createDataFrame(vals, "v double")
    dirty = spark.createDataFrame(vals + [(None,)] * 5, "v double")
    rc = kmv_distinct_estimate(clean, "v", k=64).collect()[0]
    rd = kmv_distinct_estimate(dirty, "v", k=64).collect()[0]
    assert rc == rd and rd.exact_distinct == 300
    b = spark.createDataFrame(
        [(float(i),) for i in range(200, 500)] + [(None,)] * 3, "w double"
    )
    ro = kmv_set_overlap(dirty, "v", b, "w", k=64).collect()[0]
    assert ro.exact_union == 500 and ro.exact_intersection == 100


def test_bitmap_aggs_merge_across_stored_partials(spark, tmp_path):
    """The bitmap family's mergeability is the point: per-day bitmaps
    stored to parquet, then OR-merged WITHOUT rescanning the raw rows,
    must give the same distinct count as a full recount — incremental
    distinct rollup (the thing count(DISTINCT) can never do)."""
    events = spark.range(0, 5000).select(
        (F.col("id") % 97).alias("user_id"), (F.col("id") % 7).alias("day")
    )
    daily = (
        events.select(
            "day",
            F.expr("bitmap_bucket_number(user_id)").alias("bucket"),
            F.expr("bitmap_bit_position(user_id)").alias("pos"),
        )
        .groupBy("day", "bucket")
        .agg(F.expr("bitmap_construct_agg(pos)").alias("bm"))
    )
    store = str(tmp_path / "daily_bitmaps")
    daily.write.parquet(store)  # the stored incremental state
    merged = (
        spark.read.parquet(store)
        .groupBy("bucket")
        .agg(F.expr("bitmap_or_agg(bm)").alias("bm"))
        .agg(F.sum(F.expr("bitmap_count(bm)")).alias("n"))
        .collect()[0]
        .n
    )
    assert merged == 97
    assert events.select("user_id").distinct().count() == 97


def test_extract_features_grey_p5_path(spark):
    """A P5 greyscale payload also takes the REAL decode path: one
    sample per pixel, the three channel means coincide."""
    from flink_anomaly_spark.operators.multimodal import extract_features

    img = b"P5\n2 2\n255\n" + bytes([0, 100, 200, 100])
    media = spark.createDataFrame(
        [(1, "image", img, "image/x-portable-graymap", 2, 2, None)],
        "media_id long, kind string, payload binary, mime string, "
        "width int, height int, duration_ms long",
    )
    r = extract_features(media).collect()[0]
    assert r.decode_ok
    assert r.feat == [2.0, 2.0, 4.0, 100.0, 100.0, 100.0, 0.0, 200.0]


def test_decode_wav_parser():
    """The RIFF/PCM walker: round-trip, unknown-chunk skipping with odd
    -size padding, and strict errors on truncation / non-PCM /
    unsupported widths."""
    import struct

    import pytest as _pytest

    from flink_anomaly_spark.operators.multimodal import decode_wav, encode_wav

    samples = struct.pack("<4h", -1000, 0, 500, 32767)
    wav = encode_wav(8000, samples)
    assert decode_wav(wav) == (8000, 1, 16, samples)
    # an unknown odd-sized chunk between fmt and data must be skipped
    # (with its pad byte honored)
    fmt_end = 12 + 8 + 16
    junk = struct.pack("<4sI", b"LIST", 3) + b"abc" + b"\x00"
    wav2 = wav[:fmt_end] + junk + wav[fmt_end:]
    assert decode_wav(wav2) == (8000, 1, 16, samples)
    for bad in (
        b"not audio at all",
        wav[:-2],                                   # truncated data chunk
        wav.replace(b"\x01\x00\x01\x00", b"\x03\x00\x01\x00", 1),  # IEEE float fmt
    ):
        with _pytest.raises(ValueError):
            decode_wav(bad)


def test_decode_y4m_parser():
    """The y4m walker: round-trip, per-frame parameter tolerance,
    strict errors on truncation / chroma formats / missing frames."""
    import pytest as _pytest

    from flink_anomaly_spark.operators.multimodal import decode_y4m, encode_y4m

    f0, f1 = bytes(range(6)), bytes(range(6, 12))
    clip = encode_y4m(3, 2, [f0, f1])
    assert decode_y4m(clip) == (3, 2, "25:1", [f0, f1])
    # per-frame parameters after the FRAME marker are legal y4m
    with_params = clip.replace(b"FRAME\n" + f1, b"FRAME Ip\n" + f1)
    assert decode_y4m(with_params)[3] == [f0, f1]
    for bad in (
        b"not video",
        clip[:-1],                                    # truncated frame
        clip.replace(b"Cmono", b"C420"),              # chroma unsupported
        encode_y4m(3, 2, [f0])[: len("YUV4MPEG2 W3 H2 F25:1 Ip A1:1 Cmono\n")],
    ):
        with _pytest.raises(ValueError):
            decode_y4m(bad)


def test_span_dedup_clean_planted_duplicate(spark):
    """A planted 10-word span shared by two docs is removed from BOTH
    (remove-every-occurrence semantics); unique words survive; a doc
    shorter than n=8 words passes through untouched."""
    from flink_anomaly_spark.operators.dedup import span_dedup_clean

    span = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "uniqueone uniquetwo " + span + " tailword1 tailword2"),
        (2, span + " othertail1 othertail2 othertail3"),
        (3, "totally different words nothing repeats here at all nine ten"),
        (4, "short doc only"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in span_dedup_clean(df, n=8, min_count=2).collect()}
    assert len(out) == 4
    # every word of the shared 10-word span is covered by a duplicated
    # 8-gram in both docs; surrounding unique words survive
    assert out[1].cleaned_text == "uniqueone uniquetwo tailword1 tailword2"
    assert out[2].cleaned_text == "othertail1 othertail2 othertail3"
    assert out[1].n_removed == 10 and out[2].n_removed == 10
    # untouched docs
    assert out[3].n_removed == 0 and out[3].cleaned_text.startswith("totally")
    assert out[4].n_removed == 0 and out[4].cleaned_text == "short doc only"
    assert out[4].n_words == 3


def test_span_dedup_clean_empty_and_fully_covered(spark):
    """Zero-token and whitespace-only documents produce a clean empty
    row (no INVALID_ARRAY_INDEX_IN_ELEMENT_AT — ADVICE r5), and a doc
    whose EVERY word is covered by marked spans empties out entirely
    (the interval merge folds all spans into one)."""
    from flink_anomaly_spark.operators.dedup import span_dedup_clean

    span = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    rows = [
        (1, ""),
        (2, "   \t  "),
        (3, span),
        (4, span),
        (5, "plain unduplicated filler words beyond the gram width okay"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in span_dedup_clean(df, n=8, min_count=2).collect()}
    assert len(out) == 5
    for empty_id in (1, 2):
        r = out[empty_id]
        assert r.n_words == 0 and r.n_removed == 0
        assert r.removed_frac == 0.0 and r.cleaned_text == ""
    for full_id in (3, 4):
        r = out[full_id]
        assert r.n_words == 12 and r.n_removed == 12
        assert r.removed_frac == 1.0 and r.cleaned_text == ""
    assert out[5].n_removed == 0


def test_gram_hashes_pandas_bitidentical_to_catalyst(spark):
    """The vectorized C-md5 gram hasher must equal the Catalyst HOF
    twin (transform + md5_long(concat_ws(slice))) hash-for-hash,
    position-for-position — including empty/whitespace/short docs and
    non-ASCII text — on fixtures AND the sf0.001 corpus (the
    simhash-style twin assertion)."""
    from flink_anomaly_spark.operators.dedup import gram_hashes_pandas, md5_long
    from flink_anomaly_spark.operators.text import tokens
    from flink_anomaly_spark.tables import load_table

    n = 8

    def catalyst(c):
        toks = tokens(c)
        return F.when(
            F.size(toks) >= n,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: md5_long(F.concat_ws(" ", F.slice(toks, i, n))),
            ),
        ).otherwise(F.array().cast("array<bigint>"))

    rows = [
        (1, ""),
        (2, "   \t "),
        (3, "short doc"),
        (4, "exactly eight words here to make one gram"),
        (5, "héllo wörld " + " ".join(f"w{i}" for i in range(20)) + " ünïcode tail"),
        (6, "  leading and trailing whitespace  " + " ".join(f"t{i}" for i in range(10)) + "   "),
    ]
    for df in (
        spark.createDataFrame(rows, "doc_id long, text string"),
        load_table(spark, "/root/testdata/sf0.001", "documents"),
    ):
        got = df.select(
            "doc_id",
            gram_hashes_pandas(n)(F.col("text")).alias("fast"),
            catalyst(F.col("text")).alias("ref"),
        ).collect()
        for r in got:
            assert list(r.fast) == list(r.ref), r.doc_id


def test_span_dedup_clean_interval_merge_gaps(spark):
    """Two disjoint duplicated spans inside one doc leave exactly the
    inter-span gap words: the merged-interval gap sweep keeps interior
    gaps, the head, and the tail."""
    from flink_anomaly_spark.operators.dedup import span_dedup_clean

    s1 = "a1 a2 a3 a4 a5 a6 a7 a8"
    s2 = "b1 b2 b3 b4 b5 b6 b7 b8"
    rows = [
        (1, "head1 head2 " + s1 + " gapx gapy " + s2 + " tail1"),
        (2, s1),
        (3, s2),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in span_dedup_clean(df, n=8, min_count=2).collect()}
    assert out[1].cleaned_text == "head1 head2 gapx gapy tail1"
    assert out[1].n_removed == 16


def test_span_dedup_clean_within_doc_repeat(spark):
    """A span repeated WITHIN one document (min_count=2 counts total
    occurrences, not distinct docs) is removed from that document."""
    from flink_anomaly_spark.operators.dedup import span_dedup_clean

    span = "one two three four five six seven eight"
    rows = [(1, span + " middlea middleb " + span), (2, "no duplicated content in this document text here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in span_dedup_clean(df, n=8, min_count=2).collect()}
    assert out[1].cleaned_text == "middlea middleb"
    assert out[1].n_removed == 16
    assert out[2].n_removed == 0


def test_image_dhash_bit_layout(spark):
    """dHash bit packing pinned against a hand-computed fixture: a 3x2
    P6 image with known luma gradients must set exactly the bits
    y*(w-1)+x where gray[y, x+1] > gray[y, x]."""
    from flink_anomaly_spark.operators.multimodal import encode_ppm, image_dhash

    # pixels (r,g,b) chosen so luma sums are row0: 10, 30, 20 / row1: 5, 5, 9
    lumas = [[10, 30, 20], [5, 5, 9]]
    raster = bytes(
        b for row in lumas for s in row for b in (s - 2 * (s // 3), s // 3, s // 3)
    )
    payload = encode_ppm(3, 2, raster)
    df = spark.createDataFrame([(7, payload)], "media_id long, payload binary")
    row = image_dhash(df).collect()[0]
    # row0: 10<30 -> bit 0 set, 30>20 -> bit 1 clear
    # row1: 5==5 -> bit 2 clear (strict >), 5<9 -> bit 3 set
    assert (row.width, row.height, row.n_bits) == (3, 2, 4)
    assert row.dhash == 0b1001


def test_media_dhash_near_dup_matches_bruteforce(spark):
    """Banded Hamming join must equal the brute-force same-dimension
    quadratic scan exactly (pigeonhole recall) on the sf0.001 corpus."""
    from itertools import combinations

    from flink_anomaly_spark.operators.multimodal import (
        image_dhash,
        media_dhash_near_dup,
        synth_ppm_media,
    )
    from flink_anomaly_spark.tables import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents").select("doc_id")
    media = synth_ppm_media(docs)
    got = {
        (r.id1, r.id2): r.hamming for r in media_dhash_near_dup(media).collect()
    }
    fps = image_dhash(media).collect()
    want = {}
    for a, b in combinations(sorted(fps, key=lambda r: r.media_id), 2):
        if (a.width, a.height) == (b.width, b.height):
            ham = bin(a.dhash ^ b.dhash).count("1")
            if ham <= 3:
                want[(a.media_id, b.media_id)] = ham
    assert got == want and want, "banded join must match brute force (non-empty)"


def test_media_dhash_near_dup_pigeonhole_guard():
    from flink_anomaly_spark.operators.multimodal import media_dhash_near_dup

    with pytest.raises(ValueError, match="pigeonhole"):
        media_dhash_near_dup(None, bands=4, max_hamming=4)
    with pytest.raises(ValueError, match="cover"):
        media_dhash_near_dup(None, bands=4, band_width=10, max_hamming=3)


def test_exact_substring_spans_maximal_and_positioned(spark):
    """A 10-word substring shared by two docs must report as ONE
    maximal span (not three overlapping 8-gram windows) at the right
    1-based word positions in each doc; unique text reports nothing."""
    from flink_anomaly_spark.operators.dedup import exact_substring_spans

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    df = spark.createDataFrame(
        [
            (1, "unique lead words " + shared),
            (2, shared + " trailing tail"),
            (3, "totally different text with no duplication at all here ok"),
        ],
        "doc_id long, text string",
    )
    out = exact_substring_spans(df, n=8, min_count=2).collect()
    by_doc = {r.doc_id: r for r in out}
    assert set(by_doc) == {1, 2}
    # doc 1: shared starts at word 4 (3 lead words), 10 words long
    assert (by_doc[1].span_start, by_doc[1].span_end) == (4, 13)
    assert by_doc[1].span_words == 10 and by_doc[1].span_text == shared
    # doc 2: shared starts at word 1
    assert (by_doc[2].span_start, by_doc[2].span_end) == (1, 10)
    assert by_doc[2].span_text == shared


def test_exact_substring_spans_two_disjoint_regions(spark):
    """Two duplicated regions separated by >1 unique word stay TWO
    spans; within-document repetition (same 8-gram twice in one doc)
    counts as duplication."""
    from flink_anomaly_spark.operators.dedup import exact_substring_spans

    a = "one two three four five six seven eight"          # 8 words
    b = "red orange yellow green blue indigo violet pink"  # 8 words
    df = spark.createDataFrame(
        [
            (1, a + " gapX gapY " + b),
            (2, a + " filler words here again " + b),
        ],
        "doc_id long, text string",
    )
    out = exact_substring_spans(df, n=8, min_count=2).collect()
    spans1 = sorted(
        [(r.span_start, r.span_end) for r in out if r.doc_id == 1]
    )
    assert spans1 == [(1, 8), (11, 18)]
    # within-doc: the same 8-gram twice in ONE doc is a duplicate too
    df2 = spark.createDataFrame([(9, a + " middle " + a)], "doc_id long, text string")
    out2 = exact_substring_spans(df2, n=8, min_count=2).collect()
    assert sorted((r.span_start, r.span_end) for r in out2) == [(1, 8), (10, 17)]


def test_priority_sample_fixed_size_and_unbiased(spark):
    """Priority sampling invariants: exactly k rows per stratum, ranks
    dense, w_est = max(w, tau) >= w, and the Duffield-Lund-Thorup
    unbiasedness E[sum of w_est over the sample] = total stratum weight
    — checked as the mean over 12 independent hash salts landing
    within 10% of the true total."""
    from pyspark.sql import functions as F

    from flink_anomaly_spark.operators.relational import priority_sample_per_stratum

    rows = [(i, "en", 10 + (i * 37) % 500) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    total = sum(r[2] for r in rows)
    out = priority_sample_per_stratum(
        df, ["lang"], "n_chars", "doc_id", k=20
    ).collect()
    assert len(out) == 20
    assert sorted(r.rn for r in out) == list(range(1, 21))
    assert all(r.w_est >= r.n_chars for r in out)
    # tau is shared within the stratum: w_est is either w (> tau) or tau
    taus = {r.w_est for r in out if r.w_est != r.n_chars}
    assert len(taus) <= 1
    est = []
    for s in range(12):
        sample = priority_sample_per_stratum(
            df, ["lang"], "n_chars", "doc_id", k=20, salt=f"s{s}:"
        ).collect()
        est.append(sum(r.w_est for r in sample))
    mean = sum(est) / len(est)
    assert abs(mean - total) / total < 0.10, (mean, total)


def test_priority_sample_small_strata_edges(spark):
    """Strata smaller than k keep ALL rows with tau = 0 (no (k+1)-th
    priority exists) so w_est == w exactly; a stratum with exactly
    k+1 rows drops precisely one row and shares one tau."""
    from flink_anomaly_spark.operators.relational import priority_sample_per_stratum

    rows = [(i, "small", 100 + i) for i in range(3)] + [
        (100 + i, "edge", 200 + i) for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    out = priority_sample_per_stratum(df, ["lang"], "n_chars", "doc_id", k=5).collect()
    small = [r for r in out if r.lang == "small"]
    assert len(small) == 3
    assert all(r.w_est == float(r.n_chars) for r in small)  # tau = 0
    edge = [r for r in out if r.lang == "edge"]
    assert len(edge) == 5  # exactly one of the 6 dropped
    taus = {r.w_est for r in edge if r.w_est != r.n_chars}
    assert len(taus) <= 1


def test_weighted_sample_global_fixed_size_and_unbiased(spark):
    """Global priority sampling: exactly k rows corpus-wide, dense
    ranks, w_est = max(w, tau) >= w with ONE shared global tau, brute-
    force priority agreement, and DLT unbiasedness E[sum w_est] = total
    weight over independent salts."""
    import hashlib

    from flink_anomaly_spark.operators.relational import weighted_sample_global

    rows = [(i, 10 + (i * 37) % 500) for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, n_chars long")
    total = sum(w for _, w in rows)
    out = weighted_sample_global(df, "n_chars", "doc_id", k=25).collect()
    assert len(out) == 25
    assert sorted(r.rn for r in out) == list(range(1, 26))
    assert all(r.w_est >= r.n_chars for r in out)
    taus = {r.w_est for r in out if r.w_est != r.n_chars}
    assert len(taus) <= 1
    # brute-force replica of the deterministic priorities
    def prio(i, w, salt="psampg:"):
        h = int(hashlib.md5(f"{salt}{i}".encode()).hexdigest()[:8], 16) + 1
        return (float(w) * 4294967296.0) / float(h)

    ref = sorted(rows, key=lambda r: (-prio(r[0], r[1]), r[0]))[:25]
    assert [r.doc_id for r in sorted(out, key=lambda r: r.rn)] == [i for i, _ in ref]
    est = []
    for s in range(12):
        sample = weighted_sample_global(df, "n_chars", "doc_id", k=25, salt=f"g{s}:").collect()
        est.append(sum(r.w_est for r in sample))
    mean = sum(est) / len(est)
    assert abs(mean - total) / total < 0.10, (mean, total)


def test_weighted_sample_global_small_corpus(spark):
    """Corpus smaller than k keeps every row with tau = 0."""
    from flink_anomaly_spark.operators.relational import weighted_sample_global

    df = spark.createDataFrame([(i, 100 + i) for i in range(4)], "doc_id long, n_chars long")
    out = weighted_sample_global(df, "n_chars", "doc_id", k=10).collect()
    assert len(out) == 4
    assert all(r.w_est == float(r.n_chars) for r in out)
