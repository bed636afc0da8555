"""Known-value tests for the corpus-quality operators (Gopher rule
filter, repetition profile, stratified sampling)."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException
from pyspark.sql import functions as F

from flink_anomaly_spark.operators.text import (
    doc_repetition_profile,
    gopher_quality_flags,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_gopher_flags_known_values(spark):
    good = "the quick brown fox jumps over that lazy dog and friends " * 6  # 66 words
    short = "tiny doc with the and that"  # 6 words -> fails word count
    symbols = " ".join(["##" for _ in range(60)])  # all-symbol words
    rows = [(1, good), (2, short), (3, symbols)]
    out = {
        r["doc_id"]: r.asDict()
        for r in gopher_quality_flags(_docs(spark, rows), "doc_id", "text").collect()
    }
    assert out[1]["n_words"] == 66
    assert out[1]["pass_word_count"] == 1
    assert out[1]["pass_stopwords"] == 1  # the/that/and/over...
    assert out[1]["keep"] == 1
    assert out[2]["pass_word_count"] == 0 and out[2]["keep"] == 0
    # 60 '##' words: symbol ratio = 120/60 = 2.0 > 0.1, zero alpha words
    assert out[3]["pass_symbol_ratio"] == 0
    assert out[3]["pass_alpha_words"] == 0
    assert out[3]["symbol_ratio"] == 2.0


def test_gopher_flags_mean_word_len_bounds(spark):
    # single-char words -> mean len 1 < 3 fails; 11-char words fail too
    rows = [(1, " ".join(["a"] * 60)), (2, " ".join(["abcdefghijk"] * 60))]
    out = {
        r["doc_id"]: r.asDict()
        for r in gopher_quality_flags(_docs(spark, rows), "doc_id", "text").collect()
    }
    assert out[1]["mean_word_len"] == 1.0 and out[1]["pass_mean_word_len"] == 0
    assert out[2]["mean_word_len"] == 11.0 and out[2]["pass_mean_word_len"] == 0


def test_repetition_profile_known_values(spark):
    rows = [
        (1, "a a a a"),  # top frac 1.0, dup tokens 3/4, 2-grams all "a a"
        (2, "w x y z"),  # no repetition
        (3, "p q p q p"),  # top=3/5; 2-grams: pq qp pq qp -> 2 distinct of 4
    ]
    out = {
        r["doc_id"]: r.asDict()
        for r in doc_repetition_profile(_docs(spark, rows), "doc_id", "text").collect()
    }
    assert out[1]["top_token_frac"] == 1.0
    assert out[1]["dup_token_frac"] == 0.75
    assert out[1]["dup_2gram_frac"] == round(1 - 1 / 3, 4)
    assert out[2]["top_token_frac"] == 0.25
    assert out[2]["dup_token_frac"] == 0.0
    assert out[2]["dup_2gram_frac"] == 0.0
    assert out[3]["top_token_frac"] == 0.6
    assert out[3]["dup_2gram_frac"] == 0.5


def test_repetition_profile_short_doc_degenerate(spark):
    # < 2 tokens -> shingles() emits the single joined token; fractions 0
    rows = [(1, "solo")]
    r = doc_repetition_profile(_docs(spark, rows), "doc_id", "text").collect()[0]
    assert r["n_tokens"] == 1
    assert r["dup_2gram_frac"] == 0.0


def test_stratified_sample_rates(spark):
    from flink_anomaly_spark.plans.quality_queries import q_stratified_sample_by_lang

    out = q_stratified_sample_by_lang(spark, "/root/testdata/sf0.001").toPandas()
    full = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").toPandas()
    # deterministic: same call twice gives the identical sample
    out2 = q_stratified_sample_by_lang(spark, "/root/testdata/sf0.001").toPandas()
    assert out.equals(out2)
    # per-stratum rates are respected within binomial noise
    for lang, grp in out.groupby("lang"):
        n_lang = (full["lang"] == lang).sum()
        rate = grp.shape[0] / n_lang
        assert 0.05 < rate < 0.95, (lang, rate)
    en_rate = (out["lang"] == "en").sum() / max((full["lang"] == "en").sum(), 1)
    other_rate = (out["lang"] != "en").sum() / max((full["lang"] != "en").sum(), 1)
    assert en_rate < other_rate  # en is downsampled vs the tail


def test_ohlc_downsample_known_values(spark):
    from datetime import datetime

    from flink_anomaly_spark.operators.windows import ohlc_downsample

    rows = [
        # one 1-min bucket, tie on ts between ids 2 and 3 -> open/close by id
        (1, datetime(2024, 1, 1, 0, 0, 5), "a", 10.0),
        (2, datetime(2024, 1, 1, 0, 0, 1), "a", 7.0),
        (3, datetime(2024, 1, 1, 0, 0, 1), "a", 9.0),
        (4, datetime(2024, 1, 1, 0, 0, 59), "a", 3.0),
        (5, datetime(2024, 1, 1, 0, 1, 2), "a", 42.0),  # next bucket
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, event_type string, value double"
    )
    out = {
        (r["event_type"], r["bucket_start"].minute): r.asDict()
        for r in ohlc_downsample(
            df, "ts", "value", ["event_type"], "1 minute", tiebreak="event_id"
        ).collect()
    }
    b0 = out[("a", 0)]
    assert b0["open"] == 7.0  # ts tie -> smaller event_id wins
    assert b0["high"] == 10.0 and b0["low"] == 3.0
    assert b0["close"] == 3.0 and b0["n_events"] == 4
    assert out[("a", 1)]["open"] == 42.0 and out[("a", 1)]["n_events"] == 1


def test_heavy_hitter_threshold_exact(spark):
    from flink_anomaly_spark.plans.quality_queries import q_heavy_hitter_terms

    out = q_heavy_hitter_terms(spark, "/root/testdata/sf0.001").toPandas()
    assert len(out) > 0
    total = out.attrs  # not used; recompute below
    from flink_anomaly_spark.operators.text import tokens as _tokens
    from pyspark.sql import functions as FF

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    n = docs.select(FF.explode(_tokens(FF.col("text")))).count()
    # every returned term meets the exact integer threshold, ordered by cnt desc
    assert (out["cnt"] * 1000 >= n).all()
    assert list(out["cnt"]) == sorted(out["cnt"], reverse=True)


def test_funnel_transitions_known_values(spark):
    from datetime import datetime

    from flink_anomaly_spark.plans.relational_ext import q_funnel_transitions
    from flink_anomaly_spark.tables import load_table  # noqa: F401

    rows = [
        # u1: view->purchase within 30min (hit), then purchase->view (no),
        # then view->purchase at 31min gap (no)
        (1, datetime(2024, 1, 1, 10, 0, 0), 1, "view", 1.0, "{}"),
        (2, datetime(2024, 1, 1, 10, 10, 0), 1, "purchase", 1.0, "{}"),
        (3, datetime(2024, 1, 1, 11, 0, 0), 1, "view", 1.0, "{}"),
        (4, datetime(2024, 1, 1, 11, 31, 0), 1, "purchase", 1.0, "{}"),
        # u2: view then error then purchase -> NOT an immediate transition
        (5, datetime(2024, 1, 1, 10, 0, 0), 2, "view", 1.0, "{}"),
        (6, datetime(2024, 1, 1, 10, 1, 0), 2, "error", 1.0, "{}"),
        (7, datetime(2024, 1, 1, 10, 2, 0), 2, "purchase", 1.0, "{}"),
    ]
    df = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string, value double, props string"
    )
    import flink_anomaly_spark.tables as tables

    orig = tables.load_table
    try:
        tables.load_table = lambda sp, d, t: df  # fixture stand-in
        import flink_anomaly_spark.plans.relational_ext as rx

        orig_rx = rx.load_table
        rx.load_table = tables.load_table
        try:
            out = {r["user_id"]: r["n_funnel"] for r in q_funnel_transitions(spark, "x").collect()}
        finally:
            rx.load_table = orig_rx
    finally:
        tables.load_table = orig
    assert out == {1: 1}  # u1 exactly one qualifying transition; u2 none


def test_pack_sequences_matches_sequential(spark):
    """The distributed two-phase prefix sum must equal a single-threaded
    sequential packing, whatever the partition boundaries."""
    from flink_anomaly_spark.operators.text import pack_sequences

    rows = [(i, "w " * (i % 7 + 1)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id bigint, text string").repartition(13)
    out = {r["doc_id"]: r.asDict() for r in
           pack_sequences(df, "doc_id", "text", seq_len=50).collect()}
    cum = 0
    for i in range(200):
        n = i % 7 + 1
        assert out[i]["n_tok"] == n
        assert out[i]["bin_id"] == cum // 50
        assert out[i]["bin_offset"] == cum % 50
        cum += n


def test_char_entropy_known_values(spark):
    import flink_anomaly_spark.plans.quality_queries as qq
    import flink_anomaly_spark.tables as tables

    rows = [(1, "aaaa"), (2, "ab"), (3, "abcd")]
    df = spark.createDataFrame(rows, "doc_id bigint, text string")
    orig = qq.load_table
    qq.load_table = lambda sp, d, t: df
    try:
        out = {r["doc_id"]: r.asDict() for r in qq.q_char_entropy(spark, "x").collect()}
    finally:
        qq.load_table = orig
    assert out[1]["char_entropy"] == 0.0 and out[1]["n_distinct_chars"] == 1
    assert out[2]["char_entropy"] == 1.0  # two equiprobable symbols
    assert out[3]["char_entropy"] == 2.0  # four equiprobable symbols


def test_ann_recall_bounds_and_self_consistency(spark):
    from flink_anomaly_spark.plans.registry import all_queries

    qs = all_queries()
    out = qs["ann_lsh_recall"](spark, "/root/testdata/sf0.001").toPandas()
    assert len(out) == 10
    assert ((out["recall_at_5"] >= 0) & (out["recall_at_5"] <= 1)).all()


def test_char_entropy_vectorized_equals_catalyst(spark):
    """The numpy codepoint-bincount path must match the explode-chars
    Catalyst reference exactly (after the shared 6-decimal round),
    including on empty and non-ASCII text."""
    import pandas as pd

    from flink_anomaly_spark.operators.text import char_entropy_profile

    rows = [
        (0, "aaabbc"),
        (1, ""),
        (2, "héllo wörld héllo"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "aAaA  \t\n zz"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fast = char_entropy_profile(df, "doc_id", "text", vectorized=True).toPandas()
    ref = char_entropy_profile(df, "doc_id", "text", vectorized=False).toPandas()
    fast = fast.sort_values("doc_id").reset_index(drop=True)
    ref = ref.sort_values("doc_id").reset_index(drop=True)
    pd.testing.assert_frame_equal(fast, ref)


def test_unigram_logprob_quality_known_values(spark):
    """Hand-computed fixture: corpus counts x=4, y=1, z=1 (total 6).
    doc A 'x x x' -> log2(6) - log2(4) ~ 0.585 (most probable -> head);
    doc B 'x y'   -> log2(6) - (log2 4 + 0)/2 = 1.585 (middle);
    doc C 'z'     -> log2(6) ~ 2.585 (least probable -> tail)."""
    from flink_anomaly_spark.operators.text import unigram_logprob_quality

    docs = spark.createDataFrame(
        [(1, "x x x"), (2, "x y"), (3, "z")], ["doc_id", "text"]
    )
    out = {
        r.doc_id: r
        for r in unigram_logprob_quality(docs, "doc_id", "text").collect()
    }
    assert out[1].ccnet_bucket == "head" and out[1].n_tok == 3
    assert out[2].ccnet_bucket == "middle" and out[2].n_tok == 2
    assert out[3].ccnet_bucket == "tail" and out[3].n_tok == 1
    assert abs(out[1].mean_neglog2p - 0.585) < 1e-3
    assert abs(out[2].mean_neglog2p - 1.585) < 1e-3
    assert abs(out[3].mean_neglog2p - 2.585) < 1e-3


def test_redact_pii_known_strings(spark):
    """The PII scrub finds and replaces emails, phones, and IPs on
    crafted text, leaves clean text untouched, and counts from the
    ORIGINAL text (so overlapping replacements can't hide matches)."""
    from flink_anomaly_spark.operators.text import redact_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@ex-corp.io or x@y.co now"),
            (2, "call 555-0199 or 555 0200 from 192.168.1.77"),
            (3, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in redact_pii(df, "doc_id", "text").collect()}
    assert (out[1].n_email, out[1].n_phone, out[1].n_ip) == (2, 0, 0)
    assert out[1].redacted_text == "mail <EMAIL> or <EMAIL> now"
    assert (out[2].n_email, out[2].n_phone, out[2].n_ip) == (0, 2, 1)
    assert out[2].redacted_text == "call <PHONE> or <PHONE> from <IP>"
    assert (out[3].n_email, out[3].n_phone, out[3].n_ip) == (0, 0, 0)
    assert out[3].redacted_text == "nothing sensitive here"


def test_dsir_weights_prefer_target_like_docs(spark):
    """DSIR sanity: documents made of target-corpus vocabulary score a
    HIGHER importance ratio than documents of source-only vocabulary —
    the resampling direction of the estimator."""
    from flink_anomaly_spark.operators.text import dsir_importance_weights

    rows = (
        [(i, "alpha beta gamma alpha beta", "en") for i in range(5)]
        + [(10 + i, "zeta eta theta zeta eta", "de") for i in range(5)]
        + [(100, "alpha beta alpha", "de"), (101, "zeta eta zeta", "en2")]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang"])
    out = {
        r.doc_id: r.dsir_logratio
        for r in dsir_importance_weights(
            df, "doc_id", "text", is_target=F.col("lang") == "en"
        ).collect()
    }
    # doc 100 uses only target vocab -> positive ratio;
    # doc 101 uses only source-side vocab -> negative ratio
    assert out[100] > 0 > out[101]
    assert out[100] > out[101]


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing's core guarantee (Schleimer et al. §3): two documents
    sharing a substring of length >= k + w - 1 normalized chars share at
    least one fingerprint. k=8, w=4 -> any 11-char shared run must
    surface."""
    from flink_anomaly_spark.operators.text import winnow_fingerprints

    shared = "the quick brown fox jumps over the lazy dog"
    rows = [
        (1, "AAA " + shared + " tail one padding text here"),
        (2, "completely different prefix words " + shared),
        (3, "no overlap with anything else at all zzz qqq xxx"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = winnow_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "docs sharing a 44-char substring must share a fingerprint"
    # density: selected fingerprints ~ 2/(w+1) of grams, never more than grams
    for d, s in by_doc.items():
        n_grams = next(r.n_grams for r in fps if r.doc_id == d)
        assert 0 < len(s) <= n_grams


def test_winnowing_identical_docs_full_overlap(spark):
    """Exact duplicates have identical fingerprint sets -> the pairs
    query reports them with overlap 1.0; an unrelated doc pairs with
    neither."""
    from flink_anomaly_spark.operators.text import winnowing_dup_pairs

    text = "spark streams batch join hash filter scan merge sort window " * 3
    rows = [
        (1, text),
        (2, text),
        (3, "unrelated completely separate vocabulary nothing matches qqq zzz vvv www yyy xxx"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = winnowing_dup_pairs(df, min_shared=3, max_postings=20).collect()
    pairs = {(r.doc_a, r.doc_b): (r.n_shared, r.overlap) for r in out}
    assert set(pairs) == {(1, 2)}
    assert pairs[(1, 2)][1] == 1.0


def test_winnowing_short_doc_single_window(spark):
    """A doc with fewer than w hashes degenerates to one global-min
    fingerprint; a doc shorter than k normalized chars is absent."""
    from flink_anomaly_spark.operators.text import winnow_fingerprints

    rows = [(1, "abcdefghi"), (2, "tiny")]  # 9 clean chars -> 2 grams; 4 < k
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = winnow_fingerprints(df).collect()
    assert {r.doc_id for r in out} == {1}
    assert len(out) == 1  # 2 grams < w=4 -> exactly one selected min


def test_bm25_formula_known_values(spark):
    """BM25 against a hand-computed score on a 3-doc corpus."""
    import math

    from flink_anomaly_spark.operators.text import bm25_topk

    rows = [
        (1, "cat dog cat"),        # tf(cat)=2, dl=3
        (2, "cat fish"),           # tf(cat)=1, dl=2
        (3, "fish fish bird owl"), # no query terms, dl=4
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in bm25_topk(df, ["cat"], k1=1.2, b=0.75, top_n=10).collect()}
    assert set(out) == {1, 2}  # doc 3 has no query term
    N, df_cat, avgdl = 3, 2, 3.0
    idf = math.log(1 + (N - df_cat + 0.5) / (df_cat + 0.5))
    def tfc(tf, dl):
        return tf * 2.2 / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
    assert out[1].score == round(idf * tfc(2, 3), 6)
    assert out[2].score == round(idf * tfc(1, 2), 6)
    assert out[1].rank == 1 and out[2].rank == 2
    assert out[1].doc_len == 3


def test_bm25_rank_deterministic_on_ties(spark):
    """Equal-score docs rank by doc_id ascending (the oracle's
    tie-break), so the top-k cut is engine-stable."""
    from flink_anomaly_spark.operators.text import bm25_topk

    rows = [(i, "cat dog") for i in range(5)]  # identical docs
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = bm25_topk(df, ["cat"], top_n=3).collect()
    assert [r.doc_id for r in out] == [0, 1, 2]
    assert len({r.score for r in out}) == 1


def test_bpe_learn_merges_hand_computed(spark):
    """BPE merges on a corpus small enough to verify by hand.

    Corpus: 'abab abab cd' -> vocab {abab: 2, cd: 1}.
    Step 1 pairs (weighted): (a,b)x2 per word x2 = 4, (b,a)x1x2 = 2,
    (c,d)=1 -> merge (a,b) -> abab becomes ab|ab.
    Step 2 pairs: (ab,ab)=2, (c,d)=1 -> merge (ab,ab) -> abab whole.
    Step 3 pairs: only (c,d)=1 -> merge (c,d).
    Totals: abab=1 symbol x2 + cd=1 symbol x1 = 3.
    """
    from flink_anomaly_spark.operators.text import bpe_learn_merges

    df = spark.createDataFrame([(1, "abab abab cd")], ["doc_id", "text"])
    out = [tuple(r) for r in bpe_learn_merges(df, n_merges=3).collect()]
    assert out == [
        (1, "a", "b", 4),
        (2, "ab", "ab", 2),
        (3, "c", "d", 1),
        (4, "<TOTAL>", "<SYMBOLS>", 3),
    ]


def test_bpe_merge_tie_break_lexicographic(spark):
    """Equal-count pairs resolve to the lexicographically smallest
    (lhs, rhs) — the engine-portable determinism contract."""
    from flink_anomaly_spark.operators.text import bpe_learn_merges

    # 'zy' and 'ba' each occur once: pairs (z,y)=1, (b,a)=1 -> (b,a) wins
    df = spark.createDataFrame([(1, "zy ba")], ["doc_id", "text"])
    out = [tuple(r) for r in bpe_learn_merges(df, n_merges=1).collect()]
    assert out[0] == (1, "b", "a", 1)


@pytest.mark.parametrize(
    "texts, symbols", [([], 0), (["a b c"], 3)], ids=["empty", "one_char_words"]
)
def test_bpe_no_symbol_pair_stops_and_releases(spark, texts, symbols):
    """A corpus with no adjacent symbol pair (empty, or one-character
    words only) learns no merge: the trainer stops instead of indexing
    an empty argmax, reports only the <TOTAL> row, and leaves nothing
    cached — also when the caller fails after training."""
    from flink_anomaly_spark.operators.text import (
        bpe_fertility_by_lang,
        bpe_learn_merges,
        bpe_learn_merges_batched,
    )
    from flink_anomaly_spark.resources import release_cached

    def cache_empty():
        return spark._jsparkSession.sharedState().cacheManager().isEmpty()

    release_cached()
    spark.catalog.clearCache()
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    out = [tuple(r) for r in bpe_learn_merges(df, n_merges=3).collect()]
    assert out == [(1, "<TOTAL>", "<SYMBOLS>", symbols)]
    assert cache_empty()
    batched = [tuple(r) for r in bpe_learn_merges_batched(df, n_merges=3).collect()]
    assert batched == [(1, 1, "<TOTAL>", "<SYMBOLS>", symbols)]
    assert cache_empty()
    # the trainer's persisted vocab is released on an error exit too
    with pytest.raises(AnalysisException):
        bpe_fertility_by_lang(df, lang_col="no_such_column", n_merges=3)
    assert release_cached() == 1  # only the error exit's vocab was still cached
    assert cache_empty()


def test_bpe_fertility_hand_computed(spark):
    """Fertility under the learned merges on the hand-computed corpus:
    'abab abab cd' with 3 merges -> abab = 1 piece, cd... learned merges
    (a,b), (ab,ab), (c,d) -> both words fully merged: every occurrence
    is 1 subword -> fertility 1.0 over 3 word occurrences."""
    from flink_anomaly_spark.operators.text import bpe_fertility_by_lang

    df = spark.createDataFrame([(1, "abab abab cd", "en")], ["doc_id", "text", "lang"])
    out = bpe_fertility_by_lang(df, n_merges=3).collect()
    assert len(out) == 1
    r = out[0]
    assert (r.lang, r.total_words, r.total_subwords, r.fertility) == ("en", 3, 3, 1.0)


def test_pq_lloyd_codebook_beats_sample(spark):
    """VERDICT r5 #4: one Lloyd step per sub-codebook must (a) reduce
    total quantization MSE vs the deterministic-sample codebook — the
    actual Lloyd guarantee on the training set — and (b) not lose
    average recall@10 against exact L2 over a 20-query panel (single-
    query recall is too noisy to order the two codebooks). Deterministic
    data + deterministic trainer, so the assertions are stable."""
    import numpy as np

    from flink_anomaly_spark.operators.similarity import train_pq_codebook
    from flink_anomaly_spark.tables import load_table

    m, sub, k_sub = 8, 8, 16
    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    rows = emb.collect()
    ids = sorted(r.vec_id for r in rows)
    by_id = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    X = np.stack([by_id[i] for i in ids])
    init = np.stack([by_id[j] for j in range(k_sub)])
    cb_sample = {
        s: {j: init[j, s * sub : (s + 1) * sub] for j in range(k_sub)}
        for s in range(m)
    }
    cb_raw = train_pq_codebook(
        emb, "vec_id", "embedding", list(range(k_sub)), m=m, n_iter=1
    )
    cb_trained = {
        s: {j: np.asarray(cw) for j, cw in cb_raw[s].items()} for s in cb_raw
    }

    def mse(cb):
        tot = 0.0
        for s in range(m):
            sl = X[:, s * sub : (s + 1) * sub]
            cws = np.stack([cw for _, cw in sorted(cb[s].items())])
            tot += ((sl[:, None, :] - cws[None, :, :]) ** 2).sum(-1).min(1).sum()
        return tot / len(X)

    def avg_recall(cb):
        assign = {}
        for s in range(m):
            cws = np.stack([cw for _, cw in sorted(cb[s].items())])
            sl = X[:, s * sub : (s + 1) * sub]
            assign[s] = (
                ((sl[:, None, :] - cws[None, :, :]) ** 2).sum(-1).argmin(1),
                cws,
            )
        recs = []
        for qpos in range(0, len(ids), 25):
            q = X[qpos]
            adc = np.zeros(len(X))
            for s in range(m):
                asgn, cws = assign[s]
                tab = ((q[s * sub : (s + 1) * sub][None, :] - cws) ** 2).sum(-1)
                adc += tab[asgn]
            approx = {ids[t] for t in np.lexsort((ids, adc))[:10]}
            exact = set(
                sorted(ids, key=lambda i: (float(((by_id[i] - q) ** 2).sum()), i))[:10]
            )
            recs.append(len(approx & exact) / 10)
        return float(np.mean(recs))

    assert mse(cb_trained) < mse(cb_sample), "Lloyd step must reduce MSE"
    assert avg_recall(cb_trained) >= avg_recall(cb_sample)


def test_bpe_trainer_job_count_and_cap(spark):
    """Pins the BPE trainer's cost contract (VERDICT r5 #5, documented
    in docs/DEPLOY.md 'BPE trainer cost model'): exactly ONE Spark
    action per merge step over the persisted vocab (plus the caller's
    terminal action) — a regression to corpus re-scans or per-step
    extra actions shows up as extra jobs. Also: n_merges beyond
    BPE_MAX_MERGES must be refused with the pointer to the batched
    trainer."""
    import pytest as _pytest

    from flink_anomaly_spark.operators.text import (
        BPE_MAX_MERGES,
        _bpe_train,
        bpe_learn_merges,
    )

    rows = [("low lower lowest newest newer new",), ("wide wider widest low",)]
    df = spark.createDataFrame(rows, "text string")
    n_merges = 3
    # count driver ACTIONS (collect calls), not Spark jobs — AQE splits
    # one action into several jobs (one per materialized shuffle stage),
    # so job counts are a config-dependent proxy; the cost contract is
    # "one top-1 collect per merge step, vocab build riding inside the
    # first one". Patch the CONCRETE DataFrame class (Spark 4's
    # classic.DataFrame overrides the abstract base's collect).
    cls = type(df)
    calls = []
    orig_collect = cls.collect
    cls.collect = lambda self: (calls.append(1), orig_collect(self))[1]
    try:
        vocab, state, merges = _bpe_train(df, "text", n_merges)
    finally:
        cls.collect = orig_collect
    vocab.unpersist()
    assert len(merges) == n_merges
    assert len(calls) == n_merges, (
        f"expected {n_merges} driver actions (one per merge step), "
        f"got {len(calls)}"
    )
    with _pytest.raises(ValueError, match="batched"):
        bpe_learn_merges(df, "text", n_merges=BPE_MAX_MERGES + 1)


def test_ivf_pq_topk_invariants(spark):
    """IVF-PQ: results come only from the query's probed cells, ranks
    are dense by (adc_micro, id), and the probed-cell pruning actually
    excludes some corpus vectors (the point of the inverted file)."""
    from flink_anomaly_spark.operators.similarity import (
        collect_centroids,
        ivf_pq_topk,
    )
    from flink_anomaly_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    out = ivf_pq_topk(
        emb,
        id_col="vec_id",
        vec_col="embedding",
        query_id=42,
        centroid_ids=[7 * c for c in range(8)],
        codebook_ids=list(range(16)),
        m=8,
        n_probe=2,
        top_n=10,
    ).collect()
    assert len(out) == 10
    cells = {r.cell for r in out}
    assert len(cells) <= 2, "results must come from <= n_probe cells"
    ordered = sorted(out, key=lambda r: (r.adc_micro, r.vec_id))
    assert [r.rank for r in ordered] == list(range(1, 11))
    # pq_code_key decodes to 8 codes in [0, 16)
    for r in out:
        k = r.pq_code_key
        for _ in range(8):
            assert 0 <= k % 16 < 16
            k //= 16
        assert k == 0


def test_ivf_pq_topk_param_guards(spark):
    import pytest

    from flink_anomaly_spark.operators.similarity import ivf_pq_topk
    from flink_anomaly_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    with pytest.raises(ValueError, match="not divisible"):
        ivf_pq_topk(emb, "vec_id", "embedding", 42, [0, 7], list(range(4)), m=7)
    with pytest.raises(ValueError, match="n_probe"):
        ivf_pq_topk(
            emb, "vec_id", "embedding", 42, [0, 7], list(range(4)), m=8, n_probe=3
        )


def test_ivf_pq_rerank_recovers_recall(spark):
    """IVFADC+R: exact re-rank of the ADC shortlist must (a) be a
    subset of the shortlist, (b) rank by exact distance, and (c) reach
    recall-vs-ground-truth >= the raw ADC top-10 — the whole point of
    the refinement stage (Jégou et al. 2011 §VI)."""
    from flink_anomaly_spark.operators.similarity import (
        ivf_pq_rerank_topk,
        ivf_pq_topk,
    )
    from flink_anomaly_spark.tables import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    kwargs = dict(
        id_col="vec_id",
        vec_col="embedding",
        query_id=42,
        centroid_ids=[7 * c for c in range(8)],
        codebook_ids=list(range(16)),
        m=8,
        n_probe=2,
    )
    shortlist = ivf_pq_topk(emb, top_n=50, **kwargs).collect()
    rer = ivf_pq_rerank_topk(emb, k_shortlist=50, top_n=10, **kwargs).collect()
    assert len(rer) == 10
    sl_ids = {r.vec_id for r in shortlist}
    assert all(r.vec_id in sl_ids for r in rer)
    ordered = sorted(rer, key=lambda r: (r.exact_micro, r.vec_id))
    assert [r.rank for r in ordered] == list(range(1, 11))
    # ground truth: exact L2 top-10 over the probed cells' union would
    # need the full scan; instead compare against exact L2 over the
    # whole corpus (the true neighbors) — rerank recall must be >= ADC
    # recall since it orders the same candidate pool exactly
    import math

    rows = emb.collect()
    q = [float(x) for x in next(r.embedding for r in rows if r.vec_id == 42)]

    def l2(v):
        d = 0.0
        for x, y in zip(v, q):
            t = float(x) - y
            d += t * t
        return d

    truth = sorted(
        ((l2([float(x) for x in r.embedding]), r.vec_id) for r in rows),
        key=lambda t: (t[0], t[1]),
    )[:10]
    truth_ids = {vid for _, vid in truth}
    adc10 = {r.vec_id for r in shortlist[:10] if r.rank <= 10}
    adc_recall = len(truth_ids & adc10) / 10
    rer_recall = len(truth_ids & {r.vec_id for r in rer}) / 10
    assert rer_recall >= adc_recall


def test_bpe_batched_trainer_sublinear_actions_and_disjoint_selection(spark):
    """The batched trainer (VERDICT r6 #7) must spend ~n_merges/batch_k
    driver actions: one top-oversample collect per PASS plus the final
    <TOTAL> aggregate — sub-linear in n_merges — and within a pass the
    accepted pairs must be mutually symbol-disjoint (incl. each
    accepted pair's concatenation), which is what makes their reported
    counts exact at pass start."""
    from flink_anomaly_spark.operators.text import bpe_learn_merges_batched

    rows = [("low lower lowest newest newer new",), ("wide wider widest low",)]
    df = spark.createDataFrame(rows, "text string")
    cls = type(df)
    calls = []
    orig_collect = cls.collect
    cls.collect = lambda self: (calls.append(1), orig_collect(self))[1]
    try:
        out = bpe_learn_merges_batched(df, "text", n_merges=4, batch_k=2).collect()
    finally:
        cls.collect = orig_collect
    # 2 passes + 1 total + the caller's terminal collect = 4 actions
    # (the sequential trainer spends 4 merges + 1 total + terminal = 6)
    assert len(calls) == 4, f"expected 4 driver actions, got {len(calls)}"
    merges = [r for r in out if r.lhs != "<TOTAL>"]
    assert [r.step for r in merges] == [1, 2, 3, 4]
    assert [r["pass"] for r in merges] == [1, 1, 2, 2]
    by_pass = {}
    for r in merges:
        by_pass.setdefault(r["pass"], []).append(r)
    for prs in by_pass.values():
        used = set()
        for r in prs:
            assert r.lhs not in used and r.rhs not in used, (
                "same-pass pairs must be symbol-disjoint"
            )
            used |= {r.lhs, r.rhs, r.lhs + r.rhs}
    # counts within a pass are non-increasing (greedy by frequency)
    for prs in by_pass.values():
        ns = [r.n for r in prs]
        assert ns == sorted(ns, reverse=True)


def test_unigram_lm_vocab_matches_python_reference(spark):
    """Full-trainer equivalence on a synthetic corpus: seed selection,
    greedy longest-match segmentation, (usage, piece) pruning, and the
    final usage report all match an independent pure-Python replay."""
    from collections import Counter

    from flink_anomaly_spark.operators.text import (
        UNIGRAM_MAX_PIECE,
        unigram_lm_vocab,
    )

    texts = [
        "the cat sat on the mat",
        "the cats sat on the mats",
        "a banana and a bandana",
        "ban the bandana banana",
        "mat cat bat the the the",
    ] * 3
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {
        r.piece: (r.piece_len, r.usage)
        for r in unigram_lm_vocab(
            df, "text", seed_m=12, prune_p=3, iters=2
        ).collect()
    }

    # ---- independent reference ----
    words = Counter(w for t in texts for w in t.split() if w)
    subs: Counter = Counter()
    for w, c in words.items():
        for L in range(2, UNIGRAM_MAX_PIECE + 1):
            for i in range(len(w) - L + 1):
                subs[w[i : i + L]] += c
    seed = [p for p, _ in sorted(subs.items(), key=lambda kv: (-kv[1], kv[0]))[:12]]
    chars = {ch for w in words for ch in w}
    vocab = sorted(chars | set(seed))

    def seg(word, vs):
        out, pos = [], 0
        while pos < len(word):
            step = None
            for l in range(min(UNIGRAM_MAX_PIECE, len(word) - pos), 0, -1):
                if word[pos : pos + l] in vs:
                    step = word[pos : pos + l]
                    break
            if step is None:
                step = word[pos]
            out.append(step)
            pos += len(step)
        return out

    def usage_of(vs):
        u: Counter = Counter()
        for w, c in words.items():
            for p in seg(w, frozenset(vs)):
                u[p] += c
        return u

    for _ in range(2):
        u = usage_of(vocab)
        multi = [p for p in vocab if len(p) >= 2]
        victims = set(sorted(multi, key=lambda p: (u.get(p, 0), p))[:3])
        vocab = [p for p in vocab if p not in victims]
    final = usage_of(vocab)
    want = {p: (len(p), final.get(p, 0)) for p in vocab}
    assert got == want
    assert any(l >= 2 for l, _ in got.values())  # multi-char pieces survive
