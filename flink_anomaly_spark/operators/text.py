"""Text-analysis operators for training-data pipelines.

Language-ID, quality scoring, token counting, fingerprinting — all
expressed with built-in string/array functions (JVM codegen, zero UDFs)
so they hold up in a 100 TB document sweep and are exactly reproducible
in the DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from flink_anomaly_spark.partitioning import spread
from flink_anomaly_spark.resources import persist

#: tiny deterministic stopword list used by the quality score
STOPWORDS = ["the", "a", "and", "of", "to", "in", "is", "it"]

#: marker words per language for the keyword language heuristic.
#: (The driver's synthetic documents carry a ground-truth ``lang`` column;
#: the heuristic exists as the operator surface for real corpora.)
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "nicht"],
    "es": ["el", "de", "que"],
    "fr": ["le", "et", "les"],
    "zh": ["de", "shi", "bu"],
}

#: characteristic character trigrams per language (public linguistic
#: knowledge: frequent trigrams of each language's orthography /
#: pinyin romanization) — the canonical char-n-gram langid profile.
LANG_TRIGRAM_PROFILES: dict[str, list[str]] = {
    "en": ["the", "and", "ing", "ion", "ent", "her", "for", "tha", "nth", "int"],
    "de": ["der", "ein", "sch", "ich", "nde", "die", "che", "den", "und", "ung"],
    "es": ["que", "ion", "con", "ent", "ado", "los", "del", "par", "cio", "nte"],
    "fr": ["les", "ent", "ion", "des", "que", "ait", "our", "ans", "eur", "tre"],
    "zh": ["zhi", "shi", "ang", "eng", "ian", "ong", "uan", "hao", "xia", "ing"],
}

# lang_guess_ngram's instr-probe rewrite is only equivalent to the
# set-intersection definition if no profile repeats a trigram
assert all(len(set(p)) == len(p) for p in LANG_TRIGRAM_PROFILES.values())


def tokens(col: Column) -> Column:
    """Whitespace tokens, empties removed."""
    return F.filter(F.split(col, r"\s+"), lambda t: t != "")


def token_count(col: Column) -> Column:
    """Whitespace token count (built-in size/split)."""
    return F.size(tokens(col))


#: BPE-ish piece pattern: ≤4-letter chunks, ≤4-digit runs, single
#: punctuation marks. Greedy in both Java regex and RE2 → identical
#: counts in Spark and the DuckDB oracle (no lookarounds: RE2 lacks them).
BPE_ISH_PATTERN = r"[a-zA-Z]{1,4}|[0-9]{1,4}|[^a-zA-Z0-9\s]"


def bpe_ish_token_count(col: Column) -> Column:
    """BPE-ish subword count: a deterministic approximation of byte-pair
    tokenizer granularity (≈ 4 chars/piece) via regexp_extract_all.
    """
    return F.size(F.regexp_extract_all(col, F.lit(BPE_ISH_PATTERN), 0))


def quality_score(col: Column) -> Column:
    """Heuristic document quality in [0,1]: combines length band,
    mean-word-length band, and stopword presence. Deterministic,
    SQL-portable arithmetic only.
    """
    toks = tokens(col)
    n_tok = F.size(toks)
    n_chars = F.length(col)
    mean_wordlen = n_chars.cast("double") / F.greatest(n_tok, F.lit(1))
    stop_hits = F.size(F.array_intersect(toks, F.array(*[F.lit(s) for s in STOPWORDS])))
    len_band = F.when((n_tok >= 10) & (n_tok <= 1000), 1.0).otherwise(0.3)
    word_band = F.when((mean_wordlen >= 3.0) & (mean_wordlen <= 10.0), 1.0).otherwise(0.5)
    stop_band = F.when(stop_hits >= 1, 1.0).otherwise(0.6)
    return F.round(len_band * 0.4 + word_band * 0.3 + stop_band * 0.3, 4)


def lang_guess(col: Column) -> Column:
    """Keyword-marker language guess: the language whose marker words hit
    the token set most; 'und' (undetermined) on zero hits. Ties resolve
    by language-code order (deterministic).
    """
    toks = F.array_distinct(tokens(F.lower(col)))
    # struct ordering is lexicographic: (hits, -i) → max hits, then the
    # EARLIEST language in sorted-code order wins ties.
    scored = F.array(
        *[
            F.struct(
                F.size(
                    F.array_intersect(toks, F.array(*[F.lit(m) for m in marks]))
                ).alias("hits"),
                F.lit(-i).alias("neg_idx"),
                F.lit(code).alias("code"),
            )
            for i, (code, marks) in enumerate(sorted(LANG_MARKERS.items()))
        ]
    )
    best = F.array_max(scored)
    return F.when(best["hits"] > 0, best["code"]).otherwise(F.lit("und"))


def lang_guess_ngram(col: Column) -> Column:
    """Char-trigram language ID: the language whose trigram profile
    overlaps the document's trigram set most (ties → language-code
    order; 'und' on zero overlap). The canonical n-gram approach —
    stronger than marker words on real orthography because it needs no
    exact word hits.

    ``|distinct_trigrams(text) ∩ profile|`` is exactly "how many profile
    trigrams occur in the text", so it compiles to 10 ``instr`` probes
    per language instead of materializing a length-n trigram array per
    row — ~10× cheaper, still pure codegen, bit-identical result
    (profiles are duplicate-free)."""
    lowered = F.lower(col)
    scored = F.array(
        *[
            F.struct(
                sum(
                    ((F.instr(lowered, g) > 0).cast("int") for g in profile),
                    F.lit(0),
                ).alias("hits"),
                F.lit(-i).alias("neg_idx"),
                F.lit(code).alias("code"),
            )
            for i, (code, profile) in enumerate(sorted(LANG_TRIGRAM_PROFILES.items()))
        ]
    )
    best = F.array_max(scored)
    return F.when(best["hits"] > 0, best["code"]).otherwise(F.lit("und"))


#: fingerprint modulus — small enough that acc*31 + h32 < 2^63 always
#: (DuckDB errors on int64 overflow; Spark would wrap silently).
FP_MOD = 1_000_000_007


def rolling_fingerprint(col: Column) -> Column:
    """Order-sensitive document fingerprint: polynomial rolling hash over
    whitespace tokens of md5-derived 32-bit token hashes,
    ``h = (h*31 + md5_int32(tok)) mod 1e9+7``, via F.aggregate —
    no UDF, exactly reproducible in DuckDB's list_reduce.
    """
    from flink_anomaly_spark.operators.dedup import md5_int32

    toks = tokens(col)
    return F.aggregate(
        toks,
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * 31 + md5_int32(t)) % F.lit(FP_MOD),
    )


#: RE2-and-Java-compatible masking patterns (no lookarounds/backrefs)
EMAIL_PATTERN = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
LONG_DIGITS_PATTERN = r"[0-9]{6,}"


def clean_text(col: Column) -> Column:
    """Normalization pass for training corpora: mask emails and long
    digit runs (PII-ish), lowercase, strip non-alphanumerics to spaces,
    collapse whitespace, trim. Pure built-in regexp/string functions —
    patterns chosen to behave identically under Java regex and RE2.
    """
    masked = F.regexp_replace(col, EMAIL_PATTERN, "<EMAIL>")
    masked = F.regexp_replace(masked, LONG_DIGITS_PATTERN, "<NUM>")
    lowered = F.lower(masked)
    stripped = F.regexp_replace(lowered, r"[^a-z0-9<> ]+", " ")
    collapsed = F.regexp_replace(stripped, r"  +", " ")
    return F.trim(collapsed)


def tf_idf_top_terms(
    df: DataFrame,
    id_col: str,
    text_col: str,
    top_n: int = 3,
    round_to: int = 6,
) -> DataFrame:
    """TF-IDF scoring with top-N terms per document.

    Plan: explode tokens (narrow) → (doc, term) counts (one shuffle) →
    document frequencies (map-side-combined agg over distinct doc-terms)
    → idf = ln(N/df) joined back (df table is |vocab|-sized, broadcast)
    → per-doc top-N by (tfidf desc, term asc). Log is rounded so libm
    ulp differences between engines can't break the oracle hash.

    N (corpus size) rides as a 1-row broadcast aggregate inside the
    same plan — the bm25_topk corpus-stats pattern — not a separate
    eager ``df.count()`` job (VERDICT r5 #6).
    """
    from pyspark.sql import Window

    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(F.col(text_col))).alias("term")
    )
    corpus = df.agg(F.count("*").alias("__n_docs"))
    term_counts = toks.groupBy("id", "term").agg(F.count("*").alias("tf"))
    doc_freq = term_counts.groupBy("term").agg(F.count("*").alias("df"))
    idf = (
        doc_freq.crossJoin(F.broadcast(corpus))
        .withColumn("idf", F.log(F.col("__n_docs").cast("double") / F.col("df")))
        .drop("__n_docs")
    )
    scored = term_counts.join(F.broadcast(idf), "term").withColumn(
        "tfidf", F.round(F.col("tf") * F.col("idf"), round_to)
    )
    w = Window.partitionBy("id").orderBy(F.col("tfidf").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_n)
        .select(F.col("id").alias(id_col), "term", "tf", "df", "tfidf", "rank")
    )


def text_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-pass per-document text profile: token counts, quality,
    language guess, fingerprint. Narrow (no shuffle): scales linearly.
    """
    c = F.col(text_col)
    df = spread(df.select(id_col, text_col))
    return df.select(
        F.col(id_col),
        token_count(c).alias("n_tokens"),
        bpe_ish_token_count(c).alias("n_subwords"),
        F.length(c).alias("n_chars_computed"),
        quality_score(c).alias("quality"),
        lang_guess(c).alias("lang_guess"),
        rolling_fingerprint(c).alias("fingerprint"),
    )


#: the "required word" list from the Gopher quality rules (Rae et al.
#: 2021, "Scaling Language Models: ... Gopher", appendix A1.1) — a doc
#: must contain at least 2 of these to pass the stopword rule.
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_quality_flags(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Gopher-style rule-based quality filter (Rae et al. 2021, A1.1):
    per-document rule metrics, one 0/1 flag per rule, and the combined
    ``keep`` decision. The standard pre-training corpus filter pass.

    Rules: word count in [50, 100k]; mean word length in [3, 10];
    symbol-to-word ratio ('#'/'...') ≤ 0.1; ≥80% of words contain an
    alphabetic char; ≥2 of the required stopwords present.

    Entirely built-in Catalyst expressions — narrow plan, zero shuffle,
    scales linearly; flags are INTs so the DuckDB oracle hash is
    representation-stable.
    """
    c = F.col(text_col)
    toks = tokens(c)
    n_words = F.size(toks)
    n1 = F.greatest(n_words, F.lit(1))
    mean_wl = F.aggregate(
        F.transform(toks, F.length), F.lit(0), lambda a, x: a + x
    ).cast("double") / n1
    n_hash = F.length(c) - F.length(F.replace(c, F.lit("#"), F.lit("")))
    n_ellipsis = (F.length(c) - F.length(F.replace(c, F.lit("..."), F.lit("")))) / F.lit(3)
    symbol_ratio = (n_hash + n_ellipsis).cast("double") / n1
    alpha_frac = F.size(F.filter(toks, lambda t: t.rlike("[a-zA-Z]"))).cast("double") / n1
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(toks, F.lower)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    flags = {
        "pass_word_count": (n_words >= 50) & (n_words <= 100_000),
        "pass_mean_word_len": (mean_wl >= 3.0) & (mean_wl <= 10.0),
        "pass_symbol_ratio": symbol_ratio <= 0.1,
        "pass_alpha_words": alpha_frac >= 0.8,
        "pass_stopwords": stop_hits >= 2,
    }
    keep = None
    for f in flags.values():
        keep = f if keep is None else (keep & f)
    return spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        n_words.alias("n_words"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(symbol_ratio, 4).alias("symbol_ratio"),
        F.round(alpha_frac, 4).alias("alpha_frac"),
        stop_hits.alias("stop_hits"),
        *[v.cast("int").alias(k) for k, v in flags.items()],
        keep.cast("int").alias("keep"),
    )


#: Fixed public weights for the logistic quality scorer — the shape of
#: a FineWeb-Edu / DCLM-style model-based quality filter with the
#: learned classifier replaced by a transparent fixed linear model
#: (the Spark-side PLUMBING — feature extraction, scoring, thresholding
#: — is identical either way; a learned model would only change these
#: constants). Feature transforms are chosen for exact cross-engine
#: reproducibility: sqrt is IEEE-correctly-rounded everywhere (unlike
#: ln), and the squashing is the algebraic fast sigmoid
#: z/(1+|z|) — zero libm in the whole scoring path.
QUALITY_LOGIT = {
    "bias": -3.5,
    "w_sqrt_n_tok": 0.25,
    "w_mean_wl": 0.35,
    "w_stop_frac": 4.0,
}


def quality_logistic_score(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Model-based quality score: a fixed-weight linear model over
    per-document features (sqrt token count, mean word length,
    stopword-token fraction) squashed to (0, 1) by the fast sigmoid
    ``0.5 + 0.5·z/(1+|z|)`` — monotone in z like the logistic, but
    pure IEEE arithmetic, so the score is bit-identical across engines
    with NO rounding-boundary risk (ln/exp are not correctly-rounded
    in general; sqrt is). ``keep`` = score ≥ 0.5 ⇔ z ≥ 0.

    Entirely built-in Catalyst expressions — narrow plan, zero
    shuffle, scales linearly like gopher_quality_flags; at 100 TB this
    is a map over the scan with the model constants folded into
    codegen.
    """
    c = F.col(text_col)
    toks = tokens(c)
    n_words = F.size(toks)
    n1 = F.greatest(n_words, F.lit(1))
    mean_wl = F.coalesce(
        F.aggregate(toks, F.lit(0), lambda a, t: a + F.length(t)), F.lit(0)
    ).cast("double") / n1
    stoplist = F.array(*[F.lit(s) for s in GOPHER_STOPWORDS])
    stop_frac = F.size(
        F.filter(toks, lambda t: F.array_contains(stoplist, F.lower(t)))
    ).cast("double") / n1
    w = QUALITY_LOGIT
    z = (
        F.lit(w["bias"])
        + F.lit(w["w_sqrt_n_tok"]) * F.sqrt(n_words.cast("double"))
        + F.lit(w["w_mean_wl"]) * mean_wl
        + F.lit(w["w_stop_frac"]) * stop_frac
    )
    score = F.lit(0.5) + F.lit(0.5) * z / (F.lit(1.0) + F.abs(z))
    return spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        n_words.cast("bigint").alias("n_tok"),
        F.round(mean_wl, 4).alias("mean_word_len"),
        F.round(stop_frac, 4).alias("stop_frac"),
        F.round(score, 4).alias("score"),
        (z >= 0).cast("int").alias("keep"),
    )


def doc_repetition_profile(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Intra-document repetition profile (the Gopher repetition filters):
    fraction of tokens taken by the most frequent token, duplicate-token
    fraction, and duplicate word-2-gram fraction.

    Plan: the 2-gram fractions are NARROW (array ops per row); the
    top-token stats explode tokens and aggregate twice — first on
    (doc, token) with map-side partial aggregation, then per doc — so
    the only wide data is (doc_id, token) pairs, never document bodies.
    The two branches join on the doc id (left join keeps empty docs).
    """
    from flink_anomaly_spark.operators.dedup import shingles

    c = F.col(text_col)
    bi = shingles(c, 2)
    narrow = spread(df.select(id_col, text_col)).select(
        F.col(id_col),
        F.size(bi).alias("n_2grams"),
        F.size(F.array_distinct(bi)).alias("n_2grams_distinct"),
    )
    tok_counts = (
        df.select(F.col(id_col).alias("__id"), F.explode(tokens(c)).alias("tk"))
        .groupBy("__id", "tk")
        .agg(F.count("*").alias("cnt"))
        .groupBy("__id")
        .agg(
            F.max("cnt").alias("top_cnt"),
            F.sum("cnt").alias("n_tok"),
            F.count("*").alias("n_tok_distinct"),
        )
    )
    joined = narrow.join(tok_counts, narrow[id_col] == tok_counts["__id"], "left")
    n_tok1 = F.greatest(F.coalesce(F.col("n_tok"), F.lit(0)), F.lit(1))
    return joined.select(
        F.col(id_col),
        F.coalesce(F.col("n_tok"), F.lit(0)).alias("n_tokens"),
        F.round(F.coalesce(F.col("top_cnt"), F.lit(0)) / n_tok1, 4).alias("top_token_frac"),
        F.round(
            F.lit(1.0) - F.coalesce(F.col("n_tok_distinct"), F.lit(0)) / n_tok1, 4
        ).alias("dup_token_frac"),
        F.round(
            F.lit(1.0) - F.col("n_2grams_distinct") / F.greatest(F.col("n_2grams"), F.lit(1)),
            4,
        ).alias("dup_2gram_frac"),
    )


def ngram_containment(
    eval_df: DataFrame,
    train_df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 8,
) -> DataFrame:
    """Benchmark decontamination: for each eval document, the fraction
    of its distinct word n-grams that occur ANYWHERE in the training
    corpus — the standard n-gram-overlap contamination check run before
    evaluating models on held-out sets.

    Plan: the train side collapses to a DISTINCT n-gram set (narrow
    explode → one distinct shuffle, carrying only the gram string); the
    eval grams LEFT-join it on the gram and aggregate per document. At
    100 TB the distinct-gram table is the big artifact; the same plan
    serves with a bucketed/bloom representation of it, and no text ever
    crosses the join — only gram strings.

    Output: (id_col, n_grams, n_contaminated, containment).
    """
    from flink_anomaly_spark.operators.dedup import shingles

    train_grams = (
        spread(train_df.select(F.col(text_col).alias("__t")))
        .select(F.explode(F.array_distinct(shingles(F.col("__t"), n))).alias("g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    ev = spread(
        eval_df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))
    ).select("__id", F.explode(F.array_distinct(shingles(F.col("__t"), n))).alias("g"))
    return (
        ev.join(train_grams, "g", "left")
        .groupBy("__id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))).alias("n_contaminated"),
        )
        .withColumn(
            "containment", F.round(F.col("n_contaminated") / F.col("n_grams"), 4)
        )
        .select(
            F.col("__id").alias(id_col), "n_grams", "n_contaminated", "containment"
        )
    )


def pack_sequences(
    df: DataFrame, id_col: str, text_col: str, seq_len: int = 2048
) -> DataFrame:
    """Concat-and-chunk sequence packing (the GPT-style pretraining
    step): documents are laid out in ``id_col`` order into one token
    stream, which is cut into fixed ``seq_len`` windows; each doc gets
    the (bin, offset) where it starts.

    The exclusive prefix sum of token counts is computed DISTRIBUTED,
    not with a single-partition global window: range-repartition on the
    id → per-partition running sum → 1-row-per-partition totals rolled
    into partition offsets (tiny, broadcast back). The result is exact
    integer arithmetic, so it is identical whatever the partition
    boundaries — a plain global window ORDER BY is the oracle form.
    """
    from pyspark.sql import Window

    d = (
        df.select(F.col(id_col), token_count(F.col(text_col)).alias("n_tok"))
        .repartitionByRange(32, id_col)
        .withColumn("__pid", F.spark_partition_id())
    )
    w_local = (
        Window.partitionBy("__pid")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    d = d.withColumn("__local_cum", F.sum("n_tok").over(w_local))
    w_parts = (
        Window.orderBy("__pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        d.groupBy("__pid")
        .agg(F.sum("n_tok").alias("__part_total"))
        .withColumn("__part_offset", F.coalesce(F.sum("__part_total").over(w_parts), F.lit(0)))
        .select("__pid", "__part_offset")
    )
    cum = F.col("__local_cum") + F.col("__part_offset")
    start = cum - F.col("n_tok")
    return (
        d.join(F.broadcast(offsets), "__pid")
        .select(
            F.col(id_col),
            F.col("n_tok"),
            F.floor(start / seq_len).cast("bigint").alias("bin_id"),
            (start % seq_len).cast("bigint").alias("bin_offset"),
        )
    )


def char_entropy_profile(
    df: DataFrame, id_col: str, text_col: str, vectorized: bool = True
) -> DataFrame:
    """Per-document character-level Shannon entropy + distinct-char
    count.

    vectorized=True (default): zero-shuffle mapInPandas — each text is
    decoded to UTF-32 code points and histogrammed with numpy, so the
    whole computation is narrow and Arrow-batched (no 1-row-per-char
    explode, no exchange). vectorized=False is the pure-Catalyst
    reference (explode chars → two aggregations); the two paths are
    asserted equal in tests and against the DuckDB oracle.
    """
    if not vectorized:
        from pyspark.sql import Window

        c = F.col(text_col)
        # sequence(1, 0) yields a DESCENDING [1, 0] — guard empty text
        # so it emits no char rows (matches the oracle's range() and the
        # vectorized path)
        idx = F.when(F.length(c) > 0, F.sequence(F.lit(1), F.length(c))).otherwise(
            F.array().cast("array<int>")
        )
        chars = df.select(
            id_col,
            F.explode(F.transform(idx, lambda i: c.substr(i, F.lit(1)))).alias("ch"),
        )
        g = chars.groupBy(id_col, "ch").agg(F.count("*").alias("cnt"))
        n = F.sum("cnt").over(Window.partitionBy(id_col))
        p = F.col("cnt") * 1.0 / F.col("n")
        return (
            g.withColumn("n", n)
            .groupBy(id_col)
            .agg(
                F.count("*").alias("n_distinct_chars"),
                F.round(-F.sum(p * F.log2(p)), 6).alias("char_entropy"),
            )
        )

    def op(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            ids, nd, ent = [], [], []
            for i, t in zip(pdf[id_col], pdf[text_col]):
                cps = np.frombuffer((t or "").encode("utf-32-le"), dtype=np.uint32)
                if cps.size == 0:
                    continue  # mirror the explode path: empty text emits no row
                _, counts = np.unique(cps, return_counts=True)
                p = counts / cps.size
                ids.append(i)
                nd.append(len(counts))
                ent.append(float(-(p * np.log2(p)).sum()))
            yield pd.DataFrame({id_col: ids, "n_distinct_chars": nd, "char_entropy": ent})

    raw = spread(df.select(id_col, text_col)).mapInPandas(
        op, f"{id_col} long, n_distinct_chars long, char_entropy double"
    )
    # round JVM-side: Python round() is banker's rounding; F.round is
    # half-away-from-zero, matching both the Catalyst path and DuckDB
    return raw.select(
        id_col, "n_distinct_chars", F.round("char_entropy", 6).alias("char_entropy")
    )


def boilerplate_segment_removal(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_words: int = 2,
    min_df_frac: float = 0.02,
) -> DataFrame:
    """CCNet-style boilerplate removal at segment granularity
    (Wenzek et al. 2019 §4.1 dedups paragraphs by hash; with no
    newline structure in the corpus, fixed ``seg_words``-word
    non-overlapping chunks stand in for paragraphs).

    Chunks each document, computes every segment's document frequency,
    drops segments whose DF >= ``min_df_frac`` of the corpus, and
    reassembles survivors in order. Returns
    (id_col, n_segments, n_removed, cleaned_text).

    Plan: narrow chunking -> 1 shuffle for the segment-DF count ->
    broadcast anti-join against the (small-by-construction) blacklist
    -> 1 shuffle to reassemble per doc. At 100 TB the blacklist stays
    broadcastable because only segments above the DF cutoff enter it;
    drop the broadcast hint if a pathological corpus inflates it.
    """
    docs = df.select(F.col(id_col).alias("_id"), F.col(text_col).alias("_text"))
    base = docs.select(
        "_id", F.split("_text", " ").alias("ws")
    ).withColumn(
        "n_segments",
        F.greatest(
            F.lit(1), F.ceil(F.size("ws") / F.lit(float(seg_words)))
        ).cast("bigint"),
    )
    seg_arr = F.transform(
        F.sequence(F.lit(0), F.col("n_segments") - 1),
        lambda i: F.array_join(F.slice("ws", i * seg_words + 1, seg_words), " "),
    )
    segs = base.select("_id", F.posexplode(seg_arr).alias("seg_idx", "seg"))
    min_df = F.broadcast(
        docs.agg(
            F.ceil(F.lit(min_df_frac) * F.count("*")).cast("bigint").alias("min_df")
        )
    )
    blacklist = (
        segs.groupBy("seg")
        .agg(F.countDistinct("_id").alias("df"))
        .crossJoin(min_df)
        .filter(F.col("df") >= F.col("min_df"))
        .select("seg")
    )
    kept = segs.join(F.broadcast(blacklist), "seg", "left_anti")
    re = kept.groupBy("_id").agg(
        F.count("*").alias("n_kept"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias("cleaned"),
    )
    return (
        base.select("_id", "n_segments")
        .join(re, "_id", "left")
        .select(
            F.col("_id").alias(id_col),
            "n_segments",
            (F.col("n_segments") - F.coalesce(F.col("n_kept"), F.lit(0))).alias(
                "n_removed"
            ),
            F.coalesce(F.col("cleaned"), F.lit("")).alias("cleaned_text"),
        )
    )


def unigram_logprob_quality(
    df: DataFrame, id_col: str, text_col: str, n_buckets: int = 3
) -> DataFrame:
    """CCNet-style language-model quality scoring, unigram flavor: each
    document's mean negative log2-probability under the corpus's own
    unigram distribution, then a head/middle/tail split by corpus
    terciles (Wenzek et al. 2020 bucket documents by KenLM perplexity;
    the unigram model is the engine-native approximation — no external
    LM artifact, fully oracle-checkable).

    Plan shape at 100 TB:
    - one (doc_id, token) pair shuffle with map-side partial counts
      (the same floor as doc_repetition_profile);
    - the unigram table derives from those pairs (vocabulary-sized
      after partial agg) and joins back on the token;
    - the corpus-total is a 1-row broadcast;
    - the tercile assignment uses a TWO-PHASE global rank (range
      exchange + per-partition offsets, the global_rank_export /
      sequence_packing pattern) plus the closed-form ntile group
      formula — never a single-partition Window over the corpus, which
      is how a naive ntile(3) funnels 100 TB through one task.

    Bucket determinism: ranks order by (round(score, 6), doc_id) — the
    rounding absorbs cross-engine float-sum association drift and the
    unique id makes the order total, so the bucket is a pure function
    of the data. Residual risk (documented, accepted): a document whose
    float score sits within association drift of a 5e-7 rounding
    boundary could round differently across engines and land one bucket
    off; fixed-point accumulation (the scd2 cents pattern) would remove
    it but log2 has no exact integer representation, so rounding is the
    practical containment.

    The range exchange sizes itself from
    ``spark.sparkContext.defaultParallelism`` (clamped to ≥16) instead
    of a hard-coded 32, so on a 1000-core cluster the global rank uses
    the cluster's width (round-5 ADVICE fix).
    """
    from pyspark.sql import Window

    g = persist(
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")))
        .select("id", F.explode(tokens(F.col("__t"))).alias("tk"))
        .groupBy("id", "tk")
        .agg(F.count("*").alias("c"))
    )
    vocab = g.groupBy("tk").agg(F.sum("c").alias("cnt"))
    tot = vocab.agg(F.sum("cnt").alias("total"))
    d = (
        g.join(vocab, "tk")
        .groupBy("id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tok"),
            F.sum(F.col("c") * F.log2("cnt")).alias("__slog"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "id",
            "n_tok",
            (F.log2("total") - F.col("__slog") / F.col("n_tok").cast("double")).alias("__s"),
        )
    )
    scored = d.select(
        "id",
        "n_tok",
        F.round("__s", 4).alias("mean_neglog2p"),
        F.round("__s", 6).alias("__s6"),
    )
    # two-phase global rank over (score, id): range exchange, local
    # row_number, tiny per-partition offsets broadcast back — exact
    # whatever the range boundaries are, because the order is total
    n_parts = max(16, df.sparkSession.sparkContext.defaultParallelism)
    r = scored.repartitionByRange(n_parts, "__s6", "id").withColumn(
        "__pid", F.spark_partition_id()
    )
    w_local = Window.partitionBy("__pid").orderBy("__s6", "id")
    r = r.withColumn("__lr", F.row_number().over(w_local))
    w_parts = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    offs = (
        r.groupBy("__pid")
        .agg(F.count("*").alias("__n"))
        .withColumn("__off", F.coalesce(F.sum("__n").over(w_parts), F.lit(0)))
        .select("__pid", "__off")
    )
    n_total = scored.agg(F.count("*").alias("__N"))
    rank = F.col("__lr") + F.col("__off")
    # closed-form SQL-standard ntile(k): the first (N % k) groups carry
    # one extra row — identical to the Window-function ntile the oracle
    # uses, without its single-partition exchange
    k = F.lit(n_buckets)
    q = (F.col("__N") / k).cast("bigint")
    rem = F.col("__N") % k
    big_span = rem * (q + 1)
    bucket = F.when(rank <= big_span, F.ceil(rank / (q + 1))).otherwise(
        rem + F.ceil((rank - big_span) / q)
    )
    label = (
        F.when(bucket == 1, "head").when(bucket == 2, "middle").otherwise("tail")
        if n_buckets == 3
        else F.concat(F.lit("b"), bucket.cast("string"))
    )
    return (
        r.join(F.broadcast(offs), "__pid")
        .crossJoin(F.broadcast(n_total))
        .select(
            F.col("id").alias(id_col),
            "n_tok",
            "mean_neglog2p",
            label.alias("ccnet_bucket"),
        )
    )


#: stupid-backoff discount (Brants et al. 2007 use 0.4 throughout)
BIGRAM_BACKOFF_ALPHA = 0.4

#: bigrams below this corpus count are pruned from the model — the
#: count-cutoff pruning Brants et al. apply to their n-gram tables.
#: Without pruning, a model trained on the scored corpus itself would
#: contain every bigram it scores and the backoff path would be dead.
BIGRAM_MIN_COUNT = 3


def bigram_logprob_quality(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_count: int = BIGRAM_MIN_COUNT,
    alpha: float = BIGRAM_BACKOFF_ALPHA,
) -> DataFrame:
    """Bigram stupid-backoff LM quality scoring (Brants et al., EMNLP
    2007, "Large Language Models in Machine Translation") — the order-2
    step up from :func:`unigram_logprob_quality` for perplexity-style
    corpus filtering: per document, the mean negative log2 score of
    each token under a count-pruned bigram model with unigram backoff,
    trained on the scored corpus itself.

    Per position i (1-based) with tokens w:
    - i = 1: unigram, ``log2(c(w1) / N)`` (sentence-start backoff);
    - i > 1, bigram kept (corpus count >= ``min_count``):
      ``log2(cb(w_{i-1}, w_i) / c(w_{i-1}))``;
    - i > 1, bigram pruned: ``log2(alpha) + log2(c(w_i) / N)``.

    Stupid backoff is a SCORE, not a probability (it doesn't normalize
    — Brants et al. §3) which is exactly why it replays exactly in SQL:
    no discount-mass bookkeeping, just counts and one constant.

    Output: ``(id_col, n_tok, n_backoff, mean_neglog2p)`` — n_backoff
    (exact BIGINT: positions that fell to the unigram path) anchors the
    hash; the float mean rounds to 4 decimals, the same cross-engine
    sum-association containment unigram_logprob_quality documents.
    Empty/whitespace-only documents are excluded (no scorable token),
    matching the unigram scorer.

    Plan shape at 100 TB:
    - the pairs frame is built ARRAY-SIDE per document (slice/zip via
      ``transform(sequence(...))``) — no per-doc Window, no lag()
      shuffle;
    - bigram counts: one (w1, w2) shuffle with map-side partials,
      pruned by ``min_count`` BEFORE the join back (the pruned table is
      orders of magnitude smaller than the raw pair stream);
    - the score join on (w1, w2) is hint-free: both sides are
      corpus-derived, AQE broadcasts the pruned model while it fits
      and shuffles past the threshold (the r12 no-forced-broadcast
      rule);
    - unigram counts and the 1-row total attach hint-free for the same
      reason (vocab-class frames under DEPLOY.md's policy — AQE
      broadcasts them in practice);
    - the final per-doc agg reuses the doc_id grouping with map-side
      partials. Floats appear only in reported values, never in join
      or selection keys (the libm/selection-key rule).
    """
    # base feeds three consumers (unigram counts, the pairs frame, the
    # first-token scorer) and pairs two (model build, scoring join):
    # Spark dedupes identical exchange subtrees, not raw
    # scan+tokenize+explode subtrees, so without persistence one action
    # re-reads and re-tokenizes the corpus ~4x (the
    # unigram_logprob_quality resources.persist convention)
    base = persist(
        spread(
            df.select(F.col(id_col).alias("id"), tokens(F.col(text_col)).alias("toks"))
        ).filter(F.size("toks") >= 1)
    )
    toks_pos = base.select("id", F.explode("toks").alias("w"))
    uni = toks_pos.groupBy("w").agg(F.count("*").cast("bigint").alias("c"))
    tot = uni.agg(F.sum("c").cast("bigint").alias("n_corpus"))
    pairs = persist(
        base.filter(F.size("toks") >= 2)
        .select(
            "id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(toks) - 1), "
                    "i -> struct(toks[i - 1] AS w1, toks[i] AS w2))"
                )
            ).alias("p"),
        )
        .select("id", "p.w1", "p.w2")
    )
    bi = (
        pairs.groupBy("w1", "w2")
        .agg(F.count("*").cast("bigint").alias("cb"))
        .filter(F.col("cb") >= min_count)
    )
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    lp = F.when(
        F.col("cb").isNotNull(), F.log2("cb") - F.log2("c1")
    ).otherwise(F.log2(F.lit(alpha)) + F.log2("c2") - F.log2("n_corpus"))
    pagg = (
        pairs.join(bi, ["w1", "w2"], "left")
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(tot)
        .groupBy("id")
        .agg(
            F.sum(lp).alias("__slp"),
            F.sum(F.col("cb").isNull().cast("bigint")).alias("n_backoff"),
            F.count("*").cast("bigint").alias("__np"),
        )
    )
    first = (
        base.select("id", F.element_at("toks", 1).alias("w"))
        .join(uni, "w")
        .crossJoin(tot)
        .select("id", (F.log2("c") - F.log2("n_corpus")).alias("__flp"))
    )
    n_tok = (F.coalesce(F.col("__np"), F.lit(0)) + 1).cast("bigint")
    return (
        first.join(pagg, "id", "left")
        .select(
            F.col("id").alias(id_col),
            n_tok.alias("n_tok"),
            F.coalesce(F.col("n_backoff"), F.lit(0)).cast("bigint").alias("n_backoff"),
            F.round(
                -(F.col("__flp") + F.coalesce(F.col("__slp"), F.lit(0.0)))
                / n_tok.cast("double"),
                4,
            ).alias("mean_neglog2p"),
        )
    )


#: (name, pattern, replacement) — patterns restricted to the regex
#: subset where Java (Spark) and RE2 (DuckDB) agree exactly: character
#: classes, bounded repetition, \b word boundaries; no lookaround, no
#: backreferences. Counts are taken on the ORIGINAL text; redaction
#: applies the replacements in THIS list order on both engines.
PII_PATTERNS: list[tuple[str, str, str]] = [
    ("email", EMAIL_PATTERN, "<EMAIL>"),
    ("phone", r"\b\d{3}[- ]\d{4}\b", "<PHONE>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
]


def redact_pii(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """PII detection + redaction — the scrub pass every training-data
    pipeline runs before text leaves the quarantine zone (C4/Dolma/
    FineWeb all ship regex-family PII removal). Emits per-document
    match counts per category (from the original text) and the
    redacted text with each match replaced by a typed placeholder.

    Entirely JVM-side regexp expressions (regexp_extract_all /
    regexp_replace inside whole-stage codegen) — zero shuffle, zero
    Python; at 100 TB this is a pure map over the scan. The pattern
    set is deliberately in the Java∩RE2 regex subset so a SQL oracle
    running RE2 reproduces matches exactly."""
    counts = [
        F.size(
            F.regexp_extract_all(F.col(text_col), F.lit(pat), F.lit(0))
        ).cast("bigint").alias(f"n_{name}")
        for name, pat, _ in PII_PATTERNS
    ]
    redacted = F.col(text_col)
    for _, pat, rep in PII_PATTERNS:
        redacted = F.regexp_replace(redacted, pat, rep)
    return df.select(F.col(id_col), *counts, redacted.alias("redacted_text"))


def dsir_importance_weights(
    df: DataFrame, id_col: str, text_col: str, is_target
) -> DataFrame:
    """DSIR-style importance weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"), unigram flavor:
    each document is scored by the mean per-token log-likelihood RATIO
    between a TARGET distribution (the docs matching ``is_target`` —
    in DSIR, a high-quality seed corpus) and the SOURCE distribution
    (the whole corpus), with add-one smoothing over the source vocab.
    Resampling keeps documents with high ratios — "looks like the
    target" — which is the importance-sampling correction that made
    DSIR competitive with trained quality classifiers. The hashed
    n-gram features of the paper reduce to exact unigram counts at
    this vocabulary size; the estimator is otherwise the same.

    Plan shape (the unigram_logprob_quality floor): one (doc, token)
    pair shuffle with map-side partial counts; the two vocab tables
    derive from it (vocabulary-sized); the scoring join is per-token;
    corpus totals are 1-row broadcasts. log2 on identical integer-
    derived doubles is cross-engine exact (the proven log2 path)."""
    base = spread(
        df.select(
            F.col(id_col).alias("id"),
            is_target.cast("boolean").alias("__t"),
            F.col(text_col).alias("__x"),
        )
    )
    g = persist(
        base.select("id", "__t", F.explode(tokens(F.col("__x"))).alias("tk"))
        .groupBy("id", "__t", "tk")
        .agg(F.count("*").alias("c"))
    )
    vocab_s = g.groupBy("tk").agg(F.sum("c").alias("cs"))
    vocab_t = g.filter(F.col("__t")).groupBy("tk").agg(F.sum("c").alias("ct"))
    vocab = vocab_s.join(vocab_t, "tk", "left").select(
        "tk", "cs", F.coalesce("ct", F.lit(0)).alias("ct")
    )
    tots = vocab.agg(
        F.sum("cs").alias("Ts"),
        F.sum("ct").alias("Tt"),
        F.count("*").alias("V"),
    )
    w = (
        vocab.crossJoin(F.broadcast(tots))
        .select(
            "tk",
            (
                F.log2((F.col("ct") + 1) / (F.col("Tt") + F.col("V")))
                - F.log2((F.col("cs") + 1) / (F.col("Ts") + F.col("V")))
            ).alias("w"),
        )
    )
    return (
        g.join(w, "tk")
        .groupBy("id")
        .agg(
            F.sum("c").cast("bigint").alias("n_tok"),
            (F.sum(F.col("c") * F.col("w")) / F.sum("c")).alias("__s"),
        )
        .select(
            F.col("id").alias(id_col),
            "n_tok",
            # + 0.0 canonicalizes IEEE -0.0 (a tiny negative ratio
            # rounds to -0.0 in Spark, 0.0 in DuckDB — hash mismatch
            # with identical values)
            (F.round("__s", 4) + F.lit(0.0)).alias("dsir_logratio"),
        )
    )


# ---------------------------------------------------------------------------
# Winnowing document fingerprints (rolling-hash k-grams)
# ---------------------------------------------------------------------------


def winnow_fingerprints(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): normalize → char ``k``-grams →
    polynomial rolling hash → per-window-of-``w`` minimum → distinct
    selected hashes.

    Returns ``(id_col, n_grams, fp)`` with one row per distinct selected
    fingerprint per document. Documents whose normalized text is shorter
    than ``k`` produce no grams and are absent.

    Winnowing's guarantee: any shared substring of length ``k + w - 1``
    between two documents yields at least one shared fingerprint, while
    only ~``2/(w+1)`` of all gram hashes are kept — the standard
    sub-linear fingerprint density for plagiarism/near-dup detection.

    Scale shape: everything up to the explode is per-row array math
    (the Horner hash chain is generated SQL — no Python UDF); output
    carries only ``(id, int64)`` pairs, never text. Higher-order array
    functions evaluate OUTSIDE whole-stage codegen, so the per-row CPU
    cost is real — ``spread`` guarantees the gram stage has at least
    ``defaultParallelism`` input splits (a single small parquet file
    would otherwise serialize ~1M interpreted lambda evals into one
    task; at 100 TB the scan is already split and spread is a no-op).
    The hash expression is shared verbatim with the DuckDB oracle via
    :func:`flink_anomaly_spark.plans.fragments.gram_hash_horner`.
    """
    from flink_anomaly_spark.plans.fragments import gram_hash_horner

    horner = gram_hash_horner("__clean", "i", k)
    base = (
        spread(df.select(
            F.col(id_col),
            F.regexp_replace(F.lower(F.col(text_col)), "[^a-z0-9]", "").alias("__clean"),
        ))
        .filter(F.length("__clean") >= k)
        .withColumn(
            "__hs",
            F.expr(f"transform(sequence(1, length(__clean) - {k - 1}), i -> {horner})"),
        )
        .withColumn("n_grams", F.size("__hs").cast("bigint"))
    )
    # one window min per window start; <w hashes degenerate to one window
    sel = F.expr(
        f"CASE WHEN size(__hs) >= {w} "
        f"THEN transform(sequence(1, size(__hs) - {w - 1}), s -> array_min(slice(__hs, s, {w}))) "
        f"ELSE array(array_min(__hs)) END"
    )
    return base.select(
        id_col, "n_grams", F.explode(F.array_distinct(sel)).alias("fp")
    )


def winnowing_dup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
    max_postings: int = 20,
    min_shared: int = 8,
) -> DataFrame:
    """Near-duplicate candidate pairs via shared winnowing fingerprints.

    Join shape is a POSTINGS-LIST join (bucketed on the fingerprint
    value), never all-pairs: docs meet only inside a fingerprint's
    posting list. Fingerprints with more than ``max_postings`` docs are
    dropped first — the boilerplate/stop-fingerprint skew guard, the
    same pattern as the MinHash LSH ``max_bucket_size`` cap (a gram
    every document contains identifies nothing and would otherwise
    quadratically dominate the join).

    Output: ``(doc_a, doc_b, n_shared, overlap)`` where ``overlap`` =
    shared / min(|fp_a|, |fp_b|), for pairs sharing ≥ ``min_shared``
    fingerprints.
    """
    from pyspark.sql import Window

    # the fingerprint set feeds THREE consumers (per-doc sizes, the
    # posting-count window, and both sides of the postings self-join);
    # without a persist each branch would re-scan and re-hash the full
    # corpus — 4 scans of 100 TB instead of one. The persisted frame
    # carries only (id, n_grams, int64) rows, released between queries
    # via resources.release_cached (the bench/gate already call it).
    fps = persist(winnow_fingerprints(df, id_col=id_col, text_col=text_col, k=k, w=w))
    sizes = fps.groupBy(id_col).agg(F.count("*").alias("n_fp"))
    posting = F.count("*").over(Window.partitionBy("fp"))
    kept = fps.withColumn("__post", posting).filter(F.col("__post") <= max_postings)
    a = kept.select(F.col(id_col).alias("doc_a"), "fp")
    b = kept.select(F.col(id_col).alias("doc_b"), "fp")
    pairs = (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("bigint").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )
    sa = sizes.select(F.col(id_col).alias("doc_a"), F.col("n_fp").alias("__na"))
    sb = sizes.select(F.col(id_col).alias("doc_b"), F.col("n_fp").alias("__nb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared",
            F.round(F.col("n_shared") / F.least("__na", "__nb"), 4).alias("overlap"),
        )
    )


# ---------------------------------------------------------------------------
# BM25 ranked retrieval
# ---------------------------------------------------------------------------


def bm25_topk(
    df: DataFrame,
    query_terms: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    top_n: int = 10,
) -> DataFrame:
    """Okapi BM25 ranked retrieval for a fixed bag of query terms
    (Robertson/Walker — the standard public formula):

        idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
        tfc(d,t)= tf*(k1+1) / (tf + k1*(1 - b + b*dl/avgdl))
        score   = Σ_t idf(t)·tfc(d,t)

    Scale shape: documents are cut to (doc, term) counts with the term
    filter applied BEFORE any shuffle (only query-term postings leave
    the scan stage); ``df``/``N``/``avgdl`` are a per-term aggregate and
    a 1-row corpus aggregate, broadcast back; the final top-``top_n``
    ranks only documents containing ≥1 query term. Scores are rounded
    to 6 so libm ulp differences can't break the cross-engine hash.
    """
    q = F.array(*[F.lit(t) for t in query_terms])
    toks = tokens(F.col(text_col))
    base = df.select(
        F.col(id_col).alias("id"),
        F.size(toks).alias("dl"),
        F.filter(toks, lambda t: F.array_contains(q, t)).alias("qtoks"),
    )
    corpus = base.agg(
        F.count("*").alias("N"), F.avg("dl").alias("avgdl")
    )
    tf = (
        base.select("id", "dl", F.explode("qtoks").alias("term"))
        .groupBy("id", "dl", "term")
        .agg(F.count("*").alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .crossJoin(F.broadcast(corpus))
        .withColumn(
            "__idf",
            F.log(F.lit(1.0) + (F.col("N") - F.col("df") + 0.5) / (F.col("df") + 0.5)),
        )
        .withColumn(
            "__tfc",
            F.col("tf")
            * (k1 + 1)
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
        .groupBy("id", "dl")
        .agg(F.round(F.sum(F.col("__idf") * F.col("__tfc")), 6).alias("score"))
    )
    from pyspark.sql import Window

    # TakeOrdered first (per-partition top-n + driver merge of
    # n_partitions·top_n rows), THEN row_number over the surviving
    # top_n rows — the pq_adc_topk pattern. A bare global
    # row_number window over every matching document would funnel the
    # full match set through one task (Spark 3.5+'s WindowGroupLimit
    # rewrite happens to cap it, but the plan shouldn't depend on an
    # optimizer rewrite for its scalability).
    top = scored.orderBy(F.col("score").desc(), F.col("id").asc()).limit(top_n)
    rn = F.row_number().over(Window.orderBy(F.col("score").desc(), F.col("id").asc()))
    return (
        top.withColumn("rank", rn)
        .select(
            F.col("id").alias(id_col),
            F.col("dl").cast("bigint").alias("doc_len"),
            "score",
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


# ---------------------------------------------------------------------------
# BPE merge training (fixed-iteration, oracle-exact)
# ---------------------------------------------------------------------------


def _bpe_merge_fold_sql(l: str, r: str) -> str:
    """Spark-SQL fold merging adjacent (l, r) segment pairs of a
    '|'-delimited symbol string, leftmost-greedy non-overlapping —
    exactly the BPE apply step. Boundary test is substr equality (not
    LIKE) so symbols containing LIKE metacharacters can't mis-match.
    The DuckDB oracle uses the same CASE body inside list_reduce.
    """
    le, re_ = l.replace("'", "''"), r.replace("'", "''")
    ll = len(l)
    return f"""aggregate(
      slice(__segs, 2, size(__segs) - 1),
      element_at(__segs, 1),
      (acc, y) -> CASE
        WHEN acc = '{le}' AND y = '{re_}' THEN '{le}{re_}'
        WHEN length(acc) > {ll} AND substr(acc, length(acc) - {ll}, 1) = '|'
             AND substr(acc, length(acc) - {ll} + 1, {ll}) = '{le}' AND y = '{re_}'
          THEN concat(substr(acc, 1, length(acc) - {ll}), '{le}', '{re_}')
        ELSE concat(acc, '|', y) END)"""


def bpe_learn_merges(df: DataFrame, text_col: str = "text", n_merges: int = 3):
    """Byte-pair-encoding merge training (Sennrich et al. 2016 / the
    GPT-2 tokenizer recipe), unrolled to a FIXED ``n_merges`` steps so
    the result is deterministic and oracle-checkable — the same
    fixed-iteration pattern as kmeans_lloyd_outliers and
    pagerank_neardup.

    Per step: count adjacent symbol pairs over the corpus vocabulary
    (weighted by word frequency), pick the most frequent pair
    (ties → lexicographic (lhs, rhs) — engine-portable), and merge it
    everywhere, leftmost-greedy within each word.

    Returns ``(step, lhs, rhs, n)``: one row per learned merge with its
    selection-time pair count, plus a final ``(len(merges)+1, '<TOTAL>',
    '<SYMBOLS>', Σ cnt·|symbols|)`` summary row proving the merged
    state. Training stops early when no symbol pair is left (an empty
    corpus, or single-character words only).

    Scale shape: the corpus collapses to its VOCABULARY (distinct word,
    count) before any per-character work — pair counting and the merge
    fold run over vocab rows, not corpus rows. The vocab is PERSISTED
    for the duration of training (this operator is eager — it collects
    each step's argmax — so it can unpersist before returning): without
    it, every step's action would re-scan and re-aggregate the full
    corpus, n_merges+1 scans of 100 TB instead of one. Each step's
    argmax is a top-1 TakeOrdered (no full sort) followed by a bounded
    1-row collect inlined as literals — the accepted index-build
    pattern. Only 3 steps, so no lineage truncation is needed.
    """
    vocab, state, merges = _bpe_train(df, text_col, n_merges)
    total = state.agg(
        F.sum(F.col("cnt") * F.size(F.split("sym", r"\|"))).cast("bigint")
    ).collect()[0][0]
    vocab.unpersist()
    rows = merges + [(len(merges) + 1, "<TOTAL>", "<SYMBOLS>", int(total or 0))]
    out = df.sparkSession.createDataFrame(rows, ["step", "lhs", "rhs", "n"])
    return out.select(
        F.col("step").cast("bigint"), "lhs", "rhs", F.col("n").cast("bigint")
    )


#: Hard cap on sequential merge steps. COST MODEL (docs/DEPLOY.md
#: "BPE trainer"): this trainer is ONE Spark action (a top-1
#: TakeOrdered + 1-row collect) PER MERGE STEP over the persisted
#: vocabulary — n_merges+1 actions total, each a vocab-sized
#: (NOT corpus-sized) aggregate. Linear in n_merges with a
#: per-action floor of scheduler latency + a vocab pass; fine for
#: the unrolled oracle-checkable queries (3 steps), unacceptable for
#: a production 32k-merge vocabulary, which needs a batched trainer
#: (merge the top-K non-overlapping pairs per pass — pairs (a,b) and
#: (c,d) can merge in the same sweep when {a,b} ∩ {c,d} = ∅ — cutting
#: driver round-trips by ~K) or the linear-time single-machine
#: algorithms once the vocab fits one node, which at web scale it
#: does: vocab ≪ corpus.
BPE_MAX_MERGES = 64


def _bpe_vocab(df: DataFrame, text_col: str) -> DataFrame:
    """PERSISTED corpus vocabulary for BPE training: (word, count,
    '|'-delimited char symbols). The corpus collapses to its vocabulary
    before any per-character work — every training pass aggregates
    vocab rows, never corpus rows. Callers unpersist after their
    terminal action; ``release_cached`` frees it on any other exit."""
    return persist(
        spread(df.select(F.col(text_col).alias("__t")))
        .select(F.explode(tokens(F.col("__t"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cnt"))
        .withColumn(
            "sym",
            F.expr("array_join(transform(sequence(1, length(w)), i -> substr(w, i, 1)), '|')"),
        )
    )


_BPE_PAIRS_EXPR = (
    "CASE WHEN size(__segs) >= 2 THEN transform(sequence(1, size(__segs) - 1), "
    "i -> struct(element_at(__segs, i) AS lhs, element_at(__segs, i + 1) AS rhs)) "
    "ELSE array() END"
)


def bpe_learn_merges_batched(
    df: DataFrame,
    text_col: str = "text",
    n_merges: int = 4,
    batch_k: int = 2,
    oversample: int = 64,
) -> DataFrame:
    """Batched BPE merge training — the PRODUCTION path the sequential
    trainer's ``BPE_MAX_MERGES`` cap points at (VERDICT r6 #7): per
    PASS, count pairs once, collect the top ``oversample`` candidates,
    and greedily accept up to ``batch_k`` mutually SYMBOL-DISJOINT
    pairs (a candidate is skipped when its lhs or rhs appears among an
    already-accepted pair's lhs / rhs / concatenation). Driver actions
    are therefore ~ceil(n_merges / batch_k) + 1 — SUB-LINEAR in
    n_merges — instead of the sequential trainer's n_merges + 1.

    Why disjointness makes same-pass merges sound: merging (a, b)
    cannot create, destroy, or move an occurrence of (c, d) when
    {c, d} ∩ {a, b, ab} = ∅ — adjacency of symbols not involved in the
    rewrite is invariant — so every accepted pair's reported count is
    exactly its count at pass start. Cross-pass semantics differ from
    sequential BPE by design: pairs CREATED by this pass's merges are
    only visible to the next pass's count, which is the standard
    batched-trainer trade (scaling BPE to a 32k vocabulary needs
    ~batch_k fewer driver round-trips, not more sequential steps).

    Merges are applied sequentially within the pass (fold → re-split →
    fold), exactly as the DuckDB oracle unrolls them, so engine parity
    is by construction rather than by the disjointness argument.

    Output: (step, pass, lhs, rhs, n) per learned merge — ``n`` is the
    pass-start count — plus the ``<TOTAL>``/``<SYMBOLS>`` summary row
    proving the merged end state, as in :func:`bpe_learn_merges`.
    """
    if batch_k < 1:
        raise ValueError(f"batch_k must be >= 1, got {batch_k}")
    if oversample < batch_k:
        raise ValueError(f"oversample ({oversample}) must be >= batch_k ({batch_k})")
    vocab = _bpe_vocab(df, text_col)
    state = vocab
    merges: list[tuple[int, int, str, str, int]] = []
    step = 0
    pass_no = 0
    while step < n_merges:
        pass_no += 1
        seg = state.withColumn("__segs", F.split("sym", r"\|"))
        pc = (
            seg.select("cnt", F.explode(F.expr(_BPE_PAIRS_EXPR)).alias("p"))
            .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("cnt").cast("bigint").alias("n"))
        )
        cands = (
            pc.orderBy(F.col("n").desc(), "lhs", "rhs").limit(oversample).collect()
        )
        used: set[str] = set()
        chosen = []
        want = min(batch_k, n_merges - step)
        for r in cands:
            if len(chosen) >= want:
                break
            if r.lhs in used or r.rhs in used:
                continue
            chosen.append(r)
            used |= {r.lhs, r.rhs, r.lhs + r.rhs}
        if not chosen:
            break  # vocabulary fully merged — nothing left to learn
        for r in chosen:
            step += 1
            merges.append((step, pass_no, r.lhs, r.rhs, int(r.n)))
            seg = seg.withColumn(
                "sym", F.expr(_bpe_merge_fold_sql(r.lhs, r.rhs))
            ).withColumn("__segs", F.split("sym", r"\|"))
        state = seg.select("w", "cnt", "sym")
    total = state.agg(
        F.sum(F.col("cnt") * F.size(F.split("sym", r"\|"))).cast("bigint")
    ).collect()[0][0]
    vocab.unpersist()
    rows = merges + [(step + 1, pass_no, "<TOTAL>", "<SYMBOLS>", int(total or 0))]
    out = df.sparkSession.createDataFrame(rows, ["step", "pass", "lhs", "rhs", "n"])
    return out.select(
        F.col("step").cast("bigint"),
        F.col("pass").cast("bigint"),
        "lhs",
        "rhs",
        F.col("n").cast("bigint"),
    )


def _bpe_train(df: DataFrame, text_col: str, n_merges: int):
    """Shared BPE trainer: returns (persisted vocab frame, final
    (w, cnt, sym) state, [(step, lhs, rhs, n)] merges). Stops early
    when no symbol pair is left, so ``merges`` may be shorter than
    ``n_merges``. Callers unpersist the returned vocab after their
    terminal action; ``release_cached`` frees it on any other exit.

    Cost: exactly ONE action per merge step (see BPE_MAX_MERGES);
    ``test_bpe_trainer_job_count`` pins that contract."""
    if n_merges > BPE_MAX_MERGES:
        raise ValueError(
            f"n_merges={n_merges} > {BPE_MAX_MERGES}: this fixed-iteration "
            "trainer runs one driver action per merge step (see "
            "docs/DEPLOY.md 'BPE trainer' for the cost model); a "
            "production-size vocabulary needs a batched multi-merge-per-"
            "pass trainer (bpe_learn_merges_batched), not more "
            "sequential steps"
        )
    vocab = _bpe_vocab(df, text_col)
    pairs_expr = F.expr(_BPE_PAIRS_EXPR)
    state = vocab
    merges: list[tuple[int, str, str, int]] = []
    for step in range(1, n_merges + 1):
        seg = state.withColumn("__segs", F.split("sym", r"\|"))
        pc = (
            seg.select("cnt", F.explode(pairs_expr).alias("p"))
            .groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("cnt").cast("bigint").alias("n"))
        )
        top = pc.orderBy(F.col("n").desc(), "lhs", "rhs").limit(1).collect()
        if not top:
            break  # every word is a single symbol — nothing left to learn
        best = top[0]
        merges.append((step, best.lhs, best.rhs, int(best.n)))
        state = seg.withColumn(
            "sym", F.expr(_bpe_merge_fold_sql(best.lhs, best.rhs))
        ).select("w", "cnt", "sym")
    return vocab, state, merges


def bpe_fertility_by_lang(
    df: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    n_merges: int = 3,
) -> DataFrame:
    """Train the fixed-step BPE (same trainer as
    :func:`bpe_learn_merges`) and APPLY it: per language, total word
    occurrences, total subword pieces under the learned merges, and
    fertility (subwords per word) — the trained-tokenizer counterpart
    of the regex-approximation ``tokenizer_fertility_by_lang``.

    Scale shape: the per-word subword count is vocab-sized and
    BROADCAST into the corpus word stream (corpus rows never shuffle
    for the join); the final aggregate is a |languages|-group
    map-side-combined groupBy.
    """
    vocab, state, _ = _bpe_train(df, text_col, n_merges)
    wc = state.select(
        "w", F.size(F.split("sym", r"\|")).cast("bigint").alias("ns")
    )
    occ = spread(df.select(F.col(lang_col).alias("lang"), F.col(text_col).alias("__t"))).select(
        "lang", F.explode(tokens(F.col("__t"))).alias("w")
    )
    out = (
        occ.join(F.broadcast(wc), "w")
        .groupBy("lang")
        .agg(
            F.count("*").cast("bigint").alias("total_words"),
            F.sum("ns").cast("bigint").alias("total_subwords"),
            F.round(F.sum("ns") / F.count("*"), 4).alias("fertility"),
        )
    )
    # eager: materialize before unpersisting the trainer's vocab (the
    # result is |languages| rows)
    rows = out.collect()
    vocab.unpersist()
    return df.sparkSession.createDataFrame(rows, out.schema)


# ---------------------------------------------------------------------------
# Unigram-LM-style tokenizer vocabulary trainer (iterative prune)
# ---------------------------------------------------------------------------

#: Longest candidate piece (characters). Seed substrings and the greedy
#: matcher share this bound, and the oracle embeds it.
UNIGRAM_MAX_PIECE = 4
#: Multi-character seed-vocabulary size (top by weighted substring
#: count; single characters are always in-vocab on top of these).
UNIGRAM_SEED_M = 48
#: Pieces pruned per EM iteration (lowest usage first).
UNIGRAM_PRUNE_P = 8
#: Fixed number of prune iterations — the oracle unrolls exactly this
#: many (the kmeans_lloyd / batched-BPE fixed-iteration contract).
UNIGRAM_ITERS = 3


def _unigram_seg_usage(words: DataFrame, vocab: list[str]) -> DataFrame:
    """E-step: segment every DISTINCT word with greedy longest-match
    against ``vocab`` (the WordPiece inference rule — deterministic,
    unlike unigram-LM's float-scored Viterbi, so both engines replay it
    exactly) and return per-piece usage weighted by word count.

    The matcher is an Arrow-batched pandas UDF over the vocabulary-
    collapsed words frame — per-word Python string ops against a
    broadcast frozenset (piece count is bounded: ≤ seed_m + |alphabet|
    at any corpus size), never a per-corpus-row loop. Unknown
    characters fall back to single-character pieces, mirroring the
    oracle's coalesce(match, 1-char)."""
    from pyspark.sql.functions import pandas_udf

    vs = frozenset(vocab)
    maxlen = UNIGRAM_MAX_PIECE

    @pandas_udf("array<string>")
    def seg(col: pd.Series) -> pd.Series:
        def one(word: str) -> list[str]:
            out: list[str] = []
            pos, n = 0, len(word)
            while pos < n:
                step = None
                for l in range(min(maxlen, n - pos), 0, -1):
                    cand = word[pos : pos + l]
                    if cand in vs:
                        step = cand
                        break
                if step is None:
                    step = word[pos]
                out.append(step)
                pos += len(step)
            return out

        return col.map(one)

    return (
        words.select("cnt", F.explode(seg(F.col("w"))).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").cast("bigint").alias("usage"))
    )


def unigram_lm_vocab(
    df: DataFrame,
    text_col: str = "text",
    seed_m: int = UNIGRAM_SEED_M,
    prune_p: int = UNIGRAM_PRUNE_P,
    iters: int = UNIGRAM_ITERS,
) -> DataFrame:
    """Unigram-LM-STYLE tokenizer vocabulary trainer by iterative prune
    (the SentencePiece trainer family, Kudo 2018), the second tokenizer
    family next to BPE (text.bpe_learn_merges*): seed a large candidate
    vocabulary, repeatedly segment the corpus and PRUNE the least-used
    pieces, keep what survives.

    Deterministic-replay substitutions (documented, not hidden): the
    E-step scores segmentations by GREEDY LONGEST-MATCH (the WordPiece
    inference rule) instead of Viterbi over float log-probs, and the
    M-step prunes the ``prune_p`` lowest-(usage, piece) pieces instead
    of estimating likelihood loss — both selection keys are pure
    integers/strings, so the DuckDB oracle unrolls the exact same
    ``iters`` iterations (the Lloyd/batched-BPE contract) and hash-
    matches bit-for-bit. Single characters are never pruned (coverage,
    as in SentencePiece's character_coverage=1.0).

    Scale shape: the corpus collapses to its DISTINCT-WORD vocabulary
    before any per-character work (the _bpe_vocab move) — every
    E-step maps that words frame once (Arrow-batched UDF, broadcast
    piece set) and aggregates ≤ |vocab| usage rows; per-iteration
    driver traffic is one ≤(seed_m+|alphabet|)-row collect (the BPE
    candidate-collect class). Job count is O(iters), independent of
    corpus and vocabulary size.

    Output: one row per surviving piece — (piece, piece_len, usage)
    with usage from a final E-step against the pruned vocabulary.
    """
    words = persist(
        spread(df.select(F.col(text_col).alias("__t")))
        .select(F.explode(tokens(F.col("__t"))).alias("w"))
        .groupBy("w")
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    subs = (
        f"flatten(transform(sequence(2, {UNIGRAM_MAX_PIECE}), "
        f"L -> CASE WHEN length(w) >= L THEN "
        f"transform(sequence(1, length(w) - L + 1), i -> substr(w, i, L)) "
        f"ELSE array() END))"
    )
    seed = (
        words.select("cnt", F.explode(F.expr(subs)).alias("piece"))
        .groupBy("piece")
        .agg(F.sum("cnt").cast("bigint").alias("n"))
        .orderBy(F.col("n").desc(), F.col("piece").asc())
        .limit(seed_m)
        .collect()
    )
    chars = (
        words.select(
            F.explode(
                F.expr("transform(sequence(1, length(w)), i -> substr(w, i, 1))")
            ).alias("piece")
        )
        .distinct()
        .collect()
    )
    vocab = sorted({r.piece for r in chars} | {r.piece for r in seed})
    for _ in range(iters):
        usage = {r.piece: r.usage for r in _unigram_seg_usage(words, vocab).collect()}
        multi = [p for p in vocab if len(p) >= 2]
        victims = set(sorted(multi, key=lambda p: (usage.get(p, 0), p))[:prune_p])
        vocab = [p for p in vocab if p not in victims]
    final_usage = _unigram_seg_usage(words, vocab)
    pieces = words.sparkSession.createDataFrame(
        [(p,) for p in vocab], "piece string"
    )
    out = (
        pieces.join(final_usage, "piece", "left")
        .select(
            "piece",
            F.length("piece").cast("bigint").alias("piece_len"),
            F.coalesce(F.col("usage"), F.lit(0)).cast("bigint").alias("usage"),
        )
    )
    rows = out.collect()
    words.unpersist()
    return df.sparkSession.createDataFrame(rows, out.schema)


def unigram_lm_oracle_sql(
    table: str = "documents",
    seed_m: int = UNIGRAM_SEED_M,
    prune_p: int = UNIGRAM_PRUNE_P,
    iters: int = UNIGRAM_ITERS,
) -> str:
    """DuckDB oracle for :func:`unigram_lm_vocab` — the ``iters``
    EM-prune iterations UNROLLED (one greedy-segmentation recursive CTE
    per iteration), sharing every constant with the engine. The
    position/candidate-substring grids are vocabulary-independent, so
    they are built once and every iteration joins against them. Every
    CTE a recursive step reads is ``MATERIALIZED``: DuckDB otherwise
    inlines it and recomputes its whole join on each recursion step."""
    from flink_anomaly_spark.plans.fragments import TOKS

    maxp = UNIGRAM_MAX_PIECE
    head = f"""
    WITH RECURSIVE
    w AS MATERIALIZED (
      SELECT t AS word, CAST(count(*) AS BIGINT) AS cnt
      FROM (SELECT unnest({TOKS}) AS t FROM {table}) GROUP BY t
    ),
    seed AS MATERIALIZED (
      SELECT piece FROM (
        SELECT piece, CAST(sum(cnt) AS BIGINT) AS n FROM (
          SELECT cnt, unnest(flatten(list_transform(range(2, {maxp + 1}),
            L -> list_transform(range(1, length(word) - L + 2),
                                i -> substr(word, i, L))))) AS piece
          FROM w) GROUP BY piece)
      ORDER BY n DESC, piece ASC LIMIT {seed_m}
    ),
    chars AS MATERIALIZED (
      SELECT DISTINCT unnest(list_transform(range(1, length(word) + 1),
                                            i -> substr(word, i, 1))) AS piece
      FROM w
    ),
    v0 AS MATERIALIZED (SELECT piece FROM chars UNION SELECT piece FROM seed),
    cand AS MATERIALIZED (
      SELECT word, pos, L, substr(word, pos + 1, L) AS sub
      FROM (SELECT word, unnest(range(0, length(word))) AS pos FROM w) p,
           (SELECT unnest(range(1, {maxp + 1})) AS L) lens
      WHERE pos + L <= length(word)
    )"""
    blocks = []
    for t in range(iters + 1):
        blocks.append(f""",
    match{t} AS MATERIALIZED (
      SELECT c.word, c.pos, max_by(c.sub, c.L) AS best
      FROM cand c JOIN v{t} v ON c.sub = v.piece
      GROUP BY c.word, c.pos
    ),
    seg{t} AS (
      SELECT word, 0 AS pos FROM w
      UNION ALL
      SELECT s.word, s.pos + coalesce(length(m.best), 1) AS pos
      FROM seg{t} s
      JOIN w ww ON ww.word = s.word
      LEFT JOIN match{t} m ON m.word = s.word AND m.pos = s.pos
      WHERE s.pos < length(ww.word)
    ),
    use{t} AS MATERIALIZED (
      SELECT coalesce(m.best, substr(s.word, s.pos + 1, 1)) AS piece,
             CAST(sum(ww.cnt) AS BIGINT) AS usage
      FROM seg{t} s
      JOIN w ww ON ww.word = s.word
      LEFT JOIN match{t} m ON m.word = s.word AND m.pos = s.pos
      WHERE s.pos < length(ww.word)
      GROUP BY 1
    )""")
        if t < iters:
            blocks.append(f""",
    drop{t} AS MATERIALIZED (
      SELECT piece FROM (
        SELECT v.piece, coalesce(u.usage, 0) AS uu
        FROM v{t} v LEFT JOIN use{t} u USING (piece)
        WHERE length(v.piece) >= 2)
      ORDER BY uu ASC, piece ASC LIMIT {prune_p}
    ),
    v{t + 1} AS MATERIALIZED (SELECT v.piece FROM v{t} v
      WHERE NOT EXISTS (SELECT 1 FROM drop{t} d WHERE d.piece = v.piece))""")
    tail = f"""
    SELECT v.piece, CAST(length(v.piece) AS BIGINT) AS piece_len,
           CAST(coalesce(u.usage, 0) AS BIGINT) AS usage
    FROM v{iters} v LEFT JOIN use{iters} u USING (piece)
    """
    return head + "".join(blocks) + tail


# ---------------------------------------------------------------------------
# Chi-square keyness: terms distinctive of a group (corpus linguistics)
# ---------------------------------------------------------------------------


def chi2_sql(n: str, num: str, ab: str, cd: str, ac: str, bd: str) -> str:
    """Pearson chi-square of a 2x2 contingency table as ONE shared SQL
    string — identical syntax and IEEE evaluation order in Spark SQL
    and DuckDB, so the engine expression and the oracle cannot drift.
    ``num`` must be the exact BIGINT ``a*d - b*c`` (|num| < 2^53 keeps
    the cast lossless); the four marginals are cast to DOUBLE before
    multiplying because their product overflows BIGINT long before the
    inputs do."""
    return (
        f"CAST({n} AS DOUBLE) * CAST({num} AS DOUBLE) * CAST({num} AS DOUBLE)"
        f" / (CAST({ab} AS DOUBLE) * CAST({cd} AS DOUBLE)"
        f" * CAST({ac} AS DOUBLE) * CAST({bd} AS DOUBLE))"
    )


def keyness_chi2_terms(
    df: DataFrame,
    group_col: str,
    text_col: str,
    min_term_total: int = 5,
    top_k: int = 5,
) -> DataFrame:
    """Top-k terms most DISTINCTIVE of each group by chi-square keyness
    (corpus-linguistics keyword extraction; Dunning 1993 uses G2, the
    chi-square variant is its libm-free sibling): for each (group,
    term), the 2x2 table a = term-in-group, b = term-elsewhere,
    c = other-terms-in-group, d = the rest, scored
    N*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)), keeping overrepresented
    terms only (ad > bc).

    Scale shape: one explode over the corpus feeds a (group, term)
    hash agg (map-side combinable) — every later frame is TERM-DOMAIN
    sized, never corpus sized: term totals re-aggregate the counts
    frame, group totals are a broadcast |groups|-row aggregate, and
    the chi-square is a scalar expression over exact BIGINT marginals
    (the selection compares doubles both engines derive from identical
    integers via the SHARED ``chi2_sql`` fragment). Top-k per group
    ranks the domain frame, not the corpus.
    """
    base = df.select(
        F.col(group_col).alias("__g"),
        F.explode(tokens(F.col(text_col))).alias("__t"),
    )
    counts = base.groupBy("__g", "__t").agg(F.count("*").cast("bigint").alias("__a"))
    term_tot = counts.groupBy("__t").agg(F.sum("__a").alias("__tt"))
    grp_tot = counts.groupBy("__g").agg(F.sum("__a").alias("__gt"))
    n_tot = counts.agg(F.sum("__a").alias("__N"))
    scored = (
        counts.join(term_tot, "__t")
        .join(F.broadcast(grp_tot), "__g")
        .join(F.broadcast(n_tot))
        .withColumn("__b", F.col("__tt") - F.col("__a"))
        .withColumn("__c", F.col("__gt") - F.col("__a"))
        .withColumn("__d", F.col("__N") - F.col("__gt") - F.col("__b"))
        .withColumn("__num", F.col("__a") * F.col("__d") - F.col("__b") * F.col("__c"))
        .filter((F.col("__tt") >= min_term_total) & (F.col("__num") > 0))
        .withColumn(
            "__chi2",
            F.expr(
                chi2_sql(
                    "__N", "__num", "__a + __b", "__c + __d", "__a + __c", "__b + __d"
                )
            ),
        )
    )
    from flink_anomaly_spark.operators.relational import top_k_per_group

    ranked = top_k_per_group(
        scored,
        group_cols=["__g"],
        order_by=[F.col("__chi2").desc(), F.col("__t").asc()],
        k=top_k,
        rank_col="rank",
    )
    return ranked.select(
        F.col("__g").alias(group_col),
        F.col("__t").alias("term"),
        F.col("__a").alias("n_in_group"),
        F.col("__b").alias("n_elsewhere"),
        F.round(F.col("__chi2"), 4).alias("chi2"),
        "rank",
    )


# ---------------------------------------------------------------------------
# RAKE keyword extraction (Rose et al. 2010)
# ---------------------------------------------------------------------------


def rake_stopword_regex(stopwords: list[str] | None = None) -> str:
    """Whole-word stopword pattern shared by the Spark expression and
    the DuckDB oracle (Java regex and RE2 agree on ``\\b`` and
    alternation, verified by the gate)."""
    return r"\b(" + "|".join(stopwords or STOPWORDS) + r")\b"


#: Whitespace class for RAKE phrase-word splitting, shared verbatim by
#: the Spark split and the DuckDB oracle. Explicit on purpose: Java's
#: ``\s`` includes vertical tab (\x0B) while RE2's does not, so a bare
#: ``\s+`` segments a document containing \x0B differently engine vs
#: oracle (round-10 ADVICE). The explicit class is identical under
#: both regex dialects.
RAKE_WS_PATTERN = r"[ \t\n\r\f]+"


def rake_keywords(
    df: DataFrame,
    text_col: str,
    top_k: int = 20,
    stopwords: list[str] | None = None,
) -> DataFrame:
    """Corpus-level RAKE keywords (Rapid Automatic Keyword Extraction,
    Rose et al. 2010): split each document into candidate phrases at
    stopword boundaries, score every content word by
    ``degree / freq`` where ``freq`` counts the word's occurrences and
    ``degree`` sums the lengths of the phrases containing it — words
    that live in long multi-word phrases outrank equally-frequent
    words that stand alone. Returns the ``top_k`` words.

    Scale shape: phrase segmentation is ONE narrow regex replace +
    split per row (stopwords become a delimiter — no per-doc window,
    no shuffle until the aggregation); the (word) hash agg is
    map-side combinable and WORD-DOMAIN sized; degree and freq are
    exact BIGINT sums, the score is one deterministic division ranked
    with a (score desc, word asc) TakeOrderedAndProject.

    Simplifications vs Rose et al. (deliberate, identical on both
    engines): stopword matching is case-sensitive and punctuation is
    NOT a phrase boundary — only stopwords delimit phrases. Words are
    split on the explicit shared whitespace class ``RAKE_WS_PATTERN``
    (Java ``\\s`` ⊃ RE2 ``\\s``, so a bare ``\\s+`` would diverge on
    \\x0B).
    """
    phrases = F.split(
        F.regexp_replace(F.col(text_col), rake_stopword_regex(stopwords), "|"),
        r"\|",
    )
    phrase = F.explode(phrases).alias("__phrase")
    words_arr = F.filter(
        F.split(F.trim(F.col("__phrase")), RAKE_WS_PATTERN), lambda t: t != ""
    )
    exploded = (
        df.select(phrase)
        .select(words_arr.alias("__ws"))
        .filter(F.size("__ws") > 0)
        .select(F.size("__ws").alias("__plen"), F.explode("__ws").alias("__w"))
    )
    scored = (
        exploded.groupBy("__w")
        .agg(
            F.count("*").cast("bigint").alias("freq"),
            F.sum("__plen").cast("bigint").alias("degree"),
        )
        .withColumn(
            "__score", F.col("degree").cast("double") / F.col("freq").cast("double")
        )
    )
    return (
        scored.orderBy(F.col("__score").desc(), F.col("__w").asc())
        .limit(top_k)
        .select(
            F.col("__w").alias("word"),
            "freq",
            "degree",
            F.round(F.col("__score"), 4).alias("rake_score"),
        )
    )
