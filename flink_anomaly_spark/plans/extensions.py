"""North-star extension queries: dedup, text analysis, similarity
search, anomaly detection — the LLM-training-data-pipeline surface over
``documents``/``embeddings``/``events``.

Every oracle here replicates the Spark computation EXACTLY (same md5-
derived hashing, same fold order for float sums, same tie-breaks), so
the driver's value-hash comparison is meaningful even for near-dup /
similarity operators that have no canonical SQL form.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from flink_anomaly_spark.operators.anomaly import rolling_zscore_outliers, zscore_outliers
from flink_anomaly_spark.operators.dedup import (
    MERSENNE_P,
    PERM_PARAMS,
    exact_dedup,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    simhash60_pandas,
)
from flink_anomaly_spark.operators.similarity import brute_force_topk
from flink_anomaly_spark.partitioning import spread
from flink_anomaly_spark.operators.text import text_profile
from flink_anomaly_spark.plans.registry import register
from flink_anomaly_spark.resources import persist
from flink_anomaly_spark.tables import load_table

# shared DuckDB fragments (plans/fragments.py) -------------------------------

from flink_anomaly_spark.plans.fragments import MD5_32 as _MD5_32
from flink_anomaly_spark.plans.fragments import MD5_60 as _MD5_60
from flink_anomaly_spark.plans.fragments import TOKS as _TOKS
from flink_anomaly_spark.plans.fragments import shingle_sql as _shingle_sql


# ---------------------------------------------------------------------------
# Exact deduplication
# ---------------------------------------------------------------------------


@register(
    "exact_dedup",
    oracle="""
    SELECT md5(text) AS fingerprint, min(doc_id) AS keep_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
    doc="Exact dedup by content fingerprint: group on 16-byte md5 so the "
    "shuffle never carries document bodies.",
)
def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return exact_dedup(docs, content_col="text", id_col="doc_id").withColumnRenamed(
        "keep_id", "keep_id"
    )


# ---------------------------------------------------------------------------
# Text profile (tokens / quality / language / fingerprint)
# ---------------------------------------------------------------------------


@register(
    "text_profile",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, text, {_TOKS} AS toks FROM documents
    ), s AS (
      SELECT doc_id, text, toks,
             len(toks) AS n_tokens,
             len(regexp_extract_all(text, '[a-zA-Z]{{1,4}}|[0-9]{{1,4}}|[^a-zA-Z0-9\s]'))
               AS n_subwords,
             length(text) AS n_chars_computed,
             CAST(length(text) AS DOUBLE) / greatest(len(toks), 1) AS mean_wordlen,
             len(list_intersect(toks, ['the','a','and','of','to','in','is','it'])) AS stop_hits,
             list_distinct(list_filter(string_split_regex(lower(text), '\s+'), tk -> tk != ''))
               AS ltoks
      FROM t
    ), q AS (
      SELECT doc_id, n_tokens, n_subwords, n_chars_computed,
             round((CASE WHEN n_tokens >= 10 AND n_tokens <= 1000 THEN 1.0 ELSE 0.3 END) * 0.4
                 + (CASE WHEN mean_wordlen >= 3.0 AND mean_wordlen <= 10.0 THEN 1.0 ELSE 0.5 END) * 0.3
                 + (CASE WHEN stop_hits >= 1 THEN 1.0 ELSE 0.6 END) * 0.3, 4) AS quality,
             len(list_intersect(ltoks, ['der','und','nicht'])) AS h_de,
             len(list_intersect(ltoks, ['the','and','of']))    AS h_en,
             len(list_intersect(ltoks, ['el','de','que']))     AS h_es,
             len(list_intersect(ltoks, ['le','et','les']))     AS h_fr,
             len(list_intersect(ltoks, ['de','shi','bu']))     AS h_zh,
             list_reduce(
               list_prepend(CAST(0 AS BIGINT),
                            list_transform(toks, tk -> {_MD5_32.format(x="tk")})),
               (acc, h) -> (acc * 31 + h) % 1000000007) AS fingerprint
      FROM s
    )
    SELECT doc_id, n_tokens, n_subwords, n_chars_computed, quality,
           CASE WHEN greatest(h_de,h_en,h_es,h_fr,h_zh) = 0 THEN 'und'
                WHEN h_de = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'de'
                WHEN h_en = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'en'
                WHEN h_es = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'es'
                WHEN h_fr = greatest(h_de,h_en,h_es,h_fr,h_zh) THEN 'fr'
                ELSE 'zh' END AS lang_guess,
           fingerprint
    FROM q
    """,
    doc="One-pass text profile: whitespace + BPE-ish token counts, "
    "heuristic quality score, marker-word language ID, rolling-hash "
    "fingerprint. Narrow plan (no shuffle), scales linearly.",
)
def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return text_profile(docs, id_col="doc_id", text_col="text")


# ---------------------------------------------------------------------------
# Char-trigram language ID
# ---------------------------------------------------------------------------


def _langid_ngram_oracle() -> str:
    from flink_anomaly_spark.operators.text import LANG_TRIGRAM_PROFILES

    hit_cols = []
    for code, profile in sorted(LANG_TRIGRAM_PROFILES.items()):
        plist = "[" + ",".join(f"'{g}'" for g in profile) + "]"
        hit_cols.append(f"len(list_intersect(grams, {plist})) AS h_{code}")
    best = "greatest(h_de, h_en, h_es, h_fr, h_zh)"
    return f"""
    WITH g AS (
      SELECT doc_id, lang,
             list_distinct(list_transform(
               range(1, greatest(length(lower(text)) - 2, 1) + 1),
               i -> substr(lower(text), i, 3))) AS grams
      FROM documents
    ), s AS (
      SELECT doc_id, lang, {", ".join(hit_cols)} FROM g
    )
    SELECT doc_id, lang,
           CASE WHEN {best} = 0 THEN 'und'
                WHEN h_de = {best} THEN 'de'
                WHEN h_en = {best} THEN 'en'
                WHEN h_es = {best} THEN 'es'
                WHEN h_fr = {best} THEN 'fr'
                ELSE 'zh' END AS lang_ngram
    FROM s
    """


@register(
    "langid_char_ngram",
    oracle=_langid_ngram_oracle(),
    doc="Char-trigram language ID (the canonical n-gram langid): "
    "distinct trigrams of lowercased text vs fixed per-language "
    "profiles, deterministic tie-break — narrow per-row plan.",
)
def q_langid_ngram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.text import lang_guess_ngram

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", "lang", lang_guess_ngram(F.col("text")).alias("lang_ngram"))


# ---------------------------------------------------------------------------
# Text cleaning / PII-ish masking
# ---------------------------------------------------------------------------


@register(
    "clean_text_corpus",
    oracle=r"""
    SELECT doc_id,
           trim(regexp_replace(
             regexp_replace(
               lower(regexp_replace(
                 regexp_replace(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
                 '[0-9]{6,}', '<NUM>', 'g')),
               '[^a-z0-9<> ]+', ' ', 'g'),
             '  +', ' ', 'g')) AS clean,
           length(text) AS n_chars_raw
    FROM documents
    """,
    doc="Corpus normalization: mask emails + long digit runs (PII-ish), "
    "lowercase, strip non-alphanumerics, collapse whitespace — all "
    "built-in regexp functions with Java/RE2-compatible patterns. "
    "(DuckDB regexp_replace needs the 'g' flag; Spark's is global by "
    "default.)",
)
def q_clean_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.text import clean_text

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", clean_text(F.col("text")).alias("clean"), F.length("text").alias("n_chars_raw")
    )


_HB = _MD5_32.format(x="CAST(doc_id AS VARCHAR)") + " % 100"


@register(
    "ngram_decontamination",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, {_TOKS} AS toks, {_HB} AS hb FROM documents
    ),
    trg AS (
      SELECT DISTINCT unnest(list_distinct({_shingle_sql(8)})) AS g
      FROM d WHERE hb < 80
    ),
    ev AS (
      SELECT doc_id, unnest(list_distinct({_shingle_sql(8)})) AS g
      FROM d WHERE hb >= 90
    )
    SELECT ev.doc_id AS doc_id, count(*) AS n_grams,
           CAST(sum(CASE WHEN trg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_contaminated,
           round(CAST(sum(CASE WHEN trg.g IS NOT NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*), 4) AS containment
    FROM ev LEFT JOIN trg ON ev.g = trg.g
    GROUP BY ev.doc_id
    """,
    doc="Benchmark decontamination: per held-out (test-split) document, "
    "the fraction of its distinct 8-gram word shingles found anywhere "
    "in the train split — the standard n-gram-overlap contamination "
    "check. Train side collapses to a distinct-gram set; eval grams "
    "LEFT-join it (only gram strings cross the shuffle, never text). "
    "Splits via the same md5-hash-mod buckets as train_val_test_split.",
)
def q_ngram_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.dedup import md5_int32
    from flink_anomaly_spark.operators.text import ngram_containment

    docs = load_table(spark, sf_dir, "documents")
    hb = md5_int32(F.col("doc_id").cast("string")) % 100
    train = docs.filter(hb < 80)
    test = docs.filter(hb >= 90)
    return ngram_containment(test, train, id_col="doc_id", text_col="text", n=8)


# ---------------------------------------------------------------------------
# TF-IDF top terms
# ---------------------------------------------------------------------------


@register(
    "tfidf_top_terms",
    oracle=rf"""
    WITH toks AS (
      SELECT doc_id AS id, unnest({_TOKS}) AS term FROM documents
    ), tc AS (
      SELECT id, term, count(*) AS tf FROM toks GROUP BY id, term
    ), dfreq AS (
      SELECT term, count(*) AS df FROM tc GROUP BY term
    ), n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (
      SELECT tc.id, tc.term, tc.tf, dfreq.df,
             round(tc.tf * ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / dfreq.df), 6) AS tfidf
      FROM tc JOIN dfreq USING (term)
    )
    SELECT id AS doc_id, term, tf, df, tfidf, rank FROM (
      SELECT *, row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, term ASC) AS rank
      FROM scored) t
    WHERE rank <= 3
    """,
    doc="TF-IDF with top-3 terms per document: explode → (doc,term) "
    "counts → document frequencies → broadcast idf join → per-doc "
    "ranking. ln() rounded to 6 so libm ulp differences can't break "
    "the hash.",
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.text import tf_idf_top_terms

    docs = load_table(spark, sf_dir, "documents")
    return tf_idf_top_terms(docs, id_col="doc_id", text_col="text", top_n=3)


# ---------------------------------------------------------------------------
# Documents rollup (lang × source)
# ---------------------------------------------------------------------------


@register(
    "docs_by_lang_source",
    oracle="""
    SELECT lang, source, count(*) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents GROUP BY lang, source
    """,
    doc="Corpus composition rollup — hash agg with map-side combine.",
)
def q_docs_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return docs.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
        F.round(F.avg("n_chars"), 4).alias("avg_chars"),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH near-duplicate pairs
# ---------------------------------------------------------------------------

_NUM_PERM = 8
_BANDS = 4
_ROWS_PER_BAND = _NUM_PERM // _BANDS


def _minhash_oracle(source: str = "documents", max_bucket: int | None = None) -> str:
    """DuckDB replica of the full MinHash-LSH pipeline (shingles →
    signatures → banding → candidates → exact-Jaccard verify) over any
    source relation with (doc_id, text). ``max_bucket`` mirrors the
    operator's oversized-bucket skew guard (buckets with more members
    are dropped before the candidate self-join)."""
    perm_exprs = ",\n             ".join(
        f"list_min(list_transform(hashes, h -> ({a}*h + {b}) % {MERSENNE_P}))"
        for a, b in PERM_PARAMS[:_NUM_PERM]
    )
    cap_cte = (
        f""", banded AS (
      SELECT id, band, bucket FROM (
        SELECT *, count(*) OVER (PARTITION BY band, bucket) AS __n FROM banded0
      ) WHERE __n <= {max_bucket}
    )"""
        if max_bucket is not None
        else ""
    )
    banded_name = "banded0" if max_bucket is not None else "banded"
    return f"""
    WITH t AS (
      SELECT doc_id AS id, {_TOKS} AS toks FROM {source}
    ), base AS (
      SELECT id, list_distinct({_shingle_sql(3)}) AS sh FROM t
    ), hashed AS (
      SELECT id, sh, list_transform(sh, s -> {_MD5_32.format(x="s")}) AS hashes FROM base
    ), sigm AS (
      SELECT id, sh,
             [{perm_exprs}] AS sig
      FROM hashed
    ), {banded_name} AS (
      SELECT id,
             b.b AS band,
             md5(array_to_string(sig[b.b*{_ROWS_PER_BAND}+1 : (b.b+1)*{_ROWS_PER_BAND}], ',')) AS bucket
      FROM sigm, (SELECT unnest(range(0, {_BANDS})) AS b) b
    ){cap_cte}, cand AS (
      SELECT DISTINCT l.id AS id1, r.id AS id2
      FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
    )
    SELECT id1, id2,
           round(len(list_intersect(a.sh, b.sh))
                 / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4) AS jaccard
    FROM cand
    JOIN base a ON cand.id1 = a.id
    JOIN base b ON cand.id2 = b.id
    WHERE round(len(list_intersect(a.sh, b.sh))
                 / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4) >= 0.5
    """


@register(
    "minhash_near_dup_pairs",
    oracle=_minhash_oracle(),
    doc="MinHash(8 perms)+LSH(4 bands) near-dup candidate pairs, "
    "verified by exact shingle Jaccard ≥ 0.5. Deterministic md5-based "
    "hashing → the oracle replicates the banding bit-for-bit.",
)
def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(
        docs,
        id_col="doc_id",
        text_col="text",
        k_shingle=3,
        num_perm=_NUM_PERM,
        bands=_BANDS,
        jaccard_threshold=0.5,
    )


@register(
    "minhash_near_dup_pairs_capped",
    oracle=_minhash_oracle(max_bucket=2),
    doc="MinHash-LSH near-dup pairs with the OVERSIZED-BUCKET skew "
    "guard engaged: band buckets with more than max_bucket_size "
    "members are dropped before the candidate self-join. At 100 TB one "
    "boilerplate flood can make a single bucket quadratic (N docs -> "
    "N^2 candidate pairs in one task) while every other task is idle — "
    "capping is the standard production mitigation (oversized buckets "
    "are non-discriminative). The demo cap of 2 bites at test scale "
    "(drops the size-3/4 buckets); production uses O(hundreds). The "
    "bucket-count window rides the same (band, bucket) exchange the "
    "join needs.",
)
def q_minhash_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return minhash_near_dup_pairs(
        docs,
        id_col="doc_id",
        text_col="text",
        k_shingle=3,
        num_perm=_NUM_PERM,
        bands=_BANDS,
        jaccard_threshold=0.5,
        max_bucket_size=2,
    )


# ---------------------------------------------------------------------------
# SimHash fingerprints
# ---------------------------------------------------------------------------


def _simhash_oracle() -> str:
    return f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), g AS (
      SELECT doc_id, {_shingle_sql(2)} AS grams FROM t
    ), h AS (
      SELECT doc_id,
             list_transform(grams, s -> {_MD5_60.format(x="s")}) AS hs,
             len(grams) AS n
      FROM g
    )
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, 60),
                b -> CASE WHEN 2*len(list_filter(hs, x -> (x & (CAST(1 AS BIGINT) << b)) != 0)) > n
                          THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
             AS BIGINT) AS simhash
    FROM h
    """


@register(
    "simhash_fingerprints",
    oracle=_simhash_oracle(),
    doc="60-bit SimHash per document (bit-majority over 2-shingle md5 "
    "hashes) — near-dup detection via Hamming distance on fingerprints.",
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # per-row CPU-bound hashing: spread a single input split across
    # cores (conditional — no shuffle when the scan is already split)
    docs = spread(docs)
    # vectorized pandas path; bit-identical to operators.dedup.simhash60
    # (the pure-Catalyst reference implementation, cross-checked in tests)
    return docs.select("doc_id", simhash60_pandas()("text").alias("simhash"))


@register(
    "simhash_near_dup_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), g AS (
      SELECT doc_id, {_shingle_sql(2)} AS grams FROM t
    ), h AS (
      SELECT doc_id,
             list_transform(grams, s -> {_MD5_60.format(x="s")}) AS hs,
             len(grams) AS n
      FROM g
    ), f AS (
      SELECT doc_id,
             CAST(list_sum(list_transform(range(0, 60),
                  b -> CASE WHEN 2*len(list_filter(hs, x -> (x & (CAST(1 AS BIGINT) << b)) != 0)) > n
                            THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT) END))
               AS BIGINT) AS fp
      FROM h
    )
    SELECT a.doc_id AS id1, b.doc_id AS id2,
           CAST(bit_count(xor(a.fp, b.fp)) AS INTEGER) AS hamming
    FROM f a JOIN f b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.fp, b.fp)) <= 3
    """,
    doc="SimHash near-dup pairs via band bucketing (Manku et al. WWW'07): "
    "4×15-bit chunks of the 60-bit fingerprint; hamming ≤ 3 implies an "
    "exact chunk match (pigeonhole), so the banded equi-join finds ALL "
    "qualifying pairs and the brute-force quadratic scan is an exact "
    "oracle. Shuffle carries (id, band, chunk, fp) — 28 bytes/row.",
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.dedup import simhash_near_dup_pairs

    docs = load_table(spark, sf_dir, "documents")
    return simhash_near_dup_pairs(docs, id_col="doc_id", text_col="text")


# ---------------------------------------------------------------------------
# n-gram Jaccard within a blocking key
# ---------------------------------------------------------------------------


@register(
    "ngram_jaccard_pairs",
    # the engine joins postings on md5_long(gram) (8-byte shuffle key —
    # see dedup.ngram_jaccard_pairs hash_grams); the oracle applies the
    # IDENTICAL md5 transform to each distinct gram so both engines
    # compare the same hashed universe
    oracle=f"""
    WITH t AS (
      SELECT doc_id AS id, source AS blk, {_TOKS} AS toks FROM documents
    ), base AS (
      SELECT id, blk,
             list_transform(list_distinct({_shingle_sql(3)}),
                            g -> {_MD5_60.format(x="g")}) AS sh
      FROM t
    )
    SELECT a.id AS id1, b.id AS id2,
           round(len(list_intersect(a.sh, b.sh))
                 / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4) AS jaccard
    FROM base a JOIN base b ON a.blk = b.blk AND a.id < b.id
    WHERE round(len(list_intersect(a.sh, b.sh))
                 / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4) >= 0.2
    """,
    doc="Exact 3-gram Jaccard pairs within a `source` block via an "
    "inverted-index join on 60-bit hashed grams — brute-force verifier "
    "shape; block key bounds the pair count at scale.",
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ngram_jaccard_pairs(
        docs, id_col="doc_id", text_col="text", n=3, threshold=0.2, block_col="source"
    )


# ---------------------------------------------------------------------------
# Embedding similarity search (exact cosine top-k)
# ---------------------------------------------------------------------------

_QUERY_IDS = list(range(10))


@register(
    "embedding_topk",
    oracle="""
    WITH q AS (SELECT vec_id AS qid, embedding AS qvec FROM embeddings WHERE vec_id < 10),
         c AS (SELECT vec_id AS nid, embedding AS nvec FROM embeddings),
         scored AS (
           SELECT qid, nid,
                  round(
                    list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                      list_transform(range(1, len(qvec)+1),
                        i -> CAST(qvec[i] AS DOUBLE) * CAST(nvec[i] AS DOUBLE))), (a,b) -> a+b)
                    / (sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         list_transform(range(1, len(qvec)+1),
                           i -> CAST(qvec[i] AS DOUBLE) * CAST(qvec[i] AS DOUBLE))), (a,b) -> a+b))
                     * sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
                         list_transform(range(1, len(nvec)+1),
                           i -> CAST(nvec[i] AS DOUBLE) * CAST(nvec[i] AS DOUBLE))), (a,b) -> a+b)))
                  , 6) AS cos_sim
           FROM c JOIN q ON nid != qid)
    SELECT qid, nid, cos_sim, rank FROM (
      SELECT qid, nid, cos_sim,
             row_number() OVER (PARTITION BY qid ORDER BY cos_sim DESC, nid ASC) AS rank
      FROM scored) t
    WHERE rank <= 5
    """,
    doc="Exact cosine top-5 neighbors for 10 query vectors: broadcast "
    "query side, zip_with/aggregate dot products (left-to-right fold "
    "matches the oracle's list_reduce bit-for-bit), per-query top-k.",
)
def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb, id_col="vec_id", vec_col="embedding", query_ids=_QUERY_IDS, k=5)


# ---------------------------------------------------------------------------
# Dedup clusters: connected components over near-dup pairs
# ---------------------------------------------------------------------------

_CLUSTERS_ORACLE = f"""
    WITH RECURSIVE
    pairs AS ({_minhash_oracle("documents")}),
    edges AS (
      SELECT id1 AS src, id2 AS dst FROM pairs
      UNION
      SELECT id2 AS src, id1 AS dst FROM pairs
    ),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, r.lab FROM reach r JOIN edges e ON r.node = e.dst
    )
    SELECT node AS id, min(lab) AS cluster_id FROM reach GROUP BY node
"""


@register(
    "dedup_clusters",
    oracle=_CLUSTERS_ORACLE,
    doc="Transitive dedup clusters: connected components over the "
    "MinHash-LSH near-dup pairs via the alternating large-star/"
    "small-star contraction (O(log d) alternations on a diameter-d "
    "graph; the loop's working set is the edge list only, singletons "
    "join back at the end; lineage truncated per alternation). "
    "Oracle: DuckDB recursive CTE computing min reachable id — "
    "identical cluster ids.",
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, id_col="doc_id", text_col="text", k_shingle=3,
        num_perm=_NUM_PERM, bands=_BANDS, jaccard_threshold=0.5,
    )
    nodes = docs.select(F.col("doc_id").alias("id"))
    return connected_components(pairs, nodes)


@register(
    "neardup_component_size_histogram",
    oracle=f"""
    WITH clusters AS ({_CLUSTERS_ORACLE})
    SELECT size, CAST(count(*) AS BIGINT) AS n_components,
           CAST(size * count(*) AS BIGINT) AS n_docs
    FROM (
      SELECT cluster_id, CAST(count(*) AS BIGINT) AS size
      FROM clusters GROUP BY cluster_id
    ) GROUP BY size
    """,
    doc="Size distribution of the near-dup connected components — the "
    "standard dedup-report summary (how much of the corpus sits in "
    "singletons vs 2-clusters vs large families; the large tail is "
    "what canonical-doc pruning reclaims). Composes the verified "
    "dedup_clusters pipeline; both GROUP BYs collapse to component- "
    "then size-domain frames, so everything past the CC iteration is "
    "domain-sized. n_docs = size x n_components reconciles to the "
    "corpus total (singletons included — nodes enter the CC with "
    "their own label).",
)
def q_neardup_component_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, id_col="doc_id", text_col="text", k_shingle=3,
        num_perm=_NUM_PERM, bands=_BANDS, jaccard_threshold=0.5,
    )
    nodes = docs.select(F.col("doc_id").alias("id"))
    cc = connected_components(pairs, nodes)
    sizes = cc.groupBy("cluster_id").agg(F.count("*").cast("bigint").alias("size"))
    return sizes.groupBy("size").agg(
        F.count("*").cast("bigint").alias("n_components"),
        (F.col("size") * F.count("*")).cast("bigint").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Approximate aggregates (sketches differ across engines → rows-only)
# ---------------------------------------------------------------------------


@register(
    "approx_stats",
    oracle=None,
    doc="Sketch-based aggregates — approx_count_distinct (HLL++) and "
    "percentile_approx (KLL-ish) per event_type. Rows-only: DuckDB's "
    "sketches produce different (both-valid) estimates, so no exact "
    "oracle exists by design. The 100 TB workhorses for cardinality / "
    "quantiles without a full shuffle of distinct values.",
)
def q_approx_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.approx_count_distinct("user_id").alias("approx_users"),
        F.percentile_approx("value", 0.5).alias("approx_median"),
        F.percentile_approx("value", 0.99).alias("approx_p99"),
    )


# ---------------------------------------------------------------------------
# End-to-end dedup pipeline: the composed training-data cleaning pass
# ---------------------------------------------------------------------------


_PIPELINE_ORACLE = f"""
    WITH survivors AS (
      SELECT d.doc_id, d.text FROM documents d
      WHERE d.doc_id IN (SELECT min(doc_id) FROM documents GROUP BY md5(text))
    ), pairs AS (
      {_minhash_oracle("survivors")}
    )
    SELECT doc_id FROM survivors WHERE doc_id NOT IN (SELECT id2 FROM pairs)
"""


@register(
    "dedup_pipeline_survivors",
    oracle=_PIPELINE_ORACLE,
    doc="Composed cleaning pass: exact dedup (keep min doc_id per md5) → "
    "MinHash-LSH near-dup removal (drop the higher id of each verified "
    "Jaccard≥0.5 candidate pair) → surviving doc ids. The oracle "
    "replicates the LSH banding bit-for-bit (same recall), so the "
    "comparison is exact by construction.",
)
def q_dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    keep = exact_dedup(docs, content_col="text", id_col="doc_id").select(
        F.col("keep_id").alias("doc_id")
    )
    survivors = docs.join(keep, "doc_id", "left_semi")
    pairs = minhash_near_dup_pairs(
        survivors, id_col="doc_id", text_col="text", k_shingle=3,
        num_perm=_NUM_PERM, bands=_BANDS, jaccard_threshold=0.5,
    )
    losers = pairs.select(F.col("id2").alias("doc_id")).distinct()
    return survivors.join(losers, "doc_id", "left_anti").select("doc_id")


# ---------------------------------------------------------------------------
# Anomaly detection (the reference's namesake)
# ---------------------------------------------------------------------------


@register(
    "salted_event_type_stats",
    oracle="""
    SELECT event_type, count(*) AS n_events, max(value) AS max_value,
           round(sum(value), 2) AS sum_value
    FROM events GROUP BY event_type
    """,
    doc="Two-phase salted aggregation on the (skew-prone, ~5-value) "
    "event_type key: phase 1 groups on (key, salt) so a hot key's rows "
    "spread across 16 reducers, phase 2 merges partials — identical "
    "results to a plain GROUP BY (the oracle) for algebraic aggregates; "
    "the sum is rounded so the two-level float add-order can't drift "
    "the hash.",
)
def q_salted_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.partitioning import salted_group_agg

    events = load_table(spark, sf_dir, "events")
    out = salted_group_agg(
        events,
        key="event_type",
        agg_exprs={"n_events": "count(*)", "max_value": "max(value)", "sum_value": "sum(value)"},
    )
    return out.select(
        "event_type", "n_events", "max_value", F.round("sum_value", 2).alias("sum_value")
    )


@register(
    "zscore_outliers",
    oracle="""
    SELECT event_id, user_id, event_type, value, zscore FROM (
      SELECT event_id, user_id, event_type, value,
             round((value - avg(value) OVER (PARTITION BY user_id))
                   / nullif(stddev_samp(value) OVER (PARTITION BY user_id), 0), 4) AS zscore
      FROM events) t
    WHERE abs(zscore) > 2.0
    """,
    doc="Per-user z-score outliers (|z| > 2) — unbounded analytic window, "
    "single hash shuffle on user_id, no self-join.",
)
def q_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    out = zscore_outliers(events, key="user_id", value_col="value", threshold=2.0)
    return out.select("event_id", "user_id", "event_type", "value", "zscore")


@register(
    "mad_outliers",
    oracle="""
    WITH meds AS (
      SELECT user_id, median(value) AS med FROM events GROUP BY user_id
    ), mads AS (
      SELECT e.user_id, median(abs(e.value - m.med)) AS mad
      FROM events e JOIN meds m USING (user_id) GROUP BY e.user_id
    )
    SELECT event_id, user_id, event_type, value, robust_z FROM (
      SELECT e.event_id, e.user_id, e.event_type, e.value,
             round(0.6745 * (e.value - m.med) / nullif(d.mad, 0), 4) AS robust_z
      FROM events e JOIN meds m USING (user_id) JOIN mads d USING (user_id)
    ) t WHERE abs(robust_z) > 3.5
    """,
    doc="Robust per-user outliers via median absolute deviation "
    "(Iglewicz–Hoaglin modified z-score, |0.6745·(v−med)/MAD| > 3.5) — "
    "complements zscore_outliers with a 50% breakdown point: the "
    "outliers themselves cannot inflate the threshold. Exact medians "
    "on both engines; MAD=0 keys excluded like the zero-std guard.",
)
def q_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.anomaly import mad_outliers

    events = load_table(spark, sf_dir, "events")
    out = mad_outliers(events, key="user_id", value_col="value", threshold=3.5)
    return out.select("event_id", "user_id", "event_type", "value", "robust_z")


def _ewma_oracle(alpha: float = 0.5, window: int = 8) -> str:
    num = " + ".join(
        f"CASE WHEN lag(value, {k}) OVER w IS NOT NULL "
        f"THEN {(1.0 - alpha) ** k!r} * lag(value, {k}) OVER w ELSE 0.0 END"
        for k in range(window)
    )
    den = " + ".join(
        f"CASE WHEN lag(value, {k}) OVER w IS NOT NULL "
        f"THEN {(1.0 - alpha) ** k!r} ELSE 0.0 END"
        for k in range(window)
    )
    return f"""
    SELECT event_id, user_id, value, round(({num}) / ({den}), 4) AS ewma
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """


@register(
    "ewma_smoothing",
    oracle=_ewma_oracle(),
    doc="Per-user windowed EWMA (α=0.5, trailing 8 rows, normalized "
    "weights): the truncated recursive EWMA as a fixed lag-sum — one "
    "analytic-window shuffle, no recursion/UDF; α=0.5 makes every "
    "weight an exact binary double so the oracle is bit-exact.",
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.anomaly import windowed_ewma

    events = load_table(spark, sf_dir, "events")
    out = windowed_ewma(
        events, key="user_id", ts_col="ts", id_col="event_id", value_col="value"
    )
    return out.select("event_id", "user_id", "value", "ewma")


@register(
    "kmeans_embedding_outliers",
    oracle=None,
    doc="MLlib KMeans(k=10, seed=42) distance outliers on embeddings — "
    "top-20 farthest vectors from their centroid (rows-only: no SQL "
    "analog of MLlib training; seeded for run-to-run determinism).",
)
def q_kmeans_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.anomaly import kmeans_distance_outliers

    emb = load_table(spark, sf_dir, "embeddings")
    return kmeans_distance_outliers(emb, id_col="vec_id", vec_col="embedding")


@register(
    "rolling_zscore_outliers",
    oracle="""
    SELECT event_id, user_id, value, trailing_n, zscore FROM (
      SELECT event_id, user_id, value,
             count(value) OVER w AS trailing_n,
             round((value - avg(value) OVER w)
                   / nullif(stddev_samp(value) OVER w, 0), 4) AS zscore
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
    ) t WHERE trailing_n >= 5 AND abs(zscore) > 2.5
    """,
    doc="Trailing-window z-score anomaly (previous 20 events per user, "
    "current row excluded) — the batch analog of the streaming detector.",
)
def q_rolling_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    events = load_table(spark, sf_dir, "events")
    out = rolling_zscore_outliers(
        events,
        key="user_id",
        order_cols=["ts", "event_id"],
        value_col="value",
        lookback_rows=20,
        threshold=2.5,
    )
    return out.select("event_id", "user_id", "value", "trailing_n", "zscore")


# ---------------------------------------------------------------------------
# Canonical document selection: dedup clusters → keep the best survivor
# ---------------------------------------------------------------------------

_CANONICAL_ORACLE = f"""
    WITH RECURSIVE
    pairs AS ({_minhash_oracle("documents")}),
    edges AS (
      SELECT id1 AS src, id2 AS dst FROM pairs
      UNION
      SELECT id2 AS src, id1 AS dst FROM pairs
    ),
    reach(node, lab) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.src, r.lab FROM reach r JOIN edges e ON r.node = e.dst
    ),
    clusters AS (SELECT node AS id, min(lab) AS cluster_id FROM reach GROUP BY node),
    ranked AS (
      SELECT c.cluster_id, d.doc_id, d.n_chars,
             row_number() OVER (PARTITION BY c.cluster_id
                                ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
             count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
      FROM clusters c JOIN documents d ON c.id = d.doc_id
    )
    SELECT cluster_id, doc_id AS kept_doc_id, n_chars AS kept_n_chars,
           cluster_size
    FROM ranked WHERE rn = 1
"""


@register(
    "canonical_doc_per_cluster",
    oracle=_CANONICAL_ORACLE,
    doc="Survivor selection after transitive dedup: per near-dup "
    "cluster keep the 'best' document (longest n_chars, ties broken "
    "by min doc_id — a deterministic stand-in for a quality score). "
    "Composes connected components with a per-cluster rank: one extra "
    "shuffle on cluster_id beyond the clustering itself; the rank "
    "window never sees more rows per partition than the largest "
    "cluster, so skew is bounded by cluster size, not corpus size.",
)
def q_canonical_doc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from flink_anomaly_spark.operators.dedup import connected_components

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, id_col="doc_id", text_col="text", k_shingle=3,
        num_perm=_NUM_PERM, bands=_BANDS, jaccard_threshold=0.5,
    )
    nodes = docs.select(F.col("doc_id").alias("id"))
    clusters = connected_components(pairs, nodes)
    joined = clusters.join(
        docs.select("doc_id", "n_chars"), clusters.id == F.col("doc_id")
    )
    w = Window.partitionBy("cluster_id")
    ranked = joined.select(
        "cluster_id",
        "doc_id",
        "n_chars",
        F.row_number()
        .over(w.orderBy(F.col("n_chars").desc(), F.col("doc_id").asc()))
        .alias("rn"),
        F.count("*").over(w).alias("cluster_size"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "cluster_id",
        F.col("doc_id").alias("kept_doc_id"),
        F.col("n_chars").alias("kept_n_chars"),
        "cluster_size",
    )


_MINHASH_ACCURACY_ORACLE = f"""
    WITH t AS (
      SELECT doc_id AS id, {_TOKS} AS toks FROM documents
    ), base AS (
      SELECT id, list_distinct({_shingle_sql(3)}) AS sh FROM t
    ), hashed AS (
      SELECT id, sh, list_transform(sh, s -> {_MD5_32.format(x="s")}) AS hashes FROM base
    ), sigm AS (
      SELECT id, sh,
             [{{perm_exprs}}] AS sig
      FROM hashed
    ), banded AS (
      SELECT id,
             b.b AS band,
             md5(array_to_string(sig[b.b*{_ROWS_PER_BAND}+1 : (b.b+1)*{_ROWS_PER_BAND}], ',')) AS bucket
      FROM sigm, (SELECT unnest(range(0, {_BANDS})) AS b) b
    ), cand AS (
      SELECT DISTINCT l.id AS id1, r.id AS id2
      FROM banded l JOIN banded r ON l.band = r.band AND l.bucket = r.bucket AND l.id < r.id
    ), scored AS (
      SELECT len(list_filter(range(1, {_NUM_PERM} + 1), i -> a.sig[i] = b.sig[i]))
               / CAST({_NUM_PERM} AS DOUBLE) AS est,
             round(len(list_intersect(a.sh, b.sh))
                   / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4) AS true_j
      FROM cand
      JOIN sigm a ON cand.id1 = a.id
      JOIN sigm b ON cand.id2 = b.id
    )
    SELECT count(*) AS n_candidate_pairs,
           round(avg(abs(est - true_j)), 4) AS mean_abs_err,
           round(max(abs(est - true_j)), 4) AS max_abs_err,
           count(CASE WHEN est >= 0.5 AND true_j >= 0.5 THEN 1 END) AS true_pos,
           count(CASE WHEN est >= 0.5 AND true_j < 0.5 THEN 1 END) AS false_pos,
           count(CASE WHEN est < 0.5 AND true_j >= 0.5 THEN 1 END) AS false_neg
    FROM scored
"""


def _minhash_accuracy_oracle() -> str:
    perm_exprs = ",\n             ".join(
        f"list_min(list_transform(hashes, h -> ({a}*h + {b}) % {MERSENNE_P}))"
        for a, b in PERM_PARAMS[:_NUM_PERM]
    )
    return _MINHASH_ACCURACY_ORACLE.format(perm_exprs=perm_exprs)


@register(
    "minhash_estimate_accuracy",
    oracle=_minhash_accuracy_oracle(),
    doc="MinHash index-quality self-evaluation (companion to the ANN "
    "recall evals): over ALL LSH candidate pairs, signature-agreement "
    "Jaccard estimate vs true shingle Jaccard — mean/max absolute "
    "error plus the 0.5-threshold decision confusion (TP/FP/FN). "
    "Quantifies what verification-free (estimate-only) dedup would "
    "get wrong with this (num_perm, bands) configuration.",
)
def q_minhash_estimate_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.dedup import minhash_estimate_accuracy

    docs = load_table(spark, sf_dir, "documents")
    return minhash_estimate_accuracy(
        docs, id_col="doc_id", text_col="text",
        k_shingle=3, num_perm=_NUM_PERM, bands=_BANDS,
    )


@register(
    "cross_doc_repeated_ngrams",
    oracle=rf"""
    WITH t AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), g AS (
      SELECT doc_id, unnest(list_distinct({_shingle_sql(10)})) AS gram FROM t
    ), dfreq AS (
      SELECT gram, count(*) AS n_docs FROM g GROUP BY gram
    )
    SELECT g.doc_id,
           count(*) AS n_grams,
           count(CASE WHEN d.n_docs >= 2 THEN 1 END) AS n_shared_grams,
           round(count(CASE WHEN d.n_docs >= 2 THEN 1 END)
                 / CAST(count(*) AS DOUBLE), 4) AS shared_frac
    FROM g JOIN dfreq d ON g.gram = d.gram
    GROUP BY g.doc_id
    """,
    doc="Cross-document repeated-substring signal (the 10-gram "
    "approximation of Lee et al. 2022 'Deduplicating Training Data "
    "Makes Language Models Better' suffix-array dedup): per document, "
    "the fraction of its distinct 10-grams that also occur in at least "
    "one other document. Explode → doc-frequency agg → equi-join back "
    "on the gram string — two shuffles of (doc_id, gram) pairs, no "
    "all-pairs comparison; grams above a df-cap can be dropped at "
    "scale exactly like the n-gram-Jaccard postings caveat.",
)
def q_cross_doc_repeated_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.dedup import shingles_pandas

    docs = load_table(spark, sf_dir, "documents")
    g = (
        spread(docs.select("doc_id", "text"))
        .select("doc_id", F.explode(shingles_pandas(10)(F.col("text"))).alias("gram"))
    )
    dfreq = g.groupBy("gram").agg(F.count("*").alias("n_docs"))
    shared = F.count(F.when(F.col("n_docs") >= 2, 1))
    return (
        g.join(dfreq, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            shared.alias("n_shared_grams"),
            F.round(shared / F.count("*"), 4).alias("shared_frac"),
        )
    )


@register(
    "equi_depth_histogram",
    oracle="""
    WITH t AS (
      SELECT value, ntile(10) OVER (ORDER BY value, event_id) AS bucket
      FROM events
    )
    SELECT bucket, count(*) AS n_rows,
           round(min(value), 6) AS lo, round(max(value), 6) AS hi
    FROM t GROUP BY bucket
    """,
    doc="Equi-depth (10-bucket) histogram of events.value — the "
    "ANALYZE-style statistic an optimizer collects for selectivity "
    "estimation. ntile assigns near-equal-count buckets over a total "
    "order ((value, event_id) — the tiebreak makes bucket membership "
    "deterministic); boundaries are the per-bucket min/max. NOTE: the "
    "global ntile needs a total sort — fine for stats collection "
    "(typically sampled); the scan itself is single-pass.",
)
def q_equi_depth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    events = load_table(spark, sf_dir, "events")
    w = Window.orderBy("value", "event_id")
    t = events.select("value", F.ntile(10).over(w).alias("bucket"))
    return t.groupBy("bucket").agg(
        F.count("*").alias("n_rows"),
        F.round(F.min("value"), 6).alias("lo"),
        F.round(F.max("value"), 6).alias("hi"),
    )


def _pagerank_oracle(iterations: int = 3, damping: float = 0.85) -> str:
    prev = "pr0"
    steps = []
    for k in range(1, iterations + 1):
        cur = f"pr{k}"
        steps.append(f"""
    {cur} AS (
      SELECT d.doc_id AS id,
             (1.0 - {damping}) / (SELECT n FROM nn)
             + {damping} * (coalesce(c.in_w, 0.0)
                 + (SELECT coalesce(sum(p.pr), 0.0)
                    FROM {prev} p LEFT JOIN od ON p.id = od.od_id
                    WHERE od.od_id IS NULL) / (SELECT n FROM nn)) AS pr
      FROM documents d
      LEFT JOIN (SELECT e.dst, sum(p.pr / od.out_deg) AS in_w
                 FROM edges e
                 JOIN {prev} p ON e.src = p.id
                 JOIN od ON p.id = od.od_id
                 GROUP BY e.dst) c ON d.doc_id = c.dst
    )""")
        prev = cur
    return f"""
    WITH
    pairs AS ({_minhash_oracle("documents")}),
    edges AS (
      SELECT id1 AS src, id2 AS dst FROM pairs
      UNION
      SELECT id2 AS src, id1 AS dst FROM pairs
    ),
    od AS (SELECT src AS od_id, count(*) AS out_deg FROM edges GROUP BY src),
    nn AS (SELECT count(*) AS n FROM documents),
    pr0 AS (SELECT doc_id AS id, 1.0 / (SELECT n FROM nn) AS pr FROM documents),
    {",".join(steps)}
    SELECT id, round(pr, 6) AS pr FROM {prev}
    """


@register(
    "pagerank_neardup",
    oracle=_pagerank_oracle(),
    doc="Fixed-iteration PageRank (3 steps, d=0.85) over the "
    "symmetrized MinHash near-dup graph — the iterative-algorithm "
    "surface beyond connected components. Each step is the standard "
    "two-shuffle plan (rank⋈edges on src, aggregate on dst); "
    "out-degree and the dangling-mass scalar broadcast. "
    "Fixed iterations keep it deterministic and engine-portable — "
    "the oracle unrolls the same 3 steps in SQL.",
)
def q_pagerank_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.graph import pagerank

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, id_col="doc_id", text_col="text", k_shingle=3,
        num_perm=_NUM_PERM, bands=_BANDS, jaccard_threshold=0.5,
    )
    edges = pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst")).unionByName(
        pairs.select(F.col("id2").alias("src"), F.col("id1").alias("dst"))
    ).distinct()
    nodes = docs.select(F.col("doc_id").alias("id"))
    return pagerank(edges, nodes, iterations=3, damping=0.85)


# ---------------------------------------------------------------------------
# Incremental dedup: incoming batch vs existing corpus (cross-set LSH)
# ---------------------------------------------------------------------------


def _minhash_between_oracle() -> str:
    """DuckDB replica of the TAGGED MinHash pipeline: one signature pass
    over all documents, candidates only between tag partitions
    (corpus × batch) — mirrors ``dedup.minhash_pairs_between``."""
    perm_exprs = ",\n             ".join(
        f"list_min(list_transform(hashes, h -> ({a}*h + {b}) % {MERSENNE_P}))"
        for a, b in PERM_PARAMS[:_NUM_PERM]
    )
    split_h = _MD5_32.format(x="'inc:' || CAST(doc_id AS VARCHAR)")
    return f"""
      SELECT doc_id AS id, text,
             CASE WHEN {split_h} % 100 < 80 THEN 'corpus' ELSE 'batch' END AS tag
      FROM documents
    ), t AS (
      SELECT id, tag, {_TOKS} AS toks FROM src
    ), base AS (
      SELECT id, tag, list_distinct({_shingle_sql(3)}) AS sh FROM t
    ), hashed AS (
      SELECT id, tag, sh, list_transform(sh, s -> {_MD5_32.format(x="s")}) AS hashes FROM base
    ), sigm AS (
      SELECT id, tag, sh,
             [{perm_exprs}] AS sig
      FROM hashed
    ), banded AS (
      SELECT id, tag,
             b.b AS band,
             md5(array_to_string(sig[b.b*{_ROWS_PER_BAND}+1 : (b.b+1)*{_ROWS_PER_BAND}], ',')) AS bucket
      FROM sigm, (SELECT unnest(range(0, {_BANDS})) AS b) b
    ), cand AS (
      SELECT DISTINCT l.id AS id1, r.id AS id2
      FROM banded l JOIN banded r
        ON l.band = r.band AND l.bucket = r.bucket
       AND l.tag = 'corpus' AND r.tag = 'batch'
    ), pairs AS (
      SELECT id1, id2
      FROM cand
      JOIN base a ON cand.id1 = a.id
      JOIN base b ON cand.id2 = b.id
      WHERE round(len(list_intersect(a.sh, b.sh))
                  / CAST(len(list_distinct(list_concat(a.sh, b.sh))) AS DOUBLE), 4) >= 0.5
    )"""


@register(
    "incremental_dedup_new_batch",
    oracle=f"""
    WITH src AS ({_minhash_between_oracle()},
    exactd AS (
      SELECT DISTINCT b.id FROM src b JOIN src c
        ON b.tag = 'batch' AND c.tag = 'corpus' AND md5(b.text) = md5(c.text)
    ), neard AS (SELECT DISTINCT id2 AS id FROM pairs)
    SELECT b.id AS doc_id,
           CASE WHEN e.id IS NOT NULL THEN 'exact'
                WHEN n.id IS NOT NULL THEN 'near'
                ELSE 'unique' END AS dup_kind
    FROM (SELECT id FROM src WHERE tag = 'batch') b
    LEFT JOIN exactd e ON b.id = e.id
    LEFT JOIN neard  n ON b.id = n.id
    """,
    doc="Incremental dedup — the steady-state shape of a production "
    "corpus pipeline: an incoming batch (deterministic 20% hash split "
    "stands in for 'today's crawl') is checked against the existing "
    "corpus (80%) for exact dups (md5 join — 16-byte keys, never full "
    "text, on the exchange) and near-dups (dedup.minhash_pairs_between: "
    "ONE tagged signature pass, band join constrained corpus-side × "
    "batch-side, so intra-corpus candidate pairs — the quadratically "
    "dominant term a full re-dedup would pay — are never materialized). "
    "Emits every batch doc labeled exact/near/unique.",
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.dedup import md5_int32, minhash_pairs_between

    docs = load_table(spark, sf_dir, "documents")
    h = md5_int32(F.concat(F.lit("inc:"), F.col("doc_id").cast("string"))) % 100
    tagged = docs.select(
        "doc_id",
        "text",
        F.when(h < 80, "corpus").otherwise("batch").alias("tag"),
    )
    batch = tagged.filter(F.col("tag") == "batch")
    corpus = tagged.filter(F.col("tag") == "corpus")
    exactd = (
        batch.alias("b")
        .join(
            corpus.select(F.md5("text").alias("c_md5")).distinct(),
            F.md5(F.col("b.text")) == F.col("c_md5"),
        )
        .select(F.col("b.doc_id").alias("e_id"))
        .distinct()
    )
    neard = (
        minhash_pairs_between(
            tagged, "doc_id", "text", "tag", "corpus", "batch",
            k_shingle=3, num_perm=_NUM_PERM, bands=_BANDS, jaccard_threshold=0.5,
        )
        .select(F.col("id2").alias("n_id"))
        .distinct()
    )
    return (
        batch.select("doc_id")
        .join(exactd, F.col("doc_id") == F.col("e_id"), "left")
        .join(neard, F.col("doc_id") == F.col("n_id"), "left")
        .select(
            "doc_id",
            F.when(F.col("e_id").isNotNull(), "exact")
            .when(F.col("n_id").isNotNull(), "near")
            .otherwise("unique")
            .alias("dup_kind"),
        )
    )


# ---------------------------------------------------------------------------
# Triangle count over the near-dup graph
# ---------------------------------------------------------------------------


@register(
    "neardup_triangle_count",
    oracle=f"""
    WITH pairs AS ({_minhash_oracle("documents")}),
    e AS (SELECT id1 AS a, id2 AS b FROM pairs),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM e e1 JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    )
    SELECT (SELECT count(*) FROM tri) AS n_triangles,
           (SELECT count(*) FROM e) AS n_edges,
           (SELECT count(DISTINCT x) FROM (
              SELECT a AS x FROM e UNION SELECT b AS x FROM e) u) AS n_nodes
    """,
    doc="Triangle count over the near-dup graph (id1<id2 edges from the "
    "MinHash pairs): the standard graph-cohesion metric — triangles "
    "mean clusters are dense near-dup families rather than chains, "
    "which changes how aggressively canonical-doc selection can prune. "
    "Ordered-edge wedge join (a<b<c counts each triangle once): two "
    "self-joins of an edge list whose size LSH verification already "
    "bounded; no vertex ever sees more than its degree² wedges. The "
    "count trio (triangles/edges/nodes) rides one plan.",
)
def q_neardup_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, id_col="doc_id", text_col="text", k_shingle=3,
        num_perm=_NUM_PERM, bands=_BANDS, jaccard_threshold=0.5,
    )
    e = persist(pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b")))
    tri = (
        e.alias("e1")
        .join(e.alias("e2"), F.col("e1.b") == F.col("e2.a"))
        .join(
            e.alias("e3"),
            (F.col("e3.a") == F.col("e1.a")) & (F.col("e3.b") == F.col("e2.b")),
        )
    )
    n_tri = tri.agg(F.count("*").alias("n_triangles"))
    n_edges = e.agg(F.count("*").alias("n_edges"))
    n_nodes = (
        e.select(F.col("a").alias("x"))
        .union(e.select(F.col("b").alias("x")))
        .distinct()
        .agg(F.count("*").alias("n_nodes"))
    )
    return n_tri.join(n_edges).join(n_nodes)


# ---------------------------------------------------------------------------
# Prefix-filtered set-similarity join (PPJoin family)
# ---------------------------------------------------------------------------


@register(
    "prefix_filter_jaccard_pairs",
    oracle=f"""
    WITH t0 AS (
      SELECT doc_id AS id, {_TOKS} AS toks FROM documents
    ), sized AS (
      SELECT id, list_distinct({_shingle_sql(4)}) AS toks
      FROM t0 WHERE len(toks) > 0
    ),
    postings AS (SELECT id, unnest(toks) AS tok FROM sized),
    cand AS (
      SELECT DISTINCT a.id AS id1, b.id AS id2
      FROM postings a JOIN postings b ON a.tok = b.tok AND a.id < b.id
    )
    SELECT id1, id2,
           round(len(list_intersect(x.toks, y.toks))
                 / CAST(len(list_distinct(list_concat(x.toks, y.toks))) AS DOUBLE), 4)
             AS jaccard
    FROM cand JOIN sized x ON cand.id1 = x.id JOIN sized y ON cand.id2 = y.id
    WHERE round(len(list_intersect(x.toks, y.toks))
                / CAST(len(list_distinct(list_concat(x.toks, y.toks))) AS DOUBLE), 4)
          >= 0.6
    """,
    doc="Exact 4-gram-shingle-set Jaccard >= 0.6 pairs via PREFIX FILTERING "
    "(dedup.prefix_filter_jaccard_pairs; PPJoin / Vernica et al. "
    "SIGMOD'10): each doc indexes only its |x|-ceil(t|x|)+1 RAREST "
    "tokens — provably the same result set as the full inverted index "
    "(any pair with J>=t shares a prefix token under the global "
    "frequency order), but frequent tokens, whose postings-squared "
    "cost dominates at web scale, never enter the candidate join. The "
    "oracle runs the unfiltered inverted-index form: identical rows "
    "IS the losslessness theorem, checked.",
)
def q_prefix_filter_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.dedup import prefix_filter_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    return prefix_filter_jaccard_pairs(docs, id_col="doc_id", text_col="text", threshold=0.6)


_SPAN_N = 8


@register(
    "span_dedup_clean",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), gs AS (
      SELECT doc_id, unnest(range(1, len(toks) - {_SPAN_N} + 2)) AS start, toks
      FROM d WHERE len(toks) >= {_SPAN_N}
    ), gh AS (
      SELECT doc_id, start,
             {_MD5_60.format(x=f"array_to_string(toks[start:start+{_SPAN_N - 1}], ' ')")} AS h
      FROM gs
    ), dup AS (
      SELECT h FROM gh GROUP BY h HAVING count(*) >= 2
    ), ds AS (
      SELECT gh.doc_id, list(gh.start) AS dups
      FROM gh JOIN dup USING (h) GROUP BY gh.doc_id
    ), kept AS (
      SELECT d.doc_id, toks,
             list_filter(range(1, len(toks) + 1),
                         j -> len(list_filter(coalesce(ds.dups, []),
                                              s -> j >= s AND j <= s + {_SPAN_N - 1})) = 0) AS keep
      FROM d LEFT JOIN ds USING (doc_id)
    )
    SELECT doc_id,
           CAST(len(toks) AS BIGINT) AS n_words,
           CAST(len(toks) - len(keep) AS BIGINT) AS n_removed,
           round((len(toks) - len(keep)) / CAST(greatest(len(toks), 1) AS DOUBLE), 4)
             AS removed_frac,
           coalesce(array_to_string(list_transform(keep, j -> toks[j]), ' '), '') AS cleaned_text
    FROM kept
    """,
    doc="Duplicated-span REMOVAL (the transform step of Lee et al. 2022 "
    "suffix-array dedup, word-8-gram approximation): every word covered "
    "by an 8-gram that occurs >= 2 times corpus-wide is dropped and the "
    "document re-emitted from the survivors. Removes EVERY occurrence "
    "(order-independent; the paper's keep-one needs a global doc order "
    "a distributed corpus lacks). Gram spans travel as (id, start, "
    "hash64) — never text; two shuffles (hash-count groupBy + postings "
    "join); reconstruction is per-row array math. Companion to the "
    "detection-only cross_doc_repeated_ngrams.",
)
def q_span_dedup_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.dedup import span_dedup_clean

    docs = load_table(spark, sf_dir, "documents")
    return span_dedup_clean(docs, n=_SPAN_N, min_count=2)


@register(
    "exact_substring_spans",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id, {_TOKS} AS toks FROM documents
    ), gs AS (
      SELECT doc_id, unnest(range(1, len(toks) - {_SPAN_N} + 2)) AS start, toks
      FROM d WHERE len(toks) >= {_SPAN_N}
    ), gh AS (
      SELECT doc_id, start,
             {_MD5_60.format(x=f"array_to_string(toks[start:start+{_SPAN_N - 1}], ' ')")} AS h
      FROM gs
    ), dup AS (
      SELECT h FROM gh GROUP BY h HAVING count(*) >= 2
    ), iv AS (
      SELECT gh.doc_id, gh.start AS lo, gh.start + {_SPAN_N - 1} AS hi
      FROM gh JOIN dup USING (h)
    ), brk AS (
      SELECT doc_id, lo, hi,
             CASE WHEN lo <= coalesce(max(hi) OVER (
                    PARTITION BY doc_id ORDER BY lo
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -2147483648) + 1
                  THEN 0 ELSE 1 END AS is_new
      FROM iv
    ), grp AS (
      SELECT doc_id, lo, hi,
             sum(is_new) OVER (PARTITION BY doc_id ORDER BY lo) AS g
      FROM brk
    ), spans AS (
      SELECT doc_id, min(lo) AS lo, max(hi) AS hi FROM grp GROUP BY doc_id, g
    )
    SELECT s.doc_id,
           CAST(s.lo AS BIGINT) AS span_start,
           CAST(s.hi AS BIGINT) AS span_end,
           CAST(s.hi - s.lo + 1 AS BIGINT) AS span_words,
           array_to_string(d.toks[s.lo:s.hi], ' ') AS span_text
    FROM spans s JOIN d USING (doc_id)
    """,
    doc="Suffix-array-style exact-substring duplicate DETECTION (Lee "
    "et al. 2022 §4 ExactSubstr): one row per MAXIMAL duplicated "
    "word-span per document — a span is duplicated when every 8-gram "
    "window inside it occurs >= 2 times corpus-wide. The detection "
    "half of the span machinery (span_dedup_clean is the removal "
    "half; both share the interval-merge fold). Gram spans travel as "
    "(id, start, hash64); the merge is per-row array math; two "
    "shuffles (hash-count groupBy + postings join).",
)
def q_exact_substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.dedup import exact_substring_spans

    docs = load_table(spark, sf_dir, "documents")
    return exact_substring_spans(docs, n=_SPAN_N, min_count=2)


@register(
    "edit_distance_near_dup",
    oracle=r"""
    WITH d AS (SELECT doc_id AS id,
                      regexp_replace(text, '[^\x00-\x7F]', '', 'g') AS t,
                      lang, source
               FROM documents),
    p AS (SELECT id, t, lang, source,
                 length(t) AS n, length(t) // 100 AS band
          FROM d)
    SELECT a.id AS id_a, b.id AS id_b,
           CAST(levenshtein(a.t, b.t) AS BIGINT) AS lev
    FROM p a JOIN p b
      ON a.lang = b.lang AND a.source = b.source
     AND a.id < b.id
     AND abs(a.band - b.band) <= 1
     AND abs(a.n - b.n) <= 60
    WHERE levenshtein(a.t, b.t) <= 60
    """,
    doc="Exact edit-distance near-dup pairs within (lang, source) "
    "blocks — record-linkage precision where MinHash is probabilistic. "
    "COMPLETE within blocks for lev <= 60 on the ASCII projection "
    "(non-ASCII chars stripped on BOTH engines: Spark's levenshtein "
    "counts chars, DuckDB's counts bytes — the projection makes the "
    "cross-engine contract exact): the length prune is a true "
    "Levenshtein lower bound and the 100-char bands keep only "
    "adjacent-band candidates by pigeonhole (band > threshold). One "
    "equi-shuffle on the block key — nothing corpus-sized broadcast; "
    "the banded 3-arg levenshtein evaluates join-side where its "
    "length-gap early exit makes it O(1) for most block pairs.",
)
def q_edit_distance_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.dedup import edit_distance_near_dup

    return edit_distance_near_dup(
        load_table(spark, sf_dir, "documents"),
        id_col="doc_id",
        text_col="text",
        block_cols=["lang", "source"],
        band_chars=100,
        threshold=60,
    )


# ---------------------------------------------------------------------------
# k-core of the near-dup graph (round 10)
# ---------------------------------------------------------------------------


def _kcore_oracle(k: int = 2, n_iter: int = 6) -> str:
    # every CTE is AS MATERIALIZED: each peel references its
    # predecessor three times (degree agg + two endpoint joins), so an
    # INLINING planner would re-expand the MinHash pipeline 3^n_iter
    # times — materialization pins one evaluation per stage (measured:
    # inlined form timed out at sf0.001, materialized runs in seconds)
    steps = []
    prev = "e0"
    for i in range(1, n_iter + 1):
        steps.append(f"""
    n{i} AS MATERIALIZED (SELECT src FROM {prev} GROUP BY src HAVING count(*) >= {k}),
    e{i} AS MATERIALIZED (SELECT e.src, e.dst FROM {prev} e
             JOIN n{i} a ON e.src = a.src JOIN n{i} b ON e.dst = b.src)""")
        prev = f"e{i}"
    return f"""
    WITH pairs AS MATERIALIZED ({_minhash_oracle("documents")}),
    e0 AS MATERIALIZED (
      SELECT id1 AS src, id2 AS dst FROM pairs
      UNION
      SELECT id2 AS src, id1 AS dst FROM pairs
    ),
    {",".join(steps)}
    SELECT src AS node, CAST(count(*) AS BIGINT) AS core_degree
    FROM {prev} GROUP BY src HAVING count(*) >= {k}
    """


@register(
    "kcore_neardup",
    oracle=_kcore_oracle(),
    doc="2-core of the symmetrized MinHash near-dup graph by "
    "fixed-iteration peeling (6 peels, the pagerank/Lloyd unroll "
    "discipline — a peel past convergence is a no-op on both engines, "
    "so early convergence never desynchronizes them): vertices that "
    "survive have >= 2 near-dup neighbors INSIDE the surviving set — "
    "dense duplicate families, safe for aggressive canonical-doc "
    "pruning, vs the chains/stars connected components lumps in by "
    "transitivity. Per peel: one map-side degree agg over the "
    "LSH-verification-bounded edge list + two broadcast semi-joins; "
    "the edge list only shrinks and is checkpoint-truncated per peel "
    "(O(1) lineage, the connected_components pattern).",
)
def q_kcore_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.graph import kcore

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, id_col="doc_id", text_col="text", k_shingle=3,
        num_perm=_NUM_PERM, bands=_BANDS, jaccard_threshold=0.5,
    )
    edges = pairs.select(F.col("id1").alias("src"), F.col("id2").alias("dst")).unionByName(
        pairs.select(F.col("id2").alias("src"), F.col("id1").alias("dst"))
    ).distinct()
    return kcore(edges, k=2, n_iter=6)


# ---------------------------------------------------------------------------
# Local clustering coefficient over the near-dup graph (round 10 s2)
# ---------------------------------------------------------------------------


@register(
    "neardup_clustering_coeff",
    oracle=f"""
    WITH pairs AS MATERIALIZED ({_minhash_oracle("documents")}),
    e AS MATERIALIZED (SELECT id1 AS a, id2 AS b FROM pairs),
    tri AS (
      SELECT e1.a AS x, e1.b AS y, e2.b AS z
      FROM e e1 JOIN e e2 ON e1.b = e2.a
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    corners AS (
      SELECT x AS node FROM tri
      UNION ALL SELECT y FROM tri
      UNION ALL SELECT z FROM tri
    ),
    tpn AS (SELECT node, CAST(count(*) AS BIGINT) AS triangles
            FROM corners GROUP BY node),
    deg AS (
      SELECT node, CAST(count(*) AS BIGINT) AS degree FROM (
        SELECT a AS node FROM e UNION ALL SELECT b AS node FROM e
      ) GROUP BY node
    )
    SELECT d.node, d.degree,
           CAST(coalesce(t.triangles, 0) AS BIGINT) AS triangles,
           round(CAST(2 * coalesce(t.triangles, 0) AS DOUBLE)
                 / CAST(d.degree * (d.degree - 1) AS DOUBLE), 6)
             AS clustering_coeff
    FROM deg d LEFT JOIN tpn t USING (node)
    WHERE d.degree >= 2
    """,
    doc="Per-node local clustering coefficient over the MinHash "
    "near-dup graph (Watts-Strogatz): 2*tri(v)/(deg(v)*(deg(v)-1)) — "
    "the node-level refinement of the global triangle count; cc ~= 1 "
    "marks clique-like duplicate families (safe to canonicalize "
    "aggressively), cc ~= 0 marks transitivity-artifact hubs. Exact "
    "BIGINT triangle/degree counts from the same ordered a<b<c wedge "
    "join as neardup_triangle_count, each triangle exploded to its "
    "three corners into a map-side-combinable per-node agg; ONE "
    "terminal division. Oracle CTEs materialized (the kcore lesson: "
    "inlining re-expands the MinHash pipeline per reference).",
)
def q_neardup_clustering_coeff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from flink_anomaly_spark.operators.graph import local_clustering_coeff

    docs = load_table(spark, sf_dir, "documents")
    pairs = minhash_near_dup_pairs(
        docs, id_col="doc_id", text_col="text", k_shingle=3,
        num_perm=_NUM_PERM, bands=_BANDS, jaccard_threshold=0.5,
    )
    return local_clustering_coeff(
        pairs.select(F.col("id1").alias("a"), F.col("id2").alias("b"))
    )
