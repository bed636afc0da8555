"""Deduplication operators for training-data pipelines.

- exact: hash-groupBy on content (or md5 fingerprint at 100 TB so the
  shuffle key is 16 bytes, not the document);
- minhash_lsh / simhash / ngram_jaccard: near-duplicate detection, all
  built on DETERMINISTIC md5-derived hashing — identical results in the
  DuckDB oracle (both engines produce the same md5 hex). Each pipeline
  has a pure-Catalyst reference path (built-in higher-order array
  functions, no Python) and, as the DEFAULT, an Arrow-vectorized pandas
  UDF twin for the per-row shingle/hash CPU (Catalyst evaluates
  higher-order array functions interpreted, outside codegen); the twins
  are asserted bit-identical against the Catalyst path in tests.

Scale design: every pipeline is shuffle-minimal — shingle→minhash is
per-row (narrow); candidate generation shuffles on (band, signature)
buckets whose cardinality is tunable; verification joins only within
buckets. This is the standard MinHash-LSH plan used at web scale.
"""

from __future__ import annotations

import hashlib
import re

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F

from flink_anomaly_spark.partitioning import spread
from flink_anomaly_spark.resources import persist, truncator
# Re-exported for perfbench/batch.py, which imports it from here; new
# callers import it from flink_anomaly_spark.resources.
from flink_anomaly_spark.resources import release_cached  # noqa: F401

# 61-bit Mersenne prime — all (a*h+b) % P arithmetic stays in int64
# without overflow concerns for h < 2^60.
MERSENNE_P = (1 << 61) - 1

#: (a, b) parameter pairs for the universal-hash permutation family.
#: Fixed constants so Spark and the DuckDB oracle agree exactly.
PERM_PARAMS: list[tuple[int, int]] = [
    (a, b)
    for a, b in zip(
        [370373, 714481, 160597, 931211, 939167, 552463, 350111, 114649,
         239233, 475087, 291559, 800969, 642151, 989561, 311317, 133303],
        [841187, 242417, 563173, 175261, 129379, 703897, 867451, 440509,
         229487, 985213, 345179, 771109, 134863, 553381, 912391, 274591],
    )
]


def md5_long(col: Column) -> Column:
    """First 15 hex chars of md5 as a BIGINT (60 bits, non-negative).

    Deterministic and engine-portable: DuckDB's
    ``CAST('0x'||substr(md5(x),1,15) AS BIGINT)`` yields the identical
    value, which is what makes the near-dup oracles exact.
    """
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def md5_int32(col: Column) -> Column:
    """First 8 hex chars of md5 as a BIGINT in [0, 2^32).

    Small enough that ``a * h + b`` with a ≤ ~1e6 stays far inside
    int64 — required because DuckDB raises on int64 overflow (Spark
    would silently wrap, so staying in range keeps both engines exact
    AND identical).
    """
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def shingles(col: Column, k: int = 3) -> Column:
    """Word k-shingles of a text column as an array of strings.

    Built-in only: split → filter empties → sliding join via transform
    over an index sequence.
    """
    toks = F.filter(F.split(col, r"\s+"), lambda t: t != "")
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n >= k,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, k))),
    ).otherwise(F.array(F.concat_ws(" ", toks)))


def minhash_signature(shingle_col: Column, num_perm: int = 8) -> Column:
    """MinHash signature: for each permutation p, min over shingles of
    ``(a_p * md5_int32(shingle) + b_p) mod P``.

    Single fold over the shingle hashes — each md5 is computed exactly
    once (a per-permutation array_min formulation re-evaluates the md5
    inside every permutation's pass; Catalyst's CollapseProject inlines
    rather than CSEs it — measured ~8× slower). Pure array expressions:
    whole-stage codegen, no shuffle, no UDF. min is order-insensitive,
    so the oracle's per-permutation list_min yields identical values.
    """
    hashes = F.transform(shingle_col, md5_int32)
    init = F.array_repeat(F.lit(MERSENNE_P).cast("bigint"), num_perm)
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.array(*[(F.lit(a) * h + F.lit(b)) % F.lit(MERSENNE_P) for a, b in PERM_PARAMS[:num_perm]]),
            lambda x, y: F.least(x, y),
        ),
    )


def shingle_sig_pandas(k_shingle: int = 3, num_perm: int = 8) -> Column:
    """Vectorized Pandas-UDF twin of ``array_distinct(shingles(...))`` +
    ``minhash_signature(...)`` — bit-identical (asserted in tests) but
    several-fold faster: Catalyst evaluates higher-order array functions
    interpreted (no whole-stage codegen), while hashlib's C md5 plus a
    tight loop does the same work per Arrow batch.

    Returns ``struct<sh: array<string>, sig: array<bigint>>``.
    re.ASCII keeps ``\\s`` identical to Java's ASCII ``\\s`` (same note
    as ``simhash60_pandas``). NULL text maps to the single empty shingle
    [''] — equal to the Catalyst path, where ``concat_ws`` coalesces the
    null token array to '' (equivalence pinned by a null-text row in
    ``test_shingle_sig_pandas_equals_catalyst``).
    """
    params = PERM_PARAMS[:num_perm]

    @F.pandas_udf("struct<sh: array<string>, sig: array<bigint>>")
    def _shingle_sig(texts: pd.Series) -> pd.DataFrame:
        ws = re.compile(r"\s+", re.ASCII)
        shs, sigs = [], []
        for t in texts:
            toks = [x for x in ws.split(t or "") if x]
            if len(toks) >= k_shingle:
                grams = [
                    " ".join(toks[i : i + k_shingle])
                    for i in range(len(toks) - k_shingle + 1)
                ]
            else:
                grams = [" ".join(toks)]
            grams = list(dict.fromkeys(grams))  # distinct, first-occurrence order
            hs = [int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams]
            sigs.append(
                [min((a * h + b) % MERSENNE_P for h in hs) for a, b in params]
            )
            shs.append(grams)
        return pd.DataFrame({"sh": shs, "sig": sigs})

    return _shingle_sig


def shingles_pandas(k_shingle: int = 3) -> Column:
    """Vectorized Pandas-UDF twin of ``array_distinct(shingles(...))`` —
    the shingle-only sibling of :func:`shingle_sig_pandas` for pipelines
    that need grams but no MinHash signature (n-gram Jaccard). Same
    tokenization (re.ASCII ``\\s+``), same NULL-text → [''] invariant,
    asserted bit-identical against the Catalyst path in tests.
    """

    @F.pandas_udf("array<string>")
    def _shingles(texts: pd.Series) -> pd.Series:
        ws = re.compile(r"\s+", re.ASCII)
        out = []
        for t in texts:
            toks = [x for x in ws.split(t or "") if x]
            if len(toks) >= k_shingle:
                grams = [
                    " ".join(toks[i : i + k_shingle])
                    for i in range(len(toks) - k_shingle + 1)
                ]
            else:
                grams = [" ".join(toks)]
            out.append(list(dict.fromkeys(grams)))
        return pd.Series(out)

    return _shingles


def gram_hashes_pandas(n: int) -> Column:
    """Vectorized Pandas-UDF twin of the Catalyst per-position gram
    hash ``transform(sequence(1, size(toks)-n+1), i ->
    md5_long(concat_ws(' ', slice(toks, i, n))))`` — one ``bigint``
    per 1-based gram start, empty when the document has fewer than
    ``n`` words.

    Same tokenization contract as :func:`shingles_pandas`
    (re.ASCII ``\\s+``, identical to text.tokens), and
    ``int(hashlib.md5(g).hexdigest()[:15], 16)`` is bit-identical to
    ``conv(substring(md5(g), 1, 15), 16, 10)`` — asserted against the
    Catalyst expression in tests. The HOF form evaluates its
    md5+concat lambda INTERPRETED (outside whole-stage codegen, tens
    of µs per gram); hashlib's C md5 under Arrow batching is ~10×
    cheaper, which dominates span_dedup_clean's wall-clock.
    """

    @F.pandas_udf("array<bigint>")
    def _gram_hashes(texts: pd.Series) -> pd.Series:
        ws = re.compile(r"\s+", re.ASCII)
        out = []
        for t in texts:
            toks = [x for x in ws.split(t or "") if x]
            if len(toks) >= n:
                out.append(
                    [
                        int(
                            hashlib.md5(
                                " ".join(toks[i : i + n]).encode()
                            ).hexdigest()[:15],
                            16,
                        )
                        for i in range(len(toks) - n + 1)
                    ]
                )
            else:
                out.append([])
        return pd.Series(out)

    return _gram_hashes


def exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Exact dedup via content fingerprint: one row per distinct content
    with the (min) surviving id and the duplicate count.

    Grouping on the 16-byte md5 rather than the raw content keeps the
    shuffle narrow at 100 TB; payload columns travel as min/first aggs.
    """
    return (
        df.withColumn("fingerprint", F.md5(F.col(content_col)))
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def normalize_text(col: Column) -> Column:
    """C4/Gopher-style canonical text form: lowercase, every non-
    alphanumeric run collapsed to one space, trimmed. Pure Catalyst
    (lower + one regexp_replace + trim — zero UDF, zero shuffle);
    '[^a-z0-9]+' has identical semantics in Java regex and DuckDB's
    RE2, so the oracle mirrors it verbatim."""
    return F.trim(F.regexp_replace(F.lower(col), "[^a-z0-9]+", " "))


def normalized_exact_dedup(df: DataFrame, content_col: str, id_col: str) -> DataFrame:
    """Fuzzy-exact dedup: documents identical AFTER text normalization
    (case / punctuation / whitespace insensitive) — the cheap
    normalize-then-hash pass C4 and Gopher run before any MinHash,
    catching reformatted copies that byte-exact dedup misses.

    Per-document output (id, norm_hash, is_empty, group_size,
    is_canonical): the canonical survivor is the min id of each
    normalized group. Documents whose NORMALIZED form is empty
    (punctuation/whitespace-only, empty, or NULL text) are NOT
    duplicates of each other — they get ``norm_hash`` NULL,
    ``is_empty`` true, and a singleton group (ADVICE r6: the old
    md5('') group reported unrelated docs as copies). The window key
    falls back to the document id for those rows, so the
    would-be-giant all-empty partition never exists — each empty row
    is its own partition (group_size 1, canonical by construction).
    Plan: normalization is zero-shuffle codegen; the group stats are
    window aggregates over the 32-hex-char hash key — ONE shuffle
    carrying (id, hash) + payload-free rows, and duplicate groups are
    tiny so the key space is skew-free at any corpus size."""
    from pyspark.sql import Window

    norm = normalize_text(F.col(content_col))
    key = F.when(F.length(norm) > 0, F.md5(norm))
    w = Window.partitionBy(
        F.coalesce(F.col("norm_hash"), F.col(id_col).cast("string"))
    )
    return (
        df.select(F.col(id_col), key.alias("norm_hash"))
        .withColumn("is_empty", F.col("norm_hash").isNull())
        .withColumn("group_size", F.count("*").over(w))
        .withColumn(
            "is_canonical", F.col(id_col) == F.min(id_col).over(w)
        )
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    num_perm: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    vectorized: bool = True,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """MinHash + LSH banding near-duplicate pairs.

    Plan (all narrow until the band shuffle):
      1. per-row: shingle → minhash signature (array expressions);
      2. explode into ``bands`` band-keys: md5 of the band's slice of
         the signature — the band join shuffles ONLY (id, band, bucket),
         never the shingle arrays;
      3. self-join within band buckets → candidate id pairs (id1 < id2),
         deduplicated across bands;
      4. join candidates back to the (id, shingle-set) table twice and
         verify with exact Jaccard via array_intersect/union sizes.

    At 100 TB this is the standard LSH plan: candidate count is bounded
    by bucket collisions (tunable via bands×rows), and the wide shingle
    payload only travels for verified candidates.

    ``max_bucket_size`` is the web-scale skew guard: a band bucket hit
    by N documents emits N² candidate pairs, so one boilerplate flood
    (cookie banners, license headers) can turn a single bucket
    quadratic while every other task finishes. Setting a cap DROPS
    buckets with more than that many members before the self-join —
    the standard mitigation in production LSH dedup (oversized buckets
    are non-discriminative; their members are near-dups of half the
    corpus and are better handled by the exact/boilerplate passes).
    The bucket-count window partitions on the same (band, bucket) keys
    the join shuffles on, so the guard rides the exchange the join
    needs anyway. Recall loss is confined to the dropped buckets and
    the other bands still cover their pairs at normal sizes.
    """
    if num_perm % bands != 0:
        raise ValueError(
            f"num_perm ({num_perm}) must be divisible by bands ({bands}); "
            "a remainder would silently drop trailing signature entries "
            "from every band and degrade LSH recall"
        )
    rows_per_band = num_perm // bands
    # shingling+hashing is per-row CPU-bound; don't let a single
    # input split serialize it (spread = conditional repartition)
    base = spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")))
    if vectorized:
        # Arrow-batched pandas path (default): bit-identical to the
        # Catalyst expressions below (cross-checked in tests), several×
        # faster because Catalyst runs higher-order array functions
        # interpreted
        projected = base.withColumn(
            "__b", shingle_sig_pandas(k_shingle, num_perm)(F.col("__text"))
        ).select("id", F.col("__b.sh").alias("sh"), F.col("__b.sig").alias("sig"))
    else:
        projected = base.select(
            "id", F.array_distinct(shingles(F.col("__text"), k_shingle)).alias("sh")
        ).withColumn("sig", minhash_signature(F.col("sh"), num_perm))
    # three plan branches consume sig (banding + two verification
    # joins); without persist the shingle+md5 projection — the
    # dominant CPU cost — re-executes in each branch
    sig = persist(projected)

    banded = sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))

    if max_bucket_size is not None:
        from pyspark.sql import Window

        n_in_bucket = F.count("*").over(Window.partitionBy("band", "bucket"))
        banded = (
            banded.withColumn("__n", n_in_bucket)
            .filter(F.col("__n") <= max_bucket_size)
            .drop("__n")
        )

    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bucket"])
        .select(F.col("l.id").alias("id1"), F.col("r.id").alias("id2"))
        .filter(F.col("id1") < F.col("id2"))
        .distinct()
    )
    shingle_sets = sig.select("id", "sh")
    verified = (
        cand.join(shingle_sets.select(F.col("id").alias("id1"), F.col("sh").alias("sh1")), "id1")
        .join(shingle_sets.select(F.col("id").alias("id2"), F.col("sh").alias("sh2")), "id2")
    )
    inter = F.size(F.array_intersect("sh1", "sh2"))
    uni = F.size(F.array_union("sh1", "sh2"))
    return (
        verified.withColumn("jaccard", F.round(inter / uni, 4))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id1", "id2", "jaccard")
    )


def connected_components(
    pairs: DataFrame,
    nodes: DataFrame,
    max_iterations: int = 20,
    reliable_checkpoint_dir: str | None = None,
    algorithm: str = "auto",
    escalate_after: int = 6,
) -> DataFrame:
    """Connected components over near-dup pairs → canonical cluster ids
    (min node id per component) — turns pairwise similarity into
    transitive dedup clusters.

    ``pairs``: columns (id1, id2). ``nodes``: column (id) — required so
    singleton documents appear as their own cluster.

    The loop's working set is the EDGE LIST / active vertex set only:
    vertices outside any pair never enter the iteration (they join back
    once at the end), so at 100 TB the per-round shuffles are sized by
    |near-dup edges| — tiny after LSH verification — not by |corpus|.
    The candidate-pair pipeline (LSH banding + verification joins) is
    materialized exactly once up front; every round iterates on
    checkpointed blocks with the lineage truncated (else the plan grows
    exponentially). Convergence is detected with ``Observation`` metrics
    collected DURING the checkpoint job — no separate count job per
    round.

    Algorithms (equivalence property-tested):

    - ``"label_prop"``: min-label propagation — each active node takes
      the min label among itself and its neighbors per round; 2 shuffles
      per round, rounds = graph diameter. Optimal for the shallow
      (diameter ≤ ~4) components near-dup graphs actually produce.
    - ``"star"``: the alternating large-star/small-star contraction
      (Kiveris et al., "Connected Components in MapReduce and Beyond",
      SoCC'14): each alternation re-points strictly-larger neighbors
      (large-star) then smaller neighbors (small-star) at the
      neighborhood minimum; the edge set contracts to a star forest
      centered at each component's minimum in O(log d) alternations.
      ~5 shuffles per alternation, so it only beats label_prop on DEEP
      (chain-shaped) graphs — measured 3.2 s vs 2.3 s end-to-end at
      sf0.1 where components have diameter ≤ 2.
    - ``"auto"`` (default): label_prop for up to ``escalate_after``
      rounds — the fast path for real near-dup graphs — then, if still
      unconverged (pathologically deep components), switches to the
      star contraction for the remaining budget. Shallow-graph speed
      with the O(log d) worst-case bound.

    Raises instead of returning partial labels when ``max_iterations``
    is exhausted before the fixpoint.
    """
    if algorithm not in ("auto", "label_prop", "star"):
        raise ValueError(
            f"unknown algorithm {algorithm!r}: use 'auto', 'label_prop' or 'star'"
        )
    _truncate = truncator(pairs, reliable_checkpoint_dir)
    # materialize the candidate-pair pipeline ONCE; the symmetric /
    # canonical edge views below are cheap projections of these blocks
    p = _truncate(pairs.select(F.col("id1"), F.col("id2")))

    labels: DataFrame | None = None
    rounds_used = 0
    if algorithm in ("auto", "label_prop"):
        budget = min(escalate_after, max_iterations) if algorithm == "auto" else max_iterations
        labels, rounds_used = _cc_label_prop_loop(p, _truncate, budget)
        if labels is None and algorithm == "label_prop":
            raise _cc_nonconvergence(max_iterations)
    if labels is None and algorithm in ("auto", "star"):
        budget = max_iterations if algorithm == "star" else max_iterations - rounds_used
        labels = _cc_star_loop(p, _truncate, budget)
        if labels is None:
            raise _cc_nonconvergence(max_iterations)
    assert labels is not None
    return nodes.join(labels, "id", "left").select(
        F.col("id"), F.coalesce(F.col("lab"), F.col("id")).alias("cluster_id")
    )


def _cc_nonconvergence(max_iterations: int) -> RuntimeError:
    return RuntimeError(
        f"connected_components did not converge in {max_iterations} "
        "iterations (component diameter exceeds the budget) — raise "
        "max_iterations; returning partial labels would be silently wrong"
    )


def _cc_label_prop_loop(p: DataFrame, _truncate, budget: int):
    """Min-label propagation over the active subgraph of the
    materialized pair table ``p``. Returns ``(labels, rounds_used)``
    where labels is an (id, lab) DataFrame over ACTIVE nodes only, or
    ``(None, budget)`` if the budget was exhausted before the fixpoint.
    """
    # symmetric edge view — NO distinct: the per-round min-aggregation
    # is duplicate-insensitive, so deduplicating would only add a shuffle
    edges = p.select(F.col("id1").alias("src"), F.col("id2").alias("dst")).unionAll(
        p.select(F.col("id2").alias("src"), F.col("id1").alias("dst"))
    )
    labels: DataFrame | None = None
    for rnd in range(budget):
        obs = Observation()
        if labels is None:
            # round 1 specialization: lab(u) = min(u ∪ N(u)) is ONE
            # groupBy over the symmetric edges — no initial label table,
            # no join, and it already resolves every diameter-≤2
            # component (the common near-dup case)
            first = F.least(F.col("mn"), F.col("src"))
            plan = (
                edges.groupBy("src")
                .agg(F.min("dst").alias("mn"))
                .select(
                    F.col("src").alias("id"),
                    first.alias("lab"),
                    (first != F.col("src")).alias("chg"),
                )
            )
        else:
            neighbor_min = (
                edges.join(labels.withColumnRenamed("id", "dst_id"), edges.dst == F.col("dst_id"))
                .groupBy("src")
                .agg(F.min("lab").alias("nlab"))
            )
            new_lab = F.least(F.col("lab"), F.coalesce(F.col("nlab"), F.col("lab")))
            plan = labels.join(neighbor_min, labels.id == neighbor_min.src, "left").select(
                "id", new_lab.alias("lab"), (new_lab != F.col("lab")).alias("chg")
            )
        # the change count rides along with the checkpoint
        # materialization — convergence detection costs no extra job
        new_labels = _truncate(
            plan.observe(obs, F.sum(F.col("chg").cast("long")).alias("n_chg"))
        )
        labels = new_labels.drop("chg")
        if (obs.get.get("n_chg") or 0) == 0:
            return labels, rnd + 1
    return None, budget


def _cc_star_loop(p: DataFrame, _truncate, budget: int):
    """Alternating large-star/small-star contraction over the
    materialized pair table ``p``. Edges are kept canonical as (hi, lo)
    with lo < hi; at the fixpoint they form a star forest whose centers
    are the component minima. Returns an (id, lab) DataFrame over
    active nodes, or ``None`` if the budget was exhausted."""
    edges = _truncate(
        p.select(F.greatest("id1", "id2").alias("hi"), F.least("id1", "id2").alias("lo"))
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )
    stats = edges.agg(
        F.count("*").alias("n"), F.sum("hi").alias("shi"), F.sum("lo").alias("slo")
    ).first()
    converged = stats["n"] == 0
    for _ in range(budget):
        if converged:
            break
        # large-star: for every node u, point each strictly-larger
        # neighbor v at m = min(N(u) ∪ {u}) — one groupBy + one join
        sym = edges.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionAll(
            edges.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
        )
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("mn"), F.col("u"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("hi"), m.alias("lo"))
        )
        # small-star on the large-star output (all edges already point
        # hi → lo): re-point each smaller neighbor (and u itself) at
        # m = min of u's smaller neighborhood
        smins = large.groupBy("hi").agg(F.min("lo").alias("m"))
        small = (
            smins.select(F.col("hi"), F.col("m").alias("lo"))
            .unionAll(
                large.join(smins, "hi")
                .filter(F.col("lo") != F.col("m"))
                .select(F.col("lo").alias("hi"), F.col("m").alias("lo"))
            )
            .distinct()
        )
        # one checkpoint per alternation (large feeds small lazily in
        # the same plan). Fast-path convergence signal: (count, Σhi, Σlo)
        # collected during the checkpoint job; only when the stats are
        # unchanged is the DEFINITIVE set-compare run (equal count +
        # empty difference ⇔ fixpoint, both sides distinct), so the
        # exceptAll job typically runs exactly once, at convergence.
        obs = Observation()
        new_edges = _truncate(
            small.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum("hi").alias("shi"),
                F.sum("lo").alias("slo"),
            )
        )
        new_stats = obs.get
        maybe_fixpoint = (
            new_stats.get("n") == stats["n"]
            and new_stats.get("shi") == stats["shi"]
            and new_stats.get("slo") == stats["slo"]
        )
        converged = maybe_fixpoint and new_edges.exceptAll(edges).limit(1).count() == 0
        edges = new_edges
        stats = {"n": new_stats.get("n"), "shi": new_stats.get("shi"), "slo": new_stats.get("slo")}
    if not converged:
        return None
    # star forest → labels: children point at their center; centers and
    # singletons label themselves via the caller's left-join fallback
    return edges.select(F.col("hi").alias("id"), F.col("lo").alias("lab"))


def simhash60(text_col: Column, k_shingle: int = 2, n_bits: int = 60) -> Column:
    """SimHash-style fingerprint (bit-majority over shingle hashes) on
    the 60 bits of md5_long. Bit positions are unrolled in Python so the
    whole expression is static Catalyst code (and 1:1 mirrorable in the
    DuckDB oracle's list_filter form). Returned as BIGINT.
    """
    hashes = shingles(text_col, k_shingle)
    hvals = F.transform(hashes, md5_long)
    n = F.size(hvals)
    # Single pass over the shingle hashes: expand each hash to its
    # 60-bit indicator vector once, then element-wise-sum the vectors.
    # (The naive 60×F.filter formulation recomputes md5 per bit — 60×
    # the work; measured 215s → ~4s at sf0.1.)
    bitvecs = F.transform(
        hvals,
        lambda h: F.array(
            *[(h.bitwiseAND(F.lit(1 << b)) != 0).cast("long") for b in range(n_bits)]
        ),
    )
    counts = F.aggregate(
        bitvecs,
        F.array_repeat(F.lit(0).cast("long"), n_bits),
        lambda acc, x: F.zip_with(acc, x, lambda a, v: a + v),
    )
    out = F.lit(0).cast("bigint")
    for b in range(n_bits):
        out = out + F.when(
            F.element_at(counts, b + 1) * 2 > n, F.lit(1 << b).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return out


def simhash60_pandas() -> Column:
    """Vectorized Pandas-UDF SimHash — bit-identical to ``simhash60``
    (asserted in tests) but ~13× faster: the 60-bit Catalyst expression
    tree exceeds codegen limits and falls back to interpreted eval,
    while numpy does the bit-majority in one vectorized pass per doc.

    The regex uses re.ASCII so ``\\s`` matches Java's (Spark's) ASCII
    ``\\s`` — Python's default is Unicode-aware and would tokenize
    differently on non-ASCII whitespace.
    """

    @F.pandas_udf("long")
    def _simhash(texts: pd.Series) -> pd.Series:
        ws = re.compile(r"\s+", re.ASCII)
        out = []
        for t in texts:
            toks = [x for x in ws.split(t or "") if x]  # NULL text → like empty
            grams = (
                [" ".join(toks[i : i + 2]) for i in range(len(toks) - 1)]
                if len(toks) >= 2
                else [" ".join(toks)]
            )
            hs = np.array(
                [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams],
                dtype=np.uint64,
            )
            n = len(hs)
            bits = ((hs[:, None] >> np.arange(60, dtype=np.uint64)) & np.uint64(1)).sum(0)
            out.append(int((np.uint64(1) << np.arange(60, dtype=np.uint64))[bits * 2 > n].sum()))
        return pd.Series(out, dtype="int64")

    return _simhash


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bands: int = 4,
    max_hamming: int = 3,
    n_bits: int = 60,
) -> DataFrame:
    """SimHash near-duplicate pairs via band bucketing — the classic
    web-scale simhash dedup plan (Manku et al., WWW'07 "Detecting
    Near-Duplicates for Web Crawling").

    Pigeonhole: split the ``n_bits`` fingerprint into ``bands`` chunks;
    two fingerprints within Hamming distance ``max_hamming < bands``
    MUST agree exactly on at least one chunk. So candidates = pairs
    sharing any (band, chunk) key — the shuffle carries only
    (id, band, 15-bit chunk, fingerprint), never text — and the
    ``bit_count(xor) <= max_hamming`` verification makes the output
    EXACTLY the set of all pairs within the Hamming budget (no recall
    loss; the brute-force quadratic scan is therefore a valid oracle).
    """
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}): the "
            "pigeonhole guarantee fails otherwise and banding silently "
            "loses recall"
        )
    if n_bits % bands != 0:
        raise ValueError(f"bands ({bands}) must divide n_bits ({n_bits})")
    width = n_bits // bands
    mask = (1 << width) - 1
    fps = persist(
        spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))).select(
            "id", simhash60_pandas()(F.col("__text")).alias("fp")
        )
    )
    banded = fps.select(
        "id",
        "fp",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftright(F.col("fp"), b * width).bitwiseAND(F.lit(mask)).alias("chunk"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", "fp", F.col("bk.band").alias("band"), F.col("bk.chunk").alias("chunk"))
    hamming = F.bit_count(F.col("fp1").bitwiseXOR(F.col("fp2")))
    return (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "chunk"])
        .filter(F.col("l.id") < F.col("r.id"))
        .select(
            F.col("l.id").alias("id1"),
            F.col("r.id").alias("id2"),
            F.col("l.fp").alias("fp1"),
            F.col("r.fp").alias("fp2"),
        )
        # a pair can share several bands — dedupe before emitting
        .distinct()
        .filter(hamming <= max_hamming)
        .select("id1", "id2", hamming.cast("int").alias("hamming"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.3,
    block_col: str | None = None,
    vectorized: bool = False,
    hash_grams: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard pairs within a blocking key (e.g. same
    source), via an INVERTED-INDEX join instead of an all-pairs scan:

      1. explode distinct shingles → postings (blk, shingle, id);
      2. self-join postings on (blk, shingle) → one row per SHARED
         shingle per pair; groupBy(id1, id2) count = |A∩B| directly;
      3. join back per-doc shingle counts: |A∪B| = |A|+|B|−|A∩B|.

    Cost is Σ per-shingle postings² — pairs sharing nothing never
    materialize (they can't pass any threshold > 0), vs O(|block|²)
    array intersections for the naive plan (measured ~4× faster at
    sf0.1, and the gap widens with block size). At web scale, cap or
    drop ultra-common shingles first (they add candidates, not signal) —
    that changes results, so it's not done here.

    ``vectorized=True`` swaps the Catalyst shingle expressions for the
    Arrow-batched :func:`shingles_pandas` twin (bit-identical, asserted
    in tests). Unlike minhash — where the signature's md5+permutation
    CPU dominates and the pandas twin wins ~1.4× — plain shingling is
    cheap string slicing, and the Arrow transfer of the ``array<string>``
    grams costs more than interpreted eval saves (measured 1.9 s vs
    1.1 s at sf0.1), so the default here stays ``False``.

    ``hash_grams=True`` (default) joins postings on the 60-bit
    ``md5_long`` of each gram instead of the gram string — a fixed-width
    8-byte shuffle key instead of a multi-word string (measured ~20%
    faster at sf0.1, and the byte savings grow with gram length). The
    oracle applies the identical md5 transform, so results stay
    hash-identical across engines even in the (≈2⁻⁶⁰) collision case;
    ``hash_grams=False`` keeps the raw-string join for exact-semantics
    comparisons (equivalence asserted in tests).
    """
    base = spread(
        df.select(
            F.col(id_col).alias("id"),
            *([F.col(block_col).alias("blk")] if block_col else [F.lit(1).alias("blk")]),
            F.col(text_col).alias("__text"),
        )
    )
    gram_col = (
        shingles_pandas(n)(F.col("__text"))
        if vectorized
        else F.array_distinct(shingles(F.col("__text"), n))
    )
    # persist the per-doc gram ARRAYS (not the exploded postings): the
    # sizes branch then reads |sh| with a narrow scan of the cache — an
    # exploded-postings cache was tried and measured ~0.6 s slower at
    # sf0.1 because sizes turns into an extra groupBy shuffle
    sh = persist(base.select("id", "blk", gram_col.alias("sh")))
    sizes = sh.select("id", F.size("sh").alias("n_sh"))
    postings = sh.select("blk", F.col("id"), F.explode("sh").alias("s"))
    if hash_grams:
        postings = postings.select("blk", "id", md5_long(F.col("s")).alias("s"))
    inter = (
        postings.alias("a")
        .join(postings.alias("b"), ["blk", "s"])
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count("*").alias("inter"))
    )
    joined = (
        inter.join(sizes.select(F.col("id").alias("id1"), F.col("n_sh").alias("n1")), "id1")
        .join(sizes.select(F.col("id").alias("id2"), F.col("n_sh").alias("n2")), "id2")
    )
    uni = F.col("n1") + F.col("n2") - F.col("inter")
    return (
        joined.withColumn("jaccard", F.round(F.col("inter") / uni, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


def minhash_estimate_accuracy(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    num_perm: int = 8,
    bands: int = 4,
) -> DataFrame:
    """Index-quality self-evaluation for MinHash: over the LSH candidate
    pairs (NO Jaccard threshold), compare the signature-agreement
    estimate (matching components / num_perm — the textbook unbiased
    Jaccard estimator) against the true shingle Jaccard, and report the
    aggregate error profile plus the decision confusion at the 0.5
    near-dup threshold. The eval a dedup deployment runs before
    trusting estimate-only (verification-free) pair dropping.

    Same plan shape as :func:`minhash_near_dup_pairs`; the extra cost is
    carrying the num_perm-long signature through the two candidate
    joins instead of dropping it after banding.
    """
    rows_per_band = num_perm // bands
    base = spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")))
    projected = base.withColumn(
        "__b", shingle_sig_pandas(k_shingle, num_perm)(F.col("__text"))
    ).select("id", F.col("__b.sh").alias("sh"), F.col("__b.sig").alias("sig"))
    sig = persist(projected)
    banded = sig.select(
        "id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bk"),
    ).select("id", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))
    cand = (
        banded.alias("l")
        .join(banded.alias("r"), ["band", "bucket"])
        .select(F.col("l.id").alias("id1"), F.col("r.id").alias("id2"))
        .filter(F.col("id1") < F.col("id2"))
        .distinct()
    )
    sides = sig.select("id", "sh", "sig")
    paired = cand.join(
        sides.select(F.col("id").alias("id1"), F.col("sh").alias("sh1"), F.col("sig").alias("sig1")),
        "id1",
    ).join(
        sides.select(F.col("id").alias("id2"), F.col("sh").alias("sh2"), F.col("sig").alias("sig2")),
        "id2",
    )
    agree = F.aggregate(
        F.zip_with("sig1", "sig2", lambda a, b: (a == b).cast("long")),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    est = agree / F.lit(float(num_perm))
    true = F.round(
        F.size(F.array_intersect("sh1", "sh2")) / F.size(F.array_union("sh1", "sh2")), 4
    )
    scored = paired.select(est.alias("est"), true.alias("true_j"))
    return scored.agg(
        F.count("*").alias("n_candidate_pairs"),
        F.round(F.avg(F.abs(F.col("est") - F.col("true_j"))), 4).alias("mean_abs_err"),
        F.round(F.max(F.abs(F.col("est") - F.col("true_j"))), 4).alias("max_abs_err"),
        F.count(F.when((F.col("est") >= 0.5) & (F.col("true_j") >= 0.5), 1)).alias("true_pos"),
        F.count(F.when((F.col("est") >= 0.5) & (F.col("true_j") < 0.5), 1)).alias("false_pos"),
        F.count(F.when((F.col("est") < 0.5) & (F.col("true_j") >= 0.5), 1)).alias("false_neg"),
    )


def minhash_pairs_between(
    df: DataFrame,
    id_col: str,
    text_col: str,
    tag_col: str,
    left_tag: str,
    right_tag: str,
    k_shingle: int = 3,
    num_perm: int = 8,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
) -> DataFrame:
    """Cross-set MinHash-LSH near-dup pairs: candidates ONLY between the
    ``left_tag`` partition and the ``right_tag`` partition of ``df``
    (e.g. existing corpus × incoming batch). Same shingle→signature→
    band pipeline as :func:`minhash_near_dup_pairs` — one Arrow pass
    over ALL rows, computed once — but the band self-join keys on
    (band, bucket) with ``l.tag = left_tag AND r.tag = right_tag``, so
    intra-set candidate pairs are never materialized: at 100 TB an
    incremental dedup run pays |batch|-sized candidate lists, not the
    |corpus|² the full pairwise op would re-derive.

    Returns (id1 ∈ left, id2 ∈ right, jaccard).
    """
    if num_perm % bands != 0:
        raise ValueError(f"num_perm ({num_perm}) must be divisible by bands ({bands})")
    rows_per_band = num_perm // bands
    base = spread(
        df.select(
            F.col(id_col).alias("id"),
            F.col(tag_col).alias("tag"),
            F.col(text_col).alias("__text"),
        )
    )
    projected = base.withColumn(
        "__b", shingle_sig_pandas(k_shingle, num_perm)(F.col("__text"))
    ).select("id", "tag", F.col("__b.sh").alias("sh"), F.col("__b.sig").alias("sig"))
    sig = persist(projected)

    banded = sig.select(
        "id",
        "tag",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.md5(
                        F.concat_ws(
                            ",",
                            F.transform(
                                F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                                lambda x: x.cast("string"),
                            ),
                        )
                    ).alias("bucket"),
                ),
            )
        ).alias("bk"),
    ).select("id", "tag", F.col("bk.band").alias("band"), F.col("bk.bucket").alias("bucket"))

    cand = (
        banded.filter(F.col("tag") == left_tag)
        .alias("l")
        .join(banded.filter(F.col("tag") == right_tag).alias("r"), ["band", "bucket"])
        .select(F.col("l.id").alias("id1"), F.col("r.id").alias("id2"))
        .distinct()
    )
    shingle_sets = sig.select("id", "sh")
    verified = (
        cand.join(shingle_sets.select(F.col("id").alias("id1"), F.col("sh").alias("sh1")), "id1")
        .join(shingle_sets.select(F.col("id").alias("id2"), F.col("sh").alias("sh2")), "id2")
    )
    inter = F.size(F.array_intersect("sh1", "sh2"))
    uni = F.size(F.array_union("sh1", "sh2"))
    return (
        verified.withColumn("jaccard", F.round(inter / uni, 4))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id1", "id2", "jaccard")
    )


def prefix_filter_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = 0.6,
    k_shingle: int = 4,
) -> DataFrame:
    """Exact token-set Jaccard pairs ≥ ``threshold`` via PREFIX
    FILTERING (PPJoin family; the MapReduce formulation is Vernica et
    al., SIGMOD'10 "Efficient Parallel Set-Similarity Joins Using
    MapReduce"): instead of indexing every token of every document
    (Σ postings² candidate cost), each document indexes only its
    ``|x| − ⌈t·|x|⌉ + 1`` RAREST tokens — any pair with J ≥ t must
    share one of them under a global token order, so the result set is
    provably identical while the candidate join runs over a fraction
    of the postings, concentrated on low-frequency (short-postings)
    tokens. The frequent tokens — exactly the ones whose postings²
    blow up an unfiltered inverted index at web scale — never enter
    the index.

    The set elements are ``k_shingle``-gram shingles, not unigrams: on
    a small-vocabulary corpus unigram SETS collapse (most docs share
    most words — measured 71k pairs ≥0.6 over 500 synthetic docs,
    where 4-gram sets give 25), and an undiscriminative element
    universe is exactly where prefix filtering loses its pruning power.

    Plan: shingle → global doc-frequency agg → postings⋈freq →
    per-doc rank window (df asc, gram asc) → prefix postings
    self-join → exact verify via the full shingle arrays. Every shuffle
    key is a gram or an id; full shingle arrays travel only to verify
    surviving candidates.
    """
    # zero-token docs (shingles() maps them to ['']) are dropped by
    # filtering the RAW text for a non-whitespace char — equivalent to
    # the oracle's len(token_list) > 0, and crucially CHEAP where
    # Catalyst puts it: a predicate on the computed shingle column gets
    # pushed below the spread() exchange into the (possibly single-
    # split) scan stage, serializing the entire shingle computation
    # into one task (measured 3.2 s vs 0.2 s at sf0.1)
    base = spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text")).filter(
            F.col("__text").rlike(r"\S")
        )
    )
    toksets = persist(
        base.select(
            "id",
            F.array_distinct(shingles(F.col("__text"), k_shingle)).alias("toks"),
        )
    )
    # 60-bit md5 of each gram as the posting/join key: 8 fixed bytes on
    # every exchange instead of a multi-word string. Any TOTAL order
    # works for prefix selection as long as both occurrences of a gram
    # sort identically — (df asc, hash asc) keeps the
    # rarest-first property that gives prefix filtering its pruning
    # power, and the ~2^-60 collision chance only ever ADDS a candidate
    # (the exact verify removes it), never drops a true pair.
    postings = toksets.select(
        "id", F.size("toks").alias("sz"), F.explode("toks").alias("__tok")
    ).select("id", "sz", md5_long(F.col("__tok")).alias("tok"))
    from pyspark.sql import Window

    # df as an analytic count over the tok partitioning: ONE exchange on
    # tok (vs the agg + join-back form's two postings-sized exchanges)
    df_w = F.count("*").over(Window.partitionBy("tok"))
    w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("tok").asc())
    ranked = postings.withColumn("df", df_w).withColumn("rnk", F.row_number().over(w))
    # prefix size |x| - ceil(t*|x|) + 1, integer-only ceil
    tnum, tden = int(round(threshold * 10000)), 10000
    prefix_len = F.col("sz") - F.expr(f"CAST((sz * {tnum} + {tden} - 1) div {tden} AS INT)") + 1
    prefix = ranked.filter(F.col("rnk") <= prefix_len).select("tok", "id")
    cand = (
        prefix.alias("l")
        .join(prefix.alias("r"), "tok")
        .filter(F.col("l.id") < F.col("r.id"))
        .select(F.col("l.id").alias("id1"), F.col("r.id").alias("id2"))
        .distinct()
    )
    sets = toksets.select("id", "toks")
    verified = (
        cand.join(sets.select(F.col("id").alias("id1"), F.col("toks").alias("t1")), "id1")
        .join(sets.select(F.col("id").alias("id2"), F.col("toks").alias("t2")), "id2")
    )
    inter = F.size(F.array_intersect("t1", "t2"))
    uni = F.size(F.array_union("t1", "t2"))
    return (
        verified.withColumn("jaccard", F.round(inter / uni, 4))
        .filter(F.col("jaccard") >= threshold)
        .select("id1", "id2", "jaccard")
    )


# ---------------------------------------------------------------------------
# Exact substring-span dedup removal (Lee et al. 2022 style)
# ---------------------------------------------------------------------------


def _starts_to_intervals(starts_col: str, n: int):
    """Fold a column of (unsorted) 1-based n-gram start positions into
    disjoint, sorted (lo, hi) cover intervals: each start covers
    ``[s, s+n-1]``; overlapping or ADJACENT (gap ≤ 1) intervals merge.
    O(n_starts) per row after one array_sort. Shared by the removal
    (:func:`span_dedup_clean`) and detection
    (:func:`exact_substring_spans`) halves of the Lee et al. span
    machinery."""
    empty_iv = F.array().cast("array<struct<lo:int,hi:int>>")
    return F.aggregate(
        F.array_sort(starts_col),
        empty_iv,
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= F.element_at(acc, -1)["hi"] + 1),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(
                    F.struct(
                        F.element_at(acc, -1)["lo"].alias("lo"),
                        F.greatest(
                            F.element_at(acc, -1)["hi"], s + (n - 1)
                        ).alias("hi"),
                    )
                ),
            ),
        ).otherwise(
            F.concat(
                acc,
                F.array(F.struct(s.alias("lo"), (s + (n - 1)).alias("hi"))),
            )
        ),
    )


def exact_substring_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Suffix-array-style exact-substring duplicate DETECTION — the
    find-maximal-repeats half of Lee et al. 2022 §4 (``ExactSubstr``):
    one row per MAXIMAL duplicated word-span per document, where a
    span is duplicated when every length-``n`` window inside it occurs
    at least ``min_count`` times corpus-wide (within- or
    cross-document).

    Equivalence to the paper's suffix-array formulation, up to two
    documented approximations: (1) granularity is the word ``n``-gram,
    not the byte — a duplicated substring shorter than ``n`` words is
    invisible (the paper's threshold plays the same role); (2) two
    distinct maximal repeats separated by a gap of < 1 word report as
    one span (the interval merge is coverage-level, not
    occurrence-aligned). Within those, coverage is exact: a duplicated
    substring of w ≥ n words contributes exactly its w − n + 1 windows,
    all duplicated, and their merged cover is the substring itself.

    Output: ``(id_col, span_start, span_end, span_words, span_text)``
    (1-based inclusive word positions). Documents with no duplicated
    span emit nothing — this is the detection/report view; use
    :func:`span_dedup_clean` for the removal transform.

    Scale shape: identical floor to span_dedup_clean — gram spans
    travel as (id, start, hash64) triples, the duplicate-gram set is a
    hash-only self-aggregation, and the interval merge is per-row
    array math over one bounded starts array (O(n_words) per doc).
    Two shuffles: the gram-count groupBy and the postings join.
    """
    from flink_anomaly_spark.operators.text import tokens

    base = spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")))
    d = base.select("id", tokens(F.col("__t")).alias("toks"))
    g = (
        base.select(
            "id", F.posexplode(gram_hashes_pandas(n)(F.col("__t"))).alias("__p0", "gh")
        )
        .select("id", (F.col("__p0") + 1).alias("start"), "gh")
    )
    dup = g.groupBy("gh").count().filter(F.col("count") >= min_count).select("gh")
    dup_starts = (
        g.join(dup, "gh").groupBy("id").agg(F.collect_list("start").alias("dups"))
    )
    spans = (
        d.join(dup_starts, "id")
        .withColumn("iv", F.explode(_starts_to_intervals("dups", n)))
        .select(
            F.col("id").alias(id_col),
            F.col("iv.lo").cast("bigint").alias("span_start"),
            F.col("iv.hi").cast("bigint").alias("span_end"),
            (F.col("iv.hi") - F.col("iv.lo") + 1).cast("bigint").alias("span_words"),
            F.array_join(
                F.slice("toks", F.col("iv.lo"), F.col("iv.hi") - F.col("iv.lo") + 1),
                " ",
            ).alias("span_text"),
        )
    )
    return spans


def span_dedup_clean(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_count: int = 2,
) -> DataFrame:
    """Corpus-wide duplicated-span REMOVAL — the transform step of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better"): any word ``n``-gram occurring at least ``min_count`` times
    across the whole corpus (within- or cross-document) marks its span;
    every word covered by a marked span is dropped and the document is
    re-emitted from the surviving words.

    Variant note: where the paper's suffix-array pipeline keeps ONE
    copy of each duplicated substring, this operator removes EVERY
    occurrence — the conservative choice when duplicated spans are
    boilerplate/contamination, and the one that is order-independent
    (keeping "the first" copy would make output depend on a global
    document order, which a distributed corpus does not have).

    Returns ``(id_col, n_words, n_removed, removed_frac,
    cleaned_text)`` for every input document (docs shorter than ``n``
    words pass through untouched).

    Scale shape: gram spans leave the scan as ``(id, start, hash64)``
    triples — never gram text; the duplicate-gram set is a hash-only
    self-aggregation; marked starts come back as one bounded int array
    per document; reconstruction is per-row array math. Two shuffles
    total (gram-count groupBy + the postings join), same floor as
    cross_doc_repeated_ngrams.

    Reconstruction is O(n_words + n_spans) per row: the marked starts
    are sorted once, folded into disjoint ``(lo, hi)`` intervals, and
    the kept indices are emitted as the GAPS between intervals — never
    a per-word scan over the span list (the naive
    ``filter(seq, j -> !exists(spans, ...))`` form is
    O(n_words × n_spans), quadratic on boilerplate-heavy documents).
    Zero-token documents yield an empty gap sweep (no
    ``element_at`` is ever evaluated on an empty array), matching the
    oracle's clean empty row.
    """
    from flink_anomaly_spark.operators.text import tokens

    base = spread(df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t")))
    d = base.select("id", tokens(F.col("__t")).alias("toks"))
    # per-doc gram hashes at each 1-based start (empty when < n words);
    # vectorized C-md5 path — the Catalyst HOF twin
    # transform(sequence(...), i -> md5_long(concat_ws(' ', slice(toks,
    # i, n)))) is bit-identical (test-asserted) but evaluates its
    # md5+concat lambda interpreted, ~10× slower per gram
    g = (
        base.select("id", F.posexplode(gram_hashes_pandas(n)(F.col("__t"))).alias("__p0", "gh"))
        .select("id", (F.col("__p0") + 1).alias("start"), "gh")
    )
    dup = g.groupBy("gh").count().filter(F.col("count") >= min_count).select("gh")
    dup_starts = g.join(dup, "gh").groupBy("id").agg(F.collect_list("start").alias("dups"))
    joined = d.join(dup_starts, "id", "left").withColumn(
        "dups", F.coalesce(F.col("dups"), F.array().cast("array<int>"))
    )
    # Fold the sorted marked starts into disjoint (lo, hi) cover
    # intervals, then emit kept indices as the gaps between
    # them: [prev_hi+1, next_lo-1] for consecutive intervals, with
    # sentinels hi=0 before the first and lo=n_words+1 after the last.
    merged = _starts_to_intervals("dups", n)
    gap_his = F.concat(
        F.array(F.lit(0)), F.transform(merged, lambda x: x["hi"])
    )
    gap_los = F.concat(
        F.transform(merged, lambda x: x["lo"]),
        F.array(F.size("toks") + 1),
    )
    kept = F.flatten(
        F.zip_with(
            gap_his,
            gap_los,
            lambda h, lo: F.when(
                h + 1 <= lo - 1, F.sequence(h + 1, lo - 1)
            ).otherwise(F.array().cast("array<int>")),
        )
    )
    out = joined.withColumn("__kept", kept).select(
        F.col("id").alias(id_col),
        F.size("toks").cast("bigint").alias("n_words"),
        (F.size("toks") - F.size("__kept")).cast("bigint").alias("n_removed"),
        F.round(
            (F.size("toks") - F.size("__kept"))
            / F.greatest(F.size("toks"), F.lit(1)).cast("double"),
            4,
        ).alias("removed_frac"),
        F.array_join(
            F.transform("__kept", lambda j: F.element_at("toks", j)), " "
        ).alias("cleaned_text"),
    )
    return out


def edit_distance_near_dup(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_cols: list[str],
    band_chars: int = 100,
    threshold: int = 60,
    ascii_only: bool = True,
) -> DataFrame:
    """Edit-distance (Levenshtein) near-duplicate pairs within blocks —
    the record-linkage workhorse for short-to-medium documents, exact
    where MinHash is probabilistic.

    Completeness contract: within a ``block_cols`` block, EVERY pair
    with edit distance ≤ ``threshold`` is returned. Two prunes make
    that affordable and lose nothing:

    - ``|len(a) − len(b)| ≤ threshold`` — a true lower bound of
      Levenshtein (each missing char costs ≥ 1 edit);
    - length bands of ``band_chars`` (> threshold) — a qualifying pair
      can span at most ADJACENT bands, so the join keeps
      ``|band_a − band_b| ≤ 1`` (pigeonhole, not a heuristic).

    Distance semantics: Spark's levenshtein counts CHARACTERS while
    DuckDB's counts BYTES — they diverge on any multibyte text (é→a is
    1 vs 2). ``ascii_only=True`` (the default, mirrored in the
    registered oracle) therefore strips non-ASCII characters from both
    engines' inputs before the distance, making the cross-engine
    contract exact by construction; pass False for pure char-based
    Spark semantics when no oracle parity is needed.

    Plan (measured at sf0.1: 273 s naive → 0.2 s warm):

    - an equi-join on the block key. Nothing is FORCED broadcast: at
      this test scale Catalyst's size stats pick a broadcast-hash join
      (the whole projection is a few MB); past
      autoBroadcastJoinThreshold it becomes a shuffle join on the
      block key, where blocks meet only their own partition's rows —
      the shape that survives 100 TB;
    - the edit distance runs BANDED via Spark's 3-arg
      ``levenshtein(l, r, threshold)`` (returns -1 above the cutoff,
      exact below, so kept pairs are identical to the full
      computation). Catalyst pushes the ``lev >= 0`` filter into the
      join's residual condition ahead of the cheap band/length
      conjuncts — which measured FASTER than fencing it out: the
      banded implementation's first move is the length-gap early exit,
      so the "expensive" conjunct is O(1) for the majority of block
      pairs the prunes would have removed, and evaluating it join-side
      means only final survivors reach the downstream exchange. (The
      273 s naive version's sin was the UN-banded 2-arg lev in that
      same position, plus a single-task join stage at one input
      split.)
    - survivors are round-robin repartitioned so any downstream
      consumer starts from an even, parallel layout rather than the
      join stage's.

    Block sizes bound the quadratic term at 100 TB; pick block_cols so
    blocks stay ≤ ~10^4 rows (the MinHash max_bucket_size
    consideration) and fall back to LSH for anything coarser.
    """
    if band_chars <= threshold:
        raise ValueError(
            f"band_chars ({band_chars}) must exceed threshold ({threshold}) "
            "for the adjacent-band pigeonhole to be complete"
        )
    t = F.col(text_col)
    if ascii_only:
        t = F.regexp_replace(t, r"[^\x00-\x7F]", "")
    proj = df.select(
        F.col(id_col).alias("id"),
        t.alias("t"),
        F.length(t).alias("n"),
        F.floor(F.length(t) / band_chars).alias("band"),
        *[F.col(c) for c in block_cols],
    )
    # The probe side MUST be repartitioned before the join: the corpus
    # projection is often a handful of input splits (at sf0.1 it is ONE
    # 600 KB parquet file), and under a broadcast-hash join the join's
    # parallelism equals the streamed side's split count — round 6's
    # driver bench measured 12.0 s because the whole ~500k-pair
    # levenshtein ran in a single task. Round-robin over 2×cores costs
    # one exchange of the narrow projection (~1.5 MB at sf0.1) and buys
    # full-core parallelism; at 100 TB the corpus has thousands of
    # splits and the exchange merely evens them out. Pinned by
    # tests/test_plan_contracts.py::test_edit_distance_probe_side_parallel.
    ncpu = df.sparkSession.sparkContext.defaultParallelism
    a = proj.repartition(2 * ncpu).alias("a")
    b = proj.alias("b")
    cond = (F.col(f"a.{block_cols[0]}") == F.col(f"b.{block_cols[0]}"))
    for c in block_cols[1:]:
        cond = cond & (F.col(f"a.{c}") == F.col(f"b.{c}"))
    cond = (
        cond
        & (F.col("a.id") < F.col("b.id"))
        & (F.abs(F.col("a.band") - F.col("b.band")) <= 1)
        & (F.abs(F.col("a.n") - F.col("b.n")) <= threshold)
    )
    cands = a.join(b, cond).select(
        F.col("a.id").alias("id_a"),
        F.col("b.id").alias("id_b"),
        F.col("a.t").alias("ta"),
        F.col("b.t").alias("tb"),
    )
    return (
        cands.withColumn(
            "lev", F.levenshtein(F.col("ta"), F.col("tb"), threshold)
        )
        .filter(F.col("lev") >= 0)
        .select("id_a", "id_b", F.col("lev").cast("bigint").alias("lev"))
        .repartition(2 * ncpu)
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 6,
    threshold: int = 80,
    key_chars: int = 16,
    part_chars: int = 1,
) -> DataFrame:
    """Sorted-neighborhood near-dup pairs (Hernández & Stolfo, SIGMOD
    1995): sort the corpus by a normalized blocking key, slide a
    ``window``-row neighborhood down the sorted order, and verify each
    in-window candidate pair with banded Levenshtein — the classic
    record-linkage blocking strategy that trades LSH's probabilistic
    recall for a DETERMINISTIC candidate set linear in the corpus
    (exactly (window−1)·n candidates, vs block-join's per-block n²).

    Spark-first plan, no global sort:

    1. key = first ``key_chars`` of the lowercased alphanumeric
       projection of the ASCII text (ASCII first: byte-wise lower is
       identical across engines, so the oracle can mirror it).
    2. Global ordinal via the TWO-PHASE rank idiom (global_rank_export):
       row_number within ``part_chars``-prefix partitions of the key +
       a broadcast cumulative-count offset per prefix — the total order
       (key, id) without funnelling the corpus through one task. A
       longer prefix buys more parallelism at scale.
    3. Each row explodes into ``window−1`` successor probes
       (rank + 1 … rank + window−1); an equi-join on rank pairs every
       row with its window — a plain hash shuffle on an 8-byte key.
    4. Verify: length-gap prune (a true Levenshtein lower bound), then
       3-arg ``levenshtein(a, b, threshold)`` whose early exit makes
       over-threshold pairs cheap.

    Known SNM property (not a bug): near-dups that differ in the key
    prefix land far apart and are missed — production runs multi-pass
    with rotated keys; this is the single-pass operator.
    """
    from pyspark.sql import Window as W

    t = F.regexp_replace(F.col(text_col), r"[^\x00-\x7F]", "")
    base = df.select(
        F.col(id_col).alias("id"),
        t.alias("t"),
    ).select(
        "id",
        "t",
        F.length("t").alias("n"),
        F.substring(
            F.regexp_replace(F.lower(F.col("t")), "[^a-z0-9]", ""), 1, key_chars
        ).alias("key"),
    )
    base = base.withColumn("pfx", F.substring("key", 1, part_chars))
    per = F.row_number().over(W.partitionBy("pfx").orderBy("key", "id"))
    offs = F.broadcast(
        base.groupBy("pfx")
        .agg(F.count("*").alias("cnt"))
        .select(
            "pfx",
            (
                F.sum("cnt").over(
                    W.orderBy("pfx").rowsBetween(W.unboundedPreceding, W.currentRow)
                )
                - F.col("cnt")
            ).alias("off"),
        )
    )
    ranked = persist(
        base.join(offs, "pfx").select(
            "id", "t", "n", (per + F.col("off")).cast("bigint").alias("rk")
        )
    )
    probes = ranked.select(
        F.col("id").alias("id2"),
        F.col("t").alias("t2"),
        F.col("n").alias("n2"),
        F.col("rk").alias("rk2"),
        F.explode(F.sequence(F.lit(1), F.lit(window - 1))).alias("__i"),
    ).select(
        "id2", "t2", "n2", (F.col("rk2") - F.col("__i")).alias("rk")
    )
    cands = (
        ranked.join(probes, "rk")
        .filter(F.abs(F.col("n") - F.col("n2")) <= threshold)
        .select("id", "id2", "t", "t2")
    )
    return (
        cands.withColumn("lev", F.levenshtein(F.col("t"), F.col("t2"), threshold))
        .filter(F.col("lev") >= 0)
        .select(
            F.col("id").alias("id_a"),
            F.col("id2").alias("id_b"),
            F.col("lev").cast("bigint").alias("lev"),
        )
    )


def _snm_pass_pairs(
    keyed: DataFrame, window: int, part_chars: int
) -> DataFrame:
    """One sorted-neighborhood pass over a pre-keyed frame
    (id, n, key): two-phase global rank (prefix-partitioned row_number
    + broadcast cumulative offsets — no single-task sort), then the
    (window−1) successor probes joined on the 8-byte rank. Emits
    CANONICAL id pairs (id_lo < id_hi) only — texts are joined back
    once after the cross-pass union, so pass candidates never shuffle
    document bytes."""
    from pyspark.sql import Window as W

    base = keyed.withColumn("pfx", F.substring("key", 1, part_chars))
    per = F.row_number().over(W.partitionBy("pfx").orderBy("key", "id"))
    offs = F.broadcast(
        base.groupBy("pfx")
        .agg(F.count("*").alias("cnt"))
        .select(
            "pfx",
            (
                F.sum("cnt").over(
                    W.orderBy("pfx").rowsBetween(W.unboundedPreceding, W.currentRow)
                )
                - F.col("cnt")
            ).alias("off"),
        )
    )
    ranked = base.join(offs, "pfx").select(
        "id", (per + F.col("off")).cast("bigint").alias("rk")
    )
    probes = ranked.select(
        F.col("id").alias("id2"),
        F.col("rk").alias("rk2"),
        F.explode(F.sequence(F.lit(1), F.lit(window - 1))).alias("__i"),
    ).select("id2", (F.col("rk2") - F.col("__i")).alias("rk"))
    return (
        ranked.join(probes, "rk")
        .select(
            F.least("id", "id2").alias("id_lo"),
            F.greatest("id", "id2").alias("id_hi"),
        )
    )


def sorted_neighborhood_multipass(
    df: DataFrame,
    id_col: str,
    text_col: str,
    window: int = 6,
    threshold: int = 80,
    key_chars: int = 16,
    part_chars: int = 1,
) -> DataFrame:
    """MULTI-PASS sorted-neighborhood near-dup pairs (Hernández &
    Stolfo, SIGMOD 1995 — the multi-pass variant their paper
    prescribes): near-dups whose difference falls in the blocking-key
    prefix land far apart in that sort order and are missed by a
    single pass (the documented recall gap of
    :func:`sorted_neighborhood_pairs`), so production SNM runs the
    window over SEVERAL rotated keys and unions the candidates. Three
    deterministic keys here:

    - P0 forward: first ``key_chars`` of the normalized text (the
      single-pass key — multipass output is a superset by
      construction);
    - P1 reversed: same prefix of the REVERSED normalization (catches
      edits near the head, e.g. a changed title);
    - P2 token-sorted: prefix of the alphabetically-sorted token
      concatenation (catches word-order moves, which spoil both
      character orders).

    Candidates from the three passes are canonicalized (id_lo <
    id_hi), set-unioned, and verified ONCE: texts join back on the id
    (pass candidates carry only 8-byte ids, never document bytes),
    then the length-gap prune and one banded 3-arg levenshtein. Each
    pass contributes exactly (window−1)·n candidates, so the verify
    input is ≤ 3(window−1)·n rows — still linear in the corpus, vs
    block-join's per-block n².
    """
    t = F.regexp_replace(F.col(text_col), r"[^\x00-\x7F]", "")
    norm = F.regexp_replace(F.lower(F.col("t")), "[^a-z0-9]", "")
    toksorted = F.concat_ws(
        "",
        F.sort_array(
            F.filter(
                F.split(F.lower(F.col("t")), "[^a-z0-9]+"), lambda x: x != ""
            )
        ),
    )
    base = persist(
        df.select(F.col(id_col).alias("id"), t.alias("t")).select(
            "id",
            "t",
            F.length("t").alias("n"),
            F.substring(norm, 1, key_chars).alias("k0"),
            F.substring(F.reverse(norm), 1, key_chars).alias("k1"),
            F.substring(toksorted, 1, key_chars).alias("k2"),
        )
    )
    passes = [
        _snm_pass_pairs(
            base.select("id", F.col(kc).alias("key")), window, part_chars
        )
        for kc in ("k0", "k1", "k2")
    ]
    cands = passes[0]
    for p in passes[1:]:
        cands = cands.unionByName(p)
    # the distinct's output is a tiny id-pair exchange that AQE
    # coalesces to ~1 partition — which would serialize the banded
    # levenshtein below into a single task (measured 5.3 s of the 8 s
    # total at sf0.1; the round-6 edit_distance lesson). A round-robin
    # repartition of the 16-byte pairs restores full-core parallelism
    # for the one CPU-bound stage.
    ncpu = df.sparkSession.sparkContext.defaultParallelism
    cands = cands.distinct().repartition(2 * ncpu)
    lo = base.select(
        F.col("id").alias("id_lo"), F.col("t").alias("t_lo"), F.col("n").alias("n_lo")
    )
    hi = base.select(
        F.col("id").alias("id_hi"), F.col("t").alias("t_hi"), F.col("n").alias("n_hi")
    )
    return (
        cands.join(lo, "id_lo")
        .join(hi, "id_hi")
        .filter(F.abs(F.col("n_lo") - F.col("n_hi")) <= threshold)
        .withColumn("lev", F.levenshtein(F.col("t_lo"), F.col("t_hi"), threshold))
        .filter(F.col("lev") >= 0)
        .select(
            F.col("id_lo").alias("id_a"),
            F.col("id_hi").alias("id_b"),
            F.col("lev").cast("bigint").alias("lev"),
        )
    )


def containment_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 4,
    tau: float = 0.6,
    max_postings: int = 64,
) -> DataFrame:
    """Asymmetric shingle-CONTAINMENT pairs (Broder 1997's c(A,B) =
    |S(A)∩S(B)| / |S(A)|, the companion to resemblance/Jaccard): flags
    quote/boilerplate INCLUSION — a short doc embedded in a long one —
    which symmetric Jaccard structurally misses (the union denominator
    drowns the small side).

    Same inverted-index join shape as :func:`ngram_jaccard_pairs`
    (postings on 60-bit hashed grams, intersection = count of shared
    postings, per-doc sizes joined back), plus the web-scale guard that
    operator deliberately omits: grams appearing in more than
    ``max_postings`` documents are dropped from the index BEFORE the
    self-join (they contribute postings² candidate rows and mostly
    stopword signal). Both containment directions are evaluated; the
    pair survives when either side is ``tau``-contained. Denominators
    are the FULL per-doc distinct-gram counts (capping prunes
    candidates, not the measure's scale).
    """
    base = spread(
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    )
    sh = persist(
        base.select(
            "id",
            F.array_distinct(shingles(F.col("__text"), n)).alias("sh"),
        )
    )
    sizes = sh.select("id", F.size("sh").alias("n_sh"))
    posts = sh.select("id", F.explode("sh").alias("g")).select(
        "id", md5_long(F.col("g")).alias("s")
    )
    keep = posts.groupBy("s").agg(F.count("*").alias("df_s")).filter(
        F.col("df_s") <= max_postings
    )
    capped = posts.join(keep.select("s"), "s")
    inter = (
        capped.alias("a")
        .join(capped.alias("b"), "s")
        .filter(F.col("a.id") < F.col("b.id"))
        .groupBy(F.col("a.id").alias("id1"), F.col("b.id").alias("id2"))
        .agg(F.count("*").cast("bigint").alias("inter"))
    )
    joined = inter.join(
        sizes.select(F.col("id").alias("id1"), F.col("n_sh").alias("n1")), "id1"
    ).join(sizes.select(F.col("id").alias("id2"), F.col("n_sh").alias("n2")), "id2")
    cont_a = F.round(F.col("inter") / F.col("n1"), 4)
    cont_b = F.round(F.col("inter") / F.col("n2"), 4)
    return (
        joined.withColumn("cont_a", cont_a)
        .withColumn("cont_b", cont_b)
        .filter(F.greatest(F.col("cont_a"), F.col("cont_b")) >= tau)
        .select("id1", "id2", "inter", "cont_a", "cont_b")
    )


# ---------------------------------------------------------------------------
# All-pairs binary cosine over shingle sets (Bayardo et al., WWW'07)
# ---------------------------------------------------------------------------


def allpairs_binary_cosine(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k_shingle: int = 3,
    max_df: int = 20,
    tau2_num: int = 1,
    tau2_den: int = 4,
) -> DataFrame:
    """All document pairs with BINARY cosine similarity >= tau over
    their k-shingle sets (the all-pairs similarity-search problem of
    Bayardo, Ma & Srikant WWW'07): with 0/1 shingle-indicator vectors,
    ``cos(A,B) = |A inter B| / sqrt(|A|*|B|)`` — the set-similarity
    cousin of Jaccard that length-normalizes asymmetrically, so a
    short near-copy of a long page still scores high.

    Exact integer threshold: a pair passes iff
    ``tau2_den * c^2 >= tau2_num * |A| * |B|`` (tau^2 = num/den as a
    RATIONAL literal — no float compare decides membership); the
    reported cosine is one division + sqrt over exact BIGINTs. The
    shingle universe drops shingles with document frequency >
    ``max_df`` (the Bayardo maxweight idea in its bluntest form): hot
    shingles generate the quadratic postings blow-up while carrying no
    pair signal, so the inverted-index self-join is bounded by
    ``max_df^2/2`` pairs per surviving shingle — a tunable cap
    independent of corpus size, exactly like containment_dup_pairs'
    ``max_postings``. Sizes |A| are counted over the SAME capped
    universe so the cosine is internally consistent.
    """
    # spread BEFORE the shingle explode: a single small parquet file
    # arrives as ONE split, serializing the whole interpreted-HOF
    # shingle pass into one task — measured 4.0 s -> 0.7 s at sf0.1
    # (the prefix_filter_jaccard_pairs precedent); no-op on an
    # already-split 100 TB scan (r12 optimization)
    sh = spread(df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__t"))).select(
        "__id",
        F.explode(F.array_distinct(shingles(F.col("__t"), k_shingle))).alias("__t"),
    )
    sh = persist(sh)
    keep = sh.groupBy("__t").agg(F.count("*").alias("__df")).filter(
        F.col("__df") <= max_df
    )
    # persisted: the capped postings feed THREE consumers (per-doc
    # sizes + both sides of the inverted-index self-join). Exchange
    # reuse does NOT cover this — the r12 plan audit found the
    # join-above-the-cache subtree (df-cap agg + join) executed FOUR
    # times in the final adaptive plan; at 100 TB that is four
    # corpus-shingle passes instead of one (r12 optimization).
    postings = persist(sh.join(keep.select("__t"), "__t"))
    sizes = postings.groupBy("__id").agg(F.count("*").cast("bigint").alias("__sz"))
    a = postings.select(F.col("__id").alias("id1"), "__t")
    b = postings.select(F.col("__id").alias("id2"), "__t")
    co = (
        a.join(b, "__t")
        .filter(F.col("id1") < F.col("id2"))
        .groupBy("id1", "id2")
        .agg(F.count("*").cast("bigint").alias("__c"))
    )
    sized = (
        co.join(sizes.withColumnRenamed("__id", "id1").withColumnRenamed("__sz", "__sa"), "id1")
        .join(sizes.withColumnRenamed("__id", "id2").withColumnRenamed("__sz", "__sb"), "id2")
        .filter(
            F.lit(tau2_den) * F.col("__c") * F.col("__c")
            >= F.lit(tau2_num) * F.col("__sa") * F.col("__sb")
        )
    )
    return sized.select(
        "id1",
        "id2",
        F.col("__c").alias("n_common"),
        F.round(
            F.col("__c").cast("double")
            / F.sqrt((F.col("__sa") * F.col("__sb")).cast("double")),
            6,
        ).alias("cos_sim"),
    )
