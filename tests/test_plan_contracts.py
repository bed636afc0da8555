"""Physical-plan contract tests: the ".explain and iterate" loop,
codified. A regression here means a silent 10× at scale even if results
stay correct."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flink_anomaly_spark.plans.contracts import (
    assert_broadcast_join,
    assert_column_pruned,
    assert_parquet_pushdown,
    assert_single_shuffle,
    assert_take_ordered,
    assert_whole_stage_codegen,
    physical_plan,
)
from flink_anomaly_spark.plans.registry import all_queries
from tests.conftest import SF_SMOKE

_Q = all_queries()


def test_filter_pushes_to_parquet(spark):
    """filter_project's predicates must reach the parquet scan."""
    df = _Q["filter_project"](spark, SF_SMOKE)
    assert_parquet_pushdown(df, "c_acctbal")
    assert_parquet_pushdown(df, "c_mktsegment")


def test_projection_prunes_columns(spark):
    """map_upper reads only (doc_id, text) — lang/source/n_chars must be
    pruned from the scan's ReadSchema."""
    df = _Q["map_upper"](spark, SF_SMOKE)
    assert_column_pruned(df, "n_chars")
    assert_column_pruned(df, "source")


def test_dim_joins_broadcast(spark):
    """revenue_by_nation must broadcast the nation/region dims (they are
    O(25) rows at every scale factor)."""
    df = _Q["revenue_by_nation"](spark, SF_SMOKE)
    assert_broadcast_join(df)


def test_topk_plans_take_ordered(spark):
    """Global top-k must be TakeOrderedAndProject, not sort+limit —
    the difference between O(k·p) driver merge and a global sort
    shuffle at 100 TB."""
    df = _Q["topk_orders"](spark, SF_SMOKE)
    assert_take_ordered(df)


def test_q1_is_codegen(spark):
    """TPC-H Q1's scan→filter→partial-agg must be inside
    WholeStageCodegen spans (no interpreted row processing)."""
    df = _Q["tpch_q1_pricing"](spark, SF_SMOKE)
    assert_whole_stage_codegen(df)


def test_running_concat_single_shuffle(spark):
    """The flagship window query needs exactly one hash exchange (on
    event_type) — partition once, sort in partition, emit."""
    df = _Q["flagship_running_concat"](spark, SF_SMOKE)
    assert_single_shuffle(df)


def test_asof_join_single_shuffle(spark):
    """asof_join is union + one window: a second exchange would mean the
    union-tag trick regressed into a join."""
    df = _Q["asof_last_signup"](spark, SF_SMOKE)
    assert_single_shuffle(df)


def test_semi_join_stays_semi(spark):
    """left_semi must not degrade into inner+distinct."""
    plan = physical_plan(_Q["customers_with_orders_semi"](spark, SF_SMOKE))
    assert "LeftSemi" in plan, plan


def test_partitioned_write_prunes_partitions(spark, tmp_path):
    """Writing partitioned parquet and filtering on the partition column
    must produce PartitionFilters at the scan (directory pruning — the
    difference between reading 1/k and all of 100 TB)."""
    from flink_anomaly_spark.sinks import write_parquet
    from flink_anomaly_spark.tables import load_table

    events = load_table(spark, SF_SMOKE, "events")
    out = str(tmp_path / "by_type")
    write_parquet(events, out, partition_by=["event_type"])
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    plan = physical_plan(back)
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1].split("]")[0], plan
    assert back.count() == events.filter(F.col("event_type") == "click").count()


def test_csv_json_roundtrip(spark, tmp_path):
    """CSV/JSON source connectors: write → read with explicit schema →
    identical rows (no inference anywhere)."""
    from flink_anomaly_spark.sources.readers import read_csv, read_json
    from flink_anomaly_spark.tables import load_table

    cust = load_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_name", "c_acctbal")
    schema = "c_custkey long, c_name string, c_acctbal double"
    csv_dir, json_dir = str(tmp_path / "csv"), str(tmp_path / "json")
    cust.write.option("header", "true").csv(csv_dir)
    cust.write.json(json_dir)
    expect = {(r.c_custkey, r.c_name, r.c_acctbal) for r in cust.collect()}
    got_csv = {(r.c_custkey, r.c_name, r.c_acctbal) for r in read_csv(spark, csv_dir, schema).collect()}
    got_json = {(r.c_custkey, r.c_name, r.c_acctbal) for r in read_json(spark, json_dir, schema).collect()}
    assert got_csv == expect
    assert got_json == expect


def test_exact_dedup_partial_agg(spark):
    """Hash agg on md5 fingerprint must have a map-side partial phase
    (two HashAggregate nodes around the exchange)."""
    plan = physical_plan(_Q["exact_dedup"](spark, SF_SMOKE))
    assert plan.count("HashAggregate") >= 2, plan


def test_spread_noops_on_well_split_input(spark):
    """`spread` must NOT inject a round-robin shuffle when the input
    already has >= defaultParallelism partitions — at 100 TB the scan is
    already thousands of splits and an unconditional repartition would
    shuffle the whole corpus for nothing."""
    from flink_anomaly_spark.operators.text import text_profile
    from flink_anomaly_spark.partitioning import spread
    from flink_anomaly_spark.plans.contracts import assert_no_roundrobin_exchange

    par = spark.sparkContext.defaultParallelism
    # range(numPartitions=2*par) is well-split WITHOUT any exchange in
    # the plan — exactly what a 100 TB parquet scan looks like
    docs = spark.range(0, 1000, 1, par * 2).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("document body "), F.col("id")).alias("text"),
    )
    assert docs.rdd.getNumPartitions() == par * 2
    assert spread(docs) is docs  # identity, not just shuffle-free
    assert_no_roundrobin_exchange(text_profile(docs, "doc_id", "text"))


def test_spread_widens_single_split_input(spark):
    """The local flip side: a one-split input (single small parquet
    file) must be widened so per-row CPU work parallelizes."""
    from flink_anomaly_spark.partitioning import spread
    from flink_anomaly_spark.tables import load_table

    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, SF_SMOKE, "documents").coalesce(1)
    assert docs.rdd.getNumPartitions() == 1
    assert spread(docs).rdd.getNumPartitions() >= par


def test_simhash_pairs_no_cartesian(spark):
    """Banded simhash pairs must plan hash equi-joins on (band, chunk) —
    a CartesianProduct / nested-loop join would mean the banding key was
    lost and the plan regressed to all-pairs."""
    plan = physical_plan(_Q["simhash_near_dup_pairs"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_decontamination_no_cartesian(spark):
    """The eval-grams × train-grams containment join must stay a hash
    equi-join on the gram string."""
    plan = physical_plan(_Q["ngram_decontamination"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_ewma_single_shuffle(spark):
    """The lag-sum EWMA is one analytic window: exactly one hash
    exchange on the key."""
    assert_single_shuffle(_Q["ewma_smoothing"](spark, SF_SMOKE))


def test_stratified_sample_zero_shuffle_pushdown(spark):
    """Stratified sampling must stay a pure filter scan: no Exchange of
    any kind and the text column pruned away."""
    df = _Q["stratified_sample_by_lang"](spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "Exchange" not in plan, f"stratified sample must not shuffle:\n{plan}"
    assert_column_pruned(df, "text")


def test_gopher_flags_prune_and_codegen(spark):
    """The quality filter reads only (doc_id, text); rule arithmetic
    stays in codegen spans."""
    df = _Q["gopher_quality_flags"](spark, SF_SMOKE)
    assert_column_pruned(df, "lang")
    assert_column_pruned(df, "n_chars")


def test_ohlc_single_shuffle_no_sort(spark):
    """OHLC bars: one hash exchange on (window, event_type), and NO
    global Sort node — min_by/max_by replace the per-window orderBy a
    naive plan would use."""
    from flink_anomaly_spark.plans.contracts import assert_single_shuffle

    df = _Q["ohlc_resample"](spark, SF_SMOKE)
    assert_single_shuffle(df)
    plan = physical_plan(df)
    assert "Sort [" not in plan.replace("SortAggregate", ""), (
        f"unexpected sort in OHLC plan:\n{plan}"
    )


def test_tpch_q10_broadcasts_nation_and_take_ordered(spark):
    df = _Q["tpch_q10_returns"](spark, SF_SMOKE)
    assert_broadcast_join(df)
    assert_take_ordered(df)


def test_int8_quantize_no_shuffle_after_build(spark):
    """The quantize ENCODE plan is narrow: index build (min/max) happens
    before plan construction, so the returned DataFrame must contain no
    aggregation exchange — only spread()'s possible round-robin on the
    single-file local input."""
    df = _Q["embedding_int8_quantize"](spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "hashpartitioning" not in plan, f"unexpected wide exchange:\n{plan}"


def test_funnel_single_wide_exchange(spark):
    """lag window and the per-user agg share the user_id partitioning —
    exactly one hash exchange."""
    from flink_anomaly_spark.plans.contracts import assert_single_shuffle

    df = _Q["funnel_transitions"](spark, SF_SMOKE)
    assert_single_shuffle(df)


def test_tpch_q5_broadcasts_dims_and_semi_nation_constraint(spark):
    """Q5's supplier/nation/region joins must all be broadcasts; only
    the two fact joins (lineitem⋈orders, ⋈customer) may shuffle."""
    plan = physical_plan(_Q["tpch_q5_local_supplier"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan


def test_tpch_q4_is_semi_join(spark):
    """The EXISTS must compile to a LEFT SEMI join (dedup-free), with
    the orders date range pushed to the parquet scan."""
    df = _Q["tpch_q4_late_orders"](spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "LeftSemi" in plan, plan
    assert_parquet_pushdown(df, "o_orderdate")


def test_tpch_q13_keeps_outer_join(spark):
    """Q13's ON-clause priority filter must not turn the LEFT OUTER
    into an inner join (order-less customers must survive)."""
    plan = physical_plan(_Q["tpch_q13_cust_distribution"](spark, SF_SMOKE))
    assert "LeftOuter" in plan, plan


def test_tpch_q15_no_second_lineitem_scan(spark):
    """Q15's scalar max must come from the |suppliers|-row revenue agg
    (broadcast back), not a rescan: exactly one lineitem scan, with the
    shipdate range pushed down."""
    df = _Q["tpch_q15_top_supplier"](spark, SF_SMOKE)
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") <= 2, plan  # scan + reuse at most
    assert_parquet_pushdown(df, "l_shipdate")


def test_tpch_q22_anti_join(spark):
    """NOT EXISTS must compile to LEFT ANTI against the pre-filtered
    urgent orders."""
    plan = physical_plan(_Q["tpch_q22_dormant_customers"](spark, SF_SMOKE))
    assert "LeftAnti" in plan, plan


def test_winsorized_bounds_broadcast(spark):
    """The |groups|-row percentile bounds must broadcast back onto the
    events scan (a shuffle join here would double the fact shuffle)."""
    df = _Q["winsorized_event_stats"](spark, SF_SMOKE)
    assert_broadcast_join(df)


def test_bigram_pmi_vocab_broadcasts(spark):
    """The unigram-vocabulary joins must broadcast (vocab ≪ corpus);
    the bigram count agg must keep partial aggregation map-side."""
    df = _Q["bigram_pmi_top"](spark, SF_SMOKE)
    assert_broadcast_join(df)
    assert_take_ordered(df)


def test_orc_roundtrip_and_pushdown(spark, tmp_path):
    """ORC connector: write → read → identical rows, and predicate
    pushdown reaches the ORC scan just like parquet."""
    from flink_anomaly_spark.sources.readers import read_orc
    from flink_anomaly_spark.tables import load_table

    cust = load_table(spark, SF_SMOKE, "customer").select("c_custkey", "c_name", "c_acctbal")
    orc_dir = str(tmp_path / "orc")
    cust.write.orc(orc_dir)
    back = read_orc(spark, orc_dir)
    expect = {(r.c_custkey, r.c_name, r.c_acctbal) for r in cust.collect()}
    got = {(r.c_custkey, r.c_name, r.c_acctbal) for r in back.collect()}
    assert got == expect
    plan = physical_plan(back.filter(F.col("c_acctbal") > 1000.0))
    assert "PushedFilters: [IsNotNull(c_acctbal), GreaterThan(c_acctbal" in plan, plan


def test_sessionization_single_shuffle(spark):
    """Per-event session assignment must be ONE user_id exchange: the
    boundary flag, session ordinal, and session start all ride the same
    window partitioning (a second (user, session) shuffle would double
    the cost for nothing)."""
    assert_single_shuffle(_Q["event_sessionization"](spark, SF_SMOKE))


def test_map_functions_no_shuffle(spark):
    """The MapType scalar battery is a pure narrow scan."""
    plan = physical_plan(_Q["map_functions"](spark, SF_SMOKE))
    assert "Exchange" not in plan, plan


def test_tpch_q21_two_aggregate_passes_no_correlated_rescans(spark):
    """Q21's EXISTS/NOT-EXISTS must be the decorrelated per-order
    aggregate join-back: at most two lineitem scans (flagged + reuse),
    never three correlated subquery rescans."""
    plan = physical_plan(_Q["tpch_q21_late_blame"](spark, SF_SMOKE))
    assert plan.count("lineitem.parquet") <= 2, plan


def test_tpch_q11_threshold_broadcast(spark):
    """Q11's scalar threshold must broadcast back onto the per-part agg
    (one lineitem scan total)."""
    df = _Q["tpch_q11_important_parts"](spark, SF_SMOKE)
    plan = physical_plan(df)
    assert_broadcast_join(df)
    assert plan.count("lineitem.parquet") <= 2, plan


def test_resampled_corpus_rate_broadcast_and_pruned(spark):
    """The mixture rates join must broadcast (|languages| rows) and the
    text column must be pruned from the final document scan."""
    df = _Q["temperature_resampled_corpus"](spark, SF_SMOKE)
    assert_broadcast_join(df)


def test_python_datasource_pushdown_and_partitioning(spark):
    """The custom Python DataSource must (a) plan the requested number
    of input partitions, (b) produce deterministic rows, and (c) consume
    event_id range predicates in pushFilters — after pushdown only the
    isnotnull remnant may remain in the post-scan Filter."""
    from flink_anomaly_spark.sources.synthetic import register_synthetic_source

    register_synthetic_source(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 1000)
        .option("partitions", 4)
        .load()
    )
    assert df.rdd.getNumPartitions() == 4
    assert df.count() == 1000
    filt = df.filter((F.col("event_id") >= 100) & (F.col("event_id") < 110))
    rows = sorted((r.event_id, r.event_type, r.value) for r in filt.collect())
    assert [r[0] for r in rows] == list(range(100, 110))
    assert rows[0][1] == "type_0" and rows[0][2] == ((100 * 9973) % 10000) / 10.0
    plan = physical_plan(filt)
    assert "PushedFilters: [GreaterThanOrEqual(event_id,100), LessThan(event_id,110)]" in plan, plan
    cond = plan.split("Condition : ")[1].splitlines()[0]
    assert cond == "isnotnull(event_id#0L)" or "GreaterThan" not in cond, plan


def test_pagerank_lineage_truncated(spark):
    """The final PageRank plan must start from the checkpointed rank
    frame — if the documents parquet scan (the minhash pair pipeline)
    appears in the FINAL plan, per-iteration truncation regressed and
    the edge derivation recomputes exponentially with iterations."""
    plan = physical_plan(_Q["pagerank_neardup"](spark, SF_SMOKE))
    assert "documents.parquet" not in plan, plan
    assert "ExistingRDD" in plan or "LocalTableScan" in plan, plan


def test_tpch_q2_dims_broadcast_one_lineitem_scan(spark):
    """Q2's decorrelated min-cost join-back must reuse the one
    (partkey, suppkey) pre-agg — supplier/nation/region/part all
    broadcast, and lineitem is scanned at most twice (pre-agg + the
    join-back branch), never once per correlated part."""
    df = _Q["tpch_q2_min_cost_supplier"](spark, SF_SMOKE)
    assert_broadcast_join(df)
    plan = physical_plan(df)
    assert plan.count("lineitem.parquet") <= 2, plan


def test_tpch_q9_single_fact_fact_shuffle(spark):
    """Q9's only non-broadcast join must be lineitem⋈orders: part,
    supplier, and nation are broadcast so the snowflake collapses to
    one fact-fact exchange pair plus the final agg."""
    df = _Q["tpch_q9_product_profit"](spark, SF_SMOKE)
    assert_broadcast_join(df)
    plan = physical_plan(df)
    # part-side filter must reach the part scan (1/8 of parts survive)
    assert "p_name" in plan, plan


def test_tpch_q16_anti_join_broadcast(spark):
    """Q16's NOT IN exclusion list (suppliers with negative balance)
    must compile to a broadcast anti join, not a shuffled one."""
    plan = physical_plan(_Q["tpch_q16_supplier_cnt"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan, plan


def test_tpch_q20_survivor_list_broadcast(spark):
    """Q20's excess-supplier survivor list is tiny (≤ |suppliers|) and
    must broadcast into the supplier⋈nation join; the lineitem agg is
    the only wide shuffle."""
    df = _Q["tpch_q20_part_promotion"](spark, SF_SMOKE)
    assert_broadcast_join(df)


def test_scd2_single_fused_window_exchange(spark):
    """scd2_customer_history computes row_number + lead + running sum
    over the same (custkey; orderdate, orderkey) partitioning/ordering —
    Catalyst must fuse them into ONE Window node behind ONE hash
    exchange; a second exchange means the fusion regressed and the fact
    table shuffles twice at scale."""
    df = _Q["scd2_customer_history"](spark, SF_SMOKE)
    assert_single_shuffle(df)
    plan = physical_plan(df)
    assert plan.count("Window") <= 2, plan  # one Window node (+header line)


def test_sequence_packing_distributed_prefix_sum(spark):
    """sequence_packing's exclusive prefix sum must stay DISTRIBUTED:
    range-partitioned local cumsums joined (broadcast) to tiny
    per-partition offsets. A SinglePartition exchange is allowed ONLY
    for the ≤32-row offsets table — i.e. above an aggregate — never as
    a global window over the raw docs (the classic O(corpus)-through-
    one-task antipattern)."""
    df = _Q["sequence_packing"](spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "rangepartitioning" in plan or "REPARTITION_BY_RANGE" in plan, plan
    assert_broadcast_join(df)
    # the offsets window's SinglePartition exchange must consume an
    # aggregated (HashAggregate) input, not the raw scan
    assert plan.count("SinglePartition") <= 1, plan
    assert plan.count("HashAggregate") >= 2, plan


def test_global_rank_export_no_global_sort(spark):
    """global_rank_export must rank within lang partitions plus a
    broadcast offset join — NEVER a global ORDER BY (which would funnel
    the corpus through one range-partitioned sort task chain and, at
    the final window, one task)."""
    df = _Q["global_rank_export"](spark, SF_SMOKE)
    plan = physical_plan(df)
    # exactly one tiny SinglePartition exchange (the |langs|-row offset
    # window), no range partitioning of the documents table
    assert "rangepartitioning" not in plan, plan
    assert plan.count("SinglePartition") <= 1, plan
    assert_broadcast_join(df)


def test_unigram_quality_distributed_ntile(spark):
    """unigram_logprob_quality's tercile assignment must be the
    two-phase rank (range exchange + broadcast offsets), never the
    naive global ntile whose Window funnels the corpus through one
    task. SinglePartition exchanges are allowed only above aggregates
    (the ≤32-row offsets table and the two 1-row totals)."""
    df = _Q["unigram_logprob_quality"](spark, SF_SMOKE)
    plan = physical_plan(df)
    assert "rangepartitioning" in plan, plan
    assert_broadcast_join(df)
    # every SinglePartition exchange feeds from an aggregate, so the
    # corpus-sized side never collapses to one task: the plan has at
    # least as many HashAggregates as SinglePartition exchanges
    assert plan.count("HashAggregate") >= 2 * plan.count("SinglePartition") or (
        plan.count("SinglePartition") <= 3
    ), plan


def test_semantic_decontamination_bucket_equi_join(spark):
    """The corpus×eval candidate join must stay a hash equi-join on the
    LSH bucket — a cartesian/nested-loop product would score every
    corpus row against every eval row."""
    plan = physical_plan(_Q["semantic_decontamination"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_semantic_decontamination_eval_side_broadcasts(spark):
    """VERDICT r4 #6: the EVAL side (benchmark-sized by nature) must be
    the broadcast side of the bucket equi-join, so the corpus side
    streams without an exchange for the join itself — at 100 TB the
    corpus never shuffles to meet the eval set. docs/SCALE_NOTES.md
    records the same contract measured at a ×25 corpus; this pins it
    at test scale."""
    plan = physical_plan(_Q["semantic_decontamination"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan, plan
    # the broadcast exchange must exist and there must be no
    # shuffle-hash/sort-merge variant of the candidate join
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_runtime_bloom_filter_injects_on_big_scans(spark):
    """Spark's runtime bloom-filter join pruning (on by default in our
    session) is gated on a 10 GB application-side scan — the 100 TB
    case. Lowering the gate must inject a bloom_filter_agg built from
    the selective orders side into the lineitem scan side of the
    shuffle join; at cluster scale this prunes fact rows BEFORE the
    join exchange. Conf-gated, so test-scale plans stay clean."""
    from flink_anomaly_spark.tables import load_table

    thr_key = "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
    bc_key = "spark.sql.autoBroadcastJoinThreshold"
    old_thr, old_bc = spark.conf.get(thr_key), spark.conf.get(bc_key)
    assert spark.conf.get("spark.sql.optimizer.runtime.bloomFilter.enabled") == "true"
    try:
        spark.conf.set(thr_key, "0")
        spark.conf.set(bc_key, "-1")  # force a shuffle join (the target shape)
        li = load_table(spark, SF_SMOKE, "lineitem")
        orders = load_table(spark, SF_SMOKE, "orders").filter(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy()
            .agg(F.sum("l_extendedprice").alias("s"))
        )
        assert "bloom_filter_agg" in physical_plan(j)
    finally:
        spark.conf.set(thr_key, old_thr)
        spark.conf.set(bc_key, old_bc)


def test_kmeans_lloyd_assignment_is_narrow(spark):
    """kmeans_lloyd_outliers' FINAL scoring pass must be a narrow map
    over literal-inlined centroids feeding TakeOrderedAndProject: no
    join of any kind (the centroids ride the plan as literals, not a
    table) and no full-corpus single-partition window. The per-
    iteration update aggs run eagerly during plan build (bounded model
    collects); this contract pins the shape of the scoring plan a 100
    TB scan would execute."""
    plan = physical_plan(_Q["kmeans_lloyd_outliers"](spark, SF_SMOKE))
    for bad in ("Join", "CartesianProduct", "Exchange SinglePartition"):
        assert bad not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan


def test_pii_redaction_zero_shuffle(spark):
    """The PII scrub must stay a pure codegen regexp map over the scan:
    no Exchange of any kind — at 100 TB it costs one pass, embarrassingly
    parallel."""
    plan = physical_plan(_Q["pii_redaction_stats"](spark, SF_SMOKE))
    assert "Exchange" not in plan, f"PII scrub must not shuffle:\n{plan}"
    assert_whole_stage_codegen(_Q["pii_redaction_stats"](spark, SF_SMOKE))


def test_dsir_no_cartesian_and_broadcast_totals(spark):
    """DSIR importance weights: the corpus-totals row must broadcast
    (never a shuffled join against a 1-row table) and no join may
    degrade to a cartesian/nested-loop product. The (doc, token) pair
    shuffle + vocabulary-keyed joins are the accepted floor."""
    plan = physical_plan(_Q["dsir_importance_weights"](spark, SF_SMOKE))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastExchange" in plan, plan


def test_edit_distance_probe_side_parallel(spark):
    """edit_distance_near_dup's levenshtein work runs join-side, so the
    join's parallelism IS the streamed side's partition count. The
    corpus projection is one input split at test SFs — without an
    explicit pre-join repartition the whole O(pairs·len·threshold) DP
    runs in a single task (the round-6 driver bench measured 12.0 s vs
    the 0.9 s parallel baseline). Pin: a round-robin Exchange BELOW the
    join on the streamed side, and the join itself stays a hash join on
    the block key (broadcast at test scale; never nested-loop)."""
    df = _Q["edit_distance_near_dup"](spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    join_at = plan.find("HashJoin")
    assert join_at != -1, f"expected a hash join on the block key:\n{plan}"
    below = plan[join_at:]
    assert "Exchange RoundRobinPartitioning" in below, (
        "streamed side of the levenshtein join must be repartitioned "
        f"(single-split input => single-task join otherwise):\n{plan}"
    )


def test_priority_sample_window_group_limit(spark):
    """priority_sample_per_lang's rank filter must ride Spark 4's
    WindowGroupLimit rewrite — per-partition top-(k+1) BEFORE the
    stratum exchange — so the shuffle carries <= k+1 rows per stratum
    per map partition, never the corpus."""
    plan = physical_plan(_Q["priority_sample_per_lang"](spark, SF_SMOKE), mode="simple")
    assert "WindowGroupLimit" in plan, plan


def test_histogram_quantile_single_data_exchange(spark):
    """value_histogram_quantiles' only data-sized work is the 64-bin
    partial aggregation: the scan side must show a partial->final hash
    aggregate, and no join in the plan may be a cartesian product or
    nested loop over data-sized inputs (the sketch-side cross joins are
    1-row/64-row broadcasts)."""
    df = _Q["value_histogram_quantiles"](spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "HashAggregate" in plan, plan
    assert "CartesianProduct" not in plan, plan
    # the value column is the only data column read
    assert_column_pruned(df, "props")
    assert_column_pruned(df, "event_type")


def test_exact_substring_spans_no_cartesian_and_pruned(spark):
    """exact_substring_spans: postings join on the gram hash (never a
    cartesian/nested-loop pair generation), and the documents scan
    reads only (doc_id, text)."""
    df = _Q["exact_substring_spans"](spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert_column_pruned(df, "lang")
    assert_column_pruned(df, "source")


# ---------------------------------------------------------------------------
# Round-8 operators
# ---------------------------------------------------------------------------


def test_asof_nearest_single_shuffle_single_window(spark):
    """Nearest-as-of must stay the union-then-window shape: ONE keyed
    exchange and ONE Window node computing both directional frames — a
    second sort or a join would double the operator's cost."""
    df = _Q["asof_join_nearest"](spark, SF_SMOKE)
    from flink_anomaly_spark.plans.contracts import physical_plan

    assert_single_shuffle(df)
    plan = physical_plan(df, "simple")
    assert plan.count("Window") == 1, plan


def test_cusum_shares_one_sort(spark):
    """Both CUSUM window passes (cumsum, running min) share the same
    partition/order spec — the plan must contain exactly ONE Sort, or
    the closed form has lost its single-keyed-sort advantage."""
    from flink_anomaly_spark.plans.contracts import physical_plan

    df = _Q["cusum_changepoints"](spark, SF_SMOKE)
    plan = physical_plan(df, "simple")
    sorts = [ln for ln in plan.splitlines() if ln.strip().startswith("+- Sort") or ln.strip().startswith("Sort")]
    assert len(sorts) == 1, plan


def test_frequent_pairs_take_ordered_and_broadcast_lift(spark):
    """Top-k pair selection must be TakeOrderedAndProject; the lift
    joins against item frequencies and the 1-row basket total must
    broadcast (never shuffle the top-k side)."""
    df = _Q["frequent_item_pairs"](spark, SF_SMOKE)
    assert_take_ordered(df)
    assert_broadcast_join(df)


def test_pareto_broadcasts_bounds_no_smj_no_cartesian(spark):
    """The skyline's dominance bounds join back to the corpus by
    BROADCAST on the distinct minimize value; any SortMergeJoin or
    CartesianProduct means the two-phase prefix-max shape regressed to
    a corpus shuffle."""
    from flink_anomaly_spark.plans.contracts import physical_plan

    df = _Q["pareto_frontier_parts"](spark, SF_SMOKE)
    assert_broadcast_join(df)
    plan = physical_plan(df, "simple")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan, plan


def test_benford_single_aggregation_exchange(spark):
    """Benford is ONE hash aggregation — the nine digit counts are
    conditional aggregates in the same pass, never nine scans."""
    df = _Q["benford_deviation"](spark, SF_SMOKE)
    assert_single_shuffle(df)


def test_sorted_neighborhood_no_cartesian_broadcast_offsets(spark):
    """SNM pairs join on the 8-byte rank key (hash join) with the
    prefix-offset table broadcast; a CartesianProduct would mean the
    two-phase rank degenerated to all-pairs."""
    from flink_anomaly_spark.plans.contracts import physical_plan

    df = _Q["sorted_neighborhood_dup_pairs"](spark, SF_SMOKE)
    assert_broadcast_join(df)
    plan = physical_plan(df, "simple")
    assert "CartesianProduct" not in plan, plan


def test_containment_no_cartesian(spark):
    """Containment pairs materialize only through the postings
    inverted-index join — never an all-pairs product."""
    from flink_anomaly_spark.plans.contracts import physical_plan

    plan = physical_plan(_Q["containment_dup_pairs"](spark, SF_SMOKE), "simple")
    assert "CartesianProduct" not in plan, plan


def test_ks_windows_partition_by_group(spark):
    """The ECDF cumulative sums must be per-group window partitions
    (parallel across groups), and pairing joins on the grid value —
    no CartesianProduct, no unpartitioned corpus window."""
    from flink_anomaly_spark.plans.contracts import physical_plan

    df = _Q["ks_drift_matrix"](spark, SF_SMOKE)
    plan = physical_plan(df, "simple")
    assert "CartesianProduct" not in plan, plan
    assert "partitionBy" not in plan  # sanity: simple mode has no such token
    assert "Window" in plan, plan


def test_hbos_take_ordered_integer_key(spark):
    """HBOS's top-k must be TakeOrderedAndProject ordered on the integer
    count product (check the sort key is the multiply, not the float
    score)."""
    from flink_anomaly_spark.plans.contracts import physical_plan

    df = _Q["hbos_outliers"](spark, SF_SMOKE)
    assert_take_ordered(df)
    plan = physical_plan(df, "simple")
    line = next(ln for ln in plan.splitlines() if "TakeOrderedAndProject" in ln)
    assert "hbos_score" not in line.split("output=")[0], line


def test_moving_median_single_window_sort(spark):
    """Moving median: one keyed exchange for the day agg + one Window
    sort — the collect_list frame must not add extra shuffles."""
    from flink_anomaly_spark.plans.contracts import physical_plan

    df = _Q["moving_median_daily"](spark, SF_SMOKE)
    plan = physical_plan(df, "simple")
    assert plan.count("Window") == 1, plan
    ex = [ln for ln in plan.splitlines() if "Exchange hashpartitioning" in ln]
    assert len(ex) <= 2, plan


def test_seasonality_broadcast_totals(spark):
    """Seasonality joins the 24-row hourly aggregate against the
    |keys|-row totals via broadcast."""
    df = _Q["seasonality_profile"](spark, SF_SMOKE)
    assert_broadcast_join(df)


def test_snm_multipass_verify_parallel(spark):
    """sorted_neighborhood_multipass runs ONE banded levenshtein over
    the unioned candidate set; the candidates' distinct() output is a
    tiny id-pair exchange AQE coalesces to ~1 partition, which would
    serialize the whole verify into a single task (measured 5.3 s of
    8 s at sf0.1). Pin: a RoundRobinPartitioning exchange sits between
    the distinct and the text-join/levenshtein stage."""
    df = _Q["sorted_neighborhood_multipass"](spark, SF_SMOKE)
    plan = physical_plan(df, mode="simple")
    assert "levenshtein" in plan.lower(), plan
    assert "Exchange RoundRobinPartitioning" in plan, (
        "candidate pairs must be round-robin spread before the "
        f"levenshtein verify:\n{plan}"
    )
