"""Physical-plan assertions: every headline query must compile to the
plan shape we'd want on a 1000-executor cluster -- pushdown at the
scan, pruned columns, broadcast dims, top-K without global sort, no
Python in relational hot paths."""

from __future__ import annotations

import re

from kafka_clickhouse_pipeline_spark import plans
from kafka_clickhouse_pipeline_spark.catalog import scan_partitions
from kafka_clickhouse_pipeline_spark.operators import (
    advanced,
    analytics,
    curation,
    dedup,
    serving,
    similarity,
    text,
    tpch_extra,
    tpch_subq,
)


def test_serving_filters_pushed_to_scan(spark, sf_dir):
    df = serving.sales_by_hour(spark, sf_dir)
    assert plans.has_pushed_filters(df)
    assert plans.python_free(df)


def test_serving_column_pruning(spark, sf_dir):
    """sales_by_hour touches ts/value/event_type only -- the scan must
    not read event_id/user_id/props."""
    df = serving.sales_by_hour(spark, sf_dir)
    cols = plans.scan_read_schema(df, "events")
    assert cols, "no ReadSchema found for events scan"
    assert set(cols) <= {"ts", "value", "event_type"}, cols


def test_recent_sales_uses_top_k(spark, sf_dir):
    assert plans.uses_top_k(serving.recent_sales(spark, sf_dir))
    assert plans.uses_top_k(serving.stock_top5(spark, sf_dir))


def test_serving_queries_plan_no_exchange_at_one_split(spark, sf_dir):
    """When the events scan is one split, every serving query runs in
    that split's task: no exchange anywhere in the plan."""
    assert scan_partitions(spark, sf_dir, "events") == 1
    for fn in (serving.sales_by_hour, serving.stock_top5, serving.recent_sales,
               serving.status_counts):
        assert plans.count_shuffles(fn(spark, sf_dir)) == 0, fn.__name__


def test_q3_top10_uses_top_k(spark, sf_dir):
    assert plans.uses_top_k(analytics.q3_shipping_priority(spark, sf_dir))


def test_join_queries_broadcast_dimensions(spark, sf_dir):
    """Q5 joins 4 dims -- all four must be broadcast, leaving only the
    lineitem><orders shuffle join."""
    df = analytics.q5_revenue_by_nation(spark, sf_dir)
    assert plans.count_broadcast_joins(df) >= 4
    df10 = analytics.q10_top_returning_customers(spark, sf_dir)
    assert plans.count_broadcast_joins(df10) >= 2


def test_q6_all_predicates_pushed_scan_only(spark, sf_dir):
    """Q6 is one filtered scan + one aggregate: predicates reach
    parquet, no joins, no Python, and the scan reads only the four
    referenced columns."""
    df = tpch_extra.q6_forecast_revenue(spark, sf_dir)
    assert plans.has_pushed_filters(df)
    assert plans.python_free(df)
    cols = plans.scan_read_schema(df, "lineitem")
    assert set(cols) <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}


def test_q7_q8_broadcast_all_dimensions(spark, sf_dir):
    """Role-playing nation dims and every other dimension broadcast;
    the only shuffle join is lineitem><orders."""
    assert plans.count_broadcast_joins(tpch_extra.q7_volume_shipping(spark, sf_dir)) >= 4
    assert plans.count_broadcast_joins(tpch_extra.q8_market_share(spark, sf_dir)) >= 6


def test_q18_aggregates_before_join(spark, sf_dir):
    """The sum_qty>300 filter gates the lineitem self-aggregation
    BEFORE the orders join: the plan's first join input must be the
    aggregate, and the final top-100 compiles to TakeOrderedAndProject."""
    df = tpch_extra.q18_large_volume_customers(spark, sf_dir)
    assert plans.uses_top_k(df)
    plan = plans.formatted_plan(df)
    assert "HashAggregate" in plan


def test_q1_filter_pushdown_and_pruning(spark, sf_dir):
    df = analytics.q1_pricing_summary(spark, sf_dir)
    assert plans.has_pushed_filters(df)
    cols = plans.scan_read_schema(df, "lineitem")
    assert cols
    # 11-column table, 6-column query: pruning must drop the rest
    assert set(cols) <= {
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_shipdate",
    }, cols


def test_text_queries_python_free(spark, sf_dir):
    for fn in (text.q_token_stats, text.q_quality_score, text.q_lang_id, text.q_fingerprint):
        assert plans.python_free(fn(spark, sf_dir)), fn.__name__


def test_dedup_python_free(spark, sf_dir):
    for fn in (
        dedup.q_dedup_exact,
        dedup.q_dedup_ngram_jaccard,
        dedup.q_dedup_minhash_lsh,
    ):
        assert plans.python_free(fn(spark, sf_dir)), fn.__name__
    # the exact cosine audit is a BLOCK nested-loop join since late r6
    # (each vector crosses the wire B times, not n times) with an
    # Arrow-batched MapInPandas tile kernel -- bit-identical
    # arithmetic; row-wise pickling stays banned
    cos = dedup.q_dedup_embedding_cosine(spark, sf_dir)
    assert plans.rowwise_python_free(cos)
    assert "MapInPandas" in plans.formatted_plan(cos)


def test_ann_broadcasts_queries(spark, sf_dir):
    df = similarity.q_ann_bruteforce_topk(spark, sf_dir)
    assert plans.count_broadcast_joins(df) >= 1 or "BroadcastNestedLoopJoin" in plans.formatted_plan(df)
    # scoring stays JVM-side; the only Python in the plan is the
    # Arrow-batched map-side top-k pruner (never row-wise pickling)
    assert plans.rowwise_python_free(df)
    import re

    assert (
        len(re.findall(r"^\(\d+\) MapInPandas", plans.formatted_plan(df), re.MULTILINE))
        == 1
    )


def test_ann_topk_pruner_in_plan(spark, sf_dir):
    """The map-side top-k pruner must be present (the rank window then
    consumes its bounded output; value correctness is covered by the
    oracle parity test)."""
    df = similarity.q_ann_bruteforce_topk(spark, sf_dir)
    assert "MapInPandas" in plans.formatted_plan(df)


def test_serving_queries_whole_stage_codegen(spark, sf_dir):
    """The hot path must be inside WholeStageCodegen spans (fused JVM
    loops), not interpreted expression evaluation."""
    for fn in (serving.sales_by_hour, analytics.q1_pricing_summary):
        assert plans.uses_whole_stage_codegen(fn(spark, sf_dir)), fn.__name__


def test_exact_dedup_single_shuffle(spark, sf_dir):
    """Hash-groupBy dedup must be exactly one exchange (plus none for
    the scan)."""
    df = dedup.q_dedup_exact(spark, sf_dir)
    # one shuffle for the groupBy; the orderBy adds a range exchange
    assert plans.count_shuffles(df) <= 2


def test_q20_in_subquery_compiles_to_semi_join(spark, sf_dir):
    """The IN-subquery membership check must be a LeftSemi join (no
    duplicate-producing inner join + distinct), fully JVM-side."""
    df = tpch_subq.q20_excess_suppliers(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "LeftSemi" in plan
    assert plans.python_free(df)


def test_q21_exists_pair_semi_then_anti(spark, sf_dir):
    """EXISTS -> LeftSemi and NOT EXISTS -> LeftAnti on the same fact,
    with the top-100 compiled to TakeOrderedAndProject."""
    df = tpch_subq.q21_waiting_suppliers(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert plans.uses_top_k(df)
    assert plans.python_free(df)


def test_q2_decorrelated_min_broadcasts(spark, sf_dir):
    """The per-part min table and every dimension broadcast; the only
    fact shuffle is the part-supplier aggregation; deterministic
    top-100 via TakeOrderedAndProject."""
    df = tpch_subq.q2_min_cost_supplier(spark, sf_dir)
    assert plans.count_broadcast_joins(df) >= 3
    assert plans.uses_top_k(df)


def test_decontaminate_broadcasts_benchmark_shingles(spark, sf_dir):
    """The benchmark shingle set (always the small side) must
    broadcast; the training corpus streams map-side. Fully JVM-side."""
    df = curation.q_decontaminate_shingle_overlap(spark, sf_dir)
    assert plans.count_broadcast_joins(df) >= 1
    assert plans.python_free(df)


def test_curation_aggregates_python_free(spark, sf_dir):
    for fn in (
        curation.q_funnel_steps,
        curation.q_retention_cohorts,
        curation.q_heavy_hitter_users,
        curation.q_stratified_rebalance,
        curation.q_zscore_outliers,
    ):
        assert plans.python_free(fn(spark, sf_dir)), fn.__name__


def test_upsert_compaction_aggregates_not_window(spark, sf_dir):
    """Latest-wins compaction must compile to a partial+final aggregate
    (one key shuffle), NOT the window-sort formulation that shuffles
    and sorts every row."""
    df = dedup.q_upsert_latest_wins(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "Window" not in plan
    assert plans.count_shuffles(df) <= 2  # key agg + presentation sort
    assert plans.python_free(df)


def test_quality_canonical_single_shuffle_no_window(spark, sf_dir):
    df = dedup.q_dedup_quality_canonical(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "Window" not in plan
    assert plans.count_shuffles(df) <= 2
    assert plans.python_free(df)


def test_perplexity_python_free(spark, sf_dir):
    """The unigram-LM scorer is pure JVM expression work: explode,
    two hash aggregates, a vocabulary join -- no Python anywhere."""
    df = text.q_perplexity_unigram(spark, sf_dir)
    assert plans.python_free(df)


def test_sample_hash_prunes_map_side(spark, sf_dir):
    """The hash sampler must carry the Arrow map-side top-k pruner so
    the rank shuffle sees a bounded candidate set."""
    from kafka_clickhouse_pipeline_spark.operators import reshape

    df = reshape.q_sample_hash_per_source(spark, sf_dir)
    assert "MapInPandas" in plans.formatted_plan(df)
    assert plans.rowwise_python_free(df)


def test_range_join_broadcasts_band_dimension(spark, sf_dir):
    """The interval dimension must broadcast (BroadcastNestedLoopJoin),
    never a cartesian shuffle of the fact table."""
    df = analytics.q_range_join_quantity_bands(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_cube_expands_once_and_broadcasts(spark, sf_dir):
    """CUBE must compile to one Expand over one scan (grouping-set
    expansion, not a scan per level) with the customer dim broadcast."""
    df = advanced.q_cube_revenue(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert len(re.findall(r"^\(\d+\) Expand", plan, re.M)) == 1
    assert plans.count_broadcast_joins(df) >= 1
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plans.python_free(df)


def test_mad_outliers_broadcasts_stats(spark, sf_dir):
    """Both per-class stat frames (median, MAD) must broadcast back to
    the fact table: the events table itself never shuffles for a join."""
    df = curation.q_mad_outliers(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert plans.count_broadcast_joins(df) >= 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert plans.python_free(df)


def test_containment_and_percent_rank_python_free(spark, sf_dir):
    assert plans.python_free(dedup.q_dedup_containment(spark, sf_dir))
    assert plans.python_free(analytics.q_window_percent_rank(spark, sf_dir))


def test_pagerank_python_free_and_topk(spark, sf_dir):
    """The rank loop is JVM joins/aggregates only; the final top-20
    compiles to TakeOrderedAndProject, not a global sort."""
    from kafka_clickhouse_pipeline_spark.operators import graph

    df = graph.q_pagerank_copurchase(spark, sf_dir)
    assert plans.python_free(df)
    assert plans.uses_top_k(df)


def test_pagerank_broadcast_is_size_gated(spark):
    """The per-round rank-vector join broadcasts below
    graph.BROADCAST_MAX_ROWS and falls back to a shuffle join above
    it (broadcasting a billion-row rank vector is the r1-flagged
    scale-killer). Assert both branches on one un-checkpointed round,
    with auto-broadcast disabled so the branch under test -- not the
    size estimator -- decides the join strategy."""
    from kafka_clickhouse_pipeline_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2)], "src long, dst long"
    )
    from pyspark.sql import functions as F

    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
    ranks = deg.select(F.col("src").alias("node"), F.lit(1000).cast("long").alias("r"))

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = graph._pagerank_round(edges, deg, ranks, 50, broadcast_ranks=True)
        big = graph._pagerank_round(edges, deg, ranks, 50, broadcast_ranks=False)
        assert plans.count_broadcast_joins(small) >= 1
        assert "BroadcastHashJoin" not in plans.formatted_plan(big)
        # both branches compute identical fixed-point ranks
        assert sorted(map(tuple, small.collect())) == sorted(map(tuple, big.collect()))
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_shingle_df_cap_bounds_fanout(spark):
    """_jaccard_pairs with a DF cap: a boilerplate shingle shared by
    every doc must not contribute intersections once its document
    frequency exceeds the cap, while rare shingles still match."""
    from kafka_clickhouse_pipeline_spark.operators import dedup as dd

    # 6 docs all share shingle 'hot hot hot'; docs 1/2 also share two
    # rare shingles -> with cap=3 the hot shingle is dropped, so only
    # (1,2) survives with inter=2.
    rows = [(i, "hot") for i in range(1, 7)] + [
        (1, "rare a"), (1, "rare b"), (2, "rare a"), (2, "rare b"),
    ]
    shingles = spark.createDataFrame(rows, "doc_id long, shingle string")
    capped = dd._df_capped(shingles, cap=3)
    kept = {r["shingle"] for r in capped.select("shingle").distinct().collect()}
    assert kept == {"rare a", "rare b"}


def test_registry_plan_audit_no_row_python_no_cartesian(spark, sf_dir):
    """EVERY registered query (not just the 50-query driver window):
    zero row-at-a-time Python (BatchEvalPython -- Arrow-batched
    ArrowEvalPython is the sanctioned exception) and zero
    CartesianProduct (audited: even the 1-row constant cross-joins
    compile to BroadcastNestedLoopJoin)."""
    import __spark_entry__ as entry

    qs = entry.queries()
    violations = []
    for name in qs:
        df = qs[name](spark, sf_dir)
        plan = plans.formatted_plan(df)
        if "BatchEvalPython" in plan:
            violations.append((name, "BatchEvalPython"))
        if "CartesianProduct" in plan:
            violations.append((name, "CartesianProduct"))
    assert not violations, violations


def test_label_propagation_broadcast_is_size_gated(spark):
    """The per-round label join broadcasts below
    graph.BROADCAST_MAX_ROWS (the edge list never reshuffles across
    rounds -- measured 17.2 s -> 4.1 s at sf0.1) and falls back to a
    shuffle join above it (broadcasting a billion-row label frame is
    the scale-killer). Both branches compute identical labels."""
    from pyspark.sql import functions as F

    from kafka_clickhouse_pipeline_spark.operators import graph

    edges = spark.createDataFrame(
        [(1, 2), (2, 1), (2, 3), (3, 2), (1, 3), (3, 1)],
        "src long, dst long",
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        small = graph._lpa_round(edges, labels, broadcast_labels=True)
        big = graph._lpa_round(edges, labels, broadcast_labels=False)
        assert plans.count_broadcast_joins(small) >= 1
        assert "BroadcastHashJoin" not in plans.formatted_plan(big)
        assert sorted(map(tuple, small.collect())) == sorted(
            map(tuple, big.collect())
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_wedge_pair_shuffle_is_single_packed_key(spark, sf_dir):
    """The wedge path shared by Jaccard and Adamic-Adar has ONE plan
    shape below the gates: the wedge stream exchanges ONE packed
    BIGINT key, hash-partitioned on its pair bits (shiftrightunsigned
    drops the center-degree field Adamic-Adar packs; Jaccard packs
    none) so all keys of a pair meet in one partition; ONE Arrow
    kernel per partition (MapInArrow: unique-count + weight sum +
    linked prune + top-K superset pre-selection) replaces the JVM
    hash aggregate of the ~Sigma C(d,2) pair rows (its partial+final
    pass hashed every row twice); and the global top-K over the
    kernel's few-rows-per-partition output is TakeOrderedAndProject."""
    from kafka_clickhouse_pipeline_spark.operators import graph

    for fn in (graph.q_node_jaccard, graph.q_adamic_adar):
        df = fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert re.search(
            r"hashpartitioning\(shiftrightunsigned\(k#\d+L?, \d+\)", plan
        ), plan[:2000]
        assert "MapInArrow" in plan
        # no pair aggregate: the only aggregate left is the bounded
        # sizes collect upstream
        assert "partial_count" not in plan, plan[:2000]
        assert "partial_sum" not in plan, plan[:2000]
        assert plans.uses_top_k(df)


def test_minhash_wedge_twin_plan(spark, sf_dir):
    """The round-7 approximate wedge twin must (a) contain NO wedge
    expansion -- no posexplode-of-slice Generate pair stream -- (b)
    run its n-scaled joins as shuffle joins (the AQE broadcast of the
    bands/adjacency frames OOMed the 4x ladder rung), (c) stay
    Python-free with TakeOrderedAndProject for the top-K, and (d)
    keep the 32 signature mins in ONE map-side-combined hash
    aggregate, with the md5s evaluated once per DISTINCT neighbor
    (r11: h_i(dst) depends only on (i, dst), so hashing per edge row
    re-computed every value avg-degree times; the build now hashes
    the distinct-neighbor frame and min-aggregates the joined
    columns -- partial_min over plain column refs, no md5 inside the
    aggregate)."""
    from kafka_clickhouse_pipeline_spark.operators import graph

    df = graph.q_node_jaccard_minhash(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "slice(" not in plan, "wedge expansion leaked into the twin"
    assert plans.python_free(df)
    assert plans.uses_top_k(df)
    assert "ShuffledHashJoin" in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan
    # signature mins aggregate plain columns (h0..h31) ...
    assert plan.count("partial_min(h") >= graph.WEDGE_MINHASH_HASHES
    # ... and no md5 is evaluated per edge row inside the aggregate
    assert plan.count("partial_min(md5(") == 0


def test_round8_operator_plan_shapes(spark, sf_dir):
    """Round-8 additions: the shapes that matter at 1000 executors --
    bounded-side broadcasts, top-K without global sort, and zero
    Python outside the sanctioned Arrow kernels."""
    from kafka_clickhouse_pipeline_spark.operators import (
        curation as cur,
        dedup as dd,
        similarity as sim,
        text as tx,
    )

    # LTV head is a map-side heap, not a global sort
    assert plans.uses_top_k(advanced.q_user_ltv_decay(spark, sf_dir))
    # the frozen vocab probes as a broadcast on both OOV paths
    assert plans.count_broadcast_joins(tx.q_doc_oov_rate(spark, sf_dir)) >= 1
    # the checkpoint probe is a NON-equi condition (rnk = least(k,
    # vocab_n) mixes both sides), so it compiles to a broadcast
    # nested-loop over 4 x vocabulary rows -- broadcast either way
    assert "Broadcast" in plans.simple_plan(
        tx.q_vocab_coverage_topk(spark, sf_dir)
    )
    # MMR: the K unrolled rounds stay pure-expression (no Python
    # anywhere). The pool's query-side broadcast sits behind the
    # lineage cuts, so it is not visible in this final plan -- the
    # shared brute-force pipeline's broadcast is asserted by its own
    # plan test.
    mmr = sim.q_mmr_diversified_topk(spark, sf_dir)
    assert plans.python_free(mmr)
    # pure-expression scan-map/agg operators
    for df in (
        tx.q_heaps_law_fit(spark, sf_dir),
        tx.q_mattr_lexical_diversity(spark, sf_dir),
        tx.q_langid_confusion(spark, sf_dir),
        cur.q_jsd_sources(spark, sf_dir),
        advanced.q_sax_motifs(spark, sf_dir),
        advanced.q_mutual_info_type_hour(spark, sf_dir),
        dd.q_dup_cluster_size_hist(spark, sf_dir),
        dd.q_minhash_estimate_error(spark, sf_dir),
        sim.q_embedding_norm_stats(spark, sf_dir),
        sim.q_embedding_anisotropy(spark, sf_dir),
        sim.q_label_confusability(spark, sf_dir),
    ):
        assert plans.python_free(df), plans.simple_plan(df)[:400]
    # IVF occupancy and MAP@k ride the sanctioned Arrow assignment
    # kernel -- batched, never row-at-a-time
    for df in (
        sim.q_ivf_bucket_occupancy(spark, sf_dir),
        sim.q_retrieval_map_at_k(spark, sf_dir),
    ):
        assert plans.rowwise_python_free(df)


def test_attribution_pushdown_pruning_python_free(spark, sf_dir):
    """q_click_purchase_attribution: the event_type predicates reach
    BOTH parquet scans, only the four referenced columns are read, and
    there are exactly two scans (the left-join restructure; the
    first draft paid three), no Python anywhere."""
    df = analytics.q_click_purchase_attribution(spark, sf_dir)
    assert plans.has_pushed_filters(df)
    assert plans.python_free(df)
    cols = plans.scan_read_schema(df, "events")
    assert cols and set(cols) <= {"event_id", "ts", "user_id", "event_type"}, cols
    # formatted output names each scan once in the tree and once in
    # the details section -> 2 scans = 4 mentions
    assert plans.formatted_plan(df).count("Scan parquet") == 4


def test_salted_join_is_shuffled_hash_python_free(spark, sf_dir):
    df = analytics.q_salted_join_brand_volume(spark, sf_dir)
    p = plans.formatted_plan(df)
    assert "ShuffledHashJoin" in p
    assert "BroadcastHashJoin" not in p.split("ShuffledHashJoin")[0]
    assert plans.python_free(df)


def test_neardup_threshold_scan_pruned(spark, sf_dir):
    """The signature build must read only (l_orderkey, l_partkey) from
    lineitem -- the 16-column table never rides the edge shuffle. The
    registered query cuts lineage after the edge build (the parquet
    scan is invisible behind the checkpoint), so the pruning assertion
    runs on the same pipeline composed WITHOUT the cut."""
    from kafka_clickhouse_pipeline_spark.catalog import load_table
    from kafka_clickhouse_pipeline_spark.operators import graph

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey"
    )
    df = graph.neardup_threshold_pairs(
        graph.planted_twin_edges(graph.co_purchase_edges(li))
    )
    cols = plans.scan_read_schema(df, "lineitem")
    assert cols and set(cols) <= {"l_orderkey", "l_partkey"}, cols
    assert plans.python_free(df)
    assert plans.python_free(
        graph.q_neardup_threshold_minhash(spark, sf_dir)
    )


def test_ivf_pq_composite_plan(spark, sf_dir):
    """Round-10 IVF-PQ composite: the probe set must BROADCAST to the
    coded corpus (never shuffle the corpus by bucket), Python stays in
    the sanctioned Arrow kernels (assignment/encode/ADC -- no
    row-at-a-time), the top-RERANK and final top-k ride the pruned
    grouped-topk shape, and there is no cartesian anywhere."""
    from kafka_clickhouse_pipeline_spark.operators import pq as P

    df = P.q_ann_ivf_pq_topk(spark, sf_dir)
    p = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert plans.rowwise_python_free(df)
    # corpus pruned to the two referenced columns at the scan
    cols = plans.scan_read_schema(df, "embeddings")
    assert cols and set(cols) <= {"vec_id", "embedding"}, cols
