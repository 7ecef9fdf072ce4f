"""Physical-plan quality gates (SURVEY.md §4.2).

Correctness says the rows are right; these tests say the PLAN is right —
the properties that decide whether a query survives a 100× scale-up:
filters reach the scan, projections prune columns, small dims broadcast,
top-K fuses, aggregates combine map-side, codegen stays on.
"""

from __future__ import annotations

import pytest

from jubilant_garbanzo_spark.plans import (
    codegen_stage_count,
    has_partial_aggregate,
    join_strategies,
    pushed_filters,
    scan_read_schema,
    uses_take_ordered,
)
from jubilant_garbanzo_spark.queries import load_all

SPECS = load_all()


def q(spark, sf_dir, name):
    return SPECS[name].fn(spark, sf_dir)


def test_q6_filters_pushed_to_scan(spark, sf_dir):
    """TPC-H q6 is a pure scan+filter+sum: every predicate must appear
    in PushedFilters so parquet row-group stats can skip IO."""
    df = q(spark, sf_dir, "tpch_q6_forecast_revenue")
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed, pushed
    assert "l_discount" in pushed, pushed
    assert "l_quantity" in pushed, pushed


def test_q6_column_pruning(spark, sf_dir):
    """q6 touches 4 of lineitem's 16 columns; the scan must read only
    those (ReadSchema is the columnar-IO contract)."""
    df = q(spark, sf_dir, "tpch_q6_forecast_revenue")
    cols = set(scan_read_schema(df))
    assert cols <= {"l_shipdate", "l_discount", "l_quantity", "l_extendedprice"}, cols


def test_star_join_broadcasts_dims(spark, sf_dir):
    """region/nation/supplier are broadcast-sized at EVERY scale factor
    (BROADCAST_DIMS, catalog.py) — none of them may arrive via a
    shuffle join."""
    df = q(spark, sf_dir, "join_broadcast_star")
    strategies = join_strategies(df)
    assert strategies, "no joins found in plan"
    assert all(s == "BroadcastHashJoin" for s in strategies), strategies


def test_topk_fuses_sort_and_limit(spark, sf_dir):
    """orderBy+limit must plan as TakeOrderedAndProject (per-partition
    heap + driver merge), not the reference's full sort then take
    (main.scala:49,52)."""
    df = q(spark, sf_dir, "limit_topk")
    assert uses_take_ordered(df)


def test_flagship_topk_fuses(spark, sf_dir):
    df = q(spark, sf_dir, "trending_topk")
    assert uses_take_ordered(df)


def test_groupby_aggregates_partially(spark, sf_dir):
    """groupBy aggregates must run partial (map-side) + final so the
    shuffle moves per-key states, not raw rows."""
    df = q(spark, sf_dir, "agg_groupby_basic")
    assert has_partial_aggregate(df)


def test_q1_stays_in_codegen(spark, sf_dir):
    """The pricing-summary scan→agg pipeline must be whole-stage
    codegen'd (0 spans = interpreted fallback = ~10× slower per row)."""
    df = q(spark, sf_dir, "tpch_q1_pricing_summary")
    assert codegen_stage_count(df) >= 1


@pytest.mark.parametrize(
    "name",
    [
        "tpch_q3_shipping_priority",
        "tpch_q5_local_supplier_volume",
        "tpch_q8_market_share",
    ],
)
def test_tpch_joins_have_no_cartesian(spark, sf_dir, name):
    """Multi-way TPC-H joins must never degrade to nested-loop/cartesian."""
    strategies = join_strategies(q(spark, sf_dir, name))
    assert "CartesianProduct" not in strategies
    assert "BroadcastNestedLoopJoin" not in strategies


def test_minhash_signature_aggregates_partially(spark, sf_dir):
    """The MinHash signature groupBy must combine map-side — the shuffle
    carries 32 longs per doc, never shingle arrays."""
    df = q(spark, sf_dir, "dedup_minhash_lsh")
    assert has_partial_aggregate(df)


def test_bucketed_join_has_no_exchange(spark, sf_dir):
    """With both sides bucketed by the join key, the sort-merge join
    must read co-located buckets directly — zero Exchange nodes
    upstream of the join (broadcast disabled to force SMJ)."""
    from jubilant_garbanzo_spark.plans.inspect import formatted_plan
    from jubilant_garbanzo_spark.sources.bucketing import bucketed_fixture_pair

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        li, o = bucketed_fixture_pair(spark, sf_dir)
        joined = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
            "l_orderkey", "o_orderpriority", "l_quantity"
        )
        plan = formatted_plan(joined)
        assert "SortMergeJoin" in plan
        # The whole plan must be Exchange-free: in EXPLAIN FORMATTED the
        # join's children print AFTER the join line, so slicing the text
        # before "SortMergeJoin" would never see a feeding Exchange and
        # the assert could not fail on a bucketing regression.
        assert "Exchange" not in plan, plan
        assert "SelectedBucketsCount" in plan or "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_partitioned_read_prunes_partitions(spark, sf_dir):
    """A filter on the partition column of a partitionBy-written table
    must become a PartitionFilter (directories skipped at planning),
    not a row-level Filter over a full scan."""
    import os

    from jubilant_garbanzo_spark.queries import load_all

    files = load_all()["sink_parquet_partitioned"].fn(spark, sf_dir).inputFiles()
    # <table>/event_type=<value>/part-*.parquet
    assert files and "/event_type=" in files[0], files
    out = os.path.dirname(os.path.dirname(files[0]))
    df = spark.read.parquet(out).filter("event_type = 'click'")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "event_type" in m.group(1), plan


def test_ivf_probe_plan_reads_cached_index(spark, sf_dir):
    """After build_ivf_index, a probe must read the MATERIALIZED index:
    build_ivf_index returns two eager checkpoints whose blocks are all
    stored before any probe runs, and the probe plan scans them
    (``Scan ExistingRDD``) and holds none of the build's operators —
    the centroid build job runs once at build time, never per probe.
    (A checkpoint prints no recipe, so the absence of the build's
    posexplode and avg in the probe plan is a real check.)
    """
    from jubilant_garbanzo_spark.catalog import free_local_checkpoint, load_table
    from jubilant_garbanzo_spark.operators.similarity import (
        build_ivf_index,
        ivf_probe,
    )

    e = load_table(spark, sf_dir, "embeddings")
    assigned, centroids = build_ivf_index(e)
    try:
        stored = {
            i.id(): (i.numCachedPartitions(), i.numPartitions())
            for i in spark.sparkContext._jsc.sc().getRDDStorageInfo()
        }
        rdd_ids = set()
        for name, frame in (("assigned", assigned), ("centroids", centroids)):
            plan = frame._jdf.queryExecution().analyzed()
            assert plan.getClass().getSimpleName() == "LogicalRDD", (
                f"{name} is not a checkpoint: {plan}"
            )
            rdd_id = plan.rdd().id()
            cached, total = stored.get(rdd_id, (0, -1))
            assert cached == total > 0, (
                f"build_ivf_index returned before materializing {name}",
                rdd_id,
                stored,
            )
            rdd_ids.add(rdd_id)
        assert len(rdd_ids) == 2, rdd_ids

        import pyspark.sql.functions as F

        q = e.filter(F.col("vec_id") == 0).select(
            F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec")
        )
        probe = ivf_probe(assigned, centroids, q)
        probe.collect()
        executed = probe._jdf.queryExecution().executedPlan().toString()
        assert executed.count("Scan ExistingRDD") >= 2, executed
        assert "Generate" not in executed, executed
        assert "avg(" not in executed, executed
    finally:
        free_local_checkpoint(assigned)
        free_local_checkpoint(centroids)


def test_candidate_joins_are_equi_joins(spark, sf_dir):
    """The re-blocked similarity/dedup candidate stages must plan as
    equi-joins (hash/sort-merge on band key or shingle) — never a
    cartesian/nested-loop pair enumeration. The only tolerated
    nested-loop is broadcasting a 1-row query vector."""
    from jubilant_garbanzo_spark.plans.inspect import join_strategies

    for name in ("dedup_ngram_jaccard", "embed_similarity_join",
                 "dedup_minhash_lsh", "text_decontamination"):
        df = SPECS[name].fn(spark, sf_dir)
        strategies = join_strategies(df)
        assert strategies, name
        assert "CartesianProduct" not in strategies, (name, strategies)
        assert "BroadcastNestedLoopJoin" not in strategies, (name, strategies)


# --- round-4 sampling / quality / k-NN plan gates ---------------------


def test_stratified_sample_prunes_columns(spark, sf_dir):
    """The hash-threshold sample must be a map-only narrow scan: only
    doc_id and lang leave the parquet reader, never text."""
    from jubilant_garbanzo_spark.plans.inspect import formatted_plan

    df = q(spark, sf_dir, "sample_stratified_hash")
    cols = set(scan_read_schema(df))
    assert cols <= {"doc_id", "lang"}, cols
    assert "Exchange" not in formatted_plan(df), "sampling must not shuffle"


def test_reservoir_sample_limits_window_state(spark, sf_dir):
    """rn <= k over a window must plan with WindowGroupLimit so
    per-group state is O(k), not a full per-group sort buffer."""
    from jubilant_garbanzo_spark.plans.inspect import formatted_plan

    df = q(spark, sf_dir, "sample_reservoir_per_group")
    assert "WindowGroupLimit" in formatted_plan(df)


def test_zscore_broadcasts_group_stats(spark, sf_dir):
    """The per-priority moments table is a handful of rows — it must
    come back onto the fact scan via broadcast, never a shuffle join."""
    df = q(spark, sf_dir, "anomaly_zscore_outliers")
    strategies = join_strategies(df)
    assert strategies, "no joins found in plan"
    assert all(s == "BroadcastHashJoin" for s in strategies), strategies


def test_repetition_filter_aggregates_partially(spark, sf_dir):
    """Top-token counting must combine map-side: the shuffle carries
    (doc_id, token) partial counts, not exploded token rows."""
    df = q(spark, sf_dir, "quality_repetition_filter")
    assert has_partial_aggregate(df)


def test_knn_join_broadcasts_probe_batch(spark, sf_dir):
    """The probe batch must be the broadcast side (corpus scanned once,
    never shuffled or replicated); ranking must use WindowGroupLimit."""
    from jubilant_garbanzo_spark.plans.inspect import formatted_plan

    df = q(spark, sf_dir, "embed_knn_join")
    plan = formatted_plan(df)
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies, strategies
    assert any(s.startswith("Broadcast") for s in strategies), strategies
    assert "WindowGroupLimit" in plan


def test_clustered_readback_pushes_date_filter(spark, sf_dir):
    """The month predicate must reach the clustered parquet scan as a
    pushed filter — that's what lines row-group min/max stats up with
    the clustering for IO pruning."""
    df = q(spark, sf_dir, "sink_clustered_parquet")
    pushed = " ".join(pushed_filters(df))
    assert "o_orderdate" in pushed, pushed


def test_dpp_join_prunes_fact_partitions(spark, sf_dir):
    """join_dpp_partitioned's fact scan must carry a DynamicPruning
    subquery on the partition column — at 100 TB this is the
    difference between reading the dim-selected year directories and
    scanning the whole fact table before the join filters it."""
    df = q(spark, sf_dir, "join_dpp_partitioned")
    s = df._jdf.queryExecution().toString().lower()
    assert "dynamicpruning" in s, "no DynamicPruning subquery planted"


def test_ohlc_downsample_aggregates_partially(spark, sf_dir):
    """min_by/max_by/count/sum must all combine map-side: the OHLC
    shuffle carries one row per (type, hour), never raw events."""
    df = q(spark, sf_dir, "timeseries_downsample_ohlc")
    assert has_partial_aggregate(df)


def test_sessionize_single_user_shuffle(spark, sf_dir):
    """Sessionization's two windows + final agg all key on user_id —
    the plan must contain exactly ONE user_id exchange (the window
    partitioning is reused by the groupBy, no re-shuffle)."""
    df = q(spark, sf_dir, "sessionize_events")
    s = df._jdf.queryExecution().executedPlan().toString()
    import re

    exchanges = [
        ln for ln in s.splitlines() if re.search(r"\bExchange hashpartitioning", ln)
    ]
    assert len(exchanges) == 1, f"expected 1 shuffle, got {len(exchanges)}:\n{s[:2000]}"


def test_triangle_join_never_cartesian(spark, sf_dir):
    """The two-path triangle join and the co-occurrence pairing must
    stay equi-joins — a cartesian product here is quadratic in the
    corpus and fatal at scale. (The three 1-row scalar crossJoins
    assembling the output row legitimately plan as
    BroadcastNestedLoopJoin over single-row sides.)"""
    df = q(spark, sf_dir, "graph_triangle_count")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:2000]
    equi = [s for s in join_strategies(df) if s in ("BroadcastHashJoin", "SortMergeJoin", "ShuffledHashJoin")]
    assert len(equi) >= 4, join_strategies(df)


def test_interval_overlap_is_blocked_equi_join(spark, sf_dir):
    """The session-overlap join must candidate-generate via the
    hour-bucket equi-join (blocking), never a quadratic theta join."""
    df = q(spark, sf_dir, "join_interval_overlap")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert join_strategies(df), "expected an equi-join in the plan"


def test_weighted_sample_uses_topk(spark, sf_dir):
    """Global k-smallest-priority must fuse to TakeOrderedAndProject
    (per-partition heaps), not a full sort."""
    df = q(spark, sf_dir, "sample_weighted_priority")
    assert uses_take_ordered(df)


def test_bigram_pmi_broadcasts_vocab(spark, sf_dir):
    """The unigram-count joins must be broadcast hash joins — the
    vocabulary is orders of magnitude smaller than the corpus, so no
    shuffle join is acceptable. (The two 1-row scalar totals attach
    via BroadcastNestedLoopJoin, which is fine for single-row sides;
    a CartesianProduct anywhere is not.)"""
    df = q(spark, sf_dir, "text_bigram_pmi")
    strategies = join_strategies(df)
    assert strategies, "no joins found in plan"
    assert "CartesianProduct" not in strategies, strategies
    assert strategies.count("BroadcastHashJoin") >= 2, strategies


def test_twa_single_user_shuffle(spark, sf_dir):
    """Time-weighted average: the lead() window and the per-user agg
    must share ONE user_id exchange (same partitioning reused)."""
    df = q(spark, sf_dir, "timeseries_time_weighted_avg")
    s = df._jdf.queryExecution().executedPlan().toString()
    import re

    exchanges = [
        ln for ln in s.splitlines() if re.search(r"\bExchange hashpartitioning", ln)
    ]
    assert len(exchanges) == 1, f"expected 1 shuffle, got {len(exchanges)}:\n{s[:2000]}"


def test_regression_moments_aggregate_partially(spark, sf_dir):
    """The five integer moments must decompose into partial+final
    HashAggregate (map-side combine) — the property that makes the
    exact-moment formulation cheaper than two-pass variance at scale."""
    df = q(spark, sf_dir, "agg_regression_exact_moments")
    assert has_partial_aggregate(df)


def test_zorder_readback_pushes_both_dimensions(spark, sf_dir):
    """The 2-D box query over the z-ordered copy must push BOTH
    predicates (custkey range and date range) into the parquet scan —
    that is the whole point of the Morton layout: row-group min/max
    stats prune on either dimension."""
    df = q(spark, sf_dir, "sink_zorder_parquet")
    pushed = " ".join(pushed_filters(df))
    assert "o_custkey" in pushed, pushed
    assert "o_orderdate" in pushed, pushed


def test_chi2_vocab_joins_broadcast(spark, sf_dir):
    """χ² assembly joins (token marginals, language marginals, scalar
    N) must all broadcast — the marginal tables are vocabulary-sized."""
    df = q(spark, sf_dir, "text_chi2_terms")
    strategies = join_strategies(df)
    assert strategies, "no joins found in plan"
    assert "SortMergeJoin" not in strategies, strategies
    assert "ShuffledHashJoin" not in strategies, strategies


def test_bm25_filters_terms_before_aggregate(spark, sf_dir):
    """BM25's tf aggregate must see only query-term tokens: the isin
    filter sits below the first HashAggregate, so the shuffled volume
    is O(matching tokens), not O(corpus tokens) — the property that
    makes the query a narrow scan at 100 TB. All dimension joins
    (df / corpus stats) must broadcast."""
    df = q(spark, sf_dir, "text_bm25_rank")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:2000]
    # The term filter appears as an IN-list predicate on tok.
    assert "tok" in plan and ("spark" in plan and "stream" in plan), plan[:2000]
    hash_joins = [s for s in join_strategies(df) if s == "BroadcastHashJoin"]
    assert len(hash_joins) >= 2, join_strategies(df)


def test_countmin_probe_broadcasts_sketch(spark, sf_dir):
    """The CMS probe join must broadcast the sketch side — the sketch
    is a fixed 4x128 grid regardless of corpus size, so shipping it
    beats shuffling the candidate set. Build and probe must both stay
    equi-joins (no cartesian fan-out of depths x keys)."""
    df = q(spark, sf_dir, "agg_countmin_heavy_hitters")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in join_strategies(df), join_strategies(df)
    assert has_partial_aggregate(df)


def test_pattern_match_stays_jvm_side(spark, sf_dir):
    """Sequence detection must run entirely in codegen'd built-ins:
    the path serialization (array_sort + transform + array_join) and
    the regexp count are JVM expressions — no Python eval node may
    appear in the plan (zero-hot-path-UDF policy, SURVEY §2c)."""
    df = q(spark, sf_dir, "event_pattern_match")
    plan = df._jdf.queryExecution().executedPlan().toString()
    for node in ("BatchEvalPython", "ArrowEvalPython", "FlatMapsInPandas"):
        assert node not in plan, plan[:2000]


def test_referential_audit_broadcasts_dimensions(spark, sf_dir):
    """Every FK orphan check must plan as a broadcast hash LEFT ANTI
    join (dims are broadcast-sized at every SF); a shuffle or
    nested-loop anti join would make the audit a full-corpus
    re-partition per constraint."""
    df = q(spark, sf_dir, "validate_referential_integrity")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("BroadcastHashJoin") >= 4, plan[:3000]
    assert "SortMergeJoin" not in plan, plan[:3000]


def test_bfs_rounds_are_equi_joins(spark, sf_dir):
    """Each BFS frontier round must join dist⋈edges as an equi-join on
    the node key; the edge-derivation chain must never go cartesian.
    (Single-row scalar crossJoins for the sparsification threshold are
    legitimate BroadcastNestedLoopJoins over 1-row sides.)"""
    df = q(spark, sf_dir, "graph_bfs_hops")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastHashJoin" in join_strategies(df), join_strategies(df)


def test_q9_broadcasts_everything_but_the_order_join(spark, sf_dir):
    """The derived-partsupp q9: the only shuffle join allowed is
    lineitem⋈orders (fact-fact on orderkey); part, partsupp, supplier,
    and nation must all arrive broadcast — at 100 TB they are the
    dimension tier (partsupp is 4·|part| rows, still dimension-sized
    next to lineitem)."""
    df = q(spark, sf_dir, "tpch_q9_product_profit")
    strategies = join_strategies(df)
    assert strategies, "no joins found in plan"
    # BroadcastNestedLoopJoin appears only as the 1-row |supplier|-count
    # crossJoin inside the partsupp derivation — benign by construction.
    shuffled = [
        s
        for s in strategies
        if s not in ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
    ]
    assert len(shuffled) <= 1, strategies


def test_q21_semi_anti_no_cartesian(spark, sf_dir):
    """q21's EXISTS/NOT EXISTS must decorrelate to left-semi/left-anti
    equi-joins on l_orderkey with the supplier inequality as residual —
    never a nested-loop or cartesian plan."""
    df = q(spark, sf_dir, "tpch_q21_suppliers_kept_waiting")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "LeftSemi" in plan, plan[:2000]
    assert "LeftAnti" in plan, plan[:2000]
    assert uses_take_ordered(df)


def test_q2_part_filter_pushed(spark, sf_dir):
    """q2's part predicate (p_size <= 15 AND p_type = 'LARGE') must
    reach the parquet scan so row-group stats prune before the
    partsupp join."""
    df = q(spark, sf_dir, "tpch_q2_min_cost_supplier")
    pushed = " ".join(pushed_filters(df))
    assert "p_size" in pushed, pushed
    assert "p_type" in pushed, pushed


def test_q20_aggregates_lineitem_before_join(spark, sf_dir):
    """q20 must partial-aggregate the date-pruned lineitem scan
    map-side (the shipped-per-(part,supplier) rollup) and push the
    l_shipdate range into the scan."""
    df = q(spark, sf_dir, "tpch_q20_potential_promotion")
    assert has_partial_aggregate(df)
    pushed = " ".join(pushed_filters(df))
    assert "l_shipdate" in pushed, pushed


def test_ewma_single_shuffle(spark, sf_dir):
    """timeseries_ewma is one hash aggregate over user_id: exactly one
    Exchange (plus AQE reads), and the fold itself stays inside
    whole-stage codegen — no Python, no window, no second shuffle."""
    df = q(spark, sf_dir, "timeseries_ewma")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:2000]
    assert "pythonUDF" not in plan, plan[:2000]


def test_scalar_iter_seam_is_arrow_batched(spark, sf_dir):
    """The SCALAR_ITER seam must plan as ArrowEvalPython (vectorized
    Arrow transfer), not BatchEvalPython (pickled rows)."""
    df = q(spark, sf_dir, "pandas_scalar_iter_seam")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan, plan[:2000]
    assert "BatchEvalPython" not in plan, plan[:2000]


def test_null_safe_join_is_hash_join(spark, sf_dir):
    """eqNullSafe must keep equi-join scale behavior: Spark plans the
    null-coalesced key as a hash join, never a nested-loop scan of the
    dim per row."""
    df = q(spark, sf_dir, "join_null_safe")
    strategies = join_strategies(df)
    assert strategies, "no joins found in plan"
    assert "BroadcastNestedLoopJoin" not in strategies, strategies
    assert "CartesianProduct" not in strategies, strategies


def test_union_missing_columns_no_shuffle(spark, sf_dir):
    """Schema-evolution union is a metadata operation plus append —
    the plan must contain no Exchange at all."""
    df = q(spark, sf_dir, "set_union_missing_columns")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]


def test_bloom_prefilter_all_joins_broadcast(spark, sf_dir):
    """join_bloom_prefilter's probe path must be pure broadcast: three
    bitmap-word joins + the exact-verify semi join. A SortMergeJoin
    here would shuffle the 100-TB probe side the filter exists to
    protect."""
    df = q(spark, sf_dir, "join_bloom_prefilter")
    strategies = join_strategies(df)
    assert strategies, "no joins found in plan"
    assert all(s == "BroadcastHashJoin" for s in strategies), strategies


def test_interval_coverage_single_shuffle(spark, sf_dir):
    """The sweep-line claim is structural: both window passes and both
    aggregations reuse ONE user_id hash partitioning — exactly one
    Exchange in the executed plan, and no global sort."""
    df = q(spark, sf_dir, "timeseries_interval_coverage")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:2000]
    assert "Exchange rangepartitioning" not in plan, plan[:2000]
    assert "Exchange SinglePartition" not in plan, plan[:2000]


def test_kmeans_no_cartesian_and_jvm_side(spark, sf_dir):
    """Every k-means distance join must be either keyed (hash on
    vec_id / pos) or a BROADCAST cross-join against the bounded k-row
    centroid-array table (the round-16 array kernel: N·k distance rows,
    never an unbroadcast cartesian explosion of two data-sized inputs)
    — and below ``ARROW_ASSIGN_CELLS`` the whole loop stays in the JVM
    (no Python eval node)."""
    df = q(spark, sf_dir, "embed_kmeans_lloyd")
    strategies = join_strategies(df)
    assert strategies, "no joins found in plan"
    assert "CartesianProduct" not in strategies, strategies
    plan = df._jdf.queryExecution().executedPlan().toString()
    # The only nested-loop joins allowed are broadcast cross-joins
    # (the k-row centroid side is the build side by construction —
    # it is the only frame the body broadcasts into a cross join).
    import re

    matches = list(re.finditer(r"BroadcastNestedLoopJoin \w+, (\w+)", plan))
    if "BroadcastNestedLoopJoin" in plan:
        assert matches, plan[:2000]
    for m in matches:
        assert m.group(1) == "Cross", plan[:2000]
    assert "Python" not in plan, plan[:2000]


def test_sparse_tfidf_caps_df_before_collecting(spark, sf_dir):
    """The stop-shingle cap must filter terms BEFORE their posting lists
    are collected: the df filter sits below the collect_list aggregate
    (in a count-only df aggregate feeding a semi-join), so no
    aggregation buffer holds a corpus-sized posting list."""
    import re

    from jubilant_garbanzo_spark.catalog import load_table
    from jubilant_garbanzo_spark.queries.llm import (
        _SPARSE_DF_CAP,
        _capped_postings,
    )

    df = _capped_postings(load_table(spark, sf_dir, "documents"))
    lines = df._jdf.queryExecution().executedPlan().toString().splitlines()
    plan = "\n".join(lines)
    collects = [i for i, ln in enumerate(lines) if "collect_list(" in ln]
    caps = [
        i
        for i, ln in enumerate(lines)
        if re.search(rf"Filter \(df#\d+L? <= {_SPARSE_DF_CAP}\)", ln)
    ]
    assert collects and caps, plan
    assert min(caps) > max(collects), plan
    assert "LeftSemi" in plan, plan


def test_global_row_number_no_global_data_sort(spark, sf_dir):
    """The data-side window must be hash-partitioned by bucket; the
    only single-partition exchanges feed the 64-row offsets window and
    the 1-row total — never the data. No range partitioning (which a
    global row_number window would require)."""
    df = q(spark, sf_dir, "ids_global_row_number")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" not in plan, plan[:2000]
    assert plan.count("Exchange hashpartitioning") >= 1, plan[:2000]
    assert plan.count("Exchange SinglePartition") <= 2, plan[:2000]


def test_checksum_no_row_shuffle(spark, sf_dir):
    """Table checksums are single-pass global aggregates: map-side
    partials per table, then a 1-row-per-partition SinglePartition
    exchange — never a hash repartition of data rows."""
    df = q(spark, sf_dir, "validate_table_checksum")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan[:2000]
    assert has_partial_aggregate(df), "expected partial aggregation"


def test_copurchase_no_cartesian(spark, sf_dir):
    """Pair generation must join on the basket key (bounded fanout);
    the only nested-loop join allowed is the broadcast of the 1-row
    basket total."""
    df = q(spark, sf_dir, "assoc_copurchase_lift")
    strategies = join_strategies(df)
    assert strategies, "no joins found in plan"
    assert "CartesianProduct" not in strategies, strategies


def test_pit_join_single_shuffle_no_range_join(spark, sf_dir):
    """The point-in-time join must be ONE user_id hash partitioning
    serving the union and the window — no join operator at all (the
    range-join formulation it replaces would show here)."""
    df = q(spark, sf_dir, "join_point_in_time_scd2")
    assert join_strategies(df) == [], join_strategies(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:2000]
    assert "Exchange SinglePartition" not in plan, plan[:2000]


def test_asof_forward_tolerance_single_shuffle(spark, sf_dir):
    """Forward as-of with tolerance keeps the union-sort cost model:
    one hash Exchange, no joins, no global sort."""
    df = q(spark, sf_dir, "join_asof_forward_tolerance")
    assert join_strategies(df) == [], join_strategies(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:2000]
    assert "Exchange rangepartitioning" not in plan, plan[:2000]


def test_shard_binpack_no_global_sort(spark, sf_dir):
    """Shard assignment must stay per-bucket parallel: hash-partitioned
    windows only — no single-partition exchange, no range sort."""
    df = q(spark, sf_dir, "pipeline_shard_binpack")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan[:2000]
    assert "Exchange rangepartitioning" not in plan, plan[:2000]


def test_lateral_topn_decorrelates(spark, sf_dir):
    """The correlated LATERAL subquery must decorrelate into a ranked
    window + equi join — never a per-outer-row nested loop or
    cartesian re-scan of customer."""
    df = q(spark, sf_dir, "join_lateral_topn")
    strategies = join_strategies(df)
    assert strategies, "no joins found in plan"
    assert "CartesianProduct" not in strategies, strategies
    assert "BroadcastNestedLoopJoin" not in strategies, strategies
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Window" in plan, plan[:2000]


def test_variant_path_stays_jvm_side(spark, sf_dir):
    """parse_json/variant_get must run as JVM expressions (no Python
    eval node) — the point of VARIANT over a pandas-UDF JSON parser."""
    df = q(spark, sf_dir, "json_variant_type")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Python" not in plan, plan[:2000]


def test_zipf_top100_is_take_ordered(spark, sf_dir):
    """The top-100 vocabulary cut must plan as TakeOrderedAndProject
    (per-partition heaps), not a global sort of the term table."""
    df = q(spark, sf_dir, "text_zipf_slope")
    assert uses_take_ordered(df), "expected TakeOrderedAndProject"


def test_advisor_flags_known_antipatterns(spark, sf_dir):
    """plans.advise must flag a row-pickling UDF and stay silent on a
    clean pushed-filter scan."""
    from pyspark.sql.functions import col, udf

    from jubilant_garbanzo_spark.plans import advise

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    clean = li.filter(col("l_quantity") > 30).select("l_orderkey")
    assert advise(clean) == []

    bad = li.select(udf(lambda s: s, "string")(col("l_returnflag")).alias("f"))
    assert "python-eval" in {f["code"] for f in advise(bad)}


def test_advisor_headline_queries_have_no_warnings(spark, sf_dir):
    """Every headline query must come back WARN-free from the advisor —
    the same bar the individual plan gates enforce, swept across the
    whole benched set (info-level findings, e.g. 1-row nested-loop
    broadcasts, are allowed)."""
    import importlib.util
    from pathlib import Path

    from jubilant_garbanzo_spark.plans import advise

    spec = importlib.util.spec_from_file_location(
        "bench", Path(__file__).resolve().parents[1] / "bench.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    offenders = {}
    for name in mod.HEADLINE:
        df = q(spark, sf_dir, name)
        warns = [f for f in advise(df) if f["severity"] == "warn"]
        if warns:
            offenders[name] = [f["code"] for f in warns]
    assert not offenders, offenders


def test_attribution_single_shuffle_no_join(spark, sf_dir):
    """Last-touch attribution must be the single-pass running-struct
    window — ONE user_id hash partitioning, NO join operator (the
    purchase×touch rank-over-join the oracle uses would show here as a
    join + a second shuffle)."""
    df = q(spark, sf_dir, "event_attribution_last_touch")
    assert join_strategies(df) == [], join_strategies(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") <= 1, plan[:2000]


def test_ks_window_runs_on_value_spectrum(spark, sf_dir):
    """The KS supremum's single-partition window may only see the
    grouped value spectrum (post-aggregation), never raw events: the
    plan must place a partial/final aggregate BEFORE the one
    SinglePartition exchange feeding the window sort."""
    df = q(spark, sf_dir, "profile_ks_two_sample")
    assert has_partial_aggregate(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    agg_pos = plan.find("HashAggregate")
    assert agg_pos != -1, plan[:2000]


def test_interpolate_no_self_join_blowup(spark, sf_dir):
    """Interpolation must bracket via windows, not join the spine
    against observations more than once: exactly the spine-building
    join + the obs left join — no range join, no cartesian."""
    df = q(spark, sf_dir, "timeseries_linear_interpolate")
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies, strategies
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]


def test_range_lookup_broadcasts_tiers_and_covers_all_orders(spark, sf_dir):
    """The tier dim must arrive via broadcast (no shuffle for a 4-row
    table) and the half-open tiers must partition the price domain:
    every order lands in exactly one tier."""
    df = q(spark, sf_dir, "join_range_lookup")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in plan, plan[:2000]
    assert "Exchange hashpartitioning" not in plan.split("HashAggregate")[0], (
        "probe side shuffled before the broadcast join"
    )
    from jubilant_garbanzo_spark.catalog import load_table
    from pyspark.sql import functions as F

    total = df.agg(F.sum("n_orders")).collect()[0][0]
    n_orders = load_table(spark, sf_dir, "orders").count()
    assert total == n_orders, (total, n_orders)


def test_streaks_single_shuffle_take_ordered(spark, sf_dir):
    """Gaps-and-islands must stay join-free: one user_id partitioning
    feeds the distinct, the island window, and the per-user best; the
    global top-25 must fuse to TakeOrderedAndProject."""
    df = q(spark, sf_dir, "event_activity_streaks")
    assert join_strategies(df) == [], join_strategies(df)
    assert uses_take_ordered(df)


def test_sql_udf_body_is_inlined(spark, sf_dir):
    """A SQL-defined function must dissolve into the plan at resolution
    time: no Python evaluation node anywhere (the whole point over a
    Python UDF), and the aggregation still combines map-side."""
    df = q(spark, sf_dir, "sql_udf_scalar")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan, plan[:2000]
    assert "ArrowEvalPython" not in plan, plan[:2000]
    assert has_partial_aggregate(df)


def test_pipe_syntax_plans_like_nested_form(spark, sf_dir):
    """The |> pipeline must produce the same plan shape as the classic
    GROUP BY: filter present, partial+final aggregation, no joins —
    pipe syntax is parse-level sugar, not a different executor."""
    df = q(spark, sf_dir, "sql_pipe_syntax")
    assert join_strategies(df) == [], join_strategies(df)
    assert has_partial_aggregate(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Filter" in plan, plan[:2000]


def test_parameterized_sql_pushes_bound_literal(spark, sf_dir):
    """A named-parameter binding must behave exactly like a hand-written
    literal: the c_nationkey filter reaches the parquet scan as a
    pushed predicate (parameterization is parse-time, not a runtime
    filter barrier)."""
    df = q(spark, sf_dir, "sql_parameterized")
    pushed = " ".join(pushed_filters(df))
    assert "c_nationkey" in pushed, pushed


def test_minhash_accuracy_has_no_nested_loop(spark, sf_dir):
    """Round-7 regression pin: dedup_minhash_accuracy's candidate stage
    must be the banded hash equi-join. The round-6 body joined on
    (id_a < id_b) AND (OR of per-band equalities) — Catalyst can only
    execute that as a BroadcastNestedLoopJoin over all N² signature
    pairs (the 12.5 s x1 outlier in BENCH_scale). If either shows up
    again, the scale story is gone regardless of row correctness."""
    from jubilant_garbanzo_spark.plans import formatted_plan

    df = q(spark, sf_dir, "dedup_minhash_accuracy")
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]


def test_duplicated_ngram_coverage_hash_joins_only(spark, sf_dir):
    """The duplicated-span coverage query is two hash aggregates plus
    one hash join on the span — any nested-loop/cartesian means the
    span join lost its equi-key."""
    from jubilant_garbanzo_spark.plans import formatted_plan

    df = q(spark, sf_dir, "text_duplicated_ngram_coverage")
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert has_partial_aggregate(df)


def test_skyline_is_sort_sweep_not_quadratic(spark, sf_dir):
    """The skyline operator must plan as aggregates + a partitioned
    window + an equi-join on (nation, qty) — the quadratic NOT-EXISTS
    shape lives only in the oracle. The two fact-side joins broadcast
    the supplier/nation dims."""
    from jubilant_garbanzo_spark.plans import formatted_plan, join_strategies

    df = q(spark, sf_dir, "skyline_pareto_frontier")
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "Window" in plan, plan[:2000]
    strategies = join_strategies(df)
    assert "BroadcastHashJoin" in strategies, strategies


def test_pq_adc_broadcast_lut_take_ordered(spark, sf_dir):
    """PQ-ADC search must score in the compressed domain: the only
    per-corpus-row work is m element_at lookups against the ONE-row
    broadcast LUT (BroadcastNestedLoopJoin with a 1-row build side is
    the intended shape here — never a shuffle), and the top-k must
    fuse to TakeOrderedAndProject, not a global sort."""
    from jubilant_garbanzo_spark.plans import formatted_plan

    df = q(spark, sf_dir, "embed_ann_pq_adc")
    plan = formatted_plan(df)
    assert uses_take_ordered(df)
    assert "Exchange hashpartitioning" not in plan.replace(
        "Exchange hashpartitioning(vec_id", "ENCODE-GROUPBY(vec_id"
    ), plan[:2000]
    assert "element_at" in plan
    assert "BroadcastExchange" in plan


def test_quality_classifier_broadcasts_weights(spark, sf_dir):
    """The hashed-BoW weight table (64 rows; a few MB even at fastText
    scale) must broadcast onto the token stream — a shuffle join here
    would shuffle the whole corpus by hash bucket."""
    df = q(spark, sf_dir, "text_quality_classifier")
    strategies = join_strategies(df)
    assert strategies, "no joins found in plan"
    assert all(s == "BroadcastHashJoin" for s in strategies), strategies


def test_bpe_tokenize_shuffles_only_for_the_counts(spark, sf_dir):
    """The tokenizer itself is per-row HOF work over DISTINCT words:
    the only exchanges belong to the two counting aggregations (the
    word-frequency groupBy that builds the vocabulary cache, then the
    token-frequency groupBy + TakeOrdered) — never the merge rounds."""
    df = q(spark, sf_dir, "text_bpe_tokenize")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 2, plan[:2000]
    assert has_partial_aggregate(df)
    assert uses_take_ordered(df)


def test_suffix_array_dense_rank_never_windows_the_data(spark, sf_dir):
    """The two-phase dense rank must keep the ONLY unpartitioned
    window on the <=64-row bucket-counts table: at most one
    SinglePartition exchange in the pass, and the per-bucket
    row_number window is partitioned by the range bucket."""
    from pyspark.sql import functions as F

    from jubilant_garbanzo_spark.catalog import load_table
    from jubilant_garbanzo_spark.operators import suffixarray as SA

    docs = load_table(spark, sf_dir, "documents")
    pos = SA.corpus_positions(docs)
    r0 = SA._dense_rank(
        pos.select("tok", F.substring("tok", 1, 1).alias("_b")), ["tok"]
    )
    plan = r0._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange SinglePartition") <= 1, plan[:2000]
    assert "hashpartitioning(_b" in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_suffix_ranks_session_cache_shares_one_build(spark, sf_dir):
    """The registered suffix ranks (catalog.session_index, keyed by
    sf_dir) must return the SAME checkpointed frame on a second call
    (the minhash_index build-once/probe-many shape); an ad-hoc
    suffix_ranks call must not share it."""
    from jubilant_garbanzo_spark.catalog import load_table
    from jubilant_garbanzo_spark.operators import suffixarray as SA
    from jubilant_garbanzo_spark.queries.llm import _docs_suffix_ranks

    a = _docs_suffix_ranks(spark, sf_dir)
    b = _docs_suffix_ranks(spark, sf_dir)
    assert a is b
    c = SA.suffix_ranks(load_table(spark, sf_dir, "documents"))
    assert c is not a


def test_minhash_index_session_cache_shares_one_build(
    spark, sf_dir, tmp_path, monkeypatch
):
    """Two dedup_* queries on one sf_dir must probe the SAME registered
    MinHash index: one build, the same checkpointed frames. An ad-hoc
    minhash_index call must not share them."""
    import shutil

    from jubilant_garbanzo_spark.catalog import load_table
    from jubilant_garbanzo_spark.operators import dedup as D
    from jubilant_garbanzo_spark.queries.llm import _docs_minhash_index

    sf = tmp_path / "sf"  # a fixture no earlier test has registered
    sf.mkdir()
    shutil.copyfile(f"{sf_dir}/documents.parquet", sf / "documents.parquet")
    build, builds = D.minhash_index, []

    def counted(*args):
        builds.append(build(*args))
        return builds[-1]

    monkeypatch.setattr(D, "minhash_index", counted)
    for name in ("dedup_minhash_lsh", "dedup_cluster_cc"):
        q(spark, str(sf), name).collect()
    assert len(builds) == 1, builds
    index = _docs_minhash_index(spark, str(sf))
    assert index is builds[0]
    adhoc = build(load_table(spark, str(sf), "documents"))
    assert all(a is not b for a, b in zip(adhoc, index))


def test_span_corruption_is_a_pure_map_stage(spark, sf_dir):
    """Per-row HOF work only (the 100 TB claim in its docstring): the
    ONLY exchange is the gated round-robin scan fan-out (present on
    this single-row-group fixture) directly above the scan — never a
    hash/range exchange (no keyed shuffle exists) — and the per-row
    work runs in whole-stage codegen."""
    df = q(spark, sf_dir, "text_span_corruption")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == plan.count(
        "Exchange RoundRobinPartitioning"
    ), plan[:2000]
    assert codegen_stage_count(df) >= 1


def test_kneser_ney_aggregates_combine_map_side(spark, sf_dir):
    """All three count models and the per-doc reduce must partial-agg;
    the only nested-loop join is the broadcast 1-row TT constant."""
    df = q(spark, sf_dir, "text_kneser_ney_nll")
    assert has_partial_aggregate(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastNestedLoopJoin") <= 1, plan[:2000]


def test_cluster_keep_best_argmax_is_map_side_combinable(spark, sf_dir):
    """The struct-argmax keeper aggregate must plan with a partial
    phase (max is combinable), and no quadratic join may appear."""
    df = q(spark, sf_dir, "dedup_cluster_keep_best")
    assert has_partial_aggregate(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan


def test_ngram_novelty_is_two_hash_aggs_and_a_join(spark, sf_dir):
    """First-occurrence attribution = min per shingle + count per doc:
    hash aggregates with partial phases, no window over data, no
    cartesian."""
    df = q(spark, sf_dir, "text_ngram_novelty")
    assert has_partial_aggregate(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan[:2000]
    assert "CartesianProduct" not in plan


def test_global_shuffle_no_global_data_sort(spark, sf_dir):
    """The permutation rank must be two-phase: data windows are
    hash-partitioned by the md5-prefix bucket; the only
    single-partition exchange feeds the 256-row offsets window —
    never a range sort of the data."""
    df = q(spark, sf_dir, "pipeline_global_shuffle")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange rangepartitioning" not in plan, plan[:2000]
    assert plan.count("Exchange SinglePartition") <= 1, plan[:2000]
    assert "hashpartitioning(bucket" in plan, plan[:2000]


def test_unigram_tokenize_single_shuffle_jvm_side(spark, sf_dir):
    """The Viterbi DP is a plan-constant JVM fold over the word dict:
    exactly the word-count aggregation shuffles (map-side combined),
    and no Python stage exists anywhere — the tokenizer hot path
    stays inside codegen."""
    df = q(spark, sf_dir, "text_unigram_tokenize")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1, plan[:2000]
    assert "Python" not in plan, plan[:2000]
    assert has_partial_aggregate(df)


def test_phash_dedup_band_join_no_nested_loop(spark, sf_dir):
    """Perceptual-hash dedup must stay banded: every join is a hash
    join on the band key or the id (never a cartesian / nested-loop
    all-pairs), mirroring the MinHash-LSH plan gate."""
    df = q(spark, sf_dir, "multimodal_phash_dedup")
    strategies = join_strategies(df)
    assert strategies, "no joins found in plan"
    assert "CartesianProduct" not in strategies, strategies
    assert "BroadcastNestedLoopJoin" not in strategies, strategies


def test_exactsubstr_removal_windows_partition_by_rank(spark, sf_dir):
    """The removal stage's windows partition BY RANK and the rebuild
    aggregates per doc — no single-partition exchange and no range
    sort anywhere downstream of the (checkpointed) suffix index."""
    df = q(spark, sf_dir, "dedup_exactsubstr_removal")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange SinglePartition" not in plan, plan[:2000]
    assert "Exchange rangepartitioning" not in plan, plan[:2000]
    assert "hashpartitioning(r" in plan, plan[:2000]
    strategies = join_strategies(df)
    assert "CartesianProduct" not in strategies, strategies


def test_audio_vad_is_one_python_map_no_shuffle(spark, sf_dir):
    """The VAD kernel must plan as a single Arrow-batched Python map
    over the scan — zero exchanges, zero joins (the per-doc summary
    happens inside the kernel, not in a groupBy)."""
    df = q(spark, sf_dir, "multimodal_audio_vad")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan[:2000]
    assert plan.count("MapInPandas") == 1, plan[:2000]


def test_pca_scatter_aggregate_combines_map_side(spark, sf_dir):
    """The 64x64 outer-product aggregate is the ONLY corpus-sized
    stage: it must partial-agg (map-side combine shrinks the shuffle
    to 2080 upper-triangle cells per task), and the LUT/scalar frames
    must ride broadcasts, never a cartesian product.

    Round 15: the query eager-checkpoints the scatter frame (the
    concurrent-subtree stampede fix), which truncates the final plan's
    lineage — so the partial-aggregate gate runs on the pre-checkpoint
    builder frame (``_pca_scatter_upper``), the same pattern as the
    farthest-point test below."""
    from jubilant_garbanzo_spark.queries.llm import (
        _PCA_SCALE,
        _pca_scatter_upper,
    )
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv = e.select(
        F.expr(
            f"transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)"
            f" * {_PCA_SCALE}.0) AS BIGINT))"
        ).alias("qv")
    )
    assert has_partial_aggregate(_pca_scatter_upper(qv))
    df = q(spark, sf_dir, "embed_pca_power_iteration")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:2000]


def test_farthest_point_rounds_broadcast_the_centers(spark, sf_dir):
    """Every Gonzalez pass is corpus x broadcast(1-row center block):
    no cartesian product, no shuffle of the corpus beyond the initial
    quantized projection (localCheckpoint truncates lineage, so the
    executed plan of the FINAL select is tiny — gate the builder
    frames instead)."""
    from jubilant_garbanzo_spark.queries.llm import _FPI_SCALE

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    from pyspark.sql import functions as F

    qv = e.select(
        "vec_id",
        F.expr(
            f"transform(embedding, v -> CAST(round(CAST(v AS DOUBLE)"
            f" * {_FPI_SCALE}.0) AS BIGINT))"
        ).alias("qv"),
    )
    carr = qv.limit(1).agg(F.collect_list(F.struct("qv")).alias("cs"))
    probe = qv.crossJoin(F.broadcast(carr)).select("vec_id")
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:2000]
    assert "BroadcastNestedLoopJoin" in plan, plan[:2000]


def test_cusum_windows_only_the_hourly_grid(spark, sf_dir):
    """Every window in the change-point plan must run AFTER the
    hourly rollup: exactly one corpus-sized hash aggregate feeds the
    window chain, and the plan carries a partial phase for it."""
    df = q(spark, sf_dir, "timeseries_cusum_changepoint")
    assert has_partial_aggregate(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan, plan[:2000]


def test_recursive_cte_collapses_facts_before_recursion(spark, sf_dir):
    """UnionLoop replans its recursive member EVERY iteration, so the
    fact join must NOT live inside the loop (the first implementation
    planned exactly that: fact scans in the loop body, re-run per
    hop). Pin the fix: the loop is present, and the only parquet
    relation anywhere in the plan is the nation dimension lookup —
    the edge list enters as the pre-materialized checkpoint."""
    df = q(spark, sf_dir, "sql_recursive_cte_reachability")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "UnionLoop" in plan, plan[:2000]
    for t in ("lineitem", "orders", "customer", "supplier"):
        assert t not in plan, f"fact scan {t} re-entered the loop"


def test_wordpiece_tokenize_single_shuffle_jvm_side(spark, sf_dir):
    """The greedy longest-match loop is a plan-constant JVM fold over
    the word dict (same discipline as the unigram gate): exactly the
    word-count aggregation shuffles, and no Python stage exists —
    the third tokenizer family's hot path stays inside codegen."""
    df = q(spark, sf_dir, "text_wordpiece_tokenize")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") <= 1, plan[:2000]
    assert "Python" not in plan, plan[:2000]
    assert has_partial_aggregate(df)


def test_wordpiece_train_round_is_vocabulary_sized(spark, sf_dir):
    """One WordPiece training round must aggregate map-side (the
    pair/symbol counts are vocabulary-sized partials, never a raw
    token shuffle) and join the two symbol-count sides by broadcast —
    a shuffle join there would co-shuffle every distinct pair per
    round."""
    import re

    from jubilant_garbanzo_spark.catalog import load_table
    from jubilant_garbanzo_spark.operators import bpe as BPE
    from jubilant_garbanzo_spark.operators import textops as TX
    from jubilant_garbanzo_spark.operators import wordpiece as W
    from jubilant_garbanzo_spark.plans import formatted_plan

    words = TX.word_counts(load_table(spark, sf_dir, "documents"))
    # train_wordpiece_merges localCheckpoints each round (truncating
    # the inspectable plan), so gate round 0 as the shared loop builds
    # it: char split -> pair explode -> WordPiece's scoring.
    toks = BPE.char_tokens(words)
    scored = W.likelihood_scores(toks, BPE.adjacent_pairs(toks))
    # map-side partial sums keyed by the pair (2 keys) AND by the
    # symbol (1 key)
    partial_keys = re.findall(
        r"Keys \[(\d+)\]: [^\n]*\nFunctions \[1\]: \[partial_sum\(cnt",
        formatted_plan(scored),
    )
    assert "2" in partial_keys, partial_keys
    assert "1" in partial_keys, partial_keys
    strategies = join_strategies(scored)
    assert strategies and all("Broadcast" in s for s in strategies), strategies
    # and the end-to-end operator stays cartesian-free
    df = W.train_wordpiece_merges(words, rounds=2)
    assert "CartesianProduct" not in join_strategies(df), join_strategies(df)


def test_phash_tiered_join_runs_on_distinct_hashes(spark, sf_dir):
    """The exact-group-collapse tier's near-pair join must be a hash
    join over the band key (never cartesian/nested-loop), with the
    groupBy collapse partial-aggregated — the structure that keeps
    candidate mass content-bounded on duplicated corpora."""
    from pyspark.sql import functions as F

    from jubilant_garbanzo_spark.catalog import load_table
    from jubilant_garbanzo_spark.operators import multimodal as M

    d = load_table(spark, sf_dir, "documents")
    payloads = d.select(
        "doc_id", F.encode(F.col("text"), "utf-8").alias("payload")
    )
    groups, near = M.dhash_tiered_dedup(payloads)
    assert has_partial_aggregate(groups)
    strategies = join_strategies(near)
    assert strategies, "no joins found in plan"
    assert "CartesianProduct" not in strategies, strategies
    assert "BroadcastNestedLoopJoin" not in strategies, strategies


def test_checkpointed_frames_show_as_existing_rdd(spark, sf_dir):
    """Plan-evidence hygiene (VERDICT r15 #3): a query whose body
    eagerly localCheckpoints a shared frame must SHOW that truncation —
    the consumers read `Scan ExistingRDD`, and the original lineage
    (the fact-join derivation) must not repeat under every consumer.
    Round 15's committed kcore 'after' plan silently came from the
    pre-change tree (zero ExistingRDD scans, impossible for the
    committed body); this pins the property at runtime so a stale
    artifact can never again contradict the code."""
    for name in ("graph_kcore", "text_longest_dup_substring",
                 "assoc_copurchase_lift", "multimodal_phash_dedup"):
        df = q(spark, sf_dir, name)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "ExistingRDD" in plan, f"{name}: checkpoint not in plan"
    # kcore specifically: the peel rounds must read the checkpointed
    # edge list, not re-derive lineitem joins per broadcast subtree.
    df = q(spark, sf_dir, "graph_kcore")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("lineitem") <= 1, plan[:3000]


def test_fan_out_scan_rereads_table_rewritten_in_place(
    spark, sf_dir, tmp_path
):
    """fan_out_scan memoizes each table's row-group count per fixture
    dir. Rewriting documents.parquet in place with enough row groups to
    fill the cores must drop the repartition the old single-row-group
    layout needed."""
    import pyarrow.parquet as pq

    from jubilant_garbanzo_spark.catalog import fan_out_scan, load_table

    parallelism = spark.sparkContext.defaultParallelism
    src = pq.read_table(f"{sf_dir}/documents.parquet")
    assert len(src) >= parallelism
    sf = tmp_path / "sf"
    sf.mkdir()

    def fan_out(row_group_size):
        pq.write_table(
            src, sf / "documents.parquet", row_group_size=row_group_size
        )
        df = load_table(spark, str(sf), "documents")
        return df, fan_out_scan(spark, df, str(sf), "documents")

    df, out = fan_out(len(src))
    assert out is not df
    df, out = fan_out(len(src) // parallelism)
    assert pq.ParquetFile(sf / "documents.parquet").num_row_groups >= parallelism
    assert out is df
