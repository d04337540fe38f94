"""Physical-plan audits: the scale-critical plan properties asserted as
tests, so a regression in join strategy / pushdown / codegen is caught the
same way a wrong result is. (The `.explain('formatted')` loop, mechanized.)"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMALL
from wheels_in_motion_analytics_spark.registry import load_all_queries

SPECS = load_all_queries()


def plan_of(spark, name: str) -> str:
    return SPECS[name].fn(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()


def test_star_join_all_broadcast(spark):
    """At test scale every join in the star resolves to a broadcast hash
    join — the dims via explicit hint, orders/customer via the size-based
    auto-broadcast threshold (they carry no hint; see
    test_no_forced_broadcast_on_fact_tables for the scale posture)."""
    plan = plan_of(spark, "star_join_enriched")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


@pytest.mark.parametrize(
    "name",
    [
        "star_join_enriched",
        "flagship_rides_by_dim",
        "top_unshipped_orders",
        "returned_item_customers",
        "regional_market_share",
        "priority_shipping_summary",
    ],
)
def test_no_forced_broadcast_on_fact_tables(spark, name):
    """100 TB posture: orders/customer are fact-scaled, so no plan may FORCE
    a broadcast on them. With the auto-broadcast threshold disabled, any
    remaining BroadcastExchange must come from an explicit hint — so the
    fact⋈fact joins must appear as shuffle joins (SortMerge/ShuffledHash),
    while bounded dims (region/nation/supplier/part) may stay broadcast."""
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(spark, name)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), (
        f"{name}: with auto-broadcast off, the orders/customer joins must "
        f"fall back to shuffle joins — a forced broadcast hint on a "
        f"fact-scaled table survived:\n{plan}"
    )
    # The hinted bounded dims must not shuffle the fact side per dim: any
    # broadcast that remains is fine, but a plan that broadcasts NOTHING
    # while hints exist would mean the dim hints were dropped.
    if name in ("star_join_enriched", "returned_item_customers", "regional_market_share"):
        assert "BroadcastHashJoin" in plan, f"{name}: dim broadcast hints lost"


def test_scan_projection_pushdown(spark):
    """Column pruning must reach the parquet scan: reading 2 columns of an
    11-column table must not materialize the rest."""
    df = SPECS["scan_parquet_project"].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReadSchema" in plan
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" in read_schema and "l_quantity" in read_schema
    assert "l_extendedprice" not in read_schema  # pruned
    assert "PushedFilters: [" in plan  # predicate reached the scan


def test_filter_pushdown_to_scan(spark):
    plan = plan_of(spark, "filter_null_predicate")
    assert "PushedFilters" in plan
    # the discount range predicate must appear among pushed filters
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_discount" in pushed


def test_aggregate_is_partial_final(spark):
    """groupBy compiles to partial (map-side) + final hash aggregate — the
    shape whose shuffle is O(|groups|), not O(|rows|)."""
    plan = plan_of(spark, "agg_stats_suite")
    assert plan.count("HashAggregate") >= 2


def test_band_join_broadcasts_tiny_side(spark):
    """The inequality-only band join must broadcast the 3-row band table,
    never shuffle-nested-loop or cartesian-partition the big side."""
    plan = plan_of(spark, "band_join_price_buckets")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_anti_semi_join_broadcast(spark):
    for name in ("anti_join_new_keys", "semi_join_active_keys"):
        plan = plan_of(spark, name)
        assert "BroadcastHashJoin" in plan, name
        assert ("LeftAnti" in plan) or ("LeftSemi" in plan), name


def test_asof_join_single_shuffle_no_range_explosion(spark):
    """The as-of join must be window-based: exactly one exchange on the key,
    no join-operator cross product."""
    plan = plan_of(spark, "asof_join_last_signup")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "RunningWindowFunction" in plan or "Window" in plan


def test_flagship_no_python_in_hot_path(spark):
    """The flagship dashboard query must stay entirely JVM-side."""
    plan = plan_of(spark, "flagship_rides_by_dim")
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


@pytest.mark.parametrize(
    "name",
    [
        "project_rename_cast",
        "string_funcs_suite",
        "math_funcs_suite",
        "text_stats",
    ],
)
def test_scalar_suites_whole_stage_codegen(spark, name):
    """Scalar-function suites are pure narrow plans: no exchange at all and
    fully code-generated."""
    plan = plan_of(spark, name)
    assert "Exchange" not in plan, name
    # whole-stage-codegen stages print as "*(n)" prefixes
    assert "*(1)" in plan, name


def test_partition_pruning_reaches_scan(spark):
    """The 3-month predicate on the hive-partitioned derived lineitem must
    prune at the scan: PartitionFilters carries the predicate, and the files
    actually read come only from the 3 matching month directories (of ~83)."""
    import pyspark.sql.functions as F

    from wheels_in_motion_analytics_spark.sources.partitioned import (
        PRUNE_MONTHS,
        ensure_partitioned_lineitem,
        pruned_scan,
    )

    df = pruned_scan(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ship_month" in plan

    files = [
        r.f
        for r in df.select(F.input_file_name().alias("f")).distinct().collect()
    ]
    assert files, "pruned scan read no files"
    assert all(any(f"ship_month={m}" in f for m in PRUNE_MONTHS) for f in files)

    import os

    root = ensure_partitioned_lineitem(spark, SF_SMALL)
    n_months = sum(1 for d in os.listdir(root) if d.startswith("ship_month="))
    assert n_months > 20, f"expected many month partitions, got {n_months}"


def test_orc_scan_pushes_down_filter(spark):
    """The ORC round-trip scan gets the same pushdown treatment as parquet:
    the date predicate reaches the ORC reader (PushedFilters), and only the
    four referenced columns are read."""
    plan = plan_of(spark, "orc_roundtrip_agg")
    assert "orc" in plan.lower()
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(o_orderdate" in plan
    assert "o_comment" not in plan  # column pruning


def test_partitioned_cdc_merge_scan_prunes(spark, tmp_path, monkeypatch):
    """The partition-scoped MERGE's own read of current state opens only
    the dirty months' files — clean months are never scanned."""
    import re

    import pyspark.sql.functions as F

    from wheels_in_motion_analytics_spark.sources import cdc, versioned

    path = str(tmp_path / "state")
    versioned.commit(
        cdc._base_state_partitioned(spark, SF_SMALL).repartition(F.col("order_month")),
        path,
        mode="overwrite",
        partition_col="order_month",
    )
    reads = []
    real_read = versioned.read_entries

    def spy(*args, **kwargs):
        reads.append(real_read(*args, **kwargs))
        return reads[-1]

    monkeypatch.setattr(versioned, "read_entries", spy)
    assert cdc.merge_upsert(
        spark, path, cdc._update_batch_months(spark, SF_SMALL),
        ["order_id"], "version", "b1", partition_col="order_month",
    )
    (scan,) = reads
    opened = scan.inputFiles()
    months = {re.search(r"order_month=([^/]+)/", f).group(1) for f in opened}
    assert months == set(cdc.DIRTY_MONTHS)
    n_dirty = sum(
        1
        for e in versioned._manifest(path, 1)["files"]
        if cdc._partition_value(e, "order_month") in cdc.DIRTY_MONTHS
    )
    assert len(opened) == n_dirty


@pytest.mark.parametrize(
    "name",
    [
        "local_supplier_volume",
        "bilateral_trade_volume",
        "product_profit_by_nation",
        "sole_failing_supplier",
        "large_volume_customers",
        "customer_order_distribution",
    ],
)
def test_wide_analytics_no_forced_fact_broadcast(spark, name):
    """The wide TPC-H shapes (Q5/Q7/Q9/Q21/Q18/Q13) join lineitem⋈orders
    (or lineitem⋈itself) without a broadcast hint: with auto-broadcast
    disabled the fact⋈fact join must degrade to a shuffle join, proving no
    hint forces a fact-scaled table into executor memory at 100 TB."""
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        plan = plan_of(spark, name)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan), (
        f"{name}: fact-side join did not degrade to a shuffle join — "
        f"a forced broadcast survives on a fact-scaled input:\n{plan}"
    )


def test_q6_scan_only_plan(spark):
    """Q6 (forecast_revenue_change) is the pure pushdown benchmark: no join
    anywhere in the plan, all three predicates pushed to the parquet scan,
    and only the four referenced columns read."""
    plan = plan_of(spark, "forecast_revenue_change")
    assert "Join" not in plan
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters:")[1].splitlines()[0]
    assert "l_shipdate" in pushed and "l_discount" in pushed and "l_quantity" in pushed
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_extendedprice" in read_schema
    assert "l_orderkey" not in read_schema  # pruned
    assert plan.count("Exchange") <= 1  # only the 1-row final agg exchange


def test_q21_decorrelated_single_pass(spark):
    """Q21's EXISTS/NOT-EXISTS pair must decorrelate into ONE per-order
    aggregate joined back — the lineitem scan count stays bounded (base +
    per-order agg), never a per-row re-scan."""
    plan = plan_of(spark, "sole_failing_supplier")
    assert plan.count("Scan parquet") <= 4  # lineitem x2, supplier, nation


def test_temporal_join_no_range_explosion(spark):
    """The SCD2 point-in-time join must plan as the union-tag window pass:
    no nested-loop/cartesian range join anywhere."""
    plan = plan_of(spark, "temporal_point_in_time_join")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_federated_join_reads_three_formats(spark):
    """One plan, three storage formats: parquet fact, ORC orders, CSV
    customers."""
    plan = plan_of(spark, "federated_multiformat_join")
    low = plan.lower()
    assert "parquet" in low and "orc" in low and "csv" in low


def test_countmin_partial_final_agg(spark):
    """The CMS build must partial-aggregate map-side — the sketch cell
    count (depth x width) bounds the shuffle, not the row count."""
    plan = plan_of(spark, "countmin_frequency_estimate")
    assert plan.count("HashAggregate") >= 2


def test_chained_rollup_two_agg_levels(spark):
    """Window-of-window rollup: two distinct aggregate levels (bars, then
    hourly) in one plan."""
    plan = plan_of(spark, "stream_hourly_rollup_of_bars")
    # 2 levels x (partial + final)
    assert plan.count("HashAggregate") >= 4


def test_rolling_features_single_customer_exchange(spark):
    """All four rolling frames + the lag share one hash partitioning on
    o_custkey: exactly one shuffle Exchange in the whole plan."""
    plan = plan_of(spark, "rolling_features_customer")
    import re

    shuffles = re.findall(r"Exchange hashpartitioning", plan)
    assert len(shuffles) == 1, plan


def test_hierarchy_share_dims_all_broadcast(spark):
    plan = plan_of(spark, "hierarchy_share_of_parent")
    assert "SortMergeJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_prefix_filter_join_no_cartesian(spark):
    plan = plan_of(spark, "dedup_prefix_filter_jaccard")
    assert "CartesianProduct" not in plan


def test_rrf_rank_lists_heap_based(spark):
    plan = plan_of(spark, "hybrid_rrf_retrieval")
    assert plan.count("TakeOrderedAndProject") >= 2  # both lists + fusion


def test_nearest_supplier_fallback_is_bounded_broadcast(spark):
    """Phase-2 brute force must broadcast the supplier relation, never
    shuffle the customer remainder into a sort-merge join."""
    plan = plan_of(spark, "spatial_nearest_supplier")
    assert "SortMergeJoin" not in plan


def test_dpp_injects_dynamic_pruning_subquery(spark):
    """When the month set comes from a runtime dim (no static fact filter),
    dynamic partition pruning must inject a pruning subquery into the
    partitioned scan — and the files actually read must be only the three
    1996-Q2 month directories."""
    import pyspark.sql.functions as F

    from wheels_in_motion_analytics_spark.sources.partitioned import (
        dpp_join,
        ensure_partitioned_lineitem,
        month_dim,
    )

    plan = (
        dpp_join(spark, SF_SMALL)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "dynamicpruning" in plan.lower(), plan[:2000]

    # input_file_name() only supports a single source, so tag the fact side
    # BEFORE the join; the partition filter still lands on the scan.
    fact = spark.read.parquet(ensure_partitioned_lineitem(spark, SF_SMALL)).withColumn(
        "f", F.input_file_name()
    )
    df = fact.join(month_dim(spark, SF_SMALL), "ship_month")
    files = [r.f for r in df.select("f").distinct().collect()]
    assert files, "dpp join read no files"
    want = ("ship_month=1996-04", "ship_month=1996-05", "ship_month=1996-06")
    assert all(any(m in f for m in want) for f in files), files[:5]


def test_aqe_coalesces_post_shuffle_partitions(spark):
    """AQE folds underfilled shuffle partitions at runtime — the knob that
    keeps reducer counts sane when a 100 TB stage's output is small."""
    import pyspark.sql.functions as F

    from wheels_in_motion_analytics_spark.tables import table

    df = (
        table(spark, SF_SMALL, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    df.collect()  # final adaptive plan exists only after execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "AQEShuffleRead" in plan and "coalesced" in plan, plan[:1500]


def test_shuffle_hash_join_hint_is_honored(spark):
    """The engine can steer a specific physical join: shuffle_hash avoids
    the sort phase of SMJ for large joins where one side hashes in memory."""
    from wheels_in_motion_analytics_spark.tables import table

    li = table(spark, SF_SMALL, "lineitem")
    orders = table(spark, SF_SMALL, "orders").hint("shuffle_hash")
    plan = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "ShuffledHashJoin" in plan, plan[:1500]


def test_aqe_splits_skewed_join_partition(spark):
    """The engine's automatic answer to join skew (complement of the manual
    salting in salted_skew_join): a hot key whose shuffle partition dwarfs
    the rest is SPLIT at runtime — SortMergeJoin(skew=true) over an
    'AQEShuffleRead skewed' — instead of one straggler task."""
    import pyspark.sql.functions as F

    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        # scale the skew thresholds down to the test rig's data volume
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "65536"
        )
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
        spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        left = spark.range(0, 500_000).select(
            F.when(F.col("id") % 10 < 9, 0)
            .otherwise(F.col("id") % 1000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 1000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        df = left.join(right, "k")
        df.collect()  # the skew decision exists only in the FINAL adaptive plan
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, plan[:1500]
        assert "AQEShuffleRead skewed" in plan, plan[:1500]
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.mark.parametrize(
    "name",
    [
        "feature_binning_buckets",
        "vocab_build",
        "curate_curriculum_order",
        "mann_whitney_u_prices",
        "ks_test_two_sample",
        "spearman_rank_correlation",
        "skyline_pareto_parts",
    ],
)
def test_two_phase_rank_queries_have_no_single_partition_stage(spark, name):
    """The two-phase global rank/prefix-sum rewrites must never reintroduce
    an unpartitioned window. A SinglePartition exchange is allowed ONLY as
    the merge step of a scalar aggregate (its input is the per-partition
    partial-agg rows, not data) — any other occurrence (Window, Sort over
    raw rows) is the funnel the rewrite removed."""
    plan = plan_of(spark, name)
    lines = plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        below = "\n".join(lines[i + 1 : i + 3])
        assert "partial_" in below, plan[:2000]


def test_linreg_single_aggregate_scan(spark):
    """The OLS fit must be ONE partial+final aggregate over the scan — no
    joins, no sorts, no extra shuffles (the moment-matrix shape that makes
    it a count(*)-cost training pass at 100 TB)."""
    plan = plan_of(spark, "linreg_normal_equations")
    assert plan.count("HashAggregate") >= 2
    for op in ("SortMergeJoin", "BroadcastHashJoin", "Sort "):
        assert op not in plan, f"unexpected {op} in linreg plan"


def test_bitmap_rollup_partial_final_aggregates(spark):
    """Bitmap distinct rollup: map-side-combinable aggregates at every
    level (month-bucket build, year OR-merge, final sum) — never an
    expand-based exact distinct over fact rows."""
    plan = plan_of(spark, "bitmap_distinct_rollup")
    # bitmap_construct_agg/or_agg compile to Sort/ObjectHashAggregate pairs
    n_aggs = (
        plan.count("HashAggregate")
        + plan.count("ObjectHashAggregate")
        + plan.count("SortAggregate")
    )
    assert n_aggs >= 4, plan
    assert "Expand" not in plan  # countDistinct's expand shape would scan-blow


def test_blocked_bruteforce_cross_join_only_on_chunked_relations(spark):
    """The exact-similarity block plan may cartesian only the B-row chunked
    relations (each side is a collect_list aggregate), never raw vectors:
    the join inputs must be aggregates."""
    plan = plan_of(spark, "similarity_topk_bruteforce")
    assert "collect_list" in plan
    # cells = crossJoin of two aggregated sides; the python runner consumes it
    assert "MapInPandas" in plan or "mapInPandas" in plan.lower()


def test_ivf_relational_cell_ranking_broadcasts_centroids(spark):
    """IVF cell ranking must broadcast the 16-row centroid relation into
    the crossJoin (the registered query localCheckpoints the ranking, so
    inspect the pre-checkpoint subplan directly); the post-checkpoint
    candidate/re-rank joins must be hash joins, never cartesian."""
    import pyspark.sql.functions as F

    from wheels_in_motion_analytics_spark.functions.similarity import (
        _norm_vectors_of,
        dot,
        ivf_centroid_frame,
    )
    from wheels_in_motion_analytics_spark.tables import table

    vectors = table(spark, SF_SMALL, "embeddings").select("vec_id", "embedding")
    cdf = ivf_centroid_frame(spark)
    sims = (
        _norm_vectors_of(vectors)
        .crossJoin(F.broadcast(cdf))
        .select("vec_id", "cell", (dot(F.col("e"), F.col("cvec")) / F.col("nrm")).alias("sim"))
    )
    subplan = sims._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in subplan
    assert "CartesianProduct" not in subplan

    plan = plan_of(spark, "ann_ivf_cells")
    assert "BroadcastHashJoin" in plan or "SortMergeJoin" in plan
    assert "CartesianProduct" not in plan


def test_inverted_index_lookup_prunes_partitions(spark):
    """The index-backed lookup must scan ONLY the query terms' first-letter
    partitions of the persisted postings index — partition pruning is the
    whole point of the serving artifact."""
    from wheels_in_motion_analytics_spark.functions.indexing import (
        INDEX_QUERY_TERMS,
        ensure_inverted_index,
    )

    ensure_inverted_index(spark, SF_SMALL)
    plan = plan_of(spark, "inverted_index_lookup")
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "term_pfx" in m.group(1), plan
    # and the scan's data filter carries the exact terms
    assert all(t[0] in m.group(1) for t in INDEX_QUERY_TERMS), m.group(1)


def test_bucketed_registry_join_is_exchange_free(spark):
    """The registered bucketed join must consume the bucket layout: a
    SortMergeJoin with NO Exchange below it on either side (the final agg
    may still exchange on the group key)."""
    plan = plan_of(spark, "bucketed_join_exchange_free")
    assert "SortMergeJoin" in plan
    join_part = plan.split("SortMergeJoin", 1)[1]
    assert "Exchange" not in join_part, join_part


@pytest.mark.parametrize("name", ["cogrouped_map_customer_orders", "grouped_map_demean"])
def test_pandas_tier_python_stage_parallelism(spark, name):
    """The applyInPandas/cogroup exhibits must run their Python stage on a
    pinned 32-way hash layout: the r3 driver bench caught the per-customer
    cogroup running (0+2)/2 tasks because the input-split layout leaked
    into the Python stage (round-3 verdict item 6). The explicit
    repartition satisfies the ClusteredDistribution, so exactly one
    shuffle feeds the kernel and the output has 32 partitions."""
    df = SPECS[name].fn(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    kernel = "FlatMapCoGroupsInPandas" if name.startswith("cogrouped") else "FlatMapGroupsInPandas"
    assert kernel in plan
    assert df.rdd.getNumPartitions() == 32


def test_cogrouped_kernel_invocations_are_bucketed(spark):
    """The cogroup key is the coarse bucket, not the raw customer key —
    one Python invocation per bucket (<=256), never one per customer
    (15k 1-row frames measured 30-40s at sf0.1)."""
    plan = SPECS["cogrouped_map_customer_orders"].fn(spark, SF_SMALL)._jdf.queryExecution().executedPlan().toString()
    assert "pmod" in plan and "bucket" in plan


def test_partition_evolution_prunes_only_evolved_generation(spark):
    """The evolution-aware union reader: the month window must prune
    directories on the hive-partitioned generation (only the two in-window
    month dirs are read) while the flat legacy generation filters rows —
    and the union's result files come from both generations."""
    import pyspark.sql.functions as F

    from wheels_in_motion_analytics_spark.sources.partitioned import (
        EVOLVE_MONTHS,
        evolved_union_scan,
    )

    df = evolved_union_scan(spark, SF_SMALL)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "ship_month" in plan

    files = [
        r.f for r in df.select(F.input_file_name().alias("f")).distinct().collect()
    ]
    gen2_files = [f for f in files if "gen2_by_month" in f]
    gen1_files = [f for f in files if "gen1_flat" in f]
    assert gen1_files and gen2_files, "union must read both generations"
    in_window = [m for m in EVOLVE_MONTHS if m >= "1996"]
    assert all(
        any(f"ship_month={m}" in f for m in in_window) for f in gen2_files
    ), "evolved generation read a month directory outside the window"


def test_join_strategy_hints_pin_physical_strategies(spark):
    """The three hinted copies must actually plan as three DIFFERENT
    physical joins — a hint silently ignored (e.g. shuffle_hash eaten by
    the auto-broadcast threshold) would make the suite a lie."""
    plan = plan_of(spark, "join_strategy_hints_suite")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" in plan
    assert "ShuffledHashJoin" in plan


def test_acf_lag_relation_broadcasts(spark):
    """The 7-row lag relation must broadcast (BroadcastNestedLoopJoin for
    the fan-out crossJoin); the day-grain aggregate must keep partial+final
    hash aggregation (map-side combine before any exchange)."""
    plan = plan_of(spark, "acf_daily_revenue")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "partial_" in plan


def test_metadata_audit_prunes_partitions(spark):
    """The _metadata audit must reach the scan with PartitionFilters on
    ship_month (3 of ~83 dirs), not read-everything-and-filter."""
    plan = plan_of(spark, "metadata_file_columns_audit")
    assert "PartitionFilters" in plan.replace("PartitionFilters:", "PartitionFilters")
    import re

    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "ship_month" in m.group(1), plan[:1500]


def test_bootstrap_fanout_repartitions_before_hash_work(spark):
    """The B-fold replica fan-out must sit above a round-robin exchange of
    the base relation — a single small input split must not serialize
    B*rows of md5 work onto one task."""
    plan = plan_of(spark, "bootstrap_ci_revenue_poisson")
    assert "Exchange RoundRobinPartitioning" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 32-row replica relation


def test_runtime_bloom_filter_injected_and_toggleable(spark):
    """The engine-native runtime bloom filter must reach the executed plan
    (might_contain pushed toward the probe-side scan) when enabled, and
    vanish when disabled — proving the predicate is the injected filter,
    not part of the query's own semantics."""
    from wheels_in_motion_analytics_spark.operators.joins import runtime_bloom_join

    on = runtime_bloom_join(spark, SF_SMALL, force=True)
    # localCheckpoint already executed the plan under the confs; inspect the
    # pre-checkpoint plan via a fresh build
    import wheels_in_motion_analytics_spark.operators.joins as J

    def plan_text(force):
        confs = {
            "spark.sql.optimizer.runtime.bloomFilter.enabled": "true" if force else "false",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        saved = {k: spark.conf.get(k, None) for k in confs}
        try:
            for k, v in confs.items():
                spark.conf.set(k, v)
            import pyspark.sql.functions as F
            from wheels_in_motion_analytics_spark.tables import table

            li = table(spark, SF_SMALL, "lineitem").select("l_orderkey")
            o = table(spark, SF_SMALL, "orders").where(
                F.col("o_orderpriority") == "1-URGENT"
            )
            j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).groupBy(
                "o_orderstatus"
            ).count()
            return j._jdf.queryExecution().executedPlan().toString()
        finally:
            for k, v in saved.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)

    assert "might_contain" in plan_text(True)
    assert "might_contain" not in plan_text(False)
    # and the filter is result-neutral
    off = runtime_bloom_join(spark, SF_SMALL, force=False)
    assert sorted(map(tuple, on.collect())) == sorted(map(tuple, off.collect()))


def test_exact_dedup_is_one_partial_final_shuffle(spark):
    """The headline exact-dedup path (functions/similarity.py): a single
    hash shuffle on the content fingerprint with map-side partial
    aggregation, and NO join operator anywhere — the shape whose cost at
    100 TB is one O(|rows|) shuffle keyed by fingerprint, never pairs."""
    plan = plan_of(spark, "dedup_exact")
    import re

    assert len(re.findall(r"Exchange hashpartitioning", plan)) == 1, plan
    assert "partial_" in plan and plan.count("HashAggregate") >= 2
    for op in ("CartesianProduct", "SortMergeJoin", "BroadcastHashJoin",
               "ShuffledHashJoin", "BroadcastNestedLoopJoin"):
        assert op not in plan, op


def test_banded_candidate_joins_are_equi_never_all_pairs(spark):
    """MinHash-LSH and SimHash candidate generation must join on band /
    chunk EQUI-keys (hash-relation or sort-merge), never via a nested-loop
    or cartesian all-pairs operator — the property that makes the fuzzy
    dedup tier bucketed at 100 TB (the doc_id< ordering lives in the join
    CONDITION of the equi-join, not in a loop strategy)."""
    for name in ("dedup_minhash_lsh", "dedup_simhash_pairs"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name
        assert "IdentityBroadcastMode" not in plan, name
        assert (
            "BroadcastHashJoin" in plan
            or "SortMergeJoin" in plan
            or "ShuffledHashJoin" in plan
        ), name


def test_ann_bucketed_topk_is_two_phase_group_limit(spark):
    """The bucketed ANN top-k must compile to the partial+final
    WindowGroupLimit pair (rank-limit pushdown: per-partition heads before
    the query_id shuffle), with the exchange keyed on query_id — never a
    single-partition global sort."""
    plan = plan_of(spark, "ann_lsh_bucketed")
    assert plan.count("WindowGroupLimit") >= 2, plan
    assert "Exchange SinglePartition" not in plan
    assert "CartesianProduct" not in plan


# ---------------------------------------------------------------------------
# Job-count pins for driver-assembled queries (r10 verdict item 6)
# ---------------------------------------------------------------------------

# These queries select order statistics (or run a bounded power iteration)
# in driver-side loops of small jobs, so plan audits of the returned
# relation cannot see the real distributed work. The job count IS the
# auditable shape: a regression that re-introduces hidden passes (an extra
# checkpoint, a re-derived pipeline, an unconverged narrowing loop) shows
# up as extra jobs. Budgets = jobs to build and collect the result,
# measured at sf0.001 (second run), + headroom of 3 for AQE sub-job
# variance and one extra histogram round at wider value ranges.
_JOB_BUDGETS = {
    "global_quartiles_exact": 4 + 3,
    "percentile_exact": 4 + 3,
    "group_exact_percentiles": 4 + 3,
    "winsorize_prices": 6 + 3,
    "markov_stationary_behavior": 5 + 3,
    "markov_entropy_rate": 5 + 3,
    "theil_sen_trend_daily": 11 + 3,
    "conformal_interval_calibration": 9 + 3,
    "newsvendor_stock_level": 8 + 3,
    "var_cvar_revenue_changes": 9 + 3,
    "runs_test_randomness": 8 + 3,
    "anomaly_days_seasonal_mad": 6 + 3,
    "feature_binning_buckets": 8 + 3,
}

# Of those, the queries whose result relation is assembled on the driver:
# a LocalTableScan, so collecting it adds no job. The others fold the
# selected scalars into one last distributed pass as literals.
_DRIVER_ASSEMBLED = {
    "global_quartiles_exact",
    "percentile_exact",
    "group_exact_percentiles",
    "markov_stationary_behavior",
    "markov_entropy_rate",
    "theil_sen_trend_daily",
}


@pytest.mark.parametrize("name", sorted(_JOB_BUDGETS))
def test_driver_assembled_query_job_budget(spark, name):
    tracker = spark.sparkContext.statusTracker()
    group = f"job-pin-{name}"
    spark.sparkContext.setJobGroup(group, name)
    try:
        df = SPECS[name].fn(spark, SF_SMALL)
        df.collect()
    finally:
        spark.sparkContext.setJobGroup(None, None)
    n_jobs = len(tracker.getJobIdsForGroup(group))
    assert 0 < n_jobs <= _JOB_BUDGETS[name], (
        f"{name}: {n_jobs} jobs vs budget {_JOB_BUDGETS[name]} — hidden "
        "distributed work regressed (or improved: re-measure and tighten)"
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.startswith("LocalTableScan") == (name in _DRIVER_ASSEMBLED), plan
