"""Physical-plan assertions: the optimizations the reference hand-rolls
(SURVEY.md §4.1) must appear in our Catalyst plans."""

from __future__ import annotations

from pyspark.sql import functions as F

from moteur_d_analytics_colonne_parquet_like_arrow_like__spark import plans
from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import (
    parity,
    relational,
)


def test_filter_pushdown_reaches_scan(spark, exec_basic_path):
    # Analogue of zone-map skipping (cae/src/execution.cpp:48-71): the
    # predicate must be in PushedFilters so parquet prunes row groups.
    df = spark.read.parquet(exec_basic_path).filter(F.col("value") > 150)
    assert plans.has_pushed_filter(df, "GreaterThan(value,150)")


def test_column_pruning(spark, exec_basic_path):
    # Analogue of projection pruning (cae/src/execution.cpp:252-261).
    df = spark.read.parquet(exec_basic_path).select("id", "value")
    cols = plans.read_columns(df)
    assert cols and cols[0] == {"id", "value"}


def test_agg_reads_only_needed_column(spark, sf_dir):
    # cae/src/execution.cpp:282-291: agg scans only its input column.
    df = parity.q_aggregate(spark, sf_dir)
    cols = plans.read_columns(df)
    assert cols and cols[0] == {"l_quantity"}


def test_dim_joins_broadcast(spark, sf_dir):
    # Dimension joins must be BroadcastHashJoin — the fact side never
    # shuffles for dims at any scale.
    df = relational.q_join_broadcast(spark, sf_dir)
    strategies = plans.join_strategies(df)
    assert strategies and all(s == "BroadcastHashJoin" for s in strategies)


def test_multiway_join_broadcasts_dims(spark, sf_dir):
    df = relational.q_join_multiway(spark, sf_dir)
    strategies = plans.join_strategies(df)
    assert strategies.count("BroadcastHashJoin") >= 3


def test_topk_plans_take_ordered(spark, sf_dir):
    # orderBy().limit(k) must plan TakeOrderedAndProject, not a global sort.
    df = relational.q_top_k(spark, sf_dir)
    assert "TakeOrderedAndProject" in plans.formatted_plan(df)


def test_vectorized_scan_active(spark, sf_dir):
    # The reference's columnar Batch scanner (cae/include/execution.h:19-36)
    # maps to Spark's vectorized parquet reader: `Batched: true` in the scan.
    # (WholeStageCodegen spans only appear in the post-execution AQE plan, so
    # we assert batching here and codegen in the bench harness.)
    plan = plans.formatted_plan(parity.q_group_by(spark, sf_dir))
    assert "Batched: true" in plan


def test_groupby_is_partial_plus_final(spark, sf_dir):
    # Spark's two-phase hash agg (map-side combine) supersedes the
    # reference's single-process hash map (cae/src/execution.cpp:339-401).
    plan = plans.formatted_plan(parity.q_group_by(spark, sf_dir))
    assert plan.count("HashAggregate") >= 2


def test_q2_broadcasts_dims_no_cartesian(spark, sf_dir):
    """Q2's dim joins must broadcast; the decorrelated min-cost join keys
    on partkey (no nested-loop / cartesian anywhere)."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import (
        relational3,
    )

    df = relational3.q_tpch_q2_mincost(spark, sf_dir)
    strategies = plans.join_strategies(df)
    assert any("BroadcastHashJoin" in s for s in strategies)
    assert not any("Cartesian" in s or "BroadcastNestedLoop" in s for s in strategies)


def test_q20_plans_semi_join(spark, sf_dir):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import (
        relational3,
    )

    plan = plans.formatted_plan(relational3.q_tpch_q20_dominant(spark, sf_dir))
    assert "LeftSemi" in plan


def test_window_frames_single_exchange(spark, sf_dir):
    """Both frame windows partition on o_custkey — the plan must reuse one
    hash exchange (plus the final presentation sort), not shuffle twice."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import (
        relational4,
    )

    df = relational4.q_window_frames(spark, sf_dir)
    tree = df._jdf.queryExecution().executedPlan().treeString()
    assert tree.count("Exchange hashpartitioning") == 1, tree


def test_sessionize_shares_window_shuffle(spark, sf_dir):
    """lag + running-sum windows and the session aggregation all key on
    user_id — at most the window exchange plus the final agg exchange."""
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import (
        relational4,
    )

    df = relational4.q_batch_sessionize(spark, sf_dir)
    tree = df._jdf.queryExecution().executedPlan().treeString()
    assert tree.count("Exchange hashpartitioning") <= 2, tree


def test_q21_semi_anti_no_cartesian(spark, sf_dir):
    # Q21's EXISTS / NOT EXISTS pair must plan as semi + anti joins on the
    # orderkey-keyed base — never a cartesian or a per-row subquery.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import (
        relational5,
    )

    plan = plans.formatted_plan(relational5.q_tpch_q21_waiting(spark, sf_dir))
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q5_broadcasts_dims_once_shuffled(spark, sf_dir):
    # Q5: every dimension (customer-in-region, supplier, nation) rides a
    # broadcast; only the lineitem⨝orders fact join may shuffle.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import (
        relational5,
    )

    df = relational5.q_tpch_q5_local_volume(spark, sf_dir)
    strategies = plans.join_strategies(df)
    assert strategies.count("BroadcastHashJoin") >= 3
    non_broadcast = [s for s in strategies if s != "BroadcastHashJoin"]
    assert len(non_broadcast) <= 1


def test_cms_build_single_shuffle(spark):
    # The count-min counter matrix must be ONE grouped aggregation: a
    # single exchange whatever the corpus size (map-side combine holds
    # the <= d*w partials per partition).
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.operators import (
        sketches,
    )

    items = spark.range(10_000).select(
        (F.col("id") % 97).cast("string").alias("item")
    )
    import re

    plan = plans.formatted_plan(sketches.cms_build(items, "item"))
    # formatted explain lists each node twice (tree + detail): count ids
    assert len(re.findall(r"\(\d+\) Exchange", plan)) == 1
    assert len(re.findall(r"\(\d+\) HashAggregate", plan)) >= 2  # partial + final


# --- round-5 operators: plan-shape assertions ---------------------------


def test_pareto_broadcasts_frontier_no_cartesian(spark, sf_dir):
    # The skyline must be the windowed formulation: the fact side joins a
    # BROADCAST frontier; a CartesianProduct would mean the O(n²)
    # dominance join crept back in.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import analytics

    df = analytics.q_orders_pareto(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_correlation_matrix_single_aggregation(spark, sf_dir):
    # All pairwise corr coefficients must ride ONE aggregate (partial +
    # final over a single exchange) — one scan, not one scan per pair.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import analytics

    import re

    df = analytics.q_feature_correlations(spark, sf_dir)
    plan = plans.formatted_plan(df)
    # one scan; node-detail headers "(n) Exchange" count physical nodes
    # once each (the tree section repeats them)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2


def test_equidepth_window_runs_over_reduced_table(spark, sf_dir):
    # The cumulative window must consume the value-level AGGREGATE, never
    # raw rows: in the plan tree (leaves printed first in the numbered
    # node list) the value groupBy's HashAggregate precedes the Window.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import analytics

    df = analytics.q_feature_bucketize(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "Window" in plan and "HashAggregate" in plan
    assert plan.index("HashAggregate") < plan.index("Window")


def test_sq_int8_topk_broadcasts_queries(spark, sf_dir):
    # The quantized corpus side must meet BROADCAST queries (nested-loop
    # on the != predicate) — the corpus itself never shuffles before the
    # join; the only exchange is the per-query top-k window.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import analytics

    df = analytics.q_sim_topk_int8(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


# --- round-6: no single-task windows over data-proportional tables ------


def test_abc_has_no_unsafe_global_window(spark, sf_dir):
    # customers_abc's cumulative share must ride the two-phase chunked
    # prefix sum — a bare Window.orderBy(rev desc) over the per-customer
    # table is ONE task at scale (VERDICT r5 item 1).
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import analytics

    df = analytics.q_customers_abc(spark, sf_dir)
    assert plans.unsafe_global_windows(df) == []


def test_gini_has_no_unsafe_global_window(spark, sf_dir):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import analytics

    df = analytics.q_supplier_gini(spark, sf_dir)
    assert plans.unsafe_global_windows(df) == []


def test_rfm_has_no_unsafe_global_window(spark, sf_dir):
    # The money quintile's distinct-value table is ~#customers — its
    # cumulative window must be chunked too.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import analytics

    df = analytics.q_customers_rfm(spark, sf_dir)
    assert plans.unsafe_global_windows(df) == []


def test_score_normalize_no_per_source_sort_of_raw_docs(spark, sf_dir):
    # Window.partitionBy(source) over the RAW document table = one
    # multi-TB sort task per source at scale. 'source' is a known
    # fixed-cardinality key, so it counts as effectively global here.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import analytics

    df = analytics.q_pipeline_score_normalize(spark, sf_dir)
    assert plans.unsafe_global_windows(df, low_card_cols=("source",)) == []


def test_quality_cut_has_no_unsafe_global_window(spark, sf_dir):
    # The best-docs-fill-a-token-budget cut is a global quality-ordered
    # cumsum over the raw corpus — it must ride the chunked scan.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import pipeline2

    df = pipeline2.QUERIES["pipeline_quality_cut"](spark, sf_dir)
    assert plans.unsafe_global_windows(df) == []


def test_round6_windowed_queries_are_scale_safe(spark, sf_dir):
    # Every round-6 windowed addition must run its windows over bounded
    # aggregates (calendar cells, cohort cells, monthly cells) — never
    # raw data-proportional rows. The backlog's global running sum
    # declares its day grid bounded; the others' windows are
    # partitioned by growing or fixed keys and need no declaration.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import analytics

    for q, bounded in (
        (analytics.q_orders_mom_growth, ()),
        (analytics.q_orders_open_backlog, ("d",)),
        (analytics.q_customers_cohort_ltv, ()),
    ):
        assert (
            plans.unsafe_global_windows(q(spark, sf_dir), bounded_cols=bounded)
            == []
        ), q.__name__


def test_bitmap_distinct_avoids_expand(spark, sf_dir):
    # The bitmap strategy's point: exact distinct WITHOUT the Expand
    # node count-distinct planning inserts (which multiplies shuffle
    # rows); both aggregation levels must still be partial+final.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import relational6

    df = relational6.QUERIES["agg_bitmap_distinct"](spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "Expand" not in plan
    assert plan.count("HashAggregate") >= 2


def test_unsafe_window_checker_flags_naive_shape(spark, sf_dir):
    # Sanity: the checker must actually FLAG the pattern it exists to
    # kill — a global rank window straight over a raw table.
    from pyspark.sql import Window

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_extendedprice")
    naive = li.withColumn(
        "rn",
        F.row_number().over(
            Window.orderBy(F.col("l_extendedprice").desc(), F.col("l_orderkey"))
        ),
    )
    assert plans.unsafe_global_windows(naive) != []
    per_src = li.withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("l_orderkey").orderBy("l_extendedprice")
        ),
    )
    # growing-key partitions are fine...
    assert plans.unsafe_global_windows(per_src) == []
    # ...unless the key is declared fixed-cardinality.
    assert plans.unsafe_global_windows(per_src, low_card_cols=("l_orderkey",)) != []
    # The shape this round was built to ban: a global window over a
    # per-KEY aggregate — the Aggregate below must NOT excuse it,
    # because per-key cardinality grows with the data (the pre-rewrite
    # customers_abc/supplier_gini shape).
    per_key = li.groupBy("l_orderkey").agg(F.sum("l_extendedprice").alias("rev"))
    naive_agg = per_key.withColumn(
        "cum",
        F.sum("rev").over(
            Window.orderBy(F.col("rev").desc(), F.col("l_orderkey")).rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    assert plans.unsafe_global_windows(naive_agg) != []
    # ...while a window over a CHUNK-grouped aggregate (phase 2 of the
    # two-phase scan) is the accepted reduction.
    chunk_tot = per_key.withColumn(
        "__chunk", (F.col("rev") / 1000).cast("bigint")
    ).groupBy("__chunk").agg(F.sum("rev").alias("t"))
    phase2 = chunk_tot.withColumn(
        "base", F.sum("t").over(Window.orderBy("__chunk"))
    )
    assert plans.unsafe_global_windows(phase2) == []
    # substring traps: 'resource_id' must not match low-card 'source'
    per_res = li.selectExpr("l_orderkey as resource_id", "l_extendedprice").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("resource_id").orderBy("l_extendedprice")
        ),
    )
    assert plans.unsafe_global_windows(per_res, low_card_cols=("source",)) == []


def test_fuzzy_match_block_cap_join_broadcasts(spark, sf_dir):
    # The hot-block cap join (right side x its block census) must be a
    # broadcast, and candidate pairing must be an equi hash/merge join on
    # the block key — never a cartesian scorer.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import analytics

    df = analytics.q_join_fuzzy_match(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_round6b_windowed_queries_are_scale_safe(spark, sf_dir):
    # The changepoint's running sum / argmax windows partition on the
    # priority (fixed cardinality) but run over the calendar-bounded
    # (priority, day-index) grid aggregate; the survival risk-set prefix
    # is a global window over the duration-level aggregate (durations
    # are calendar-bounded). Both must declare their bounded cells and
    # come back clean.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import relational7

    for q, low, bounded in (
        (
            relational7.q_orders_changepoint,
            ("o_orderpriority",),
            ("d", "t"),
        ),
        (relational7.q_customers_survival_km, (), ("dur_days",)),
    ):
        assert (
            plans.unsafe_global_windows(
                q(spark, sf_dir), low_card_cols=low, bounded_cols=bounded
            )
            == []
        ), q.__name__


def test_bfs_and_acf_plans_have_no_cartesian(spark, sf_dir):
    # BFS rounds are equi-joins on node ids; ACF's lag alignment is an
    # equi-join on (type, hour-index). Neither may degenerate into a
    # nested-loop pairing (the broadcast of the 1-row span/stat relations
    # is the only acceptable nested-loop source).
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import relational7

    for q in (relational7.q_graph_bfs_distance, relational7.q_events_acf):
        plan = plans.formatted_plan(q(spark, sf_dir))
        assert "CartesianProduct" not in plan, q.__name__


def test_shard_plan_rides_the_chunked_scan(spark, sf_dir):
    # The corpus-global cumulative token sum must ride the two-phase
    # chunked scan — never a bare Window.orderBy over the documents.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import pipeline2

    df = pipeline2.QUERIES["pipeline_shard_plan"](spark, sf_dir)
    assert plans.unsafe_global_windows(df) == []


def test_lateral_topk_plans_as_join_not_per_row_scan(spark, sf_dir):
    # Spark must rewrite the LATERAL correlated subquery into a join +
    # per-key limit — a per-row nested re-scan of lineitem would show up
    # as a cartesian/nested-loop pairing of the two tables.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import relational7

    plan = plans.formatted_plan(
        relational7.q_sql_lateral_topk(spark, sf_dir)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_recursive_cte_matches_unrolled_closure(spark, sf_dir):
    # The genuine WITH RECURSIVE and the unrolled level-join chain are
    # two strategies for the same closure — frame equality, in Spark.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import analytics, relational7

    a = relational7.q_sql_recursive_cte(spark, sf_dir).collect()
    b = analytics.q_part_hierarchy_closure(spark, sf_dir).collect()
    assert a == b and len(a) > 0


def test_abc_xyz_matrix_is_window_safe(spark, sf_dir):
    # the ABC cumulative share must ride the chunked scan — parts are
    # data-proportional, so a bare Window.orderBy would be one task
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import relational7

    df = relational7.QUERIES["parts_abc_xyz_matrix"](spark, sf_dir)
    assert plans.unsafe_global_windows(df) == []


# --- round-6 continuation 3 ---------------------------------------------


def test_rolling_median_window_over_bounded_daily_agg(spark, sf_dir):
    # the 7-row frame runs over (priority x calendar-day) cells —
    # priority is fixed-cardinality so it counts as effectively global,
    # and the day grid is the declared bounded reduction beneath it
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import relational8

    df = relational8.q_orders_rolling_median(spark, sf_dir)
    assert (
        plans.unsafe_global_windows(
            df, low_card_cols=("o_orderpriority",), bounded_cols=("d",)
        )
        == []
    )


def test_stl_windows_over_bounded_daily_agg(spark, sf_dir):
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import relational8

    df = relational8.q_events_stl_decompose(spark, sf_dir)
    assert plans.unsafe_global_windows(df, bounded_cols=("d",)) == []


def test_shapley_reduces_before_coalition_joins(spark, sf_dir):
    # the only data-proportional work is the per-user aggregate; the
    # coalition machinery joins 16-row tables via broadcast — no
    # cartesian, no sort-merge exchange of raw events
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import relational8

    df = relational8.q_events_attribution_shapley(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert plan.count("BroadcastHashJoin") + plan.count(
        "BroadcastNestedLoopJoin"
    ) >= 2


def test_bloom_filter_injects_under_at_scale_confs(spark, sf_dir):
    # At 100 TB the filtered creation side exceeds the broadcast
    # threshold, which is exactly when InjectRuntimeFilter fires;
    # simulate that regime (broadcast off, application-side scan
    # threshold 0) and assert the bloom creation aggregate AND the
    # might_contain probe both land in the optimized plan, with
    # results identical to the conf-free gate run.
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import relational8

    c = spark.conf
    saved = {
        k: c.get(k)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
        )
    }
    try:
        baseline = relational8.q_join_bloom_pruned(spark, sf_dir).collect()
        c.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        c.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        df = relational8.q_join_bloom_pruned(spark, sf_dir)
        opt = df._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom_filter_agg" in opt and "might_contain" in opt
        assert df.collect() == baseline
    finally:
        for k, v in saved.items():
            c.set(k, v)


def test_geo_nearest_broadcasts_bucketed_suppliers(spark, sf_dir):
    # blocking join: the supplier cell index broadcasts; the customer
    # side never cross-joins the supplier table
    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads import geospatial

    df = geospatial.q_geo_nearest_supplier(spark, sf_dir)
    plan = plans.formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan


def test_bench_groupby_conf_bakes_single_reduce_partition(spark, sf_dir):
    """The bench pins QUERY_CONF at PLANNING time (r12 prepared reps):
    under the parity_group_by overrides (AQE off, 1 shuffle partition)
    the prepared physical RDD must end in exactly one partition — the
    3-group reduce the baseline contract assumes. A regression here
    (conf applied at exec time, AQE re-wrapping the plan) would silently
    re-widen the exchange."""
    import bench

    from moteur_d_analytics_colonne_parquet_like_arrow_like__spark.workloads.parity import (
        q_group_by,
    )

    saved = {
        k: spark.conf.get(k)
        for k in bench.QUERY_CONF["parity_group_by"]
    }
    for k, v in bench.QUERY_CONF["parity_group_by"].items():
        spark.conf.set(k, v)
    try:
        prep = bench._prepare(q_group_by(spark, sf_dir))
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert prep["rdd"] is not None and not prep.get("fallback")
    # At the pytest fixture's tiny SF the small-scan policy coalesces
    # the scan to ONE slice, whose SinglePartition output satisfies the
    # aggregation's distribution — Catalyst elides the exchange and the
    # plan is genuinely single-stage (shuffles == []); at bench SFs the
    # multi-slice scan keeps the 1-partition exchange. Both shapes must
    # end in exactly one partition.
    assert prep["rdd"].getNumPartitions() == 1
