"""Physical-plan shape assertions: pushdown, pruning, broadcast.

These encode the 100 TB design contract — if a change makes a filter
stop reaching the parquet scan or turns a dimension broadcast into a
shuffle, these fail long before a cluster run would."""

from __future__ import annotations

from data_warehouse_data_mining_spark.operators.relational import (
    broadcast_dim_join,
    pricing_summary,
    revenue_by_nation,
)
from data_warehouse_data_mining_spark.plans import explain

from .conftest import SF_SMALL


def test_pricing_summary_pushdown_and_pruning(spark):
    df = pricing_summary(spark, SF_SMALL)
    assert explain.has_pushed_filters(df), "shipdate filter must reach the parquet scan"
    needed = {
        "l_returnflag",
        "l_linestatus",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        "l_tax",
        "l_shipdate",
    }
    assert explain.reads_only_columns(df, needed), "scan must prune to the 7 used columns"
    assert explain.codegen_operator_count(df) >= 3, (
        "filter/project/agg must run inside whole-stage codegen"
    )


def test_dimension_joins_broadcast(spark):
    assert explain.has_broadcast_join(broadcast_dim_join(spark, SF_SMALL))
    assert explain.has_broadcast_join(revenue_by_nation(spark, SF_SMALL))


def test_no_cartesian_in_registry(bound_registry_dfs):
    """No registered query may contain an unconstrained cross join
    (CartesianProduct / BroadcastNestedLoopJoin with no condition is the
    n² trap at scale). Broadcast nested-loop joins from the tiny
    query-set similarity joins are allowed; plain CartesianProduct not.
    Uses the session-shared bound-DataFrame cache (conftest) so the
    registry binding pass is paid once per session, not per file."""
    for name, df in bound_registry_dfs.items():
        if name.startswith("ml_") or name in ("smote_rebalance_counts",):
            continue  # model fitting plans are MLlib-internal
        assert not isinstance(df, str), f"{name}: {df}"
        plan = explain.formatted_plan(df)
        assert "CartesianProduct" not in plan, f"{name} has a cartesian product"


def test_similarity_broadcasts_query_side(spark):
    """ANN/kNN must broadcast the tiny query set — the corpus side may
    never shuffle for the join."""
    from data_warehouse_data_mining_spark.operators.similarity import (
        ann_lsh_hyperplane,
        knn_brute_force,
    )

    for df in (knn_brute_force(spark, SF_SMALL), ann_lsh_hyperplane(spark, SF_SMALL)):
        plan = explain.formatted_plan(df)
        assert "BroadcastExchange" in plan or "BroadcastHashJoin" in plan or \
               "BroadcastNestedLoopJoin" in plan


def test_semi_anti_join_shapes(spark):
    """EXISTS/NOT EXISTS must plan as semi/anti joins, not materialized
    subqueries."""
    from data_warehouse_data_mining_spark.operators.relational import (
        anti_join_customers,
        semi_join_customers,
    )

    assert "LeftSemi" in explain.formatted_plan(semi_join_customers(spark, SF_SMALL))
    assert "LeftAnti" in explain.formatted_plan(anti_join_customers(spark, SF_SMALL))


def test_tpch_plan_shapes(spark):
    """The TPC-H archetype queries must keep their scale contracts:
    dimension sides broadcast, EXISTS as a semi join, selective
    dimension filters pushed to the scan."""
    from data_warehouse_data_mining_spark.operators import tpch

    # r10: the supplier/customer joins carry no forced hints any more
    # (SF-proportional sides — a mandatory broadcast OOMs at 100 TB), so
    # the strategy contract moves to the AQE FINAL plan: at test scale
    # every dim must still end up broadcast, chosen from actual sizes.
    df5 = tpch.regional_supplier_volume(spark, SF_SMALL)
    p5 = explain.final_plan(df5)
    assert "BroadcastHashJoin" in p5, "Q5 dims must broadcast at runtime"
    assert p5.count("SortMergeJoin") <= 1, (
        "only orders⋈lineitem may shuffle in the AQE final plan"
    )

    p4 = explain.formatted_plan(tpch.order_priority_exists(spark, SF_SMALL))
    assert "LeftSemi" in p4, "EXISTS must plan as a left-semi join"

    p16 = tpch.supplier_part_variety(spark, SF_SMALL)
    assert explain.has_pushed_filters(p16), "p_size IN-list must reach the part scan"
    assert explain.has_broadcast_join(p16)

    p22 = explain.formatted_plan(tpch.dormant_rich_customers(spark, SF_SMALL))
    assert "LeftAnti" in p22, "NOT EXISTS must plan as a left-anti join"


def test_no_forced_broadcast_of_fact_side_tables(spark):
    """SF-proportional tables (customer, orders, lineitem, events,
    documents, embeddings-as-corpus) must never carry a mandatory
    broadcast hint: a forced broadcast OOMs every executor at the 100 TB
    design point. Bounded dims (region/nation, supplier-in-region,
    per-group summaries, tiny query sets) may hint. We assert on the
    ANALYZED plan: an F.broadcast() hint survives analysis as a
    ResolvedHint node, and any hint subtree that scans a fact table is a
    bug — AQE must be free to pick the strategy there."""
    import re

    from data_warehouse_data_mining_spark.operators import tpch
    from data_warehouse_data_mining_spark.operators.text import tfidf_top_terms
    from data_warehouse_data_mining_spark.operators.relational import revenue_by_nation

    fact_rels = ("customer.parquet", "orders.parquet", "lineitem.parquet",
                 "events.parquet", "documents.parquet")
    for fn in (tpch.regional_supplier_volume, tpch.bi_nation_trade_volume,
               tpch.national_market_share, tpch.min_cost_supplier,
               tpch.important_part_values, tpch.shipping_delay_priority,
               tpch.dominant_part_suppliers, tfidf_top_terms,
               revenue_by_nation):
        df = fn(spark, SF_SMALL)
        analyzed = df._jdf.queryExecution().analyzed().toString()
        # walk each ResolvedHint subtree: until tree depth returns to the
        # hint's level, no fact-table relation may appear under it
        lines = analyzed.splitlines()
        for i, line in enumerate(lines):
            if "ResolvedHint" not in line:
                continue
            depth = len(re.match(r"[\s:+-]*", line).group(0))
            for sub in lines[i + 1:]:
                sub_depth = len(re.match(r"[\s:+-]*", sub).group(0))
                if sub_depth <= depth:
                    break
                assert not any(t in sub for t in fact_rels), (
                    f"{fn.__name__}: forced broadcast hint over fact table: {sub.strip()[:120]}"
                )


def test_partial_aggregation_present(spark):
    """groupBy aggregates must have a map-side partial phase (the
    partial+final split that bounds shuffle volume at 100 TB)."""
    from data_warehouse_data_mining_spark.operators.relational import value_counts

    plan = explain.formatted_plan(value_counts(spark, SF_SMALL))
    assert "partial_count" in plan or "partial_" in plan


def test_runtime_bloom_filter_join(spark):
    """Runtime bloom-filter pruning: a selective dimension-side filter
    must inject a might_contain() runtime filter on the fact side of a
    shuffle join — at 100 TB this is what keeps the fact scan from
    shuffling rows the join will drop. (Thresholds are lowered to make
    the local[32]-scale plan show the same shape a cluster plan would.)"""
    from data_warehouse_data_mining_spark.catalog import load
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        t = load(spark, SF_SMALL)
        big_orders = t.orders.filter(F.col("o_totalprice") > 450000)
        j = (
            t.lineitem.join(big_orders, F.col("l_orderkey") == F.col("o_orderkey"))
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        plan = explain.formatted_plan(j)
        assert "might_contain" in plan.lower(), "runtime bloom filter not injected"
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_iterative_loops_checkpoint_truncates_lineage(spark):
    """The iterative operators must not accumulate one logical plan per
    iteration: ``iterate`` truncates the lineage, so the FINAL plan is
    at most one cut interval of supersteps over a checkpointed leaf,
    not a chain of every superstep's joins (uncut: label propagation
    10 joins, textrank 16, MMR 12). r2's un-checkpointed
    plans audited at 309 / 4,788 codegen operators — this pins the fix."""
    from data_warehouse_data_mining_spark.operators.dedup import neardup_clusters
    from data_warehouse_data_mining_spark.operators.graph import (
        graph_label_propagation,
        graph_modularity,
        graph_pagerank,
    )
    from data_warehouse_data_mining_spark.operators.similarity import (
        mmr_diversified_topk,
    )
    from data_warehouse_data_mining_spark.operators.text import textrank_keywords

    for builder, max_joins in [
        (graph_pagerank, 2),
        (neardup_clusters, 2),
        (graph_label_propagation, 2),  # last of 5 supersteps, cut every 2
        (graph_modularity, 6),  # Q's own joins over the cut labels
        (textrank_keywords, 2),  # last superstep: 2 joins
        (mmr_diversified_topk, 3),  # last pick: anti-join + 2 joins
    ]:
        df = builder(spark, SF_SMALL)
        plan = df._jdf.queryExecution().analyzed().toString()
        n_joins = plan.count("Join ")
        assert n_joins <= max_joins, (
            f"{builder.__name__}: {n_joins} joins in final plan — "
            "iteration lineage is not being checkpointed"
        )
        assert "LogicalRDD" in plan or "ExistingRDD" in plan, (
            f"{builder.__name__}: no checkpointed leaf in plan"
        )


def test_iterate_cuts_on_cadence_and_stops_early(spark):
    """``iterate`` cuts lineage after supersteps cut_every,
    2·cut_every, … but never after the last one, and ``until`` ends the
    loop at the first superstep it holds for."""
    from pyspark.sql import functions as F

    from data_warehouse_data_mining_spark.operators.iterate import iterate

    def is_cut(df):
        return df._jdf.queryExecution().analyzed().nodeName() == "LogicalRDD"

    seen = []

    def step(df, i):
        seen.append((i, is_cut(df)))
        return df.select((F.col("id") + 1).alias("id"))

    out = iterate(spark.range(3), step, 6, cut_every=2)
    # the inputs of supersteps 3 and 5 (i = 2, 4) are the cut outputs
    # of supersteps 2 and 4; superstep 6's output is returned uncut
    assert seen == [(0, False), (1, False), (2, True), (3, False),
                    (4, True), (5, False)]
    assert not is_cut(out)
    assert sorted(r.id for r in out.collect()) == [6, 7, 8]

    seen.clear()
    out = iterate(
        spark.range(1), step, 10, cut_every=1,
        until=lambda old, new: new.first().id >= 3,
    )
    assert [i for i, _ in seen] == [0, 1, 2]
    assert is_cut(out) and out.first().id == 3


def test_bounded_model_recurrences_run_in_one_task(spark):
    """The literal-bounded model recurrences (markov value iteration,
    Bradley-Terry MM, UCB1 replay, and the markov power iteration
    behind the stationary distribution and the entropy rate) execute
    INSIDE one applyInPandas task — a FlatMapGroupsInPandas node in
    the plan — instead of one scheduled join round per superstep (the
    elo_rating_replay discipline; each paid seconds of pure stage
    latency on tables of dozens of rows). Oracle equality with the
    unrolled-CTE DuckDB recurrences is pinned separately by the sweep;
    this pins the execution shape."""
    from data_warehouse_data_mining_spark.operators.mining_policy import (
        markov_removal_attribution,
        ucb1_bandit_replay,
    )
    from data_warehouse_data_mining_spark.operators.mining_ratings import (
        bradley_terry_event_strengths,
    )
    from data_warehouse_data_mining_spark.operators.udfs import (
        markov_entropy_rate,
        markov_stationary_distribution,
    )

    for builder in (
        markov_removal_attribution,
        ucb1_bandit_replay,
        bradley_terry_event_strengths,
        markov_stationary_distribution,
        markov_entropy_rate,
    ):
        plan = explain.formatted_plan(builder(spark, SF_SMALL))
        assert "FlatMapGroupsInPandas" in plan, (
            f"{builder.__name__}: model recurrence no longer runs as a "
            "single applyInPandas task"
        )


# Builders that return a plan: no eager cut, no driver scalar, so
# building them schedules no Spark job. markov and ucb1 are the
# bounded-state iterative queries; the rest dropped eager cuts that
# bought neither speed nor fewer parquet scans.
PLAN_ONLY_BUILDERS = (
    "markov_stationary_distribution",
    "ucb1_bandit_replay",
    "ab_interim_monitoring",
    "abc_xyz_matrix",
    "benford_first_digit",
    "bm25_keyword_search",
    "brown_forsythe_variance",
    "compaction_bin_packing",
    "cusum_changepoint",
    "daily_kpi_build",
    "durbin_watson_residuals",
    "edit_distance_neardup_pairs",
    "filter_shapley_attribution",
    "gini_by_year",
    "good_turing_estimates",
    "grid_lof_outliers",
    "kendall_tau_daily",
    "kulldorff_temporal_scan",
    "logrank_test_arms",
    "mann_whitney_u",
    "mixture_temperature_weights",
    "nelson_aalen_hazard",
    "neyman_allocation",
    "poisson_bootstrap_ci",
    "quality_filter_ablation",
    "rmst_restricted_mean",
    "seasonal_decompose_daily",
    "spearman_rho_daily",
    "survival_km_curve",
    "tokenize_to_ids",
    "zipf_slope_fit",
)


def test_bounded_state_builders_schedule_no_jobs(spark):
    """Building a plan-only query runs no Spark job: the markov walk,
    the ucb1 pivot and the builders in ``PLAN_ONLY_BUILDERS`` are lazy
    plans, so every job they cost is scheduled by the action that reads
    them, where AQE can re-plan it. Opening a catalog table schedules
    no job either, so every job counted is the builder's own."""
    from data_warehouse_data_mining_spark import registry

    queries = registry.all_queries()
    sc = spark.sparkContext
    ran = {}
    for name in PLAN_ONLY_BUILDERS:
        group = f"{name}:build"
        sc.setJobGroup(group, group)
        try:
            queries[name].builder(spark, SF_SMALL)
            jobs = list(sc.statusTracker().getJobIdsForGroup(group))
        finally:
            sc._jsc.clearJobGroup()
        if jobs:
            ran[name] = jobs
    assert not ran, f"builds ran jobs: {ran}"


def _plan_nodes(node):
    """Pre-order ``[(nodeName, node)]`` of a JVM physical plan subtree,
    following ``children()`` only — a cached relation's own plan is not
    a child of its InMemoryTableScan."""
    out = [(node.nodeName(), node)]
    kids = node.children()
    for i in range(kids.size()):
        out.extend(_plan_nodes(kids.apply(i)))
    return out


def _physical_nodes(df):
    """``_plan_nodes`` of a DataFrame's physical plan; under AQE, of its
    initial plan, which already holds every planned Exchange."""
    plan = df._jdf.queryExecution().executedPlan()
    if plan.nodeName() == "AdaptiveSparkPlan":
        plan = plan.initialPlan()
    return _plan_nodes(plan)


def test_pagerank_superstep_reads_partitioned_contribution_table(spark):
    """One PageRank superstep reads the contribution table as it is
    cached — pre-joined with the out-degrees, partitioned by src and
    materialized before the loop, as graph_pagerank does — so the edge
    side of the rank join is a bare InMemoryTableScan with no Exchange
    above it, and the superstep adds exactly one shuffle: the
    hashpartitioning(dst) of its re-aggregation. A superstep that
    re-joins edges⋈deg, or a table that is not partitioned by src, puts
    a join, an aggregate or an Exchange on the edge side. Broadcast is
    off so the rank vector takes the shuffle-join path it takes at
    scale."""
    from pyspark.sql import functions as F

    from data_warehouse_data_mining_spark.operators.graph import (
        _contribution_table,
        _pagerank_superstep,
    )

    def exchanges(df):
        return [
            n.outputPartitioning().toString()
            for name, n in _physical_nodes(df)
            if "Exchange" in name
        ]

    key = "spark.sql.autoBroadcastJoinThreshold"
    saved = spark.conf.get(key)
    contrib = _contribution_table(spark, SF_SMALL)
    try:
        # built under the session's own config, as graph_pagerank does;
        # a cache's partitioning is known once it is materialized
        contrib.count()
        spark.conf.set(key, "-1")
        r0 = (
            contrib.select(F.col("src").alias("node"))
            .distinct()
            .select("node", F.lit(1).cast("long").alias("rank"))
        )
        # a superstep's own output is the realistic input vector
        ranks = _pagerank_superstep(contrib, r0, 0)
        step = _pagerank_superstep(contrib, ranks, 0)

        join = next(n for name, n in _physical_nodes(step) if "Join" in name)
        edge_side = [name for name, _ in _plan_nodes(join.children().apply(0))]
        assert edge_side.count("InMemoryTableScan") == 1, edge_side
        assert not any(
            "Exchange" in n or "Join" in n or "Aggregate" in n
            for n in edge_side
        ), f"edge side is not a bare cached scan: {edge_side}"

        before, after = exchanges(ranks), exchanges(step)
        assert len(after) == len(before) + 1, (before, after)
        added = after[0]  # the root-most exchange is the new superstep's
        assert added.startswith("hashpartitioning(dst"), added
    finally:
        contrib.unpersist()
        spark.conf.set(key, saved)


def test_smote_bucket_refinement_single_coding_pass(spark):
    """r14 optimization pin: smote's bucket refinement derives every
    per-level count from ONE checkpointed full-code count table — the
    coded minority (scan + Arrow LSH pass) is evaluated at most twice
    in the final plan (the counting pass is materialized at build, so
    the remaining ArrowEvalPython nodes are the final projection's),
    never once per refinement level (6 passes pre-r14; the static plan
    held 128 ArrowEvalPython nodes)."""
    from data_warehouse_data_mining_spark.ml.queries import (
        smote_rebalance_counts,
    )

    import re

    plan = explain.formatted_plan(smote_rebalance_counts(spark, SF_SMALL))
    # count operator-detail entries ("(n) ArrowEvalPython"), not the
    # tree rendering, which lists every node a second time
    n = len(re.findall(r"\(\d+\) ArrowEvalPython", plan))
    assert n <= 2, f"smote plan re-derives the coded minority: {n} Arrow nodes"


def test_aqe_skew_join_split(spark):
    """AQE must split a skewed shuffle-join partition at runtime: one
    hot key holding ~50% of the fact side becomes multiple subtasks
    (SortMergeJoin(skew=true) reading an `AQEShuffleRead skewed`) —
    the engine-native remedy the manual salting operators
    (salted_skew_join) exist to complement, pinned here so a config
    regression can't silently serialize hot keys again. Thresholds are
    lowered so the local-scale plan shows the cluster-scale shape."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 2 == 0, 7)
            .otherwise(F.col("id") % 5000)
            .alias("k"),
            F.col("id").alias("v"),
        )
        right = spark.range(0, 5000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("w")
        )
        j = left.join(right, "k").groupBy().agg(F.count(F.lit(1)).alias("n"))
        assert j.collect()[0]["n"] == 200_000  # every fact row matches
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan, "AQE did not split the skewed partition"
        assert "AQEShuffleRead skewed" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_minhash_rerank_broadcasts_candidates(spark):
    """The MinHash re-rank must join the SMALL candidate set against the
    shingle-array table as a broadcast — never a sort-merge join that
    re-shuffles the corpus (the r4 rewrite's contract: the exploded
    inverted index is gone and nothing corpus-sized moves for the
    re-rank)."""
    from data_warehouse_data_mining_spark.registry import all_queries

    from .conftest import SF_SMALL

    df = all_queries()["dedup_minhash_lsh"].builder(spark, SF_SMALL)
    plan = explain.formatted_plan(df)
    final = plan.split("== Initial Plan ==")[0]
    assert "SortMergeJoin" not in final, "corpus re-shuffled for the re-rank"
    assert "BroadcastHashJoin" in final


def test_no_pins_on_token_proportional_tables():
    """The r6 pinning rule: localCheckpoint only BOUNDED tables. The
    64x probe OOMed containment_pairs because lineage-truncated blocks
    are unevictable, so token-stream / raw-text tables must be
    recomputed, never pinned. This lint keeps the fixed functions
    honest — if one of them regains a localCheckpoint, it must pin a
    bounded table and update this list with a justification."""
    import inspect

    from data_warehouse_data_mining_spark.operators import dedup, sketches

    # functions whose ONLY multi-consumer tables are token-proportional
    # (or raw text): no pin at all is allowed
    for fn in (
        dedup.containment_pairs,
        dedup.split_leakage_audit,
        sketches.heavy_hitters_sketch,
        sketches.count_min_sketch_counts,
    ):
        src = inspect.getsource(fn)
        assert "localCheckpoint" not in src.replace(
            "localCheckpoint-ed", ""  # docstrings may narrate the fix
        ), f"{fn.__name__} re-pinned a token-proportional table"

    # functions that legitimately pin bounded pair/audit tables but
    # must NOT pin the shingle stream: the shingle_table(...) call and
    # .localCheckpoint must not be chained
    for fn in (dedup.dedup_eval_precision_recall, dedup.lsh_banding_recall_curve):
        src = inspect.getsource(fn)
        assert "shingle_table" in src
        for line in src.splitlines():
            if "shingle_table" in line and "localCheckpoint" in line:
                raise AssertionError(
                    f"{fn.__name__} pins the shingle stream again"
                )

    # repo-wide sweep (r7, after corpus_curation_funnel slipped past the
    # per-function list above): NO source file anywhere may pin a
    # shingle_table(...) result with .localCheckpoint — the shingle
    # stream is token-proportional by construction. AST-based with
    # per-function name-taint dataflow (r8, per ADVICE: the chain-only
    # version missed `sh = shingle_table(...); sh.localCheckpoint()`):
    # any local name assigned — directly or through further chained
    # calls — from shingle_table is tainted, and a localCheckpoint whose
    # receiver chain bottoms out in shingle_table or a tainted name is
    # flagged. Pins on other tables in the same block stay legal.
    import ast
    import os

    # ops that collapse the token-proportional cardinality: a shingle
    # stream piped through one of these is no longer token-sized (a
    # groupBy().agg() pair/count table is bounded by the entity/pair
    # domain), so taint stops there — dedup_eval_precision_recall's
    # pinned thresholded pair tables stay legal. select/filter/join
    # do NOT clear taint: a filtered shingle stream is still
    # token-proportional in the worst case.
    _COLLAPSING = {
        "groupBy", "agg", "distinct", "dropDuplicates", "summary",
        "describe", "limit",
    }

    def chain_walk(node):
        """(bases, attrs) a call/attribute chain bottoms out in: bases
        are function names for direct calls (`shingle_table(...)`) or
        bare variable names for chained receivers
        (`sh.select(...).localCheckpoint()` -> `sh`); attrs are the
        method names traversed on the way."""
        bases, attrs = set(), set()
        while True:
            if isinstance(node, ast.Call):
                if isinstance(node.func, ast.Name):
                    bases.add(node.func.id)
                    return bases, attrs
                if isinstance(node.func, ast.Attribute):
                    attrs.add(node.func.attr)
                    node = node.func.value
                    continue
            if isinstance(node, ast.Attribute):
                attrs.add(node.attr)
                node = node.value
                continue
            if isinstance(node, ast.Name):
                bases.add(node.id)
                return bases, attrs
            return bases, attrs

    def tainted_names(scope_nodes):
        """Fixpoint over simple assignments: names whose value chain
        bottoms out in shingle_table or an already-tainted name WITHOUT
        passing through a cardinality-collapsing op."""
        taint = {"shingle_table"}
        changed = True
        while changed:
            changed = False
            for node in scope_nodes:
                if not isinstance(node, ast.Assign):
                    continue
                bases, attrs = chain_walk(node.value)
                if taint & bases and not attrs & _COLLAPSING:
                    for tgt in node.targets:
                        if isinstance(tgt, ast.Name) and tgt.id not in taint:
                            taint.add(tgt.id)
                            changed = True
        return taint

    def scope_violations(tree):
        hits = []
        scopes = [tree] + [
            n for n in ast.walk(tree) if isinstance(n, ast.FunctionDef)
        ]
        for scope in scopes:
            if isinstance(scope, ast.Module):
                nodes = [
                    n
                    for stmt in scope.body
                    if not isinstance(stmt, ast.FunctionDef)
                    for n in ast.walk(stmt)
                ]
            else:
                nodes = list(ast.walk(scope))
            taint = tainted_names(nodes)
            for node in nodes:
                if not (
                    isinstance(node, ast.Call)
                    and isinstance(node.func, ast.Attribute)
                    and node.func.attr == "localCheckpoint"
                ):
                    continue
                bases, attrs = chain_walk(node.func.value)
                if taint & bases and not attrs & _COLLAPSING:
                    hits.append(node.lineno)
        return hits

    # lint self-test (positive AND negative controls) so a refactor
    # that silently stops it firing fails here, not in a future OOM
    control = ast.parse(
        "def direct():\n"
        "    shingle_table(d).localCheckpoint()\n"  # line 2: flag
        "def one_hop():\n"
        "    sh = shingle_table(d, 'id', 'text')\n"
        "    sh2 = sh.select('x')\n"
        "    sh2.localCheckpoint(eager=True)\n"  # line 6: flag (ADVICE r7)
        "def collapsed_ok():\n"
        "    sh = shingle_table(d)\n"
        "    pairs = sh.join(sh, 'k').groupBy('a', 'b').agg(c)\n"
        "    pairs.filter(f).localCheckpoint()\n"  # bounded: no flag
        "def unrelated_ok():\n"
        "    sh = other_table(d)\n"
        "    sh.localCheckpoint()\n"  # different base: no flag
    )
    assert scope_violations(control) == [2, 6]

    pkg_root = os.path.dirname(
        os.path.dirname(os.path.abspath(dedup.__file__))
    )
    for root, _dirs, files in os.walk(pkg_root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            # taint is scoped per function (module level included) so a
            # bounded table named `sh` in one function is not condemned
            # by a shingle stream named `sh` in another
            hits = scope_violations(tree)
            assert not hits, (
                f"{path}:{hits} pins the shingle stream "
                "(token-proportional; recompute it instead)"
            )


def test_lineage_truncation_lives_in_iterate():
    """Repo-wide AST lint: no `for`/`while` body in the package may call
    `.localCheckpoint(` or `.checkpoint(` itself — a loop that truncates
    lineage goes through `operators.iterate.iterate`, so the cadence,
    the eager/lazy choice and the cluster swap to a reliable
    `checkpoint()` stay in one module. A loop that pins something
    WITHOUT carrying state between passes may be waived here by
    (file, function) with its reason, so adding one is a reviewed diff."""
    import ast
    import os

    import data_warehouse_data_mining_spark as pkg

    waivers = {
        ("quality.py", "candidate_key_profile"): (
            "materializes one aggregate per table; no state is carried "
            "between loop passes"
        ),
    }

    def loop_cuts(tree):
        """(lineno, enclosing function) of every truncating call inside
        a for/while body (or its else branch)."""
        hits = set()

        def visit(node, fn, in_loop):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if (
                in_loop
                and isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("localCheckpoint", "checkpoint")
            ):
                hits.add((node.lineno, fn))
            if isinstance(node, (ast.For, ast.AsyncFor, ast.While)):
                head = node.test if isinstance(node, ast.While) else node.iter
                visit(head, fn, in_loop)
                for child in node.body + node.orelse:
                    visit(child, fn, True)
                return
            for child in ast.iter_child_nodes(node):
                visit(child, fn, in_loop)

        visit(tree, None, False)
        return sorted(hits)

    # lint self-test (positive AND negative controls) so a refactor that
    # silently stops it firing fails here, not as unbounded lineage
    control = ast.parse(
        "def hand_rolled(df):\n"
        "    for i in range(3):\n"
        "        df = step(df).localCheckpoint(eager=False)\n"  # 3: flag
        "def while_loop(df):\n"
        "    while more(df):\n"
        "        if x:\n"
        "            df = df.checkpoint()\n"  # 7: flag
        "def after_loop_ok(df):\n"
        "    for i in range(3):\n"
        "        df = step(df)\n"
        "    return df.localCheckpoint(eager=True)\n"  # after: no flag
        "def one_shot_ok(df):\n"
        "    return df.localCheckpoint(eager=True)\n"  # no loop: no flag
    )
    assert loop_cuts(control) == [(3, "hand_rolled"), (7, "while_loop")]

    pkg_root = os.path.dirname(os.path.abspath(pkg.__file__))
    problems, used = [], set()
    for root, _dirs, files in os.walk(pkg_root):
        for fname in files:
            path = os.path.join(root, fname)
            if not fname.endswith(".py") or path == os.path.join(
                pkg_root, "operators", "iterate.py"
            ):
                continue
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            for lineno, fn in loop_cuts(tree):
                if (fname, fn) in waivers:
                    used.add((fname, fn))
                else:
                    problems.append(f"{path}:{lineno} ({fn})")
    assert not problems, (
        "loop truncates lineage by hand (route it through "
        f"operators.iterate.iterate): {problems}"
    )
    assert used == set(waivers), f"stale waiver(s): {set(waivers) - used}"


def test_no_module_level_caches():
    """Repo-wide AST lint: no module-level dict, set or list may be
    written by a function in its module (by subscript, or by
    `.add/.append/.update/.setdefault`). Such a binding is a cache that
    lives as long as the process and is never evicted when a session
    stops; driver artifacts go through `session.memo`, whose one store
    dies with its session. A waiver names (file, binding) with its
    reason, so adding one is a reviewed diff."""
    import ast
    import os

    import data_warehouse_data_mining_spark as pkg

    waivers = {
        ("registry.py", "_REGISTRY"): (
            "the query registry: filled once per process by @register at "
            "import, the same for every session"
        ),
    }
    mutators = {"add", "append", "update", "setdefault"}
    scopes = (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)

    def is_container(value):
        if isinstance(
            value,
            (ast.Dict, ast.Set, ast.List, ast.DictComp, ast.SetComp, ast.ListComp),
        ):
            return True
        return (
            isinstance(value, ast.Call)
            and isinstance(value.func, ast.Name)
            and value.func.id in ("dict", "set", "list", "defaultdict")
        )

    def local_names(fn):
        """Names fn binds itself (parameters and stores, nested scopes
        excluded), minus those it declares global."""
        args = fn.args
        names = {
            a.arg
            for a in args.posonlyargs + args.args + args.kwonlyargs
            + [args.vararg, args.kwarg]
            if a is not None
        }
        declared = set()
        todo = list(fn.body) if isinstance(fn.body, list) else [fn.body]
        while todo:
            node = todo.pop()
            if isinstance(node, ast.Global):
                declared.update(node.names)
            elif isinstance(node, ast.Name) and isinstance(node.ctx, ast.Store):
                names.add(node.id)
            if isinstance(node, scopes + (ast.ClassDef,)):
                if not isinstance(node, ast.Lambda):
                    names.add(node.name)
                continue
            todo.extend(ast.iter_child_nodes(node))
        return names - declared

    def cache_writes(tree):
        """(binding, lineno, enclosing function) of every write a
        function makes to a module-level dict/set/list binding."""
        module = set()
        for node in tree.body:
            if isinstance(node, ast.Assign) and is_container(node.value):
                targets = node.targets
            elif (
                isinstance(node, ast.AnnAssign)
                and node.value is not None
                and is_container(node.value)
            ):
                targets = [node.target]
            else:
                continue
            module.update(t.id for t in targets if isinstance(t, ast.Name))
        hits = set()

        def target(node):
            if isinstance(node, ast.Subscript) and isinstance(
                node.ctx, (ast.Store, ast.Del)
            ):
                return node.value
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in mutators
            ):
                return node.func.value
            return None

        def visit(node, fn, visible):
            if isinstance(node, scopes):
                fn = getattr(node, "name", "<lambda>")
                visible = visible - local_names(node)
            elif fn is not None:
                t = target(node)
                if isinstance(t, ast.Name) and t.id in visible:
                    hits.add((t.id, node.lineno, fn))
            for child in ast.iter_child_nodes(node):
                visit(child, fn, visible)

        visit(tree, None, module)
        return sorted(hits, key=lambda h: h[1])

    # lint self-test (positive AND negative controls) so a refactor that
    # silently stops it firing fails here, not as a leaked cache
    control = ast.parse(
        "_CACHE = {}\n"
        "_SEEN: set[str] = set()\n"
        "_ORDER = []\n"
        "_CONST = {'a': 1}\n"
        "_SETUP = []\n"
        "_SETUP.append(1)\n"  # 6: module-level fill, no flag
        "def get(k):\n"
        "    if k not in _CACHE:\n"
        "        _CACHE[k] = k\n"  # 9: flag
        "    return _CACHE[k]\n"
        "def note(k):\n"
        "    _SEEN.add(k)\n"  # 12: flag
        "def shadowed(k, _SEEN):\n"
        "    _ORDER = []\n"
        "    _ORDER.append(k)\n"  # 15: local, no flag
        "    _SEEN.add(k)\n"  # 16: parameter, no flag
        "    return _CONST[k]\n"  # 17: read, no flag
        "def outer():\n"
        "    def inner(k):\n"
        "        _ORDER.append(k)\n"  # 20: flag
        "    return inner\n"
    )
    assert cache_writes(control) == [
        ("_CACHE", 9, "get"),
        ("_SEEN", 12, "note"),
        ("_ORDER", 20, "inner"),
    ]

    pkg_root = os.path.dirname(os.path.abspath(pkg.__file__))
    problems, used = [], set()
    for root, _dirs, files in os.walk(pkg_root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            for name, lineno, fn in cache_writes(tree):
                if (fname, name) in waivers:
                    used.add((fname, name))
                else:
                    problems.append(f"{path}:{lineno} {name} ({fn})")
    assert not problems, (
        "module-level cache (memoize through session.memo instead): "
        f"{problems}"
    )
    assert used == set(waivers), f"stale waiver(s): {set(waivers) - used}"


def test_parquet_reads_go_through_read_parquet():
    """Repo-wide AST lint: every batch parquet read in the package goes
    through `catalog.read_parquet`. A `.parquet(` call on a reader chain
    that starts at `.read` (`spark.read.parquet`,
    `spark.read.option(...).parquet`) runs a Spark job just to infer the
    schema from one footer, which `read_parquet` reads on the driver.
    Streaming reads (`readStream.schema(...).parquet`) and writes are
    not batch reads and pass."""
    import ast
    import os

    import data_warehouse_data_mining_spark as pkg

    allowed = ("catalog.py", "read_parquet")

    def parquet_reads(tree):
        """(lineno, enclosing function) of every `.parquet(` call whose
        receiver chain passes through a `.read` attribute."""
        hits = set()

        def from_read(node):
            while isinstance(node, (ast.Call, ast.Attribute)):
                if isinstance(node, ast.Call):
                    node = node.func
                elif node.attr == "read":
                    return True
                else:
                    node = node.value
            return False

        def visit(node, fn):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                fn = node.name
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet"
                and from_read(node.func.value)
            ):
                hits.add((node.lineno, fn))
            for child in ast.iter_child_nodes(node):
                visit(child, fn)

        visit(tree, None)
        return sorted(hits)

    # lint self-test (positive AND negative controls) so a refactor that
    # silently stops it firing fails here, not as a schema-inference job
    control = ast.parse(
        "def plain(spark, p):\n"
        "    return spark.read.parquet(p)\n"  # 2: flag
        "def with_option(df, p):\n"
        "    return df.sparkSession.read.option('x', 1).parquet(p)\n"  # 4: flag
        "def stream_ok(spark, s, p):\n"
        "    return spark.readStream.schema(s).parquet(p)\n"  # no flag
        "def write_ok(df, p):\n"
        "    df.write.mode('overwrite').parquet(p)\n"  # no flag
        "def read_parquet(spark, p):\n"
        "    return spark.read.schema(s).parquet(p)\n"  # 10: flag (waived by file)
    )
    assert parquet_reads(control) == [
        (2, "plain"),
        (4, "with_option"),
        (10, "read_parquet"),
    ]

    pkg_root = os.path.dirname(os.path.abspath(pkg.__file__))
    problems, used = [], False
    for root, _dirs, files in os.walk(pkg_root):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(root, fname)
            with open(path) as fh:
                tree = ast.parse(fh.read(), filename=path)
            for lineno, fn in parquet_reads(tree):
                if (fname, fn) == allowed:
                    used = True
                else:
                    problems.append(f"{path}:{lineno} ({fn})")
    assert not problems, (
        "parquet read outside catalog.read_parquet (call it instead): "
        f"{problems}"
    )
    assert used, "catalog.read_parquet no longer reads parquet"


def test_no_broadcast_hints_on_unbounded_tables():
    """Repo-wide AST lint (r10, VERDICT r9 #1): F.broadcast() must never
    be applied to a frame derived from an SF-proportional table —
    lineitem/orders/customer/part/supplier/partsupp/events/documents/
    embeddings — without an intervening BOUNDED aggregation. A groupBy
    on an entity id (doc_id, user_id, c_custkey, ...) does NOT bound:
    a per-doc sizes table is still corpus-proportional (the r9
    prefix_filter_jaccard_pairs bug — a guaranteed broadcast-limit/OOM
    failure at the 100 TB design point that no local[32] test can see).
    Genuinely bounded-by-design frames (the N_QUERIES-row ANN query
    sets) carry an inline `# broadcast-ok: <reason>` waiver whose exact
    inventory is pinned here, so adding one is a reviewed diff."""
    import os

    from tools.broadcast_lint import lint_package, scope_broadcast_violations
    import data_warehouse_data_mining_spark as pkg
    import ast

    # lint self-test: positive AND negative controls so a refactor that
    # silently stops it firing fails here, not on a future cluster OOM
    control_src = (
        "def direct(t):\n"
        "    x.join(F.broadcast(t.customer.select('a')), 'k')\n"  # flag
        "def per_entity_agg(t):\n"
        "    sizes = t.documents.groupBy('doc_id').agg(c)\n"
        "    x.join(F.broadcast(sizes), 'k')\n"  # flag (the r9 bug)
        "def bounded_agg_ok(t):\n"
        "    tot = t.lineitem.groupBy('l_returnflag').agg(c)\n"
        "    x.crossJoin(F.broadcast(tot))\n"  # bounded keys: no flag
        "def global_agg_ok(t):\n"
        "    tot = t.events.agg(c)\n"
        "    x.crossJoin(F.broadcast(tot))\n"  # one row: no flag
        "def waived(t):\n"
        "    q = t.embeddings.filter(f)\n"
        "    x.join(F.broadcast(q), c)  # broadcast-ok: 5-row query set\n"
        "def dim_ok(t):\n"
        "    x.join(F.broadcast(t.nation), 'k')\n"  # bounded dim: no flag
    )
    tree = ast.parse(control_src)
    hits, waived = scope_broadcast_violations(tree, control_src.splitlines())
    assert hits == [2, 5], f"lint self-test broke: {hits}"
    assert [w[1] for w in waived] == ["5-row query set"]

    pkg_root = os.path.dirname(os.path.abspath(pkg.__file__))
    problems, waivers = lint_package(pkg_root)
    assert not problems, (
        "forced broadcast of an SF-proportional frame (drop the hint; "
        f"AQE picks the strategy): {problems}"
    )
    # pinned waiver inventory — every entry must be bounded BY DESIGN
    assert sorted(waivers) == [
        ("curation.py", "q is bounded by KSH_T (literal id filter)"),
        # r13: the nprobe recall curve's single-pass candidate table
        # broadcasts the UNFILTERED probe-rank table (all nlist cells
        # per query — still N_QUERIES*nlist rows, a literal-bounded set)
        ("similarity.py", "N_QUERIES*nlist rows"),
        ("similarity.py", "bounded by N_QUERIES*ADC_NPROBE rows"),
        ("similarity.py", "bounded by N_QUERIES*nprobe rows"),
        ("similarity.py", "lut is bounded by N_QUERIES*ADC_M*ADC_K rows"),
        ("similarity.py", "q is bounded by N_QUERIES (literal id filter)"),
        ("similarity.py", "q is bounded by N_QUERIES (literal id filter)"),
        # r12 ADC refine stage: the exact re-rank joins the bounded
        # shortlist (N_QUERIES*ADC_REFINE rows) + query vectors back
        # onto the corpus
        ("similarity.py", "qv2 is bounded by N_QUERIES (literal id filter)"),
    ], f"waiver inventory drifted: {sorted(waivers)}"
