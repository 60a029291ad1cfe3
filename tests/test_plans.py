"""Plan-shape audits — SURVEY.md §4: the optimizations Catalyst must
deliver for these queries, asserted so refactors can't silently
degrade them (a wrong plan at 100 TB is a wrong result in practice)."""

from __future__ import annotations

from pyspark.sql import functions as F

from .conftest import SF_CORRECTNESS


def _q(spark, name):
    from git_etl_spark import registry

    registry.load_all()
    return registry.QUERIES[name](spark, SF_CORRECTNESS)


def test_filter_pushdown_reaches_scan(spark):
    """E2: the >400000 predicate must appear in the parquet scan's
    PushedFilters, not as a post-scan Filter only."""
    from git_etl_spark.plans.audit import pushed_filters

    df = _q(spark, "join_anti_customers_without_big_orders")
    assert any("o_totalprice" in f and "GreaterThan" in f for f in pushed_filters(df)), (
        pushed_filters(df)
    )


def test_column_pruning(spark):
    """Scans read only referenced columns (ReadSchema ≠ full table)."""
    from git_etl_spark.plans.audit import read_schemas

    df = _q(spark, "agg_orders_per_status")
    schemas = read_schemas(df)
    assert schemas and all("o_totalprice" not in s for s in schemas), schemas


def test_dim_joins_broadcast(spark):
    """Small dims broadcast; no sort-merge for the nation join."""
    from git_etl_spark.plans.audit import has_broadcast_join

    assert has_broadcast_join(_q(spark, "join_revenue_per_nation"))


def test_topk_plans_take_ordered(spark):
    """T2: ORDER BY + LIMIT must plan TakeOrderedAndProject, never a
    global sort of the full aggregate."""
    from git_etl_spark.plans.audit import has_take_ordered

    assert has_take_ordered(_q(spark, "agg_orders_per_day_top10"))
    assert has_take_ordered(_q(spark, "agg_hot_parts_top20"))


def test_single_shuffle_aggregation(spark):
    """Partial+final hash agg = exactly one exchange for a plain
    group-by (map-side combine working)."""
    from git_etl_spark.plans.audit import count_shuffles

    assert count_shuffles(_q(spark, "agg_orders_per_status")) == 1


def test_theta_join_not_cartesian(spark):
    """The balance inequality must ride on the equi hash join, not
    force a nested-loop over the cross product."""
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_q(spark, "join_theta_richer_suppliers"))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_sessionize_reuses_user_shuffle(spark):
    """Window + group-by on the same user_id key: one hash exchange on
    user_id total (Catalyst reuses the partitioning)."""
    from git_etl_spark.plans.audit import hash_exchanges

    exchanges = hash_exchanges(_q(spark, "events_sessionize"))
    on_user = [
        e for e in exchanges if e.startswith("Exchange hashpartitioning(user_id")
    ]
    assert len(on_user) == 1, exchanges


def test_q1_fully_codegens(spark):
    """TPC-H Q1 must be one fused codegen pipeline per stage (scan →
    partial agg), no interpreted operators in the hot path."""
    from git_etl_spark.plans.audit import codegen_stage_count

    assert codegen_stage_count(_q(spark, "tpch_q1_pricing_summary")) >= 2


def test_q10_topk_take_ordered_and_pruned(spark):
    """Q10's top-20 must plan TakeOrderedAndProject, and the lineitem
    scan must push the returnflag equality."""
    from git_etl_spark.plans.audit import has_take_ordered, pushed_filters

    df = _q(spark, "tpch_q10_returned_items")
    assert has_take_ordered(df)
    assert any("l_returnflag" in f and "EqualTo" in f for f in pushed_filters(df)), (
        pushed_filters(df)
    )


def test_q2_part_filter_pushdown_and_broadcast(spark):
    """Q2: the p_size predicate reaches the part scan; the part dim
    broadcasts (never sort-merges against lineitem)."""
    from git_etl_spark.plans.audit import has_broadcast_join, pushed_filters

    df = _q(spark, "tpch_q2_min_price_supplier")
    assert has_broadcast_join(df)
    assert any("p_size" in f for f in pushed_filters(df)), pushed_filters(df)


def test_q22_anti_join_prefiltered_broadcast(spark):
    """Q22: the urgency filter must sit below the anti join (pushed to
    the orders scan), and the global-average scalar is a broadcast,
    not a shuffle."""
    from git_etl_spark.plans.audit import physical_plan, pushed_filters

    df = _q(spark, "tpch_q22_global_sales_opportunity")
    assert any("o_orderpriority" in f for f in pushed_filters(df)), (
        pushed_filters(df)
    )
    assert "CartesianProduct" not in physical_plan(df)


def test_q21_decorrelates_to_single_orderkey_exchange(spark):
    """Q21's EXISTS/NOT EXISTS decorrelate to per-order counts: the
    per-(order,supplier) and per-order aggregates must BOTH pipeline
    over the single l_orderkey repartition — one data exchange for the
    whole reduction, no self-joins, no exchange on the composite key
    (hashpartitioning(l_orderkey) satisfies the clustered distribution
    of the (l_orderkey, l_suppkey) groupBy)."""
    from git_etl_spark.plans.audit import hash_exchanges, physical_plan

    df = _q(spark, "tpch_q21_waiting_suppliers")
    plan = physical_plan(df)
    assert "CartesianProduct" not in plan
    assert "LeftSemi" not in plan and "LeftAnti" not in plan, plan
    exchanges = hash_exchanges(df)
    on_orderkey = [
        e for e in exchanges if e.startswith("Exchange hashpartitioning(l_orderkey,")
    ]
    assert len(on_orderkey) == 1, exchanges
    assert not any(
        e.startswith("Exchange hashpartitioning(l_orderkey, l_suppkey")
        for e in exchanges
    ), exchanges


def test_range_join_is_equi_bucketed(spark):
    """The interval join must execute as an equi hash join on
    (user, bucket) — a plain broadcast/shuffled hash or sort-merge —
    never a nested loop driven by the range predicate alone."""
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_q(spark, "join_range_prior_hour"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_runtime_bloom_filter_join_pruning(spark):
    """Runtime bloom-filter injection: a selective filter on the build
    side of a shuffle join should inject might_contain pruning into the
    probe-side scan, so the big table drops non-joining rows before the
    shuffle — at 100 TB this is the difference between shuffling the
    fact table and shuffling 2% of it. Thresholds are lowered because
    the defaults (10 GB application side) target real clusters."""
    from pyspark.sql import functions as F

    from git_etl_spark.io import load_table
    from git_etl_spark.plans.audit import physical_plan

    conf = spark.conf
    saved = {
        k: conf.get(k, None)
        for k in [
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.enabled",
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        ]
    }
    try:
        conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB"
        )
        conf.set(
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold",
            "0",
        )
        from .conftest import SF_CORRECTNESS

        orders = load_table(spark, SF_CORRECTNESS, "orders").filter(
            F.col("o_totalprice") > 550000  # selective build side
        )
        lineitem = load_table(spark, SF_CORRECTNESS, "lineitem")
        joined = lineitem.join(
            orders, lineitem.l_orderkey == orders.o_orderkey
        ).groupBy("o_orderpriority").agg(F.sum("l_quantity").alias("qty"))
        plan = physical_plan(joined)
        assert "might_contain" in plan or "bloomfilter" in plan.lower(), plan
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)


def test_q21_single_scan_of_lineitem(spark):
    """The decorrelated Q21 must read lineitem exactly once — the old
    semi+anti formulation recomputed the lineitem⋈orders aggregate for
    every branch (three scans at 100 TB); the per-order-count form has
    no shared subtree left to even need exchange reuse."""
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_q(spark, "tpch_q21_waiting_suppliers"))
    assert plan.count("lineitem.parquet") <= 1, plan


def test_window_dup_fraction_partial_aggregation(spark):
    """text_window_dup_fraction's per-window count must partial-
    aggregate (map-side combine) so shuffle volume is ∝ distinct
    windows, and nothing in the plan is a cartesian product."""
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_q(spark, "text_window_dup_fraction"))
    assert "partial_count" in plan or "HashAggregate" in plan
    assert "CartesianProduct" not in plan


def test_incremental_index_join_is_equi_join(spark):
    """dedup_incremental_index_join must candidate-generate via the
    key equi-join (sort-merge or hash), never a nested loop over
    delta × corpus — that is the entire point of the index."""
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_q(spark, "dedup_incremental_index_join"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_semantic_clusters_representative_property(spark):
    """Every cluster's representative is a member of the cluster and
    carries the minimum vec_id (the deterministic keep-one rule)."""
    import pyspark.sql.functions as F

    df = _q(spark, "dedup_semantic_clusters")
    bad = (
        df.groupBy("cluster_id")
        .agg(
            F.min("vec_id").alias("mn"),
            F.sum(F.col("is_representative").cast("int")).alias("n_rep"),
        )
        .filter((F.col("mn") != F.col("cluster_id")) | (F.col("n_rep") != 1))
    )
    assert bad.count() == 0


def test_exact_cosine_tier_is_deliberate_bnlj(spark):
    """The exact cosine tier IS the quadratic kernel (vec_id < vec_id
    non-equi join → BNLJ): at the calibrated threshold its output is
    itself quadratic, so the plan is asserted, not left to chance."""
    from git_etl_spark.operators.dedup import _exact_cosine_pairs
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_exact_cosine_pairs(spark, SF_CORRECTNESS))
    assert "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan


def test_partitioned_source_prunes_directories(spark):
    """The lang-partitioned estate read must prune at the source: the
    scan's partition filters carry the lang predicate, and the file
    listing excludes the non-matching lang directories."""
    from git_etl_spark.operators.file_formats import (
        source_partitioned_pruned_read,
    )
    from git_etl_spark.plans.audit import physical_plan

    df = source_partitioned_pruned_read(spark, SF_CORRECTNESS)
    plan = physical_plan(df)
    assert "PartitionFilters" in plan and "lang" in plan
    files = [r[0] for r in df.select(F.input_file_name()).distinct().collect()]
    assert files and all(
        ("lang=en" in f) or ("lang=zh" in f) for f in files
    ), files


def test_simhash_pairs_banded_not_cartesian(spark):
    """The banded SimHash pair query must generate candidates via the
    (band, band_val) equi-join — never an O(n²) nested-loop/cartesian
    comparison of signatures (the oracle is the O(n²) definition; the
    plan must not be)."""
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_q(spark, "dedup_simhash_hamming_pairs"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_negative_sampling_pool_is_bucket_equi_join(spark):
    """Negative-sampling candidate pool must form via the bucket
    equi-join (pool ∝ n·m/256), not a users×catalog cross product, and
    positives must be removed by a hash anti-join."""
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_q(spark, "pipeline_negative_sampling"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftAnti" in plan


def test_triangle_wedges_from_oriented_edges(spark):
    """Triangle counting must stay equi-join shaped: wedge build and
    closing join are hash joins on node keys — no cartesian expansion
    — and the final top-20 is a TakeOrderedAndProject, not a global
    sort."""
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_q(spark, "graph_triangle_top20"))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "TakeOrderedAndProject" in plan


def test_countmin_counters_partial_aggregated(spark):
    """The CMS counter build must partial-aggregate before its shuffle
    (HashAggregate appears below the exchange) and the probe side must
    broadcast the fixed-size counter grid."""
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_q(spark, "agg_countmin_heavy_hitters"))
    assert "BroadcastHashJoin" in plan
    assert plan.count("HashAggregate") >= 2


def test_observe_metrics_match_aggregates(spark):
    """Engine observability: df.observe() metrics collected during a
    real write must equal the same aggregates computed as a query —
    the zero-extra-pass pipeline health counters a 100 TB job exports
    instead of re-scanning its input to validate row counts."""
    from pyspark.sql import Observation

    from git_etl_spark.io import load_table

    ev = load_table(spark, SF_CORRECTNESS, "events")
    obs = Observation("ingest_counters")
    observed = ev.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
    )
    observed.write.format("noop").mode("overwrite").save()
    got = obs.get
    expect = ev.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("sum_value"),
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
    ).collect()[0]
    assert got["n_rows"] == expect["n_rows"]
    assert got["sum_value"] == expect["sum_value"]
    assert got["n_errors"] == expect["n_errors"]


def test_partitioning_invariance_of_float_sensitive_queries(spark):
    """Determinism under re-partitioning: the queries whose outputs
    could drift with shuffle layout (double folds, iterative rounds,
    learned structures) must return bit-identical rows when the
    session's shuffle-partition count changes — the property that
    makes results reproducible across differently-sized clusters.
    This is the executable form of the sorted-fold / scaled-integer
    design rules."""
    from git_etl_spark import registry

    registry.load_all()
    names = [
        "vector_centroid_per_label",
        "agg_corr_price_quantity",
        "embedding_pca_top_component",
        "agg_countmin_heavy_hitters",
    ]
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    results = {}
    try:
        for parts in ("3", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for n in names:
                rows = sorted(
                    map(repr, registry.QUERIES[n](spark, SF_CORRECTNESS).collect())
                )
                results.setdefault(n, []).append(rows)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    for n, (a, b) in results.items():
        assert a == b, f"{n} drifted under repartitioning"


def test_groupingsets_expand_above_preaggregate(spark):
    """The two-level GROUPING SETS plan must keep Expand ABOVE the
    finest-grouping aggregate (Expand touches ~6 rows), never between
    the fact scan and the aggregate (3× the fact table through
    Expand — Spark's native single-level plan)."""
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_q(spark, "groupingsets_lineitem"))
    assert "Expand" in plan, plan
    below_expand = plan[plan.index("Expand"):]
    # tree strings print parent-first: the subtree under Expand must
    # reach another HashAggregate before it reaches the parquet scan
    assert below_expand.index("HashAggregate") < below_expand.index(
        "FileScan"
    ), plan


def test_equidepth_single_percentile_buffer(spark):
    """All three quartile boundaries must come from ONE exact
    percentile aggregate (array form) — three separate calls triple
    the value buffer — and the boundary join must be the one-row
    broadcast (IdentityBroadcastMode), not a data-sized side."""
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_q(spark, "agg_equidepth_histogram"))
    assert plan.count("partial_percentile") == 1, plan
    assert "[0.25,0.5,0.75]" in plan, plan
    assert "IdentityBroadcastMode" in plan, plan


def test_itemset_pairs_no_self_join(spark):
    """Candidate pairs must expand from per-order arrays (Generate),
    never a basket self-join: no sort-merge join anywhere, and the
    only joins are the two broadcast metric lookups."""
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_q(spark, "agg_frequent_itemset_pairs"))
    assert "SortMergeJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "Generate explode" in plan, plan
    assert plan.count("BroadcastHashJoin") == 2, plan


def test_gapfill_locf_no_spine_join_single_window(spark):
    """Interval-explode LOCF: the EXPLODED (spine-sized) relation is
    never joined — the only joins sit below the Generate, stitching
    the per-user bounds onto the small generator rows; exactly one
    window (the lead over observed hours), and an explicit round-robin
    rebalance ahead of the explode so the expansion parallelizes."""
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_q(spark, "events_gapfill_locf"))
    # tree prints parent-first: any Join node must appear AFTER (below)
    # the Generate — nothing joins the exploded rows
    gen_at = plan.index("Generate explode(sequence")
    assert "Join" not in plan[:gen_at], plan
    assert plan.count("Window") == 1, plan
    assert "RoundRobinPartitioning" in plan, plan


def test_simsearch_bruteforce_corpus_scoring_spread(spark):
    """The exact-cosine scoring must run over a SPREAD corpus, never
    map-side on the raw single-split scan: the round-10 cores sweep
    measured the unspread plan FLAT (~4.6 s) from local[4] to
    local[32] on a 10x corpus — a data-linear single-task stage. The
    explicit-N repartition (RoundRobinPartitioning, AQE-coalesce-
    exempt) must sit between the corpus scan and the broadcast
    cross-join scoring in both exact-tier queries."""
    from git_etl_spark.plans.audit import physical_plan

    for name in ("simsearch_topk_bruteforce", "simsearch_range_cosine"):
        plan = physical_plan(_q(spark, name))
        assert "RoundRobinPartitioning" in plan, (name, plan)
        join_at = plan.index("BroadcastNestedLoopJoin")
        # tree strings print parent-first and the broadcast (query)
        # branch prints before the corpus branch, so the corpus scan is
        # the LAST FileScan: the round-robin exchange must sit in the
        # join's subtree above that corpus scan
        below = plan[join_at:]
        assert "RoundRobinPartitioning" in below[: below.rindex("FileScan")], (
            name,
            plan,
        )


def test_max_concurrency_sweep_partitioned_by_day(spark):
    """The boundary sweep must run per DAY-partition with a carried-in
    opening count, never as one global ordered window over all
    boundary rows: the r11 cores screen measured the global form flat
    (3.2-3.8 s, local[4] to local[32]) while growing 4.0x with data —
    and unlike an AQE-coalesced exchange, a global running sum is
    SEMANTICALLY single-task at any scale. The plan must contain a
    window partitioned by day over the boundaries (hashpartitioning on
    day) and exactly one explode generator (union-of-selects would
    evaluate the sessionize subtree twice)."""
    from git_etl_spark.plans.audit import hash_exchanges, physical_plan

    df = _q(spark, "events_max_concurrency")
    plan = physical_plan(df)
    # the day-partitioned sweep shuffle
    assert any(
        e.startswith("Exchange hashpartitioning(day,") for e in hash_exchanges(df)
    ), plan
    # one generator pass for both boundaries, not a double-scan union
    assert plan.count("Generate explode") == 1, plan
    assert "Union" not in plan, plan


def test_curriculum_prefix_is_explicit_topk(spark):
    """The curriculum head must be cut by a distributed top-k
    (TakeOrderedAndProject: bounded per-partition heaps) BEFORE the
    single-partition numbering window ever sees a row. Round 11 found
    the previous shape numbering EVERY document through one task: it
    relied on InferWindowGroupLimit to prune past-the-LIMIT rows, but
    that rule caps at windowGroupLimitThreshold (default 1000) <
    CURRICULUM_HEAD (2000), so it never fired. The explicit form is
    version-insensitive: no full global Sort+Exchange(range), and the
    window's input is the k-row merge by construction."""
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_q(spark, "pipeline_curriculum_order"))
    topk_at = plan.index("TakeOrderedAndProject")
    # the numbering window sits ABOVE the top-k (tree prints parent
    # first), so it consumes the bounded prefix, not the full table
    assert "Window" in plan[:topk_at], plan
    # and no full global range-sort ever materializes below the top-k
    assert "rangepartitioning" not in plan[topk_at:], plan


def test_repetition_metrics_scan_spread_shared(spark):
    """text_repetition_metrics must spread its per-doc CPU (bigram
    explode + array_distinct) off the corpus scan: the r11 cores
    screen measured the unspread form dead flat (5.73/5.58 s from
    local[4] to local[32]) while growing ~5.6x with data — both scan
    branches fused onto the single bench-local split. The plan must
    hash-exchange the documents scan on doc_id BELOW the explode
    (Generate), so the explode consumes spread rows."""
    from git_etl_spark.plans.audit import hash_exchanges, physical_plan

    df = _q(spark, "text_repetition_metrics")
    plan = physical_plan(df)
    on_doc = "Exchange hashpartitioning(doc_id,"
    assert any(e.startswith(on_doc) for e in hash_exchanges(df)), plan
    # tree prints parent-first: the spread exchange must appear below
    # (after) the Generate, between it and the scan
    below = hash_exchanges(df, below="Generate explode")
    assert any(e.startswith(on_doc) for e in below), plan


def test_keep_longest_is_partial_argmax_not_window(spark):
    """Keep-one-per-group must compile to a partial-aggregated argmax
    (partial_max_by below the group exchange), never a row_number
    window: lang x source is low-cardinality, so the window form's
    per-group sort is a handful of tasks each sorting a data-linear
    shard — the group-count-capped stage class the r11 screen
    eliminated."""
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_q(spark, "dedup_keep_longest_per_group"))
    assert "Window" not in plan, plan
    assert "partial_max_by" in plan, plan


def test_bloom_probe_is_expression_not_regroup(spark):
    """r15 optimization gate: the decontamination Bloom pre-probe must
    evaluate all k probes as one JVM forall over a broadcast one-row
    bitmap map. The r14 form exploded every training shingle into k
    probe ROWS, joined each against the bitmap table and re-grouped by
    (doc_id, g) — a shuffle of k x the probed shingle volume that the
    expression form removes outright (guide section 2.4). Gate on both
    halves: the one-row bitmap attaches via a broadcast nested-loop
    join, and no exchange is keyed on (doc_id, g)."""
    from git_etl_spark.plans.audit import hash_exchanges, physical_plan

    df = _q(spark, "pipeline_decontamination_bloom")
    plan = physical_plan(df)
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert not any(
        e.startswith("Exchange hashpartitioning(doc_id, g,") for e in hash_exchanges(df)
    ), plan


def test_ahash_candidates_single_decode_pass(spark):
    """r15 optimization gate: the aHash dup-candidate self-join must
    read ONE materialized (doc_id, ahash, pmd5) table — without the
    checkpoint each join side re-runs the entire decode->downsample
    mapInPandas pass (the heaviest pure-Python media loop) for 24
    bytes/row of output. The checkpoint hides the Python stage behind
    an RDD scan, so the gate is structural: no Python eval node and no
    parquet re-scan may remain in the join plan."""
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_q(spark, "multimodal_ahash_dup_candidates"))
    assert "MapInPandas" not in plan, plan
    assert "FileScan parquet" not in plan, plan


def test_triangle_oriented_materialized_once(spark):
    """r15 optimization gate: both sides of the wedge self-join must
    read the materialized oriented edge list, not re-run the
    edges-deg-deg ranking chain per side (6 SortMergeJoins -> 4)."""
    from git_etl_spark.plans.audit import physical_plan

    plan = physical_plan(_q(spark, "graph_triangle_top20"))
    assert plan.count("SortMergeJoin") <= 4, plan


def test_lss_round_one_exchange_per_phase(spark):
    """r16 optimization gate: one Large-Star/Small-Star round must plan
    exactly THREE distinct shuffle exchanges — the Large-Star phase
    repartition by a (reused by its dedup and window min), the
    Small-Star phase repartition by u (same reuse), and the round
    output's (a, b) dedup — and ZERO joins (the per-neighborhood min
    is a window over the phase partitioning, not the r15 groupBy +
    join-back that planned seven exchanges and three SortMergeJoins).
    Distinct = normalized by expression/plan ids: the Small-Star union
    textually duplicates the ls subtree, but its two exchanges are
    canonically identical (runtime exchange reuse), unlike the r15
    join form where per-consumer filter pushdown made them differ."""
    from git_etl_spark.operators.graph import _lss_round
    from git_etl_spark.plans.audit import hash_exchanges, physical_plan

    cur = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "a long, b long"
    ).localCheckpoint()
    lss = _lss_round(cur, 4)
    plan = physical_plan(lss)
    assert "Join" not in plan, plan
    distinct = set(hash_exchanges(lss))
    assert len(distinct) == 3, distinct


def test_lss_final_labels_sized_by_loop_parts(spark):
    """r16 optimization gate: the lazy final-labels tail must carry the
    loop's volume-derived partition count in its own plan (two explicit
    exchanges at that width), not materialize at the session default —
    it executes under the CALLER's action, outside the
    loop_shuffle_partitions scope (measured r16: 128 tasks over a
    KB-sized label table before the fix)."""
    from git_etl_spark.operators.graph import large_star_small_star
    from git_etl_spark.plans.audit import (
        count_shuffles,
        hash_exchanges,
        physical_plan,
    )

    edges = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "a long, b long")
    labels = large_star_small_star(spark, edges)
    # tiny graph -> loop parts = 1; both tail exchanges must say so
    plan = physical_plan(labels)
    assert count_shuffles(labels) == 2, plan
    on_v = [
        e for e in hash_exchanges(labels)
        if e.startswith("Exchange hashpartitioning(v,")
    ]
    assert len(on_v) == 2, plan
    assert "REPARTITION_BY_NUM" in plan, plan
