"""Physical-plan quality gates: the properties that make these queries viable
at 100 TB must hold structurally, not by luck. If a refactor turns a broadcast
join into a sort-merge join or un-pushes a filter, these tests fail before any
benchmark notices."""

from __future__ import annotations

import pytest

from log_analysis_system_spark.queries import QUERIES, load_all
from tests.conftest import SF_DIR, above_cache

load_all()


def plan_of(spark, name: str) -> str:
    # Gates are pinned against COLD plans; queries that .cache() intermediates
    # would otherwise render as InMemoryRelation subtrees once earlier tests
    # populated the CacheManager, making the assertions order-dependent.
    spark.catalog.clearCache()
    return QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_pushdown_and_pruning(spark):
    plan = plan_of(spark, "pricing_summary")
    # predicate reaches the parquet scan
    assert "l_shipdate" in plan.split("FileScan")[1]
    # column pruning: the scan must not read keys it doesn't need
    scan = plan.split("FileScan parquet ")[1].split("]")[0]
    assert "l_orderkey" not in scan and "l_partkey" not in scan
    # two-phase aggregation (map-side combine)
    assert "partial_sum" in plan


def test_area_top3_all_dims_broadcast(spark):
    plan = plan_of(spark, "area_top3")
    # snowflake: every dim join is broadcast-hash, never sort-merge
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan


def test_top10_category_is_take_ordered(spark):
    # Above the cached session base, whose window sort runs once per snapshot:
    # the global top-k must compile to TakeOrderedAndProject (heap), not a
    # full sort, and the category is read from the base, not parsed per call.
    plan = above_cache(plan_of(spark, "top10_category"))
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan
    assert "get_json_object" not in plan
    assert "get_json_object" not in above_cache(plan_of(spark, "top10_session_per_category"))


def test_session_filter_broadcasts_user_dim(spark):
    plan = plan_of(spark, "session_filter")
    assert "BroadcastHashJoin" in plan


def test_session_detail_uses_semi_join(spark):
    plan = plan_of(spark, "session_detail")
    assert "LeftSemi" in plan


def test_order_priority_semi_join(spark):
    plan = plan_of(spark, "order_priority_counts")
    assert "LeftSemi" in plan
    # orderdate predicate pushed to scan
    assert "o_orderdate" in plan.split("FileScan")[1]


def test_no_cartesian_products_anywhere(spark):
    """Cross joins are only legitimate where a tiny broadcast side is crossed
    deliberately (the ANN query set)."""
    from tests.conftest import gate_query_names

    allowed_cross = {"ann_brute_topk"}
    for name in gate_query_names():
        if name in allowed_cross:
            continue
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, f"{name} has a cartesian product"


def test_scans_are_columnar_batched(spark):
    """Vectorized parquet reader engaged (Batched: true) for fact scans."""
    for name in ["pricing_summary", "top10_category", "session_agg"]:
        plan = plan_of(spark, name)
        assert "Batched: true" in plan, f"{name} scan not vectorized"


def test_cube_single_shuffle_with_expand(spark):
    """CUBE = Expand + ONE hash-aggregate shuffle, never a union of passes."""
    import re

    plan = plan_of(spark, "cube_revenue")
    assert "Expand" in plan
    assert len(re.findall(r"\bExchange\b", plan)) == 1


def test_analytic_functions_one_exchange(spark):
    """All four windows share the o_custkey partitioning: exactly one shuffle."""
    import re

    plan = plan_of(spark, "analytic_functions")
    assert keyed_exchanges(plan) == 1
    assert "Window" in plan


def test_percentiles_one_exchange(spark):
    plan = plan_of(spark, "value_percentiles")
    assert keyed_exchanges(plan) == 1


def test_ann_ivf_broadcasts_centroids(spark):
    """Centroid assignment must broadcast the (tiny) centroid set, never
    shuffle the corpus against it."""
    plan = plan_of(spark, "ann_ivf_topk")
    assert "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_shipping_priority_take_ordered(spark):
    """Q3 shape: global top-10 compiles to TakeOrderedAndProject (no full
    sort) and the filtered customer side broadcasts."""
    plan = plan_of(spark, "shipping_priority")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan


def test_local_supplier_volume_broadcasts_dims(spark):
    """Q5 shape: every dim side broadcast; only lineitem⋈orders shuffles."""
    import re

    plan = plan_of(spark, "local_supplier_volume")
    assert plan.count("BroadcastHashJoin") >= 4
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_corpus_pipeline_anti_join_and_pruning(spark):
    plan = plan_of(spark, "corpus_pipeline")
    # near-dup drop set applied as an anti join, never a NOT IN subquery scan
    assert "LeftAnti" in plan
    # column pruning: documents has n_chars, which no pipeline stage uses —
    # it must not survive into any scan's ReadSchema
    for scan in plan.split("FileScan parquet ")[1:]:
        assert "n_chars" not in scan.split("]")[0]


def test_hypertable_rollup_partial_aggregates(spark):
    plan = plan_of(spark, "hypertable_rollup")
    # rollup + merge must both be two-phase hash aggregates (map-side combine)
    assert "partial_count" in plan or "partial_sum" in plan
    assert "HashAggregate" in plan
    assert "SortMergeJoin" not in plan  # merge is a union, not a join


def test_forecast_revenue_full_pushdown(spark):
    plan = plan_of(spark, "forecast_revenue")
    scan_part = plan.split("FileScan")[1]
    # all three predicates reach the parquet scan as pushed filters
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in scan_part, f"{col} not pushed to scan"
    # pruning: a 4-column read, never the whole table
    read_schema = scan_part.split("ReadSchema: ")[1].split("\n")[0]
    assert "l_orderkey" not in read_schema and "l_returnflag" not in read_schema
    assert "partial_sum" in plan


def test_big_orders_partial_agg_before_join(spark):
    plan = plan_of(spark, "big_orders")
    # the HAVING aggregate must combine map-side before shuffling lineitem
    assert "partial_sum" in plan
    # final ordering is a top-k, not a global sort
    assert "TakeOrderedAndProject" in plan


def test_text_normalize_no_shuffle(spark):
    plan = plan_of(spark, "text_normalize")
    assert "Exchange" not in plan, "normalization must stay a narrow map stage"


def test_grouping_sets_single_expand_shuffle(spark):
    plan = plan_of(spark, "grouping_sets_revenue")
    assert "Expand" in plan, "grouping sets must expand map-side, not union scans"
    # one scan of orders only — three grouping shapes share it
    assert plan.count("FileScan parquet") <= 3  # orders + customer + nation


def test_supplier_diversity_broadcast_anti_join(spark):
    plan = plan_of(spark, "supplier_diversity")
    assert "LeftAnti" in plan.replace(" ", "")
    assert "BroadcastHashJoin" in plan, "dim-sized exclusion list must broadcast"


def test_cheapest_supplier_argmin_is_hash_aggregate(spark):
    plan = plan_of(spark, "cheapest_supplier_per_part")
    # the packed-long argmin must hash-aggregate, never sort per group
    assert "HashAggregate" in plan and "partial_min" in plan
    assert "SortAggregate" not in plan
    assert "Window" not in plan


def test_important_parts_scalar_stays_in_plan(spark):
    plan = plan_of(spark, "important_parts")
    # global total = 1-row broadcast join, not a collected literal
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "partial_sum" in plan


def test_q19_disjunction_extraction_reaches_scans(spark):
    """Q19 shape: Catalyst must extract per-side implications of the
    OR-of-ANDs and push them into BOTH scans — the difference between a
    pruned scan and a full-table read at 100 TB."""
    plan = plan_of(spark, "disjunctive_revenue")
    part_scan = [s for s in plan.split("FileScan parquet") if "p_brand" in s]
    assert part_scan, "no pushed p_brand predicate on the part scan"
    li_scan = [s for s in plan.split("FileScan parquet") if "l_quantity" in s]
    assert li_scan, "no pushed l_quantity predicate on the lineitem scan"


def test_q10_returned_items_take_ordered(spark):
    plan = plan_of(spark, "returned_item_report")
    assert "TakeOrderedAndProject" in plan
    # returnflag predicate pushed to the lineitem scan
    assert "l_returnflag" in plan.split("FileScan")[1]


def test_q13_left_outer_preserved(spark):
    """The zero-order customers bucket exists only if the outer join
    survives optimization."""
    plan = plan_of(spark, "customer_order_distribution")
    assert "LeftOuter" in plan


def test_q21_semi_and_anti_joins(spark):
    plan = plan_of(spark, "blamed_suppliers")
    assert "LeftSemi" in plan, "EXISTS must decorrelate to a semi join"
    assert "LeftAnti" in plan, "NOT EXISTS must decorrelate to an anti join"
    assert "TakeOrderedAndProject" in plan


def test_q22_anti_join_and_pruned_orders_scan(spark):
    plan = plan_of(spark, "idle_customer_balance")
    assert "LeftAnti" in plan
    assert "o_orderdate" in plan.split("FileScan")[1] or any(
        "o_orderdate" in s for s in plan.split("FileScan parquet")[1:]
    )


def test_q15_max_join_is_broadcast(spark):
    """The 1-row max side must broadcast — a shuffle for one row is wrong."""
    plan = plan_of(spark, "top_revenue_supplier")
    assert "BroadcastHashJoin" in plan


def test_q7_nation_dims_broadcast(spark):
    plan = plan_of(spark, "nation_trade_volume")
    assert plan.count("BroadcastHashJoin") >= 2


def keyed_exchanges(plan: str) -> int:
    """Scale-relevant shuffle count: every Exchange except the guarded
    widen_scan RoundRobin rebalance (layout-local, absent at production
    partition counts — see sources.catalog.widen_scan)."""
    return plan.count("Exchange") - plan.count("RoundRobinPartitioning")


def test_gap_sessions_single_exchange(spark):
    """Both windows and the closing groupBy must ride ONE user_id exchange —
    sessionization is a single-shuffle op at any scale."""
    plan = plan_of(spark, "gap_sessions_events")
    assert keyed_exchanges(plan) == 1, plan


def test_user_state_intervals_single_exchange(spark):
    plan = plan_of(spark, "user_state_intervals")
    assert keyed_exchanges(plan) == 1, plan


def test_weighted_sample_is_take_ordered(spark):
    """Global weighted top-K must compile to a heap, not a total sort."""
    plan = plan_of(spark, "sample_weighted_docs")
    assert "TakeOrderedAndProject" in plan


def test_balanced_shards_no_single_partition_stage(spark):
    """The global rank must be the distributed range-partitioned form —
    never a row_number() window that funnels the corpus into one task."""
    plan = plan_of(spark, "balanced_shards")
    assert "Window" not in plan
    assert "SinglePartition" not in plan


def test_embedding_near_dup_is_distributed_lsh(spark):
    """The near-dup production path must be the banded-LSH equi-join form:
    no cartesian product, no driver-collected blocks, no row-at-a-time
    Python. Round-11: the plane projections run through the Arrow int64
    matmul kernel (the round-10 centroid-assignment shape), so
    ArrowEvalPython is the REQUIRED signature stage — BatchEvalPython
    (pickled row loop) stays banned, and the candidate join must still
    be the banded equi-join."""
    plan = plan_of(spark, "embedding_near_dup")
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
    assert "ArrowEvalPython" in plan
    assert "ExistingRDD" not in plan


def test_no_row_at_a_time_python_udfs_anywhere(spark):
    """Row-at-a-time Python UDFs (BatchEvalPython) are banned in every
    registered query: Python in the hot path is Arrow-vectorized
    (ArrowEvalPython / MapInPandas) or absent. multimodal + the exact
    near-dup kernel legitimately run mapInPandas; nothing may regress to
    per-row pickling."""
    from tests.conftest import gate_query_names

    for name in gate_query_names():
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, f"{name} uses a row-wise Python UDF"


def test_runtime_bloom_filter_injects_on_selective_join(spark):
    """With runtime bloom filters on, a selective dim-side predicate plants
    a bloom_filter_agg on the build side and a might_contain probe on the
    fact scan — semi-join reduction before the shuffle, the Spark-native
    replacement for hand-built bloom pre-filters at 100 TB."""
    from pyspark.sql import functions as SF

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").where(
            SF.col("o_orderpriority") == "1-URGENT"
        )
        j = (
            li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_semantic_dedup_pair_join_keys_on_cluster(spark):
    """The SemDeDup pair search must be an equi-join on cluster_id (the
    quadratic term bounded by cluster size), never a cartesian/global pair
    blowup, and centroid assignment must broadcast the centroid side."""
    plan = plan_of(spark, "semantic_dedup_keep")
    assert "CartesianProduct" not in plan
    assert "cluster_id" in plan
    # Round-10: centroid assignment is the Arrow int64-matmul projection
    # (one pass per batch against the collected K-row model), replacing
    # the K-row centroid crossJoin (BroadcastNestedLoopJoin) + argmax
    # window — same assignments, no per-row K-way fanout.
    assert "ArrowEvalPython" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_incremental_dedup_signatures_zero_shuffle(spark):
    """Delta screening: signatures are a row-wise projection (no explode->
    groupBy shuffle for minhash) and no cartesian product anywhere — the
    candidate join is a band-key equi-join."""
    plan = plan_of(spark, "incremental_dedup_delta")
    assert "CartesianProduct" not in plan
    # the minhash signature path must NOT aggregate over exploded shingles
    assert "partial_min" not in plan.lower()
    assert "band_key" in plan


def test_mixture_schedule_heap_cut_no_bare_source_window(spark):
    """The schedule cut must be a TakeOrderedAndProject heap (never a global
    sort), and no window may key on the bare source column (one task per
    source at scale) — ranks come from the grouped_prefix_sum slice path."""
    import re

    plan = plan_of(spark, "mixture_schedule")
    assert "TakeOrderedAndProject" in plan
    for w in re.findall(r"Window \[[^\n]*\], \[([^\]]*)\]", plan):
        assert "source" not in w or "slice" in w or "__pid" in w, w


# Queries whose physical plans legitimately contain an ORDER-only Window:
# each window runs over a structurally BOUNDED frame (a calendar/domain
# histogram, a top-k cut, a monthly series), never the fact table, so a
# single-task window is O(bounded) at any corpus scale. Several use
# partitionBy(lit(...)) in source, which Catalyst constant-folds away —
# the executed plan cannot distinguish them from truly-bare windows, so
# the justification lives here and in each query's docstring.
BOUNDED_FRAME_WINDOWS = {
    "bm25_rank": "rank over the already-cut global_topn result (10 rows)",
    "conformal_forecast_interval": "lag/rank/count windows over the "
    "per-MONTH Holt series and its residual table (calendar-bounded; "
    "orders collapse to months first)",
    "cusum_change_point": "prefix sum over the per-DAY series "
    "(calendar-bounded; raw scan collapses first)",
    "forecast_backtest_mase": "rolling-origin lags/prefix means over the "
    "per-DAY revenue series (calendar-bounded; raw scan collapses first)",
    "holt_forecast_revenue": "recurrence over the per-MONTH revenue series",
    # burst_detection_days left the list when the round-10 mid-build
    # refactor c8acbb6 moved Viterbi scoring into the shared batch/stream
    # applyInPandas body (no window at all now).
    "holt_winters_daily": "day-index row_number over the per-DAY series "
    "(calendar-bounded; events collapse to the daily aggregate first — "
    "the round-10 single-fold rewrite re-inlined the _HW_IDX_SQL index "
    "CTE that 576ddf9 had materialized behind a checkpoint)",
    "key_skew_profile": "cumulative window over the counts-of-counts "
    "histogram (O(distinct per-key counts))",
    "ks_drift": "CDF prefix over the bounded value-grid histogram "
    "(~500 buckets)",
    "pareto_price_size_frontier": "prefix min over the per-SIZE table "
    "(bounded categorical domain, ~50 rows)",
    "point_in_time_features": "market cumsum over the per-DAY rollup "
    "(calendar-bounded; raw scan collapses first)",
    "repeat_purchase_cadence": "percentile cut over the day-gap histogram "
    "(calendar-bounded)",
    "seasonal_decompose_daily": "centered 7-day moving average over the "
    "densified per-DAY series (calendar-bounded; raw scan collapses first)",
    "sprt_conversion_monitor": "LLR prefix sum over the per-DAY "
    "(successes, trials) table (calendar-bounded; raw scan collapses "
    "first)",
    "xmr_control_chart": "moving-range lag over the densified per-DAY "
    "series (calendar-bounded; raw scan collapses first)",
    "zipf_law_fit": "rank over the already-cut top-512 term table (the "
    "TakeOrdered heap runs BEFORE the window — bm25_rank's argument)",
    "survival_churn_hazard": "risk-set and cumulative-hazard prefix sums "
    "over the duration HISTOGRAM (O(distinct gap lengths in days), "
    "calendar-bounded; the custkey-partitioned lead collapses first)",
    "unimax_mixture_allocation": "waterfilling prefix over the per-SOURCE "
    "cap table (source-cardinality, a bounded categorical dimension)",
    "rbo_rank_agreement": "row_number over the already-cut top-20 ranking "
    "tables (the TakeOrdered heap runs BEFORE the window — bm25_rank's "
    "argument)",
}


def _window_partition_specs(plan: str) -> list[tuple[str, str | None]]:
    """Parse every Window node of an executed plan into
    (full_line, partition_spec_or_None). The node prints
    ``Window [exprs], [partitionSpec], [orderSpec]`` — an order-only
    window drops the middle group, and a sort-order marker (ASC/DESC)
    distinguishes an order spec from a partition-only spec."""
    import re

    out = []
    for line in plan.splitlines():
        m = re.search(r"\bWindow (\[.*)$", line)
        if not m:
            continue
        groups, depth, cur = [], 0, ""
        for ch in m.group(1):
            if ch == "[":
                depth += 1
            if depth > 0:
                cur += ch
            if ch == "]":
                depth -= 1
                if depth == 0:
                    groups.append(cur)
                    cur = ""
        if len(groups) >= 3:  # exprs, partition, order
            out.append((line.strip(), groups[1]))
        elif len(groups) == 2 and not re.search(
            r"\b(ASC|DESC)\b", groups[1]
        ):  # exprs + partition-only (no orderBy)
            out.append((line.strip(), groups[1]))
        else:  # order-only: no partition key at all
            out.append((line.strip(), None))
    return out


def test_no_bare_global_windows_registry_wide(spark):
    """EVERY registry query's executed plan must be free of order-only
    (unpartitioned) Window nodes — the single-task funnel that killed
    score_correlation's first draft — unless the query is explicitly
    allowlisted in BOUNDED_FRAME_WINDOWS with the bounded-frame reason.
    New queries with a bare window fail here until they either use
    operators.sampling.global_rank / grouped_prefix_sum or document why
    the window's input frame is size-bounded."""
    from tests.conftest import gate_query_names

    offenders = {}
    for name in gate_query_names():
        if name in BOUNDED_FRAME_WINDOWS:
            continue
        plan = plan_of(spark, name)
        bare = [ln for ln, part in _window_partition_specs(plan) if part is None]
        if bare:
            offenders[name] = bare[0][:120]
    assert not offenders, (
        f"order-only global Window in production plans (use global_rank / "
        f"grouped_prefix_sum, or justify in BOUNDED_FRAME_WINDOWS): "
        f"{offenders}"
    )


def _stratified_plans(spark):
    """Executed plans of both R1 paths, with each path's stratum: the
    registry's ``stratified_sample`` and job 1's session extraction."""
    from log_analysis_system_spark.params import TaskParams
    from log_analysis_system_spark.queries.reference_jobs import session_analyze
    from log_analysis_system_spark.sources.mockdata import mock_user_visit_data

    dfs = mock_user_visit_data(spark, n_users=10, sessions_per_user=2)
    spark.catalog.clearCache()
    extract = session_analyze(
        dfs["user_visit_action"], dfs["user_info"], TaskParams()
    )["session_random_extract"]
    plans = {
        "stratified_sample": (above_cache(plan_of(spark, "stratified_sample")), "[date_key, hour_key]"),
        "session_random_extract": (
            extract._jdf.queryExecution().executedPlan().toString(),
            "[date, hour_key]",
        ),
    }
    spark.catalog.clearCache()
    return plans


def test_stratified_rank_ships_a_partial_top_k(spark):
    """R1 on both paths ranks as a per-stratum top-k: the one window keyed
    on the bare (day, hour) stratum is fed by an exchange whose map side is
    a ``WindowGroupLimit … Partial``, so each map task ships at most
    ``per_parent`` rows per stratum. Any other window (the day total of the
    quotas) reads the stratum-count aggregate, never data rows. The registry
    path is read above the session base it scans."""
    import re

    for name, (plan, stratum) in _stratified_plans(spark).items():
        lines = [re.sub(r"#\d+L?", "", line) for line in plan.splitlines()]
        windows = [
            (i, part) for i, line in enumerate(lines) for _, part in _window_partition_specs(line)
        ]
        rank = [i for i, part in windows if part == stratum]
        assert len(rank) == 1, (name, windows)
        below = lines[rank[0] + 1 :]
        k = next(j for j, line in enumerate(below) if "Exchange" in line)
        assert f"hashpartitioning({stratum[1:-1]}," in below[k], (name, below[k])
        assert "WindowGroupLimit" in below[k + 1] and below[k + 1].endswith("Partial"), (
            name,
            below[k + 1],
        )
        for i, part in windows:
            if i in rank:
                continue
            below = lines[i + 1 :]
            k = next(j for j, line in enumerate(below) if "Exchange" in line)
            assert "HashAggregate" in below[k + 1], (name, part, below[k + 1])


def test_bounded_frame_window_allowlist_is_current(spark):
    """The allowlist must not rot: every allowlisted query still exists and
    still has the order-only window it is excused for (drop stale rows)."""
    for name, why in BOUNDED_FRAME_WINDOWS.items():
        assert name in QUERIES, f"allowlisted query {name} no longer exists"
        plan = plan_of(spark, name)
        bare = [ln for ln, part in _window_partition_specs(plan) if part is None]
        assert bare, (
            f"{name} no longer has an order-only window — remove it from "
            f"BOUNDED_FRAME_WINDOWS ({why})"
        )


def test_chunk_documents_zero_shuffle(spark):
    """Chunking is a pure projection + explode: no Exchange anywhere."""
    plan = plan_of(spark, "chunk_documents")
    assert "Exchange" not in plan


def test_countmin_sketch_single_hash_aggregate(spark):
    """The sketch build must be a two-phase hash aggregate over the fixed
    D x W key space (map-side combinable partials), never a sort
    aggregate, and the tiny sketch side must broadcast into the probe."""
    plan = plan_of(spark, "countmin_terms")
    assert "HashAggregate" in plan and "partial_count" in plan
    assert "SortAggregate" not in plan
    assert "BroadcastHashJoin" in plan


def test_winnow_gram_hashes_materialized(spark):
    """The gram-hash array must come from the cache barrier
    (InMemoryTableScan), not be re-inlined into the window-min lambda —
    the O(n^2)-md5-per-doc regression the round-3 fix removed."""
    plan = plan_of(spark, "winnow_overlap")
    assert "InMemoryTableScan" in plan or "InMemoryRelation" in plan
    assert "CartesianProduct" not in plan


def test_bm25_no_explode_single_agg(spark):
    """BM25's per-doc term frequencies must stay an array-filter projection
    — no Generate (explode) node fanning corpus rows out — and corpus stats
    must come back as a broadcast, never a shuffle join."""
    plan = plan_of(spark, "bm25_rank")
    assert "Generate" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_decayed_popularity_heap_and_fold(spark):
    """Top-k must be the per-partition heap and the decay weight must fold
    into the scan-side projection (no join against a date table)."""
    plan = plan_of(spark, "decayed_popularity")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("FileScan") == 1


def test_sequence_patterns_single_sequence_build(spark):
    """All patterns must evaluate over ONE sequence build — the per-user
    fold appears once (one scan; branch reuse may duplicate the agg
    textually but never adds scans per pattern)."""
    plan = plan_of(spark, "sequence_pattern_match")
    from log_analysis_system_spark.queries.behavior import SEQ_PATTERNS

    # one scan per union branch at most, NOT patterns x extra scans
    assert plan.count("FileScan") <= len(SEQ_PATTERNS)
    assert "CartesianProduct" not in plan


def test_hashed_features_one_exchange(spark):
    """The vectorizer is explode + ONE hash aggregate: a second exchange
    would mean the bucket/sign projection stopped being map-side."""
    plan = plan_of(spark, "hashed_features")
    assert plan.count("Exchange") == 1
    assert "partial_sum" in plan


def test_ts_similarity_no_pairwise_shuffle(spark):
    """The corpus side must meet the broadcast query set in a nested-loop
    or hash broadcast — never a shuffle-partitioned pairwise join."""
    plan = plan_of(spark, "ts_similarity_topk")
    assert "SortMergeJoin" not in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_multimodal_decode_zero_shuffle_pruned_scan(spark):
    """Payload build + real decode must be one shuffle-free projection
    chain over a 2-column pruned scan (doc_id, text)."""
    plan = plan_of(spark, "multimodal_decode")
    assert "Exchange" not in plan
    scan = plan.split("FileScan parquet ")[1].split("]")[0]
    assert "doc_id" in scan and "text" in scan
    assert "source" not in scan and "n_chars" not in scan


def test_exact_substring_spans_no_cartesian_anchor_join(spark):
    """Candidates must come from the anchor-hash equi-join; the run
    merge windows on (doc_a, doc_b, diag)."""
    plan = plan_of(spark, "exact_substring_spans")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_bigram_lm_no_sort_merge_join(spark):
    """The LM tables broadcast back onto the bigram stream — the corpus
    is never sort-merge-joined against itself."""
    plan = plan_of(spark, "bigram_lm_perplexity")
    assert "SortMergeJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 2


def test_bot_regularity_single_user_exchange(spark):
    """One user-keyed exchange serves both the lag window and the stats
    aggregate (the agg reuses the window's partitioning)."""
    plan = plan_of(spark, "bot_regularity_score")
    assert keyed_exchanges(plan) <= 1
