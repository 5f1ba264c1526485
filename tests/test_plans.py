"""Physical-plan assertions: the plan shapes that matter at 100 TB.

These mirror the reference's pushdown guarantees (SURVEY.md §4): filters
and projection reach the parquet scan, small dimensions broadcast,
aggregation is partial+final, top-k avoids a global sort. A correctness-
passing query with the wrong plan would still fail at scale — these tests
pin the plans.
"""

from __future__ import annotations

import pytest

from carbondata_spark.queries import registry


def plan_of(spark, sf_dir, name: str) -> str:
    df = registry()[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().executedPlan().toString()


def test_q06_filters_pushed_to_scan(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q06_revenue_forecast")
    assert "PushedFilters" in plan
    # shipdate range must reach the parquet reader (plan string truncates
    # long filter lists, so match the prefix)
    assert "GreaterThanOrEqual(l_shipda" in plan


def test_q06_column_pruning(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q06_revenue_forecast")
    read = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read, plan
    # only the 4 referenced columns are read, not all 11
    schema_line = read[0]
    assert "l_returnflag" not in schema_line
    assert "l_extendedprice" in schema_line


def test_q05_broadcast_hints_only_bounded_dims(spark, sf_dir):
    """Only nation/region (bounded cardinality) carry broadcast HINTS;
    customer/supplier joins are left to AQE — a forced broadcast of a
    table that grows with the fact table OOMs at 100× scale."""
    df = registry()["q05_local_supplier_volume"].fn(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 2  # nation + region only


def test_cosine_pairs_no_cartesian(spark, sf_dir):
    """The bucketed cosine_pairs must plan as equi-joins on bucket ids —
    never a per-row cartesian/BNLJ (the naive all-pairs scale-killer)."""
    from carbondata_spark.catalog import load_table
    from carbondata_spark.operators.similarity import cosine_pairs

    import re

    emb = load_table(spark, sf_dir, "embeddings")
    plan = cosine_pairs(emb, 0.4)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # the corpus-corpus join must be an equi join keyed on bucket ids
    # (BNLJ nodes remain only where one side is the ≤k-row centroid set —
    # broadcast-the-tiny-side, the correct plan at any scale)
    assert re.search(r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[c[ab]#", plan), plan


def test_tfidf_no_forced_vocab_broadcast(spark, sf_dir):
    """No VOCABULARY-sized subtree may carry a broadcast hint: a 100-TB
    corpus vocabulary cannot fit a broadcast. The tf-idf plan has no
    dfreq side at all; its ONLY hint is the deliberate broadcast of the
    one-row n_docs count aggregate — pin exactly that, so a future edit
    hinting a data-scale side trips this."""
    df = registry()["p_text_tfidf"].fn(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    lines = analyzed.splitlines()
    hints = [i for i, ln in enumerate(lines) if "ResolvedHint" in ln]
    assert len(hints) == 1, analyzed
    assert "n_docs" in lines[hints[0] + 1], analyzed  # the 1-row count


def test_q01_partial_final_aggregation(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q01_pricing_summary")
    assert "partial_sum" in plan  # map-side combine before the shuffle
    assert plan.count("HashAggregate") >= 2


def test_topk_uses_take_ordered(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_topk_orders")
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT n


def test_count_star_uses_footer_aggregate(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_count_star")
    # count(*) reads ZERO columns — the scan is row-group metadata only
    # (the V1 parquet reader serves counts from footers; V2
    # PushedAggregation would print explicitly)
    assert "ReadSchema: struct<>" in plan


def test_whole_stage_codegen_everywhere(spark, sf_dir):
    for name in ["q01_pricing_summary", "q03_shipping_priority", "q_having"]:
        df = registry()[name].fn(spark, sf_dir)
        df.collect()  # AQE finalizes the plan on execution
        plan = df._jdf.queryExecution().executedPlan().toString()
        # '*(n)' prefixes mark whole-stage-codegen spans in the tree form
        assert "*(" in plan, name


def test_semi_join_stays_semi(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "q_join_semi")
    assert "LeftSemi" in plan


def test_fact_store_scan_pushdown(spark, sf_dir):
    """Headline OLAP now reads facts through the CarbonStore segment
    union; Catalyst must push filters and column pruning through the
    Union into EVERY per-segment parquet scan — otherwise the store
    routing would trade correctness coverage for plan quality."""
    plan = plan_of(spark, sf_dir, "q06_revenue_forecast")
    # same-schema segments collapse into ONE multi-path FileScan (store.py
    # table(): spark.read.parquet(*paths)) — a single scan node, not a
    # Union — and the filter/pruning must reach it
    assert "PushedFilters" in plan and "l_shipda" in plan
    scan_line = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "l_comment" not in scan_line and "l_orderkey" not in scan_line
    # the two incremental segments are compacted post-load (reference
    # MERGE remedy, fact_store.py): the scan must read ONLY the valid
    # compacted segment, never the stale pre-compaction ones
    df = registry()["q06_revenue_forecast"].fn(spark, sf_dir)
    files = df.inputFiles()
    assert files and all("Segment_2" in f for f in files), files[:3]


def test_store_load_clusters_on_sort_columns(spark, tmp_path, sf_dir):
    """Loads must produce parquet row groups clustered on sort columns so
    min/max stats prune like the reference's blocklet B-tree."""
    import pyarrow.parquet as pq
    import glob
    from carbondata_spark.catalog import load_table
    from carbondata_spark.store import CarbonStore

    store = CarbonStore(spark, str(tmp_path / "store"))
    li = load_table(spark, sf_dir, "lineitem").limit(50000)
    store.create_table("li", li.schema, sort_columns=["l_shipdate"])
    store.load("li", li, partitions=8)
    files = glob.glob(str(tmp_path / "store/li/Fact/Part0/Segment_0/*.parquet"))
    assert len(files) >= 8
    # range-partitioned + sorted: per-file [min,max] shipdate windows are
    # near-disjoint -> a date-range filter prunes most files
    ranges = []
    for f in files:
        md = pq.ParquetFile(f).metadata
        idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
        st = md.row_group(0).column(idx["l_shipdate"]).statistics
        ranges.append((st.min, st.max))
    ranges.sort()
    overlaps = sum(
        1 for (a, b) in zip(ranges, ranges[1:]) if a[1] > b[0]
    )
    assert overlaps <= len(ranges) // 2, f"files not range-clustered: {ranges}"


def test_zorder_scan_pushdown(spark, sf_dir):
    """The z-ordered store table is still a plain parquet scan to
    Catalyst: the trailing-column filter must be pushed into the scan
    (the clustering then makes the pushed range actually skip row
    groups) and unreferenced columns pruned."""
    plan = plan_of(spark, sf_dir, "q_store_zorder")
    assert "PushedFilters" in plan and "l_partkey" in plan
    scan_line = next(ln for ln in plan.splitlines() if "FileScan parquet" in ln)
    assert "l_comment" not in scan_line and "l_orderkey" not in scan_line


def test_hash_sample_zero_shuffle(spark, sf_dir):
    """hash_sample is a pure map-side filter: no Exchange anywhere —
    the property that makes it free at 100 TB."""
    plan = plan_of(spark, sf_dir, "p_sample_hash")
    assert "Exchange" not in plan


def test_keep_best_dedup_no_window(spark, sf_dir):
    """Survivor selection is a max_by hash aggregate (map-side combine),
    not a row_number window (full shuffle + sort of every duplicate)."""
    plan = plan_of(spark, sf_dir, "p_dedup_keep_best")
    assert "Window" not in plan
    # struct-valued max_by buffers force SortAggregate, but the partial
    # (map-side) phase is what matters: each task reduces to one candidate
    # per content hash BEFORE the shuffle — the window formulation would
    # shuffle every duplicate row.
    assert "partial_max_by" in plan


def test_vocab_topk_take_ordered(spark, sf_dir):
    """Top-k vocabulary must not globally sort the vocabulary."""
    plan = plan_of(spark, sf_dir, "p_text_vocab")
    assert "TakeOrderedAndProject" in plan


def test_token_budget_mix_no_window_cumsum(spark, sf_dir):
    """Domain mixing is rate-based: no per-domain window cumsum (which
    would funnel each domain through a single task at any scale)."""
    plan = plan_of(spark, sf_dir, "p_mix_token_budget")
    assert "Window" not in plan


def test_doc_chunk_zero_shuffle(spark, sf_dir):
    """Chunking is per-row explode — no Exchange at any scale."""
    plan = plan_of(spark, sf_dir, "p_doc_chunk")
    assert "Exchange" not in plan


def test_repetition_zero_shuffle(spark, sf_dir):
    plan = plan_of(spark, sf_dir, "p_text_repetition")
    assert "Exchange" not in plan


def test_decontaminate_no_cartesian(spark, sf_dir):
    """The shingle-overlap join must be a hash/sort-merge equi-join on the
    shingle string, never a nested-loop over doc pairs."""
    plan = plan_of(spark, sf_dir, "p_decontaminate")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_tfidf_corpus_exploded_once(spark, sf_dir):
    """Exploding and aggregating the corpus twice (once for tf, once for
    dfreq) costs 11%; the tf-idf plan has no second consumer of tf — the
    optimized plan must contain exactly ONE explode Generate and no
    persist read-back (nothing left to share)."""
    # a neighbor test's persisted frame with an IDENTICAL logical
    # subtree would be cache-substituted into this plan (InMemoryRelation
    # by plan equality) — clear so the pin sees the operator's own shape
    spark.catalog.clearCache()
    df = registry()["p_text_tfidf"].fn(spark, sf_dir)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert optimized.count("Generate explode") == 1, optimized
    df.collect()  # AQE finalizes plan on execution
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan


def test_new_pipeline_queries_plan_shapes(spark, sf_dir):
    """Plan pins for three pipeline queries: no cartesian anywhere, the
    packing query runs exactly one Window (the per-shard cumsum), and the
    funnel is pure aggregation (no join, no window)."""
    for name in ["q_retention_cohorts", "p_text_unigram_nll", "q_funnel"]:
        df = registry()[name].fn(spark, sf_dir)
        df.collect()
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan, name
    pack = registry()["p_pack_sequences"].fn(spark, sf_dir)
    pack.collect()
    pplan = pack._jdf.queryExecution().executedPlan().toString()
    # AQE prints the node in both the initial and final plan sections, so
    # count DISTINCT window specs, not occurrences
    specs = {ln.strip() for ln in pplan.splitlines() if "Window [" in ln}
    assert len(specs) == 1, specs
    fun = registry()["q_funnel"].fn(spark, sf_dir)
    fun.collect()
    fplan = fun._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in fplan and "Window" not in fplan


def test_filter_in_pushes_include_and_exclude(spark, sf_dir):
    """The merged q_filter_in must push BOTH the include list and the
    exclude list to the parquet reader (reference Include/Exclude
    FilterExecuterImpl parity) — a residual-only NOT IN would decode
    every admitted row at 100 TB."""
    plan = plan_of(spark, sf_dir, "q_filter_in")
    pushed = next(ln for ln in plan.splitlines() if "PushedFilters" in ln)
    assert "In(c_mktsegment" in pushed
    assert "Not(In(c_mktsegment" in pushed


def test_set_ops_no_cartesian_and_tagged_branches(spark, sf_dir):
    """q_set_ops: intersect/except plan as joins or aggregates — never a
    cartesian — and the UNION ALL branch concatenates without a dedup
    exchange of its own (its rows flow straight from the scans)."""
    df = registry()["q_set_ops"].fn(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Union" in plan


# Scale-invariant join-shape pins for the heavy TPC-H block: the join
# FAMILY (broadcast vs shuffle) is AQE's size-based call and legitimately
# differs between sf0.01 and sf0.1, but the SHAPE must never degrade —
# no cartesian product anywhere; BroadcastNestedLoopJoin only as q22's
# 1-row scalar-threshold join (the broadcast-scalar idiom); exists/in
# subqueries stay (anti-)semi joins; q21's fact-fact self-join stays an
# equi-join keyed on l_orderkey.
HEAVY_TPCH_SHAPES = {
    "q02_min_cost_supplier": {"bnlj": 0, "needs": []},
    "q04_order_priority": {"bnlj": 0, "needs": ["LeftSemi"]},
    "q09_product_type_profit": {"bnlj": 0, "needs": []},
    "q11_value_concentration": {"bnlj": 0, "needs": []},
    "q13_order_distribution": {"bnlj": 0, "needs": ["LeftOuter"]},
    "q15_top_supplier": {"bnlj": 0, "needs": []},
    "q17_small_quantity": {"bnlj": 0, "needs": []},
    "q18_large_orders": {"bnlj": 0, "needs": ["LeftSemi"]},
    "q20_excess_suppliers": {"bnlj": 0, "needs": ["LeftSemi"]},
    "q21_late_suppliers": {"bnlj": 0, "needs": []},
    "q22_acctbal_gap": {"bnlj": 1, "needs": ["LeftAnti"]},
    "q_correlated_exists": {"bnlj": 0, "needs": ["LeftSemi"]},
}


@pytest.mark.parametrize("name", sorted(HEAVY_TPCH_SHAPES))
def test_heavy_tpch_join_shapes(spark, sf_dir, name):
    spec = HEAVY_TPCH_SHAPES[name]
    plan = plan_of(spark, sf_dir, name)
    assert "CartesianProduct" not in plan, name
    assert plan.count("BroadcastNestedLoopJoin") == spec["bnlj"], plan
    for marker in spec["needs"]:
        assert marker in plan, f"{name}: expected a {marker} join"


def test_q21_self_join_is_equi_keyed_on_orderkey(spark, sf_dir):
    """The lineitem-lineitem self-joins (other-supplier exists / no-other
    -on-time anti) must be equi-joins on l_orderkey — any join family is
    fine (AQE picks by size), a theta/nested-loop form is not."""
    import re

    plan = plan_of(spark, sf_dir, "q21_late_suppliers")
    assert re.search(
        r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin) \[l_orderkey", plan
    ), plan


def test_partition_pruned_query_is_directory_pruned(spark, sf_dir):
    """q_store_partition_pruned's filter must reach PartitionFilters
    (directory-level pruning at planning time — Spark lists only the
    matching hive directories), not DataFilters (row-level, after
    reading). Composes with the 2-segment union: every per-segment scan
    carries the partition filter."""
    import re

    plan = plan_of(spark, sf_dir, "q_store_partition_pruned")
    assert re.search(r"PartitionFilters: \[[^\]]*\(o_orderstatus[^\]]*= F\)", plan), plan
    assert "DataFilters: []" in plan


def test_agg_rollup_routing_reads_summary_not_fact(spark, sf_dir):
    """q_agg_rollup_routing must be served from the materialized rollup's
    TWO partial summary segments (incremental refresh), never the fact
    table — equal results would hide a routing regression from the
    driver's hash, so the serving table is pinned here."""
    from carbondata_spark.queries import registry

    df = registry()["q_agg_rollup_routing"].fn(spark, sf_dir)
    files = df.inputFiles()
    assert files and all("orders_fact_agg_by_prio" in f for f in files), files[:3]
    segs = {f.split("/Segment_")[1].split("/")[0] for f in files}
    assert segs == {"0", "1"}, segs


def test_q02_part_filter_prunes_lineitem_before_agg(spark, sf_dir):
    """Q2's scale plan: the part size/type filter reaches the part scan,
    the surviving keys broadcast-prune lineitem BEFORE the (partkey,
    suppkey) min aggregate, and the whole query needs only two hash
    exchanges (supply agg + per-part window) — aggregating the unpruned
    fact table first would shuffle every lineitem row at 100 TB."""
    plan = plan_of(spark, sf_dir, "q02_min_cost_supplier")
    # filters pushed to the part scan (the printed filter list truncates,
    # so match the size-range prefix like the q06 pin does)
    assert "GreaterThanOrEqual(p_size,10)" in plan
    assert "LessThanOrEqual(p_size,20)" in plan
    assert plan.count("Exchange hashpartitioning") == 2, plan
    assert "TakeOrderedAndProject" in plan  # top-100 without a global sort
    # the fact-side agg consumes the broadcast-pruned join, not a raw
    # scan: in the top-down tree print, a BroadcastHashJoin must sit
    # BETWEEN the partial_min aggregate and the lineitem scan it feeds
    agg_pos = plan.index("partial_min")
    li_pos = plan.index("lineitem.parquet")
    assert agg_pos < li_pos
    assert "BroadcastHashJoin" in plan[agg_pos:li_pos], plan[agg_pos:li_pos]


def test_q09_filtered_part_broadcast_and_pushdown(spark, sf_dir):
    """Q9's scale plan: the p_name LIKE filter is pushed into the part
    scan and only the two bounded inputs (filtered part, nation) carry
    broadcast hints — supplier/orders join strategy stays AQE's size-based
    call; a forced broadcast of either would OOM at 100x scale."""
    from carbondata_spark.queries import registry

    df = registry()["q09_product_type_profit"].fn(spark, sf_dir)
    analyzed = df._jdf.queryExecution().analyzed().toString()
    assert analyzed.count("ResolvedHint") == 2  # part + nation only
    plan = plan_of(spark, sf_dir, "q09_product_type_profit")
    assert "StringContains(p_name,bolt)" in plan  # LIKE pushed to scan
    assert "partial_sum" in plan  # map-side combine under the final agg
