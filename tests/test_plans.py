"""Physical-plan shape regression tests: the scale properties the engine
promises (broadcast dim joins, scan-level pushdown, map-side partial
aggregation, top-k instead of global sort) must survive refactors.

These assert on .explain() output, not timings — stable under CI noise.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wicsmmiretl_spark.suite import QUERIES

SF = "/root/testdata/sf0.001"


def _plan(spark, name: str) -> str:
    return QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()


def test_dim_joins_broadcast_not_sortmerge(spark):
    plan = _plan(spark, "nation_trade_volume")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_range_filter_pushed_to_scan(spark):
    plan = _plan(spark, "range_filter_chain")
    assert "PushedFilters: [" in plan
    # at least one real pushed predicate, not an empty list
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "GreaterThan" in pushed or "LessThan" in pushed or "IsNotNull" in pushed


def test_vocab_uses_partial_agg_and_topk(spark):
    plan = _plan(spark, "vocab_top100")
    assert "partial_count" in plan  # map-side combine before the shuffle
    assert "TakeOrderedAndProject" in plan  # top-k, no global sort
    assert plan.count("Exchange") == 1  # exactly one shuffle


def test_map_only_query_has_no_shuffle(spark):
    # sf0.001 documents is below the repartition gate: pure scan→project→done
    plan = _plan(spark, "token_counts")
    assert "Exchange" not in plan


def test_range_join_is_broadcast_nested_loop(spark):
    plan = _plan(spark, "events_value_bands")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_semi_and_anti_joins_stay_semi_anti(spark):
    semi = _plan(spark, "customers_with_orders_semi")
    anti = _plan(spark, "nations_without_suppliers")
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_whole_stage_codegen_covers_relational_core(spark):
    # AQE prints codegen spans only once the plan is finalized → execute first
    df = QUERIES["pricing_summary"](spark, SF)
    df.collect()  # finalize the AQE plan on THIS QueryExecution
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("codegen")
    explained = df._jdf.queryExecution().explainString(mode)
    assert "WholeStageCodegen subtrees" in explained
    assert not explained.startswith("Found 0")


def test_column_pruned_scan_reads_narrow_schema(spark):
    plan = _plan(spark, "pricing_summary")
    scan = [ln for ln in plan.splitlines() if "FileScan parquet" in ln][0]
    # lineitem has 16 columns; the summary needs 7
    assert "l_orderkey" not in scan or scan.count("l_") <= 8


def test_argmin_window_uses_partial_group_limit(spark):
    """cheapest_supplier_per_part: the rn=1 filter must lower to a
    WindowGroupLimit BEFORE the exchange (map-side top-1 per part), so the
    shuffle carries ~one row per part per task instead of all of lineitem;
    both dims broadcast."""
    plan = _plan(spark, "cheapest_supplier_per_part")
    assert "WindowGroupLimit" in plan
    pre_exchange = plan.split("Exchange hashpartitioning", 1)[1]
    assert "WindowGroupLimit" in pre_exchange  # the Partial one, below the shuffle
    assert "SortMergeJoin" not in plan


def test_cube_expands_once_single_shuffle(spark):
    """CUBE computes all four grouping sets in one pass: a single Expand
    node and a single aggregate exchange — not one scan per grouping set."""
    plan = _plan(spark, "lineitem_flag_status_cube")
    assert plan.count("Expand") == 1
    assert "partial_count" in plan
    assert plan.count("FileScan") == 1


def test_fenced_filter_keeps_tokenizer_out_of_scan_filter(spark):
    """etl_caption_pipeline: the num_tok range filter must NOT be
    substituted below the enrichment projection — the interpreted tokenizer
    HOF would run once per conjunct in the scan-side filter plus again in
    the projection. The Generate fence (apply_filters_fenced) pins the
    filter above; the raw n_chars bounds still push to the scan."""
    plan = _plan(spark, "etl_caption_pipeline")
    # no Filter condition may contain the tokenizer split; it belongs in
    # exactly one Project
    for block in plan.split("+-"):
        if "Filter" in block.split("\n")[0]:
            assert "split(" not in block
    assert "Generate explode" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "n_chars" in pushed


def test_merge_keeps_full_outer_single_join(spark):
    plan = _plan(spark, "customer_merge_upsert")
    assert "FullOuter" in plan
    assert plan.count("Join") <= plan.count("FullOuter") + 2  # no extra join blow-up


def test_bucketed_tables_join_without_exchange(spark, tmp_path_factory):
    """Bucketing is the co-located-join lever at 100 TB: two tables bucketed
    by the join key on the same bucket count must sort-merge-join with NO
    shuffle exchange on either side."""
    from wicsmmiretl_spark.catalog import load_table

    c = load_table(spark, "customer", SF).select("c_custkey", "c_name", "c_acctbal")
    o = load_table(spark, "orders", SF).select("o_custkey", "o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS bkt_customer")
    spark.sql("DROP TABLE IF EXISTS bkt_orders")
    (c.write.mode("overwrite").bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable("bkt_customer"))
    (o.write.mode("overwrite").bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable("bkt_orders"))
    try:
        prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            joined = spark.table("bkt_customer").join(
                spark.table("bkt_orders"),
                F.col("c_custkey") == F.col("o_custkey"),
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan
            assert "Exchange" not in plan  # bucket layout satisfies both sides
            assert joined.count() > 0
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    finally:
        spark.sql("DROP TABLE IF EXISTS bkt_customer")
        spark.sql("DROP TABLE IF EXISTS bkt_orders")


def test_ivf_trained_plan_broadcasts_and_no_cartesian(spark):
    """Trained-IVF ANN: centroid assignment must be a broadcast join (the
    k x dim centroid table is tiny) and nothing in the plan may fall back
    to an unpartitioned CartesianProduct — the probe join stays
    cell-partitioned."""
    from wicsmmiretl_spark.catalog import load_table
    from wicsmmiretl_spark.operators.similarity import ivf_topk

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    df = ivf_topk(emb, k=5, label_col=None, nprobe=2, train_k=4, train_iters=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "Broadcast" in plan


def test_no_cartesian_or_row_python_in_any_suite_query(suite_builds):
    """Suite-wide physical-plan guard: NO registered query may compile to an
    unpartitioned CartesianProduct (the un-shuffleable all-pairs shape) or a
    row-at-a-time Python UDF (BatchEvalPython — Python in the hot path
    belongs in Arrow-batched mapInPandas only). Broadcast nested-loop joins
    are allowed: a broadcast-tiny side is the designed shape for non-equi
    conditions. Runs every suite query's planning at sf0.001 (streaming
    queries execute their availableNow pass; training queries run their
    Lloyd jobs) so a new query with a regressed plan fails here before it
    ever reaches the driver."""
    bad = {}
    for name, (_schema, plan) in suite_builds.items():
        hits = [m for m in ("CartesianProduct", "BatchEvalPython") if m in plan]
        if hits:
            bad[name] = hits
    assert not bad, bad


def test_pq_plan_broadcasts_lut_and_no_cartesian(spark):
    """PQ ADC: code assignment and LUT scoring must both be broadcast hash
    joins (codebook is m x k rows, LUT is |q| x m x k) — the candidate-side
    codes table must never shuffle against them, and no stage may fall back
    to CartesianProduct."""
    from wicsmmiretl_spark.catalog import load_table
    from wicsmmiretl_spark.operators.similarity import pq_topk

    emb = load_table(spark, "embeddings", "/root/testdata/sf0.001")
    df = pq_topk(emb, k=5, dim=64, m=4, train_k=4, iters=1)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan

# NB: no executedPlan pin for the graph loops — they localCheckpoint per
# round, so the returned DataFrame's plan is just a scan of the materialized
# RDD. Their shape is pinned as contract counts instead: jobs per loop
# operator (tests/test_graph.py::test_loop_operator_job_count) and jobs per
# added message round (tests/test_graph.py::test_power_iteration_round_jobs);
# their results by local replays and the fixpoint certification.
