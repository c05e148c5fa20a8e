"""Plan-shape regression gates for the session-4 operators: the scale
claims their docstrings make must be visible in the physical plan, not
just asserted in prose. Value-correctness lives in the oracle gate and
the brute-force tests; THESE tests fail when a refactor silently turns a
map-only plan into a shuffle or a banded join into a cartesian."""

from __future__ import annotations

from pyspark.sql import functions as F

from wicsmmiretl_spark.operators.dedup import containment_pairs, duplicated_span_stats
from wicsmmiretl_spark.operators.similarity import random_projection
from wicsmmiretl_spark.operators.skyline import skyline_2d


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_random_projection_is_map_only(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = _plan(random_projection(emb, "vec_id", "embedding", 64, 8))
    # The whole point of literal sign matrices: zero Exchange nodes.
    assert "Exchange" not in plan, plan
    assert "CartesianProduct" not in plan


def _window_nodes(node):
    """Every ``Window`` node of a physical plan tree (JVM ``SparkPlan``)."""
    if node.nodeName() == "Window":
        yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _window_nodes(kids.apply(i))


def test_skyline_no_cartesian_and_broadcast_offsets(spark, sf_dir):
    p = spark.read.parquet(f"{sf_dir}/part.parquet").select(
        F.col("p_size").alias("x"),
        F.round(F.col("p_retailprice") * 100).cast("bigint").alias("y"),
    )
    out = skyline_2d(p, "x", "y")
    plan = _plan(out)
    # The prefix bests reach the rows without a join of any kind, and the
    # sweep's running best is a partition-local window: a Window with no
    # partition spec is the one-task global funnel. The per-x min_by pick
    # sits behind the operator's lazy checkpoint (Scan ExistingRDD), so
    # its partial-agg shape is pinned by the candidate-stage assertion
    # below instead.
    assert "CartesianProduct" not in plan, plan
    assert "Join" not in plan, plan
    windows = list(_window_nodes(out._jdf.queryExecution().sparkPlan()))
    assert windows, plan
    assert all(not w.partitionSpec().isEmpty() for w in windows), plan
    cand_plan = _plan(
        p.groupBy("x").agg(F.min_by(F.struct("y"), F.col("y")).alias("_b"))
    )
    assert "partial_min_by" in cand_plan, cand_plan
    assert "windowspecdefinition" not in cand_plan, cand_plan


def test_containment_join_is_keyed_not_cartesian(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(containment_pairs(docs, "doc_id", "text", k=3, threshold=0.5))
    # Candidates must come from the shingle equi-join, never an all-pairs.
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dup_spans_no_cartesian(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    plan = _plan(duplicated_span_stats(docs, "doc_id", "text", k=4))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan
