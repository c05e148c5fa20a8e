"""Plan-shape regression gates for the session-5 operators (same contract
as test_plan_shapes_session4: the docstrings' scale claims must be visible
in the physical plan)."""

from __future__ import annotations

from wicsmmiretl_spark.operators.graph import butterfly_stats
from wicsmmiretl_spark.operators.layout import zonemap_pruning_report


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_butterfly_wedge_join_is_keyed_not_cartesian(spark):
    edges = [(i % 7, (i * 3) % 5) for i in range(40)]
    plan = _plan(butterfly_stats(spark.createDataFrame(edges, ["l", "r"]), "l", "r"))
    # Wedges come from the centre-keyed equi self-join, never an all-pairs.
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_zonemap_report_is_one_aggregate_over_two_zone_maps(spark):
    rows = [(a, b, a * 16 + b) for a in range(16) for b in range(16)]
    df = zonemap_pruning_report(
        spark.createDataFrame(rows, ["a", "b", "tb"]),
        cols=["a", "b"],
        n_files=8,
        predicates=[("a_band", {"a": (2, 5)}), ("b_band", {"b": (2, 5)})],
        tiebreak=["tb"],
    )
    plan = _plan(df)
    nodes = [line.lstrip(" :+-") for line in plan.splitlines()]
    # One exact-ntile layout sort per strategy (distributed_ntile's local
    # sort within its range partitions), each feeding one zone map.
    assert sum(n.startswith("Sort [_pid") for n in nodes) == 2, plan
    zone_maps = [n for n in nodes if n.startswith("HashAggregate(keys=[_file") and "partial_" not in n]
    assert len(zone_maps) == 2, plan
    # Every (strategy, predicate) report cell comes from ONE aggregate over
    # a single Union of the two zone maps, not a 12-way union of per-pair
    # aggregates.
    unions = [i for i, n in enumerate(nodes) if n.startswith("Union")]
    assert len(unions) == 1, plan
    assert nodes[unions[0] - 1].startswith("HashAggregate(keys=[strategy"), plan
    report = [n for n in nodes if n.startswith("HashAggregate(keys=[strategy") and "partial_" not in n]
    assert len(report) == 1, plan
