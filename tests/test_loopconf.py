"""Contract tests for the loop-scoped conf guard (operators/loopconf.py).

The r14 optimization pins a bytes-derived shuffle width around the
iterative operators' internal materializations (AQE itself stays on — the
measured outcome); these tests pin the restore semantics the graph loops
rely on — a guard that leaked its conf would silently re-width every later
query in the session.
"""

from __future__ import annotations

import pytest

from wicsmmiretl_spark.operators.loopconf import (
    fits_broadcast,
    loop_materialization_conf,
    loop_partitions,
    loop_scoped,
    scoped_conf,
    set_loop_shuffle_partitions,
)

AQE = "spark.sql.adaptive.enabled"
PARTS = "spark.sql.shuffle.partitions"


def test_scoped_conf_sets_and_restores(spark):
    before = spark.conf.get(AQE)
    with scoped_conf(spark, **{AQE: "false"}):
        assert spark.conf.get(AQE) == "false"
    assert spark.conf.get(AQE) == before


def test_scoped_conf_restores_on_exception(spark):
    before = spark.conf.get(PARTS)
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, **{PARTS: "3"}):
            assert spark.conf.get(PARTS) == "3"
            raise RuntimeError("boom")
    assert spark.conf.get(PARTS) == before


def test_loop_materialization_conf_keeps_aqe_and_restores_width(spark):
    """Default mode: AQE untouched (the measured r14 outcome), loop
    width pinnable without a paired restore."""
    parts_before = spark.conf.get(PARTS)
    with loop_materialization_conf(spark):
        assert spark.conf.get(AQE) == "true"
        set_loop_shuffle_partitions(spark, 2)
        assert spark.conf.get(PARTS) == "2"
    assert spark.conf.get(AQE) == "true"
    assert spark.conf.get(PARTS) == parts_before


def test_loop_scoped_wraps_dataframe_arg(spark):
    seen = {}

    @loop_scoped
    def op(df):
        set_loop_shuffle_partitions(df.sparkSession, 3)
        seen["parts"] = df.sparkSession.conf.get(PARTS)
        return df

    before = spark.conf.get(PARTS)
    op(spark.range(4))
    assert seen["parts"] == "3"
    assert spark.conf.get(PARTS) == before


def test_loop_scoped_noop_without_dataframe():
    @loop_scoped
    def op(x):
        return x + 1

    assert op(41) == 42


def test_loop_partitions_bytes_sizing():
    session = 32
    # Tiny loops get the parallelism floor min(session, 8), not width 1.
    assert loop_partitions(10_000, 32, session) == 8
    # The floor respects a smaller session width.
    assert loop_partitions(10_000, 32, 4) == 4
    # ~64 MB per partition once the bytes term dominates: 1e9 rows x 32 B
    # = 32 GB -> 512 partitions, capped at the session width.
    assert loop_partitions(1_000_000_000, 32, session) == session
    # Uncapped growth between floor and cap.
    assert loop_partitions(40_000_000, 32, 64) == 20  # 1.28 GB / 64 MB
    assert loop_partitions(0, 32, session) == 1


def test_fits_broadcast_reads_the_session_threshold(spark):
    """rows x row bytes against spark.sql.autoBroadcastJoinThreshold, in
    any of its spellings; -1 disables broadcasting for every size."""
    key = "spark.sql.autoBroadcastJoinThreshold"
    with scoped_conf(spark, **{key: "1024"}):
        assert fits_broadcast(spark, 32, 32)
        assert not fits_broadcast(spark, 33, 32)
        assert fits_broadcast(spark, 32)  # row bytes default to an edge row
    with scoped_conf(spark, **{key: "1MB"}):
        assert fits_broadcast(spark, 1 << 15, 32)
        assert not fits_broadcast(spark, (1 << 15) + 1, 32)
    with scoped_conf(spark, **{key: "-1"}):
        assert not fits_broadcast(spark, 0, 32)
        assert not fits_broadcast(spark, 1, 32)


def test_loop_scoped_operator_result_unchanged(spark):
    """connected_components under the guard: same labels as a plain run
    (the guard only changes HOW the loop materializes, never the output),
    and the session conf comes back untouched."""
    from wicsmmiretl_spark.operators.graph import connected_components

    parts_before = spark.conf.get(PARTS)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], ["id_a", "id_b"]
    )
    out = {
        (r["id"], r["cluster_id"])
        for r in connected_components(pairs).collect()
    }
    comp123 = min(1, 2, 3)
    assert out == {
        (1, comp123), (2, comp123), (3, comp123),
        (10, 10), (11, 10), (20, 20),
    }
    assert spark.conf.get(AQE) == "true"
    assert spark.conf.get(PARTS) == parts_before
