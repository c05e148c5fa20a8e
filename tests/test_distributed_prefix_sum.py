"""distributed_prefix_sum — the two-level range-partitioned exact
cumulative sum (the running-total twin of distributed_ntile).

Two gates, mirroring tests/test_distributed_ntile.py:

* SEMANTICS — bit-identical to ``SUM(c) OVER (ORDER BY ... ROWS
  UNBOUNDED PRECEDING)`` + ``row_number()`` on non-null data for any
  number of sum columns; NULLs count as 0 (the operator's documented
  coalesce contract).
* PLAN SHAPE — the exchange is a RANGE partitioning, the operator plan
  contains no single-partition window, and the data really flows
  through >1 partition. ``corpus_heaps_fit`` (the one suite query
  whose cumulative pass previously rode a global window) is pinned to
  the same shape.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F

from wicsmmiretl_spark.operators.sampling import distributed_prefix_sum


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _df(spark, n_rows=997, parts=7, with_nulls=False):
    rng = random.Random(31)
    rows = [
        (
            i,
            None if with_nulls and rng.random() < 0.2 else rng.randint(-5, 50),
            rng.randint(0, 9),
        )
        for i in range(n_rows)
    ]
    return spark.createDataFrame(rows, "id long, a bigint, b int").repartition(parts)


class TestSemantics:
    def test_matches_global_window_exactly(self, spark):
        df = _df(spark)
        got = {
            r["id"]: (r["a_cum"], r["b_cum"], r["rk"])
            for r in distributed_prefix_sum(
                df, ["id"], ["a", "b"], rank_col="rk"
            ).collect()
        }
        w = Window.orderBy("id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        exp = {
            r["id"]: (r["a_cum"], r["b_cum"], r["rk"])
            for r in df.select(
                "id",
                F.sum("a").over(w).alias("a_cum"),
                F.sum("b").over(w).alias("b_cum"),
                F.row_number().over(Window.orderBy("id")).cast("long").alias("rk"),
            ).collect()
        }
        assert got == exp

    def test_nulls_count_as_zero(self, spark):
        df = _df(spark, n_rows=200, with_nulls=True)
        got = {
            r["id"]: r["a_cum"]
            for r in distributed_prefix_sum(df, ["id"], ["a"]).collect()
        }
        w = Window.orderBy("id").rowsBetween(
            Window.unboundedPreceding, Window.currentRow
        )
        exp = {
            r["id"]: r["c"]
            for r in df.select(
                "id",
                F.sum(F.coalesce(F.col("a"), F.lit(0))).over(w).alias("c"),
            ).collect()
        }
        assert got == exp
        assert all(v is not None for v in got.values())

    def test_empty_input(self, spark):
        e = spark.createDataFrame([], "id long, a bigint")
        out = distributed_prefix_sum(e, ["id"], ["a"], rank_col="rk")
        assert out.count() == 0
        assert out.columns == ["id", "a", "a_cum", "rk"]

    def test_output_types(self, spark):
        out = distributed_prefix_sum(_df(spark, 50), ["id"], ["a", "b"], rank_col="rk")
        dt = dict(out.dtypes)
        assert dt["a_cum"] == "bigint"
        assert dt["b_cum"] == "bigint"
        assert dt["rk"] == "bigint"

    def test_validates(self, spark):
        df = _df(spark, n_rows=5)
        with pytest.raises(ValueError, match="order_cols"):
            distributed_prefix_sum(df, [], ["a"])
        with pytest.raises(ValueError, match="need sum_cols and/or rank_col"):
            distributed_prefix_sum(df, ["id"], [])
        with pytest.raises(ValueError, match="overlap"):
            distributed_prefix_sum(df, ["id"], ["a"], group_cols=["id"])
        with pytest.raises(ValueError, match="not in"):
            distributed_prefix_sum(df, ["id"], ["nope"])
        with pytest.raises(ValueError, match="already in input"):
            distributed_prefix_sum(df, ["id"], ["a"], rank_col="b")
        dbl = df.withColumn("d", F.col("a").cast("double"))
        with pytest.raises(ValueError, match="integral"):
            distributed_prefix_sum(dbl, ["id"], ["d"])
        with pytest.raises(ValueError, match="_pid"):
            distributed_prefix_sum(df.withColumn("_pid", F.lit(0)), ["id"], ["a"])

    def test_group_cardinality_cap_raises_loudly(self, spark, monkeypatch):
        """The LOW-cardinality group contract is enforced, not just
        documented: past the (partition, group) cell cap the operator
        raises a descriptive error naming the plain grouped window as the
        right plan, instead of bottlenecking the driver with the collect."""
        import wicsmmiretl_spark.operators.sampling as s

        monkeypatch.setattr(s, "_PREFIX_SUM_MAX_CELLS", 3)
        df = spark.createDataFrame(
            [(i, f"g{i}", 1) for i in range(16)], "id long, g string, a int"
        )
        with pytest.raises(ValueError, match="high-cardinality"):
            distributed_prefix_sum(df, ["id"], ["a"], group_cols=["g"])


class TestGrouped:
    def _gdf(self, spark, n_rows=800, parts=7):
        # One hot group ("big", ~70% of rows), a few small ones, and a
        # NULL group — the skew shape the grouped form exists for.
        rng = random.Random(7)
        rows = []
        for i in range(n_rows):
            r = rng.random()
            g = "big" if r < 0.7 else (None if r < 0.75 else f"s{rng.randint(0, 3)}")
            rows.append((i, g, rng.randint(0, 40)))
        return spark.createDataFrame(
            rows, "id long, g string, a int"
        ).repartition(parts)

    def test_matches_grouped_window_exactly(self, spark):
        df = self._gdf(spark)
        got = {
            r["id"]: (r["a_cum"], r["rk"])
            for r in distributed_prefix_sum(
                df, ["id"], ["a"], rank_col="rk", group_cols=["g"]
            ).collect()
        }
        w = Window.partitionBy("g").orderBy("id")
        exp = {
            r["id"]: (r["a_cum"], r["rk"])
            for r in df.select(
                "id",
                F.sum("a")
                .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
                .alias("a_cum"),
                F.row_number().over(w).cast("long").alias("rk"),
            ).collect()
        }
        assert got == exp

    def test_rank_only_mode(self, spark):
        df = self._gdf(spark, n_rows=200)
        out = distributed_prefix_sum(
            df, ["id"], [], rank_col="rk", group_cols=["g"]
        )
        assert out.columns == ["id", "g", "a", "rk"]
        w = Window.partitionBy("g").orderBy("id")
        exp = {
            r["id"]: r["rk"]
            for r in df.select(
                "id", F.row_number().over(w).cast("long").alias("rk")
            ).collect()
        }
        got = {r["id"]: r["rk"] for r in out.collect()}
        assert got == exp

    def test_hot_group_spans_partitions(self, spark):
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        try:
            out = distributed_prefix_sum(
                self._gdf(spark, n_rows=4000), ["id"], ["a"], group_cols=["g"]
            )
            n_parts = (
                out.filter(F.col("g") == "big")
                .select(F.spark_partition_id().alias("p"))
                .distinct()
                .count()
            )
        finally:
            spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
        assert n_parts > 1, "hot group serialized into one partition"


class TestPlanShape:
    def test_whole_operator_has_no_single_partition_window(self, spark):
        out = distributed_prefix_sum(_df(spark, n_rows=4000), ["id"], ["a"])
        plan = _plan(out)
        assert "SinglePartition" not in plan, plan

    def test_data_flows_through_multiple_partitions(self, spark):
        # AQE legitimately coalesces a KB-scale exchange to one
        # partition; pin it off to observe the scale-path behavior.
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
        try:
            out = distributed_prefix_sum(_df(spark, n_rows=4000), ["id"], ["a"])
            n_parts = out.select(F.spark_partition_id().alias("p")).distinct().count()
        finally:
            spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
        assert n_parts > 1, "cumulative exchange collapsed to one partition"

    def test_corpus_heaps_fit_rides_the_range_exchange(self, spark, sf_dir):
        from wicsmmiretl_spark.suite import QUERIES

        plan = _plan(QUERIES["corpus_heaps_fit"](spark, sf_dir))
        # The operator's lazy checkpoint truncates lineage (the range
        # exchange itself is pinned by the operator-level tests above on
        # the pre-checkpoint stage builder), so the suite-plan gate is on
        # the windows: every surviving window must be partitioned by the
        # operator's _pid — no global-order single-task window anywhere.
        # (The final one-row fit/totals aggregation legitimately
        # collapses to a single partition; windows are the gated thing.)
        win_lines = [
            line for line in plan.splitlines() if "windowspecdefinition" in line
        ]
        assert win_lines, f"expected the partition-local cumulative window\n{plan}"
        for line in win_lines:
            assert "_pid" in line, f"un-partitioned window survives:\n{line}"

    def test_event_type_ks_report_rides_the_range_exchange(self, spark, sf_dir):
        # grouped_ks_report's per-group grid cumulative previously rode a
        # PARTITION BY group window — one task per group over value-grain
        # rows, worst exactly in the drift regime (few groups, many
        # values). Gate: every surviving window is either _pid-partitioned
        # (the prefix-sum machinery) or the per-VALUE fold of the global
        # cumulative (partition key "_v" — high-cardinality, exactly |G|
        # rows per partition; the CORRECT window regime). What must never
        # appear is a window partitioned by the GROUP ("_g").
        from wicsmmiretl_spark.suite import QUERIES

        plan = _plan(QUERIES["event_type_ks_report"](spark, sf_dir))
        win_lines = [
            line for line in plan.splitlines() if "windowspecdefinition" in line
        ]
        assert win_lines, f"expected partition-local cumulative windows\n{plan}"
        for line in win_lines:
            assert "_pid" in line or "_v#" in line, (
                f"un-partitioned window survives:\n{line}"
            )
            assert "windowspecdefinition(_g#" not in line, (
                f"hot-group window survives:\n{line}"
            )

    def test_pack_assign_rides_the_range_exchange(self, spark, sf_dir):
        # pack_sequences' per-bucket running total previously rode a
        # PARTITION BY bucket window — num_buckets tasks however big the
        # cluster. Same gate as corpus_heaps_fit: every surviving window
        # must be partitioned by the operator's _pid.
        from wicsmmiretl_spark.suite import QUERIES

        plan = _plan(QUERIES["pack_assign"](spark, sf_dir))
        win_lines = [
            line for line in plan.splitlines() if "windowspecdefinition" in line
        ]
        assert win_lines, f"expected the partition-local cumulative window\n{plan}"
        for line in win_lines:
            assert "_pid" in line, f"un-partitioned window survives:\n{line}"


# ---------------------------------------------------------------------------
# The ordered-prefix family: one range stage, one offsets collect, one
# delivery choice (pid-indexed literal, or a broadcast join past
# ``_OFFSETS_ARRAY_MAX`` cells).
# ---------------------------------------------------------------------------


def _family_case(spark, name):
    """A small input per entry point of the family, run through it."""
    from wicsmmiretl_spark.operators.aggregates import _ordered_cumsums
    from wicsmmiretl_spark.operators.sampling import distributed_ntile, stable_index
    from wicsmmiretl_spark.operators.skyline import skyline_2d

    rng = random.Random(11)
    rows = [
        (i, rng.randint(0, 60), rng.randint(-5, 50), (None, "a", "b")[i % 3])
        for i in range(300)
    ]
    df = spark.createDataFrame(rows, "id long, v int, a bigint, g string")
    levels = df.groupBy("v").agg(
        F.count("*").alias("n"), F.sum("a").alias("s")
    )
    return {
        "stable_index": lambda: stable_index(df, ["v", "id"]),
        "distributed_ntile": lambda: distributed_ntile(df, ["v", "id"], 7),
        "prefix_sum": lambda: distributed_prefix_sum(
            df, ["id"], ["a", "v"], rank_col="rk"
        ),
        "prefix_sum_grouped": lambda: distributed_prefix_sum(
            df, ["v", "id"], ["a"], rank_col="rk", group_cols=["g"]
        ),
        "ordered_cumsums_asc": lambda: _ordered_cumsums(
            levels, "v", {"n": "cn", "s": "cs"}
        ),
        "ordered_cumsums_desc": lambda: _ordered_cumsums(
            levels, "v", {"n": "cn", "s": "cs"}, descending=True
        ),
        "skyline_2d": lambda: skyline_2d(df, "v", "a"),
    }[name]()


_FAMILY = [
    "stable_index",
    "distributed_ntile",
    "prefix_sum",
    "prefix_sum_grouped",
    "ordered_cumsums_asc",
    "ordered_cumsums_desc",
    "skyline_2d",
]


@pytest.mark.parametrize("name", _FAMILY)
def test_offsets_fallback_matches_literal(spark, monkeypatch, name):
    """Past ``_OFFSETS_ARRAY_MAX`` cells the offsets reach the rows by a
    broadcast join instead of the pid-indexed literal; both deliveries
    give the same rows, every value compared exactly. Partition
    coalescing is off so the range stage keeps several partitions."""
    import wicsmmiretl_spark.operators.sampling as s

    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        literal = _family_case(spark, name)
        assert "Join" not in _plan(literal), _plan(literal)
        want = sorted(literal.collect())
        monkeypatch.setattr(s, "_OFFSETS_ARRAY_MAX", 1)
        joined = _family_case(spark, name)
        assert "BroadcastHashJoin" in _plan(joined), _plan(joined)
        got = sorted(joined.collect())
    finally:
        spark.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    assert joined.columns == literal.columns
    assert got == want


# Build + noop-write jobs per entry point on the inputs above (8 shuffle
# partitions): the range stage, the offsets collect and the output (the
# grouped form's cell cap rides its bounded collect; the level and skyline
# forms add their upstream aggregates).
_FAMILY_JOBS = {
    "stable_index": 6,
    "distributed_ntile": 6,
    "prefix_sum": 6,
    "prefix_sum_grouped": 6,
    "ordered_cumsums_asc": 7,
    "ordered_cumsums_desc": 7,
    "skyline_2d": 10,
}


@pytest.mark.parametrize("name", _FAMILY)
def test_offsets_family_job_count(spark, jobs_and_plans, name):
    """Each entry point's shape, pinned by its job count: a second offsets
    collect, a guard job or a join adds one. AQE can race an exchange
    reuse, so a miss is re-measured twice, as in
    ``test_loop_operator_job_count``."""

    def run():
        _family_case(spark, name).write.format("noop").mode("overwrite").save()

    counts = []
    while len(counts) < 3 and _FAMILY_JOBS[name] not in counts:
        counts.append(jobs_and_plans(run)[0])
    assert _FAMILY_JOBS[name] in counts, counts
