"""Relational operators: filters (strict bounds), joins (as-of vs naive
oracle), sampling determinism, set ops, aggregation invariants."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wicsmmiretl_spark.catalog import load_table
from wicsmmiretl_spark.operators.aggregates import approx_stats, column_stats
from wicsmmiretl_spark.operators.filters import (
    RangeFilter,
    apply_filters,
    apply_filters_fenced,
    clamp_max,
    filters_from_config,
)
from wicsmmiretl_spark.operators.joins import asof_join, attach, drop_failures, keep_successes
from wicsmmiretl_spark.operators.sampling import (
    deterministic_sample,
    deterministic_shuffle,
    top_k,
    train_test_split,
)
from wicsmmiretl_spark.operators.sets import union_checked, union_tagged


def test_range_filter_strict_bounds(spark):
    df = spark.range(0, 10).toDF("x")
    out = apply_filters(df, [RangeFilter("x", 2, 7)])
    assert sorted(r.x for r in out.collect()) == [3, 4, 5, 6]  # both-exclusive


def test_range_filter_defaults(spark):
    # min=-1 default keeps 0; max=sys.maxsize default keeps everything above
    df = spark.range(0, 5).toDF("x")
    out = apply_filters(df, filters_from_config([{"column": "x"}]))
    assert out.count() == 5


def test_filter_drops_nulls(spark):
    df = spark.createDataFrame([(1,), (None,), (5,)], "x int")
    out = apply_filters(df, [RangeFilter("x", 0, 10)])
    assert sorted(r.x for r in out.collect()) == [1, 5]


def test_filter_chain_subset_invariant(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir)
    out = apply_filters(li, [RangeFilter("l_quantity", 10, 40), RangeFilter("l_discount", 0.01, 0.09)])
    assert out.count() <= li.count()
    mm = out.agg(F.min("l_quantity"), F.max("l_quantity")).first()
    assert mm[0] > 10 and mm[1] < 40


def test_fenced_filter_same_rows_as_plain(spark):
    # identical semantics to apply_filters (strict bounds, null-drop),
    # different plan placement; output columns unchanged (_fence dropped)
    df = spark.createDataFrame([(1, 9), (None, 5), (4, 2), (8, 7)], "x int, y int")
    flt = [RangeFilter("x", 0, 8), RangeFilter("y", 1, 9)]
    plain = apply_filters(df, flt)
    fenced = apply_filters_fenced(df, flt)
    assert fenced.columns == df.columns
    assert sorted(map(tuple, fenced.collect())) == sorted(map(tuple, plain.collect()))


def test_fenced_filter_missing_column_raises(spark):
    df = spark.range(3).toDF("x")
    with pytest.raises(ValueError, match="nope"):
        apply_filters_fenced(df, [RangeFilter("nope", 0, 1)])


def test_clamp_max(spark):
    df = spark.createDataFrame([(0.5,), (1.5,), (None,)], "r double")
    vals = [r.r for r in clamp_max(df, "r", 1.0).collect()]
    assert sorted(v for v in vals if v is not None) == [0.5, 1.0]
    assert None in vals


def test_semi_anti_partition(spark, sf_dir):
    c = load_table(spark, "customer", sf_dir)
    o = load_table(spark, "orders", sf_dir).select(F.col("o_custkey").alias("c_custkey"))
    with_o = keep_successes(c, o, "c_custkey")
    without_o = drop_failures(c, o, "c_custkey")
    assert with_o.count() + without_o.count() == c.count()


def test_attach_left_join(spark):
    base = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    res = spark.createDataFrame([(1, "ok")], "id int, status string")
    out = attach(base, res, "id", broadcast_results=True).collect()
    by_id = {r.id: r.status for r in out}
    assert by_id == {1: "ok", 2: None}


def test_asof_join_matches_naive(spark, sf_dir):
    e = load_table(spark, "events", sf_dir)
    left = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts").limit(200)
    right = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    got = {
        r.event_id: r.value
        for r in asof_join(left, right, on="ts", by="user_id", right_cols=["value"]).collect()
    }
    # naive oracle: max-ts purchase <= click ts per user, via join + window
    j = left.alias("l").join(right.alias("r"), (F.col("l.user_id") == F.col("r.user_id")) & (F.col("r.ts") <= F.col("l.ts")), "left")
    from pyspark.sql import Window

    w = Window.partitionBy("l.event_id").orderBy(F.col("r.ts").desc_nulls_last())
    naive = (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("l.event_id").alias("event_id"), F.col("r.value").alias("value"))
    )
    want = {r.event_id: r.value for r in naive.collect()}
    assert got == want


def test_deterministic_sample_stable(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    a = [r.doc_id for r in deterministic_sample(docs, 20, ["doc_id"], seed=7).collect()]
    b = [r.doc_id for r in deterministic_sample(docs.repartition(13), 20, ["doc_id"], seed=7).collect()]
    assert a == b  # stable under repartitioning
    c = [r.doc_id for r in deterministic_sample(docs, 20, ["doc_id"], seed=8).collect()]
    assert a != c  # seed-sensitive


def test_shuffle_is_permutation(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    out = deterministic_shuffle(docs, ["doc_id"], seed=3)
    assert sorted(r.doc_id for r in out.collect()) == sorted(r.doc_id for r in docs.collect())


def test_train_test_split(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    train, test = train_test_split(docs, 0.25, ["doc_id"], seed=42)
    n, tr, te = docs.count(), train.count(), test.count()
    assert tr + te == n
    assert 0.1 < te / n < 0.4
    # key-stability: same row never in both
    assert train.join(test, "doc_id", "inner").count() == 0


def test_top_k(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    out = [r.n_chars for r in top_k(docs, "n_chars", 5).collect()]
    assert out == sorted((r.n_chars for r in docs.collect()), reverse=True)[:5]


def test_union_tagged(spark):
    a = spark.createDataFrame([(1,)], "x int")
    b = spark.createDataFrame([(2,)], "x int")
    out = union_tagged({"a": a, "b": b}, "src").collect()
    assert sorted((r.src, r.x) for r in out) == [("a", 1), ("b", 2)]


def test_union_checked_rejects_dupes(spark):
    a = spark.createDataFrame([(1,)], "x int")
    with pytest.raises(ValueError):
        union_checked(a, a, key="x")


def test_column_stats_and_approx(spark, sf_dir):
    docs = load_table(spark, "documents", sf_dir)
    row = column_stats(docs, ["n_chars"]).first()
    assert row["min_n_chars"] <= row["median_n_chars"] <= row["max_n_chars"]
    assert row["min_n_chars"] <= row["mean_n_chars"] <= row["max_n_chars"]
    arow = approx_stats(docs, ["n_chars"]).first()
    assert arow["approx_distinct_n_chars"] > 0


def test_hash_split_deterministic_and_stable(spark, sf_dir):
    """Split assignment is a pure key function: repartition-invariant and
    row-stable under corpus growth."""
    from wicsmmiretl_spark.catalog import load_table
    from wicsmmiretl_spark.operators.sampling import hash_split

    docs = load_table(spark, "documents", sf_dir)
    a = {r.doc_id: r.split for r in hash_split(docs, 0.25, ["doc_id"]).collect()}
    b = {
        r.doc_id: r.split
        for r in hash_split(docs.repartition(7), 0.25, ["doc_id"]).collect()
    }
    assert a == b
    # rows keep their assignment when a subset is used (key-stability)
    sub = {
        r.doc_id: r.split
        for r in hash_split(docs.limit(100), 0.25, ["doc_id"]).collect()
    }
    assert all(a[k] == v for k, v in sub.items())
    frac = sum(1 for v in a.values() if v == "test") / len(a)
    assert 0.1 < frac < 0.4


def test_stratified_sample_fraction_one_keeps_all(spark):
    """fraction >= 1.0 must be a keep-all, not a '< ffffffff' compare that
    drops the ~1-in-2^32 rows hashing to the top prefix."""
    from wicsmmiretl_spark.operators.sampling import _frac_threshold, stratified_sample

    assert _frac_threshold(1.0) == "g"
    assert _frac_threshold(2.0) == "g"  # over-asked stays keep-all
    assert _frac_threshold(0.5) == "80000000"
    df = spark.range(0, 1000).select(
        F.col("id").alias("k"), F.lit("s").alias("src")
    )
    out = stratified_sample(df, "src", {"s": 1.0}, ["k"])
    assert out.count() == 1000


def test_hash_split_null_key_propagates_like_sql_concat(spark):
    """A NULL key column must NULL the hash (SQL || semantics): hash_split
    assigns 'train', stratified_sample drops the row — on both engines."""
    from wicsmmiretl_spark.operators.sampling import hash_split, stratified_sample

    df = spark.createDataFrame([(1, "a"), (None, "a"), (3, "a")], "k int, src string")
    splits = {r.k: r.split for r in hash_split(df, 0.9999, ["k"]).collect()}
    assert splits[None] == "train"  # NULL < threshold is NULL -> otherwise()
    kept = stratified_sample(df, "src", {"a": 0.9999}, ["k"]).collect()
    assert all(r.k is not None for r in kept)


def test_salted_join_matches_plain_join(spark):
    """Salting must not change join semantics — same result set, key spread
    across salt buckets. hot_threshold=100 makes only key 7 (900 rows) hot;
    the 100 singleton keys take the cold branch."""
    from pyspark.sql import functions as F

    from wicsmmiretl_spark.operators.joins import salted_join

    # skewed left: 90% of rows share key 7
    left = spark.range(0, 1000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.range(0, 20).select(F.col("id").alias("k"), (F.col("id") * 100).alias("v"))
    got = sorted(tuple(r) for r in salted_join(left, right, "k", hot_threshold=100).collect())
    want = sorted(tuple(r) for r in left.join(right, "k").collect())
    assert got == want and len(got) > 800

    # auto threshold on unskewed data: no hot keys -> the plain join comes
    # back untouched (no Union, no salt machinery in the plan).
    uniform = spark.range(0, 500).select(F.col("id").alias("k"), F.col("id").alias("payload"))
    plan = uniform.transform(lambda d: salted_join(d, right, "k"))._jdf.queryExecution().toString()
    assert "_salt" not in plan and "Union" not in plan


def test_salted_join_replicates_only_hot_keys(spark):
    """Plan + data pin for the single conditional-salt join: left is scanned
    ONCE (no hot/cold branch Union), the right side is replicated via ONE
    explode, and only hot-key right rows are actually multiplied — cold
    right rows carry exactly one salt."""
    from pyspark.sql import functions as F

    from wicsmmiretl_spark.operators.joins import salted_join

    left = spark.range(0, 2000).select(
        F.when(F.col("id") % 4 != 0, F.lit(1)).otherwise(F.col("id")).alias("k"),
        F.col("id").alias("payload"),
    )
    right = spark.range(0, 50).select(F.col("id").alias("k"), (F.col("id") * 10).alias("v"))
    out = salted_join(left, right, "k", salts=8, hot_threshold=500)
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "Union" not in plan  # one join, one left scan
    assert plan.lower().count("explode") == 1
    # replication factor check on the right side as the operator builds it:
    # hot key 1 -> 8 salted copies, each cold key -> exactly 1
    salted_right = right.withColumn(
        "_salt",
        F.explode(
            F.when(F.col("k").isin([1]), F.sequence(F.lit(0), F.lit(7))).otherwise(
                F.array(F.lit(0))
            )
        ),
    )
    per_key = {r.k: r.n for r in salted_right.groupBy("k").agg(F.count("*").alias("n")).collect()}
    assert per_key[1] == 8 and all(n == 1 for k, n in per_key.items() if k != 1)
    # correctness of the salted result
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(tuple(r) for r in left.join(right, "k").collect())
    assert got == want


def test_salted_join_null_keys_survive_left_outer(spark):
    """NULL join keys match nothing but must survive a left outer join —
    they route down the cold branch (isin(NULL) is NULL, not False)."""
    from wicsmmiretl_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        [(1, "hot")] * 50 + [(2, "cold"), (None, "nullkey")], "k long, v string"
    )
    right = spark.createDataFrame([(1, "x"), (2, "y")], "k long, w string")
    rows = salted_join(left, right, "k", how="left", hot_threshold=10).collect()
    assert len(rows) == 52
    by_v = {r.v for r in rows if r.w is None}
    assert "nullkey" in by_v


def test_salted_join_hot_key_cap(spark):
    """More hot keys than max_hot_keys is general load, not skew — loud error."""
    import pytest
    from pyspark.sql import functions as F

    from wicsmmiretl_spark.operators.joins import salted_join

    left = spark.range(0, 40).select(F.col("id").alias("k"), F.col("id").alias("p"))
    right = spark.range(0, 40).select(F.col("id").alias("k"), F.col("id").alias("v"))
    with pytest.raises(ValueError, match="max_hot_keys|raise hot_threshold"):
        salted_join(left, right, "k", hot_threshold=1, max_hot_keys=5)


def test_salted_join_cap_mode_top(spark):
    """cap_mode='top' salts only the max_hot_keys LARGEST qualifying keys
    instead of raising — the bounded degradation for a threshold pinned
    below a grown table's uniform density (the 100x rehearsal failure).
    Result must equal the plain join; the salted set must be the top keys
    by count (deterministic tiebreak), verified via the right-side
    replication pattern the operator builds."""
    import pytest
    from pyspark.sql import functions as F

    from wicsmmiretl_spark.operators.joins import salted_join

    # 30 keys over threshold 2: keys 0..29 carry (10 + k) rows each, so the
    # top-3 by count are keys 29, 28, 27.
    left = spark.range(0, 30).select(F.col("id").alias("k")).withColumn(
        "reps", F.col("k") + 10
    ).select(F.col("k"), F.explode(F.sequence(F.lit(1), F.col("reps"))).alias("payload"))
    right = spark.range(0, 30).select(F.col("id").alias("k"), (F.col("id") * 7).alias("v"))

    # error mode refuses; top mode returns the plain-join result
    with pytest.raises(ValueError, match="max_hot_keys|raise hot_threshold"):
        salted_join(left, right, "k", hot_threshold=2, max_hot_keys=3)
    out = salted_join(
        left, right, "k", salts=4, hot_threshold=2, max_hot_keys=3, cap_mode="top"
    )
    got = sorted(tuple(r) for r in out.collect())
    want = sorted(tuple(r) for r in left.join(right, "k").collect())
    assert got == want

    # only the top-3 keys are replicated on the right side of the join plan
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert "29" in plan and "28" in plan and "27" in plan
    salted_right_counts = {
        r.k: r.n
        for r in right.withColumn(
            "_salt",
            F.explode(
                F.when(F.col("k").isin([29, 28, 27]), F.sequence(F.lit(0), F.lit(3))).otherwise(
                    F.array(F.lit(0))
                )
            ),
        )
        .groupBy("k")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert all(salted_right_counts[k] == 4 for k in (27, 28, 29))
    assert all(n == 1 for k, n in salted_right_counts.items() if k not in (27, 28, 29))

    with pytest.raises(ValueError, match="cap_mode"):
        salted_join(left, right, "k", hot_threshold=2, cap_mode="bogus")


def test_public_api_facade_exports():
    """Every name in wicsmmiretl_spark.__all__ resolves and is callable or a
    constant — the documented public surface must not drift from the
    modules behind it."""
    import wicsmmiretl_spark as w

    for name in w.__all__:
        obj = getattr(w, name)
        assert obj is not None
    assert len(w.__all__) >= 45


def test_quickstart_runs(spark, capsys):
    """The Quickstart block of the package docstring runs as written (its
    ``get_spark`` returns the running test session) and shows the
    deduplicated documents."""
    import textwrap

    import wicsmmiretl_spark as w

    block = w.__doc__.split("Quickstart::", 1)[1]
    exec(textwrap.dedent(block), {})
    assert "doc_id" in capsys.readouterr().out


def test_asof_join_forward_matches_naive(spark, sf_dir):
    """direction='forward' must pick the EARLIEST right row with
    right.on >= left.on per group (pandas merge_asof forward semantics);
    oracle is the naive inequality join + window min."""
    e = load_table(spark, "events", sf_dir)
    left = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts").limit(200)
    right = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    got = {
        r.event_id: r.value
        for r in asof_join(
            left, right, on="ts", by="user_id", right_cols=["value"], direction="forward"
        ).collect()
    }
    j = left.alias("l").join(
        right.alias("r"),
        (F.col("l.user_id") == F.col("r.user_id")) & (F.col("r.ts") >= F.col("l.ts")),
        "left",
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l.event_id").orderBy(F.col("r.ts").asc_nulls_last())
    naive = (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("l.event_id").alias("event_id"), F.col("r.value").alias("value"))
    )
    want = {r.event_id: r.value for r in naive.collect()}
    assert got == want


def test_asof_join_forward_tolerance_and_equal_ts(spark):
    """Forward tolerance nulls matches beyond on + tolerance; a right row at
    the EXACT left timestamp matches in both directions (<=/>= inclusive)."""
    left = spark.createDataFrame(
        [(1, 100, "2024-01-01 10:00:00"), (2, 100, "2024-01-01 12:00:00")],
        "id long, g long, ts_s string",
    ).select("id", "g", F.col("ts_s").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(100, "2024-01-01 10:00:00", 1.0), (100, "2024-01-01 14:30:00", 2.0)],
        "g long, ts_s string, v double",
    ).select("g", F.col("ts_s").cast("timestamp").alias("ts"), F.col("v"))

    fwd = {
        r.id: r.v
        for r in asof_join(
            left, right, on="ts", by="g", right_cols=["v"], direction="forward"
        ).collect()
    }
    assert fwd == {1: 1.0, 2: 2.0}  # id 1 matches the equal-ts row
    tol = {
        r.id: r.v
        for r in asof_join(
            left, right, on="ts", by="g", right_cols=["v"],
            direction="forward", tolerance="1 hour",
        ).collect()
    }
    assert tol == {1: 1.0, 2: None}  # 14:30 is >1h after 12:00 -> nulled
    import pytest as _pytest

    with _pytest.raises(ValueError, match="direction"):
        asof_join(left, right, on="ts", by="g", direction="sideways")


def test_asof_join_nearest_matches_naive(spark, sf_dir):
    """direction='nearest' picks the closer of backward/forward per row,
    ties backward (pandas semantics); oracle is the naive join + window
    over absolute distance."""
    e = load_table(spark, "events", sf_dir)
    left = e.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts").limit(200)
    right = e.filter(F.col("event_type") == "purchase").select("user_id", "ts", "value")
    got = {
        r.event_id: r.value
        for r in asof_join(
            left, right, on="ts", by="user_id", right_cols=["value"], direction="nearest"
        ).collect()
    }
    j = left.alias("l").join(right.alias("r"), F.col("l.user_id") == F.col("r.user_id"), "left")
    from pyspark.sql import Window

    dist = F.abs(F.unix_micros(F.col("r.ts")) - F.unix_micros(F.col("l.ts")))
    back_first = F.when(F.col("r.ts") <= F.col("l.ts"), 0).otherwise(1)
    w = Window.partitionBy("l.event_id").orderBy(dist.asc_nulls_last(), back_first.asc())
    naive = (
        j.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(F.col("l.event_id").alias("event_id"), F.col("r.value").alias("value"))
    )
    want = {r.event_id: r.value for r in naive.collect()}
    assert got == want


def test_asof_join_nearest_tolerance_sides(spark):
    """Nearest with tolerance: each side is nulled past the tolerance BEFORE
    the pick, so a closer-but-stale match loses to a farther valid one."""
    left = spark.createDataFrame(
        [(1, 9, "2024-01-01 12:00:00")], "id long, g long, ts_s string"
    ).select("id", "g", F.col("ts_s").cast("timestamp").alias("ts"))
    right = spark.createDataFrame(
        [(9, "2024-01-01 09:00:00", 1.0), (9, "2024-01-01 12:30:00", 2.0)],
        "g long, ts_s string, v double",
    ).select("g", F.col("ts_s").cast("timestamp").alias("ts"), F.col("v"))
    # backward match (09:00) is 3h away, forward (12:30) is 30min: nearest=2.0
    near = asof_join(left, right, on="ts", by="g", right_cols=["v"], direction="nearest")
    assert near.collect()[0].v == 2.0
    # 1h tolerance kills the backward side only; forward survives
    tol = asof_join(
        left, right, on="ts", by="g", right_cols=["v"], direction="nearest", tolerance="1 hour"
    )
    assert tol.collect()[0].v == 2.0
    # 10-minute tolerance kills both
    tol2 = asof_join(
        left, right, on="ts", by="g", right_cols=["v"], direction="nearest", tolerance="10 minutes"
    )
    assert tol2.collect()[0].v is None


def test_asof_join_tiebreak_and_row_consistency(spark):
    """Two right rows at the SAME timestamp: tiebreak picks the smallest in
    every direction; and the carried values are row-consistent — a matched
    row with a NULL value yields NULL, never an older row's non-null value
    (the struct carry, not a per-column last/first)."""
    left = spark.createDataFrame(
        [(1, 7, "2024-01-01 12:00:00")], "id long, g long, ts_s string"
    ).select("id", "g", F.col("ts_s").cast("timestamp").alias("ts"))
    # Equal-ts pair at 11:00 with v=5.0 and v=2.0; tiebreak must pick 2.0.
    right = spark.createDataFrame(
        [(7, "2024-01-01 11:00:00", 5.0, "a"), (7, "2024-01-01 11:00:00", 2.0, "b")],
        "g long, ts_s string, v double, tag string",
    ).select("g", F.col("ts_s").cast("timestamp").alias("ts"), "v", "tag")
    for direction in ("backward", "nearest"):
        row = asof_join(
            left, right, on="ts", by="g", right_cols=["v", "tag"],
            direction=direction, tiebreak="v",
        ).collect()[0]
        assert (row.v, row.tag) == (2.0, "b"), direction
    fwd_right = right.select("g", (F.col("ts") + F.expr("INTERVAL 2 hours")).alias("ts"), "v", "tag")
    row = asof_join(
        left, fwd_right, on="ts", by="g", right_cols=["v", "tag"],
        direction="forward", tiebreak="v",
    ).collect()[0]
    assert (row.v, row.tag) == (2.0, "b")

    # Row consistency: nearest match (10:00, v NULL) must yield NULL, not
    # leak 9:00's non-null v.
    right2 = spark.createDataFrame(
        [(7, "2024-01-01 09:00:00", 1.0, "old"), (7, "2024-01-01 10:00:00", None, "new")],
        "g long, ts_s string, v double, tag string",
    ).select("g", F.col("ts_s").cast("timestamp").alias("ts"), "v", "tag")
    row = asof_join(left, right2, on="ts", by="g", right_cols=["v", "tag"]).collect()[0]
    assert (row.v, row.tag) == (None, "new")

    import pytest as _pytest

    with _pytest.raises(ValueError, match="tiebreak"):
        asof_join(left, right, on="ts", by="g", right_cols=["v"], tiebreak="tag")
    with _pytest.raises(ValueError, match="_on"):
        asof_join(
            left, right.withColumnRenamed("tag", "_on"),
            on="ts", by="g", right_cols=["v", "_on"],
        )


def test_trailing_aggregate_matches_naive_join(spark, sf_dir):
    """RANGE-frame trailing aggregates must equal the naive interval
    self-join oracle; values pre-scaled to exact integers so float order
    cannot flap the comparison."""
    from wicsmmiretl_spark.operators.aggregates import trailing_aggregate

    e = (
        load_table(spark, "events", sf_dir)
        .select("event_id", "user_id", "ts", F.round(F.col("value") * 100).cast("long").alias("v"))
    )
    got = {
        r.event_id: (r.trailing_sum, r.trailing_n)
        for r in trailing_aggregate(e, "ts", ["user_id"], "v", window="2 hours").collect()
    }
    a, b = e.alias("a"), e.alias("b")
    naive = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("b.ts") <= F.col("a.ts"))
            & (F.col("b.ts") >= F.col("a.ts") - F.expr("INTERVAL 2 HOURS")),
        )
        .groupBy(F.col("a.event_id").alias("event_id"))
        .agg(F.sum("b.v").alias("s"), F.count("b.v").alias("n"))
    )
    want = {r.event_id: (r.s, r.n) for r in naive.collect()}
    assert got == want
    import pytest as _pytest

    with _pytest.raises(ValueError, match="window"):
        trailing_aggregate(e, "ts", ["user_id"], "v", window="2 fortnights")


def test_skew_report_identifies_hot_key(spark):
    from wicsmmiretl_spark.operators.aggregates import skew_report

    df = spark.range(0, 1000).select(
        F.when(F.col("id") % 10 != 0, F.lit(7)).otherwise(F.col("id")).alias("k")
    )
    rows = skew_report(df, ["k"], top_n=3).collect()
    assert rows[0].k == 7 and rows[0].n_rows == 900
    assert abs(rows[0].share - 0.9) < 1e-9
    assert len(rows) == 3 and rows[1].n_rows == 1


def test_incremental_agg_merge_equals_full_rebuild(spark):
    """Chained merges over any batch split must equal the one-shot
    aggregation (associativity of the mergeable states)."""
    import pytest
    from wicsmmiretl_spark.operators.aggregates import (
        incremental_agg_build,
        incremental_agg_merge,
    )

    rows = [(i % 5, i, float(i * 7 % 13)) for i in range(200)]
    df = spark.createDataFrame(rows, "k long, n long, x double")
    specs = {"cnt": ("count", None), "s": ("sum", "n"), "lo": ("min", "x"), "hi": ("max", "x")}
    full = incremental_agg_build(df, ["k"], specs)

    a = incremental_agg_build(df.filter("n < 60"), ["k"], specs)
    b = incremental_agg_build(df.filter("n >= 60 and n < 140"), ["k"], specs)
    c = incremental_agg_build(df.filter("n >= 140"), ["k"], specs)
    merged = incremental_agg_merge(incremental_agg_merge(a, b, ["k"], specs), c, ["k"], specs)

    assert sorted(tuple(r) for r in merged.collect()) == sorted(
        tuple(r) for r in full.collect()
    )
    with pytest.raises(ValueError, match="not mergeable"):
        incremental_agg_build(df, ["k"], {"m": ("median", "x")})


def test_histogram_buckets_and_overflow(spark):
    import pytest
    from wicsmmiretl_spark.operators.aggregates import histogram

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (9.99,), (10.0,), (55.0,), (100.0,), (250.0,), (None,)],
        "x double",
    )
    out = {r.bucket: (r.lo, r.hi, r.n) for r in histogram(df, "x", 0.0, 100.0, 10).collect()}
    assert out[-1][2] == 1            # underflow
    assert out[0] == (0.0, 10.0, 2)   # 0.0 and 9.99
    assert out[1] == (10.0, 20.0, 1)  # 10.0 lands in [10,20)
    assert out[5] == (50.0, 60.0, 1)
    assert out[10][2] == 2            # 100.0 (== hi) and 250.0 overflow
    assert sum(n for _lo, _hi, n in out.values()) == 7  # NULL dropped
    with pytest.raises(ValueError, match="hi > lo"):
        histogram(df, "x", 5.0, 5.0, 4)


def test_hll_sketch_merge_and_accuracy(spark):
    """Register merge over any batch split equals the one-shot sketch;
    the estimate lands within the expected HLL error band (~1.04/sqrt(m)
    -> a few percent at p=9 for n >> 0); p is validated."""
    import pytest
    from wicsmmiretl_spark.operators.aggregates import (
        hll_estimate,
        hll_merge,
        hll_sketch,
    )

    df = spark.createDataFrame([(i % 700,) for i in range(5000)], "uid long")
    full = sorted(tuple(r) for r in hll_sketch(df, "uid", 9).collect())
    a = hll_sketch(df.filter("uid < 300"), "uid", 9)
    b = hll_sketch(df.filter("uid >= 300"), "uid", 9)
    merged = sorted(tuple(r) for r in hll_merge(a, b).collect())
    assert merged == full

    est = hll_estimate(hll_sketch(df, "uid", 9), 9).first()["estimate"]
    assert abs(est - 700) / 700 < 0.10
    with pytest.raises(ValueError, match="p must be"):
        hll_sketch(df, "uid", 2)


def test_profile_table_metrics(spark):
    from wicsmmiretl_spark.operators.aggregates import profile_table

    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "a"), (4, "b"), (None, "b")],
        "id long, cat string",
    )
    out = {r.column: r for r in profile_table(df, ["id", "cat"]).collect()}
    assert out["id"].n_rows == 5 and out["id"].n_nulls == 1 and out["id"].n_distinct == 4
    assert out["cat"].n_nulls == 1 and out["cat"].n_distinct == 2
    assert out["cat"].null_frac == 0.2


def test_robust_outliers_flags_and_mad_zero(spark):
    from wicsmmiretl_spark.operators.aggregates import robust_outliers

    rows = [("g", float(v)) for v in [10, 11, 9, 10, 12, 10, 9, 11, 500]]
    rows += [("z", 5.0), ("z", 5.0), ("z", 5.0), ("z", 99.0)]
    df = spark.createDataFrame(rows, "k string, x double")
    out = robust_outliers(df, "x", ["k"]).collect()
    flagged = {(r.k, r.x) for r in out if r.is_outlier}
    assert flagged == {("g", 500.0), ("z", 99.0)}
    # MAD=0 group: median 5.0, only the deviant row flags (robust_z NULL)
    z_rows = {r.x: (r.is_outlier, r.robust_z) for r in out if r.k == "z"}
    assert z_rows[99.0] == (True, None) and z_rows[5.0][0] is False


def test_robust_outliers_null_key_group_scanned(spark):
    """NULL-keyed groups must be scanned like any other, not dropped by the
    stats joins."""
    from wicsmmiretl_spark.operators.aggregates import robust_outliers

    rows = [(None, float(v)) for v in [10, 11, 9, 10, 12, 10, 9, 11, 500]]
    df = spark.createDataFrame(rows, "k string, x double")
    out = robust_outliers(df, "x", ["k"]).collect()
    assert len(out) == 9
    assert {r.x for r in out if r.is_outlier} == {500.0}


def test_hll_estimate_rejects_p_mismatch(spark):
    import pytest
    from wicsmmiretl_spark.operators.aggregates import hll_estimate, hll_sketch

    df = spark.createDataFrame([(i,) for i in range(3000)], "uid long")
    sk = hll_sketch(df, "uid", 11)
    with pytest.raises(Exception, match="p mismatch"):
        hll_estimate(sk, p=9).collect()
    with pytest.raises(ValueError, match="p must be"):
        hll_estimate(sk, p=3)


def test_resample_ffill_grid_and_fill(spark):
    from datetime import datetime

    from wicsmmiretl_spark.operators.aggregates import resample_ffill

    rows = [
        ("a", datetime(2024, 1, 1, 5), 1.0),
        ("a", datetime(2024, 1, 1, 9), 2.0),   # last of day 1
        ("a", datetime(2024, 1, 4, 1), 7.0),   # gap: days 2,3 empty
        ("b", datetime(2024, 1, 2, 0), 9.0),
    ]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    out = {(r.k, str(r.tick)): (r.n_obs, r.value) for r in resample_ffill(df, "ts", ["k"], "v").collect()}
    assert out[("a", "2024-01-01 00:00:00")] == (2, 2.0)
    assert out[("a", "2024-01-02 00:00:00")] == (0, 2.0)   # ffill across gap
    assert out[("a", "2024-01-03 00:00:00")] == (0, 2.0)
    assert out[("a", "2024-01-04 00:00:00")] == (1, 7.0)
    assert out[("b", "2024-01-02 00:00:00")] == (1, 9.0)
    assert len(out) == 5
    import pytest
    with pytest.raises(ValueError, match="unit"):
        resample_ffill(df, "ts", ["k"], "v", unit="fortnight")


# ---------------------------------------------------------------------------
# fuzzy_match
# ---------------------------------------------------------------------------

def test_fuzzy_match_validates(spark):
    import pytest as _pytest
    from wicsmmiretl_spark.operators.joins import fuzzy_match

    df = spark.createDataFrame([("abc",)], "s: string")
    with _pytest.raises(ValueError, match="non-empty"):
        fuzzy_match(df, "s", [])
    with _pytest.raises(ValueError, match="None"):
        fuzzy_match(df, "s", ["a", None])
    with _pytest.raises(ValueError, match="max_dist"):
        fuzzy_match(df, "s", ["a"], max_dist=-1)
    with _pytest.raises(ValueError, match="'probe'"):
        fuzzy_match(df.withColumn("probe", df.s), "s", ["a"])


def test_fuzzy_match_picks_closest_with_tiebreak(spark):
    from wicsmmiretl_spark.operators.joins import fuzzy_match

    df = spark.createDataFrame([(1, "kitten"), (2, "zzz"), (3, None)], "id: bigint, s: string")
    out = fuzzy_match(df, "s", ["mitten", "kitty", "sitten"], max_dist=2).collect()
    # kitten: mitten=1, sitten=1, kitty=2 -> tie at 1 resolves alphabetically.
    assert len(out) == 1
    assert (out[0].id, out[0].probe, out[0].dist) == (1, "mitten", 1)


def test_fuzzy_match_exact_hit_is_distance_zero(spark):
    from wicsmmiretl_spark.operators.joins import fuzzy_match

    df = spark.createDataFrame([(1, "blue rod")], "id: bigint, s: string")
    out = fuzzy_match(df, "s", ["blue rod"], max_dist=0).collect()
    assert out[0].dist == 0


def test_fuzzy_match_plan_has_no_shuffle(spark):
    from wicsmmiretl_spark.operators.joins import fuzzy_match

    df = spark.range(100).select(F.col("id"), F.lit("abc").alias("s"))
    plan = fuzzy_match(df, "s", ["abd"])._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


# ---------------------------------------------------------------------------
# quantile_bins
# ---------------------------------------------------------------------------

def test_quantile_bins_equal_frequency(spark):
    from wicsmmiretl_spark.operators.sampling import quantile_bins

    df = spark.createDataFrame([(i, float(i)) for i in range(10)], "id: bigint, v: double")
    out = {r.bin: (r.n, r.lo, r.hi) for r in quantile_bins(df, "v", "id", n_bins=5).collect()}
    assert out == {1: (2, 0.0, 1.0), 2: (2, 2.0, 3.0), 3: (2, 4.0, 5.0),
                   4: (2, 6.0, 7.0), 5: (2, 8.0, 9.0)}


def test_quantile_bins_remainder_to_leading_buckets(spark):
    from wicsmmiretl_spark.operators.sampling import quantile_bins

    df = spark.createDataFrame([(i, float(i)) for i in range(7)], "id: bigint, v: double")
    out = {r.bin: r.n for r in quantile_bins(df, "v", "id", n_bins=3).collect()}
    assert out == {1: 3, 2: 2, 3: 2}


def test_quantile_bins_ties_split_deterministically(spark):
    from wicsmmiretl_spark.operators.sampling import quantile_bins

    df = spark.createDataFrame([(i, 1.0) for i in range(4)], "id: bigint, v: double")
    a = sorted(tuple(r) for r in quantile_bins(df, "v", "id", n_bins=2).collect())
    b = sorted(tuple(r) for r in quantile_bins(df.repartition(7), "v", "id", n_bins=2).collect())
    assert a == b == [(1, 2, 1.0, 1.0), (2, 2, 1.0, 1.0)]


def test_quantile_bins_validates(spark):
    import pytest as _pytest
    from wicsmmiretl_spark.operators.sampling import quantile_bins

    df = spark.createDataFrame([(1, 1.0)], "id: bigint, v: double")
    with _pytest.raises(ValueError, match="n_bins"):
        quantile_bins(df, "v", "id", n_bins=1)
    with _pytest.raises(ValueError, match="column"):
        quantile_bins(df, "ghost", "id")


# ---------------------------------------------------------------------------
# stable_index
# ---------------------------------------------------------------------------

def test_stable_index_matches_global_window(spark):
    from pyspark.sql import Window
    from wicsmmiretl_spark.operators.sampling import stable_index

    df = spark.range(0, 500).select(
        (F.col("id") * 37 % 101).alias("v"), F.col("id").alias("k")
    ).repartition(13)
    got = {(r.v, r.k): r.idx for r in stable_index(df, ["v", "k"]).collect()}
    w = Window.orderBy(F.asc("v"), F.asc("k"))
    want = {(r.v, r.k): r.idx for r in df.withColumn("idx", F.row_number().over(w) - 1).collect()}
    assert got == want


def test_stable_index_dense_and_zero_based(spark):
    from wicsmmiretl_spark.operators.sampling import stable_index

    df = spark.range(0, 100).select(F.col("id").alias("k"))
    idxs = sorted(r.idx for r in stable_index(df, ["k"]).collect())
    assert idxs == list(range(100))


def test_stable_index_partitioning_invariant(spark):
    from wicsmmiretl_spark.operators.sampling import stable_index

    base = spark.range(0, 300).select((F.col("id") % 7).alias("v"), F.col("id").alias("k"))
    a = sorted(tuple(r) for r in stable_index(base.coalesce(1), ["v", "k"]).collect())
    b = sorted(tuple(r) for r in stable_index(base.repartition(17), ["v", "k"]).collect())
    assert a == b


def test_stable_index_validates(spark):
    import pytest as _pytest
    from wicsmmiretl_spark.operators.sampling import stable_index

    df = spark.range(3).select(F.col("id").alias("k"))
    with _pytest.raises(ValueError, match="non-empty"):
        stable_index(df, [])
    with _pytest.raises(ValueError, match="not in"):
        stable_index(df, ["ghost"])
    with _pytest.raises(ValueError, match="'idx'"):
        stable_index(df.withColumn("idx", F.lit(1)), ["k"])


def test_null_bypass_join_equals_plain_join(spark):
    """The bypass is a pure optimization: byte-identical rows to the plain
    left join (null keys pass through with NULL dim columns, in the fact
    schema + dim payload order), inner drops them, and the null branch adds
    no exchange (no shuffle on the bypass side)."""
    import pytest

    from wicsmmiretl_spark.operators.joins import null_bypass_join

    facts = spark.createDataFrame(
        [(1, 10.0), (2, 20.0), (None, 30.0), (None, 40.0), (9, 50.0)],
        "k long, v double",
    )
    dim = spark.createDataFrame([(1, "a"), (2, "b")], "k long, attr string")

    from collections import Counter

    got = Counter(tuple(r) for r in null_bypass_join(facts, dim, ["k"]).collect())
    plain = Counter(tuple(r) for r in facts.join(dim, ["k"], "left").collect())
    assert got == plain
    assert (None, 30.0, None) in got and (9, 50.0, None) in got

    inner = Counter(tuple(r) for r in null_bypass_join(facts, dim, ["k"], how="inner").collect())
    assert inner == Counter(tuple(r) for r in facts.join(dim, ["k"], "inner").collect())

    plan = null_bypass_join(facts, dim, ["k"])._jdf.queryExecution().executedPlan().toString()
    # The bypassed branch contributes no Exchange: the union's null side is
    # scan -> filter -> project only.
    assert "Union" in plan

    with pytest.raises(ValueError):
        null_bypass_join(facts, dim, ["k"], how="full")
    with pytest.raises(ValueError):
        null_bypass_join(facts, dim, ["missing"])


def test_table_fingerprint_order_independent_and_sensitive(spark):
    """The fingerprint triple is invariant under repartitioning/row order,
    changes when any value, row, or duplicate multiplicity changes, and
    distinguishes NULL from '' via the sentinel."""
    from wicsmmiretl_spark.operators.aggregates import table_fingerprint

    rows = [(1, "a"), (2, "b"), (3, None)]
    df = spark.createDataFrame(rows, "id long, s string")
    fp = lambda d: tuple(table_fingerprint(d, ["id", "s"]).collect()[0])

    base = fp(df)
    assert base == fp(df.repartition(7)) == fp(df.orderBy("s"))
    assert base != fp(spark.createDataFrame([(1, "a"), (2, "b"), (3, "")], "id long, s string"))
    assert base != fp(spark.createDataFrame(rows[:2], "id long, s string"))
    assert base != fp(spark.createDataFrame(rows + [(1, "a")], "id long, s string"))
    assert base[0] == 3

    # The triple is three BIGINTs — no decimal(38)/HUGEINT ever crosses the
    # output schema (the r11 driver incident: engine decimal-return
    # conventions differ), and the wrapped sum matches mod-2^64 arithmetic
    # on the raw 60-bit digests.
    out = table_fingerprint(df, ["id", "s"])
    assert [f.dataType.simpleString() for f in out.schema.fields] == [
        "bigint",
        "bigint",
        "bigint",
    ]
    import hashlib

    digests = []
    for rid, s in rows:
        parts = [str(rid), s if s is not None else "\x00"]
        digests.append(int(hashlib.md5("\x1f".join(parts).encode()).hexdigest()[:15], 16))
    expect_sum = sum(digests) % (1 << 64)
    if expect_sum >= 1 << 63:
        expect_sum -= 1 << 64
    assert base[1] == expect_sum

    import pytest

    with pytest.raises(ValueError):
        table_fingerprint(df, ["nope"])

    # Raw float/double columns are rejected — double→string rendering is an
    # engine convention, so hashing it couples the fingerprint to the engine.
    fdf = spark.createDataFrame([(1, 1.5)], "id long, v double")
    with pytest.raises(ValueError, match="float/double"):
        table_fingerprint(fdf, ["id", "v"])
    # ...and the pinned-rendering path works.
    pinned = fdf.withColumn("v", F.col("v").cast("decimal(12,2)"))
    assert table_fingerprint(pinned, ["id", "v"]).collect()[0][0] == 1


class TestResampleInterpolate:
    def _run(self, spark, rows):
        from wicsmmiretl_spark.operators.aggregates import resample_interpolate

        df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
        out = resample_interpolate(df, "ts", ["k"], "v", unit="day")
        return sorted(
            (r.k, str(r.tick)[:10], r.n_obs, r.value, r.interpolated)
            for r in out.collect()
        )

    def test_interior_gap_is_linear(self, spark):
        import datetime as dt

        rows = [
            ("a", dt.datetime(2024, 1, 1, 5), 10.0),
            ("a", dt.datetime(2024, 1, 4, 9), 40.0),
        ]
        got = self._run(spark, rows)
        # Days 2 and 3 are empty → linear between 10 (day 1) and 40 (day 4).
        assert got == [
            ("a", "2024-01-01", 1, 10.0, False),
            ("a", "2024-01-02", 0, 20.0, True),
            ("a", "2024-01-03", 0, 30.0, True),
            ("a", "2024-01-04", 1, 40.0, False),
        ]

    def test_observed_tick_uses_exact_mean_not_interpolation(self, spark):
        import datetime as dt

        rows = [
            ("a", dt.datetime(2024, 1, 1), 0.0),
            ("a", dt.datetime(2024, 1, 2, 1), 100.0),
            ("a", dt.datetime(2024, 1, 2, 2), 200.0),
            ("a", dt.datetime(2024, 1, 3), 0.0),
        ]
        got = self._run(spark, rows)
        assert ("a", "2024-01-02", 2, 150.0, False) in got

    def test_grid_edges_are_observations_no_dangling_fill(self, spark):
        import datetime as dt

        rows = [
            ("a", dt.datetime(2024, 1, 5), 7.0),
            ("b", dt.datetime(2024, 2, 1), 1.0),
            ("b", dt.datetime(2024, 2, 3), 3.0),
        ]
        got = self._run(spark, rows)
        # Key a: single observation → single-tick grid, nothing to fill.
        assert [g for g in got if g[0] == "a"] == [("a", "2024-01-05", 1, 7.0, False)]
        assert [g for g in got if g[0] == "b"] == [
            ("b", "2024-02-01", 1, 1.0, False),
            ("b", "2024-02-02", 0, 2.0, True),
            ("b", "2024-02-03", 1, 3.0, False),
        ]

    def test_validates_unit_and_collisions(self, spark):
        import datetime as dt

        import pytest as _pytest

        from wicsmmiretl_spark.operators.aggregates import resample_interpolate

        df = spark.createDataFrame(
            [("a", dt.datetime(2024, 1, 1), 1.0)], "k string, ts timestamp, v double"
        )
        with _pytest.raises(ValueError, match="unit"):
            resample_interpolate(df, "ts", ["k"], "v", unit="minute")
        clash = df.withColumn("tick", F.lit(1))
        with _pytest.raises(ValueError, match="collide"):
            resample_interpolate(clash, "ts", ["k"], "v")
