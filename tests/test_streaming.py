"""Structured Streaming: every stateful operator's streaming output must
equal its batch computation over the same data (Spark's unified semantics,
driven through a real file source + availableNow trigger + memory sink)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from wicsmmiretl_spark.catalog import load_table
from wicsmmiretl_spark.streaming.windows import (
    read_event_stream,
    run_to_memory_sink,
    session_aggregate,
    sliding_counts,
    stream_dedup,
    tumbling_aggregate,
)


@pytest.fixture(scope="module")
def event_dir(spark, tmp_path_factory):
    """events sf0.001 rewritten as a micros-timestamp parquet drop-folder
    (the raw driver file is TIMESTAMP(NANOS), unreadable as a stream schema)."""
    d = tmp_path_factory.mktemp("eventstream")
    load_table(spark, "events", "/root/testdata/sf0.001").repartition(4).write.mode(
        "overwrite"
    ).parquet(str(d / "events"))
    return str(d / "events")


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_tumbling_stream_equals_batch(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    got = run_to_memory_sink(tumbling_aggregate(stream), "t_tumbling", spark)
    batch = spark.read.parquet(event_dir)
    want = tumbling_aggregate(batch)
    assert _rows(got) == _rows(want)


def test_sliding_stream_equals_batch(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    got = run_to_memory_sink(sliding_counts(stream), "t_sliding", spark)
    want = sliding_counts(spark.read.parquet(event_dir))
    assert _rows(got) == _rows(want)


def test_session_stream_equals_batch(spark, event_dir):
    stream = read_event_stream(spark, event_dir)
    got = run_to_memory_sink(session_aggregate(stream), "t_session", spark)
    want = session_aggregate(spark.read.parquet(event_dir))
    assert _rows(got) == _rows(want)


def test_stream_dedup_drops_replays(spark, event_dir, tmp_path):
    # simulate an at-least-once source: write the same file twice
    src = spark.read.parquet(event_dir)
    dup_dir = str(tmp_path / "dups")
    src.write.mode("overwrite").parquet(dup_dir)
    src.write.mode("append").parquet(dup_dir)
    stream = read_event_stream(spark, dup_dir)
    got = run_to_memory_sink(stream_dedup(stream), "t_dedup", spark, output_mode="append")
    assert got.count() == src.count()
    assert got.select("event_id").distinct().count() == src.count()


def test_session_aggregate_matches_suite_gap_semantics(spark, event_dir):
    """Session window (streaming op) and the suite's lag/cumsum batch
    sessionization must agree on session count per user."""
    batch = spark.read.parquet(event_dir)
    sw = session_aggregate(batch)
    from wicsmmiretl_spark.suite import QUERIES

    # suite query runs on the raw nanos file via catalog; same data
    lag_based = QUERIES["sessionize_events"](spark, "/root/testdata/sf0.001")
    a = sw.groupBy("user_id").count()
    b = lag_based.groupBy("user_id").count()
    assert _rows(a) == _rows(b)


def test_interval_join_stream_equals_batch(spark, event_dir):
    """Stream-stream interval join: two watermarked file-source streams
    joined on (user, time-bound) produce exactly the batch join's rows."""
    from wicsmmiretl_spark.streaming.windows import interval_join

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select("event_id", "user_id", "ts")
        purch = df.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        return clicks, purch

    s_clicks, s_purch = sides(read_event_stream(spark, event_dir))
    joined = interval_join(s_clicks, s_purch, upper="30 minutes")
    assert joined.isStreaming
    got = run_to_memory_sink(joined, "t_ssjoin", spark, output_mode="append")

    b_clicks, b_purch = sides(spark.read.parquet(event_dir))
    want = interval_join(b_clicks, b_purch, upper="30 minutes")
    assert _rows(got) == _rows(want) and want.count() > 0


def test_left_outer_interval_join_matched_half_and_unmatched_flush(
    spark, event_dir, tmp_path
):
    """Stream-stream LEFT OUTER interval join, driven deterministically.

    Why this operator has pytest-only evidence (no DuckDB oracle): an
    unmatched left row is emitted only when (a) the watermark has passed
    its join horizon AND (b) a LATER micro-batch runs to carry the
    emission — on a drained availableNow source neither is guaranteed for
    the final rows, so a side-by-side oracle would be flaky by
    construction. Here the flush is forced: two far-future sentinel files
    behind maxFilesPerTrigger=1 give the query two extra batches — the
    first advances the watermark past every real row's horizon, the
    second runs under that watermark and emits the stragglers.

    Gates: the matched half equals the batch INNER join exactly, and the
    unmatched half equals the batch LEFT ANTI set exactly (with NULL
    right columns), sentinels excluded from both.
    """
    import datetime
    import time

    from wicsmmiretl_spark.streaming.windows import interval_join

    src_dir = str(tmp_path / "loj_events")
    real = spark.read.parquet(event_dir)
    real.coalesce(1).write.mode("overwrite").parquet(src_dir)
    max_ts = real.agg(F.max("ts")).first()[0]

    def drop_sentinel(eid: int, days: int) -> None:
        # One click + one purchase per drop so BOTH sides' watermarks
        # advance (the query watermark is the min across inputs).
        ts = max_ts + datetime.timedelta(days=days)
        rows = [
            (eid, ts, -1, "click", 0.0, None),
            (eid - 1, ts, -1, "purchase", 0.0, None),
        ]
        spark.createDataFrame(rows, real.schema).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
        time.sleep(1.1)  # distinct mtimes → deterministic file-batch order

    time.sleep(1.1)
    drop_sentinel(-10, days=10)
    drop_sentinel(-20, days=20)

    def sides(df):
        clicks = df.filter(F.col("event_type") == "click").select(
            "event_id", "user_id", "ts"
        )
        purch = df.filter(F.col("event_type") == "purchase").select(
            "event_id", "user_id", "ts", "value"
        )
        return clicks, purch

    from wicsmmiretl_spark.streaming.windows import read_event_stream

    s_clicks, s_purch = sides(read_event_stream(spark, src_dir, max_files_per_trigger=1))
    joined = interval_join(s_clicks, s_purch, upper="30 minutes", how="left_outer")
    assert joined.isStreaming
    got = run_to_memory_sink(joined, "t_loj", spark, output_mode="append").filter(
        F.col("l_user_id") >= 0  # sentinels are scaffolding, not data
    )

    b_clicks, b_purch = sides(real)
    want_inner = interval_join(b_clicks, b_purch, upper="30 minutes")
    got_matched = got.filter(F.col("r_event_id").isNotNull())
    assert _rows(got_matched) == _rows(want_inner) and want_inner.count() > 0

    # Unmatched half: exactly the batch anti set, NULL right columns.
    matched_left_ids = want_inner.select("l_event_id").distinct()
    want_unmatched = (
        b_clicks.select(
            F.col("event_id").alias("l_event_id"),
            F.col("user_id").alias("l_user_id"),
            F.col("ts").alias("l_ts"),
        )
        .join(matched_left_ids, "l_event_id", "anti")
    )
    got_unmatched = got.filter(F.col("r_event_id").isNull())
    assert _rows(got_unmatched.select("l_event_id", "l_user_id", "l_ts")) == _rows(
        want_unmatched
    )
    assert want_unmatched.count() > 0, "fixture has no unconverted clicks"
    # NULL right columns across the board on the unmatched half.
    assert got_unmatched.filter(
        F.col("r_user_id").isNotNull() | F.col("r_ts").isNotNull()
        | F.col("r_value").isNotNull()
    ).count() == 0


def test_interval_join_rejects_unknown_how(spark, event_dir):
    import pytest as _pytest

    from wicsmmiretl_spark.streaming.windows import interval_join

    df = spark.read.parquet(event_dir)
    with _pytest.raises(ValueError, match="left_outer"):
        interval_join(df, df, how="full_outer")


def test_interval_join_time_bound_is_strict(spark):
    """Rows outside [ts, ts+upper] never pair (the bound is the state-eviction
    contract, so it must hold exactly at the boundary)."""
    import datetime as dt

    from wicsmmiretl_spark.streaming.windows import interval_join

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    left = spark.createDataFrame([(1, 7, t0)], "event_id long, user_id long, ts timestamp")
    right = spark.createDataFrame(
        [
            (10, 7, t0 - dt.timedelta(seconds=1)),   # before click: out
            (11, 7, t0),                              # boundary: in
            (12, 7, t0 + dt.timedelta(minutes=30)),   # boundary: in
            (13, 7, t0 + dt.timedelta(minutes=30, seconds=1)),  # out
            (14, 8, t0),                              # other user: out
        ],
        "event_id long, user_id long, ts timestamp",
    )
    got = sorted(
        r.r_event_id for r in interval_join(left, right, upper="30 minutes").collect()
    )
    assert got == [11, 12]


def test_stateful_running_stats_stream_equals_batch(spark, event_dir):
    """applyInPandasWithState custom operator: the final per-user snapshot
    after consuming the whole stream equals the batch aggregation."""
    from pyspark.sql import functions as F

    from wicsmmiretl_spark.streaming.stateful import running_user_stats

    stream = read_event_stream(spark, event_dir, max_files_per_trigger=2)
    got_df = run_to_memory_sink(
        running_user_stats(stream), "t_stateful", spark, output_mode="update"
    )
    # update mode emits one snapshot per user per batch — keep the last
    # (cumulative) row per user: max n_events is the final state
    final = (
        got_df.groupBy("user_id")
        .agg(
            F.max("n_events").alias("n_events"),
            F.max("total_value").alias("total_value"),
            F.max("max_value").alias("max_value"),
        )
        .collect()
    )
    got = {r.user_id: (r.n_events, round(r.total_value, 4), r.max_value) for r in final}
    want = {
        r.user_id: (r.n_events, round(r.total_value, 4), r.max_value)
        for r in running_user_stats(spark.read.parquet(event_dir)).collect()
    }
    assert got == want


def test_idempotent_partition_sink_replay_converges(spark, event_dir, tmp_path):
    """Replaying the whole stream (fresh checkpoint, same input) must land
    the same rows, not append duplicates — the exactly-once-effect contract
    of foreachBatch + dynamic partition overwrite."""
    from wicsmmiretl_spark.streaming.sinks import start_idempotent_partition_sink

    out = str(tmp_path / "sink_out")
    src = load_table(spark, "events", "/root/testdata/sf0.001")
    expected = src.count()

    for attempt in range(2):  # second run = full replay with a new checkpoint
        stream = read_event_stream(spark, event_dir)
        q = start_idempotent_partition_sink(
            stream, out, ["event_type"], str(tmp_path / f"ckpt{attempt}")
        )
        q.awaitTermination()

    written = spark.read.parquet(out)
    assert written.count() == expected
    assert written.select("event_id").distinct().count() == expected


def test_watermark_drops_late_rows_across_restart(spark, tmp_path):
    """The documented completeness/latency trade must actually hold: a row
    whose event time is behind the checkpoint-persisted watermark when the
    query resumes is DROPPED from the aggregation.

    Within a single fresh run Spark 4 does not retro-filter earlier
    micro-batches (the run starts at watermark 0), so the pin uses the
    production shape: run 1 commits a watermark past window A's end, the
    late window-A row arrives, and the restarted run emits ONLY the fresh
    window-B update -- no n=4 for A, no resurrected A row.
    """
    from pyspark.sql import Row

    d = str(tmp_path / "late_events")
    ckpt = str(tmp_path / "ckpt")

    def _write(rows, start):
        spark.createDataFrame(
            [
                Row(event_id=start + i, ts=ts, user_id=1, event_type="click",
                    value=1.0, props="{}")
                for i, ts in enumerate(rows)
            ]
        ).select(
            "event_id",
            F.col("ts").cast("timestamp").alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        ).coalesce(1).write.mode("append").parquet(d)

    emitted = []

    def _sink(df, epoch):
        emitted.append(sorted((r.window_start_us, r.n) for r in df.collect()))

    def _run():
        stream = read_event_stream(spark, d)
        agg = tumbling_aggregate(stream, window_duration="1 day", watermark="1 hour")
        q = (
            agg.writeStream.foreachBatch(_sink)
            .outputMode("update")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    day_a = 1704067200000000  # 2024-01-01 00:00:00 UTC
    day_b = 1704153600000000  # 2024-01-02

    # run 1: 3 rows in window A + one at 01-02 12:00 -> committed watermark
    # 11:00, past A's end.
    _write(["2024-01-01 10:00:00", "2024-01-01 10:10:00", "2024-01-01 10:20:00",
            "2024-01-02 12:00:00"], 0)
    _run()
    assert [e for e in emitted if e] == [[(day_a, 3), (day_b, 1)]]

    # run 2 (resumed): one LATE window-A row + one fresh window-B row.
    emitted.clear()
    _write(["2024-01-01 15:00:00", "2024-01-02 13:00:00"], 100)
    _run()
    assert [e for e in emitted if e] == [[(day_b, 2)]]  # late A row dropped


def test_stream_hll_registers_equal_batch_even_when_doubled(spark, event_dir):
    from wicsmmiretl_spark.operators.aggregates import hll_sketch
    from wicsmmiretl_spark.streaming.windows import stream_hll_registers

    doubled = read_event_stream(spark, event_dir).unionByName(
        read_event_stream(spark, event_dir)
    )
    got = stream_hll_registers(doubled, "user_id", spark, p=7)
    want = hll_sketch(spark.read.parquet(event_dir), "user_id", p=7)
    # max-merge is idempotent: replayed/doubled rows change nothing, and the
    # per-batch fold equals the single batch sketch bit-for-bit.
    assert _rows(got) == _rows(want)


def test_stream_cms_sketch_equals_batch_and_skips_replayed_batch(spark, event_dir):
    from wicsmmiretl_spark.operators.aggregates import cms_sketch
    from wicsmmiretl_spark.streaming.windows import stream_cms_sketch

    stream = read_event_stream(spark, event_dir).select(
        F.col("user_id").cast("string").alias("uid")
    )
    got = stream_cms_sketch(stream, "uid", spark, depth=3, width=256)
    want = cms_sketch(
        spark.read.parquet(event_dir).select(F.col("user_id").cast("string").alias("uid")),
        "uid",
        depth=3,
        width=256,
    )
    assert _rows(got) == _rows(want)


def test_stream_static_enrich_matches_batch_and_keeps_unmatched(spark, tmp_path):
    """Stream-static left join: enriched stream aggregation equals the batch
    twin, and facts without a dimension row survive with NULL attributes."""
    from pyspark.sql import functions as F

    from wicsmmiretl_spark.streaming.windows import (
        run_to_memory_sink,
        stream_static_enrich,
    )

    rows = [
        ("2024-01-01 00:00:00", "a", 1.0),
        ("2024-01-01 01:00:00", "a", 2.0),
        ("2024-01-01 02:00:00", "b", 4.0),
        ("2024-01-01 03:00:00", "zz", 8.0),  # no dim row
    ]
    batch = spark.createDataFrame(rows, "ts_s string, k string, v double").select(
        F.to_timestamp("ts_s").alias("ts"), "k", "v"
    )
    src = str(tmp_path / "facts")
    batch.write.parquet(src)
    dim = spark.createDataFrame([("a", "A"), ("b", "B")], "k string, grp string")

    stream = spark.readStream.schema("ts timestamp, k string, v double").parquet(src)
    enr = stream_static_enrich(stream, dim, "k").withWatermark("ts", "1 hour")
    agg = enr.groupBy("grp").agg(F.count("*").alias("n"), F.sum("v").alias("sv"))
    got = {
        (r.grp, r.n, r.sv)
        for r in run_to_memory_sink(agg, "t_sse", spark, shuffle_partitions=4).collect()
    }
    assert got == {("A", 2, 3.0), ("B", 1, 4.0), (None, 1, 8.0)}


def test_stateful_running_distinct_stream_equals_batch(spark, event_dir):
    """Exact running distinct: the final per-user distinct-type snapshot
    after the whole stream (multi-batch, so state must persist and merge
    across micro-batches) equals the batch countDistinct."""
    from pyspark.sql import functions as F

    from wicsmmiretl_spark.streaming.stateful import running_user_distinct

    stream = read_event_stream(spark, event_dir, max_files_per_trigger=2)
    got_df = run_to_memory_sink(
        running_user_distinct(stream),
        "t_stateful_distinct",
        spark,
        output_mode="update",
    )
    final = (
        got_df.groupBy("user_id")
        .agg(F.max("n_distinct_types").alias("n_distinct_types"))
        .collect()
    )
    got = {r.user_id: r.n_distinct_types for r in final}
    want = {
        r.user_id: r.n_distinct_types
        for r in running_user_distinct(spark.read.parquet(event_dir)).collect()
    }
    assert got == want


def test_stateful_running_distinct_null_only_user(spark, tmp_path):
    """A user whose event types are ALL NULL must emit a count-0 row on
    the batch and the streaming path (batch countDistinct semantics — the
    streaming dedup keeps one NULL row per user instead of filtering the
    user away)."""
    from wicsmmiretl_spark.streaming.stateful import running_user_distinct

    rows = [(1, None), (1, None), (2, "click"), (2, None), (2, "view")]
    batch = spark.createDataFrame(rows, "user_id long, event_type string")
    src = str(tmp_path / "nulluser")
    batch.write.parquet(src)
    want = {1: 0, 2: 2}

    assert {
        r.user_id: r.n_distinct_types for r in running_user_distinct(batch).collect()
    } == want

    stream = spark.readStream.schema(batch.schema).parquet(src)
    snap = run_to_memory_sink(
        running_user_distinct(stream), "t_null_user", spark, output_mode="update"
    )
    got = {
        r.user_id: r.n_distinct_types
        for r in snap.groupBy("user_id")
        .agg(F.max("n_distinct_types").alias("n_distinct_types"))
        .collect()
    }
    assert got == want


def test_steady_state_replay_matches_one_batch_drain(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_STREAM_STEADY=<N> replays the drop-folder as N
    time-ordered micro-batches (range-partitioned files, mtime-ordered,
    maxFilesPerTrigger=1): the watermark advances per batch so stateful
    operators hold the in-watermark slice — and because min(ts of file
    i+1) >= max(ts of file i), no row is ever late, so the RESULT is
    identical to the default one-batch drain (VERDICT r11 item 6)."""
    import os

    from wicsmmiretl_spark import suite
    from wicsmmiretl_spark.streaming.windows import (
        read_event_stream,
        run_to_memory_sink,
        stream_dedup,
    )

    sf_dir = "/root/testdata/sf0.001"

    # Default path: the graded one-batch drain.
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STEADY", raising=False)
    monkeypatch.setattr(suite, "_STREAM_DROPDIRS", {})
    base_rows = sorted(
        tuple(r) for r in suite.QUERIES["streaming_dedup"](spark, sf_dir).collect()
    )

    # Steady-state path: 8 micro-batches over the same corpus.
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STEADY", "8")
    monkeypatch.setattr(suite, "_STREAM_DROPDIRS", {})
    d = suite._events_dropdir(spark, sf_dir)
    parts = sorted(
        f for f in os.listdir(d) if f.startswith("part-") and f.endswith(".parquet")
    )
    assert len(parts) == 8
    mtimes = [os.path.getmtime(os.path.join(d, f)) for f in parts]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)
    # files are event-time ordered: max(ts) of file i <= min(ts) of file i+1
    import pyarrow.parquet as pq

    spans = []
    for f in parts:
        t = pq.read_table(os.path.join(d, f), columns=["ts"])
        col = t.column("ts").to_pylist()
        spans.append((min(col), max(col)))
    for (lo1, hi1), (lo2, hi2) in zip(spans, spans[1:]):
        assert hi1 <= lo2

    steady_rows = sorted(
        tuple(r) for r in suite.QUERIES["streaming_dedup"](spark, sf_dir).collect()
    )
    assert steady_rows == base_rows

    # the session-window query is also batch-cadence invariant
    monkeypatch.setattr(suite, "_STREAM_DROPDIRS", {})
    monkeypatch.delenv("SPARK_GRAFT_STREAM_STEADY", raising=False)
    base_sess = sorted(
        tuple(r)
        for r in suite.QUERIES["streaming_session_window"](spark, sf_dir).collect()
    )
    monkeypatch.setenv("SPARK_GRAFT_STREAM_STEADY", "8")
    monkeypatch.setattr(suite, "_STREAM_DROPDIRS", {})
    steady_sess = sorted(
        tuple(r)
        for r in suite.QUERIES["streaming_session_window"](spark, sf_dir).collect()
    )
    assert steady_sess == base_sess

    # and the steady default threads through read_event_stream
    st = read_event_stream(spark, d)
    dd = stream_dedup(st)
    out = run_to_memory_sink(dd, "steady_probe_sink", spark, output_mode="append")
    assert out.count() == len({r[0] for r in base_rows})


def test_append_session_window_emits_exactly_finalized_sessions(spark):
    """r13 (VERDICT r12 item 5): the APPEND-mode session query — the
    production shape where state is watermark-evicted and each session is
    emitted exactly once — equals the COMPLETE-mode oracle-harness twin
    row-for-row on the shipped corpus, with no sentinel leakage.

    Mechanics pinned:
    * every real session flushes (the two far-future sentinel batches
      advance the watermark, then carry the emission);
    * the sentinels' own sessions never appear (heartbeat_filter drops
      them post-watermark; availableNow's final flush batch would emit
      the first one otherwise — the bug this test would catch);
    * the heartbeat filter is NOT pushed below the EventTimeWatermark
      node (Catalyst pushes watermark-column-free conjuncts through it,
      which silently un-advances the watermark and loses the last
      micro-batch's sessions — the other bug this test would catch).
    """
    from wicsmmiretl_spark import suite

    sf_dir = "/root/testdata/sf0.001"
    append_rows = sorted(
        tuple(r)
        for r in suite.QUERIES["streaming_session_window_append"](spark, sf_dir).collect()
    )
    complete_rows = sorted(
        tuple(r)
        for r in suite.QUERIES["streaming_session_window"](spark, sf_dir).collect()
    )
    assert append_rows == complete_rows
    assert append_rows  # non-empty: the flush actually happened
    assert all(r[0] is None or r[0] >= 0 for r in append_rows)  # no sentinel user


def test_session_heartbeat_advances_watermark_without_aggregating(spark, tmp_path):
    """The heartbeat filter's kept-predicate references the event-time
    column (the vacuous `ts IS NULL` disjunct) precisely so
    PushPredicateThroughNonJoin cannot move it below EventTimeWatermark;
    since ADVICE r13 the placement is ALSO asserted on the optimized plan
    at build time (test_heartbeat_filter_plan_guard). Behavioral pin on a
    minimal corpus: one real event, then two heartbeat-only
    micro-batches. The real session can emit in append mode ONLY if the
    heartbeats advanced the watermark (batch 2) and a later batch carried
    the emission (batch 3) — if the filter were pushed below the
    watermark node, the heartbeats would be invisible to event time and
    the output would be empty; if heartbeats aggregated, a heartbeat
    session would appear."""
    import os

    # Row with NULL event_type: the heartbeat predicate evaluates to NULL
    # under three-valued logic — it must be KEPT (coalesce to false), not
    # silently dropped with the heartbeats.
    rows = [
        ("2024-01-01 00:00:00", 1, "click", 0, 7.0),
        ("2024-01-01 00:01:00", 2, None, 3, 5.0),
        ("2024-01-01 06:00:00", -1, "_sentinel", 1, None),
        ("2024-01-02 06:00:00", -1, "_sentinel", 2, None),
    ]
    d = str(tmp_path / "hb")
    os.makedirs(d)
    for i, (ts, uid, et, fid, val) in enumerate(rows):
        stage = str(tmp_path / f"stage{i}")
        spark.createDataFrame(
            [(100 + fid, uid, et, val)], "event_id long, user_id long, event_type string, value double"
        ).select(
            "event_id",
            F.lit(ts).cast("timestamp").alias("ts"),
            "user_id",
            "event_type",
            "value",
            F.lit(None).cast("string").alias("props"),
        ).coalesce(1).write.mode("overwrite").parquet(stage)
        part = next(p for p in os.listdir(stage) if p.endswith(".parquet"))
        os.replace(f"{stage}/{part}", f"{d}/part-{i}.parquet")
        os.utime(f"{d}/part-{i}.parquet", (1700000000 + i, 1700000000 + i))

    stream = read_event_stream(spark, d, max_files_per_trigger=1)
    out = run_to_memory_sink(
        session_aggregate(stream, heartbeat_filter=F.col("event_type") == "_sentinel"),
        "t_heartbeat_session",
        spark,
        output_mode="append",
    )
    got = sorted(tuple(r) for r in out.collect())
    assert len(got) == 2  # user 1's click AND user 2's NULL-event_type row
    assert [g[0] for g in got] == [1, 2]
    assert all(g[3] == 1 for g in got)


def test_heartbeat_filter_plan_guard(spark, event_dir):
    """assert_filter_above_watermark (ADVICE r13): the optimized-plan
    guard accepts the shipped placement (heartbeat filter applied AFTER
    withWatermark, so it stays above the EventTimeWatermark node) and
    rejects the broken placement (filter BEFORE the watermark — exactly
    the tree an over-eager pushdown would produce, where heartbeats are
    invisible to event time and append sessions never flush). Also a
    no-op on the batch twin, which has no watermark node."""
    from wicsmmiretl_spark.streaming.windows import assert_filter_above_watermark

    hb = (F.col("user_id") < 0) & (F.col("event_type") == "_sentinel")
    stream = read_event_stream(spark, event_dir)
    # Shipped placement: session_aggregate runs the guard itself at build
    # time; the explicit call is the same check, pinned here.
    good = session_aggregate(stream, heartbeat_filter=hb)
    assert_filter_above_watermark(good)
    # Batch twin: unified plan, no EventTimeWatermark node -> no-op.
    batch = spark.read.parquet(event_dir)
    assert_filter_above_watermark(session_aggregate(batch, heartbeat_filter=hb))
    # Broken placement: the same predicate applied before withWatermark
    # lands below the watermark node; the guard must refuse the plan.
    pre = stream.filter(~F.coalesce(hb, F.lit(False)) | F.col("ts").isNull())
    bad = session_aggregate(pre)  # no heartbeat_filter -> no internal guard
    with pytest.raises(AssertionError, match="EventTimeWatermark"):
        assert_filter_above_watermark(bad)
