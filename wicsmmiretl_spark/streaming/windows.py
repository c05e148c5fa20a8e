"""Structured Streaming slice (SURVEY §2.9 — engine extension; the reference
has no streaming at all).

The driver's ``events(ts, user_id, event_type, value, props)`` table is
stream-shaped; these helpers expose the standard stateful operators over it:

* tumbling / sliding window aggregation with watermark-bounded state,
* session windows (gap-based), the streaming twin of the batch
  ``sessionize_events`` suite query,
* streaming dedup within a watermark.

All helpers take either a streaming or a batch DataFrame — the same plan
compiles both ways (Spark's unified semantics), which is how the tests verify
streaming output equals the batch oracle: run with ``trigger(availableNow)``
over a file source, compare to the batch computation.

Scale notes: state store size is bounded by the watermark horizon × key
cardinality; keys here are (window, event_type) or (session, user) — at
100 TB/day ingest the state is proportional to active keys only. Shuffle
partitioning follows the grouping key; set
``spark.sql.shuffle.partitions`` to the cluster's core count before starting
the query (state store partitioning is fixed at first run).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from wicsmmiretl_spark.schemas import EVENTS


def read_event_stream(spark: SparkSession, path: str, max_files_per_trigger: int | None = None) -> DataFrame:
    """File-based event stream (parquet drop-folder). In production this is
    a Kafka source; the file source has identical downstream semantics.

    Steady-state replay mode: when ``SPARK_GRAFT_STREAM_STEADY`` is set
    (to the target micro-batch count) and the caller didn't pass an
    explicit ``max_files_per_trigger``, default it to 1 — paired with the
    time-ordered multi-file drop-folder ``suite._events_dropdir`` writes
    under the same knob, an availableNow drain then replays the corpus as
    one micro-batch per file, so the watermark advances per batch and
    stateful operators hold the in-watermark slice instead of peaking at
    full-corpus state (the r11 rehearsal artifact this mode exists to
    re-measure; VERDICT r11 item 6)."""
    import os

    if max_files_per_trigger is None and os.environ.get("SPARK_GRAFT_STREAM_STEADY"):
        max_files_per_trigger = 1
    reader = spark.readStream.schema(EVENTS)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", str(max_files_per_trigger))
    return reader.parquet(path)


def tumbling_aggregate(
    events: DataFrame,
    window_duration: str = "1 day",
    watermark: str = "1 hour",
    keys: Sequence[str] = ("event_type",),
) -> DataFrame:
    """Tumbling-window count/sum with late-data handling.

    Watermark bounds state: windows older than max(event time) - watermark
    are finalized and evicted, and rows arriving behind the committed
    watermark are dropped (documented completeness/latency trade). NB the
    drop applies against the watermark persisted at the last commit — a
    fresh query's FIRST run starts at watermark 0 and does not retro-filter
    its own earlier micro-batches; the restart path is pinned by
    tests/test_streaming.py::test_watermark_drops_late_rows_across_restart."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window_duration).alias("w"), *keys)
        .agg(F.count("*").alias("n"), F.sum("value").alias("sum_value"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            *keys,
            "n",
            "sum_value",
        )
    )


def sliding_counts(
    events: DataFrame,
    window_duration: str = "1 hour",
    slide: str = "15 minutes",
    watermark: str = "1 hour",
) -> DataFrame:
    """Sliding-window event counts per type (overlapping windows)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window_duration, slide).alias("w"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(
            F.unix_micros(F.col("w.start")).alias("window_start_us"),
            F.unix_micros(F.col("w.end")).alias("window_end_us"),
            "event_type",
            "n",
        )
    )


def session_aggregate(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    heartbeat_filter: Column | None = None,
) -> DataFrame:
    """Gap-based session windows per user (F.session_window): a session
    closes when no event arrives for ``gap``. Streaming twin of the batch
    ``sessionize_events`` suite query.

    ``heartbeat_filter``: predicate for control/punctuation rows that
    should ADVANCE event time but never aggregate (the Kafka heartbeat /
    sentinel pattern) — matching rows are dropped AFTER the watermark
    node, so Spark's event-time stats still see them (a filter placed
    before ``withWatermark`` would hide them from the watermark too, and
    closed sessions would never flush in append mode). Placement is
    load-bearing and Catalyst would undo it: PushPredicateThroughNonJoin
    pushes any conjunct that does NOT reference the watermark column
    below the EventTimeWatermark node (measured: the last micro-batch's
    sessions silently never flush). The vacuous ``ts IS NULL`` disjunct
    makes the kept-predicate reference the event-time column, which that
    rule may not push — heartbeats carry real timestamps by contract, so
    it admits no extra rows.

    That guard holds only while ``ts`` stays nullable (a non-nullable
    source schema folds ``isnull`` to false and the pushdown silently
    returns — ADVICE r13), so :func:`assert_filter_above_watermark` runs
    on the optimized plan at build time: if any optimizer change defeats
    the guard, query construction fails loudly instead of sessions
    silently never flushing. A non-deterministic vacuous disjunct is NOT
    a viable alternative guard on this engine — measured this round:
    Spark 4.1's rand-bounds simplification folds ``rand(seed) < -1``
    away outright and the remaining deterministic filter IS pushed below
    the watermark. Both behaviors are pinned by tests/test_streaming.py."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    if heartbeat_filter is not None:
        # coalesce: a row where the predicate evaluates to NULL (e.g. a
        # NULL event_type under three-valued logic) is NOT a heartbeat
        # and must be kept, not silently dropped.
        src = src.filter(
            ~F.coalesce(heartbeat_filter, F.lit(False)) | F.col("ts").isNull()
        )
    out = (
        src.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("session_value"))
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            F.unix_micros(F.col("w.end")).alias("session_end_us"),
            "n_events",
            "session_value",
        )
    )
    if heartbeat_filter is not None and events.isStreaming:
        assert_filter_above_watermark(out)
    return out


def assert_filter_above_watermark(df: DataFrame) -> None:
    """Optimized-plan guard for the heartbeat-filter placement (ADVICE
    r13): raise at query-BUILD time unless a Filter node carrying the
    heartbeat guard's markers (the ``coalesce`` wrapper / the vacuous
    ``isnull(ts)`` disjunct) sits ABOVE the EventTimeWatermark node in
    the optimized logical plan. If a schema change (non-nullable ts) or
    a future optimizer rule defeats the guard and pushes the filter
    below the watermark, append-mode sessions would silently stop
    flushing — this turns that silent wrong-answer mode into a loud
    construction failure. Plan-only, no execution: ``optimizedPlan`` is
    unreachable on an unstarted streaming DataFrame (the batch-execution
    check rejects it), so the session's optimizer is applied to the
    analyzed plan directly — the same logical rule batches (including
    every pushdown rule) the micro-batch planner will run. No-op for
    plans without a watermark node (the batch twin of the unified
    plan)."""
    qe = df._jdf.queryExecution()
    opt = df.sparkSession._jsparkSession.sessionState().optimizer().execute(qe.analyzed())
    lines = opt.toString().splitlines()
    wm = [i for i, ln in enumerate(lines) if "EventTimeWatermark" in ln]
    if not wm:
        return
    # ("isnull(" does not substring-match the session_window's own
    # "isnotnull(" conjunct — distinct spellings.)
    flt = [
        i
        for i, ln in enumerate(lines)
        if "Filter" in ln and ("coalesce(" in ln or "isnull(" in ln)
    ]
    # toString prints parents first (children indented below), so "above
    # the watermark" == a smaller line index than the watermark node's.
    if not flt or min(flt) > min(wm):
        raise AssertionError(
            "heartbeat filter was optimized below the EventTimeWatermark "
            "node — heartbeats would no longer advance event time and "
            "append-mode sessions would never flush. Optimized plan:\n"
            + "\n".join(lines)
        )


def stream_dedup(events: DataFrame, keys: Sequence[str] = ("event_id",), watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: drop repeats of ``keys`` within the watermark
    horizon (state bounded by watermark; exactly the semantics a replayed
    at-least-once source needs).

    Batch-cadence caveat (ADVICE r12): dropDuplicatesWithinWatermark
    evicts a key's state once the watermark passes it, so a duplicate
    pair separated by MORE than the horizon survives a multi-batch
    (steady) replay but collapses in a single-batch drain — equality of
    the two cadences holds exactly when no duplicate pair spans the
    horizon. True for the shipped testdata (pytest pins it row-for-row
    at 8 batches), corpus-dependent in general."""
    if events.isStreaming:
        return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(list(keys))
    return events.dropDuplicates(list(keys))


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    upper: str = "30 minutes",
    watermark: str = "2 hours",
    left_prefix: str = "l_",
    right_prefix: str = "r_",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream (or batch-batch — unified plan) interval equi-join:
    pairs a left row with every right row of the same ``key`` whose event
    time falls in ``[left.ts, left.ts + upper]``.

    Streaming semantics: BOTH sides carry watermarks, and the join condition
    contains the event-time bound — that pair is what lets Spark evict
    buffered state (a side's row can be dropped once the other side's
    watermark passes its join horizon). Without the time bound the state
    store grows without limit; this helper makes the bound structural.

    ``how='left_outer'`` additionally emits every unmatched left row with
    NULL right columns — the "clicks that never converted" shape. Outer
    emission semantics (and why this mode has NO DuckDB oracle in the
    suite): an unmatched left row is only emitted once the watermark has
    passed its join horizon AND a LATER micro-batch runs to carry the
    emission — Spark computes the watermark at batch boundaries, so the
    final rows of a drained ``availableNow`` source never flush unless
    extra batches follow. A batch left-outer join has no such dependence,
    making a side-by-side oracle flaky by construction. The deterministic
    harness (tests/test_streaming.py) forces the flush with two far-future
    sentinel files behind ``maxFilesPerTrigger=1``: sentinel batch 1
    advances the watermark past every real row's horizon, sentinel batch 2
    runs under that watermark and emits the stragglers.

    All columns come back prefixed (``l_``/``r_``) — interval joins are
    many-to-many, so no column can be silently preferred.

    Scale notes: the shuffle key is ``key`` (user-grade cardinality — no
    skew concentration); state per side is bounded by
    watermark-horizon × per-key event rate. At 100 TB/day the same plan
    holds: the join never buffers more than the horizon (outer mode holds
    rows exactly until their horizon closes, then emits and evicts — same
    bound, plus the emission latency of one watermark delay).
    """
    if how not in ("inner", "left_outer"):
        raise ValueError(
            f"interval_join: how must be 'inner' or 'left_outer', got {how!r}"
        )
    l = left.select([F.col(c).alias(f"{left_prefix}{c}") for c in left.columns])
    r = right.select([F.col(c).alias(f"{right_prefix}{c}") for c in right.columns])
    if left.isStreaming:
        l = l.withWatermark(f"{left_prefix}{ts_col}", watermark)
    if right.isStreaming:
        r = r.withWatermark(f"{right_prefix}{ts_col}", watermark)
    lts, rts = F.col(f"{left_prefix}{ts_col}"), F.col(f"{right_prefix}{ts_col}")
    cond = (
        (F.col(f"{left_prefix}{key}") == F.col(f"{right_prefix}{key}"))
        & (rts >= lts)
        & (rts <= lts + F.expr(f"INTERVAL {upper}"))
    )
    return l.join(r, cond, how)


def stream_static_enrich(
    stream_df: DataFrame,
    dim_df: DataFrame,
    on: str | Sequence[str],
    how: str = "left",
    broadcast: bool = True,
) -> DataFrame:
    """Stream-static enrichment join — the most common production streaming
    shape (attach dimension attributes to a fact stream before windowing).

    Stateless by construction: Spark re-plans the STATIC side per
    micro-batch, so no state store exists and no watermark is needed for
    the join itself (only for any downstream aggregation). With
    ``broadcast=True`` (default, correct for any dimension that fits an
    executor) each micro-batch is a map-side hash join — the stream never
    shuffles for the join. ``how='left'`` keeps unmatched facts (enrichment
    must not drop rows — NULL attributes are a data-quality signal, not a
    filter); inner is opt-in.

    At 100 TB-of-stream the dimension refresh pattern matters more than the
    join: re-read the dim per batch (this plan) gives eventual freshness;
    a pinned dim needs an explicit re-broadcast cycle. Documented here
    because both look identical in a small test."""
    d = F.broadcast(dim_df) if broadcast else dim_df
    return stream_df.join(d, on, how)


def run_to_memory_sink(
    stream_df: DataFrame,
    name: str,
    spark: SparkSession,
    output_mode: str = "complete",
    shuffle_partitions: int | None = None,
) -> DataFrame:
    """Execute a streaming plan to completion over currently-available data
    (trigger availableNow) into an in-memory table; returns the result as a
    batch DataFrame. Test/debug harness — production uses a real sink.

    ``output_mode``: 'complete' for aggregations (emits all windows even if
    the final watermark hasn't closed them); 'append' for non-aggregating
    plans like stream_dedup.

    ``shuffle_partitions``: stateful operators instantiate one state store
    per shuffle partition, and that count is FIXED at the query's first run
    — so it should be sized to the query's steady per-batch throughput, not
    to the session's batch-oriented default. For a bounded availableNow
    drain like this harness, a small value (e.g. 8) cuts the fixed
    per-partition state-store cost ~3x (measured: the sf0.1 interval join
    drops 5.9s -> 2.6s going 32 -> 8); a production always-on query sizes
    it to cluster cores instead. The session conf is restored afterwards —
    the override applies only to this query (partitioning is captured at
    start).

    The graph loops scope the same conf through ``loopconf.scoped_conf``
    (``@loop_scoped``); here the conf is the only lever: stateful
    streaming operators require exactly ``spark.sql.shuffle.partitions``
    state partitions, recorded in the checkpoint at first-batch planning — an explicit
    repartition upstream cannot override it, so there is no plan-local
    equivalent. Concurrency caveat: a query planned on the same session
    during the drain sees the reduced value — this harness is test/bench
    scaffolding, run it sequentially."""
    prev = (
        spark.conf.get("spark.sql.shuffle.partitions")
        if shuffle_partitions is not None
        else None
    )
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    return spark.table(name)


def stream_hll_registers(
    stream_df: DataFrame,
    col: str,
    spark: SparkSession,
    p: int = 9,
    shuffle_partitions: int | None = 8,
) -> DataFrame:
    """Fold a mergeable HyperLogLog sketch over a stream: each micro-batch
    aggregates to its own register table (<= 2**p rows) and merges into
    driver-held state by elementwise max — the sketch-over-stream pattern
    (count distinct users over an unbounded feed with O(2**p) memory,
    no stateful shuffle operator, no watermark needed).

    Correctness properties that make this safe where a counting fold is
    not: max is associative, commutative, AND idempotent, so at-least-once
    delivery (a replayed micro-batch after driver failure) folds to the
    same registers — no exactly-once sink machinery required, and the
    drained registers equal the batch ``hll_sketch`` of the full data
    bit-for-bit. Driver traffic is <= 2**p small rows per batch;
    the driver state is one dict of <= 2**p ints.

    Returns the merged register table as a batch DataFrame
    (bucket int, reg int) — feed it to ``hll_estimate``.
    """
    from wicsmmiretl_spark.operators.aggregates import hll_sketch

    state: dict[int, int] = {}

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        for r in hll_sketch(batch_df, col, p=p).collect():
            b = int(r["bucket"])
            state[b] = max(state.get(b, 0), int(r["reg"]))

    prev = (
        spark.conf.get("spark.sql.shuffle.partitions")
        if shuffle_partitions is not None
        else None
    )
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.foreachBatch(fold)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    rows = sorted(state.items())
    return spark.createDataFrame(rows, "bucket int, reg int")


def stream_cms_sketch(
    stream_df: DataFrame,
    col: str,
    spark: SparkSession,
    depth: int = 4,
    width: int = 2048,
    shuffle_partitions: int | None = 8,
) -> DataFrame:
    """Fold a count-min sketch over a stream: each micro-batch aggregates
    to its own (j, bucket, cnt) table (≤ depth×width rows) and ADDS into
    driver-held counters — heavy-hitter screening over an unbounded feed
    with O(depth×width) memory and no stateful shuffle operator.

    Unlike the HLL fold (max — idempotent), CMS merges by ADDITION, so
    at-least-once replay WOULD double-count: this fold therefore tracks
    processed batch ids and skips re-deliveries (the standard
    foreachBatch idempotence recipe; batch ids are stable across
    restarts with a checkpoint). Estimates remain never-under for the
    delivered data.

    Returns the merged sketch as a batch DataFrame (j int, bucket int,
    cnt bigint) — feed it to ``cms_estimate`` / ``cms_heavy_hitters``'s
    probe path.
    """
    from wicsmmiretl_spark.operators.aggregates import cms_sketch

    counters: dict[tuple[int, int], int] = {}
    seen_batches: set[int] = set()

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in seen_batches:
            return
        seen_batches.add(batch_id)
        for r in cms_sketch(batch_df, col, depth=depth, width=width).collect():
            key = (int(r["j"]), int(r["bucket"]))
            counters[key] = counters.get(key, 0) + int(r["cnt"])

    prev = (
        spark.conf.get("spark.sql.shuffle.partitions")
        if shuffle_partitions is not None
        else None
    )
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.foreachBatch(fold)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    rows = sorted((j, b, c) for (j, b), c in counters.items())
    return spark.createDataFrame(rows, "j: int, bucket: int, cnt: bigint")


def stream_histogram(
    stream_df: DataFrame,
    value_col: str,
    spark: SparkSession,
    lo: float,
    hi: float,
    buckets: int,
    shuffle_partitions: int | None = 8,
) -> DataFrame:
    """Fold a fixed-bin histogram over a stream: each micro-batch
    aggregates to its own (bucket, lo, hi, n) table (≤ buckets+2 rows)
    and ADDS into driver-held counters — the streaming producer for
    ``aggregates.histogram_quantiles``' mergeable quantile path, with
    O(buckets) memory and no stateful shuffle operator.

    Addition-merged like the CMS fold (NOT idempotent like HLL maxima),
    so at-least-once re-deliveries are skipped by batch id — the
    standard foreachBatch idempotence recipe. The folded state equals
    the batch histogram over the delivered rows, so a batch oracle
    replays it exactly.

    Returns the merged state as a batch DataFrame (bucket int, lo
    double, hi double, n bigint).
    """
    from wicsmmiretl_spark.operators.aggregates import histogram

    counters: dict[int, int] = {}
    seen_batches: set[int] = set()

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in seen_batches:
            return
        seen_batches.add(batch_id)
        for r in histogram(batch_df, value_col, lo, hi, buckets).collect():
            b = int(r["bucket"])
            counters[b] = counters.get(b, 0) + int(r["n"])

    prev = (
        spark.conf.get("spark.sql.shuffle.partitions")
        if shuffle_partitions is not None
        else None
    )
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        q = (
            stream_df.writeStream.foreachBatch(fold)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        if prev is not None:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
    width = (hi - lo) / buckets
    rows = sorted((b, lo + b * width, lo + (b + 1) * width, c) for b, c in counters.items())
    return spark.createDataFrame(rows, "bucket: int, lo: double, hi: double, n: bigint")


def stream_psi(
    stream_df: DataFrame,
    value_col: str,
    spark: SparkSession,
    reference: DataFrame,
    ref_value_col: str,
    lo: float,
    hi: float,
    bins: int = 10,
) -> DataFrame:
    """Drift monitoring OVER A STREAM: fold the CURRENT distribution's
    PSI bin counts micro-batch by micro-batch (addition-merged with
    batch-id replay protection — the ``stream_histogram`` fold
    discipline) and score them against a STATIC reference table's bin
    counts. Bin counts are the natural mergeable state for PSI — the
    streaming monitor costs O(bins) memory and no stateful shuffle
    operator, and the folded state equals the batch bin counts over the
    delivered rows, so a batch oracle replays the score exactly.

    Both sides bin through ``aggregates.psi_bin_expr`` (the SAME literal
    edges) and the score comes from ``aggregates.psi_from_binned`` (the
    same smoothing), so batch and streaming PSI are one definition.

    Returns a one-row batch DataFrame (n_ref, n_cur bigint, psi double).
    """
    from wicsmmiretl_spark.operators.aggregates import (
        psi_bin_expr,
        psi_from_binned,
    )

    counters: dict[int, int] = {}
    seen_batches: set[int] = set()

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if batch_id in seen_batches:
            return
        seen_batches.add(batch_id)
        rows = (
            batch_df.filter(F.col(value_col).cast("double").isNotNull())
            .groupBy(psi_bin_expr(value_col, lo, hi, bins).alias("_bin"))
            .agg(F.count("*").alias("_n"))
            .collect()
        )
        for r in rows:
            b = int(r["_bin"])
            counters[b] = counters.get(b, 0) + int(r["_n"])

    q = (
        stream_df.writeStream.foreachBatch(fold)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()

    cur = spark.createDataFrame(
        [(b, n) for b, n in counters.items()] or [(-1, 0)],
        "_bin: int, _cc: bigint",
    ).groupBy("_bin").agg(F.sum("_cc").alias("_cc"))
    ref = (
        reference.filter(F.col(ref_value_col).cast("double").isNotNull())
        .groupBy(psi_bin_expr(ref_value_col, lo, hi, bins).alias("_bin"))
        .agg(F.count("*").alias("_cr"))
    )
    counts = ref.join(cur, "_bin", "full").select(
        "_bin",
        F.coalesce("_cr", F.lit(0)).alias("_cr"),
        F.coalesce("_cc", F.lit(0)).alias("_cc"),
    )
    return psi_from_binned(counts, bins)
