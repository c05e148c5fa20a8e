"""Aggregations (SURVEY §2.4 A1-A9).

The reference's 36-scan stats fan-out (f30k_vs_coco_vs_wicsmmir_v2.ipynb
cells 19-21 — min/max/mean/median per column, per dataset, per backend, each
a separate full pass) collapses into ONE grouped aggregation: partial
(map-side) agg → single shuffle on the grouping key → final agg. At 100 TB
that is the difference between 36 table scans and 1.

Median: exact ``F.median`` (Spark ≥3.4, matches DuckDB ``median``) for
correctness surfaces; ``percentile_approx`` is the documented 100 TB path
(single-pass, mergeable sketch — exact median requires a full sort per
group).
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

STAT_FNS = {
    "min": F.min,
    "max": F.max,
    "mean": F.avg,
    "median": F.median,
    "sum": F.sum,
}


def column_stats(df: DataFrame, columns: Sequence[str], stats: Sequence[str] = ("min", "max", "mean", "median")) -> DataFrame:
    """A2-A6: per-column stats in one pass (one row out).

    Output columns are named ``{stat}_{col}`` so oracle SQL can alias
    identically.
    """
    aggs = [STAT_FNS[s](c).alias(f"{s}_{c}") for s in stats for c in columns]
    return df.agg(*aggs)


def grouped_stats_matrix(
    df: DataFrame,
    group_cols: Sequence[str],
    value_cols: Sequence[str],
    stats: Sequence[str] = ("min", "max", "mean", "median"),
) -> DataFrame:
    """A9: the comparison-matrix assembly as one grouped agg.

    Reference stacks 36 independent scalar aggregations into a labelled
    pandas frame (…v2.ipynb cells 20-21); here ``groupBy(dataset, backend)``
    computes the whole matrix in one shuffle.
    """
    aggs = [STAT_FNS[s](c).alias(f"{s}_{c}") for s in stats for c in value_cols]
    return df.groupBy(*group_cols).agg(*aggs)


def null_count(df: DataFrame, column: str) -> Column:
    """A7: count of NULLs in a column (failed-download count,
    wikicaps_etl_pipeline.py:94). Use inside ``df.agg(...)``."""
    return F.count_if(F.col(column).isNull()).alias(f"null_count_{column}")


def approx_stats(df: DataFrame, columns: Sequence[str], rsd: float = 0.05) -> DataFrame:
    """Scale-path stats: approx distinct + approx median per column, one pass,
    mergeable sketches only (HLL++ / KLL) — safe at any SF."""
    aggs = []
    for c in columns:
        aggs.append(F.approx_count_distinct(c, rsd).alias(f"approx_distinct_{c}"))
        aggs.append(F.percentile_approx(c, 0.5, 10000).alias(f"approx_median_{c}"))
    return df.agg(*aggs)


_INTERVAL_UNITS_US = {
    "second": 1_000_000, "seconds": 1_000_000,
    "minute": 60_000_000, "minutes": 60_000_000,
    "hour": 3_600_000_000, "hours": 3_600_000_000,
    "day": 86_400_000_000, "days": 86_400_000_000,
}


def trailing_aggregate(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    window: str = "1 hour",
) -> DataFrame:
    """Event-time trailing (rolling) aggregates per key: for EVERY row, the
    sum/count/mean of ``value_col`` over ``[ts - window, ts]`` within the
    same key group — the standard rolling-feature shape (per-user trailing
    spend, per-source trailing document rate).

    Implemented as a RANGE frame over ``unix_micros(ts)`` ordering: ONE
    shuffle on the key, then a per-partition ordered scan. The naive
    alternative — a banded interval self-join — reads and shuffles the
    table twice and emits O(rows × in-window density) intermediate pairs;
    the RANGE frame is linear per partition after the sort. ``window`` is
    ``"<n> <unit>"`` with unit in seconds/minutes/hours/days (parsed
    driver-side; no interval arithmetic in the frame spec, which Spark
    requires to be numeric).

    Appends ``trailing_sum``, ``trailing_n``, ``trailing_mean``.
    """
    try:
        n_str, unit = window.split()
        span_us = int(float(n_str) * _INTERVAL_UNITS_US[unit])
    except (ValueError, KeyError) as exc:
        raise ValueError(
            f"trailing_aggregate: window must be '<n> <seconds|minutes|hours|days>', got {window!r}"
        ) from exc
    us = F.unix_micros(F.col(ts_col))
    w = (
        Window.partitionBy(*key_cols)
        .orderBy(us)
        .rangeBetween(-span_us, Window.currentRow)
    )
    return (
        df.withColumn("trailing_sum", F.sum(value_col).over(w))
        .withColumn("trailing_n", F.count(value_col).over(w))
        .withColumn("trailing_mean", F.col("trailing_sum") / F.col("trailing_n"))
    )


def skew_report(df: DataFrame, key_cols: Sequence[str], top_n: int = 10) -> DataFrame:
    """Key-skew diagnostic: exact per-key counts for the ``top_n`` heaviest
    keys plus each key's share of the table — the number you need to decide
    whether a join wants ``salted_join`` (operators/joins.py) or AQE alone.

    One partial-agg count (shuffle carries one row per distinct key) + a
    broadcast-scalar total + TakeOrdered top-n. Safe at any scale; output
    is at most ``top_n`` rows.
    """
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("n_rows"))
    total = df.count()
    return (
        counts.orderBy(F.desc("n_rows"), *[F.asc(c) for c in key_cols])
        .limit(top_n)
        .withColumn("share", F.round(F.col("n_rows") / F.lit(float(total)), 6))
    )


_MERGEABLE = {"count", "sum", "min", "max"}


def incremental_agg_build(
    df: DataFrame, key_cols: Sequence[str], specs: dict[str, tuple[str, str | None]]
) -> DataFrame:
    """Build a mergeable aggregate snapshot: one row per key, one state
    column per spec. ``specs`` maps output column → (agg, input column),
    agg ∈ {count, sum, min, max} — the algebraic aggregates whose partial
    states merge associatively (mean = sum/count at read time; median and
    other holistic aggregates are intentionally NOT supported — they can't
    be maintained incrementally without sketches).

    The point at 100 TB: a metrics table over an append-only fact stream is
    maintained by aggregating ONLY each new delta batch and merging states
    (``incremental_agg_merge``) — the base data is never rescanned. For
    exact double sums across engines, pre-scale to integers (the suite's
    exact-sum contract); ``sum`` is computed on the column as passed.
    """
    aggs = []
    for out, (agg, col) in specs.items():
        if agg not in _MERGEABLE:
            raise ValueError(
                f"incremental_agg: '{agg}' is not mergeable (supported: {sorted(_MERGEABLE)})"
            )
        if agg == "count":
            aggs.append(F.count(F.lit(1)).alias(out))
        else:
            aggs.append(getattr(F, agg)(col).alias(out))
    return df.groupBy(*key_cols).agg(*aggs)


def incremental_agg_merge(
    snapshot: DataFrame,
    delta_state: DataFrame,
    key_cols: Sequence[str],
    specs: dict[str, tuple[str, str | None]],
) -> DataFrame:
    """Merge two aggregate states (snapshot ⊎ delta) into the next
    snapshot: counts and sums add, mins take min, maxes take max. Both
    inputs must be outputs of ``incremental_agg_build`` with the same
    ``specs``. One groupBy over pre-aggregated state rows — |keys|-sized,
    not |facts|-sized. Insert-only deltas (no retractions): deletions
    require re-aggregating the affected partitions upstream.
    """
    merged = snapshot.unionByName(delta_state)
    aggs = []
    for out, (agg, _col) in specs.items():
        merge_fn = F.sum if agg in ("count", "sum") else getattr(F, agg)
        aggs.append(merge_fn(out).alias(out))
    return merged.groupBy(*key_cols).agg(*aggs)


def histogram(
    df: DataFrame,
    value_col: str,
    lo: float,
    hi: float,
    buckets: int,
) -> DataFrame:
    """Fixed-width histogram over ``[lo, hi)``: one partial-aggregated
    groupBy on the bucket index — the profiling primitive that stays a
    single map-side-combined pass at any scale (no sort, no per-bucket
    subqueries). Values below ``lo`` land in bucket -1, values at or above
    ``hi`` in bucket ``buckets``; NULLs are dropped. Bucket edges are
    derived from the index so the output is reproducible from (lo, hi,
    buckets) alone.

    Output: bucket (int), lo (double), hi (double), n (bigint).
    """
    if not hi > lo:
        raise ValueError(f"histogram: need hi > lo, got [{lo}, {hi})")
    if buckets < 1:
        raise ValueError(f"histogram: buckets must be >= 1, got {buckets}")
    width = (hi - lo) / buckets
    v = F.col(value_col).cast("double")
    # least(..., buckets-1): when width rounds DOWN in fp, (v-lo)/width for
    # an in-range v just below hi can land exactly on `buckets` — clamp so
    # in-range values never leak into the overflow bucket.
    idx = (
        F.when(v < lo, F.lit(-1))
        .when(v >= hi, F.lit(buckets))
        .otherwise(
            F.least(
                F.floor((v - F.lit(lo)) / F.lit(width)).cast("int"),
                F.lit(buckets - 1),
            )
        )
    )
    return (
        df.filter(v.isNotNull())
        .groupBy(idx.cast("int").alias("bucket"))
        .agg(F.count("*").alias("n"))
        .select(
            "bucket",
            (F.lit(lo) + F.col("bucket") * F.lit(width)).alias("lo"),
            (F.lit(lo) + (F.col("bucket") + 1) * F.lit(width)).alias("hi"),
            "n",
        )
    )


def hll_sketch(
    df: DataFrame, col: str, p: int = 9
) -> DataFrame:
    """HyperLogLog register table for approximate COUNT DISTINCT
    (Flajolet et al. 2007 — public literature), built deterministically
    from md5 so the sketch is identical on any engine/partitioning:

    * bucket = (first 16 md5 bits) mod 2**p,
    * w      = the next 32 md5 bits (disjoint hex range),
    * rho    = 33 - bit_length(w)  (w = 0 → 33),
    * register = max(rho) per bucket — ONE partial-aggregated groupBy.

    Every step is integer/string arithmetic (bit length via the binary
    string, no log2, no decimal division), so a SQL oracle reproduces the
    registers bit-for-bit. Registers are MERGEABLE (elementwise max), so
    sketches from delta batches fold like ``incremental_agg_merge`` states
    — distinct-count an append-only stream without rescanning the base.
    NULLs are excluded (SQL COUNT DISTINCT semantics).

    Output: (bucket int, reg int); at most 2**p rows.
    """
    if not 4 <= p <= 16:
        raise ValueError(f"hll_sketch: p must be in [4, 16], got {p}")
    h = F.md5(F.col(col).cast("string"))
    first16 = F.conv(F.substring(h, 1, 4), 16, 10).cast("long")
    w = F.conv(F.substring(h, 5, 8), 16, 10).cast("long")
    bucket = first16 % F.lit(2**p)
    rho = F.when(w == 0, F.lit(33)).otherwise(F.lit(33) - F.length(F.bin(w)))
    return (
        df.filter(F.col(col).isNotNull())
        .select(bucket.cast("int").alias("bucket"), rho.cast("int").alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("reg"))
    )


def hll_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two register tables (same ``p``): elementwise max."""
    return a.unionByName(b).groupBy("bucket").agg(F.max("reg").alias("reg"))


def hll_estimate(registers: DataFrame, p: int = 9) -> DataFrame:
    """Cardinality estimate from a register table. The harmonic denominator
    Σ 2^-reg is computed EXACTLY: each term scaled by 2^33 is the integer
    2^(33-reg) (reg ≤ 33), summed as longs — no double-accumulation order
    anywhere. Includes the standard small-range linear-counting correction
    (its ln() is the only libm call; the final 4dp round absorbs its ulp).

    Output: one row (estimate double, 4dp).
    """
    if not 4 <= p <= 16:
        raise ValueError(f"hll_estimate: p must be in [4, 16], got {p}")
    m = 2**p
    # Flajolet et al. give exact alpha for small m; the 0.7213 expression is
    # the m >= 128 asymptote.
    alpha = {4: 0.673, 5: 0.697, 6: 0.709}.get(p, 0.7213 / (1.0 + 1.079 / m))
    alpha_m2 = alpha * m * m
    term = F.pow(F.lit(2.0), (F.lit(33) - F.col("reg")).cast("double")).cast("long")
    agg = registers.agg(
        F.coalesce(F.sum(term), F.lit(0)).alias("sum_i"),
        F.count("*").alias("nonzero"),
    )
    # Buckets never touched by any row contribute 2^-0 = 1 each.
    denom = (
        F.col("sum_i").cast("double") / F.lit(float(2**33))
        + (F.lit(m) - F.col("nonzero")).cast("double")
    )
    raw = F.lit(alpha_m2) / denom
    zeros = (F.lit(m) - F.col("nonzero")).cast("double")
    linear = F.lit(float(m)) * F.log(F.lit(float(m)) / zeros)
    est = F.when((raw <= F.lit(2.5 * m)) & (zeros > 0), linear).otherwise(raw)
    # A register table built with a LARGER p than claimed has more than m
    # buckets — the estimate would silently go negative. Fail in-plan.
    checked = F.when(F.col("nonzero") <= F.lit(m), est).otherwise(
        F.raise_error(
            F.concat(
                F.lit(f"hll_estimate: register table has "),
                F.col("nonzero").cast("string"),
                F.lit(f" buckets but p={p} allows at most {m} — p mismatch"),
            )
        ).cast("double")
    )
    return agg.select(F.round(checked, 4).alias("estimate"))


def corr_matrix(df: DataFrame, cols: Sequence[str], scale: int = 4) -> DataFrame:
    """Pairwise Pearson correlations of numeric columns in ONE aggregation
    pass — the feature-screening matrix over a fact table.

    Engine-exact by the suite's integer-sum discipline: every moment
    (Σx, Σx², Σxy) is accumulated in scaled-integer space — per-row values
    round to ``scale`` decimals, products stay within int64, sums run in
    decimal(38)/hugeint so no ordering effect exists — and only the final
    closed-form r converts the exact sums to double (identical IEEE
    rounding from identical integers on any engine). Zero-variance columns
    yield NULL, not a division blow-up. Rows with a NULL in ANY requested
    column are dropped (listwise deletion), so every pair sees the same n.

    100 TB shape: a single scan with map-side partial aggregation of
    k + k + k(k-1)/2 counters; nothing else moves. Output is long-form:
    col_x string, col_y string, n bigint, corr double (6dp) — one row per
    unordered pair in input order.
    """
    if len(cols) < 2:
        raise ValueError(f"corr_matrix: need at least 2 columns, got {list(cols)}")
    if len(set(cols)) != len(cols):
        raise ValueError(f"corr_matrix: duplicate columns in {list(cols)}")
    missing = [c for c in cols if c not in df.columns]
    if missing:
        raise ValueError(f"corr_matrix: columns {missing} not in {df.columns}")
    mult = 10**scale
    keep = None
    for c in cols:
        cond = F.col(c).isNotNull()
        keep = cond if keep is None else (keep & cond)
    base = df.filter(keep)
    ints = {c: F.round(F.col(c) * mult).cast("long") for c in cols}
    dec = "decimal(38,0)"
    aggs = [F.count("*").alias("_n")]
    for c in cols:
        aggs.append(F.sum(ints[c].cast(dec)).alias(f"_s_{c}"))
        aggs.append(F.sum((ints[c] * ints[c]).cast(dec)).alias(f"_q_{c}"))
    pairs = [(a, b) for i, a in enumerate(cols) for b in list(cols)[i + 1 :]]
    for a, b in pairs:
        aggs.append(F.sum((ints[a] * ints[b]).cast(dec)).alias(f"_p_{a}_{b}"))
    wide = base.agg(*aggs)

    def _r(a: str, b: str):
        n = F.col("_n").cast("double")
        sx, sy = F.col(f"_s_{a}").cast("double"), F.col(f"_s_{b}").cast("double")
        qx, qy = F.col(f"_q_{a}").cast("double"), F.col(f"_q_{b}").cast("double")
        pxy = F.col(f"_p_{a}_{b}").cast("double")
        num = n * pxy - sx * sy
        den = F.sqrt(n * qx - sx * sx) * F.sqrt(n * qy - sy * sy)
        return F.when(den == 0, F.lit(None).cast("double")).otherwise(
            F.round(num / den, 6)
        )

    structs = F.array(
        *[
            F.struct(
                F.lit(a).alias("col_x"),
                F.lit(b).alias("col_y"),
                F.col("_n").alias("n"),
                _r(a, b).alias("corr"),
            )
            for a, b in pairs
        ]
    )
    return wide.select(F.explode(structs).alias("_r")).select("_r.*")


def cms_sketch(df: DataFrame, col: str, depth: int = 4, width: int = 2048) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005 — public literature)
    of a value stream, built deterministically from md5 so any engine
    reproduces it bit-for-bit: hash row j takes the j-th disjoint 16-bit
    slice of ``md5(value)`` mod ``width``. ONE partial-aggregated groupBy
    over ``depth`` exploded entries per row; output is at most
    ``depth × width`` rows regardless of input size, and sketches MERGE by
    elementwise addition (``cms_merge``) — count a 100 TB append-only
    stream per-batch and fold, never rescanning. NULLs are excluded.

    Output: (j int, bucket int, cnt bigint).
    """
    if not 1 <= depth <= 8:
        raise ValueError(f"cms_sketch: depth must be in [1, 8] (md5 has 8 16-bit slices), got {depth}")
    if not 2 <= width <= 65536:
        raise ValueError(f"cms_sketch: width must be in [2, 65536], got {width}")
    h = F.md5(F.col(col).cast("string"))
    entries = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (F.conv(F.substring(h, 1 + 4 * j, 4), 16, 10).cast("long") % width)
                .cast("int")
                .alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    return (
        df.filter(F.col(col).isNotNull())
        .select(F.explode(entries).alias("_e"))
        .select("_e.*")
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_merge(a: DataFrame, b: DataFrame) -> DataFrame:
    """Merge two sketches with identical (depth, width): elementwise sum."""
    return a.unionByName(b).groupBy("j", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_estimate(
    sketch: DataFrame, candidates: DataFrame, col: str, depth: int = 4, width: int = 2048
) -> DataFrame:
    """Point-query the sketch for each candidate value: the estimate is the
    MIN over the ``depth`` bucket counters (never an underestimate — the
    guarantee heavy-hitter screening relies on). The sketch is at most
    depth×width rows, so the probe is a broadcast join; candidates stream
    through map-side at any cardinality.

    Output: (value <candidate type>, est bigint).
    """
    h = F.md5(F.col(col).cast("string"))
    entries = F.array(
        *[
            F.struct(
                F.lit(j).alias("j"),
                (F.conv(F.substring(h, 1 + 4 * j, 4), 16, 10).cast("long") % width)
                .cast("int")
                .alias("bucket"),
            )
            for j in range(depth)
        ]
    )
    probes = (
        candidates.filter(F.col(col).isNotNull())
        .dropDuplicates([col])
        .select(F.col(col).alias("value"), F.explode(entries).alias("_e"))
        .select("value", "_e.*")
    )
    return (
        probes.join(F.broadcast(sketch), ["j", "bucket"], "left")
        .groupBy("value")
        .agg(F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est"))
    )


def cms_heavy_hitters(
    df: DataFrame, col: str, min_frac: float, depth: int = 4, width: int = 2048
) -> DataFrame:
    """Values whose estimated frequency is ≥ ``min_frac`` of the stream
    length — a guaranteed SUPERSET of the true heavy hitters (CMS only
    overestimates; with width w the overshoot is ≤ N·e/w w.h.p.). The
    stream length N is recovered from the sketch itself (any row sums to
    N), so the screen needs no second exact pass.

    Output: (value, est bigint), est descending, value as tiebreak.
    """
    if not 0 < min_frac <= 1:
        raise ValueError(f"cms_heavy_hitters: min_frac must be in (0, 1], got {min_frac}")
    sketch = cms_sketch(df, col, depth=depth, width=width)
    total = sketch.filter(F.col("j") == 0).agg(F.sum("cnt").alias("_n"))
    est = cms_estimate(sketch, df, col, depth=depth, width=width)
    return (
        est.crossJoin(F.broadcast(total))
        .filter(F.col("est") >= F.ceil(F.lit(min_frac) * F.col("_n")).cast("long"))
        .select("value", "est")
        .orderBy(F.desc("est"), F.asc("value"))
    )


def profile_table(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Column-level profile in long format: one output row per column with
    (n_rows, n_nulls, null_frac, n_distinct). ONE aggregation pass builds
    every metric; the long shape comes from exploding a literal struct
    array afterwards (no per-column scans). Exact distincts are the
    correctness surface; at 100 TB swap them for ``hll_sketch`` estimates
    (mergeable, one-pass) — the shape of the output doesn't change.

    Output: column string, n_rows bigint, n_nulls bigint,
    null_frac double (6dp), n_distinct bigint.
    """
    aggs = [F.count(F.lit(1)).alias("_n")]
    for c in columns:
        aggs.append(F.count_if(F.col(c).isNull()).alias(f"_nn_{c}"))
        aggs.append(F.count_distinct(c).alias(f"_nd_{c}"))
    one = df.agg(*aggs)
    entries = F.array(
        *[
            F.struct(
                F.lit(c).alias("column"),
                F.col(f"_nn_{c}").alias("n_nulls"),
                F.col(f"_nd_{c}").alias("n_distinct"),
            )
            for c in columns
        ]
    )
    return one.select(F.col("_n").alias("n_rows"), F.explode(entries).alias("e")).select(
        F.col("e.column").alias("column"),
        "n_rows",
        F.col("e.n_nulls").alias("n_nulls"),
        F.round(F.col("e.n_nulls") / F.col("n_rows"), 6).alias("null_frac"),
        F.col("e.n_distinct").alias("n_distinct"),
    )


def robust_outliers(
    df: DataFrame,
    value_col: str,
    key_cols: Sequence[str],
    threshold: float = 3.5,
) -> DataFrame:
    """Robust per-group outlier flagging via the modified z-score
    (Iglewicz/Hoaglin): 0.6745 * (x - median) / MAD, flagged when its
    absolute value exceeds ``threshold``. Median/MAD resist the very
    outliers being hunted (mean/stddev get dragged by them).

    Two grouped exact medians + two equi-joins, all on the same key —
    the shuffle partitioning is computed once and reused. When MAD = 0
    (half the group identical), the z-score is NULL and a row is an
    outlier iff it differs from the median.

    Appends ``robust_z`` (double) and ``is_outlier`` (boolean).
    """
    keys = list(key_cols)

    def _nullsafe_attach(left: DataFrame, right: DataFrame, extra: str) -> DataFrame:
        # groupBy keeps NULL keys as a real group, but a plain equi-join
        # would drop those rows (NULL never equals NULL) — attach the stats
        # null-safely so NULL-keyed groups are scanned like any other.
        l, r = left.alias("__l__"), right.alias("__r__")
        cond = [F.col(f"__l__.{k}").eqNullSafe(F.col(f"__r__.{k}")) for k in keys]
        return l.join(r, cond).select(
            *[F.col(f"__l__.{c}") for c in left.columns], F.col(f"__r__.{extra}")
        )

    med = df.groupBy(*keys).agg(F.median(value_col).alias("_med"))
    with_med = _nullsafe_attach(df, med, "_med")
    mad = with_med.groupBy(*keys).agg(
        F.median(F.abs(F.col(value_col) - F.col("_med"))).alias("_mad")
    )
    j = _nullsafe_attach(with_med, mad, "_mad")
    rz = F.lit(0.6745) * (F.col(value_col) - F.col("_med")) / F.col("_mad")
    return (
        j.withColumn("robust_z", F.when(F.col("_mad") > 0, rz))
        .withColumn(
            "is_outlier",
            F.when(F.col("_mad") > 0, F.abs(F.col("robust_z")) > F.lit(threshold)).otherwise(
                F.col(value_col) != F.col("_med")
            ),
        )
        .drop("_med", "_mad")
    )


_TRUNC_UNITS = ("day", "hour", "month", "week")


def resample_ffill(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    unit: str = "day",
) -> DataFrame:
    """Time-series resampling to a fixed grid with forward fill: per key,
    one row per ``unit`` tick from the key's first to last observation,
    carrying (a) the count of observations in the tick and (b) the last
    NON-NULL observed value at-or-before the tick. Deterministic in-tick
    "last": max over a (timestamp, value) struct — rows sharing an exact
    timestamp resolve to the larger value, and a tick whose latest
    observation has a NULL value forward-fills past it (NULL observations
    are treated as missing, SQL-aggregate style). Empty ticks forward-fill
    from the previous tick. The standard feature-engineering shape:
    regular time grids from irregular events.

    Plan shape: a (key, tick) partial-aggregated groupBy feeds both the
    per-key bounds (a second, |ticks|-sized aggregate on the key) and the
    grid left join; the fill is one window per key. Three exchanges on
    key-derived partitionings over tick-grain (not row-grain) data — never
    a range join, never O(rows × ticks).

    Output: key_cols..., tick (timestamp), n_obs (bigint), value (double,
    ffill'd; NULL until the key's first observation).
    """
    if unit not in _TRUNC_UNITS:
        raise ValueError(f"resample_ffill: unit must be one of {sorted(_TRUNC_UNITS)}")
    clash = {"_tick", "_lo", "_hi", "_last_in_tick", "n_obs", "tick", "value"} & set(
        df.columns
    ) - {value_col}
    if clash:
        raise ValueError(
            f"resample_ffill: input columns {sorted(clash)} collide with the "
            "operator's working/output columns; rename them."
        )
    keys = list(key_cols)
    tick = F.date_trunc(unit, F.col(ts_col))
    per_tick = (
        df.withColumn("_tick", tick)
        .groupBy(*keys, "_tick")
        .agg(
            F.count(F.lit(1)).alias("n_obs"),
            F.max(
                F.struct(
                    F.unix_micros(F.col(ts_col)).alias("_us"),
                    F.col(value_col).alias("v"),
                )
            )["v"].alias("_last_in_tick"),
        )
    )
    bounds = per_tick.groupBy(*keys).agg(
        F.min("_tick").alias("_lo"), F.max("_tick").alias("_hi")
    )
    grid = bounds.select(
        *keys,
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.expr(f"INTERVAL 1 {unit}"))
        ).alias("_tick"),
    )
    joined = grid.join(per_tick, [*keys, "_tick"], "left")
    w = Window.partitionBy(*keys).orderBy("_tick")
    return (
        joined.withColumn("value", F.last("_last_in_tick", ignorenulls=True).over(w))
        .select(
            *keys,
            F.col("_tick").alias("tick"),
            F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
            "value",
        )
    )


def resample_interpolate(
    df: DataFrame,
    ts_col: str,
    key_cols: Sequence[str],
    value_col: str,
    unit: str = "day",
    value_scale: int = 10**6,
) -> DataFrame:
    """Time-series resampling with LINEAR interpolation — the gap-filling
    upgrade of ``resample_ffill``: per key, one row per ``unit`` tick from
    the key's first to last observation; observed ticks carry their exact
    in-tick mean, empty ticks the linear interpolation between the
    surrounding observed ticks:

        v(t) = v_prev + (v_next - v_prev) * (t - t_prev) / (t_next - t_prev)

    Determinism contract: in-tick means are scaled-integer sums divided
    once (engine-exact), tick distances are integer day/hour offsets, and
    the interpolation is ONE double expression whose shape a SQL oracle
    shares — so filled values match bit-for-bit. Grid edges cannot dangle
    (the grid spans first..last observation per key), so prev/next always
    exist for an empty tick.

    Plan shape: the ``resample_ffill`` grid build (tick-grain aggregates +
    one left join), then TWO windows per key (last-non-null backward,
    first-non-null forward) riding the same key partitioning — still
    never O(rows × ticks). At 100 TB a year of hourly ticks per key is
    ~9k rows per key-partition: window-safe.

    Output: key_cols..., tick (timestamp), n_obs (bigint), value (double,
    observed-mean or interpolated, 6dp), interpolated (boolean).
    """
    if unit not in _TRUNC_UNITS:
        raise ValueError(
            f"resample_interpolate: unit must be one of {sorted(_TRUNC_UNITS)}"
        )
    clash = {"_tick", "_lo", "_hi", "_x", "_mean", "n_obs", "tick", "value",
             "interpolated"} & set(df.columns) - {value_col}
    if clash:
        raise ValueError(
            f"resample_interpolate: input columns {sorted(clash)} collide with "
            "the operator's working/output columns; rename them."
        )
    keys = list(key_cols)
    tick = F.date_trunc(unit, F.col(ts_col))
    per_tick = (
        df.withColumn("_tick", tick)
        .groupBy(*keys, "_tick")
        .agg(
            F.count(value_col).alias("n_obs"),
            (
                (
                    F.sum(F.round(F.col(value_col) * value_scale).cast("long"))
                    / F.lit(float(value_scale))
                )
                / F.count(value_col)
            ).alias("_mean"),
        )
        .filter(F.col("n_obs") > 0)
    )
    bounds = per_tick.groupBy(*keys).agg(
        F.min("_tick").alias("_lo"), F.max("_tick").alias("_hi")
    )
    grid = bounds.select(
        *keys,
        F.col("_lo"),
        F.explode(
            F.sequence(F.col("_lo"), F.col("_hi"), F.expr(f"INTERVAL 1 {unit}"))
        ).alias("_tick"),
    )
    joined = grid.join(per_tick, [*keys, "_tick"], "left").withColumn(
        "_x",
        (F.unix_micros(F.col("_tick")) - F.unix_micros(F.col("_lo"))).cast("double"),
    )
    w_prev = (
        Window.partitionBy(*keys)
        .orderBy("_tick")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_next = (
        Window.partitionBy(*keys)
        .orderBy("_tick")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_v = F.when(F.col("_mean").isNotNull(), F.col("_mean"))
    obs_x = F.when(F.col("_mean").isNotNull(), F.col("_x"))
    pv = F.last(obs_v, ignorenulls=True).over(w_prev)
    px = F.last(obs_x, ignorenulls=True).over(w_prev)
    nv = F.first(obs_v, ignorenulls=True).over(w_next)
    nx = F.first(obs_x, ignorenulls=True).over(w_next)
    filled = F.when(F.col("_mean").isNotNull(), F.col("_mean")).otherwise(
        pv + (nv - pv) * ((F.col("_x") - px) / (nx - px))
    )
    return joined.select(
        *keys,
        F.col("_tick").alias("tick"),
        F.coalesce("n_obs", F.lit(0)).alias("n_obs"),
        F.round(filled, 6).alias("value"),
        F.col("_mean").isNull().alias("interpolated"),
    )


def profile_drift(
    old: DataFrame,
    new: DataFrame,
    columns: Sequence[str],
    null_frac_tol: float = 0.05,
    distinct_ratio_tol: float = 0.5,
) -> DataFrame:
    """Statistical drift report between two snapshots of the same table —
    the monitoring companion to ``snapshot_diff`` (which answers WHICH
    rows changed; this answers DID THE DISTRIBUTION move): per column,
    null-fraction delta and distinct-cardinality ratio, each with a
    drift flag against a tolerance.

    Flags are computed from the same 6dp-rounded statistics the report
    shows (not from unrounded internals), so any engine recomputing the
    report reproduces the flags bit-for-bit. Cost: one aggregation pass
    per snapshot (``profile_table``) + a |columns|-row join.

    Output per column: column, old_null_frac, new_null_frac, null_drift
    boolean, old_distinct, new_distinct, distinct_ratio double (6dp,
    new/max(old,1)), distinct_drift boolean (ratio outside
    [tol, 1/tol]), row_delta_frac double (6dp).
    """
    if not 0 < distinct_ratio_tol <= 1:
        raise ValueError(
            f"profile_drift: distinct_ratio_tol must be in (0, 1], got {distinct_ratio_tol}"
        )
    po = profile_table(old, columns).select(
        "column",
        F.col("n_rows").alias("_old_rows"),
        F.col("null_frac").alias("old_null_frac"),
        F.col("n_distinct").alias("old_distinct"),
    )
    pn = profile_table(new, columns).select(
        "column",
        F.col("n_rows").alias("_new_rows"),
        F.col("null_frac").alias("new_null_frac"),
        F.col("n_distinct").alias("new_distinct"),
    )
    ratio = F.round(
        F.col("new_distinct") / F.greatest(F.col("old_distinct"), F.lit(1)).cast("double"), 6
    )
    return (
        po.join(pn, "column")
        .withColumn("distinct_ratio", ratio)
        .select(
            "column",
            "old_null_frac",
            "new_null_frac",
            (F.abs(F.col("new_null_frac") - F.col("old_null_frac")) > null_frac_tol).alias(
                "null_drift"
            ),
            "old_distinct",
            "new_distinct",
            "distinct_ratio",
            (
                (F.col("distinct_ratio") < distinct_ratio_tol)
                | (F.col("distinct_ratio") > 1.0 / distinct_ratio_tol)
            ).alias("distinct_drift"),
            F.round(
                (F.col("_new_rows") - F.col("_old_rows"))
                / F.greatest(F.col("_old_rows"), F.lit(1)).cast("double"),
                6,
            ).alias("row_delta_frac"),
        )
        .orderBy("column")
    )


def grouped_theil_sen(
    df: DataFrame,
    key_cols: Sequence[str],
    x_col,
    y_col: str,
    id_col: str,
    seed: int = 7,
) -> DataFrame:
    """Robust trend per group: sampled-pair Theil-Sen slope (Theil 1950 /
    Sen 1968 — public literature), the outlier-proof companion to
    ``grouped_ols``. Exact Theil-Sen medians all C(n,2) pairwise slopes —
    quadratic and impossible at scale — so this takes the standard linear
    subsample: each point is paired ONCE, the k-th point in x-order with
    the k-th point in a seeded-md5 order (a deterministic random
    permutation), giving n slopes whose median is the estimator. Breakdown
    point drops from 29% to ~13% (single-pairing bound), which is the
    documented trade for linear cost.

    Determinism: both orderings tie-break on ``id_col``, the pairing is a
    rank equi-join, slopes are one double expression, and the median is
    the exact interpolated quantile both engines share — fully
    SQL-replayable.

    Scale shape: two per-group ranks (by x, by md5) riding
    :func:`~wicsmmiretl_spark.operators.sampling.distributed_prefix_sum`
    — a hot group's rows SPAN range partitions instead of hashing into
    one window task (the trend report's usual keys are low-cardinality
    segments over row-grain data, the worst window regime) — + one
    (key, rank) equi-join + one exact-median agg. Nothing quadratic;
    swap the exact median for percentile_approx at 100 TB with the same
    plan shape (the ``quantity_quantiles`` substitution note).

    Output: key_cols..., slope double (6dp, NULL if no valid pair — a
    pair is valid when its two x values differ), n_pairs bigint.
    """
    keys = list(key_cols)
    named = [*keys, y_col, id_col] + ([x_col] if isinstance(x_col, str) else [])
    for c in named:
        if c not in df.columns:
            raise ValueError(f"grouped_theil_sen: column {c!r} not in {df.columns}")
    xcol = F.col(x_col) if isinstance(x_col, str) else x_col
    base = df.select(
        *keys,
        xcol.cast("double").alias("_x"),
        F.col(y_col).cast("double").alias("_y"),
        F.col(id_col).alias("_id"),
    )
    from wicsmmiretl_spark.operators.sampling import distributed_prefix_sum

    a = distributed_prefix_sum(
        base, order_cols=["_x", "_id"], sum_cols=[], rank_col="_rn",
        group_cols=keys,
    )
    hashed = base.withColumn(
        "_h", F.md5(F.concat(F.lit(f"{seed}:"), F.col("_id").cast("string")))
    )
    b = distributed_prefix_sum(
        hashed, order_cols=["_h", "_id"], sum_cols=[], rank_col="_rn",
        group_cols=keys,
    ).select(
        *keys,
        "_rn",
        F.col("_x").alias("_x2"),
        F.col("_y").alias("_y2"),
    )
    pairs = a.join(b, [*keys, "_rn"]).filter(F.col("_x") != F.col("_x2"))
    slopes = pairs.select(
        *keys,
        ((F.col("_y2") - F.col("_y")) / (F.col("_x2") - F.col("_x"))).alias("_slope"),
    )
    return slopes.groupBy(*keys).agg(
        F.round(F.percentile("_slope", F.lit(0.5)), 6).alias("slope"),
        F.count("*").cast("long").alias("n_pairs"),
    )


def grouped_ols(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    x_scale: int = 0,
    y_scale: int = 4,
) -> DataFrame:
    """Per-group ordinary-least-squares trend (y = slope·x + intercept)
    with R² — the million-models shape (one regression per key: per-source
    quality trend, per-type value drift) that MLlib's single-model fit
    doesn't cover.

    Same engine-exactness recipe as ``corr_matrix``: the five moments
    (Σx, Σy, Σx², Σxy, Σy²) accumulate as scaled integers in decimal(38)
    — order-independent on any partitioning — and the closed form runs
    once per group in double. ``x_scale``/``y_scale`` set the per-row
    decimal rounding (0 for already-integer x like epoch days). Rows with
    a NULL in x or y are dropped. Zero x-variance → NULL slope/intercept/
    r²; zero y-variance → r² NULL (slope 0 is still well-defined).

    One partial-aggregated pass; output is |groups| rows:
    group cols, n bigint, slope, intercept, r2 (all double, 6dp).
    """
    for c in (*group_cols, x_col, y_col):
        if c not in df.columns:
            raise ValueError(f"grouped_ols: column {c!r} not in {df.columns}")
    mx, my = 10**x_scale, 10**y_scale
    X = F.round(F.col(x_col) * mx).cast("long")
    Y = F.round(F.col(y_col) * my).cast("long")
    dec = "decimal(38,0)"
    base = df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
    agg = base.groupBy(*group_cols).agg(
        F.count("*").alias("n"),
        F.sum(X.cast(dec)).alias("_sx"),
        F.sum(Y.cast(dec)).alias("_sy"),
        F.sum((X * X).cast(dec)).alias("_sxx"),
        F.sum((X * Y).cast(dec)).alias("_sxy"),
        F.sum((Y * Y).cast(dec)).alias("_syy"),
    )
    n = F.col("n").cast("double")
    sx, sy = F.col("_sx").cast("double"), F.col("_sy").cast("double")
    sxx, sxy, syy = (
        F.col("_sxx").cast("double"),
        F.col("_sxy").cast("double"),
        F.col("_syy").cast("double"),
    )
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    slope_scaled = cov / dx
    slope = slope_scaled * F.lit(float(mx)) / F.lit(float(my))
    intercept = (sy / n) / F.lit(float(my)) - slope * ((sx / n) / F.lit(float(mx)))
    r2 = (cov * cov) / (dx * dy)
    return agg.select(
        *group_cols,
        "n",
        F.when(dx != 0, F.round(slope, 6)).alias("slope"),
        F.when(dx != 0, F.round(intercept, 6)).alias("intercept"),
        F.when((dx != 0) & (dy != 0), F.round(r2, 6)).alias("r2"),
    )


def target_encode(
    df: DataFrame,
    cat_col: str,
    target_col: str,
    prior_weight: float = 100.0,
    scale: int = 4,
) -> DataFrame:
    """Smoothed target encoding (the categorical-feature workhorse): each
    category maps to ``(Σ target + m·global_mean) / (n + m)`` — the
    empirical-Bayes shrinkage that keeps rare categories from memorizing
    their few labels (m = ``prior_weight`` pseudo-observations of the
    global mean).

    Engine-exact: per-category and global sums accumulate as scaled
    integers in decimal(38); the shrinkage formula runs once per category
    in double from those exact sums. NULL targets are excluded
    everywhere; NULL categories get their own encoding row (they are a
    real level at serving time). One partial-aggregated pass + a
    broadcast of the single global row.

    Returns the MAPPING (not the joined frame): category, n bigint,
    encoded double (6dp) — broadcast-join it onto any table that needs
    the feature. |categories| rows.
    """
    if prior_weight < 0:
        raise ValueError(f"target_encode: prior_weight must be >= 0, got {prior_weight}")
    for c in (cat_col, target_col):
        if c not in df.columns:
            raise ValueError(f"target_encode: column {c!r} not in {df.columns}")
    mult = 10**scale
    t = F.round(F.col(target_col) * mult).cast("long").cast("decimal(38,0)")
    base = df.filter(F.col(target_col).isNotNull())
    per_cat = base.groupBy(F.col(cat_col).alias("category")).agg(
        F.count("*").alias("n"), F.sum(t).alias("_s")
    )
    glob = base.agg(F.count("*").alias("_gn"), F.sum(t).alias("_gs"))
    gmean = F.col("_gs").cast("double") / F.col("_gn").cast("double")
    enc = (
        (F.col("_s").cast("double") + F.lit(prior_weight) * gmean)
        / (F.col("n").cast("double") + F.lit(prior_weight))
    ) / F.lit(float(mult))
    return (
        per_cat.crossJoin(F.broadcast(glob))
        .select("category", "n", F.round(enc, 6).alias("encoded"))
        .orderBy("category")
    )


def ab_test_stats(
    df: DataFrame,
    group_col: str,
    value_col: str,
    group_a,
    group_b,
    scale: int = 4,
) -> DataFrame:
    """Welch's unequal-variance two-sample comparison (the A/B-test
    workhorse; Welch 1947 — public literature): means, sample variances,
    the t statistic, and the Welch–Satterthwaite degrees of freedom for
    two groups of one metric column.

    Engine-exact like ``corr_matrix``: Σx and Σx² per group are scaled-
    integer decimal(38) sums from ONE partial-aggregated pass over rows
    of the two groups (everything else is filtered at the scan); the
    closed forms run once in double. No p-value on purpose — that needs
    the t CDF (an infinite series, not reproducible bit-for-bit across
    libms); compare ``t_stat`` against the critical value for ``dof``
    downstream. Each group needs n ≥ 2 (sample variance) — fewer rows
    yield NULL t/dof rather than a divide blow-up.

    Output: ONE row — n_a, n_b bigint, mean_a, mean_b, var_a, var_b,
    t_stat double (6dp), dof double (2dp).
    """
    if group_a == group_b:
        raise ValueError("ab_test_stats: group_a and group_b must differ")
    for c in (group_col, value_col):
        if c not in df.columns:
            raise ValueError(f"ab_test_stats: column {c!r} not in {df.columns}")
    mult = 10**scale
    x = F.round(F.col(value_col) * mult).cast("long")
    dec = "decimal(38,0)"
    base = df.filter(
        F.col(value_col).isNotNull() & F.col(group_col).isin(group_a, group_b)
    )
    is_a = F.col(group_col) == group_a
    agg = base.agg(
        F.sum(F.when(is_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(~is_a, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(is_a, x.cast(dec))).alias("_sa"),
        F.sum(F.when(~is_a, x.cast(dec))).alias("_sb"),
        F.sum(F.when(is_a, (x * x).cast(dec))).alias("_qa"),
        F.sum(F.when(~is_a, (x * x).cast(dec))).alias("_qb"),
    )
    m = F.lit(float(mult))

    def _stats(n_col, s_col, q_col):
        n = F.col(n_col).cast("double")
        s, q = F.col(s_col).cast("double"), F.col(q_col).cast("double")
        mean = (s / n) / m
        var = ((n * q - s * s) / (n * (n - 1.0))) / (m * m)
        return mean, var, n

    mean_a, var_a, na = _stats("n_a", "_sa", "_qa")
    mean_b, var_b, nb = _stats("n_b", "_sb", "_qb")
    se2 = var_a / na + var_b / nb
    t = (mean_a - mean_b) / F.sqrt(se2)
    dof = (se2 * se2) / (
        (var_a / na) * (var_a / na) / (na - 1.0)
        + (var_b / nb) * (var_b / nb) / (nb - 1.0)
    )
    ok = (F.col("n_a") >= 2) & (F.col("n_b") >= 2)
    return agg.select(
        "n_a",
        "n_b",
        F.round(mean_a, 6).alias("mean_a"),
        F.round(mean_b, 6).alias("mean_b"),
        F.when(F.col("n_a") >= 2, F.round(var_a, 6)).alias("var_a"),
        F.when(F.col("n_b") >= 2, F.round(var_b, 6)).alias("var_b"),
        F.when(ok, F.round(t, 6)).alias("t_stat"),
        F.when(ok, F.round(dof, 2)).alias("dof"),
    )


def category_entropy(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Shannon entropy per categorical column — the concentration signal a
    corpus mixture dashboard watches (a source column collapsing toward
    one value is drift that null rates and cardinality alone miss).

    H = −Σ p·ln p over value frequencies; ``norm_entropy`` divides by
    ln(k) so 1.0 = uniform over the observed k values (NULL when k = 1 —
    a constant column has no distribution to normalize). NULL values are
    excluded (missingness is ``profile_table``'s metric).

    Engine-exactness: each term p·ln p is computed in double from exact
    integer counts (identical on any engine), then scaled to an integer
    (1e9) and SUMMED IN INTEGER SPACE — the suite's exact-sum contract —
    because a double Σ over categories would be accumulation-order
    dependent. One explode to (column, value) pairs + two partial aggs;
    intermediate volume is rows × |columns|.

    Scale: per-column totals come from a grouped agg + broadcast join
    (|columns| rows), NOT a ``PARTITION BY column`` window — the window
    would hash EVERY (column, value) count row of a column into one
    task, and a high-cardinality column (the exact thing entropy
    profiling is pointed at) has value-grain cardinality approaching row
    count. Every aggregation here partial-aggregates map-side; the only
    per-column funnel is |columns| final rows.

    Output: column string, n bigint (non-NULL rows), n_categories bigint,
    entropy double (6dp), norm_entropy double (6dp).
    """
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"category_entropy: columns {missing} not in {df.columns}")
    pairs = df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("column"), F.col(c).cast("string").alias("v")
                    )
                    for c in columns
                ]
            )
        ).alias("_p")
    ).select("_p.*").filter(F.col("v").isNotNull())
    counts = pairs.groupBy("column", "v").agg(F.count("*").alias("c"))
    totals = counts.groupBy("column").agg(
        F.sum("c").alias("n"), F.count("*").alias("n_categories")
    )
    p = F.col("c").cast("double") / F.col("n").cast("double")
    term_i = F.round((-p * F.log(p)) * F.lit(1e9)).cast("long")
    per_col = (
        counts.join(F.broadcast(totals), "column")
        .withColumn("_t", term_i)
        .groupBy("column")
        .agg(
            F.max("n").alias("n"),
            F.max("n_categories").alias("n_categories"),
            F.sum("_t").alias("_s"),
        )
    )
    entropy = F.col("_s").cast("double") / F.lit(1e9)
    norm = F.when(
        F.col("n_categories") > 1,
        F.round(entropy / F.log(F.col("n_categories").cast("double")), 6),
    )
    return per_col.select(
        "column",
        "n",
        "n_categories",
        F.round(entropy, 6).alias("entropy"),
        norm.alias("norm_entropy"),
    ).orderBy("column")


def _ordered_cumsums(
    levels: DataFrame,
    order_col: str,
    weights: dict[str, str],
    descending: bool = False,
) -> DataFrame:
    """Running totals of several weight columns in ``order_col`` order,
    WITHOUT the single-partition global window Spark would otherwise plan:
    the ordered-prefix kernel ``sampling._range_offsets`` with one sum
    per weight, then a partition-LOCAL cumulative window plus the
    exclusive offset. ``order_col`` values must be unique per row
    (callers pass pre-aggregated distinct levels). All weights share the
    one range stage and offsets collect — k running totals cost the same
    two passes as one.

    ``weights`` maps weight column → output column (running total
    INCLUDING the current row). ``descending`` orders high→low (the ROC
    sweep direction).

    This is the LEVEL-grain private form (unique order values, asc/desc,
    caller-named outputs) the rank statistics are built on; the public
    row-grain generalization — tiebreak order columns, per-group resets,
    a global/grouped rank — is ``sampling.distributed_prefix_sum``.
    """
    from wicsmmiretl_spark.operators.sampling import _range_offsets

    direction = F.desc(order_col) if descending else F.asc(order_col)
    parts, _ = _range_offsets(
        levels, [direction], {out: F.sum(w) for w, out in weights.items()}
    )
    local = (
        Window.partitionBy("_pid")
        .orderBy(direction)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return parts.withColumns(
        {out: F.sum(w).over(local) + F.col(out) for w, out in weights.items()}
    ).drop("_pid")


def binary_auc(
    df: DataFrame,
    label_col: str,
    score_col: str,
    by: Sequence[str] = (),
) -> DataFrame:
    """Exact ROC AUC of a score against a binary label, via the
    Mann-Whitney U statistic (Mann & Whitney 1947; Hanley & McNeil 1982 —
    public literature): AUC = P(score⁺ > score⁻) + ½·P(tie), computed
    from the rank-sum of the positives with average ranks over ties —
    the model-eval primitive every training pipeline needs, exact, with
    NO per-row sort crossing the driver.

    Distributed shape: ONE groupBy collapses the table to its distinct
    score levels (cnt, pos_cnt per level — partial agg does the heavy
    lifting map-side), then the running rank comes from the offsets-based
    cumulative sum (``_ordered_cumsums`` on the ordered-prefix kernel —
    never a single-partition window), then one global agg.
    Work after the first shuffle is O(distinct scores), not O(rows).

    Integer-exactness: with cum = running count through this level and
    cnt = level size, twice the average rank is the INTEGER
    2·cum - cnt + 1, so the positives' rank-sum accumulates as exact
    bigints; AUC = (Σ 2r⁺ - n⁺(n⁺+1)) / (2 n⁺ n⁻) does its one double
    division at the end (rounded 6dp). NULL labels/scores are excluded.
    Degenerate inputs (a single class) yield NULL AUC.

    ``by`` turns this into per-slice evaluation (AUC per segment/day —
    the drift monitor for score separability): the level table gains the
    group key and the running rank rides
    :func:`~wicsmmiretl_spark.operators.sampling.distributed_prefix_sum`
    on (group, score) — the same offsets pattern as the global path, so
    a hot slice's level set spans range partitions instead of hashing
    into one window task; no per-group cardinality bound needed.

    ``label_col`` must be boolean or 0/1-integer. Output (one row per
    group; one row total when ``by`` is empty): ``by`` + n_pos bigint,
    n_neg bigint, auc double.
    """
    for c in (label_col, score_col, *by):
        if c not in df.columns:
            raise ValueError(f"binary_auc: column {c!r} not in {df.columns}")
    levels = (
        df.filter(F.col(label_col).isNotNull() & F.col(score_col).isNotNull())
        .select(
            *by,
            F.col(score_col).alias("_s"),
            F.col(label_col).cast("int").alias("_y"),
        )
        .groupBy(*by, "_s")
        .agg(F.count("*").alias("_cnt"), F.sum("_y").alias("_pos"))
    )
    if by:
        # Per-group running count WITHOUT a PARTITION BY window: a hot
        # slice (one day holding most of the table) would serialize its
        # whole level set into one task; the range-partitioned form
        # spans it across partitions.
        from wicsmmiretl_spark.operators.sampling import distributed_prefix_sum

        ranked = distributed_prefix_sum(
            levels, order_cols=["_s"], sum_cols=["_cnt"], group_cols=list(by)
        ).withColumnRenamed("_cnt_cum", "_cum")
    else:
        ranked = _ordered_cumsums(levels, "_s", {"_cnt": "_cum"})
    agg = ranked.groupBy(*by).agg(
        F.sum("_pos").cast("long").alias("n_pos"),
        (F.sum("_cnt") - F.sum("_pos")).cast("long").alias("n_neg"),
        F.sum(F.col("_pos") * (2 * F.col("_cum") - F.col("_cnt") + 1))
        .cast("long")
        .alias("_s2r"),
    )
    return agg.select(
        *by,
        "n_pos",
        "n_neg",
        F.when(
            (F.col("n_pos") > 0) & (F.col("n_neg") > 0),
            F.round(
                (F.col("_s2r") - F.col("n_pos") * (F.col("n_pos") + 1)).cast("double")
                / (2.0 * F.col("n_pos") * F.col("n_neg")),
                6,
            ),
        ).alias("auc"),
    )


def spearman_corr(df: DataFrame, x_col: str, y_col: str) -> DataFrame:
    """Exact Spearman rank correlation (Spearman 1904 — public
    literature): Pearson correlation of the two columns' average ranks,
    with exact tie handling — the monotonic-association twin of the
    ``corr_matrix`` Pearson path, robust to outliers and nonlinearity
    (the usual check before trusting a linear trend on heavy-tailed
    pipeline metrics).

    Exact-arithmetic contract: twice-the-average-rank is the integer
    2·cum - cnt + 1 (per distinct level, via the same offsets-based
    running count as ``binary_auc``); ranks are then CENTERED with the
    integer 2r - (n+1), which sums to zero exactly, so
    ρ = Σcxcy / √(Σcx² · Σcy²) needs no mean subtraction in floating
    point. The three cross-moments accumulate in decimal(38,0) (exact to
    |c|≤n ≤ ~10⁷ rows; beyond that the moments still fit — Σc² ≤ n³ —
    up to n ≈ 10¹²). The single sqrt/divide happens once, rounded 6dp.

    Distributed shape: one groupBy per column to its distinct levels,
    offsets-based cumulative counts (no single-partition window), then
    two equi-joins to attach per-row ranks and one global agg. Rows where
    either column is NULL are excluded (pairwise-complete, like
    ``corr_matrix``).

    Output (one row): n bigint, rho double.
    """
    for c in (x_col, y_col):
        if c not in df.columns:
            raise ValueError(f"spearman_corr: column {c!r} not in {df.columns}")
    # One lazy localCheckpoint: the filtered pair stream feeds BOTH level
    # aggs and the final rank-attach join — without it the upstream scan
    # re-runs four times (once per level table, once for n, once for the
    # join), which measured ~1.7x the whole query at sf0.1.
    rows = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .select(F.col(x_col).alias("_x"), F.col(y_col).alias("_y"))
        .localCheckpoint(eager=False)
    )

    def two_ranks(col: str, out: str) -> DataFrame:
        lv = rows.groupBy(col).agg(F.count("*").alias("_cnt"))
        cum = _ordered_cumsums(lv, col, {"_cnt": "_cum"})
        return cum.select(
            col, "_cum", (2 * F.col("_cum") - F.col("_cnt") + 1).alias(out)
        )

    rx = two_ranks("_x", "_rx")
    ry = two_ranks("_y", "_ry")
    # n = the last cumulative count — already materialized by the offsets
    # job, so this is a tiny agg over the level table, not a data scan.
    n_df = rx.agg(F.max("_cum").alias("_n"))
    joined = (
        rows.join(rx.drop("_cum"), "_x")
        .join(ry.drop("_cum"), "_y")
        .crossJoin(F.broadcast(n_df))
        .select(
            (F.col("_rx") - (F.col("_n") + 1)).cast("decimal(38,0)").alias("_cx"),
            (F.col("_ry") - (F.col("_n") + 1)).cast("decimal(38,0)").alias("_cy"),
        )
    )
    mom = joined.agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.col("_cx") * F.col("_cy")).alias("_sxy"),
        F.sum(F.col("_cx") * F.col("_cx")).alias("_sxx"),
        F.sum(F.col("_cy") * F.col("_cy")).alias("_syy"),
    )
    return mom.select(
        "n",
        F.when(
            (F.col("_sxx") > 0) & (F.col("_syy") > 0),
            F.round(
                F.col("_sxy").cast("double")
                / F.sqrt(F.col("_sxx").cast("double") * F.col("_syy").cast("double")),
                6,
            ),
        ).alias("rho"),
    )


def calibration_curve(
    df: DataFrame,
    label_col: str,
    score_col: str,
    tiebreak_col: str,
    n_bins: int = 10,
    scale: int = 10**6,
) -> DataFrame:
    """Score-calibration table (reliability diagram; DeGroot & Fienberg
    1983 — public literature): equal-frequency score bins vs the
    empirical positive rate in each — AUC's companion diagnostic (AUC
    measures ranking, calibration measures whether the score VALUE means
    what it claims; both belong in any model-eval pass over pipeline
    scores).

    Binning is the suite's exact ntile-with-tiebreak discretizer (same
    contract as ``sampling.quantile_bins``: ``tiebreak_col`` must be a
    unique key so equal scores split deterministically), run through
    ``sampling.distributed_ntile`` — the two-level range-partitioned
    form, no single-partition window — so the exact reliability diagram
    survives 100 TB of scores. Per-bin mean score follows the
    exact-sum contract — per-row ``round(score·scale)`` bigints summed,
    divided back once — so double addition order can't flip the hash;
    the positive rate is an exact integer ratio.

    ``label_col`` must be boolean or 0/1. NULL labels/scores excluded.
    Output: bin int (1-based), n bigint, mean_score double (6dp),
    frac_pos double (6dp).
    """
    if n_bins < 2:
        raise ValueError(f"calibration_curve: n_bins must be >= 2, got {n_bins}")
    for c in (label_col, score_col, tiebreak_col):
        if c not in df.columns:
            raise ValueError(f"calibration_curve: column {c!r} not in {df.columns}")
    from wicsmmiretl_spark.operators.sampling import distributed_ntile

    binned = distributed_ntile(
        df.filter(F.col(label_col).isNotNull() & F.col(score_col).isNotNull())
        .select(
            F.col(label_col).cast("int").alias("_y"),
            F.round(F.col(score_col) * scale).cast("long").alias("_si"),
            F.col(score_col).alias("_s"),
            F.col(tiebreak_col).alias("_tb"),
        ),
        ["_s", "_tb"],
        n_bins,
        out_col="bin",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.round((F.sum("_si").cast("double") / scale) / F.count("*"), 6).alias(
                "mean_score"
            ),
            F.round(F.sum("_y") / F.count("*"), 6).alias("frac_pos"),
        )
        .orderBy("bin")
    )


def quantile_transform(df: DataFrame, value_col: str, out_col: str = "q") -> DataFrame:
    """Rank-based quantile normalization of a numeric column: each value
    maps to its average-rank percentile q = avg_rank / n ∈ (0, 1] — the
    distribution-free feature transform (uniform output whatever the
    input's shape, outlier-immune), and the first half of a quantile-to-
    normal transform.

    Exact tie handling through the same integer identity as the rank
    statistics: q = (2·cum - cnt + 1) / (2n), computed per DISTINCT value
    (one groupBy + the offsets-based running count — no single-partition
    window) and equi-joined back to the rows, so the full-table work is
    one groupBy and one join regardless of value skew. The single double
    division rounds 6dp. NULL values pass through with NULL ``out_col``
    (a missing feature stays missing).

    Output: input columns + ``out_col`` double.
    """
    if value_col not in df.columns:
        raise ValueError(f"quantile_transform: {value_col!r} not in {df.columns}")
    if out_col in df.columns:
        raise ValueError(f"quantile_transform: input already has {out_col!r}")
    present = df.filter(F.col(value_col).isNotNull())
    lv = present.groupBy(value_col).agg(F.count("*").alias("_cnt"))
    cum = _ordered_cumsums(lv, value_col, {"_cnt": "_cum"})
    n_df = present.agg(F.count("*").alias("_n"))
    qmap = cum.crossJoin(F.broadcast(n_df)).select(
        value_col,
        F.round(
            (2 * F.col("_cum") - F.col("_cnt") + 1).cast("double") / (2 * F.col("_n")),
            6,
        ).alias(out_col),
    )
    return df.join(qmap, value_col, "left")


def seasonal_naive_error(
    grid: DataFrame,
    ts_col: str,
    value_col: str,
    season: int,
    by: Sequence[str] = (),
    scale: int = 10**6,
) -> DataFrame:
    """Seasonal-naive backtest (Hyndman & Athanasopoulos, *Forecasting:
    Principles and Practice* — public literature): forecast each period as
    the value one season earlier, and report MAE / RMSE / MAPE of that
    forecast — the standard baseline every time-series monitor is judged
    against, and the cheapest drift alarm for ingest-volume dashboards.

    ``grid`` must be a REGULAR series (one row per period per group —
    the shape ``resample_ffill`` and the tumbling windows emit), so
    lag(``season``) IS the value one season back; rows without a
    same-season predecessor (the first ``season`` periods) are excluded
    from the metrics.

    Determinism: per-row errors are scaled to bigints (``round(err·scale)``)
    then summed — |err| in decimal(38,0) for MAE, squared in decimal(38,0)
    for RMSE (exact up to |err|·scale ≈ 10¹⁸ per row), and the MAPE ratio
    is rounded per-row at 6dp before its integer-scaled sum. One sqrt /
    division per metric at the end.

    Scale: the window partitions by ``by`` (one shuffle); with no ``by``
    the series is a single partition — fine, because a regular grid is
    bounded by the calendar horizon, not the corpus (document the bound
    when composing). Output (per group; one global row when ``by`` empty):
    ``by`` + n_forecasts bigint, mae double, rmse double, mape double
    (NULL when no nonzero actuals).
    """
    if season < 1:
        raise ValueError(f"seasonal_naive_error: season must be >= 1, got {season}")
    for c in (ts_col, value_col, *by):
        if c not in grid.columns:
            raise ValueError(f"seasonal_naive_error: column {c!r} not in {grid.columns}")
    w = Window.partitionBy(*[F.col(c) for c in by]).orderBy(F.asc(ts_col))
    prev = F.lag(value_col, season).over(w)
    err_i = F.round((F.col(value_col) - prev) * scale).cast("long")
    act_i = F.round(F.col(value_col) * scale).cast("long")
    rows = (
        grid.select(*by, ts_col, value_col)
        .withColumn("_err_i", err_i)
        .withColumn("_act_i", act_i)
        .filter(F.col("_err_i").isNotNull())
    )
    ape_i = F.when(
        F.col("_act_i") != 0,
        F.round(
            F.abs(F.col("_err_i")).cast("double") / F.abs(F.col("_act_i")) * scale
        ).cast("long"),
    )
    agg = rows.groupBy(*by).agg(
        F.count("*").alias("n_forecasts"),
        F.sum(F.abs(F.col("_err_i")).cast("decimal(38,0)")).alias("_sae"),
        F.sum(
            F.col("_err_i").cast("decimal(38,0)") * F.col("_err_i").cast("decimal(38,0)")
        ).alias("_sse"),
        F.sum(ape_i).alias("_sape"),
        F.count(ape_i).alias("_nape"),
    )
    return agg.select(
        *by,
        "n_forecasts",
        F.round(F.col("_sae").cast("double") / scale / F.col("n_forecasts"), 6).alias("mae"),
        F.round(
            F.sqrt(F.col("_sse").cast("double") / F.col("n_forecasts")) / scale, 6
        ).alias("rmse"),
        F.when(
            F.col("_nape") > 0,
            F.round(F.col("_sape").cast("double") / scale / F.col("_nape"), 6),
        ).alias("mape"),
    )


def cms_join_size(sk_a: DataFrame, sk_b: DataFrame) -> DataFrame:
    """Join-cardinality estimate from two count-min sketches (the
    inner-product estimator of Cormode & Muthukrishnan 2005; the AMS
    self-join-size / F₂ estimator when both sketches are the same stream —
    public literature): est = min_j Σ_bucket a_j[bucket] · b_j[bucket],
    an upper bound on the true equi-join output size that tightens with
    sketch width (collision noise ≈ |A|·|B| / width per hash row).

    This is the planner-diagnostics companion to ``key_skew_profile``:
    before committing a 100 TB join, fold each side's CMS per batch
    (``cms_merge`` — the sketches are the ONLY thing that crosses stages,
    depth × width rows however large the inputs), then read the estimate
    off this one tiny join. Estimate is deterministic (md5 sketches), so
    a SQL oracle replays it exactly.

    Both sketches must share (depth, width) — ``cms_sketch``'s (j, bucket,
    cnt) shape. Products accumulate in decimal(38,0) and the result casts
    to bigint (exact for any join under ~9·10¹⁸ output rows).

    Output (one row): est_join_size bigint.
    """
    for df_, nm in ((sk_a, "sk_a"), (sk_b, "sk_b")):
        missing = [c for c in ("j", "bucket", "cnt") if c not in df_.columns]
        if missing:
            raise ValueError(f"cms_join_size: {nm} missing columns {missing}")
    joined = (
        sk_a.select("j", "bucket", F.col("cnt").alias("_ca"))
        .join(sk_b.select("j", "bucket", F.col("cnt").alias("_cb")), ["j", "bucket"])
        .groupBy("j")
        .agg(
            F.sum(
                F.col("_ca").cast("decimal(38,0)") * F.col("_cb").cast("decimal(38,0)")
            ).alias("_ip")
        )
    )
    return joined.agg(F.min("_ip").cast("long").alias("est_join_size"))


def roc_curve(df: DataFrame, label_col: str, score_col: str) -> DataFrame:
    """The empirical ROC curve behind ``binary_auc``'s scalar: one point
    per distinct score threshold t (predict positive when score ≥ t),
    with exact cumulative TP/FP counts and the TPR/FPR rates — what you
    plot to CHOOSE an operating threshold after AUC says the ranking is
    good.

    Same distributed shape as the AUC: one groupBy to distinct score
    levels, then ONE descending offsets-based cumulative pass computing
    both running totals together (``_ordered_cumsums`` — two weights,
    still two passes total, no single-partition window). Counts are
    exact bigints; the two rate divisions round 6dp. NULL labels/scores
    excluded; degenerate single-class inputs yield NULL rates for the
    absent class.

    Output: threshold (the score value), tp bigint, fp bigint,
    tpr double, fpr double — |distinct scores| rows.
    """
    for c in (label_col, score_col):
        if c not in df.columns:
            raise ValueError(f"roc_curve: column {c!r} not in {df.columns}")
    levels = (
        df.filter(F.col(label_col).isNotNull() & F.col(score_col).isNotNull())
        .select(
            F.col(score_col).alias("threshold"),
            F.col(label_col).cast("int").alias("_y"),
        )
        .groupBy("threshold")
        .agg(
            F.sum("_y").alias("_pos"),
            (F.count("*") - F.sum("_y")).alias("_neg"),
        )
    )
    cums = _ordered_cumsums(
        levels, "threshold", {"_pos": "tp", "_neg": "fp"}, descending=True
    )
    totals = levels.agg(
        F.sum("_pos").cast("long").alias("_np"), F.sum("_neg").cast("long").alias("_nn")
    )
    return cums.crossJoin(F.broadcast(totals)).select(
        "threshold",
        F.col("tp").cast("long").alias("tp"),
        F.col("fp").cast("long").alias("fp"),
        F.when(F.col("_np") > 0, F.round(F.col("tp") / F.col("_np"), 6)).alias("tpr"),
        F.when(F.col("_nn") > 0, F.round(F.col("fp") / F.col("_nn"), 6)).alias("fpr"),
    )


def histogram_quantiles(hist: DataFrame, qs: Sequence[float], buckets: int) -> DataFrame:
    """Approximate quantiles read off a fixed-bin ``histogram`` state —
    the MERGEABLE 100 TB quantile path made concrete: histogram states
    from any number of batches/partitions merge by adding bucket counts,
    and this operator turns the merged state into quantile estimates by
    linear interpolation inside the covering bucket. Error is bounded by
    one bucket width — the explicit, inspectable trade the exact-sort
    quantile (``quantile_bins``) can't make.

    Entirely derived from the histogram's own columns (bucket edges are
    in the state): the quantile's covering bucket is the first whose
    running count reaches q·N, value = bucket_lo + width · (q·N −
    cum_prev)/n, clamped to the bucket; the underflow bucket (-1)
    resolves to the histogram's lo edge and the overflow bucket (index =
    ``buckets``, passed explicitly — sparse states can't reveal it) to
    hi — out-of-range mass counts toward ranks but its spread is
    unknown, so the estimate saturates at the declared range (documented
    behavior, not an error).

    The running count rides a window over ≤ buckets+2 rows — a
    deliberately tiny frame, not a data-sized one. Output: q double,
    value double (6dp) — one row per requested quantile.
    """
    for q in qs:
        if not 0 <= q <= 1:
            raise ValueError(f"histogram_quantiles: q must be in [0, 1], got {q}")
    missing = [c for c in ("bucket", "lo", "hi", "n") if c not in hist.columns]
    if missing:
        raise ValueError(f"histogram_quantiles: histogram state missing {missing}")
    w = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hq = hist.withColumn("_cum", F.sum("n").over(w)).localCheckpoint(eager=False)
    tot = hq.agg(F.sum("n").cast("long").alias("_N"))
    qdf = hist.sparkSession.createDataFrame([(float(q),) for q in qs], "q: double")
    cand = (
        qdf.crossJoin(F.broadcast(tot))
        .join(F.broadcast(hq), F.col("_cum") >= F.col("q") * F.col("_N"))
    )
    pick = F.min(F.struct("bucket", "lo", "hi", "n", "_cum", "_N")).alias("_b")
    sel = cand.groupBy("q").agg(pick).select("q", "_b.*")
    interp = F.col("lo") + (
        (F.col("q") * F.col("_N") - (F.col("_cum") - F.col("n"))) / F.col("n")
    ) * (F.col("hi") - F.col("lo"))
    return sel.select(
        "q",
        F.round(
            F.when(F.col("bucket") == -1, F.col("hi"))
            .when(F.col("bucket") == buckets, F.col("lo"))
            .otherwise(F.least(F.greatest(interp, F.col("lo")), F.col("hi"))),
            6,
        ).alias("value"),
    )


def table_fingerprint(df: DataFrame, columns: Sequence[str]) -> DataFrame:
    """Order-independent table checksum — the anti-entropy primitive for
    cross-system reconciliation (does the migrated/replicated copy hold
    EXACTLY these rows?) without moving or sorting any data.

    Per row: md5 over the '\\x1f'-joined column values (NULL → a '\\x00'
    sentinel no real cast produces, so NULL ≠ '' ≠ 'NULL'); the first 15
    hex chars (60 bits) become an integer digest. Two commutative folds
    summarize the multiset:

    * ``checksum_sum`` — Σ digests wrapped mod 2⁶⁴ and folded back to a
      signed BIGINT (the sum itself accumulates exactly in decimal(38) —
      no overflow before ~10²⁰ rows — but only the wrap crosses the
      output schema, so no engine's 128-bit/decimal return convention
      leaks into the triple);
    * ``checksum_xor`` — XOR of digests (catches the pair-swap class sum
      misses... and vice versa: XOR alone misses even-multiplicity dups).

    Both folds are commutative+associative, so the result is independent
    of partitioning, row order, and engine — comparing two (n_rows, sum,
    xor) triples decides row-multiset equality with collision probability
    ~n²/2⁶⁰ per fold, and the two folds fail independently. One scan, one
    partial-aggregated reduce to a single row; at 100 TB the only bytes
    that cross the wire are per-partition partial states.

    Float/double columns are REJECTED: double→string rendering is an
    engine convention (shortest-roundtrip vs fixed precision, and it has
    changed across engine versions), so hashing it silently couples the
    fingerprint to the engine. Callers must pin an explicit rendering
    first — cast to a DECIMAL(p,s) (decimal→string is format-stable
    everywhere) or to a scaled integer — and hash that.
    """
    missing = [c for c in columns if c not in df.columns]
    if missing:
        raise ValueError(f"table_fingerprint: columns {missing} not in {df.columns}")
    dtypes = dict(df.dtypes)
    floaty = [c for c in columns if dtypes[c] in ("float", "double")]
    if floaty:
        raise ValueError(
            f"table_fingerprint: columns {floaty} are float/double — their "
            "string rendering is engine-dependent, so the fingerprint would "
            "not be portable. Pin a rendering first, e.g. "
            ".withColumn(c, col(c).cast('decimal(12,2)'))."
        )
    joined = F.concat_ws(
        "\x1f", *[F.coalesce(F.col(c).cast("string"), F.lit("\x00")) for c in columns]
    )
    digest = F.conv(F.substring(F.md5(joined), 1, 15), 16, 10).cast("long")
    agged = df.select(digest.alias("_d")).agg(
        F.count("*").cast("long").alias("n_rows"),
        F.sum(F.col("_d").cast("decimal(38,0)")).alias("_s"),
        F.bit_xor("_d").alias("checksum_xor"),
    )
    two64 = F.lit("18446744073709551616").cast("decimal(38,0)")
    half = F.lit("9223372036854775808").cast("decimal(38,0)")
    m = F.col("_s") % two64
    wrapped = F.when(m >= half, m - two64).otherwise(m).cast("long")
    return agged.select("n_rows", wrapped.alias("checksum_sum"), "checksum_xor")


def chi_square_independence(
    df: DataFrame,
    a_col: str,
    b_col: str,
    scale: int = 10**9,
) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    columns (Pearson 1900, public literature) plus Cramér's V effect
    size — the categorical×categorical leg of the stats family (the
    Pearson matrix covers numeric×numeric, grouped OLS numeric←numeric,
    Welch A/B numeric×binary).

    χ² = Σ_cells (O − E)² / E over the FULL r×c contingency grid —
    including zero-observation cells (their E-sized contribution is
    where sparse-association signal lives); E = row_total·col_total/n.
    Cramér's V = sqrt(χ² / (n · min(r−1, c−1))) ∈ [0, 1].

    Determinism: observed counts and marginals are exact bigints; each
    cell's contribution is computed in double FROM those integers with
    the same expression in any engine, rounded to ``scale`` units and
    summed as bigint — order-independent. E is (ra·cb)/n with the
    product in double (marginal products overflow int64 at petabyte row
    counts). V derives from the already-6dp-rounded χ².

    100 TB shape: ONE full-data shuffle (the (a, b) hash agg, combiner-
    backed). Marginals, the dense r·c grid (categorical cardinalities,
    not data volume), and the final fold run on cell counts only. NULL
    in either column excludes the row (no-information, not a level).

    Output (one row): n bigint, r int, c int, dof int, chi2 double
    (6dp), cramers_v double (6dp, NULL when dof = 0).
    """
    for c in (a_col, b_col):
        if c not in df.columns:
            raise ValueError(
                f"chi_square_independence: column {c!r} not in {df.columns}"
            )
    obs = (
        df.filter(F.col(a_col).isNotNull() & F.col(b_col).isNotNull())
        .groupBy(F.col(a_col).alias("_a"), F.col(b_col).alias("_b"))
        .agg(F.count("*").alias("_o"))
    )
    ra = obs.groupBy("_a").agg(F.sum("_o").alias("_ra"))
    cb = obs.groupBy("_b").agg(F.sum("_o").alias("_cb"))
    tot = obs.agg(F.sum("_o").alias("_n"))
    e = F.col("_ra").cast("double") * F.col("_cb") / F.col("_n")
    grid = (
        ra.crossJoin(cb)
        .join(obs, ["_a", "_b"], "left")
        .crossJoin(F.broadcast(tot))
        .select(
            F.col("_n"),
            F.coalesce("_o", F.lit(0)).alias("_o"),
            e.alias("_e"),
        )
    )
    contrib = F.round(
        (F.col("_o") - F.col("_e")) * (F.col("_o") - F.col("_e"))
        / F.col("_e") * scale
    ).cast("long")
    folded = grid.agg(
        F.max("_n").alias("n"),
        F.sum(contrib).alias("_sc"),
    )
    r_df = ra.agg(F.count("*").cast("int").alias("r"))
    c_df = cb.agg(F.count("*").cast("int").alias("c"))
    dof = (F.col("r") - 1) * (F.col("c") - 1)
    chi2 = F.round(F.col("_sc") / scale, 6)
    return (
        folded.crossJoin(F.broadcast(r_df))
        .crossJoin(F.broadcast(c_df))
        .select(
            "n",
            "r",
            "c",
            dof.alias("dof"),
            chi2.alias("chi2"),
            F.when(
                dof > 0,
                F.round(
                    F.sqrt(
                        chi2
                        / (
                            F.col("n")
                            * F.least(F.col("r") - 1, F.col("c") - 1)
                        )
                    ),
                    6,
                ),
            ).alias("cramers_v"),
        )
    )


def weighted_quantiles(
    df: DataFrame,
    value_col: str,
    weight_col: str,
    qs: Sequence[float] = (0.5, 0.9, 0.99),
) -> DataFrame:
    """Exact weight-fraction quantiles: for each q, the smallest value v
    such that rows with value ≤ v carry at least a q-fraction of the
    total weight. The training-data form of a percentile — "what doc-
    length cutoff keeps 90% of the CHARS" is a weighted quantile of
    length by char count, not a row-count percentile (a handful of huge
    docs can hold half the corpus mass).

    Weights must be non-negative and integral (they are cast to bigint;
    char/token/byte counts are the intended inputs) — the cumulative
    sums are then exact, and the only doubles are the q·total thresholds
    computed identically in any engine. Rows with NULL value/weight or
    negative weight are excluded.

    100 TB shape: ONE full-data shuffle (the value-level hash agg,
    combiner-backed), then the offsets-pattern cumulative sum over the
    distinct levels (range-repartition + partition-local window +
    broadcast per-partition sums — no single-partition window), and one
    final fold. All requested qs share the one cumsum.

    Output: q double, value (input type) — ascending by q.
    """
    if not qs:
        raise ValueError("weighted_quantiles: qs must be non-empty")
    for q in qs:
        if not (0.0 < q <= 1.0):
            raise ValueError(f"weighted_quantiles: q must be in (0, 1], got {q}")
    for c in (value_col, weight_col):
        if c not in df.columns:
            raise ValueError(f"weighted_quantiles: column {c!r} not in {df.columns}")
    w = F.col(weight_col).cast("long")
    levels = (
        df.filter(F.col(value_col).isNotNull() & w.isNotNull() & (w >= 0))
        .groupBy(value_col)
        .agg(F.sum(w).alias("_w"))
    )
    cum = _ordered_cumsums(levels, value_col, {"_w": "cum"})
    total = cum.agg(F.max("cum").alias("_total"))
    with_total = cum.crossJoin(F.broadcast(total))
    picks = with_total.agg(
        *[
            F.min(
                F.when(
                    F.col("cum") >= F.lit(float(q)) * F.col("_total"),
                    F.col(value_col),
                )
            ).alias(f"_v{i}")
            for i, q in enumerate(qs)
        ]
    )
    return picks.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(float(q)).alias("q"), F.col(f"_v{i}").alias("value")
                    )
                    for i, q in enumerate(qs)
                ]
            )
        ).alias("_p")
    ).select("_p.q", "_p.value").orderBy("q")


def ks_test(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a,
    group_b,
) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov statistic (Kolmogorov 1933,
    Smirnov 1939 — public literature): D = sup_x |F_a(x) − F_b(x)| over
    the two groups' empirical CDFs — the DISTRIBUTION-shift detector
    that completes the drift family (Welch A/B sees mean shifts, the
    profiler sees marginals; KS sees shape: variance, bimodality, tail
    moves, all of it).

    Exact-arithmetic contract: per distinct value, both groups'
    cumulative counts come from ONE shared offsets-pattern pass (two
    weights, same partitioning job); D is maximized over the integer
    cross-difference |cum_a·n_b − cum_b·n_a| — no float CDF anywhere.
    The single divide by n_a·n_b happens once at the end (6dp). The
    reported location is the SMALLEST value attaining the max (total
    order, engine-independent). n_a·n_b must fit int64 — fine to ~3·10⁹
    rows per group; beyond that the product moves to decimal(38,0)
    naturally (documented headroom, not a today-problem).

    100 TB shape: one full-data (value, group) hash agg (combiner-
    backed), then the offsets cumsum over distinct values and one fold.
    NULL values are excluded; rows in neither group are ignored.

    Output (one row): n_a, n_b bigint, d double (6dp), d_at (value
    type — the location of the supremum).
    """
    for c in (value_col, group_col):
        if c not in df.columns:
            raise ValueError(f"ks_test: column {c!r} not in {df.columns}")
    if group_a == group_b:
        raise ValueError("ks_test: group_a and group_b must differ")
    lv = (
        df.filter(
            F.col(value_col).isNotNull()
            & F.col(group_col).isin([group_a, group_b])
        )
        .groupBy(value_col)
        .agg(
            F.sum(F.when(F.col(group_col) == group_a, 1).otherwise(0)).alias("_ca"),
            F.sum(F.when(F.col(group_col) == group_b, 1).otherwise(0)).alias("_cb"),
        )
    )
    cum = _ordered_cumsums(lv, value_col, {"_ca": "_cuma", "_cb": "_cumb"})
    tot = cum.agg(
        F.max("_cuma").alias("_na"), F.max("_cumb").alias("_nb")
    )
    diff = F.abs(
        F.col("_cuma") * F.col("_nb") - F.col("_cumb") * F.col("_na")
    )
    # argmax with smallest-value tiebreak via one grouped min(struct):
    # (-diff, value) ascending == diff desc, ties to the smallest value.
    pick = F.struct(
        (-diff).alias("_negd"), F.col(value_col).alias("_at")
    )
    folded = cum.crossJoin(F.broadcast(tot)).agg(
        F.max("_na").alias("n_a"),
        F.max("_nb").alias("n_b"),
        F.min(pick).alias("_s"),
    )
    return folded.select(
        "n_a",
        "n_b",
        F.when(
            (F.col("n_a") > 0) & (F.col("n_b") > 0),
            F.round(
                (-F.col("_s._negd")).cast("double")
                / (F.col("n_a").cast("double") * F.col("n_b")),
                6,
            ),
        ).alias("d"),
        F.col("_s._at").alias("d_at"),
    )


def cusum_changepoint(
    df: DataFrame,
    order_col: str,
    value_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """Single mean-shift changepoint by the CUSUM criterion (Page 1954,
    public literature): the split point t maximizing |Σ_{i≤t}(x_i − x̄)|
    — equivalently the two-segment least-squares break — over a series
    ordered by ``order_col`` (values must be unique per row: pass a
    pre-aggregated series such as daily sums). The monitoring primitive
    behind "when did this metric's level actually move".

    Exact-arithmetic contract: with sx = round(x·scale) bigints,
    n·S_t = n·cum_t − t·total is an exact integer for every prefix, so
    the argmax (ties to the earliest point) is partition- and engine-
    independent; segment means divide exact integers once at the end.
    The last point is excluded as a candidate (a split must leave both
    segments non-empty). |n·S| ≤ n·Σ|sx| — move to decimal(38,0) beyond
    ~10⁹ rows × 10⁹ scaled mass; at that size the series is already
    pre-aggregated far below it.

    100 TB shape: one offsets-pattern pass over the series computing the
    value cumsum AND the row index together (two weights, one
    partitioning job), then a single fold. The full-data work happened
    upstream in whatever aggregation built the series.

    Output (one row): n bigint, t_at (order type), cusum double (6dp,
    max |S_t| in value units), mean_before, mean_after double (6dp).
    """
    for c in (order_col, value_col):
        if c not in df.columns:
            raise ValueError(f"cusum_changepoint: column {c!r} not in {df.columns}")
    pts = df.filter(
        F.col(order_col).isNotNull() & F.col(value_col).isNotNull()
    ).select(
        F.col(order_col).alias("_t"),
        F.round(F.col(value_col).cast("double") * scale).cast("long").alias("_sx"),
        F.lit(1).cast("long").alias("_one"),
    )
    cum = _ordered_cumsums(pts, "_t", {"_sx": "_cum", "_one": "_idx"})
    # total = the cumulative at the LAST index (max_by, not max: with
    # negative values the running sum is not monotone).
    tot = cum.agg(
        F.max("_idx").alias("_n"), F.max_by("_cum", "_idx").alias("_tot")
    )
    with_tot = cum.crossJoin(F.broadcast(tot)).filter(F.col("_idx") < F.col("_n"))
    ns = F.col("_n") * F.col("_cum") - F.col("_idx") * F.col("_tot")  # n·S_t
    pick = F.struct(
        (-F.abs(ns)).alias("_nega"),
        F.col("_t").alias("_t"),
        F.col("_cum").alias("_cum"),
        F.col("_idx").alias("_idx"),
    )
    folded = with_tot.agg(
        F.max("_n").alias("n"), F.max("_tot").alias("_tot"), F.min(pick).alias("_s")
    )
    idx, cum_at = F.col("_s._idx"), F.col("_s._cum")
    return folded.select(
        "n",
        F.col("_s._t").alias("t_at"),
        F.round(
            (-F.col("_s._nega")).cast("double") / F.col("n") / scale, 6
        ).alias("cusum"),
        F.round(cum_at.cast("double") / idx / scale, 6).alias("mean_before"),
        F.round(
            (F.col("_tot") - cum_at).cast("double") / (F.col("n") - idx) / scale, 6
        ).alias("mean_after"),
    )


def hll_intersect_estimate(
    a: DataFrame, b: DataFrame, p: int = 9
) -> DataFrame:
    """Intersection-cardinality estimate from two HLL register tables by
    inclusion-exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B), where the
    union sketch is the elementwise-max merge (exact for HLL — union is
    the operation the sketch natively supports; the subtraction is the
    standard derived estimate, noisier for small overlaps, clamped at 0).
    Completes the sketch algebra: merge gives unions, this gives
    overlaps — "how many users did BOTH" without a distinct-pair join.

    Determinism: each of the three estimates is the 4dp-rounded output
    of ``hll_estimate`` (integer harmonic sums); the combination
    arithmetic runs on those already-rounded doubles, so any engine
    replaying the sketches reproduces the result bit-for-bit.

    Output (one row): est_a, est_b, est_union, est_intersection
    (doubles, 4dp).
    """
    ea = hll_estimate(a, p).select(F.col("estimate").alias("est_a"))
    eb = hll_estimate(b, p).select(F.col("estimate").alias("est_b"))
    eu = hll_estimate(hll_merge(a, b), p).select(F.col("estimate").alias("est_union"))
    return (
        ea.crossJoin(F.broadcast(eb))
        .crossJoin(F.broadcast(eu))
        .select(
            "est_a",
            "est_b",
            "est_union",
            F.round(
                F.greatest(
                    F.col("est_a") + F.col("est_b") - F.col("est_union"), F.lit(0.0)
                ),
                4,
            ).alias("est_intersection"),
        )
    )


def psi(
    df: DataFrame,
    value_col: str,
    group_col: str,
    ref_group,
    cur_group,
    lo: float,
    hi: float,
    bins: int = 10,
    scale: int = 10**9,
) -> DataFrame:
    """Population Stability Index between a reference and a current
    distribution (the standard model-monitoring drift score; the
    discrete KL-symmetrization Σ (p_i − q_i)·ln(p_i/q_i) over shared
    bins — credit-scoring practice since the 1990s, public literature).
    Rule-of-thumb thresholds: <0.1 stable, 0.1-0.25 drifting, >0.25
    shifted — the actionable companion to ``ks_test``'s exact statistic.

    * Bins are ``bins`` fixed-width buckets over the LITERAL [lo, hi)
      plus explicit underflow (-1) and overflow (``bins``) buckets —
      data-independent edges, so ref and cur land in identical bins on
      any engine and the sketch-style contract holds: per-group bin
      counts are mergeable integers.
    * Zero-count bins would make ln(p/q) blow up; both densities use
      add-half smoothing p_i = (c_i + 0.5) / (N + 0.5·B) over the B
      observed-or-not buckets (B = bins + 2) — exact rationals from
      integer counts, so each term rounds to ``scale`` units
      identically everywhere and the sum is an exact bigint fold.

    100 TB shape: ONE full-data hash agg (group × bin, combiner-backed);
    everything after runs on ≤ 2·(bins+2) rows.

    Output (one row): n_ref, n_cur bigint, psi double (6dp).
    """
    if bins < 1:
        raise ValueError(f"psi: bins must be >= 1, got {bins}")
    if not (hi > lo):
        raise ValueError(f"psi: need hi > lo, got [{lo}, {hi})")
    if ref_group == cur_group:
        raise ValueError("psi: ref_group and cur_group must differ")
    for c in (value_col, group_col):
        if c not in df.columns:
            raise ValueError(f"psi: column {c!r} not in {df.columns}")
    counts = (
        df.filter(
            F.col(value_col).cast("double").isNotNull()
            & F.col(group_col).isin([ref_group, cur_group])
        )
        .groupBy(psi_bin_expr(value_col, lo, hi, bins).alias("_bin"))
        .agg(
            F.sum(F.when(F.col(group_col) == ref_group, 1).otherwise(0)).alias("_cr"),
            F.sum(F.when(F.col(group_col) == cur_group, 1).otherwise(0)).alias("_cc"),
        )
    )
    return psi_from_binned(counts, bins, scale)


def psi_bin_expr(value_col: str, lo: float, hi: float, bins: int) -> Column:
    """The PSI bucket id for a value: -1 underflow, ``bins`` overflow,
    else the fixed-width [lo, hi) bucket — shared by the batch operator
    and the streaming fold so both paths bin identically."""
    width = (hi - lo) / bins
    v = F.col(value_col).cast("double")
    return (
        F.when(v < lo, F.lit(-1))
        .when(v >= hi, F.lit(bins))
        .otherwise(F.floor((v - lo) / width).cast("int"))
    )


def psi_from_binned(counts: DataFrame, bins: int, scale: int = 10**9) -> DataFrame:
    """PSI fold from a (_bin, _cr, _cc) count table (see :func:`psi` for
    the smoothing contract) — the merge target for streaming bin counts."""
    # Dense bin grid (-1 .. bins): missing bins carry the smoothing mass.
    grid = counts.sparkSession.range(-1, bins + 1).select(
        F.col("id").cast("int").alias("_bin")
    )
    b_total = bins + 2
    dense = grid.join(counts, "_bin", "left").select(
        "_bin",
        F.coalesce("_cr", F.lit(0)).alias("_cr"),
        F.coalesce("_cc", F.lit(0)).alias("_cc"),
    )
    tot = dense.agg(F.sum("_cr").alias("_nr"), F.sum("_cc").alias("_nc"))
    p = (F.col("_cr") + 0.5) / (F.col("_nr") + 0.5 * b_total)
    q = (F.col("_cc") + 0.5) / (F.col("_nc") + 0.5 * b_total)
    term = F.round((p - q) * F.log(p / q) * scale).cast("long")
    return (
        dense.crossJoin(F.broadcast(tot))
        .agg(
            F.max("_nr").alias("n_ref"),
            F.max("_nc").alias("n_cur"),
            F.sum(term).alias("_s"),
        )
        .select(
            "n_ref", "n_cur", F.round(F.col("_s") / scale, 6).alias("psi")
        )
    )


def information_gain(
    df: DataFrame,
    target_col: str,
    feature_col: str,
    scale: int = 10**9,
) -> DataFrame:
    """Information gain of a categorical feature about a categorical
    target (mutual information; Quinlan 1986's ID3 split criterion,
    public literature): IG = H(Y) − H(Y|X), plus the gain ratio
    IG / H(X) that corrects IG's bias toward high-cardinality features —
    the feature-relevance readout beside ``chi_square_independence``'s
    significance test (chi² says "is there association"; IG says "how
    many bits does knowing X buy about Y").

    All three entropies come from ONE (x, y) contingency agg: each term
    is a ratio of exact bigint counts, ln'd once, rounded to ``scale``
    units and summed as bigints (the suite's scaled-ln discipline), so
    the result replays identically anywhere. NULL in either column
    excludes the row.

    100 TB shape: one combiner-backed (x, y) hash agg; marginals and
    the three folds run on cell counts.

    Output (one row): n bigint, h_target, h_conditional, info_gain,
    gain_ratio double (6dp; gain_ratio NULL when H(X) = 0).
    """
    for c in (target_col, feature_col):
        if c not in df.columns:
            raise ValueError(f"information_gain: column {c!r} not in {df.columns}")
    obs = (
        df.filter(F.col(target_col).isNotNull() & F.col(feature_col).isNotNull())
        .groupBy(F.col(feature_col).alias("_x"), F.col(target_col).alias("_y"))
        .agg(F.count("*").alias("_o"))
    )
    cx = obs.groupBy("_x").agg(F.sum("_o").alias("_cx"))
    cy = obs.groupBy("_y").agg(F.sum("_o").alias("_cy"))
    tot = obs.agg(F.sum("_o").alias("_n"))
    hy = (
        cy.crossJoin(F.broadcast(tot))
        .select(
            F.round(
                -(F.col("_cy") / F.col("_n"))
                * F.log(F.col("_cy") / F.col("_n"))
                * scale
            )
            .cast("long")
            .alias("_t")
        )
        .agg(F.sum("_t").alias("_hy"))
    )
    hx = (
        cx.crossJoin(F.broadcast(tot))
        .select(
            F.round(
                -(F.col("_cx") / F.col("_n"))
                * F.log(F.col("_cx") / F.col("_n"))
                * scale
            )
            .cast("long")
            .alias("_t")
        )
        .agg(F.sum("_t").alias("_hx"))
    )
    hyx = (
        obs.join(cx, "_x")
        .crossJoin(F.broadcast(tot))
        .select(
            F.round(
                -(F.col("_o") / F.col("_n"))
                * F.log(F.col("_o") / F.col("_cx"))
                * scale
            )
            .cast("long")
            .alias("_t")
        )
        .agg(F.sum("_t").alias("_hyx"))
    )
    return (
        tot.crossJoin(F.broadcast(hy))
        .crossJoin(F.broadcast(hx))
        .crossJoin(F.broadcast(hyx))
        .select(
            F.col("_n").alias("n"),
            F.round(F.col("_hy") / scale, 6).alias("h_target"),
            F.round(F.col("_hyx") / scale, 6).alias("h_conditional"),
            F.round((F.col("_hy") - F.col("_hyx")) / scale, 6).alias("info_gain"),
            F.when(
                F.col("_hx") > 0,
                F.round((F.col("_hy") - F.col("_hyx")) / F.col("_hx"), 6),
            ).alias("gain_ratio"),
        )
    )


def gini_coefficient(
    df: DataFrame,
    value_col: str,
    scale: int = 10**6,
) -> DataFrame:
    """Exact Gini coefficient of a non-negative quantity (Gini 1912,
    public literature; the rank-covariance form G = Σ(2r̄_i − n − 1)·x_i
    / (n·Σx) with average ranks over ties): how concentrated the mass
    is — 0 = uniform, →1 = a few rows hold everything. The corpus
    question it answers: "do a handful of domains/documents own most of
    the characters?" — the inequality readout behind per-source caps
    and token-budget decisions.

    Exact-arithmetic contract: values scale to bigints; per distinct
    level the tie-averaged twice-rank term (2·cum − c − n) is an exact
    integer from the offsets-pattern cumulative count, so the numerator
    is a decimal(38,0) sum of integer products and the single divide
    happens once (6dp). Negative values are rejected in-plan (Gini is
    undefined below zero; silently absorbing them flips signs).

    100 TB shape: one value-level hash agg (combiner-backed), the
    offsets cumsum over distinct levels, one fold.

    Output (one row): n bigint, total double (6dp, unscaled Σx),
    gini double (6dp; NULL when Σx = 0).
    """
    if value_col not in df.columns:
        raise ValueError(f"gini_coefficient: column {value_col!r} not in {df.columns}")
    v = F.col(value_col).cast("double")
    checked = F.when(
        v < 0,
        F.raise_error(
            F.concat(
                F.lit("gini_coefficient: negative value "), v.cast("string")
            )
        ).cast("double"),
    ).otherwise(v)
    levels = (
        df.filter(v.isNotNull())
        .select(F.round(checked * scale).cast("long").alias("_sv"))
        .groupBy("_sv")
        .agg(F.count("*").alias("_c"))
    )
    cum = _ordered_cumsums(levels, "_sv", {"_c": "_cum"})
    tot = cum.agg(
        F.max("_cum").alias("_n"),
        F.sum(F.col("_sv").cast("decimal(38,0)") * F.col("_c")).alias("_sum"),
    )
    term = (
        (2 * F.col("_cum") - F.col("_c") - F.col("_n")).cast("decimal(38,0)")
        * F.col("_sv").cast("decimal(38,0)")
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max("_n").alias("n"),
            F.max("_sum").alias("_s"),
            F.sum(term).alias("_num"),
        )
        .select(
            "n",
            F.round(F.col("_s").cast("double") / scale, 6).alias("total"),
            F.when(
                F.col("_s") > 0,
                F.round(
                    F.col("_num").cast("double")
                    / (F.col("n").cast("double") * F.col("_s").cast("double")),
                    6,
                ),
            ).alias("gini"),
        )
    )


def grouped_ks_report(
    df: DataFrame,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """One-vs-rest KS drift report: for EVERY group, the exact
    Kolmogorov-Smirnov statistic between that group's value distribution
    and the rest of the table — "which source/segment drifted", the
    per-slice fan-out of ``ks_test`` (same integer cross-difference
    criterion, same tie/location rules).

    Distributed shape: ONE (value, group) hash agg over the data, and a
    per-group cumulative that rides
    :func:`~wicsmmiretl_spark.operators.sampling.distributed_prefix_sum`
    on (group, value) — a group's value-grain rows SPAN range partitions
    instead of hashing into one window task (drift reports point at
    low-cardinality groups over high-cardinality values: the worst
    regime for a ``PARTITION BY group`` window). The GLOBAL cumulative
    folds from the grid itself — cumt(v) = Σ_g cumg(g, v) via a
    per-value window bounded by |G| rows — and per-group totals are a
    |G|-row grouped agg broadcast back. F_rest at a group's value points
    is (global cum − group cum)/(n − n_g): the rest's CDF only changes
    at SOME value in the union, and every union value appears in the
    grid the group rows join to.

    Caveat vs ``ks_test``: the supremum is evaluated at the group's own
    observed values UNION the global steps via the join on the global
    level table — identical to evaluating at all distinct values, since
    both CDFs are right-continuous step functions constant between
    global steps.

    Output: group_col, n_g, n_rest bigint, d double (6dp), d_at (value
    type) — one row per group with ≥1 value, descending by d then group.
    """
    for c in (value_col, group_col):
        if c not in df.columns:
            raise ValueError(f"grouped_ks_report: column {c!r} not in {df.columns}")
    gv = (
        df.filter(F.col(value_col).isNotNull() & F.col(group_col).isNotNull())
        .groupBy(F.col(group_col).alias("_g"), F.col(value_col).alias("_v"))
        .agg(F.count("*").alias("_c"))
    )
    glob = gv.select("_v").distinct()
    # Per-group cumulative at every GLOBAL step the group participates in
    # is not enough — F_g is constant between its own steps, but F_rest
    # moves. Expand: every (group, global value) pair where either side
    # steps... a full |G|×|V| grid. Instead evaluate at global steps via
    # the group's cum carried forward with a last_value window over the
    # group-joined grid. Grid rows: |V| per group — bounded by |V|·|G|,
    # the contingency size, NOT the data size.
    groups = gv.select("_g").distinct()
    grid = groups.crossJoin(glob)
    from wicsmmiretl_spark.operators.sampling import distributed_prefix_sum

    # Per-group running count without a PARTITION BY _g window (the
    # operator coalesces NULL _c to 0 — the documented contract) …
    cumg = distributed_prefix_sum(
        grid.join(gv, ["_g", "_v"], "left"),
        order_cols=["_v"],
        sum_cols=["_c"],
        group_cols=["_g"],
    ).withColumnRenamed("_c_cum", "_cumg")
    # … the GLOBAL running count folded from the grid itself — at any
    # value v, cumt(v) = Σ_g cumg(g, v), and every v holds exactly |G|
    # grid rows, so the per-value window is bounded by the group count
    # (no second offsets pass, no values join) …
    wv = Window.partitionBy("_v")
    with_ct = cumg.withColumn("_cumt", F.sum("_cumg").over(wv))
    # … and per-group totals as a |G|-row agg broadcast back (n_g ==
    # max cumulative == the group's plain count total).
    ng = gv.groupBy("_g").agg(F.sum("_c").alias("_ng"))
    n_tot = ng.agg(F.sum("_ng").alias("_n"))
    with_ng = (
        with_ct.crossJoin(F.broadcast(n_tot))
        .join(F.broadcast(ng), "_g")
        .filter(F.col("_ng") > 0)
    )
    # |F_g - F_rest| * ng * (n - ng), exact integers:
    # cumg/ng - (cumt-cumg)/(n-ng) -> cumg*(n-ng) - (cumt-cumg)*ng, over
    # the common denominator ng*(n-ng).
    diff = F.abs(
        F.col("_cumg") * (F.col("_n") - F.col("_ng"))
        - (F.col("_cumt") - F.col("_cumg")) * F.col("_ng")
    )
    pick = F.struct((-diff).alias("_negd"), F.col("_v").alias("_at"))
    folded = with_ng.groupBy("_g").agg(
        F.max("_ng").alias("n_g"),
        F.max(F.col("_n") - F.col("_ng")).alias("n_rest"),
        F.min(pick).alias("_s"),
    )
    return (
        folded.filter(F.col("n_rest") > 0)
        .select(
            F.col("_g").alias(group_col),
            "n_g",
            "n_rest",
            F.round(
                (-F.col("_s._negd")).cast("double")
                / (F.col("n_g").cast("double") * F.col("n_rest")),
                6,
            ).alias("d"),
            F.col("_s._at").alias("d_at"),
        )
        .orderBy(F.desc("d"), F.asc(group_col))
    )


_POISSON1_CDF = (
    ("0.367879441", 0),
    ("0.735758882", 1),
    ("0.919698603", 2),
    ("0.981011843", 3),
    ("0.996340153", 4),
)


def poisson_bootstrap_ci(
    df: DataFrame,
    value_col: str,
    key_col: str,
    n_replicas: int = 64,
    lo: float = 0.025,
    hi: float = 0.975,
    seed: int = 9,
    scale: int = 10**2,
    group_cols: Sequence[str] | None = None,
) -> DataFrame:
    """Distributed uncertainty for the mean via the POISSON bootstrap
    (Chamandy et al., "Estimating uncertainty for massive data streams",
    Google 2012 — public literature): the classic resample-with-
    replacement bootstrap needs n draws per replicate (a shuffle per
    replica); the Poisson approximation gives each row an independent
    Poisson(1) multiplicity per replica, so ALL replicas compute in ONE
    pass as a (replica → weighted partial agg) fan-out — the only
    bootstrap that works on data too big to index.

    Determinism: multiplicities come from a seeded md5 uniform pushed
    through the Poisson(1) inverse CDF written as LITERAL cumulative
    thresholds (no exp() at runtime — libm-free), capped at 5
    (P[X>5] ≈ 1/2445, a bias far below CI resolution at any real n);
    replicate means are scaled-integer sums divided once; the CI bounds
    are the exact interpolated quantiles both engines share.

    Scale shape: one explode to n·B rows (map-side), one hash agg keyed
    by replica (B groups — partial-agged, so the map side reduces each
    partition to B rows before the shuffle), one B-row quantile. The
    point estimate rides the same pass shape on the unexploded input.

    Output (one row — or one row per group with ``group_cols``):
    group_cols..., n_rows bigint, n_replicas int, point double,
    ci_low double, ci_high double (all 6dp). With ``group_cols`` the
    replica fan-out and both aggs simply key on (group, replica) — the
    per-segment CI costs the same single pass.
    """
    if n_replicas < 8:
        raise ValueError(f"poisson_bootstrap_ci: n_replicas must be >= 8, got {n_replicas}")
    if not 0 < lo < hi < 1:
        raise ValueError("poisson_bootstrap_ci: need 0 < lo < hi < 1")
    groups = list(group_cols or [])
    for c in (value_col, key_col, *groups):
        if c not in df.columns:
            raise ValueError(f"poisson_bootstrap_ci: column {c!r} not in {df.columns}")
    vc = F.round(F.col(value_col) * scale).cast("long")
    base = df.select(*groups, F.col(key_col).alias("_k"), vc.alias("_v"))
    reps = base.select(
        *groups, "_k", "_v",
        F.explode(F.sequence(F.lit(1), F.lit(n_replicas))).alias("_r"),
    )
    u = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.col("_k").cast("string"),
                    F.lit(":"),
                    F.col("_r").cast("string"),
                    F.lit(f":{seed}"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long") / F.lit(4294967296.0)
    cnt = F.lit(5)
    for thr, k in reversed(_POISSON1_CDF):
        cnt = F.when(u < F.lit(float(thr)), F.lit(k)).otherwise(cnt)
    means = (
        reps.withColumn("_c", cnt)
        .groupBy(*groups, "_r")
        .agg(
            F.sum(F.col("_c") * F.col("_v")).alias("_sv"),
            F.sum("_c").alias("_sc"),
        )
        .filter(F.col("_sc") > 0)
        .select(
            *groups,
            (
                (F.col("_sv").cast("double") / F.lit(float(scale)))
                / F.col("_sc")
            ).alias("_m"),
        )
    )
    point = base.groupBy(*groups).agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (
            (F.sum("_v").cast("double") / F.lit(float(scale))) / F.count(F.lit(1))
        ).alias("_point"),
    ) if groups else base.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        (
            (F.sum("_v").cast("double") / F.lit(float(scale))) / F.count(F.lit(1))
        ).alias("_point"),
    )
    ci_aggs = [
        F.round(F.percentile("_m", F.lit(lo)), 6).alias("ci_low"),
        F.round(F.percentile("_m", F.lit(hi)), 6).alias("ci_high"),
    ]
    if groups:
        ci = means.groupBy(*groups).agg(*ci_aggs)
        joined = point.join(F.broadcast(ci), groups)
    else:
        ci = means.agg(*ci_aggs)
        joined = point.join(F.broadcast(ci))
    return joined.select(
        *groups,
        "n_rows",
        F.lit(n_replicas).cast("int").alias("n_replicas"),
        F.round("_point", 6).alias("point"),
        "ci_low",
        "ci_high",
    )


def grouped_trimmed_stats(
    df: DataFrame,
    key_cols: Sequence[str],
    value_col: str,
    trim: float = 0.1,
    scale: int = 10**6,
) -> DataFrame:
    """Robust location per group: the ``trim``-trimmed mean (drop values
    outside the [trim, 1-trim] exact quantile fence, average the rest)
    and the winsorized mean (CLAMP to the fence instead of dropping) —
    the two standard outlier-robust means (Tukey — public literature),
    complementing the median (quantiles), MAD z-scores (outliers) and
    Theil-Sen (trends) in the robust-stats family.

    Exactness: fences are the exact interpolated quantiles both engines
    share; membership/clamping happens on those bit-identical doubles;
    the surviving/clamped values are scaled-integer sums divided once.

    Scale shape: one exact-quantile agg per group (the
    ``quantity_quantiles`` cost class — swap percentile_approx in at
    100 TB with the same plan), one fence join back (broadcast when the
    group count is small), one partial-agged mean pass.

    Output: key_cols..., n bigint, fence_lo/fence_hi double (6dp),
    trimmed_mean/winsorized_mean double (6dp), n_trimmed bigint.
    """
    if not 0 < trim < 0.5:
        raise ValueError(f"grouped_trimmed_stats: trim must be in (0, 0.5), got {trim}")
    keys = list(key_cols)
    for c in [*keys, value_col]:
        if c not in df.columns:
            raise ValueError(f"grouped_trimmed_stats: column {c!r} not in {df.columns}")
    v = F.col(value_col)
    fences = df.groupBy(*keys).agg(
        F.percentile(value_col, F.lit(trim)).alias("_lo"),
        F.percentile(value_col, F.lit(1 - trim)).alias("_hi"),
    )
    j = df.join(F.broadcast(fences), keys)
    inside = (v >= F.col("_lo")) & (v <= F.col("_hi"))
    clamped = F.least(F.greatest(v, F.col("_lo")), F.col("_hi"))
    return j.groupBy(*keys).agg(
        F.count(v).cast("long").alias("n"),
        F.round(F.min("_lo"), 6).alias("fence_lo"),
        F.round(F.min("_hi"), 6).alias("fence_hi"),
        F.round(
            (
                F.sum(F.when(inside, F.round(v * scale).cast("long")))
                / F.lit(float(scale))
            )
            / F.sum(F.when(inside, 1).otherwise(0)),
            6,
        ).alias("trimmed_mean"),
        F.round(
            (F.sum(F.round(clamped * scale).cast("long")) / F.lit(float(scale)))
            / F.count(v),
            6,
        ).alias("winsorized_mean"),
        F.sum(F.when(inside, 0).otherwise(1)).cast("long").alias("n_trimmed"),
    )


def conformal_interval(
    df: DataFrame,
    group_cols: Sequence[str],
    x_col: str,
    y_col: str,
    id_col: str,
    q: float = 0.9,
    seed: int = 17,
    y_scale: int = 10**4,
) -> DataFrame:
    """Split-conformal prediction intervals per group (Vovk et al.;
    Papadopoulos 2002; Lei et al. 2018 — public literature): fit an OLS
    trend on a seeded md5 HALF of each group, take the ``q``-quantile of
    absolute residuals on the OTHER half — the half-width then gives
    distribution-free ≥q coverage for new points, the honest uncertainty
    statement a bare regression line lacks (``poisson_bootstrap_ci``
    bounds the ESTIMATE; this bounds the PREDICTIONS).

    Determinism: the split is a seeded md5 hex test; the five OLS moments
    are exact integer sums over (int x, scaled-int y); slope/intercept
    and every residual are single double expressions from those exact
    ints; the calibration quantile is the exact interpolated percentile
    both engines share.

    Scale shape: one moments agg (partial-agged) + one broadcast of the
    |groups|-row coefficients + one residual-quantile agg — two passes,
    no window, nothing collected.

    Output: group_cols..., n_fit bigint, n_cal bigint, slope double,
    intercept double, half_width double (all 6dp; NULL slope/width for
    degenerate fits).
    """
    if not 0 < q < 1:
        raise ValueError(f"conformal_interval: q must be in (0, 1), got {q}")
    keys = list(group_cols)
    for c in [*keys, x_col, y_col, id_col]:
        if c not in df.columns:
            raise ValueError(f"conformal_interval: column {c!r} not in {df.columns}")
    dec = "decimal(38,0)"
    base = df.select(
        *keys,
        F.col(x_col).cast("long").alias("_x"),
        F.round(F.col(y_col) * y_scale).cast("long").alias("_y"),
        (
            F.substring(
                F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))), 1, 1
            )
            <= F.lit("7")
        ).alias("_fit"),
    )
    m = (
        base.filter(F.col("_fit"))
        .groupBy(*keys)
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_fit"),
            F.sum(F.col("_x").cast(dec)).alias("_sx"),
            F.sum(F.col("_y").cast(dec)).alias("_sy"),
            F.sum((F.col("_x") * F.col("_x")).cast(dec)).alias("_sxx"),
            F.sum((F.col("_x") * F.col("_y")).cast(dec)).alias("_sxy"),
        )
    )
    dx = (
        F.col("n_fit").cast("double") * F.col("_sxx").cast("double")
        - F.col("_sx").cast("double") * F.col("_sx").cast("double")
    )
    cov = (
        F.col("n_fit").cast("double") * F.col("_sxy").cast("double")
        - F.col("_sx").cast("double") * F.col("_sy").cast("double")
    )
    slope_s = cov / dx
    coef = m.select(
        *keys,
        "n_fit",
        F.when(dx != 0, slope_s).alias("_slope_s"),
        F.when(
            dx != 0,
            F.col("_sy").cast("double") / F.col("n_fit").cast("double")
            - slope_s * (F.col("_sx").cast("double") / F.col("n_fit").cast("double")),
        ).alias("_icept_s"),
    )
    cal = base.filter(~F.col("_fit")).join(F.broadcast(coef), keys)
    r_abs = F.abs(
        F.col("_y").cast("double")
        - (F.col("_slope_s") * F.col("_x").cast("double") + F.col("_icept_s"))
    )
    return cal.groupBy(*keys).agg(
        F.min("n_fit").alias("n_fit"),
        F.count(F.lit(1)).cast("long").alias("n_cal"),
        F.round(F.min("_slope_s") / y_scale, 6).alias("slope"),
        F.round(F.min("_icept_s") / y_scale, 6).alias("intercept"),
        F.round(F.percentile(r_abs, F.lit(q)) / y_scale, 6).alias("half_width"),
    )
