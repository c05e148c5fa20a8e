"""Data layout for scan pruning: Z-order (Morton) clustering.

At 100 TB the cheapest query is the one that never reads the file: parquet
row-group min/max statistics prune scans, but only if the writer clustered
the data so each file covers a SMALL range of the filter columns. Sorting
by (a, b) prunes filters on `a` and barely helps `b`; interleaving the bits
of both columns (Morton / Z-order curve) gives every file a tight bounding
box in BOTH dimensions, so either filter prunes.

Everything here is pure Catalyst arithmetic (shift/and/or on integral
ranks) — no UDFs — and the layout write is repartitionByRange + sort, the
shapes Spark already optimizes. The min/max normalization pass is ONE
column-pruned aggregate (2 scalars per column collected to the driver).

No reference twin (the reference writes a single Feather file); this is
north-star 100 TB engineering.
"""

from __future__ import annotations

from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def zorder_value(
    df: DataFrame, cols: Sequence[str], bits: int = 8
) -> tuple[DataFrame, Column]:
    """Append a Morton code column interleaving ``bits`` bits per column.

    Each column is min/max-scaled to an integer rank in [0, 2^bits) (one
    eager aggregate for the bounds — 2 scalars per column), then ranks are
    bit-interleaved: output bit ``b * len(cols) + i`` is bit ``b`` of
    column ``i``'s rank. NULL ranks sort first (rank 0).

    Returns (df_with__zorder, zorder_column). ``bits * len(cols)`` must fit
    a signed 64-bit long (<= 62).
    """
    if not cols:
        raise ValueError("zorder_value: need at least one column")
    if bits * len(cols) > 62:
        raise ValueError(
            f"zorder_value: {bits} bits x {len(cols)} cols exceeds a 63-bit long; "
            "lower bits (8 per column prunes to 1/256 ranges — plenty for layout)"
        )
    bounds = df.agg(
        *[F.min(c).cast("double").alias(f"min_{c}") for c in cols],
        *[F.max(c).cast("double").alias(f"max_{c}") for c in cols],
    ).first()

    top = (1 << bits) - 1
    ranks = []
    for c in cols:
        lo, hi = bounds[f"min_{c}"], bounds[f"max_{c}"]
        if lo is None or hi is None or hi == lo:
            ranks.append(F.lit(0).cast("long"))
            continue
        scaled = (F.col(c).cast("double") - F.lit(float(lo))) / F.lit(float(hi - lo)) * top
        rank = F.least(F.greatest(F.round(scaled).cast("long"), F.lit(0)), F.lit(top))
        ranks.append(F.coalesce(rank, F.lit(0)))

    terms = []
    n = len(cols)
    for b in range(bits):
        for i, rank in enumerate(ranks):
            bit = F.shiftright(rank, b).bitwiseAND(F.lit(1))
            terms.append(F.shiftleft(bit, b * n + i))
    z = reduce(lambda acc, t: acc.bitwiseOR(t), terms).alias("_zorder")
    return df.withColumn("_zorder", z), F.col("_zorder")


def cluster_by_zorder(
    df: DataFrame, cols: Sequence[str], num_partitions: int, bits: int = 8
) -> DataFrame:
    """Cluster rows for a layout write: Z-order code -> range partitioning
    -> intra-partition sort. Each output file then covers one contiguous
    stretch of the Z-curve = a tight bounding box per filter column, so
    parquet min/max stats prune scans on ANY of ``cols``.

    One exchange (range partitioning needs a sampled-boundary shuffle —
    inherent to any clustered write); the sort is partition-local. Drop the
    ``_zorder`` helper column after writing if the consumer should not see
    it (kept here so the writer can verify the clustering).
    """
    zdf, z = zorder_value(df, cols, bits)
    return zdf.repartitionByRange(num_partitions, z).sortWithinPartitions(z)


def zonemap_pruning_report(
    df: DataFrame,
    cols: Sequence[str],
    n_files: int,
    predicates: Sequence[tuple[str, dict[str, tuple[int, int]]]],
    tiebreak: Sequence[str],
    bits: int = 8,
) -> DataFrame:
    """Measure file-level min/max (zone-map) pruning under two layout
    strategies — the quantified follow-up to ``cluster_by_zorder``: not
    "z-order should prune" but "this layout reads N of M files for THIS
    predicate".

    Strategies: ``linear`` (sort by ``cols[0]`` — what a naive writer
    does) and ``zorder`` (Morton interleave of all ``cols``). Rows are
    assigned to ``n_files`` contiguous "files" with ``ntile`` over the
    layout order; per-file min/max of every predicate column is the
    simulated parquet footer, and a file is READ iff every predicate
    interval overlaps its [min, max]. Each (strategy, predicate) pair
    yields one report row. An empty input has no files, so the report is
    empty too: 0 rows, same schema.

    Determinism contract (what makes this oracle-checkable): ``ntile``
    over (layout key, *tiebreak) stands in for ``repartitionByRange``,
    whose reservoir-sampled boundaries are not reproducible across
    engines, and ALL rank math is exact integer arithmetic —
    ``((c - lo) * top) div (hi - lo)`` on bigints — so the layout is
    bit-identical in Spark and a SQL oracle (no float rounding at bucket
    edges, unlike ``zorder_value``'s double scaling, which this function
    deliberately does not share). ``cols`` must be integral; NULL ranks 0.

    Cost honesty: one column-pruned bounds aggregate (2 scalars per
    column), then ONE global-sort range exchange per strategy (the
    inherent cost of any total layout order — a real write amortizes it
    into the write; the two strategies order by unrelated keys, so they
    cannot share an exchange). Five passes re-scan the explicit narrow
    projection — the bounds aggregate plus, per strategy, the range
    boundary sample and the shuffle map side. A shared lazy
    localCheckpoint of that projection was A/B'd (r15, guide §5) and
    REJECTED: ~1 s faster at 1x but 8.1 s vs 4.7 s at the synthesized
    10x slice — materializing the projection costs more than four
    re-scans of a column-pruned source save; do not re-pin. The
    per-(strategy, predicate) report rows are ONE aggregate over the two
    unioned zone maps, stacked with a per-predicate struct array (r15) —
    previously 12 single-row aggregates in a 12-way union.
    """
    if not cols:
        raise ValueError("zonemap_pruning_report: need at least one layout column")
    if bits * len(cols) > 62:
        raise ValueError(
            f"zonemap_pruning_report: {bits} bits x {len(cols)} cols "
            "exceeds a 63-bit long"
        )
    if not predicates:
        raise ValueError("zonemap_pruning_report: need at least one predicate")
    pred_cols = sorted({c for _, box in predicates for c in box})
    for _, box in predicates:
        for c in box:
            if c not in df.columns:
                raise ValueError(f"zonemap_pruning_report: predicate column {c!r} missing")

    keep_cols = sorted({*cols, *pred_cols, *tiebreak})
    missing = [c for c in keep_cols if c not in df.columns]
    if missing:
        raise ValueError(f"zonemap_pruning_report: columns {missing} not in {df.columns}")
    df = df.select(*keep_cols)

    bounds = df.agg(
        *[F.min(c).cast("long").alias(f"min_{c}") for c in cols],
        *[F.max(c).cast("long").alias(f"max_{c}") for c in cols],
    ).first()
    top = (1 << bits) - 1
    ranks = []
    for c in cols:
        lo, hi = bounds[f"min_{c}"], bounds[f"max_{c}"]
        if lo is None or hi is None or hi == lo:
            ranks.append(F.lit(0).cast("long"))
        else:
            ranks.append(
                F.coalesce(
                    F.expr(
                        f"((cast(`{c}` as bigint) - {lo}L) * {top}L) div {hi - lo}L"
                    ),
                    F.lit(0),
                )
            )
    n = len(cols)
    terms = [
        F.shiftleft(F.shiftright(rk, b).bitwiseAND(F.lit(1)), b * n + i)
        for b in range(bits)
        for i, rk in enumerate(ranks)
    ]
    zcol = reduce(lambda acc, t: acc.bitwiseOR(t), terms)

    from wicsmmiretl_spark.operators.sampling import distributed_ntile

    zms = []
    for strategy, key in (("linear", F.col(cols[0]).cast("long")), ("zorder", zcol)):
        # File assignment is an exact global ntile over the layout key —
        # run through the two-level range-partitioned form (no
        # single-partition sort), mirroring the real write path's
        # repartitionByRange below.
        assigned = distributed_ntile(
            df.withColumn("_zk", key), ["_zk", *tiebreak], n_files, "_file"
        ).drop("_zk")
        zms.append(
            assigned.groupBy("_file")
            .agg(
                F.count("*").alias("_n"),
                *[F.min(c).cast("long").alias(f"_lo_{c}") for c in pred_cols],
                *[F.max(c).cast("long").alias(f"_hi_{c}") for c in pred_cols],
            )
            .select(F.lit(strategy).alias("strategy"), "*")
        )

    def _read(box: dict[str, tuple[int, int]]) -> Column:
        cond = F.lit(True)
        for c, (lo, hi) in box.items():
            cond = (
                cond
                & (F.col(f"_hi_{c}") >= F.lit(int(lo)))
                & (F.col(f"_lo_{c}") <= F.lit(int(hi)))
            )
        return cond

    # One aggregate over both strategies' zone maps computes every
    # (strategy, predicate) cell; the per-predicate struct array then
    # stacks them back to one row each. Same exact-integer sums and the
    # same rounding as the per-pair aggregates this replaces.
    per_strategy = (
        zms[0]
        .unionByName(zms[1])
        .groupBy("strategy")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("_n").cast("long").alias("rows_total"),
            *[
                a
                for i, (_, box) in enumerate(predicates)
                for a in (
                    F.sum(F.when(_read(box), 1).otherwise(0))
                    .cast("long")
                    .alias(f"_fr_{i}"),
                    F.sum(F.when(_read(box), F.col("_n")).otherwise(0))
                    .cast("long")
                    .alias(f"_rr_{i}"),
                )
            ],
        )
    )
    stacked = per_strategy.select(
        "strategy",
        "n_files",
        "rows_total",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(pname).alias("predicate"),
                        F.col(f"_fr_{i}").alias("files_read"),
                        F.col(f"_rr_{i}").alias("rows_read"),
                    )
                    for i, (pname, _) in enumerate(predicates)
                ]
            )
        ).alias("_p"),
    )
    return stacked.select(
        "strategy",
        F.col("_p.predicate").alias("predicate"),
        "n_files",
        F.col("_p.files_read").alias("files_read"),
        (F.col("n_files") - F.col("_p.files_read")).alias("files_pruned"),
        "rows_total",
        F.col("_p.rows_read").alias("rows_read"),
        F.round(
            F.lit(1.0) - F.col("_p.files_read") / F.col("n_files"), 6
        ).alias("prune_fraction"),
    ).orderBy("strategy", "predicate")
