"""Pareto-front (skyline) extraction.

Engine extension beyond the reference (its operator set stops at grouped
aggregates and top-k; see reference ``etl.py`` aggregation stages): the
2-D skyline — all rows not dominated in both criteria — is the standard
multi-criteria shortlist operator (Börzsönyi, Kossmann & Stocker, ICDE
2001, public literature): cheapest-AND-smallest parts, best
quality-per-cost documents, fastest-AND-freshest sources.

100 TB design: the full table is touched exactly ONCE, by a
``groupBy(x, y)`` whose partial aggregation collapses duplicates
map-side. Everything after runs on the per-x best candidates —
at most |distinct x| rows — swept by the ordered-prefix kernel
``sampling._range_offsets`` (range-repartition, one per-partition bests
collect, a partition-local running extreme plus the prefix best), NEVER
a single-partition global window. The dominance test itself is
O(candidates), not the O(n²) NOT-EXISTS a naive formulation would plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from wicsmmiretl_spark.operators.sampling import _range_offsets


def skyline_2d(
    df: DataFrame,
    x_col: str,
    y_col: str,
    maximize_x: bool = False,
    maximize_y: bool = False,
) -> DataFrame:
    """All (x, y) points not dominated by any other row.

    A point is dominated if another point is at-least-as-good in both
    criteria and strictly better in at least one ("good" = small unless
    the ``maximize_*`` flag flips that axis). Coincident points are
    mutually non-dominating: they surface as ONE output row with their
    multiplicity in ``n``. Rows with a NULL in either criterion are
    excluded (3-valued dominance is not meaningful).

    Shape: 1 full-data shuffle (the (x, y) hash agg, combiner-backed),
    then a per-x min_by/max_by (partial-aggregating — no per-x window
    task) and one range-repartition over the ≤|distinct x| candidates;
    the global sweep state crosses the driver as one #partitions-row
    list of per-partition bests, folded by min (max) into exclusive
    prefix bests on the ordered-prefix kernel
    (``sampling._range_offsets``).

    Output: x_col, y_col (original values/types), n bigint — ascending
    by the x criterion's "good" direction.
    """
    for c in (x_col, y_col):
        if c not in df.columns:
            raise ValueError(f"skyline_2d: column {c!r} not in {df.columns}")

    x_dir = F.desc(x_col) if maximize_x else F.asc(x_col)
    y_best = (lambda c: F.max(c)) if maximize_y else (lambda c: F.min(c))
    y_strictly_better = (
        (lambda a, b: a > b) if maximize_y else (lambda a, b: a < b)
    )

    pts = (
        df.filter(F.col(x_col).isNotNull() & F.col(y_col).isNotNull())
        .groupBy(x_col, y_col)
        .agg(F.count("*").alias("n"))
    )
    # Per distinct x only the best y can be on the front (same x, worse y
    # is dominated strictly in y). One row per distinct x survives — via
    # a partial-aggregating min_by/max_by, NOT a PARTITION BY x window
    # (the agg combines map-side, so a hot x never serializes its
    # distinct-y set into one task; y is unique within an x group after
    # the (x, y) agg, so the pick is deterministic).
    pick = (F.max_by if maximize_y else F.min_by)(
        F.struct(F.col(y_col).alias("y"), F.col("n").alias("n")), F.col(y_col)
    )
    cand = pts.groupBy(x_col).agg(pick.alias("_b")).select(
        x_col, F.col("_b.y").alias(y_col), F.col("_b.n").alias("n")
    )
    # Prefix-best sweep over the candidates in x order on the
    # ordered-prefix kernel: a candidate is on the front iff its y
    # strictly beats the best y of every strictly-better-x candidate —
    # the partition-local running best folded with the exclusive best of
    # the partitions before it (NULL before the first).
    parts, _ = _range_offsets(
        cand,
        [x_dir],
        {"_prefix": y_best(F.col(y_col))},
        fold=max if maximize_y else min,
        zero=None,
    )
    local = (
        Window.partitionBy("_pid")
        .orderBy(x_dir)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    # least/greatest skip NULLs (null only when BOTH are), so one call
    # folds the partition-local running best with the prefix best.
    prev_best = (F.greatest if maximize_y else F.least)(
        y_best(F.col(y_col)).over(local), F.col("_prefix")
    )
    return (
        parts.withColumn("_prev", prev_best)
        .filter(
            F.col("_prev").isNull()
            | y_strictly_better(F.col(y_col), F.col("_prev"))
        )
        .select(x_col, y_col, "n")
        .orderBy(x_dir)
    )
