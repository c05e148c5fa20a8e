"""Sampling, shuffling, limits (SURVEY §2.5 R1-R3, R7).

Determinism contract: pandas seeds don't transfer to a cluster, so the engine
promises *self*-reproducibility (same seed → same rows on any cluster
layout), not bit-parity with pandas RNG (SURVEY §7 risk (a)).

The seeded-shuffle-then-head idiom (wikicaps_etl_pipeline.py:120-122,141-147)
is a deterministic sample-without-replacement; a bare Spark ``limit`` is
order-unstable, so the deterministic variant sorts by a per-row hash keyed on
the seed. Hash-sort beats ``orderBy(rand(seed))`` at scale: ``rand`` is
partition-index dependent (stable only for a fixed partitioning), while
``xxhash64(key, seed)`` depends on data values alone.
"""

from __future__ import annotations

import operator
from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import DataType, IntegerType, StructField, StructType


def deterministic_shuffle(df: DataFrame, key_cols: Sequence[str], seed: int = 1312) -> DataFrame:
    """R1: seeded full permutation (reference seed 1312,
    configs/config_gpu_server_spacy.yml:11).

    Orders by a value-derived 64-bit hash — reproducible regardless of input
    partitioning. When the goal is only load-spreading (the reference's
    stated purpose, wikicaps_etl_pipeline.py:87-88), prefer
    ``df.repartition(n)`` and skip the sort entirely.
    """
    return df.orderBy(F.xxhash64(*[F.col(c) for c in key_cols], F.lit(seed)))


def deterministic_sample(
    df: DataFrame, n: int, key_cols: Sequence[str], seed: int = 1312
) -> DataFrame:
    """R2/R3: exact-n seeded sample without replacement.

    pandas ``df.sample(frac=1, random_state=s).head(n)`` equivalent. The
    hash-sort + limit compiles to TakeOrderedAndProject (top-k): each
    partition keeps its local n smallest hashes, only n·p rows shuffle —
    no full sort at 100 TB.
    """
    return deterministic_shuffle(df, key_cols, seed).limit(n)


def train_test_split(
    df: DataFrame, test_fraction: float, key_cols: Sequence[str], seed: int = 1312
) -> tuple[DataFrame, DataFrame]:
    """R7: regenerate the reference's train/test split capability (the repo
    ships only split artifacts, no code — SURVEY §1.1).

    Value-hash bucketing instead of ``randomSplit``: deterministic under
    repartitioning AND stable for a given key (a row never migrates between
    splits when unrelated rows are added — the property a dataset-versioning
    pipeline actually needs).
    """
    bucket = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols], F.lit(seed)), F.lit(1_000_000))
    test = df.filter(bucket < int(test_fraction * 1_000_000))
    train = df.filter(bucket >= int(test_fraction * 1_000_000))
    return train, test


def hash_split(
    df: DataFrame, test_fraction: float, key_cols: Sequence[str], seed: int = 1312
) -> DataFrame:
    """R7 variant with a cross-engine-reproducible hash: md5 of the
    ``:``-joined key values + seed; first 32 hash bits under the threshold →
    'test'. Same stability guarantees as :func:`train_test_split` (row
    assignment depends only on its key), but the assignment can be recomputed
    in any engine with an md5 function — the property an audit needs.

    Adds a ``split`` column ('test' | 'train'). Threshold compare happens on
    the 8-hex-char prefix as a string — fixed-length lowercase hex preserves
    numeric order. A NULL in any key column makes the hash NULL → 'train'
    (same as a SQL ``||`` concatenation; see :func:`_hash_prefix`).
    """
    prefix = _hash_prefix(key_cols, seed)
    threshold = format(int(test_fraction * 0x100000000), "08x")
    return df.withColumn(
        "split", F.when(prefix < threshold, F.lit("test")).otherwise(F.lit("train"))
    )


def top_k(df: DataFrame, order_col: str, k: int, ascending: bool = False) -> DataFrame:
    """R5 + limit: top-k by value → TakeOrderedAndProject, no global sort."""
    order = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    return df.orderBy(order).limit(k)


def _hash_prefix(key_cols: Sequence[str], seed: int):
    """First 8 hex chars of md5(key₁:…:keyₙ:seed) — fixed-length lowercase
    hex compares like the 32-bit integer it encodes, and is recomputable in
    any engine with an md5 (same contract as :func:`hash_split`).

    NULL-propagating on purpose (``F.concat``, not ``concat_ws``): a NULL in
    any key column yields a NULL hash, so threshold compares are NULL and
    the row is excluded — exactly what a SQL ``key || ':' || seed``
    concatenation does. ``concat_ws`` would silently skip the NULL column
    and hash a shorter key, diverging from any SQL re-computation."""
    parts: list = []
    for c in key_cols:
        parts.extend((F.col(c).cast("string"), F.lit(":")))
    return F.md5(F.concat(*parts, F.lit(str(seed)))).substr(1, 8)


def _frac_threshold(fraction: float) -> str:
    """Hex threshold for ``prefix < threshold``. Fractions ≥ 1.0 return
    ``'g'`` — lexically above every hex prefix, so the compare is
    always-true and keep-everything really keeps everything (a 0xFFFFFFFF
    cap would drop the ~1-in-2³² rows whose prefix is 'ffffffff')."""
    if fraction >= 1.0:
        return "g"
    return format(min(int(fraction * 0x100000000), 0xFFFFFFFF), "08x")


def stratified_sample(
    df: DataFrame,
    stratum_col: str,
    fractions: dict[str, float],
    key_cols: Sequence[str],
    seed: int = 1312,
    default_fraction: float = 0.0,
) -> DataFrame:
    """Per-stratum deterministic Bernoulli sample: a row of stratum ``s`` is
    kept iff its md5 hash prefix < ``fractions[s]``·2³². Unlike
    ``df.sampleBy`` (partition-index-dependent RNG), membership depends only
    on the row's key — stable under repartitioning, re-runs, and engine
    changes, which is what dataset versioning needs.

    Scale: pure filter projection, no shuffle, predicate evaluates per row
    at the scan."""
    prefix = _hash_prefix(key_cols, seed)
    thr = F.lit(_frac_threshold(default_fraction))
    for stratum, frac in sorted(fractions.items()):
        thr = F.when(F.col(stratum_col) == stratum, F.lit(_frac_threshold(frac))).otherwise(thr)
    return df.filter(prefix < thr)


def mix_corpus(
    df: DataFrame,
    source_col: str,
    weights: dict[str, float],
    budget: float,
    size_col: str,
    key_cols: Sequence[str],
    seed: int = 1312,
) -> DataFrame:
    """Corpus mixing under a budget: sample each source so its expected
    share of ``budget`` (in ``size_col`` units — tokens, chars, bytes) is
    proportional to its weight. The standard knob for re-weighting a
    pretraining mixture (e.g. upsample wiki, downsample crawl).

    Per source s: target_s = budget·w_s/Σw, fraction_s = min(1,
    target_s/size_s). Source sizes come from ONE partial-agged groupBy whose
    output is |sources| rows — collected to the driver (justified: mixture
    configs are O(10) sources), then applied as a stratified hash-threshold
    filter, so the corpus itself never shuffles. Sources absent from
    ``weights`` are dropped (weight 0).
    """
    totals = {
        r["s"]: r["tot"]
        for r in df.groupBy(F.col(source_col).alias("s"))
        .agg(F.sum(size_col).alias("tot"))
        .collect()
    }
    total_w = sum(weights.values())
    fractions = {}
    for s, w in weights.items():
        size_s = totals.get(s)
        if not size_s:
            continue
        fractions[s] = min(1.0, (budget * w / total_w) / float(size_s))
    return stratified_sample(df, source_col, fractions, key_cols, seed)


def quantile_bins(
    df: DataFrame,
    value_col: str,
    tiebreak_col: str,
    n_bins: int = 10,
) -> DataFrame:
    """Equal-frequency (quantile) binning of a numeric column — the
    feature-engineering discretizer (decile features, calibration buckets,
    per-bin monitoring).

    ``ntile`` semantics over a TOTAL order: ``tiebreak_col`` must be a
    unique key so equal values have a deterministic bin split (both Spark
    and DuckDB fill remainder rows into the leading buckets — identical
    semantics on an identical order). NULL values are excluded (a NULL is
    a missing feature, not a quantile).

    The binning runs through :func:`distributed_ntile` — the two-level
    range-partitioned form (the ordered-prefix kernel
    :func:`_range_offsets`), NOT a global-sort window — so no single task
    ever sees the whole table; this is the 100 TB path and the exact
    oracle in one. For cheaper approximate boundaries, sample-sort
    upstream and pass the result here unchanged.

    Output: bin int (1-based), n bigint, lo/hi double (bin min/max).
    """
    if n_bins < 2:
        raise ValueError(f"quantile_bins: n_bins must be >= 2, got {n_bins}")
    for c in (value_col, tiebreak_col):
        if c not in df.columns:
            raise ValueError(f"quantile_bins: column {c!r} not in {df.columns}")
    binned = distributed_ntile(
        df.filter(F.col(value_col).isNotNull()).select(
            F.col(value_col).alias("_v"), F.col(tiebreak_col).alias("_tb")
        ),
        ["_v", "_tb"],
        n_bins,
        out_col="bin",
    )
    return (
        binned.groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.min("_v").alias("lo"),
            F.max("_v").alias("hi"),
        )
        .orderBy("bin")
    )


def cap_per_group(
    df: DataFrame,
    group_col: str,
    cap: int,
    order_by: Sequence,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen by ``order_by`` — the
    per-domain/per-source document cap every large-scale pretraining
    pipeline applies so one domain can't dominate the mixture (crawl
    pipelines cap docs-per-registered-domain; the same shape caps
    images-per-site, rows-per-user, etc.).

    ``order_by`` must reach a UNIQUE total order inside each group (end it
    with the row id) or the kept set is nondeterministic.

    Scale: the naive single window hashes every row of a group into one
    reducer — a hot domain with 100M rows becomes one straggling task. Same
    cure as the top-k prune in ``operators/similarity.py``: stage 1 takes
    the per-(input-partition, group) top-``cap`` (the global top-cap is a
    subset of the per-partition top-caps, so the result is
    partitioning-invariant), spreading the first shuffle over P×|groups|
    keys; the final window sees ≤ P×cap rows per group.
    """
    if not order_by:
        raise ValueError("cap_per_group: order_by must name a deterministic order")
    if cap < 0:
        raise ValueError(f"cap_per_group: cap must be >= 0, got {cap}")
    if cap == 0:
        # Degenerate but well-defined (and what k=0 through the top-k
        # callers historically produced): keep nothing, schema unchanged.
        return df.filter(F.lit(False))
    clash = {"_pid", "_rn"} & set(df.columns)
    if clash:
        raise ValueError(
            f"cap_per_group: input columns {sorted(clash)} collide with the "
            "prune's working columns; rename them."
        )
    order = [F.col(c) if isinstance(c, str) else c for c in order_by]
    w1 = Window.partitionBy("_pid", group_col).orderBy(*order)
    pruned = (
        df.withColumn("_pid", F.spark_partition_id())
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= cap)
        .drop("_pid", "_rn")
    )
    w2 = Window.partitionBy(group_col).orderBy(*order)
    return (
        pruned.withColumn("_rn", F.row_number().over(w2))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def weighted_sample(
    df: DataFrame,
    weight_col: str,
    k: int,
    id_col: str,
    seed: int = 7,
) -> DataFrame:
    """Deterministic weighted sampling without replacement via priority
    sampling (Duffield/Lund/Thorup, JACM 2007 — public literature): each row
    gets priority q = w / u with u a seeded md5-derived uniform in (0, 1];
    the sample is the top-k priorities. Inclusion probability rises with
    weight; the scheme supports unbiased subset-sum estimation via the
    (k+1)-th priority as threshold.

    Cross-engine determinism: u = (first 32 md5 bits + 1) / 2^32 and
    q = w * 2^32 / (h + 1) — one IEEE division, no ln/pow (correctly
    rounded basic ops are bit-identical everywhere, libm transcendentals
    are not). Rows with weight <= 0 or NULL are excluded.

    Scale: top-k by priority is TakeOrdered — per-partition partial top-k,
    no global sort, no shuffle of the full table. The md5 key also makes
    the sample partitioning- and retry-invariant.
    """
    if "priority" in df.columns:
        raise ValueError(
            "weighted_sample: input already has a 'priority' column, which is "
            "the output column this operator adds; rename it."
        )
    h = (
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
    )
    q = (F.col(weight_col).cast("double") * F.lit(4294967296.0)) / (h + F.lit(1)).cast(
        "double"
    )
    return (
        df.filter(F.col(weight_col) > 0)
        .withColumn("priority", q)
        .orderBy(F.desc("priority"), F.asc(id_col))
        .limit(k)
    )


def stable_index(
    df: DataFrame,
    order_cols: Sequence[str],
    out_col: str = "idx",
) -> DataFrame:
    """Contiguous 0-based global index in a total order — the DataFrame
    answer to the reference's reset-index/positional-id idiom (SURVEY R6)
    and to RDD ``zipWithIndex``, without either's downsides.

    The naive form — ``row_number() OVER (ORDER BY ...)`` — funnels the
    whole table through ONE task (Spark plans a single-partition window
    for a global order). This operator rides the ordered-prefix kernel
    :func:`_range_offsets` with one summary, the row count: each row's
    index is its partition-local row number plus the exclusive count of
    the partitions before it. The heavy data is touched map-side only;
    the global-order information travels entirely in the offsets.

    ``order_cols`` must be a TOTAL order (include a unique tiebreak) —
    otherwise ties would get partition-dependent indexes; this is the same
    contract every deterministic-order operator in the suite carries.

    Output: input columns + ``out_col`` (bigint, 0-based, dense).
    """
    if not order_cols:
        raise ValueError("stable_index: order_cols must be non-empty")
    missing = [c for c in order_cols if c not in df.columns]
    if missing:
        raise ValueError(f"stable_index: columns {missing} not in {df.columns}")
    if out_col in df.columns:
        raise ValueError(f"stable_index: input already has a {out_col!r} column")
    order = [F.asc(c) for c in order_cols]
    parts, _ = _range_offsets(df, order, {out_col: F.count("*")})
    local = Window.partitionBy("_pid").orderBy(*order)
    return parts.withColumn(
        out_col, F.row_number().over(local) + F.col(out_col) - 1
    ).drop("_pid")


# Offsets cells delivered as a pid-indexed literal; past this many cells
# or partitions (a many-thousand-child literal is where codegen, not the
# join, becomes the bottleneck) they reach the rows by a broadcast join.
_OFFSETS_ARRAY_MAX = 4096

# A grouped scan collects one offsets row per (partition, group) cell;
# past this many cells the driver round-trip is the bottleneck and the
# caller is in the high-cardinality regime where the plain grouped window
# is the right plan. ~256k cells of a few longs stays tens of MB.
_PREFIX_SUM_MAX_CELLS = 262_144


def _range_offsets(
    df: DataFrame,
    order: Sequence[Column],
    summaries: dict[str, Column],
    group_cols: Sequence[str] = (),
    fold: Callable = operator.add,
    zero: object = 0,
) -> tuple[DataFrame, dict[tuple, dict[str, object]]]:
    """The ordered-prefix kernel: a two-level exclusive scan (Blelloch,
    "Prefix Sums and Their Applications", 1990) behind
    :func:`stable_index`, :func:`distributed_ntile`,
    :func:`distributed_prefix_sum`, ``aggregates._ordered_cumsums`` and
    ``skyline.skyline_2d`` — never a single-partition global window.

    1. Range stage (:func:`_ranged_parts`): range-repartition and sort
       locally on ``(group_cols ascending, *order)``, tag each row with
       ``_pid``; pinned by a lazy checkpoint so the offsets job and the
       output see the SAME sampled range boundaries.
    2. One offsets collect: the ``summaries`` aggregates per ``_pid``
       (and group) cell. Grouped input is capped at
       ``_PREFIX_SUM_MAX_CELLS`` cells by a collect bounded one row past it.
    3. Exclusive scan on the driver, in pid order (the range exchange
       makes pid order the global order within every group): each
       summary's accumulator starts at ``zero`` and takes
       ``fold(acc, cell value)``; an accumulator of None takes the cell
       value as is.
    4. Delivery: the pid-indexed literal of :func:`_pid_offsets_expr`,
       or, past ``_OFFSETS_ARRAY_MAX`` cells or partitions, a broadcast
       join on ``_pid`` (null-safe on the group columns).

    Returns the range-partitioned frame — input columns, ``_pid``, then
    one column per summary name holding the fold of every earlier cell
    of the row's group — and the totals, group key tuple → summary name →
    fold of all cells (``()`` keys the ungrouped total). The caller adds
    its partition-local window (``Window.partitionBy("_pid",
    *group_cols)`` in ``order``) to the prefix and drops ``_pid``.
    """
    group_cols = list(group_cols)
    parts = _ranged_parts(
        df, [*[F.asc(g) for g in group_cols], *order]
    ).localCheckpoint(eager=False)
    cells_df = parts.groupBy("_pid", *group_cols).agg(
        *[c.alias(name) for name, c in summaries.items()]
    )
    if group_cols:
        # LOW-cardinality guard, enforced not just documented: one row per
        # (partition, group) cell reaches the driver, so the collect itself
        # is bounded one row past the cap.
        cells = cells_df.limit(_PREFIX_SUM_MAX_CELLS + 1).collect()
        if len(cells) > _PREFIX_SUM_MAX_CELLS:
            raise ValueError(
                f"distributed_prefix_sum: more than {_PREFIX_SUM_MAX_CELLS} "
                "(partition, group) offset cells exceed the driver-safety cap — "
                f"group_cols={group_cols} is high-cardinality, which is the "
                "regime where each group fits one task and the plain "
                "Window.partitionBy(...).orderBy(...) cumulative is the "
                "right plan instead of this operator."
            )
    else:
        cells = cells_df.collect()
    totals: dict[tuple, dict[str, object]] = {}
    prefix = []
    for r in sorted(cells, key=lambda r: r["_pid"]):
        key = tuple(r[g] for g in group_cols)
        acc = totals.setdefault(key, dict.fromkeys(summaries, zero))
        prefix.append((r["_pid"], key, list(acc.values())))
        for name in summaries:
            acc[name] = r[name] if acc[name] is None else fold(acc[name], r[name])
    key_types = [(g, cells_df.schema[g].dataType) for g in group_cols]
    val_types = [(n, cells_df.schema[n].dataType) for n in summaries]
    if not prefix:
        return parts.select("*", *[F.lit(None).cast(t).alias(n) for n, t in val_types]), totals
    cell = _pid_offsets_expr(prefix, key_types, val_types)
    if cell is not None:
        return parts.select("*", *[cell[n].alias(n) for n in summaries]), totals
    off = df.sparkSession.createDataFrame(
        [(pid, *key, *offs) for pid, key, offs in prefix],
        StructType(
            [StructField("_opid", IntegerType(), False)]
            + [StructField(f"_g{j}", t) for j, (_, t) in enumerate(key_types)]
            + [StructField(n, t) for n, t in val_types]
        ),
    )
    cond = F.col("_pid") == F.col("_opid")
    for j, g in enumerate(group_cols):
        cond = cond & F.col(g).eqNullSafe(F.col(f"_g{j}"))
    return (
        parts.join(F.broadcast(off), cond).drop(
            "_opid", *[f"_g{j}" for j in range(len(group_cols))]
        ),
        totals,
    )


def _pid_offsets_expr(
    prefix: list[tuple[int, tuple, list]],
    key_types: list[tuple[str, DataType]],
    val_types: list[tuple[str, DataType]],
) -> Column | None:
    """The literal delivery of :func:`_range_offsets`: the row's offsets
    cell as a struct of the summary names, read O(1) per row from a
    constant-folded array indexed by ``_pid`` (``element_at`` is 1-based)
    — no broadcast exchange, no join job, no createDataFrame round-trip.

    Ungrouped, each slot is the partition's struct of offsets. Grouped,
    each slot is a small ``map<struct(groups), struct(offsets)>``: the
    range exchange on (group, order) means a partition touches only the
    few groups its slice overlaps, so the map probe is
    O(groups-per-partition), and struct keys make the lookup null-safe
    for NULL group values.

    ``spark_partition_id()`` is dense 0..P-1 on the exchanged frame, but
    EMPTY partitions never reach the offsets job. Their slots still hold
    an index place; no row carries such a pid, so they share one
    one-cell value that is never read. Returns None past
    ``_OFFSETS_ARRAY_MAX`` cells or slots.
    """
    n_slots = 1 + max(pid for pid, _, _ in prefix)
    if max(n_slots, len(prefix)) > _OFFSETS_ARRAY_MAX:
        return None

    def struct(values, types):
        return F.struct(*[F.lit(v).cast(t).alias(n) for v, (n, t) in zip(values, types)])

    def slot(cells):
        if not key_types:
            return struct(cells[0][1], val_types)
        return F.create_map(
            *[x for key, offs in cells for x in (struct(key, key_types), struct(offs, val_types))]
        )

    per_pid: dict[int, list] = {}
    for pid, key, offs in prefix:
        per_pid.setdefault(pid, []).append((key, offs))
    hole = slot([(prefix[0][1], prefix[0][2])])
    cell = F.element_at(
        F.array(*[slot(per_pid[p]) if p in per_pid else hole for p in range(n_slots)]),
        F.col("_pid") + 1,
    )
    if key_types:
        cell = F.element_at(cell, F.struct(*[F.col(g) for g, _ in key_types]))
    return cell


def _guard_scratch(df: DataFrame, op: str, names: Sequence[str]) -> None:
    """Reject inputs already carrying internal scratch columns — they
    would be silently overwritten and dropped (single raise site shared
    by every two-level range-partitioned operator)."""
    taken = [c for c in names if c in df.columns]
    if taken:
        raise ValueError(
            f"{op}: input must not already have {taken} — internal scratch "
            "names of the two-level range-partitioned operators (rename "
            "them upstream)"
        )


def _ranged_parts(df: DataFrame, order: Sequence) -> DataFrame:
    """The range stage of :func:`_range_offsets`, pre-checkpoint: range
    exchange + local sort + partition id. Split out so plan-shape tests
    can pin the exchange kind (the lazy checkpoint downstream truncates
    lineage to a ``Scan ExistingRDD``, hiding it).

    Guards the ``_pid`` scratch name for every caller of the kernel: an
    input column of that name would be silently overwritten and
    dropped."""
    _guard_scratch(df, "two-level range exchange", ["_pid"])
    return (
        df.repartitionByRange(*order)
        .sortWithinPartitions(*order)
        .withColumn("_pid", F.spark_partition_id())
    )


def _exact_intdiv(c, k: int):
    """Exact integer division of a non-negative bigint column by a
    positive python int, JVM-side: ``(c - c % k) / k`` — the numerator is
    an exact multiple of k, and IEEE division of exact integers below
    2⁵³ is correctly rounded to the exact integer quotient. (There is no
    integral ``/`` on Columns; naive ``floor(c / k)`` risks an
    off-by-one when the double quotient rounds up across an integer.)
    """
    k = int(k)
    return ((c - F.pmod(c, F.lit(k))) / F.lit(k)).cast("long")


def distributed_ntile(
    df: DataFrame,
    order_cols: Sequence[str],
    n: int,
    out_col: str = "bin",
) -> DataFrame:
    """EXACT global ``ntile(n) OVER (ORDER BY order_cols)`` — without the
    single-partition window Spark plans for a global order (`WindowExec:
    No Partition Defined`, the one-task funnel that dies at 100 TB).

    Rides the ordered-prefix kernel :func:`_range_offsets` with the row
    count as its one summary: a row's exact 0-based global rank is its
    partition-local row number plus the exclusive count before its
    partition, and the kernel's total is N. The bucket follows from the
    rank and N in closed form with the SAME remainder semantics Spark and
    DuckDB share — base = N div n, rem = N mod n, the first ``rem``
    buckets take ``base + 1`` rows:

        bin(r) = r div (base+1) + 1                      for r < rem·(base+1)
               = rem + (r − rem·(base+1)) div base + 1   otherwise

    (0-based r; all arithmetic exact-integer JVM-side).

    ``order_cols`` must be a TOTAL order (end with a unique tiebreak) —
    the same contract ``ntile`` itself needs for deterministic splits.

    Output: input columns + ``out_col`` int in [1, n].
    """
    if n < 1:
        raise ValueError(f"distributed_ntile: n must be >= 1, got {n}")
    if not order_cols:
        raise ValueError("distributed_ntile: order_cols must be non-empty")
    missing = [c for c in order_cols if c not in df.columns]
    if missing:
        raise ValueError(f"distributed_ntile: columns {missing} not in {df.columns}")
    if out_col in df.columns:
        raise ValueError(f"distributed_ntile: input already has a {out_col!r} column")
    # Validate BEFORE the n==1 fast path so an n_files sweep over
    # [1, 2, ...] fails consistently at n=1 instead of mid-sweep at n=2;
    # _gidx is this operator's own rank scratch (it would be overwritten
    # and dropped just like _pid).
    _guard_scratch(df, "distributed_ntile", ["_pid", "_gidx"])
    if n == 1:
        # ntile(1) is every row in bucket 1 — legal in Spark and used as a
        # degenerate single-file baseline by layout callers; no exchange,
        # no offsets job.
        return df.withColumn(out_col, F.lit(1).cast("int"))
    order = [F.asc(c) for c in order_cols]
    parts, totals = _range_offsets(df, order, {"_gidx": F.count("*")})
    total = totals[()]["_gidx"] if totals else 0
    base, rem = divmod(total, n)
    cut = rem * (base + 1)
    r = F.row_number().over(Window.partitionBy("_pid").orderBy(*order)) + F.col("_gidx") - 1
    bucket = (
        F.when(r < cut, _exact_intdiv(r, base + 1))
        .otherwise(F.lit(rem) + _exact_intdiv(r - cut, max(base, 1)))
        + 1
    ).cast("int")
    return parts.withColumn(out_col, bucket).drop("_pid", "_gidx")


def distributed_prefix_sum(
    df: DataFrame,
    order_cols: Sequence[str],
    sum_cols: Sequence[str],
    rank_col: str | None = None,
    suffix: str = "_cum",
    group_cols: Sequence[str] = (),
) -> DataFrame:
    """EXACT running totals — ``SUM(c) OVER ([PARTITION BY group_cols]
    ORDER BY order_cols ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT
    ROW)`` for every column in ``sum_cols`` — without the one-task
    funnels Spark plans for them: the single-partition window of a
    global order, and (with ``group_cols``) the one-task-per-group
    window that serializes a HOT group's entire row set (the skew every
    per-source cumulative operator otherwise carries).

    Rides the ordered-prefix kernel :func:`_range_offsets` on
    ``(group_cols, order_cols)`` with each column's sum (and, for
    ``rank_col``, the row count) as summaries: each partition holds a
    contiguous slice of the total order, so a hot group SPANS partitions
    instead of landing in one task, and the partition-LOCAL cumulative
    window plus the per-group exclusive offset is the exact per-group
    prefix sum.

    Contract: ``sum_cols`` must be integral (the engine's scaled-int
    exactness convention — double prefix sums are order-sensitive and
    belong upstream as scaled bigints); NULLs count as 0 (coalesced on
    both the offset and the local pass, so the output is always
    non-null — the practical cumulative-metric semantics, documented
    here because SQL ``SUM OVER`` would instead propagate a leading
    all-NULL prefix). ``order_cols`` must be a TOTAL order within each
    group (end with a unique tiebreak), the contract every
    deterministic-order operator in the suite carries. ``group_cols``
    must be LOW-cardinality (sources, strata: the offsets frame is
    #partitions × #groups-per-partition rows to the driver; ENFORCED —
    more than ``_PREFIX_SUM_MAX_CELLS`` offset cells raises a
    descriptive ValueError rather than bottlenecking the driver) — the
    regime where the plain grouped window hurts; a HIGH-cardinality
    group column means every group already fits one task, which is
    exactly when the plain ``Window.partitionBy`` is the right tool
    instead. NULL group values form their own group (null-safe offsets).

    Output: input columns + ``{c}{suffix}`` (bigint) per sum column,
    plus ``rank_col`` (bigint, 1-based dense rank — per group when
    ``group_cols`` is given, else global) when requested. ``sum_cols``
    may be empty for rank-only use (the distributed ``row_number``).

    Sibling: ``aggregates._ordered_cumsums`` is the level-grain private
    form (unique order values, asc/desc sweeps) the rank statistics ride;
    this is the row-grain public generalization.
    """
    if not order_cols:
        raise ValueError("distributed_prefix_sum: order_cols must be non-empty")
    if not sum_cols and not rank_col:
        raise ValueError(
            "distributed_prefix_sum: need sum_cols and/or rank_col"
        )
    sum_cols = list(sum_cols)
    group_cols = list(group_cols)
    missing = [
        c for c in (*group_cols, *order_cols, *sum_cols) if c not in df.columns
    ]
    if missing:
        raise ValueError(
            f"distributed_prefix_sum: columns {missing} not in {df.columns}"
        )
    overlap = set(group_cols) & set(order_cols)
    if overlap:
        raise ValueError(
            f"distributed_prefix_sum: group_cols and order_cols overlap: {sorted(overlap)}"
        )
    integral = {"tinyint", "smallint", "int", "bigint"}
    dtypes = dict(df.dtypes)
    bad = [c for c in sum_cols if dtypes[c] not in integral]
    if bad:
        raise ValueError(
            "distributed_prefix_sum: sum_cols must be integral (scaled-int "
            f"contract), got {[(c, dtypes[c]) for c in bad]}"
        )
    out_names = [f"{c}{suffix}" for c in sum_cols] + (
        [rank_col] if rank_col else []
    )
    clash = [c for c in out_names if c in df.columns]
    if clash:
        raise ValueError(
            f"distributed_prefix_sum: output columns {clash} already in input"
        )
    order = [F.asc(c) for c in order_cols]
    local = Window.partitionBy("_pid", *group_cols).orderBy(*order)
    cum = local.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    # Per output column: the cell summary (its offsets) and the
    # partition-local window the offset is added to.
    summaries, local_exprs = {}, {}
    for c in sum_cols:
        v = F.coalesce(F.col(c).cast("long"), F.lit(0))
        summaries[f"{c}{suffix}"], local_exprs[f"{c}{suffix}"] = F.sum(v), F.sum(v).over(cum)
    if rank_col:
        summaries[rank_col] = F.count("*")
        local_exprs[rank_col] = F.row_number().over(local).cast("long")
    parts, _ = _range_offsets(df, order, summaries, group_cols)
    return parts.withColumns(
        {n: e + F.col(n) for n, e in local_exprs.items()}
    ).drop("_pid")


def kfold_assign(
    df: DataFrame,
    k: int,
    key_cols: Sequence[str],
    stratum_col: str | None = None,
    seed: int = 1312,
    balanced: bool = True,
    out_col: str = "fold",
) -> DataFrame:
    """Stratified k-fold assignment for cross-validation / sharded eval
    (extends the reference's single train/test split artifact, SURVEY §1.1,
    to the k-way form every evaluation harness needs).

    Two assignment modes, one knob:

    * ``balanced=True`` (default): within each stratum, rows are ranked by
      their md5 hash prefix (:func:`_hash_prefix` — engine-reproducible,
      repartition-stable) with the key columns as the total-order tiebreak,
      and ``fold = (rank - 1) % k``. Fold sizes within every stratum differ
      by at most 1 — the exactness property a small eval split needs. Cost:
      one RANGE exchange on (stratum, hash order) — the per-stratum rank
      rides :func:`distributed_prefix_sum`, so a mega-stratum (or the
      no-stratum global order) spans partitions instead of serializing
      into one task's window.
    * ``balanced=False``: ``fold = first-32-hash-bits % k`` — a pure
      map-side projection, no shuffle, binomially balanced (±√n noise).
      The 100 TB default when exact per-stratum balance isn't worth a
      shuffle.

    Either way a row's fold depends only on (key, seed[, stratum]) — never
    on partitioning or unrelated rows — so folds are stable across re-runs
    and engine changes, and the hash chain is replayable in any SQL engine
    with md5 (the audit property :func:`hash_split` established).

    Adds ``out_col`` (int in [0, k)). NULL keys: hash prefix is NULL →
    balanced mode ranks them last deterministically; stateless mode yields
    NULL fold (surfaced, not silently bucketed).
    """
    if k < 2:
        raise ValueError(f"kfold_assign: k must be >= 2, got {k}")
    prefix = _hash_prefix(key_cols, seed)
    if not balanced:
        # conv(hex, 16, 10) on the 8-char prefix = the 32-bit int it encodes.
        # No scratch-name guard here: the stateless path is a pure
        # projection that touches no internal columns.
        fold = F.pmod(F.conv(prefix, 16, 10).cast("long"), F.lit(k)).cast("int")
        return df.withColumn(out_col, fold)
    taken = [c for c in ("_pfx", "_rn") if c in df.columns]
    if taken:
        raise ValueError(
            f"kfold_assign: input must not already have {taken} — internal "
            "scratch names of the balanced path (they would be overwritten "
            "and dropped)"
        )
    # The per-stratum rank rides the grouped two-level machinery: a mega-
    # stratum (or the no-stratum global order) spans partitions instead of
    # serializing into one task's window. NULL hash prefixes (NULL keys)
    # rank last via a sentinel above the hex alphabet, preserving the old
    # asc_nulls_last order exactly.
    staged = df.withColumn("_pfx", F.coalesce(prefix, F.lit("~")))
    ranked = distributed_prefix_sum(
        staged,
        order_cols=["_pfx", *key_cols],
        sum_cols=(),
        rank_col="_rn",
        group_cols=[stratum_col] if stratum_col is not None else (),
    )
    return ranked.withColumn(
        out_col, ((F.col("_rn") - F.lit(1)) % F.lit(k)).cast("int")
    ).drop("_pfx", "_rn")


def token_budget_sample(
    df: DataFrame,
    source_col: str,
    size_col: str,
    budgets: dict[str, int],
    key_cols: Sequence[str],
    seed: int = 1312,
    default_budget: int = 0,
) -> DataFrame:
    """EXACT per-source budget sampling: keep a seeded-random prefix of each
    source's rows whose cumulative ``size_col`` (tokens/chars/bytes) stays
    within that source's budget — the "take N billion tokens of source X"
    step of assembling a pretraining mixture, with a hard guarantee instead
    of :func:`mix_corpus`'s in-expectation fractions.

    Rule: rows are ordered per source by their md5 hash prefix (seeded,
    repartition-stable, engine-replayable — :func:`_hash_prefix`) with
    ``key_cols`` as the tiebreak; a row is kept iff the running total
    INCLUDING it is ≤ the budget. Later rows never displace earlier ones,
    so membership is stable under budget increases (a bigger budget only
    ADDS rows — the property dataset versioning wants). A row larger than
    the entire budget is dropped. Over-budget sources are cut exactly;
    under-budget sources keep everything. A NULL ``size_col`` counts as
    0 (the grouped cumsum's coalesce contract — such a row is kept for
    free rather than poisoning the running total).

    Cost: one RANGE exchange on (source, hash order) — the per-source
    running sum rides :func:`distributed_prefix_sum` with the source as
    the group, so a HOT source spans partitions instead of serializing
    into one task's window (the skew bound this operator used to carry;
    the grouped two-level cumsum removed it).

    Output: input columns unchanged, filtered.
    """
    if any(b < 0 for b in budgets.values()) or default_budget < 0:
        raise ValueError("token_budget_sample: budgets must be >= 0")
    taken = [c for c in ("_pfx", "_sz", "_sz_cum") if c in df.columns]
    if taken:
        raise ValueError(
            f"token_budget_sample: input must not already have {taken} — "
            "internal scratch names (they would be overwritten and dropped, "
            "breaking the 'input columns unchanged' contract)"
        )
    prefix = _hash_prefix(key_cols, seed)
    staged = df.withColumn("_pfx", prefix).withColumn(
        "_sz", F.col(size_col).cast("long")
    )
    cummed = distributed_prefix_sum(
        staged,
        order_cols=["_pfx", *key_cols],
        sum_cols=["_sz"],
        group_cols=[source_col],
    )
    budget = F.lit(int(default_budget))
    for s, b in sorted(budgets.items()):
        budget = F.when(F.col(source_col) == s, F.lit(int(b))).otherwise(budget)
    return cummed.filter(F.col("_sz_cum") <= budget).drop("_pfx", "_sz", "_sz_cum")


def negative_samples(
    positives: DataFrame,
    items: DataFrame,
    user_col: str,
    item_col: str,
    n_candidates: int = 6,
    n_keep: int = 4,
    seed: int = 42,
) -> DataFrame:
    """Deterministic negative sampling: for every user with at least one
    positive (user, item) interaction, draw ``n_keep`` items the user has
    NOT interacted with — the negative side of a contrastive training
    pair (word2vec/SimCLR-style negatives; Mikolov 2013 — public
    literature), as one lazy plan.

    Each user gets ``n_candidates`` deterministic candidate slots
    (``md5(user:slot:seed)`` mapped onto the item-id range), the user's
    true positives are anti-joined out, duplicate candidate items keep
    their smallest slot, and the first ``n_keep`` surviving slots win.
    Seeded md5 (not ``rand()``) keeps the draw identical on any cluster
    layout AND replayable by a SQL oracle. Under-provisioned users — more
    than ``n_candidates - n_keep`` candidates colliding with positives or
    each other — surface fewer than ``n_keep`` rows (deterministically)
    rather than biasing the draw; size ``n_candidates`` generously, it
    costs one exploded row each.

    Assumes a dense 1..max(item) id space (TPC-H-style keys). For sparse
    id spaces, remap ordinals through a distributed stable index
    (``with_stable_index``) first — same plan shape, one extra join.

    Scale shape: one distinct over positives (hash agg), one explode to
    |users|·n_candidates rows, one broadcast of the single-row max-id, one
    anti-join against the positive pairs on (user, item) — partial-agged
    and equi-keyed end to end; nothing collects.

    Output: (user_col, slot int, item_col) — ``slot`` the surviving
    candidate ordinal, ≤ ``n_keep`` rows per user.
    """
    if not 1 <= n_keep <= n_candidates:
        raise ValueError(
            f"negative_samples: need 1 <= n_keep <= n_candidates, got "
            f"{n_keep}/{n_candidates}"
        )
    pos = positives.select(
        F.col(user_col).alias("u"), F.col(item_col).alias("i")
    ).distinct()
    max_item = items.agg(F.max(item_col).alias("mx"))
    cand = (
        pos.select("u")
        .distinct()
        .select("u", F.explode(F.sequence(F.lit(1), F.lit(n_candidates))).alias("slot"))
        .join(F.broadcast(max_item))
        .select(
            "u",
            "slot",
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.col("u").cast("string"),
                                F.lit(":"),
                                F.col("slot").cast("string"),
                                F.lit(f":{seed}"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                % F.col("mx")
                + 1
            ).alias("i"),
        )
    )
    survivors = cand.join(pos, ["u", "i"], "anti")
    deduped = survivors.groupBy("u", "i").agg(F.min("slot").alias("slot"))
    w = Window.partitionBy("u").orderBy("slot")
    return (
        deduped.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= n_keep)
        .select(
            F.col("u").alias(user_col),
            F.col("slot").cast("int").alias("slot"),
            F.col("i").alias(item_col),
        )
    )


def temperature_mix(
    df: DataFrame,
    source_col: str,
    budget: float,
    size_col: str,
    key_cols: Sequence[str],
    temperature: float = 2.0,
    seed: int = 1312,
    w_scale: int = 10**12,
) -> DataFrame:
    """Temperature-scaled mixture sampling: source weights derived from the
    DATA as ``w_s ∝ share_s^(1/T)`` — the multilingual/multi-domain
    rebalancing knob (T>1 flattens the mixture toward rare sources, T=1
    is proportional; the mBERT/XLM-R exponent-smoothing recipe — public
    literature), where ``mix_corpus`` takes the weights as config, this
    derives them.

    Cross-engine exactness: with the default T=2 the exponent is a
    ``sqrt`` — correctly rounded IEEE in both python and SQL — and the
    weight normalization is an exact integer sum of ``floor(sqrt(share) ·
    w_scale)`` grid points, so the per-source thresholds replay
    bit-for-bit in an oracle. Other temperatures go through ``pow``,
    which is NOT correctly rounded across libms — the result is still
    deterministic per engine, but a cross-engine oracle may differ in the
    last ulp of a threshold (a ~2⁻³² row-boundary risk); stick to T=2
    when oracle-exactness matters.

    Same scale shape as ``mix_corpus``: one |sources|-row aggregate
    collected (mixture configs are O(10) sources), then a stratified
    hash-threshold filter — the corpus never shuffles.

    Degenerate sources — a NULL total (every ``size_col`` NULL) or a
    non-positive total — carry no mass, get weight 0, and are DROPPED
    from the output (``stratified_sample``'s default fraction is 0);
    they can't crash the weight math or silently soak up budget.
    """
    import math

    if temperature <= 0:
        raise ValueError(f"temperature_mix: temperature must be > 0, got {temperature}")
    totals = {
        r["s"]: int(r["tot"])
        for r in df.groupBy(F.col(source_col).alias("s"))
        .agg(F.sum(size_col).cast("long").alias("tot"))
        .collect()
        if r["tot"] is not None and r["tot"] > 0
    }
    n_total = sum(totals.values())
    if n_total <= 0:
        raise ValueError("temperature_mix: corpus has no mass in size_col")
    alpha = 1.0 / temperature
    w_int = {}
    for s in sorted(totals):
        share = totals[s] / n_total
        w = math.sqrt(share) if temperature == 2.0 else math.pow(share, alpha)
        w_int[s] = int(w * w_scale)
    tw = sum(w_int.values())
    fractions = {
        s: min(1.0, (budget * (w_int[s] / tw)) / totals[s]) for s in sorted(w_int)
    }
    return stratified_sample(df, source_col, fractions, key_cols, seed)


def referential_sample(
    parent: DataFrame,
    child: DataFrame,
    parent_key: str,
    child_fk: str,
    fraction: float,
    seed: int = 1312,
) -> tuple[DataFrame, DataFrame]:
    """Referential-integrity-preserving subsetting: sample the PARENT
    table by a seeded md5 threshold on its key, then keep exactly the
    child rows whose foreign key survived — the dev-fixture/staging
    subset every pipeline needs (a naive per-table row sample breaks
    every join: ~f² of child rows keep their parent, the rest dangle).

    By construction the child subset has zero orphans and the parent
    subset has zero childless-by-truncation artifacts — the sample is a
    closed sub-database under this FK. Deterministic (md5, not rand), so
    the same (fraction, seed) cuts the identical subset on any cluster —
    and on the NEXT data load: the subset is stable under appends that
    don't touch sampled keys.

    Scale shape: the parent filter is a map-side predicate (no shuffle);
    the child cut is ONE left-semi join on the FK. Chain it per FK edge
    to walk a whole schema (orders→lineitem here; customer→orders→
    lineitem by calling twice).

    Returns (sampled_parent, sampled_child) as lazy plans.
    """
    if not 0 < fraction <= 1:
        raise ValueError(f"referential_sample: fraction must be in (0, 1], got {fraction}")
    if parent_key not in parent.columns:
        raise ValueError(f"referential_sample: {parent_key!r} not in parent columns")
    if child_fk not in child.columns:
        raise ValueError(f"referential_sample: {child_fk!r} not in child columns")
    prefix = F.substring(
        F.md5(F.concat(F.col(parent_key).cast("string"), F.lit(f":{seed}"))), 1, 8
    )
    kept_parent = parent.filter(prefix < F.lit(_frac_threshold(fraction)))
    kept_keys = kept_parent.select(F.col(parent_key).alias(child_fk))
    kept_child = child.join(kept_keys, child_fk, "semi")
    return kept_parent, kept_child
