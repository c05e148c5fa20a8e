"""Similarity search over embedding columns (north-star).

Every exact float cosine is one kernel: ``_cos6`` over the per-vector
norms of ``_vec_rows``, with ``_pair_cosines`` for (query, candidate)
joins and one ``_rerank`` for the quantized scorers. The scaled-integer
ADC/MMR scores and the PQ look-up-table dots are separate, engine-exact
contracts.

Two paths:

* ``cosine_topk`` (baseline, exact): broadcast the (small) query set, score
  every (query, candidate) pair with JVM higher-order array functions
  (codegen'd, no Python), and prune to k per (query, input partition)
  before the final per-query window.
* ``hyperplane_lsh_topk`` (scale path, approximate): sign-random-projection
  buckets; only same-bucket pairs are scored. Deterministic hyperplanes
  derived from a seed so results are reproducible cluster-wide.

Recall gates (tests/test_ann_recall.py) pin retrieval quality at the
production parameters on a planted-cluster fixture (neighbors high-cosine,
as real embedding corpora are): recall@5 >= 0.9 for ``ivf_topk`` at
nprobe<=2/train_k=8 (measured 1.00) and for ``hyperplane_lsh_topk`` at
bits=8 (measured 0.94; 0.98 at bits=6). The correctness oracles replay the
approximation, so only these gates catch a parameter edit that silently
collapses recall. On near-uniform random vectors (the driver's synthetic
embeddings) low recall is expected and not a defect: true neighbors sit at
~70°, where P[8 sign bits agree] ~= 2%.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact brute-force cosine top-k: for each query vector, the k nearest
    candidates (self-matches excluded).

    Output: query_id, neighbor_id, cosine (rounded 6dp). ``queries`` must be
    broadcast-small (the usual ANN-query shape); candidates stream.
    """
    c = _vec_rows(embeddings, id_col, vec_col, names=_CAND)
    q = _vec_rows(queries, id_col, vec_col, names=_QUERY)
    return _topk(_pair_cosines(c.crossJoin(F.broadcast(q))), k)


def cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_rows: int = 100_000,
) -> DataFrame:
    """Embedding-cosine near-dup: all (id_a < id_b) pairs with cosine ≥
    threshold. Exact O(n²) BASELINE — norms are staged per vector (one pass)
    so each pair pays only the dot product. The 100 TB path is
    :func:`hyperplane_pairs` bucketing first (only same-bucket pairs
    scored); this operator is the precision stage / small-set oracle.

    Size-gated: the all-pairs self-join is quadratic, so anything past
    ``max_rows`` (default 100k → ~5·10⁹ pairs) fails LOUDLY instead of
    launching a cartesian job that can never finish on a big table. The input is pinned with a lazy
    ``localCheckpoint`` before counting so the gate and the join read the
    SAME materialization — a derived/non-deterministic upstream cannot grow
    between the count and the join, and the upstream pipeline is not
    recomputed twice.
    """
    embeddings = embeddings.select(id_col, vec_col).localCheckpoint(eager=False)
    n = embeddings.count()
    if n > max_rows:
        raise RuntimeError(
            f"cosine_pairs: input has {n:,} rows (> max_rows={max_rows:,}); the "
            "exact all-pairs baseline is O(n²) and will not finish at this size. "
            "Use hyperplane_pairs (sign-projection LSH buckets) as the scale path, "
            "optionally feeding its candidate pairs back through an exact verify, "
            "or raise max_rows explicitly if you really mean it."
        )
    a, b = _ab(_vec_rows(embeddings, id_col, vec_col), id_col)
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cos6("va", "na", "vb", "nb").alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def hyperplane_signature(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 16,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Sign-random-projection LSH signature (approximate cosine buckets).

    Hyperplane components are derived per (bit, dim) from md5 of the seed —
    deterministic everywhere, no RNG state to ship. Returns id + bucket
    (bigint).

    ``dim``: hyperplane dimensionality. Pass it when the caller knows the
    vector length (it usually does, from its schema contract) — the dot
    product skips the padded slots of whichever array is shorter, so an
    over-provisioned ``dim`` (e.g. 128 for 64-wide vectors) yields the same
    buckets as the exact value and survives a testdata width drift. With
    ``dim=None`` the width is probed from the first row — an eager Spark
    job at plan-build time, the explicit fallback, not the default path.
    """
    return df.select(F.col(id_col), _sign_bucket(df, vec_col, bits, seed, dim).alias("bucket"))


def _sign_bucket(df: DataFrame, vec_col: str, bits: int, seed: int, dim: int | None):
    """:func:`hyperplane_signature`'s bucket as a Column over ``df``'s
    ``vec_col``, so a caller can compute it in the same projection as
    the vectors it scores."""
    if dim is None:
        dim = len(df.select(vec_col).first()[0])
    # ±1 hyperplanes from a hash of (seed, bit, dim index): cheap and fixed.
    import hashlib

    planes = []
    for b in range(bits):
        row = []
        for d in range(dim):
            h = hashlib.md5(f"{seed}:{b}:{d}".encode()).digest()[0]
            row.append(1.0 if h % 2 else -1.0)
        planes.append(row)

    sig = None
    vec = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    for b, row in enumerate(planes):
        coeffs = F.array(*[F.lit(c) for c in row])
        # coalesce: zip_with pads the shorter array with NULL — skip those
        # slots (mirrors DuckDB list semantics in the oracles) so dim may
        # over-provision the true vector width.
        dot = F.aggregate(
            F.zip_with(vec, coeffs, lambda x, y: F.coalesce(x * y, F.lit(0.0))),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        bit = F.when(dot >= 0, F.lit(1)).otherwise(F.lit(0)).cast("long") * F.lit(2**b).cast("long")
        sig = bit if sig is None else sig + bit
    # Over-provision is safe (padded slots skipped), under-provision is NOT:
    # it would silently project only the first `dim` components and collapse
    # recall while the oracles (which replay the same truncation) stay
    # green. Fail per-row inside the same scan — no extra plan-build job.
    # NULL vectors pass the guard (they keep the same bucket the expression
    # produced before the guard existed — a hard row failure for one NULL
    # embedding would abort the whole run); the message is coalesced so it
    # can never itself be NULL.
    guard = F.assert_true(
        F.coalesce(F.size(F.col(vec_col)) <= F.lit(dim), F.lit(True)),
        F.concat(
            F.lit(f"hyperplane_signature: dim={dim} under-provisions vector width "),
            F.coalesce(F.size(F.col(vec_col)).cast("string"), F.lit("NULL")),
        ),
    )
    return F.when(guard.isNull(), sig)


def derived_lsh_bits(n: int, target_bucket: int, max_bits: int = 30) -> int:
    """Smallest ``bits`` such that ``2^bits * target_bucket >= n`` — i.e.
    the bit count that pins EXPECTED bucket size at ``target_bucket`` as
    the corpus grows. Pure integer comparisons (no float log2), so DuckDB
    replays the identical decision with ``(1 << b) * target >= count(*)``
    and the derived operating point stays engine-replayable at every n,
    including exact power-of-two boundaries where float log2 could round
    either way. Floors at 1 bit (two buckets), caps at ``max_bits``."""
    if target_bucket < 1:
        raise ValueError(f"derived_lsh_bits: target_bucket must be >= 1, got {target_bucket}")
    for b in range(1, max_bits):
        if (1 << b) * target_bucket >= n:
            return b
    return max_bits


def hyperplane_pairs(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 6,
    seed: int = 42,
    dim: int | None = None,
    target_bucket: int | None = None,
) -> DataFrame:
    """Scale path for embedding near-dup: sign-random-projection buckets,
    then cosine only for same-bucket (id_a < id_b) pairs — the equi-join on
    ``bucket`` shuffles by bucket and never goes all-pairs. Recall is tuned
    with ``bits`` (fewer bits → bigger buckets → higher recall, more work).

    ``bits`` is also the SCALE knob: expected bucket size is n / 2^bits,
    so within-bucket pair volume at FIXED bits drifts quadratic as the
    corpus grows (the 10× rehearsal measures exponent 0.63 at bits=6) —
    raise bits with log2(n) to pin bucket size, exactly as SemDeDup's
    ``cell_target`` pins its cell size.

    ``target_bucket`` makes that operating point a knob instead of caller
    arithmetic: when set, ``bits`` is derived as the smallest value with
    ``2^bits * target_bucket >= n`` (one count job; integer-exact, see
    :func:`derived_lsh_bits`), so expected bucket size — and with it the
    within-bucket pair budget per vector — stays constant as the corpus
    grows. The count re-executes the upstream plan; callers feeding a
    non-trivial plan (not a bare table scan) should persist/localCheckpoint
    it first.

    The bucket is a column of the vector rows, so each row is paired
    only under its own bucket, a duplicated id included.

    Output: id_a, id_b, cosine (rounded 6dp).
    """
    if target_bucket is not None:
        bits = derived_lsh_bits(embeddings.count(), target_bucket)
    bucket = _sign_bucket(embeddings, vec_col, bits, seed, dim).alias("bucket")
    a, b = _ab(_vec_rows(embeddings, id_col, vec_col, bucket), id_col, "bucket")
    return (
        a.join(b, ["bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", _cos6("va", "na", "vb", "nb").alias("cosine"))
    )


def _l2(cv: list) -> float:
    """Bit-exact replica of :func:`_l2_norm`: same left-fold order of
    IEEE double adds, same sqrt rounding — used when a Python-side
    centroid list needs the norm the SQL form would compute."""
    acc = 0.0
    for x in cv:
        acc += x * x
    return math.sqrt(acc)


def _l2_norm(col):
    """``sqrt(aggregate(col, 0.0, acc + x*x))`` — the L2 norm as a left
    fold. The oracles replay this fold order bit for bit."""
    return F.sqrt(F.aggregate(col, F.lit(0.0), lambda acc, x: acc + x * x))


# Column names of the two sides of a (query, candidate) scoring join:
# (id, vector, norm), as ``_vec_rows(..., names=...)`` emits them.
_QUERY = ("query_id", "qv", "nq")
_CAND = ("neighbor_id", "cv", "nc")


def _vec_rows(
    df: DataFrame, id_col: str, vec_col: str, *keep, names=("", "v", "nv")
) -> DataFrame:
    """``(id, *keep, v, nv)``: the embedding as a double array and its
    norm, computed once per row, with the ``keep`` columns (names or
    Columns) carried along. ``names`` renames the id (``""`` keeps
    ``id_col``), vector and norm columns — ``_QUERY``/``_CAND`` for the
    two sides of a scoring join."""
    i, v, nv = names
    return df.select(
        F.col(id_col).alias(i or id_col),
        *keep,
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias(v),
    ).withColumn(nv, _l2_norm(F.col(v)))


def _cos6(a, na, b, nb):
    """``round(<a, b> / (na·nb), 6)``: the float cosine of this package,
    over vectors ``a``, ``b`` and their :func:`_l2_norm` norms (column
    names or Columns). IEEE products commute, so the operand order of
    either the dot or the norm product never changes the double."""
    a, na, b, nb = (F.col(c) if isinstance(c, str) else c for c in (a, na, b, nb))
    dot = F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)
    return F.round(dot / (na * nb), 6)


def _pair_cosines(pairs: DataFrame, *keep: str) -> DataFrame:
    """``(query_id, neighbor_id, *keep, cosine)`` of joined ``_QUERY`` and
    ``_CAND`` rows, self-matches excluded."""
    return pairs.filter(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", *keep, _cos6("qv", "nq", "cv", "nc").alias("cosine")
    )


def _ab(v: DataFrame, id_col: str, *keep: str) -> tuple[DataFrame, DataFrame]:
    """The two sides of a self-join over ``_vec_rows`` output:
    ``(*keep, id_a, va, na)`` and ``(*keep, id_b, vb, nb)``; a pair
    scores ``_cos6("va", "na", "vb", "nb")``."""
    return tuple(
        v.select(
            *keep, F.col(id_col).alias(f"id_{s}"), F.col("v").alias(f"v{s}"), F.col("nv").alias(f"n{s}")
        )
        for s in "ab"
    )


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """The k best rows per query by (cosine desc, neighbor_id asc).

    Two-stage top-k (sampling.cap_per_group): stage 1 prunes to k per
    (query, input partition) — the global top-k is necessarily a subset
    of the per-partition top-ks, so the result is partitioning-INVARIANT.
    Without it the single window hashes every scored row into only |q|
    reducers (a parallelism ceiling and a straggler at scale)."""
    from wicsmmiretl_spark.operators.sampling import cap_per_group

    return cap_per_group(
        scored, "query_id", k, [F.desc("cosine"), F.asc("neighbor_id")]
    ).select(*scored.columns)


def _rerank(
    scored: DataFrame,
    embeddings: DataFrame,
    queries: DataFrame,
    k: int,
    rerank: int | None,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Top-k of a quantized ``(query_id, neighbor_id, adc_cosine)``
    ranking. With ``rerank=r`` the ADC top-r shortlist is re-scored with
    exact cosines and ``k`` kept per query. The shortlist is |q|·r rows,
    so it is broadcast against the vector table: the fetch is a map-side
    semi-probe, not a shuffle of the corpus, and only shortlisted vectors
    are cast and normed."""
    from wicsmmiretl_spark.operators.sampling import cap_per_group

    shortlist = k if rerank is None else rerank
    top = cap_per_group(
        scored, "query_id", shortlist, [F.desc("adc_cosine"), F.asc("neighbor_id")]
    )
    if rerank is None:
        return top
    short = top.select(F.col("neighbor_id").alias(id_col), "query_id")
    c = _vec_rows(
        embeddings.join(F.broadcast(short), id_col), id_col, vec_col, "query_id", names=_CAND
    )
    q = _vec_rows(queries, id_col, vec_col, names=_QUERY)
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        _pair_cosines(c.join(F.broadcast(q), "query_id"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .drop("_rn")
    )


def _collect_cents(rows, key_cols: list):
    """Assemble collected ``(..keys.., pos, c)`` centroid-dimension rows
    into sorted ``(*keys, [c_0..c_dim-1])`` tuples. Positions are
    contiguous per key group by construction (posexplode of a dense
    fixed-dim array), which is what makes the ``range(len(d))`` indexing
    total; a ragged or NULL-element embedding upstream would break that
    invariant, so it is re-checked here with a contract error instead of
    a bare KeyError."""
    by_key: dict = {}
    for r in rows:
        key = tuple(r[k] for k in key_cols)
        by_key.setdefault(key, {})[r["pos"]] = r["c"]
    for key, d in by_key.items():
        if len(d) != max(d) + 1:
            missing = [p for p in range(max(d) + 1) if p not in d]
            raise ValueError(
                f"_collect_cents: centroid key {key} is missing dimension "
                f"positions {missing[:5]} — embeddings must be dense "
                "fixed-dim arrays with no NULL elements"
            )
    return sorted((*k, [d[p] for p in range(len(d))]) for k, d in by_key.items())


def _cent_array(cent: DataFrame) -> DataFrame:
    """Collapse a (cell, cv, nc) centroid table into ONE row holding the
    array of centroid structs, for broadcast into a map-side argmax
    (``array_min`` over per-row candidate structs — guide §2.4: the
    grouped min(struct) argmax's shuffle of n payload rows is removed
    outright). ``collect_list`` order is irrelevant: min is
    order-invariant and (-cos, cell) is unique per candidate.

    A no-groupBy agg always returns one row, so an EMPTY centroid table
    would become one row with an empty array and the crossJoin would
    assign NULL cell/top-2 to every input vector. It is filtered here so
    empty centroids yield an empty result (simplified_silhouette takes
    caller-supplied centroids)."""
    return cent.agg(F.collect_list(F.struct("cell", "cv", "nc")).alias("cents")).filter(
        F.size("cents") > 0
    )


def _cent_table(spark, cents: list, keys: tuple = ()) -> DataFrame:
    """``(*keys, cell, cv, nc)`` rows from driver-side ``(*keys, cell, cv)``
    tuples — the trainers' output shape."""
    return spark.createDataFrame(
        cents, "".join(f"{k} int, " for k in keys) + "cell int, cv array<double>"
    ).select(*keys, "cell", "cv", _l2_norm(F.col("cv")).alias("nc"))


def _argmin_cands(arr: str = "cents", key: str = "cell"):
    """Per-row candidate structs ``(-cos6dp, key)`` of the row's ``v`` /
    ``nv`` against each centroid struct of the ``arr`` array —
    ``array_min`` of this is the repo-wide (-ccos, key)-ascending pick
    (cosine desc, ties to the lowest key), bit-equal to a grouped
    ``min(struct)``."""
    return F.transform(
        F.col(arr),
        lambda c: F.struct(
            (-_cos6("v", "nv", c["cv"], c["nc"])).alias("_negc"),
            c[key].alias(key),
        ),
    )


def _exact_means(assigned: DataFrame, keys: list, scale: int) -> DataFrame:
    """``(*keys, pos, c)``: per group, the mean of ``v[pos]`` as a sum of
    ``round(val*scale)`` bigints. Integer sums are order-independent, so
    the centroid is bit-identical under any partitioning and in any
    engine that replays it."""
    return (
        assigned.select(*keys, F.posexplode("v").alias("pos", "val"))
        .groupBy(*keys, "pos")
        .agg(
            (
                F.sum(F.round(F.col("val") * scale).cast("long")).cast("double")
                / F.lit(float(scale))
                / F.count("*")
            ).alias("c")
        )
    )


def _md5_seeds(v: DataFrame, k: int, seed: int, id_col: str) -> list:
    """``(cell, v)`` of the first ``k`` rows ranked by ``md5(seed:id)``,
    cells numbered from 1 in rank order — seeded, and independent of
    physical row order."""
    init = (
        v.withColumn(
            "_r", F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string")))
        )
        .orderBy("_r")
        .limit(k)
        .select("v")
    )
    # orderBy + limit is a TakeOrdered: rows come back in md5 rank order.
    return [(i + 1, list(r["v"])) for i, r in enumerate(init.collect())]


def _lloyd(v: DataFrame, cents: list, iters: int, scale: int, keys: tuple = ()) -> list:
    """``iters`` broadcast-Lloyd rounds over ``(*keys, v, nv)`` rows,
    starting from the driver-side ``(*keys, cell, cv)`` tuples ``cents``;
    returns the final tuples. Each ``keys`` group trains
    independently against its own centroids.

    Each round is one collect with one exchange: the centroids travel as a
    broadcast array-of-structs per group, the argmax is a map-side
    ``array_min`` over that array (no n×k row expansion, no per-id
    groupBy of payload rows), and the update is one partial-aggregated
    :func:`_exact_means` whose k·dim result rows are assembled
    driver-side (a second regrouping exchange would only rebuild the
    array the driver is about to collect anyway). Cells that lose all
    members drop out."""
    schema = "".join(f"{k} int, " for k in keys) + (
        "cents array<struct<cell:int,cv:array<double>,nc:double>>"
    )
    cells = [*keys, "cell"]
    for _ in range(iters):
        groups: dict = {}
        for *key, cell, cv in cents:
            groups.setdefault(tuple(key), []).append((cell, cv, _l2(cv)))
        rows = [(*key, cs) for key, cs in sorted(groups.items())]
        arr = F.broadcast(v.sparkSession.createDataFrame(rows, schema))
        joined = v.join(arr, list(keys)) if keys else v.crossJoin(arr)
        assigned = joined.select(*keys, F.array_min(_argmin_cands())["cell"].alias("cell"), "v")
        cents = _collect_cents(_exact_means(assigned, cells, scale).collect(), cells)
    return cents


def kmeans_train(
    embeddings: DataFrame,
    k: int = 8,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    scale: int = 10**9,
) -> DataFrame:
    """Broadcast-Lloyd k-means over an embedding column (cosine assignment).

    The realistic 100 TB IVF setup has no label column — cells must be
    TRAINED. Every step is deterministic and cross-engine reproducible so a
    SQL oracle can replay it exactly:

    * init: the first ``k`` vectors ranked by ``md5(seed:id)`` (seeded,
      data-independent of physical row order);
    * assignment: argmax cosine (rounded 6dp, ties to the lowest cell id);
    * update: exact scaled-integer means per (cell, dimension) — sums of
      ``round(val*scale)`` bigints are order-independent, so the new
      centroid is bit-identical regardless of partitioning.

    Each Lloyd iteration is one collect with one exchange (see
    :func:`_lloyd`); the k centroids (k × dim, tiny) come back once per
    iteration — the MLlib-style pattern. Cells that lose all members drop
    out (k shrinks).

    Input precondition: ``embeddings`` must carry one row per ``id_col``
    — the map-side argmax processes rows independently, so a duplicated
    id would double-count in the centroid means. Deduplicate upstream.

    Returns (cell int, cv array<double>, nc double) — ``nc`` is the L2 norm.
    """
    # Lazy localCheckpoint: the vector table is scanned once per Lloyd
    # iteration plus the init job — pinning it makes every iteration read
    # the materialized rows instead of re-deriving the source scan + cast
    # chain.
    v = _vec_rows(embeddings, id_col, vec_col).localCheckpoint(eager=False)
    cents = _lloyd(v, _md5_seeds(v, k, seed, id_col), iters, scale)
    return _cent_table(embeddings.sparkSession, cents)


def kmeans_two_level(
    embeddings: DataFrame,
    k: int,
    iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    scale: int = 10**9,
    seed_oversample: int = 4,
    n_rows: int | None = None,
    fine_broadcast_max_rows: int = 1 << 20,
) -> DataFrame:
    """Hierarchical (two-level) k-means cell assignment: ~k cells at
    n·O(√k) compare cost instead of the flat Lloyd's n·k.

    The flat broadcast-argmax assignment evaluates every (vector, centroid)
    pair; when k is derived from the corpus (k ∝ n, the SemDeDup
    ``cell_target`` discipline) that stage is n²/cell_target — the 100×
    rehearsal measured it as the dominant term (exponent ~0.8). This
    routes hierarchically instead, the IVF coarse-quantizer pattern
    (Jégou et al. 2011 — public literature):

    * level 1: ``k1 = ceil(√k)`` coarse centroids, trained with the same
      deterministic broadcast-Lloyd as :func:`kmeans_train` — n·k1 per
      pass;
    * level 2: within each coarse cell, up to ``k2 = ceil(k/k1)`` fine
      centroids trained by a GROUPED Lloyd loop — the assignment is an
      equi-join on the coarse cell (fan-out ≤ k2 per vector, a broadcast
      hash join on a k-row table), so each pass is n·k2, never n·k.

    Total: n·(k1+k2)·(iters+1) ≈ 2√k·n·(iters+1) compares. With k ∝ n the
    whole chain is O(n^1.5) where flat is O(n²) — and every stage keeps
    the repo's determinism discipline (md5-seeded init, 6dp cosine
    rounding with ties to the lowest cell id, exact scaled-integer means),
    so the decision chain remains engine-replayable in SQL.

    Fine init: each coarse cell seeds itself with its ``k2`` md5-smallest
    routed vectors — exact per-cell semantics, so every non-empty cell
    always has seeds (no missed-cell fallback can exist) and the result
    is provably independent of ``seed_oversample``. The implementation is
    sample-then-repair, never a collect:

    * an md5-threshold pre-filter keeps rows whose 60-bit hash prefix
      falls under ``seed_oversample·k/n`` of the hash space (map-side,
      expected ``seed_oversample·k2`` rows per average cell). Because
      the filter is monotone in the SAME md5 the per-cell order sorts
      by, the sample is a PREFIX of every cell's seed order — so when a
      cell keeps ≥ k2 sampled rows, its sampled top-k2 IS its true
      top-k2;
    * cells where the sample holds fewer than ``min(k2, |cell|)`` rows
      (the binomial tail — essentially only cells smaller than ~k2/p)
      are repaired exactly: their FULL row set re-enters the ranking
      via a broadcast semi-join on the tiny deficient-cell list;
    * the per-cell rank is a ``Window.partitionBy(cc)`` over the
      sampled+repaired candidates. That window is the RIGHT plan here
      by the engine's own doctrine (``distributed_prefix_sum`` enforces
      its offset-table cap precisely because high-cardinality groups —
      cc has k1 ≈ √k of them — belong to the plain grouped window): the
      per-group row count is sample-bounded (~``seed_oversample·k2``),
      independent of n, so no task ever sorts a corpus-sized group.

    The fine Lloyd loop then keeps centroids as a DATAFRAME joined by
    coarse id — localCheckpoint between rounds, never a driver
    collect/rebuild. Empty fine cells drop out per iteration, mirroring
    :func:`kmeans_train`. ``n_rows`` lets callers that already counted
    the corpus (semantic_dedup's shared count job) skip the one count
    the threshold sizing needs.

    Input PRECONDITION: ``embeddings`` must carry ONE ROW PER ``id_col``.
    The map-side ``array_min`` routing processes each row independently,
    so duplicate ids would both survive into the routed table AND tie
    nondeterministically in the md5-ranked fine-seed pick (identical
    ``_r``). Deduplicate upstream. With that precondition, ``n_rows``
    (when passed) equals the routed-table count the sample threshold is
    sized for.

    Driver memory: O(√k) — the coarse level's k1-row centroid state is
    the ONLY Python-side collect. The fine-centroid table (k rows) is
    broadcast-joined while ``k ≤ fine_broadcast_max_rows`` (the
    single-JVM fast path; a broadcast still materializes k·dim·8 B in
    the driver JVM) and falls back to a plain cc-keyed shuffle join
    above it — the 100 TB plan, where each va partition co-locates with
    exactly its own cells' ≤ k2 centroids and no k-row table exists on
    any single node. The shuffle join costs +5-20% over the broadcast
    join at k = 10⁴ (BENCH_NOTES_r14 §1), acceptable as the only plan
    that avoids a k-row table per node at k > 2²⁰.

    Output: (``id_col``, cell int, v array<double>, nv double) — one row
    per input vector, ``cell = coarse·k2 + fine`` in [0, k1·k2). The cell
    PARTITION differs from flat k-means (vectors route through their
    coarse cell), which is immaterial to cell-bounded dedup/ANN but means
    a flat-trained SQL oracle does not replay it — the two-level oracle
    chain lives in suite.py:_kmeans2_sql_cte and is verified bit-exact
    against this operator (driver gate + oversample-invariance stress).
    """
    if k < 2:
        raise ValueError(f"kmeans_two_level: k must be >= 2, got {k}")
    if iters < 1:
        raise ValueError(f"kmeans_two_level: iters must be >= 1, got {iters}")
    if seed_oversample < 1:
        raise ValueError(
            f"kmeans_two_level: seed_oversample must be >= 1, got {seed_oversample}"
        )
    spark = embeddings.sparkSession
    k1 = math.isqrt(k - 1) + 1  # ceil(sqrt(k))
    k2 = -(-k // k1)

    # One pinned vector table serves the coarse Lloyd rounds and the
    # routing below.
    v = _vec_rows(embeddings, id_col, vec_col).localCheckpoint(eager=False)
    coarse = _lloyd(v, _md5_seeds(v, k1, seed, id_col), iters, scale)
    # Coarse routing: map-side array_min over the broadcast single-row
    # centroid array — no n×k1 row expansion and no per-id shuffle of the
    # payload rows.
    va = (
        v.crossJoin(F.broadcast(_cent_array(_cent_table(spark, coarse))))
        .select(
            F.col(id_col),
            F.array_min(_argmin_cands())["cell"].alias("cc"),
            "v",
            "nv",
        )
        .localCheckpoint(eager=False)
    )

    # Distributed per-cell pick: each cell's k2 md5-smallest vectors,
    # computed by sample-then-repair (docstring) — no driver collect,
    # output independent of seed_oversample by construction.
    va_r = va.withColumn(
        "_r",
        F.md5(F.concat_ws(":", F.lit(str(seed)), F.lit("fine"), F.col(id_col).cast("string"))),
    )
    n = va.count() if n_rows is None else n_rows
    # 60-bit hash-prefix threshold targeting seed_oversample·k kept
    # rows in expectation. Python big-int arithmetic (the product
    # overflows int64 for large k); the threshold never reaches the
    # output semantics, so no oracle has to replay it.
    thresh = ((seed_oversample * k) << 60) // max(n, 1)
    cand = va_r
    if thresh < (1 << 60):
        r60 = F.conv(F.substring("_r", 1, 15), 16, 10).cast("long")
        in_sample = r60 < F.lit(thresh)
        sampled = va_r.filter(in_sample)
        # A cell is deficient when the sample holds fewer than
        # min(k2, |cell|) of its rows; the sample being an _r-prefix
        # per cell, every NON-deficient cell's sampled top-k2 is its
        # exact top-k2. Deficient cells (binomial tail + cells smaller
        # than ~k2/p) re-rank their full row set; the deficient-cell
        # list is tiny, so both routing joins broadcast it. ONE
        # partial-agged pass computes both counts (total + in-sample).
        deficient = (
            va_r.groupBy("cc")
            .agg(
                F.count("*").alias("_nt"),
                F.sum(in_sample.cast("long")).alias("_ns"),
            )
            .filter(F.col("_ns") < F.least(F.lit(k2), F.col("_nt")))
            .select("cc")
        )
        cand = sampled.join(F.broadcast(deficient), "cc", "left_anti").unionByName(
            va_r.join(F.broadcast(deficient), "cc").select(*sampled.columns)
        )
    # Per-cell rank: cc is HIGH-cardinality (k1 ~ sqrt(k) groups) and
    # the per-group candidate count is sample-bounded (~oversample·k2,
    # independent of n) — exactly the regime distributed_prefix_sum's
    # own guard routes to the plain grouped window.
    wseed = Window.partitionBy("cc").orderBy("_r")
    cent = (
        cand.withColumn("_rn", F.row_number().over(wseed))
        .filter(F.col("_rn") <= k2)
        .select("cc", (F.col("_rn") - 1).cast("int").alias("j"), F.col("v").alias("cv"))
    )

    # Fine Lloyd rounds with the centroid table kept as a DataFrame —
    # a LAZY localCheckpoint between rounds truncates lineage and
    # materializes exact doubles without O(k) driver state; lazy because
    # the next round's broadcast build is the first consumer and
    # materializes it inline — eager would pay one extra job per round.
    # Broadcast only while the k-row table is small; above the cap the
    # cc-keyed shuffle join is the 100 TB plan (each va partition
    # co-locates with its own cells' <= k2 centroids).
    bcast = k <= fine_broadcast_max_rows
    cent = cent.localCheckpoint(eager=False)
    for it in range(iters + 1):
        # The cc's fine centroids travel as ONE array row per coarse cell:
        # the join fans out 1:1 instead of 1:k2 and the argmax is a
        # map-side array_min (j is unique per cc).
        cent_cc = cent.groupBy("cc").agg(
            F.collect_list(F.struct("j", "cv", _l2_norm(F.col("cv")).alias("nc"))).alias("_fc")
        )
        assigned = va.join(F.broadcast(cent_cc) if bcast else cent_cc, "cc").select(
            F.col(id_col), "cc", "v", "nv", F.array_min(_argmin_cands("_fc", "j"))["j"].alias("j")
        )
        if it == iters:
            # Final routing with the post-update centroids — the same
            # "assign once more after the last update" contract as the
            # flat semantic_dedup chain. Coarse cells are numbered
            # 1..k1 — shift to 0-based before packing so cell ids land
            # in [0, k1·k2).
            return assigned.select(
                F.col(id_col),
                ((F.col("cc") - 1) * k2 + F.col("j")).alias("cell"),
                "v",
                "nv",
            )
        cent = (
            _exact_means(assigned, ["cc", "j"], scale)
            .groupBy("cc", "j")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c")))["c"].alias("cv"))
            .localCheckpoint(eager=False)
        )
    raise AssertionError("unreachable")  # pragma: no cover


def ivf_topk(
    embeddings: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str | None = "label",
    query_max_id: int = 10,
    scale: int = 10**9,
    nprobe: int = 1,
    train_k: int = 8,
    train_iters: int = 3,
    seed: int = 42,
) -> DataFrame:
    """IVF-style ANN: coarse centroid cells, every vector assigned to its
    NEAREST centroid, each query (id < query_max_id) probes its ``nprobe``
    nearest cells and ranks candidates by exact cosine.

    Cells come from :func:`kmeans_train` (``label_col=None`` — the realistic
    setup, no label column needed) or, when a label column exists, from
    per-``label`` exact scaled-integer means (order-independent,
    cross-engine reproducible). At scale: centroids broadcast (tiny),
    assignment is a map-side broadcast join, and the probe join shuffles by
    cell — never all-pairs. Raising ``nprobe`` multiplies only the QUERY
    side of the probe join (queries × nprobe rows); candidates stay
    single-cell, so the join stays cell-partitioned and its cost scales
    with nprobe × cell size, not corpus size. Recall increases
    monotonically with nprobe (each probe adds a candidate cell; existing
    candidates keep their exact scores) until nprobe = #cells reproduces the
    exact brute-force ranking.

    Input precondition: ``embeddings`` must carry one row per ``id_col``
    — the candidate branch emits one assignment row per INPUT row, so a
    duplicated id would appear as duplicate candidates. Deduplicate
    upstream.

    Output: query_id, neighbor_id, cosine (rounded 6dp).
    """
    v = _vec_rows(embeddings, id_col, vec_col)

    if label_col is None:
        cent = kmeans_train(
            embeddings,
            k=train_k,
            iters=train_iters,
            id_col=id_col,
            vec_col=vec_col,
            seed=seed,
            scale=scale,
        )
    else:
        cent = (
            _exact_means(_vec_rows(embeddings, label_col, vec_col), [label_col], scale)
            .groupBy(label_col)
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c")))["c"].alias("cv"))
            .select(F.col(label_col).alias("cell"), "cv", _l2_norm(F.col("cv")).alias("nc"))
            # The centroid array feeds BOTH the candidate and the query
            # branch — without a pin, this corpus-wide centroid agg runs
            # once per branch. k rows materialize; the corpus stays lazy.
            .localCheckpoint(eager=False)
        )

    # Candidates live in exactly ONE cell: map-side array_min over the
    # broadcast single-row centroid array — no n×#cells row expansion, no
    # per-id shuffle of payload rows; (-ccos, cell) ascending == ccos desc
    # with ties to the lowest cell.
    cands = _argmin_cands()
    vc = v.crossJoin(F.broadcast(_cent_array(cent)))
    c = vc.select(
        F.col(id_col).alias("neighbor_id"),
        F.col("v").alias("cv"),
        F.col("nv").alias("nc"),
        F.array_min(cands)["cell"].alias("cell"),
    )
    # Queries fan out to nprobe cells: the first nprobe entries of the
    # SORTED candidate array — array_sort's (-ccos, cell)-ascending struct
    # order is (ccos desc, cell asc) for any real cosine. A NaN cosine
    # (zero-norm query or centroid; double x/0.0 is never NULL) probes
    # LAST; a NULL cosine needs NULL vector elements, excluded by the
    # table schemas.
    q = (
        vc.filter(F.col(id_col) < query_max_id)
        .select(
            F.col(id_col).alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nv").alias("nq"),
            F.explode(F.slice(F.array_sort(cands), 1, nprobe)).alias("_cand"),
        )
        .select("query_id", "qv", "nq", F.col("_cand.cell").alias("cell"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        _pair_cosines(q.join(c, ["cell"]))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def hyperplane_lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bits: int = 8,
    seed: int = 42,
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing the query's LSH
    bucket. Equi-join on bucket → shuffle by bucket, never all-pairs; the
    bucket is a column of each side's vector rows."""

    def side(df: DataFrame, names: tuple) -> DataFrame:
        bucket = _sign_bucket(df, vec_col, bits, seed, dim).alias("bucket")
        return _vec_rows(df, id_col, vec_col, bucket, names=names)

    c, q = side(embeddings, _CAND), side(queries, _QUERY)
    return _topk(_pair_cosines(c.join(F.broadcast(q), "bucket")), k)


def knn_classify(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """k-NN majority-vote classification: predict each query vector's label
    from its ``k`` nearest labeled neighbors (cosine, self excluded).

    Output: (query_id, pred_label, votes). Ties (equal vote counts) break to
    the smallest label, so the prediction is deterministic cluster-wide.

    Scale design: neighbor search is ``cosine_topk`` (broadcast queries ×
    streamed candidates, top-k pruned per partition before the final
    window); the label attach joins k·|Q| rows against the embedding table on
    its key — with |Q| broadcast-small the join output is tiny, and the vote
    count is a partial-aggregated groupBy over k·|Q| rows. Nothing here is
    O(n²) in the corpus.

    North-star extension (embedding-quality audits: label purity of
    neighborhoods, pseudo-labeling unlabeled data); no reference twin.
    """
    neigh = cosine_topk(embeddings, queries, k=k, id_col=id_col, vec_col=vec_col)
    labels = embeddings.select(
        F.col(id_col).alias("neighbor_id"), F.col(label_col).alias("_nb_label")
    )
    votes = (
        neigh.join(labels, "neighbor_id")
        .groupBy("query_id", "_nb_label")
        .agg(F.count("*").alias("votes"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("votes"), F.asc("_nb_label"))
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("query_id", F.col("_nb_label").alias("pred_label"), "votes")
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): compressed-domain ANN
# ---------------------------------------------------------------------------

def pq_train(
    embeddings: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
    scale: int = 10**9,
) -> DataFrame:
    """Train per-subspace PQ codebooks: split every vector into ``m``
    contiguous subvectors of ``dim/m`` dims and run Lloyd k-means in each
    subspace (the classic Jégou/Douze/Schmid PQ construction — public
    literature). A vector is then representable as ``m`` small cell ids
    (codes) instead of ``dim`` floats: at 100 TB that is the difference
    between holding 4-16 bytes/vector vs 256+ in the scan.

    All ``m`` subspaces train TOGETHER: vectors explode into (id, subspace,
    subvector) rows once, each Lloyd iteration is ONE pass over that data
    against the broadcast (m x k) codebook — the per-iteration driver
    traffic is m*k*(dim/m) = k*dim doubles, same as plain k-means. The
    result is bit-identical to running ``kmeans_train`` on each slice
    independently (same seeded md5 init — rank is id-only, so every
    subspace picks the same rows — same rounded-cosine argmax assignment,
    same exact scaled-integer means), which is what lets a SQL oracle
    replay it per subspace.

    Returns (subspace int, cell int, cv array<double>, nc double).
    """
    if dim % m:
        raise ValueError(f"pq_train: dim={dim} not divisible by m={m}")
    sub = dim // m
    seeds = _md5_seeds(_vec_rows(embeddings, id_col, vec_col), k, seed, id_col)
    cents = _lloyd(
        _pq_subspace_rows(embeddings, id_col, vec_col, dim, m),
        [(s, cell, sv[s * sub : (s + 1) * sub]) for cell, sv in seeds for s in range(m)],
        iters,
        scale,
        ("subspace",),
    )
    return _cent_table(embeddings.sparkSession, cents, ("subspace",))


def _pq_subspace_rows(df: DataFrame, id_col: str, vec_col: str, dim: int, m: int) -> DataFrame:
    sub = dim // m
    slices = F.array(
        *[
            F.struct(
                F.lit(s).alias("subspace"),
                F.transform(
                    F.slice(F.col(vec_col), s * sub + 1, sub), lambda x: x.cast("double")
                ).alias("v"),
            )
            for s in range(m)
        ]
    )
    return (
        df.select(F.col(id_col), F.explode(slices).alias("x"))
        .select(F.col(id_col), F.col("x.subspace").alias("subspace"), F.col("x.v").alias("v"))
        .withColumn("nv", _l2_norm(F.col("v")))
    )


def pq_encode(
    embeddings: DataFrame,
    codebook: DataFrame,
    dim: int,
    m: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Quantize every vector to its m-code PQ representation: per subspace,
    the codebook cell with the highest rounded cosine (ties to the lowest
    cell — the same deterministic rule the trainer uses). Codebook is
    broadcast (m x k rows); the big side is scanned once, map-side.

    Input precondition: ``embeddings`` must carry one row per ``id_col``
    — a duplicated id yields a 2m-length codes array, which downstream
    pq_topk LUT scoring would consume as a malformed code. Deduplicate
    upstream.

    Returns (id_col, codes array<int>) with codes[s] = cell of subspace s.
    """
    v = _pq_subspace_rows(embeddings, id_col, vec_col, dim, m)
    # One row per subspace holding its codebook structs: join 1:1, argmax
    # map-side via array_min; only the m-code assembly aggregates.
    cb = codebook.groupBy("subspace").agg(
        F.collect_list(F.struct("cell", "cv", "nc")).alias("cents")
    )
    return (
        v.join(F.broadcast(cb), "subspace")
        .select(
            F.col(id_col),
            "subspace",
            F.array_min(_argmin_cands())["cell"].alias("cell"),
        )
        .groupBy(id_col)
        .agg(
            F.array_sort(F.collect_list(F.struct("subspace", "cell")))["cell"].alias(
                "codes"
            )
        )
    )


def pq_topk(
    embeddings: DataFrame,
    k: int = 5,
    dim: int = 64,
    m: int = 4,
    train_k: int = 16,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_max_id: int = 10,
    seed: int = 42,
    scale: int = 10**9,
    rerank: int | None = None,
) -> DataFrame:
    """PQ ANN with asymmetric-distance (ADC) scoring: candidates are ranked
    by the cosine between the EXACT query vector and each candidate's
    RECONSTRUCTION (its per-subspace codebook centroids):

        score(q, x) = sum_s <q_s, c_{s,code_s(x)}> / (|q| * |x_hat|)

    Per (query, subspace, cell) the dot is precomputed into a lookup table
    of |q| x m x k rows — broadcast-tiny — so scoring a candidate is m LUT
    hits on its codes, never a touch of its floats: the 100 TB scan reads
    m bytes/vector instead of 4*dim. Cross-partition sums of LUT entries
    use the scaled-integer contract so the score is partition- and
    engine-independent.

    With ``rerank=r`` the ADC ranking produces an r-size shortlist per
    query and the final top-k re-scores ONLY the shortlist with exact
    cosines (one semi-join back to the float column) — the standard
    two-stage PQ serving layout; quantization error then costs recall only
    past the shortlist boundary.

    Output: query_id, neighbor_id, adc_cosine (or exact ``cosine`` when
    reranking).
    """
    codebook = pq_train(
        embeddings, dim=dim, m=m, k=train_k, iters=iters, id_col=id_col,
        vec_col=vec_col, seed=seed, scale=scale,
    )
    queries = embeddings.filter(F.col(id_col) < query_max_id)
    codes = pq_encode(embeddings, codebook, dim=dim, m=m, id_col=id_col, vec_col=vec_col)

    qsub = _pq_subspace_rows(queries, id_col, vec_col, dim, m).join(
        _vec_rows(queries, id_col, vec_col).select(id_col, F.col("nv").alias("qn")), id_col
    ).withColumnRenamed(id_col, "query_id")
    qdot = F.aggregate(
        F.zip_with("v", "cv", lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )
    csq = F.aggregate(F.transform("cv", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    lut = (
        qsub.join(F.broadcast(codebook), "subspace")
        .select(
            "query_id",
            "subspace",
            "cell",
            F.round(qdot * scale).cast("long").alias("dot_i"),
            F.round(csq * scale).cast("long").alias("csq_i"),
            "qn",
        )
    )

    cand = codes.select(
        F.col(id_col).alias("neighbor_id"), F.posexplode("codes").alias("subspace", "cell")
    )
    scored = (
        cand.join(F.broadcast(lut), ["subspace", "cell"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .groupBy("query_id", "neighbor_id")
        .agg(F.sum("dot_i").alias("sd"), F.sum("csq_i").alias("sq"), F.min("qn").alias("qn"))
        .withColumn(
            "adc_cosine",
            F.round(
                (F.col("sd") / F.lit(float(scale)))
                / (F.col("qn") * F.sqrt(F.col("sq") / F.lit(float(scale)))),
                6,
            ),
        )
        .select("query_id", "neighbor_id", "adc_cosine")
    )

    return _rerank(scored, embeddings, queries, k, rerank, id_col, vec_col)


def random_projection(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    in_dim: int,
    out_dim: int = 16,
    seed: int = 0,
    scale: int = 10**6,
) -> DataFrame:
    """Dimensionality reduction by a seeded ±1 random projection
    (Johnson & Lindenstrauss 1984; Achlioptas 2003's database-friendly
    sign matrices — public literature): project ``in_dim`` → ``out_dim``
    with component_j = Σ_i sign(seed, j, i) · v_i. Pairwise distances/
    cosines are preserved to (1 ± ε) w.h.p., which is the cheap front
    half of every embedding pipeline here — shrink 64-dim vectors before
    LSH banding, IVF training, or brute-force re-rank.

    * Signs come from md5("{seed}_{j}_{i}") (first hex digit < 8 → +1),
      so the matrix is a pure function of the seed — identical in any
      engine, no stored model, re-runnable on any partitioning.
    * The matrix enters the plan as ``out_dim`` LITERAL int arrays
      (out_dim·in_dim plan constants), and each component is an exact
      bigint fold of sign·round(v·scale) — no float-sum order
      dependence, no shuffle: the projection plan is MAP-ONLY (zero
      Exchange nodes — plan-asserted in pytest; the array folds
      themselves sit outside whole-stage codegen, as Catalyst's
      higher-order functions do). At 1000 executors it scales
      embarrassingly.
    * Vectors whose length ≠ ``in_dim`` fail the plan with an explicit
      error (a silent zip_with truncation would corrupt geometry).

    Output: id_col, j int (0..out_dim-1), comp double (6dp) — long
    format, one row per output component.
    """
    import hashlib

    if in_dim < 1 or out_dim < 1:
        raise ValueError(
            f"random_projection: dims must be >= 1, got in={in_dim} out={out_dim}"
        )
    for c in (id_col, vec_col):
        if c not in df.columns:
            raise ValueError(f"random_projection: column {c!r} not in {df.columns}")

    def sign(j: int, i: int) -> int:
        h = hashlib.md5(f"{seed}_{j}_{i}".encode()).hexdigest()
        return 1 if int(h[0], 16) < 8 else -1

    sign_rows = [
        F.array(*[F.lit(sign(j, i)) for i in range(in_dim)])
        for j in range(out_dim)
    ]
    checked = F.when(
        F.size(vec_col) != in_dim,
        F.raise_error(
            F.concat(
                F.lit(f"random_projection: expected {in_dim}-dim vector, got "),
                F.size(vec_col).cast("string"),
            )
        ).cast(df.schema[vec_col].dataType),
    ).otherwise(F.col(vec_col))
    # float → double BEFORE the scale multiply, mirrored by an explicit
    # CAST AS DOUBLE in any SQL oracle — float*int arithmetic would stay
    # in float32 and round differently.
    svec = F.transform(
        checked, lambda v: F.round(v.cast("double") * scale).cast("long")
    )
    comps = [
        F.aggregate(
            F.zip_with(svec, sign_rows[j], lambda v, s: v * s),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias(f"_c{j}")
        for j in range(out_dim)
    ]
    return (
        df.filter(F.col(id_col).isNotNull())
        .select(id_col, *comps)
        .select(
            id_col,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("j"),
                            F.round(F.col(f"_c{j}") / scale, 6).alias("comp"),
                        )
                        for j in range(out_dim)
                    ]
                )
            ).alias("_p"),
        )
        .select(id_col, "_p.j", "_p.comp")
    )


def kcenter_select(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int,
    scale: int = 10**6,
) -> DataFrame:
    """Greedy k-center (farthest-point-first) selection over an embedding
    column — the classic 2-approximation to the k-center cover (Gonzalez
    1985; used as core-set data selection, Sener & Savarese ICLR 2018 —
    public literature): start from the smallest id, then repeatedly take
    the point FARTHEST from everything chosen so far. The result is a
    maximally-diverse size-k sample — the diversity complement to the
    md5/weighted samplers (which are distribution-preserving, not
    coverage-seeking).

    * Distances are squared L2 over ``round(v·scale)`` bigints — exact
      integer arithmetic, so the argmax (ties broken by smallest id) is
      partition- and engine-independent, and an engine replaying the
      same greedy rule reproduces the identical selection.
    * The running state is ONE column: each point's min squared distance
      to the chosen set, updated per round against only the NEWEST
      center (min of mins — the standard incremental trick), then
      localCheckpointed to truncate lineage. Per round: one map over the
      points + one TakeOrderedAndProject(1) — a single row crosses the
      driver per center, k·dim driver traffic total (the BPE/Lloyd
      collect discipline).
    * k is the iteration count by construction — 8-64 in practice; each
      round is a full map scan, so cost is k·O(n/cores) with no shuffle
      at all (the scan is map-only; the argmax is a top-1).

    Output: step int (1..k, selection order), id_col — row 1 is the
    seed, row i the point farthest from rows 1..i-1.
    """
    if k < 1:
        raise ValueError(f"kcenter_select: k must be >= 1, got {k}")
    for c in (id_col, vec_col):
        if c not in df.columns:
            raise ValueError(f"kcenter_select: column {c!r} not in {df.columns}")
    pts = (
        df.filter(F.col(id_col).isNotNull() & F.col(vec_col).isNotNull())
        .select(
            F.col(id_col).alias("_id"),
            F.transform(
                vec_col, lambda v: F.round(v.cast("double") * scale).cast("long")
            ).alias("_sv"),
        )
        .localCheckpoint(eager=False)
    )
    seed = pts.select(F.min("_id").alias("_id")).collect()[0]["_id"]
    if seed is None:
        return df.sparkSession.createDataFrame([], f"step: int, {id_col}: bigint")
    chosen: list = [seed]
    seed_vec = pts.filter(F.col("_id") == seed).collect()[0]["_sv"]

    def d2_to(center: list) -> "F.Column":
        carr = F.array(*[F.lit(int(x)) for x in center])
        return F.aggregate(
            F.zip_with(F.col("_sv"), carr, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    state = pts.select("_id", "_sv", d2_to(seed_vec).alias("_mind")).localCheckpoint(
        eager=False
    )
    while len(chosen) < k:
        far = (
            state.filter(~F.col("_id").isin(chosen))
            .orderBy(F.desc("_mind"), F.asc("_id"))
            .limit(1)
            .collect()
        )
        if not far:
            break  # fewer distinct points than k
        nxt, nxt_vec = far[0]["_id"], far[0]["_sv"]
        chosen.append(nxt)
        if len(chosen) < k:
            state = state.select(
                "_id", "_sv", F.least("_mind", d2_to(nxt_vec)).alias("_mind")
            ).localCheckpoint(eager=False)
    rows = [(i + 1, cid) for i, cid in enumerate(chosen)]
    schema_id_type = df.schema[id_col].dataType.simpleString()
    return df.sparkSession.createDataFrame(
        rows, f"step: int, {id_col}: {schema_id_type}"
    )


def simplified_silhouette(
    embeddings: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
) -> DataFrame:
    """Per-cell simplified silhouette of a k-means clustering under
    cosine distance (the centroid-based silhouette of Hruschka et al.
    2004, public literature — O(n·k) where the exact silhouette's
    pairwise form is O(n²)): for each vector, a = distance to its OWN
    centroid, b = distance to the nearest OTHER centroid,
    s = (b − a) / max(a, b) ∈ [−1, 1]; the per-cell mean says which
    clusters are tight (→1), overlapping (→0), or misassigned (<0) —
    the model-quality readout for the IVF/SemDeDup training step.

    ``centroids`` is ``kmeans_train``'s output (cell, cv, nc).
    Distances use the same 6dp-rounded cosines as the assignment step,
    so own-cell here IS the trained assignment; per-vector s rounds to
    ``scale`` units and the cell means are exact integer sums. Vectors
    equidistant at 0 from two centroids score 0 by convention.

    100 TB shape: one map-side broadcast cross of n×k cosines, a per-id
    top-2 over k collected structs (k is small by construction), one
    cell-keyed agg. No shuffle beyond the id and cell hash aggs.

    Output: cell bigint, n bigint, mean_sil double (6dp) — ascending.
    """
    for c in (id_col, vec_col):
        if c not in embeddings.columns:
            raise ValueError(
                f"simplified_silhouette: column {c!r} not in {embeddings.columns}"
            )
    # Silhouette is undefined for k=1 (there is no "nearest OTHER
    # centroid"); with a single cell the top-2 slice has no element 2 and
    # every s would silently null out — reject loudly instead. k is small
    # by construction (kmeans_train output), so collect the cells ONCE and
    # feed the broadcast below from the collected rows: the validation
    # rides for free and the centroids' upstream plan (often an expensive
    # training lineage) executes exactly once, not once for a count and
    # again for the cross. The pull is bounded at 4096+1 rows — generous
    # for any real k, small enough (rows carry dim-sized vectors) that a
    # mistakenly-huge "centroids" frame can't load the driver; past the
    # cap the original lazy frame is kept (double execution accepted for
    # the degenerate case only).
    cent_rows = centroids.limit(4097).collect()
    if len(cent_rows) < 2:
        raise ValueError(
            f"simplified_silhouette: need >= 2 centroid cells, got {len(cent_rows)} "
            "(silhouette is undefined for k=1)"
        )
    if len(cent_rows) <= 4096:
        centroids = embeddings.sparkSession.createDataFrame(
            cent_rows, centroids.schema
        )
    else:
        import warnings

        warnings.warn(
            "simplified_silhouette: centroids exceed the 4096-row one-shot "
            "collect cap — keeping the lazy frame, so its plan executes "
            "once for validation and again for the broadcast cross. "
            "Persist the centroids upstream to avoid the double execution.",
            stacklevel=2,
        )
    v = _vec_rows(embeddings, id_col, vec_col)
    # Top-2 centroids per vector, fully MAP-side: the k centroids travel
    # as one broadcast array row and each vector sorts its own k candidate
    # structs — no n×k row expansion and no per-id shuffle. Cells are
    # unique within the array, so element 2 is always the nearest OTHER
    # centroid.
    top2 = (
        v.crossJoin(F.broadcast(_cent_array(centroids)))
        .select(F.slice(F.array_sort(_argmin_cands()), 1, 2).alias("_t"))
        .select(
            F.col("_t")[0]["cell"].alias("cell"),
            (F.lit(1.0) + F.col("_t")[0]["_negc"]).alias("_da"),
            (F.lit(1.0) + F.col("_t")[1]["_negc"]).alias("_db"),
        )
    )
    s = F.when(F.greatest("_da", "_db") == 0, F.lit(0).cast("long")).otherwise(
        F.round(
            (F.col("_db") - F.col("_da")) / F.greatest("_da", "_db") * scale
        ).cast("long")
    )
    return (
        top2.withColumn("_ss", s)
        .groupBy(F.col("cell").cast("bigint").alias("cell"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("_ss").cast("double") / scale / F.count("*"), 6).alias(
                "mean_sil"
            ),
        )
        .orderBy("cell")
    )


def embedding_pair_profile(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample: int = 64,
    seed: int = 0,
    bins: int = 20,
) -> DataFrame:
    """Pairwise-cosine histogram over a seeded sample of the embedding
    table — the embedding-health profile: a healthy corpus shows a broad
    unimodal mass around its ambient angle; a spike near 1.0 means the
    encoder collapsed (or the corpus is near-duplicate-saturated), a
    spike near 0 with no tail means no neighborhood structure for ANN to
    exploit. Run it BEFORE spending a cluster on LSH/IVF tuning.

    * The sample is the ``sample`` ids with the smallest
      md5("{seed}:{id}") — data-independent of physical order, identical
      in any engine (the suite's seeded-sample discipline), and small
      enough (default 64 → 2016 pairs) that the all-pairs compare is a
      broadcast self-join, NOT a corpus cartesian.
    * Cosines round to 6dp, then land in ``bins`` fixed-width buckets
      over [-1, 1] (cos = 1.0 clamps into the last bucket). All bins are
      emitted, zeros included — a profile with holes reads wrong.

    Output: bin int (0..bins-1), lo double (bucket lower edge, 6dp),
    n bigint — ascending by bin.
    """
    if sample < 2:
        raise ValueError(f"embedding_pair_profile: sample must be >= 2, got {sample}")
    if bins < 1:
        raise ValueError(f"embedding_pair_profile: bins must be >= 1, got {bins}")
    for c in (id_col, vec_col):
        if c not in embeddings.columns:
            raise ValueError(
                f"embedding_pair_profile: column {c!r} not in {embeddings.columns}"
            )
    picked = _vec_rows(
        embeddings.filter(F.col(id_col).isNotNull())
        .withColumn(
            "_r",
            F.md5(F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))),
        )
        .orderBy("_r")
        .limit(sample),
        id_col,
        vec_col,
    ).localCheckpoint(eager=False)
    a, b = _ab(picked, id_col)
    width = 2.0 / bins
    cos = _cos6("va", "na", "vb", "nb")
    bin_e = F.least(
        F.floor((cos + 1.0) / width).cast("int"), F.lit(bins - 1)
    )
    counts = (
        a.crossJoin(F.broadcast(b))
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy(bin_e.alias("bin"))
        .agg(F.count("*").alias("n"))
    )
    grid = embeddings.sparkSession.range(0, bins).select(
        F.col("id").cast("int").alias("bin")
    )
    return (
        grid.join(counts, "bin", "left")
        .select(
            "bin",
            F.round(F.lit(-1.0) + F.col("bin") * width, 6).alias("lo"),
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n"),
        )
        .orderBy("bin")
    )


def sq8_train(
    embeddings: DataFrame,
    dim: int = 64,
    vec_col: str = "embedding",
) -> tuple[list[float], list[float]]:
    """Train a scalar (SQ8) quantizer: per-dimension min/max over the
    corpus, the 2·dim doubles that define a uniform 256-level grid per
    coordinate (the classic FAISS ``SQ8``-style codec — public
    literature; Gray & Neuhoff, "Quantization", 1998, for the theory).

    One posexplode + hash agg over the corpus — dim·n rows, partial-agged
    map-side, and exactly 2·dim doubles cross the driver. At 100 TB the
    same pass runs once at ingest and the params ship with the table.
    """
    rows = (
        embeddings.select(
            F.posexplode(
                F.transform(F.col(vec_col), lambda x: x.cast("double"))
            ).alias("pos", "x")
        )
        .groupBy("pos")
        .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
        .orderBy("pos")
        .collect()
    )
    if len(rows) != dim:
        raise ValueError(
            f"sq8_train: expected {dim} dimensions, corpus has {len(rows)}"
        )
    return [r["mn"] for r in rows], [r["mx"] for r in rows]


def sq8_encode(
    embeddings: DataFrame,
    mins: list[float],
    maxs: list[float],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors against a trained SQ8 grid: per coordinate,
    ``code = round((x - mn) * 255 / (mx - mn))`` stored as a SIGNED byte
    (shifted by -128), so a 64-dim float vector becomes 64 bytes — 4×
    smaller than the floats, the compressed-domain scan unit. A
    zero-range dimension encodes as 0. Pure Catalyst (one ``transform``
    with the 2·dim grid params inlined as literal arrays); nothing
    shuffles.

    Output: (id_col, codes array<tinyint>).
    """
    mn_arr = F.array(*[F.lit(float(v)) for v in mins])
    mx_arr = F.array(*[F.lit(float(v)) for v in maxs])

    def _code(x, i):
        mn = F.element_at(mn_arr, i + 1)
        mx = F.element_at(mx_arr, i + 1)
        c = F.when(
            mx > mn,
            F.round((x.cast("double") - mn) * F.lit(255) / (mx - mn)).cast("int"),
        ).otherwise(F.lit(0))
        return (c - 128).cast("byte")

    return embeddings.select(
        F.col(id_col), F.transform(F.col(vec_col), _code).alias("codes")
    )


def _sq8_dequant_expr(codes_col, mn_arr, mx_arr):
    """codes → reconstruction: xq_i = mn_i + c_i * ((mx_i - mn_i) / 255.0),
    with the byte shift undone. The expression SHAPE is shared with the
    SQL oracle so the doubles match bit-for-bit."""

    def _deq(c, i):
        mn = F.element_at(mn_arr, i + 1)
        mx = F.element_at(mx_arr, i + 1)
        return mn + (c.cast("int") + 128) * ((mx - mn) / F.lit(255.0))

    return F.transform(codes_col, _deq)


def sq8_topk(
    embeddings: DataFrame,
    k: int = 5,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_max_id: int = 10,
    rerank: int | None = None,
    scale: int = 10**9,
) -> DataFrame:
    """SQ8 ANN with asymmetric scoring: candidates are ranked by the
    cosine between the EXACT query vector and each candidate's
    dequantized reconstruction — the scalar-quantization sibling of
    ``pq_topk`` (coarse trained cells: ``ivf_topk``; binary sketches:
    ``hyperplane_lsh_topk``; this: max-resolution per-coordinate codes).
    The corpus-side scan touches only the 1-byte/dim codes; the grid
    params ride along as 2·dim literal doubles.

    Determinism contract: the per-pair dot and both squared norms are
    per-element scaled-integer sums (``round(x·y · scale)`` folded in
    array order), so the ADC score is partition- and engine-exact and a
    SQL oracle replays the full ranking. With ``rerank=r`` the ADC
    shortlist of r is re-scored with exact cosines fetched for the
    shortlist only (broadcast semi-probe, the ``pq_topk`` two-stage
    layout).

    Output: query_id, neighbor_id, adc_cosine — or exact ``cosine`` when
    reranking.
    """
    mins, maxs = sq8_train(embeddings, dim=dim, vec_col=vec_col)
    mn_arr = F.array(*[F.lit(float(v)) for v in mins])
    mx_arr = F.array(*[F.lit(float(v)) for v in maxs])
    codes = sq8_encode(embeddings, mins, maxs, id_col=id_col, vec_col=vec_col)

    queries = embeddings.filter(F.col(id_col) < query_max_id)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("qv"),
    )
    cand = codes.select(
        F.col(id_col).alias("neighbor_id"),
        _sq8_dequant_expr(F.col("codes"), mn_arr, mx_arr).alias("xq"),
    )

    def _iprod(a, b):
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: F.round(x * y * scale).cast("long")),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        )

    scored = (
        cand.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            _iprod(F.col("qv"), F.col("xq")).alias("dot_i"),
            _iprod(F.col("xq"), F.col("xq")).alias("nd_i"),
            _iprod(F.col("qv"), F.col("qv")).alias("nq_i"),
        )
        .withColumn(
            "adc_cosine",
            F.round(
                (F.col("dot_i") / F.lit(float(scale)))
                / (
                    F.sqrt(F.col("nd_i") / F.lit(float(scale)))
                    * F.sqrt(F.col("nq_i") / F.lit(float(scale)))
                ),
                6,
            ),
        )
        .select("query_id", "neighbor_id", "adc_cosine")
    )

    return _rerank(scored, embeddings, queries, k, rerank, id_col, vec_col)


def mmr_topk(
    embeddings: DataFrame,
    k: int = 5,
    pool: int = 20,
    lam: float = 0.7,
    query_id: int = 0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    scale: int = 10**6,
    max_pool: int = 256,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein, SIGIR 1998 —
    public literature): diversified top-k. Greedily pick the candidate
    maximizing

        score = lam * rel(q, i) - (1 - lam) * max_{j in selected} sim(i, j)

    — the serving-side diversity knob (a dedup-aware retrieval: the
    second-best near-duplicate of an already-selected result scores
    near zero).

    Scale split: the EXPENSIVE work is distributed — relevance over the
    whole corpus (map-only scan against the broadcast query vector) and
    the top-``pool`` cut (TakeOrdered); the greedy loop then runs on the
    pool's (pool + pool²) relevance/similarity cells, which are collected
    ONCE (bounded: ``pool <= max_pool``, default 256 → ≤64k cells — the
    union-find bounded-collect discipline) rather than paying k driver
    round-trip jobs of one row each.

    Determinism: vectors are scaled to exact integer grids, every cosine
    is exact-int dot / exact-int norms rounded to 9dp, and the greedy
    rule tie-breaks on the smallest id — a SQL oracle replays the
    selection decision-for-decision. ``lam`` and ``1-lam`` must be passed
    to the oracle as the SAME python doubles (repr), not re-derived.

    Output: rank int (1-based selection order), neighbor_id, relevance
    double, score double (the MMR objective at selection time).
    """
    if not 1 <= k <= pool:
        raise ValueError(f"mmr_topk: need 1 <= k <= pool, got k={k} pool={pool}")
    if pool > max_pool:
        raise ValueError(
            f"mmr_topk: pool={pool} exceeds max_pool={max_pool} (the bounded-"
            "collect cap; raise max_pool deliberately if you mean it)"
        )
    for c in (id_col, vec_col):
        if c not in embeddings.columns:
            raise ValueError(f"mmr_topk: column {c!r} not in {embeddings.columns}")
    # The greedy tie-break (-id) and the output schema (neighbor_id long)
    # both assume an integral id; a string id would otherwise surface as
    # an opaque float() error deep in the selection loop.
    id_type = dict(embeddings.dtypes)[id_col]
    if id_type not in ("tinyint", "smallint", "int", "bigint"):
        raise ValueError(
            f"mmr_topk: id column {id_col!r} must be an integral type, got "
            f"{id_type} (remap string ids through a stable index first)"
        )
    spark = embeddings.sparkSession
    ivec = F.transform(
        F.col(vec_col), lambda x: F.round(x.cast("double") * scale).cast("long")
    )
    base = embeddings.select(F.col(id_col).alias("id"), ivec.alias("vi"))
    nsq = F.aggregate(
        F.transform(F.col("vi"), lambda x: x * x),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    q_row = base.filter(F.col("id") == query_id).select("vi").first()
    if q_row is None:
        raise ValueError(f"mmr_topk: query id {query_id} not found")
    qv = list(q_row["vi"])
    qn = sum(x * x for x in qv)
    qv_arr = F.array(*[F.lit(int(x)) for x in qv])
    dot_q = F.aggregate(
        F.zip_with(F.col("vi"), qv_arr, lambda a, b: a * b),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    rel = F.round(
        dot_q.cast("double")
        / (F.sqrt(nsq.cast("double")) * F.sqrt(F.lit(float(qn)))),
        9,
    )
    pool_df = (
        base.filter(F.col("id") != query_id)
        .select("id", "vi", rel.alias("rel"))
        .orderBy(F.desc("rel"), F.asc("id"))
        .limit(pool)
        .localCheckpoint(eager=False)
    )
    a = pool_df.select(F.col("id").alias("ia"), F.col("vi").alias("va"))
    b = pool_df.select(F.col("id").alias("ib"), F.col("vi").alias("vb"))
    dot_ab = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    nsq_of = lambda c: F.aggregate(  # noqa: E731
        F.transform(c, lambda x: x * x), F.lit(0).cast("long"), lambda acc, v: acc + v
    )
    sims = (
        a.join(b, F.col("ia") < F.col("ib"))
        .select(
            "ia",
            "ib",
            F.round(
                dot_ab.cast("double")
                / (F.sqrt(nsq_of(F.col("va")).cast("double"))
                   * F.sqrt(nsq_of(F.col("vb")).cast("double"))),
                9,
            ).alias("sim"),
        )
    )
    cand = {r["id"]: r["rel"] for r in pool_df.select("id", "rel").collect()}
    sim = {}
    for r in sims.collect():
        sim[(r["ia"], r["ib"])] = r["sim"]
        sim[(r["ib"], r["ia"])] = r["sim"]
    onem = 1 - lam
    selected: list[tuple[int, int, float, float]] = []
    maxsim = {i: 0.0 for i in cand}
    remaining = set(cand)
    for rank in range(1, k + 1):
        best = max(
            remaining,
            key=lambda i: (lam * cand[i] - onem * maxsim[i], -float(i)),
        )
        selected.append(
            (rank, best, cand[best], lam * cand[best] - onem * maxsim[best])
        )
        remaining.discard(best)
        for i in remaining:
            s = sim.get((i, best), 0.0)
            if s > maxsim[i]:
                maxsim[i] = s
    return spark.createDataFrame(
        selected, "rank int, neighbor_id long, relevance double, score double"
    )


def embedding_centroid_drift(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    seed: int = 23,
    x_scale: int = 10**6,
    p_scale: int = 10**9,
) -> DataFrame:
    """Embedding-space drift monitor: split the corpus into two seeded
    md5 halves (in production: yesterday's batch vs today's), compare
    their mean vectors — centroid cosine, L2 shift, and the single most
    drifted dimension. The embedding twin of ``profile_drift``/PSI: a
    silent encoder change or upstream content shift moves the centroid
    long before any per-column profile notices.

    Exactness: per-dimension means are scaled-integer sums divided once;
    every cross-dimension reduction (dot, norms, shift) is a per-element
    ``round(·, p_scale)`` bigint sum — the suite's engine-exact cosine
    discipline.

    Scale shape: one posexplode + (half, dim) hash agg (2·dim result
    rows), one dim-keyed self-join of those rows, one scalar roll-up.
    The corpus is scanned once, map-side.

    Output (one row): n_a, n_b bigint, centroid_cosine double (6dp),
    l2_shift double (6dp), max_dim_shift double (6dp), max_shift_dim int
    (0-based; smallest index on ties).
    """
    for c in (id_col, vec_col):
        if c not in embeddings.columns:
            raise ValueError(f"embedding_centroid_drift: column {c!r} not in {embeddings.columns}")
    half = (
        F.substring(
            F.md5(F.concat(F.col(id_col).cast("string"), F.lit(f":{seed}"))), 1, 1
        )
        <= F.lit("7")
    ).alias("_a")
    rows = embeddings.select(
        half,
        F.posexplode(
            F.transform(F.col(vec_col), lambda x: x.cast("double"))
        ).alias("_pos", "_x"),
    )
    means = rows.groupBy("_a", "_pos").agg(
        (
            (F.sum(F.round(F.col("_x") * x_scale).cast("long")) / F.lit(float(x_scale)))
            / F.count(F.lit(1))
        ).alias("_m"),
        F.count(F.lit(1)).alias("_n"),
    )
    a = means.filter(F.col("_a")).select(
        F.col("_pos"), F.col("_m").alias("_ma"), F.col("_n").alias("_na")
    )
    b = means.filter(~F.col("_a")).select(
        F.col("_pos"), F.col("_m").alias("_mb"), F.col("_n").alias("_nb")
    )
    j = a.join(b, "_pos")
    iprod = lambda e: F.sum(F.round(e * p_scale).cast("long")) / F.lit(float(p_scale))  # noqa: E731
    shift = F.abs(F.col("_ma") - F.col("_mb"))
    pick = F.min(F.struct((-shift).alias("_neg"), F.col("_pos").alias("_p")))
    stats = j.agg(
        F.min("_na").alias("n_a_rows"),
        F.min("_nb").alias("n_b_rows"),
        iprod(F.col("_ma") * F.col("_mb")).alias("_dot"),
        iprod(F.col("_ma") * F.col("_ma")).alias("_naa"),
        iprod(F.col("_mb") * F.col("_mb")).alias("_nbb"),
        iprod((F.col("_ma") - F.col("_mb")) * (F.col("_ma") - F.col("_mb"))).alias("_ss"),
        F.round(F.max(shift), 6).alias("max_dim_shift"),
        pick.alias("_pk"),
    )
    return stats.select(
        F.col("n_a_rows").cast("long").alias("n_a"),
        F.col("n_b_rows").cast("long").alias("n_b"),
        F.round(
            F.col("_dot") / (F.sqrt(F.col("_naa")) * F.sqrt(F.col("_nbb"))), 6
        ).alias("centroid_cosine"),
        F.round(F.sqrt(F.col("_ss")), 6).alias("l2_shift"),
        "max_dim_shift",
        F.col("_pk._p").cast("int").alias("max_shift_dim"),
    )
