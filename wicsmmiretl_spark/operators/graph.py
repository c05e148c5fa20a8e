"""Distributed graph analytics: alternating large-star / small-star
connected components, and fixed-iteration PageRank with scaled-integer
mass sums.

Why this exists
---------------
``dedup.dup_clusters`` resolves near-duplicate candidate pairs into
clusters. Its distributed fallback used min-label propagation, which
converges in O(component diameter) shuffle rounds — fine for the
near-clique graphs LSH produces, but a corpus with chained duplicates
(A≈B≈C≈…, each adjacent pair a candidate but not the ends) degrades to a
path graph, and a path of 10k docs would need 10k rounds. The
alternating-star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014 — public literature) converges in
O(log n) rounds on ANY graph shape by repeatedly re-rooting every node at
its neighborhood minimum:

* **large-star**: every node points its strictly-larger neighbors at the
  minimum of its neighborhood (including itself).
* **small-star**: every node points its smaller-or-equal neighbors (and
  itself) at that minimum.

Each round is one groupBy-min plus one equi-join — pure Catalyst, no
Python. A fixpoint (both stars produce the edge set they consumed) leaves
exactly the star forest (node → component minimum).

Scale design
------------
* Each iteration shuffles the current edge set twice (groupBy + join) on
  the node id — high-cardinality keys, no skew amplification beyond the
  input graph's own degree skew (a node's neighborhood is one group).
* Lineage is truncated per round with ``localCheckpoint`` so the plan
  doesn't grow with iterations.
* The convergence probe compares (row count, order-independent xxhash64
  checksum) of consecutive edge sets — two scalars per round, no
  ``subtract`` anti-join.
* Rounds are capped (default 50 ≈ log₂ of anything); exhausting the cap
  raises loudly rather than emitting a partially-contracted labeling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from wicsmmiretl_spark.operators.loopconf import (
    loop_partitions,
    loop_scoped,
    set_loop_shuffle_partitions,
)

# Shuffle-serialized bytes per edge/state row (two-three longs/doubles plus
# row overhead) — feeds the bytes-based loop width (loop_partitions).
_EDGE_ROW_BYTES = 32

# Peels per driver fixpoint probe in ``kcore`` (r15, guide §1.2): each probe
# is an eager localCheckpoint barrier, and batching is sound because the
# edge set only shrinks (see kcore docstring). 2 halves the barrier count
# while bounding the re-execution window on task failure to two rounds;
# measured at bench scale the win tracks the barrier count, and deeper
# batches trade fixpoint-detection latency (up to batch-1 wasted no-op
# peels) for no further barrier savings once probes stop dominating.
_KCORE_PEELS_PER_PROBE = 2


def _large_star(edges: DataFrame, parts: int) -> DataFrame:
    """(u,v) edges → for every node, point strictly-larger neighbors at the
    neighborhood minimum. Emits (larger_neighbor, min).

    The neighborhood min rides a partition-only window instead of a
    groupBy+min+join: one full shuffle of the neighbor list by ``u`` rather
    than two (the join would redistribute the same rows by ``u`` anyway,
    so the skew exposure is identical and the volume strictly lower). The
    explicit ``repartition(parts, u)`` IS that shuffle — hash on ``u``
    satisfies the window's clustering requirement, so Catalyst adds no
    second exchange, and the loop's partition count is a property of the
    plan instead of session state. Duplicate emissions are tolerated —
    the small-star at the end of the round deduplicates, so multiplicity
    never compounds across rounds."""
    nbrs = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).repartition(parts, "u")
    m = F.least(F.min("v").over(Window.partitionBy("u")), F.col("u"))
    return (
        nbrs.withColumn("m", m)
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(edges: DataFrame, parts: int) -> DataFrame:
    """Orient every edge larger→smaller, then point each node and all its
    smaller neighbors at the neighborhood minimum. Same explicit
    window-carrying repartition as the large-star; both branches of the
    emit union reuse that one exchange. The closing ``distinct`` keeps its
    own partial-agg exchange (map-side dedup bounds a hub node's duplicate
    emissions before they cross the wire); AQE coalesces its read side, so
    no fixed session-wide partition count is assumed."""
    oriented = (
        edges.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .repartition(parts, "u")
    )
    j = oriented.withColumn("m", F.min("v").over(Window.partitionBy("u")))
    return (
        j.select(F.col("v").alias("u"), F.col("m").alias("v"))
        .union(j.select(F.col("u"), F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


@loop_scoped
def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 50,
) -> DataFrame:
    """Connected components of the undirected graph given as an edge list.

    Output: (id, cluster_id) for every node appearing in ``pairs``, where
    cluster_id is the minimum node id of the component. Deterministic for
    any input partitioning. Converges in O(log n) alternating-star rounds
    regardless of component diameter (path graphs included — the case that
    defeats min-label propagation).

    Partition sizing (r14): the loop runs under ``@loop_scoped`` with
    ``spark.sql.shuffle.partitions`` pinned to the bytes-derived
    ``loop_partitions`` width, so the per-round window shuffles AND the
    small-star's closing ``distinct()`` all plan at the loop width (the
    conf is restored on return). AQE stays ON inside the loop — the
    interleaved A/B (tools/loop_aqe_ab.py) measured the non-adaptive
    variant ~20% slower here despite running fewer stage-jobs; see the
    loopconf module docstring.
    """
    # The initial (count, checksum) fixpoint baseline rides the dedup
    # materialization job itself via an Observation — one job builds the
    # canonical edge set AND delivers the baseline, no separate
    # _checksum action (r14; same pattern as the per-round probe below).
    obs0 = Observation()
    edges0 = (
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .observe(
            obs0,
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        )
        .localCheckpoint(eager=True)
    )
    edges = edges0
    # Every node that appears at all, including isolated self-pair nodes:
    # they must come back out labeled as their own singleton component.
    # Lazy: its only consumer is the final labeling join, so it
    # materializes inside that one job instead of a build-time barrier.
    nodes = (
        pairs.select(F.col(id_a).alias("id"))
        .union(pairs.select(F.col(id_b).alias("id")))
        .distinct()
        .localCheckpoint(eager=False)
    )

    m0 = obs0.get
    prev = (m0["n"], int(m0["h"]))
    # Size the per-round shuffles to the edge BYTES (loop_partitions —
    # guide §2.2 partition sizing), pinned both as the explicit
    # ``repartition`` inside each star and as the loop-scoped
    # ``spark.sql.shuffle.partitions`` so the small-star's closing
    # ``distinct()`` plans at the same width (restored on exit by the
    # @loop_scoped guard).
    session_parts = int(pairs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = loop_partitions(prev[0], _EDGE_ROW_BYTES, session_parts)
    set_loop_shuffle_partitions(pairs.sparkSession, loop_parts)
    # r15 NOTE (measured, do not re-try): batching 2 alternating-star
    # rounds per probe — the kcore r15 win — LOSES here: under AQE every
    # Exchange materializes as its own stage-job regardless of action
    # boundaries, CC's rounds keep all 3 per-round exchanges either way
    # (nothing to elide, unlike kcore's redundant per-round repartition),
    # and batched detection runs up to 2 extra no-op rounds. Probed 3x:
    # 50 -> 53 jobs, build 5.3 -> 6.7 s. Per-round probing stands.
    for _ in range(max_iter):
        # The fixpoint checksum rides the materialization job itself via
        # an Observation (r9): CollectMetrics fires when the eager
        # localCheckpoint's internal action completes, so each round is
        # ONE job instead of two (materialize, then re-aggregate the
        # checkpointed RDD). Same order-independent fingerprint as the
        # baseline observation above.
        obs = Observation()
        edges = (
            _small_star(_large_star(edges, loop_parts), loop_parts)
            .observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.coalesce(
                    F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
                    F.lit(0).cast("decimal(38,0)"),
                ).alias("h"),
            )
            .localCheckpoint(eager=True)
        )
        m = obs.get
        cur = (m["n"], int(m["h"]))
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components: alternating-star did not reach a fixpoint "
            f"within max_iter={max_iter} rounds; raise max_iter (expected "
            "rounds ~ log2 of the largest component size)."
        )

    # Fixpoint edge set is the star forest: (node, component_min) for every
    # non-root node. Roots (and isolated nodes) label themselves.
    labels = edges.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
    out = (
        nodes.join(labels, "id", "left")
        .select("id", F.coalesce("cluster_id", "id").alias("cluster_id"))
        .localCheckpoint(eager=True)
    )
    # Checksum equality proves the composite map repeated itself, not that
    # the result is a star forest. Certify the labeling directly: every
    # ORIGINAL edge's endpoints must share a cluster_id (one bounded probe
    # job — the cost of one extra round, run once).
    bad = (
        edges0.join(out.withColumnRenamed("id", "u"), "u")
        .withColumnRenamed("cluster_id", "ca")
        .join(out.withColumnRenamed("id", "v"), "v")
        .filter(F.col("ca") != F.col("cluster_id"))
        .limit(1)
        .count()
    )
    if bad:
        raise RuntimeError(
            "connected_components: fixpoint labeling is inconsistent with the "
            "input edges (an edge spans two clusters) — raise max_iter."
        )
    return out


@loop_scoped
def pagerank(
    edges: DataFrame,
    iters: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = 10**12,
) -> DataFrame:
    """PageRank over a directed edge list (Brin/Page — public literature),
    fixed-iteration power method with dangling-mass redistribution:

        pr'(v) = (1-d)/N + d * ( Σ_{u→v} pr(u)/outdeg(u) + dangling/N )

    Determinism contract: the per-node inbound sum and the dangling mass
    are scaled-integer sums (``round(x * scale)`` bigints) — double
    addition order across in-neighbors/partitions can't change the result,
    so a SQL oracle replays every iteration bit-for-bit.

    Scale shape per iteration: one partial-aggregated groupBy on dst (the
    contribution sum), one broadcast of a single-row (N, dangling) struct,
    one left join back to the node list; lineage truncated per iteration.
    Nothing is collected to the driver. Degree skew (a celebrity node's
    in-box) is a partial-agg sum, not a window — map-side combine bounds
    the reducer.

    Partition sizing (r14): the loop runs under ``@loop_scoped`` with
    ``spark.sql.shuffle.partitions`` pinned to the bytes-derived
    ``loop_partitions`` width for the loop's lifetime, so the per-round
    contribution ``groupBy("dst")`` plans at the same width as the
    explicit hash partitionings (the conf is restored on return). AQE
    stays ON inside the loop — measured parity-or-better vs the
    non-adaptive variant (loopconf module docstring).

    Output: (id, rank double) for every node appearing in ``edges``.
    """
    # Edge count rides the dedup materialization via an Observation (one
    # build job, not two); the loop width is bytes-derived
    # (loop_partitions, guide §2.2) and pinned as the loop-scoped
    # shuffle width (restored by @loop_scoped on return), so the
    # contribution groupBy's partial-agg exchange matches the explicit
    # hash partitionings instead of planning session-wide.
    obs = Observation()
    e0 = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_edges = obs.get["n"]
    session_parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = loop_partitions(n_edges, _EDGE_ROW_BYTES, session_parts)
    set_loop_shuffle_partitions(edges.sparkSession, loop_parts)
    e = e0.repartition(loop_parts, "src").localCheckpoint(eager=False)
    # The node list carries each node's STATIC out-degree, attached once
    # here and carried through every iteration's state (r14): the loop no
    # longer re-joins a degree table per round — one checkpoint per
    # iteration instead of two, one fewer join per round plan.
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .join(deg, F.col("id") == deg["src"], "left")
        .select("id", "outdeg")
        .repartition(loop_parts, "id")
        .localCheckpoint(eager=False)
    )
    n_total = nodes.agg(F.count("*").alias("n"))

    pr = nodes.join(F.broadcast(n_total)).select(
        "id", "outdeg", (F.lit(1.0) / F.col("n").cast("double")).alias("rank")
    )
    return _pagerank_loop(pr, e, nodes, n_total, damping, iters, scale, loop_parts)


def _pagerank_loop(pr, e, nodes, n_total, d, iters, scale, loop_parts):
    # All checkpoints in the loop are LAZY (r9): pagerank has no
    # per-iteration driver action (unlike connected_components' fixpoint
    # checksum), so eager per-iteration materialization would only add
    # iters scheduling barriers. Lazy localCheckpoint still truncates the
    # logical plan immediately (planning stays O(1) per iteration) and
    # still computes each iteration's RDD exactly once — pr is
    # checkpointed because BOTH the contribution join and the dangling
    # aggregation consume it, and it carries the static outdeg so no
    # per-round degree join exists (r14).
    for _ in range(iters):
        contrib = (
            e.join(
                pr.filter(F.col("outdeg").isNotNull()).select(
                    F.col("id").alias("src"), "rank", "outdeg"
                ),
                "src",
            )
            .groupBy("dst")
            .agg(
                (
                    F.sum(
                        F.round((F.col("rank") / F.col("outdeg")) * scale).cast("long")
                    ).cast("double")
                    / F.lit(float(scale))
                ).alias("inb")
            )
        )
        dangling = pr.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(
                F.sum(F.round(F.col("rank") * scale).cast("long")), F.lit(0)
            ).alias("dang_i")
        )
        pr = (
            nodes.join(contrib, nodes["id"] == contrib["dst"], "left")
            .join(F.broadcast(n_total))
            .join(F.broadcast(dangling))
            .select(
                nodes["id"],
                nodes["outdeg"],
                (
                    F.lit(1.0 - d) / F.col("n").cast("double")
                    + F.lit(d)
                    * (
                        F.coalesce(F.col("inb"), F.lit(0.0))
                        + (F.col("dang_i").cast("double") / F.lit(float(scale)))
                        / F.col("n").cast("double")
                    )
                ).alias("rank"),
            )
            .repartition(loop_parts, "id")
            .localCheckpoint(eager=False)
        )
    return pr.select("id", "rank")


def triangle_stats(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle census of an undirected graph: vertex/edge/wedge/
    triangle counts plus the global clustering coefficient.

    Algorithm: compact-forward with degree ordering (Latapy 2008 / the
    standard MapReduce triangle join — public literature). Edges are
    canonicalized (undirected, deduped, self-loops dropped) and oriented
    from the (degree, id)-smaller endpoint to the larger; every wedge
    (a→b1, a→b2) with rank(b1) < rank(b2) is generated once at its
    lowest-rank vertex and closed by probing the oriented edge (b1, b2).
    Each triangle is counted exactly once.

    Why this survives 100 TB: degree orientation bounds every out-degree
    by ~sqrt(2m) regardless of the input degree distribution, so the hub
    vertex that would generate deg² wedges (the quadratic blow-up that
    kills naive triangle joins) generates at most 2m — wedge volume is
    O(m^1.5) worst case, the best known for join-based counting. All
    steps are equi-joins and partial aggs; nothing collects.

    Output: ONE row — n_vertices, n_edges, n_wedges (unoriented ΣC(d,2)),
    n_triangles (all bigint), clustering double (6dp, 3T/wedges; NULL for
    a wedgeless graph).
    """
    for c in (src, dst):
        if c not in edges.columns:
            raise ValueError(f"triangle_stats: column {c!r} not in {edges.columns}")
    u, v = F.col(src), F.col(dst)
    e0 = (
        edges.filter(u.isNotNull() & v.isNotNull() & (u != v))
        .select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # e0 feeds deg AND the orientation join — deg materializes first (its
    # own lazy checkpoint), and without a pin the orientation join would
    # RECOMPUTE the whole upstream canonicalization cascade (for the
    # co-purchase queries, a lineitem⋈orders self-join) in its own job
    # (r15; exchange reuse does not cross job boundaries).
    # deg feeds both the orientation joins and the totals row; oriented
    # feeds both wedge sides and the closing probe. Pin each once so the
    # canonicalize+join cascade doesn't run 3x (lazy checkpoint: costs
    # nothing until the single action that consumes all branches).
    deg = (
        e0.select(F.explode(F.array("u", "v")).alias("x"))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
        .localCheckpoint(eager=False)
    )
    ranked = (
        e0.join(deg.withColumnsRenamed({"x": "u", "d": "du"}), "u")
        .join(deg.withColumnsRenamed({"x": "v", "d": "dv"}), "v")
    )
    ru = F.struct(F.col("du").alias("d"), F.col("u").alias("x"))
    rv = F.struct(F.col("dv").alias("d"), F.col("v").alias("x"))
    oriented = ranked.select(
        F.when(ru < rv, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(ru < rv, rv).otherwise(ru).alias("rb"),
    ).select("a", F.col("rb.x").alias("b"), "rb").localCheckpoint(eager=False)
    w1 = oriented.select("a", F.col("b").alias("b1"), F.col("rb").alias("r1"))
    w2 = oriented.select("a", F.col("b").alias("b2"), F.col("rb").alias("r2"))
    wedges = w1.join(w2, "a").filter(F.col("r1") < F.col("r2"))
    closing = oriented.select(F.col("a").alias("b1"), F.col("b").alias("b2"))
    tri = wedges.join(closing, ["b1", "b2"]).agg(F.count("*").alias("n_triangles"))
    totals = deg.agg(
        F.count("*").alias("n_vertices"),
        F.coalesce((F.sum("d") / 2).cast("long"), F.lit(0)).alias("n_edges"),
        F.coalesce(
            F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long"), F.lit(0)
        ).alias("n_wedges"),
    )
    return (
        tri.crossJoin(F.broadcast(totals))
        .select(
            "n_vertices",
            "n_edges",
            "n_wedges",
            "n_triangles",
            F.when(
                F.col("n_wedges") > 0,
                F.round(3.0 * F.col("n_triangles") / F.col("n_wedges"), 6),
            ).alias("clustering"),
        )
    )


@loop_scoped
def bfs_levels(
    edges: DataFrame,
    sources: DataFrame,
    max_depth: int = 10,
    src_col: str = "src",
    dst_col: str = "dst",
    id_col: str = "id",
) -> DataFrame:
    """Multi-source breadth-first search: hop distance from the nearest
    source for every node reachable within ``max_depth`` hops, over a
    directed edge list (symmetrize upstream for undirected semantics).

    The per-round pattern the reference's imperative graph walks reduce
    to, expressed as frontier joins: each round equi-joins the current
    frontier into the edge list, anti-joins out already-visited nodes,
    and appends the survivors at level d. First-touch level IS the
    minimum level because expansion is strictly level-ordered — no
    re-relaxation, no priority queue.

    Scale shape: the edge list is hash-partitioned on ``src`` ONCE at an
    edge-count-sized width (same plan-local sizing as pagerank — no
    session-conf mutation) and every round's frontier join re-uses that
    partitioning; the frontier and visited sets are repartitioned on the
    node id at the same width, so the anti-join co-locates. Lineage is
    truncated per round (``localCheckpoint``) and the loop exits early on
    an empty frontier — two scalars per round cross the driver (the
    frontier count), nothing else collects. Rounds are data-independent
    sequential barriers, so ``max_depth`` bounds wall-clock explicitly;
    unreached nodes are simply absent (a caller wanting them labels the
    complement with a left anti join).

    Output: (``id_col`` node id, level int) — one row per node reached,
    level in [0, max_depth]; level 0 rows are exactly the distinct
    source ids.
    """
    if max_depth < 0:
        raise ValueError(f"bfs_levels: max_depth must be >= 0, got {max_depth}")
    obs0 = Observation()
    e0 = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_edges = obs0.get["n"]
    session_parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = loop_partitions(n_edges, _EDGE_ROW_BYTES, session_parts)
    set_loop_shuffle_partitions(edges.sparkSession, loop_parts)
    e = e0.repartition(loop_parts, "src").localCheckpoint(eager=False)

    visited = (
        sources.select(F.col(id_col).alias("id"))
        .filter(F.col("id").isNotNull())
        .distinct()
        .withColumn("level", F.lit(0))
        .repartition(loop_parts, "id")
        .localCheckpoint(eager=True)
    )
    frontier = visited
    # r15 NOTE (measured, do not re-try): expanding levels in PAIRS per
    # probe — the kcore r15 batching — cut jobs 39 -> 36 here but timed
    # FLAT-to-worse in an interleaved A/B (min 3.18 vs 2.99 s): like CC,
    # no exchange is elided (every level keeps its distinct + anti-join +
    # repartition stages under AQE), so only the final-stage job per odd
    # level disappears while the lazily-pinned odd frontier is consumed
    # three times inside the even level's job. Per-level probing stands.
    for depth in range(1, max_depth + 1):
        nxt = (
            frontier.join(e, frontier["id"] == e["src"])
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(visited, "id", "left_anti")
            .withColumn("level", F.lit(depth))
            .repartition(loop_parts, "id")
        )
        # Frontier count rides the materialization job via an Observation
        # (r9) — the empty-frontier exit needs no separate isEmpty job.
        obs = Observation()
        nxt = nxt.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(eager=True)
        if obs.get["n"] == 0:
            break
        # No re-checkpoint of the visited union: every leaf is already a
        # checkpointed frontier, so the union's lineage is a flat d-way
        # tree of RDD scans — re-materializing the accumulated set every
        # round would turn O(V) total union work into O(V·depth).
        visited = visited.unionByName(nxt)
        frontier = nxt
    return visited.select(F.col("id").alias(id_col), F.col("level").cast("int"))


@loop_scoped
def shortest_paths(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "w",
    id_col: str = "id",
) -> DataFrame:
    """Multi-source weighted shortest paths over a directed edge list,
    bounded at ``max_hops`` relaxation rounds (Bellman-Ford; public
    literature) — the weighted completion of the graph family
    (connected components, PageRank, triangles, BFS): minimum
    cumulative weight from the nearest source to every node reachable
    within the hop budget.

    Round shape = one equi-join (current distances × edges, shuffled on
    the source endpoint) + one groupBy-min per round — the standard
    distributed relaxation; after h rounds every ≤h-hop shortest path is
    final, so ``max_hops`` is both the correctness horizon and an
    explicit wall-clock bound (negative cycles can't loop forever).
    Like pagerank — and unlike the CC fixpoint loop — there is no
    per-round driver action, so every checkpoint is LAZY: plan
    truncation per round, one job cascade at the consuming action.

    Determinism: weights must be integers (bigint sums — the suite's
    exact-sum contract; pre-scale fractional weights upstream) and
    non-negative for the min to be a true distance. The edge list is
    hash-pinned on ``src`` once at an edge-count-sized width; distance
    frames repartition on the node id at the same width, so per-round
    joins add no extra exchange for the pinned side.

    Output: (``id_col``, dist bigint) — one row per node reached
    (sources at dist 0).
    """
    if max_hops < 0:
        raise ValueError(f"shortest_paths: max_hops must be >= 0, got {max_hops}")
    e0 = (
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        )
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull() & F.col("w").isNotNull())
        .observe(_obs0 := Observation(), F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_edges = _obs0.get["n"]
    session_parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = loop_partitions(n_edges, _EDGE_ROW_BYTES, session_parts)
    set_loop_shuffle_partitions(edges.sparkSession, loop_parts)
    e = e0.repartition(loop_parts, "src").localCheckpoint(eager=False)

    dist = (
        sources.select(F.col(id_col).alias("id"))
        .filter(F.col("id").isNotNull())
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .repartition(loop_parts, "id")
        .localCheckpoint(eager=False)
    )
    for _ in range(max_hops):
        relaxed = (
            dist.join(e, dist["id"] == e["src"])
            .select(F.col("dst").alias("id"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
            .repartition(loop_parts, "id")
            .localCheckpoint(eager=False)
        )
    return dist.select(F.col("id").alias(id_col), "dist")


def label_propagation(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    rounds: int = 3,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan,
    Albert & Kumara 2007, public literature): every node starts as its
    own community, then for a fixed number of rounds simultaneously
    adopts the MODE of its neighbors' labels (ties to the smallest
    label). Where connected components finds the coarsest partition,
    LPA finds dense cores inside a component — the product-family /
    user-cohort discovery pass over a co-occurrence graph.

    Determinism: the fixed round count, the simple-graph dedup, and the
    (count desc, label asc) tiebreak make the trajectory a pure function
    of the edge set — synchronous LPA's usual run-to-run flakiness
    (random order, random ties) is exactly what's removed, so an oracle
    can replay every round.

    100 TB shape: per round ONE neighbor equi-join (labels keyed by
    node) + one (node, label) hash agg + one per-node argmax riding the
    same partitioning — O(rounds · |E|) total, with ``localCheckpoint``
    truncating lineage each round (the connected-components loop
    discipline). Nodes appear only via edges, so every node has ≥1
    neighbor and every round relabels every node.

    Output: node (endpoint type), label — label is the community
    representative after ``rounds`` rounds.
    """
    if rounds < 1:
        raise ValueError(f"label_propagation: rounds must be >= 1, got {rounds}")
    for c in (a_col, b_col):
        if c not in edges.columns:
            raise ValueError(f"label_propagation: column {c!r} not in {edges.columns}")
    base = edges.filter(
        F.col(a_col).isNotNull()
        & F.col(b_col).isNotNull()
        & (F.col(a_col) != F.col(b_col))
    )
    # NOT @loop_scoped: the rounds were measured ~40% slower with AQE
    # scoped off (each round joins ``und`` against the round's label
    # frame, whose size AQE discovers at runtime and converts to a
    # broadcast join; a checkpointed frame has no stats, so the static
    # plan is sort-merge) — the first data point behind keeping AQE on
    # in every loop (loopconf module docstring).
    #
    # r15 examination (measured, do not re-try): two restructures lost
    # their A/Bs and were reverted. (1) Pre-partitioning ``und`` by u so
    # the per-round groupBys elide exchanges: neutral (23 -> 23 jobs) —
    # the checkpointed frames carry no stats, the static round plan is
    # SMJ on v, and AQE's late broadcast conversion happens after the
    # exchange already ran, so HashPartitioning(u) never survives to the
    # aggregates. (2) Dropping the checkpoints entirely so static stats
    # flow from the source: 23 -> 17 jobs but the static plan duplicates
    # the whole ``und`` pipeline once per consumer (331 operators / 84
    # Exchanges at rounds=3, growing with rounds) and timed flat
    # (~4.0-4.3 s vs 3.96 s quiet) while relying on runtime stage dedup.
    # The per-round checkpointed two-exchange shape stands.
    und = (
        base.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
        .unionByName(base.select(F.col(b_col).alias("u"), F.col(a_col).alias("v")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = und.select(F.col("u").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(rounds):
        counts = (
            und.join(labels.withColumnRenamed("node", "v"), "v")
            .groupBy(F.col("u").alias("node"), "label")
            .agg(F.count("*").alias("_c"))
        )
        pick = F.struct((-F.col("_c")).alias("_negc"), F.col("label").alias("label"))
        labels = (
            counts.groupBy("node")
            .agg(F.min(pick).alias("_s"))
            .select("node", F.col("_s.label").alias("label"))
            .localCheckpoint(eager=False)
        )
    return labels


def butterfly_stats(edges: DataFrame, left: str = "l", right: str = "r") -> DataFrame:
    """Bipartite butterfly (2x2-biclique / 4-cycle) census of a two-mode
    graph: side cardinalities, edge count, per-side wedge volumes, and the
    exact butterfly count.

    The butterfly is the bipartite analogue of the triangle — the smallest
    cohesion motif a two-mode graph can have (customer x part co-purchase,
    doc x shingle containment) — and the base quantity of bipartite
    clustering coefficients (Sanei-Mehri et al., "Butterfly Counting in
    Bipartite Networks", KDD 2018 — public literature). Counted exactly by
    the wedge-pivot identity: generate same-side wedges (two vertices of
    one side through a common neighbour on the other), group them by their
    endpoint PAIR, and sum C(common_neighbours, 2) over the pairs.

    Scale design: wedge volume is sum C(d, 2) over the CENTRE side, so the
    operator pivots on the side whose volume is smaller — the KDD-2018
    cost lever; both per-side volumes come from one degree aggregate and
    cross the driver as two scalars (the same plan-build pattern as the
    Bloom auto-sizing count). The butterfly count is pivot-invariant, so
    the choice never changes results. Everything downstream is equi-joins
    and partial aggs on the (endpoint, endpoint) pair key; nothing beyond
    the six output scalars is ever collected. If one side is hub-dominated
    on BOTH pivots, the documented refinement is vertex-priority wedge
    orientation (Wang et al., VLDB 2019), the bipartite twin of
    ``triangle_stats``' degree ordering.

    Output: ONE row — n_left, n_right, n_edges, n_wedges_left,
    n_wedges_right, n_butterflies (all bigint). ``n_wedges_left`` counts
    wedges CENTRED on a left vertex (i.e. pairing two right vertices).
    """
    for c in (left, right):
        if c not in edges.columns:
            raise ValueError(f"butterfly_stats: column {c!r} not in {edges.columns}")
    e0 = (
        edges.filter(F.col(left).isNotNull() & F.col(right).isNotNull())
        .select(left, right)
        .distinct()
        .localCheckpoint(eager=False)
    )
    wedge_sum = F.coalesce(
        F.sum(F.col("d") * (F.col("d") - 1) / 2).cast("long"), F.lit(0)
    )
    deg_l = e0.groupBy(left).agg(F.count("*").alias("d"))
    deg_r = e0.groupBy(right).agg(F.count("*").alias("d"))
    stats = (
        deg_l.agg(
            F.count("*").alias("n_left"), wedge_sum.alias("n_wedges_left")
        )
        .crossJoin(
            F.broadcast(
                deg_r.agg(
                    F.count("*").alias("n_right"),
                    wedge_sum.alias("n_wedges_right"),
                )
            )
        )
        .crossJoin(F.broadcast(e0.agg(F.count("*").alias("n_edges"))))
        .first()
    )
    centre, wing = (
        (left, right)
        if stats["n_wedges_left"] <= stats["n_wedges_right"]
        else (right, left)
    )
    w1 = e0.select(F.col(centre).alias("c"), F.col(wing).alias("x1"))
    w2 = e0.select(F.col(centre).alias("c"), F.col(wing).alias("x2"))
    pairs = (
        w1.join(w2, "c")
        .filter(F.col("x1") < F.col("x2"))
        .groupBy("x1", "x2")
        .agg(F.count("*").alias("w"))
    )
    bf = pairs.agg(
        F.coalesce(
            F.sum(F.col("w") * (F.col("w") - 1) / 2).cast("long"), F.lit(0)
        ).alias("n_butterflies")
    )
    return bf.select(
        F.lit(stats["n_left"]).cast("long").alias("n_left"),
        F.lit(stats["n_right"]).cast("long").alias("n_right"),
        F.lit(stats["n_edges"]).cast("long").alias("n_edges"),
        F.lit(stats["n_wedges_left"]).cast("long").alias("n_wedges_left"),
        F.lit(stats["n_wedges_right"]).cast("long").alias("n_wedges_right"),
        "n_butterflies",
    )


def degree_profile(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """One-row degree-structure fingerprint of an undirected graph:
    vertex/edge counts, degree extremes and mean, and the exact degree
    assortativity (Newman 2002, "Assortative mixing in networks" — public
    literature): the Pearson correlation of the degrees at either end of
    every edge stub. Positive = hubs attach to hubs (social shape),
    negative = hub-and-spoke (star/dependency shape) — the single scalar
    that says which join-skew regime a graph's downstream algorithms
    (CC, PageRank, triangles, butterflies) will face.

    Exactness contract: degrees are integers, so all five correlation
    moments are exact decimal(38) sums over the stub list (each
    undirected edge contributes both orientations); doubles appear only
    in the final closed form, computed in one deterministic expression
    shape shared with the SQL oracle. NULL assortativity for degenerate
    graphs (regular graphs have zero degree variance).

    Scale: canonicalize + two degree joins + one partial agg — the same
    equi-join/agg budget as one ``triangle_stats`` orientation pass, no
    iteration, nothing collected beyond the output row.
    """
    for c in (src, dst):
        if c not in edges.columns:
            raise ValueError(f"degree_profile: column {c!r} not in {edges.columns}")
    u, v = F.col(src), F.col(dst)
    e0 = (
        edges.filter(u.isNotNull() & v.isNotNull() & (u != v))
        .select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    stubs = e0.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        e0.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    deg = stubs.groupBy(F.col("a").alias("x")).agg(
        F.count("*").alias("d")
    ).localCheckpoint(eager=False)
    j = (
        stubs.join(deg.withColumnsRenamed({"x": "a", "d": "dx"}), "a")
        .join(deg.withColumnsRenamed({"x": "b", "d": "dy"}), "b")
    )
    dec = "decimal(38,0)"
    m = j.agg(
        F.count("*").cast(dec).alias("n"),
        F.sum(F.col("dx").cast(dec)).alias("sx"),
        F.sum(F.col("dy").cast(dec)).alias("sy"),
        F.sum((F.col("dx") * F.col("dx")).cast(dec)).alias("sxx"),
        F.sum((F.col("dy") * F.col("dy")).cast(dec)).alias("syy"),
        F.sum((F.col("dx") * F.col("dy")).cast(dec)).alias("sxy"),
    )
    totals = deg.agg(
        F.count("*").alias("n_vertices"),
        F.min("d").alias("min_degree"),
        F.max("d").alias("max_degree"),
        F.coalesce((F.sum("d") / 2).cast("long"), F.lit(0)).alias("n_edges"),
        F.round(F.avg(F.col("d").cast("double")), 6).alias("avg_degree"),
    )
    p1 = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    p2 = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    denom = F.sqrt(p1 * p2)
    return (
        m.crossJoin(F.broadcast(totals))
        .select(
            "n_vertices",
            "n_edges",
            "min_degree",
            "max_degree",
            "avg_degree",
            F.when(denom > 0, F.round(num / denom, 6)).alias("assortativity"),
        )
    )


@loop_scoped
def hits(
    edges: DataFrame,
    iters: int = 3,
    src_col: str = "src",
    dst_col: str = "dst",
    scale: int = 10**9,
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999, "Authoritative sources
    in a hyperlinked environment" — public literature) over a directed
    edge list, fixed-iteration power method with L1 normalization:

        auth'(v) = Σ_{u→v} hub(u) / ‖·‖₁      hub'(u) = Σ_{u→v} auth'(v) / ‖·‖₁

    The bipartite twin of ``pagerank``: on a customer→part purchase graph
    the authority side ranks parts by the quality of the customers buying
    them and the hub side ranks customers by the quality of their basket —
    mutually reinforcing, unlike raw degree.

    Determinism contract (same discipline as ``pagerank``): every
    per-node inbound/outbound sum is a scaled-integer sum
    (``round(x * scale)`` bigints), and the L1 norm is the exact integer
    sum of those per-node integers (decimal(38,0), so it can't hit the
    ANSI long-overflow guard). Scores are produced by ONE double division
    of two exact integers — at sf0.01 both fit in 2^53, so a SQL oracle
    replays every iteration bit-for-bit. L1 (not the textbook L2) keeps
    normalization inside integer space; the ranking is identical because
    normalization is a positive scalar per side.

    Scale shape per iteration (r14): two partial-aggregated groupBys (one
    per side), each materialized eagerly ONCE with its L1 norm riding the
    same job as an ``Observation`` — no per-side norm broadcast job, no
    in-loop join back to the full node list. The node-list join is
    deferred to the final output: a node absent from a side's groupBy
    output has an exactly-0 score and contributes exactly 0 to every
    downstream scaled-int sum, so the inner contribution joins are
    bit-equal to the padded form (r13 shape: 72 jobs; this shape: ~31).
    Degree skew (a hub customer's basket, a hot part's buyers) is bounded
    by map-side combine. Nothing is collected; the norm crosses the
    driver as one exact decimal scalar per half-iteration.

    Output: (id, hub double, auth double) for every node in ``edges``.
    Source-only nodes carry auth 0; sink-only nodes carry hub 0.
    """
    if iters < 1:
        raise ValueError(f"hits: iters must be >= 1, got {iters}")
    for c in (src_col, dst_col):
        if c not in edges.columns:
            raise ValueError(f"hits: column {c!r} not in {edges.columns}")
    obs0 = Observation()
    e0 = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    session_parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    n_edges = obs0.get["n"]
    if n_edges == 0:
        raise ValueError("hits: empty edge set")
    loop_parts = loop_partitions(n_edges, _EDGE_ROW_BYTES, session_parts)
    set_loop_shuffle_partitions(edges.sparkSession, loop_parts)
    e = e0.repartition(loop_parts, "src").localCheckpoint(eager=False)
    dec = "decimal(38,0)"

    def _scores(raw: DataFrame, key: str, raw_col: str, norm, out_col: str) -> DataFrame:
        # ONE double division of two exact integers (the determinism
        # contract above). ``norm`` arrives as the Observation's exact
        # decimal; float() and Spark's decimal→double cast are both
        # correctly-rounded, so the literal is bit-equal to the r13
        # broadcast-join form.
        if norm is not None and norm > 0:
            score = F.col(raw_col).cast("double") / F.lit(float(norm))
        else:
            score = F.lit(0.0)
        return raw.select(F.col(key).alias("id"), score.alias(out_col))

    hub = None  # None = uniform initial hub 1.0 on every edge source
    auth = None
    for _ in range(iters):
        if hub is None:
            contrib = e.select("dst", F.lit(1.0).alias("hub"))
        else:
            contrib = e.join(hub.withColumnRenamed("id", "src"), "src").select(
                "dst", "hub"
            )
        obs_a = Observation()
        a_raw = (
            contrib.groupBy("dst")
            .agg(F.sum(F.round(F.col("hub") * scale).cast("long")).alias("ar"))
            .observe(
                obs_a,
                F.coalesce(F.sum(F.col("ar").cast(dec)), F.lit(0).cast(dec)).alias("na"),
            )
            .localCheckpoint(eager=True)
        )
        auth = _scores(a_raw, "dst", "ar", obs_a.get["na"], "auth")
        obs_h = Observation()
        h_raw = (
            e.join(auth.withColumnRenamed("id", "dst"), "dst")
            .groupBy("src")
            .agg(F.sum(F.round(F.col("auth") * scale).cast("long")).alias("hr"))
            .observe(
                obs_h,
                F.coalesce(F.sum(F.col("hr").cast(dec)), F.lit(0).cast(dec)).alias("nh"),
            )
            .localCheckpoint(eager=True)
        )
        hub = _scores(h_raw, "src", "hr", obs_h.get["nh"], "hub")
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
    )
    return (
        nodes.join(hub, "id", "left")
        .join(auth, "id", "left")
        .select(
            "id",
            F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
            F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth"),
        )
    )


def kcore(
    edges: DataFrame,
    k: int,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_rounds: int = 30,
) -> DataFrame:
    """k-core of an undirected graph: the maximal subgraph in which every
    vertex has degree ≥ k (Seidman 1983, "Network structure and minimum
    degree" — public literature), by synchronous distributed peeling
    (the Montresor/De Pellegrini/Miorandi MapReduce formulation): each
    round drops every vertex whose CURRENT degree is < k together with
    its incident edges, until the edge set stops changing.

    Where ``label_propagation`` finds dense cores by neighbor voting and
    ``triangle_stats`` measures closure, the k-core is the standard
    *cohesion floor*: the k-core of a co-purchase graph is the product
    family that keeps recommending itself, and of a near-dup candidate
    graph the cluster that survives any k-1 false-positive edges.

    Determinism: peeling is a monotone set operation — the surviving
    edge set is a pure function of (edges, k), independent of round
    batching or partitioning, so a SQL oracle can replay it with the
    round count unrolled (extra unrolled rounds past the fixpoint are
    no-ops by monotonicity; the two engines need not converge in the
    same round).

    Scale shape per round: one stub-side degree agg (partial-agged hash
    groupBy) + two left-semi joins back onto the edge set; the fixpoint
    probe is a row count riding the materialization job itself via
    ``Observation`` (the connected-components r9 pattern — one job per
    probe, no second action). Rounds are bounded by ``max_rounds`` and
    raise loudly on exhaustion; the edge set only ever shrinks, so
    per-round cost is non-increasing. Nothing is collected.

    r15 loop shape (guide §1.2 step 1, §2.4): peels run in BATCHES of
    ``_KCORE_PEELS_PER_PROBE`` per driver probe — the per-round eager
    checkpoint was the loop's dominant cost at any scale where rounds
    are barrier-bound, and batching is sound because peeling is
    monotone: e' ⊆ e every peel, so an unchanged count across a batch
    means the batch's FIRST peel already removed nothing (subset + equal
    count = equal sets) — the detected fixpoint is exactly the
    single-round fixpoint, and any extra peels past it are no-ops. The
    r14 per-round ``repartition(loop_parts, u)`` is also gone: the peel
    output inherits its input's partitioning (AQE-converted broadcast
    semi-joins don't move the probe side; an SMJ fallback at scale
    re-partitions adaptively), so re-shuffling the same rows to the same
    width every round was a pure extra exchange — one lazy width-pinning
    repartition at loop entry replaces them all.

    Output: (id, deg bigint) for every vertex of the k-core, ``deg`` the
    within-core degree (≥ k by construction). Empty output = no k-core.
    """
    if k < 1:
        raise ValueError(f"kcore: k must be >= 1, got {k}")
    for c in (a_col, b_col):
        if c not in edges.columns:
            raise ValueError(f"kcore: column {c!r} not in {edges.columns}")
    u, v = F.col(a_col), F.col(b_col)
    obs0 = Observation()
    e0 = (
        edges.filter(u.isNotNull() & v.isNotNull() & (u != v))
        .select(F.least(u, v).alias("u"), F.greatest(u, v).alias("v"))
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    # NOT @loop_scoped: measured ~55% slower with AQE scoped off — the
    # per-round semi-joins against the surviving-vertex list depend on
    # AQE's runtime broadcast conversion (the keep list shrinks every
    # round; statically planned they fall back to sort-merge). The
    # initial count still rides the canonicalization job's Observation.
    session_parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    prev_n = obs0.get["n"]
    loop_parts = loop_partitions(prev_n, _EDGE_ROW_BYTES, session_parts)
    # Lazy: materializes inside the first batch's probe job; every later
    # batch inherits the width through the semi-joins.
    e = e0.repartition(loop_parts, "u").localCheckpoint(eager=False)

    def peel(es: DataFrame) -> DataFrame:
        deg = (
            es.select(F.explode(F.array("u", "v")).alias("x"))
            .groupBy("x")
            .agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("x")
        return (
            es.join(keep.withColumnRenamed("x", "u"), "u", "semi")
            .join(keep.withColumnRenamed("x", "v"), "v", "semi")
            .select("u", "v")
        )

    peels_done = 0
    while prev_n > 0:
        if peels_done >= max_rounds:
            # The budget ran out on a batch that changed the edge set, but
            # that batch may have landed exactly on the fixpoint: one
            # confirming peel tells a converged run from an exhausted one.
            if peel(e).count() == prev_n:
                break
            raise RuntimeError(
                f"kcore: peeling did not reach a fixpoint within max_rounds="
                f"{max_rounds}; raise max_rounds (each round deletes at least "
                "one vertex, so rounds are bounded by the peel depth)."
            )
        batch = min(_KCORE_PEELS_PER_PROBE, max_rounds - peels_done)
        nxt = e
        for _ in range(batch):
            nxt = peel(nxt)
        obs = Observation()
        e = nxt.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
            eager=True
        )
        peels_done += batch
        cur_n = obs.get["n"]
        if cur_n == prev_n:
            break
        prev_n = cur_n
    return (
        e.select(F.explode(F.array("u", "v")).alias("id"))
        .groupBy("id")
        .agg(F.count("*").cast("long").alias("deg"))
    )


@loop_scoped
def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iters: int = 4,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "id",
    scale: int = 10**12,
) -> DataFrame:
    """Personalized PageRank (Page et al. 1999 §6 / Jeh & Widom 2003 —
    public literature): the power method with teleport mass restricted to
    a SEED set instead of uniform — "importance from the point of view of
    these nodes", the standard graph-recommendation primitive (seed = a
    customer segment → ranks the parts/nations that segment gravitates
    to):

        pr'(v) = (1-d)·tele(v) + d·( Σ_{u→v} pr(u)/outdeg(u) + dangling·tele(v) )

    where tele(v) = 1/|S| for seed nodes and 0 elsewhere; dangling mass
    also returns to the seeds (the PPR convention — mass never leaks to
    non-seed teleports). pr⁰ = tele.

    Same determinism and scale contract as ``pagerank``: scaled-integer
    contribution and dangling sums, one broadcast single-row (|S|,
    dangling) struct per iteration, lazy per-iteration localCheckpoint,
    plan-local loop partitioning, nothing collected. Seeds not present in
    the edge set are counted in |S| but hold no reachable mass — callers
    wanting strict seed⊆nodes semantics should semi-join first.

    Output: (id, rank double) for every node appearing in ``edges``.
    Nodes unreachable from the seed set converge to rank 0.
    """
    if iters < 1:
        raise ValueError(f"personalized_pagerank: iters must be >= 1, got {iters}")
    for c in (src_col, dst_col):
        if c not in edges.columns:
            raise ValueError(f"personalized_pagerank: column {c!r} not in {edges.columns}")
    if seed_col not in seeds.columns:
        raise ValueError(f"personalized_pagerank: column {seed_col!r} not in {seeds.columns}")
    d = damping
    # Same r14 loop discipline as ``pagerank``: observation-carried edge
    # count, bytes-derived loop width pinned as the loop shuffle conf,
    # lazy pinned operands, and the static outdeg carried in the state so
    # no per-round degree join/checkpoint exists.
    obs0 = Observation()
    e0 = (
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .distinct()
        .observe(obs0, F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    n_edges = obs0.get["n"]
    session_parts = int(edges.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    loop_parts = loop_partitions(n_edges, _EDGE_ROW_BYTES, session_parts)
    set_loop_shuffle_partitions(edges.sparkSession, loop_parts)
    e = e0.repartition(loop_parts, "src").localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .repartition(loop_parts, "id")
        .localCheckpoint(eager=False)
    )
    seed_ids = seeds.select(F.col(seed_col).alias("id")).distinct()
    n_seeds = seed_ids.agg(F.count("*").alias("ns"))
    deg = e.groupBy("src").agg(F.count("*").alias("outdeg"))
    tele_nodes = (
        nodes.join(seed_ids.withColumn("_s", F.lit(1)), "id", "left")
        .join(F.broadcast(n_seeds))
        .join(deg, F.col("id") == deg["src"], "left")
        .select(
            "id",
            "outdeg",
            F.when(
                F.col("_s").isNotNull(), F.lit(1.0) / F.col("ns").cast("double")
            )
            .otherwise(F.lit(0.0))
            .alias("tele"),
        )
        .repartition(loop_parts, "id")
        .localCheckpoint(eager=False)
    )
    pr = tele_nodes.select("id", "outdeg", F.col("tele").alias("rank"))
    for _ in range(iters):
        contrib = (
            e.join(
                pr.filter(F.col("outdeg").isNotNull()).select(
                    F.col("id").alias("src"), "rank", "outdeg"
                ),
                "src",
            )
            .groupBy("dst")
            .agg(
                (
                    F.sum(
                        F.round((F.col("rank") / F.col("outdeg")) * scale).cast("long")
                    ).cast("double")
                    / F.lit(float(scale))
                ).alias("inb")
            )
        )
        dangling = pr.filter(F.col("outdeg").isNull()).agg(
            F.coalesce(
                F.sum(F.round(F.col("rank") * scale).cast("long")), F.lit(0)
            ).alias("dang_i")
        )
        pr = (
            tele_nodes.join(contrib, tele_nodes["id"] == contrib["dst"], "left")
            .join(F.broadcast(dangling))
            .select(
                tele_nodes["id"],
                tele_nodes["outdeg"],
                tele_nodes["tele"],
                (
                    F.lit(1.0 - d) * F.col("tele")
                    + F.lit(d)
                    * (
                        F.coalesce(F.col("inb"), F.lit(0.0))
                        + (F.col("dang_i").cast("double") / F.lit(float(scale)))
                        * F.col("tele")
                    )
                ).alias("rank"),
            )
            .repartition(loop_parts, "id")
            .localCheckpoint(eager=False)
        )
    return pr.select("id", "rank")


def link_prediction(
    edges: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    max_center_degree: int | None = None,
    scale: int = 10**12,
) -> DataFrame:
    """Local link prediction over an undirected graph: for every
    non-adjacent pair at distance 2, the three classic common-neighbor
    scores (Liben-Nowell & Kleinberg 2003; Zhou, Lü & Zhang 2009 —
    public literature):

    * ``cn``       — common-neighbor count,
    * ``jaccard``  — cn / (deg_u + deg_w − cn),
    * ``ra``       — resource allocation, Σ_z 1/deg(z) over common
      neighbors z (the top performer of the local family in Zhou 2009;
      chosen over Adamic-Adar's 1/ln(deg) because 1/d is a rational the
      scaled-integer contract makes engine-exact, while ln() is not
      guaranteed correctly-rounded across libms).

    Determinism: per-center weights are ``round(scale/d)`` bigints summed
    exactly; jaccard is one double division of exact ints, 6dp.

    Scale shape: wedge volume is Σ C(d,2) over CENTER degrees — the
    triangle-census quantity. A hub center contributes quadratically
    while its RA weight (1/d) approaches zero, so ``max_center_degree``
    prunes centers above a degree cap BEFORE wedge generation: the
    standard accuracy-neutral cost lever (weight loss ≤ wedges·1/cap).
    Everything is equi-joins + partial aggs; the adjacency exclusion is
    one anti-join on the canonical pair key.

    Output: (u, w, cn bigint, jaccard double 6dp, ra double 6dp) for
    u < w, non-adjacent, cn ≥ 1.
    """
    for c in (a_col, b_col):
        if c not in edges.columns:
            raise ValueError(f"link_prediction: column {c!r} not in {edges.columns}")
    ua, vb = F.col(a_col), F.col(b_col)
    e0 = (
        edges.filter(ua.isNotNull() & vb.isNotNull() & (ua != vb))
        .select(F.least(ua, vb).alias("u"), F.greatest(ua, vb).alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    stubs = e0.select(F.col("u").alias("z"), F.col("v").alias("x")).unionByName(
        e0.select(F.col("v").alias("z"), F.col("u").alias("x"))
    )
    deg = stubs.groupBy("z").agg(F.count("*").alias("d")).localCheckpoint(eager=False)
    centers = stubs.join(deg, "z")
    if max_center_degree is not None:
        centers = centers.filter(F.col("d") <= max_center_degree)
    w1 = centers.select("z", F.col("x").alias("a"), F.col("d"))
    w2 = centers.select("z", F.col("x").alias("b"))
    pairs = (
        w1.join(w2, "z")
        .filter(F.col("a") < F.col("b"))
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("long").alias("cn"),
            F.sum(F.round(F.lit(float(scale)) / F.col("d")).cast("long")).alias("ra_i"),
        )
    )
    non_adjacent = pairs.join(
        e0.withColumnsRenamed({"u": "a", "v": "b"}), ["a", "b"], "anti"
    )
    da = deg.withColumnsRenamed({"z": "a", "d": "da"})
    db = deg.withColumnsRenamed({"z": "b", "d": "db"})
    return (
        non_adjacent.join(da, "a")
        .join(db, "b")
        .select(
            F.col("a").alias("u"),
            F.col("b").alias("w"),
            "cn",
            F.round(
                F.col("cn") / (F.col("da") + F.col("db") - F.col("cn")), 6
            ).alias("jaccard"),
            F.round(F.col("ra_i") / F.lit(float(scale)), 6).alias("ra"),
        )
    )
