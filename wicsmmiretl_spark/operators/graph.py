"""Distributed graph analytics: the iterative operators (alternating
large-star / small-star connected components, PageRank and personalized
PageRank with scaled-integer mass sums, HITS, BFS, shortest paths, label
propagation, k-core peeling) and the static census operators (triangles,
butterflies, degree profile, link prediction).

Why this exists
---------------
``connected_components`` resolves candidate pairs into clusters
(``dedup.dup_clusters`` is this operator). Min-label propagation
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

Each round is two window shuffles plus a distinct — pure Catalyst, no
Python. A fixpoint (both stars produce the edge set they consumed) leaves
exactly the star forest (node → component minimum).

Before the first round, every ≤ 64 MB partition of the edges contracts
itself with a union-find (Łącki, Mirrokni and Włodarczyk, "Connected
Components at Scale via Local Contractions", 2018): components that the
input already holds whole in one partition arrive as finished stars, and
the rounds only join what crosses partitions. On a graph under 64 MB one
task does the whole union-find and the first round confirms it.

Scale design
------------
* Each iteration shuffles the current edge set twice (one window per
  star) on the node id — high-cardinality keys, no skew amplification
  beyond the input graph's own degree skew (a node's neighborhood is one
  group).
* Lineage is truncated per round with ``localCheckpoint`` so the plan
  doesn't grow with iterations.
* The convergence probe compares (row count, order-independent xxhash64
  checksum) of consecutive edge sets — two scalars per round, no
  ``subtract`` anti-join.
* Rounds are capped (default 50 ≈ log₂ of anything); exhausting the cap
  raises loudly rather than emitting a partially-contracted labeling.

Loop skeleton
-------------
Every iterative operator here (CC, PageRank/PPR, BFS, SSSP, HITS, k-core)
enters and runs its loop through ``operators/loopconf.py``:
``loop_entry`` materializes the canonical edges with their observed count
and pins the bytes-derived loop width, ``observed_checkpoint`` is the one
way a round's metrics reach the driver (one job per probe), and
``fixpoint`` drives the signature-repeat loops (CC, k-core) including the
confirming round on an exhausted budget.

The message-passing loops share one round, ``_message_round`` (Pregel /
GraphX ``aggregateMessages``): state ⋈ edges → one message per edge →
ONE aggregate by destination over the messages and any kept rows →
checkpoint, eager with the round's scalars observed when the next round
reads one. Its callers are ``_power_iteration`` (PageRank and PPR),
``hits`` (one call per half-iteration), ``shortest_paths`` (the min over
relaxed and kept distances) and ``label_propagation`` (a mode vote).
``bfs_levels`` keeps its frontier anti-join: an aggregate over visited ∪
messages would redo O(V) union work every level, O(V·depth) in total.

Static-graph kernel
-------------------
The operators over an undirected edge list share three steps.
``_undirected`` is the one canonicalization: NULL endpoints and
self-loops dropped, (least, greatest) endpoints, each edge once, pinned
by a lazy checkpoint. Its callers are ``triangle_stats``,
``degree_profile``, ``link_prediction``, ``kcore`` (into ``loop_entry``)
and ``label_propagation`` (whose message edges are both orientations of
it). ``_degrees`` is the one undirected degree count, read by
``triangle_stats``' orientation, ``degree_profile``'s moments,
``link_prediction``'s centres and weights, and ``kcore``'s peels and
output. ``_wedges`` is the one wedge generator: a self-join of
(centre, leaf) rows on the centre keeping each leaf pair once
(``l1 < l2``). ``triangle_stats`` orders the leaves by their (degree,
id) rank (compact-forward, Latapy 2008), ``butterfly_stats`` by the wing
id, ``link_prediction`` by the neighbour id. ``butterfly_stats``' edges
are bipartite, so it keeps its own NULL filter, distinct and per-side
degrees; ``connected_components`` keeps its raw pairs, which must label
isolated self-pair nodes.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import pandas as pd

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from wicsmmiretl_spark.operators.loopconf import (
    byte_partitions,
    fits_broadcast,
    fixpoint,
    loop_entry,
    loop_scoped,
    observed_checkpoint,
    row_count,
)

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

    Plan: ``loop_entry`` checkpoints the raw pairs once; the node list
    and the closing certification read that checkpoint, so a lazy
    upstream (an LSH join) runs once. The checkpoint is coalesced — no
    shuffle, so co-located components stay together — to one partition
    per 64 MB of edges (``byte_partitions``). Each partition contracts
    itself with a union-find (``contract``, one Arrow-batched
    ``mapInPandas`` task), and the distinct ``node → local min`` edges
    start the star rounds. The rounds run under ``@loop_scoped`` at the
    bytes-derived loop width, so the per-round window shuffles AND the
    small-star's closing ``distinct()`` plan at that width. The fixpoint
    signature is (row count, order-independent xxhash64 checksum) of the
    edge set, probed every round.
    """
    checksum = F.coalesce(
        F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")),
        F.lit(0).cast("decimal(38,0)"),
    ).alias("h")

    def contract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        """Union-find over one partition's ``(u, v)`` edges (self-pairs and
        NULL ids already dropped). A merge roots the two trees at the
        smaller root, so every root is its component's minimum. Emits
        ``(node, local component min)`` for every non-root node: a finished
        star, which a star round reproduces unchanged. Nested, so it is
        pickled by value and the Python workers need not import this
        package."""
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        for pdf in batches:
            for a, b in zip(pdf["u"].tolist(), pdf["v"].tolist()):
                ra, rb = find(parent.setdefault(a, a)), find(parent.setdefault(b, b))
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        stars = [(x, r) for x in parent if (r := find(x)) != x]
        if stars:
            yield pd.DataFrame(stars, columns=["u", "v"])

    edges0, loop_parts, m = loop_entry(
        pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")), None
    )
    contracted, start = observed_checkpoint(
        edges0.coalesce(byte_partitions(m["n"]))
        .filter(F.col("u") != F.col("v"))
        .mapInPandas(contract, edges0.schema)
        .distinct(),
        row_count(),
        checksum,
    )
    # Every node that appears at all, including isolated self-pair nodes:
    # they must come back out labeled as their own singleton component.
    nodes = (
        edges0.select(F.col("u").alias("id"))
        .union(edges0.select(F.col("v").alias("id")))
        .distinct()
    )
    # r15 NOTE (measured, do not re-try): batching 2 alternating-star
    # rounds per probe — the kcore r15 win — LOSES here: under AQE every
    # Exchange materializes as its own stage-job regardless of action
    # boundaries, CC's rounds keep all 3 per-round exchanges either way
    # (nothing to elide, unlike kcore's redundant per-round repartition),
    # and batched detection runs up to 2 extra no-op rounds. Probed 3x:
    # 50 -> 53 jobs, build 5.3 -> 6.7 s. Per-round probing stands.
    edges = fixpoint(
        contracted,
        lambda es: _small_star(_large_star(es, loop_parts), loop_parts),
        start,
        max_iter,
        checksum,
        error=f"connected_components: alternating-star did not reach a fixpoint "
        f"within max_iter={max_iter} rounds; raise max_iter (expected "
        "rounds ~ log2 of the largest component size).",
    )

    # Fixpoint edge set is the star forest: (node, component_min) for every
    # non-root node. Roots (and isolated nodes) label themselves.
    labels = edges.select(F.col("u").alias("id"), F.col("v").alias("cluster_id"))
    out, m_out = observed_checkpoint(
        nodes.join(labels, "id", "left").select(
            "id", F.coalesce("cluster_id", "id").alias("cluster_id")
        ),
        row_count(),
    )
    # Checksum equality proves the composite map repeated itself, not that
    # the result is a star forest. Certify the labeling directly: every
    # ORIGINAL edge's endpoints must share a cluster_id (one bounded probe
    # job — the cost of one extra round, run once). A labeling that fits
    # is broadcast up front (``fits_broadcast``); left to AQE, the build
    # side of each join depends on which shuffle stage finishes first.
    small = fits_broadcast(edges0.sparkSession, m_out["n"])

    def label_of(end: str) -> DataFrame:
        side = out.withColumnRenamed("id", end)
        return F.broadcast(side) if small else side

    bad = (
        edges0.join(label_of("u"), "u")
        .withColumnRenamed("cluster_id", "ca")
        .join(label_of("v"), "v")
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

    Scale shape per iteration (``_power_iteration``): one message join and
    one partial-aggregated groupBy on the node id over the node rows and
    the messages — no per-round N or dangling aggregate, no broadcast of
    them, no node-list re-join. N and the dangling mass cross the driver
    as scalars observed on checkpoints the loop writes anyway: N once on
    the node frame, the dangling mass on each round's eager checkpoint
    (the last round's is lazy), so ``iters`` rounds cost ``iters - 1``
    driver round-trips. Degree skew (a celebrity node's in-box) is a
    partial-agg sum, not a window — map-side combine bounds the reducer.

    Output: (id, rank double) for every node appearing in ``edges``.
    """
    e, nodes, m = _rank_nodes(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    )
    n = float(max(m["n"], 1))  # an empty graph has no row to read 1/N
    d = damping
    return _power_iteration(
        e,
        nodes,
        1.0 / n,
        m["n_dang"],
        lambda inb, dang, _: F.lit(1.0 - d) / F.lit(n) + F.lit(d) * (inb + dang / F.lit(n)),
        iters,
        scale,
    )


def _rank_nodes(
    edges: DataFrame, seeds: DataFrame | None = None
) -> tuple[DataFrame, DataFrame, dict]:
    """Loop entry of ``pagerank``/``personalized_pagerank``: the distinct
    (src, dst) ``edges`` as the checkpoint ``e`` (``loop_entry``), and the
    node frame — (id, outdeg) for every node of ``e`` (outdeg NULL for a
    dangling node, the NULL id included), plus a ``seed`` flag when
    ``seeds`` (column ``id``) is given — built by ONE aggregate over the
    endpoint and seed rows, eagerly checkpointed with its counts observed:
    ``n`` nodes, ``ns`` distinct seed ids (|S|: seeds outside the graph
    count too) and ``n_dang``, the dangling nodes holding initial mass
    (every node, or with seeds the seed nodes). Returns ``(e, nodes,
    counts)``."""
    e, _, _ = loop_entry(edges.distinct(), None)
    rows = e.select(F.col("src").alias("id"), F.lit(1).alias("o")).unionByName(
        e.select(F.col("dst").alias("id"), F.lit(0).alias("o"))
    )
    outdeg = F.when(F.col("id").isNotNull() & (F.col("o") > 0), F.col("o"))
    in_graph = F.col("o").isNotNull()  # seed-only groups have no endpoint row
    carried = [outdeg.alias("outdeg")]
    aggs = [F.sum("o").alias("o")]
    metrics = [F.count_if(in_graph).alias("n")]
    held = F.lit(True)
    if seeds is not None:
        rows = rows.unionByName(seeds.select("id", F.lit(True).alias("s")), allowMissingColumns=True)
        aggs.append(F.max("s").alias("s"))
        held = F.col("id").isNotNull() & F.col("s").isNotNull()
        carried.append(held.alias("seed"))
        metrics.append(F.count("s").alias("ns"))
    metrics.append(F.count_if(in_graph & held & outdeg.isNull()).alias("n_dang"))
    obs = Observation()
    nodes = (
        rows.groupBy("id")
        .agg(*aggs)
        .observe(obs, *metrics)
        .filter(in_graph)
        .select("id", *carried)
        .localCheckpoint(eager=True)
    )
    return e, nodes, obs.get


def _message_round(
    senders: DataFrame,
    edges: DataFrame,
    msg: Column,
    aggs: list[Column],
    kept: DataFrame | None = None,
    metrics: Sequence[Column] = (),
) -> tuple[DataFrame, dict]:
    """One round of every message-passing loop here (Pregel, Malewicz et
    al., SIGMOD 2010; GraphX ``aggregateMessages``, Gonzalez et al., OSDI
    2014): the ``senders`` state (keyed ``id``) joins ``edges`` on
    ``src``, and each edge sends ``msg`` — a Column over the joined row,
    named as ``aggs`` read it — to its ``dst`` (a NULL ``dst`` receives
    nothing). The ``kept`` rows (keyed ``id``) are unioned with the
    messages, and ONE aggregate by ``id`` folds both with ``aggs``.

    The result is checkpointed eagerly with ``metrics`` observed when the
    caller's next round reads a scalar (``observed_checkpoint``, one job),
    lazily otherwise. Returns ``(state, observed metrics)``."""
    sent = (
        edges.join(senders.withColumnRenamed("id", "src"), "src")
        .filter(F.col("dst").isNotNull())
        .select(F.col("dst").alias("id"), msg)
    )
    rows = sent if kept is None else kept.unionByName(sent, allowMissingColumns=True)
    out = rows.groupBy("id").agg(*aggs)
    if metrics:
        return observed_checkpoint(out, *metrics)
    return out.localCheckpoint(eager=False), {}


def _power_iteration(
    e: DataFrame,
    nodes: DataFrame,
    r0: float,
    n_dang: int,
    step: Callable[[Column, Column, Column], Column],
    iters: int,
    scale: int,
) -> DataFrame:
    """``iters`` power-method rounds of ``pagerank``/``personalized_pagerank``
    over the distinct edges ``e`` and the ``_rank_nodes`` frame, from the
    teleport vector ``tele`` (``r0`` on every node, or with a ``seed``
    column on the seeds; ``n_dang`` dangling nodes hold it).
    ``step(inb, dang, tele)`` is a node's next rank from its inbound mass
    and the global dangling mass.

    Each round is one ``_message_round``: the sources' shares
    round(rank/outdeg·scale) are the messages, the node rows (id,
    outdeg[, seed]) are kept, and the one aggregate by id recovers the
    node columns with ``max`` and sums the scaled-integer inbound mass
    (NULL for a node without in-edges). The dangling mass, the same
    scaled-integer sum, is observed on the round's eager checkpoint and
    read by the next round as a literal; the last round's checkpoint is
    lazy. ``step`` runs inside that aggregate, so it reads the seed flag
    as ``max(seed)``."""

    def scaled(x: Column) -> Column:
        return F.round(x * scale).cast("long")

    def tele(held: Column) -> Column:
        return F.when(held, F.lit(r0)).otherwise(F.lit(0.0))

    carried = [c for c in nodes.columns if c != "id"]
    seeded = "seed" in carried
    state = nodes.withColumn("rank", tele(F.col("seed") if seeded else F.lit(True)))
    dang = F.lit(n_dang) * scaled(F.lit(r0))
    inb = F.coalesce(F.sum("c").cast("double") / F.lit(float(scale)), F.lit(0.0))
    tele_agg = tele(F.max("seed") if seeded else F.lit(True))
    dang_obs = F.coalesce(
        F.sum(F.when(F.col("outdeg").isNull(), scaled(F.col("rank")))), F.lit(0)
    ).alias("dang")
    for i in range(iters):
        rank = step(inb, dang.cast("double") / F.lit(float(scale)), tele_agg)
        state, m = _message_round(
            state.filter(F.col("outdeg").isNotNull()).select(
                "id", scaled(F.col("rank") / F.col("outdeg")).alias("c")
            ),
            e,
            F.col("c"),
            [*[F.max(c).alias(c) for c in carried], rank.alias("rank")],
            state.select("id", *carried),
            [dang_obs] if i + 1 < iters else [],
        )
        if m:
            dang = F.lit(m["dang"])
    return state.select("id", "rank")


def _undirected(edges: DataFrame, a: str, b: str) -> DataFrame:
    """The simple undirected graph of ``edges``' (``a``, ``b``) pairs as
    (u, v) rows with u < v: NULL endpoints and self-loops dropped, each
    edge once. Pinned by a lazy checkpoint: every caller reads the edges
    more than once (the degrees and the joins back onto the edges), and
    without the pin each read would recompute the upstream plan (for the
    co-purchase queries a lineitem ⋈ orders self-join) in its own job —
    exchange reuse does not cross job boundaries."""
    x, y = F.col(a), F.col(b)
    return (
        edges.filter(x.isNotNull() & y.isNotNull() & (x != y))
        .select(F.least(x, y).alias("u"), F.greatest(x, y).alias("v"))
        .distinct()
        .localCheckpoint(eager=False)
    )


def _degrees(e: DataFrame) -> DataFrame:
    """(x, d): the degree of every vertex of the undirected edges ``e``
    (u, v), one partial-aggregated count over both endpoints."""
    return (
        e.select(F.explode(F.array("u", "v")).alias("x"))
        .groupBy("x")
        .agg(F.count("*").alias("d"))
    )


def _wedges(rows: DataFrame, centre: str, leaf: str, *carry: str) -> DataFrame:
    """Every wedge of the (``centre``, ``leaf``) ``rows`` once: their
    self-join on ``centre``, kept where the first leaf is smaller than the
    second. Returns (``centre``, l1, l2, ``*carry``), the ``carry``
    columns taken from the first leaf's row."""
    w1 = rows.select(centre, F.col(leaf).alias("l1"), *carry)
    w2 = rows.select(centre, F.col(leaf).alias("l2"))
    return w1.join(w2, centre).filter(F.col("l1") < F.col("l2"))


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
    e0 = _undirected(edges, src, dst)
    # deg feeds both the orientation joins and the totals row; oriented
    # feeds both wedge sides and the closing probe. Pin each once so the
    # canonicalize+join cascade doesn't run 3x (lazy checkpoint: under
    # AQE its exchanges run when it is built, its final stage inside the
    # single action that consumes all branches).
    deg = _degrees(e0).localCheckpoint(eager=False)
    ranked = (
        e0.join(deg.withColumnsRenamed({"x": "u", "d": "du"}), "u")
        .join(deg.withColumnsRenamed({"x": "v", "d": "dv"}), "v")
    )
    ru = F.struct(F.col("du").alias("d"), F.col("u").alias("x"))
    rv = F.struct(F.col("dv").alias("d"), F.col("v").alias("x"))
    # a → rb: each edge from its rank-smaller end to the rank of the other.
    oriented = ranked.select(
        F.when(ru < rv, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(ru < rv, rv).otherwise(ru).alias("rb"),
    ).localCheckpoint(eager=False)
    closing = oriented.select(F.col("a").alias("b1"), F.col("rb.x").alias("b2"))
    tri = (
        _wedges(oriented, "a", "rb")
        .select(F.col("l1.x").alias("b1"), F.col("l2.x").alias("b2"))
        .join(closing, ["b1", "b2"])
        .agg(F.count("*").alias("n_triangles"))
    )
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

    Scale shape: the edge list is pinned on ``src`` ONCE at the loop
    width (``loop_entry``) and the frontier and visited sets are
    repartitioned on the node id at the same width — task parallelism,
    not co-location: checkpoints report no partitioning, so every
    round's join and anti-join still plan their exchanges. Lineage is truncated per round (``localCheckpoint``) and
    the loop exits early on an empty frontier — one scalar per round
    crosses the driver (the frontier count), nothing else collects.
    Rounds are data-independent sequential barriers, so ``max_depth``
    bounds wall-clock explicitly; unreached nodes are simply absent (a
    caller wanting them labels the complement with a left anti join).

    Output: (``id_col`` node id, level int) — one row per node reached,
    level in [0, max_depth]; level 0 rows are exactly the distinct
    source ids.
    """
    if max_depth < 0:
        raise ValueError(f"bfs_levels: max_depth must be >= 0, got {max_depth}")
    e, loop_parts, _ = loop_entry(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct(),
        "src",
    )
    visited, m0 = observed_checkpoint(
        sources.select(F.col(id_col).alias("id"))
        .filter(F.col("id").isNotNull())
        .distinct()
        .withColumn("level", F.lit(0))
        .repartition(loop_parts, "id"),
        row_count(),
    )
    frontier = visited
    # Level 1 joins and anti-joins the same checkpoint (the sources). Left
    # to AQE, whether the anti-join reuses the join's broadcast depends on
    # which shuffle stage finishes first; sources that fit are broadcast
    # up front (``fits_broadcast``), so the level plans the same every run.
    small = fits_broadcast(edges.sparkSession, m0["n"])
    # r15 NOTE (measured, do not re-try): expanding levels in PAIRS per
    # probe — the kcore r15 batching — cut jobs 39 -> 36 here but timed
    # FLAT-to-worse in an interleaved A/B (min 3.18 vs 2.99 s): like CC,
    # no exchange is elided (every level keeps its distinct + anti-join +
    # repartition stages under AQE), so only the final-stage job per odd
    # level disappears while the lazily-pinned odd frontier is consumed
    # three times inside the even level's job. Per-level probing stands.
    for depth in range(1, max_depth + 1):
        hint = F.broadcast if small and depth == 1 else (lambda d: d)
        nxt, m = observed_checkpoint(
            hint(frontier).join(e, frontier["id"] == e["src"])
            .select(F.col("dst").alias("id"))
            .distinct()
            .join(hint(visited), "id", "left_anti")
            .withColumn("level", F.lit(depth))
            .repartition(loop_parts, "id"),
            row_count(),
        )
        if m["n"] == 0:
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

    Round shape = one ``_message_round``: the current distances join the
    edges on the source endpoint, each edge sends dist + w, and ONE
    aggregate takes the ``min`` over the messages and the kept distances
    — the standard distributed relaxation; after h rounds every ≤h-hop
    shortest path is final, so ``max_hops`` is both the correctness
    horizon and an explicit wall-clock bound (negative cycles can't loop
    forever). There is no per-round driver action, so every checkpoint is
    LAZY: plan truncation per round, each round's final stage deferred
    (its exchanges still run at build time under AQE).

    Determinism: weights must be integers (bigint sums — the suite's
    exact-sum contract; pre-scale fractional weights upstream) and
    non-negative for the min to be a true distance. The edge list is
    hash-pinned on ``src`` once at an edge-count-sized width and the
    source distances repartition on the node id at the same width (task
    parallelism; the per-round joins still plan both exchanges).

    Output: (``id_col``, dist bigint) — one row per node reached
    (sources at dist 0).
    """
    if max_hops < 0:
        raise ValueError(f"shortest_paths: max_hops must be >= 0, got {max_hops}")
    e, loop_parts, _ = loop_entry(
        edges.select(
            F.col(src_col).alias("src"),
            F.col(dst_col).alias("dst"),
            F.col(weight_col).cast("long").alias("w"),
        ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull() & F.col("w").isNotNull()),
        "src",
    )
    dist = (
        sources.select(F.col(id_col).alias("id"))
        .filter(F.col("id").isNotNull())
        .distinct()
        .withColumn("dist", F.lit(0).cast("long"))
        .repartition(loop_parts, "id")
        .localCheckpoint(eager=False)
    )
    for _ in range(max_hops):
        dist, _ = _message_round(
            dist, e, (F.col("dist") + F.col("w")).alias("dist"), [F.min("dist").alias("dist")], dist
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

    100 TB shape: per round one ``_message_round`` — ONE neighbor
    equi-join (labels keyed by node) and ONE aggregate casting each
    node's vote, ``F.mode(label, deterministic=True)``, whose tiebreak to
    the lowest value is the (count desc, label asc) rule above —
    O(rounds · |E|) total, with ``localCheckpoint`` truncating lineage
    each round (the connected-components loop discipline). Nodes appear
    only via edges, so every node has ≥1 neighbor and every round
    relabels every node.

    Output: node (endpoint type), label — label is the community
    representative after ``rounds`` rounds.
    """
    if rounds < 1:
        raise ValueError(f"label_propagation: rounds must be >= 1, got {rounds}")
    for c in (a_col, b_col):
        if c not in edges.columns:
            raise ValueError(f"label_propagation: column {c!r} not in {edges.columns}")
    # NOT @loop_scoped: the rounds were measured ~40% slower with AQE
    # scoped off (each round joins ``und`` against the round's label
    # frame, whose size AQE discovers at runtime and converts to a
    # broadcast join; a checkpointed frame has no stats, so the static
    # plan is sort-merge) — the first data point behind keeping AQE on
    # in every loop (loopconf module docstring). Dropping the per-round
    # checkpoints so static stats flow from the source was measured flat
    # in r15 while the static plan duplicated the whole ``und`` pipeline
    # once per consumer, growing with rounds.
    #
    # ``und`` holds both orientations of every edge, so the messages a
    # node receives along (src → dst) are exactly its neighbors' labels.
    e0 = _undirected(edges, a_col, b_col)
    und = e0.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionByName(
        e0.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    labels = und.select(F.col("src").alias("id")).distinct().select(
        "id", F.col("id").alias("label")
    )
    for _ in range(rounds):
        labels, _ = _message_round(
            labels, und, F.col("label"), [F.mode("label", deterministic=True).alias("label")]
        )
    return labels.select(F.col("id").alias("node"), "label")


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
    pairs = (
        _wedges(e0.select(F.col(centre).alias("c"), F.col(wing).alias("x")), "c", "x")
        .groupBy("l1", "l2")
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

    Scale: canonicalize, one degree join onto the stubs' far end, one
    per-vertex aggregate and one global aggregate that reads both the
    moments and the degree totals — no iteration, nothing collected
    beyond the output row.
    """
    for c in (src, dst):
        if c not in edges.columns:
            raise ValueError(f"degree_profile: column {c!r} not in {edges.columns}")
    e0 = _undirected(edges, src, dst)
    stubs = e0.select(F.col("u").alias("a"), F.col("v").alias("b")).unionByName(
        e0.select(F.col("v").alias("a"), F.col("u").alias("b"))
    )
    dec = "decimal(38,0)"
    deg = _degrees(e0).withColumnRenamed("x", "a")
    # One row per vertex a: its degree d and the sum s of its neighbours'
    # degrees, folded by ONE aggregate over the degree rows and the stubs
    # carrying their far end's degree db. The stub moments are sums of
    # these (Σ over stubs (a, b) of d_a·d_b = Σ_a d_a·s_a), so the degrees
    # are joined onto one stub end only: a second degree join made AQE's
    # choice of broadcast side decide the job count. The stubs hold both
    # orientations of every edge, so the far-end moments equal the near-end
    # ones (sy = sx, syy = sxx) and the closed form reads the latter twice.
    far = stubs.join(deg.withColumnsRenamed({"a": "b", "d": "db"}), "b").select(
        "a", F.col("db").cast(dec).alias("db")
    )
    vert = far.unionByName(deg, allowMissingColumns=True).groupBy("a").agg(
        F.max("d").alias("d"), F.sum("db").alias("s")
    )
    d = F.col("d").cast(dec)
    m = vert.agg(
        F.count("*").alias("n_vertices"),
        F.min("d").alias("min_degree"),
        F.max("d").alias("max_degree"),
        F.coalesce((F.sum("d") / 2).cast("long"), F.lit(0)).alias("n_edges"),
        F.round(F.avg(F.col("d").cast("double")), 6).alias("avg_degree"),
        F.sum(d).alias("n"),
        F.sum(d * d).alias("sx"),
        F.sum(d * d * d).alias("sxx"),
        F.sum(d * F.col("s")).alias("sxy"),
    )
    var = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sx")).cast("double")
    denom = F.sqrt(var * var)
    return m.select(
        "n_vertices",
        "n_edges",
        "min_degree",
        "max_degree",
        "avg_degree",
        F.when(denom > 0, F.round(num / denom, 6)).alias("assortativity"),
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

    Scale shape per iteration: two ``_message_round`` calls, one per
    side, each ONE partial-aggregated groupBy by the receiving node,
    materialized eagerly once with its L1 norm observed in the same job
    — no per-side norm broadcast job, no in-loop join back to the full
    node list. The distinct edge sources seed the uniform initial hub; a
    node absent from a side's groupBy output has an exactly-0 score and
    contributes exactly 0 to every downstream scaled-int sum, so the
    inner contribution joins are bit-equal to the padded form. Degree
    skew (a hub customer's basket, a hot part's buyers) is bounded by
    map-side combine. Nothing is collected; the norm crosses the driver
    as one exact decimal scalar per half-iteration.

    Output: (id, hub double, auth double) for every node in ``edges``.
    Source-only nodes carry auth 0; sink-only nodes carry hub 0.
    """
    if iters < 1:
        raise ValueError(f"hits: iters must be >= 1, got {iters}")
    for c in (src_col, dst_col):
        if c not in edges.columns:
            raise ValueError(f"hits: column {c!r} not in {edges.columns}")
    e, _, m = loop_entry(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .distinct(),
        "src",
    )
    if m["n"] == 0:
        raise ValueError("hits: empty edge set")
    dec = "decimal(38,0)"
    rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))

    def half(state: DataFrame, edges: DataFrame, score: str, out_col: str) -> DataFrame:
        raw, m = _message_round(
            state,
            edges,
            F.round(F.col(score) * scale).cast("long").alias("c"),
            [F.sum("c").alias("raw")],
            metrics=[F.coalesce(F.sum(F.col("raw").cast(dec)), F.lit(0).cast(dec)).alias("norm")],
        )
        # ONE double division of two exact integers (the determinism
        # contract above). The norm arrives as the Observation's exact
        # decimal; float() and Spark's decimal→double cast are both
        # correctly-rounded, so the literal is bit-equal to a broadcast
        # join of the norm.
        norm = m["norm"]
        if norm is not None and norm > 0:
            s = F.col("raw").cast("double") / F.lit(float(norm))
        else:
            s = F.lit(0.0)
        return raw.select("id", s.alias(out_col))

    hub = e.select(F.col("src").alias("id")).distinct().withColumn("hub", F.lit(1.0))
    for _ in range(iters):
        auth = half(hub, e, "hub", "auth")
        hub = half(auth, rev, "auth", "hub")
    # Every edge sends on both halves, so ``auth`` holds every edge
    # target and ``hub`` every edge source: their full join is the node
    # list.
    return (
        hub.join(auth, "id", "full")
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
    signature is the edge count (``loopconf.fixpoint``). Rounds are
    bounded by ``max_rounds`` and raise loudly on exhaustion; the edge set
    only ever shrinks, so per-round cost is non-increasing. Nothing is
    collected.

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
    # NOT @loop_scoped (``pin_shuffle=False``): the per-round degree agg
    # keeps the session shuffle width, the shape the r15 job counts were
    # measured in. The semi-joins against the surviving-vertex list rely
    # on AQE's runtime broadcast conversion (the keep list shrinks every
    # round; with AQE scoped off in r14 they fell back to sort-merge,
    # ~55% slower). The lazy width pin materializes inside the first
    # batch's probe job; every later batch inherits the width through the
    # semi-joins.
    e, _, start = loop_entry(_undirected(edges, a_col, b_col), "u", pin_shuffle=False)

    def peel(es: DataFrame) -> DataFrame:
        keep = _degrees(es).filter(F.col("d") >= k).select("x")
        return (
            es.join(keep.withColumnRenamed("x", "u"), "u", "semi")
            .join(keep.withColumnRenamed("x", "v"), "v", "semi")
            .select("u", "v")
        )

    e = fixpoint(
        e,
        peel,
        start,
        max_rounds,
        error=f"kcore: peeling did not reach a fixpoint within max_rounds="
        f"{max_rounds}; raise max_rounds (each round deletes at least "
        "one vertex, so rounds are bounded by the peel depth).",
        batch=_KCORE_PEELS_PER_PROBE,
    )
    return _degrees(e).select(F.col("x").alias("id"), F.col("d").alias("deg"))


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

    Same determinism contract and round kernel as ``pagerank``
    (``_power_iteration``): scaled-integer contribution and dangling sums,
    one aggregate shuffle per round, and |S| observed once on the node
    frame (seed ids join it in the same aggregate). Seeds not present in
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
    e, nodes, m = _rank_nodes(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst")),
        seeds.select(F.col(seed_col).alias("id")),
    )
    d = damping
    return _power_iteration(
        e,
        nodes,
        1.0 / max(m["ns"], 1),  # no seeds: no node reads 1/|S|
        m["n_dang"],
        lambda inb, dang, tele: F.lit(1.0 - d) * tele + F.lit(d) * (inb + dang * tele),
        iters,
        scale,
    )


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
    e0 = _undirected(edges, a_col, b_col)
    stubs = e0.select(F.col("u").alias("z"), F.col("v").alias("x")).unionByName(
        e0.select(F.col("v").alias("z"), F.col("u").alias("x"))
    )
    deg = _degrees(e0).withColumnRenamed("x", "z").localCheckpoint(eager=False)
    centers = stubs.join(deg, "z")
    if max_center_degree is not None:
        centers = centers.filter(F.col("d") <= max_center_degree)
    pairs = (
        _wedges(centers, "z", "x", "d")
        .groupBy(F.col("l1").alias("a"), F.col("l2").alias("b"))
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
