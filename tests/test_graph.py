"""Alternating-star connected components (operators/graph.py) vs a local
union-find ground truth, across the graph shapes that matter:

* path graphs — the O(diameter) killer for min-label propagation; the
  star algorithm must finish a 100-node path well inside the default
  round cap (log₂ 100 ≈ 7),
* random sparse graphs — many components, mixed sizes,
* near-cliques — the shape LSH actually produces,
* singleton/self-loop nodes — must come back labeled as themselves.
"""

from __future__ import annotations

import random

import pytest

from wicsmmiretl_spark.operators.graph import connected_components


def _union_find(edges, nodes):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    comp_min = {}
    for n in nodes:
        r = find(n)
        comp_min[r] = min(comp_min.get(r, n), n)
    return {n: comp_min[find(n)] for n in nodes}


def _check(spark, edges):
    nodes = sorted({x for e in edges for x in e})
    expect = _union_find(edges, nodes)
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.id: r.cluster_id for r in connected_components(df).collect()}
    assert got == expect


def test_long_path_converges_in_log_rounds(spark):
    edges = [(i, i + 1) for i in range(1, 100)]
    # max_iter=10 > log2(100): a diameter-bound algorithm would need ~99.
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.cluster_id for r in connected_components(df, max_iter=10).collect()}
    assert got == {1}


def test_random_sparse_graph_matches_union_find(spark):
    rng = random.Random(1312)
    edges = [
        (rng.randrange(0, 300), rng.randrange(0, 300)) for _ in range(250)
    ]
    edges = [e for e in edges if e[0] != e[1]] + [(500, 500), (501, 502)]
    _check(spark, edges)


def test_near_clique_components(spark):
    edges = [(a, b) for a in range(10, 20) for b in range(a + 1, 20)]
    edges += [(30, 31), (31, 32), (32, 30)]
    _check(spark, edges)


def test_self_loops_and_reversed_duplicates(spark):
    _check(spark, [(5, 5), (1, 2), (2, 1), (2, 3)])


def test_unconverged_raises(spark):
    df = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 40)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(df, max_iter=1).collect()


def test_pagerank_matches_local_power_iteration(spark):
    """Distributed PageRank equals a local reference implementation on a
    graph with a cycle, a dangling node, and a hub; mass sums to 1."""
    import collections

    from wicsmmiretl_spark.operators.graph import pagerank

    edge_list = [(1, 2), (1, 3), (2, 3), (3, 1), (3, 4), (5, 3)]
    edges = spark.createDataFrame(edge_list, "src long, dst long")
    got = {r.id: r.rank for r in pagerank(edges, iters=15).collect()}

    nodes = {x for e in edge_list for x in e}
    out = collections.defaultdict(list)
    for s, d in edge_list:
        out[s].append(d)
    n = len(nodes)
    pr = {v: 1 / n for v in nodes}
    for _ in range(15):
        dang = sum(pr[v] for v in nodes if v not in out)
        inb = collections.defaultdict(float)
        for s, ds in out.items():
            for d in ds:
                inb[d] += pr[s] / len(ds)
        pr = {v: 0.15 / n + 0.85 * (inb[v] + dang / n) for v in nodes}

    assert set(got) == nodes
    assert abs(sum(got.values()) - 1.0) < 1e-9
    for v in nodes:
        assert abs(got[v] - pr[v]) < 1e-9, (v, got[v], pr[v])


def test_pagerank_partitioning_invariant(spark):
    from wicsmmiretl_spark.operators.graph import pagerank

    import random

    rng = random.Random(9)
    edge_list = [(rng.randrange(50), rng.randrange(50)) for _ in range(120)]
    edge_list = [e for e in edge_list if e[0] != e[1]]
    e1 = spark.createDataFrame(edge_list, "src long, dst long")
    a = sorted((r.id, r.rank) for r in pagerank(e1, iters=5).collect())
    b = sorted((r.id, r.rank) for r in pagerank(e1.repartition(7), iters=5).collect())
    assert a == b


# ---------------------------------------------------------------------------
# triangle_stats
# ---------------------------------------------------------------------------

def _tri(spark, rows):
    from wicsmmiretl_spark.operators.graph import triangle_stats

    df = spark.createDataFrame(rows, "src: bigint, dst: bigint")
    return triangle_stats(df).collect()[0]


def test_triangle_stats_single_triangle(spark):
    out = _tri(spark, [(1, 2), (2, 3), (1, 3)])
    assert (out.n_vertices, out.n_edges, out.n_wedges, out.n_triangles) == (3, 3, 3, 1)
    assert out.clustering == 1.0


def test_triangle_stats_square_has_none(spark):
    out = _tri(spark, [(1, 2), (2, 3), (3, 4), (4, 1)])
    assert (out.n_triangles, out.n_wedges) == (0, 4)
    assert out.clustering == 0.0


def test_triangle_stats_canonicalizes_input(spark):
    # Duplicates, reversed duplicates, and self-loops must not change counts.
    out = _tri(spark, [(1, 2), (2, 1), (2, 3), (1, 3), (3, 1), (2, 2)])
    assert (out.n_edges, out.n_triangles) == (3, 1)


def test_triangle_stats_k4(spark):
    edges = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    out = _tri(spark, edges)
    # K4: C(4,3)=4 triangles, 4 vertices of degree 3 -> 12 wedges.
    assert (out.n_edges, out.n_wedges, out.n_triangles) == (6, 12, 4)
    assert out.clustering == 1.0


def test_triangle_stats_hub_star_no_triangles(spark):
    # A star is the degenerate hub case the degree orientation exists for.
    out = _tri(spark, [(0, i) for i in range(1, 20)])
    assert out.n_triangles == 0 and out.n_wedges == 171  # C(19,2)


def test_triangle_stats_validates(spark):
    import pytest as _pytest
    from wicsmmiretl_spark.operators.graph import triangle_stats

    df = spark.createDataFrame([(1, 2)], "src: bigint, dst: bigint")
    with _pytest.raises(ValueError, match="column"):
        triangle_stats(df, "nope", "dst")


def test_triangle_stats_empty_graph(spark):
    from wicsmmiretl_spark.operators.graph import triangle_stats

    df = spark.createDataFrame([], "src: bigint, dst: bigint")
    out = triangle_stats(df).collect()[0]
    assert tuple(out) == (0, 0, 0, 0, None)


# ---------------------------------------------------------------------------
# bfs_levels
# ---------------------------------------------------------------------------

def test_bfs_levels_diamond_and_disconnected(spark):
    from wicsmmiretl_spark.operators.graph import bfs_levels

    # 1→2, 1→3, 2→4, 3→4 (diamond), 4→5; 9→10 unreachable from source 1.
    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (2, 4), (3, 4), (4, 5), (9, 10)], "src: bigint, dst: bigint"
    )
    src = spark.createDataFrame([(1,)], "id: bigint")
    out = {r.id: r.level for r in bfs_levels(edges, src, max_depth=10).collect()}
    assert out == {1: 0, 2: 1, 3: 1, 4: 2, 5: 3}  # 4 via shortest, 9/10 absent


def test_bfs_levels_first_touch_is_min_level(spark):
    from wicsmmiretl_spark.operators.graph import bfs_levels

    # Long way round 1→2→3→4 and a shortcut 1→4: level(4) must be 1.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (1, 4)], "src: bigint, dst: bigint"
    )
    src = spark.createDataFrame([(1,)], "id: bigint")
    out = {r.id: r.level for r in bfs_levels(edges, src, max_depth=10).collect()}
    assert out[4] == 1 and out[3] == 2


def test_bfs_levels_depth_cap_and_multi_source(spark):
    from wicsmmiretl_spark.operators.graph import bfs_levels

    # Path 1→2→…→6; sources {1, 5}: node 6 is level 1 (from 5), cap at 2
    # drops nothing here but caps node 4 (distance 3 from 1) out.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 6)], "src: bigint, dst: bigint"
    )
    src = spark.createDataFrame([(1,), (5,)], "id: bigint")
    out = {r.id: r.level for r in bfs_levels(edges, src, max_depth=2).collect()}
    assert out == {1: 0, 5: 0, 2: 1, 6: 1, 3: 2}  # 4 is 3 hops from 1 → absent


def test_bfs_levels_validates(spark):
    from wicsmmiretl_spark.operators.graph import bfs_levels

    edges = spark.createDataFrame([(1, 2)], "src: bigint, dst: bigint")
    src = spark.createDataFrame([(1,)], "id: bigint")
    with pytest.raises(ValueError, match="max_depth"):
        bfs_levels(edges, src, max_depth=-1)
    # max_depth=0 → sources only.
    out = bfs_levels(edges, src, max_depth=0).collect()
    assert [(r.id, r.level) for r in out] == [(1, 0)]


# ---------------------------------------------------------------------------
# shortest_paths (bounded-hop Bellman-Ford)
# ---------------------------------------------------------------------------

def test_shortest_paths_picks_cheaper_indirect_route(spark):
    from wicsmmiretl_spark.operators.graph import shortest_paths

    # 1 -> 4 direct costs 100; 1 -> 2 -> 3 -> 4 costs 30. Within 3 hops
    # the relaxation must find the cheap route; within 1 hop only the
    # expensive direct edge exists.
    edges = spark.createDataFrame(
        [(1, 4, 100), (1, 2, 10), (2, 3, 10), (3, 4, 10), (5, 6, 7)],
        "src long, dst long, w long",
    )
    src = spark.createDataFrame([(1,)], "id long")
    d3 = {r["id"]: r["dist"] for r in shortest_paths(edges, src, max_hops=3).collect()}
    assert d3 == {1: 0, 2: 10, 3: 20, 4: 30}  # node 5/6 unreachable, absent
    d1 = {r["id"]: r["dist"] for r in shortest_paths(edges, src, max_hops=1).collect()}
    assert d1[4] == 100 and d1[2] == 10 and 3 not in d1


def test_shortest_paths_multi_source_takes_nearest(spark):
    from wicsmmiretl_spark.operators.graph import shortest_paths

    edges = spark.createDataFrame(
        [(1, 3, 50), (2, 3, 5)], "src long, dst long, w long"
    )
    src = spark.createDataFrame([(1,), (2,)], "id long")
    got = {r["id"]: r["dist"] for r in shortest_paths(edges, src, max_hops=2).collect()}
    assert got == {1: 0, 2: 0, 3: 5}
    with pytest.raises(ValueError, match="max_hops"):
        shortest_paths(edges, src, max_hops=-1)


class TestButterflyStats:
    def test_complete_2x2_plus_tail(self, spark):
        # K_{2,2} on (a,b)x(x,y) = exactly one butterfly; c-x is a tail.
        edges = [("a", "x"), ("a", "y"), ("b", "x"), ("b", "y"), ("c", "x")]
        from wicsmmiretl_spark.operators.graph import butterfly_stats

        df = spark.createDataFrame(edges, ["l", "r"])
        row = butterfly_stats(df, "l", "r").first()
        assert row["n_left"] == 3
        assert row["n_right"] == 2
        assert row["n_edges"] == 5
        # wedges centred on left: deg(a)=2 -> 1, deg(b)=2 -> 1, deg(c)=1 -> 0
        assert row["n_wedges_left"] == 2
        # wedges centred on right: deg(x)=3 -> 3, deg(y)=2 -> 1
        assert row["n_wedges_right"] == 4
        assert row["n_butterflies"] == 1

    def test_pivot_invariance_and_brute_force(self, spark):
        # Random bipartite graph vs O(n^4) brute force; run both pivots by
        # transposing the edge list — counts must agree.
        import itertools
        import random as _rnd

        from pyspark.sql import functions as F

        from wicsmmiretl_spark.operators.graph import butterfly_stats

        rng = _rnd.Random(7)
        L, R = range(8), range(6)
        edges = sorted({(l, r) for l in L for r in R if rng.random() < 0.45})
        adj = {l: {r for (l2, r) in edges if l2 == l} for l in L}
        expected = sum(
            1
            for l1, l2 in itertools.combinations(L, 2)
            for r1, r2 in itertools.combinations(R, 2)
            if r1 in adj[l1] and r2 in adj[l1] and r1 in adj[l2] and r2 in adj[l2]
        )
        df = spark.createDataFrame(edges, ["l", "r"])
        fwd = butterfly_stats(df, "l", "r").first()
        rev = butterfly_stats(
            df.select(F.col("r").alias("rr"), F.col("l").alias("ll")), "rr", "ll"
        ).first()
        assert fwd["n_butterflies"] == expected
        assert rev["n_butterflies"] == expected
        assert fwd["n_wedges_left"] == rev["n_wedges_right"]
        assert fwd["n_edges"] == rev["n_edges"] == len(edges)

    def test_dedup_and_nulls(self, spark):
        from wicsmmiretl_spark.operators.graph import butterfly_stats

        edges = [("a", "x"), ("a", "x"), ("a", None), (None, "y"), ("b", "x")]
        row = butterfly_stats(
            spark.createDataFrame(edges, ["l", "r"]), "l", "r"
        ).first()
        assert row["n_edges"] == 2
        assert row["n_butterflies"] == 0


class TestDegreeProfile:
    def test_star_graph_is_perfectly_disassortative(self, spark):
        # hub 0 connected to 5 leaves: every edge pairs deg 5 with deg 1
        from wicsmmiretl_spark.operators.graph import degree_profile

        edges = [(0, i) for i in range(1, 6)]
        row = degree_profile(spark.createDataFrame(edges, ["src", "dst"])).first()
        assert row["n_vertices"] == 6
        assert row["n_edges"] == 5
        assert (row["min_degree"], row["max_degree"]) == (1, 5)
        assert abs(row["assortativity"] - (-1.0)) < 1e-9

    def test_regular_graph_has_null_assortativity(self, spark):
        # 4-cycle: every degree is 2 — zero variance, correlation undefined
        from wicsmmiretl_spark.operators.graph import degree_profile

        edges = [(0, 1), (1, 2), (2, 3), (3, 0)]
        row = degree_profile(spark.createDataFrame(edges, ["src", "dst"])).first()
        assert row["assortativity"] is None
        assert row["avg_degree"] == 2.0

    def test_matches_numpy_pearson_on_random_graph(self, spark):
        import random as _rnd

        import numpy as np

        from wicsmmiretl_spark.operators.graph import degree_profile

        rng = _rnd.Random(11)
        edges = sorted({tuple(sorted(rng.sample(range(12), 2))) for _ in range(30)})
        deg: dict[int, int] = {}
        for a, b in edges:
            deg[a] = deg.get(a, 0) + 1
            deg[b] = deg.get(b, 0) + 1
        xs = [deg[a] for a, b in edges] + [deg[b] for a, b in edges]
        ys = [deg[b] for a, b in edges] + [deg[a] for a, b in edges]
        expected = float(np.corrcoef(xs, ys)[0, 1])
        row = degree_profile(spark.createDataFrame(edges, ["src", "dst"])).first()
        assert abs(row["assortativity"] - round(expected, 6)) < 2e-6
        assert row["n_edges"] == len(edges)
        # canonicalization: reversed duplicate edges must not change anything
        rev = [(b, a) for a, b in edges]
        row2 = degree_profile(
            spark.createDataFrame(edges + rev, ["src", "dst"])
        ).first()
        assert row2 == row


class TestHits:
    def _local_hits(self, edges, iters, scale=10**9):
        nodes = sorted({x for e in edges for x in e})
        hub = {n: 1.0 for n in nodes}
        auth = {n: 0.0 for n in nodes}
        for _ in range(iters):
            ar = {n: 0 for n in nodes}
            for s, d in edges:
                ar[d] += round(hub[s] * scale)
            na = sum(ar.values())
            auth = {n: (ar[n] / na if na > 0 else 0.0) for n in nodes}
            hr = {n: 0 for n in nodes}
            for s, d in edges:
                hr[s] += round(auth[d] * scale)
            nh = sum(hr.values())
            hub = {n: (hr[n] / nh if nh > 0 else 0.0) for n in nodes}
        return hub, auth

    def test_matches_local_power_iteration_bitexact(self, spark):
        from wicsmmiretl_spark.operators.graph import hits

        random.seed(5)
        edges = sorted({(random.randint(1, 12), random.randint(100, 112)) for _ in range(60)})
        hub, auth = self._local_hits(edges, iters=3)
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.id: (r.hub, r.auth) for r in hits(df, iters=3).collect()}
        assert set(got) == set(hub)
        for n in hub:
            # scaled-int sums + exact-int norms make the scores bit-exact,
            # not merely close — that is the oracle contract.
            assert got[n][0] == hub[n], f"hub mismatch at {n}"
            assert got[n][1] == auth[n], f"auth mismatch at {n}"

    def test_authority_concentrates_on_shared_sink(self, spark):
        from wicsmmiretl_spark.operators.graph import hits

        # Every hub points at part 100; only hub 1 also points at 101.
        edges = [(1, 100), (2, 100), (3, 100), (1, 101)]
        df = spark.createDataFrame(edges, "src long, dst long")
        out = {r.id: r for r in hits(df, iters=2).collect()}
        assert out[100].auth > out[101].auth
        # Sources have no in-edges → auth 0; sinks no out-edges → hub 0.
        assert out[1].auth == 0.0 and out[100].hub == 0.0
        # Hub 1 endorses both parts, hubs 2/3 only one.
        assert out[1].hub > out[2].hub == out[3].hub

    def test_validates(self, spark):
        from wicsmmiretl_spark.operators.graph import hits

        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        with pytest.raises(ValueError, match="iters"):
            hits(df, iters=0)
        with pytest.raises(ValueError, match="column"):
            hits(df, src_col="nope")


class TestKcore:
    def _local_kcore(self, edges, k):
        es = {tuple(sorted(e)) for e in edges if e[0] != e[1]}
        while True:
            deg = {}
            for u, v in es:
                deg[u] = deg.get(u, 0) + 1
                deg[v] = deg.get(v, 0) + 1
            keep = {x for x, d in deg.items() if d >= k}
            nxt = {(u, v) for u, v in es if u in keep and v in keep}
            if nxt == es:
                break
            es = nxt
        deg = {}
        for u, v in es:
            deg[u] = deg.get(u, 0) + 1
            deg[v] = deg.get(v, 0) + 1
        return deg

    def _run(self, spark, edges, k):
        from wicsmmiretl_spark.operators.graph import kcore

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        return {r.id: r.deg for r in kcore(df, k=k).collect()}

    def test_clique_with_pendant_tail(self, spark):
        # K5 (degree 4 everywhere) with a pendant path hanging off it:
        # the 3-core is exactly the clique, and peeling the path takes
        # multiple cascade rounds (each round only exposes the next node).
        clique = [(i, j) for i in range(1, 6) for j in range(i + 1, 6)]
        tail = [(5, 10), (10, 11), (11, 12)]
        got = self._run(spark, clique + tail, k=3)
        assert got == {i: 4 for i in range(1, 6)}

    def test_matches_local_peeling_on_random_graph(self, spark):
        random.seed(11)
        edges = sorted({tuple(sorted((random.randint(1, 30), random.randint(1, 30))))
                        for _ in range(120)})
        edges = [e for e in edges if e[0] != e[1]]
        for k in (2, 4, 6):
            assert self._run(spark, edges, k) == self._local_kcore(edges, k)

    def test_empty_core_and_whole_graph_core(self, spark):
        tri = [(1, 2), (2, 3), (1, 3)]
        assert self._run(spark, tri, k=3) == {}          # collapses entirely
        assert self._run(spark, tri, k=2) == {1: 2, 2: 2, 3: 2}  # round-1 fixpoint

    def test_canonicalizes_input(self, spark):
        # Duplicates, reversed duplicates and self-loops must not inflate
        # degrees: (1,2) twice + (2,1) is ONE edge.
        edges = [(1, 2), (1, 2), (2, 1), (2, 2), (2, 3), (1, 3)]
        assert self._run(spark, edges, k=2) == {1: 2, 2: 2, 3: 2}

    def test_validates(self, spark):
        from wicsmmiretl_spark.operators.graph import kcore

        df = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        with pytest.raises(ValueError, match="k must"):
            kcore(df, k=0)
        with pytest.raises(ValueError, match="column"):
            kcore(df, k=2, a_col="nope")

    def test_batched_probe_cascade_and_round_budget(self, spark):
        """r15 batched peeling: a strict one-node-per-round cascade (each
        dropped endpoint only exposes the next) still converges exactly,
        the fixpoint detected across a probe batch is the single-round
        fixpoint (monotonicity argument in the kcore docstring), and
        max_rounds stays a PEEL budget — exhaustion before fixpoint
        raises. A budget that runs out on the fixpoint itself is confirmed
        by one extra count rather than rejected."""
        from wicsmmiretl_spark.operators.graph import kcore

        tri = [(100, 101), (101, 102), (100, 102)]
        tail = [(102, 1), (1, 2), (2, 3)]
        edges = tri + tail
        got = self._run(spark, edges, k=2)
        assert got == self._local_kcore(edges, k=2) == {100: 2, 101: 2, 102: 2}
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        # 3 cascade peels + a no-op confirmation batch fit in 6 peels...
        assert {r.id for r in kcore(df, k=2, max_rounds=6).collect()} == {100, 101, 102}
        # ...but a 2-peel budget exhausts mid-cascade and must raise.
        with pytest.raises(RuntimeError, match="fixpoint"):
            kcore(df, k=2, max_rounds=2).collect()

    @pytest.mark.parametrize("max_rounds", [3, 4])
    def test_budget_ending_on_the_fixpoint_converges(self, spark, max_rounds):
        """The cascade's peel depth is 3. A budget of exactly 3 peels (the
        last batch is a single peel) or of 4 (the last batch straddles the
        fixpoint) ends on a batch that changed the edge set; the run has
        converged, so it must return the core instead of raising."""
        from wicsmmiretl_spark.operators.graph import kcore

        edges = [(100, 101), (101, 102), (100, 102), (102, 1), (1, 2), (2, 3)]
        df = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {r.id: r.deg for r in kcore(df, k=2, max_rounds=max_rounds).collect()}
        assert got == {100: 2, 101: 2, 102: 2}


class TestPersonalizedPagerank:
    def _local_ppr(self, edges, seeds, iters, d=0.85, scale=10**12):
        nodes = sorted({x for e in edges for x in e})
        outdeg = {}
        for s, _t in edges:
            outdeg[s] = outdeg.get(s, 0) + 1
        ns = len(seeds)
        tele = {n: (1.0 / ns if n in seeds else 0.0) for n in nodes}
        pr = dict(tele)
        for _ in range(iters):
            inb = {n: 0 for n in nodes}
            for s, t in edges:
                inb[t] += round((pr[s] / outdeg[s]) * scale)
            dang = sum(round(pr[n] * scale) for n in nodes if n not in outdeg)
            pr = {
                n: (1.0 - d) * tele[n]
                + d * (inb[n] / scale + (dang / scale) * tele[n])
                for n in nodes
            }
        return pr

    def test_matches_local_replication_bitexact(self, spark):
        from wicsmmiretl_spark.operators.graph import personalized_pagerank

        random.seed(13)
        edges = sorted({(random.randint(1, 15), random.randint(1, 15)) for _ in range(40)})
        edges = [e for e in edges if e[0] != e[1]]
        seeds = {1, 2, 3}
        expect = self._local_ppr(edges, seeds, iters=3)
        df = spark.createDataFrame(edges, "src long, dst long")
        sdf = spark.createDataFrame([(s,) for s in seeds], "id long")
        got = {r.id: r.rank for r in personalized_pagerank(df, sdf, iters=3).collect()}
        assert set(got) == set(expect)
        for n in expect:
            assert got[n] == expect[n], f"rank mismatch at node {n}"

    def test_mass_stays_near_seeds(self, spark):
        from wicsmmiretl_spark.operators.graph import personalized_pagerank

        # Two disjoint chains; seeds only in the first — the second chain
        # must converge to rank 0 everywhere.
        edges = [(1, 2), (2, 3), (10, 11), (11, 12)]
        df = spark.createDataFrame(edges, "src long, dst long")
        seeds = spark.createDataFrame([(1,)], "id long")
        got = {r.id: r.rank for r in personalized_pagerank(df, seeds, iters=4).collect()}
        assert got[1] > 0 and got[2] > 0 and got[3] > 0
        assert got[10] == got[11] == got[12] == 0.0

    def test_validates(self, spark):
        import pytest as _pytest

        from wicsmmiretl_spark.operators.graph import personalized_pagerank

        df = spark.createDataFrame([(1, 2)], "src long, dst long")
        seeds = spark.createDataFrame([(1,)], "id long")
        with _pytest.raises(ValueError, match="iters"):
            personalized_pagerank(df, seeds, iters=0)
        with _pytest.raises(ValueError, match="column"):
            personalized_pagerank(df, seeds, seed_col="nope")


class TestLinkPrediction:
    def _run(self, spark, edges, **kw):
        from wicsmmiretl_spark.operators.graph import link_prediction

        df = spark.createDataFrame(edges, "id_a long, id_b long")
        return {
            (r.u, r.w): (r.cn, r.jaccard, r.ra)
            for r in link_prediction(df, **kw).collect()
        }

    def test_square_predicts_both_diagonals(self, spark):
        # Square 1-2-3-4-1: diagonals (1,3) and (2,4) each share two
        # degree-2 common neighbors → cn=2, jaccard=2/(2+2-2)=1.0,
        # ra=2*(1/2)=1.0. Adjacent pairs must NOT appear.
        got = self._run(spark, [(1, 2), (2, 3), (3, 4), (1, 4)])
        assert got == {(1, 3): (2, 1.0, 1.0), (2, 4): (2, 1.0, 1.0)}

    def test_hub_center_contributes_little_ra(self, spark):
        # z is a hub joined to 1..5; pair (1,2) also shares a degree-2
        # friend f. RA through the hub = 1/6 each; through f = 1/2.
        hub = [(100, i) for i in range(1, 6)] + [(100, 6)]
        friend = [(50, 1), (50, 2)]
        got = self._run(spark, hub + friend)
        cn, jac, ra = got[(1, 2)]
        assert cn == 2
        assert ra == round(1.0 / 6 + 1.0 / 2, 6)
        # Pairs sharing ONLY the hub score the minimum ra.
        assert got[(3, 4)][2] == round(1.0 / 6, 6)

    def test_center_degree_cap_prunes_hub_wedges(self, spark):
        hub = [(100, i) for i in range(1, 6)] + [(100, 6)]
        friend = [(50, 1), (50, 2)]
        got = self._run(spark, hub + friend, max_center_degree=3)
        # The degree-6 hub is pruned AS A CENTER: (3,4)-style pairs that
        # existed only through it vanish, and (1,2)'s count drops to the
        # single low-degree center f. Pairs INVOLVING the hub still form
        # through low-degree centers (nodes 1/2 connect 50 and 100).
        assert set(got) == {(1, 2), (50, 100)}
        assert got[(1, 2)][0] == 1

    def test_validates(self, spark):
        import pytest as _pytest

        from wicsmmiretl_spark.operators.graph import link_prediction

        df = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
        with _pytest.raises(ValueError, match="column"):
            link_prediction(df, a_col="nope")
