"""ks_test and label_propagation vs brute-force Python ground truth —
identical/disjoint distributions, supremum location ties, planted
communities, and validation edges the sf0.01 oracle gate can't probe."""

from __future__ import annotations

import random

import pytest

from wicsmmiretl_spark.operators.aggregates import ks_test
from wicsmmiretl_spark.operators.graph import label_propagation


def _ks_brute(rows, ga, gb):
    a = sorted(v for g, v in rows if g == ga and v is not None)
    b = sorted(v for g, v in rows if g == gb and v is not None)
    na, nb = len(a), len(b)
    vals = sorted(set(a) | set(b))
    best = None
    for v in vals:
        ca = sum(1 for x in a if x <= v)
        cb = sum(1 for x in b if x <= v)
        diff = abs(ca * nb - cb * na)
        if best is None or diff > best[0]:
            best = (diff, v)
    return na, nb, round(best[0] / (na * nb), 6), best[1]


def test_ks_matches_brute_force(spark):
    rng = random.Random(31)
    rows = [("a", round(rng.gauss(0, 1), 2)) for _ in range(300)] + [
        ("b", round(rng.gauss(0.5, 1.5), 2)) for _ in range(200)
    ] + [("c", 99.0), ("a", None)]
    df = spark.createDataFrame(rows, "g: string, v: double")
    got = ks_test(df, "v", "g", "a", "b").collect()[0]
    assert (got["n_a"], got["n_b"], got["d"], got["d_at"]) == _ks_brute(rows, "a", "b")


def test_ks_identical_and_disjoint(spark):
    same = [("a", float(i)) for i in range(50)] + [("b", float(i)) for i in range(50)]
    df = spark.createDataFrame(same, "g: string, v: double")
    got = ks_test(df, "v", "g", "a", "b").collect()[0]
    assert got["d"] == 0.0
    disj = [("a", float(i)) for i in range(50)] + [("b", float(i + 100)) for i in range(50)]
    df = spark.createDataFrame(disj, "g: string, v: double")
    got = ks_test(df, "v", "g", "a", "b").collect()[0]
    assert got["d"] == 1.0 and got["d_at"] == 49.0
    with pytest.raises(ValueError, match="must differ"):
        ks_test(df, "v", "g", "a", "a")


def _lpa_brute(edges, rounds):
    und = set()
    for a, b in edges:
        if a is None or b is None or a == b:
            continue
        und.add((a, b))
        und.add((b, a))
    nodes = sorted({u for u, _ in und})
    labels = {n: n for n in nodes}
    for _ in range(rounds):
        new = {}
        for n in nodes:
            counts = {}
            for u, v in und:
                if u == n:
                    counts[labels[v]] = counts.get(labels[v], 0) + 1
            new[n] = min(counts, key=lambda l: (-counts[l], l))
        labels = new
    return labels


def test_lpa_matches_brute_force(spark):
    rng = random.Random(41)
    noisy = [(rng.randint(0, 30), rng.randint(0, 30)) for _ in range(120)]
    # K3,3 beside a 6-cycle: every node's first vote is a tie (3 and 2
    # distinct neighbor labels), so the lowest-label tiebreak decides every
    # label.
    k33 = [(a, b) for a in (100, 101, 102) for b in (103, 104, 105)]
    cycle = [(200 + i, 200 + (i + 1) % 6) for i in range(6)]
    for edges in (noisy, k33 + cycle):
        df = spark.createDataFrame(edges, "id_a: bigint, id_b: bigint")
        for rounds in (1, 3):
            got = {
                r["node"]: r["label"]
                for r in label_propagation(df, rounds=rounds).collect()
            }
            assert got == _lpa_brute(edges, rounds)


def test_lpa_planted_communities(spark):
    # Two cliques bridged by one edge: labels converge inside each clique.
    c1 = [(a, b) for a in range(5) for b in range(a + 1, 5)]
    c2 = [(a, b) for a in range(10, 15) for b in range(a + 1, 15)]
    edges = c1 + c2 + [(4, 10)]
    df = spark.createDataFrame(edges, "id_a: bigint, id_b: bigint")
    got = {
        r["node"]: r["label"] for r in label_propagation(df, rounds=3).collect()
    }
    assert len({got[n] for n in range(4)}) == 1
    assert len({got[n] for n in range(11, 15)}) == 1
    assert got[0] != got[14]
    with pytest.raises(ValueError, match="rounds"):
        label_propagation(df, rounds=0)


def _grouped_ks_brute(rows):
    import math as _math

    per_g = {}
    allv = []
    for g, v in rows:
        if g is None or v is None:
            continue
        per_g.setdefault(g, []).append(v)
        allv.append(v)
    n = len(allv)
    out = {}
    for g, vs in per_g.items():
        ng, nr = len(vs), n - len(vs)
        if nr == 0:
            continue
        rest = [v for gg, v in rows if gg is not None and v is not None and gg != g]
        best = None
        for v in sorted(set(allv)):
            cg = sum(1 for x in vs if x <= v)
            cr = sum(1 for x in rest if x <= v)
            diff = abs(cg * nr - cr * ng)
            if best is None or diff > best[0]:
                best = (diff, v)
        out[g] = (ng, nr, round(best[0] / (ng * nr), 6), best[1])
    return out


def test_grouped_ks_matches_brute_force(spark):
    from wicsmmiretl_spark.operators.aggregates import grouped_ks_report

    rng = random.Random(101)
    rows = [("a", round(rng.gauss(0, 1), 2)) for _ in range(200)]
    rows += [("b", round(rng.gauss(2, 1), 2)) for _ in range(150)]
    rows += [("c", round(rng.gauss(0, 3), 2)) for _ in range(100)]
    df = spark.createDataFrame(rows, "g: string, v: double")
    got = {
        r["g"]: (r["n_g"], r["n_rest"], r["d"], r["d_at"])
        for r in grouped_ks_report(df, "v", "g").collect()
    }
    assert got == _grouped_ks_brute(rows)
    # the shifted group must be the top drifter
    top = grouped_ks_report(df, "v", "g").collect()[0]
    assert top["g"] == "b"
