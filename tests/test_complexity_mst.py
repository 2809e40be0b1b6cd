"""Waves 67-70 kernel tests: Boruvka MST against a brute-force
Kruskal replay on random graphs (both contraction paths), LZ78
against a pure-Python greedy parse, permutation entropy against a
direct pattern count, Hurst slope sanity on persistent vs
anti-persistent constructions, and Grubbs/AD pinned hand values."""

import math
import random

import pytest


def _kruskal(edges):
    """(u, v, w) list -> unique-MST edge set via sequential Kruskal
    with path-compressed union-find (pure Python reference)."""
    parent = {}

    def find(a):
        while parent.get(a, a) != a:
            parent[a] = parent.get(parent[a], parent[a])
            a = parent[a]
        return a

    out = []
    for u, v, w in sorted(edges, key=lambda e: e[2]):
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
            out.append((u, v, w))
    return set(out)


@pytest.mark.parametrize("seed,threshold", [(1, 2_000_000), (2, 0),
                                            (3, 2_000_000)])
def test_boruvka_matches_kruskal(spark, seed, threshold):
    """threshold=0 forces the distributed connected_components
    contraction path; the default exercises the driver union-find."""
    from bano_spark.operators.graph import boruvka_mst

    rng = random.Random(seed)
    n = 60
    # distinct weights (MST uniqueness contract) over a random graph
    # with two disconnected halves -> a FOREST, not a tree
    pairs = set()
    while len(pairs) < 150:
        half = rng.randrange(2)
        u = rng.randrange(30) + half * 30
        v = rng.randrange(30) + half * 30
        if u != v:
            pairs.add((min(u, v), max(u, v)))
    ws = rng.sample(range(1, 100000), len(pairs))
    edges = [(u, v, w) for (u, v), w in zip(sorted(pairs), ws)]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {(r["u"], r["v"], r["w"])
           for r in boruvka_mst(df, collect_threshold=threshold).collect()}
    assert got == _kruskal(edges)
    assert n >= 0  # silence unused


def _lz78(symbols):
    phrases, cur, cnt = set(), "", 0
    for x in symbols:
        p = x if cur == "" else cur + "|" + x
        if p in phrases:
            cur = p
        else:
            phrases.add(p)
            cnt += 1
            cur = ""
    return cnt + (1 if cur else 0)


def test_lz78_matches_python_parse(spark):
    from bano_spark.operators.eventflow import lz78_complexity

    rng = random.Random(7)
    rows = []
    expect = {}
    for k in range(8):
        syms = [rng.choice("abc") for _ in range(rng.randrange(5, 80))]
        expect[k] = _lz78(syms)
        rows += [(k, i, i, s) for i, s in enumerate(syms)]
    df = spark.createDataFrame(
        rows, "user_id int, ts long, event_id long, event_type string")
    out = {r["user_id"]: r["n_phrases"]
           for r in lz78_complexity(df).collect()}
    assert out == expect


def test_lz78_repetitive_vs_random():
    # aaaa... parses into O(sqrt n) phrases; it must undercut iid
    rng = random.Random(3)
    assert _lz78(["a"] * 100) < _lz78(
        [rng.choice("abcd") for _ in range(100)])


def test_permutation_entropy_counts(spark):
    from bano_spark.operators.temporal import permutation_entropy

    # strictly increasing -> single pattern '123', entropy 0
    inc = [(1, i, float(i)) for i in range(20)]
    # strict zigzag -> patterns alternate, entropy ln 2 (two patterns)
    zig = [(2, i, float(i % 2 * 10 - (i // 2))) for i in range(21)]
    df = spark.createDataFrame(inc + zig, "g int, seq int, v double")
    out = {r["g"]: r for r in
           permutation_entropy(df, "g", ["seq"], "v").collect()}
    assert out[1]["n_patterns"] == 1
    assert out[1]["perm_entropy"] == 0.0
    assert out[2]["n_patterns"] == 2


def test_hurst_persistent_exceeds_antipersistent(spark):
    from bano_spark.operators.temporal import hurst_rs

    # persistent: long monotone ramp; anti-persistent: alternation
    ramp = [(1, i, float(i)) for i in range(64)]
    alt = [(2, i, float(i % 2)) for i in range(64)]
    df = spark.createDataFrame(ramp + alt, "g int, seq int, v double")
    out = {r["g"]: r["hurst"]
           for r in hurst_rs(df, "g", ["seq"], "v").collect()}
    assert out[1] > 0.9          # trend -> H near 1
    assert out[2] < 0.3          # alternation -> H near 0
    assert out[1] > out[2]


def test_grubbs_hand_value(spark):
    from bano_spark.operators.quantiles import grubbs_statistic

    vals = [8.0, 9.0, 10.0, 11.0, 12.0, 30.0]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)],
        "g int, rid int, x double")
    row = grubbs_statistic(df, "g", "x", "rid").first()
    n = len(vals)
    mean = sum(vals) / n
    sd = math.sqrt(sum((v - mean) ** 2 for v in vals) / (n - 1))
    assert row["g_stat"] == pytest.approx(
        max(abs(v - mean) for v in vals) / sd, abs=1e-6)
    assert row["outlier_id"] == 5


def test_anderson_darling_uniform_hand_value(spark):
    from bano_spark.operators.quantiles import anderson_darling_uniform

    xs = [0.1, 0.3, 0.5, 0.7, 0.9]
    df = spark.createDataFrame([(1, x) for x in xs], "g int, x double")
    n = len(xs)
    s = sum((2 * (i + 1) - 1) * (math.log(x) + math.log(1 - xs[n - i - 2 + 1]))
            for i, x in enumerate(xs))
    a2 = -n - s / n
    row = anderson_darling_uniform(df, "g", "x").first()
    assert row["a_squared"] == pytest.approx(a2, abs=1e-6)
    assert row["n_out_of_bounds"] == 0


def test_knapsack_brute_force(spark):
    from itertools import combinations

    from bano_spark.operators.selection import knapsack_01

    rng = random.Random(13)
    rows, expect = [], {}
    cap = 15
    for g in range(4):
        items = [(i, rng.randrange(1, 8), rng.randrange(1, 30))
                 for i in range(9)]
        best = 0
        for r in range(len(items) + 1):
            for sub in combinations(items, r):
                if sum(w for _, w, _ in sub) <= cap:
                    best = max(best, sum(v for _, _, v in sub))
        expect[g] = best
        rows += [(g, i, w, v) for i, w, v in items]
    df = spark.createDataFrame(rows, "g int, rid long, wt long, val long")
    out = {r["g"]: r["best_value"]
           for r in knapsack_01(df, "g", "wt", "val", "rid",
                                capacity=cap).collect()}
    assert out == expect
