"""Waves 76-78 kernel tests: hash walks vs a Python walk replay,
Huffman cost vs the sorted-heap reference, and the Hilbert bijection
sanity on the audit lattice."""

import hashlib
import heapq
import random


def test_hash_walks_match_python(spark):
    from bano_spark.operators.graph import hash_random_walks

    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("c", "d")]
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    adj = {k: sorted(v) for k, v in adj.items()}

    def draw(s, c, t):
        h = hashlib.md5(f"{s}|{c}|{t}".encode()).hexdigest()[:8]
        return int(h, 16)

    expect = set()
    for s in adj:
        cur = s
        expect.add((s, 0, s))
        for t in range(1, 6):
            nb = adj[cur]
            cur = nb[draw(s, cur, t) % len(nb)]
            expect.add((s, t, cur))
    df = spark.createDataFrame(edges, "src string, dst string")
    got = {(r["start"], r["step"], r["node"])
           for r in hash_random_walks(df, walk_len=5).collect()}
    assert got == expect


def test_huffman_cost_matches_heap(spark):
    from bano_spark.operators.temporal import huffman_cost

    rng = random.Random(23)
    rows = [(0, rng.choice("aaaabbbccd")) for _ in range(200)]
    freq = {}
    for _, s in rows:
        freq[s] = freq.get(s, 0) + 1
    h = sorted(freq.values())
    heapq.heapify(h)
    cost = 0
    while len(h) > 1:
        a, b = heapq.heappop(h), heapq.heappop(h)
        cost += a + b
        heapq.heappush(h, a + b)
    df = spark.createDataFrame(rows, "g int, sym string")
    row = huffman_cost(df, "g", "sym").first()
    assert row["huffman_bits"] == cost


def test_skyline_no_dominated_survivor(spark):
    from bano_spark.operators.selection import skyline_2d

    rng = random.Random(29)
    pts = [(i, rng.randrange(100), rng.randrange(100))
           for i in range(300)]
    df = spark.createDataFrame([(0, i, x, y) for i, x, y in pts],
                               "g int, rid long, x long, y long")
    got = [(r["x"], r["y"]) for r in
           skyline_2d(df, "g", "x", "y", "rid").collect()]
    brute = [(x, y) for _, x, y in pts
             if not any((bx >= x and by >= y and (bx > x or by > y))
                        for _, bx, by in pts)]
    assert sorted(got) == sorted(brute)
