"""Hex binning vs a reference cube-rounding implementation, and
Bellman-Ford SSSP vs brute-force Dijkstra on random graphs."""

import heapq
import math
import random

from bano_spark.geo.hexgrid import hex_bin
from bano_spark.operators.graph import sssp_weighted


def _ref_hex(x, y, size):
    fq = (math.sqrt(3) / 3 * x - y / 3) / size
    fr = (2 / 3 * y) / size
    cx, cz = fq, fr
    cy = -cx - cz
    rx, ry, rz = round(cx), round(cy), round(cz)
    dx, dy, dz = abs(rx - cx), abs(ry - cy), abs(rz - cz)
    if dx > dy and dx > dz:
        rx = -ry - rz
    elif dy > dz:
        ry = -rx - rz
    else:
        rz = -rx - ry
    return int(rx), int(rz)


def _hex_center(q, r, size):
    x = size * math.sqrt(3) * (q + r / 2.0)
    y = size * 1.5 * r
    return x, y


def test_hex_centers_map_to_own_cell(spark):
    size = 700.0
    cells = [(q, r) for q in range(-3, 4) for r in range(-3, 4)]
    rows = [(i, *_hex_center(q, r, size))
            for i, (q, r) in enumerate(cells)]
    df = spark.createDataFrame(rows, "id int, x double, y double")
    out = {r.id: (r.hq, r.hr) for r in hex_bin(df, size).collect()}
    for i, (q, r) in enumerate(cells):
        assert out[i] == (q, r)


def test_hex_matches_reference_on_random_points(spark):
    rng = random.Random(3)
    size = 123.5
    rows = [(i, rng.uniform(-1e5, 1e5), rng.uniform(-1e5, 1e5))
            for i in range(500)]
    df = spark.createDataFrame(rows, "id int, x double, y double")
    out = {r.id: (r.hq, r.hr) for r in hex_bin(df, size).collect()}
    for i, x, y in rows:
        assert out[i] == _ref_hex(x, y, size), (i, x, y)


def test_hex_cells_are_contiguous_and_bounded(spark):
    # every point is within circumradius of its cell center
    rng = random.Random(9)
    size = 50.0
    rows = [(i, rng.uniform(-1e3, 1e3), rng.uniform(-1e3, 1e3))
            for i in range(200)]
    df = spark.createDataFrame(rows, "id int, x double, y double")
    for r in hex_bin(df, size).collect():
        cx, cy = _hex_center(r.hq, r.hr, size)
        d = math.hypot(r.x - cx, r.y - cy)
        assert d <= size * 1.0000001


def _dijkstra(adj, n, seed=0):
    dist = {seed: 0.0}
    pq = [(0.0, seed)]
    while pq:
        d, u = heapq.heappop(pq)
        if d > dist.get(u, math.inf):
            continue
        for v, w in adj.get(u, []):
            nd = d + w
            if nd < dist.get(v, math.inf):
                dist[v] = nd
                heapq.heappush(pq, (nd, v))
    return dist


def test_sssp_matches_dijkstra_random_graphs(spark):
    rng = random.Random(11)
    for trial in range(3):
        n = 25
        edges = []
        for _ in range(60):
            u, v = rng.randrange(n), rng.randrange(n)
            if u != v:
                edges.append((u, v, float(rng.randint(1, 9))))
        adj = {}
        for u, v, w in edges:
            adj.setdefault(u, []).append((v, w))
            adj.setdefault(v, []).append((u, w))
        # parallel edges: keep the min like the operator does
        exp = _dijkstra(adj, n)
        df = spark.createDataFrame(edges, "u int, v int, w double")
        seeds = spark.createDataFrame([(0,)], "node int")
        got = {r.node: r.dist
               for r in sssp_weighted(df, seeds, src="u", dst="v",
                                      weight="w").collect()}
        assert got == exp, f"trial {trial}"


def test_sssp_rejects_negative_weights(spark):
    df = spark.createDataFrame([(0, 1, -1.0)], "u int, v int, w double")
    seeds = spark.createDataFrame([(0,)], "node int")
    try:
        sssp_weighted(df, seeds, src="u", dst="v", weight="w")
        assert False, "expected ValueError"
    except ValueError:
        pass


def test_kring_offsets_counts():
    from bano_spark.geo.hexgrid import hex_kring_offsets
    for k in (0, 1, 2, 3):
        offs = hex_kring_offsets(k)
        assert len(offs) == 3 * k * (k + 1) + 1
        assert len(set(offs)) == len(offs) and (0, 0) in offs


def test_hex_kring_smooth_isolated_cell(spark):
    # one occupied cell far from everything: ring mean == own value
    vals = spark.createDataFrame(
        [(0, 0, 4.0), (100, 100, 8.0), (101, 100, 2.0)],
        "hq bigint, hr bigint, val double")
    from bano_spark.geo.hexgrid import hex_kring_smooth
    out = {(r.hq, r.hr): (r.n_neighbors, r.ring_mean)
           for r in hex_kring_smooth(vals, k=1).collect()}
    assert out[(0, 0)] == (1, 4.0)
    assert out[(100, 100)] == (2, 5.0)  # (101,100) is an axial neighbor
    assert out[(101, 100)] == (2, 5.0)


def _ref_interp(pts, frac):
    lens = [math.hypot(pts[i + 1][0] - pts[i][0], pts[i + 1][1] - pts[i][1])
            for i in range(len(pts) - 1)]
    tgt = frac * sum(lens)
    cum = 0.0
    for i, ln in enumerate(lens):
        if ln > 0 and cum + ln >= tgt:
            t = (tgt - cum) / ln
            return (pts[i][0] + (pts[i + 1][0] - pts[i][0]) * t,
                    pts[i][1] + (pts[i + 1][1] - pts[i][1]) * t)
        cum += ln
    return pts[-1]


def test_line_interpolate_matches_reference(spark):
    from bano_spark.operators.geodesy import line_interpolate_point
    rng = random.Random(17)
    rows = []
    expect = {}
    for lid in range(40):
        n = rng.randint(2, 10)
        pts = [(rng.uniform(-50, 50), rng.uniform(-50, 50))
               for _ in range(n)]
        rows.append((lid, [p[0] for p in pts], [p[1] for p in pts]))
        expect[lid] = _ref_interp(pts, 0.37)
    df = spark.createDataFrame(rows,
                               "id int, xs array<double>, ys array<double>")
    out = {r.id: r.p for r in
           df.select("id", line_interpolate_point(0.37).alias("p")).collect()}
    for lid, (ex, ey) in expect.items():
        assert abs(out[lid].px - ex) < 1e-9 and abs(out[lid].py - ey) < 1e-9
