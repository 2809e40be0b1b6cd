"""Kernel tests for wave 109: Sutherland–Hodgman tile clipping vs a
pure-Python SH replay — rectangles, non-convex L (bridging edges),
degenerate collapse, cover fan-out, and exact integer conservation on
power-of-two diamonds."""

from __future__ import annotations

import pytest

from pyspark.sql import types as T

from bano_spark.operators.clipping import clip_to_tiles

TS = 64.0


def _inside(side, b, p):
    x, y = p
    return {"xmin": x >= b, "xmax": x <= b,
            "ymin": y >= b, "ymax": y <= b}[side]


def _isect(side, b, prev, cur):
    px, py = prev
    cx, cy = cur
    if side in ("xmin", "xmax"):
        t = (b - px) / (cx - px)
        return (b, py + (cy - py) * t)
    t = (b - py) / (cy - py)
    return (px + (cx - px) * t, b)


def _sh_pass(ring, side, b):
    if len(ring) < 4:
        return []
    out = []
    for i in range(len(ring) - 1):
        prev, cur = ring[i], ring[i + 1]
        ic, ip = _inside(side, b, cur), _inside(side, b, prev)
        if ic and ip:
            out.append(cur)
        elif ic:
            out.append(_isect(side, b, prev, cur))
            out.append(cur)
        elif ip:
            out.append(_isect(side, b, prev, cur))
    if len(out) < 3:
        return []
    return out + [out[0]]


def _clip(ring, tx, ty, ts=TS):
    r = ring
    for side, b in [("xmin", tx * ts), ("xmax", (tx + 1) * ts),
                    ("ymin", ty * ts), ("ymax", (ty + 1) * ts)]:
        r = _sh_pass(r, side, b)
    return r


def _replay(rings, ts=TS):
    out = {}
    for pid, ring in rings:
        xs = [p[0] for p in ring]
        ys = [p[1] for p in ring]
        for tx in range(int(min(xs) // ts), int(max(xs) // ts) + 1):
            for ty in range(int(min(ys) // ts), int(max(ys) // ts) + 1):
                c = _clip(ring, tx, ty, ts)
                if c:
                    out[(pid, tx, ty)] = [tuple(p) for p in c]
    return out


def _twoa(ring):
    return sum(ring[i][0] * ring[i + 1][1] - ring[i + 1][0] * ring[i][1]
               for i in range(len(ring) - 1))


RINGS = [
    # rect spanning a 2x2 tile block
    ("rect", [[30.0, 30.0], [100.0, 30.0], [100.0, 90.0], [30.0, 90.0],
              [30.0, 30.0]]),
    # rect fully inside one tile
    ("inner", [[10.0, 10.0], [20.0, 10.0], [20.0, 20.0], [10.0, 20.0],
               [10.0, 10.0]]),
    # concave L crossing a vertical boundary (SH bridging edges)
    ("ell", [[40.0, 10.0], [90.0, 10.0], [90.0, 30.0], [50.0, 30.0],
             [50.0, 110.0], [40.0, 110.0], [40.0, 10.0]]),
    # triangle with a vertex exactly ON a tile boundary
    ("tri", [[50.0, 40.0], [64.0, 50.0], [50.0, 60.0], [50.0, 40.0]]),
    # diamond, power-of-two radius, crossing both boundaries
    ("dia", [[95.0, 65.0], [63.0, 97.0], [31.0, 65.0], [63.0, 33.0],
             [95.0, 65.0]]),
]


@pytest.fixture(scope="module")
def frags(spark):
    schema = T.StructType([
        T.StructField("poly_id", T.StringType()),
        T.StructField("verts", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ])
    df = spark.createDataFrame([(p, r) for p, r in RINGS], schema)
    rows = clip_to_tiles(df, TS).collect()
    return {(r["poly_id"], r["tx"], r["ty"]):
            ([tuple(p) for p in r["clipped"]], r["twoa_clip"])
            for r in rows}


def test_matches_python_replay(frags):
    exp = _replay(RINGS)
    assert set(frags) == set(exp)
    for k, ring in exp.items():
        assert frags[k][0] == ring, k


def test_area_conservation(frags):
    for pid, ring in RINGS:
        total = sum(a for (p, _, _), (_, a) in frags.items() if p == pid)
        assert total == pytest.approx(_twoa(ring), abs=1e-9), pid


def test_concave_bridging_edges_cancel(frags):
    # the L's right fragment is bridged along x=64 but its area is
    # still exactly the geometric overlap: 26x20 rectangle
    ring, twoa = frags[("ell", 1, 0)]
    assert twoa == 2 * (90.0 - 64.0) * 20.0


def test_boundary_vertex_degenerate(frags):
    # 'tri' touches x=64 at a single vertex: classic SH emits the
    # zero-area triple point in the right tile (I == cur == I), which
    # contributes nothing to conservation
    ring, twoa = frags[("tri", 1, 0)]
    assert twoa == 0.0
    assert set(ring) == {(64.0, 50.0)} and len(ring) == 4
    assert frags[("tri", 0, 0)][1] > 0


def test_orientation_preserved(frags):
    # all input rings are CCW; every fragment stays CCW (2A >= 0,
    # equality only for boundary-degenerate slivers)
    for k, (_, twoa) in frags.items():
        assert twoa >= 0, k
