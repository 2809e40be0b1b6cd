"""geodesy operators: polyline length vs the numpy kernel, geohash vs
an independent pure-Python bit-walk encoder, segment crossing vs a
brute-force cross join."""

import random

import pytest
from pyspark.sql import types as T

from bano_spark.geo import geometry
from bano_spark.operators import geodesy


def _ref_geohash(lon, lat, precision):
    """Independent reference: classic interval-halving geohash (no bit
    arithmetic shared with the implementation under test)."""
    alphabet = "0123456789bcdefghjkmnpqrstuvwxyz"
    lo_lon, hi_lon, lo_lat, hi_lat = -180.0, 180.0, -90.0, 90.0
    bits, out, even = [], [], True
    while len(bits) < 5 * precision:
        if even:
            mid = (lo_lon + hi_lon) / 2
            if lon >= mid:
                bits.append(1); lo_lon = mid
            else:
                bits.append(0); hi_lon = mid
        else:
            mid = (lo_lat + hi_lat) / 2
            if lat >= mid:
                bits.append(1); lo_lat = mid
            else:
                bits.append(0); hi_lat = mid
        even = not even
    for k in range(precision):
        chunk = bits[5 * k:5 * k + 5]
        out.append(alphabet[sum(b << (4 - i) for i, b in enumerate(chunk))])
    return "".join(out)


def test_polyline_length_matches_numpy_kernel(spark):
    verts = [[2.0, 45.0], [2.01, 45.002], [2.02, 45.0], [2.05, 45.01]]
    df = spark.createDataFrame(
        [(1, verts)],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("verts", T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]))
    got = df.select(geodesy.polyline_length_m("verts").alias("m")).head()[0]
    import numpy as np
    a = np.array(verts)
    want = float(geometry.haversine_m(
        a[:-1, 0], a[:-1, 1], a[1:, 0], a[1:, 1]).sum())
    assert got == pytest.approx(want, rel=1e-12)


def test_polyline_length_degenerate(spark):
    df = spark.createDataFrame(
        [(1, [[2.0, 45.0]]), (2, [])],
        T.StructType([
            T.StructField("id", T.LongType()),
            T.StructField("verts", T.ArrayType(T.ArrayType(T.DoubleType()))),
        ]))
    rows = df.select("id", geodesy.polyline_length_m("verts").alias("m")) \
             .collect()
    assert {r["id"]: r["m"] for r in rows} == {1: 0.0, 2: 0.0}


@pytest.mark.parametrize("precision", [4, 5, 6])
def test_geohash_matches_reference_encoder(spark, precision):
    rng = random.Random(42 + precision)
    pts = [(i, rng.uniform(-179.9, 179.9), rng.uniform(-89.9, 89.9))
           for i in range(200)]
    # well-known anchor too (geohash.org example)
    pts.append((999, -5.6, 42.6))
    df = spark.createDataFrame(pts, ["id", "lon", "lat"])
    got = {r["id"]: r["gh"]
           for r in geodesy.with_geohash(df, "lon", "lat", precision, "gh")
           .collect()}
    for i, lon, lat in pts:
        assert got[i] == _ref_geohash(lon, lat, precision), (i, lon, lat)
    if precision == 5:
        assert got[999] == "ezs42"


def test_segment_intersections_matches_bruteforce(spark):
    rng = random.Random(7)
    a = [(i, float(rng.randint(0, 40)), float(rng.randint(0, 40)),
          0.0, 0.0) for i in range(60)]
    a = [(i, x, y, x + rng.randint(1, 6), y + rng.randint(-6, 6))
         for i, x, y, _, _ in a]
    b = [(j, float(rng.randint(0, 40)), float(rng.randint(0, 40)),
          0.0, 0.0) for j in range(60)]
    b = [(j, x, y, x + rng.randint(1, 6), y + rng.randint(-6, 6))
         for j, x, y, _, _ in b]
    df_a = spark.createDataFrame(
        [(i, float(x1), float(y1), float(x2), float(y2))
         for i, x1, y1, x2, y2 in a],
        ["a_id", "ax1", "ay1", "ax2", "ay2"])
    df_b = spark.createDataFrame(
        [(j, float(x1), float(y1), float(x2), float(y2))
         for j, x1, y1, x2, y2 in b],
        ["b_id", "bx1", "by1", "bx2", "by2"])

    def ccw(ax, ay, bx, by, cx, cy):
        return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)

    want = set()
    for i, ax1, ay1, ax2, ay2 in a:
        for j, bx1, by1, bx2, by2 in b:
            d1 = ccw(ax1, ay1, ax2, ay2, bx1, by1)
            d2 = ccw(ax1, ay1, ax2, ay2, bx2, by2)
            d3 = ccw(bx1, by1, bx2, by2, ax1, ay1)
            d4 = ccw(bx1, by1, bx2, by2, ax2, ay2)
            if d1 * d2 < 0 and d3 * d4 < 0:
                want.add((i, j))
    for cell in (4.0, 16.0):
        got = {(r["a_id"], r["b_id"]) for r in
               geodesy.segment_intersections_join(df_a, df_b, cell=cell)
               .collect()}
        assert got == want
