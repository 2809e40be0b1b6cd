"""Wave-19 operator unit tests: hillshade closed forms (flat plane,
uniform slope), marching-squares topology (single-corner case,
saddle, full/empty squares), LCSS identity/disjoint extremes, and
TextRank symmetry."""

import math

from bano_spark.operators.raster import (
    MS_SEGMENTS, contour_cells, hillshade, sun_vector,
)


def _grid(spark, zfn, n=5):
    rows = [(x, y, zfn(x, y)) for x in range(n) for y in range(n)]
    return spark.createDataFrame(rows, "gx long, gy long, z long")


def test_hillshade_flat_plane(spark):
    # zero gradient -> hs = 255 * lz everywhere, interior cells only
    dem = _grid(spark, lambda x, y: 7)
    out = hillshade(dem, 10.0).collect()
    assert len(out) == 9  # 3x3 interior of a 5x5
    _, _, lz = sun_vector(45.0, 315.0)
    want = round(255.0 * lz, 6)
    assert all(r["hillshade"] == want for r in out)


def test_hillshade_uniform_east_slope(spark):
    # z = 4x, cell = 1 -> dz/dx = 4, dz/dy = 0: one closed form
    dem = _grid(spark, lambda x, y: 4 * x)
    out = hillshade(dem, 1.0).collect()
    lx, ly, lz = sun_vector(45.0, 315.0)
    want = round(max(0.0, 255.0 * (lx * -4.0 + lz) / math.sqrt(17.0)), 6)
    assert all(r["hillshade"] == want for r in out)


def test_ms_topology_table_sane():
    # cases and complements carry the same segment count; saddles 2
    for c in range(16):
        assert len(MS_SEGMENTS[c]) == len(MS_SEGMENTS[15 - c])
    assert len(MS_SEGMENTS[5]) == 2 and len(MS_SEGMENTS[10]) == 2
    assert MS_SEGMENTS[0] == [] and MS_SEGMENTS[15] == []


def test_contour_single_corner(spark):
    # one square, only c00 above iso: case 1, one segment crossing
    # left + bottom edges at t = 0.5 -> length sqrt(0.5)/... with
    # z0=2, others 0, iso=1: t = (1-2)/(0-2) = 0.5 on both edges
    dem = spark.createDataFrame(
        [(0, 0, 2), (1, 0, 0), (1, 1, 0), (0, 1, 0)],
        "gx long, gy long, z long")
    out = contour_cells(dem, 1.0).collect()
    assert len(out) == 1
    r = out[0]
    assert r["case_id"] == 1 and r["n_segs"] == 1
    # endpoints (0, 0.5) and (0.5, 0)
    assert r["contour_len"] == round(math.hypot(0.5, 0.5), 6)


def test_contour_empty_and_full(spark):
    dem = spark.createDataFrame(
        [(x, y, z) for z, x0 in ((0, 0), (9, 10)) for x in (x0, x0 + 1)
         for y in (0, 1)],
        "gx long, gy long, z long")
    out = {(r["gx"], r["gy"]): r for r in
           contour_cells(dem, 4.5).collect()}
    assert out[(0, 0)]["case_id"] == 0 and out[(0, 0)]["n_segs"] == 0
    assert out[(10, 0)]["case_id"] == 15
    assert out[(10, 0)]["contour_len"] == 0.0


def test_contour_saddle_fixed_resolution(spark):
    # c00 and c11 above -> case 5: exactly two segments
    dem = spark.createDataFrame(
        [(0, 0, 2), (1, 0, 0), (1, 1, 2), (0, 1, 0)],
        "gx long, gy long, z long")
    r = contour_cells(dem, 1.0).collect()[0]
    assert r["case_id"] == 5 and r["n_segs"] == 2


def test_lcss_extremes(spark):
    from bano_spark.operators.trajectory import lcss_pairs

    rows = []
    for s in range(1, 5):
        rows += [(1, s, float(s), 0.0), (2, s, float(s), 0.0),
                 (3, s, float(s) + 100.0, 100.0)]
    traj = spark.createDataFrame(
        rows, "user_id long, seq int, x double, y double")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3)], "id_a long, id_b long")
    out = {(r["id_a"], r["id_b"]): (r["lcss_len"], r["lcss_sim"])
           for r in lcss_pairs(traj, pairs, 4, 1.0).collect()}
    assert out[(1, 2)] == (4, 1.0)   # identical tracks
    assert out[(1, 3)] == (0, 0.0)   # far apart everywhere


def test_lcss_shifted_subsequence(spark):
    from bano_spark.operators.trajectory import lcss_pairs

    # b equals a shifted by one step: LCS = r - 1
    a = [(1, s, float(s), 0.0) for s in range(1, 6)]
    b = [(2, s, float(s) + 1.0, 0.0) for s in range(1, 6)]
    traj = spark.createDataFrame(
        a + b, "user_id long, seq int, x double, y double")
    pairs = spark.createDataFrame([(1, 2)], "id_a long, id_b long")
    r = lcss_pairs(traj, pairs, 5, 0.5).collect()[0]
    assert r["lcss_len"] == 4


def test_textrank_symmetric_pair(spark):
    from bano_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", 1.0)], "src string, dst string, w double")
    out = {r["node"]: r["rank"]
           for r in pagerank(edges, weight="w", iters=5).collect()}
    assert out["a"] == out["b"] == 0.5
