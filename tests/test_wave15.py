"""Wave-15 operator unit tests: Horn slope/aspect on an analytic plane
(exact closed form), supercover rasterization against a brute-force
dense-sampling twin plus edge cases (vertical / horizontal /
degenerate / diagonal), per-period Gi* moments, emerging-hot-spot
categories on planted trends, and the Kulldorff scan finding a planted
cluster."""

import math


def test_slope_aspect_analytic_plane(spark):
    from bano_spark.operators.raster import slope_aspect

    # plane z = 3*gx + 4*gy: Horn recovers dz/dx = 3/cell exactly
    cell = 10.0
    rows = [(gx, gy, 3 * gx + 4 * gy)
            for gx in range(5) for gy in range(5)]
    dem = spark.createDataFrame(rows, "gx long, gy long, z long")
    out = slope_aspect(dem, cell).collect()
    # 5x5 grid -> 3x3 interior
    assert len(out) == 9
    for r in out:
        assert r["dz_dx"] == 0.3 and r["dz_dy"] == 0.4
        assert r["slope_deg"] == round(math.degrees(math.atan(0.5)), 6)
        assert r["aspect_deg"] == round(
            math.degrees(math.atan2(0.4, 0.3)), 6)


def test_slope_aspect_drops_border_and_holes(spark):
    from bano_spark.operators.raster import slope_aspect

    rows = [(gx, gy, gx + gy) for gx in range(5) for gy in range(5)
            if not (gx == 2 and gy == 2)]  # hole at the center
    dem = spark.createDataFrame(rows, "gx long, gy long, z long")
    got = {(r["gx"], r["gy"]) for r in slope_aspect(dem, 1.0).collect()}
    # every 3x3 interior cell is Chebyshev-1 from the hole, so each
    # loses a neighbor and drops; the hole itself is unoccupied
    assert got == set()


def _brute_supercover(x1, y1, x2, y2, g, samples=200001):
    cells = set()
    for i in range(samples):
        t = i / (samples - 1)
        x = x1 + t * (x2 - x1)
        y = y1 + t * (y2 - y1)
        cells.add((math.floor(x / g), math.floor(y / g)))
    return cells


def test_supercover_matches_dense_sampling(spark):
    from bano_spark.operators.raster import segment_supercover

    segs = [(1, 0.5, 0.5, 9.3, 4.7),    # generic slope
            (2, 3.2, 8.9, 3.2, 0.1),    # vertical
            (3, 0.1, 2.5, 9.9, 2.5),    # horizontal
            (4, 5.5, 5.5, 5.5, 5.5),    # degenerate point
            (5, 8.7, 1.2, 0.3, 9.8)]    # negative slope
    df = spark.createDataFrame(
        segs, "seg_id long, x1 double, y1 double, x2 double, y2 double")
    out = segment_supercover(df, 1.0).collect()
    got = {}
    for r in out:
        got.setdefault(r["seg_id"], set()).add((r["cx"], r["cy"]))
    for sid, x1, y1, x2, y2 in segs:
        assert got[sid] == _brute_supercover(x1, y1, x2, y2, 1.0), sid


def test_supercover_exact_diagonal_corner(spark):
    from bano_spark.operators.raster import segment_supercover

    # exact lattice diagonal (0,0)->(3,3): x and y crossings coincide
    # at corners, producing zero-length intervals that must NOT leak
    # spurious cells — only the 3 cells crossed with positive measure
    # survive (off-diagonal cells are touched at measure-zero corners)
    df = spark.createDataFrame([(1, 0.0, 0.0, 3.0, 3.0)],
                               "seg_id long, x1 double, y1 double, "
                               "x2 double, y2 double")
    got = {(r["cx"], r["cy"])
           for r in segment_supercover(df, 1.0).collect()}
    assert got == {(0, 0), (1, 1), (2, 2)}


def test_getis_ord_grid_by_moments(spark):
    from bano_spark.operators.spatialstats import getis_ord_grid_by

    # single period, 3x3 full block values 1..9: every neighborhood
    # of the center covers the whole lattice -> center drops (mi==n);
    # corner cells keep mi=4 < 9
    rows = [(gx, gy, "d1", gx * 3 + gy + 1)
            for gx in range(3) for gy in range(3)]
    cells = spark.createDataFrame(rows,
                                  "cx long, cy long, day string, v long")
    out = {(r["cx"], r["cy"]): r["gi_z"]
           for r in getis_ord_grid_by(cells).collect()}
    assert (1, 1) not in out
    n, vals = 9, [r[3] for r in rows]
    mean = sum(vals) / n
    s = math.sqrt(sum(v * v for v in vals) / n - mean * mean)
    si = sum(v for (gx, gy, _, v) in rows if gx <= 1 and gy <= 1)
    exp = (si - mean * 4) / (s * math.sqrt((n * 4 - 16) / (n - 1)))
    assert abs(out[(0, 0)] - exp) < 1e-12


def test_emerging_hotspots_planted_trend(spark):
    from bano_spark.operators.spatialstats import emerging_hotspots

    # 4x4 lattice, 8 periods: cell (0,0) ramps 10,20,...,80 over a
    # VARIED static background (5 + (gx+gy) % 7 — a uniform flat
    # background makes the corner's gi_z constant in t, since the
    # numerator and the global std both scale linearly). Computed
    # series: corner z rises -1.64 -> 1.55 monotonically (MK trend
    # z = 3.34, last z = 1.55); the far corner decays (trend -3.34,
    # last -0.34: cooling but never hot and not heating -> none).
    rows = []
    for t in range(8):
        for gx in range(4):
            for gy in range(4):
                v = (10 * (t + 1) if (gx, gy) == (0, 0)
                     else 5 + (gx + gy) % 7)
                rows.append((gx, gy, f"d{t}", v))
    cells = spark.createDataFrame(rows,
                                  "cx long, cy long, day string, v long")
    out = {(r["cx"], r["cy"]): r for r in
           emerging_hotspots(cells, z_hot=1.0, z_trend=1.0).collect()}
    assert out[(0, 0)]["category"] == "intensifying"
    # a far cell sees its z DROP as the hot corner inflates the mean
    assert out[(3, 3)]["category"] == "none"
    assert all(r["n_periods"] == 8 for r in out.values())


def test_kulldorff_finds_planted_cluster(spark):
    from bano_spark.operators.spatialstats import kulldorff_scan

    # uniform background 5, one 3x3 block at (10..12) with 50 each
    rows = []
    for gx in range(20):
        for gy in range(20):
            v = 50 if 10 <= gx <= 12 and 10 <= gy <= 12 else 5
            rows.append((gx, gy, v))
    cells = spark.createDataFrame(rows, "cx long, cy long, v long")
    top = kulldorff_scan(cells, max_radius=2, top=3).collect()
    best = top[0]
    assert (best["cx"], best["cy"], best["rho"]) == (11, 11, 1)
    assert best["n_in"] == 9 * 50 and best["m_cells"] == 9
    assert top[0]["llr"] >= top[1]["llr"] >= top[2]["llr"]
