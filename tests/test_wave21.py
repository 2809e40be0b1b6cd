"""Wave-21 operator unit tests: region dissolve closed forms, TWI on a
tilted plane, Knox on a planted cluster, LLR sanity, and mirror
jaccard arithmetic."""

import math


def test_region_stats_square_and_line(spark):
    from bano_spark.operators.raster import region_stats

    rows = [(x, y, 0, 0, 0) for x in range(2) for y in range(2)]
    rows += [(x, 5, 1, 0, 5) for x in range(4)]
    lab = spark.createDataFrame(
        rows, "gx long, gy long, cls int, region_gx long, region_gy long")
    out = {r["cls"]: r for r in region_stats(lab).collect()}
    # 2x2 square: area 4, perimeter 8, iso = 16*4/64 = 1.0
    assert (out[0]["area_cells"], out[0]["perimeter"],
            out[0]["iso_quotient"]) == (4, 8, 1.0)
    # 4x1 line: area 4, perimeter 10, iso = 64/100
    assert (out[1]["area_cells"], out[1]["perimeter"],
            out[1]["iso_quotient"]) == (4, 10, 0.64)


def test_twi_tilted_plane(spark):
    from bano_spark.operators.raster import topographic_wetness

    # z = 3x over a 5x5 grid, cell = 1: tan(slope) = 3 everywhere;
    # flow runs -x; accumulation along each row: 1..5 from east edge
    dem = spark.createDataFrame(
        [(x, y, 3 * x) for x in range(5) for y in range(5)],
        "gx long, gy long, z long")
    out = {(r["gx"], r["gy"]): r for r in
           topographic_wetness(dem, 1.0).collect()}
    # interior cells only (Horn) -> gx in 1..3
    for (gx, gy), r in out.items():
        assert 1 <= gx <= 3 and 1 <= gy <= 3
        assert r["twi"] == round(math.log(r["acc"] * 1.0 / 3.0), 6)
    # accumulation grows toward -x: cell (1, 2) received flow from
    # the full row to its east
    assert out[(1, 2)]["acc"] > out[(3, 2)]["acc"]


def test_knox_planted_burst(spark):
    from bano_spark.operators.spatialstats import knox_test

    # 4 points co-located in space AND time (a burst) + 4 far/late
    rows = [(i, float(i), 0.0, float(i)) for i in range(4)]
    rows += [(10 + i, 10000.0 * (i + 1), 0.0, 100000.0 * (i + 1))
             for i in range(4)]
    pts = spark.createDataFrame(rows, "id long, x double, y double, t double")
    r = knox_test(pts, 10.0, 10.0).collect()[0]
    assert r["n_points"] == 8
    assert r["n_space_pairs"] == 6 and r["n_time_pairs"] == 6
    assert r["n_joint_pairs"] == 6
    # expected = 6*6/28; ratio = 6/expected = 28/6
    assert r["knox_ratio"] == round(28.0 / 6.0, 6)


def test_bigram_llr_contingency(spark):
    from bano_spark.operators.textstats import bigram_llr

    # "a b" always together, "c d"/"c e" split -> LLR(a,b) > LLR(c,d)
    docs = spark.createDataFrame(
        [(i, "a b c d" if i % 2 == 0 else "a b c e")
         for i in range(10)],
        "doc_id long, text string")
    out = {(r["w1"], r["w2"]): r for r in
           bigram_llr(docs, min_count=1).collect()}
    assert out[("a", "b")]["k11"] == 10
    assert out[("a", "b")]["llr"] > out[("c", "d")]["llr"]
    assert out[("c", "d")]["k11"] == 5


def test_host_mirrors_jaccard(spark):
    from bano_spark.operators.webtext import host_mirrors

    rows = [("h1", "x"), ("h1", "y"), ("h2", "x"), ("h2", "y"),
            ("h2", "y"), ("h3", "z")]
    df = spark.createDataFrame(rows, "host string, text string")
    out = host_mirrors(df, "host", min_jaccard=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["host_a"], r["host_b"], r["inter_size"],
            r["jaccard"]) == ("h1", "h2", 2, 1.0)
