"""Wave-17 operator unit tests: viewshed occlusion hand cases,
deviational-ellipse closed forms, isochrone banding, and KWIC edge
windows."""


def test_viewshed_wall_blocks(spark):
    from bano_spark.operators.raster import viewshed

    # flat plane z=0 along a row, a wall z=10 at gx=2; observer at
    # gx=0 (eye z=1). gx=1 visible; gx=2 (the wall top, angle 9/2)
    # visible; gx=3 blocked by the wall (-1/3 < 9/2); a tower z=30
    # at gx=4 sees over it (29/4 > 9/2)
    dem = spark.createDataFrame(
        [(0, 0, 0), (1, 0, 0), (2, 0, 10), (3, 0, 0), (4, 0, 30)],
        "gx long, gy long, z long")
    out = {r["gx"]: r for r in
           viewshed(dem, 0, 0, h=1.0, radius=6).collect()}
    assert out[1]["visible"] and out[1]["max_block_angle"] is None
    assert out[2]["visible"] and out[2]["target_angle"] == 9.0 / 2
    assert not out[3]["visible"]
    assert out[3]["max_block_angle"] == 4.5  # the wall at dist 2
    assert out[4]["visible"] and out[4]["target_angle"] == 29.0 / 4


def test_viewshed_tie_blocks(spark):
    from bano_spark.operators.raster import viewshed

    # target exactly grazing the blocker's angle: 5/1 vs 10/2 — equal
    # angles, strict > rule -> blocked
    dem = spark.createDataFrame(
        [(0, 0, 0), (1, 0, 5), (2, 0, 10)],
        "gx long, gy long, z long")
    out = {r["gx"]: r for r in
           viewshed(dem, 0, 0, h=0.0, radius=3).collect()}
    assert not out[2]["visible"]
    assert out[2]["target_angle"] == out[2]["max_block_angle"] == 5.0


def test_std_dev_ellipse_line(spark):
    from bano_spark.operators.spatialstats import std_deviational_ellipse

    # collinear points on y = x: orientation 45 deg, minor axis 0
    pts = spark.createDataFrame(
        [("g", float(i), float(i)) for i in range(5)],
        "grp string, x double, y double")
    r = std_deviational_ellipse(pts, ["grp"]).collect()[0]
    assert r["angle_deg"] == 45.0 and r["sigma_minor"] == 0.0
    assert r["mean_x"] == 2.0 and r["mean_y"] == 2.0
    # var along the line: var(x)+var(y) = 2+2 -> sigma_major = 2
    assert r["sigma_major"] == 2.0

    # a single point or zero-variance group drops
    degen = spark.createDataFrame([("a", 1.0, 1.0), ("a", 1.0, 1.0)],
                                  "grp string, x double, y double")
    assert std_deviational_ellipse(degen, ["grp"]).count() == 0


def test_kwic_edge_windows(spark):
    from bano_spark.operators.textstats import kwic_concordance

    docs = spark.createDataFrame(
        [(1, "the quick brown fox the end the")],
        "doc_id long, text string")
    out = {r["pos"]: r for r in
           kwic_concordance(docs, "the", 2).collect()}
    assert out[1]["left_ctx"] == "" and out[1]["right_ctx"] == "quick brown"
    assert out[5]["left_ctx"] == "brown fox" and out[5]["right_ctx"] == "end the"
    assert out[7]["left_ctx"] == "the end" and out[7]["right_ctx"] == ""


def test_isochrone_bands_path(spark):
    from bano_spark.operators.graph import sssp_weighted
    from pyspark.sql import functions as F

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 2, 1.0), (2, 3, 3.0)],
        "u long, v long, w double")
    seeds = spark.createDataFrame([(0,)], "node long")
    d = sssp_weighted(edges, seeds, src="u", dst="v", weight="w")
    bands = {r["band"]: r["n"] for r in
             (d.groupBy(F.floor(F.col("dist") / 2.0).alias("band"))
              .agg(F.count(F.lit(1)).alias("n")).collect())}
    # dists 0,1,2,5 -> bands 0:{0,1}, 1:{2}, 2:{5}
    assert bands == {0: 2, 1: 1, 2: 1}
