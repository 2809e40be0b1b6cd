"""Wave-18 operator unit tests: within-distance boundary semantics,
cost-distance closed forms (incl. the diagonal discount and the
cheap-detour case), region labels with isolated cells, and stitching
seams."""

import math


def test_within_distance_inclusive_boundary(spark):
    # the existing dwithin_pairs on its cross-table surface (distinct
    # id columns, dedup_pairs=False — the path the w76 self-join
    # never exercises)
    from bano_spark.operators.knn_join import dwithin_pairs

    pts = spark.createDataFrame([(1, 0.0, 0.0), (2, 7.0, 0.0)],
                                "event_id long, x double, y double")
    sites = spark.createDataFrame(
        [(10, 5.0, 0.0), (11, 0.0, 5.0), (12, 4.0, 4.0)],
        "site_id long, x double, y double")
    out = {(r["event_id"], r["site_id"]): r["d2"]
           for r in dwithin_pairs(pts, sites, 5.0, left_id="event_id",
                                  right_id="site_id").collect()}
    # exactly-at-radius pairs are INCLUDED (<=)
    assert out[(1, 10)] == 25.0 and out[(1, 11)] == 25.0
    assert (1, 12) not in out  # sqrt(32) > 5
    assert out[(2, 10)] == 4.0
    assert (2, 11) not in out


def test_cost_distance_line_and_diagonal(spark):
    from bano_spark.operators.raster import cost_distance

    # 1D: costs 2,4,2 -> moves cost 3 each
    line = spark.createDataFrame(
        [(0, 0, 2), (1, 0, 4), (2, 0, 2)],
        "gx long, gy long, cost long")
    out = {(r["gx"], r["gy"]): r["cost_dist"]
           for r in cost_distance(line, 0, 0).collect()}
    assert out[(0, 0)] == 0.0 and out[(1, 0)] == 3.0
    assert out[(2, 0)] == 6.0

    # 2x2 uniform cost 2: diagonal direct = 2*sqrt(2) ~ 2.83 beats
    # the two-step cardinal path (4.0)
    sq = spark.createDataFrame(
        [(0, 0, 2), (1, 0, 2), (0, 1, 2), (1, 1, 2)],
        "gx long, gy long, cost long")
    o2 = {(r["gx"], r["gy"]): r["cost_dist"]
          for r in cost_distance(sq, 0, 0).collect()}
    assert o2[(1, 1)] == round(2 * math.sqrt(2.0), 6)

    # cheap detour: going around a cost-100 wall wins
    det = spark.createDataFrame(
        [(0, 0, 1), (1, 0, 100), (2, 0, 1), (0, 1, 1), (1, 1, 1),
         (2, 1, 1)],
        "gx long, gy long, cost long")
    o3 = {(r["gx"], r["gy"]): r["cost_dist"]
          for r in cost_distance(det, 0, 0).collect()}
    # direct through the wall: 50.5 + 50.5 = 101; detour via (0,1),
    # (1,1), (2,1), down to (2,0): 1 + 1 + 1 = 3 then 1 down = 4;
    # better: diagonal (0,0)->(1,1) sqrt2, (1,1)->(2,0) diagonal sqrt2
    assert o3[(2, 0)] == round(2 * math.sqrt(2.0), 6)


def test_raster_regions_labels(spark):
    from bano_spark.operators.raster import raster_regions

    # two class-0 regions separated by a class-1 column; the isolated
    # class-1 cells are 4-connected vertically (one region)
    rows = [(0, 0, 0), (0, 1, 0), (2, 0, 0), (2, 1, 0),
            (1, 0, 1), (1, 1, 1), (5, 5, 7)]
    cells = spark.createDataFrame(rows, "gx long, gy long, cls long")
    out = {(r["gx"], r["gy"]): (r["region_gx"], r["region_gy"])
           for r in raster_regions(cells).collect()}
    assert out[(0, 0)] == out[(0, 1)] == (0, 0)
    assert out[(2, 0)] == out[(2, 1)] == (2, 0)
    assert out[(1, 0)] == out[(1, 1)] == (1, 0)
    assert out[(5, 5)] == (5, 5)  # isolated labels itself


def test_stitch_overlaps_planted_seam(spark):
    from bano_spark.operators.webtext import stitch_overlaps

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "epsilon zeta eta theta iota"),   # head2 == tail2 of 1
         (3, "unrelated words entirely here")],
        "doc_id long, text string")
    out = [(r["id_a"], r["id_b"], r["seam_gram"])
           for r in stitch_overlaps(docs, 2).collect()]
    assert out == [(1, 2, "epsilon zeta")]
