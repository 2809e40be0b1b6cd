"""Spatial join engine: generic (non-rectangular) polygons, broadcast vs
shuffle paths, refine-fan-out invariance, tiling special cases."""

from pyspark.sql import functions as F, types as T

from bano_spark import synth
from bano_spark.geo import tiles
from bano_spark.operators import pip_join
from bano_spark.operators.pip_join import polygon_cover, spatial_join
from bano_spark.operators.tiling import eligible_communes, expired_tiles_to_insee

POLY_SCHEMA = T.StructType([
    T.StructField("poly_id", T.StringType()),
    T.StructField("verts", T.ArrayType(T.ArrayType(T.DoubleType()))),
])


def _triangle(spark):
    # triangle inside the synthetic region
    x0, y0 = synth.REG0, synth.REGY0
    verts = [[x0, y0], [x0 + 8000.0, y0], [x0 + 4000.0, y0 + 8000.0], [x0, y0]]
    return spark.createDataFrame([("tri", verts)], POLY_SCHEMA)


def _pts(spark, n=2000):
    return spark.sql(synth.points_select_sql("spark", f"(SELECT id AS event_id FROM range({n}))"))


def test_triangle_join_matches_barycentric_truth(spark):
    tri = _triangle(spark)
    pts = _pts(spark)
    got = spatial_join(pts, tri, id_col="poly_id", zoom=13)
    rows = got.select("event_id", "x", "y").collect()
    x0, y0 = synth.REG0, synth.REGY0
    # ground truth: y < 2*(x-x0) and y < -2*(x-(x0+8000)) and y >= y0
    truth = set()
    for r in pts.collect():
        dx, dy = r.x - x0, r.y - y0
        if 0 <= dy and dy < 2 * dx and dy < -2 * (dx - 8000):
            truth.add(r.event_id)
    assert {r.event_id for r in rows} == truth


def test_salted_join_same_result(spark):
    tri = _triangle(spark)
    pts = _pts(spark, 1000)
    plain = spatial_join(pts, tri, id_col="poly_id", zoom=13, broadcast=True)
    salted = spatial_join(pts, tri, id_col="poly_id", zoom=13, broadcast=False)
    assert sorted(r.event_id for r in plain.collect()) == sorted(
        r.event_id for r in salted.collect())


def test_polygon_cover_distributed(spark):
    polys = synth.commune_polygons_df(spark).withColumnRenamed("insee_com", "poly_id")
    cov = polygon_cover(polys.select("poly_id", "verts"), 12)
    per = {r["poly_id"]: r["n"] for r in cov.groupBy("poly_id").agg(
        F.count(F.lit(1)).alias("n")).collect()}
    # commune strips are ~10km wide; z12 cells are ~9.8km -> small covers
    # (the 90km-wide Paris umbrella polygon has the largest cover)
    assert all(1 <= n <= 40 for n in per.values())
    assert per["75056"] == max(per.values())


def test_tiling_excludes_paris_umbrella(spark):
    communes = synth.commune_polygons_df(spark)
    elig = {r.insee_com for r in eligible_communes(communes).select("insee_com").collect()}
    assert "75056" not in elig
    assert "75101" in elig and "01001" in elig


def test_expired_tiles_empty_commune_absent(spark):
    # tiles covering only commune 01001
    x0 = synth.REG0 + 100.0
    y0 = synth.REGY0 + 100.0
    z = tiles.DEFAULT_ZOOM
    t = spark.createDataFrame(
        [(z, tiles.py_tile_x(x0, z), tiles.py_tile_y(y0, z))], ["z", "x", "y"])
    got = [r.insee_com for r in
           expired_tiles_to_insee(t, synth.commune_polygons_df(spark), z).collect()]
    assert got == ["01001"]


def _circle(spark, n_verts=5000, r=4000.0):
    # many-vertex ring: regular polygon approximating a circle
    import math
    cx, cy = synth.REG0 + 6000.0, synth.REGY0 + 6000.0
    verts = [[cx + r * math.cos(2 * math.pi * i / n_verts),
              cy + r * math.sin(2 * math.pi * i / n_verts)]
             for i in range(n_verts)]
    verts.append(verts[0])
    return spark.createDataFrame([("circ", verts)], POLY_SCHEMA), (cx, cy, r)


def test_byte_gate_routes_huge_rings_to_shuffle_path(spark, monkeypatch):
    """VERDICT r2 #1: few-but-huge rings must take the shuffle path (the
    row-count probe alone would approve a driver collect) and still
    match the broadcast path exactly."""
    monkeypatch.setattr(pip_join, "BROADCAST_MAX_VERTS", 1000)
    poly, (cx, cy, r) = _circle(spark)
    pts = _pts(spark, 1500)
    auto = spatial_join(pts, poly, id_col="poly_id", zoom=13, broadcast=None)
    bcast = spatial_join(pts, poly, id_col="poly_id", zoom=13, broadcast=True)
    got = sorted(row.event_id for row in auto.collect())
    assert got == sorted(row.event_id for row in bcast.collect())
    # ground truth: inside the circle (regular-polygon boundary is within
    # ~r*(pi/n)^2 of the circle; keep a margin to dodge edge ambiguity)
    margin = 10.0
    inside = {row.event_id for row in pts.collect()
              if (row.x - cx) ** 2 + (row.y - cy) ** 2 < (r - margin) ** 2}
    outside = {row.event_id for row in pts.collect()
               if (row.x - cx) ** 2 + (row.y - cy) ** 2 > (r + margin) ** 2}
    assert inside <= set(got) and not (outside & set(got))


def test_shuffle_refine_salted_matches_broadcast(spark):
    """The ring-piggyback shuffle refine (VERDICT r2 #2), which fans each
    ring out REFINE_SALT ways, is output-invariant vs broadcast."""
    tri = _triangle(spark)
    pts = _pts(spark, 1200)
    bcast = spatial_join(pts, tri, id_col="poly_id", zoom=13, broadcast=True)
    shuf = spatial_join(pts, tri, id_col="poly_id", zoom=13,
                        broadcast=False, split_refine=True)
    assert sorted(row.event_id for row in shuf.collect()) == sorted(
        row.event_id for row in bcast.collect())


class TestDWithinPairs:
    def _brute(self, pts, d):
        out = set()
        for i, (ia, xa, ya) in enumerate(pts):
            for ib, xb, yb in pts[i + 1:]:
                if (xa - xb) ** 2 + (ya - yb) ** 2 <= d * d:
                    out.add((min(ia, ib), max(ia, ib)))
        return out

    def test_cross_cell_completeness(self, spark):
        """Pairs straddling cell borders at the auto zoom must be found
        (the candidate set is a k-ring, not the home cell)."""
        from bano_spark.operators.knn_join import dwithin_pairs
        from bano_spark.geo import tiles

        d = 200.0
        z = 17  # auto zoom for 200 m (cell edge 305.7 m >= d)
        assert tiles.cell_size(z) >= d > tiles.cell_size(z + 1)
        edge = tiles.cell_size(z)
        # a cluster laid across a cell corner: neighbours in x, y and
        # the diagonal, plus one far point that must NOT pair
        x0 = tiles.ORIGIN + 1000 * edge
        y0 = -tiles.ORIGIN - 1000 * edge
        pts = [(0, x0 - 5.0, y0 - 5.0), (1, x0 + 5.0, y0 - 5.0),
               (2, x0 - 5.0, y0 + 5.0), (3, x0 + 5.0, y0 + 5.0),
               (4, x0 + 150.0, y0 + 150.0), (5, x0 + 10_000.0, y0)]
        df = spark.createDataFrame(pts, ["pid", "x", "y"])
        got = {(r.pid_a, r.pid_b) for r in
               dwithin_pairs(df, df, d, left_id="pid", right_id="pid",
                             dedup_pairs=True).collect()}
        assert got == self._brute(pts, d)
        assert not any(5 in p for p in got)

    def test_capped_zoom_grows_ring(self, spark):
        """When max_zoom caps the grid below the auto zoom, k grows so
        the candidate set stays complete."""
        from bano_spark.operators.knn_join import dwithin_pairs
        from bano_spark.geo import tiles

        d, z = 900.0, 18  # cell edge 152.9 m << d -> k = ceil(900/152.9) = 6
        edge = tiles.cell_size(z)
        x0 = tiles.ORIGIN + 4000 * edge
        y0 = -tiles.ORIGIN - 4000 * edge
        pts = [(0, x0, y0), (1, x0 + 880.0, y0), (2, x0, y0 + 880.0),
               (3, x0 + 880.0, y0 + 880.0), (4, x0 + 2500.0, y0)]
        df = spark.createDataFrame(pts, ["pid", "x", "y"])
        got = {(r.pid_a, r.pid_b) for r in
               dwithin_pairs(df, df, d, left_id="pid", right_id="pid",
                             zoom=z, dedup_pairs=True).collect()}
        assert got == self._brute(pts, d)  # (0,3) is ~1245 m: excluded

    def test_two_sided_join_keeps_ids(self, spark):
        from bano_spark.operators.knn_join import dwithin_pairs

        left = spark.createDataFrame([(10, 0.0, 0.0)], ["lid", "x", "y"])
        right = spark.createDataFrame(
            [(20, 30.0, 40.0), (21, 500.0, 0.0)], ["rid", "x", "y"])
        rows = dwithin_pairs(left, right, 100.0, left_id="lid",
                             right_id="rid").collect()
        assert [(r.lid, r.rid, r.d2) for r in rows] == [(10, 20, 2500.0)]
