"""Wave-5 operator tests: trajectories, spatial stats, spherical area,
minhash containment, coverage gaps."""

import math

import pytest
from pyspark.sql import functions as F


def _df(spark, rows, schema):
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# trajectory
# ---------------------------------------------------------------------------


def test_staypoints_islands(spark):
    # user 1: dwell (3 pts within 50 m), jump 1000 m, dwell (2 pts —
    # below min_pts), user 2: one long dwell of 4
    rows = [
        (1, 1, 0.0, 0.0), (1, 2, 10.0, 0.0), (1, 3, 20.0, 5.0),
        (1, 4, 1020.0, 5.0), (1, 5, 1030.0, 5.0),
        (2, 1, 500.0, 500.0), (2, 2, 505.0, 500.0),
        (2, 3, 510.0, 500.0), (2, 4, 515.0, 500.0),
    ]
    from bano_spark.operators.trajectory import staypoints

    df = _df(spark, rows, "user_id long, ts long, x double, y double")
    out = staypoints(df, radius=50.0, min_pts=3).orderBy("user_id").collect()
    assert len(out) == 2
    u1, u2 = out
    assert (u1["user_id"], u1["n_pts"]) == (1, 3)
    assert u1["cx"] == pytest.approx(10.0)
    assert (u2["user_id"], u2["n_pts"]) == (2, 4)
    assert u2["cx"] == pytest.approx(507.5)


def test_trajectory_stats_straightness(spark):
    # straight east walk: straightness 1; back-and-forth: net 0
    rows = [(1, i, float(i * 100), 0.0) for i in range(1, 5)]
    rows += [(2, 1, 0.0, 0.0), (2, 2, 100.0, 0.0), (2, 3, 0.0, 0.0)]
    from bano_spark.operators.trajectory import trajectory_stats

    df = _df(spark, rows, "user_id long, ts long, x double, y double")
    out = {r["user_id"]: r for r in trajectory_stats(df).collect()}
    assert out[1]["total_dist_m"] == pytest.approx(300.0)
    assert out[1]["straightness"] == pytest.approx(1.0)
    assert out[2]["total_dist_m"] == pytest.approx(200.0)
    assert out[2]["net_disp_m"] == 0.0
    assert out[2]["straightness"] == 0.0


def test_move_sectors_classification(spark):
    # one step per compass direction, magnitude 100 (+ jitter on N)
    steps = {"N": (5.0, 100.0), "NE": (100.0, 100.0), "E": (100.0, -5.0),
             "SE": (100.0, -100.0), "S": (0.0, -100.0), "SW": (-100.0, -100.0),
             "W": (-100.0, 0.0), "NW": (-100.0, 100.0)}
    rows = []
    for i, (sec, (dx, dy)) in enumerate(sorted(steps.items())):
        rows += [(i, 1, 0.0, 0.0), (i, 2, dx, dy)]
    from bano_spark.operators.trajectory import move_sectors

    df = _df(spark, rows, "user_id long, ts long, x double, y double")
    out = {r["sector"]: r["n_moves"]
           for r in move_sectors(df, min_move=50.0).collect()}
    assert out == {s: 1 for s in steps}


def test_move_sectors_min_move_excludes_jitter(spark):
    rows = [(1, 1, 0.0, 0.0), (1, 2, 3.0, 4.0), (1, 3, 3.0, 104.0)]
    from bano_spark.operators.trajectory import move_sectors

    df = _df(spark, rows, "user_id long, ts long, x double, y double")
    out = move_sectors(df, min_move=50.0).collect()
    assert len(out) == 1 and out[0]["sector"] == "N" and out[0]["n_moves"] == 1


# ---------------------------------------------------------------------------
# spatial stats / geodesy / hex KDE
# ---------------------------------------------------------------------------


def test_moran_positive_for_clustered_lattice(spark):
    # two blobs: values 10 in one corner, 0 elsewhere -> positive I
    cells = [(q, r, 10.0 if q < 2 and r < 2 else 0.0)
             for q in range(5) for r in range(5)]
    from bano_spark.operators.spatialstats import moran_i_hex

    df = _df(spark, cells, "hq long, hr long, val double")
    row = moran_i_hex(df).collect()[0]
    assert row["n_cells"] == 25
    assert row["moran_i"] > 0.3


def test_moran_negative_for_checkerboard(spark):
    cells = [(q, r, float((q + r) % 2))
             for q in range(6) for r in range(6)]
    from bano_spark.operators.spatialstats import moran_i_hex

    df = _df(spark, cells, "hq long, hr long, val double")
    # hex ring-1 includes (1,-1)/(-1,1) which SHARE parity on q+r, so
    # the checkerboard is not perfectly anti-correlated — but still < 0
    assert moran_i_hex(df).collect()[0]["moran_i"] < 0


def test_spherical_area_matches_closed_form(spark):
    from bano_spark.operators.geodesy import spherical_ring_area_m2

    x0, y0, x1, y1 = 1000003.0, 2000000.0, 1010003.0, 2009503.0
    ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
    df = spark.createDataFrame([(ring,)], "verts array<array<double>>")
    got = df.select(spherical_ring_area_m2("verts").alias("a")).first()["a"]
    r_m, r_e = 6378137.0, 6371008.8
    lam0, lam1 = x0 / r_m, x1 / r_m
    phi0 = 2 * math.atan(math.exp(y0 / r_m)) - math.pi / 2
    phi1 = 2 * math.atan(math.exp(y1 / r_m)) - math.pi / 2
    want = r_e * r_e * (lam1 - lam0) * (math.sin(phi1) - math.sin(phi0))
    assert got == pytest.approx(want, rel=1e-9)
    # sanity: ~10 km x ~9.5 km at ~17.5 deg N, Mercator shrink ~cos(phi)^2
    assert got == pytest.approx(10000.0 * 9503.0 * math.cos(phi0) ** 2,
                                rel=0.01)


def test_hex_kde_weights(spark):
    # single occupied cell with a lone neighbor at ring 2
    from bano_spark.geo.hexgrid import hex_kring_weighted

    df = _df(spark, [(0, 0, 9.0), (2, 0, 3.0)], "hq long, hr long, val double")
    out = {(r["hq"], r["hr"]): r for r in hex_kring_weighted(df, k=2).collect()}
    # cell (0,0): itself w=3 val 9, ring-2 neighbor w=1 val 3 -> 30/4
    assert out[(0, 0)]["w_total"] == 4
    assert out[(0, 0)]["kde"] == pytest.approx(30.0 / 4.0)
    assert out[(2, 0)]["kde"] == pytest.approx((3 * 3.0 + 1 * 9.0) / 4.0)


# ---------------------------------------------------------------------------
# coverage gaps (engine path on the synth fixture)
# ---------------------------------------------------------------------------


def test_coverage_gap_antijoin(spark):
    from bano_spark import synth
    from bano_spark.operators.pip_join import spatial_join

    pts = _df(spark, [
        (1, 1005003.5, 2000500.25),   # inside 01001
        (2, 1500003.5, 2000500.25),   # east of everything
        (3, 1005003.5, 2500000.25),   # north of the band
    ], "event_id long, x double, y double")
    polys = synth.commune_polygons_df(spark).filter(F.col("admin_level") == 8)
    matched = spatial_join(pts, polys, id_col="insee_com")
    gaps = pts.join(matched.select("event_id").distinct(),
                    "event_id", "left_anti")
    assert sorted(r["event_id"] for r in gaps.collect()) == [2, 3]


# ---------------------------------------------------------------------------
# wave 5b: OD matrix, Getis-Ord, morphology, sketch containment
# ---------------------------------------------------------------------------


def test_od_matrix_first_last(spark):
    from bano_spark.geo import tiles
    from bano_spark.operators.trajectory import od_matrix

    rows = [(1, 1, 0.0, 0.0), (1, 2, 50000.0, 0.0), (1, 3, 100000.0, 0.0),
            (2, 1, 0.0, 0.0), (2, 2, 100000.0, 0.0)]
    df = _df(spark, rows, "user_id long, ts long, x double, y double")
    out = od_matrix(df, zoom=12).collect()
    assert len(out) == 1  # both users share the same O and D cells
    r = out[0]
    assert r["n_trips"] == 2
    assert r["d_tx"] - r["o_tx"] == int(100000.0 // tiles.cell_size(12))


def test_getis_ord_hotspot_sign(spark):
    from bano_spark.operators.spatialstats import getis_ord_hex

    cells = [(q, r, 100.0 if (q, r) == (2, 2) else 1.0)
             for q in range(5) for r in range(5)]
    df = _df(spark, cells, "hq long, hr long, val double")
    out = {(r["hq"], r["hr"]): r["gi_z"] for r in getis_ord_hex(df).collect()}
    # the outlier inflates the global s, capping its own z — still
    # clearly the hottest cell on the lattice
    assert out[(2, 2)] > 1.5 and out[(2, 2)] == max(out.values())
    assert out[(0, 0)] < 0            # a cold corner


def test_hex_morphology_classes(spark):
    from bano_spark.geo.hexgrid import hex_morphology

    # a filled ring-1 disk: center is interior, the 6 ring cells are
    # boundary, and the halo is ring 2 (12 cells)
    from bano_spark.geo.hexgrid import hex_kring_offsets

    disk = [(dq, dr) for dq, dr in hex_kring_offsets(1)]
    df = _df(spark, [(q, r, 1.0) for q, r in disk],
             "hq long, hr long, val double")
    out = hex_morphology(df).collect()
    by_cls = {}
    for r in out:
        by_cls.setdefault(r["cls"], []).append((r["hq"], r["hr"]))
    assert by_cls["interior"] == [(0, 0)]
    assert len(by_cls["boundary"]) == 6
    assert len(by_cls["halo"]) == 12


def test_minhash_containment_estimate_exact_dup(spark):
    from bano_spark.operators.dedup import (lsh_candidate_pairs,
                                            minhash_containment_estimate,
                                            minhash_signature,
                                            shingle_counts)

    text = " ".join(f"w{i}" for i in range(30))
    docs = _df(spark, [(1, text), (2, text)], "doc_id long, text string")
    sig = minhash_signature(docs)
    pairs = lsh_candidate_pairs(sig)
    out = minhash_containment_estimate(sig, shingle_counts(docs),
                                       pairs).collect()
    assert len(out) == 1
    r = out[0]
    # identical docs: est J = 1, I = (na+nb)/2 = na -> containment 1
    assert r["est_jaccard"] == 1.0
    assert r["est_cont_a_in_b"] == 1.0 and r["est_cont_b_in_a"] == 1.0


def test_shingle_counts(spark):
    from bano_spark.operators.dedup import shingle_counts

    docs = _df(spark, [(1, "a b c d"), (2, "x y")],
               "doc_id long, text string")
    got = {r["doc_id"]: r["n_shingles"] for r in shingle_counts(docs).collect()}
    assert got == {1: 2, 2: 1}  # 3-shingles: "a b c","b c d"; short doc -> 1


def test_latest_capture_keeps_freshest(spark):
    from bano_spark.operators.webtext import latest_capture

    rows = [(1, "2024-01-01 10:00:00", "u/a"),
            (1, "2024-01-02 10:00:00", "u/b"),
            (1, "2024-01-02 10:00:00", "u/c"),  # ts tie -> max url wins
            (2, "2024-01-01 00:00:00", "u/d")]
    df = spark.createDataFrame(
        rows, "page_key long, warc_ts string, url string"
    ).withColumn("warc_ts", F.col("warc_ts").cast("timestamp"))
    out = {r["page_key"]: r for r in latest_capture(df).collect()}
    assert out[1]["url"] == "u/c" and out[1]["n_captures"] == 3
    assert out[2]["url"] == "u/d" and out[2]["n_captures"] == 1


def test_trip_legs_complement_staypoints(spark):
    from bano_spark.operators.trajectory import trip_legs

    # dwell(3) -> 2 moving steps -> dwell(2) -> 1 moving step
    rows = [(1, 1, 0.0, 0.0), (1, 2, 10.0, 0.0), (1, 3, 20.0, 0.0),
            (1, 4, 1020.0, 0.0), (1, 5, 2020.0, 0.0),
            (1, 6, 2030.0, 0.0),
            (1, 7, 3030.0, 0.0)]
    df = _df(spark, rows, "user_id long, ts long, x double, y double")
    out = trip_legs(df, radius=50.0).orderBy("leg").collect()
    assert [(r["leg"], r["n_steps"], r["leg_dist_m"]) for r in out] == [
        (1, 2, 2000.0), (2, 1, 1000.0)]


def test_staypoints_partitioning_invariance(spark):
    """Same output at any input partitioning — the per-track windows
    must fully determine the result."""
    from bano_spark import synth
    from bano_spark.operators.trajectory import staypoints

    spark.read.parquet("/root/testdata/sf0.001/events.parquet") \
        .createOrReplaceTempView("events")
    traj = spark.sql(synth.traj_select_sql("spark"))
    a = staypoints(traj.repartition(7), radius=50.0, min_pts=3) \
        .orderBy("user_id", "ts_start").collect()
    b = staypoints(traj.coalesce(1), radius=50.0, min_pts=3) \
        .orderBy("user_id", "ts_start").collect()
    assert a == b and len(a) > 0


def test_turn_classification_exact_angles(spark):
    from bano_spark.operators.trajectory import turn_classification

    # E then E (straight), E then N (left 90), E then S (right 90),
    # E then W (u-turn); one user per case, jitter step filtered out
    cases = {"straight": (100.0, 0.0), "left": (0.0, 100.0),
             "right": (0.0, -100.0), "u_turn": (-100.0, 0.0)}
    rows = []
    for i, (name, (dx, dy)) in enumerate(sorted(cases.items())):
        rows += [(i, 1, 0.0, 0.0), (i, 2, 100.0, 0.0),
                 (i, 3, 100.0 + dx, dy)]
    df = _df(spark, rows, "user_id long, ts long, x double, y double")
    out = {r["turn"]: r["n_turns"]
           for r in turn_classification(df, min_move=50.0).collect()}
    assert out == {t: 1 for t in cases}


def test_colocation_same_bucket_and_distance_required(spark):
    from bano_spark.operators.trajectory import colocation_pairs

    rows = [
        # users 1/2: together in bucket 0 (50 m apart), bucket 1 far
        (1, 1, 0, 0.0, 0.0), (2, 2, 0, 50.0, 0.0),
        (1, 3, 1, 0.0, 0.0), (2, 4, 1, 50000.0, 0.0),
        # users 1/3: close but DIFFERENT buckets -> no pair
        (3, 5, 2, 0.0, 10.0), (1, 6, 3, 0.0, 0.0),
    ]
    df = _df(spark, rows,
             "user_id long, event_id long, bucket long, x double, y double")
    out = colocation_pairs(df, 200.0).collect()
    assert len(out) == 1
    assert (out[0]["track_a"], out[0]["track_b"], out[0]["n_buckets"]) == (1, 2, 1)


def test_compact_cells_exact_coverage(spark):
    """A full 4x4 block plus one stray cell: compaction at 2 levels
    must produce one z-2 parent + the stray at z, and expand back to
    exactly the input set."""
    from bano_spark.geo.tiles import compact_cells

    block = [(tx, ty) for tx in range(8, 12) for ty in range(20, 24)]
    cells = block + [(100, 200)]
    df = _df(spark, cells, "tx long, ty long")
    out = compact_cells(df, 10, levels=2).collect()
    got = sorted((r["z"], r["tx"], r["ty"]) for r in out)
    assert got == [(8, 2, 5), (10, 100, 200)]
    # expand the compacted set back to z10 and compare with the input
    expanded = set()
    for z, tx, ty in got:
        f = 2 ** (10 - z)
        for ax in range(tx * f, (tx + 1) * f):
            for ay in range(ty * f, (ty + 1) * f):
                expanded.add((ax, ay))
    assert expanded == set(cells)


def test_polyline_resample_on_straight_line(spark):
    from bano_spark.operators.geodesy import line_interpolate_point

    df = spark.createDataFrame(
        [([0.0, 600.0], [0.0, 0.0])], "xs array<double>, ys array<double>")
    pts = df.select(*[
        line_interpolate_point(i / 6.0, "xs", "ys").alias(f"p{i}")
        for i in range(1, 6)])
    row = pts.first()
    for i in range(1, 6):
        assert row[f"p{i}"]["px"] == pytest.approx(i * 100.0)


def test_simhash_hamming_pigeonhole_completeness(spark):
    """Pairs at exactly max_hamming must be found whichever bits
    differ (the pigeonhole guarantee), and the completeness
    precondition must fail loudly."""
    from bano_spark.operators.dedup import simhash_hamming_pairs

    base = 0b1010_1100_0011_0101
    rows = [(1, base),
            (2, base ^ 0b0000_0000_0000_0111),   # 3 bits, one band
            (3, base ^ 0b1000_0100_0010_0000),   # 3 bits, three bands
            (4, base ^ 0b1111_0000_0000_1111)]   # 8 bits -> excluded
    df = spark.createDataFrame(rows, "doc_id long, simhash long")
    out = {(r["id_a"], r["id_b"]): r["hamming"]
           for r in simhash_hamming_pairs(df, max_hamming=3).collect()}
    assert out[(1, 2)] == 3 and out[(1, 3)] == 3
    assert (1, 4) not in out and (2, 4) not in out
    assert (2, 3) not in out  # those two differ by 6 bits
    import pytest as _pt
    with _pt.raises(ValueError):
        simhash_hamming_pairs(df, max_hamming=4)


def test_uncompact_inverts_compact(spark):
    from bano_spark.geo.tiles import compact_cells, uncompact_cells

    cells = ([(tx, ty) for tx in range(8, 12) for ty in range(20, 24)]
             + [(0, 0), (5, 9)])
    df = _df(spark, cells, "tx long, ty long")
    back = uncompact_cells(compact_cells(df, 10, levels=2), 10).collect()
    assert sorted((r["tx"], r["ty"]) for r in back) == sorted(cells)
