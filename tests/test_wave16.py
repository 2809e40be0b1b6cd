"""Wave-16 operator unit tests: D8 direction on a hand bowl (codes,
ties, sinks), flow accumulation on a line and a Y-confluence,
nearest-site exactness incl. the escalation round, variogram
closed-form on three points, and token chunk boundaries."""

import hashlib
import math


def test_d8_direction_bowl_and_ties(spark):
    from bano_spark.operators.raster import d8_flow_direction

    # 3x3 bowl: center z=0, cardinals z=2, diagonals z=3
    rows = []
    for gx in range(3):
        for gy in range(3):
            if (gx, gy) == (1, 1):
                z = 0
            elif gx == 1 or gy == 1:
                z = 2
            else:
                z = 3
            rows.append((gx, gy, z))
    dem = spark.createDataFrame(rows, "gx long, gy long, z long")
    out = {(r["gx"], r["gy"]): r for r in d8_flow_direction(dem).collect()}
    assert out[(1, 1)]["dir"] == 0 and out[(1, 1)]["drop_per_cell"] == 0.0
    # west cardinal neighbor (0,1) flows east to the center: code 1
    assert out[(0, 1)]["dir"] == 1 and out[(0, 1)]["drop_per_cell"] == 2.0
    assert out[(2, 1)]["dir"] == 16  # east cell flows west
    assert out[(1, 2)]["dir"] == 4   # north cell flows south
    assert out[(1, 0)]["dir"] == 64  # south cell flows north
    # corner (0,0): diagonal to center drop 3/sqrt2=2.12 beats the
    # cardinal neighbors (drop 1); NE from (0,0) is code 128
    assert out[(0, 0)]["dir"] == 128
    assert out[(0, 0)]["drop_per_cell"] == round(3 / math.sqrt(2), 6)


def test_d8_direction_tie_smallest_code(spark):
    from bano_spark.operators.raster import d8_flow_direction

    # center with two equal cardinal drops: E (code 1) and S (code 4)
    dem = spark.createDataFrame(
        [(1, 1, 5), (2, 1, 3), (1, 0, 3), (0, 1, 9), (1, 2, 9)],
        "gx long, gy long, z long")
    out = {(r["gx"], r["gy"]): r for r in d8_flow_direction(dem).collect()}
    assert out[(1, 1)]["dir"] == 1  # E wins the tie over S


def test_d8_accumulation_line_and_confluence(spark):
    from bano_spark.operators.raster import d8_flow_accumulation

    # line: z decreases eastward -> acc accumulates 1,2,3,4
    line = spark.createDataFrame([(gx, 0, 10 - gx) for gx in range(4)],
                                 "gx long, gy long, z long")
    acc = {r["gx"]: r["acc"] for r in
           d8_flow_accumulation(line).collect()}
    assert acc == {0: 1, 1: 2, 2: 3, 3: 4}

    # Y: two branches (z=5) join at (1,0) z=1 which drains to (2,0) z=0
    y = spark.createDataFrame(
        [(0, 1, 5), (0, -1, 5), (1, 0, 1), (2, 0, 0)],
        "gx long, gy long, z long")
    out = {(r["gx"], r["gy"]): r["acc"] for r in
           d8_flow_accumulation(y).collect()}
    assert out[(1, 0)] == 3 and out[(2, 0)] == 4
    assert out[(0, 1)] == 1 and out[(0, -1)] == 1


def test_nearest_site_exact_and_escalation(spark):
    from bano_spark.operators.spatialstats import nearest_site_join

    sites = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 100.0, 0.0), (3, 5000.0, 5000.0)],
        "site_id long, x double, y double")
    pts = spark.createDataFrame(
        [(10, 10.0, 0.0),      # near site 1
         (11, 60.0, 0.0),      # nearer site 2
         (12, 4000.0, 4000.0),  # escalates: ring-1 at cell=50 is empty
         (13, 50.0, 0.0)],     # exact tie site1/site2 -> smaller id
        "event_id long, x double, y double")
    out = {r["event_id"]: r for r in
           nearest_site_join(pts, sites, 50.0, max_rounds=12).collect()}
    assert out[10]["site_id"] == 1 and out[10]["nn_dist"] == 10.0
    assert out[11]["site_id"] == 2 and out[11]["nn_dist"] == 40.0
    assert out[12]["site_id"] == 3
    assert out[12]["nn_dist"] == round(math.hypot(1000, 1000), 6)
    assert out[13]["site_id"] == 1 and out[13]["nn_dist"] == 50.0


def test_variogram_three_points(spark):
    from bano_spark.operators.spatialstats import empirical_variogram

    # pairs: (0,0,10)-(3,4,14): dist 5, dz 4; (0,0,10)-(6,8,10):
    # dist 10, dz 0; (3,4,14)-(6,8,10): dist 5, dz -4
    s = spark.createDataFrame(
        [(0.0, 0.0, 10), (3.0, 4.0, 14), (6.0, 8.0, 10)],
        "x double, y double, z long")
    out = {r["bin"]: r for r in
           empirical_variogram(s, 12.0, 3).collect()}
    # bin width 4: dist 5 -> bin 1 (two pairs), dist 10 -> bin 2
    assert out[1]["n_pairs"] == 2 and out[1]["gamma"] == 8.0
    assert out[1]["rms_dist"] == 5.0
    assert out[2]["n_pairs"] == 1 and out[2]["gamma"] == 0.0
    assert out[2]["lag_lo"] == 8.0 and out[2]["lag_hi"] == 12.0


def test_token_chunks_boundaries(spark):
    from bano_spark.operators.textstats import token_chunks

    words = " ".join(f"w{i}" for i in range(10))
    docs = spark.createDataFrame(
        [(1, words), (2, "single"), (3, "   ")],
        "doc_id long, text string")
    out = [r for r in token_chunks(docs, 4, 3).collect()]
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_no"])
    # starts 1,4,7,10: sizes 4,4,4,1
    assert [r["start_tok"] for r in c1] == [1, 4, 7, 10]
    assert [r["n_tokens"] for r in c1] == [4, 4, 4, 1]
    exp = hashlib.md5("w0 w1 w2 w3".encode()).hexdigest()
    assert c1[0]["chunk_md5"] == exp
    assert by_doc[2][0]["n_tokens"] == 1
    # whitespace-only text splits to [''] (1 token) after trim-lower;
    # the operator keeps it: a cleaning-stage concern upstream
    assert 3 in by_doc
