"""Round-4 waves 28-34 kernel tests: Ritter circle cover +
near-optimality, Croston pinned to a hand fold, and Kaplan-Meier
against the textbook example."""

import math

import pytest


def test_ritter_circle_covers_all_points(spark):
    from bano_spark.operators.spatialstats import ritter_bounding_circle

    # deterministic pseudo-random cloud
    pts = [(i, float((i * 2654435761 + 7) % 997),
            float((i * 40503 + 13) % 1009)) for i in range(200)]
    df = spark.createDataFrame(
        [(0, i, x, y) for i, x, y in pts],
        "g int, event_id long, x double, y double")
    row = ritter_bounding_circle(df, ["g"], id_col="event_id").first()
    cx, cy, r = row["center_x"], row["center_y"], row["radius"]
    dmax = max(math.hypot(x - cx, y - cy) for _, x, y in pts)
    # covers every point (up to the 1e-6 output rounding)
    assert dmax <= r + 1e-5
    # within Ritter's documented ~5% overshoot of ANY enclosing circle:
    # half the cloud diameter lower-bounds the optimal radius
    diam = max(math.hypot(ax - bx, ay - by)
               for _, ax, ay in pts for _, bx, by in pts)
    assert r <= 1.10 * diam / 2 + 1e-6


def test_croston_hand_fold(spark):
    from bano_spark.operators.temporal import croston_last

    # series: 0 0 4 0 2 0 0 6 ; alpha 0.5
    vals = [0.0, 0.0, 4.0, 0.0, 2.0, 0.0, 0.0, 6.0]
    df = spark.createDataFrame(
        [(1, i, v) for i, v in enumerate(vals)],
        "k int, seq int, y double")
    row = croston_last(df, "k", ["seq"], "y", alpha=0.5).first()
    # init at first demand (pos 3): z=4, p=3, q=0
    z, p, q = 4.0, 3.0, 0.0
    for v in vals[3:]:
        if v > 0:
            z = 0.5 * v + 0.5 * z
            p = 0.5 * (q + 1) + 0.5 * p
            q = 0.0
        else:
            q += 1
    assert row["n_periods"] == 8
    assert row["n_demands"] == 3
    assert row["demand_size"] == pytest.approx(z, abs=1e-6)
    assert row["interval"] == pytest.approx(p, abs=1e-6)
    assert row["rate_forecast"] == pytest.approx(z / p, abs=1e-6)


def test_kaplan_meier_textbook(spark):
    from bano_spark.operators.temporal import kaplan_meier

    # the standard 6-subject example: events at 1, 4, 6; censored 2, 3, 5
    data = [(1.0, True), (2.0, False), (3.0, False),
            (4.0, True), (5.0, False), (6.0, True)]
    df = spark.createDataFrame(data, "duration double, observed boolean")
    rows = {r["duration"]: r for r in kaplan_meier(df).collect()}
    assert set(rows) == {1.0, 4.0, 6.0}
    assert rows[1.0]["n_risk"] == 6
    assert rows[1.0]["survival"] == pytest.approx(5 / 6, abs=1e-6)
    assert rows[4.0]["n_risk"] == 3
    assert rows[4.0]["survival"] == pytest.approx((5 / 6) * (2 / 3),
                                                  abs=1e-6)
    assert rows[6.0]["n_risk"] == 1
    assert rows[6.0]["survival"] == pytest.approx(0.0, abs=1e-6)
