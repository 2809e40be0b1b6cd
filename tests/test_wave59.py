"""Hand-computed checks for the wave-59 operators: Tissot distortion,
circular dispersion."""

from bano_spark.operators.geodesy import tissot_mercator_stats
from bano_spark.operators.trajectory import circular_dispersion


def test_tissot_equator_and_60n(spark):
    pts = spark.createDataFrame([(1, 0.0), (2, 60.0)],
                                "user_id bigint, lat double")
    out = {r["user_id"]: r for r in
           tissot_mercator_stats(pts).collect()}
    assert out[1]["mean_scale"] == 1.0
    assert abs(out[2]["mean_scale"] - 2.0) < 1e-6  # sec(60) = 2
    assert abs(out[2]["mean_areal"] - 4.0) < 1e-5


def test_circular_dispersion_concentrated_vs_uniform(spark):
    # all moves due east -> R ~ 1, tiny variance, huge kappa;
    # 4 cardinal moves -> R = 0, variance 1, kappa ~ 0
    rows = [(1, 1.0, 0.0)] * 8 + \
           [(2, 1.0, 0.0), (2, -1.0, 0.0), (2, 0.0, 1.0), (2, 0.0, -1.0)]
    df = spark.createDataFrame(rows, "user_id bigint, dx double, dy double")
    out = {r["user_id"]: r for r in circular_dispersion(df).collect()}
    assert out[1]["circ_var"] < 1e-5
    assert out[1]["mean_bearing_deg"] == 0.0
    assert out[1]["kappa"] > 1e5  # capped-R concentrated branch
    assert out[2]["circ_var"] == 1.0
    assert out[2]["kappa"] == 0.0
