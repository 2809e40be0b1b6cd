"""Hand-computed checks for the wave-57 operator: isotonic
calibration (minimax PAV)."""

from bano_spark.operators.quantiles import isotonic_calibration


def test_isotonic_pools_violators(spark):
    # rates by bin: 0.0, 1.0, 0.0 -> PAV pools bins 2 and 3 to 0.5
    rows = ([(0.05, False)] * 4
            + [(0.15, True)] * 2 + [(0.25, False)] * 2)
    df = spark.createDataFrame(rows, "p double, label boolean")
    out = {r["bin"]: r for r in isotonic_calibration(
        df, "p", "label", n_bins=10).collect()}
    assert out[0]["isotonic_rate"] == 0.0
    assert out[1]["isotonic_rate"] == 0.5
    assert out[2]["isotonic_rate"] == 0.5
    # already-monotone data is untouched
    assert out[1]["rate"] == 1.0 and out[2]["rate"] == 0.0


def test_isotonic_monotone_passthrough(spark):
    rows = [(0.05, False), (0.15, False), (0.15, True),
            (0.25, True), (0.25, True)]
    df = spark.createDataFrame(rows, "p double, label boolean")
    out = {r["bin"]: r["isotonic_rate"] for r in isotonic_calibration(
        df, "p", "label", n_bins=10).collect()}
    assert out[0] == 0.0 and out[1] == 0.5 and out[2] == 1.0
