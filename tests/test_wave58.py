"""Hand-computed checks for the wave-58 operators: PSI drift and Markov
next-event accuracy."""

from bano_spark.operators.eventflow import markov_next_accuracy
from bano_spark.operators.quantiles import population_stability_index


def test_psi_identical_distributions_zero(spark):
    rows = [(float(v), True) for v in range(10)] + \
           [(float(v), False) for v in range(10)]
    df = spark.createDataFrame(rows, "value double, e boolean")
    out = population_stability_index(df, "value", "e", n_bins=5) \
        .collect()[0]
    assert out["psi"] == 0.0
    assert out["n_expected"] == 10 and out["n_actual"] == 10


def test_psi_shifted_distribution_positive(spark):
    rows = [(float(v), True) for v in range(10)] + \
           [(float(v) + 5.0, False) for v in range(10)]
    df = spark.createDataFrame(rows, "value double, e boolean")
    out = population_stability_index(df, "value", "e", n_bins=5) \
        .collect()[0]
    assert out["psi"] > 0.25  # clearly drifted


def test_markov_deterministic_chain(spark):
    # a -> b -> a -> b ... : perfect predictor
    rows = [(1, i, i, "a" if i % 2 == 0 else "b") for i in range(10)]
    df = spark.createDataFrame(
        rows, "user_id bigint, ts bigint, event_id bigint, "
              "event_type string")
    out = {r["event_type"]: r for r in
           markov_next_accuracy(df).collect()}
    assert out["a"]["predicted_next"] == "b"
    assert out["a"]["accuracy"] == 1.0
    assert out["b"]["accuracy"] == 1.0
