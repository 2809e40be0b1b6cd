"""Wave-20 operator unit tests: AMS estimator algebra on a tiny
known frequency vector, Holt closed forms (linear series tracked
exactly), MASE on a perfectly seasonal series, and URL template
grouping."""


def test_ams_f2_exact_field(spark):
    from bano_spark.operators.sketches import ams_f2

    # frequencies: a x3, b x1 -> F2 = 9 + 1 = 10
    df = spark.createDataFrame([(7,), (7,), (7,), (9,)], "k long")
    r = ams_f2(df, "k", t=17).collect()[0]
    assert r["f2_exact"] == 10
    # each estimator is (3*s1 + 1*s2)^2 with s in {-1, +1}:
    # only 4 and 16 are possible -> median must be one of them
    assert r["f2_ams"] in (4, 16)


def test_ams_requires_odd_t(spark):
    import pytest

    from bano_spark.operators.sketches import ams_f2

    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError):
        ams_f2(df, "k", t=16)


def test_holt_tracks_linear_series_exactly(spark):
    from bano_spark.operators.temporal import holt_last

    # y_t = 2t: l_1 = 2, b_1 = 2 -> Holt reproduces the line exactly
    # (level = y_t, trend = 2) for ANY alpha/beta: forecast = y_{t+1}
    rows = [(1, t, 2.0 * t) for t in range(1, 9)]
    df = spark.createDataFrame(rows, "k long, t int, v double")
    r = holt_last(df, "k", ["t"], "v", alpha=0.5, beta=0.25).collect()[0]
    assert (r["n_rows"], r["level"], r["trend"], r["forecast"]) == \
        (8, 16.0, 2.0, 18.0)


def test_holt_drops_singletons(spark):
    from bano_spark.operators.temporal import holt_last

    df = spark.createDataFrame([(1, 1, 5.0)], "k long, t int, v double")
    assert holt_last(df, "k", ["t"], "v").count() == 0


def test_seasonal_mase_perfect_seasonality(spark):
    from datetime import datetime, timedelta

    from bano_spark.operators.temporal import seasonal_naive_mase

    # exact period-24 pattern over hourly points: seasonal MAE = 0
    base = datetime(2024, 1, 1)
    rows = [("a", base + timedelta(hours=h), float(h % 24))
            for h in range(96)]
    df = spark.createDataFrame(rows, "k string, ts timestamp, v double")
    r = seasonal_naive_mase(df, "k", "ts", "v", period=24).collect()[0]
    assert r["mae_seasonal"] == 0.0 and r["mase"] == 0.0
    assert r["n_buckets"] == 96


def test_url_templates_group_digits(spark):
    from bano_spark.operators.webtext import url_templates

    urls = spark.createDataFrame(
        [("https://h.io/p1?x=1",), ("https://h.io/p2#f",),
         ("https://h.io/p2",), ("https://h.io/a/b/c9",)],
        "url string")
    out = {r["template"]: r for r in url_templates(urls).collect()}
    t = out["https://h.io/p{n}"]
    assert t["n_urls"] == 3 and t["n_distinct_urls"] == 2
    assert t["dup_ratio"] == 1.5
    assert out["https://h.io/a/b/c{n}"]["max_depth"] == 3
