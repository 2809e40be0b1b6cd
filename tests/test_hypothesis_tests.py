"""Hand-computed checks for the hypothesis-test operators (wave 47)."""

from bano_spark.operators.quantiles import (
    anova_f_oneway, chi_square_independence, kendall_tau_b, ks_two_sample)


def test_ks_two_sample(spark):
    # A = [1,2,2,4], B = [2,3,4,4] -> max ECDF gap at v=2: .75 vs .25
    rows = [(1.0, True), (2.0, True), (2.0, True), (4.0, True),
            (2.0, False), (3.0, False), (4.0, False), (4.0, False)]
    df = spark.createDataFrame(rows, "v double, g boolean")
    out = ks_two_sample(df, "g", "v").collect()[0]
    assert out["n_a"] == 4 and out["n_b"] == 4
    assert out["n_points"] == 4
    assert out["ks_stat"] == 0.5


def test_ks_ignores_null_values(spark):
    rows = [(1.0, True), (None, True), (2.0, False)]
    df = spark.createDataFrame(rows, "v double, g boolean")
    out = ks_two_sample(df, "g", "v").collect()[0]
    assert out["n_a"] == 1 and out["n_b"] == 1
    assert out["ks_stat"] == 1.0


def test_chi_square_2x2(spark):
    rows = ([("r1", "c1")] * 10 + [("r1", "c2")] * 20
            + [("r2", "c1")] * 20 + [("r2", "c2")] * 10)
    df = spark.createDataFrame(rows, "r string, c string")
    out = chi_square_independence(df, "r", "c").collect()[0]
    assert out["n"] == 60 and out["dof"] == 1
    assert out["chi2"] == round(100 / 15, 6)  # 6.666667
    assert out["cramers_v"] == round((100 / 15 / 60) ** 0.5, 6)


def test_chi_square_grid_completion(spark):
    # (b, y) unobserved: E=1 still contributes (0-1)^2/1 = 1.
    rows = ([("a", "x")] * 2 + [("a", "y")] * 2 + [("b", "x")] * 4)
    df = spark.createDataFrame(rows, "r string, c string")
    out = chi_square_independence(df, "r", "c").collect()[0]
    assert out["n"] == 8
    assert out["n_rows"] == 2 and out["n_cols"] == 2
    assert out["chi2"] == round(1 / 3 + 1 + 1 / 3 + 1, 6)


def test_kendall_tau_b_ties(spark):
    # x=[1,2,3,3], y=[1,3,2,2]: C=3, D=2, one tied pair per axis ->
    # tau_b = 1 / sqrt(5*5) = 0.2
    rows = [(1, 1, 1), (2, 2, 3), (3, 3, 2), (4, 3, 2)]
    df = spark.createDataFrame(rows, "k int, x int, y int")
    out = kendall_tau_b(df, "k", "x", "y").collect()[0]
    assert out["n_keys"] == 4
    assert out["concordant"] == 3 and out["discordant"] == 2
    assert out["tau_b"] == 0.2


def test_kendall_perfect_agreement(spark):
    rows = [(1, 1, 10), (2, 2, 20), (3, 3, 30)]
    df = spark.createDataFrame(rows, "k int, x int, y int")
    out = kendall_tau_b(df, "k", "x", "y").collect()[0]
    assert out["tau_b"] == 1.0


def test_anova_f_oneway(spark):
    # groups [1,2,3], [2,4,6], [3,6,9]: SSB=24, SSW=28 ->
    # F = 12 / (28/6), eta^2 = 24/52
    rows = [("g1", 1.0), ("g1", 2.0), ("g1", 3.0),
            ("g2", 2.0), ("g2", 4.0), ("g2", 6.0),
            ("g3", 3.0), ("g3", 6.0), ("g3", 9.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = anova_f_oneway(df, "g", "v").collect()[0]
    assert out["k"] == 3 and out["n"] == 9
    assert out["f_stat"] == round(72 / 28, 6)
    assert out["eta_sq"] == round(24 / 52, 6)


# --- wave 48 -----------------------------------------------------------

from bano_spark.operators.quantiles import (  # noqa: E402
    bh_fdr_selection, chi_square_gof, kruskal_wallis, mann_whitney_u)


def test_kruskal_wallis_no_ties(spark):
    rows = [("a", 1.0), ("a", 2.0), ("b", 3.0), ("b", 4.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = kruskal_wallis(df, "g", "v").collect()[0]
    assert out["k"] == 2 and out["n"] == 4
    assert out["h_stat"] == 2.4
    assert out["h_tie_corrected"] == 2.4  # no ties -> C = 1


def test_kruskal_wallis_tie_correction(spark):
    # A=[1,2,2], B=[2,3]: H = 4/3, C = 1 - 24/120 = 0.8
    rows = [("a", 1.0), ("a", 2.0), ("a", 2.0), ("b", 2.0), ("b", 3.0)]
    df = spark.createDataFrame(rows, "g string, v double")
    out = kruskal_wallis(df, "g", "v").collect()[0]
    assert out["h_stat"] == round(4 / 3, 6)
    assert out["h_tie_corrected"] == round(4 / 3 / 0.8, 6)


def test_mann_whitney_u(spark):
    # A=[1,2,2,4], B=[2,3,4,4]: U = 4 (0 + 0.5 + 0.5 + 3)
    rows = [(1.0, True), (2.0, True), (2.0, True), (4.0, True),
            (2.0, False), (3.0, False), (4.0, False), (4.0, False)]
    df = spark.createDataFrame(rows, "v double, g boolean")
    out = mann_whitney_u(df, "g", "v").collect()[0]
    assert out["n_a"] == 4 and out["n_b"] == 4
    assert out["u_stat"] == 4.0
    var = 16 / 12 * (9 - 48 / (8 * 7))
    assert out["z_stat"] == round((4 - 8) / var ** 0.5, 6)


def test_bh_fdr_selection(spark):
    rows = [(0.01,), (0.02,), (0.04,), (0.3,), (0.5,)]
    df = spark.createDataFrame(rows, "p double")
    out = bh_fdr_selection(df, "p", q=0.25).collect()[0]
    assert out["m"] == 5
    assert out["n_rejected"] == 3
    assert out["p_threshold"] == 0.04


def test_bh_fdr_nothing_survives(spark):
    df = spark.createDataFrame([(0.9,), (0.95,)], "p double")
    out = bh_fdr_selection(df, "p", q=0.1).collect()[0]
    assert out["n_rejected"] == 0
    assert out["p_threshold"] is None


def test_chi_square_gof(spark):
    rows = [("a",)] * 10 + [("b",)] * 20 + [("c",)] * 30
    df = spark.createDataFrame(rows, "cat string")
    out = chi_square_gof(df, "cat").collect()[0]
    assert out["n"] == 60 and out["k"] == 3 and out["dof"] == 2
    assert out["chi2"] == 10.0


# --- wave 49 -----------------------------------------------------------

from pyspark.sql import functions as F  # noqa: E402

from bano_spark.operators.temporal import (  # noqa: E402
    ar1_coefficient, seasonal_strength, variance_ratio)


def test_seasonal_strength(spark):
    # hour-0 mean 2, hour-1 mean 6: var(resid)=1, var(v)=5 -> 0.8
    rows = [("a", "2024-01-01 00:00:00", 1.0),
            ("a", "2024-01-01 00:30:00", 3.0),
            ("a", "2024-01-01 01:00:00", 5.0),
            ("a", "2024-01-01 01:30:00", 7.0)]
    df = spark.createDataFrame(rows, "k string, ts string, v double") \
        .withColumn("ts", F.to_timestamp("ts"))
    out = seasonal_strength(df, "k", "ts", "v").collect()[0]
    assert out["n"] == 4
    assert out["seasonal_strength"] == 0.8


def test_ar1_coefficient(spark):
    # doubling series: OLS slope of x_t on x_{t-1} is exactly 2
    rows = [("u", i, float(2 ** i)) for i in range(4)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    out = ar1_coefficient(df, "k", [F.asc("t")], "v").collect()[0]
    assert out["n_pairs"] == 3
    assert out["ar1_phi"] == 2.0


def test_variance_ratio_mean_reverting(spark):
    # x = 0,1,1,2,2,3,3,4: all 4-step diffs equal 2 -> VR(4) = 0
    xs = [0.0, 1.0, 1.0, 2.0, 2.0, 3.0, 3.0, 4.0]
    rows = [("u", i, x) for i, x in enumerate(xs)]
    df = spark.createDataFrame(rows, "k string, t int, v double")
    out = variance_ratio(df, "k", [F.asc("t")], "v", q=4).collect()[0]
    assert out["n_1"] == 7 and out["n_q"] == 4
    assert out["vr"] == 0.0
