"""Wave-13 operator unit tests: Heaps fit pinned to a Python
reimplementation, weighted-median tie semantics, Gini closed forms,
Mann-Kendall hand cases, and log-odds keyword sanity."""

import math

import pytest


def test_heaps_law_matches_python_reference(spark):
    from bano_spark.operators.textstats import heaps_law

    texts = {1: "a b c a b a d e a b",
             2: "f g a a b h i j k f",
             3: "l m n o p q r s t u"}
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id long, text string")
    row = heaps_law(docs, checkpoints=10).first()

    # python reference: same ladder, same OLS
    stream = []
    for d in sorted(texts):
        stream += texts[d].split()
    n = len(stream)
    first = {}
    for i, t in enumerate(stream, 1):
        first.setdefault(t, i)
    lad = [max(1, (k * n) // 10) for k in range(1, 11)]
    vs = [sum(1 for p in first.values() if p <= nk) for nk in lad]
    xs = [math.log(float(nk)) for nk in lad]
    ys = [math.log(float(v)) for v in vs]
    sx, sy = sum(xs), sum(ys)
    sxy = sum(x * y for x, y in zip(xs, ys))
    sxx = sum(x * x for x in xs)
    beta = (sxy - sx * sy / 10) / (sxx - sx * sx / 10)
    kk = math.exp((sy - beta * sx) / 10)
    assert row["n_tokens"] == n
    assert row["n_vocab"] == len(first)
    assert row["heaps_beta"] == pytest.approx(beta, rel=1e-9)
    assert row["heaps_k"] == pytest.approx(kk, rel=1e-9)


def test_weighted_median_ties_and_weights(spark):
    from bano_spark.operators.selection import weighted_median

    rows = [(1, 10, 1), (1, 20, 1), (1, 30, 1),          # odd, plain
            (2, 5, 1), (2, 7, 9),                        # weight pulls to 7
            (3, 4, 1), (3, 4, 1), (3, 9, 1)]             # tie group at 4
    df = spark.createDataFrame(rows, "g long, v long, w long")
    out = {r["g"]: r["weighted_median"]
           for r in weighted_median(df, "g", "v", "w").collect()}
    assert out[1] == 20
    assert out[2] == 7     # cum at 5 is 1 < 10/2; at 7 it's 10 >= 5
    assert out[3] == 4     # ties accumulate together: cum(4) = 2 >= 1.5


def test_gini_closed_forms(spark):
    from bano_spark.operators.selection import gini_concentration

    eq = spark.createDataFrame([(f"h{i}", 5) for i in range(8)],
                               "host string, n long")
    assert gini_concentration(eq, "host").first()["gini"] == \
        pytest.approx(0.0, abs=1e-12)

    # one key owns everything: G = (n-1)/n
    skew = spark.createDataFrame(
        [("big", 1000)] + [(f"h{i}", 0) for i in range(9)],
        "host string, n long")
    assert gini_concentration(skew, "host").first()["gini"] == \
        pytest.approx(9 / 10)


def test_mann_kendall_monotone_and_flat(spark):
    from bano_spark.operators.spatialstats import mann_kendall

    rows = ([(1, d, d * 2) for d in range(1, 7)]         # strictly up
            + [(2, d, 7) for d in range(1, 7)])          # flat (all tied)
    df = spark.createDataFrame(rows, "k long, t long, v long")
    out = {r["k"]: r for r in
           mann_kendall(df, ["k"], "t", "v").collect()}
    n = 6
    assert out[1]["s"] == n * (n - 1) // 2  # every pair positive
    var = n * (n - 1) * (2 * n + 5) / 18.0
    assert out[1]["var_s"] == pytest.approx(var)
    assert out[1]["z"] == pytest.approx((out[1]["s"] - 1) / math.sqrt(var))
    # all-tied: S = 0 and the tie term cancels the variance entirely
    assert out[2]["s"] == 0
    assert out[2]["var_s"] == pytest.approx(0.0)
    assert out[2]["z"] == 0.0


def test_log_odds_surfaces_source_exclusive_token(spark):
    from bano_spark.operators.textstats import log_odds_keywords

    docs = spark.createDataFrame(
        [(1, "a", "zebra zebra zebra common common"),
         (2, "b", "common common common common common")],
        "doc_id long, source string, text string")
    out = log_odds_keywords(docs, k=1).collect()
    top = {r["source"]: r["token"] for r in out}
    assert top["a"] == "zebra"       # exclusive token dominates a
    assert top["b"] == "common"
    za = {r["source"]: r["z"] for r in out}
    assert za["a"] > 0
