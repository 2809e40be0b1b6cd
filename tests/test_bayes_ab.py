"""Kernel tests for wave 115: the closed-form P(B>A) and expected
loss vs independent references — tiny exact rationals, a scipy-free
numerical integral, Monte-Carlo-free identities."""

from __future__ import annotations

import math

import pytest

from bano_spark.operators.bayes_ab import prob_b_beats_a


def _h_py(aa, ba, ab, bb):
    """Python replay of the identical closed form."""
    def lg(n):
        return sum(math.log(k) for k in range(2, n))

    def lb(x, y):
        return lg(x) + lg(y) - lg(x + y)

    return sum(math.exp(lb(aa + i, ba + bb) - math.log(bb + i)
                        - lb(1 + i, bb) - lb(aa, ba))
               for i in range(ab))


def _h_quad(aa, ba, ab, bb, n=200000):
    """Independent check: numerically integrate
    P(B>A) = ∫ f_B(x) * I_A(x) dx via midpoint rule on the
    regularized incomplete beta of A (itself by midpoint)."""
    # grid midpoint integration of the joint
    # cdf_A(x) via integral of x^(aa-1)(1-x)^(ba-1)/B(aa,ba)
    lbeta_a = (math.lgamma(aa) + math.lgamma(ba) - math.lgamma(aa + ba))
    lbeta_b = (math.lgamma(ab) + math.lgamma(bb) - math.lgamma(ab + bb))
    h = 1.0 / n
    cdf_a = 0.0
    acc = 0.0
    for k in range(n):
        x = (k + 0.5) * h
        fa = math.exp((aa - 1) * math.log(x) + (ba - 1) * math.log(1 - x)
                      - lbeta_a)
        fb = math.exp((ab - 1) * math.log(x) + (bb - 1) * math.log(1 - x)
                      - lbeta_b)
        acc += fb * cdf_a * h
        cdf_a += fa * h
    return acc


CASES = [
    (1, 1, 1, 1),      # uniform vs uniform -> 0.5
    (2, 1, 1, 2),      # A skewed high, B skewed low
    (3, 7, 7, 3),      # clear separation
    (10, 10, 12, 8),
    (1, 5, 5, 1),
]


@pytest.fixture(scope="module")
def h_spark(spark):
    df = spark.createDataFrame(CASES, "aa long, ba long, ab_ long, bb long")
    from pyspark.sql import functions as F

    out = df.withColumn(
        "h", F.expr(prob_b_beats_a("aa", "ba", "ab_", "bb"))).collect()
    return {(r["aa"], r["ba"], r["ab_"], r["bb"]): r["h"] for r in out}


def test_matches_python_replay(h_spark):
    for c in CASES:
        assert h_spark[c] == pytest.approx(_h_py(*c), rel=1e-12), c


def test_matches_numerical_integral(h_spark):
    for c in CASES:
        assert h_spark[c] == pytest.approx(_h_quad(*c), abs=2e-4), c


def test_symmetries(h_spark):
    # uniform vs uniform is a coin flip
    assert h_spark[(1, 1, 1, 1)] == pytest.approx(0.5, abs=1e-12)
    # swapping arms complements: h(A,B) + h(B,A) = 1 (continuous)
    assert (_h_py(2, 1, 1, 2) + _h_py(1, 2, 2, 1)
            == pytest.approx(1.0, abs=1e-12))
    # stochastically larger B -> h > 0.5
    assert h_spark[(3, 7, 7, 3)] > 0.9


def test_expected_loss_identity():
    # loss(ship A) - loss(ship B) == muB - muA  (max(x,0)-max(-x,0)=x)
    aa, ba, ab, bb = 4, 8, 9, 5
    mu_a, mu_b = aa / (aa + ba), ab / (ab + bb)
    loss_a = mu_b * _h_py(aa, ba, ab + 1, bb) \
        - mu_a * _h_py(aa + 1, ba, ab, bb)
    loss_b = loss_a - (mu_b - mu_a)
    assert loss_a - loss_b == pytest.approx(mu_b - mu_a, abs=1e-12)
    assert loss_a >= 0 and loss_b >= 0
    # Monte-Carlo-free sanity: with B clearly better, shipping A
    # costs more
    assert loss_a > loss_b
