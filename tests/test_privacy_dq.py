"""Kernel tests for wave 95: GRR debiasing is exactly unbiased in
aggregate, and the DQ expectation suite counts known violations."""

from __future__ import annotations

import pytest

from bano_spark.operators.dq import (expect_accepted, expect_in_range,
                                     expect_not_null, expect_subset,
                                     expect_unique, quality_suite)
from bano_spark.operators.privacy import randomized_response_freq

CATS = ["a", "b", "c"]


def test_rr_estimates_sum_to_n_and_track_truth(spark):
    # 3 categories with very different frequencies
    rows = ([(i, "a") for i in range(0, 3000)]
            + [(3000 + i, "b") for i in range(900)]
            + [(3900 + i, "c") for i in range(100)])
    df = spark.createDataFrame(rows, "event_id long, cat string")
    out = randomized_response_freq(df, "cat", "event_id", CATS,
                                   num=1, den=4).collect()
    n = 4000
    # estimator identity: sum of estimates == n exactly
    assert sum(r["est"] for r in out) == pytest.approx(n)
    for r in out:
        # err column is self-consistent and estimates stay within a
        # few standard deviations (sd ~ sqrt(n p (1-p)) / (1-p) ~ 40)
        assert r["err"] == pytest.approx(r["est"] - r["true_count"])
        assert abs(r["err"]) < 200
    got = {r["category"]: r["true_count"] for r in out}
    assert got == {"a": 3000, "b": 900, "c": 100}


def test_rr_debias_exact_identity(spark):
    # est reconstructs exactly (den*k*obs - num*n) / (k*(den-num))
    rows = [(i, CATS[i % 3]) for i in range(600)]
    df = spark.createDataFrame(rows, "event_id long, cat string")
    out = randomized_response_freq(df, "cat", "event_id", CATS,
                                   num=1, den=4).collect()
    for r in out:
        want = (4 * 3 * r["reported_count"] - 600) / (3 * 3)
        assert r["est"] == want


def test_dq_known_violations(spark):
    base = spark.createDataFrame(
        [(1, "x", 5), (2, "x", 11), (3, None, 7), (4, "y", 5),
         (4, "z", -1)],
        "k long, s string, v long")
    ref = spark.createDataFrame([("x",), ("y",)], "rk string")
    out = {r["check"]: r for r in quality_suite([
        expect_not_null(base, "s"),
        expect_unique(base, "k"),
        expect_in_range(base, "v", 0, 10),
        expect_accepted(base, "s", ["x", "y"]),
        expect_subset(base, "s", ref, "rk", "ref"),
    ]).collect()}
    assert out["not_null:s"]["n_failed"] == 1
    assert out["unique:k"]["n_failed"] == 2          # both k=4 rows
    assert out["in_range:v[0,10]"]["n_failed"] == 2  # 11 and -1
    assert out["accepted:s"]["n_failed"] == 2        # None and 'z'
    # subset: None and 'z' are not in ref -> left_anti keeps both
    assert out["subset:s->ref"]["n_failed"] == 2
    assert not out["not_null:s"]["ok"]
    rates = [r["pass_rate"] for r in out.values()]
    assert all(0.0 <= p <= 1.0 for p in rates)


def test_dq_all_green(spark):
    base = spark.createDataFrame([(1, "x"), (2, "y")], "k long, s string")
    out = quality_suite([expect_not_null(base, "s"),
                         expect_unique(base, "k")]).collect()
    assert all(r["ok"] and r["n_failed"] == 0 and r["pass_rate"] == 1.0
               for r in out)
