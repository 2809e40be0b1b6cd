"""The numpy-replay harness (tools/check_kernels.py) must actually
DETECT formula errors — negative controls perturb a replay's output
the way a real bug would and assert the comparator flags it."""

from __future__ import annotations

import sys

import pandas as pd

sys.path.insert(0, ".")

from tools import check_kernels as CK


def _frames():
    exp = pd.DataFrame({"band": [0, 1], "n": [10, 20],
                        "mean_abs_xtd_km": [1.5, 2.5],
                        "max_atd_km": [100.0, 200.0]})
    spec = {"keys": ["band"],
            "float": {"mean_abs_xtd_km": CK.FTOL, "max_atd_km": CK.FTOL}}
    return exp, spec


def test_comparator_passes_identical_and_within_tol():
    exp, spec = _frames()
    got = exp.copy()
    assert CK._compare("x", got, exp, spec) == []
    got2 = exp.copy()
    got2.loc[0, "mean_abs_xtd_km"] += 1e-6  # inside round-6 tolerance
    assert CK._compare("x", got2, exp, spec) == []


def test_comparator_flags_formula_scale_error():
    exp, spec = _frames()
    got = exp.copy()
    got["max_atd_km"] = got["max_atd_km"] * 1.001  # 0.1% formula slip
    assert CK._compare("x", got, exp, spec)


def test_comparator_flags_integer_and_row_drift():
    exp, spec = _frames()
    got = exp.copy()
    got.loc[1, "n"] = 21
    assert CK._compare("x", got, exp, spec)
    assert CK._compare("x", exp.iloc[:1], exp, spec)  # row count


def test_comparator_slack_allows_only_declared_budget():
    exp = pd.DataFrame({"band": [0], "n_in": [10]})
    got = exp.copy()
    got.loc[0, "n_in"] = 11
    spec0 = {"keys": ["band"], "slack": {"n_in": {(0,): 0}}}
    spec1 = {"keys": ["band"], "slack": {"n_in": {(0,): 1}}}
    assert CK._compare("x", got, exp, spec0)
    assert CK._compare("x", got, exp, spec1) == []

