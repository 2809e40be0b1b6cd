"""The strict compare's mismatch report (tools/check_strict.py), checked
without Spark: with an empty side or a strict prefix the first diff is
the first row past the shorter side, and duplicate output column names
fail instead of being paired arbitrarily."""

from __future__ import annotations

import sys

import pytest

sys.path.insert(0, ".")

from tools import check_strict as CS


def test_first_diff_empty_side():
    # the row reported is b[0]; the old default (-1) indexed the empty side
    b = CS.canon([(1, "x"), (2, "y")], ["k", "v"])
    assert CS.first_diff([], b) == 0
    assert CS.first_diff(b, []) == 0


def test_first_diff_strict_prefix_points_past_shorter_side():
    # the old default pointed at row 1, which matches on both sides
    b = CS.canon([(1, "x"), (2, "y"), (3, "z")], ["k", "v"])
    assert CS.first_diff(b[:2], b) == 2
    assert CS.first_diff(b, b[:2]) == 2


def test_first_diff_value_mismatch():
    a = CS.canon([(1, 1.0), (2, 2.0)], ["k", "v"])
    b = CS.canon([(1, 1.0), (2, 2.0000000000000004)], ["k", "v"])
    assert CS.first_diff(a, b) == 1


def test_canon_rejects_duplicate_column_names():
    with pytest.raises(ValueError, match="duplicate"):
        CS.canon([(1, 2)], ["v", "v"])
