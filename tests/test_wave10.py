"""Wave-10 operator unit tests: HLL register layout pinned to a
Python reimplementation of the shared 60-bit md5 hash, merge ==
direct, Theil-Sen robustness to a contaminating outlier, exact NN
distances incl. a forced escalation round, and Clark-Evans."""

import hashlib

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# HLL
# ---------------------------------------------------------------------------

def _py_register(value: str, p: int):
    h = int(hashlib.md5(value.encode()).hexdigest()[:15], 16)  # 60 bits
    m = 1 << p
    idx = h & (m - 1)
    w = h >> p
    wbits = 60 - p
    rank = wbits + 1 if w == 0 else wbits + 1 - w.bit_length()
    return idx, rank


def test_hll_registers_match_python_reference(spark):
    from bano_spark.operators.sketches import hll_register_cols

    vals = [str(i) for i in range(50)]
    df = spark.createDataFrame([(v,) for v in vals], "v string")
    idx, rank = hll_register_cols(F.col("v"), 6)
    got = {r["v"]: (r["i"], r["r"]) for r in
           df.select("v", idx.alias("i"), rank.alias("r")).collect()}
    for v in vals:
        assert got[v] == _py_register(v, 6), v


def test_hll_estimate_reasonable_and_merge_equals_direct(spark):
    from bano_spark.operators.sketches import (
        hll_estimate_col, hll_merge, hll_sketch)

    rows = [(i % 4, f"user{i}") for i in range(4000)]
    df = spark.createDataFrame(rows, "g int, v string")
    # per-group sketches merged == one direct sketch over everything
    merged = hll_merge(hll_sketch(df, "g", "v", p=6), 6)
    direct = hll_sketch(df.withColumn("_one", F.lit(1)), "_one", "v", p=6)
    m_est = merged.select(
        hll_estimate_col("registers", 6).alias("e")).first()["e"]
    d_est = direct.select(
        hll_estimate_col("registers", 6).alias("e")).first()["e"]
    assert m_est == d_est
    # m=64 -> relative standard error ~1.04/8 = 13%; allow 3 sigma
    assert abs(m_est - 4000) / 4000 < 0.4


def test_hll_small_range_linear_counting_branch(spark):
    from bano_spark.operators.sketches import hll_estimate_col, hll_sketch

    df = spark.createDataFrame([(1, f"x{i}") for i in range(20)],
                               "g int, v string")
    est = (hll_sketch(df, "g", "v", p=6)
           .select(hll_estimate_col("registers", 6).alias("e"))
           .first()["e"])
    # linear counting at n=20, m=64 is typically within ~20%
    assert 10 < est < 35


# ---------------------------------------------------------------------------
# Theil-Sen
# ---------------------------------------------------------------------------

def test_theil_sen_resists_single_outlier(spark):
    from bano_spark.operators.temporal import ols_slope, theil_sen

    # y = 2x except one wild outlier at x=9
    rows = [(1, float(x), 2.0 * x) for x in range(9)] + [(1, 9.0, 1000.0)]
    df = spark.createDataFrame(rows, "k int, x double, y double")
    ts = theil_sen(df, "k", "x", "y").first()
    ols = ols_slope(df, "k", "x", "y").first()
    assert ts["theil_sen_slope"] == pytest.approx(2.0)
    assert ts["n_pairs"] == 45
    assert ols["ols_slope"] > 10.0  # dragged far off by the outlier


# ---------------------------------------------------------------------------
# NN distances / Clark-Evans
# ---------------------------------------------------------------------------

def test_nn_distances_exact_with_escalation(spark):
    from bano_spark.operators.spatialstats import nn_distances

    # tight pair at origin; a remote point whose NN is ~140 away --
    # cell=10 forces several doubling rounds before it resolves
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 3.0, 4.0), (3, 100.0, 104.0)],
        "event_id long, x double, y double")
    out = {r["event_id"]: r["nn_dist"]
           for r in nn_distances(pts, 10.0).collect()}
    assert out[1] == pytest.approx(5.0)
    assert out[2] == pytest.approx(5.0)
    assert out[3] == pytest.approx(((97.0) ** 2 + 100.0 ** 2) ** 0.5)


def test_nn_distances_raises_when_rounds_exhausted(spark):
    from bano_spark.operators.spatialstats import nn_distances

    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 10000.0, 0.0)],
        "event_id long, x double, y double")
    with pytest.raises(RuntimeError, match="unresolved"):
        nn_distances(pts, 1.0, max_rounds=3).collect()


def test_clark_evans_regular_grid_is_overdispersed(spark):
    from bano_spark.operators.spatialstats import clark_evans

    # 5x5 lattice with spacing 10 in a 50x50 box: mean NN = 10,
    # expected = 0.5 * sqrt(2500/25) = 5 -> R = 2 (overdispersed)
    pts = spark.createDataFrame(
        [(i, 10.0 * (i % 5), 10.0 * (i // 5)) for i in range(25)],
        "event_id long, x double, y double")
    row = clark_evans(pts, area=2500.0, cell=15.0).first()
    assert row["mean_nn"] == pytest.approx(10.0)
    assert row["r_index"] == pytest.approx(2.0)
    assert row["z_score"] > 0
