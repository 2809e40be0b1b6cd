"""merge_asof (backward/forward/nearest, keyed + keyless bucketed) vs
a brute-force Python replay, and sequence packing vs a literal
token-stream simulation."""

import pytest

from bano_spark.operators.asof import merge_asof, merge_asof_nearest
from bano_spark.operators.packing import pack_sequences, packing_bin_stats

# (id, key, t, value) right rows; (id, key, t) left rows
RIGHT = [(r, r % 3, t, float(r * 10)) for r, t in
         enumerate([5, 12, 12, 30, 47, 55, 63, 81, 90, 104])]
LEFT = [(100 + i, i % 3, t) for i, t in
        enumerate([4, 5, 13, 29, 50, 55, 70, 89, 104, 120])]


def _brute(lt, lk, direction, keyed, tolerance=None):
    cands = [(t, rid, v) for rid, rk, t, v in RIGHT
             if (not keyed or rk == lk)
             and (t <= lt if direction == "backward" else t >= lt)]
    if tolerance is not None:
        cands = [c for c in cands if abs(c[0] - lt) <= tolerance]
    if not cands:
        return (None, None)
    if direction == "backward":
        best = max(cands, key=lambda c: (c[0], c[1]))
    else:
        best = max(cands, key=lambda c: (-c[0], c[1]))
    return (best[0], best[2])


@pytest.mark.parametrize("direction", ["backward", "forward"])
@pytest.mark.parametrize("keyed", [True, False])
def test_asof_matches_brute_force(spark, direction, keyed):
    left = spark.createDataFrame(LEFT, "lid long, k long, t long")
    right = spark.createDataFrame(RIGHT, "rid long, k long, t long, v double")
    got = {r["lid"]: (r["t_asof"], r["v_asof"])
           for r in merge_asof(left, right, on="t", value_cols=["v"],
                               right_id="rid",
                               by=["k"] if keyed else None,
                               direction=direction,
                               num_buckets=4).collect()}
    for lid, lk, lt in LEFT:
        assert got[lid] == _brute(lt, lk, direction, keyed), (
            lid, direction, keyed)


def test_asof_tolerance_nulls_out(spark):
    left = spark.createDataFrame(LEFT, "lid long, k long, t long")
    right = spark.createDataFrame(RIGHT, "rid long, k long, t long, v double")
    got = {r["lid"]: (r["t_asof"], r["v_asof"])
           for r in merge_asof(left, right, on="t", value_cols=["v"],
                               right_id="rid", tolerance=5,
                               num_buckets=3).collect()}
    for lid, lk, lt in LEFT:
        assert got[lid] == _brute(lt, lk, "backward", False, tolerance=5)


def test_asof_nearest_tie_goes_backward(spark):
    # left at t=50: right rows at 47 and 53 -> 3 apart each;
    # tie must resolve backward (t=47)
    left = spark.createDataFrame([(1, 50)], "lid long, t long")
    right = spark.createDataFrame([(10, 47, 1.0), (11, 53, 2.0)],
                                  "rid long, t long, v double")
    row = merge_asof_nearest(left, right, on="t", value_cols=["v"],
                             right_id="rid", left_id="lid").collect()[0]
    assert row["t_asof"] == 47 and row["v_asof"] == 1.0


def test_asof_nearest_picks_closer_side(spark):
    left = spark.createDataFrame([(1, 50), (2, 60)], "lid long, t long")
    right = spark.createDataFrame([(10, 40, 1.0), (11, 58, 2.0)],
                                  "rid long, t long, v double")
    got = {r["lid"]: (r["t_asof"], r["v_asof"])
          for r in merge_asof_nearest(left, right, on="t",
                                      value_cols=["v"], right_id="rid",
                                      left_id="lid").collect()}
    assert got[1] == (58, 2.0)  # |58-50|=8 < |50-40|=10
    assert got[2] == (58, 2.0)  # backward 58 at distance 2


def test_asof_duplicate_time_max_id_wins(spark):
    # two right rows at t=12: id 2 (v=20) must win over id 1 (v=10)
    left = spark.createDataFrame([(1, 13)], "lid long, t long")
    right = spark.createDataFrame(
        [(1, 12, 10.0), (2, 12, 20.0)], "rid long, t long, v double")
    row = merge_asof(left, right, on="t", value_cols=["v"],
                     right_id="rid").collect()[0]
    assert row["v_asof"] == 20.0


def test_pack_sequences_stream_simulation(spark):
    counts = [(i, 1 + (i * 37) % 900) for i in range(60)]
    C = 256
    df = spark.createDataFrame(counts, "doc_id long, n long")
    packed = pack_sequences(df, "n", "doc_id", C, num_buckets=4)
    rows = {r["doc_id"]: r for r in packed.collect()}
    # literal simulation: walk the concatenated stream
    pos = 0
    bins_expected = {}
    for i, n in counts:
        first, last = pos // C, (pos + n - 1) // C
        r = rows[i]
        assert (r["start_off"], r["first_bin"], r["last_bin"],
                r["n_bins"], r["crosses_boundary"]) == (
            pos, first, last, last - first + 1, last > first)
        for b in range(first, last + 1):
            s = bins_expected.setdefault(
                b, {"n_docs": 0, "n_start_docs": 0, "n_split_docs": 0,
                    "n_tokens": 0})
            s["n_docs"] += 1
            s["n_start_docs"] += int(b == first)
            s["n_split_docs"] += int(last > first)
            s["n_tokens"] += min(pos + n, (b + 1) * C) - max(pos, b * C)
        pos += n
    got = {r["bin"]: r for r in
           packing_bin_stats(packed, "n", "doc_id", C).collect()}
    assert set(got) == set(bins_expected)
    for b, exp in bins_expected.items():
        r = got[b]
        assert (r["n_docs"], r["n_start_docs"], r["n_split_docs"],
                r["n_tokens"]) == (exp["n_docs"], exp["n_start_docs"],
                                   exp["n_split_docs"], exp["n_tokens"])


def test_pack_sequences_rejects_empty_docs(spark):
    df = spark.createDataFrame([(1, 5), (2, 0)], "doc_id long, n long")
    with pytest.raises(Exception, match="non-positive token count"):
        pack_sequences(df, "n", "doc_id", 128).collect()
