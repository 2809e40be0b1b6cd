"""Wave-8 operator unit tests: line dedup,
winnowing (incl. the shifted-overlap case word-13-grams provably
miss — VERDICT r3 missing #2), time-series resampling, and the
point-pattern statistics."""

import math

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# winnowing: the shifted/partial-overlap guarantee
# ---------------------------------------------------------------------------

def test_winnowing_catches_overlap_13grams_miss(spark):
    """Two documents share a 7-token run embedded at DIFFERENT offsets
    inside otherwise-disjoint text. dup_span_stats at n=13 finds zero
    duplicated grams (no shared 13-gram exists — each doc is shorter
    than 13 + 7 tokens of common context); winnowing with k=3, w=4
    (guarantee window w + k - 1 = 6 < 7) must emit at least one shared
    fingerprint."""
    from bano_spark.operators.dedup import winnowing_fingerprints
    from bano_spark.operators.webtext import dup_span_stats

    shared = "alpha beta gamma delta epsilon zeta eta"
    docs = spark.createDataFrame(
        [(1, f"one two three {shared} four five"),
         (2, f"red orange yellow green blue {shared}")],
        "doc_id long, text string")

    spans = dup_span_stats(docs, n=13).agg(
        F.sum("n_dup_grams").alias("d")).first()
    assert (spans["d"] or 0) == 0, "13-gram detector should see nothing"

    fp = winnowing_fingerprints(docs, k=3, w=4)
    shared_fps = (fp.groupBy("fp").agg(F.countDistinct("doc_id").alias("n"))
                  .filter(F.col("n") == 2).count())
    assert shared_fps >= 1, "winnowing must share a fingerprint"


def test_winnowing_disjoint_docs_share_nothing(spark):
    from bano_spark.operators.dedup import winnowing_fingerprints

    docs = spark.createDataFrame(
        [(1, "aa bb cc dd ee ff gg hh"),
         (2, "pp qq rr ss tt uu vv ww")],
        "doc_id long, text string")
    fp = winnowing_fingerprints(docs, k=3, w=4)
    shared = (fp.groupBy("fp").agg(F.countDistinct("doc_id").alias("n"))
              .filter(F.col("n") == 2).count())
    assert shared == 0


# ---------------------------------------------------------------------------
# line dedup
# ---------------------------------------------------------------------------

def test_line_dedup_keeps_global_first(spark):
    lines = spark.createDataFrame(
        [(1, 0, "unique one"), (1, 1, "boiler"), (1, 2, "boiler"),
         (2, 0, "boiler"), (2, 1, "unique two")],
        "doc_id long, line_no long, line string")
    from bano_spark.operators.webtext import line_dedup

    out = {r["doc_id"]: r for r in line_dedup(lines).collect()}
    assert out[1]["n_lines"] == 3 and out[1]["n_kept"] == 2
    assert out[1]["kept_text"] == "unique one\nboiler"
    assert out[2]["n_lines"] == 2 and out[2]["n_kept"] == 1
    assert out[2]["kept_text"] == "unique two"


# ---------------------------------------------------------------------------
# CUSUM: reflection identity == naive recursion
# ---------------------------------------------------------------------------

def test_cusum_matches_naive_recursion(spark):
    from bano_spark.operators.temporal import cusum

    xs = [3.0, 1.0, 7.0, 0.0, 9.0, 9.0, 2.0, 8.0, 8.0, 8.0]
    target, slack, h = 4.0, 1.0, 6.0
    s, smax, alarms, first = 0.0, 0.0, 0, None
    for i, x in enumerate(xs, 1):
        s = max(0.0, s + x - target - slack)
        smax = max(smax, s)
        if s > h:
            alarms += 1
            first = first or i
    df = spark.createDataFrame(
        [(1, i, x) for i, x in enumerate(xs, 1)],
        "k long, seq long, v double")
    row = cusum(df, "k", "v", [F.col("seq")], target, slack, h).first()
    assert row["max_cusum"] == pytest.approx(smax)
    assert row["n_alarms"] == alarms
    assert row["first_alarm_seq"] == first


# ---------------------------------------------------------------------------
# gap fill: forward fill semantics incl. on-grid observation
# ---------------------------------------------------------------------------

def test_gap_fill_forward_fill(spark):
    from bano_spark.operators.temporal import gap_fill

    obs = spark.createDataFrame(
        [(1, "2024-01-02 05:00:00", 10.0),
         (1, "2024-01-04 00:00:00", 20.0)],  # exactly on a grid instant
        "k long, ts string, v double"
    ).select("k", F.to_timestamp("ts").alias("ts"), F.col("v"))
    grid = spark.createDataFrame(
        [(1, f"2024-01-0{d} 00:00:00") for d in range(1, 6)],
        "k long, ts string"
    ).select("k", F.to_timestamp("ts").alias("ts"))
    out = {r["ts"].day: r["filled"]
           for r in gap_fill(obs, "k", "ts", "v", grid).collect()}
    assert out[1] is None           # before any observation
    assert out[2] is None           # grid 00:00 precedes the 05:00 obs
    assert out[3] == 10.0
    assert out[4] == 20.0           # on-grid observation included
    assert out[5] == 20.0


def test_time_weighted_average_step_series(spark):
    from bano_spark.operators.temporal import time_weighted_average

    obs = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 10.0),
         (1, "2024-01-01 00:00:30", 30.0),
         (1, "2024-01-01 00:01:00", 99.0)],  # last point carries no weight
        "k long, ts string, v double"
    ).select("k", F.to_timestamp("ts").alias("ts"), "v")
    row = time_weighted_average(obs, "k", "ts", "v").first()
    assert row["twa"] == pytest.approx((10.0 * 30 + 30.0 * 30) / 60)
    assert row["span_sec"] == pytest.approx(60.0)


# ---------------------------------------------------------------------------
# point-pattern statistics
# ---------------------------------------------------------------------------

def test_ripley_k_pair_counts_exact(spark):
    from bano_spark.operators.spatialstats import ripley_k

    # 3 points in a line, spacing 10: pairs within r=10 -> 4 ordered,
    # within r=25 -> 6 ordered
    pts = spark.createDataFrame(
        [(1, 0.0, 0.0), (2, 10.0, 0.0), (3, 20.0, 0.0)],
        "event_id long, x double, y double")
    out = {r["r"]: r for r in
           ripley_k(pts, [10.0, 25.0], area=900.0).collect()}
    assert out[10.0]["n_pairs"] == 4
    assert out[25.0]["n_pairs"] == 6
    assert out[10.0]["k_est"] == pytest.approx(900.0 * 4 / (3 * 2))


def test_hausdorff_known_tracks(spark):
    from bano_spark.operators.spatialstats import hausdorff_pairs

    traj = spark.createDataFrame(
        [(0, 0.0, 0.0), (0, 10.0, 0.0),
         (1, 0.0, 3.0), (1, 10.0, 4.0)],
        "user_id long, x double, y double")
    pairs = spark.createDataFrame([(0, 1)], "id_a long, id_b long")
    row = hausdorff_pairs(traj, pairs).first()
    assert row["hausdorff"] == pytest.approx(4.0)


def test_zipf_slope_exact_power_law(spark):
    from bano_spark.operators.textstats import zipf_slope

    # freq(rank r) = 2^(6-r) for r=1..5 -> ln f = ln 64 - r ln 2:
    # not a perfect power law, but deterministic; compare to numpy OLS
    words = []
    for r, (tok, f) in enumerate(
            [("aa", 32), ("bb", 16), ("cc", 8), ("dd", 4), ("ee", 2)]):
        words += [tok] * f
    docs = spark.createDataFrame([(1, " ".join(words))],
                                 "doc_id long, text string")
    row = zipf_slope(docs).first()
    xs = [math.log(r) for r in range(1, 6)]
    ys = [math.log(f) for f in (32, 16, 8, 4, 2)]
    mx, my = sum(xs) / 5, sum(ys) / 5
    slope = (sum(x * y for x, y in zip(xs, ys)) - 5 * mx * my) / \
            (sum(x * x for x in xs) - 5 * mx * mx)
    assert row["n_vocab"] == 5
    assert row["zipf_slope"] == pytest.approx(slope, abs=1e-9)
