"""Units for the round-3 training-pipeline additions: DSIR importance
weights, tile-pyramid aggregate-reuse rollup, corpus mixing, top-k
n-gram vocabulary."""

from __future__ import annotations

import math

from pyspark.sql import functions as F


def test_dsir_weights_match_closed_form(spark):
    from bano_spark.operators.textstats import dsir_importance

    docs = spark.createDataFrame(
        [(0, "a b", "fr"), (1, "a b", "en"), (2, "b c", "en")],
        ["doc_id", "text", "lang"])
    got = {r.doc_id: (r.n_feats, r.log_weight) for r in
           dsir_importance(docs, F.col("lang") == "fr").collect()}
    # bigrams: (a,b) raw=2 tgt=1; (b,c) raw=1 tgt=0; totals R=3 T=1 B=2
    def w_ab():
        return math.log((1 + 1) / (1 + 2)) - math.log((2 + 1) / (3 + 2))

    def w_bc():
        return math.log((0 + 1) / (1 + 2)) - math.log((1 + 1) / (3 + 2))

    assert got[0] == (1, round(w_ab(), 6))
    assert got[1] == (1, round(w_ab(), 6))
    assert got[2] == (1, round(w_bc(), 6))
    # the target-domain doc's bigram weighs higher than the off-target one
    assert got[0][1] > got[2][1]


def test_tile_pyramid_levels_consistent(spark):
    from bano_spark.operators.tiling import tile_pyramid

    cells = spark.createDataFrame(
        [(x, y) for x in range(8) for y in range(8) for _ in range(x + 1)],
        ["tx", "ty"])
    pyr = tile_pyramid(cells, levels=3).collect()
    by_lvl = {}
    for r in pyr:
        by_lvl.setdefault(r.lvl, {})[(r.tx, r.ty)] = r.n
    # totals conserved at every level
    assert sum(by_lvl[0].values()) == sum(by_lvl[1].values()) \
        == sum(by_lvl[2].values()) == cells.count()
    # every coarse tile equals the sum of its 4 children
    for (tx, ty), n in by_lvl[1].items():
        kids = sum(by_lvl[0].get((2 * tx + dx, 2 * ty + dy), 0)
                   for dx in (0, 1) for dy in (0, 1))
        assert n == kids
    assert len(by_lvl[2]) == 4  # 8x8 base -> 2x2 at level 2


def test_tile_pyramid_weighted(spark):
    from bano_spark.operators.tiling import tile_pyramid

    cells = spark.createDataFrame(
        [(0, 0, 5), (1, 1, 7), (2, 2, 11)], ["tx", "ty", "w"])
    pyr = tile_pyramid(cells, levels=2, weight_col="w").collect()
    top = {(r.tx, r.ty): r.n for r in pyr if r.lvl == 1}
    assert top == {(0, 0): 12, (1, 1): 11}


def test_source_mixing_weights_closed_form(spark):
    from bano_spark.operators.selection import source_mixing_weights

    docs = spark.createDataFrame(
        [("a", 81), ("a", 19), ("b", 900)], ["source", "n_tokens"])
    got = {r.source: r for r in
           source_mixing_weights(docs, alpha=0.5,
                                 budget_tokens=1000).collect()}
    # n_a=100, n_b=900; sqrt: 10 + 30 = 40 -> w_a=0.25, w_b=0.75
    assert got["a"].n_docs == 2 and got["a"].n_tokens == 100
    assert got["a"].weight == 0.25 and got["b"].weight == 0.75
    assert got["a"].nat_share == 0.1 and got["b"].nat_share == 0.9
    assert got["a"].alloc_tokens == 250 and got["b"].alloc_tokens == 750
    # alpha < 1 up-samples the small source above its natural share
    assert got["a"].weight > got["a"].nat_share


def test_top_ngrams_counts_and_tiebreak(spark):
    from bano_spark.operators.textstats import top_ngrams

    docs = spark.createDataFrame(
        [(0, "x y x y"), (1, "y x z"), (2, "q")], ["doc_id", "text"])
    got = [(r.gram, r.cnt) for r in top_ngrams(docs, k=3, n=2).collect()]
    # doc0 grams: x y, y x, x y; doc1: y x, x z; doc2 <2 tokens (dropped)
    # -> counts: "x y" 2, "y x" 2, "x z" 1; tie breaks by gram ascending
    assert got == [("x y", 2), ("y x", 2), ("x z", 1)]


def test_asof_join_ties_tolerance_and_no_match(spark):
    from datetime import datetime

    from bano_spark.operators.temporal import asof_join

    left = spark.createDataFrame(
        [(1, "u", datetime(2024, 1, 1, 10, 0, 0)),    # exact tie -> 20.0
         (2, "u", datetime(2024, 1, 1, 12, 0, 0)),    # latest prior -> 30.0
         (3, "u", datetime(2024, 1, 1, 9, 0, 0)),     # nothing prior
         (4, "v", datetime(2024, 1, 1, 12, 0, 0))],   # other key -> 7.0
        ["event_id", "k", "ts"])
    right = spark.createDataFrame(
        [("u", datetime(2024, 1, 1, 10, 0, 0), 20.0),
         ("u", datetime(2024, 1, 1, 11, 0, 0), 30.0),
         ("v", datetime(2024, 1, 1, 1, 0, 0), 7.0)],
        ["k", "ts", "val"])
    got = {r.event_id: (r.val, r.matched_ts) for r in
           asof_join(left, right, key="k").collect()}
    assert got[1] == (20.0, datetime(2024, 1, 1, 10, 0, 0))
    assert got[2] == (30.0, datetime(2024, 1, 1, 11, 0, 0))
    assert got[3] == (None, None)
    assert got[4][0] == 7.0
    # 1-hour tolerance: event 2 still matches (gap 3600 <= 3600
    # inclusive), event 4's 11-hour-old match is nulled
    tol = {r.event_id: r.val for r in
           asof_join(left, right, key="k", tolerance_sec=3600).collect()}
    assert tol[2] == 30.0 and tol[4] is None and tol[1] == 20.0


def test_interval_join_bin_borders(spark):
    from datetime import datetime

    from bano_spark.operators.temporal import interval_join

    pts = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 10, 0, 0)),   # == begin -> in
         (2, datetime(2024, 1, 1, 11, 59, 59)), # inside, later bin
         (3, datetime(2024, 1, 1, 12, 0, 0)),   # == end -> OUT (half-open)
         (4, datetime(2024, 1, 1, 9, 59, 59))], # before
        ["pid", "ts"])
    iv = spark.createDataFrame(
        [(100, datetime(2024, 1, 1, 10, 0, 0), datetime(2024, 1, 1, 12, 0, 0))],
        ["window_id", "begin", "end"])
    for bin_sec in (3600, 60, 100_000):  # small, tiny, and huge bins
        got = sorted(r.pid for r in interval_join(
            pts, iv, bin_sec=bin_sec).collect())
        assert got == [1, 2], bin_sec


def test_exact_quantiles_vs_numpy(spark):
    import numpy as np

    from bano_spark.operators.quantiles import exact_quantiles

    rng = np.random.RandomState(7)
    # adversarial mix: a huge duplicate cluster, a dense cloud, and
    # extreme outliers that squash the first histogram pass
    vals = np.concatenate([
        np.full(5000, 42.0),
        rng.normal(0, 1, 3000).round(2),
        np.array([1e12, -1e12, 1e12, 1e12])])
    df = spark.createDataFrame([(float(v),) for v in vals], ["x"])
    qs = [0.0, 0.1, 0.5, 0.62, 0.9, 1.0]
    got = exact_quantiles(df, "x", qs, bins=64, max_passes=12)
    srt = np.sort(vals)
    want = [float(srt[int(np.floor(q * (len(vals) - 1)))]) for q in qs]
    assert got == want


def test_exact_quantiles_degenerate(spark):
    from bano_spark.operators.quantiles import exact_quantiles

    allsame = spark.createDataFrame([(3.5,)] * 10, ["x"])
    assert exact_quantiles(allsame, "x", [0.0, 0.5, 1.0]) == [3.5] * 3
    with_nulls = spark.createDataFrame(
        [(None,), (1.0,), (None,), (2.0,)], "x double")
    assert exact_quantiles(with_nulls, "x", [0.0, 1.0]) == [1.0, 2.0]


def test_ewma_last_matches_sequential_reference(spark):
    import random

    from bano_spark.operators.temporal import ewma_last

    rng = random.Random(31)
    rows, expect = [], {}
    for key in range(8):
        n = rng.randint(1, 25)
        vals = [rng.uniform(-10, 10) for _ in range(n)]
        s = vals[0]
        for v in vals[1:]:
            s = 0.5 * v + 0.5 * s
        expect[key] = (n, s)
        rows += [(key, i, v) for i, v in enumerate(vals)]
    df = spark.createDataFrame(rows, "k int, i int, v double")
    out = {r.k: (r.n_rows, r.ewma)
           for r in ewma_last(df, "k", ["i"], "v").collect()}
    for key, (n, s) in expect.items():
        assert out[key][0] == n
        assert out[key][1] == s  # bit-exact: same fold, same constants


def test_ewma_rejects_bad_alpha(spark):
    from bano_spark.operators.temporal import ewma_last

    df = spark.createDataFrame([(1, 1, 1.0)], "k int, i int, v double")
    try:
        ewma_last(df, "k", ["i"], "v", alpha=0.0)
        assert False
    except ValueError:
        pass
