"""Kernel tests for wave 84: Viterbi decoding vs a Python DP replay,
and the IPM perceptron vs a Python sequential replay."""

from __future__ import annotations

import pytest

from bano_spark.operators.decoding import (perceptron_ipm,
                                           perceptron_ipm_eval,
                                           viterbi_decode)

# HMM spec (integer log-scores, higher = better). Observation alphabet:
#   0 click  1 error  2 purchase  3 signup  4 view
# Hidden states: 0 casual  1 shopper  2 frustrated.
INIT = [0, -5, -8]
TRANS = [[-1, -4, -6],
         [-4, -1, -5],
         [-5, -5, -1]]
EMIT = [[-1, -7, -8, -4, -1],
        [-2, -6, -1, -5, -3],
        [-4, -1, -9, -6, -4]]


def py_viterbi(obs, init, trans, emit):
    k = len(init)
    cells = [(init[j] + emit[j][obs[0]], str(j)) for j in range(k)]
    for o in obs[1:]:
        nxt = []
        for j in range(k):
            bs, bp = None, None
            for i in range(k):
                c = cells[i][0] + trans[i][j]
                if bs is None or c > bs:
                    bs, bp = c, cells[i][1]
            nxt.append((bs + emit[j][o], bp + ">" + str(j)))
        cells = nxt
    best = max(range(k), key=lambda j: (cells[j][0], -j))
    return cells[best]


def py_perceptron(examples):
    w = [0, 0, 0, 0]
    upd = 0
    for x, y in examples:
        if y * sum(wi * xi for wi, xi in zip(w, x)) <= 0:
            w = [wi + y * xi for wi, xi in zip(w, x)]
            upd += 1
    return w, upd


@pytest.fixture(scope="module")
def seqs(spark):
    rows = []
    import hashlib
    for g in range(12):
        n = 5 + (g * 7) % 40
        for t in range(n):
            h = int(hashlib.md5(f"{g}|{t}".encode()).hexdigest()[:8], 16)
            rows.append((g, t, h % 5))
    return spark.createDataFrame(rows, "g long, t long, o int")


def test_viterbi_matches_python_dp(seqs):
    out = {r["g"]: r for r in
           viterbi_decode(seqs, "g", "t", "o", INIT, TRANS, EMIT)
           .collect()}
    data = seqs.collect()
    for g in range(12):
        obs = [r["o"] for r in sorted(
            (x for x in data if x["g"] == g), key=lambda r: r["t"])]
        score, path = py_viterbi(obs, INIT, TRANS, EMIT)
        assert out[g]["best_score"] == score, g
        assert out[g]["path"] == path, g
        assert out[g]["n_obs"] == len(obs)


def test_viterbi_single_obs(spark):
    df = spark.createDataFrame([(1, 0, 2)], "g long, t long, o int")
    r = viterbi_decode(df, "g", "t", "o", INIT, TRANS, EMIT).collect()[0]
    # argmax_j init[j] + emit[j][2]: (-8, -6, -17) -> state 1
    assert r["path"] == "1" and r["best_score"] == -6


def test_viterbi_tie_breaks_low_state(spark):
    # symmetric 2-state model: every cell ties -> path must be all 0s.
    df = spark.createDataFrame([(1, t, 0) for t in range(4)],
                               "g long, t long, o int")
    r = viterbi_decode(df, "g", "t", "o", [0, 0],
                       [[-1, -1], [-1, -1]], [[-1], [-1]]).collect()[0]
    assert r["path"] == "0>0>0>0"


@pytest.fixture(scope="module")
def examples(spark):
    import hashlib
    rows = []
    for i in range(400):
        h = int(hashlib.md5(f"ex{i}".encode()).hexdigest()[:12], 16)
        x1, x2, x3 = h % 7, (h // 7) % 7, (h // 49) % 7
        y = 1 if 3 * x1 - 2 * x2 + x3 - 6 > 0 else -1
        if h % 17 == 0:
            y = -y
        rows.append((i, i % 4, 1, x1, x2, x3, y))
    return spark.createDataFrame(
        rows, "rid long, shard long, x0 long, x1 long, x2 long, "
              "x3 long, y long")


def test_perceptron_shards_match_python(examples):
    out = {r["shard"]: r for r in
           perceptron_ipm(examples, "shard", "rid",
                          ["x0", "x1", "x2", "x3"], "y").collect()}
    data = sorted(examples.collect(), key=lambda r: r["rid"])
    for s in range(4):
        ex = [((r["x0"], r["x1"], r["x2"], r["x3"]), r["y"])
              for r in data if r["shard"] == s]
        w, upd = py_perceptron(ex)
        got = [out[s][f"w_{i}"] for i in range(4)]
        assert got == w, s
        assert out[s]["n_updates"] == upd
        assert out[s]["n_examples"] == len(ex)


def test_perceptron_eval_counts(examples):
    w = perceptron_ipm(examples, "shard", "rid",
                       ["x0", "x1", "x2", "x3"], "y")
    r = perceptron_ipm_eval(examples, w,
                            ["x0", "x1", "x2", "x3"], "y").collect()[0]
    assert r["n"] == 400
    assert r["tp"] + r["fp"] + r["tn"] + r["fn"] == 400
    # mixing must beat coin-flip on mostly-separable data
    assert r["accuracy"] > 0.7
    # exact accuracy definition
    assert r["accuracy"] == round((r["tp"] + r["tn"]) / 400, 6)


def test_perceptron_learns_separable(spark):
    # pure linearly-separable concept, no noise: one epoch of mixing
    # classifies the training set far above chance (measured 0.863;
    # one pass per shard, no re-iteration, so not yet ~1.0).
    rows = []
    import hashlib
    for i in range(600):
        h = int(hashlib.md5(f"sep{i}".encode()).hexdigest()[:12], 16)
        x1, x2 = h % 9, (h // 9) % 9
        y = 1 if 2 * x1 - x2 - 4 > 0 else -1
        rows.append((i, i % 4, 1, x1, x2, y))
    df = spark.createDataFrame(
        rows, "rid long, shard long, x0 long, x1 long, x2 long, y long")
    w = perceptron_ipm(df, "shard", "rid", ["x0", "x1", "x2"], "y")
    r = perceptron_ipm_eval(df, w, ["x0", "x1", "x2"], "y").collect()[0]
    assert r["accuracy"] > 0.8
