"""Wave-14 operator unit tests: mojibake counting hand cases, RAKE
pinned to a Python reimplementation, stupid-backoff branch selection,
Geary's C closed forms, and discrete Frechet pinned to the textbook
cell-by-cell DP."""

import math

import pytest
from pyspark.sql import functions as F


def test_mojibake_counts_hand_case(spark):
    from bano_spark.operators.webtext import mojibake_stats

    docs = spark.createDataFrame(
        [(1, "clean ascii text here"),
         (2, "brokÃ©n tÃ©xt with â€™ quotes Â and ï»¿ bom"),
         (3, "Ã")],
        "doc_id long, text string")
    rows = {r["doc_id"]: r for r in mojibake_stats(docs).collect()}
    assert rows[1]["n_bad"] == 0 and not rows[1]["mojibake_flag"]
    # doc 2: two 'Ã©' (each contributes one 'Ã'), one 'â€', one 'Â'
    # standalone + the 'Â' inside... count by algebra: markers count
    # independently over the final string.
    t = "brokÃ©n tÃ©xt with â€™ quotes Â and ï»¿ bom"
    expect = sum((len(t) - len(t.replace(m, ""))) // len(m)
                 for m in ["Ã", "â€", "Â", "ï»¿"])
    assert rows[2]["n_bad"] == expect
    assert rows[2]["mojibake_flag"]
    assert rows[3]["n_bad"] == 1 and rows[3]["n_chars"] == 1


def _rake_python(texts, stops, k=3):
    """Textbook RAKE over a {doc_id: text} dict."""
    phrases = []  # (doc, [words])
    for d, t in texts.items():
        cur = []
        for w in t.strip().lower().split():
            if w in stops or w == "":
                if cur:
                    phrases.append((d, cur))
                cur = []
            else:
                cur.append(w)
        if cur:
            phrases.append((d, cur))
    freq, deg = {}, {}
    for _, ws in phrases:
        for w in ws:
            freq[w] = freq.get(w, 0) + 1
            deg[w] = deg.get(w, 0) + len(ws)
    out = {}
    for d, ws in phrases:
        s = round(sum(deg[w] / freq[w] for w in ws), 6)
        key = " ".join(ws)
        out.setdefault(d, {})
        out[d][key] = max(out[d].get(key, -1), s)
    top = {}
    for d, m in out.items():
        ranked = sorted(m.items(), key=lambda kv: (-kv[1], kv[0]))[:k]
        top[d] = ranked
    return top


def test_rake_matches_python_reference(spark):
    from bano_spark.operators.textstats import rake_keywords

    stops = ["the", "a", "of", "and"]
    texts = {1: "the quick brown fox and the lazy dog of doom",
             2: "a quick silver fox jumps the brown fence and runs",
             3: "doom metal and doom scrolling the quick fix"}
    docs = spark.createDataFrame(list(texts.items()),
                                 "doc_id long, text string")
    got = rake_keywords(docs, stops, k=3).collect()
    want = _rake_python(texts, set(stops))
    for r in got:
        phrase, score = want[r["doc_id"]][r["rnk"] - 1]
        assert r["phrase"] == phrase
        assert r["score"] == pytest.approx(score, abs=1e-6)


def test_stupid_backoff_branches(spark):
    from bano_spark.operators.textstats import stupid_backoff_score

    # train doc: "x y z x y w"; test doc exercises all three branches
    docs = spark.createDataFrame(
        [(0, "x y z x y w"),      # train
         (1, "x y z y w q")],     # test: (x,y,z) tri hit; (y,w,q)
        "doc_id long, text string")  # unigram floor; (z,y,w)+(y,z,y) bi/uni
    out = stupid_backoff_score(docs, F.col("doc_id") % 2 == 0).collect()
    assert len(out) == 1
    row = out[0]
    assert row["n_tri"] == 4
    # hand-computed: train trigrams {xyz:1, yzx:1, zxy:1, xyw:1};
    # contexts {xy:2, yz:1, zx:1}; bigrams {xy:2, yz:1, zx:1, yw:1};
    # left contexts {x:2, y:2, z:1}; unigrams x:2 y:2 z:1 w:1, N=6 V=4
    a = 0.4
    s1 = 1 / 2                      # (x,y,z): c123=1/c12=2
    s2 = a * 1 / 2                  # (y,z,y) no tri 'yzy'; bigram zy? no ->
    # recompute: (y,z,y): tri yzy unseen; bigram (z,y) unseen; unigram y
    s2 = a * a * (2 + 1) / (6 + 4)
    s3 = a * 1 / 1                  # (z,y,w): tri unseen; bigram (y,w)=1,c2(y)=2
    s3 = a * 1 / 2
    s4 = a * a * (0 + 1) / (6 + 4)  # (y,w,q): tri unseen; bigram (w,q) unseen; q unseen
    want = sum(-math.log(s) for s in (s1, s2, s3, s4)) / 4
    assert row["avg_neg_logp"] == pytest.approx(round(want, 6), abs=2e-6)


def test_geary_c_checkerboard_vs_flat(spark):
    from bano_spark.operators.spatialstats import geary_c_hex

    # a smooth gradient has low local contrast (C < 1, positive
    # autocorrelation); a strongly alternating field pushes C > 1
    grad = [(q, r, float(q + r)) for q in range(4) for r in range(4)]
    alt = [(q, r, float((q + 2 * r) % 3)) for q in range(4)
           for r in range(4)]
    g = spark.createDataFrame(grad, "hq int, hr int, val double")
    a = spark.createDataFrame(alt, "hq int, hr int, val double")
    assert geary_c_hex(g).first()["geary_c"] < 1.0
    c = geary_c_hex(a).first()["geary_c"]
    assert c > 1.0


def _frechet_python(pa, pb):
    n, m = len(pa), len(pb)
    d = [[0.0] * m for _ in range(n)]
    for i in range(n):
        for j in range(m):
            c = math.dist(pa[i], pb[j])
            if i == 0 and j == 0:
                d[i][j] = c
            elif i == 0:
                d[i][j] = max(c, d[0][j - 1])
            elif j == 0:
                d[i][j] = max(c, d[i - 1][0])
            else:
                d[i][j] = max(c, min(d[i - 1][j], d[i][j - 1],
                                     d[i - 1][j - 1]))
    return d[n - 1][m - 1]


def test_frechet_matches_textbook_dp(spark):
    from bano_spark.operators.trajectory import frechet_pairs

    import random
    rng = random.Random(7)
    r = 6
    tracks = {}
    rows = []
    for uid in (0, 1, 2, 3):
        pts = [(rng.uniform(0, 10), rng.uniform(0, 10)) for _ in range(r)]
        tracks[uid] = pts
        rows += [(uid, s + 1, x, y) for s, (x, y) in enumerate(pts)]
    traj = spark.createDataFrame(
        rows, "user_id long, seq int, x double, y double")
    pairs = spark.createDataFrame([(0, 1), (2, 3)], "id_a long, id_b long")
    got = {(x["id_a"], x["id_b"]): x["frechet"]
           for x in frechet_pairs(traj, pairs, r).collect()}
    for a, b in [(0, 1), (2, 3)]:
        want = _frechet_python(tracks[a], tracks[b])
        assert got[(a, b)] == pytest.approx(want, rel=1e-12)


def test_frechet_leq_dtw_is_max_metric(spark):
    from bano_spark.operators.trajectory import frechet_pairs

    # identical tracks -> 0; shifted copy -> exactly the shift
    rows = [(0, s + 1, float(s), 0.0) for s in range(5)]
    rows += [(1, s + 1, float(s), 3.0) for s in range(5)]
    traj = spark.createDataFrame(
        rows, "user_id long, seq int, x double, y double")
    pairs = spark.createDataFrame([(0, 0), (0, 1)], "id_a long, id_b long")
    got = {(x["id_a"], x["id_b"]): x["frechet"]
           for x in frechet_pairs(traj, pairs, 5).collect()}
    assert got[(0, 0)] == 0.0
    assert got[(0, 1)] == pytest.approx(3.0, rel=1e-12)
