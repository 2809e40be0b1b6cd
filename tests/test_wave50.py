"""Hand-computed checks for the wave-50 operators: sampled harmonic
centrality / effective diameter on per-seed BFS levels, Jensen-Shannon
source divergence."""

import math

from bano_spark.operators.graph import (
    effective_diameter_sampled, multi_source_bfs,
    sampled_harmonic_centrality)
from bano_spark.operators.textstats import js_divergence_sources


def _path_graph(spark):
    # 0 - 1 - 2 - 3
    return spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3)], "s bigint, d bigint")


def test_multi_source_bfs_per_seed(spark):
    edges = _path_graph(spark)
    seeds = spark.createDataFrame([(0,), (3,)], "node bigint")
    rows = {(r["seed"], r["node"]): r["dist"] for r in
            multi_source_bfs(edges, seeds, src="s", dst="d",
                             max_hops=5).collect()}
    assert rows[(0, 3)] == 3 and rows[(3, 0)] == 3
    assert rows[(0, 1)] == 1 and rows[(3, 1)] == 2
    assert rows[(0, 0)] == 0


def test_sampled_harmonic_centrality(spark):
    edges = _path_graph(spark)
    seeds = spark.createDataFrame([(0,)], "node bigint")
    out = {r["node"]: r for r in sampled_harmonic_centrality(
        edges, seeds, src="s", dst="d", max_hops=5).collect()}
    # n=4, k=1: c_H(v) = 4 * (1/d) / 3
    assert out[1]["harmonic_centrality"] == round(4 / 3, 6)
    assert out[2]["harmonic_centrality"] == round(4 * 0.5 / 3, 6)
    assert out[3]["harmonic_centrality"] == round(4 / 3 / 3, 6)
    assert 0 not in out  # only reached at dist 0 (self)
    assert out[1]["n_seeds_reaching"] == 1


def test_effective_diameter(spark):
    edges = _path_graph(spark)
    seeds = spark.createDataFrame([(0,)], "node bigint")
    out = effective_diameter_sampled(
        edges, seeds, src="s", dst="d", max_hops=10,
        quantile=0.9).collect()[0]
    assert out["n_pairs"] == 3
    assert out["effective_diameter"] == 3
    out2 = effective_diameter_sampled(
        edges, seeds, src="s", dst="d", max_hops=10,
        quantile=0.5).collect()[0]
    assert out2["effective_diameter"] == 2


def test_js_divergence(spark):
    rows = [("src0", "a b"), ("src1", "a a")]
    df = spark.createDataFrame(rows, "source string, text string")
    out = js_divergence_sources(df, "src0", "src1").collect()[0]
    expected = (0.5 * (0.5 * math.log2(0.5 / 0.75)
                       + 0.5 * math.log2(0.5 / 0.25))
                + 0.5 * math.log2(1 / 0.75))
    assert out["n_tokens_a"] == 2 and out["n_tokens_b"] == 2
    assert out["vocab_union"] == 2
    assert out["js_divergence"] == round(expected, 6)


def test_js_divergence_disjoint_is_one(spark):
    rows = [("src0", "a a a"), ("src1", "b")]
    df = spark.createDataFrame(rows, "source string, text string")
    out = js_divergence_sources(df, "src0", "src1").collect()[0]
    assert out["js_divergence"] == 1.0
