"""Wave-9 operator unit tests: water-filling budget allocation
closed-form checks and PageRank dangling-mass conservation."""

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# water-filling: closed-form small cases
# ---------------------------------------------------------------------------

def test_waterfill_caps_mega_hosts_at_water_level(spark):
    from bano_spark.operators.selection import waterfill_allocation

    counts = spark.createDataFrame(
        [("small", 1), ("mid", 5), ("mega", 10)], "host string, n long")
    # budget 8: t solves 1 + min(5,t) + min(10,t) = 8 -> t = 3.5
    out = {r["host"]: r for r in
           waterfill_allocation(counts, 8).collect()}
    assert out["small"]["alloc"] == pytest.approx(1.0)
    assert out["mid"]["alloc"] == pytest.approx(3.5)
    assert out["mega"]["alloc"] == pytest.approx(3.5)
    assert sum(r["alloc"] for r in out.values()) == pytest.approx(8.0)


def test_waterfill_budget_covers_everything(spark):
    from bano_spark.operators.selection import waterfill_allocation

    counts = spark.createDataFrame(
        [("a", 3), ("b", 4)], "host string, n long")
    out = {r["host"]: r["alloc"]
           for r in waterfill_allocation(counts, 100).collect()}
    assert out == {"a": pytest.approx(3.0), "b": pytest.approx(4.0)}


def test_waterfill_exact_knee(spark):
    from bano_spark.operators.selection import waterfill_allocation

    # budget exactly at a knee: 1 + 2 + 2 = 5 with t = 2
    counts = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 9)], "host string, n long")
    out = {r["host"]: r["alloc"]
           for r in waterfill_allocation(counts, 5).collect()}
    assert out["a"] == pytest.approx(1.0)
    assert out["b"] == pytest.approx(2.0)
    assert out["c"] == pytest.approx(2.0)


# ---------------------------------------------------------------------------
# PageRank with dangling nodes: total rank mass is conserved
# ---------------------------------------------------------------------------

def test_pagerank_dangling_mass_conserved(spark):
    from bano_spark.operators.graph import pagerank

    # b and c are pure sinks (dangling); without redistribution the
    # total mass would decay below 1 each iteration.
    edges = spark.createDataFrame(
        [("a", "b", 1.0), ("a", "c", 1.0), ("d", "a", 1.0)],
        "src string, dst string, w double")
    ranks = pagerank(edges, weight="w", iters=5, damping=0.85)
    total = ranks.agg(F.sum("rank")).first()[0]
    assert total == pytest.approx(1.0, abs=1e-9)
    by = {r["node"]: r["rank"] for r in ranks.collect()}
    assert by["b"] == pytest.approx(by["c"])  # symmetric sinks
    assert by["b"] > by["d"]                  # sinks receive, d only gives
