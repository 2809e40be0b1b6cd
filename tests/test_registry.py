"""The query registry: one definition per name, the driver contract's
query and oracle counts, and bench.py's headline names (no Spark
session needed)."""

import ast
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bano_spark.registry import merge, registrar  # noqa: E402


def test_register_twice_raises():
    queries, oracles = {}, {}
    register = registrar(queries, oracles)

    @register("q", "SELECT 1")
    def q(spark, sf_dir):
        return None

    with pytest.raises(ValueError, match="'q'"):
        register("q")(lambda spark, sf_dir: None)
    assert queries == {"q": q} and oracles == {"q": "SELECT 1"}


def test_merge_overlap_raises():
    dst = {"a": 1, "b": 2}
    with pytest.raises(ValueError, match="'b'"):
        merge(dst, {"b": 3, "c": 4})
    assert dst == {"a": 1, "b": 2}
    merge(dst, {"c": 4})
    assert dst == {"a": 1, "b": 2, "c": 4}


def test_every_query_has_one_oracle():
    import __spark_entry__ as E

    assert len(E.queries()) == len(E.oracle_sql())
    assert E.queries().keys() == E.oracle_sql().keys()


def test_every_headline_query_is_registered():
    import __spark_entry__ as E

    with open(os.path.join(ROOT, "bench.py")) as f:
        tree = ast.parse(f.read())
    headline = next(ast.literal_eval(stmt.value) for stmt in tree.body
                    if isinstance(stmt, ast.Assign)
                    and [t.id for t in stmt.targets] == ["HEADLINE"])
    assert headline
    missing = sorted(set(headline) - E.queries().keys())
    assert not missing, f"bench.py HEADLINE names unregistered queries: {missing}"
