"""The query registry: one definition per name, and the driver
contract's query and oracle counts (no Spark session needed)."""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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
