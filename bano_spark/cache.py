"""Session-bounded persist registry.

Operators that branch a computed input persist it so Spark does not
recompute the upstream per branch: the iterative graph operators
(operators/graph.py) and the CPM forward pass (operators/cpm.py).
The reference materializes the same intermediates as tables
(cache_dept_*). Every persist is registered here so long-lived sessions
can bound cached storage: release_all() unpersists everything
(correctness-safe — at worst a recompute), and callers holding results
across releases just pay that recompute.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_LIVE: list[DataFrame] = []


def keep(df: DataFrame) -> DataFrame:
    from pyspark import StorageLevel

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    _LIVE.append(df)
    return df


def release_all() -> None:
    while _LIVE:
        try:
            _LIVE.pop().unpersist(blocking=False)
        except Exception:
            pass
