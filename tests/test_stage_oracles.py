"""PAPER.md §0 stage queries against their DuckDB oracles on sf0.001.

Each registry pair exercises one pipeline stage through the engine's
own operators (PIP join and refine, tiling and tile expiry, snapshot
diff, normalization, FANTOIR loads, source priority, suffixes, places,
scoring, postal lookup) and is compared with the oracle SQL of
`__spark_entry__.oracle_sql()` by tools/check_correctness.py. The
conciliation and CSV-export pairs run in tests/test_conciliation.py.
"""

from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from tests.test_oracles_parse import SF_DIR  # noqa: E402
from tools import check_correctness as CC  # noqa: E402

STAGE_QUERIES = [
    "pip_count_per_commune",
    "pip_nonconvex_refine",
    "tile_assignment_counts",
    "expired_tiles_to_insee",
    "snapshot_diff_dirty_insee",
    "normalize_street",
    "housenumber_canon",
    "multinumber_explode",
    "fantoir_fixed_width",
    "fantoir_mapping_load",
    "fantoir_lieux_dits_load",
    "source_priority_window",
    "suffix_detection",
    "place_match",
    "importance_commune",
    "postal_smallest_polygon",
]


@pytest.fixture(scope="module")
def duck():
    return CC.connect(SF_DIR)


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="needs the sf0.001 tables")
@pytest.mark.parametrize("name", STAGE_QUERIES)
def test_registry_pair(spark, duck, name):
    import __spark_entry__ as E

    line = CC.check(spark, duck, SF_DIR, name,
                    E.queries()[name], E.oracle_sql()[name])
    assert line.startswith("PASS"), line
