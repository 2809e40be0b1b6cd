"""PAPER.md §0 stage queries against their DuckDB oracles on sf0.001.

Each registry pair exercises one pipeline stage through the engine's
own operators (PIP join and refine, tiling and tile expiry, snapshot
diff, normalization, FANTOIR loads, source priority, suffixes, places,
scoring, postal lookup, the left spatial join, the dirty-INSEE stream,
the publish round-trip) and is compared with the oracle SQL of
`__spark_entry__.oracle_sql()` by tools/check_correctness.py, with
Python's temp directory pointed at the test's own, which must be empty
afterwards. The conciliation and CSV-export pairs run in
tests/test_conciliation.py. The PIP refine fixture also runs through
every `spatial_join` path against the same oracle rule.
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
    "suffix_zone_left_join",
    "dirty_insee_stream",
    "publish_full_roundtrip",
]


@pytest.fixture(scope="module")
def duck():
    return CC.connect(SF_DIR)


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="needs the sf0.001 tables")
@pytest.mark.parametrize("name", STAGE_QUERIES)
def test_registry_pair(spark, duck, name, tmp_path, monkeypatch):
    """PASS against the oracle, and nothing left behind in the temp
    directory (the stream and publish queries write files there)."""
    import tempfile

    import __spark_entry__ as E

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    line = CC.check(spark, duck, SF_DIR, name,
                    E.queries()[name], E.oracle_sql()[name])
    assert line.startswith("PASS"), line
    assert not list(tmp_path.iterdir())


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="needs the sf0.001 tables")
@pytest.mark.parametrize("split_refine", [False, True])
@pytest.mark.parametrize("broadcast", [True, False])
def test_refine_fixture_every_path(spark, duck, broadcast, split_refine):
    """The non-convex refine fixture (slope ±2 triangles, an L-shape)
    through each prune path and refine plan, against the registry's
    DuckDB statement of the containment rule."""
    from bano_spark import synth
    from bano_spark.operators.pip_join import spatial_join

    want = sorted(duck.execute(
        f"WITH pts AS ({synth.points_select_sql('duckdb')}), "
        f"m AS ({synth.refine_membership_sql()}) "
        "SELECT event_id, poly_id FROM m").fetchall())
    got = spatial_join(synth.points_df(spark, SF_DIR),
                       synth.refine_polygons_df(spark), zoom=15,
                       broadcast=broadcast, split_refine=split_refine)
    assert want
    assert sorted((r.event_id, r.poly_id) for r in
                  got.select("event_id", "poly_id").collect()) == want
