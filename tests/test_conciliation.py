"""Conciliation (export_csv_dept.sql as one keyed fold) against DuckDB.

Three layers of evidence:
- the registry pairs `conciliation_export` and `end_to_end_csv_export`
  (pages -> pages_to_cumul -> conciliate -> CSV lines) on sf0.001, run
  through the comparison of tools/check_correctness.py;
- a hand-built cumul with several rows per (fantoir, num) in every
  source, checked against `_rule_sql()`, a DuckDB statement of the rule
  that shares no code with the engine;
- the same rule on a tie fixture whose rows agree on (numero, lat, lon)
  and differ elsewhere: every row order and partitioning must give the
  one oracle output;
- the same rule on records without a FANTOIR code in two communes,
  which must not merge into one key.
"""

from __future__ import annotations

import importlib.util
import os
import sys

import duckdb
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF_DIR = "/root/testdata/sf0.001"

CUMUL_SCHEMA = ("insee_com string, dept string, source string, fantoir string, "
                "numero string, voie_osm string, voie_autre string, "
                "code_postal string, lon double, lat double")
OUT_COLS = ["id", "numero", "voie", "code_post", "ville", "source", "lat", "lon"]


def _check_correctness():
    spec = importlib.util.spec_from_file_location(
        "check_correctness", os.path.join(ROOT, "tools", "check_correctness.py"))
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="needs the sf0.001 tables")
@pytest.mark.parametrize("name", ["conciliation_export", "end_to_end_csv_export"])
def test_registry_pair(spark, name):
    import __spark_entry__ as E

    cc = _check_correctness()
    line = cc.check(spark, cc.connect(SF_DIR), SF_DIR, name,
                    E.queries()[name], E.oracle_sql()[name])
    assert line.startswith("PASS"), line


def _rule_sql() -> str:
    """The conciliation rule in DuckDB over a `cumul` table: per side,
    the pick is the first row by (invalid number, numero, lat, lon,
    voie_osm, voie_autre, code_postal), nulls first; the first present
    side of OSM > BAL > BAN supplies numero/lat/lon and must be valid.
    A null or empty fantoir is no key."""
    from __spark_entry__ import _canon_sql

    return f"""
WITH k AS (
  SELECT *, upper(replace(numero, ' ', '')) AS nout,
         {_canon_sql('numero')} AS num,
         CASE WHEN source = 'OSM' AND lat IS NOT NULL AND lon IS NOT NULL THEN 0
              WHEN source = 'BAL' AND lat != 0 AND lon != 0 THEN 1
              WHEN source = 'BAN' AND lat != 0 AND lon != 0 THEN 2 END AS side
  FROM cumul WHERE fantoir <> ''
),
s AS (
  SELECT *, NOT (regexp_matches(nout, '^[0-9]{{1,4}}( ?[A-Z]?.*)?')
                 AND nout != '99999'
                 AND NOT regexp_matches(nout, '.[0-9 .-]{{9,}}')) AS bad
  FROM k WHERE side IS NOT NULL AND num > '0'
),
pick AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (
      PARTITION BY fantoir, num, side
      ORDER BY bad, nout, lat, lon, voie_osm NULLS FIRST,
               voie_autre NULLS FIRST, code_postal NULLS FIRST) AS rn
    FROM s) WHERE rn = 1
),
keys AS (SELECT fantoir, num, min(side) AS side FROM pick GROUP BY fantoir, num)
SELECT keys.fantoir || '-' || keys.num AS id, b.nout AS numero,
       replace(replace(replace(
         coalesce(replace(o.voie_osm, '’', chr(39)), replace(od.voie_osm, '’', chr(39)),
                  replace(c.voie_osm, '’', chr(39)), od.voie_autre, c.voie_autre),
         '"', chr(39)), ', ', ' '), ',', ' ') AS voie,
       coalesce(o.code_postal, c.code_postal) AS code_post,
       CAST(NULL AS VARCHAR) AS ville,
       CASE WHEN o.fantoir IS NOT NULL THEN 'OSM'
            WHEN od.voie_osm != od.voie_autre THEN 'O+O'
            WHEN od.fantoir IS NOT NULL THEN 'OD'
            WHEN c.voie_osm != '' THEN 'C+O'
            ELSE 'CAD' END AS source,
       b.lat, b.lon
FROM keys
JOIN pick b ON b.fantoir = keys.fantoir AND b.num = keys.num AND b.side = keys.side
LEFT JOIN pick o ON o.fantoir = keys.fantoir AND o.num = keys.num AND o.side = 0
LEFT JOIN pick od ON od.fantoir = keys.fantoir AND od.num = keys.num AND od.side = 1
LEFT JOIN pick c ON c.fantoir = keys.fantoir AND c.num = keys.num AND c.side = 2
WHERE NOT b.bad
ORDER BY id
"""


def _oracle(rows) -> list[tuple]:
    cumul = pd.DataFrame(rows, columns=[f.split()[0] for f in CUMUL_SCHEMA.split(", ")])
    con = duckdb.connect()
    con.register("cumul", cumul)
    return [tuple(r) for r in con.execute(_rule_sql()).fetchall()]


def _engine(spark, rows, parts=None) -> list[tuple]:
    from bano_spark.operators.conciliation import conciliate

    df = spark.createDataFrame(rows, CUMUL_SCHEMA)
    if parts:
        df = df.repartition(*parts)
    out = conciliate(df)
    assert out.columns == OUT_COLS
    return [tuple(r) for r in out.collect()]


def _row(source, fantoir, numero, lon, lat, voie_osm=None, voie_autre=None,
         code_postal=None):
    return ("75101", "75", source, fantoir, numero, voie_osm, voie_autre,
            code_postal, lon, lat)


# several rows per key in each source; raw spellings that canonicalize to
# the same num ('12'/'012', '12B'/'12 BIS', '99999'/'099999') with
# different validity or output numero; zero and null coordinates
DUP_ROWS = [
    # A/12: OSM wins ('012' < '12'), voie from OSM, cp from BAN (OSM has none)
    _row("OSM", "A", "12", 1.0, 1.0, "Rue d’Alpha", None, None),
    _row("OSM", "A", "012", 2.0, 2.0, "Rue d’Alpha, Est", None, None),
    _row("BAL", "A", "12", 3.0, 3.0, "Rue Beta", "Rue Gamma", "75002"),
    _row("BAN", "A", "12", 4.0, 4.0, "", "Rue Delta", "75003"),
    _row("BAN", "A", "12", 5.0, 5.0, "", "Rue Delta", "75004"),
    # A/99999: '99999' is invalid, '099999' valid and canonicalizes the same
    _row("OSM", "A", "99999", 1.0, 1.0, "Rue Alpha", None, "75001"),
    _row("OSM", "A", "099999", 9.0, 9.0, None, None, None),
    _row("BAN", "A", "99999", 6.0, 6.0, 'Rue "Epsilon"', None, "75005"),
    # B/99999: the only OSM row is invalid -> nothing, despite a valid BAL
    _row("OSM", "B", "99999", 1.0, 1.0, "Rue Alpha", None, None),
    _row("BAL", "B", "099999", 2.0, 2.0, "Rue Beta", "Rue Beta", None),
    # B/7: BAL rows with zero coordinates are absent -> BAN supplies (C+O)
    _row("BAL", "B", "7", 0.0, 3.0, "Rue Beta", None, None),
    _row("BAL", "B", "7", 3.0, 0.0, "Rue Beta", None, None),
    _row("BAN", "B", "7", 8.0, 8.0, "Rue Zeta,Nord", None, "75006"),
    _row("BAN", "B", "7", 0.0, 0.0, "Rue Eta", None, "75007"),
    # B/8: BAN only with an empty voie_osm -> CAD
    _row("BAN", "B", "8", 8.0, 8.0, "", "Chemin Theta", None),
    _row("BAN", "B", "08", 7.0, 7.0, "", "Chemin Iota", "75008"),
    # C/3: O+O (voie_osm != voie_autre); C/4: OD (equal); C/5: OD (autre null)
    _row("BAL", "C", "3", 3.0, 3.0, "Rue Kappa", "Rue Lambda", None),
    _row("BAL", "C", "3", 2.0, 4.0, "Rue Kappa", "Rue Kappa", None),
    _row("BAN", "C", "3", 1.0, 1.0, "Rue Mu", None, "75009"),
    _row("BAL", "C", "4", 3.0, 3.0, "Rue Nu", "Rue Nu", None),
    _row("BAL", "C", "5", 3.0, 3.0, None, None, None),
    _row("BAN", "C", "5", 2.0, 2.0, None, "Rue Xi", "75010"),
    # C/12B: '12B' < '12BIS' (output spellings of the same num)
    _row("OSM", "C", "12 bis", 4.0, 4.0, "Rue Omicron", None, None),
    _row("OSM", "C", "12B", 5.0, 5.0, "Rue Omicron", None, None),
    # C/1234567890: junk number; C/0: num '' dropped; null fantoir dropped
    _row("OSM", "C", "1234567890", 4.0, 4.0, "Rue Pi", None, None),
    _row("OSM", "C", "0", 4.0, 4.0, "Rue Rho", None, None),
    _row("OSM", None, "6", 4.0, 4.0, "Rue Sigma", None, None),
    # D/*: null coordinates count as absent
    _row("OSM", "D", "1", None, 4.0, "Rue Tau", None, "75011"),
    _row("BAL", "D", "1", 5.0, 5.0, "Rue Upsilon", None, None),
    _row("BAN", "D", "1", 6.0, 6.0, "Rue Phi", None, "75012"),
    _row("OSM", "D", "2", 4.0, None, "Rue Chi", None, None),
    _row("OSM", "D", "3", 4.0, None, "Rue Psi", None, None),
    _row("OSM", "D", "3", 7.0, 7.0, "Rue Omega", None, None),
    _row("BAL", "D", "4", None, 5.0, "Rue Alpha", None, None),
    _row("BAN", "D", "4", 6.0, 6.0, "", "Rue Beta", "75013"),
]


def test_duplicate_keys_match_oracle(spark):
    got = _engine(spark, DUP_ROWS)
    assert got == _oracle(DUP_ROWS)
    ids = [r[0] for r in got]
    assert ids == sorted(ids)
    by_id = {r[0]: r for r in got}
    assert by_id["A-12"] == ("A-12", "012", "Rue d'Alpha Est", "75003", None,
                             "OSM", 2.0, 2.0)
    assert by_id["A-99999"][1:4] == ("099999", "Rue 'Epsilon'", "75005")
    assert "B-99999" not in by_id
    assert by_id["B-7"][5] == "C+O" and by_id["B-8"][5] == "CAD"
    assert [by_id[f"C-{n}"][5] for n in "345"] == ["O+O", "OD", "OD"]
    assert by_id["C-12B"][1] == "12B"
    assert {"C-1234567890", "C-", "C-0"}.isdisjoint(by_id)


def test_null_coordinates_count_as_absent(spark):
    by_id = {r[0]: r for r in _engine(spark, DUP_ROWS)}
    # OSM row without lon: BAL supplies number AND position, never a mix
    assert by_id["D-1"] == ("D-1", "1", "Rue Upsilon", "75012", None, "OD",
                            5.0, 5.0)
    assert "D-2" not in by_id  # the only row has no position
    assert by_id["D-3"][5:] == ("OSM", 7.0, 7.0)
    assert by_id["D-4"] == ("D-4", "4", "", "75013", None, "CAD", 6.0, 6.0)


# every key has rows tied on (numero, lat, lon) that differ in voie or
# postcode, so a pick that follows input order changes the output
TIE_ROWS = [r for k in range(8) for r in (
    _row("OSM", f"T{k}", "5", 1.0 + k, 1.0, None, None, None),
    _row("BAN", f"T{k}", "5", 2.0, 2.0, "Rue Un", None, "75001"),
    _row("BAN", f"T{k}", "5", 2.0, 2.0, "Rue Deux", None, "75002"),
    _row("BAN", f"T{k}", "5", 2.0, 2.0, None, "Rue Trois", "75003"),
    _row("BAL", f"U{k}", "6", 3.0, 3.0, "Rue Quatre", "Rue Cinq", None),
    _row("BAL", f"U{k}", "6", 3.0, 3.0, "Rue Quatre", "Rue Quatre", None),
    _row("BAN", f"U{k}", "6", 4.0, 4.0, None, None, "75004"),
    _row("BAN", f"U{k}", "6", 4.0, 4.0, None, None, "75005"),
)]


def test_ties_do_not_depend_on_row_order_or_partitioning(spark):
    want = _oracle(TIE_ROWS)
    assert len(want) == 16
    n = len(TIE_ROWS)
    orders = [TIE_ROWS, TIE_ROWS[::-1],
              [TIE_ROWS[(i * 7) % n] for i in range(n)],
              [TIE_ROWS[(i * 11 + 3) % n] for i in range(n)]]
    layouts = [None, (1,), (3,), (5, "source")]
    outs = {tuple(_engine(spark, rows, parts))
            for rows in orders for parts in layouts}
    assert outs == {tuple(want)}


def _at(insee, source, fantoir, numero, lon, lat, voie_osm):
    return (insee, insee[:2], source, fantoir, numero, voie_osm, None, None,
            lon, lat)


# pages_to_cumul writes a record without ref:FR:FANTOIR as fantoir ''
EMPTY_CODE_ROWS = [
    _at("75101", "OSM", "", "1", 2.35, 48.86, "Rue de Rivoli"),
    _at("13201", "OSM", "", "1", 5.37, 43.30, "La Canebière"),
    _at("13201", "BAN", "", "1", 5.38, 43.31, "La Canebière"),
    _at("75101", "OSM", "751011234", "1", 2.34, 48.85, "Rue du Louvre"),
    _at("13201", "BAN", "132015678", "1", 5.36, 43.29, "Quai du Port"),
]


def test_empty_fantoir_is_no_key(spark):
    """Two addresses numbered 1 in 75101 and 13201, both without a code,
    must not become one export row with id '-1'."""
    got = _engine(spark, EMPTY_CODE_ROWS)
    assert got == _oracle(EMPTY_CODE_ROWS)
    assert [r[0] for r in got] == ["132015678-1", "751011234-1"]
