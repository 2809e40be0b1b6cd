"""Independent DuckDB oracles for the three workloads.

Each oracle re-derives the expected output from the same on-disk input
the engine reads (the parquet pages table, the stored point snapshot),
in SQL that shares no code with the engine: the page text is re-parsed,
commune membership is rectangle containment over the synthetic
geography, street names map through the reference's normalize goldens
(synth.STREETS), and tiles use the EPSG:3857 slippy-grid formula.
"""

from __future__ import annotations

import glob
import os

import duckdb

from bano_spark import synth
from bano_spark.geo import tiles

ZOOM = tiles.DEFAULT_ZOOM
_CELL = tiles.cell_size(ZOOM)
_TX = f"CAST(floor((x - ({tiles.ORIGIN!r})) / {_CELL!r}) AS BIGINT)"
_TY = f"CAST(floor(({-tiles.ORIGIN!r} - y) / {_CELL!r}) AS BIGINT)"

# the reference's tile-assignment commune universe (models.py:339-359):
# level 8 minus the three arrondissement cities, plus level-9 arrondissements
_ELIGIBLE = """(c.admin_level = 8 AND c.insee_com NOT IN ('13055', '69123', '75056'))
   OR (c.admin_level = 9 AND (c.insee_com LIKE '132__' OR c.insee_com LIKE '6938_'
                              OR c.insee_com LIKE '751__'))"""


def _rollup_sql(points: str, communes_filter: str) -> str:
    return f"""
SELECT c.insee_com, COUNT(*) AS n, COUNT(DISTINCT ({_TX}, {_TY})) AS n_tiles
FROM {points} p
JOIN {synth.communes_values_sql()}
  ON p.x >= c.xmin AND p.x < c.xmax AND p.y >= c.ymin AND p.y < c.ymax
WHERE {communes_filter}
GROUP BY 1
"""


def _pages_fields(pages_dir: str) -> str:
    """Page text -> the fields of its embedded BAN and OSM lines."""
    return f"""(
  SELECT replace(l[1], 'ADDRESSES ', '') AS kind,
         string_split(l[2], ';') AS f,
         regexp_extract(l[3], 'ref:FR:FANTOIR=(.*)$', 1) AS fantoir
  FROM (SELECT string_split(text, chr(10)) AS l
        FROM read_parquet('{pages_dir}/*.parquet'))
)"""


def rebuild_rollup(pages_dir: str) -> dict[str, tuple[int, int]]:
    """Per admin-level-8 commune (n addresses, n distinct z16 tiles)."""
    pts = f"""(SELECT CAST(f[7] AS DOUBLE) AS x, CAST(f[8] AS DOUBLE) AS y
              FROM {_pages_fields(pages_dir)})"""
    rows = duckdb.sql(_rollup_sql(pts, "c.admin_level = 8")).fetchall()
    return {r[0]: (r[1], r[2]) for r in rows}


def points_rollup(snapshot_dir: str) -> dict[str, tuple[int, int]]:
    """Full tile rollup of a stored point snapshot over the eligible
    commune universe; membership from coordinates, not the stored
    partition key."""
    pts = f"read_parquet('{snapshot_dir}/*/*.parquet')"
    rows = duckdb.sql(_rollup_sql(pts, _ELIGIBLE)).fetchall()
    return {r[0]: (r[1], r[2]) for r in rows}


def read_store(store_dir: str) -> dict[str, tuple[int, int]]:
    """The engine's partitioned rollup store (poly_insee=<key>/part-*)."""
    files = glob.glob(f"{store_dir}/poly_insee=*/*.parquet")
    if not files:
        return {}
    rows = duckdb.sql(f"""
SELECT poly_insee, n, n_tiles
FROM read_parquet({files!r}, hive_partitioning = true,
                  hive_types = {{'poly_insee': VARCHAR}})""").fetchall()
    return {r[0]: (r[1], r[2]) for r in rows}


def export_lines(pages_dir: str) -> list[str]:
    """Sorted unix-CSV export lines: extract -> normalize (goldens) ->
    the export_csv_dept.sql conciliation, re-expressed in SQL."""
    norm = ", ".join(
        "('" + raw.replace("'", "''") + "', '" + canon.replace("'", "''") + "')"
        for raw, canon in synth.STREETS)
    sql = f"""
WITH names(raw, canon) AS (VALUES {norm}),
cumul AS (
  SELECT f[6] AS insee_com, p.fantoir, upper(kind) AS source,
         f[2] AS numero, n.canon AS voie, f[5] AS code_postal,
         CAST(f[7] AS DOUBLE) AS lon, CAST(f[8] AS DOUBLE) AS lat
  FROM {_pages_fields(pages_dir)} p JOIN names n ON n.raw = f[4]
  WHERE kind IN ('ban', 'osm', 'bal')
),
u AS (SELECT DISTINCT insee_com, fantoir, numero AS num FROM cumul),
o AS (SELECT fantoir, numero AS num, numero, voie, code_postal, lon, lat
      FROM cumul WHERE source = 'OSM'),
od AS (SELECT fantoir, numero AS num, numero, voie, code_postal, lon, lat
       FROM cumul WHERE source = 'BAL' AND lon != 0 AND lat != 0),
c AS (SELECT fantoir, numero AS num, numero, voie, code_postal, lon, lat
      FROM cumul WHERE source = 'BAN' AND lon != 0 AND lat != 0),
res AS (
  SELECT u.fantoir || '-' || u.num AS id,
         upper(replace(coalesce(o.numero, od.numero, c.numero), ' ', '')) AS numero,
         replace(replace(replace(coalesce(o.voie, od.voie, c.voie),
                 '"', chr(39)), ', ', ' '), ',', ' ') AS voie,
         coalesce(o.code_postal, c.code_postal) AS code_post,
         CASE WHEN u.num = o.num THEN 'OSM'
              WHEN u.num = od.num THEN 'OD'
              WHEN c.voie != '' THEN 'C+O'
              ELSE 'CAD' END AS source,
         coalesce(o.lat, od.lat, c.lat) AS lat,
         coalesce(o.lon, od.lon, c.lon) AS lon
  FROM u
  LEFT JOIN o ON u.num = o.num AND u.fantoir = o.fantoir
  LEFT JOIN od ON od.num = u.num AND od.fantoir = u.fantoir
  LEFT JOIN c ON c.num = u.num AND c.fantoir = u.fantoir
  WHERE u.num > '0'
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY id ORDER BY numero, lat, lon) AS seq
  FROM res WHERE lat IS NOT NULL AND lon IS NOT NULL
)
SELECT id || ',' || numero || ',' || voie || ',' || coalesce(code_post, '')
       || ',,' || source || ',' || CAST(lat AS VARCHAR) || ',' || CAST(lon AS VARCHAR)
FROM ranked WHERE seq = 1 ORDER BY 1
"""
    return [r[0] for r in duckdb.sql(sql).fetchall()]


def read_text_lines(out_dir: str) -> list[str]:
    """Every line of a Spark text output directory, sorted."""
    lines: list[str] = []
    for path in sorted(glob.glob(os.path.join(out_dir, "part-*"))):
        with open(path, encoding="utf-8") as f:
            lines.extend(f.read().splitlines())
    return sorted(lines)


def rollup_matches(expected: dict[str, tuple[int, int]], rows) -> bool:
    """Engine rows (key, n, n_tiles) equal the oracle mapping exactly."""
    got = {r[0]: (int(r[1]), int(r[2])) for r in rows}
    return got == expected
