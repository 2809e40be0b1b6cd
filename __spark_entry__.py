"""Driver contract: entry / queries / oracle_sql.

Each query exercises one engine operator from SURVEY.md §2 over the
driver's parquet tables. Geometry-bearing inputs are *derived
deterministically* from those tables with integer-exact arithmetic (see
bano_spark/synth.py) so the DuckDB oracle can reproduce them
bit-for-bit; the Spark side runs the real engine code path (cell-cover
spatial joins, pandas-UDF normalization, ...), the oracle re-expresses
the same semantics in independent ANSI SQL.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bano_spark import synth
from bano_spark.functions.normalize import normalize_udf
from bano_spark.geo import tiles
from bano_spark.operators import conciliation as conc
from bano_spark.operators import tiling
from bano_spark.operators.pip_join import spatial_join
from bano_spark.registry import merge, registrar

_QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
_ORACLES: dict[str, str] = {}
register = registrar(_QUERIES, _ORACLES)


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


# ---------------------------------------------------------------------------
# shared derivation SQL (dialect differences: integer division, cast name)
# ---------------------------------------------------------------------------

def _pts_cte(dialect: str) -> str:
    return "pts AS (" + synth.points_select_sql(dialect) + ")"


def _spark_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synth.points_df(spark, sf_dir)


Z = tiles.DEFAULT_ZOOM  # 16
_CELL = tiles.cell_size(Z)

# ---------------------------------------------------------------------------
# q01 — cell-bucketed point-in-polygon join (J1), counts per commune
# ---------------------------------------------------------------------------

_Q01_ORACLE = f"""
WITH {_pts_cte('duckdb')}
SELECT c.insee_com, c.dept, c.admin_level, COUNT(*) AS n_points
FROM pts p
JOIN {synth.communes_values_sql()}
  ON p.x >= c.xmin AND p.x < c.xmax AND p.y >= c.ymin AND p.y < c.ymax
GROUP BY 1, 2, 3
ORDER BY 1
"""


@register("pip_count_per_commune", _Q01_ORACLE)
def q_pip(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _spark_points(spark, sf_dir)
    polys = synth.commune_polygons_df(spark)
    joined = spatial_join(pts, polys, x="x", y="y", id_col="insee_com",
                          verts_col="verts", zoom=15, split_refine=True)
    return (
        joined.groupBy("insee_com", "dept", "admin_level")
        .agg(F.count(F.lit(1)).alias("n_points"))
        .orderBy("insee_com")
    )


# ---------------------------------------------------------------------------
# q01b — exact PIP refine over non-axis-aligned (slope ±2 triangles)
# and non-convex (L-shape) polygons: the ray-cast kernel itself is
# oracle-checked, not just bbox semantics (VERDICT r1 item 10). The
# oracle states containment as strict half-plane / box-union
# inequalities; fixtures guarantee no point sits on any edge line.
# ---------------------------------------------------------------------------

_Q01B_ORACLE = f"""
WITH {_pts_cte('duckdb')},
m AS ({synth.refine_membership_sql()})
SELECT poly_id, count(*) AS n_points, CAST(sum(event_id) AS BIGINT) AS id_sum
FROM m GROUP BY 1 ORDER BY 1
"""


@register("pip_nonconvex_refine", _Q01B_ORACLE)
def q_pip_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _spark_points(spark, sf_dir)
    polys = synth.refine_polygons_df(spark)
    joined = spatial_join(pts, polys, x="x", y="y", id_col="poly_id",
                          verts_col="verts", zoom=15)
    return (
        joined.groupBy("poly_id")
        .agg(F.count(F.lit(1)).alias("n_points"),
             F.sum("event_id").cast("bigint").alias("id_sum"))
        .orderBy("poly_id")
    )


# ---------------------------------------------------------------------------
# q02 — z16 tile assignment of points (M5), per-tile counts
# ---------------------------------------------------------------------------

_Q02_ORACLE = f"""
WITH {_pts_cte('duckdb')}
SELECT CAST(floor((x - ({tiles.ORIGIN!r})) / {_CELL!r}) AS BIGINT) AS tx,
       CAST(floor(({-tiles.ORIGIN!r} - y) / {_CELL!r}) AS BIGINT) AS ty,
       COUNT(*) AS n
FROM pts
GROUP BY 1, 2
"""


@register("tile_assignment_counts", _Q02_ORACLE)
def q_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _spark_points(spark, sf_dir)
    return (
        pts.select(
            tiles.tile_x(F.col("x"), Z).alias("tx"),
            tiles.tile_y(F.col("y"), Z).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ---------------------------------------------------------------------------
# q03 — expired-tile -> commune assignment (J14) with the reference's
# admin-level special-casing (bano/models.py:339-360)
# ---------------------------------------------------------------------------

_Q03_ORACLE = f"""
WITH {_pts_cte('duckdb')},
et AS (
  SELECT DISTINCT
      CAST(floor((x - ({tiles.ORIGIN!r})) / {_CELL!r}) AS BIGINT) AS tx,
      CAST(floor(({-tiles.ORIGIN!r} - y) / {_CELL!r}) AS BIGINT) AS ty
  FROM pts
),
boxes AS (
  SELECT ({tiles.ORIGIN!r}) + {_CELL!r} * tx AS xmin,
         ({tiles.ORIGIN!r}) + {_CELL!r} * (tx + 1) AS xmax,
         ({-tiles.ORIGIN!r}) - {_CELL!r} * (ty + 1) AS ymin,
         ({-tiles.ORIGIN!r}) - {_CELL!r} * ty AS ymax
  FROM et
)
SELECT DISTINCT c.insee_com
FROM boxes e
JOIN {synth.communes_values_sql()}
  ON e.xmin <= c.xmax AND e.xmax >= c.xmin AND e.ymin <= c.ymax AND e.ymax >= c.ymin
WHERE (c.admin_level = 8 AND c.insee_com NOT IN ('13055','69123','75056'))
   OR (c.admin_level = 9 AND (c.insee_com LIKE '132__' OR c.insee_com LIKE '6938_'
                              OR c.insee_com LIKE '751__'))
ORDER BY 1
"""


@register("expired_tiles_to_insee", _Q03_ORACLE)
def q_expire(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _spark_points(spark, sf_dir)
    tiles_df = pts.select(
        F.lit(Z).alias("z"),
        tiles.tile_x(F.col("x"), Z).alias("x"),
        tiles.tile_y(F.col("y"), Z).alias("y"),
    ).distinct()
    return tiling.expired_tiles_to_insee(tiles_df, synth.commune_polygons_df(spark), Z)


# ---------------------------------------------------------------------------
# q04 — street-name normalization (C1) via the byte-exact pandas UDF;
# oracle maps the bounded vocabulary to pre-verified goldens
# ---------------------------------------------------------------------------

def _street_case(col: str, idx: int) -> str:
    """CASE mapping key%len(STREETS) -> raw or normalized literal."""
    whens = "\n    ".join(
        f"WHEN {col} % {len(synth.STREETS)} = {i} THEN '{(s[idx]).replace(chr(39), chr(39) * 2)}'"
        for i, s in enumerate(synth.STREETS)
    )
    return f"CASE {whens} END"


_Q04_ORACLE = f"""
SELECT c_custkey,
       {_street_case('c_custkey', 0)} AS nom,
       {_street_case('c_custkey', 1)} AS nom_norm
FROM customer
ORDER BY c_custkey
"""


@register("normalize_street", _Q04_ORACLE)
def q_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _read(spark, sf_dir, "customer")
    raw = F.element_at(
        F.array(*[F.lit(s[0]) for s in synth.STREETS]),
        (F.col("c_custkey") % len(synth.STREETS)).cast("int") + 1,
    )
    return (
        cust.select("c_custkey", raw.alias("nom"))
        .withColumn("nom_norm", normalize_udf(F.col("nom")))
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# q05 — housenumber canonicalization chain (C3), pure built-ins
# ---------------------------------------------------------------------------

_NUMS = ["2 BIS", "04", "10 TER", "99999", "3 QUATER", "5;7", "1à3", "0012 bis",
         "7 quat", ""]


def _num_case(col: str) -> str:
    whens = "\n    ".join(
        f"WHEN {col} % {len(_NUMS)} = {i} THEN '{n}'" for i, n in enumerate(_NUMS))
    return f"CASE {whens} END"


_Q05_ORACLE = f"""
SELECT o_orderkey,
       replace(replace(replace(replace(replace(replace(replace(replace(
         regexp_replace(upper({_num_case('o_orderkey')}), '^0*', ''),
         'BIS','B'),'TER','T'),'QUATER','Q'),'QUAT','Q'),' ',''),'à','-'),';',','),'"','')
       AS num
FROM orders
ORDER BY o_orderkey
"""


@register("housenumber_canon", _Q05_ORACLE)
def q_num(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    raw = F.element_at(
        F.array(*[F.lit(n) for n in _NUMS]),
        (F.col("o_orderkey") % len(_NUMS)).cast("int") + 1,
    )
    return orders.select(
        "o_orderkey", conc.canonical_num(raw).alias("num")
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# q06 — multi-housenumber split + explode (C4)
# ---------------------------------------------------------------------------

_MULTI = ["2,4", "2-8", "2à6", "12", "1;3;5", "9/11"]


def _multi_case(col: str) -> str:
    whens = "\n    ".join(
        f"WHEN {col} % {len(_MULTI)} = {i} THEN '{n}'" for i, n in enumerate(_MULTI))
    return f"CASE {whens} END"


_Q06_ORACLE = f"""
SELECT o_orderkey, u.part AS num
FROM (SELECT o_orderkey, {_multi_case('o_orderkey')} AS numero FROM orders) t,
     UNNEST(str_split_regex(t.numero, '[,à;/*-]')) AS u(part)
ORDER BY o_orderkey, num
"""


@register("multinumber_explode", _Q06_ORACLE)
def q_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    raw = F.element_at(
        F.array(*[F.lit(n) for n in _MULTI]),
        (F.col("o_orderkey") % len(_MULTI)).cast("int") + 1,
    )
    return (
        orders.select("o_orderkey", raw.alias("numero"))
        .select("o_orderkey", F.explode(conc.split_multinumber(F.col("numero"))).alias("num"))
        .orderBy("o_orderkey", "num")
    )


# ---------------------------------------------------------------------------
# q07 — full multi-source conciliation (J9/W3/A1/C3/F6): the reference's
# export_csv_dept.sql as a DataFrame pipeline vs a literal SQL mirror.
# The oracle keeps the reference's join + ROW_NUMBER shape. The derived
# cumul_adresses input makes every attribute a function of the key
# (fantoir, num, source) and the raw numero, with no null coordinates,
# so that shape and the engine's keyed fold (per-source struct min, see
# operators/conciliation.py) pick the same row for every id.
# ---------------------------------------------------------------------------

def _street_sql(expr: str) -> str:
    whens = " ".join(
        f"WHEN {expr} % {len(synth.STREETS)} = {i} THEN '{s[0].replace(chr(39), chr(39)*2)}'"
        for i, s in enumerate(synth.STREETS))
    return f"CASE {whens} END"


def _cumul_cte(cast: str) -> str:
    """Derived cumul_adresses rows from `orders` — identical text for
    Spark SQL and DuckDB except the string cast type name."""
    insee = "CASE " + " ".join(
        f"WHEN o_custkey % 10 = {i} THEN '{synth.COMMUNES[i][0]}'" for i in range(10)
    ) + " END"
    numero = _num_case("nidx")
    return f"""
base AS (
  SELECT o_orderkey, o_custkey,
         {insee} AS insee_com,
         o_custkey % 4000 AS k1,
         o_orderkey % {len(_NUMS)} AS nidx,
         o_orderkey % 3 AS sidx
  FROM orders
),
cumul AS (
  SELECT insee_com,
         CASE WHEN substring(insee_com, 1, 2) = '97'
              THEN substring(insee_com, 1, 3)
              ELSE substring(insee_com, 1, 2) END AS dept,
         CASE WHEN o_orderkey % 23 = 0 THEN NULL
              ELSE insee_com || lpad(CAST(k1 AS {cast}), 4, '0') END AS fantoir,
         CASE sidx WHEN 0 THEN 'OSM' WHEN 1 THEN 'BAL' ELSE 'BAN' END AS source,
         {numero} AS numero,
         CASE WHEN (k1 + nidx) % 11 = 0 THEN NULL
              ELSE {_street_sql('(k1 + nidx + sidx)')} END AS voie_osm,
         CASE (k1 + nidx + sidx) % 4
              WHEN 0 THEN 'Voie Autre ' || CAST(k1 AS {cast})
              WHEN 1 THEN ''
              WHEN 2 THEN NULL
              ELSE {_street_sql('(k1 + nidx + sidx)')} END AS voie_autre,
         CASE WHEN k1 % 3 = 0 THEN NULL
              ELSE '0' || CAST(1000 + k1 AS {cast}) END AS code_postal,
         CAST(CASE WHEN sidx != 0 AND o_orderkey % 17 = 0 THEN 0.0
              ELSE 1000.0 + k1 * 16.0 + nidx + sidx * 0.25 END AS DOUBLE) AS lon,
         CAST(CASE WHEN sidx != 0 AND o_orderkey % 19 = 0 THEN 0.0
              ELSE 2000.0 + k1 * 16.0 + nidx + sidx * 0.25 END AS DOUBLE) AS lat
  FROM base
)"""


def _canon_sql(col: str) -> str:
    return ("replace(replace(replace(replace(replace(replace(replace(replace("
            f"regexp_replace(upper({col}), '^0*', ''),"
            "'BIS','B'),'TER','T'),'QUATER','Q'),'QUAT','Q'),' ',''),"
            "'à','-'),';',','),'\"','')")


_Q07_ORACLE = f"""
WITH {_cumul_cte('VARCHAR')},
u AS (SELECT insee_com, fantoir, {_canon_sql('numero')} AS num
      FROM cumul WHERE fantoir <> '' GROUP BY 1, 2, 3),
o AS (SELECT *, {_canon_sql('numero')} AS num FROM cumul WHERE source = 'OSM'),
od AS (SELECT *, {_canon_sql('numero')} AS num FROM cumul
       WHERE source = 'BAL' AND lon != 0 AND lat != 0),
c AS (SELECT *, {_canon_sql('numero')} AS num FROM cumul
      WHERE source = 'BAN' AND lon != 0 AND lat != 0),
res AS (
  SELECT u.fantoir || '-' || u.num AS id,
         upper(replace(coalesce(o.numero, od.numero, c.numero), ' ', '')) AS numero,
         replace(replace(replace(
           coalesce(replace(o.voie_osm, '’', chr(39)), replace(od.voie_osm, '’', chr(39)),
                    replace(c.voie_osm, '’', chr(39)), od.voie_autre, c.voie_autre),
           '"', chr(39)), ', ', ' '), ',', ' ') AS voie,
         coalesce(o.code_postal, c.code_postal) AS code_post,
         CAST(NULL AS VARCHAR) AS ville,
         CASE WHEN u.num = o.num THEN 'OSM'
              WHEN u.num = od.num AND od.voie_osm != od.voie_autre
                   AND od.voie_osm IS NOT NULL THEN 'O+O'
              WHEN u.num = od.num THEN 'OD'
              WHEN c.voie_osm != '' THEN 'C+O'
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
  FROM res
  WHERE lat IS NOT NULL AND lon IS NOT NULL
    AND regexp_matches(numero, '^[0-9]{{1,4}}( ?[A-Z]?.*)?')
    AND numero != '99999'
    AND NOT regexp_matches(numero, '.[0-9 .-]{{9,}}')
)
SELECT id, numero, voie, code_post, ville, source, lat, lon
FROM ranked WHERE seq = 1 ORDER BY id
"""


@register("conciliation_export", _Q07_ORACLE)
def q_conciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    cumul = spark.sql("WITH " + _cumul_cte("STRING") + " SELECT * FROM cumul")
    return conc.conciliate(cumul)


# ---------------------------------------------------------------------------
# q08 — kNN name match within cell k-ring (north-rule generalization of J11)
# ---------------------------------------------------------------------------

_KZ = 13
_KCELL = tiles.cell_size(_KZ)
_NORM_CASE_STREETS = [s[1] for s in synth.STREETS]


def _norm_street_case(expr: str) -> str:
    whens = " ".join(
        f"WHEN {expr} % {len(_NORM_CASE_STREETS)} = {i} THEN '{n}'"
        for i, n in enumerate(_NORM_CASE_STREETS))
    return f"CASE {whens} END"


_Q08_ORACLE = f"""
WITH lpts AS ({synth.points_select_sql('duckdb', 'events', 'event_id', 0)}),
rpts AS ({synth.points_select_sql('duckdb', 'supplier', 's_suppkey', 7)}),
l AS (
  SELECT event_id,
         CAST(floor((x - ({tiles.ORIGIN!r})) / {_KCELL!r}) AS BIGINT) AS tx,
         CAST(floor(({-tiles.ORIGIN!r} - y) / {_KCELL!r}) AS BIGINT) AS ty,
         {_norm_street_case('event_id')} ||
           CASE WHEN event_id % 5 = 0 THEN ' X' ELSE '' END AS name_norm
  FROM lpts
),
r AS (
  SELECT s_suppkey,
         CAST(floor((x - ({tiles.ORIGIN!r})) / {_KCELL!r}) AS BIGINT) AS tx,
         CAST(floor(({-tiles.ORIGIN!r} - y) / {_KCELL!r}) AS BIGINT) AS ty,
         {_norm_street_case('s_suppkey')} AS name_norm
  FROM rpts
)
SELECT l.event_id, r.s_suppkey, levenshtein(l.name_norm, r.name_norm) AS lev
FROM l JOIN r
  ON abs(l.tx - r.tx) <= 1 AND abs(l.ty - r.ty) <= 1
WHERE levenshtein(l.name_norm, r.name_norm) <= 2
ORDER BY 1, 2
"""


@register("knn_name_match", _Q08_ORACLE)
def q_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.knn_join import knn_name_match

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    _read(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    left = spark.sql(synth.points_select_sql("spark", "events", "event_id", 0)).withColumn(
        "name_norm",
        F.expr(_norm_street_case("event_id")
               + " || CASE WHEN event_id % 5 = 0 THEN ' X' ELSE '' END"))
    right = spark.sql(synth.points_select_sql("spark", "supplier", "s_suppkey", 7)).withColumn(
        "name_norm", F.expr(_norm_street_case("s_suppkey")))
    right = right.withColumnRenamed("name_norm", "r_name_norm")
    m = knn_name_match(left, right, zoom=_KZ, k=1,
                       left_name="name_norm", right_name="r_name_norm", max_dist=2)
    return m.select("event_id", "s_suppkey", "lev").orderBy("event_id", "s_suppkey")


# ---------------------------------------------------------------------------
# q09 — postal-polygon containment, smallest polygon wins (J7/W5)
# ---------------------------------------------------------------------------

_Q09_ORACLE = f"""
WITH {_pts_cte('duckdb')},
hits AS (
  SELECT p.event_id, pp.code_postal,
         (pp.xmax - pp.xmin) * (pp.ymax - pp.ymin) AS area
  FROM pts p
  JOIN {synth.postal_values_sql()}
    ON p.x >= pp.xmin AND p.x < pp.xmax AND p.y >= pp.ymin AND p.y < pp.ymax
)
SELECT event_id, code_postal
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                                   ORDER BY area, code_postal) AS rnk FROM hits)
WHERE rnk = 1
ORDER BY event_id
"""


@register("postal_smallest_polygon", _Q09_ORACLE)
def q_postal(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _spark_points(spark, sf_dir)
    pp = synth.postal_polygons_df(spark)
    hits = spatial_join(pts, pp, id_col="code_postal", zoom=14)
    w = Window.partitionBy("event_id").orderBy("area", "code_postal")
    return (
        hits.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select("event_id", "code_postal")
        .orderBy("event_id")
    )


# ---------------------------------------------------------------------------
# q10 — per-commune bbox aggregate (A8: ST_Extent GROUP BY insee)
# ---------------------------------------------------------------------------

_Q10_ORACLE = f"""
WITH {_pts_cte('duckdb')}
SELECT c.insee_com,
       min(p.x) AS bxmin, min(p.y) AS bymin, max(p.x) AS bxmax, max(p.y) AS bymax
FROM pts p
JOIN {synth.communes_values_sql()}
  ON p.x >= c.xmin AND p.x < c.xmax AND p.y >= c.ymin AND p.y < c.ymax
WHERE c.admin_level = 8
GROUP BY 1 ORDER BY 1
"""


@register("bbox_per_commune", _Q10_ORACLE)
def q_bbox(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _spark_points(spark, sf_dir)
    polys = synth.commune_polygons_df(spark).filter(F.col("admin_level") == 8)
    joined = spatial_join(pts, polys, id_col="insee_com", zoom=15, split_refine=True)
    return (
        joined.groupBy("insee_com")
        .agg(F.min("x").alias("bxmin"), F.min("y").alias("bymin"),
             F.max("x").alias("bxmax"), F.max("y").alias("bymax"))
        .orderBy("insee_com")
    )


# ---------------------------------------------------------------------------
# q11 — departement from INSEE (C9) incl. overseas 97x rule
# ---------------------------------------------------------------------------

_INSEES = ["01001", "02005", "75056", "97123", "97411", "13055", "2A004", "69123"]
_INSEE_CASE = "CASE " + " ".join(
    f"WHEN c_custkey % {len(_INSEES)} = {i} THEN '{v}'" for i, v in enumerate(_INSEES)
) + " END"

_Q11_ORACLE = f"""
SELECT c_custkey, insee,
       CASE WHEN substr(insee, 1, 2) = '97' THEN substr(insee, 1, 3)
            ELSE substr(insee, 1, 2) END AS dept
FROM (SELECT c_custkey, {_INSEE_CASE} AS insee FROM customer)
ORDER BY c_custkey
"""


@register("dept_from_insee", _Q11_ORACLE)
def q_dept(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.functions.codes import dept_from_insee

    cust = _read(spark, sf_dir, "customer")
    return (
        cust.select("c_custkey", F.expr(_INSEE_CASE).alias("insee"))
        .withColumn("dept", dept_from_insee(F.col("insee")))
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# q12 — commune importance score (M1; PG log == log10)
# ---------------------------------------------------------------------------

_Q12_ORACLE = """
SELECT c_custkey,
       greatest(0.075, round(log10((1 + c_custkey % 5)
                + log10(((c_custkey * 37) % 100000) + 1) / 3), 4)) AS importance
FROM customer ORDER BY c_custkey
"""


@register("importance_commune", _Q12_ORACLE)
def q_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _read(spark, sf_dir, "customer")
    adm = (F.lit(1) + F.col("c_custkey") % 5).cast("double")
    pop = ((F.col("c_custkey") * 37) % 100000).cast("double")
    imp = F.greatest(F.lit(0.075), F.round(F.log10(adm + F.log10(pop + 1) / 3), 4))
    return cust.select("c_custkey", imp.alias("importance")).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# q13 — FANTOIR fixed-width parse (S6/C13), reference substr offsets
# ---------------------------------------------------------------------------

def _fantoir_line_sql(cast: str) -> str:
    """Raw fixed-width line built from orders (positions per
    load_fantoir.sql; mirrors sources.fantoir.fantoir_raw_line_expr)."""
    insee = "CASE " + " ".join(
        f"WHEN o_custkey % 10 = {i} THEN '{synth.COMMUNES[i][0]}'" for i in range(10)
    ) + " END"
    return f"""
SELECT substr(insee, 1, 2) || '0' || substr(insee, 3, 3)
    || lpad(CAST(o_orderkey % 50 AS {cast}), 4, '0')
    || CAST(o_orderkey % 10 AS {cast})
    || rpad(CASE o_orderkey % 4 WHEN 0 THEN 'RUE' WHEN 1 THEN 'BD'
            WHEN 2 THEN 'AV' ELSE 'CHE' END, 4, ' ')
    || rpad('LIBELLE ' || CAST(o_custkey % 97 AS {cast}), 26, ' ')
    || rpad('', 7, ' ') || 'N' || ' ' || '0' || ' ' || rpad('', 7, ' ')
    || lpad('0', 7, '0') || lpad('0', 7, '0')
    || (CASE WHEN o_orderkey % 11 = 0 THEN 'O'
             WHEN o_orderkey % 13 = 0 THEN 'Q' ELSE ' ' END)
    || rpad('', 7, '0') || '1987001' || rpad('', 15, ' ') || 'A1B2C'
    || (CASE o_orderkey % 3 WHEN 0 THEN '1' WHEN 1 THEN '3' ELSE 'B' END)
    || (CASE WHEN o_orderkey % 2 = 0 THEN '1' ELSE '0' END)
    || '  ' || rpad('MOT', 8, ' ') AS raw
FROM (SELECT o_orderkey, o_custkey, {insee} AS insee FROM orders)
"""


_Q13_ORACLE = f"""
WITH lines AS ({_fantoir_line_sql('VARCHAR')})
SELECT CASE WHEN substr(raw,1,2) = '97' THEN substr(raw,1,2) || substr(raw,4,1)
            ELSE substr(raw,1,2) END AS code_dept,
       substr(raw,1,2) || substr(raw,4,3) AS code_insee,
       substr(raw,7,4) AS id_voie,
       substr(raw,1,2) || substr(raw,4,3) || substr(raw,7,4) AS fantoir,
       substr(raw,1,2) || substr(raw,4,3) || substr(raw,7,4) || substr(raw,11,1) AS fantoir10,
       substr(raw,11,1) AS cle_rivoli,
       rtrim(substr(raw,12,4)) AS nature_voie,
       rtrim(substr(raw,16,26)) AS libelle_voie,
       substr(raw,109,1) AS type_voie,
       substr(raw,74,1) AS caractere_annul,
       substr(raw,110,1) AS ld_bati,
       CAST(substr(raw,60,7) AS INTEGER) AS pop_a_part
FROM lines
WHERE NOT raw LIKE '______ %' AND NOT raw LIKE '___ %'
"""


@register("fantoir_fixed_width", _Q13_ORACLE)
def q_fantoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.sources.fantoir import parse_fantoir

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    lines = spark.sql(_fantoir_line_sql("STRING"))
    return parse_fantoir(lines).select(
        "code_dept", "code_insee", "id_voie", "fantoir", "fantoir10", "cle_rivoli",
        "nature_voie", "libelle_voie", "type_voie", "caractere_annul", "ld_bati",
        "pop_a_part")


# ---------------------------------------------------------------------------
# q03b — snapshot-diff change capture (§2.9): two versions of the point
# table (removals: id%41==0; moves: id%37==0 shifted +16m) diffed
# natively -> expired z16 tiles (old AND new positions) -> dirty INSEE
# list with the reference's admin special-casing. The imposm side
# channel re-expressed as an Iceberg-style snapshot diff.
# ---------------------------------------------------------------------------

_Q03B_ORACLE = f"""
WITH {_pts_cte('duckdb')},
changed AS (
  SELECT x, y FROM pts WHERE event_id % 41 = 0
  UNION ALL
  SELECT x, y FROM pts WHERE event_id % 37 = 0 AND event_id % 41 != 0
  UNION ALL
  SELECT x, y + 16.0 AS y FROM pts
  WHERE event_id % 37 = 0 AND event_id % 41 != 0
),
et AS (
  SELECT DISTINCT
      CAST(floor((x - ({tiles.ORIGIN!r})) / {_CELL!r}) AS BIGINT) AS tx,
      CAST(floor(({-tiles.ORIGIN!r} - y) / {_CELL!r}) AS BIGINT) AS ty
  FROM changed
),
boxes AS (
  SELECT ({tiles.ORIGIN!r}) + {_CELL!r} * tx AS xmin,
         ({tiles.ORIGIN!r}) + {_CELL!r} * (tx + 1) AS xmax,
         ({-tiles.ORIGIN!r}) - {_CELL!r} * (ty + 1) AS ymin,
         ({-tiles.ORIGIN!r}) - {_CELL!r} * ty AS ymax
  FROM et
)
SELECT DISTINCT c.insee_com
FROM boxes e
JOIN {synth.communes_values_sql()}
  ON e.xmin <= c.xmax AND e.xmax >= c.xmin AND e.ymin <= c.ymax AND e.ymax >= c.ymin
WHERE (c.admin_level = 8 AND c.insee_com NOT IN ('13055','69123','75056'))
   OR (c.admin_level = 9 AND (c.insee_com LIKE '132__' OR c.insee_com LIKE '6938_'
                              OR c.insee_com LIKE '751__'))
ORDER BY 1
"""


@register("snapshot_diff_dirty_insee", _Q03B_ORACLE)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.streaming.incremental import snapshot_dirty_communes

    pts = _spark_points(spark, sf_dir).select(
        F.col("event_id").alias("id"), "x", "y")
    old = pts
    new = (pts.filter(F.col("id") % 41 != 0)
           .withColumn("y", F.when(F.col("id") % 37 == 0,
                                   F.col("y") + 16.0).otherwise(F.col("y"))))
    polys = synth.commune_polygons_df(spark)
    return snapshot_dirty_communes(old, new, polys, key="id")


# ---------------------------------------------------------------------------
# q13b/q13c — FANTOIR loaders with the F7 annulled filter
# (bano/sources/fantoir.py:24 streets NOT IN ('O','Q'); :43 lieux-dits
# COALESCE(caractere_annul,'') = '' under bpchar semantics). The
# fixture emits 'O' (o_orderkey%11=0) and 'Q' (%13=0) annul marks so
# the filter demonstrably drops rows.
# ---------------------------------------------------------------------------

_FANTOIR_PARSED_CTE = """
parsed AS (
  SELECT substr(raw,1,2) || substr(raw,4,3) AS code_insee,
         substr(raw,1,2) || substr(raw,4,3) || substr(raw,7,4)
             || substr(raw,11,1) AS fantoir10,
         substr(raw,7,4) AS id_voie,
         substr(raw,11,1) AS cle_rivoli,
         rtrim(substr(raw,12,4)) AS nature_voie,
         rtrim(substr(raw,16,26)) AS libelle_voie,
         substr(raw,109,1) AS type_voie,
         substr(raw,74,1) AS caractere_annul,
         substr(raw,110,1) AS ld_bati
  FROM lines
  WHERE NOT raw LIKE '______ %' AND NOT raw LIKE '___ %'
)"""


_Q13B_ORACLE = f"""
WITH lines AS ({_fantoir_line_sql('VARCHAR')}),
{_FANTOIR_PARSED_CTE}
SELECT code_insee, fantoir10, substr(fantoir10, 1, 9) AS fantoir9, label
FROM (
  SELECT *, nature_voie || ' ' || libelle_voie AS label,
         RANK() OVER (PARTITION BY code_insee,
                          nature_voie || ' ' || libelle_voie
                      ORDER BY type_voie, id_voie, cle_rivoli) AS rang
  FROM parsed
  WHERE rtrim(caractere_annul) NOT IN ('O', 'Q')
) WHERE rang = 1
ORDER BY code_insee, fantoir10
"""


@register("fantoir_mapping_load", _Q13B_ORACLE)
def q_fantoir_mapping(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.sources.fantoir import mapping_load, parse_fantoir

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    lines = spark.sql(_fantoir_line_sql("STRING"))
    return mapping_load(parse_fantoir(lines)).orderBy("code_insee", "fantoir10")


_Q13C_ORACLE = f"""
WITH lines AS ({_fantoir_line_sql('VARCHAR')}),
{_FANTOIR_PARSED_CTE}
SELECT code_insee, fantoir10,
       trim(nature_voie || ' ' || libelle_voie) AS nom,
       rtrim(ld_bati) AS ld_bati_flag
FROM parsed
WHERE rtrim(coalesce(caractere_annul, '')) = ''
ORDER BY code_insee, fantoir10, nom
"""


@register("fantoir_lieux_dits_load", _Q13C_ORACLE)
def q_fantoir_ld(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.sources.fantoir import lieux_dits, parse_fantoir

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    lines = spark.sql(_fantoir_line_sql("STRING"))
    return (
        lieux_dits(parse_fantoir(lines))
        .select("code_insee", "fantoir10", "nom", "ld_bati_flag")
        .orderBy("code_insee", "fantoir10", "nom")
    )


# ---------------------------------------------------------------------------
# q14 — ordered string_agg (A3: reproducing the exact aggregation order)
# ---------------------------------------------------------------------------

_Q14_ORACLE = f"""
SELECT insee_com, string_agg(val, '#' ORDER BY val) AS numeros
FROM (
  SELECT CASE {' '.join(f"WHEN o_custkey % 10 = {i} THEN '{synth.COMMUNES[i][0]}'" for i in range(10))} END AS insee_com,
         lpad(CAST((o_orderkey * 7) % 997 AS VARCHAR), 4, '0') || '$'
           || CAST(o_orderkey % 100 AS VARCHAR) AS val
  FROM orders
)
GROUP BY 1 ORDER BY 1
"""


@register("string_agg_ordered", _Q14_ORACLE)
def q_stragg(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    insee = F.expr("CASE " + " ".join(
        f"WHEN o_custkey % 10 = {i} THEN '{synth.COMMUNES[i][0]}'" for i in range(10)
    ) + " END")
    val = F.concat(
        F.lpad(((F.col("o_orderkey") * 7) % 997).cast("string"), 4, "0"),
        F.lit("$"), (F.col("o_orderkey") % 100).cast("string"))
    return (
        orders.select(insee.alias("insee_com"), val.alias("val"))
        .groupBy("insee_com")
        .agg(F.concat_ws("#", F.sort_array(F.collect_list("val"))).alias("numeros"))
        .orderBy("insee_com")
    )


# ---------------------------------------------------------------------------
# q15 — adm_weight (A9: max over unioned admin levels)
# ---------------------------------------------------------------------------

_Q15_ORACLE = """
SELECT insee_key, max(statut) AS adm_weight FROM (
  SELECT n_nationkey AS insee_key, 1 AS statut FROM nation
  UNION ALL SELECT n_nationkey, 2 FROM nation WHERE n_nationkey % 2 = 0
  UNION ALL SELECT n_nationkey, 3 FROM nation WHERE n_nationkey % 3 = 0
  UNION ALL SELECT n_nationkey, 4 FROM nation WHERE n_nationkey % 5 = 0
  UNION ALL SELECT n_nationkey, 5 FROM nation WHERE n_nationkey % 7 = 0
) GROUP BY 1 ORDER BY 1
"""


@register("adm_weight", _Q15_ORACLE)
def q_adm(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = _read(spark, sf_dir, "nation")
    branches = [n.select(F.col("n_nationkey").alias("insee_key"), F.lit(1).alias("statut"))]
    for lvl, mod in ((2, 2), (3, 3), (4, 5), (5, 7)):
        branches.append(
            n.filter(F.col("n_nationkey") % mod == 0)
            .select(F.col("n_nationkey").alias("insee_key"), F.lit(lvl).alias("statut")))
    u = branches[0]
    for b in branches[1:]:
        u = u.unionByName(b)
    return u.groupBy("insee_key").agg(F.max("statut").alias("adm_weight")).orderBy("insee_key")


# ---------------------------------------------------------------------------
# q16 — rep_b_as_bis (U4: EXCEPT-with-distinct set logic)
# ---------------------------------------------------------------------------

_Q16_ORACLE = """
WITH ban AS (
  SELECT 'F' || CAST(l_orderkey AS VARCHAR) AS id_fantoir,
         CAST(l_linenumber % 3 AS VARCHAR) AS numero,
         CASE l_suppkey % 5 WHEN 0 THEN 'a' WHEN 1 THEN 'b' WHEN 2 THEN 'c'
              WHEN 3 THEN 'd' ELSE '' END AS rep
  FROM lineitem
)
SELECT id_fantoir, numero FROM ban WHERE rep = 'b'
EXCEPT
SELECT id_fantoir, numero FROM ban WHERE rep IN ('a', 'c', 'd')
ORDER BY 1, 2
"""


@register("rep_b_as_bis", _Q16_ORACLE)
def q_repbis(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.ban import rep_b_as_bis

    li = _read(spark, sf_dir, "lineitem")
    rep = F.expr("CASE l_suppkey % 5 WHEN 0 THEN 'a' WHEN 1 THEN 'b' WHEN 2 THEN 'c'"
                 " WHEN 3 THEN 'd' ELSE '' END")
    ban = li.select(
        F.concat(F.lit("F"), F.col("l_orderkey").cast("string")).alias("id_fantoir"),
        (F.col("l_linenumber") % 3).cast("string").alias("numero"),
        rep.alias("rep"))
    return rep_b_as_bis(ban).orderBy("id_fantoir", "numero")


# ---------------------------------------------------------------------------
# q17 — source-priority window (W4: literal sort table + row_number)
# ---------------------------------------------------------------------------

_Q17_ORACLE = f"""
WITH {_cumul_cte('VARCHAR')},
prio AS (SELECT * FROM (VALUES ('OSM', 1), ('BAL', 2), ('BAN', 3)) p(source, sortnum)),
rows_p AS (
  SELECT c.fantoir, {_canon_sql('c.numero')} AS num, c.source, p.sortnum
  FROM cumul c JOIN prio p ON p.source = c.source
  WHERE c.fantoir IS NOT NULL
)
SELECT fantoir, num, source AS best_source FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY fantoir, num
                               ORDER BY sortnum, source) AS rn
  FROM (SELECT DISTINCT fantoir, num, source, sortnum FROM rows_p)
) WHERE rn = 1
ORDER BY fantoir, num
"""


@register("source_priority_window", _Q17_ORACLE)
def q_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    cumul = spark.sql("WITH " + _cumul_cte("STRING") + " SELECT * FROM cumul")
    prio = spark.createDataFrame([("OSM", 1), ("BAL", 2), ("BAN", 3)], ["source", "sortnum"])
    rows_p = (
        cumul.filter(F.col("fantoir").isNotNull())
        .select("fantoir", conc.canonical_num(F.col("numero")).alias("num"), "source")
        .join(F.broadcast(prio), "source")
        .distinct()
    )
    w = Window.partitionBy("fantoir", "num").orderBy("sortnum", "source")
    return (
        rows_p.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("fantoir", "num", F.col("source").alias("best_source"))
        .orderBy("fantoir", "num")
    )


# ---------------------------------------------------------------------------
# q18 — hamlet-suffix detection (A10)
# ---------------------------------------------------------------------------

_SUF_A = ["FLEURS", "LILAS", "ROSES", "PINS", "CHENES", "ORMES", "TILLEULS"]
_SUF_H = ["LE CRES", "LA COTE", "BELLEVUE"]


def _suffix_names_sql(cast: str) -> str:
    insee = "CASE " + " ".join(
        f"WHEN o_custkey % 4 = {i} THEN '{synth.COMMUNES[i][0]}'" for i in range(4)
    ) + " END"
    a = "CASE " + " ".join(
        f"WHEN o_orderkey % {len(_SUF_A)} = {i} THEN '{w}'" for i, w in enumerate(_SUF_A)
    ) + " END"
    h = "CASE " + " ".join(
        f"WHEN o_custkey % {len(_SUF_H)} = {i} THEN '{w}'" for i, w in enumerate(_SUF_H)
    ) + " END"
    return f"""
SELECT {insee} AS insee_com,
       CASE WHEN o_orderkey % 3 = 0
            THEN 'RUE DES ' || {a} || ' ' || {h}
            ELSE 'RUE ' || CAST(o_orderkey % 200 AS {cast}) || ' DES ' || {a}
       END AS name
FROM orders
"""


_Q18_ORACLE = f"""
WITH names AS ({_suffix_names_sql('VARCHAR')}),
d AS (SELECT DISTINCT insee_com, name FROM names),
toks AS (SELECT insee_com, name, string_split(name, ' ') AS t FROM d),
two AS (SELECT insee_com, t[-2] || ' ' || t[-1] AS suffixe FROM toks WHERE len(t) > 4),
one AS (SELECT insee_com, t[-1] AS suffixe FROM toks WHERE len(t) > 3),
freq2 AS (SELECT insee_com, suffixe, COUNT(*) AS n_names FROM two GROUP BY 1, 2),
freq1 AS (SELECT insee_com, suffixe, COUNT(*) AS n_names FROM one GROUP BY 1, 2),
sel2 AS (SELECT * FROM freq2 WHERE n_names > 5),
mots AS (SELECT DISTINCT insee_com, unnest(string_split(suffixe, ' ')) AS mot FROM sel2),
sel1 AS (
  SELECT f.* FROM freq1 f
  WHERE f.n_names > 5 AND NOT regexp_matches(f.suffixe, '^[0-9]+$')
    AND NOT EXISTS (SELECT 1 FROM mots m
                    WHERE m.insee_com = f.insee_com AND m.mot = f.suffixe)
)
SELECT * FROM sel2 UNION ALL SELECT * FROM sel1
ORDER BY insee_com, suffixe
"""


@register("suffix_detection", _Q18_ORACLE)
def q_suffix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.suffixes import detect_suffixes

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    names = spark.sql(_suffix_names_sql("STRING"))
    return detect_suffixes(names, name_col="name")


# ---------------------------------------------------------------------------
# q19-q23 — deduplication suite over `documents` (exact, minhash-LSH,
# simhash, jaccard verify): training-data pipeline first-class ops
# ---------------------------------------------------------------------------

_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"
_SHINGLES = (f"CASE WHEN len({_TOKS}) >= 3 THEN "
             f"list_transform(generate_series(0, len({_TOKS}) - 3), "
             f"i -> array_to_string(list_slice({_TOKS}, i + 1, i + 3), ' ')) "
             f"ELSE [array_to_string({_TOKS}, ' ')] END")

_Q19_ORACLE = """
SELECT md5(text) AS text_hash, min(doc_id) AS keeper, count(*) AS n_dups
FROM documents GROUP BY 1
"""


@register("dedup_exact", _Q19_ORACLE)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.dedup import exact_dedup

    return exact_dedup(_read(spark, sf_dir, "documents"))


def _sig_cte(table: str = "documents") -> str:
    """Banded-md5 minwise sketch (one md5 -> four 32-bit hash values as
    disjoint hex substrings), mirroring operators.dedup.minhash_signature."""
    mins = ",\n         ".join(
        f"list_min(list_transform(m{i // 4}, x -> substr(x, {8 * (i % 4) + 1}, 8))) AS h{i}"
        for i in range(8))
    blocks = ",\n               ".join(
        f"list_transform(sh, s -> md5('b{b}|' || s)) AS m{b}" for b in range(2))
    return (f"sig AS (SELECT doc_id,\n         {mins}\n"
            f"  FROM (SELECT doc_id,\n               {blocks}\n"
            f"        FROM (SELECT doc_id, {_SHINGLES} AS sh FROM {table})))")


_Q20_ORACLE = f"""
WITH {_sig_cte()}
SELECT * FROM sig ORDER BY doc_id
"""


@register("minhash_signature", _Q20_ORACLE)
def q_minhash_sig(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.dedup import minhash_signature

    return minhash_signature(_read(spark, sf_dir, "documents")).orderBy("doc_id")


_Q21_ORACLE = f"""
WITH {_sig_cte()},
bands AS (
  SELECT doc_id, 0 AS band, h0 || '|' || h1 AS key FROM sig
  UNION ALL SELECT doc_id, 1, h2 || '|' || h3 FROM sig
  UNION ALL SELECT doc_id, 2, h4 || '|' || h5 FROM sig
  UNION ALL SELECT doc_id, 3, h6 || '|' || h7 FROM sig
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                          AND a.doc_id < b.doc_id
ORDER BY 1, 2
"""


@register("minhash_lsh_pairs", _Q21_ORACLE)
def q_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.dedup import minhash_dedup_pairs

    return minhash_dedup_pairs(_read(spark, sf_dir, "documents")).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# q21b/q21c — hardened LSH over a mega-cluster fixture (VERDICT r1
# item 8): 1/3 of rows are ONE identical boilerplate text (the exact
# mega-cluster — collapsed to a single representative before banding),
# 1/3 are whitespace variants of one text (distinct md5, identical
# token stream => identical signatures: the bucket the cap must drop),
# 1/3 are small near-dup families (the pairs that must survive).
# ---------------------------------------------------------------------------

def _mega_docs_sql(cast: str) -> str:
    return f"""
mdocs AS (
  SELECT o_orderkey AS doc_id,
         CASE WHEN o_orderkey % 3 = 0
              THEN 'terms and conditions apply to every page of this site'
              WHEN o_orderkey % 3 = 1
              THEN 'mega family boilerplate body content'
                   || repeat(' ', 1 + o_orderkey % 50) || 'tail marker end'
              ELSE 'family ' || CAST(o_orderkey % 40 AS {cast})
                   || ' body text word' || CAST(o_orderkey % 40 AS {cast})
                   || ' extra tail '
                   || CASE WHEN o_orderkey % 7 = 0 THEN 'variant' ELSE 'common' END
         END AS text
  FROM orders
)"""


_MEGA_REPS = """
reps AS (
  SELECT doc_id, text FROM (
    SELECT doc_id, text, min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
    FROM mdocs) WHERE doc_id = keeper
)"""

_MEGA_BANDS = """
bands AS (
  SELECT doc_id, 0 AS band, h0 || '|' || h1 AS key FROM sig
  UNION ALL SELECT doc_id, 1, h2 || '|' || h3 FROM sig
  UNION ALL SELECT doc_id, 2, h4 || '|' || h5 FROM sig
  UNION ALL SELECT doc_id, 3, h6 || '|' || h7 FROM sig
),
sizes AS (SELECT band, key, count(*) AS n FROM bands GROUP BY 1, 2)"""


_Q21B_ORACLE = f"""
WITH {_mega_docs_sql('VARCHAR')},
{_MEGA_REPS},
{_sig_cte('reps')},
{_MEGA_BANDS},
kept AS (
  SELECT b.doc_id, b.band, b.key FROM bands b
  JOIN sizes s ON b.band = s.band AND b.key = s.key AND s.n <= 16
)
SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
FROM kept a JOIN kept b ON a.band = b.band AND a.key = b.key
                        AND a.doc_id < b.doc_id
ORDER BY 1, 2
"""


@register("minhash_lsh_safe_pairs", _Q21B_ORACLE)
def q_minhash_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.dedup import minhash_dedup_pairs_safe

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    mdocs = spark.sql("WITH " + _mega_docs_sql("STRING") + " SELECT * FROM mdocs")
    return minhash_dedup_pairs_safe(mdocs, max_bucket=16).orderBy("id_a", "id_b")


_Q21C_ORACLE = f"""
WITH {_mega_docs_sql('VARCHAR')},
{_MEGA_REPS},
{_sig_cte('reps')},
{_MEGA_BANDS}
SELECT band, count(*) AS n_buckets_dropped,
       CAST(sum(n) AS BIGINT) AS n_rows_dropped
FROM sizes WHERE n > 16 GROUP BY band ORDER BY band
"""


@register("lsh_dropped_bucket_stats", _Q21C_ORACLE)
def q_lsh_drops(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.dedup import (exact_representatives,
                                            lsh_dropped_buckets,
                                            minhash_signature)

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    mdocs = spark.sql("WITH " + _mega_docs_sql("STRING") + " SELECT * FROM mdocs")
    sig = minhash_signature(exact_representatives(mdocs))
    return lsh_dropped_buckets(sig, max_bucket=16).orderBy("band")


def _q22_oracle() -> str:
    from bano_spark.operators.dedup import simhash_bits

    votes = ",\n         ".join(
        f"sum({e}) AS v{j}" for j, e in enumerate(simhash_bits(16, " // ")))
    bits = " + ".join(f"(CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END)" for j in range(16))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({_TOKS})) AS tok FROM documents
),
votes AS (SELECT doc_id,
         {votes}
  FROM toks GROUP BY doc_id)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes ORDER BY doc_id
"""


@register("simhash", _q22_oracle())
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.dedup import simhash

    return simhash(_read(spark, sf_dir, "documents")).orderBy("doc_id")


_Q23_ORACLE = f"""
WITH {_sig_cte()},
bands AS (
  SELECT doc_id, 0 AS band, h0 || '|' || h1 AS key FROM sig
  UNION ALL SELECT doc_id, 1, h2 || '|' || h3 FROM sig
  UNION ALL SELECT doc_id, 2, h4 || '|' || h5 FROM sig
  UNION ALL SELECT doc_id, 3, h6 || '|' || h7 FROM sig
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                            AND a.doc_id < b.doc_id
),
toksets AS (SELECT doc_id, list_distinct({_TOKS}) AS t FROM documents)
SELECT p.id_a, p.id_b,
       round(len(list_intersect(ta.t, tb.t)) * 1.0
             / len(list_distinct(ta.t || tb.t)), 6) AS jaccard
FROM pairs p
JOIN toksets ta ON ta.doc_id = p.id_a
JOIN toksets tb ON tb.doc_id = p.id_b
ORDER BY 1, 2
"""


@register("ngram_jaccard_pairs", _Q23_ORACLE)
def q_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.dedup import jaccard_pairs, minhash_dedup_pairs

    docs = _read(spark, sf_dir, "documents")
    pairs = minhash_dedup_pairs(docs)
    return jaccard_pairs(docs, pairs).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# q24-q25 — similarity search over embeddings (brute-force top-k + sign-LSH
# near-dup): the ANN baseline + scale path
# ---------------------------------------------------------------------------

_DIM = 64
_DOT = ("list_sum(list_transform(generate_series(1, 64), "
        "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.q_vec[i] AS DOUBLE)))")
_NORM_A = ("sqrt(list_sum(list_transform(generate_series(1, 64), "
           "i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))")
_NORM_B = ("sqrt(list_sum(list_transform(generate_series(1, 64), "
           "i -> CAST(b.q_vec[i] AS DOUBLE) * CAST(b.q_vec[i] AS DOUBLE))))")

_Q24_ORACLE = f"""
WITH q AS (SELECT vec_id AS q_id, embedding AS q_vec FROM embeddings WHERE vec_id < 8),
scored AS (
  SELECT b.q_id, a.vec_id,
         round({_DOT} / ({_NORM_A} * {_NORM_B}), 4) AS cos_sim
  FROM embeddings a JOIN q b ON a.vec_id != b.q_id
)
SELECT q_id, vec_id, cos_sim, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                               ORDER BY cos_sim DESC, vec_id) AS rnk
  FROM scored
) WHERE rnk <= 5
ORDER BY q_id, rnk
"""


@register("ann_cosine_topk", _Q24_ORACLE)
def q_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.similarity import brute_force_topk

    vecs = _read(spark, sf_dir, "embeddings")
    queries_df = vecs.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("q_id"), F.col("embedding").alias("q_vec"))
    return brute_force_topk(vecs.select("vec_id", "embedding"), queries_df, k=5).orderBy(
        "q_id", "rnk")


def _bucket_sql(tbl: str) -> str:
    terms = []
    for j in range(8):
        s = (f"(CAST({tbl}.embedding[{4 * j + 1}] AS DOUBLE)"
             f" + CAST({tbl}.embedding[{4 * j + 2}] AS DOUBLE)"
             f" - CAST({tbl}.embedding[{4 * j + 3}] AS DOUBLE)"
             f" - CAST({tbl}.embedding[{4 * j + 4}] AS DOUBLE))")
        terms.append(f"(CASE WHEN {s} > 0 THEN {2**j} ELSE 0 END)")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


_Q25_ORACLE = f"""
WITH b AS (SELECT vec_id, embedding, {_bucket_sql('embeddings')} AS bucket FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b,
       round(
         list_sum(list_transform(generate_series(1, 64),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(generate_series(1, 64),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
          * sqrt(list_sum(list_transform(generate_series(1, 64),
              i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
       , 4) AS cos_sim
FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
WHERE round(
         list_sum(list_transform(generate_series(1, 64),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(generate_series(1, 64),
              i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
          * sqrt(list_sum(list_transform(generate_series(1, 64),
              i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))))
       , 4) >= 0.3
ORDER BY 1, 2
"""


@register("lsh_near_dup_pairs", _Q25_ORACLE)
def q_lsh_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.similarity import lsh_near_dup_pairs

    vecs = _read(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return lsh_near_dup_pairs(vecs, threshold=0.3, n_bits=8).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# q26 — text-analysis profile: token count, lang-ID heuristic, quality
# score, fingerprint (training-data pipeline ops)
# ---------------------------------------------------------------------------

def _q26_oracle() -> str:
    from bano_spark.operators.textstats import STOPWORDS

    def hits(lang: str) -> str:
        lst = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
        return (f"len(list_intersect(list_distinct({_TOKS}), [{lst}]))")

    ntok = (f"CASE WHEN trim(text) = '' THEN 0 "
            f"ELSE len(string_split_regex(trim(text), '\\s+')) END")
    return f"""
WITH s AS (
  SELECT doc_id, text,
         CAST({ntok} AS BIGINT) AS n_tokens,
         {hits('fr')} AS fr, {hits('en')} AS en, {hits('es')} AS es,
         CAST(length(text) AS DOUBLE) AS n_chars,
         CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
              AS DOUBLE) AS n_punct
  FROM documents
)
SELECT doc_id, n_tokens,
       CASE WHEN greatest(fr, en, es) = 0 THEN 'und'
            WHEN fr = greatest(fr, en, es) THEN 'fr'
            WHEN en = greatest(fr, en, es) THEN 'en'
            ELSE 'es' END AS pred_lang,
       round((
         (CASE WHEN n_chars >= 50 AND n_chars <= 10000 THEN 1.0 ELSE 0.0 END)
       + (CASE WHEN n_chars > 0 THEN
              (CASE WHEN n_punct / n_chars <= 0.1 THEN 1.0 ELSE 0.0 END)
          ELSE 0.0 END)
       + (CASE WHEN n_tokens > 0
               AND n_chars / n_tokens >= 3.0 AND n_chars / n_tokens <= 12.0
               THEN 1.0 ELSE 0.0 END)
       ) / 3.0, 6) AS quality,
       md5(array_to_string(list_sort(list_distinct({_TOKS})), ' ')) AS fingerprint
FROM s ORDER BY doc_id
"""


@register("text_profile", _q26_oracle())
def q_textprofile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import document_profile

    return document_profile(_read(spark, sf_dir, "documents")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q27 — hourly windowed event counts (streaming-equivalent batch agg;
# the same plan runs under Structured Streaming with a watermark)
# ---------------------------------------------------------------------------

_Q27_ORACLE = """
SELECT date_trunc('hour', ts) AS window_start, event_type, count(*) AS n,
       round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("windowed_event_counts", _Q27_ORACLE)
def q_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _read(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "sum_value")
        .orderBy("window_start", "event_type")
    )


# ---------------------------------------------------------------------------
# q28 — street importance with convex-hull geodesic metrics (A4/M2).
# Points per street are collinear (same lat), so the oracle can compute
# the hull longest-line with the same haversine formula in SQL.
# ---------------------------------------------------------------------------

_HAV = """
2 * 6371008.8 * asin(sqrt(
    pow(sin(radians(maxlat - minlat) / 2), 2)
  + cos(radians(minlat)) * cos(radians(maxlat))
  * pow(sin(radians(maxlon - minlon) / 2), 2)))
"""

_Q28_ORACLE = f"""
WITH pts AS (
  SELECT l_orderkey % 200 AS street_id,
         2.0 + (l_orderkey % 200) * 0.01 + l_linenumber * 0.001 AS lon,
         45.0 + (l_orderkey % 7) * 0.0 AS lat
  FROM lineitem
),
m AS (
  SELECT street_id, count(*) AS nb_points,
         min(lon) AS minlon, max(lon) AS maxlon,
         min(lat) AS minlat, max(lat) AS maxlat
  FROM pts GROUP BY 1
),
h AS (
  SELECT street_id, nb_points,
         CASE WHEN maxlon = minlon THEN 0.0 ELSE {_HAV} END AS hull_m
  FROM m
)
SELECT street_id, nb_points, round(hull_m, 4) AS hull_longest_m,
       round(log10((1 + street_id % 5)
                   + log10(((street_id * 37) % 100000) + 1) / 3)
           * log10(1 + log10(nb_points + 1) + log10(hull_m + 1)
                   + log10(CASE street_id % 4 WHEN 0 THEN 4.0 WHEN 1 THEN 3.0
                           WHEN 2 THEN 2.0 ELSE 1.0 END)), 4) AS importance
FROM h ORDER BY street_id
"""


@register("street_importance_hull", _Q28_ORACLE)
def q_street_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.importance import hull_metrics

    li = _read(spark, sf_dir, "lineitem")
    pts = li.select(
        (F.col("l_orderkey") % 200).alias("street_id"),
        (F.lit(2.0) + (F.col("l_orderkey") % 200) * 0.01
         + F.col("l_linenumber") * 0.001).alias("lon"),
        (F.lit(45.0) + (F.col("l_orderkey") % 7) * 0.0).alias("lat"),
    )
    m = hull_metrics(pts, ["street_id"], lon="lon", lat="lat")
    adm = (1 + F.col("street_id") % 5).cast("double")
    pop = ((F.col("street_id") * 37) % 100000).cast("double")
    w = (
        F.when(F.col("street_id") % 4 == 0, 4.0)
        .when(F.col("street_id") % 4 == 1, 3.0)
        .when(F.col("street_id") % 4 == 2, 2.0)
        .otherwise(1.0)
    )
    imp = F.round(
        F.log10(adm + F.log10(pop + 1) / 3)
        * F.log10(1 + F.log10(F.col("nb_points") + 1)
                  + F.log10(F.col("hull_longest_m") + 1) + F.log10(w)), 4)
    return m.select(
        "street_id", "nb_points",
        F.round("hull_longest_m", 4).alias("hull_longest_m"),
        imp.alias("importance"),
    ).orderBy("street_id")


# ---------------------------------------------------------------------------
# q29 — BAN pseudo-FANTOIR codes for unmatched names (C10/J17)
# ---------------------------------------------------------------------------

_Q29_ORACLE = f"""
WITH names AS (
  SELECT DISTINCT
      CASE {' '.join(f"WHEN o_custkey % 10 = {i} THEN '{synth.COMMUNES[i][0]}'" for i in range(10))} END AS insee_com,
      {_norm_street_case('o_orderkey')} || ' ' || CAST(o_orderkey % 37 AS VARCHAR) AS name_norm
  FROM orders
)
SELECT insee_com, name_norm, rank_i,
       insee_com || 'b' || rpad(CAST(rank_i AS VARCHAR), 4, 'b') AS pseudo_fantoir
FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY insee_com ORDER BY name_norm) AS rank_i
      FROM names)
ORDER BY insee_com, name_norm
"""


@register("ban_pseudo_fantoir", _Q29_ORACLE)
def q_pseudo(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.places import ban_pseudo_fantoir

    orders = _read(spark, sf_dir, "orders")
    insee = F.expr("CASE " + " ".join(
        f"WHEN o_custkey % 10 = {i} THEN '{synth.COMMUNES[i][0]}'" for i in range(10)
    ) + " END")
    names = orders.select(
        insee.alias("insee_com"),
        F.concat(F.expr(_norm_street_case("o_orderkey")), F.lit(" "),
                 (F.col("o_orderkey") % 37).cast("string")).alias("name_norm"))
    return ban_pseudo_fantoir(names).orderBy("insee_com", "name_norm")


# ---------------------------------------------------------------------------
# q30 — place 3-way match with name fallback (J12)
# ---------------------------------------------------------------------------

def _place_fantoir_cte(cast: str) -> str:
    insee = "CASE " + " ".join(
        f"WHEN p_partkey % 10 = {i} THEN '{synth.COMMUNES[i][0]}'" for i in range(10)
    ) + " END"
    return f"""
freg AS (
  SELECT {insee} AS insee_com,
         {insee} || lpad(CAST(p_partkey % 500 AS {cast}), 4, '0') || 'X' AS fantoir10,
         {_norm_street_case('p_partkey')} AS name_norm,
         'LIB ' || CAST(p_partkey % 500 AS {cast}) AS libelle
  FROM part
)"""


def _place_osm_cte(cast: str) -> str:
    insee = "CASE " + " ".join(
        f"WHEN s_suppkey % 10 = {i} THEN '{synth.COMMUNES[i][0]}'" for i in range(10)
    ) + " END"
    return f"""
osmp AS (
  SELECT {insee} AS insee_com,
         CASE WHEN s_suppkey % 3 = 0
              THEN {insee} || lpad(CAST(s_suppkey % 500 AS {cast}), 4, '0') || 'X'
              ELSE NULL END AS fantoir,
         CASE WHEN s_suppkey % 7 = 0 THEN 'NOM INTROUVABLE ' || CAST(s_suppkey AS {cast})
              ELSE {_norm_street_case('s_suppkey')} END AS name_norm,
         'Raw ' || CAST(s_suppkey AS {cast}) AS name_raw
  FROM supplier
)"""


_Q30_ORACLE = f"""
WITH {_place_fantoir_cte('VARCHAR')},
{_place_osm_cte('VARCHAR')},
by_name AS (
  SELECT insee_com AS fn_insee, fantoir10 AS fn_code, name_norm AS fn_name,
         libelle AS fn_libelle
  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY insee_com, name_norm
                                     ORDER BY fantoir10) AS r FROM freg)
  WHERE r = 1
)
SELECT o.insee_com, o.name_raw, o.name_norm,
       coalesce(fc.fantoir10, fn.fn_code) AS fantoir10,
       coalesce(fc.libelle, fn.fn_libelle) AS libelle_fantoir,
       CASE WHEN fc.fantoir10 IS NOT NULL THEN 'code'
            WHEN fn.fn_code IS NOT NULL THEN 'name'
            ELSE 'new' END AS match_kind
FROM osmp o
LEFT JOIN freg fc ON o.insee_com = fc.insee_com AND o.fantoir = fc.fantoir10
LEFT JOIN by_name fn ON o.insee_com = fn.fn_insee AND o.name_norm = fn.fn_name
ORDER BY o.insee_com, o.name_raw
"""


@register("place_match", _Q30_ORACLE)
def q_places(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.places import match_places

    _read(spark, sf_dir, "part").createOrReplaceTempView("part")
    _read(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    freg = spark.sql("WITH " + _place_fantoir_cte("STRING") + " SELECT * FROM freg")
    osmp = spark.sql("WITH " + _place_osm_cte("STRING") + " SELECT * FROM osmp")
    return match_places(osmp, freg).orderBy("insee_com", "name_raw")


# ---------------------------------------------------------------------------
# q31 — format_toponyme display casing (C2), goldens from the reference
# ---------------------------------------------------------------------------

def _topo_case(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} % {len(synth.TOPONYMES)} = {i} THEN '{t.replace(chr(39), chr(39)*2)}'"
        for i, t in enumerate(synth.TOPONYMES))
    return f"CASE {whens} END"


_Q31_ORACLE = f"""
SELECT c_custkey,
       {_street_case('c_custkey', 1)} AS nom_norm,
       {_topo_case('c_custkey')} AS toponyme
FROM customer ORDER BY c_custkey
"""


@register("format_toponyme", _Q31_ORACLE)
def q_toponyme(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.functions.normalize import format_toponyme_col

    cust = _read(spark, sf_dir, "customer")
    norm = F.element_at(
        F.array(*[F.lit(s[1]) for s in synth.STREETS]),
        (F.col("c_custkey") % len(synth.STREETS)).cast("int") + 1)
    return (
        cust.select("c_custkey", norm.alias("nom_norm"))
        # pure column expression — zero Python on this path
        .withColumn("toponyme", format_toponyme_col(F.col("nom_norm")))
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# q32 — LEFT OUTER spatial join with hamlet-suffix zones (J5/A7)
# ---------------------------------------------------------------------------

_SUF_BUF = 400.0


def _hameau_case(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} % {len(_SUF_H)} = {i} THEN '{h}'" for i, h in enumerate(_SUF_H))
    return f"CASE {whens} END"


_Q32_ORACLE = f"""
WITH lpts AS ({synth.points_select_sql('duckdb', 'events', 'event_id', 0)}),
hp AS ({synth.points_select_sql('duckdb', 'supplier', 's_suppkey', 7)}),
boxes AS (
  SELECT s_suppkey AS box_id, {_hameau_case('s_suppkey')} AS hameau,
         x - {_SUF_BUF!r} AS bxmin, x + {_SUF_BUF!r} AS bxmax,
         y - {_SUF_BUF!r} AS bymin, y + {_SUF_BUF!r} AS bymax
  FROM hp
)
SELECT p.event_id, b.box_id, b.hameau
FROM lpts p
LEFT JOIN boxes b
  ON p.x >= b.bxmin AND p.x < b.bxmax AND p.y >= b.bymin AND p.y < b.bymax
ORDER BY 1, 2
"""


@register("suffix_zone_left_join", _Q32_ORACLE)
def q_suffix_zone(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.pip_join import spatial_join_left
    from bano_spark.operators.suffixes import build_suffix_zones

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    _read(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    pts = spark.sql(synth.points_select_sql("spark", "events", "event_id", 0))
    hp = spark.sql(synth.points_select_sql("spark", "supplier", "s_suppkey", 7)).withColumn(
        "hameau", F.expr(_hameau_case("s_suppkey")))
    zones = build_suffix_zones(
        hp.withColumnRenamed("s_suppkey", "box_id"), _SUF_BUF,
        group_cols=("box_id", "hameau"))
    ring = F.array(
        F.array("bxmin", "bymin"), F.array("bxmax", "bymin"),
        F.array("bxmax", "bymax"), F.array("bxmin", "bymax"),
        F.array("bxmin", "bymin"))
    polys = zones.select("box_id", "hameau", ring.alias("verts"))
    out = spatial_join_left(pts, polys, point_key="event_id",
                            id_col="box_id", zoom=14)
    return out.select("event_id", "box_id", "hameau").orderBy("event_id", "box_id")


# ---------------------------------------------------------------------------
# q33 — FANTOIR label dedup window (W1)
# ---------------------------------------------------------------------------

_Q33_ORACLE = """
WITH fv AS (
  SELECT 'LBL' || CAST(o_custkey % 300 AS VARCHAR) AS label,
         CAST(o_orderkey % 4 AS VARCHAR) AS type_voie,
         lpad(CAST(o_orderkey % 97 AS VARCHAR), 4, '0') AS id_voie,
         CAST(o_orderkey % 10 AS VARCHAR) AS cle_rivoli
  FROM orders
)
SELECT label, type_voie, id_voie, cle_rivoli FROM (
  SELECT *, RANK() OVER (PARTITION BY label
                         ORDER BY type_voie, id_voie, cle_rivoli) AS rang
  FROM fv
) WHERE rang = 1
ORDER BY label, type_voie, id_voie, cle_rivoli
"""


@register("fantoir_label_dedup", _Q33_ORACLE)
def q_label_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    fv = orders.select(
        F.concat(F.lit("LBL"), (F.col("o_custkey") % 300).cast("string")).alias("label"),
        (F.col("o_orderkey") % 4).cast("string").alias("type_voie"),
        F.lpad((F.col("o_orderkey") % 97).cast("string"), 4, "0").alias("id_voie"),
        (F.col("o_orderkey") % 10).cast("string").alias("cle_rivoli"))
    w = Window.partitionBy("label").orderBy("type_voie", "id_voie", "cle_rivoli")
    return (
        fv.withColumn("rang", F.rank().over(w)).filter(F.col("rang") == 1)
        .select("label", "type_voie", "id_voie", "cle_rivoli")
        .orderBy("label", "type_voie", "id_voie", "cle_rivoli")
    )


# ---------------------------------------------------------------------------
# q34 — highway-type bitmask rollup (M4: sum of 2^type_index)
# ---------------------------------------------------------------------------

_HIGHWAY_TYPES = ["steps", "path", "cycleway", "footway", "pedestrian", "track",
                  "service", "road", "living_street", "residential", "unclassified",
                  "tertiary", "secondary", "primary", "trunk", "motorway"]


_Q34_ORACLE = f"""
WITH h AS (
  SELECT DISTINCT l_orderkey % 500 AS street_id,
         CAST(l_suppkey % {len(_HIGHWAY_TYPES)} AS INTEGER) AS tidx
  FROM lineitem
)
SELECT street_id, CAST(sum(CAST(pow(2, tidx) AS BIGINT)) AS BIGINT) AS highway_index
FROM h GROUP BY 1 ORDER BY 1
"""


@register("highway_bitmask", _Q34_ORACLE)
def q_bitmask(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    h = li.select(
        (F.col("l_orderkey") % 500).alias("street_id"),
        (F.col("l_suppkey") % len(_HIGHWAY_TYPES)).cast("int").alias("tidx"),
    ).distinct()
    return (
        h.groupBy("street_id")
        .agg(F.sum(F.pow(F.lit(2), F.col("tidx")).cast("bigint")).cast("bigint")
             .alias("highway_index"))
        .orderBy("street_id")
    )


# ---------------------------------------------------------------------------
# q35 — append_suffixe (C5), reference quirks; goldens via bounded vocab
# ---------------------------------------------------------------------------

_APPEND_CASES = [
    ("Rue des Fleurs", "Le Cres", "Rue des Fleurs Le Cres"),
    ("Rue des Fleurs Le Cres", "Le Cres", "Rue des Fleurs Le Cres"),
    ("Rue X", "", "Rue X"),
    ("Chemin du Moulin", "Bellevue", "Chemin du Moulin Bellevue"),
    ("Rue LE CRES", "Le Cres", "Rue LE CRES Le Cres"),
    ("Grand Rue", "La Cote Saint Andre Du Haut",
     "Grand Rue La Cote Saint Andre Du Haut"),
    ("Rue des Fleurs le cres", "Le Cres", "Rue des Fleurs le cres Le Cres"),
    ("Av", "Bellevue", "Av Bellevue"),
]


def _case_of(col: str, idx: int) -> str:
    whens = " ".join(
        f"WHEN {col} % {len(_APPEND_CASES)} = {i} THEN '{c[idx]}'"
        for i, c in enumerate(_APPEND_CASES))
    return f"CASE {whens} END"


_Q35_ORACLE = f"""
SELECT c_custkey, {_case_of('c_custkey', 0)} AS name,
       {_case_of('c_custkey', 1)} AS suffixe,
       {_case_of('c_custkey', 2)} AS appended
FROM customer ORDER BY c_custkey
"""


@register("append_suffixe", _Q35_ORACLE)
def q_append_suffixe(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.functions.normalize import append_suffixe_col, normalize_udf

    cust = _read(spark, sf_dir, "customer")
    name = F.element_at(F.array(*[F.lit(c[0]) for c in _APPEND_CASES]),
                        (F.col("c_custkey") % len(_APPEND_CASES)).cast("int") + 1)
    suf = F.element_at(F.array(*[F.lit(c[1]) for c in _APPEND_CASES]),
                       (F.col("c_custkey") % len(_APPEND_CASES)).cast("int") + 1)
    return (
        cust.select("c_custkey", name.alias("name"), suf.alias("suffixe"))
        # column-expression append; only normalize() itself is a
        # (vectorized) UDF, as the guard needs the normalized length
        .withColumn("appended",
                    append_suffixe_col(F.col("name"), F.col("suffixe"),
                                       normalize_udf(F.col("name"))))
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# q36 — commune-list derivation anti-join (F8: drop COMD + arrondissement
# parents)
# ---------------------------------------------------------------------------

_Q36_ORACLE = """
WITH cog AS (
  SELECT c_custkey AS com,
         CASE c_custkey % 4 WHEN 0 THEN 'COM' WHEN 1 THEN 'COM'
              WHEN 2 THEN 'ARM' ELSE 'COMD' END AS typecom,
         CASE WHEN c_custkey % 4 = 2 THEN (c_custkey - 2) ELSE NULL END AS comparent
  FROM customer
)
SELECT c.com FROM cog c
WHERE c.typecom != 'COMD'
  AND NOT EXISTS (SELECT 1 FROM cog a WHERE a.comparent = c.com)
  AND c.typecom != 'ARM'
ORDER BY 1
"""


@register("commune_list_antijoin", _Q36_ORACLE)
def q_commune_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _read(spark, sf_dir, "customer")
    cog = cust.select(
        F.col("c_custkey").alias("com"),
        F.expr("CASE c_custkey % 4 WHEN 0 THEN 'COM' WHEN 1 THEN 'COM'"
               " WHEN 2 THEN 'ARM' ELSE 'COMD' END").alias("typecom"),
        F.expr("CASE WHEN c_custkey % 4 = 2 THEN c_custkey - 2 ELSE NULL END")
        .alias("comparent"))
    parents = cog.filter(F.col("comparent").isNotNull()).select(
        F.col("comparent").alias("com")).distinct()
    return (
        cog.filter((F.col("typecom") != "COMD") & (F.col("typecom") != "ARM"))
        .join(parents, "com", "left_anti")
        .select("com").orderBy("com")
    )


# ---------------------------------------------------------------------------
# q37 — unmatched-name sets: EXCEPT then INTERSECT (U3/U5, J17)
# ---------------------------------------------------------------------------

_Q37_ORACLE = f"""
WITH cumul_names AS (
  SELECT DISTINCT {_norm_street_case('o_orderkey')} || ' '
         || CAST(o_orderkey % 53 AS VARCHAR) AS name
  FROM orders
),
fantoir_names AS (
  SELECT DISTINCT {_norm_street_case('o_custkey')} || ' '
         || CAST(o_custkey % 41 AS VARCHAR) AS name
  FROM orders
),
ban_names AS (
  SELECT DISTINCT {_norm_street_case('o_orderkey')} || ' '
         || CAST(o_orderkey % 53 AS VARCHAR) AS name
  FROM orders WHERE o_orderkey % 2 = 0
)
SELECT name FROM (SELECT name FROM cumul_names EXCEPT SELECT name FROM fantoir_names)
INTERSECT SELECT name FROM ban_names
ORDER BY 1
"""


@register("unmatched_names_sets", _Q37_ORACLE)
def q_name_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")

    def names(col: str, mod: int, flt=None):
        d = orders if flt is None else orders.filter(flt)
        return d.select(
            F.concat(F.expr(_norm_street_case(col)), F.lit(" "),
                     (F.col(col) % mod).cast("string")).alias("name")).distinct()

    cumul = names("o_orderkey", 53)
    fant = names("o_custkey", 41)
    ban = names("o_orderkey", 53, F.col("o_orderkey") % 2 == 0)
    return cumul.subtract(fant).intersect(ban).orderBy("name")


# ---------------------------------------------------------------------------
# wave-4 queries (remaining SURVEY §2 ops + training-pipeline extras)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# q26e — LSH quality evaluation: precision/recall/F1 of the minhash
# banding against EXACT shingle-set Jaccard ground truth at t = 0.5.
# Truth pairs generate from the inverted shared-shingle join —
# complete for any positive Jaccard (j >= t implies a shared
# shingle), never a cross product; evaluation is the measurement
# discipline the dedup family's knobs (bands, rows, caps) are tuned
# by. Single-row output via three O(1) driver counts (the knox_test
# pattern).
# ---------------------------------------------------------------------------

_LQE_T = 0.5

_Q26E_ORACLE = f"""
WITH {{sig}},
bands AS (
  SELECT doc_id, 0 AS band, h0 || '|' || h1 AS key FROM sig
  UNION ALL SELECT doc_id, 1, h2 || '|' || h3 FROM sig
  UNION ALL SELECT doc_id, 2, h4 || '|' || h5 FROM sig
  UNION ALL SELECT doc_id, 3, h6 || '|' || h7 FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                            AND a.doc_id < b.doc_id
),
shsets AS (SELECT doc_id, list_distinct({{sh}}) AS s FROM documents),
inv AS (SELECT doc_id, unnest(list_distinct({{sh}})) AS sh
        FROM documents),
cpairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM inv a JOIN inv b ON b.sh = a.sh AND a.doc_id < b.doc_id
),
jacc AS (
  SELECT p.id_a, p.id_b,
         len(list_intersect(sa.s, sb.s)) * 1.0
           / len(list_distinct(sa.s || sb.s)) AS j
  FROM cpairs p
  JOIN shsets sa ON sa.doc_id = p.id_a
  JOIN shsets sb ON sb.doc_id = p.id_b
),
truth AS (SELECT id_a, id_b FROM jacc WHERE j >= {{t}}),
m AS (SELECT (SELECT count(*) FROM cand) AS nc,
             (SELECT count(*) FROM truth) AS nt,
             (SELECT count(*) FROM cand JOIN truth USING (id_a, id_b))
               AS tp)
SELECT CAST(nc AS BIGINT) AS n_candidates, CAST(nt AS BIGINT) AS n_truth,
       CAST(tp AS BIGINT) AS tp,
       round(tp / CAST(nc AS DOUBLE), 6) AS precision,
       round(tp / CAST(nt AS DOUBLE), 6) AS recall,
       round(2.0 * tp / CAST(nc + nt AS DOUBLE), 6) AS f1
FROM m
""".format(sig=_sig_cte(), sh=_SHINGLES, t=_LQE_T)


@register("lsh_quality_eval", _Q26E_ORACLE)
def q_lsh_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.dedup import minhash_dedup_pairs, shingles_expr

    docs = _read(spark, sf_dir, "documents")
    cand = minhash_dedup_pairs(docs)
    shsets = docs.select(
        "doc_id", F.array_distinct(shingles_expr("text")).alias("s"))
    inv = shsets.select("doc_id", F.explode("s").alias("sh"))
    cpairs = (inv.alias("a").join(
        inv.alias("b"),
        (F.col("a.sh") == F.col("b.sh"))
        & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("id_a"),
                F.col("b.doc_id").alias("id_b")).distinct())
    j = (cpairs
         .join(shsets.select(F.col("doc_id").alias("id_a"),
                             F.col("s").alias("sa")), "id_a")
         .join(shsets.select(F.col("doc_id").alias("id_b"),
                             F.col("s").alias("sb")), "id_b")
         .withColumn("j", F.size(F.array_intersect("sa", "sb"))
                     / F.size(F.array_union("sa", "sb")).cast("double")))
    truth = j.filter(F.col("j") >= _LQE_T).select("id_a", "id_b")
    nc = cand.count()
    nt = truth.count()
    tp = cand.join(truth, ["id_a", "id_b"]).count()
    row = (nc, nt, tp,
           round(tp / nc, 6) if nc else 0.0,
           round(tp / nt, 6) if nt else 0.0,
           round(2.0 * tp / (nc + nt), 6) if nc + nt else 0.0)
    return spark.createDataFrame(
        [row], "n_candidates long, n_truth long, tp long, "
               "precision double, recall double, f1 double")


from bano_spark import queries_wave4, queries_wave5, queries_wave120  # noqa: E402

for _wave in (queries_wave4, queries_wave5, queries_wave120):
    merge(_QUERIES, _wave.QUERIES)
    merge(_ORACLES, _wave.ORACLES)


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the north-rule pipeline (extract -> cell index -> PIP
    join -> per-commune counts) at sf0.001."""
    return q_pip(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(_QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(_ORACLES)


# ---------------------------------------------------------------------------
# q21d — sketch-based Jaccard estimation on LSH candidates: fraction of
# agreeing minhash components (E[est] = J), exact n/8 rationals — the
# O(pairs) verify that never re-reads document text.
# ---------------------------------------------------------------------------

_Q21D_ORACLE = f"""
WITH {_sig_cte()},
bands AS (
  SELECT doc_id, 0 AS band, h0 || '|' || h1 AS key FROM sig
  UNION ALL SELECT doc_id, 1, h2 || '|' || h3 FROM sig
  UNION ALL SELECT doc_id, 2, h4 || '|' || h5 FROM sig
  UNION ALL SELECT doc_id, 3, h6 || '|' || h7 FROM sig
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                            AND a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b,
       CAST({' + '.join(f'CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END'
                        for i in range(8))} AS DOUBLE) / 8.0 AS est_jaccard
FROM pairs p
JOIN sig sa ON sa.doc_id = p.id_a
JOIN sig sb ON sb.doc_id = p.id_b
ORDER BY 1, 2
"""


@register("minhash_jaccard_estimate", _Q21D_ORACLE)
def q_minhash_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.dedup import (lsh_candidate_pairs,
                                            minhash_jaccard_estimate,
                                            minhash_signature)

    sig = minhash_signature(_read(spark, sf_dir, "documents"))
    pairs = lsh_candidate_pairs(sig)
    return minhash_jaccard_estimate(sig, pairs).orderBy("id_a", "id_b")
