"""Wave-4 driver queries: remaining SURVEY.md §2 operators + engine
ops, each with a DuckDB oracle.

Coverage in this wave: J4 J10 J13 J15, W2 W6 W7, A2 A5/A6 A11/A12/A13,
U1, S3 S8 S11 S14, F5, C6 C7/C8 C11/C12, M3, plus the tile pyramid,
raster <-> vector, hex k-ring and PIP-with-holes engine ops, and the
graph, event, sketch, quantile, web-text, n-gram and geodesic-length
queries that ROADMAP item 1 lists for later cuts.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bano_spark import synth
from bano_spark.registry import registrar

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
register = registrar(QUERIES, ORACLES)


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _insee_case(col: str, n: int = 10) -> str:
    return "CASE " + " ".join(
        f"WHEN {col} % {n} = {i} THEN '{synth.COMMUNES[i][0]}'" for i in range(n)
    ) + " END"


# ---------------------------------------------------------------------------
# w01 — BAN rep expansion join (J10: b->bis via the U4 set, t->ter,
# q->quater; bano/sql/ban_hsnr_nocache.sql:10-25)
# ---------------------------------------------------------------------------

_BAN_CTE = """
ban AS (
  SELECT 'F' || CAST(l_orderkey % 700 AS VARCHAR) AS id_fantoir,
         CAST(l_linenumber % 3 AS VARCHAR) AS numero,
         CASE l_suppkey % 6 WHEN 0 THEN 'a' WHEN 1 THEN 'b' WHEN 2 THEN 'c'
              WHEN 3 THEN 'd' WHEN 4 THEN 't' ELSE 'q' END AS rep
  FROM lineitem
)"""

_W01_ORACLE = f"""
WITH {_BAN_CTE},
bis AS (
  SELECT id_fantoir, numero FROM ban WHERE rep = 'b'
  EXCEPT
  SELECT id_fantoir, numero FROM ban WHERE rep IN ('a', 'c', 'd')
)
SELECT DISTINCT b.id_fantoir, b.numero, b.rep,
       CASE WHEN b.rep = 'b' AND s.numero IS NOT NULL THEN 'bis'
            WHEN b.rep = 't' THEN 'ter'
            WHEN b.rep = 'q' THEN 'quater'
            ELSE b.rep END AS rep_expanded
FROM ban b
LEFT JOIN bis s ON b.id_fantoir = s.id_fantoir AND b.numero = s.numero
ORDER BY 1, 2, 3
"""


@register("rep_expansion_join", _W01_ORACLE)
def w_rep_expand(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.ban import expand_rep, rep_b_as_bis

    li = _read(spark, sf_dir, "lineitem")
    rep = F.expr("CASE l_suppkey % 6 WHEN 0 THEN 'a' WHEN 1 THEN 'b' WHEN 2 THEN 'c'"
                 " WHEN 3 THEN 'd' WHEN 4 THEN 't' ELSE 'q' END")
    ban = li.select(
        F.concat(F.lit("F"), (F.col("l_orderkey") % 700).cast("string")).alias("id_fantoir"),
        (F.col("l_linenumber") % 3).cast("string").alias("numero"),
        rep.alias("rep"))
    out = expand_rep(ban, rep_b_as_bis(ban))
    return out.select("id_fantoir", "numero", "rep", "rep_expanded").distinct() \
        .orderBy("id_fantoir", "numero", "rep")


# ---------------------------------------------------------------------------
# w02 — COG enrichment joins (J15: broadcast equi-join chain over the
# real dimension tables; export_json_dept_communes.sql:27-33)
# ---------------------------------------------------------------------------

_W02_ORACLE = """
SELECT c.c_custkey, n.n_name AS dept_name, r.r_name AS region_name,
       c.c_acctbal AS acctbal
FROM customer c
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
ORDER BY c.c_custkey
"""


@register("cog_enrichment_join", _W02_ORACLE)
def w_cog(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _read(spark, sf_dir, "customer")
    nation = _read(spark, sf_dir, "nation")
    region = _read(spark, sf_dir, "region")
    return (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select("c_custkey", F.col("n_name").alias("dept_name"),
                F.col("r_name").alias("region_name"),
                F.col("c_acctbal").alias("acctbal"))
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# w03 — lieux-dits <-> FANTOIR left join on cleaned names (J13 + C7/C8:
# quote hygiene + cascading whitespace collapse;
# bano/sql/lieux_dits_post_process.sql:2-31)
# ---------------------------------------------------------------------------

def _ld_raw_cte(cast: str) -> str:
    insee = _insee_case("p_partkey")
    return f"""
ld AS (
  SELECT {insee} AS insee_com,
         CASE p_partkey % 5
              WHEN 0 THEN 'LES  "GRANDS"   PRES ' || CAST(p_partkey % 40 AS {cast})
              WHEN 1 THEN ' LE  MOULIN  ' || CAST(p_partkey % 40 AS {cast})
              WHEN 2 THEN 'BELLEVUE ' || CAST(p_partkey % 40 AS {cast})
              WHEN 3 THEN 'LA "COTE" ' || CAST(p_partkey % 40 AS {cast})
              ELSE 'LES PINS  ' || CAST(p_partkey % 40 AS {cast}) END AS nom_raw
  FROM part
)"""


def _fant_ld_cte(cast: str) -> str:
    insee = _insee_case("s_suppkey")
    return f"""
fant AS (
  SELECT {insee} AS insee_com,
         CASE s_suppkey % 5
              WHEN 0 THEN 'LES GRANDS PRES ' || CAST(s_suppkey % 40 AS {cast})
              WHEN 1 THEN 'LE MOULIN ' || CAST(s_suppkey % 40 AS {cast})
              WHEN 2 THEN 'BELLEVUE ' || CAST(s_suppkey % 40 AS {cast})
              WHEN 3 THEN 'LA COTE ' || CAST(s_suppkey % 40 AS {cast})
              ELSE 'LES ORMES ' || CAST(s_suppkey % 40 AS {cast}) END AS libelle,
         {insee} || lpad(CAST(s_suppkey % 1000 AS {cast}), 4, '0') AS fantoir,
         CASE WHEN s_suppkey % 3 = 0 THEN '3' ELSE '1' END AS type_voie
  FROM supplier
)"""


# the reference collapses whitespace by cascading fixed 2-space
# replaces; trim + regexp fold reproduces the fixed point
_CLEAN = ("trim(regexp_replace(replace({c}, '\"', ''), ' +', ' ', 'g'))")
_CLEAN_SPARK = "trim(regexp_replace(replace({c}, '\"', ''), ' +', ' '))"

_W03_ORACLE = f"""
WITH {_ld_raw_cte('VARCHAR')},
{_fant_ld_cte('VARCHAR')},
fsel AS (
  SELECT insee_com, libelle, min(fantoir) AS fantoir
  FROM fant WHERE type_voie = '3'
  GROUP BY 1, 2
),
cleaned AS (
  SELECT DISTINCT insee_com, {_CLEAN.format(c='nom_raw')} AS nom FROM ld
)
SELECT c.insee_com, c.nom, f.fantoir
FROM cleaned c
LEFT JOIN fsel f ON c.insee_com = f.insee_com AND c.nom = f.libelle
ORDER BY 1, 2
"""


@register("lieux_dits_match", _W03_ORACLE)
def w_lieux_dits(spark: SparkSession, sf_dir: str) -> DataFrame:
    _read(spark, sf_dir, "part").createOrReplaceTempView("part")
    _read(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    ld = spark.sql("WITH " + _ld_raw_cte("STRING") + " SELECT * FROM ld")
    fant = spark.sql("WITH " + _fant_ld_cte("STRING") + " SELECT * FROM fant")
    fsel = (fant.filter(F.col("type_voie") == "3")
            .groupBy("insee_com", "libelle").agg(F.min("fantoir").alias("fantoir")))
    cleaned = ld.select(
        "insee_com",
        F.expr(_CLEAN_SPARK.format(c="nom_raw")).alias("nom")).distinct()
    return (
        cleaned.join(
            F.broadcast(fsel),
            (cleaned.insee_com == fsel.insee_com) & (cleaned.nom == fsel.libelle),
            "left")
        .select(cleaned.insee_com, "nom", "fantoir")
        .orderBy("insee_com", "nom")
    )


# ---------------------------------------------------------------------------
# w04 — abbreviation re-expansion (C6): our 37-step chain vs the oracle
# running the reference cascade verbatim (both first-occurrence).
# ---------------------------------------------------------------------------

_ABBR_IN = ["IMP HUIT MAI", "BD SEBASTOPOL", "AV GAL LECLERC", "PL EGLISE",
            "RTE NATIONALE SEPT", "ALL ACACIAS", "SQ LOUIS", "CHEM VERT",
            "RUE ST VINCENT", "CRS MAL FOCH", 'RES "LES PINS"', "PL STE MARIE",
            "VLA HTE PROVENCE", "RUE DU GAL DE GAULLE GAL X", "PAS DE L’OURS",
            "GR RUE"]


def _abbr_case(col: str) -> str:
    whens = " ".join(
        f"WHEN {col} % {len(_ABBR_IN)} = {i} THEN '{s.replace(chr(39), chr(39) * 2)}'"
        for i, s in enumerate(_ABBR_IN))
    return f"CASE {whens} END"


def _w04_oracle() -> str:
    from bano_spark.functions.expand import PREFIX_EXPANSIONS, WORD_EXPANSIONS

    e = f"({_abbr_case('c_custkey')})"
    for a, full in PREFIX_EXPANSIONS:
        e = f"regexp_replace({e}, '^{a} ', '{full} ')"
    for a, full in WORD_EXPANSIONS:
        e = f"regexp_replace({e}, ' {a} ', ' {full} ')"
    e = f"replace(replace({e}, '\"', ''), '’', chr(39))"
    return f"""
SELECT c_custkey, {_abbr_case('c_custkey')} AS voie, {e} AS name
FROM customer ORDER BY c_custkey
"""


@register("abbrev_expansion", _w04_oracle())
def w_abbrev(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.functions.expand import expand_abbrev

    cust = _read(spark, sf_dir, "customer")
    raw = F.element_at(F.array(*[F.lit(s) for s in _ABBR_IN]),
                       (F.col("c_custkey") % len(_ABBR_IN)).cast("int") + 1)
    return (
        cust.select("c_custkey", raw.alias("voie"))
        .withColumn("name", expand_abbrev(F.col("voie")))
        .orderBy("c_custkey")
    )


# ---------------------------------------------------------------------------
# w05 — hstore/tag-map access (C11/C12): MapType build + getItem +
# postal coalesce order (bano/helpers.py:6-7)
# ---------------------------------------------------------------------------

_W05_ORACLE = """
SELECT o_orderkey,
       CASE WHEN o_orderkey % 4 = 0 THEN '75001'
            WHEN o_orderkey % 4 = 1 THEN '01210'
            ELSE '' END AS code_postal,
       CASE WHEN o_orderkey % 3 = 0 THEN 'F' || CAST(o_orderkey % 89 AS VARCHAR)
            ELSE NULL END AS tag_fantoir
FROM orders ORDER BY o_orderkey
"""


@register("tag_map_access", _W05_ORACLE)
def w_tags(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    # build an hstore-like map with presence varying per row
    entries = F.filter(
        F.array(
            F.when(F.col("o_orderkey") % 4 == 0,
                   F.struct(F.lit("addr:postcode").alias("k"), F.lit("75001").alias("v"))),
            F.when(F.col("o_orderkey") % 4 == 1,
                   F.struct(F.lit("postal_code").alias("k"), F.lit("01210").alias("v"))),
            F.when(F.col("o_orderkey") % 3 == 0,
                   F.struct(F.lit("ref:FR:FANTOIR").alias("k"),
                            F.concat(F.lit("F"), (F.col("o_orderkey") % 89)
                                     .cast("string")).alias("v"))),
        ),
        lambda x: x.isNotNull())
    tagged = orders.select("o_orderkey", F.map_from_entries(entries).alias("tags"))
    cp = F.coalesce(F.col("tags").getItem("addr:postcode"),
                    F.col("tags").getItem("postal_code"), F.lit(""))
    return tagged.select(
        "o_orderkey", cp.alias("code_postal"),
        F.col("tags").getItem("ref:FR:FANTOIR").alias("tag_fantoir"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# w06 — place importance (M3: least/log10 with ld_bati damping;
# export_json_dept_lieux_dits.sql:57)
# ---------------------------------------------------------------------------

_W06_ORACLE = """
SELECT c_custkey,
       least(0.05, round(log10((1 + c_custkey % 5)
                 + log10(((c_custkey * 37) % 100000) + 1) / 3)
             * (0.25 + 0.5 * (1 - coalesce(CASE c_custkey % 3 WHEN 0 THEN 0
                                           WHEN 1 THEN 1 ELSE NULL END, 1))), 4))
       AS importance
FROM customer ORDER BY c_custkey
"""


@register("place_importance", _W06_ORACLE)
def w_place_imp(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _read(spark, sf_dir, "customer")
    adm = (F.lit(1) + F.col("c_custkey") % 5).cast("double")
    pop = ((F.col("c_custkey") * 37) % 100000).cast("double")
    ld_bati = F.when(F.col("c_custkey") % 3 == 0, 0).when(
        F.col("c_custkey") % 3 == 1, 1).otherwise(F.lit(None).cast("int"))
    imp = F.least(
        F.lit(0.05),
        F.round(F.log10(adm + F.log10(pop + 1) / 3)
                * (0.25 + 0.5 * (1 - F.coalesce(ld_bati, F.lit(1)))), 4))
    return cust.select("c_custkey", imp.alias("importance")).orderBy("c_custkey")


# ---------------------------------------------------------------------------
# w07 — postal code per commune (W6: rank over ligne_5, cp;
# export_json_dept_communes.sql:4-13)
# ---------------------------------------------------------------------------

def _cp_rows_cte(cast: str) -> str:
    insee = _insee_case("o_custkey")
    return f"""
cps AS (
  SELECT {insee} AS insee,
         '0' || CAST(1000 + o_orderkey % 37 AS {cast}) AS cp,
         CASE WHEN o_orderkey % 5 = 0 THEN 'L5 ' || CAST(o_orderkey % 7 AS {cast})
              ELSE '' END AS ligne_5
  FROM orders
)"""


# rank() keeps ties: dedup first, then RANK over (ligne_5, cp)
_W07_ORACLE = f"""
WITH {_cp_rows_cte('VARCHAR')},
d AS (SELECT DISTINCT insee, cp, ligne_5 FROM cps)
SELECT insee, cp, ligne_5 FROM (
  SELECT *, RANK() OVER (PARTITION BY insee ORDER BY ligne_5, cp) AS rang FROM d
) WHERE rang = 1
ORDER BY insee, cp, ligne_5
"""


@register("postal_rank_commune", _W07_ORACLE)
def w_postal_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    d = spark.sql("WITH " + _cp_rows_cte("STRING") + " SELECT DISTINCT * FROM cps")
    w = Window.partitionBy("insee").orderBy("ligne_5", "cp")
    return (
        d.withColumn("rang", F.rank().over(w)).filter(F.col("rang") == 1)
        .select("insee", "cp", "ligne_5").orderBy("insee", "cp", "ligne_5")
    )


# ---------------------------------------------------------------------------
# w08 — population rank (W7: RANK by admin_level per insee;
# sql/update_table_infos_communes.sql:42)
# ---------------------------------------------------------------------------

_W08_ORACLE = f"""
WITH rows_p AS (
  SELECT {_insee_case('o_custkey')} AS insee,
         CASE o_orderkey % 3 WHEN 0 THEN 8 WHEN 1 THEN 9 ELSE 10 END AS admin_level,
         (o_orderkey * 13) % 100000 AS population
  FROM orders
),
d AS (SELECT DISTINCT insee, admin_level, population FROM rows_p)
SELECT insee, admin_level, population FROM (
  SELECT *, RANK() OVER (PARTITION BY insee
                         ORDER BY admin_level, population) AS rang FROM d
) WHERE rang = 1
ORDER BY insee
"""


@register("population_rank", _W08_ORACLE)
def w_pop_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    rows_p = orders.select(
        F.expr(_insee_case("o_custkey")).alias("insee"),
        F.expr("CASE o_orderkey % 3 WHEN 0 THEN 8 WHEN 1 THEN 9 ELSE 10 END")
        .alias("admin_level"),
        ((F.col("o_orderkey") * 13) % 100000).alias("population")).distinct()
    w = Window.partitionBy("insee").orderBy("admin_level", "population")
    return (
        rows_p.withColumn("rang", F.rank().over(w)).filter(F.col("rang") == 1)
        .select("insee", "admin_level", "population").orderBy("insee")
    )


# ---------------------------------------------------------------------------
# w09 — batch stats rollup (A11/A12/A13: per-dept per-source sums +
# France total; bano/sql/stats.sql:2-75)
# ---------------------------------------------------------------------------

_W09_ORACLE = f"""
WITH batch AS (
  SELECT substring({_insee_case('o_custkey')}, 1, 2) AS dept,
         CASE o_orderkey % 3 WHEN 0 THEN 'BAN' WHEN 1 THEN 'OSM'
              ELSE 'CADASTRE' END AS source,
         o_orderkey % 500 AS nombre_adresses
  FROM orders
)
SELECT dept, source, CAST(sum(nombre_adresses) AS BIGINT) AS total,
       count(*) AS n_batches,
       count(DISTINCT nombre_adresses) AS n_distinct
FROM batch GROUP BY 1, 2
UNION ALL
SELECT 'FR' AS dept, source, CAST(sum(nombre_adresses) AS BIGINT), count(*),
       count(DISTINCT nombre_adresses)
FROM batch GROUP BY 2
ORDER BY dept, source
"""


@register("batch_stats_rollup", _W09_ORACLE)
def w_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    batch = orders.select(
        F.substring(F.expr(_insee_case("o_custkey")), 1, 2).alias("dept"),
        F.expr("CASE o_orderkey % 3 WHEN 0 THEN 'BAN' WHEN 1 THEN 'OSM'"
               " ELSE 'CADASTRE' END").alias("source"),
        (F.col("o_orderkey") % 500).alias("nombre_adresses"))
    aggs = [F.sum("nombre_adresses").alias("total"),
            F.count(F.lit(1)).alias("n_batches"),
            F.countDistinct("nombre_adresses").alias("n_distinct")]
    per_dept = batch.groupBy("dept", "source").agg(*aggs)
    france = batch.groupBy("source").agg(*aggs).select(
        F.lit("FR").alias("dept"), "source", "total", "n_batches", "n_distinct")
    return per_dept.unionByName(france).orderBy("dept", "source")


# ---------------------------------------------------------------------------
# w10 — UNION-dedup of provenance branches (U1: UNION is load-bearing;
# hsnr_insee_nocache.sql:25,40,56)
# ---------------------------------------------------------------------------

_W10_ORACLE = f"""
WITH src AS (
  SELECT o_orderkey % 2000 AS osm_id,
         {_insee_case('(o_orderkey % 2000)')} AS insee,
         'N ' || CAST((o_orderkey % 2000) % 53 AS VARCHAR) AS voie
  FROM orders
)
SELECT osm_id, insee, voie, 1 AS provenance FROM src WHERE osm_id % 2 = 0
UNION
SELECT osm_id, insee, voie, 1 FROM src WHERE osm_id % 3 = 0
UNION
SELECT osm_id, insee, voie, 2 FROM src WHERE osm_id % 3 = 1
ORDER BY osm_id, provenance
"""


@register("union_dedup_provenance", _W10_ORACLE)
def w_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    src = orders.select(
        (F.col("o_orderkey") % 2000).alias("osm_id"),
        F.expr(_insee_case("(o_orderkey % 2000)")).alias("insee"),
        F.concat(F.lit("N "), ((F.col("o_orderkey") % 2000) % 53).cast("string"))
        .alias("voie"))
    b1 = src.filter(F.col("osm_id") % 2 == 0).withColumn("provenance", F.lit(1))
    b2 = src.filter(F.col("osm_id") % 3 == 0).withColumn("provenance", F.lit(1))
    b3 = src.filter(F.col("osm_id") % 3 == 1).withColumn("provenance", F.lit(2))
    return (
        b1.unionByName(b2).unionByName(b3).dropDuplicates()
        .orderBy("osm_id", "provenance")
    )


# ---------------------------------------------------------------------------
# w11 — codes postaux raw-line parse (S8: string_to_array -> arr[n];
# sql/create_and_load_codes_postaux.sql:14-25)
# ---------------------------------------------------------------------------

def _cp_line(cast: str) -> str:
    insee = _insee_case("o_custkey")
    return (f"{insee} || ';' || '0' || CAST(1000 + o_orderkey % 37 AS {cast})"
            f" || ';LIGNE5 ' || CAST(o_orderkey % 7 AS {cast})"
            f" || ';' || CAST(o_orderkey % 360 AS {cast})"
            f" || ';' || CAST(o_orderkey % 180 AS {cast})")


_W11_ORACLE = f"""
WITH raw AS (SELECT o_orderkey, {_cp_line('VARCHAR')} AS line FROM orders)
SELECT o_orderkey,
       split_part(line, ';', 1) AS insee,
       split_part(line, ';', 2) AS cp,
       split_part(line, ';', 3) AS ligne_5,
       CAST(split_part(line, ';', 4) AS DOUBLE) AS x,
       CAST(split_part(line, ';', 5) AS DOUBLE) AS y
FROM raw ORDER BY o_orderkey
"""


@register("codes_postaux_parse", _W11_ORACLE)
def w_cp_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    raw = spark.sql(f"SELECT o_orderkey, {_cp_line('STRING')} AS line FROM orders")
    arr = F.split(F.col("line"), ";")
    return raw.select(
        "o_orderkey",
        F.element_at(arr, 1).alias("insee"),
        F.element_at(arr, 2).alias("cp"),
        F.element_at(arr, 3).alias("ligne_5"),
        F.element_at(arr, 4).cast("double").alias("x"),
        F.element_at(arr, 5).cast("double").alias("y"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# w12 — expire-tiles line parse (S11: 'z/x/y' text -> ints;
# bano/models.py:322-325)
# ---------------------------------------------------------------------------

_W12_ORACLE = """
WITH raw AS (
  SELECT '16/' || CAST(33000 + o_orderkey % 500 AS VARCHAR) || '/'
         || CAST(22500 + o_custkey % 400 AS VARCHAR) AS value
  FROM orders
)
SELECT DISTINCT CAST(split_part(value, '/', 1) AS INTEGER) AS z,
       CAST(split_part(value, '/', 2) AS BIGINT) AS x,
       CAST(split_part(value, '/', 3) AS BIGINT) AS y
FROM raw ORDER BY z, x, y
"""


@register("expire_tiles_parse", _W12_ORACLE)
def w_tile_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.tiling import parse_tile_lines

    orders = _read(spark, sf_dir, "orders")
    raw = orders.select(
        F.concat(F.lit("16/"), (33000 + F.col("o_orderkey") % 500).cast("string"),
                 F.lit("/"), (22500 + F.col("o_custkey") % 400).cast("string"))
        .alias("value"))
    return parse_tile_lines(raw).distinct().orderBy("z", "x", "y")


# ---------------------------------------------------------------------------
# w13 — NDJSON street-record export (S14: the reference's hand-built
# byte layout; bano/export.py:160-176)
# ---------------------------------------------------------------------------

def _voie_rec_cte(cast: str) -> str:
    insee = _insee_case("o_custkey")
    return f"""
recs AS (
  SELECT DISTINCT
         {insee} || lpad(CAST(o_orderkey % 800 AS {cast}), 4, '0') AS fantoir,
         {insee} AS citycode,
         'street' AS type,
         'Rue ' || CAST(o_orderkey % 800 AS {cast}) AS name,
         CASE WHEN o_orderkey % 7 = 0
              THEN '01210;01000'
              ELSE '0' || CAST(1000 + o_orderkey % 37 AS {cast}) END AS postcode,
         CAST(45 + o_orderkey % 4 AS {cast}) || '.' ||
             lpad(CAST(o_orderkey % 999983 AS {cast}), 6, '0') AS lat,
         CAST(2 + o_orderkey % 3 AS {cast}) || '.' ||
             lpad(CAST(o_custkey % 999983 AS {cast}), 6, '0') AS lon,
         'Ville ' || {insee} AS cityname,
         'Dept ' || substring({insee}, 1, 2) AS departement,
         'Region X' AS region,
         CAST((o_orderkey % 800) % 97 AS {cast}) || '.0' AS importance
  FROM orders
)"""


_W13_ORACLE = f"""
WITH {_voie_rec_cte('VARCHAR')}
SELECT '{{"id":"' || fantoir || '","citycode":"' || citycode
    || '","type":"' || type || '","name":"' || name
    || '","postcode":'
    || CASE WHEN contains(postcode, ';')
            THEN '["' || replace(postcode, ';', '", "') || '"]'
            ELSE '"' || postcode || '"' END
    || ',"lat":"' || lat || '","lon":"' || lon
    || '","city":"' || cityname || '","departement":"' || departement
    || '","region":"' || region || '","importance":' || importance
    || '}}' AS line
FROM recs ORDER BY line
"""


@register("ndjson_voie_export", _W13_ORACLE)
def w_ndjson(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.export import json_voie_line

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    recs = spark.sql("WITH " + _voie_rec_cte("STRING") + " SELECT * FROM recs")
    return json_voie_line(recs, with_housenumbers=False).orderBy("line")


# ---------------------------------------------------------------------------
# w14 — cadastre destination filter (F5: isin allowlist + pseudo drop;
# bano/models.py:87,92)
# ---------------------------------------------------------------------------

_W14_ORACLE = """
WITH bal AS (
  SELECT o_orderkey AS cle_interop,
         CASE o_orderkey % 6 WHEN 0 THEN 'habitation' WHEN 1 THEN 'commerce'
              WHEN 2 THEN 'industrie' WHEN 3 THEN 'tourisme'
              WHEN 4 THEN 'dependance' ELSE 'annexe' END AS destination_principale,
         CASE WHEN o_orderkey % 11 = 0 THEN 'true' ELSE 'false' END AS pseudo_adresse
  FROM orders
)
SELECT cle_interop, destination_principale FROM bal
WHERE destination_principale IN ('habitation', 'commerce', 'industrie', 'tourisme')
  AND pseudo_adresse != 'true'
ORDER BY cle_interop
"""


@register("cadastre_destination_filter", _W14_ORACLE)
def w_dest_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    bal = orders.select(
        F.col("o_orderkey").alias("cle_interop"),
        F.expr("CASE o_orderkey % 6 WHEN 0 THEN 'habitation' WHEN 1 THEN 'commerce'"
               " WHEN 2 THEN 'industrie' WHEN 3 THEN 'tourisme'"
               " WHEN 4 THEN 'dependance' ELSE 'annexe' END")
        .alias("destination_principale"),
        F.expr("CASE WHEN o_orderkey % 11 = 0 THEN 'true' ELSE 'false' END")
        .alias("pseudo_adresse"))
    return (
        bal.filter(F.col("destination_principale").isin(
            "habitation", "commerce", "industrie", "tourisme")
            & (F.col("pseudo_adresse") != "true"))
        .select("cle_interop", "destination_principale")
        .orderBy("cle_interop")
    )


# ---------------------------------------------------------------------------
# w15 — min postal per commune (A2: MIN(cp) GROUP BY insee;
# export_csv_dept.sql:15-19)
# ---------------------------------------------------------------------------

_W15_ORACLE = f"""
WITH cps AS (
  SELECT {_insee_case('o_custkey')} AS insee,
         CASE WHEN o_orderkey % 13 = 0 THEN NULL
              ELSE '0' || CAST(1000 + o_orderkey % 37 AS VARCHAR) END AS cp
  FROM orders
)
SELECT insee, min(cp) AS min_cp FROM cps GROUP BY 1 ORDER BY 1
"""


@register("min_postal_per_commune", _W15_ORACLE)
def w_min_cp(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    cps = orders.select(
        F.expr(_insee_case("o_custkey")).alias("insee"),
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("0"), (1000 + F.col("o_orderkey") % 37)
                            .cast("string"))).alias("cp"))
    return cps.groupBy("insee").agg(F.min("cp").alias("min_cp")).orderBy("insee")


# ---------------------------------------------------------------------------
# w16 — bbox-envelope variant join (J4: commune replaced by the
# ST_Extent envelope of its points; hsnr_bbox_insee_nocache.sql:20,37)
# ---------------------------------------------------------------------------

_W16_ORACLE = f"""
WITH apts AS ({synth.points_select_sql('duckdb', 'supplier', 's_suppkey', 7)}),
bpts AS ({synth.points_select_sql('duckdb', 'events', 'event_id', 0)}),
env AS (
  SELECT c.insee_com,
         min(p.x) AS xmin, min(p.y) AS ymin, max(p.x) AS xmax, max(p.y) AS ymax
  FROM apts p
  JOIN {synth.communes_values_sql()}
    ON p.x >= c.xmin AND p.x < c.xmax AND p.y >= c.ymin AND p.y < c.ymax
  WHERE c.admin_level = 8
  GROUP BY 1
)
SELECT b.event_id, e.insee_com
FROM bpts b
JOIN env e ON b.x >= e.xmin AND b.x <= e.xmax AND b.y >= e.ymin AND b.y <= e.ymax
ORDER BY 1, 2
"""


@register("bbox_envelope_join", _W16_ORACLE)
def w_bbox_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.pip_join import spatial_join

    _read(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    apts = spark.sql(synth.points_select_sql("spark", "supplier", "s_suppkey", 7))
    bpts = spark.sql(synth.points_select_sql("spark", "events", "event_id", 0))
    polys = synth.commune_polygons_df(spark).filter(F.col("admin_level") == 8)
    env = (
        spatial_join(apts, polys, id_col="insee_com", zoom=15)
        .groupBy("insee_com")
        .agg(F.min("x").alias("exmin"), F.min("y").alias("eymin"),
             F.max("x").alias("exmax"), F.max("y").alias("eymax"))
    )
    return (
        bpts.join(F.broadcast(env),
                  (F.col("x") >= F.col("exmin")) & (F.col("x") <= F.col("exmax"))
                  & (F.col("y") >= F.col("eymin")) & (F.col("y") <= F.col("eymax")))
        .select("event_id", "insee_com")
        .orderBy("event_id", "insee_com")
    )


# ---------------------------------------------------------------------------
# w17 — street best-segment + centroid (W2/A5/A6:
# point_par_rue_insee_nocache.sql:22,26-38)
# ---------------------------------------------------------------------------

# The point fixture is deliberately NON-collinear and non-rectilinear:
# every street gets the three exact-binary triangle vertices A=(bx,by),
# B=(bx+1,by), C=(bx,by+1/2) plus strictly-interior lineitem-derived
# points (x'+2y' <= 0.4375 < 1), so the convex hull is exactly that
# triangle, its centroid (bx+1/3, by+1/6) differs from the bbox
# midpoint (bx+1/2, by+1/4), and the oracle can state it in plain SQL.
_W17_ORACLE = """
WITH segs AS (
  SELECT DISTINCT l_orderkey % 300 AS street_id, l_linenumber AS seg_id,
         CASE WHEN l_suppkey % 3 = 0 THEN 1 ELSE 0 END AS within
  FROM lineitem
),
best AS (
  SELECT street_id, seg_id, within FROM (
    SELECT *, RANK() OVER (PARTITION BY street_id
                           ORDER BY within DESC, seg_id) AS rang FROM segs
  ) WHERE rang = 1
),
streets AS (SELECT DISTINCT l_orderkey % 300 AS street_id FROM lineitem),
pts AS (
  SELECT s.street_id,
         CAST(s.street_id AS DOUBLE) * 0.25 + v.dx AS x,
         CAST(s.street_id AS DOUBLE) * 0.125 + v.dy AS y
  FROM streets s CROSS JOIN (VALUES (CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
                                    (CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
                                    (CAST(0.0 AS DOUBLE), CAST(0.5 AS DOUBLE)))
       AS v(dx, dy)
  UNION ALL
  SELECT l_orderkey % 300 AS street_id,
         CAST(l_orderkey % 300 AS DOUBLE) * 0.25
             + 0.125 + (l_linenumber % 3) * 0.0625 AS x,
         CAST(l_orderkey % 300 AS DOUBLE) * 0.125
             + 0.0625 + (l_suppkey % 2) * 0.03125 AS y
  FROM lineitem
),
cent AS (
  SELECT street_id,
         round(CAST(street_id AS DOUBLE) * 0.25 + CAST(1 AS DOUBLE) / 3, 6)
             AS cx,
         round(CAST(street_id AS DOUBLE) * 0.125 + CAST(1 AS DOUBLE) / 6, 6)
             AS cy,
         count(*) AS n_points
  FROM pts GROUP BY 1
)
SELECT b.street_id, b.seg_id, b.within, c.cx, c.cy, c.n_points
FROM best b JOIN cent c ON b.street_id = c.street_id
ORDER BY b.street_id
"""


@register("point_par_rue", _W17_ORACLE)
def w_point_par_rue(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.streets import best_segment, street_centroid

    li = _read(spark, sf_dir, "lineitem")
    segs = li.select(
        (F.col("l_orderkey") % 300).alias("street_id"),
        F.col("l_linenumber").alias("seg_id"),
        F.when(F.col("l_suppkey") % 3 == 0, 1).otherwise(0).alias("within"),
    ).distinct()
    best = best_segment(segs)
    streets = li.select((F.col("l_orderkey") % 300).alias("street_id")).distinct()
    verts = li.sparkSession.createDataFrame(
        [(0.0, 0.0), (1.0, 0.0), (0.0, 0.5)], "dx double, dy double")
    tri = streets.crossJoin(F.broadcast(verts)).select(
        "street_id",
        (F.col("street_id").cast("double") * 0.25 + F.col("dx")).alias("x"),
        (F.col("street_id").cast("double") * 0.125 + F.col("dy")).alias("y"))
    interior = li.select(
        (F.col("l_orderkey") % 300).alias("street_id"),
        ((F.col("l_orderkey") % 300).cast("double") * 0.25
         + 0.125 + (F.col("l_linenumber") % 3) * 0.0625).alias("x"),
        ((F.col("l_orderkey") % 300).cast("double") * 0.125
         + 0.0625 + (F.col("l_suppkey") % 2) * 0.03125).alias("y"))
    cent = street_centroid(tri.unionByName(interior))
    return (
        best.join(cent, "street_id")
        .select("street_id", "seg_id", "within",
                F.round("cx", 6).alias("cx"), F.round("cy", 6).alias("cy"),
                "n_points")
        .orderBy("street_id")
    )


# ---------------------------------------------------------------------------
# w22 — BAN CSV parse (S3: sep=';' with explicit schema;
# bano/sources/ban.py:36-72)
# ---------------------------------------------------------------------------

def _ban_line(cast: str) -> str:
    insee = _insee_case("o_custkey")
    return (f"'ban_' || CAST(o_orderkey AS {cast})"
            f" || ';' || CAST(o_orderkey % 120 AS {cast})"
            f" || ';' || CASE o_orderkey % 4 WHEN 0 THEN 'bis' ELSE '' END"
            f" || ';Rue ' || CAST(o_orderkey % 53 AS {cast})"
            f" || ';0' || CAST(1000 + o_orderkey % 37 AS {cast})"
            f" || ';' || {insee}"
            f" || ';' || CAST(2 + o_orderkey % 3 AS {cast}) || '.5'"
            f" || ';' || CAST(45 + o_orderkey % 4 AS {cast}) || '.25'")


_W22_ORACLE = f"""
WITH raw AS (SELECT {_ban_line('VARCHAR')} AS line FROM orders)
SELECT split_part(line, ';', 1) AS id,
       CAST(split_part(line, ';', 2) AS INTEGER) AS numero,
       split_part(line, ';', 3) AS rep,
       split_part(line, ';', 4) AS nom_voie,
       split_part(line, ';', 5) AS code_postal,
       split_part(line, ';', 6) AS code_insee,
       CAST(split_part(line, ';', 7) AS DOUBLE) AS lon,
       CAST(split_part(line, ';', 8) AS DOUBLE) AS lat
FROM raw ORDER BY id
"""


@register("ban_csv_parse", _W22_ORACLE)
def w_ban_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    raw = spark.sql(f"SELECT {_ban_line('STRING')} AS line FROM orders")
    schema = ("id STRING, numero INT, rep STRING, nom_voie STRING, "
              "code_postal STRING, code_insee STRING, lon DOUBLE, lat DOUBLE")
    parsed = raw.select(
        F.from_csv(F.col("line"), schema, {"sep": ";"}).alias("r")).select("r.*")
    # COPY loads empty text fields as '' (not NULL) — match that
    return parsed.withColumn("rep", F.coalesce(F.col("rep"), F.lit(""))).orderBy("id")


# ---------------------------------------------------------------------------
# w23 — structured-streaming dirty-INSEE path (2.9: availableNow over a
# tile-expiry feed -> distinct dirty communes), now ORACLE-CHECKED
# (r1 verdict minor #8: the harness used to collect+recreate, leaving
# this rows-only): the feed is a deterministic subset (event_id%50==0),
# the stream writes parquet, the written artifact is read back into a
# driver-local frame and the run's temp directory removed; the oracle
# restates feed->tiles->communes in SQL with the reference's admin
# special-casing.
# ---------------------------------------------------------------------------

def _w23_oracle() -> str:
    from bano_spark.geo import tiles as tl

    cell = tl.cell_size(tl.DEFAULT_ZOOM)
    return f"""
WITH pts0 AS ({synth.points_select_sql('duckdb')}),
pts AS (SELECT * FROM pts0 WHERE event_id % 50 = 0),
et AS (
  SELECT DISTINCT
      CAST(floor((x - ({tl.ORIGIN!r})) / {cell!r}) AS BIGINT) AS tx,
      CAST(floor(({-tl.ORIGIN!r} - y) / {cell!r}) AS BIGINT) AS ty
  FROM pts
),
boxes AS (
  SELECT ({tl.ORIGIN!r}) + {cell!r} * tx AS xmin,
         ({tl.ORIGIN!r}) + {cell!r} * (tx + 1) AS xmax,
         ({-tl.ORIGIN!r}) - {cell!r} * (ty + 1) AS ymin,
         ({-tl.ORIGIN!r}) - {cell!r} * ty AS ymax
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


@register("dirty_insee_stream", _w23_oracle())
def w_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from bano_spark.geo import tiles as tl
    from bano_spark.streaming.incremental import run_dirty_insee_stream

    base = tempfile.mkdtemp(prefix="bano_stream_")
    try:
        tiles_dir = os.path.join(base, "tiles")
        out_dir = os.path.join(base, "out")
        ckpt = os.path.join(base, "ckpt")
        os.makedirs(tiles_dir)
        # deterministic expiry feed: z16 tiles of every 50th synth point
        pts = synth.points_df(spark, sf_dir).filter(
            F.col("event_id") % 50 == 0).collect()
        cell = tl.cell_size(tl.DEFAULT_ZOOM)
        with open(os.path.join(tiles_dir, "batch0.tiles"), "w") as f:
            for r in pts:
                tx = int((r.x - tl.ORIGIN) / cell)
                ty = int((-tl.ORIGIN - r.y) / cell)
                f.write(f"{tl.DEFAULT_ZOOM}/{tx}/{ty}\n")
        run_dirty_insee_stream(spark, tiles_dir, synth.commune_polygons_df(spark),
                               out_dir, ckpt)
        # per-batch subdirs (idempotent replay sink) -> glob read, into
        # a driver-local relation so the directory can go
        dirty = spark.read.parquet(os.path.join(out_dir, "*"))
        return spark.createDataFrame(dirty.toArrow()).orderBy("insee_com")
    finally:
        shutil.rmtree(base, ignore_errors=True)


# ---------------------------------------------------------------------------
# w24 — validity predicates (F2/F3/F4: name len>=2, hsnr len<=11,
# 10-char fantoir prefixed by the commune; bano/helpers.py:89-92,179-180)
# ---------------------------------------------------------------------------

_W24_ORACLE = f"""
WITH rows_v AS (
  SELECT o_orderkey,
         {_insee_case('o_custkey')} AS insee,
         CASE o_orderkey % 4 WHEN 0 THEN 'N' WHEN 1 THEN ''
              ELSE 'Rue ' || CAST(o_orderkey % 9 AS VARCHAR) END AS name,
         CASE WHEN o_orderkey % 5 = 0 THEN '123456789012'
              ELSE CAST(o_orderkey % 400 AS VARCHAR) END AS hsnr,
         CASE o_orderkey % 3
              WHEN 0 THEN {_insee_case('o_custkey')}
                          || lpad(CAST(o_orderkey % 97 AS VARCHAR), 4, '0') || 'X'
              WHEN 1 THEN '9999' || lpad(CAST(o_orderkey % 97 AS VARCHAR), 5, '0') || 'Y'
              ELSE 'SHORT' END AS fantoir
  FROM orders
)
SELECT o_orderkey, insee, name, hsnr, fantoir
FROM rows_v
WHERE name IS NOT NULL AND length(name) >= 2
  AND hsnr != '' AND length(hsnr) <= 11
  AND length(fantoir) = 10 AND substring(fantoir, 1, 5) = insee
ORDER BY o_orderkey
"""


@register("validity_filters", _W24_ORACLE)
def w_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    rows_v = spark.sql(f"""
      SELECT o_orderkey,
             {_insee_case('o_custkey')} AS insee,
             CASE o_orderkey % 4 WHEN 0 THEN 'N' WHEN 1 THEN ''
                  ELSE 'Rue ' || CAST(o_orderkey % 9 AS STRING) END AS name,
             CASE WHEN o_orderkey % 5 = 0 THEN '123456789012'
                  ELSE CAST(o_orderkey % 400 AS STRING) END AS hsnr,
             CASE o_orderkey % 3
                  WHEN 0 THEN {_insee_case('o_custkey')}
                              || lpad(CAST(o_orderkey % 97 AS STRING), 4, '0') || 'X'
                  WHEN 1 THEN '9999' || lpad(CAST(o_orderkey % 97 AS STRING), 5, '0') || 'Y'
                  ELSE 'SHORT' END AS fantoir
      FROM orders""")
    valid_name = F.col("name").isNotNull() & (F.length("name") >= 2)
    valid_hsnr = (F.col("hsnr") != "") & (F.length("hsnr") <= 11)
    valid_fant = (F.length("fantoir") == 10) & (
        F.substring("fantoir", 1, 5) == F.col("insee"))
    return rows_v.filter(valid_name & valid_hsnr & valid_fant).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# w25 — way-centroid-in-commune join (J2: ST_Centroid(way) first, then
# the J1 PIP; hsnr_insee_nocache.sql:27-39). Ways here are 2-vertex
# segments whose centroid is the midpoint — computed with a JVM
# higher-order aggregate over the vertex array, never in Python.
# ---------------------------------------------------------------------------

_W25_ORACLE = f"""
WITH base AS ({synth.points_select_sql('duckdb', 'events', 'event_id', 3)}),
ways AS (
  SELECT event_id AS way_id, x, y,
         x + (event_id % 7) * 2.0 AS x2, y + (event_id % 5) * 2.0 AS y2
  FROM base
),
cent AS (
  SELECT way_id, (x + x2) / 2 AS cx, (y + y2) / 2 AS cy FROM ways
)
SELECT w.way_id, c.insee_com
FROM cent w
JOIN {synth.communes_values_sql()}
  ON w.cx >= c.xmin AND w.cx < c.xmax AND w.cy >= c.ymin AND w.cy < c.ymax
WHERE c.admin_level = 8
ORDER BY 1, 2
"""


@register("way_centroid_join", _W25_ORACLE)
def w_way_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.pip_join import spatial_join

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    base = spark.sql(synth.points_select_sql("spark", "events", "event_id", 3))
    ways = base.select(
        F.col("event_id").alias("way_id"),
        F.array(
            F.array(F.col("x"), F.col("y")),
            F.array(F.col("x") + (F.col("event_id") % 7) * 2.0,
                    F.col("y") + (F.col("event_id") % 5) * 2.0),
        ).alias("way"))
    # centroid via higher-order aggregate over the vertex array (JVM)
    cent = ways.select(
        "way_id",
        F.expr("aggregate(way, CAST(0.0 AS DOUBLE), (a, v) -> a + v[0]) / size(way)")
        .alias("cx"),
        F.expr("aggregate(way, CAST(0.0 AS DOUBLE), (a, v) -> a + v[1]) / size(way)")
        .alias("cy"))
    polys = synth.commune_polygons_df(spark).filter(F.col("admin_level") == 8)
    out = spatial_join(cent, polys, x="cx", y="cy", id_col="insee_com", zoom=15)
    return out.select("way_id", "insee_com").orderBy("way_id", "insee_com")


# ---------------------------------------------------------------------------
# w26 — TTL (Turtle RDF) export (S15: bano/export.py:101-145 templated
# record, incl. the arrondissement special case)
# ---------------------------------------------------------------------------

def _ttl_rows_cte(cast: str) -> str:
    insee = "CASE " + " ".join(
        f"WHEN o_custkey % 20 = {i} THEN '{synth.COMMUNES[i][0]}'" for i in range(20)
    ) + " END"
    return f"""
rows_t AS (
  SELECT DISTINCT
         {insee} || lpad(CAST(o_orderkey % 300 AS {cast}), 4, '0') || '-'
             || CAST(1 + o_orderkey % 40 AS {cast}) AS id,
         CAST(1 + o_orderkey % 40 AS {cast}) AS numero,
         'Rue ' || CAST(o_orderkey % 53 AS {cast}) AS voie,
         '0' || CAST(1000 + o_orderkey % 37 AS {cast}) AS code_post,
         'Ville ' || substring({insee}, 1, 2) AS ville,
         CAST(45 + o_orderkey % 4 AS {cast}) || '.5' AS lat,
         CAST(2 + o_orderkey % 3 AS {cast}) || '.25' AS lon
  FROM orders
)"""


_W26_ORACLE = f"""
WITH {_ttl_rows_cte('VARCHAR')}
SELECT '<http://id.osmfr.org/bano/' || id || '>  a locn:Address , gn:Feature ;'
  || chr(10) || 'locn:fullAddress "' || numero || ' ' || voie || ', '
  || code_post || ' ' || ville || ', FRANCE";' || chr(10)
  || 'locn:addressId "' || id || '" ;' || chr(10)
  || 'locn:locatorDesignator "' || numero || '" ;' || chr(10)
  || 'locn:thoroughfare "' || voie || '"@fr ;' || chr(10)
  || 'locn:postalCode "' || code_post || '" ;' || chr(10)
  || 'locn:locatorName "' || ville || '"@fr ;' || chr(10)
  || 'locn:adminUnitL1 "FR" ;'
  || CASE WHEN instr('13 69 75', substring(id, 1, 2)) > 0
           AND ((CAST(substring(id, 1, 5) AS INTEGER) BETWEEN 13201 AND 13216)
                OR (CAST(substring(id, 1, 5) AS INTEGER) BETWEEN 75101 AND 75120))
      THEN 'locn:location <http://id.insee.fr/geo/arrondissementMunicipal/'
           || substring(id, 1, 5) || '> ;'
      ELSE 'locn:location <http://id.insee.fr/geo/commune/' || id || '[0:5]> ;'
      END
  || 'locn:geometry <geo:' || lat || ',' || lon || ';u=0;crs=wgs84> ;' || chr(10)
  || 'locn:geometry [a geo:Point ; geo:lat "' || lat || '" ; geo:long "'
  || lon || '" ] ;' || chr(10)
  || 'locn:geometry [a gsp:Geometry; gsp:asWKT "POINT(' || lon || ' ' || lat
  || ')"^^gsp:wktLiteral ] ;' || chr(10) || '.' AS line
FROM rows_t ORDER BY line
"""


@register("ttl_export", _W26_ORACLE)
def w_ttl(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.export import ttl_record

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    rows_t = spark.sql("WITH " + _ttl_rows_cte("STRING") + " SELECT * FROM rows_t")
    return ttl_record(rows_t).orderBy("line")


# ---------------------------------------------------------------------------
# w27 — GeoJSON feature parse (S5: cadastre lieux-dits;
# bano/sources/cadastre_json.py:47-62)
# ---------------------------------------------------------------------------

def _geojson_line(cast: str) -> str:
    insee = _insee_case("o_custkey")
    head = '\'{"type":"Feature","properties":{"nom":"LD \' '
    mid = '|| \'","insee":"\' || ' + insee + (
        ' || \'"},"geometry":{"type":"Polygon","coordinates":[[[\'')
    tail = "|| ']]]}}'"
    return (
        head
        + f"|| CAST(o_orderkey % 211 AS {cast}) "
        + mid
        + f" || CAST(2 + o_orderkey % 5 AS {cast}) || ',' "
        + f"|| CAST(45 + o_orderkey % 3 AS {cast}) || '],['"
        + f" || CAST(3 + o_orderkey % 5 AS {cast}) || ',' "
        + f"|| CAST(45 + o_orderkey % 3 AS {cast}) || '],['"
        + f" || CAST(3 + o_orderkey % 5 AS {cast}) || ',' "
        + f"|| CAST(46 + o_orderkey % 3 AS {cast}) "
        + tail
    )


_W27_ORACLE = f"""
WITH raw AS (SELECT o_orderkey, {_geojson_line('VARCHAR')} AS line FROM orders)
SELECT DISTINCT
       json_extract_string(line, '$.properties.nom') AS nom,
       json_extract_string(line, '$.properties.insee') AS insee_com,
       CAST(json_extract(line, '$.geometry.coordinates[0][0][0]') AS DOUBLE) AS x0,
       CAST(json_extract(line, '$.geometry.coordinates[0][0][1]') AS DOUBLE) AS y0,
       CAST(json_array_length(line, '$.geometry.coordinates[0]') AS INTEGER) AS n_verts
FROM raw ORDER BY nom, insee_com, x0, y0
"""


@register("geojson_parse", _W27_ORACLE)
def w_geojson(spark: SparkSession, sf_dir: str) -> DataFrame:
    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    raw = spark.sql(f"SELECT o_orderkey, {_geojson_line('STRING')} AS line FROM orders")
    schema = ("STRUCT<type: STRING, properties: STRUCT<nom: STRING, insee: STRING>, "
              "geometry: STRUCT<type: STRING, coordinates: ARRAY<ARRAY<ARRAY<DOUBLE>>>>>")
    p = raw.select(F.from_json(F.col("line"), schema).alias("f"))
    return p.select(
        F.col("f.properties.nom").alias("nom"),
        F.col("f.properties.insee").alias("insee_com"),
        F.element_at(F.element_at(F.col("f.geometry.coordinates"), 1), 1)
        .getItem(0).alias("x0"),
        F.element_at(F.element_at(F.col("f.geometry.coordinates"), 1), 1)
        .getItem(1).alias("y0"),
        F.size(F.element_at(F.col("f.geometry.coordinates"), 1)).alias("n_verts"),
    ).distinct().orderBy("nom", "insee_com", "x0", "y0")


# ---------------------------------------------------------------------------
# w28 — Lambert-93 -> WGS84 reprojection (S9: shp2pgsql -s 2154:4326;
# EPSG 9802 inverse LCC as a vectorized numpy Arrow kernel, oracle runs
# the same published formulas as SQL)
# ---------------------------------------------------------------------------

def _w28_oracle() -> str:
    from bano_spark.geo import reproject as R

    cols = R.oracle_select_cols("x", "y")
    return f"""
WITH pts AS (
  SELECT o_orderkey,
         600000.0 + (o_orderkey * 37) % 200000 + 0.25 AS x,
         6500000.0 + (o_orderkey * 53) % 300000 + 0.5 AS y
  FROM orders
)
SELECT o_orderkey, lon, lat FROM (SELECT o_orderkey, {cols} FROM pts)
ORDER BY o_orderkey
"""


@register("lambert93_reproject", _w28_oracle())
def w_reproject(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.geo.reproject import lambert93_to_wgs84_udf

    orders = _read(spark, sf_dir, "orders")
    pts = orders.select(
        "o_orderkey",
        (600000.0 + (F.col("o_orderkey") * 37) % 200000 + 0.25).alias("x"),
        (6500000.0 + (F.col("o_orderkey") * 53) % 300000 + 0.5).alias("y"))
    out = pts.withColumn("ll", lambert93_to_wgs84_udf(F.col("x"), F.col("y")))
    return out.select(
        "o_orderkey",
        F.round(F.col("ll.lon"), 9).alias("lon"),
        F.round(F.col("ll.lat"), 9).alias("lat"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# w29 — lon/lat -> EPSG:3857 spherical Mercator (ST_Transform 4326->3857,
# hsnr_insee_nocache.sql:13), pure column arithmetic both sides
# ---------------------------------------------------------------------------

_W29_ORACLE = """
WITH ll AS (
  SELECT o_orderkey,
         -5.0 + (o_orderkey % 1700) * 0.01 AS lon,
         41.0 + (o_orderkey % 1000) * 0.01 AS lat
  FROM orders
)
SELECT o_orderkey,
       round(6378137.0 * radians(lon), 4) AS x,
       round(6378137.0 * ln(tan(pi() / 4.0 + radians(lat) / 2.0)), 4) AS y
FROM ll ORDER BY o_orderkey
"""


@register("lonlat_to_mercator", _W29_ORACLE)
def w_mercator(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.geo.tiles import lonlat_to_mercator

    orders = _read(spark, sf_dir, "orders")
    ll = orders.select(
        "o_orderkey",
        (-5.0 + (F.col("o_orderkey") % 1700) * 0.01).alias("lon"),
        (41.0 + (F.col("o_orderkey") % 1000) * 0.01).alias("lat"))
    mx, my = lonlat_to_mercator(F.col("lon"), F.col("lat"))
    # 4-decimal (0.1 mm) rounding: Java vs C libm tan/ln differ in the
    # last ULP and the deterministic inputs must not straddle a boundary
    return ll.select(
        "o_orderkey",
        F.round(mx, 4).alias("x"),
        F.round(my, 4).alias("y"),
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# w30 — END-TO-END pipeline (SURVEY §3.1): pages -> extract -> normalize
# -> conciliate -> unix-CSV export lines, the reference's whole
# per-commune loop as one DataFrame job. The oracle re-derives every
# page field from event_id with the same integer arithmetic and mirrors
# export_csv_dept.sql independently.
# ---------------------------------------------------------------------------

_E2E_NORMS = [s[1] for s in synth.STREETS]
_E2E_INSEE_N = [c[0] for c in synth.COMMUNES[:10]]
_E2E_INSEE_A = [c[0] for c in synth.COMMUNES[11:20]]


def _e2e_cumul_cte() -> str:
    insee_n = "CASE " + " ".join(
        f"WHEN least(u % 16, 9) = {i} THEN '{v}'" for i, v in enumerate(_E2E_INSEE_N)
    ) + " END"
    insee_a = "CASE " + " ".join(
        f"WHEN (u // 16) % 9 = {i} THEN '{v}'" for i, v in enumerate(_E2E_INSEE_A)
    ) + " END"
    voie = "CASE " + " ".join(
        f"WHEN u % 12 = {i} THEN '{v}'" for i, v in enumerate(_E2E_NORMS)
    ) + " END"
    return f"""
base AS (
  SELECT event_id, (event_id * 2654435761) % 2147483648 AS u,
         event_id % 4 AS kidx
  FROM events
),
cumul AS (
  SELECT CASE WHEN u % 16 < 10 THEN {insee_n} ELSE {insee_a} END AS insee_com,
         (CASE WHEN u % 16 < 10 THEN {insee_n} ELSE {insee_a} END)
             || lpad(CAST((u // 3) % 2000 AS VARCHAR), 4, '0') AS fantoir,
         CASE kidx WHEN 0 THEN 'BAN' WHEN 1 THEN 'OSM' ELSE 'BAL' END AS source,
         CAST((u // 7) % 200 + 1 AS VARCHAR) AS numero,
         {voie} AS voie,
         '0' || CAST(1000 + u % 40 AS VARCHAR) AS code_postal,
         CAST(CASE WHEN u % 16 < 10
              THEN {synth.REG0!r} + (u % 16) * {synth.W!r}
              ELSE {synth.PARIS0!r} + ((u // 16) % 9) * {synth.W!r}
         END + ((u // 144) % 9000) + 0.5 AS DOUBLE) AS lon,
         CAST({synth.REGY0!r} + ((u // 1296000) % 9000) + 0.25 AS DOUBLE) AS lat
  FROM base WHERE kidx != 3
)"""


_W30_ORACLE = f"""
WITH {_e2e_cumul_cte()},
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
         CAST(NULL AS VARCHAR) AS ville,
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
  SELECT *, ROW_NUMBER() OVER (PARTITION BY id
                               ORDER BY numero, lat, lon) AS seq
  FROM res
  WHERE lat IS NOT NULL AND lon IS NOT NULL
    AND regexp_matches(numero, '^[0-9]{{1,4}}( ?[A-Z]?.*)?')
    AND numero != '99999'
    AND NOT regexp_matches(numero, '.[0-9 .-]{{9,}}')
)
SELECT id || ',' || numero || ',' || voie || ','
    || coalesce(code_post, '') || ',' || coalesce(ville, '') || ','
    || source || ',' || CAST(lat AS VARCHAR) || ',' || CAST(lon AS VARCHAR)
    AS line
FROM ranked WHERE seq = 1 ORDER BY line
"""


@register("end_to_end_csv_export", _W30_ORACLE)
def w_end_to_end(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.pipelines import export_csv
    from bano_spark.sources.pages import synth_pages_sql

    ids = _read(spark, sf_dir, "events").select(F.col("event_id").alias("id"))
    pages = synth_pages_sql(spark, 0, ids=ids)
    return export_csv(pages).orderBy("line")


# ---------------------------------------------------------------------------
# w31 — ST_ClosestPoint on street segments (point_par_rue_insee_
# nocache.sql:41): clamped scalar projection, column arithmetic both
# sides
# ---------------------------------------------------------------------------

_W31_ORACLE = """
WITH segs AS (
  SELECT l_orderkey AS seg_id,
         CAST(100.0 + (l_orderkey % 977) AS DOUBLE) AS x1,
         CAST(200.0 + (l_orderkey % 883) AS DOUBLE) AS y1,
         CAST(100.0 + (l_orderkey % 977) + (l_suppkey % 41) AS DOUBLE) AS x2,
         CAST(200.0 + (l_orderkey % 883) + (l_partkey % 37) AS DOUBLE) AS y2,
         CAST(150.0 + (l_linenumber * 13) % 900 AS DOUBLE) AS px,
         CAST(250.0 + (l_linenumber * 7) % 800 AS DOUBLE) AS py
  FROM lineitem
),
t AS (
  SELECT seg_id, px, py, x1, y1, x2 - x1 AS dx, y2 - y1 AS dy,
         (x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1) AS d2
  FROM segs
),
proj AS (
  SELECT seg_id,
         least(greatest(CASE WHEN d2 > 0
              THEN ((px - x1) * dx + (py - y1) * dy) / d2 ELSE 0.0 END,
              0.0), 1.0) AS tc,
         x1, y1, dx, dy
  FROM t
)
SELECT DISTINCT seg_id,
       round(x1 + tc * dx, 9) AS cx,
       round(y1 + tc * dy, 9) AS cy
FROM proj ORDER BY seg_id, cx, cy
"""


@register("closest_point_on_segment", _W31_ORACLE)
def w_closest_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _read(spark, sf_dir, "lineitem")
    segs = li.select(
        F.col("l_orderkey").alias("seg_id"),
        (100.0 + F.col("l_orderkey") % 977).cast("double").alias("x1"),
        (200.0 + F.col("l_orderkey") % 883).cast("double").alias("y1"),
        (100.0 + F.col("l_orderkey") % 977 + F.col("l_suppkey") % 41)
        .cast("double").alias("x2"),
        (200.0 + F.col("l_orderkey") % 883 + F.col("l_partkey") % 37)
        .cast("double").alias("y2"),
        (150.0 + (F.col("l_linenumber") * 13) % 900).cast("double").alias("px"),
        (250.0 + (F.col("l_linenumber") * 7) % 800).cast("double").alias("py"))
    dx, dy = F.col("x2") - F.col("x1"), F.col("y2") - F.col("y1")
    d2 = dx * dx + dy * dy
    t_raw = F.when(d2 > 0, ((F.col("px") - F.col("x1")) * dx
                            + (F.col("py") - F.col("y1")) * dy) / d2).otherwise(0.0)
    tc = F.least(F.greatest(t_raw, F.lit(0.0)), F.lit(1.0))
    return segs.select(
        "seg_id",
        F.round(F.col("x1") + tc * dx, 9).alias("cx"),
        F.round(F.col("y1") + tc * dy, 9).alias("cy"),
    ).distinct().orderBy("seg_id", "cx", "cy")


# ---------------------------------------------------------------------------
# w33-w36 — web-corpus curation suite (training-data pipeline):
# canonical URL dedup key, Gopher repetition ratios, Gopher quality
# flags, exact 13-gram duplicate-span detection
# ---------------------------------------------------------------------------

def _url_case(cast: str) -> str:
    hosts = ["Example.COM", "crawl.example", "WWW.Site.org"]
    h = "CASE " + " ".join(
        f"WHEN o_orderkey % 3 = {i} THEN '{v}'" for i, v in enumerate(hosts)) + " END"
    return (
        f"'https://' || {h} || '/p' || CAST(o_orderkey % 50 AS {cast})"
        f" || CASE o_orderkey % 5"
        f"    WHEN 0 THEN '/?b=2&utm_source=x&a=1'"
        f"    WHEN 1 THEN '?utm_campaign=z'"
        f"    WHEN 2 THEN '/#frag'"
        f"    WHEN 3 THEN '/sub/?z=9&fbclid=abc&y=8#x'"
        f"    ELSE '' END"
    )


_W33_ORACLE = f"""
WITH raw AS (SELECT o_orderkey, {_url_case('VARCHAR')} AS url FROM orders),
parts AS (
  SELECT o_orderkey, url,
         lower(split_part(url, '://', 1)) AS scheme,
         split_part(split_part(url, '://', 2), '#', 1) AS no_frag
  FROM raw
),
hp AS (
  SELECT o_orderkey, url, scheme,
         lower(split_part(split_part(no_frag, '/', 1), '?', 1)) AS host,
         CASE WHEN instr(no_frag, '/') > 0
              THEN substring(no_frag, instr(no_frag, '/')) ELSE '' END AS pathq
  FROM parts
),
pq AS (
  SELECT o_orderkey, scheme, host,
         split_part(pathq, '?', 1) AS path,
         CASE WHEN contains(pathq, '?') THEN split_part(pathq, '?', 2)
              ELSE '' END AS query
  FROM hp
),
canon AS (
  SELECT o_orderkey, scheme, host, path,
         array_to_string(list_sort(list_filter(string_split(query, '&'),
             p -> p != '' AND NOT regexp_matches(p,
                  '^(utm_[a-z]+|fbclid|gclid|ref)='))), '&') AS kept
  FROM pq
)
SELECT o_orderkey,
       scheme || '://' || host ||
       regexp_replace(CASE WHEN kept != '' THEN path || '?' || kept
                           ELSE path END, '/$', '') AS canon_url
FROM canon ORDER BY o_orderkey
"""


@register("canonical_url", _W33_ORACLE)
def w_canon_url(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import canonical_url

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    raw = spark.sql(f"SELECT o_orderkey, {_url_case('STRING')} AS url FROM orders")
    return raw.select(
        "o_orderkey", canonical_url("url").alias("canon_url")).orderBy("o_orderkey")


_TOKS_SQL = "string_split_regex(trim(lower(text)), '\\s+')"

_W34_ORACLE = f"""
WITH lines AS (
  SELECT doc_id, u.line FROM documents,
       UNNEST(list_filter(string_split(text, chr(10)), x -> trim(x) != '')) AS u(line)
),
ls AS (
  SELECT doc_id, count(*) AS n_lines,
         round(1.0 - count(DISTINCT line) * 1.0 / count(*), 6) AS dup_line_frac
  FROM lines GROUP BY 1
),
toked AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
grams AS (
  SELECT doc_id, u.bigram FROM (
    SELECT doc_id, CASE WHEN len(t) >= 2 THEN
        list_transform(generate_series(0, len(t) - 2),
                       i -> array_to_string(list_slice(t, i + 1, i + 2), ' '))
        ELSE [] END AS gs
    FROM toked), UNNEST(gs) AS u(bigram)
),
pg AS (SELECT doc_id, bigram, count(*) AS n FROM grams GROUP BY 1, 2),
gs AS (
  SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_bigrams,
         round(max(n) * 1.0 / sum(n), 6) AS top_bigram_frac
  FROM pg GROUP BY 1
)
SELECT l.doc_id, l.n_lines, l.dup_line_frac, g.n_bigrams, g.top_bigram_frac
FROM ls l LEFT JOIN gs g ON l.doc_id = g.doc_id
ORDER BY l.doc_id
"""


@register("repetition_stats", _W34_ORACLE)
def w_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import repetition_stats

    return repetition_stats(_read(spark, sf_dir, "documents")).orderBy("doc_id")


_W35_ORACLE = f"""
WITH toked AS (SELECT doc_id, text, {_TOKS_SQL} AS t FROM documents),
m AS (
  SELECT doc_id,
         len(t) * 1.0 AS n_words,
         list_sum(list_transform(t, w -> length(w))) * 1.0 / len(t) AS mean_len,
         len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) * 1.0 / len(t)
             AS alpha_frac,
         (length(text) - length(replace(text, '#', ''))) * 1.0 / len(t) AS sym_ratio
  FROM toked
)
SELECT doc_id,
       n_words >= 50 AND n_words <= 100000 AS ok_word_count,
       mean_len >= 3.0 AND mean_len <= 10.0 AS ok_mean_word_len,
       alpha_frac > 0.8 AS ok_alpha_frac,
       sym_ratio < 0.1 AS ok_symbol_ratio,
       (n_words >= 50 AND n_words <= 100000)
           AND (mean_len >= 3.0 AND mean_len <= 10.0)
           AND alpha_frac > 0.8 AND sym_ratio < 0.1 AS keep
FROM m ORDER BY doc_id
"""


@register("gopher_quality_flags", _W35_ORACLE)
def w_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import gopher_quality

    return gopher_quality(_read(spark, sf_dir, "documents")).orderBy("doc_id")


_W36_ORACLE = f"""
WITH toked AS (SELECT doc_id, {_TOKS_SQL} AS t FROM documents),
grams AS (
  SELECT doc_id, u.g FROM (
    SELECT doc_id, CASE WHEN len(t) >= 13 THEN
        list_transform(generate_series(0, len(t) - 13),
            i -> md5(array_to_string(list_slice(t, i + 1, i + 13), ' ')))
        ELSE [] END AS gs
    FROM toked), UNNEST(gs) AS u(g)
),
pdg AS (SELECT doc_id, g, count(*) AS n_in_doc FROM grams GROUP BY 1, 2),
dpg AS (SELECT g, count(*) AS n_docs FROM pdg GROUP BY 1)
SELECT p.doc_id, CAST(sum(p.n_in_doc) AS BIGINT) AS n_grams,
       CAST(sum(CASE WHEN d.n_docs > 1 THEN p.n_in_doc ELSE 0 END) AS BIGINT)
           AS n_dup_grams,
       round(sum(CASE WHEN d.n_docs > 1 THEN p.n_in_doc ELSE 0 END) * 1.0
             / sum(p.n_in_doc), 6) AS dup_frac
FROM pdg p JOIN dpg d ON p.g = d.g
GROUP BY 1 ORDER BY 1
"""


@register("dup_span_stats", _W36_ORACLE)
def w_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import dup_span_stats

    return dup_span_stats(_read(spark, sf_dir, "documents")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# w37 — code_cadastre refresh merge (J18: staged INTERSECT/EXCEPT
# delete + LEFT-JOIN-IS-NULL insert == keep retained rows' attributes,
# add new keys, drop vanished keys; bano/sql/load_code_cadastre.sql:7-22
# -> MERGE INTO on Iceberg, emulated relationally)
# ---------------------------------------------------------------------------

_W37_ORACLE = """
WITH target AS (
  SELECT 'C' || CAST(c_custkey % 800 AS VARCHAR) AS insee_com,
         'OLD-' || CAST(c_custkey % 97 AS VARCHAR) AS cadastre_com,
         CASE WHEN c_custkey % 4 = 0 THEN 'IMAG' ELSE 'VECT' END AS format_cadastre
  FROM customer WHERE c_custkey % 3 != 0
),
source AS (
  SELECT 'C' || CAST(s_suppkey % 900 AS VARCHAR) AS insee_com,
         'NEW-' || CAST(s_suppkey % 89 AS VARCHAR) AS cadastre_com,
         'VECT' AS format_cadastre
  FROM supplier
),
t1 AS (SELECT DISTINCT insee_com, cadastre_com, format_cadastre FROM target),
s1 AS (SELECT insee_com, min(cadastre_com) AS cadastre_com,
              min(format_cadastre) AS format_cadastre
       FROM source GROUP BY 1)
SELECT s.insee_com,
       coalesce(t.cadastre_com, s.cadastre_com) AS cadastre_com,
       coalesce(t.format_cadastre, s.format_cadastre) AS format_cadastre
FROM s1 s
LEFT JOIN (SELECT insee_com, min(cadastre_com) AS cadastre_com,
                  min(format_cadastre) AS format_cadastre
           FROM t1 GROUP BY 1) t
  ON s.insee_com = t.insee_com
ORDER BY 1
"""


@register("code_cadastre_merge", _W37_ORACLE)
def w_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = _read(spark, sf_dir, "customer")
    supp = _read(spark, sf_dir, "supplier")
    target = cust.filter(F.col("c_custkey") % 3 != 0).select(
        F.concat(F.lit("C"), (F.col("c_custkey") % 800).cast("string")).alias("insee_com"),
        F.concat(F.lit("OLD-"), (F.col("c_custkey") % 97).cast("string")).alias("cadastre_com"),
        F.expr("CASE WHEN c_custkey % 4 = 0 THEN 'IMAG' ELSE 'VECT' END")
        .alias("format_cadastre")).distinct()
    source = supp.select(
        F.concat(F.lit("C"), (F.col("s_suppkey") % 900).cast("string")).alias("insee_com"),
        F.concat(F.lit("NEW-"), (F.col("s_suppkey") % 89).cast("string")).alias("cadastre_com"),
        F.lit("VECT").alias("format_cadastre"))
    # MERGE semantics: matched -> keep target attrs; not-matched-by-source
    # -> drop; not-matched-by-target -> insert source attrs
    t1 = target.groupBy("insee_com").agg(
        F.min("cadastre_com").alias("t_cad"), F.min("format_cadastre").alias("t_fmt"))
    s1 = source.groupBy("insee_com").agg(
        F.min("cadastre_com").alias("s_cad"), F.min("format_cadastre").alias("s_fmt"))
    return (
        s1.join(t1, "insee_com", "left")
        .select("insee_com",
                F.coalesce("t_cad", "s_cad").alias("cadastre_com"),
                F.coalesce("t_fmt", "s_fmt").alias("format_cadastre"))
        .orderBy("insee_com")
    )


# ---------------------------------------------------------------------------
# w38 — housenumbers JSON object from the A3 agg string
# (bano/export.py:165-166: 'num$lat$lon#...' -> {"num":{"lat":..},..})
# ---------------------------------------------------------------------------

_W38_ORACLE = f"""
WITH agg AS (
  SELECT {_insee_case('o_custkey')} AS insee_com,
         string_agg(lpad(CAST((o_orderkey * 7) % 997 AS VARCHAR), 4, '0')
             || '$' || CAST(45 + o_orderkey % 4 AS VARCHAR) || '.5'
             || '$' || CAST(2 + o_orderkey % 3 AS VARCHAR) || '.25',
             '#' ORDER BY lpad(CAST((o_orderkey * 7) % 997 AS VARCHAR), 4, '0')
                       || '$' || CAST(45 + o_orderkey % 4 AS VARCHAR) || '.5'
                       || '$' || CAST(2 + o_orderkey % 3 AS VARCHAR) || '.25')
             AS housenumbers
  FROM (SELECT DISTINCT o_custkey, o_orderkey FROM orders) GROUP BY 1
)
SELECT insee_com,
       '{{' || array_to_string(list_transform(string_split(housenumbers, '#'),
           s -> '"' || split_part(s, '$', 1) || '":{{"lat":'
                || split_part(s, '$', 2) || ',"lon":' || split_part(s, '$', 3)
                || '}}'), ',') || '}}' AS hn_json
FROM agg ORDER BY insee_com
"""


@register("ndjson_housenumbers", _W38_ORACLE)
def w_hn_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.export import json_housenumbers

    orders = _read(spark, sf_dir, "orders")
    val = F.concat(
        F.lpad(((F.col("o_orderkey") * 7) % 997).cast("string"), 4, "0"),
        F.lit("$"), (45 + F.col("o_orderkey") % 4).cast("string"), F.lit(".5"),
        F.lit("$"), (2 + F.col("o_orderkey") % 3).cast("string"), F.lit(".25"))
    agg = (
        orders.select(F.expr(_insee_case("o_custkey")).alias("insee_com"),
                      val.alias("val"))
        .groupBy("insee_com")
        .agg(F.concat_ws("#", F.sort_array(F.collect_list("val")))
             .alias("housenumbers"))
    )
    return agg.select(
        "insee_com", json_housenumbers("housenumbers").alias("hn_json")
    ).orderBy("insee_com")


# ---------------------------------------------------------------------------
# w39 — ST_LineMerge per street (A6) through the applyInPandas group
# kernel; the fixture chains segments along x with deterministic gaps,
# so the oracle counts maximal runs with a windowed gaps-and-islands
# ---------------------------------------------------------------------------

_W39_ORACLE = """
WITH segs AS (
  SELECT DISTINCT l_orderkey % 250 AS street_id, l_suppkey % 40 AS j
  FROM lineitem WHERE l_suppkey % 5 != 4
),
runs AS (
  SELECT street_id, j,
         j - ROW_NUMBER() OVER (PARTITION BY street_id ORDER BY j) AS grp
  FROM segs
),
r AS (
  SELECT street_id, grp, count(*) AS run_len
  FROM runs GROUP BY 1, 2
)
SELECT street_id, CAST(count(*) AS INTEGER) AS n_lines,
       CAST(max(run_len) + 1 AS INTEGER) AS n_points_longest
FROM r GROUP BY 1 ORDER BY 1
"""


@register("street_line_merge", _W39_ORACLE)
def w_line_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.streets import merge_street_lines

    li = _read(spark, sf_dir, "lineitem")
    segs = li.filter(F.col("l_suppkey") % 5 != 4).select(
        (F.col("l_orderkey") % 250).alias("street_id"),
        (F.col("l_suppkey") % 40).alias("j")).distinct()
    seg_geo = segs.select(
        "street_id",
        F.col("j").cast("double").alias("x1"), F.lit(0.0).alias("y1"),
        (F.col("j") + 1).cast("double").alias("x2"), F.lit(0.0).alias("y2"))
    return merge_street_lines(seg_geo).orderBy("street_id")


# ---------------------------------------------------------------------------
# w40 — suffix-zone buffer union (A7) through the union-find kernel;
# boxes per group share one y-band so the union reduces to 1-D interval
# merging, which the oracle reproduces with a cumulative-max window
# ---------------------------------------------------------------------------

_W40_ORACLE = f"""
WITH pts AS (
  SELECT DISTINCT {_insee_case('o_custkey', 4)} AS insee_com,
         CASE o_custkey % 3 WHEN 0 THEN 'LE CRES' WHEN 1 THEN 'LA COTE'
              ELSE 'BELLEVUE' END AS hameau,
         (o_orderkey * 13) % 500 AS cx
  FROM orders
),
iv AS (
  SELECT insee_com, hameau, cx - 3.0 AS lo, cx + 3.0 AS hi FROM pts
),
marked AS (
  SELECT insee_com, hameau, lo, hi,
         CASE WHEN lo > max(hi) OVER (PARTITION BY insee_com, hameau
                  ORDER BY lo, hi ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              THEN 1 ELSE 0 END AS new_grp
  FROM iv
),
grps AS (
  SELECT insee_com, hameau, lo, hi,
         sum(new_grp) OVER (PARTITION BY insee_com, hameau
             ORDER BY lo, hi ROWS UNBOUNDED PRECEDING) AS g
  FROM marked
),
zones AS (
  SELECT insee_com, hameau, g, min(lo) AS zlo, max(hi) AS zhi
  FROM grps GROUP BY 1, 2, 3
)
SELECT insee_com, hameau, CAST(count(*) AS INTEGER) AS n_zones,
       CAST(round(sum(zhi - zlo), 6) AS DOUBLE) AS total_width
FROM zones GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("suffix_zone_union", _W40_ORACLE)
def w_zone_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.suffixes import union_suffix_zones

    orders = _read(spark, sf_dir, "orders")
    pts = orders.select(
        F.expr(_insee_case("o_custkey", 4)).alias("insee_com"),
        F.expr("CASE o_custkey % 3 WHEN 0 THEN 'LE CRES' WHEN 1 THEN 'LA COTE'"
               " ELSE 'BELLEVUE' END").alias("hameau"),
        ((F.col("o_orderkey") * 13) % 500).cast("double").alias("cx")).distinct()
    boxes = pts.select(
        "insee_com", "hameau",
        (F.col("cx") - 3.0).alias("bxmin"), F.lit(0.0).alias("bymin"),
        (F.col("cx") + 3.0).alias("bxmax"), F.lit(1.0).alias("bymax"))
    out = union_suffix_zones(boxes)
    return out.select("insee_com", "hameau", "n_zones",
                      F.round("total_width", 6).alias("total_width")) \
        .orderBy("insee_com", "hameau")


# ---------------------------------------------------------------------------
# w44 — geometric kNN points join: top-3 nearest right points per left
# point within the k-ring (squared euclidean, deterministic ties)
# ---------------------------------------------------------------------------

def _knn_cells_sql(tbl_alias: str) -> str:
    from bano_spark.geo import tiles as tl
    c = tl.cell_size(13)
    return (f"CAST(floor(({tbl_alias}.x - ({tl.ORIGIN!r})) / {c!r}) AS BIGINT)",
            f"CAST(floor(({-tl.ORIGIN!r} - {tbl_alias}.y) / {c!r}) AS BIGINT)")


def _w44_oracle() -> str:
    lx, ly = _knn_cells_sql("l")
    rx, ry = _knn_cells_sql("r")
    return f"""
WITH lp AS ({synth.points_select_sql('duckdb', 'events', 'event_id', 0)}),
rp AS ({synth.points_select_sql('duckdb', 'supplier', 's_suppkey', 7)}),
l AS (SELECT event_id, x, y FROM lp),
r AS (SELECT s_suppkey, x, y FROM rp),
lc AS (SELECT event_id, x, y, {lx} AS cx, {ly} AS cy FROM l),
rc AS (
  -- k-ring exploded to 9 equi-join keys: a pair matches exactly one
  -- ring cell, and the hash join replaces the quadratic abs() probe
  SELECT s_suppkey, x, y, {rx} + o.dx AS cx, {ry} + o.dy AS cy
  FROM r CROSS JOIN (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
                            (1,-1),(1,0),(1,1)) o(dx, dy)
),
cand AS (
  SELECT lc.event_id, rc.s_suppkey,
         (lc.x - rc.x) * (lc.x - rc.x) + (lc.y - rc.y) * (lc.y - rc.y) AS d2
  FROM lc JOIN rc ON lc.cx = rc.cx AND lc.cy = rc.cy
)
SELECT event_id, s_suppkey, round(d2, 6) AS d2, rnk FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY event_id
                               ORDER BY d2, s_suppkey) AS rnk
  FROM cand
) WHERE rnk <= 3
ORDER BY event_id, rnk
"""


@register("knn_nearest_points", _w44_oracle())
def w_knn_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.geo import tiles as tl

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    _read(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    left = spark.sql(synth.points_select_sql("spark", "events", "event_id", 0))
    right = spark.sql(synth.points_select_sql("spark", "supplier", "s_suppkey", 7))
    lt = left.withColumn("_tx", tl.tile_x(F.col("x"), 13)).withColumn(
        "_ty", tl.tile_y(F.col("y"), 13))
    rt = right.select(
        "s_suppkey", F.col("x").alias("rx"), F.col("y").alias("ry"),
        tl.tile_x(F.col("x"), 13).alias("_rtx"), tl.tile_y(F.col("y"), 13).alias("_rty"))
    rt = tl.with_k_ring(rt, "_rtx", "_rty", 1, "_tx", "_ty").drop("_rtx", "_rty")
    cand = lt.join(F.broadcast(rt), ["_tx", "_ty"])
    d2 = (F.col("x") - F.col("rx")) ** 2 + (F.col("y") - F.col("ry")) ** 2
    # no distinct: a (left, right) pair matches exactly one ring cell
    # (left has one cell; ring offsets are distinct), and dropping the
    # redundant dedup saves a full shuffle of the candidate pairs
    scored = cand.select("event_id", "s_suppkey", d2.alias("d2"))
    w = Window.partitionBy("event_id").orderBy("d2", "s_suppkey")
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("event_id", "s_suppkey", F.round("d2", 6).alias("d2"), "rnk")
        .orderBy("event_id", "rnk")
    )


# ---------------------------------------------------------------------------
# w46 — PII redaction (emails + phone-like runs), pure regexp both sides
# ---------------------------------------------------------------------------

def _pii_text(cast: str) -> str:
    return (
        "'Contact ' || CAST(o_orderkey % 37 AS {c}) || ' at user'"
        " || CAST(o_orderkey % 97 AS {c}) || '@mail' || CAST(o_orderkey % 7 AS {c})"
        " || '.example or call +33 1 42 ' || lpad(CAST(o_orderkey % 100 AS {c}), 2, '0')"
        " || ' 55 ' || lpad(CAST(o_custkey % 100 AS {c}), 2, '0')"
        " || CASE WHEN o_orderkey % 3 = 0 THEN ' plain tail' ELSE '' END"
    ).format(c=cast)


_W46_ORACLE = f"""
WITH raw AS (SELECT o_orderkey, {_pii_text('VARCHAR')} AS text FROM orders)
SELECT o_orderkey,
       regexp_replace(
         regexp_replace(text, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{{2,}}',
                        '<EMAIL>', 'g'),
         '\\+?[0-9][0-9 .-]{{7,}}[0-9]', '<PHONE>', 'g') AS redacted
FROM raw ORDER BY o_orderkey
"""


@register("pii_redaction", _W46_ORACLE)
def w_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import redact_pii

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    raw = spark.sql(f"SELECT o_orderkey, {_pii_text('STRING')} AS text FROM orders")
    return raw.select(
        "o_orderkey", redact_pii(F.col("text")).alias("redacted")
    ).orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# w47 — boilerplate-line detection (lines in >= 3 distinct docs)
# ---------------------------------------------------------------------------

_W47_ORACLE = """
WITH pages AS (
  SELECT doc_id,
         text || chr(10) || 'Copyright footer ' || CAST(doc_id % 5 AS VARCHAR)
              || chr(10) || 'Nav | Home | About' AS text
  FROM documents
),
lines AS (
  SELECT DISTINCT doc_id, trim(u.line) AS line
  FROM pages,
       UNNEST(list_filter(string_split(text, chr(10)), x -> trim(x) != ''))
       AS u(line)
),
counts AS (
  SELECT line, count(DISTINCT doc_id) AS n_docs FROM lines GROUP BY 1
)
SELECT line, n_docs FROM counts WHERE n_docs >= 3
ORDER BY line
"""


@register("boilerplate_lines", _W47_ORACLE)
def w_boiler(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import boilerplate_lines

    docs = _read(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.col("text"), F.lit(chr(10) + "Copyright footer "),
                 (F.col("doc_id") % 5).cast("string"),
                 F.lit(chr(10) + "Nav | Home | About")).alias("text"))
    return boilerplate_lines(docs).orderBy("line")


# ---------------------------------------------------------------------------
# w48 — OSM tag-presence filters (F1: hstore `?` / != '' predicates;
# hsnr_insee_nocache.sql:23-24, highway_insee.sql:15)
# ---------------------------------------------------------------------------

_W48_ORACLE = """
WITH pts AS (
  SELECT o_orderkey AS osm_id,
         CASE WHEN o_orderkey % 3 = 0 THEN CAST(o_orderkey % 200 AS VARCHAR)
              WHEN o_orderkey % 3 = 1 THEN '' ELSE NULL END AS housenumber,
         CASE WHEN o_orderkey % 4 = 0 THEN 'residential'
              WHEN o_orderkey % 4 = 1 THEN '' ELSE NULL END AS highway,
         o_orderkey % 5 = 0 AS has_insee_tag
  FROM orders
)
SELECT osm_id, housenumber, highway
FROM pts
WHERE housenumber IS NOT NULL AND housenumber != ''
  AND highway IS NOT NULL AND highway != ''
  AND has_insee_tag
ORDER BY osm_id
"""


@register("osm_tag_filters", _W48_ORACLE)
def w_tag_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = _read(spark, sf_dir, "orders")
    # tags as an hstore-like map; presence = map_contains_key
    entries = F.filter(
        F.array(
            F.when(F.col("o_orderkey") % 3 == 0,
                   F.struct(F.lit("addr:housenumber").alias("k"),
                            (F.col("o_orderkey") % 200).cast("string").alias("v"))),
            F.when(F.col("o_orderkey") % 3 == 1,
                   F.struct(F.lit("addr:housenumber").alias("k"), F.lit("").alias("v"))),
            F.when(F.col("o_orderkey") % 4 == 0,
                   F.struct(F.lit("highway").alias("k"), F.lit("residential").alias("v"))),
            F.when(F.col("o_orderkey") % 4 == 1,
                   F.struct(F.lit("highway").alias("k"), F.lit("").alias("v"))),
            F.when(F.col("o_orderkey") % 5 == 0,
                   F.struct(F.lit("ref:INSEE").alias("k"), F.lit("01001").alias("v"))),
        ), lambda x: x.isNotNull())
    pts = orders.select(F.col("o_orderkey").alias("osm_id"),
                        F.map_from_entries(entries).alias("tags"))
    hn = F.col("tags").getItem("addr:housenumber")
    hw = F.col("tags").getItem("highway")
    return (
        pts.filter(hn.isNotNull() & (hn != "") & hw.isNotNull() & (hw != "")
                   & F.map_contains_key(F.col("tags"), "ref:INSEE"))
        .select("osm_id", hn.alias("housenumber"), hw.alias("highway"))
        .orderBy("osm_id")
    )


# ---------------------------------------------------------------------------
# w49 — associatedStreet relation join (J3: members equi-join on osm_id
# stacked on the J1 PIP; hsnr_insee_nocache.sql:41-71)
# ---------------------------------------------------------------------------

_W49_ORACLE = f"""
WITH {{pts_cte}}
, rels AS (
  SELECT s_suppkey % 4000 AS member_osm_id,
         'REL' || CAST(s_suppkey % 300 AS VARCHAR) AS rel_id,
         'Rue Relation ' || CAST(s_suppkey % 300 AS VARCHAR) AS rel_name
  FROM supplier WHERE s_suppkey % 3 = 0
),
located AS (
  SELECT p.event_id, c.insee_com, p.x, p.y
  FROM pts p
  JOIN {synth.communes_values_sql()}
    ON p.x >= c.xmin AND p.x < c.xmax AND p.y >= c.ymin AND p.y < c.ymax
  WHERE c.admin_level = 8
)
SELECT l.event_id, l.insee_com, r.rel_id, r.rel_name
FROM located l
JOIN rels r ON l.event_id % 4000 = r.member_osm_id
ORDER BY 1, 3
"""


_W49_PTS = "pts AS (" + synth.points_select_sql("duckdb") + ")"


@register("associated_street_join", _W49_ORACLE.format(pts_cte=_W49_PTS))
def w_assoc_street(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.pip_join import spatial_join

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    _read(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    pts = spark.sql(synth.points_select_sql("spark"))
    polys = synth.commune_polygons_df(spark).filter(F.col("admin_level") == 8)
    located = spatial_join(pts, polys, id_col="insee_com", zoom=15, split_refine=True)
    rels = spark.sql(
        "SELECT s_suppkey % 4000 AS member_osm_id,"
        " 'REL' || CAST(s_suppkey % 300 AS STRING) AS rel_id,"
        " 'Rue Relation ' || CAST(s_suppkey % 300 AS STRING) AS rel_name"
        " FROM supplier WHERE s_suppkey % 3 = 0")
    return (
        located.join(F.broadcast(rels),
                     located.event_id % 4000 == rels.member_osm_id)
        .select("event_id", "insee_com", "rel_id", "rel_name")
        .orderBy("event_id", "rel_id")
    )


# ---------------------------------------------------------------------------
# w50 — composed voies-rapprochées JSON export (A3 + A4 + M2 + S14):
# per-street ordered housenumber agg, convex-hull geodesic length,
# the importance formula, and the reference's NDJSON byte layout —
# export_json_dept_voies_rapprochees.sql end-to-end.
# Housenumber lat/lon travel as strings built from integer parts so
# both engines agg identical bytes; doubles are derived by CAST for
# the hull math only (collinear per street -> hull = min/max span).
# ---------------------------------------------------------------------------

_W50_HAV = """
2 * 6371008.8 * asin(sqrt(
    pow(sin(radians(0.0) / 2), 2)
  + cos(radians(CAST(lat_s AS DOUBLE))) * cos(radians(CAST(lat_s AS DOUBLE)))
  * pow(sin(radians(CAST(maxlon AS DOUBLE) - CAST(minlon AS DOUBLE)) / 2), 2)))
"""


def _w50_rows(cast: str) -> str:
    insee = _insee_case("o_custkey")
    return f"""
rows_j AS (
  SELECT DISTINCT
         {insee} AS insee,
         o_orderkey % 400 AS street_id,
         {insee} || lpad(CAST(o_orderkey % 400 AS {cast}), 4, '0') AS fantoir,
         lpad(CAST((o_orderkey * 7) % 997 AS {cast}), 4, '0') AS num,
         '45.' || CAST(o_orderkey % 400 % 7 AS {cast}) AS lat_s,
         '2.' || lpad(CAST((o_orderkey * 13) % 9000 AS {cast}), 4, '0') AS lon_s
  FROM orders
)"""


_W50_ORACLE = f"""
WITH {_w50_rows('VARCHAR')},
agg AS (
  SELECT insee, street_id, fantoir, lat_s,
         count(*) AS nb,
         min(lon_s) AS minlon, max(lon_s) AS maxlon,
         string_agg(num || '$' || lat_s || '$' || lon_s, '#'
                    ORDER BY num || '$' || lat_s || '$' || lon_s) AS hns
  FROM rows_j GROUP BY 1, 2, 3, 4
),
m AS (
  SELECT *, round(CASE WHEN maxlon = minlon THEN 0.0 ELSE {_W50_HAV} END, 4)
            AS hull_m
  FROM agg
),
scored AS (
  SELECT *, round(log10((1 + street_id % 5)
                + log10(((street_id * 37) % 100000) + 1) / 3)
           * log10(1 + log10(nb + 1) + log10(hull_m + 1)
                   + log10(CASE street_id % 4 WHEN 0 THEN 4.0 WHEN 1 THEN 3.0
                           WHEN 2 THEN 2.0 ELSE 1.0 END)), 4) AS importance
  FROM m
)
SELECT '{{"id":"' || fantoir || '","citycode":"' || insee
    || '","type":"street","name":"Rue ' || CAST(street_id AS VARCHAR)
    || '","postcode":"0' || CAST(1000 + street_id AS VARCHAR)
    || '","lat":"' || lat_s || '","lon":"' || minlon
    || '","city":"Ville ' || substring(insee, 1, 2)
    || '","departement":"Dept ' || substring(insee, 1, 2)
    || '","region":"Region X","importance":' || CAST(importance AS VARCHAR)
    || ',"housenumbers":{{'
    || array_to_string(list_transform(string_split(hns, '#'),
         s -> '"' || split_part(s, '$', 1) || '":{{"lat":'
              || split_part(s, '$', 2) || ',"lon":' || split_part(s, '$', 3)
              || '}}'), ',')
    || '}}}}' AS line
FROM scored ORDER BY line
"""


@register("json_voies_export", _W50_ORACLE)
def w_json_voies(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.export import json_voie_line

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    rows_j = spark.sql("WITH " + _w50_rows("STRING") + " SELECT * FROM rows_j")
    val = F.concat_ws("$", "num", "lat_s", "lon_s")
    agg = (
        rows_j.groupBy("insee", "street_id", "fantoir", "lat_s")
        .agg(F.count(F.lit(1)).alias("nb"),
             F.min("lon_s").alias("minlon"), F.max("lon_s").alias("maxlon"),
             F.concat_ws("#", F.sort_array(F.collect_list(val))).alias("housenumbers"))
    )
    lat_d = F.col("lat_s").cast("double")
    dlon = (F.col("maxlon").cast("double") - F.col("minlon").cast("double"))
    hav = 2 * 6371008.8 * F.asin(F.sqrt(
        F.pow(F.sin(F.radians(F.lit(0.0)) / 2), 2)
        + F.cos(F.radians(lat_d)) * F.cos(F.radians(lat_d))
        * F.pow(F.sin(F.radians(dlon) / 2), 2)))
    m = agg.withColumn(
        "hull_m", F.round(F.when(F.col("maxlon") == F.col("minlon"), 0.0)
                          .otherwise(hav), 4))
    w_t = (F.when(F.col("street_id") % 4 == 0, 4.0)
           .when(F.col("street_id") % 4 == 1, 3.0)
           .when(F.col("street_id") % 4 == 2, 2.0).otherwise(1.0))
    imp = F.round(
        F.log10((1 + F.col("street_id") % 5)
                + F.log10(((F.col("street_id") * 37) % 100000) + 1) / 3)
        * F.log10(1 + F.log10(F.col("nb") + 1) + F.log10(F.col("hull_m") + 1)
                  + F.log10(w_t)), 4)
    rec = m.select(
        "fantoir",
        F.col("insee").alias("citycode"),
        F.lit("street").alias("type"),
        F.concat(F.lit("Rue "), F.col("street_id").cast("string")).alias("name"),
        F.concat(F.lit("0"), (1000 + F.col("street_id")).cast("string")).alias("postcode"),
        F.col("lat_s").alias("lat"),
        F.col("minlon").alias("lon"),
        F.concat(F.lit("Ville "), F.substring("insee", 1, 2)).alias("cityname"),
        F.concat(F.lit("Dept "), F.substring("insee", 1, 2)).alias("departement"),
        F.lit("Region X").alias("region"),
        imp.cast("string").alias("importance"),
        "housenumbers",
    )
    return json_voie_line(rec, with_housenumbers=True).orderBy("line")


# ---------------------------------------------------------------------------
# w51 — composed lieux-dits JSON export (VERDICT r1 item 6): the
# reference's export_json_dept_lieux_dits.sql end-to-end — W4 source
# priority with CADASTRE in the sort_order set, J7 postal containment
# with smallest-area rank over (fantoir, coalesced postal), COG
# display names, M3 ld_bati-weighted importance with the least(0.05)
# clamp, C7 quote hygiene on the label, and the place NDJSON byte
# layout (= the voie layout without housenumbers, bano/export.py:177-184).
# ---------------------------------------------------------------------------

def _w51_places(cast: str, dialect: str) -> str:
    insee = _insee_case("pk.k")
    return f"""
pk AS (SELECT DISTINCT o_orderkey % 200 AS k, o_orderkey % 3 AS s FROM orders),
pku AS (SELECT DISTINCT k FROM pk),
ppts AS ({synth.points_select_sql(dialect, 'pku', 'k', 3)}),
places AS (
  SELECT pk.k, pk.s,
         {insee} AS insee_com,
         {insee} || lpad(CAST(pk.k AS {cast}), 4, '0') AS fantoir,
         CASE pk.s WHEN 0 THEN 'OSM' WHEN 1 THEN 'BAL' ELSE 'CADASTRE' END
             AS source,
         CASE WHEN pk.s = 2 OR pk.k % 5 = 0 THEN NULL
              ELSE 'Le "Haut’ ' || CAST(pk.k AS {cast}) END AS libelle_osm,
         'Cad ' || CAST(pk.k AS {cast}) AS libelle_cadastre,
         CASE WHEN pk.k % 4 = 0 THEN NULL
              ELSE '0' || CAST(1000 + pk.k AS {cast}) END AS code_postal,
         CASE WHEN pk.k % 7 = 0 THEN NULL ELSE pk.k % 2 END AS ld_bati,
         p.x, p.y
  FROM pk JOIN ppts p ON pk.k = p.k
)"""


_W51_ORACLE = f"""
WITH {_w51_places('VARCHAR', 'duckdb')},
ranked AS (
  SELECT *, RANK() OVER (PARTITION BY fantoir ORDER BY
             CASE source WHEN 'OSM' THEN 1 WHEN 'BAL' THEN 2 ELSE 3 END) AS rang
  FROM places
),
op AS (
  SELECT r.*, coalesce(r.code_postal, pb.code_postal) AS cp,
         RANK() OVER (PARTITION BY r.fantoir,
                          coalesce(r.code_postal, pb.code_postal)
                      ORDER BY (pb.xmax - pb.xmin) * (pb.ymax - pb.ymin))
             AS rang_postal
  FROM ranked r
  JOIN (SELECT * FROM {synth.postal_values_sql()}) pb
    ON r.x > pb.xmin AND r.x < pb.xmax AND r.y > pb.ymin AND r.y < pb.ymax
  WHERE r.rang = 1
),
scored AS (
  SELECT *,
         least(0.05, round(log10((1 + k % 5)
                  + log10(((k * 37) % 100000) + 1) / 3)
              * (0.25 + 0.5 * (1 - coalesce(ld_bati, 1))), 4)) AS importance
  FROM op WHERE rang_postal = 1
)
SELECT '{{"id":"' || fantoir || '","citycode":"' || insee_com
    || '","type":"place","name":"'
    || replace(replace(coalesce(libelle_osm, libelle_cadastre), '"', ''),
               '’', chr(39))
    || '","postcode":"' || cp
    || '","lat":"45.' || CAST(k % 9000 AS VARCHAR)
    || '","lon":"2.' || lpad(CAST((k * 13) % 9000 AS VARCHAR), 4, '0')
    || '","city":"Ville ' || substring(insee_com, 1, 2)
    || '","departement":"Dept ' || substring(insee_com, 1, 2)
    || '","region":"Region X","importance":' || CAST(importance AS VARCHAR)
    || '}}' AS line
FROM scored ORDER BY line
"""


@register("json_lieux_dits_export", _W51_ORACLE)
def w_json_lieux_dits(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.export import json_voie_line
    from bano_spark.operators.pip_join import spatial_join

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    places = spark.sql(
        "WITH " + _w51_places("STRING", "spark") + " SELECT * FROM places")

    # W4 source priority via a literal sort_order set (OSM<BAL<CADASTRE)
    sort_order = spark.createDataFrame(
        [("OSM", 1), ("BAL", 2), ("CADASTRE", 3)], "source string, sortnum int")
    ranked = (
        places.join(F.broadcast(sort_order), "source")
        .withColumn("rang", F.rank().over(
            Window.partitionBy("fantoir").orderBy("sortnum")))
        .filter(F.col("rang") == 1)
    )

    # J7: smallest containing postal polygon per (fantoir, coalesced cp)
    postal = synth.postal_polygons_df(spark).withColumnRenamed(
        "code_postal", "pp_code_postal")
    contained = spatial_join(ranked, postal, x="x", y="y",
                             id_col="pp_code_postal", verts_col="verts", zoom=15)
    op = (
        contained.withColumn("cp", F.coalesce("code_postal", "pp_code_postal"))
        .withColumn("rang_postal", F.rank().over(
            Window.partitionBy("fantoir", "cp").orderBy("area")))
        .filter(F.col("rang_postal") == 1)
    )

    imp = F.least(
        F.lit(0.05),
        F.round(F.log10((1 + F.col("k") % 5)
                        + F.log10(((F.col("k") * 37) % 100000) + 1) / 3)
                * (0.25 + 0.5 * (1 - F.coalesce("ld_bati", F.lit(1)))), 4))
    name = F.replace(
        F.replace(F.coalesce("libelle_osm", "libelle_cadastre"),
                  F.lit('"'), F.lit("")),
        F.lit("’"), F.lit("'"))
    rec = op.select(
        "fantoir",
        F.col("insee_com").alias("citycode"),
        F.lit("place").alias("type"),
        name.alias("name"),
        F.col("cp").alias("postcode"),
        F.concat(F.lit("45."), (F.col("k") % 9000).cast("string")).alias("lat"),
        F.concat(F.lit("2."),
                 F.lpad(((F.col("k") * 13) % 9000).cast("string"), 4, "0"))
            .alias("lon"),
        F.concat(F.lit("Ville "), F.substring("insee_com", 1, 2)).alias("cityname"),
        F.concat(F.lit("Dept "), F.substring("insee_com", 1, 2)).alias("departement"),
        F.lit("Region X").alias("region"),
        imp.cast("string").alias("importance"),
    )
    return json_voie_line(rec, with_housenumbers=False).orderBy("line")


# ---------------------------------------------------------------------------
# w52 — publish stage round-trip (S17, bano/publish.py:41-86): the e2e
# CSV export lines are written as one gzip file per département
# (distributed write, one rename per file on the driver), concatenated
# into full.csv.gz in sorted dept order, and read BACK from the
# published artifact into a driver-local frame before the temp
# directory is removed — the driver checks the decompressed bytes
# against the oracle's logical line set.
# ---------------------------------------------------------------------------

_W52_ORACLE = _W30_ORACLE  # same logical lines; the engine path adds the
                           # file round-trip through bano-{dept}.csv.gz + full.csv.gz


@register("publish_full_roundtrip", _W52_ORACLE)
def w_publish(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil
    import tempfile

    from bano_spark.operators.publish import publish_full, write_dept_files
    from bano_spark.pipelines import export_csv
    from bano_spark.sources.pages import synth_pages_sql

    ids = _read(spark, sf_dir, "events").select(F.col("event_id").alias("id"))
    pages = synth_pages_sql(spark, 0, ids=ids)
    lines = export_csv(pages).select(
        F.substring("line", 1, 2).alias("dept"), "line")
    out_dir = tempfile.mkdtemp(prefix="bano_publish_")
    try:
        depts = write_dept_files(lines, out_dir, "csv")
        full = publish_full(out_dir, "csv", depts)
        back = spark.read.text(full).withColumnRenamed("value", "line")
        return spark.createDataFrame(back.toArrow()).orderBy("line")
    finally:
        shutil.rmtree(out_dir, ignore_errors=True)


# ---------------------------------------------------------------------------
# w53 — BAL locales CSV load (S4 dedicated loader, VERDICT r1 "partial"
# row): ;-separated lines with '' as NULL (bano/sources/bal.py:57-62,
# DDL create_table_base_osm.sql:82-93), plus the consumer's
# TRIM(numero||' '||COALESCE(suffixe,'')) housenumber (core.py:127) —
# NULL numero must propagate to NULL housenumber like PG's ||.
# ---------------------------------------------------------------------------

def _bal_line(cast: str) -> str:
    return f"""
SELECT o_orderkey,
    CAST(o_custkey % 800 AS {cast}) || '_' || CAST(o_orderkey % 9 AS {cast})
    || ';' || {_insee_case('o_custkey')}
    || ';Ville ' || CAST(o_custkey % 10 AS {cast})
    || ';' || CASE WHEN o_orderkey % 13 = 0 THEN ''
              ELSE 'V' || CAST(o_custkey % 97 AS {cast}) END
    || ';Rue ' || CAST(o_custkey % 97 AS {cast})
    || ';' || CASE WHEN o_orderkey % 11 = 0 THEN ''
              ELSE CAST(o_orderkey % 200 + 1 AS {cast}) END
    || ';' || CASE o_orderkey % 5 WHEN 0 THEN 'bis' WHEN 1 THEN 'ter' ELSE '' END
    || ';' || CASE WHEN o_orderkey % 17 = 0 THEN ''
              ELSE CAST(2.0 + (o_orderkey % 4000) * 0.001 AS {cast}) END
    || ';' || CAST(46.0 + (o_orderkey % 3000) * 0.001 AS {cast})
    || ';ODbL' AS raw
FROM orders
"""


_W53_ORACLE = f"""
WITH lines AS ({_bal_line('VARCHAR')}),
arr AS (SELECT o_orderkey, string_split(raw, ';') AS a FROM lines),
parsed AS (
  SELECT o_orderkey,
         nullif(a[1], '') AS cle_interop,
         nullif(a[2], '') AS commune_code,
         nullif(a[5], '') AS voie_nom,
         nullif(a[6], '') AS numero,
         nullif(a[7], '') AS suffixe,
         CAST(nullif(a[8], '') AS DOUBLE) AS long,
         CAST(nullif(a[9], '') AS DOUBLE) AS lat,
         nullif(a[10], '') AS license
  FROM arr
)
SELECT cle_interop, commune_code, voie_nom, numero, suffixe,
       long, lat, license,
       trim(numero || ' ' || coalesce(suffixe, '')) AS housenumber
FROM parsed ORDER BY o_orderkey
"""


@register("bal_locales_parse", _W53_ORACLE)
def w_bal_parse(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.sources.bal import bal_housenumber, parse_bal_locales

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    raw = spark.sql(_bal_line("STRING"))
    p = parse_bal_locales(raw)
    return p.select(
        "cle_interop", "commune_code", "voie_nom", "numero", "suffixe",
        "long", "lat", "license",
        bal_housenumber(F.col("numero"), F.col("suffixe")).alias("housenumber"))


# ---------------------------------------------------------------------------
# w54 — native .shp Point load + Lambert-93 reprojection (S9 complete:
# VERDICT r1 had "no .shp reader"): per-dept blobs are BUILT as real
# ESRI Point shapefiles (vectorized record assembly), parsed back by
# the binary reader (one numpy reshape per file), reprojected with the
# inverse-LCC kernel. The oracle re-derives the expected rows from the
# same id arithmetic — the binary round-trip is engine-side, like the
# publish round-trip.
# ---------------------------------------------------------------------------

def _w54_oracle() -> str:
    from bano_spark.geo import reproject as R

    cols = R.oracle_select_cols("x", "y")
    return f"""
WITH pts AS (
  SELECT substring({_insee_case('o_custkey')}, 1, 2) AS dept,
         o_orderkey,
         600000.0 + (o_orderkey * 37) % 200000 + 0.25 AS x,
         6500000.0 + (o_orderkey * 53) % 300000 + 0.5 AS y
  FROM orders
),
numbered AS (
  SELECT dept, x, y,
         ROW_NUMBER() OVER (PARTITION BY dept ORDER BY o_orderkey)
             AS record_no
  FROM pts
)
SELECT dept, record_no, lon, lat
FROM (SELECT dept, record_no, {cols} FROM numbered)
ORDER BY dept, record_no
"""


@register("shp_point_load", _w54_oracle())
def w_shp_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd

    from bano_spark.geo.reproject import lambert93_to_wgs84_udf
    from bano_spark.sources.shapefile import make_point_shp, read_point_shp

    orders = _read(spark, sf_dir, "orders")
    pts = orders.select(
        F.substring(F.expr(_insee_case("o_custkey")), 1, 2).alias("dept"),
        "o_orderkey",
        (600000.0 + (F.col("o_orderkey") * 37) % 200000 + 0.25).alias("x"),
        (6500000.0 + (F.col("o_orderkey") * 53) % 300000 + 0.5).alias("y"))

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("o_orderkey")
        blob = make_point_shp(pdf["x"].to_numpy(), pdf["y"].to_numpy())
        return pd.DataFrame({"dept": [pdf["dept"].iloc[0]], "content": [blob]})

    files = pts.groupBy("dept").applyInPandas(build, "dept string, content binary")
    recs = read_point_shp(files, key_cols=("dept",))
    out = recs.withColumn("ll", lambert93_to_wgs84_udf(F.col("x"), F.col("y")))
    return out.select(
        "dept", "record_no",
        F.round(F.col("ll.lon"), 9).alias("lon"),
        F.round(F.col("ll.lat"), 9).alias("lat"),
    ).orderBy("dept", "record_no")


# ---------------------------------------------------------------------------
# w60 — BAL cadastre CSV load (the S4 sibling of bal_locales: 17 typed
# columns incl. the pseudo_numero BOOLEAN and date_der_maj DATE casts,
# DDL create_table_base_osm.sql:61-78) + the F5 destination filter on
# the parsed output (bano/models.py:87,92).
# ---------------------------------------------------------------------------

def _bal_cad_line(cast: str) -> str:
    return f"""
SELECT o_orderkey,
    CAST(o_custkey % 800 AS {cast}) || '_' || CAST(o_orderkey % 9 AS {cast})
    || ';u' || CAST(o_orderkey % 1000 AS {cast})
    || ';' || CAST(o_orderkey % 200 + 1 AS {cast})
    || ';' || CASE o_orderkey % 5 WHEN 0 THEN 'bis' ELSE '' END
    || ';' || CASE o_orderkey % 3 WHEN 0 THEN 'true' WHEN 1 THEN 'false'
              ELSE '' END
    || ';Rue ' || CAST(o_custkey % 97 AS {cast})
    || ';V' || CAST(o_custkey % 97 AS {cast})
    || ';' || CASE o_orderkey % 6 WHEN 0 THEN 'habitation' WHEN 1 THEN 'commerce'
              WHEN 2 THEN 'industrie' WHEN 3 THEN 'tourisme'
              WHEN 4 THEN 'dependance' ELSE '' END
    || ';' || {_insee_case('o_custkey')}
    || ';Ville ' || CAST(o_custkey % 10 AS {cast})
    || ';cadastre'
    || ';' || CAST(2.0 + (o_orderkey % 4000) * 0.001 AS {cast})
    || ';' || CAST(46.0 + (o_orderkey % 3000) * 0.001 AS {cast})
    || ';' || CAST(600000 + o_orderkey % 9000 AS {cast})
    || ';' || CAST(6500000 + o_orderkey % 7000 AS {cast})
    || ';entrée'
    || ';' || CASE WHEN o_orderkey % 7 = 0 THEN ''
              ELSE '2024-' || lpad(CAST(1 + o_orderkey % 12 AS {cast}), 2, '0')
                   || '-' || lpad(CAST(1 + o_orderkey % 28 AS {cast}), 2, '0')
              END AS raw
FROM orders
"""


_W60_ORACLE = f"""
WITH lines AS ({_bal_cad_line('VARCHAR')}),
arr AS (SELECT o_orderkey, string_split(raw, ';') AS a FROM lines),
parsed AS (
  SELECT o_orderkey,
         nullif(a[1], '') AS cle_interop,
         nullif(a[3], '') AS numero,
         nullif(a[4], '') AS suffixe,
         CAST(nullif(a[5], '') AS BOOLEAN) AS pseudo_numero,
         nullif(a[6], '') AS voie_nom,
         nullif(a[8], '') AS destination_principale,
         nullif(a[9], '') AS commune_code,
         CAST(nullif(a[12], '') AS DOUBLE) AS long,
         CAST(nullif(a[13], '') AS DOUBLE) AS lat,
         CAST(nullif(a[17], '') AS DATE) AS date_der_maj
  FROM arr
)
SELECT cle_interop, numero, suffixe, pseudo_numero, voie_nom,
       destination_principale, commune_code, long, lat, date_der_maj,
       coalesce(destination_principale, '')
           IN ('habitation', 'commerce', 'industrie', 'tourisme')
           AND NOT coalesce(pseudo_numero, false) AS kept_f5
FROM parsed ORDER BY o_orderkey
"""


@register("bal_cadastre_parse", _W60_ORACLE)
def w_bal_cadastre(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.sources.bal import parse_bal_cadastre

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    raw = spark.sql(_bal_cad_line("STRING"))
    p = parse_bal_cadastre(raw)
    kept = (F.coalesce("destination_principale", F.lit("")).isin(
        "habitation", "commerce", "industrie", "tourisme")
        & ~F.coalesce("pseudo_numero", F.lit(False)))
    return p.select(
        "cle_interop", "numero", "suffixe", "pseudo_numero", "voie_nom",
        "destination_principale", "commune_code", "long", "lat",
        "date_der_maj", kept.alias("kept_f5"))


# ---------------------------------------------------------------------------
# w61 — communes_summary: the datagouv BAL-publication stats table
# (VERDICT r2 missing #2; ref sql/create_table_base_bano.sql:139-158 +
# bano/sources/datagouv_commune_summary.py COPY with '' as NULL).
# Load the ,-CSV into the 16 typed columns, then roll up BAL adoption
# per département: commune count, composition mix, address volumes and
# the addressing-analysis ratios.
# ---------------------------------------------------------------------------

def _summary_line(cast: str) -> str:
    return f"""
SELECT o_orderkey,
    CAST(o_custkey % 13 AS {cast})
    || ',' || SUBSTR({_insee_case('o_custkey')}, 1, 2)
    || ',' || {_insee_case('o_custkey')}
    || ',Commune ' || CAST(o_custkey % 10 AS {cast})
    || ',' || CASE WHEN o_orderkey % 19 = 0 THEN ''
              ELSE CAST(o_orderkey % 50000 AS {cast}) END
    || ',' || CASE WHEN o_orderkey % 7 = 0 THEN ''
              ELSE 'rev-' || CAST(o_orderkey % 1000 AS {cast}) END
    || ',2024-' || CAST(o_orderkey % 12 + 1 AS {cast})
    || ',' || CASE o_orderkey % 3 WHEN 0 THEN 'bal' WHEN 1 THEN 'assemblage'
              ELSE '' END
    || ',' || CAST(o_orderkey % 40 AS {cast})
    || ',' || CAST(o_orderkey % 300 AS {cast})
    || ',' || CAST(o_orderkey % 5000 AS {cast})
    || ',' || CAST(o_orderkey % 2500 AS {cast})
    || ',' || CASE WHEN o_orderkey % 23 = 0 THEN ''
              ELSE CAST(o_orderkey % 6000 AS {cast}) END
    || ',0.' || CAST(o_orderkey % 9 + 1 AS {cast})
    || ',' || CASE WHEN o_orderkey % 11 = 0 THEN ''
              ELSE CAST(o_orderkey % 70 AS {cast}) || '.5' END
    || ',2024-06-01' AS raw
FROM orders
"""


_W61_ORACLE = f"""
WITH lines AS ({_summary_line('VARCHAR')}),
arr AS (SELECT string_split(raw, ',') AS a FROM lines),
parsed AS (
  SELECT nullif(a[2], '') AS dep,
         nullif(a[3], '') AS com,
         CAST(nullif(a[5], '') AS INT) AS population,
         nullif(a[8], '') AS type_composition,
         CAST(nullif(a[9], '') AS INT) AS nb_lieux_dits,
         CAST(nullif(a[11], '') AS INT) AS nb_numeros,
         CAST(nullif(a[12], '') AS INT) AS nb_numeros_certifies,
         CAST(nullif(a[14], '') AS DOUBLE) AS ratio
  FROM arr
)
SELECT dep,
       CAST(count(*) AS BIGINT) AS n_communes,
       CAST(count(DISTINCT com) AS BIGINT) AS n_distinct_com,
       CAST(sum(CASE WHEN type_composition = 'bal' THEN 1 ELSE 0 END)
            AS BIGINT) AS n_bal,
       CAST(sum(population) AS BIGINT) AS pop,
       CAST(sum(nb_numeros) AS BIGINT) AS numeros,
       CAST(sum(nb_numeros_certifies) AS BIGINT) AS certifies,
       CAST(sum(CASE WHEN population IS NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_null_pop,
       round(avg(ratio), 6) AS avg_ratio
FROM parsed GROUP BY dep ORDER BY dep
"""


@register("communes_summary_rollup", _W61_ORACLE)
def w_communes_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.sources.bal import parse_communes_summary

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    raw = spark.sql(_summary_line("STRING"))
    p = parse_communes_summary(raw)
    return (p.groupBy("dep").agg(
        F.count(F.lit(1)).alias("n_communes"),
        F.countDistinct("com").alias("n_distinct_com"),
        F.sum(F.when(F.col("type_composition") == "bal", 1).otherwise(0))
            .cast("bigint").alias("n_bal"),
        F.sum("population").cast("bigint").alias("pop"),
        F.sum("nb_numeros").cast("bigint").alias("numeros"),
        F.sum("nb_numeros_certifies").cast("bigint").alias("certifies"),
        F.sum(F.when(F.col("population").isNull(), 1).otherwise(0))
            .cast("bigint").alias("n_null_pop"),
        F.round(F.avg("analyse_adressage_ratio"), 6).alias("avg_ratio"))
        .orderBy("dep"))


# ---------------------------------------------------------------------------
# w62 — exact duplicate-span REMOVAL (Lee et al. dedup, acting twin of
# dup_span_stats): tokens covered by a cross-document 13-gram are
# dropped and the document is reassembled. Heavy join on md5(gram)
# only; the final token filter is a higher-order codegen expression.
# ---------------------------------------------------------------------------

_W62_ORACLE = f"""
WITH toked AS (
  SELECT doc_id, {_TOKS_SQL} AS toks FROM documents WHERE trim(text) != ''
),
pos AS (
  SELECT doc_id, CAST(unnest(generate_series(1, len(toks))) AS BIGINT) AS p,
         toks AS toks
  FROM toked
),
pos2 AS (SELECT doc_id, p, toks[p] AS tok FROM pos),
grams AS (
  SELECT doc_id, p AS s, md5(array_to_string(toks[p:p+12], ' ')) AS ghash
  FROM pos WHERE p <= len(toks) - 12
),
dupg AS (SELECT ghash FROM grams GROUP BY ghash HAVING count(DISTINCT doc_id) > 1),
dstarts AS (SELECT DISTINCT doc_id, s FROM grams JOIN dupg USING (ghash)),
covered AS (
  SELECT DISTINCT p.doc_id, p.p FROM pos2 p
  JOIN dstarts d ON p.doc_id = d.doc_id AND p.p BETWEEN d.s AND d.s + 12
),
kept AS (
  SELECT pos2.doc_id, pos2.p, pos2.tok FROM pos2
  ANTI JOIN covered USING (doc_id, p)
),
agg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY p) AS clean_text
  FROM kept GROUP BY doc_id
)
SELECT t.doc_id, CAST(len(t.toks) AS BIGINT) AS n_tokens,
       COALESCE(a.n_kept, 0) AS n_kept,
       COALESCE(a.clean_text, '') AS clean_text
FROM toked t LEFT JOIN agg a USING (doc_id)
ORDER BY t.doc_id
"""


@register("dup_span_removal", _W62_ORACLE)
def w_dup_span_removal(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import dup_span_removal

    docs = _read(spark, sf_dir, "documents").filter(F.trim("text") != "")
    return dup_span_removal(docs, n=13).orderBy("doc_id")


# ---------------------------------------------------------------------------
# w63 — host-level curation rollup: fetches (synthetic URLs from
# orders) join their document's Gopher keep flag; per host the keep
# rate decides a blocklist entry. One bounded-cardinality shuffle on
# the host key; counters only.
# ---------------------------------------------------------------------------

_W63_ORACLE = f"""
WITH fetches AS (
  SELECT o_orderkey, {_url_case('VARCHAR')} AS url,
         o_orderkey % 500 AS doc_id
  FROM orders
),
toked AS (SELECT doc_id, text, {_TOKS_SQL} AS t FROM documents),
m AS (
  SELECT doc_id,
         len(t) * 1.0 AS n_words,
         list_sum(list_transform(t, w -> length(w))) * 1.0 / len(t) AS mean_len,
         len(list_filter(t, w -> regexp_matches(w, '[a-z]'))) * 1.0 / len(t)
             AS alpha_frac,
         (length(text) - length(replace(text, '#', ''))) * 1.0 / len(t) AS sym_ratio
  FROM toked
),
q AS (
  SELECT doc_id,
         (n_words >= 50 AND n_words <= 100000)
             AND (mean_len >= 3.0 AND mean_len <= 10.0)
             AND alpha_frac > 0.8 AND sym_ratio < 0.1 AS keep
  FROM m
),
hosted AS (
  SELECT lower(string_split(string_split(string_split(f.url, '://')[2], '#')[1],
               '/')[1]) AS host_raw,
         f.doc_id, CAST(q.keep AS INT) AS k
  FROM fetches f JOIN q USING (doc_id)
),
hosted2 AS (
  SELECT string_split(host_raw, '?')[1] AS host, doc_id, k FROM hosted
)
SELECT host,
       CAST(count(*) AS BIGINT) AS n_fetches,
       CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       round(avg(k), 6) AS keep_rate,
       avg(k) < 0.5 AS blocklisted
FROM hosted2 GROUP BY host ORDER BY host
"""


@register("host_quality_rollup", _W63_ORACLE)
def w_host_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import gopher_quality, host_quality_rollup

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    fetches = spark.sql(
        f"SELECT o_orderkey, {_url_case('STRING')} AS url,"
        " o_orderkey % 500 AS doc_id FROM orders")
    q = gopher_quality(_read(spark, sf_dir, "documents")) \
        .select("doc_id", "keep")
    linked = fetches.join(F.broadcast(q), "doc_id")
    return host_quality_rollup(linked).orderBy("host")


# ---------------------------------------------------------------------------
# w66 — raster -> vector: per-commune tile sets traced back into
# boundary rings (inverse of polygon_cover; the other half of the
# north rule's raster<->vector stage). The oracle cross-checks the
# ring geometry through two exact invariants computable in SQL from
# the raw cell set: net shoelace area == cell count, and total ring
# perimeter == 4*cells - 2*adjacent pairs.
# ---------------------------------------------------------------------------

def _w66_cells(dialect: str) -> str:
    cell = "611.4962261962891"
    return f"""
WITH pts AS ({synth.points_select_sql(dialect, "events")}),
cells AS (
  SELECT DISTINCT {_insee_case('event_id')} AS insee_com,
         CAST(floor((x - (-20037508.34)) / {cell}) AS BIGINT) AS tx,
         CAST(floor((20037508.34 - y) / {cell}) AS BIGINT) AS ty
  FROM pts
)
"""


_W66_ORACLE = f"""
{_w66_cells('duckdb')},
n AS (SELECT insee_com, count(*) AS nc FROM cells GROUP BY 1),
h AS (SELECT c1.insee_com, count(*) AS nh FROM cells c1
      JOIN cells c2 ON c1.insee_com = c2.insee_com
                   AND c2.tx = c1.tx + 1 AND c2.ty = c1.ty GROUP BY 1),
v AS (SELECT c1.insee_com, count(*) AS nv FROM cells c1
      JOIN cells c2 ON c1.insee_com = c2.insee_com
                   AND c2.ty = c1.ty + 1 AND c2.tx = c1.tx GROUP BY 1)
SELECT n.insee_com, CAST(n.nc AS BIGINT) AS area_cells,
       CAST(4 * n.nc - 2 * (COALESCE(h.nh, 0) + COALESCE(v.nv, 0)) AS BIGINT)
           AS perimeter_cells
FROM n LEFT JOIN h USING (insee_com) LEFT JOIN v USING (insee_com)
ORDER BY n.insee_com
"""


@register("tiles_vectorize", _W66_ORACLE)
def w_tiles_vectorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.tiling import vectorize_tiles

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    cells = spark.sql(_w66_cells("spark") + "SELECT * FROM cells")
    rings = vectorize_tiles(cells)
    return (rings.groupBy("insee_com").agg(
        F.round(F.sum("signed_area")).cast("bigint").alias("area_cells"),
        F.round(F.sum("perimeter")).cast("bigint").alias("perimeter_cells"))
        .orderBy("insee_com"))


# ---------------------------------------------------------------------------
# w72 — tile-pyramid rollup: per-tile point counts at the base zoom and
# two coarser levels, each level aggregated from the PREVIOUS level's
# output (raw rows shuffle exactly once). The oracle recomputes every
# level independently from the raw cells — floor(floor(t/2)/2) ==
# floor(t/4), so iterative halving and direct division must agree.
# ---------------------------------------------------------------------------

def _w72_cells(dialect: str) -> str:
    cell = "611.4962261962891"
    return f"""
WITH pts AS ({synth.points_select_sql(dialect, "events")}),
cells AS (
  SELECT CAST(floor((x - (-20037508.34)) / {cell}) AS BIGINT) AS tx,
         CAST(floor((20037508.34 - y) / {cell}) AS BIGINT) AS ty
  FROM pts
)
"""


_W72_ORACLE = f"""
{_w72_cells('duckdb')},
base AS (SELECT tx, ty, CAST(count(*) AS BIGINT) AS n FROM cells GROUP BY 1, 2)
SELECT CAST(0 AS INTEGER) AS lvl, tx, ty, n FROM base
UNION ALL
SELECT 1, CAST(floor(tx / 2.0) AS BIGINT), CAST(floor(ty / 2.0) AS BIGINT),
       CAST(sum(n) AS BIGINT) FROM base GROUP BY 2, 3
UNION ALL
SELECT 2, CAST(floor(tx / 4.0) AS BIGINT), CAST(floor(ty / 4.0) AS BIGINT),
       CAST(sum(n) AS BIGINT) FROM base GROUP BY 2, 3
ORDER BY lvl, tx, ty
"""


@register("tile_pyramid", _W72_ORACLE)
def w_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.tiling import tile_pyramid

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    cells = spark.sql(_w72_cells("spark") + "SELECT * FROM cells")
    return tile_pyramid(cells, levels=3).orderBy("lvl", "tx", "ty")


# ---------------------------------------------------------------------------
# w75 — corpus-wide top-k bigram vocabulary (heavy hitters; the seed
# of vocabulary/BPE-merge construction). Global top-k is orderBy +
# limit = TakeOrderedAndProject (per-partition top-k, driver merges
# O(partitions * k)); ties rank by gram ascending for determinism.
# ---------------------------------------------------------------------------

_W75_ORACLE = f"""
WITH toked AS (SELECT {_TOKS_SQL} AS t FROM documents
               WHERE len({_TOKS_SQL}) >= 2),
grams AS (
  SELECT t[CAST(i AS BIGINT)] || ' ' || t[CAST(i AS BIGINT) + 1] AS gram
  FROM (SELECT t, unnest(generate_series(1, len(t) - 1)) AS i FROM toked)
)
SELECT gram, CAST(count(*) AS BIGINT) AS cnt FROM grams GROUP BY 1
ORDER BY cnt DESC, gram LIMIT 50
"""


@register("top_ngrams", _W75_ORACLE)
def w_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.textstats import top_ngrams

    return top_ngrams(_read(spark, sf_dir, "documents"), k=50, n=2)


# ---------------------------------------------------------------------------
# w77 — as-of join (most recent match at-or-before, per key): each
# click event picks up the latest error value for its user. The engine
# plans it as union + ONE per-key window (no inequality join); the
# oracle is DuckDB's NATIVE ASOF LEFT JOIN — a completely independent
# algorithm, so the hash match checks semantics, not implementation.
# The right side is deduped to unique (user_id, ts) first: as-of with
# duplicate right timestamps has no deterministic winner in either
# engine.
# ---------------------------------------------------------------------------

_W77_ORACLE = """
WITH clicks AS (
  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'
),
errs AS (
  SELECT user_id, ts, max(value) AS err_value
  FROM events WHERE event_type = 'error' GROUP BY user_id, ts
)
SELECT l.event_id, l.user_id, l.ts, r.ts AS matched_ts, r.err_value
FROM clicks l ASOF LEFT JOIN errs r
  ON l.user_id = r.user_id AND l.ts >= r.ts
ORDER BY l.event_id
"""


@register("asof_join_events", _W77_ORACLE)
def w_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import asof_join

    ev = _read(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    errs = (ev.filter(F.col("event_type") == "error")
            .groupBy("user_id", "ts")
            .agg(F.max("value").alias("err_value")))
    return (asof_join(clicks, errs, key="user_id", ts="ts",
                      value_cols=["err_value"])
            .select("event_id", "user_id", "ts", "matched_ts", "err_value")
            .orderBy("event_id"))


# ---------------------------------------------------------------------------
# w78 — interval overlap join: events x 2-hour maintenance windows
# (derived deterministically from every 97th event), half-open
# [begin, end). The engine explodes windows to hour bins and
# equi-joins the point's bin (complete-candidates-then-refine, the
# spatial-join shape on the time axis); the oracle is a plain
# inequality join (DuckDB IEJoin) that never sees the bins.
# ---------------------------------------------------------------------------

_W78_ORACLE = """
WITH windows AS (
  SELECT event_id AS window_id, ts AS begin_ts,
         ts + INTERVAL '2 hours' AS end_ts
  FROM events WHERE event_id % 97 = 0
)
SELECT e.event_id, w.window_id
FROM events e JOIN windows w
  ON w.begin_ts <= e.ts AND e.ts < w.end_ts
ORDER BY e.event_id, w.window_id
"""


@register("interval_join_events", _W78_ORACLE)
def w_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import interval_join

    ev = _read(spark, sf_dir, "events")
    windows = (ev.filter(F.col("event_id") % 97 == 0)
               .select(F.col("event_id").alias("window_id"),
                       F.col("ts").alias("begin_ts"),
                       (F.col("ts") + F.expr("INTERVAL 2 HOURS"))
                       .alias("end_ts")))
    return (interval_join(ev.select("event_id", "ts"), windows,
                          ts="ts", begin="begin_ts", end="end_ts",
                          bin_sec=3600)
            .select("event_id", "window_id")
            .orderBy("event_id", "window_id"))


# ---------------------------------------------------------------------------
# w79 — exact distributed quantiles (selection by iterative
# range-narrowing: O(log) shared scans, histogram shuffles of at most
# targets x bins rows, NO global sort). The oracle materializes the
# true order statistic via row_number — the algorithm the operator
# exists to avoid — so a match proves the selection is exact, not
# approximate. events.value has 2-decimal duplicates throughout,
# stressing the duplicate-cluster narrowing path.
# ---------------------------------------------------------------------------

_W79_ORACLE = """
WITH s AS (SELECT value AS v, row_number() OVER (ORDER BY value) - 1 AS rk
           FROM events WHERE value IS NOT NULL),
qs(q) AS (SELECT CAST(col0 AS DOUBLE) FROM (VALUES (0.0), (0.25), (0.5),
                                                   (0.9), (0.99), (1.0))),
tgt AS (SELECT q, CAST(floor(q * ((SELECT count(*) FROM s) - 1)) AS BIGINT)
               AS rk FROM qs)
SELECT t.q, s.v AS value FROM tgt t JOIN s ON s.rk = t.rk ORDER BY t.q
"""


@register("exact_quantiles", _W79_ORACLE)
def w_exact_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.quantiles import exact_quantiles_df

    ev = _read(spark, sf_dir, "events")
    return exact_quantiles_df(
        ev, "value", [0.0, 0.25, 0.5, 0.9, 0.99, 1.0]).orderBy("q")


# ---------------------------------------------------------------------------
# w80 — host-graph PageRank (5 synchronous iterations, damping 0.85):
# the web-scale quality prior for crawl/corpus weighting, playing the
# role of the reference's importance heuristics (M1-M3) on the link
# graph. Edges derive deterministically from documents (src = doc % 20,
# dst = (7*doc + 3) % 20, weight = multiplicity); per-iteration
# rounding to 12 decimals pins both engines to the same float
# trajectory, so the oracle — the SAME power iteration unrolled as
# five chained CTEs — must match bit-for-bit after the final round(6).
# ---------------------------------------------------------------------------

def _w80_oracle(iters: int = 5) -> str:
    parts = ["""
WITH edges AS (
  SELECT doc_id % 20 AS src, (doc_id * 7 + 3) % 20 AS dst,
         CAST(count(*) AS DOUBLE) AS w
  FROM documents GROUP BY 1, 2
),
outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
norm AS (SELECT e.src, e.dst, e.w / o.ow AS p
         FROM edges e JOIN outw o ON o.src = e.src),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
r0 AS (SELECT node, round(1.0 / nn.n, 12) AS rank FROM nodes CROSS JOIN nn)"""]
    for k in range(1, iters + 1):
        parts.append(f""",
r{k} AS (
  SELECT nodes.node,
         round((1.0 - 0.85) * (1.0 / nn.n)
               + 0.85 * coalesce(c.s, 0.0), 12) AS rank
  FROM nodes
  LEFT JOIN (SELECT m.dst AS node, sum(r.rank * m.p) AS s
             FROM r{k-1} r JOIN norm m ON m.src = r.node
             GROUP BY m.dst) c ON c.node = nodes.node
  CROSS JOIN nn)""")
    parts.append(f"""
SELECT node AS host_id, round(rank, 6) AS rank
FROM r{iters} ORDER BY host_id""")
    return "".join(parts)


@register("pagerank_hosts", _w80_oracle())
def w_pagerank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import pagerank

    docs = _read(spark, sf_dir, "documents")
    edges = (docs.groupBy((F.col("doc_id") % 20).alias("src"),
                          ((F.col("doc_id") * 7 + 3) % 20).alias("dst"))
             .agg(F.count(F.lit(1)).cast("double").alias("w")))
    ranks = pagerank(edges, weight="w", iters=5, damping=0.85)
    return (ranks.select(F.col("node").alias("host_id"),
                         F.round("rank", 6).alias("rank"))
            .orderBy("host_id"))


# ---------------------------------------------------------------------------
# w81 — inverted index over documents: per-term df, total tf, and the
# doc-ordered posting list in an engine-neutral "id:tf,id:tf" string
# encoding. The oracle rebuilds the postings with string_agg ORDER BY;
# the engine uses array_sort(collect_list(struct)) — a hash match
# proves the distributed list assembly reproduces the sequential one.
# ---------------------------------------------------------------------------

_W81_ORACLE = r"""
WITH tok AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
  FROM documents
),
tf AS (SELECT term, doc_id, count(*) AS tf
       FROM tok WHERE term <> '' GROUP BY 1, 2)
SELECT term, CAST(count(*) AS BIGINT) AS df,
       CAST(sum(tf) AS BIGINT) AS total_tf,
       string_agg(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR),
                  ',' ORDER BY doc_id) AS postings
FROM tf GROUP BY term ORDER BY term
"""


@register("inverted_index", _W81_ORACLE)
def w_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.search import inverted_index

    docs = _read(spark, sf_dir, "documents")
    return inverted_index(docs).orderBy("term")


# ---------------------------------------------------------------------------
# w82 — BM25 top-20 for a fixed 3-term query. The engine filters tf to
# the query terms before any shuffle and plans the top-k as
# TakeOrderedAndProject; the oracle computes the identical Okapi
# formula (k1=1.2, b=0.75, ln idf) in SQL. Scores rounded to 6 with
# doc-id tiebreak make the cut deterministic in both engines.
# ---------------------------------------------------------------------------

_W82_ORACLE = r"""
WITH dl AS (
  SELECT doc_id,
         CAST(len(list_filter(string_split_regex(text, '\s+'),
                              x -> x <> '')) AS DOUBLE) AS dl
  FROM documents
),
stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
tok AS (
  SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
  FROM documents
),
tf AS (SELECT doc_id, term, count(*) AS tf
       FROM tok WHERE term IN ('hash', 'spark', 'table') GROUP BY 1, 2),
dfs AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY term)
SELECT t.doc_id,
       round(sum(ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
                 * t.tf * 2.2
                 / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * dl.dl / s.avgdl))),
             6) AS score
FROM tf t
JOIN dfs d ON d.term = t.term
JOIN dl ON dl.doc_id = t.doc_id
CROSS JOIN stats s
GROUP BY t.doc_id
ORDER BY score DESC, t.doc_id
LIMIT 20
"""


@register("bm25_topk", _W82_ORACLE)
def w_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.search import bm25_topk

    docs = _read(spark, sf_dir, "documents")
    return bm25_topk(docs, ["hash", "spark", "table"], k=20)


# ---------------------------------------------------------------------------
# w93 — SCD2 build: collapse the event stream into type-2 validity
# intervals of each user's event_type (one row per value change,
# half-open [valid_from, valid_to), open-ended current row). Windows
# partition by user — parallel across keys, no global order.
# ---------------------------------------------------------------------------

_W93_ORACLE = """
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
),
ch AS (
  SELECT user_id, event_type, ts, event_id FROM o
  WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id, event_type, ts AS valid_from,
       lead(ts) OVER (PARTITION BY user_id
                      ORDER BY ts, event_id) AS valid_to
FROM ch ORDER BY user_id, valid_from
"""


@register("scd2_intervals", _W93_ORACLE)
def w_scd2_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.eventflow import scd2_intervals

    ev = _read(spark, sf_dir, "events")
    return (scd2_intervals(ev, key="user_id", ts="ts",
                           attr="event_type", tiebreak="event_id")
            .orderBy("user_id", "valid_from"))


# ---------------------------------------------------------------------------
# w94 — CDC changelog apply: errors are deletes, everything else
# upserts the user's value; the latest change by (ts, event_id) wins
# and deleted keys vanish — the materialized state a MERGE INTO
# produces from a change feed.
# ---------------------------------------------------------------------------

_W94_ORACLE = """
WITH c AS (
  SELECT user_id, ts, event_id, value,
         CASE WHEN event_type = 'error' THEN 'D' ELSE 'U' END AS op,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
)
SELECT user_id, ts, round(value, 6) AS value
FROM c WHERE rn = 1 AND op <> 'D' ORDER BY user_id
"""


@register("cdc_apply", _W94_ORACLE)
def w_cdc_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.eventflow import cdc_apply

    ev = (_read(spark, sf_dir, "events")
          .withColumn("op", F.when(F.col("event_type") == "error",
                                   "D").otherwise("U"))
          .withColumn("value", F.round("value", 6)))
    return (cdc_apply(ev, key="user_id", ts="ts", tiebreak="event_id",
                      op_col="op", value_cols=["value"])
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# w95 — strict-order funnel view -> click -> purchase: per user the
# first view, the first click at-or-after it, the first purchase
# at-or-after that; null where the funnel breaks. Each stage is one
# LEFT join + conditional min; stage inputs shrink monotonically.
# ---------------------------------------------------------------------------

_W95_ORACLE = """
WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events
            WHERE event_type = 'view' GROUP BY user_id),
s2 AS (SELECT s1.user_id,
              min(CASE WHEN e.ts >= s1.t1 THEN e.ts END) AS t2
       FROM s1 LEFT JOIN events e
         ON e.user_id = s1.user_id AND e.event_type = 'click'
       GROUP BY s1.user_id),
s3 AS (SELECT s2.user_id,
              min(CASE WHEN e.ts >= s2.t2 THEN e.ts END) AS t3
       FROM s2 LEFT JOIN events e
         ON e.user_id = s2.user_id AND e.event_type = 'purchase'
       GROUP BY s2.user_id)
SELECT s1.user_id, s1.t1, s2.t2, s3.t3
FROM s1 JOIN s2 ON s2.user_id = s1.user_id
JOIN s3 ON s3.user_id = s1.user_id
ORDER BY s1.user_id
"""


@register("event_funnel", _W95_ORACLE)
def w_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.eventflow import funnel_stages

    ev = _read(spark, sf_dir, "events")
    return (funnel_stages(ev, ["view", "click", "purchase"],
                          key="user_id", ts="ts")
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# w96 — weekly retention cohorts: cohort = first active ISO week;
# n_active users per (cohort, week offset). Offsets are exact day
# arithmetic between Monday-truncated dates in both engines.
# ---------------------------------------------------------------------------

_W96_ORACLE = """
WITH a AS (
  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS p
  FROM events
),
c AS (SELECT user_id, min(p) AS cohort FROM a GROUP BY user_id)
SELECT c.cohort,
       CAST(date_diff('day', c.cohort, a.p) // 7 AS INTEGER)
         AS period_offset,
       CAST(count(DISTINCT a.user_id) AS BIGINT) AS n_active
FROM a JOIN c ON c.user_id = a.user_id
GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("retention_cohorts", _W96_ORACLE)
def w_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.eventflow import retention_cohorts

    ev = _read(spark, sf_dir, "events")
    return retention_cohorts(ev, key="user_id", ts="ts").orderBy(
        "cohort", "period_offset")


# ---------------------------------------------------------------------------
# w98 — per-node triangle participation on the host co-citation graph.
# The engine uses degree-oriented enumeration (skew-bounded wedge
# joins, each triangle found once then exploded to its corners); the
# oracle enumerates ordered triples a<b<c directly — two independent
# algorithms that must agree per node.
# ---------------------------------------------------------------------------

def _w98_edges_sql(dialect: str) -> str:
    d = " div " if dialect == "spark" else " // "
    return (f"SELECT doc_id % 20 AS s, (doc_id{d}20) % 20 AS d "
            f"FROM documents")


_W98_ORACLE = f"""
WITH raw AS ({_w98_edges_sql('duckdb')}),
e AS (SELECT DISTINCT least(s, d) AS u, greatest(s, d) AS v
      FROM raw WHERE s <> d),
tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e2.u = e1.v
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
corners AS (
  SELECT a AS node FROM tri
  UNION ALL SELECT b FROM tri
  UNION ALL SELECT c FROM tri)
SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
FROM corners GROUP BY node ORDER BY node
"""


@register("triangle_participation", _W98_ORACLE)
def w_triangle_participation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import triangle_participation

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    raw = spark.sql(_w98_edges_sql("spark"))
    return (triangle_participation(raw, src="s", dst="d")
            .orderBy("node"))


# ---------------------------------------------------------------------------
# w99 — event-type transition matrix (first-order Markov summary of
# each user's timeline): one per-key lead window + an aggregation.
# ---------------------------------------------------------------------------

_W99_ORACLE = """
WITH o AS (
  SELECT user_id, event_type,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt
  FROM events
)
SELECT event_type AS from_value, nxt AS to_value,
       CAST(count(*) AS BIGINT) AS n
FROM o WHERE nxt IS NOT NULL
GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("event_transitions", _W99_ORACLE)
def w_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.eventflow import transition_counts

    ev = _read(spark, sf_dir, "events")
    return (transition_counts(ev, key="user_id", ts="ts",
                              attr="event_type", tiebreak="event_id")
            .orderBy("from_value", "to_value"))


# ---------------------------------------------------------------------------
# w102 — TrustRank: PageRank with the restart distribution
# concentrated on a trusted seed set (hosts 0/5/10/15) — the
# spam-demotion prior of web corpus curation (Gyöngyi et al. 2004).
# Same engine loop as w80 with a personalized teleport vector; the
# oracle unrolls the seeded power iteration.
# ---------------------------------------------------------------------------

def _w102_oracle(iters: int = 5) -> str:
    parts = ["""
WITH edges AS (
  SELECT doc_id % 20 AS src, (doc_id * 7 + 3) % 20 AS dst,
         CAST(count(*) AS DOUBLE) AS w
  FROM documents GROUP BY 1, 2
),
outw AS (SELECT src, sum(w) AS ow FROM edges GROUP BY src),
norm AS (SELECT e.src, e.dst, e.w / o.ow AS p
         FROM edges e JOIN outw o ON o.src = e.src),
nodes AS (SELECT DISTINCT src AS node FROM edges
          UNION SELECT DISTINCT dst FROM edges),
tt AS (SELECT node, CASE WHEN node IN (0, 5, 10, 15)
                         THEN 0.25 ELSE 0.0 END AS t FROM nodes),
r0 AS (SELECT node, round(t, 12) AS rank FROM tt)"""]
    for k in range(1, iters + 1):
        parts.append(f""",
r{k} AS (
  SELECT tt.node,
         round((1.0 - 0.85) * tt.t
               + 0.85 * coalesce(c.s, 0.0), 12) AS rank
  FROM tt
  LEFT JOIN (SELECT m.dst AS node, sum(r.rank * m.p) AS s
             FROM r{k-1} r JOIN norm m ON m.src = r.node
             GROUP BY m.dst) c ON c.node = tt.node)""")
    parts.append(f"""
SELECT node AS host_id, round(rank, 6) AS rank
FROM r{iters} ORDER BY host_id""")
    return "".join(parts)


@register("trustrank_hosts", _w102_oracle())
def w_trustrank_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import pagerank

    docs = _read(spark, sf_dir, "documents")
    edges = (docs.groupBy((F.col("doc_id") % 20).alias("src"),
                          ((F.col("doc_id") * 7 + 3) % 20).alias("dst"))
             .agg(F.count(F.lit(1)).cast("double").alias("w")))
    seeds = spark.createDataFrame(
        [(0, 0.25), (5, 0.25), (10, 0.25), (15, 0.25)],
        "node bigint, t double")
    ranks = pagerank(edges, weight="w", iters=5, damping=0.85,
                     teleport=seeds)
    return (ranks.select(F.col("node").alias("host_id"),
                         F.round("rank", 6).alias("rank"))
            .orderBy("host_id"))


# ---------------------------------------------------------------------------
# w107 — time-travel over the SCD2 view: the state of every user's
# tracked attribute AS OF a cutoff instant (valid_from <= T < valid_to,
# open current rows included) — the query pattern SCD2 exists to serve.
# ---------------------------------------------------------------------------

_W107_ORACLE = """
WITH o AS (
  SELECT user_id, event_type, ts, event_id,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
),
ch AS (SELECT user_id, event_type, ts, event_id FROM o
       WHERE prev IS NULL OR prev <> event_type),
iv AS (SELECT user_id, event_type, ts AS valid_from,
              lead(ts) OVER (PARTITION BY user_id
                             ORDER BY ts, event_id) AS valid_to
       FROM ch)
SELECT user_id, event_type AS state_at_cutoff, valid_from
FROM iv
WHERE valid_from <= TIMESTAMP '2024-01-15 00:00:00'
  AND (valid_to IS NULL OR valid_to > TIMESTAMP '2024-01-15 00:00:00')
ORDER BY user_id
"""


@register("scd2_asof_state", _W107_ORACLE)
def w_scd2_asof_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.eventflow import scd2_intervals

    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    iv = scd2_intervals(_read(spark, sf_dir, "events"), key="user_id",
                        ts="ts", attr="event_type", tiebreak="event_id")
    return (iv.filter((F.col("valid_from") <= cut)
                      & (F.col("valid_to").isNull()
                         | (F.col("valid_to") > cut)))
            .select("user_id",
                    F.col("event_type").alias("state_at_cutoff"),
                    "valid_from")
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# w108 — BFS shortest-path levels from a seed host over the undirected
# co-citation graph: frontier-expansion rounds (frontier x edges,
# anti-join visited, flat lineage per round). The oracle unrolls the
# same level computation as chained CTEs taking per-node minima —
# integer distances, no float concerns.
# ---------------------------------------------------------------------------

def _w108_oracle(max_hops: int = 5) -> str:
    parts = [f"""
WITH raw AS ({_w98_edges_sql('duckdb')}),
sym AS (
  SELECT s AS a, d AS b FROM raw WHERE s <> d
  UNION SELECT d, s FROM raw WHERE s <> d
),
r0 AS (SELECT CAST(0 AS BIGINT) AS node, 0 AS dist)"""]
    for k in range(1, max_hops + 1):
        parts.append(f""",
r{k} AS (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM r{k-1}
    UNION ALL
    SELECT sym.b AS node, r.dist + 1 AS dist
    FROM r{k-1} r JOIN sym ON sym.a = r.node
  ) u GROUP BY node)""")
    parts.append(f"""
SELECT node, dist FROM r{max_hops} ORDER BY node""")
    return "".join(parts)


@register("bfs_distances", _w108_oracle())
def w_bfs_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import bfs_distances

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    raw = spark.sql(_w98_edges_sql("spark"))
    seeds = spark.createDataFrame([(0,)], "node bigint")
    return (bfs_distances(raw, seeds, src="s", dst="d", max_hops=5)
            .orderBy("node"))


# ---------------------------------------------------------------------------
# w111 — HITS hubs & authorities on the directed host graph: mutual
# reinforcement with per-iteration L1 normalization (scalar aggregate
# + broadcast division — no sqrt, so the unrolled SQL oracle replays
# the trajectory exactly under the shared 12-decimal rounding).
# ---------------------------------------------------------------------------

def _w111_oracle(iters: int = 3) -> str:
    parts = ["""
WITH e AS (SELECT DISTINCT doc_id % 20 AS s, (doc_id * 7 + 3) % 20 AS d
           FROM documents),
nodes AS (SELECT DISTINCT s AS node FROM e
          UNION SELECT DISTINCT d FROM e),
nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
h0 AS (SELECT node, round(1.0 / nn.n, 12) AS s FROM nodes CROSS JOIN nn)"""]
    prev_h = "h0"
    for k in range(1, iters + 1):
        parts.append(f""",
a{k}r AS (SELECT e.d AS node, sum(h.s) AS s
          FROM {prev_h} h JOIN e ON e.s = h.node GROUP BY e.d),
a{k} AS (SELECT node, round(s / (SELECT sum(s) FROM a{k}r), 12) AS s
         FROM a{k}r),
h{k}r AS (SELECT e.s AS node, sum(a.s) AS s
          FROM a{k} a JOIN e ON e.d = a.node GROUP BY e.s),
h{k} AS (SELECT node, round(s / (SELECT sum(s) FROM h{k}r), 12) AS s
         FROM h{k}r)""")
        prev_h = f"h{k}"
    parts.append(f"""
SELECT nodes.node AS host_id,
       round(coalesce(h{iters}.s, 0.0), 6) + 0.0 AS hub,
       round(coalesce(a{iters}.s, 0.0), 6) + 0.0 AS auth
FROM nodes
LEFT JOIN h{iters} ON h{iters}.node = nodes.node
LEFT JOIN a{iters} ON a{iters}.node = nodes.node
ORDER BY host_id""")
    return "".join(parts)


@register("hits_hosts", _w111_oracle())
def w_hits_hosts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import hits

    docs = _read(spark, sf_dir, "documents")
    edges = docs.select((F.col("doc_id") % 20).alias("src"),
                        ((F.col("doc_id") * 7 + 3) % 20).alias("dst"))
    out = hits(edges, iters=3)
    return (out.select(F.col("node").alias("host_id"),
                       (F.round("hub", 6) + 0.0).alias("hub"),
                       (F.round("auth", 6) + 0.0).alias("auth"))
            .orderBy("host_id"))


# ---------------------------------------------------------------------------
# w115 — geodesic polyline length per street (ST_Length(geography)):
# ordered vertex arrays fold through zip_with + aggregate haversine —
# array math in codegen, zero Python, zero extra shuffle. The oracle
# states the same sum as a lag-window over ordered vertices.
# ---------------------------------------------------------------------------

_W115_VERTS = """
SELECT DISTINCT o_orderkey % 300 AS street_id, o_custkey % 12 AS j,
       2.0 + 0.01 * (o_custkey % 12) + 0.001 * ((o_orderkey % 300) % 7) AS lon,
       45.0 + 0.002 * (((o_orderkey % 300) + (o_custkey % 12)) % 13) AS lat
FROM orders
"""

_W115_ORACLE = f"""
WITH v AS ({_W115_VERTS}),
d AS (
  SELECT street_id, lon, lat,
         lag(lon) OVER (PARTITION BY street_id ORDER BY j) AS plon,
         lag(lat) OVER (PARTITION BY street_id ORDER BY j) AS plat
  FROM v
)
SELECT street_id, CAST(count(*) AS INTEGER) AS n_verts,
       round(coalesce(sum(
         2 * 6371008.8 * asin(sqrt(
             pow(sin(radians(lat - plat) / 2), 2)
           + cos(radians(plat)) * cos(radians(lat))
           * pow(sin(radians(lon - plon) / 2), 2)))), 0.0), 3) AS length_m
FROM d GROUP BY street_id ORDER BY street_id
"""


@register("polyline_geodesic_length", _W115_ORACLE)
def w_polyline_length(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.geodesy import polyline_length_m

    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    v = spark.sql(_W115_VERTS)
    lines = (v.groupBy("street_id")
             .agg(F.sort_array(F.collect_list(
                 F.struct("j", "lon", "lat"))).alias("ordered"))
             .withColumn("verts", F.expr(
                 "transform(ordered, p -> array(p.lon, p.lat))")))
    return (lines.select(
        "street_id",
        F.size("verts").cast("int").alias("n_verts"),
        F.round(polyline_length_m("verts"), 3).alias("length_m"))
        .orderBy("street_id"))


# ---------------------------------------------------------------------------
# w121 — time-RANGE rolling window (RANGE BETWEEN INTERVAL 1 HOUR
# PRECEDING AND CURRENT ROW) per user: rangeBetween over epoch
# seconds makes Spark's numeric frame exactly the SQL interval frame
# (both bounds inclusive, ties are peers). Partitioned window — one
# exchange on user_id, no self-join blowup.
# ---------------------------------------------------------------------------

_W121_ORACLE = """
SELECT event_id, user_id, ts,
       CAST(count(*) OVER w AS BIGINT) AS n_in_window,
       round(avg(value) OVER w, 6) AS avg_in_window
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW)
ORDER BY event_id
"""


@register("rolling_time_window_avg", _W121_ORACLE)
def w_rolling_time_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import time_range_rolling

    ev = _read(spark, sf_dir, "events")
    return (time_range_rolling(ev, "user_id", "ts", "value", seconds=3600)
            .select("event_id", "user_id", "ts",
                    "n_in_window", "avg_in_window")
            .orderBy("event_id"))


# ---------------------------------------------------------------------------
# w123 — k-core decomposition (k=5) of the host graph: iterative
# peeling to the unique fixpoint — the dense-subgraph screen (link
# farms are high-core). The fixture embeds an 8-clique inside a
# sparse deterministic graph so peeling is GRADUAL (14 rounds at this
# scale) and the surviving core is non-trivial. The engine iterates
# to the true fixpoint; the oracle unrolls 16 peel rounds as chained
# CTEs — two more than the fixture needs, and extra rounds past the
# fixpoint are no-ops, so both agree exactly.
# ---------------------------------------------------------------------------

_W123_EDGES = """
und AS MATERIALIZED (
  SELECT DISTINCT u, v FROM (
    SELECT u, v FROM raw WHERE u != v
    UNION ALL SELECT v, u FROM raw WHERE u != v)
)"""

_W123_RAW = """
raw AS MATERIALIZED (
  SELECT doc_id % 40 AS u, (doc_id*11+5) % 40 AS v FROM documents
  UNION ALL SELECT doc_id % 40, (doc_id*doc_id + 7) % 40 FROM documents
  UNION ALL SELECT (doc_id*3+1) % 40, (doc_id*17+2) % 40 FROM documents
  WHERE doc_id % 3 = 0
  UNION ALL SELECT t1.i, t2.i FROM range(8) t1(i), range(8) t2(i)
  WHERE t1.i < t2.i
)"""


def _w123_oracle(k: int = 5, rounds: int = 16) -> str:
    parts = [f"WITH {_W123_RAW}, {_W123_EDGES},",
             "a0 AS MATERIALIZED (SELECT DISTINCT u AS node FROM und)"]
    for i in range(1, rounds + 1):
        parts.append(f""",
a{i} AS MATERIALIZED (
  SELECT e.u AS node, count(*) AS d
  FROM und e
  JOIN a{i-1} x ON x.node = e.u
  JOIN a{i-1} y ON y.node = e.v
  GROUP BY e.u HAVING count(*) >= {k})""")
    parts.append(f"""
SELECT node, CAST(d AS BIGINT) AS core_degree
FROM a{rounds} ORDER BY node""")
    return "".join(parts)


@register("kcore_nodes", _w123_oracle())
def w_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import k_core

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    raw = spark.sql(
        "WITH " + _W123_RAW.replace(" MATERIALIZED", "")
        .replace("range(8) t1(i), range(8) t2(i)",
                 "range(8) t1, range(8) t2")
        .replace("t1.i", "t1.id").replace("t2.i", "t2.id")
        + " SELECT * FROM raw")
    return (k_core(raw, 5, src="u", dst="v")
            .orderBy("node"))


# ---------------------------------------------------------------------------
# w125 — raster zonal statistics: a deterministic 421x20 value grid
# (cell centers offset so none touches a zone edge) rolled up per
# commune by center-in-zone through the PIP spatial_join — the
# classic raster-x-vector analytics op, riding the join's broadcast/
# shuffle probe and skew machinery. The oracle states center-in-zone
# as strict half-plane tests against the commune VALUES table.
# ---------------------------------------------------------------------------

_W125_X0 = synth.REG0 - 2 * synth.W
_W125_Y0 = synth.CY0
_W125_CS = 499.0


def _w125_cells(dialect: str) -> str:
    if dialect == "duckdb":
        grid = "FROM range(421) i(gi) CROSS JOIN range(20) j(gj)"
        gi, gj = "i.gi", "j.gj"
    else:
        grid = "FROM range(421) AS i CROSS JOIN range(20) AS j"
        gi, gj = "i.id", "j.id"
    return f"""
cells AS (
  SELECT {_W125_X0!r} + ({gi} + 0.5) * {_W125_CS!r} AS x,
         {_W125_Y0!r} + ({gj} + 0.5) * {_W125_CS!r} AS y,
         CAST((({gi} * 7 + {gj} * 13) % 100) AS DOUBLE) / 10.0 AS val
  {grid}
)"""


_W125_ORACLE = f"""
WITH {_w125_cells('duckdb')}
SELECT c.insee_com,
       CAST(count(*) AS BIGINT) AS n_cells,
       round(avg(g.val), 6) AS mean_val,
       round(sum(g.val), 6) AS sum_val
FROM cells g
JOIN {synth.communes_values_sql()}
  ON g.x > c.xmin AND g.x < c.xmax AND g.y > c.ymin AND g.y < c.ymax
GROUP BY c.insee_com ORDER BY c.insee_com
"""


@register("zonal_stats", _W125_ORACLE)
def w_zonal_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import zonal_stats

    cells = spark.sql("WITH " + _w125_cells("spark") + " SELECT * FROM cells")
    polys = synth.commune_polygons_df(spark)
    return (zonal_stats(cells, polys, zone_id="insee_com", zoom=15,
                        split_refine=True)
            .orderBy("insee_com"))


# ---------------------------------------------------------------------------
# w126 — 3x3 focal mean on the sparse event-derived tile raster (map
# algebra): absent neighbors contribute nothing; one 9-offset explode
# + partial-agg groupBy + semi-join back to the input cell set, so
# shuffle volume is 9x the OCCUPIED cells regardless of raster
# extent. The oracle is the textbook neighborhood self-join.
# ---------------------------------------------------------------------------


def _w126_cells(dialect: str) -> str:
    cell = "611.4962261962891"
    return f"""
pts AS ({synth.points_select_sql(dialect, "events")}),
cells AS (
  SELECT DISTINCT CAST(floor((x - (-20037508.34)) / {cell}) AS BIGINT) AS tx,
         CAST(floor((20037508.34 - y) / {cell}) AS BIGINT) AS ty
  FROM pts
),
vals AS (
  SELECT tx, ty, CAST(((tx * 7 + ty * 13) % 100) AS DOUBLE) / 10.0 AS val
  FROM cells
)"""


_W126_ORACLE = f"""
WITH {_w126_cells('duckdb')}
SELECT a.tx, a.ty,
       CAST(count(*) AS BIGINT) AS n_neighbors,
       round(avg(b.val), 6) AS focal_mean
FROM vals a JOIN vals b
  ON b.tx BETWEEN a.tx - 1 AND a.tx + 1
 AND b.ty BETWEEN a.ty - 1 AND a.ty + 1
GROUP BY a.tx, a.ty ORDER BY a.tx, a.ty
"""


@register("raster_focal_mean", _W126_ORACLE)
def w_focal_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.raster import focal_mean

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    vals = spark.sql("WITH " + _w126_cells("spark") + " SELECT * FROM vals")
    return focal_mean(vals).orderBy("tx", "ty")


# ---------------------------------------------------------------------------
# w131 — KMV distinct-count sketch: per-event-type distinct-user
# estimate from the bottom-32 content-derived hashes, reported next to
# the exact count so the estimator's error is visible in the result.
# The oracle replays the identical md5 -> 52-bit uniform -> rank-k
# pipeline; groups that don't fill the sketch take the exact branch.
# ---------------------------------------------------------------------------

_W131_ORACLE = """
WITH d AS (
  SELECT DISTINCT event_type,
         (CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
               AS UBIGINT) + 0.5) / 4503599627370496.0 AS u
  FROM events
),
r AS (SELECT event_type, u,
             row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
      FROM d),
s AS (SELECT event_type,
             CAST(count(*) FILTER (WHERE rn <= 32) AS BIGINT) AS sketch_size,
             max(CASE WHEN rn = 32 THEN u END) AS uk
      FROM r GROUP BY event_type),
x AS (SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT)
             AS exact_distinct
      FROM events GROUP BY event_type)
SELECT s.event_type, x.exact_distinct, s.sketch_size,
       round(CASE WHEN s.sketch_size < 32 THEN s.sketch_size * 1.0
                  ELSE 31.0 / s.uk END, 6) AS kmv_estimate
FROM s JOIN x USING (event_type) ORDER BY event_type
"""


@register("kmv_distinct_users", _W131_ORACLE)
def w_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.sketches import kmv_distinct

    ev = _read(spark, sf_dir, "events")
    est = kmv_distinct(ev, "event_type", "user_id", k=32)
    exact = (ev.groupBy("event_type")
             .agg(F.countDistinct("user_id").alias("exact_distinct")))
    return (est.join(exact, "event_type")
            .select("event_type", "exact_distinct", "sketch_size",
                    "kmv_estimate")
            .orderBy("event_type"))


# ---------------------------------------------------------------------------
# w133 — hexagonal cell binning (H3-style axial cells via cube
# rounding): event points bucketed to 700 m pointy-top hexes, count
# per cell. Engine and oracle consume the SAME generated step
# expressions (geo/hexgrid.hex_steps), so cell ids agree bit-for-bit.
# ---------------------------------------------------------------------------


def _w133_sql(dialect: str) -> str:
    from bano_spark.geo.hexgrid import hex_cells_cte

    pts = synth.points_select_sql(dialect, "events")
    return (f"WITH pts AS ({pts}),\n"
            + hex_cells_cte("pts", 700.0, keep="event_id")
            + "\nSELECT hq, hr, CAST(count(*) AS BIGINT) AS n_points\n"
              "FROM hexed_out GROUP BY hq, hr ORDER BY hq, hr")


@register("hex_bin_counts", _w133_sql("duckdb"))
def w_hex_bin(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.geo.hexgrid import hex_bin

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    pts = spark.sql(synth.points_select_sql("spark", "events"))
    return (hex_bin(pts, 700.0)
            .groupBy("hq", "hr")
            .agg(F.count("*").alias("n_points"))
            .orderBy("hq", "hr"))


# ---------------------------------------------------------------------------
# w134 — weighted single-source shortest paths (Bellman-Ford): the
# engine relaxes to the fixpoint with per-round localCheckpoints; the
# oracle unrolls 12 relax rounds as chained CTEs (the 37-node dense
# fixture converges in ~5; extra rounds past the fixpoint are no-ops,
# the kcore_nodes discipline). Distances are sums of small integers
# carried as doubles — exact in both engines.
# ---------------------------------------------------------------------------

_W134_EDGES = """
e AS (
  SELECT doc_id % 37 AS u, (doc_id * 13 + 3) % 37 AS v,
         CAST(1 + (doc_id % 7) AS DOUBLE) AS w
  FROM documents WHERE doc_id % 5 != 4
  UNION ALL
  SELECT doc_id % 37, (doc_id * doc_id + 5) % 37,
         CAST(1 + ((doc_id * 3) % 4) AS DOUBLE)
  FROM documents WHERE doc_id % 3 = 0
)"""


def _w134_oracle(rounds: int = 12) -> str:
    parts = [f"WITH {_W134_EDGES},",
             """
sym AS MATERIALIZED (
  SELECT a, b, min(w) AS w FROM (
    SELECT u AS a, v AS b, w FROM e WHERE u != v
    UNION ALL SELECT v, u, w FROM e WHERE u != v)
  GROUP BY a, b),
d0 AS (SELECT 0 AS node, CAST(0.0 AS DOUBLE) AS dist)"""]
    for i in range(1, rounds + 1):
        parts.append(f""",
d{i} AS MATERIALIZED (
  SELECT node, min(dist) AS dist FROM (
    SELECT node, dist FROM d{i-1}
    UNION ALL
    SELECT s.b AS node, d.dist + s.w AS dist
    FROM sym s JOIN d{i-1} d ON d.node = s.a)
  GROUP BY node)""")
    parts.append(f"""
SELECT CAST(node AS BIGINT) AS node, CAST(dist AS DOUBLE) AS dist
FROM d{rounds} ORDER BY node""")
    return "".join(parts)


@register("sssp_weighted", _w134_oracle())
def w_sssp(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import sssp_weighted

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    edges = spark.sql("WITH " + _W134_EDGES + " SELECT * FROM e")
    seeds = spark.range(1).select(F.lit(0).cast("bigint").alias("node"))
    out = sssp_weighted(edges, seeds, src="u", dst="v", weight="w")
    return (out.select(F.col("node").cast("bigint").alias("node"),
                       F.col("dist").cast("double").alias("dist"))
            .orderBy("node"))


# ---------------------------------------------------------------------------
# w135 — hex k-ring smoothing (the north-star's "H3 k-ring
# neighborhood" op on the real hex lattice): deterministic per-cell
# values over the occupied event cells, mean over each cell's
# radius-1 hex disk counting only occupied neighbors. The oracle is
# the textbook hex-distance self-join
# (max(|dq|, |dr|, |dq+dr|) <= 1); the engine is the 7-offset explode
# whose shuffle scales with occupied cells, not pairs.
# ---------------------------------------------------------------------------


def _w135_vals(dialect: str) -> str:
    from bano_spark.geo.hexgrid import hex_cells_cte

    pts = synth.points_select_sql(dialect, "events")
    return (f"pts AS ({pts}),\n"
            + hex_cells_cte("pts", 700.0, keep="event_id")
            + """,
cells AS (SELECT hq, hr FROM hexed_out GROUP BY hq, hr),
vals AS (
  SELECT hq, hr,
         CAST(((hq * 7 + hr * 13 + 100000000) % 100) AS DOUBLE) / 10.0 AS val
  FROM cells
)""")


_W135_ORACLE = f"""
WITH {_w135_vals('duckdb')}
SELECT a.hq, a.hr, CAST(count(*) AS BIGINT) AS n_neighbors,
       round(avg(b.val), 6) AS ring_mean
FROM vals a JOIN vals b
  ON greatest(abs(a.hq - b.hq), abs(a.hr - b.hr),
              abs((a.hq + a.hr) - (b.hq + b.hr))) <= 1
GROUP BY a.hq, a.hr ORDER BY a.hq, a.hr
"""


@register("hex_kring_smooth", _W135_ORACLE)
def w_hex_kring(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.geo.hexgrid import hex_kring_smooth

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    vals = spark.sql("WITH " + _w135_vals("spark") + " SELECT * FROM vals")
    return (hex_kring_smooth(vals, k=1)
            .select("hq", "hr", "n_neighbors", "ring_mean")
            .orderBy("hq", "hr"))


# ---------------------------------------------------------------------------
# w137 — PIP join against polygons WITH interior rings (donut
# communes — the enclave case PostGIS multipolygons encode): 10 zones
# whose outer ring is a region strip and whose hole is an interior
# box; points inside a hole must NOT match. The engine composes two
# runs of the flagship spatial_join (outer match minus hole
# anti-join); the oracle states outer-box containment AND NOT
# hole-box containment directly. Zone bounds are emitted as shared
# Python-formatted literals so both engines compare identical
# doubles; synth points carry fractional offsets so no point ever
# lies on a ring edge.
# ---------------------------------------------------------------------------


def _w137_zone_rows() -> list[tuple]:
    rows = []
    for i in range(10):
        x0 = synth.REG0 + i * synth.W
        x1 = x0 + synth.W
        y0, y1 = synth.CY0, synth.CY1
        rows.append((f"Z{i:02d}", x0, y0, x1, y1,
                     x0 + 3000.0, y0 + 3000.0, x1 - 3000.0, y0 + 6000.0))
    return rows


def _w137_zones_sql() -> str:
    vals = ",\n    ".join(
        "('{}',{!r},{!r},{!r},{!r},{!r},{!r},{!r},{!r})".format(*r)
        for r in _w137_zone_rows())
    return ("(VALUES\n    " + vals +
            ") AS z(zone_id, xmin, ymin, xmax, ymax,"
            " hxmin, hymin, hxmax, hymax)")


_W137_ORACLE = f"""
WITH pts AS ({synth.points_select_sql('duckdb', 'events')})
SELECT z.zone_id, CAST(count(*) AS BIGINT) AS n_points
FROM pts p JOIN {_w137_zones_sql()}
  ON p.x > z.xmin AND p.x < z.xmax AND p.y > z.ymin AND p.y < z.ymax
 AND NOT (p.x > z.hxmin AND p.x < z.hxmax
          AND p.y > z.hymin AND p.y < z.hymax)
GROUP BY z.zone_id ORDER BY z.zone_id
"""


@register("pip_donut_holes", _W137_ORACLE)
def w_pip_donut(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    from bano_spark.operators.pip_join import spatial_join_with_holes

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    pts = spark.sql(synth.points_select_sql("spark", "events"))
    schema = T.StructType([
        T.StructField("zone_id", T.StringType()),
        T.StructField("verts", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ])
    outer, inner = [], []
    for zid, x0, y0, x1, y1, hx0, hy0, hx1, hy1 in _w137_zone_rows():
        outer.append((zid, [[x0, y0], [x1, y0], [x1, y1], [x0, y1],
                            [x0, y0]]))
        inner.append((zid + "_h", zid,
                      [[hx0, hy0], [hx1, hy0], [hx1, hy1], [hx0, hy1],
                       [hx0, hy0]]))
    polys = spark.createDataFrame(outer, schema)
    holes = spark.createDataFrame(
        inner, T.StructType([T.StructField("hole_id", T.StringType()),
                             schema[0], schema[1]]))
    joined = spatial_join_with_holes(
        pts, polys, holes, point_key="event_id", id_col="zone_id",
        zoom=12)
    return (joined.groupBy("zone_id")
            .agg(F.count("*").alias("n_points"))
            .orderBy("zone_id"))


# ---------------------------------------------------------------------------
# w138 — mergeable-sketch set algebra: pairwise distinct-user union /
# intersection estimates between event types from their bottom-32 KMV
# sketches alone (Beyer et al. 2007) — the property that makes KMV a
# distributed sketch (partial sketches merge; data is never re-read).
# The oracle replays the identical hash -> bottom-k -> merge -> count
# pipeline with DuckDB list functions.
# ---------------------------------------------------------------------------

_W138_ORACLE = """
WITH d AS (
  SELECT DISTINCT event_type,
         (CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 13))
               AS UBIGINT) + 0.5) / 4503599627370496.0 AS u
  FROM events
),
r AS (SELECT event_type, u,
             row_number() OVER (PARTITION BY event_type ORDER BY u) AS rn
      FROM d),
sk AS (SELECT event_type, list(u ORDER BY u) AS sketch
       FROM r WHERE rn <= 32 GROUP BY event_type),
pairs AS (
  SELECT a.event_type AS g1, b.event_type AS g2,
         a.sketch AS sa, b.sketch AS sb,
         list_sort(list_distinct(list_concat(a.sketch, b.sketch)))[1:32] AS m
  FROM sk a JOIN sk b ON a.event_type < b.event_type
)
SELECT g1, g2,
       round(CASE WHEN len(m) >= 32 THEN 31.0 / m[32]
                  ELSE CAST(len(m) AS DOUBLE) END, 6) AS union_est,
       round(CAST(len(list_filter(m, x -> list_contains(sa, x)
                                     AND list_contains(sb, x))) AS DOUBLE)
             / CAST(len(m) AS DOUBLE)
             * CASE WHEN len(m) >= 32 THEN 31.0 / m[32]
                    ELSE CAST(len(m) AS DOUBLE) END, 6) AS intersect_est
FROM pairs ORDER BY g1, g2
"""


@register("kmv_set_estimates", _W138_ORACLE)
def w_kmv_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.sketches import kmv_set_estimates, kmv_sketches

    ev = _read(spark, sf_dir, "events")
    sk = kmv_sketches(ev, "event_type", "user_id", k=32)
    return (kmv_set_estimates(sk, "event_type", k=32)
            .orderBy("g1", "g2"))


# ---------------------------------------------------------------------------
# w139 — synchronous label propagation communities (4 pinned rounds —
# sync LPA can oscillate, so the round count is part of the operator
# contract and the oracle unrolls exactly the same 4 rounds): two
# embedded 8-cliques + sparse modular edges on 40 nodes; each round
# every node adopts the min label among its neighbors' most frequent
# labels. Completes the community family next to components, k-core
# and the rank family.
# ---------------------------------------------------------------------------


def _w139_edges(dialect: str) -> str:
    if dialect == "duckdb":
        grid = "FROM range(8) t1(i), range(8) t2(i) WHERE t1.i < t2.i"
        a, b = "t1.i", "t2.i"
    else:
        grid = "FROM range(8) t1, range(8) t2 WHERE t1.id < t2.id"
        a, b = "t1.id", "t2.id"
    return f"""
raw AS (
  SELECT doc_id % 40 AS u, (doc_id * 11 + 5) % 40 AS v
  FROM documents WHERE doc_id % 4 = 1
  UNION ALL SELECT {a}, {b} {grid}
  UNION ALL SELECT 20 + {a}, 20 + {b} {grid}
),
und AS (
  SELECT DISTINCT u, v FROM (
    SELECT u, v FROM raw WHERE u != v
    UNION ALL SELECT v, u FROM raw WHERE u != v)
)"""


def _w139_oracle(rounds: int = 4) -> str:
    parts = [f"WITH {_w139_edges('duckdb')},",
             "l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM und)"]
    for i in range(1, rounds + 1):
        parts.append(f""",
cnt{i} AS MATERIALIZED (
  SELECT e.v AS node, l.lbl, count(*) AS c
  FROM und e JOIN l{i-1} l ON l.node = e.u GROUP BY 1, 2),
pick{i} AS (
  SELECT node, min(lbl) AS lbl FROM (
    SELECT node, lbl, c, max(c) OVER (PARTITION BY node) AS mc FROM cnt{i})
  WHERE c = mc GROUP BY node),
l{i} AS MATERIALIZED (
  SELECT a.node, coalesce(p.lbl, a.lbl) AS lbl
  FROM l{i-1} a LEFT JOIN pick{i} p USING (node))""")
    parts.append(f"""
SELECT CAST(node AS BIGINT) AS node, CAST(lbl AS BIGINT) AS label
FROM l{rounds} ORDER BY node""")
    return "".join(parts)


@register("label_propagation", _w139_oracle())
def w_label_prop(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.graph import label_propagation

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    edges = spark.sql("WITH " + _w139_edges("spark")
                      + " SELECT * FROM und")
    out = label_propagation(edges, src="u", dst="v", rounds=4)
    return (out.select(F.col("node").cast("bigint").alias("node"),
                       F.col("lbl").cast("bigint").alias("label"))
            .orderBy("node"))


# ---------------------------------------------------------------------------
# w141 — per-user EWMA (final smoothed event value): the sequential
# recursion s_i = a*v_i + (1-a)*s_{i-1} run as one aggregate() fold
# per key — no window, no pow() (libm-dependent); alpha = 0.5 so
# every step is exact halving. The oracle replays the IDENTICAL fold
# with DuckDB list_reduce over the same (ts, event_id)-ordered lists.
# ---------------------------------------------------------------------------

_W141_ORACLE = """
WITH s AS (
  SELECT user_id, list(value ORDER BY ts, event_id) AS vs
  FROM events GROUP BY user_id
)
SELECT user_id, CAST(len(vs) AS BIGINT) AS n_rows,
       round(list_reduce(vs, (s, v) -> CAST(0.5 AS DOUBLE) * v
                                       + CAST(0.5 AS DOUBLE) * s), 6)
           AS ewma
FROM s ORDER BY user_id
"""


@register("ewma_per_user", _W141_ORACLE)
def w_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.temporal import ewma_last

    ev = _read(spark, sf_dir, "events")
    out = ewma_last(ev, "user_id", ["ts", "event_id"], "value", alpha=0.5)
    return (out.select("user_id", "n_rows",
                       F.round("ewma", 6).alias("ewma"))
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# w142 — cumul dept rollup (C9 end-to-end): pages -> extract ->
# pages_to_cumul, asserting the dept column obeys the overseas rule
# (helpers.py:97-101 — 3-char 97x codes) on the DOM commune the synth
# geography carries in slot 4 (VERDICT r3 item 2). The oracle re-derives
# every page field from event_id with the same integer arithmetic and
# applies the rule independently.
# ---------------------------------------------------------------------------

_W142_INSEE_N = [c[0] for c in synth.COMMUNES[:10]]
_W142_INSEE_A = [c[0] for c in synth.COMMUNES[11:20]]

_W142_ORACLE = f"""
WITH base AS (
  SELECT event_id, (event_id * 2654435761) % 2147483648 AS u,
         event_id % 4 AS kidx
  FROM events
),
recs AS (
  SELECT CASE WHEN u % 16 < 10
              THEN CASE {" ".join(f"WHEN u % 16 = {i} THEN '{v}'" for i, v in enumerate(_W142_INSEE_N))} END
              ELSE CASE {" ".join(f"WHEN (u // 16) % 9 = {i} THEN '{v}'" for i, v in enumerate(_W142_INSEE_A))} END
         END AS insee_com
  FROM base WHERE kidx != 3
)
SELECT CASE WHEN substring(insee_com, 1, 2) = '97'
            THEN substring(insee_com, 1, 3)
            ELSE substring(insee_com, 1, 2) END AS dept,
       COUNT(*) AS n
FROM recs GROUP BY 1 ORDER BY dept
"""


@register("cumul_dept_rollup", _W142_ORACLE)
def w_cumul_dept(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.pipelines import pages_to_cumul
    from bano_spark.sources.pages import synth_pages_sql

    ids = _read(spark, sf_dir, "events").select(F.col("event_id").alias("id"))
    pages = synth_pages_sql(spark, 0, ids=ids)
    cumul = pages_to_cumul(pages, normalize=False)
    return (cumul.groupBy("dept").agg(F.count(F.lit(1)).alias("n"))
            .orderBy("dept"))


# ---------------------------------------------------------------------------
# w143 — CHARACTER-level exact-substring duplicate spans via
# content-defined chunking (Lee et al. 2021 exact-substring dedup,
# approximated at CDC-chunk rather than suffix-array granularity —
# VERDICT r3 missing #2). The corpus plants shifted partial copies
# (a z-prefix of varying length + a 300-char slice of the original)
# AND single-giant-token duplicates (space-stripped 120-char slices
# shared by two docs at different offsets) that word-13-grams provably
# cannot see: a 1-token span has no 13-gram. The oracle restates the
# whole operator — boundary rule, chunk hashing, run merge, min-span —
# in DuckDB.
# ---------------------------------------------------------------------------

_W143_CORPUS = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         repeat('z', CAST(doc_id % 7 AS INT) + 1) || substr(text, 11, 300) AS text
  FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 2000000 AS doc_id,
         repeat('y', CAST(doc_id % 3 AS INT) + 1)
           || replace(substr(text, 11, 120), ' ', '') || ' tail marker' AS text
  FROM documents WHERE doc_id % 11 = 0
  UNION ALL
  SELECT doc_id + 3000000 AS doc_id,
         'lead bit ' || replace(substr(text, 11, 120), ' ', '') AS text
  FROM documents WHERE doc_id % 11 = 0
)"""

_W143_ORACLE = f"""
WITH {_W143_CORPUS},
bounds AS (
  SELECT doc_id, text AS t,
         list_sort(list_distinct(list_concat(
             [0, length(text)],
             CASE WHEN length(text) >= 16 THEN
                  list_filter(generate_series(16, length(text)),
                              i -> substr(md5(substr(text, CAST(i AS INT) - 15, 16)), 1, 1) = '0')
             ELSE [] END))) AS bs
  FROM corpus
),
pos AS (SELECT doc_id, t, unnest(bs) AS p FROM bounds),
ch AS (
  SELECT doc_id, p AS s,
         lead(p) OVER (PARTITION BY doc_id ORDER BY p) AS e, t
  FROM pos
),
chunks AS (
  SELECT doc_id, s, e, md5(substr(t, CAST(s AS INT) + 1, CAST(e - s AS INT))) AS h
  FROM ch WHERE e IS NOT NULL AND e > s
),
dup AS (SELECT h FROM chunks GROUP BY h HAVING COUNT(DISTINCT doc_id) > 1),
d AS (SELECT chunks.* FROM chunks JOIN dup USING (h)),
runs AS (
  SELECT *, CASE WHEN lag(e) OVER (PARTITION BY doc_id ORDER BY s) = s
                 THEN 0 ELSE 1 END AS brk
  FROM d
),
runs2 AS (
  SELECT *, SUM(brk) OVER (PARTITION BY doc_id ORDER BY s) AS rid FROM runs
),
spans AS (
  SELECT doc_id, MIN(s) AS s, MAX(e) AS e
  FROM runs2 GROUP BY doc_id, rid
  HAVING MAX(e) - MIN(s) >= 40
)
SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
       CAST(SUM(e - s) AS BIGINT) AS dup_chars
FROM spans GROUP BY doc_id ORDER BY doc_id
"""


@register("cdc_dup_spans", _W143_ORACLE)
def w_cdc_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import cdc_dup_spans

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    corpus = spark.sql("WITH " + _W143_CORPUS + " SELECT * FROM corpus")
    return cdc_dup_spans(corpus).orderBy("doc_id")
