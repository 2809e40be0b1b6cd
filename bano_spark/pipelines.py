"""End-to-end pipelines: the reference's per-commune loop as ONE
DataFrame job (SURVEY.md §3.1).

`bano process_commune` iterates communes, loading each source with a
per-commune SQL template and folding rows into an in-memory dict
(bano/core.py:281-323). Here the whole country is one declarative plan:

    pages ──extract──> typed records (all sources at once)
          ──normalize─> canonical street keys (vectorized pandas UDF)
          ──cumul────> cumul_adresses-shaped rows
          ──conciliate> export rows by source priority (export_csv_dept.sql)
          ──csv lines─> unix-dialect export (byte layout of export.py)

Partition pruning on insee/dept replaces the `__com__` template
substitution; the `Adresses` dict becomes one groupBy over
(fantoir, number) in operators.conciliation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from . import synth
from .functions.codes import dept_from_insee
from .functions.normalize import normalize_udf
from .geo import tiles
from .operators import conciliation as conc
from .operators.export import export_csv_lines
from .operators.pip_join import spatial_join
from .sources.pages import extract_records

SOURCE_OF_KIND = {"ban": "BAN", "osm": "OSM", "bal": "BAL"}


def normalize_via_dictionary(df: DataFrame, col: str = "nom_voie",
                             out: str = "_norm") -> DataFrame:
    """Run the normalization UDF over DISTINCT names only, then broadcast
    the tiny dictionary back — the Spark-first shape of the reference's
    fantoir.Mapping dict (sources/fantoir.py:4-60). Street names repeat
    massively at corpus scale, so the pandas crossing shrinks from
    |rows| to |vocabulary|."""
    # non-nullable join key (same IsNotNull-pushdown pathology as
    # tiles.tile_x: a nullable key computed from the text parse gets its
    # null-check pushed below the projection, re-inlining the parse)
    df = df.withColumn(col, F.coalesce(F.col(col), F.lit("")))
    mapping = df.select(col).distinct().withColumn(out, normalize_udf(F.col(col)))
    return df.join(F.broadcast(mapping), col)


def pages_to_cumul(pages: DataFrame, normalize: bool = True) -> DataFrame:
    """Extract + normalize: pages -> cumul_adresses-shaped rows.

    FANTOIR-kind pages feed the registry loader (sources.fantoir), not
    the address cumul, so they are filtered here — mirroring the
    reference's per-source load dispatch (core.py:304-313)."""
    recs = extract_records(pages).filter(F.col("kind").isin(*SOURCE_OF_KIND))
    if normalize:
        recs = normalize_via_dictionary(recs, "nom_voie", "_norm")
        voie = F.coalesce(F.col("_norm"), F.lit(""))
    else:
        voie = F.col("nom_voie")
    # join keys are wrapped non-nullable (coalesce with '') so Catalyst
    # never pushes IsNotNull filters below this projection — with a
    # computed upstream (text parse) that re-inlines the whole
    # expression tree per key (see tiles.tile_x for the same pathology)
    return recs.select(
        F.coalesce(F.col("insee_com"), F.lit("")).alias("insee_com"),
        # C9 rule (helpers.py:97-101): 3-char dept for overseas 97x —
        # a fixed 2-char prefix would bucket every DOM commune as "97"
        F.coalesce(dept_from_insee(F.col("insee_com")), F.lit("")).alias("dept"),
        F.coalesce(F.col("fantoir"), F.lit("")).alias("fantoir"),
        F.upper(F.col("kind")).alias("source"),
        F.coalesce(F.col("numero"), F.lit("")).alias("numero"),
        voie.alias("voie_osm"),
        F.lit(None).cast("string").alias("voie_autre"),
        F.col("code_postal"),
        F.col("x").alias("lon"),
        F.col("y").alias("lat"),
    )


def process_all(pages: DataFrame) -> DataFrame:
    """pages -> conciliation export rows (id, numero, voie, code_post,
    ville, source, lat, lon), ordered by id."""
    return conc.conciliate(pages_to_cumul(pages))


def export_csv(pages: DataFrame) -> DataFrame:
    """pages -> unix-dialect CSV lines (S13), one per address."""
    return export_csv_lines(process_all(pages))


def pages_tile_rollup(pages: DataFrame, zoom: int = tiles.DEFAULT_ZOOM) -> DataFrame:
    """The north-rule pages job: pages -> extract -> PIP join against the
    level-8 commune polygons (cover cells at ``zoom``) -> per-commune
    (poly_insee, n_addresses, n_tiles) over the z16 tiles.

    split_refine keeps interior-cell candidates in the JVM; only the
    boundary-cell rows pay the Arrow refine round trip (BENCH.md)."""
    recs = extract_records(pages)
    # polygons carry insee_com; rename to avoid clashing with the record column
    polys = (synth.commune_polygons_df(pages.sparkSession)
             .filter(F.col("admin_level") == 8)
             .withColumnRenamed("insee_com", "poly_insee"))
    joined = spatial_join(recs.drop("insee_com"), polys, x="x", y="y",
                          id_col="poly_insee", verts_col="verts", zoom=zoom,
                          broadcast=True, split_refine=True)
    tiled = joined.select(
        "poly_insee",
        tiles.tile_x(F.col("x"), tiles.DEFAULT_ZOOM).alias("tx"),
        tiles.tile_y(F.col("y"), tiles.DEFAULT_ZOOM).alias("ty"))
    return tiled.groupBy("poly_insee").agg(
        F.count(F.lit(1)).alias("n_addresses"),
        F.countDistinct("tx", "ty").alias("n_tiles"))
