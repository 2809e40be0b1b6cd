"""Multi-source address conciliation (the reference's export megaquery).

DataFrame re-expression of `bano/sql/export_csv_dept.sql` (SURVEY.md
J9/W3/A1/A2/C3/F6) as ONE keyed fold, the shape of the reference's
Adresses dict keyed by (FANTOIR, number) (bano/models.py:22-165): rows
group by (fantoir, canonical number) and each source side keeps a single
pick — OSM, BAL with non-zero coordinates, BAN with non-zero
coordinates. A row whose lat or lon is null is absent from its side.

Precedence goes by presence: the first present side of OSM > BAL > BAN
supplies numero/lat/lon, and the key emits nothing when that side has no
row with a valid number (the reference's numero filters). The other
sides only fill the street name (voie_osm priority, then voie_autre) and
the postcode (OSM, then BAN). The source label is the reference's CASE
chain (OSM / O+O / OD / C+O / CAD).

Each side's pick is the `min` of a struct (invalid?, numero, lat, lon,
voie_osm, voie_autre, code_postal): valid rows first, then the
reference's ORDER BY numero, with the remaining fields breaking every
tie, so the output does not depend on row order or partitioning.
Everything is built-in column expressions (no UDF, no join, no window).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F


def canonical_num(col: Column) -> Column:
    """The reference's housenumber canonical form (export_csv_dept.sql:8):
    strip leading zeros, BIS->B TER->T QUATER/QUAT->Q, drop spaces,
    'à'->'-', ';'->',', drop double quotes."""
    c = F.regexp_replace(F.upper(col), "^0*", "")
    for a, b in (("BIS", "B"), ("TER", "T"), ("QUATER", "Q"), ("QUAT", "Q"),
                 (" ", ""), ("à", "-"), (";", ","), ('"', "")):
        c = F.replace(c, F.lit(a), F.lit(b))
    return c


def split_multinumber(col: Column) -> Column:
    """C4: multi-housenumber strings '2,4' '2-8' '2à6' -> array to
    explode (bano/core.py:141,151 translate + split)."""
    return F.split(F.translate(col, ",à;-/*", "$$$$$$"), r"\$")


_VALID_NUM = r"^[0-9]{1,4}( ?[A-Z]?.*)?"
_JUNK_NUM = r".[0-9 .-]{9,}"


def conciliate(cumul: DataFrame) -> DataFrame:
    """`cumul` is cumul_adresses-shaped: (insee_com, dept, source, fantoir,
    numero, voie_osm, voie_autre, code_postal, lon, lat); rows with a
    null or empty fantoir are left out. Returns the
    export rows (id, numero, voie, code_post, ville, source, lat, lon)
    ordered by id — the reference's CSV export contract
    (export_csv_dept.sql:95-106)."""
    numero = F.upper(F.replace(F.col("numero"), F.lit(" "), F.lit("")))
    # never null: num > '0' below implies a non-null numero
    bad = ~(numero.rlike(_VALID_NUM) & (numero != "99999")
            & ~numero.rlike(_JUNK_NUM))
    nonzero = (F.col("lon") != 0) & (F.col("lat") != 0)
    sides = {
        "o": (F.col("source") == "OSM")
        & F.col("lat").isNotNull() & F.col("lon").isNotNull(),
        "od": (F.col("source") == "BAL") & nonzero,
        "c": (F.col("source") == "BAN") & nonzero,
    }
    # an empty code is absent, like null (pages_to_cumul writes a missing
    # ref:FR:FANTOIR as ''): as a key it would merge every such address
    # in France that shares a house number
    rows = cumul.filter(F.col("fantoir") != "").select(
        "fantoir",
        F.coalesce(canonical_num(F.col("numero")), F.lit("")).alias("num"),
        *[cond.alias(f"is_{s}") for s, cond in sides.items()],
        F.struct(bad.alias("bad"), numero.alias("numero"), "lat", "lon",
                 "voie_osm", "voie_autre", "code_postal").alias("row"),
    ).filter(F.col("num") > "0")
    g = rows.groupBy("fantoir", "num").agg(
        *[F.min(F.when(F.col(f"is_{s}"), F.col("row"))).alias(s) for s in sides])

    best = F.coalesce(F.col("o"), F.col("od"), F.col("c"))
    voie = F.coalesce(
        *[F.replace(F.col(f"{s}.voie_osm"), F.lit("’"), F.lit("'")) for s in sides],
        F.col("od.voie_autre"), F.col("c.voie_autre"))
    for a, b in (('"', "'"), (", ", " "), (",", " ")):
        voie = F.replace(voie, F.lit(a), F.lit(b))
    src = (
        F.when(F.col("o").isNotNull(), "OSM")
        .when(F.col("od.voie_osm") != F.col("od.voie_autre"), "O+O")
        .when(F.col("od").isNotNull(), "OD")
        .when(F.col("c.voie_osm") != "", "C+O")
        .otherwise("CAD")
    )
    return g.filter(~best.getField("bad")).select(
        F.concat(F.col("fantoir"), F.lit("-"), F.col("num")).alias("id"),
        best.getField("numero").alias("numero"),
        voie.alias("voie"),
        F.coalesce(F.col("o.code_postal"), F.col("c.code_postal")).alias("code_post"),
        F.lit(None).cast("string").alias("ville"),
        src.alias("source"),
        best.getField("lat").alias("lat"),
        best.getField("lon").alias("lon"),
    ).orderBy("id")
