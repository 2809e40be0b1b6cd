"""Export sinks (S13-S15): unix-dialect CSV, NDJSON record kinds, TTL.

Byte-parity targets:
  * CSV: python csv.writer(dialect='unix', QUOTE_MINIMAL) — quote a
    field iff it contains the delimiter, the quote char, \\r or \\n;
    escape quotes by doubling (bano/export.py:94-99).
  * NDJSON: the reference hand-formats five record kinds with f-strings
    (export.py:151-184); we rebuild the exact byte layout with concat
    columns (keys in the same order, same spacing).
  * TTL: templated Turtle per row (export.py:101-145) including the
    reference's two quirks, kept deliberately for parity: the Lyon
    arrondissement range `range(69381, 69370)` is empty, and the else
    branch emits the literal text `{id}[0:5]` after the id.

All are column expressions — the export is a plain text write with
`orderBy` preserved (one file per departement via repartition on dept +
sortWithinPartitions when writing the full country)."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

QUOTE_NEEDED = '[",\n\r]'


def csv_field(col: Column) -> Column:
    """QUOTE_MINIMAL unix-dialect field encoding."""
    c = col.cast("string")
    quoted = F.concat(F.lit('"'), F.replace(c, F.lit('"'), F.lit('""')), F.lit('"'))
    return F.when(c.rlike(QUOTE_NEEDED), quoted).otherwise(F.coalesce(c, F.lit("")))


def csv_line(*cols: Column) -> Column:
    return F.concat_ws(",", *[csv_field(c) for c in cols])


def export_csv_lines(res: DataFrame) -> DataFrame:
    """Conciliation result (id, numero, voie, code_post, ville, source,
    lat, lon) -> one unix-CSV line per row, ordered by id (the
    reference drops the trailing geom column; ours never had it)."""
    cols = [F.col(c) for c in
            ("id", "numero", "voie", "code_post", "ville", "source", "lat", "lon")]
    return res.orderBy("id").select(csv_line(*cols).alias("line"))


def _jstr(c) -> Column:
    return c.cast("string") if isinstance(c, Column) else F.col(c).cast("string")


def json_postcode(c) -> Column:
    """';'-joined postcodes become a JSON array, else a JSON string
    (export.py:156-158)."""
    s = _jstr(c)
    arr = F.concat(F.lit('["'), F.replace(s, F.lit(";"), F.lit('", "')), F.lit('"]'))
    return F.when(s.contains(";"), arr).otherwise(F.concat(F.lit('"'), s, F.lit('"')))


def json_housenumbers(c: str) -> Column:
    """The A3 agg string 'num$lat$lon#...' -> {"num":{"lat":..,"lon":..},..}
    (export.py:165-166). ``c`` is the column name."""
    one = ("concat('\"', split_part(s, '$', 1), '\":{\"lat\":', "
           "split_part(s, '$', 2), ',\"lon\":', split_part(s, '$', 3), '}')")
    return F.expr(
        f"concat('{{', array_join(transform(split({c}, '#'), s -> {one}), ','), '}}')")


def json_voie_line(df: DataFrame, with_housenumbers: bool = True) -> DataFrame:
    """Street record kind (rapprochees / non rapprochees share the layout,
    export.py:160-176). Expects columns fantoir, citycode, type, name,
    postcode, lat, lon, cityname, departement, region, importance
    [, housenumbers]."""
    pieces = [
        F.lit('{"id":"'), _jstr("fantoir"),
        F.lit('","citycode":"'), _jstr("citycode"),
        F.lit('","type":"'), _jstr("type"),
        F.lit('","name":"'), _jstr("name"),
        F.lit('","postcode":'), json_postcode("postcode"),
        F.lit(',"lat":"'), _jstr("lat"),
        F.lit('","lon":"'), _jstr("lon"),
        F.lit('","city":"'), _jstr("cityname"),
        F.lit('","departement":"'), _jstr("departement"),
        F.lit('","region":"'), _jstr("region"),
        F.lit('","importance":'), _jstr("importance"),
    ]
    if with_housenumbers:
        pieces += [F.lit(',"housenumbers":'), json_housenumbers("housenumbers")]
    pieces += [F.lit("}")]
    return df.select(F.concat(*pieces).alias("line"))


def ttl_record(df: DataFrame) -> DataFrame:
    """Turtle per address row (export.py:129-145), quirks preserved."""
    insee5 = F.substring(F.col("id"), 1, 5)
    insee_int = insee5.cast("int")
    is_city3 = F.expr("instr('13 69 75', substring(id, 1, 2)) > 0")
    arrond = is_city3 & (
        insee_int.between(13201, 13216) | insee_int.between(75101, 75120)
        # Lyon range(69381, 69370) is empty in the reference — kept empty
    )
    location = F.when(
        arrond,
        F.concat(F.lit("locn:location <http://id.insee.fr/geo/arrondissementMunicipal/"),
                 insee5, F.lit("> ;")),
    ).otherwise(
        # reference writes the literal `{id}[0:5]` here (export.py:141) —
        # reproduced byte-for-byte
        F.concat(F.lit("locn:location <http://id.insee.fr/geo/commune/"),
                 F.col("id"), F.lit("[0:5]> ;")),
    )
    head = F.concat(
        F.lit("<http://id.osmfr.org/bano/"), _jstr("id"),
        F.lit(">  a locn:Address , gn:Feature ;\nlocn:fullAddress \""),
        _jstr("numero"), F.lit(" "), _jstr("voie"), F.lit(", "),
        _jstr("code_post"), F.lit(" "), _jstr("ville"),
        F.lit(", FRANCE\";\nlocn:addressId \""), _jstr("id"),
        F.lit("\" ;\nlocn:locatorDesignator \""), _jstr("numero"),
        F.lit("\" ;\nlocn:thoroughfare \""), _jstr("voie"),
        F.lit("\"@fr ;\nlocn:postalCode \""), _jstr("code_post"),
        F.lit("\" ;\nlocn:locatorName \""), _jstr("ville"),
        F.lit("\"@fr ;\nlocn:adminUnitL1 \"FR\" ;"),
    )
    tail = F.concat(
        F.lit("locn:geometry <geo:"), _jstr("lat"), F.lit(","), _jstr("lon"),
        F.lit(";u=0;crs=wgs84> ;\nlocn:geometry [a geo:Point ; geo:lat \""),
        _jstr("lat"), F.lit("\" ; geo:long \""), _jstr("lon"),
        F.lit("\" ] ;\nlocn:geometry [a gsp:Geometry; gsp:asWKT \"POINT("),
        _jstr("lon"), F.lit(" "), _jstr("lat"),
        F.lit(")\"^^gsp:wktLiteral ] ;\n."),
    )
    return df.orderBy("id").select(F.concat(head, location, tail).alias("line"))


def write_country_text(df: DataFrame, path: str,
                       order_cols: tuple[str, ...] = ("line",),
                       num_partitions: int | None = None) -> None:
    """Scalable globally-ordered text write for the full-France file:
    range-partition on the order key so part files are disjoint ordered
    slices — `cat part-*` in filename order reproduces the single
    ordered file without ever funnelling the country through one task
    (the r1 coalesce(1) path, VERDICT item 7)."""
    n = int(num_partitions or df.sparkSession.conf.get(
        "spark.sql.shuffle.partitions", "32"))
    (
        df.repartitionByRange(n, *order_cols)
        .sortWithinPartitions(*order_cols)
        .write.mode("overwrite")
        .text(path)
    )
