"""FANTOIR fixed-width record parsing (S6/C13).

Column positions are the reference's exact substr offsets
(/root/reference/sql/load_fantoir.sql:5-34), applied as pure
`substring` projections over a text scan — Catalyst prunes and the
whole parse stays in codegen. Header records are dropped with the same
NOT LIKE patterns.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

# (name, start, length) — 1-based, per load_fantoir.sql
FIELDS = [
    ("code_dir", 3, 1),
    ("code_com", 4, 3),
    ("id_voie", 7, 4),
    ("cle_rivoli", 11, 1),
    ("type_commune", 49, 1),
    ("caractere_rur", 50, 1),
    ("caractere_voie", 51, 1),
    ("caractere_pop", 52, 1),
    ("caractere_annul", 74, 1),
    ("date_annul", 75, 7),
    ("date_creation", 82, 7),
    ("code_majic", 104, 5),
    ("type_voie", 109, 1),
    ("ld_bati", 110, 1),
    ("dernier_mot", 113, 8),
]


def parse_fantoir(raw: DataFrame, col: str = "raw") -> DataFrame:
    """raw text lines -> typed fantoir_voie columns."""
    r = F.col(col)

    def sub(a: int, n: int) -> Column:
        return F.substring(r, a, n)

    code_dept = F.when(sub(1, 2) == "97", F.concat(sub(1, 2), sub(4, 1))).otherwise(sub(1, 2))
    out = raw.filter(~r.like("______ %") & ~r.like("___ %")).select(
        code_dept.alias("code_dept"),
        *[sub(a, n).alias(name) for name, a, n in FIELDS[:4]],
        F.concat(sub(1, 2), sub(4, 3)).alias("code_insee"),
        F.concat(sub(1, 2), sub(4, 3), sub(7, 4)).alias("fantoir"),
        F.concat(sub(1, 2), sub(4, 3), sub(7, 4), sub(11, 1)).alias("fantoir10"),
        F.rtrim(sub(12, 4)).alias("nature_voie"),
        F.rtrim(sub(16, 26)).alias("libelle_voie"),
        *[sub(a, n).alias(name) for name, a, n in FIELDS[4:8]],
        sub(60, 7).cast("int").alias("pop_a_part"),
        sub(67, 7).cast("int").alias("pop_fictive"),
        *[sub(a, n).alias(name) for name, a, n in FIELDS[8:]],
    )
    return out


def streets(parsed: DataFrame) -> DataFrame:
    """F7 street branch: drop annulled FANTOIR records, the reference's
    `caractere_annul NOT IN ('O','Q')` (bano/sources/fantoir.py:24).
    The fixed-width slot holds ' ' when not annulled; Postgres bpchar
    semantics make ' ' compare equal to '' so only real 'O'/'Q' marks
    drop — rtrim reproduces that here."""
    return parsed.filter(~F.rtrim(F.col("caractere_annul")).isin("O", "Q"))


def lieux_dits(parsed: DataFrame) -> DataFrame:
    """F7 lieux-dits branch: keep only non-annulled records,
    `COALESCE(caractere_annul,'') = ''` under bpchar semantics
    (bano/sources/fantoir.py:43), with the trimmed display label and
    ld_bati the place pipeline consumes (fantoir.py:37-48)."""
    kept = parsed.filter(
        F.rtrim(F.coalesce(F.col("caractere_annul"), F.lit(""))) == "")
    label = F.trim(F.concat_ws(" ", F.rtrim("nature_voie"),
                               F.rtrim("libelle_voie")))
    return kept.withColumn("nom", label) \
        .withColumn("ld_bati_flag", F.rtrim("ld_bati"))


def mapping_load(parsed: DataFrame) -> DataFrame:
    """The reference's `Mapping.load` query (bano/sources/fantoir.py:18-25)
    as a DataFrame: F7 annul filter, then the W1 label-dedup rank window
    keeping the first (type_voie, id_voie, cle_rivoli) per display label,
    emitting (code_insee, fantoir10, fantoir9, label)."""
    from pyspark.sql import Window

    fv = streets(parsed).withColumn(
        "label", F.concat(F.col("nature_voie"), F.lit(" "),
                          F.col("libelle_voie")))
    w = Window.partitionBy("code_insee", "label").orderBy(
        "type_voie", "id_voie", "cle_rivoli")
    return (
        fv.withColumn("rang", F.rank().over(w))
        .filter(F.col("rang") == 1)
        .select("code_insee", "fantoir10",
                F.substring("fantoir10", 1, 9).alias("fantoir9"), "label")
    )
