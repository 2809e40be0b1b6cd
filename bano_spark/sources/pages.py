"""Common-Crawl-style pages source + address extraction.

The north-rule primary input: an Iceberg-style table of web pages
(url string, warc_ts timestamp, html binary, text string, lang string)
at 10^12-document design scale. In this sandbox the table is
synthesized deterministically (seeded by row id, no external data) via
`synth_pages`; each page's body embeds address records in the
reference's source formats — BAN ;-CSV lines (bano/sources/ban.py:58-63),
FANTOIR fixed-width lines (sql/load_fantoir.sql), OSM-tag lines
(bano.yml) — so the extraction stage reproduces the reference loaders.

Invariants (BASELINE.json.input_hint):
  * extract_text(html) == text, byte-identical per url
  * no per-row Python: generation and extraction are Arrow-batched
    numpy/pandas over whole partitions

Coordinates reuse the synthetic geography derivation in
bano_spark/synth.py, so extracted records flow straight into the PIP +
tiling stages against the commune grid.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

from .. import synth

PAGE_SCHEMA = T.StructType([
    T.StructField("url", T.StringType(), False),
    T.StructField("warc_ts", T.TimestampType(), False),
    T.StructField("html", T.BinaryType(), False),
    T.StructField("text", T.StringType(), False),
    T.StructField("lang", T.StringType(), False),
])

KINDS = ["ban", "osm", "bal", "fantoir"]
_EPOCH = pd.Timestamp("2024-10-16T00:00:00")


def _derive_points(ids: np.ndarray, salt: int = 0):
    """Numpy twin of synth.points_select_sql — same integer arithmetic."""
    u = (ids.astype(np.int64) * 2654435761 + salt) % 2147483648
    slot = u % 16
    arr = (u // 16) % 9
    base = np.where(
        slot < 10,
        synth.REG0 + slot * synth.W,
        synth.PARIS0 + arr * synth.W,
    )
    x = base + ((u // 144) % 9000) + 0.5
    y = synth.REGY0 + ((u // 1296000) % 9000) + 0.25
    return u, x, y


def _page_body(ids: np.ndarray) -> pd.Series:
    """Deterministic page text embedding 3 address records per page."""
    u, x, y = _derive_points(ids)
    streets = np.array([s[0] for s in synth.STREETS])
    insee = np.array([c[0] for c in synth.COMMUNES[:10]])
    arr_insee = np.array([c[0] for c in synth.COMMUNES[11:20]])  # 75101..75109

    slot = u % 16
    arr = (u // 16) % 9
    # commune must agree with the point-derivation slot (slots >= 10 land
    # in a Paris arrondissement)
    com = np.where(slot < 10, insee[np.minimum(slot, 9).astype(int)],
                   arr_insee[arr.astype(int)])
    voie = streets[(u % len(streets)).astype(int)]
    num = ((u // 7) % 200 + 1).astype(int)
    rep = np.array(["", "b", "t", "q"])[(u % 4).astype(int)]

    com_s = pd.Series(com)
    idv = pd.Series(((u // 3) % 2000).astype(int)).astype(str).str.zfill(4)
    fant = com_s + idv

    ban_line = (
        "BAN" + pd.Series(ids).astype(str) + ";" + pd.Series(num).astype(str) + ";"
        + pd.Series(rep) + ";" + pd.Series(voie) + ";0" + (1000 + (u % 40)).astype(str)
        + ";" + com_s + ";" + pd.Series(x).map(repr) + ";" + pd.Series(y).map(repr)
    )
    osm_line = (
        "addr:housenumber=" + pd.Series(num).astype(str)
        + "|addr:street=" + pd.Series(voie)
        + "|ref:FR:FANTOIR=" + fant
    )
    fantoir_line = (
        com_s.str[:2] + "0" + com_s.str[2:5] + idv + (u % 10).astype(str)
        + pd.Series(voie).str.upper().str[:30].str.pad(31, "right")
    )
    return ban_line + "\n" + osm_line + "\n" + fantoir_line


def synth_pages(spark: SparkSession, n_pages: int, partitions: int = 32) -> DataFrame:
    """Deterministic pages table, generated distributed (mapInPandas over
    a range — scales to any n by adding partitions)."""

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            kind = np.array(KINDS)[(ids % len(KINDS)).astype(int)]
            url = pd.Series(
                np.char.add(
                    np.char.add("https://crawl.example/", kind),
                    np.char.add("/", np.char.zfill(ids.astype(str), 10)),
                )
            )
            body = _page_body(ids)
            text = "ADDRESSES " + pd.Series(kind) + "\n" + body + "\n"
            html = ("<html><head><title>p" + pd.Series(ids).astype(str)
                    + "</title></head><body><pre>" + text + "</pre></body></html>")
            yield pd.DataFrame({
                "url": url,
                "warc_ts": _EPOCH + pd.to_timedelta(ids % 86400, unit="s"),
                "html": html.str.encode("utf-8"),
                "text": text,
                "lang": "fr",
            })

    return spark.range(0, n_pages, 1, partitions).mapInPandas(gen, PAGE_SCHEMA)


def synth_pages_sql(spark: SparkSession, n_pages: int, partitions: int = 32,
                    ids: DataFrame | None = None) -> DataFrame:
    """Pure-JVM twin of synth_pages — identical rows (asserted in
    tests/test_pages.py), built from codegen column expressions.

    Used on the throughput path: the pandas generator is python-memory-
    bandwidth-bound and stops scaling ~8 workers, while this one scales
    with cores — and at real scale the pages come from a table scan
    anyway, so the benchmark should measure the engine, not the
    synthesizer.

    ``ids``: optional DataFrame with an ``id`` column to key the pages
    (instead of range(n_pages)) — lets a SQL oracle re-derive page
    content from the same driver table."""
    kinds_sql = "array(" + ",".join(f"'{k}'" for k in KINDS) + ")"
    streets_sql = "array(" + ",".join(
        "'" + s[0].replace("'", "''") + "'" for s in synth.STREETS) + ")"
    insee_sql = "array(" + ",".join(f"'{c[0]}'" for c in synth.COMMUNES[:10]) + ")"
    arr_sql = "array(" + ",".join(f"'{c[0]}'" for c in synth.COMMUNES[11:20]) + ")"

    df = ids if ids is not None else spark.range(0, n_pages, 1, partitions)
    df = df.selectExpr(
        "id",
        "(id * 2654435761) % 2147483648 AS u",
        f"element_at({kinds_sql}, CAST(id % {len(KINDS)} AS INT) + 1) AS kind",
    ).selectExpr(
        "id", "u", "kind",
        f"element_at({insee_sql}, CAST(least(u % 16, 9) AS INT) + 1) AS insee_n",
        f"element_at({arr_sql}, CAST((u div 16) % 9 AS INT) + 1) AS insee_a",
        f"element_at({streets_sql}, CAST(u % {len(synth.STREETS)} AS INT) + 1) AS voie",
        "CAST((u div 7) % 200 + 1 AS STRING) AS num",
        "element_at(array('', 'b', 't', 'q'), CAST(u % 4 AS INT) + 1) AS rep",
        "lpad(CAST((u div 3) % 2000 AS STRING), 4, '0') AS idv",
        f"""CAST(CASE WHEN u % 16 < 10
              THEN {synth.REG0!r} + (u % 16) * {synth.W!r}
              ELSE {synth.PARIS0!r} + ((u div 16) % 9) * {synth.W!r}
            END + ((u div 144) % 9000) + 0.5 AS DOUBLE) AS x""",
        f"CAST({synth.REGY0!r} + ((u div 1296000) % 9000) + 0.25 AS DOUBLE) AS y",
    ).selectExpr(
        "id", "u", "kind", "voie", "num", "rep", "x", "y", "idv",
        "CASE WHEN u % 16 < 10 THEN insee_n ELSE insee_a END AS com",
    ).selectExpr(
        "id", "kind",
        """concat('BAN', CAST(id AS STRING), ';', num, ';', rep, ';', voie,
                  ';0', CAST(1000 + u % 40 AS STRING), ';', com, ';',
                  CAST(x AS STRING), ';', CAST(y AS STRING)) AS ban_line""",
        """concat('addr:housenumber=', num, '|addr:street=', voie,
                  '|ref:FR:FANTOIR=', com, idv) AS osm_line""",
        """concat(substring(com, 1, 2), '0', substring(com, 3, 3), idv,
                  CAST(u % 10 AS STRING),
                  rpad(substring(upper(voie), 1, 30), 31, ' ')) AS fant_line""",
    ).selectExpr(
        f"concat('https://crawl.example/', kind, '/', lpad(CAST(id AS STRING), 10, '0')) AS url",
        f"timestamp'2024-10-16 00:00:00' + make_dt_interval(0, 0, 0, id % 86400) AS warc_ts",
        "concat('ADDRESSES ', kind, '\\n', ban_line, '\\n', osm_line, '\\n', fant_line, '\\n') AS text",
        "id",
    ).selectExpr(
        "url", "warc_ts",
        """CAST(concat('<html><head><title>p', CAST(id AS STRING),
                '</title></head><body><pre>', text,
                '</pre></body></html>') AS BINARY) AS html""",
        "text",
        "'fr' AS lang",
    )
    return df


def extract_text(pages: DataFrame) -> DataFrame:
    """html -> text, byte-identical to the stored text column (the
    per-url invariant). Arrow-batched pandas, whole-column ops."""

    @F.pandas_udf(T.StringType())
    def _extract(html: pd.Series) -> pd.Series:
        s = html.map(lambda b: b.decode("utf-8"))  # bytes->str (Arrow batch)
        return s.str.extract(r"<pre>(.*)</pre>", flags=16, expand=False)  # re.DOTALL

    return pages.withColumn("extracted_text", _extract(F.col("html")))


def extract_records(pages: DataFrame) -> DataFrame:
    """Parse the embedded BAN-CSV line of each page into typed address
    rows (S3 semantics).

    Deliberately NOT a UDF: the parse is split/regexp column work, so it
    stays in whole-stage codegen — measured ~4x better 8->32-core
    scaling than the pandas equivalent (python object-string churn stops
    scaling around 8 workers; the JVM path doesn't)."""
    lines = F.split(F.col("text"), "\n")
    ban = F.split(F.element_at(lines, 2), ";")
    return pages.select(
        "url",
        F.replace(F.element_at(lines, 1), F.lit("ADDRESSES "), F.lit("")).alias("kind"),
        F.element_at(ban, 6).alias("insee_com"),
        F.element_at(ban, 2).alias("numero"),
        F.element_at(ban, 3).alias("rep"),
        F.element_at(ban, 4).alias("nom_voie"),
        F.element_at(ban, 5).alias("code_postal"),
        F.regexp_extract(F.element_at(lines, 3), r"ref:FR:FANTOIR=(.*)$", 1).alias("fantoir"),
        F.element_at(ban, 7).cast("double").alias("x"),
        F.element_at(ban, 8).cast("double").alias("y"),
    )
