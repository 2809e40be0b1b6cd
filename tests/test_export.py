"""Export sinks: CSV quoting parity vs python csv (the reference's
writer), NDJSON byte layout vs the reference f-strings, TTL quirks."""

import csv
import io
import json
import os

from bano_spark.operators import export as X


def _py_csv(rows):
    out = []
    for row in rows:
        buf = io.StringIO()
        csv.writer(buf, dialect="unix", quoting=csv.QUOTE_MINIMAL).writerow(row)
        out.append(buf.getvalue()[:-1])  # strip the record terminator
    return out


def test_csv_quote_minimal_parity(spark):
    rows = [
        ("F1-2", "2", "Rue de la Paix", "01000", "Ville", "OSM", "1.5", "2.5"),
        ('F2-3', '3B', 'Rue "des" Lilas', "01000", "Ville, Sud", "O+O", "1", "2"),
        ("F3-4", "4", "A\nB", "", "V", "CAD", "0", "0"),
    ]
    df = spark.createDataFrame(
        rows, ["id", "numero", "voie", "code_post", "ville", "source", "lat", "lon"])
    got = [r.line for r in X.export_csv_lines(df).collect()]
    assert got == _py_csv(rows)


def test_json_voie_line_matches_reference_fstring(spark):
    row = dict(fantoir="010010001X", citycode="01001", type="street",
               name="Rue de la Paix", postcode="01000;01001", lat="45.1",
               lon="5.2", cityname="Bourg", departement="Ain",
               region="ARA", importance="0.1234",
               housenumbers="2$45.1$5.2#4$45.2$5.3")
    df = spark.createDataFrame([tuple(row.values())], list(row.keys()))
    got = X.json_voie_line(df).collect()[0].line
    # rebuild with the reference's own formatting (export.py:160-169)
    pc = row["postcode"].split(";")
    s_h = ",".join(
        f'"{s.split("$")[0]}":{{"lat":{s.split("$")[1]},"lon":{s.split("$")[2]}}}'
        for s in row["housenumbers"].split("#"))
    want = (f'{{"id":"{row["fantoir"]}","citycode":"{row["citycode"]}",'
            f'"type":"{row["type"]}","name":"{row["name"]}",'
            f'"postcode":{json.dumps(pc)},"lat":"{row["lat"]}",'
            f'"lon":"{row["lon"]}","city":"{row["cityname"]}",'
            f'"departement":"{row["departement"]}","region":"{row["region"]}",'
            f'"importance":{row["importance"]},"housenumbers":{{{s_h}}}}}')
    assert got == want


def test_ttl_arrondissement_quirks(spark):
    rows = [
        ("75101-2", "2", "Rue X", "75001", "Paris", "OSM", "48.8", "2.3"),
        ("69381-2", "2", "Rue Y", "69001", "Lyon", "OSM", "45.7", "4.8"),
        ("01001-2", "2", "Rue Z", "01000", "Bourg", "OSM", "46.2", "5.2"),
    ]
    df = spark.createDataFrame(
        rows, ["id", "numero", "voie", "code_post", "ville", "source", "lat", "lon"])
    lines = {r.line.split(">")[0][26:31]: r.line for r in X.ttl_record(df).collect()}
    assert "arrondissementMunicipal/75101" in lines["75101"]
    # Lyon range is empty in the reference -> falls to the quirky else
    assert "commune/69381-2[0:5]" in lines["69381"]
    assert "commune/01001-2[0:5]" in lines["01001"]


def test_publish_layout_and_full_bytes(spark, tmp_path):
    """S17 (bano/publish.py:41-86): per-dept CSV is published PLAIN
    (ref publish_as_csv is a copy2 — ADVICE r2), full.csv.gz = gzip of
    their ordered concatenation; decompressed full bytes == per-dept
    bytes concatenated in sorted dept order, each internally ordered."""
    from bano_spark.operators.publish import (publish_full, read_full_lines,
                                              write_dept_files)

    rows = [("01", f"01|{i:03d}") for i in range(20)] + \
           [("02", f"02|{i:03d}") for i in range(7)] + \
           [("75", f"75|{i:03d}") for i in range(13)]
    import random
    random.Random(7).shuffle(rows)
    lines = spark.createDataFrame(rows, ["dept", "line"]).repartition(8)

    out = str(tmp_path)
    depts = write_dept_files(lines, out, "csv")
    assert depts == ["01", "02", "75"]

    per_dept = b""
    for d in depts:
        with open(f"{out}/bano-{d}.csv", "rb") as f:
            content = f.read()
        decoded = content.decode().splitlines()
        assert decoded == sorted(decoded)          # ordered within dept
        assert all(l.startswith(d) for l in decoded)
        per_dept += content

    full = publish_full(out, "csv", depts)
    assert read_full_lines(full) == per_dept.splitlines()


def test_publish_gzip_kind_and_null_dept_guard(spark, tmp_path):
    """json/ttl kinds keep per-dept gzip artifacts; a null dept key
    raises instead of writing a __HIVE_DEFAULT_PARTITION__ file."""
    import gzip

    from bano_spark.operators.publish import publish_full, write_dept_files

    lines = spark.createDataFrame(
        [("01", "a"), ("02", "b")], ["dept", "line"])
    out = str(tmp_path)
    depts = write_dept_files(lines, out, "json")
    assert depts == ["01", "02"]
    with gzip.open(f"{out}/bano-01.json.gz", "rb") as f:
        assert f.read() == b"a\n"
    assert publish_full(out, "json", depts).endswith("full.json.gz")

    bad = spark.createDataFrame([("01", "a"), (None, "b")], ["dept", "line"])
    try:
        write_dept_files(bad, str(tmp_path / "bad"), "csv")
        raised = False
    except Exception as e:
        raised = "null dept key" in str(e)
    assert raised


def test_publish_full_skips_stale_departements(spark, tmp_path):
    """A département published by an earlier run into the same directory
    stays on disk but does not reach this run's full file."""
    from bano_spark.operators.publish import (publish_full, read_full_lines,
                                              write_dept_files)

    out = str(tmp_path)
    first = spark.createDataFrame([("75", "75|a"), ("13", "13|a")],
                                  ["dept", "line"])
    assert write_dept_files(first, out, "csv") == ["13", "75"]
    second = spark.createDataFrame([("75", "75|b"), ("75", "75|c")],
                                   ["dept", "line"])
    depts = write_dept_files(second, out, "csv")
    assert depts == ["75"]
    assert os.path.exists(f"{out}/bano-13.csv")
    assert read_full_lines(publish_full(out, "csv", depts)) == [b"75|b", b"75|c"]


def test_write_country_text_global_order(spark, tmp_path):
    """Full-country ordered write: part files are disjoint ordered
    ranges; concatenation in filename order is globally sorted, with
    no single-task coalesce."""
    import glob

    from bano_spark.operators.export import write_country_text

    vals = [(f"{(i * 37) % 1000:04d}",) for i in range(1000)]
    df = spark.createDataFrame(vals, ["line"]).repartition(16)
    path = str(tmp_path / "country")
    write_country_text(df, path, order_cols=("line",), num_partitions=8)

    parts = sorted(glob.glob(f"{path}/part-*"))
    assert len(parts) > 1  # genuinely distributed output
    seen = []
    for p in parts:
        with open(p) as f:
            chunk = f.read().splitlines()
        assert chunk == sorted(chunk)
        seen.extend(chunk)
    assert seen == sorted(v[0] for v in vals)
