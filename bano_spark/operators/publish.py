"""S17 publish stage: per-département artifacts + full-France
concatenation (ref bano/publish.py:41-86).

Spark-first layout: the per-dept files are written in ONE distributed
text write — `repartition(dept)` puts each département in exactly one
task, `sortWithinPartitions(dept, order)` fixes the line order inside
each file, `partitionBy(dept)` emits one file per dept (gzip codec for
the gzip kinds). The driver then only *renames* files to the
reference's artifact names — no data moves through the driver.

Per-kind artifact contract (ADVICE r2): the reference publishes the
per-dept CSV *uncompressed* (`publish_as_csv` is a plain copy2,
publish.py:49-50) while json/ttl get per-dept gzip (publish.py:58-67).
So kind='csv' gives a plain distributed write and plain
`bano-{dept}.csv` artifacts; gzip kinds keep `bano-{dept}.{kind}.gz`.

The full-France file reproduces `publish_as_full_csv/json`
(publish.py:53-57, 69-73): the reference gzips the byte concatenation
of the per-dept files in sorted filename order. For gzip kinds we
concatenate the per-dept .gz files directly — gzip is multi-member, so
the result is a valid .gz whose DECOMPRESSED bytes equal the
reference's, and the "build full France" step stays O(file count)
driver work regardless of data volume. For plain kinds (csv) the
driver streams each plain file through one gzip member — the same
O(data) gzip pass the reference's publish_as_full_csv pays.
"""

from __future__ import annotations

import glob
import gzip
import os
import shutil

from pyspark.sql import DataFrame, functions as F


def _artifact(out_dir: str, dept: str, kind: str) -> str:
    """Per the reference contract, a per-dept csv is plain and every
    other kind gzip."""
    return os.path.join(out_dir, f"bano-{dept}.{kind}"
                        + ("" if kind == "csv" else ".gz"))


def write_dept_files(lines: DataFrame, out_dir: str, kind: str,
                     dept_col: str = "dept", order_col: str = "line") -> list[str]:
    """Write one `bano-{dept}.{kind}[.gz]` per département (`_artifact`).
    `lines` must have exactly (dept_col, order_col). A null dept key
    raises at runtime (VERDICT r2 #9 — it would otherwise surface as a
    silent __HIVE_DEFAULT_PARTITION__ artifact file).
    Returns the dept codes written."""
    compress = kind != "csv"
    guarded = F.when(
        F.col(dept_col).isNull(),
        F.raise_error(F.lit("write_dept_files: null dept key — derive "
                            "dept upstream before publishing"))
    ).otherwise(F.col(dept_col))
    lines = lines.withColumn(dept_col, guarded)
    staging = os.path.join(out_dir, f"_staging_{kind}")
    writer = (
        lines.repartition(lines[dept_col])
        .sortWithinPartitions(dept_col, order_col)
        .write.partitionBy(dept_col)
        .mode("overwrite")
    )
    if compress:
        writer = writer.option("compression", "gzip")
    writer.text(staging)
    part_glob = "part-*.txt.gz" if compress else "part-*.txt"
    depts = []
    for d in sorted(glob.glob(os.path.join(staging, f"{dept_col}=*"))):
        dept = os.path.basename(d).split("=", 1)[1]
        parts = sorted(glob.glob(os.path.join(d, part_glob)))
        # repartition(dept) => exactly one partition holds this dept
        assert len(parts) == 1, f"{dept}: {len(parts)} part files"
        os.replace(parts[0], _artifact(out_dir, dept, kind))
        depts.append(dept)
    shutil.rmtree(staging)
    return depts


def publish_full(out_dir: str, kind: str, depts: list[str]) -> str:
    """Build `full.{kind}.gz` from the artifacts of ``depts`` — the
    départements `write_dept_files` returned for this run, so one left in
    ``out_dir`` by an earlier run never reaches the full file — in sorted
    file name order. Gzip-kind artifacts are byte-concatenated
    (multi-member gzip, O(file count) driver work); plain-kind artifacts
    are streamed through gzip one member each (ref publish_as_full_csv).
    Decompressed bytes equal the reference's either way."""
    dest = os.path.join(out_dir, f"full.{kind}.gz")
    parts = sorted(_artifact(out_dir, d, kind) for d in depts)
    if kind != "csv":
        with open(dest, "wb") as full:
            for part in parts:
                with open(part, "rb") as f:
                    shutil.copyfileobj(f, full)
        return dest
    with open(dest, "wb") as raw:
        for part in parts:
            with gzip.GzipFile(fileobj=raw, mode="wb") as gz:
                with open(part, "rb") as f:
                    shutil.copyfileobj(f, gz)
    return dest


def publish_shp_bundles(out_dir: str) -> list[str]:
    """Reference publish_as_shp (publish.py:41-47): one
    `bano-{dept}.shp.tar.gz` per dept containing the five
    georeferencing members in the reference's order
    (shp, dbf, shx, prj, cpg). O(artifact bytes) driver work, like the
    reference; the heavy lifting (writing the members) already
    happened on executors in shp_sink."""
    import tarfile

    bundles = []
    for shp in sorted(glob.glob(os.path.join(out_dir, "bano-*.shp"))):
        base = shp[: -len(".shp")]
        dept = os.path.basename(base)[len("bano-"):]
        dest = f"{base}.shp.tar.gz"
        with tarfile.open(dest, "w:gz") as tar:
            for ext in ("shp", "dbf", "shx", "prj", "cpg"):
                tar.add(f"{base}.{ext}", arcname=f"bano-{dept}.{ext}")
        bundles.append(dest)
    return bundles


def read_full_lines(path: str) -> list[bytes]:
    """Decompressed lines of a published full file (test/oracle hook)."""
    with gzip.open(path, "rb") as f:
        return f.read().splitlines()
