"""Per-partition lineage + metrics checkpoint (the reference's `batch`
table, made Spark-first).

The reference logs (source, etape, commune, start/end, row count) per
stage to a `batch` table and uses it both for monitoring and for cache
TTLs (bano/outils_de_gestion.py:7-37, sql/create_table_base_bano.sql:
100-124, db_helpers.py:27-32). The north rule requires the same: every
department/commune-level stage resumable from a checkpoint table.

Spark-first shape: the checkpoint is an append-only parquet (stands in
for an Iceberg table); a stage writes its output with *dynamic
partition overwrite* (the DELETE-then-INSERT idempotency of
models.py:118-119) and appends one lineage row per partition. Re-runs
filter already-completed partition keys out of the input before any
shuffle — resumption costs one metadata read, not a recompute.

The write is the only action on the stage's input: the keys it wrote
come from an Observation on that write, and each key's row count from
the parquet footers of the partition directory it produced (dynamic
overwrite leaves only this write's files there). A crash between the
write and the log append leaves those partitions unlogged, so the
re-run writes them again and logs each key once.
"""

from __future__ import annotations

import glob
import os
import time
import uuid
from urllib.parse import unquote

import pyarrow.parquet as pq
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, Observation, SparkSession, functions as F, types as T

from ..session import local_frame

LOG_SCHEMA = T.StructType([
    T.StructField("source", T.StringType()),
    T.StructField("etape", T.StringType()),
    T.StructField("partition_key", T.StringType()),
    T.StructField("nb_rows", T.LongType()),
    T.StructField("ts_start", T.DoubleType()),
    T.StructField("ts_end", T.DoubleType()),
    T.StructField("run_id", T.StringType()),
])


class CheckpointLog:
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path

    def read(self) -> DataFrame:
        """The log; empty only when nothing was ever logged. A log that
        exists but cannot be read raises: read as empty, it would mean
        "nothing done" and every partition would be recomputed."""
        try:
            return self.spark.read.schema(LOG_SCHEMA).parquet(self.path)
        except AnalysisException as e:
            if e.getCondition() != "PATH_NOT_FOUND":
                raise
            return self.frame([])

    def completed(self, source: str, etape: str) -> set[str]:
        df = self.read().filter(
            (F.col("source") == source) & (F.col("etape") == etape))
        return {r[0] for r in df.select("partition_key").distinct().collect()}

    def append(self, rows: list[tuple]) -> None:
        self.frame(rows).coalesce(1).write.mode("append").parquet(self.path)

    def frame(self, rows: list[tuple]) -> DataFrame:
        """Log rows (tuples in LOG_SCHEMA order) as a JVM-local DataFrame."""
        return local_frame(self.spark, {
            f.name: [r[i] for r in rows] for i, f in enumerate(LOG_SCHEMA.fields)
        }, LOG_SCHEMA)


def _partition_rows(out_path: str, key_col: str,
                    keys: list[str]) -> dict[str, int]:
    """Rows per partition directory of a partitioned parquet table, from
    the part files' footers (no Spark job, no row scan). Directory names
    are unescaped as Spark escapes partition values (``x/y`` is stored
    as ``x%2Fy``); every key must have a directory."""
    prefix = f"{key_col}="
    dirs = {unquote(os.path.basename(d)[len(prefix):]): d
            for d in glob.glob(os.path.join(glob.escape(out_path), prefix + "*"))}
    return {k: sum(pq.read_metadata(f).num_rows
                   for f in glob.glob(os.path.join(glob.escape(dirs[k]), "part-*")))
            for k in keys}


def resumable_partition_write(
    df: DataFrame,
    out_path: str,
    key_col: str,
    log: CheckpointLog,
    source: str,
    etape: str,
) -> list[str]:
    """Write df partitioned by key_col, skipping keys already logged as
    complete; returns the keys written this run. Idempotent per
    (source, etape, partition): dynamic partition overwrite replaces
    exactly the partitions produced (S12 semantics). The mode is a
    per-write option: the session's own setting is left untouched.

    The upstream of ``df`` runs once, in the write. Keys are logged as
    strings (Spark's cast, which is also the partition directory's
    value); a null or empty key raises, since Spark would write it to
    the default partition under no key the log could name."""
    done = log.completed(source, etape)
    todo = df.filter(~F.col(key_col).isin(list(done))) if done else df
    key = F.col(key_col).cast("string")
    todo = todo.withColumn(key_col, F.when(
        F.coalesce(key, F.lit("")) == "",
        F.raise_error(F.lit(f"resumable_partition_write: null or empty "
                            f"{key_col}"))).otherwise(F.col(key_col)))
    written = Observation()
    t0 = time.time()
    (todo.observe(written, F.collect_set(key).alias("keys"))
     .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy(key_col).parquet(out_path))
    t1 = time.time()
    keys = sorted(written.get["keys"])
    if not keys:
        return []
    run_id = uuid.uuid4().hex
    log.append([
        (source, etape, k, n, t0, t1, run_id)
        for k, n in _partition_rows(out_path, key_col, keys).items()
    ])
    return keys
