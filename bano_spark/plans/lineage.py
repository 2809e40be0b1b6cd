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
"""

from __future__ import annotations

import time
import uuid

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession, functions as F, types as T

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
            return self.spark.createDataFrame([], LOG_SCHEMA)

    def completed(self, source: str, etape: str) -> set[str]:
        df = self.read().filter(
            (F.col("source") == source) & (F.col("etape") == etape))
        return {r[0] for r in df.select("partition_key").distinct().collect()}

    def append(self, rows: list[tuple]) -> None:
        df = self.spark.createDataFrame(rows, LOG_SCHEMA)
        df.coalesce(1).write.mode("append").parquet(self.path)


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
    per-write option: the session's own setting is left untouched."""
    done = log.completed(source, etape)
    todo = df.filter(~F.col(key_col).isin(list(done))) if done else df
    t0 = time.time()
    counts = {r[0]: r[1] for r in todo.groupBy(key_col).count().collect()}
    if not counts:
        return []
    (todo.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy(key_col).parquet(out_path))
    t1 = time.time()
    run_id = uuid.uuid4().hex
    log.append([
        (source, etape, str(k), int(n), t0, t1, run_id) for k, n in counts.items()
    ])
    return sorted(counts)
