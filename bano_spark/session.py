"""SparkSession factory tuned for the engine.

Defaults mirror what we would set on a 1000-executor cluster, scaled to
local mode: AQE on (runtime skew-join splitting + coalescing), Arrow
enabled for every pandas UDF exchange, shuffle partition count sized to
the core count rather than the 200 default.
"""

from __future__ import annotations

import os
from collections.abc import Mapping, Sequence

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, types as T
from pyspark.sql.pandas.types import to_arrow_schema


def cpu_count() -> int:
    """``SPARK_GRAFT_CPUS`` if set, else the CPUs this process may run on."""
    n = os.environ.get("SPARK_GRAFT_CPUS")
    return int(n) if n else len(os.sched_getaffinity(0))


def get_session(
    app: str = "bano_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    n = cpus or cpu_count()
    sp = shuffle_partitions or max(n, 32)
    b = (
        SparkSession.builder.appName(app)
        .master(f"local[{n}]")
        .config("spark.sql.shuffle.partitions", str(sp))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "33554432")
        # local mode: the driver heap IS the executor heap — size it to the
        # thread count or GC dominates string-heavy stages at high core counts
        .config("spark.driver.memory",
                os.environ.get("SPARK_DRIVER_MEM", f"{min(48, max(8, 2 * n))}g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # metastore artifacts stay out of the repo working dir, and are
        # per-process: the derby metastore dies with the JVM while the
        # warehouse dir would otherwise outlive it, so a shared path
        # collides with its own orphans (LOCATION_ALREADY_EXISTS) and
        # concurrent sessions would fight over the derby lock
        .config("spark.sql.warehouse.dir",
                f"/tmp/bano_spark_wh_{os.getpid()}")
        # -Xms == -Xmx: G1 otherwise uncommits idle regions and returns
        # their pages to the OS, and on this microVM every RE-touched
        # page pays the ~80 MB/s host fault tax again (r4 root-cause
        # study, AB_FIRSTRUN.jsonl + bench.py header: first
        # touch is the 10-60x first-big-run anomaly; bench sessions add
        # -XX:+AlwaysPreTouch on top to pay the whole tax at startup).
        # On a real cluster the same flags belong in executor options.
        .config("spark.driver.extraJavaOptions",
                f"-Dderby.system.home=/tmp/bano_spark_derby_{os.getpid()} "
                f"-Xms{os.environ.get('SPARK_DRIVER_MEM', f'{min(48, max(8, 2 * n))}g')}")
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, columns: Mapping[str, Sequence],
                schema: T.StructType) -> DataFrame:
    """Driver-built columns (lists or numpy arrays, keyed by the schema's
    field names) as a JVM-local relation: the plan scans it as a
    ``LocalTableScan``, with no Python worker. ``createDataFrame`` over a
    list of tuples instead builds a pickled ``parallelize`` RDD, and
    every scan of it re-serialises the rows through a Python worker
    (0.25-0.95 s per scan on a 4-core VM, even for three rows)."""
    table = pa.Table.from_pydict(
        {f.name: columns[f.name] for f in schema.fields},
        schema=to_arrow_schema(schema))
    return spark.createDataFrame(table)
