"""spark-submit entry point for the north-rule pages job.

Run (local example; on a cluster swap --master and executor confs):

    python tools/make_pyfiles.py  # builds bano_spark.zip
    spark-submit --master 'local[8]' \
        --py-files build/bano_spark.zip \
        jobs/pages_job.py --pages 1000000 --zoom 16 --out /tmp/pages_out

Stages: synthesize (or read) pages -> extract address records (S3
semantics, byte-identical text invariant) -> cell-bucketed PIP join
against commune polygons -> z16 tile rollup -> per-commune counts
written to parquet, with per-partition lineage rows appended to the
checkpoint table (north-rule resumability).
"""

from __future__ import annotations

import argparse
import time

from pyspark.sql import SparkSession


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--zoom", type=int, default=16)
    ap.add_argument("--out", default="/tmp/bano_pages_out")
    ap.add_argument("--pages-path", default=None,
                    help="read an existing pages table instead of synthesizing")
    ap.add_argument("--checkpoint", default=None,
                    help="lineage checkpoint table path (enables resume)")
    args = ap.parse_args()

    # spark-submit provides the session; builder.getOrCreate attaches to it
    spark = SparkSession.builder.appName("bano-pages-job").getOrCreate()

    from bano_spark.pipelines import pages_tile_rollup
    from bano_spark.sources import pages as P

    t0 = time.time()
    if args.pages_path:
        pg = spark.read.parquet(args.pages_path)
    else:
        par = spark.sparkContext.defaultParallelism * 2
        pg = P.synth_pages_sql(spark, args.pages, partitions=par)
    out = pages_tile_rollup(pg, zoom=args.zoom)

    if args.checkpoint:
        from bano_spark.plans.lineage import CheckpointLog, resumable_partition_write
        log = CheckpointLog(spark, args.checkpoint)
        resumable_partition_write(out, args.out, "poly_insee", log,
                                  source="pages", etape="tile_rollup")
    else:
        out.write.mode("overwrite").parquet(args.out)

    dt = time.time() - t0
    n = args.pages if not args.pages_path else pg.count()
    print(f"pages_job: {n} pages in {dt:.2f}s = {n / dt:,.0f} pages/sec "
          f"-> {args.out}")


if __name__ == "__main__":
    main()
