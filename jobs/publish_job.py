"""spark-submit entry point for the S17 publish stage (ref
bano/publish.py:41-86 as a distributed job).

    python tools/make_pyfiles.py
    spark-submit --master 'local[8]' \
        --py-files build/bano_spark.zip \
        jobs/publish_job.py --pages 1000000 --out /tmp/bano_publish

Stages: pages -> extract -> normalize -> conciliate -> unix-CSV lines
(the reference's whole per-commune loop as one plan), then one gzip
file per département from a single distributed write (driver only
renames), then the full-France artifact as a sorted multi-member gzip
concatenation — byte-equal after decompression to the reference's
gzip-of-concatenated-files.
"""

from __future__ import annotations

import argparse
import time

from pyspark.sql import SparkSession, functions as F


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=1_000_000)
    ap.add_argument("--out", default="/tmp/bano_publish")
    ap.add_argument("--pages-path", default=None,
                    help="read an existing pages table instead of synthesizing")
    args = ap.parse_args()

    spark = SparkSession.builder.appName("bano-publish-job").getOrCreate()

    from bano_spark.operators.publish import publish_full, write_dept_files
    from bano_spark.pipelines import export_csv
    from bano_spark.sources import pages as P

    t0 = time.time()
    if args.pages_path:
        pg = spark.read.parquet(args.pages_path)
    else:
        par = spark.sparkContext.defaultParallelism * 2
        pg = P.synth_pages_sql(spark, args.pages, partitions=par)

    from bano_spark.functions.codes import dept_from_insee

    # dept per the reference rule (helpers.py:97-101): 2 chars, except
    # 3-char DOM codes (971-976); '2A'/'2B' fall out of the 2-char
    # prefix naturally. The line starts with the 10-char FANTOIR id
    # whose first 5 chars are the insee code. (ADVICE r2: a fixed
    # 2-char prefix lumped all DOM depts into one bano-97 artifact.)
    lines = export_csv(pg).select(
        dept_from_insee(F.substring("line", 1, 5)).alias("dept"), "line")
    depts = write_dept_files(lines, args.out, "csv")
    full = publish_full(args.out, "csv", depts)
    dt = time.time() - t0
    print(f"publish_job: {len(depts)} depts -> {full} in {dt:.2f}s")


if __name__ == "__main__":
    main()
