"""Klee's measure problem in 2-D — exact union area of axis-aligned
rectangles via coordinate-compression sweep, fully keyed (no global
window, no Python). The 2-D twin of the wave-79 1-D interval union.

Method (Bentley 1977 sweep, re-expressed relationally): per group,
the distinct x-edges cut the plane into slabs; because slab edges ARE
the compressed rectangle edges, a rectangle overlapping a slab covers
it fully, so the area inside one slab is slab_width times the 1-D
union of the covering rectangles' y-intervals — the gaps-and-islands
running-max kernel. Everything is integers: exact across engines.

Scale shape: slabs are 2n per group; the slab x rect cover join is an
equi-join on the group key with a residual range predicate (never a
Cartesian), and its output is sum-of-depth rows — the operator
reports that depth profile itself (union_profile) as the planner
statistic. At 10^12 rectangles the group key is the parallelism unit;
a single huge group wants the segment-tree/mergeable-summaries
formulation — disclosed, not silently assumed.

Ref parity: the reference overlays commune/postal bboxes pairwise
(bano/sql conciliation joins); this gives the measure of the union
per department — the coverage audit of the same geometry.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["slab_cover", "union_area", "union_profile"]


def slab_cover(rects: DataFrame, grp: str = "grp") -> DataFrame:
    """(grp, sx, snx, rect id, y0, y1): every rectangle joined to
    every compressed x-slab it covers."""
    edges = (rects.select(grp, F.col("x0").alias("x"))
             .unionByName(rects.select(grp, F.col("x1").alias("x")))
             .distinct())
    w = Window.partitionBy(grp).orderBy("x")
    slabs = (edges.withColumn("nx", F.lead("x").over(w))
             .filter(F.col("nx").isNotNull())
             .select(grp, F.col("x").alias("sx"),
                     F.col("nx").alias("snx")))
    return slabs.join(rects, grp).filter(
        (F.col("x0") <= F.col("sx")) & (F.col("x1") >= F.col("snx")))


def union_area(rects: DataFrame, grp: str = "grp") -> DataFrame:
    """Per group: rectangle count, sum of individual areas, exact
    union area, bbox area, and the two diagnostic ratios."""
    cov = slab_cover(rects, grp)
    wi = Window.partitionBy(grp, "sx").orderBy("y0", "rid") \
        .rowsBetween(Window.unboundedPreceding, -1)
    isl = (cov
           .withColumn("pmax", F.max("y1").over(wi))
           .withColumn("new_isl",
                       F.when(F.col("pmax").isNull()
                              | (F.col("y0") > F.col("pmax")), 1)
                       .otherwise(0))
           .withColumn("isl", F.sum("new_isl").over(
               Window.partitionBy(grp, "sx").orderBy("y0", "rid")
               .rowsBetween(Window.unboundedPreceding, 0))))
    per_slab = (isl.groupBy(grp, "sx", "snx", "isl")
                .agg((F.max("y1") - F.min("y0")).alias("ylen"))
                .groupBy(grp, "sx", "snx")
                .agg(F.sum("ylen").alias("yunion")))
    area = (per_slab
            .withColumn("a", (F.col("snx") - F.col("sx"))
                        * F.col("yunion"))
            .groupBy(grp)
            .agg(F.sum("a").cast("bigint").alias("union_area")))
    base = (rects.groupBy(grp)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_rects"),
                 F.sum((F.col("x1") - F.col("x0"))
                       * (F.col("y1") - F.col("y0")))
                 .cast("bigint").alias("sum_area"),
                 ((F.max("x1") - F.min("x0"))
                  * (F.max("y1") - F.min("y0"))).cast("bigint")
                 .alias("bbox_area")))
    return (base.join(area, grp)
            .withColumn("coverage",
                        F.col("union_area").cast("double")
                        / F.col("bbox_area").cast("double"))
            .withColumn("overlap_factor",
                        F.col("sum_area").cast("double")
                        / F.col("union_area").cast("double")))


def union_profile(rects: DataFrame, grp: str = "grp") -> DataFrame:
    """Per group: slab count, cover-join volume (the sweep's actual
    cost), max islands in a slab, and max overlap depth anywhere
    (y-endpoint sweep inside each slab — keyed windows only)."""
    cov = slab_cover(rects, grp)
    ev = (cov.select(grp, "sx", F.col("y0").alias("y"),
                     F.lit(1).alias("d"), F.col("rid"))
          .unionByName(cov.select(grp, "sx", F.col("y1").alias("y"),
                                  F.lit(-1).alias("d"), F.col("rid"))))
    wrun = Window.partitionBy(grp, "sx").orderBy("y", "d", "rid") \
        .rowsBetween(Window.unboundedPreceding, 0)
    depth = (ev.withColumn("run", F.sum("d").over(wrun))
             .groupBy(grp, "sx")
             .agg(F.max("run").alias("slab_depth")))
    wi = Window.partitionBy(grp, "sx").orderBy("y0", "rid") \
        .rowsBetween(Window.unboundedPreceding, -1)
    isl = (cov
           .withColumn("pmax", F.max("y1").over(wi))
           .withColumn("new_isl",
                       F.when(F.col("pmax").isNull()
                              | (F.col("y0") > F.col("pmax")), 1)
                       .otherwise(0))
           .groupBy(grp, "sx")
           .agg(F.sum("new_isl").alias("slab_islands"),
                F.count(F.lit(1)).alias("slab_cover_rows")))
    return (depth.join(isl, [grp, "sx"])
            .groupBy(grp)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_slabs"),
                 F.sum("slab_cover_rows").cast("bigint")
                 .alias("cover_join_rows"),
                 F.max("slab_islands").cast("bigint")
                 .alias("max_islands"),
                 F.max("slab_depth").cast("bigint").alias("max_depth")))
