"""Incremental / streaming path: tile-expiry feed -> dirty communes.

The reference's nightly loop (cron_osm.sh:21-22 + update_manager.py:
26-33) is micro-batch: imposm drops ``*.tiles`` files of expired z16
tiles; the next run folds them into the list of communes to recompute.

Spark-first: the tile files become a Structured Streaming text source;
each micro-batch (Trigger.AvailableNow for the nightly shape, or a
continuous trigger for lower latency) is rasterized against the commune
cover and appends the dirty-INSEE list, which drives partition-pruned
recomputation (plans.lineage.resumable_partition_write)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..geo import tiles as tl
from ..operators.tiling import expired_tiles_to_insee, parse_tile_lines


def expire_feed(spark: SparkSession, tiles_dir: str) -> DataFrame:
    """Streaming DataFrame of (z, x, y) from a directory of tile files
    (lines 'z/x/y', models.py:322-325)."""
    raw = spark.readStream.format("text").load(tiles_dir)
    return parse_tile_lines(raw)


def run_dirty_insee_stream(
    spark: SparkSession,
    tiles_dir: str,
    commune_polys: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    zoom: int = tl.DEFAULT_ZOOM,
):
    """availableNow pass over the expiry feed; each micro-batch writes
    the distinct dirty INSEE list. Returns the finished query.

    The sink is IDEMPOTENT under micro-batch replay: each batch
    overwrites its own ``batch-{id}`` subdirectory (foreachBatch hands
    the stable batch_id over precisely for this), so a batch whose
    write succeeded but whose checkpoint commit was lost re-executes
    into the same path instead of appending duplicates. Consumers
    read ``out_dir/*`` (see dirty_insee_frames)."""
    import os

    feed = expire_feed(spark, tiles_dir)

    def on_batch(batch_df: DataFrame, batch_id: int) -> None:
        dirty = expired_tiles_to_insee(batch_df, commune_polys, zoom)
        dirty.coalesce(1).write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch-{batch_id}"))

    q = (
        feed.writeStream.foreachBatch(on_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def dirty_insee_batch(spark: SparkSession, tiles_dir: str, commune_polys: DataFrame,
                      zoom: int = tl.DEFAULT_ZOOM) -> DataFrame:
    """Batch twin of the stream (the weekly full pass, cron_bano.sh:32-45)."""
    raw = spark.read.format("text").load(tiles_dir)
    return expired_tiles_to_insee(parse_tile_lines(raw), commune_polys, zoom)


def snapshot_dirty_tiles(old: DataFrame, new: DataFrame, key: str = "id",
                         x: str = "x", y: str = "y",
                         zoom: int = tl.DEFAULT_ZOOM) -> DataFrame:
    """Native change capture: diff two snapshots of a point table and
    emit the distinct expired tiles — what imposm's diff-to-tiles side
    channel produces, derived directly from table versions instead
    (Iceberg snapshot diff shape). A row contributes its OLD tile when
    removed or moved and its NEW tile when added or moved, so every
    commune whose content changed is invalidated."""
    from pyspark.sql import functions as F

    o = old.select(F.col(key).alias("k"), F.col(x).alias("ox"),
                   F.col(y).alias("oy"))
    n = new.select(F.col(key).alias("k"), F.col(x).alias("nx"),
                   F.col(y).alias("ny"))
    j = o.join(n, "k", "full_outer").filter(
        F.col("ox").isNull() | F.col("nx").isNull()
        | (F.col("ox") != F.col("nx")) | (F.col("oy") != F.col("ny")))
    sides = []
    for px, py in (("ox", "oy"), ("nx", "ny")):
        sides.append(
            j.filter(F.col(px).isNotNull()).select(
                F.lit(zoom).alias("z"),
                tl.tile_x(F.col(px), zoom).alias("x"),
                tl.tile_y(F.col(py), zoom).alias("y")))
    return sides[0].unionByName(sides[1]).distinct()


def snapshot_dirty_communes(old: DataFrame, new: DataFrame,
                            commune_polys: DataFrame, key: str = "id",
                            x: str = "x", y: str = "y",
                            zoom: int = tl.DEFAULT_ZOOM) -> DataFrame:
    """Snapshot diff -> expired tiles -> dirty INSEE list (the whole
    reference invalidation loop, update_manager.py:70-76, without the
    external diff tool)."""
    dirty = snapshot_dirty_tiles(old, new, key, x, y, zoom)
    return expired_tiles_to_insee(dirty, commune_polys, zoom)
