"""Tile-expiry -> commune assignment (the reference's incremental path).

Reproduces `bano/models.py:305-360` + `update_manager.py:26-33`:
expired z16 tiles (text lines ``z/x/y``) are converted to EPSG:3857
boxes and spatially matched to commune polygons, with the reference's
admin-level special-casing: level-8 communes except the three
arrondissement cities ('13055','69123','75056'), UNION level-9 polygons
whose INSEE matches the arrondissement patterns 132__/6938_/751__.

Spark-first design: instead of a geometry join, commune polygons are
rasterized once onto the z16 grid (polygon_cover) and the "join" is a
cell equi-join tile(x,y) = cover(x,y) — the raster<->vector stage of
the north rule. The cover is tiny relative to the data (bounded by
commune area / tile area) and broadcast.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..geo import tiles
from .pip_join import polygon_cover

EXCLUDED_LEVEL8 = ("13055", "69123", "75056")  # models.py:346
ARRONDISSEMENT_PATTERNS = ("132__", "6938_", "751__")  # models.py:355-357


def parse_tile_lines(df: DataFrame, col: str = "value") -> DataFrame:
    """Text lines ``z/x/y`` -> (z, x, y) ints (models.py:322-325)."""
    p = F.split(F.col(col), "/")
    return df.select(
        p.getItem(0).cast("int").alias("z"),
        p.getItem(1).cast("bigint").alias("x"),
        p.getItem(2).cast("bigint").alias("y"),
    )


def eligible_communes(communes: DataFrame, insee: str = "insee_com",
                      level: str = "admin_level") -> DataFrame:
    """The reference's level-8-minus-cities ∪ level-9-arrondissements
    commune universe for tile assignment (models.py:339-359)."""
    lvl8 = (
        (F.col(level) == 8)
        & ~F.col(insee).isin(*EXCLUDED_LEVEL8)
        & (F.coalesce(F.col(insee), F.lit("")) != "")
    )
    lvl9 = (F.col(level) == 9) & (
        F.col(insee).like(ARRONDISSEMENT_PATTERNS[0])
        | F.col(insee).like(ARRONDISSEMENT_PATTERNS[1])
        | F.col(insee).like(ARRONDISSEMENT_PATTERNS[2])
    )
    return communes.filter(lvl8 | lvl9)


def expired_tiles_to_insee(tiles_df: DataFrame, commune_polys: DataFrame,
                           zoom: int = tiles.DEFAULT_ZOOM,
                           insee: str = "insee_com") -> DataFrame:
    """Distinct sorted INSEE list of communes touched by expired tiles.

    ``tiles_df`` has (z, x, y) at ``zoom``; ``commune_polys`` has
    (insee_com, admin_level, verts). Equi-join on the rasterized cover —
    no geometry code in the join itself.
    """
    polys = eligible_communes(commune_polys, insee)
    cover = polygon_cover(polys, zoom, id_col=insee)  # (insee, tx, ty, interior)
    out = (
        tiles_df.filter(F.col("z") == zoom)
        .join(F.broadcast(cover), (F.col("x") == F.col("tx")) & (F.col("y") == F.col("ty")))
        .select(insee)
        .distinct()
        .orderBy(insee)
    )
    return out


def vectorize_tiles(cells: DataFrame, group_col: str = "insee_com",
                    x_col: str = "tx", y_col: str = "ty") -> DataFrame:
    """Raster -> vector: per group, trace the boundary rings of its
    tile-cell set (geometry.cells_to_rings) — the inverse of
    polygon_cover, closing the north rule's raster<->vector stage
    (e.g. turning an expired-tile set back into a dirty-AREA polygon
    for spatial predicates). One row per ring: vertex count, signed
    shoelace area in cell units (outer rings positive, holes
    negative), perimeter in cell units, and the ring itself.

    Scale shape: groupBy on the group key; each group's cell set is
    bounded by (region area / cell area), so the per-group numpy trace
    is bounded work, and ring output is vertices-on-the-boundary only
    (O(perimeter), not O(area))."""
    import numpy as np
    import pandas as pd

    from ..geo.geometry import cells_to_rings

    def trace(pdf: pd.DataFrame) -> pd.DataFrame:
        key = pdf[group_col].iloc[0]
        rings = cells_to_rings(
            np.stack([pdf[x_col].to_numpy(np.int64),
                      pdf[y_col].to_numpy(np.int64)], axis=1))
        rows = []
        for i, r in enumerate(rings):
            v = r[:-1]
            area = 0.5 * float(
                np.sum(v[:, 0] * np.roll(v[:, 1], -1)
                       - np.roll(v[:, 0], -1) * v[:, 1]))
            per = float(np.abs(np.diff(r, axis=0)).sum())
            rows.append((key, i, len(r), area, per, r.tolist()))
        return pd.DataFrame(rows, columns=[group_col, "ring_id", "n_verts",
                                           "signed_area", "perimeter",
                                           "ring"])

    schema = (f"{group_col} string, ring_id int, n_verts int, "
              "signed_area double, perimeter double, "
              "ring array<array<double>>")
    return (cells.select(group_col, x_col, y_col).distinct()
            .groupBy(group_col).applyInPandas(trace, schema))


def tile_pyramid(cells: DataFrame, levels: int = 3,
                 x_col: str = "tx", y_col: str = "ty",
                 weight_col: str | None = None) -> DataFrame:
    """Map-tile pyramid rollup: point counts (or weight sums) per tile
    at the base zoom and every coarser level, one row per (lvl, tx, ty)
    with lvl 0 = base and tile indices halving per level — the
    tile-serving aggregation behind slippy-map heat layers (the
    reference renders z16 tiles; a tile server needs every zoom).

    Scale shape — aggregate-reuse, the whole point: the raw rows are
    shuffled exactly ONCE (the base-level groupBy with map-side partial
    combine); every coarser level aggregates the PREVIOUS level's
    output, which shrinks ~4x per step, so the pyramid above the base
    costs O(base_tiles * 4/3) total regardless of input size. The
    naive alternative (one groupBy per level over the raw rows, or
    GROUPING SETS — which Spark plans as an Expand that multiplies
    every input row by the number of levels) shuffles the full input
    ``levels`` times."""
    agg = (F.count(F.lit(1)) if weight_col is None
           else F.sum(weight_col)).cast("bigint").alias("n")
    cur = (cells.groupBy(F.col(x_col).alias("tx"), F.col(y_col).alias("ty"))
           .agg(agg))
    out = cur.select(F.lit(0).alias("lvl"), "tx", "ty", "n")
    for lvl in range(1, levels):
        cur = (cur.groupBy(
            F.floor(F.col("tx") / 2).cast("bigint").alias("tx"),
            F.floor(F.col("ty") / 2).cast("bigint").alias("ty"))
            .agg(F.sum("n").cast("bigint").alias("n")))
        out = out.unionByName(
            cur.select(F.lit(lvl).alias("lvl"), "tx", "ty", "n"))
    return out
