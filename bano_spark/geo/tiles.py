"""Web-Mercator slippy-tile grid — the engine's spatial cell index.

The reference uses exactly this grid for its incremental-update path:
imposm emits expired z16 tiles and `bano/models.py:305-313` converts
z/x/y to EPSG:3857 boxes with

    xmin = -20037508.34 + (40075016.68 / 2^z) * x
    ymax =  20037508.34 - (40075016.68 / 2^z) * y

We adopt the same constants and make the grid the *primary* spatial
index (the role H3/S2 would play): every point gets a (z, x, y) cell,
polygons get exploded cell covers, and spatial joins become cell
equi-joins with an exact refine step. Everything here is pure Column
arithmetic — it stays inside whole-stage codegen, shuffles hash well,
and is reproducible bit-for-bit in any SQL engine (the DuckDB oracle
uses the same formulas).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

# EPSG:3857 world bounds as the reference writes them (models.py:309-313).
ORIGIN = -20037508.34
WORLD = 40075016.68
DEFAULT_ZOOM = 16  # reference expiry zoom: cron_osm.sh:22

_R = 6378137.0  # spherical-Mercator radius (public constant)


def cell_size(z: int) -> float:
    return WORLD / (2**z)


# ---------------------------------------------------------------------------
# Column expressions (hot path — no UDFs)
# ---------------------------------------------------------------------------

def tile_x(x_3857: Column, z: int) -> Column:
    """Tile column index of an EPSG:3857 x coordinate.

    Wrapped in coalesce(. , -1) to make the column NON-NULLABLE: when a
    nullable tile index is used as an equi-join key, Catalyst pushes an
    IsNotNull filter below the projection that computes it, re-inlining
    the whole upstream expression tree per key (measured 10x slowdown on
    the pages pipeline, where upstream is the page-text parse). -1 is
    outside every real tile range (null coords never join anyway)."""
    return F.coalesce(
        F.floor((x_3857 - F.lit(ORIGIN)) / F.lit(cell_size(z))).cast("bigint"),
        F.lit(-1).cast("bigint"))


def tile_y(y_3857: Column, z: int) -> Column:
    """Tile row index (slippy convention: y grows southward).
    Non-nullable like tile_x."""
    return F.coalesce(
        F.floor((F.lit(-ORIGIN) - y_3857) / F.lit(cell_size(z))).cast("bigint"),
        F.lit(-1).cast("bigint"))


def lonlat_to_mercator(lon: Column, lat: Column):
    """EPSG:4326 -> EPSG:3857 (spherical Mercator), column arithmetic."""
    x = F.lit(_R) * F.radians(lon)
    y = F.lit(_R) * F.log(F.tan(F.lit(math.pi / 4.0) + F.radians(lat) / F.lit(2.0)))
    return x, y


def quadkey(tx: Column, ty: Column, z: int) -> Column:
    """Bing-style quadkey string — a Z-order key usable for range pruning
    and Iceberg sort orders (prefix = parent tile)."""
    digits = []
    for i in range(z, 0, -1):
        mask = F.lit(2 ** (i - 1))
        bx = F.when((tx.bitwiseAND(mask)) != 0, 1).otherwise(0)
        by = F.when((ty.bitwiseAND(mask)) != 0, 2).otherwise(0)
        digits.append((bx + by).cast("string"))
    return F.concat(*digits)


def k_ring_offsets(k: int) -> list[tuple[int, int]]:
    """Square k-ring neighbourhood offsets (Chebyshev distance <= k)."""
    return [(dx, dy) for dx in range(-k, k + 1) for dy in range(-k, k + 1)]


def with_k_ring(df, tx_col: str, ty_col: str, k: int, out_tx: str = "ring_tx",
                out_ty: str = "ring_ty"):
    """Explode each row to its (2k+1)^2 neighbouring cells.

    Used by the kNN name-match join: candidates are pairs sharing a ring
    cell, so the expensive Levenshtein only runs inside neighbourhoods.
    """
    offsets = F.array(
        *[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
          for dx, dy in k_ring_offsets(k)]
    )
    df = df.withColumn("_off", F.explode(offsets))
    return (
        df.withColumn(out_tx, F.col(tx_col) + F.col("_off.dx"))
        .withColumn(out_ty, F.col(ty_col) + F.col("_off.dy"))
        .drop("_off")
    )


# ---------------------------------------------------------------------------
# Plain-python twins (used by the synthetic generator and in tests)
# ---------------------------------------------------------------------------

def py_tile_x(x: float, z: int) -> int:
    return math.floor((x - ORIGIN) / cell_size(z))


def py_tile_y(y: float, z: int) -> int:
    return math.floor((-ORIGIN - y) / cell_size(z))


def py_tile_bounds(z: int, x: int, y: int):
    s = cell_size(z)
    return (ORIGIN + s * x, -ORIGIN - s * (y + 1), ORIGIN + s * (x + 1), -ORIGIN - s * y)


def zorder_key(tx: Column, ty: Column, bits: int = 16) -> Column:
    """Morton/Z-order key: bit-interleave two tile indices into one
    sort key. Writing files ordered by this key (``df.repartitionByRange
    (n, zkey).sortWithinPartitions(zkey)``) clusters 2-D-adjacent rows
    into the same parquet files, so min/max file statistics prune 2-D
    range predicates — the standard lakehouse layout trick for spatial
    tables (Delta/Iceberg Z-ORDER, public technique). Pure codegen:
    ``bits`` constant shift/mask terms summed (bit-disjoint, so + is
    |)."""
    out = None
    for i in range(bits):
        a = F.shiftleft(F.shiftright(tx, i).bitwiseAND(F.lit(1)), 2 * i)
        b = F.shiftleft(F.shiftright(ty, i).bitwiseAND(F.lit(1)), 2 * i + 1)
        out = a + b if out is None else out + a + b
    return out.cast("bigint")


def rect_cover_sequence(xmin, ymin, xmax, ymax, z: int):
    """(tx_seq, ty_seq) column pair: the slippy-cell index ranges a
    bbox covers at zoom ``z`` — explode both for the full cover. The
    per-rect cell count is (w/cell + 2) * (h/cell + 2): bounded by
    geometry, so the explode is never a blowup (pip_join's cover
    discipline)."""
    tx0 = tile_x(xmin, z)
    tx1 = tile_x(xmax, z)
    ty0 = tile_y(ymax, z)  # slippy y grows southward
    ty1 = tile_y(ymin, z)
    return F.sequence(tx0, tx1), F.sequence(ty0, ty1)


def compact_cells(cells, zoom: int, levels: int = 1):
    """H3-style ``compact``: replace every complete 4-child quad of
    zoom-``zoom`` cells by its parent, iterating up to ``levels``
    times — the mixed-resolution cover that ships interior area as
    coarse cells and boundary as fine ones (the standalone form of
    pip_join's quadtree-compacted broadcast cover).

    ``cells``: DataFrame with (tx, ty) at ``zoom``. Returns
    (z, tx, ty) mixed-resolution rows covering exactly the same area.

    Scale shape per level: one groupBy on the parent key (count == 4
    -> promote) + one anti-join for the kept children — shuffle
    O(cells), output strictly smaller whenever any quad is full."""
    from pyspark.sql import functions as F

    out = []
    cur = cells.select("tx", "ty").distinct()
    z = zoom
    for _ in range(levels):
        parented = cur.withColumn("ptx", F.expr("tx div 2")) \
                      .withColumn("pty", F.expr("ty div 2"))
        full = (parented.groupBy("ptx", "pty")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") == 4)
                .select("ptx", "pty"))
        kept = (parented.join(full, ["ptx", "pty"], "left_anti")
                .select(F.lit(z).alias("z"), "tx", "ty"))
        out.append(kept)
        cur = full.select(F.col("ptx").alias("tx"),
                          F.col("pty").alias("ty"))
        z -= 1
    res = cur.select(F.lit(z).alias("z"), "tx", "ty")
    for kept in out:
        res = res.unionByName(kept)
    return res


def uncompact_cells(cells, zoom: int):
    """Inverse of :func:`compact_cells`: expand a mixed-resolution
    (z, tx, ty) set back to uniform zoom-``zoom`` cells (each parent
    emits its 4^(zoom - z) descendants via two bounded sequence
    explodes). compact |> uncompact == identity on the cell set —
    asserted by the round-trip query's oracle, which derives the
    uniform cover directly and never compacts."""
    from pyspark.sql import functions as F

    f = F.expr(f"CAST(shiftleft(1, {zoom} - z) AS BIGINT)")
    return (cells
            .withColumn("_tx0", F.col("tx") * f)
            .withColumn("_ty0", F.col("ty") * f)
            .withColumn("tx", F.explode(
                F.sequence(F.col("_tx0"), F.col("_tx0") + f - 1)))
            .withColumn("ty", F.explode(
                F.sequence(F.col("_ty0"), F.col("_ty0") + f - 1)))
            .select("tx", "ty").distinct())


def quadkey_decode(qk: Column, z: int):
    """Inverse of quadkey(): recover (tx, ty) from the z-digit
    string. Pure column arithmetic (substring + bit masks), so the
    encode/decode pair round-trips inside whole-stage codegen — the
    property a quadkey-partitioned table layout relies on (prefix =
    parent tile at every level)."""
    tx = F.lit(0).cast("bigint")
    ty = F.lit(0).cast("bigint")
    for p in range(1, z + 1):
        d = F.substring(qk, p, 1).cast("int")
        scale = F.lit(2 ** (z - p)).cast("bigint")
        tx = tx + d.bitwiseAND(F.lit(1)).cast("bigint") * scale
        ty = ty + F.shiftright(d, 1).cast("bigint") * scale
    return tx, ty
