"""Raster map algebra over sparse cell tables.

The reference's raster side is commune-boundary rasterization for
expired-tile accounting (``bano/sql/tiles_*``, mirrored by
``operators/tiling.py`` and the raster->vector tracer). This module
adds the two classic raster analytics members on the same sparse
(tx, ty, value) representation — at web scale a raster IS a cell
table; dense 2-D arrays don't exist at 10^12 cells:

- ``zonal_stats``: per-zone aggregates of cell values, zones given as
  arbitrary polygon rings. Implemented by treating cell CENTERS as
  points through the cell-bucketed PIP ``spatial_join`` (center-in-
  zone is the standard raster zonal rule), then one partial-agg
  rollup on the zone id. Inherits the join's scale machinery:
  broadcast-or-shuffle auto-probe, quadtree covers, skew salting.
- ``focal_mean``: 3x3 neighborhood mean (map-algebra focal op) on a
  sparse raster — absent neighbors are absent, not zero. One explode
  of the 9 offsets + one partial-agg groupBy on the target cell +
  a semi-join back to the input cell set: shuffle volume is 9x the
  cell count of BIGINT triples, no matter how wide the raster.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

from .pip_join import spatial_join


def zonal_stats(cells: DataFrame, polygons: DataFrame, *,
                x: str = "x", y: str = "y", value: str = "val",
                zone_id: str = "poly_id", verts_col: str = "verts",
                zoom: int = 15, **join_kwargs) -> DataFrame:
    """Per-zone (n_cells, mean, sum) of ``value`` over cells whose
    center (x, y) falls inside the zone polygon. Overlapping zones
    each receive the cell (inner-join semantics)."""
    joined = spatial_join(cells, polygons, x=x, y=y, id_col=zone_id,
                          verts_col=verts_col, zoom=zoom, **join_kwargs)
    return joined.groupBy(zone_id).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cells"),
        F.round(F.avg(value), 6).alias("mean_val"),
        F.round(F.sum(value), 6).alias("sum_val"))


def focal_mean(cells: DataFrame, *, tx: str = "tx", ty: str = "ty",
               value: str = "val", include_center: bool = True) -> DataFrame:
    """3x3 focal mean on a sparse raster: for every input cell, the
    mean of ``value`` over its existing neighbors (and itself when
    ``include_center``). Cells absent from the input contribute
    nothing and produce no output row."""
    offs = [(dx, dy) for dx in (-1, 0, 1) for dy in (-1, 0, 1)
            if include_center or (dx, dy) != (0, 0)]
    off_df = cells.sparkSession.createDataFrame(offs, "dx int, dy int")
    contrib = (cells.crossJoin(F.broadcast(off_df))
               .select((F.col(tx) + F.col("dx")).alias(tx),
                       (F.col(ty) + F.col("dy")).alias(ty),
                       F.col(value)))
    agg = contrib.groupBy(tx, ty).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_neighbors"),
        F.round(F.avg(value), 6).alias("focal_mean"))
    return agg.join(cells.select(tx, ty).distinct(), [tx, ty])


def slope_aspect(dem: DataFrame, cell: float, *, gx: str = "gx",
                 gy: str = "gy", z: str = "z",
                 round_to: int = 6) -> DataFrame:
    """Slope and aspect per INTERIOR raster cell by Horn's method
    (Horn 1981 — the 3x3 weighted finite difference every GIS ships
    as its terrain kernel):

        dz/dx = ((ne + 2e + se) - (nw + 2w + sw)) / (8 * cell)
        dz/dy = ((nw + 2n + ne) - (sw + 2s + se)) / (8 * cell)

    (x east, y north), slope_deg = degrees(atan(sqrt(gx^2 + gy^2))),
    aspect_deg = degrees(atan2(dz/dy, dz/dx)) normalized to [0, 360).
    Cells missing any of their 8 neighbors (raster border, nodata
    holes) drop — interior-only semantics, mirrored by the oracle.

    Scale shape: ONE bounded 8-offset explode + one hash aggregation
    keyed by the center cell + an occupied-cell join-back — the same
    focal discipline as :func:`focal_mean`; weights ride the offset
    structs so the aggregation is a plain weighted sum. Integer DEMs
    keep the gradient sums exact, so both engines emit identical
    doubles into atan/atan2."""
    # (dx, dy, wx, wy): weight of neighbor (cx+dx, cy+dy) in dz/dx, dz/dy
    offs = [(1, 1, 1, 1), (1, 0, 2, 0), (1, -1, 1, -1),
            (-1, 1, -1, 1), (-1, 0, -2, 0), (-1, -1, -1, -1),
            (0, 1, 0, 2), (0, -1, 0, -2)]
    arr = F.array(*[F.struct(F.lit(a).alias("dx"), F.lit(b).alias("dy"),
                             F.lit(wx).alias("wx"), F.lit(wy).alias("wy"))
                    for a, b, wx, wy in offs])
    # Each cell acts as the NEIGHBOR: it contributes its z, weighted
    # by (wx, wy), to the center at (its position - offset) — so the
    # center receives exactly weight(dx, dy) * z(center + (dx, dy)).
    contrib = (dem.select(gx, gy, z, F.explode(arr).alias("o"))
               .select((F.col(gx) - F.col("o.dx")).alias(gx),
                       (F.col(gy) - F.col("o.dy")).alias(gy),
                       (F.col(z) * F.col("o.wx")).alias("_cx"),
                       (F.col(z) * F.col("o.wy")).alias("_cy")))
    sums = (contrib.groupBy(gx, gy)
            .agg(F.sum("_cx").alias("_sx"), F.sum("_cy").alias("_sy"),
                 F.count(F.lit(1)).alias("_m"))
            .filter(F.col("_m") == 8))
    out = sums.join(dem.select(gx, gy).distinct(), [gx, gy])
    d = 8.0 * float(cell)
    gxv = F.col("_sx") / F.lit(d)
    gyv = F.col("_sy") / F.lit(d)
    deg = 180.0 / math.pi
    aspect = F.atan2(gyv, gxv) * F.lit(deg)
    aspect = F.when(aspect < 0, aspect + 360.0).otherwise(aspect)
    return out.select(
        gx, gy,
        F.round(gxv, round_to).alias("dz_dx"),
        F.round(gyv, round_to).alias("dz_dy"),
        F.round(F.atan(F.sqrt(gxv * gxv + gyv * gyv)) * F.lit(deg),
                round_to).alias("slope_deg"),
        F.round(aspect, round_to).alias("aspect_deg"))


def segment_supercover(segments: DataFrame, cell: float, *,
                       seg_id: str = "seg_id", x1: str = "x1",
                       y1: str = "y1", x2: str = "x2",
                       y2: str = "y2") -> DataFrame:
    """EXACT supercover rasterization: every grid cell a segment
    passes through (vector -> raster, the inverse of
    tiling.tiles_vectorize; the per-cell expansion BANO's expire-tiles
    machinery wants when a changed WAY, not a point, must dirty its
    tiles — ref bano/expire_tiles.py walks point buffers only).

    Method: a segment crosses cell borders exactly at the parameters
    t where x(t) or y(t) hits a grid line. Collect those t (plus the
    0/1 sentinels), sort, and the MIDPOINT of each consecutive pair
    lies strictly inside one covered cell — floor it. This is
    Amanatides-Woo traversal re-expressed as set algebra: no loop, no
    state, just explode + window + floor, and it handles vertical,
    horizontal, degenerate (point) and anti-diagonal segments with no
    special cases. Corner-exact crossings yield zero-length intervals
    whose midpoints duplicate a neighbor cell — the final distinct
    absorbs them.

    Scale shape: the explode is bounded by the segment's cell span
    (length/cell + 2 per axis — linear, the pip_join cover
    discipline); one partitioned window orders each segment's
    crossings; one distinct dedupes. Returns (seg_id, cx, cy)."""
    from pyspark.sql import Window

    g = float(cell)
    s = segments.select(
        seg_id, F.col(x1).alias("_x1"), F.col(y1).alias("_y1"),
        (F.col(x2) - F.col(x1)).alias("_dx"),
        (F.col(y2) - F.col(y1)).alias("_dy"))

    def crossings(p0: str, dp: str) -> str:
        lo = f"CAST(ceil(least({p0}, {p0} + {dp}) / {g}d) AS BIGINT)"
        hi = f"CAST(floor(greatest({p0}, {p0} + {dp}) / {g}d) AS BIGINT)"
        return (f"CASE WHEN {dp} <> 0 AND {lo} <= {hi} THEN "
                f"transform(sequence({lo}, {hi}),"
                f" k -> (k * {g}d - {p0}) / {dp}) "
                f"ELSE array() END")

    ts = (f"filter(concat(array(0.0d, 1.0d), {crossings('_x1', '_dx')},"
          f" {crossings('_y1', '_dy')}), t -> t >= 0.0d AND t <= 1.0d)")
    tcol = (s.select(seg_id, "_x1", "_y1", "_dx", "_dy",
                     F.explode(F.expr(ts)).alias("_t")))
    w = Window.partitionBy(seg_id).orderBy("_t")
    mid = (tcol.withColumn("_tn", F.lead("_t").over(w))
           .filter(F.col("_tn").isNotNull() & (F.col("_tn") > F.col("_t")))
           .withColumn("_tm", (F.col("_t") + F.col("_tn")) / 2))
    return (mid.select(
        seg_id,
        F.floor((F.col("_x1") + F.col("_tm") * F.col("_dx")) / g)
        .alias("cx"),
        F.floor((F.col("_y1") + F.col("_tm") * F.col("_dy")) / g)
        .alias("cy"))
        .distinct())


_D8_DIRS = [
    # (dx, dy, code, diagonal) — ESRI D8 codes, x east, y north
    (1, 0, 1, False), (1, -1, 2, True), (0, -1, 4, False),
    (-1, -1, 8, True), (-1, 0, 16, False), (-1, 1, 32, True),
    (0, 1, 64, False), (1, 1, 128, True),
]

_SQRT2 = math.sqrt(2.0)


def d8_flow_direction(dem: DataFrame, *, gx: str = "gx", gy: str = "gy",
                      z: str = "z", round_to: int = 6) -> DataFrame:
    """D8 flow direction per occupied cell (O'Callaghan-Mark 1984,
    ESRI direction codes E=1 SE=2 S=4 SW=8 W=16 NW=32 N=64 NE=128):
    the steepest-DESCENT neighbor by drop/distance, distance 1 for
    cardinal and sqrt(2) for diagonal neighbors (cell units — the
    absolute cell size cancels in the argmax). Only strictly lower
    OCCUPIED neighbors count; cells with none (sinks, flats, pits at
    the raster border) get direction 0 and drop 0. Ties break to the
    smallest direction code — deterministic, mirrored by the oracle.

    Scale shape: the :func:`slope_aspect` discipline — each cell
    contributes (z, reverse-direction code) to center = cell - offset
    in ONE bounded 8-offset explode, one max-struct hash aggregation
    per center, one occupied join-back. Integer DEMs keep every
    drop/sqrt(2) a deterministic double, so both engines pick the
    same neighbor bitwise.

    Returns (gx, gy, dir, drop_per_cell)."""
    arr = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                 F.lit(code).alias("code"),
                 F.lit(_SQRT2 if diag else 1.0).alias("dist"))
        for dx, dy, code, diag in _D8_DIRS])
    # emitted to center = cell - offset: the center receives this
    # cell's z tagged with the code of the direction center -> cell
    nb = (dem.select(gx, gy, z, F.explode(arr).alias("o"))
          .select((F.col(gx) - F.col("o.dx")).alias(gx),
                  (F.col(gy) - F.col("o.dy")).alias(gy),
                  F.col(z).alias("_zn"), F.col("o.code").alias("_code"),
                  F.col("o.dist").alias("_dist")))
    j = nb.join(dem.select(gx, gy, F.col(z).alias("_zc")), [gx, gy])
    grad = (F.col("_zc") - F.col("_zn")).cast("double") / F.col("_dist")
    cand = (j.filter(F.col("_zn") < F.col("_zc"))
            .select(gx, gy,
                    F.struct(grad.alias("g"),
                             (-F.col("_code")).alias("nc")).alias("_c")))
    best = cand.groupBy(gx, gy).agg(F.max("_c").alias("b"))
    out = (dem.select(gx, gy).distinct()
           .join(best, [gx, gy], "left"))
    return out.select(
        gx, gy,
        F.coalesce(-F.col("b.nc"), F.lit(0)).alias("dir"),
        F.round(F.coalesce(F.col("b.g"), F.lit(0.0)), round_to)
        .alias("drop_per_cell"))


def d8_flow_accumulation(dem: DataFrame, *, gx: str = "gx",
                         gy: str = "gy", z: str = "z",
                         max_rounds: int = 64) -> DataFrame:
    """D8 flow accumulation: for each cell, the number of cells whose
    flow path (following :func:`d8_flow_direction` pointers) passes
    through it, INCLUDING itself — the upstream contributing-area
    count that defines channels and watersheds. Because D8 descends
    strictly, the pointer graph is a forest into the sinks and the
    fixpoint exists.

    Iteration: acc_0 = 1; acc_{k+1}(c) = 1 + sum of acc_k over the
    immediate upstream cells. After k rounds acc counts all upstream
    cells within k hops, so the fixpoint arrives after longest-flow-
    path rounds; convergence is detected STRUCTURALLY (count of cells
    whose integer acc changed — exact), and exhausting ``max_rounds``
    raises (the k_core loud-guard discipline, not a silent cap).

    Scale shape per round: one equi-join on the downstream key + one
    hash aggregation, localCheckpoint to keep lineage flat. Driver
    sees one count per round. Returns (gx, gy, acc)."""
    dirs = d8_flow_direction(dem, gx=gx, gy=gy, z=z)
    code_dx = F.create_map(*[x for dx, dy, code, _ in _D8_DIRS
                             for x in (F.lit(code), F.lit(dx))])
    code_dy = F.create_map(*[x for dx, dy, code, _ in _D8_DIRS
                             for x in (F.lit(code), F.lit(dy))])
    edges = (dirs.filter(F.col("dir") != 0)
             .select(F.col(gx).alias("_ux"), F.col(gy).alias("_uy"),
                     (F.col(gx) + code_dx[F.col("dir")]).alias("_dx"),
                     (F.col(gy) + code_dy[F.col("dir")]).alias("_dy"))
             .persist())
    edges.count()
    acc = (dem.select(F.col(gx).alias("_cx"), F.col(gy).alias("_cy"))
           .distinct().withColumn("_acc", F.lit(1).cast("bigint"))
           .localCheckpoint(eager=True))
    for _ in range(max_rounds):
        up = (edges.join(acc, (F.col("_ux") == F.col("_cx"))
                         & (F.col("_uy") == F.col("_cy")))
              .groupBy(F.col("_dx").alias("_cx"),
                       F.col("_dy").alias("_cy"))
              .agg(F.sum("_acc").alias("_in")))
        new = (acc.select("_cx", "_cy").join(up, ["_cx", "_cy"], "left")
               .select("_cx", "_cy",
                       (F.lit(1) + F.coalesce(F.col("_in"), F.lit(0)))
                       .cast("bigint").alias("_acc"))
               .localCheckpoint(eager=True))
        changed = (new.join(acc.withColumnRenamed("_acc", "_old"),
                            ["_cx", "_cy"])
                   .filter(F.col("_acc") != F.col("_old"))
                   .limit(1).count())
        old = acc
        acc = new
        old.unpersist()
        if changed == 0:
            break
    else:
        edges.unpersist()
        raise RuntimeError(
            f"d8_flow_accumulation: no fixpoint within {max_rounds} "
            "rounds — the longest flow path exceeds the guard; raise "
            "max_rounds")
    edges.unpersist()
    return acc.select(F.col("_cx").alias(gx), F.col("_cy").alias(gy),
                      F.col("_acc").alias("acc"))


def viewshed(dem: DataFrame, ox: int, oy: int, *, h: float = 1.0,
             radius: int = 8, gx: str = "gx", gy: str = "gy",
             z: str = "z", round_to: int = 6) -> DataFrame:
    """Raster viewshed from the cell (ox, oy): which occupied cells
    within Chebyshev ``radius`` can an observer ``h`` above that
    cell's elevation see? A target is visible iff its elevation angle
    from the observer exceeds the MAXIMUM angle over the cells its
    sightline crosses (the classic center-to-center line-of-sight
    rule; R2-style per-target rays, not wave propagation — exact, no
    sweep-order approximation). Sightline cells come from
    :func:`segment_supercover` on the center-to-center segment at
    cell size 1; nodata holes are transparent (absent cells never
    block — documented, mirrored by the oracle). A blocking cell
    needs a STRICTLY larger angle: a ridge exactly on the sightline
    blocks (ties block).

    Scale shape: one bounded supercover explode per target (O(radius)
    cells each), one equi-join to the DEM for elevations, one max
    aggregation per target — O(targets x radius), never all-pairs;
    every angle is a deterministic double from exact integer sums.

    Returns (gx, gy, dist, target_angle, max_block_angle, visible)."""
    obs = (dem.filter((F.col(gx) == ox) & (F.col(gy) == oy))
           .select((F.col(z).cast("double") + float(h)).alias("_z0")))
    targets = (dem.filter(
        (F.greatest(F.abs(F.col(gx) - ox), F.abs(F.col(gy) - oy))
         <= radius)
        & ~((F.col(gx) == ox) & (F.col(gy) == oy)))
        .select(F.col(gx).alias("_tx"), F.col(gy).alias("_ty"),
                F.col(z).alias("_tz"))
        .crossJoin(F.broadcast(obs)))
    # composed bigint segment key; radius-bounded so offsets are safe
    key = ((F.col("_tx") - ox + F.lit(radius)) * F.lit(4 * radius + 2)
           + (F.col("_ty") - oy + F.lit(radius)))
    segs = targets.select(
        key.alias("seg_id"), "_tx", "_ty", "_tz", "_z0",
        F.lit(float(ox) + 0.5).alias("x1"),
        F.lit(float(oy) + 0.5).alias("y1"),
        (F.col("_tx").cast("double") + 0.5).alias("x2"),
        (F.col("_ty").cast("double") + 0.5).alias("y2"))
    ray = segment_supercover(
        segs.select("seg_id", "x1", "y1", "x2", "y2"), 1.0)
    mid = (ray.join(segs.select("seg_id", "_tx", "_ty", "_z0"), "seg_id")
           .filter(~((F.col("cx") == ox) & (F.col("cy") == oy))
                   & ~((F.col("cx") == F.col("_tx"))
                       & (F.col("cy") == F.col("_ty")))))
    demz = dem.select(F.col(gx).alias("cx"), F.col(gy).alias("cy"),
                      F.col(z).alias("_zi"))
    di = F.sqrt(((F.col("cx") - ox) * (F.col("cx") - ox)
                 + (F.col("cy") - oy) * (F.col("cy") - oy))
                .cast("double"))
    blocks = (mid.join(demz, ["cx", "cy"])
              .select("seg_id",
                      ((F.col("_zi") - F.col("_z0")) / di).alias("_a"))
              .groupBy("seg_id")
              .agg(F.max("_a").alias("_amax")))
    dt = F.sqrt(((F.col("_tx") - ox) * (F.col("_tx") - ox)
                 + (F.col("_ty") - oy) * (F.col("_ty") - oy))
                .cast("double"))
    out = (segs.select("seg_id", "_tx", "_ty", "_tz", "_z0",
                       dt.alias("_dt"))
           .join(blocks, "seg_id", "left"))
    ta = (F.col("_tz") - F.col("_z0")) / F.col("_dt")
    return out.select(
        F.col("_tx").alias(gx), F.col("_ty").alias(gy),
        F.round("_dt", round_to).alias("dist"),
        F.round(ta, round_to).alias("target_angle"),
        F.round("_amax", round_to).alias("max_block_angle"),
        (F.col("_amax").isNull() | (ta > F.col("_amax")))
        .alias("visible"))


def _cell_key(gx, gy, off: int, m: int):
    return (gx + F.lit(off)) * F.lit(m) + (gy + F.lit(off))


def cost_distance(cells: DataFrame, sx: int, sy: int, *,
                  gx: str = "gx", gy: str = "gy", cost: str = "cost",
                  key_offset: int = 1 << 19, key_mult: int = 1 << 20,
                  max_rounds: int = 200,
                  round_to: int = 6) -> DataFrame:
    """Accumulated-cost distance from source cell (sx, sy) over a
    cost surface (the raster-GIS cost-distance/least-cost-path
    primitive): moving between 8-adjacent cells costs
    (cost_a + cost_b) / 2 * dist, dist 1 cardinal / sqrt(2) diagonal
    — the standard ESRI formulation. Exact shortest accumulated cost
    via the existing distributed Bellman-Ford (graph.sssp_weighted)
    over the relationally-built lattice edges: one bounded 8-offset
    explode + equi-join builds the edge list, nothing else is new —
    the operator IS the composition.

    Cell keys compose as (gx+off)*mult+(gy+off); callers at planetary
    extents need a space-filling-curve key instead — the lattice here
    is fixture-bounded. Integer costs make every half-sum exact in
    halves and every path cost a deterministic double.

    Returns (gx, gy, cost_dist) for cells reachable from the
    source."""
    from .graph import sssp_weighted

    m, off = int(key_mult), int(key_offset)
    base = cells.select(F.col(gx), F.col(gy),
                        F.col(cost).cast("double").alias("_c"))
    arr = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                 F.lit(_SQRT2 if dx * dy != 0 else 1.0).alias("dist"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1) if (dx, dy) != (0, 0)])
    nb = (base.select(gx, gy, "_c", F.explode(arr).alias("o"))
          .select((F.col(gx) + F.col("o.dx")).alias("_nx"),
                  (F.col(gy) + F.col("o.dy")).alias("_ny"),
                  F.col(gx), F.col(gy), F.col("_c"),
                  F.col("o.dist").alias("_d")))
    edges = (nb.join(base.select(F.col(gx).alias("_nx"),
                                 F.col(gy).alias("_ny"),
                                 F.col("_c").alias("_cn")),
                     ["_nx", "_ny"])
             .select(_cell_key(F.col(gx), F.col(gy), off, m).alias("u"),
                     _cell_key(F.col("_nx"), F.col("_ny"), off, m)
                     .alias("v"),
                     ((F.col("_c") + F.col("_cn")) / 2.0 * F.col("_d"))
                     .alias("w")))
    seeds = (cells.filter((F.col(gx) == sx) & (F.col(gy) == sy))
             .select(_cell_key(F.col(gx), F.col(gy), off, m)
                     .alias("node")))
    d = sssp_weighted(edges, seeds, src="u", dst="v", weight="w",
                      max_rounds=max_rounds)
    k = F.col("node")
    return d.select(
        (F.floor(k / m) - off).cast("bigint").alias(gx),
        (k % m - off).cast("bigint").alias(gy),
        F.round(F.col("dist"), round_to).alias("cost_dist"))


def raster_regions(cells: DataFrame, *, gx: str = "gx", gy: str = "gy",
                   cls: str = "cls", key_offset: int = 1 << 19,
                   key_mult: int = 1 << 20) -> DataFrame:
    """Region-group (ESRI RegionGroup / rasterio label): connected
    components of 4-adjacent cells sharing the same class value. The
    region label is the minimum composed cell key in the region,
    decomposed back to (region_gx, region_gy) so labels are readable
    cell coordinates. Same-class adjacency edges come from one
    bounded 2-offset explode (east + north cover every undirected
    4-adjacency once) + an equi-join; labeling is the existing
    pointer-doubling connected components. Isolated cells (no
    same-class neighbor) label themselves.

    Returns (gx, gy, cls, region_gx, region_gy)."""
    from .components import connected_components

    m, off = int(key_mult), int(key_offset)
    base = cells.select(gx, gy, cls)
    key = _cell_key(F.col(gx), F.col(gy), off, m)
    arr = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                    for dx, dy in ((1, 0), (0, 1))])
    nb = (base.select(gx, gy, cls, F.explode(arr).alias("o"))
          .select((F.col(gx) + F.col("o.dx")).alias("_nx"),
                  (F.col(gy) + F.col("o.dy")).alias("_ny"),
                  F.col(gx), F.col(gy), F.col(cls)))
    edges = (nb.join(base.select(F.col(gx).alias("_nx"),
                                 F.col(gy).alias("_ny"),
                                 F.col(cls).alias("_ncls")),
                     ["_nx", "_ny"])
             .filter(F.col(cls) == F.col("_ncls"))
             .select(key.alias("src"),
                     _cell_key(F.col("_nx"), F.col("_ny"), off, m)
                     .alias("dst")))
    comp = connected_components(edges)
    lab = (base.withColumn("_k", key)
           .join(comp.withColumnRenamed("id", "_k"), "_k", "left")
           .withColumn("_lbl", F.coalesce(F.col("comp"), F.col("_k"))))
    lbl = F.col("_lbl")
    return lab.select(
        gx, gy, cls,
        (F.floor(lbl / m) - off).cast("bigint").alias("region_gx"),
        (lbl % m - off).cast("bigint").alias("region_gy"))


def hillshade(dem: DataFrame, cell: float, *, altitude_deg: float = 45.0,
              azimuth_deg: float = 315.0, gx: str = "gx", gy: str = "gy",
              z: str = "z", round_to: int = 6) -> DataFrame:
    """Lambertian hillshade per INTERIOR cell: the Horn gradient
    (same 8-offset contribution aggregation as :func:`slope_aspect`)
    dotted with a fixed sun vector,

        hs = 255 * max(0, (L . n) / |n|),   n = (-dz/dx, -dz/dy, 1)

    which is algebraically the ArcGIS hillshade formula without the
    slope/aspect trig detour. The sun vector components are computed
    ONCE in Python (math.cos/sin) and inlined as double literals, so
    the distributed expression uses only +-*/ and sqrt — IEEE-exact
    in any engine; no libm variance crosses the oracle boundary.
    ``sun_vector_literals`` exposes the same literals for SQL twins.

    Scale shape: identical to slope_aspect — one bounded 8-offset
    explode, one hash aggregation keyed by center cell, occupied
    join-back. No extra shuffle for the shading arithmetic."""
    lx, ly, lz = sun_vector(altitude_deg, azimuth_deg)
    offs = [(1, 1, 1, 1), (1, 0, 2, 0), (1, -1, 1, -1),
            (-1, 1, -1, 1), (-1, 0, -2, 0), (-1, -1, -1, -1),
            (0, 1, 0, 2), (0, -1, 0, -2)]
    arr = F.array(*[F.struct(F.lit(a).alias("dx"), F.lit(b).alias("dy"),
                             F.lit(wx).alias("wx"), F.lit(wy).alias("wy"))
                    for a, b, wx, wy in offs])
    contrib = (dem.select(gx, gy, z, F.explode(arr).alias("o"))
               .select((F.col(gx) - F.col("o.dx")).alias(gx),
                       (F.col(gy) - F.col("o.dy")).alias(gy),
                       (F.col(z) * F.col("o.wx")).alias("_cx"),
                       (F.col(z) * F.col("o.wy")).alias("_cy")))
    sums = (contrib.groupBy(gx, gy)
            .agg(F.sum("_cx").alias("_sx"), F.sum("_cy").alias("_sy"),
                 F.count(F.lit(1)).alias("_m"))
            .filter(F.col("_m") == 8))
    out = sums.join(dem.select(gx, gy).distinct(), [gx, gy])
    d = 8.0 * float(cell)
    gxv = F.col("_sx") / F.lit(d)
    gyv = F.col("_sy") / F.lit(d)
    dot = (F.lit(lx) * -gxv + F.lit(ly) * -gyv + F.lit(lz)) \
        / F.sqrt(gxv * gxv + gyv * gyv + F.lit(1.0))
    hs = F.greatest(F.lit(0.0), F.lit(255.0) * dot)
    return out.select(gx, gy, F.round(hs, round_to).alias("hillshade"))


def sun_vector(altitude_deg: float, azimuth_deg: float) -> tuple:
    """Unit sun vector for :func:`hillshade` in MATH convention
    (azimuth counterclockwise from +x east). Cartographic azimuth A
    (clockwise from north) maps via math_az = 90 - A. Returned as
    plain Python floats so callers can inline identical literals into
    Spark expressions and SQL oracles."""
    alt = math.radians(altitude_deg)
    azm = math.radians(90.0 - azimuth_deg)
    return (math.cos(alt) * math.cos(azm),
            math.cos(alt) * math.sin(azm),
            math.sin(alt))


# Marching-squares segment topology: case id (bit k set iff corner k
# >= iso; corners ordered c00, c10, c11, c01 counterclockwise) ->
# list of (edge, edge) segments. Edges: 0 bottom (c00-c10), 1 right
# (c10-c11), 2 top (c01-c11), 3 left (c00-c01). The two ambiguous
# saddle cases (5, 10) use a FIXED resolution (no center-average
# rule) so both engines agree by construction.
MS_SEGMENTS: dict[int, list[tuple[int, int]]] = {
    0: [], 15: [],
    1: [(3, 0)], 2: [(0, 1)], 3: [(3, 1)], 4: [(1, 2)],
    5: [(3, 0), (1, 2)], 6: [(0, 2)], 7: [(3, 2)],
    8: [(2, 3)], 9: [(0, 2)], 10: [(0, 1), (2, 3)],
    11: [(1, 2)], 12: [(1, 3)], 13: [(0, 1)], 14: [(3, 0)],
}


def ms_edge_x_sql(e: str) -> str:
    """X coordinate of the iso-crossing on edge ``e`` given columns
    gx, gy (cell corner) and t0..t3 (per-edge interpolation params).
    Valid Spark SQL AND DuckDB SQL — the engine evaluates it via
    F.expr, the oracle verbatim."""
    return (f"CASE {e} WHEN 0 THEN gx + t0 WHEN 1 THEN gx + 1.0 "
            f"WHEN 2 THEN gx + t2 ELSE CAST(gx AS DOUBLE) END")


def ms_edge_y_sql(e: str) -> str:
    return (f"CASE {e} WHEN 0 THEN CAST(gy AS DOUBLE) WHEN 1 THEN gy + t1 "
            f"WHEN 2 THEN gy + 1.0 ELSE gy + t3 END")


def contour_cells(dem: DataFrame, iso: float, *, gx: str = "gx",
                  gy: str = "gy", z: str = "z",
                  round_to: int = 6) -> DataFrame:
    """Marching-squares contour extraction at level ``iso`` over a
    sparse integer raster: per 2x2 corner square anchored at its
    bottom-left cell, the case id, segment count, and total contour
    length inside the square (endpoints linearly interpolated along
    the crossing edges). Squares missing any corner drop; case 0/15
    squares emit with zero segments (full coverage for the oracle).

    Scale shape: corners assemble by ONE bounded 4-offset explode +
    one hash aggregation (each cell's z is shipped to the 4 squares
    it corners — no self-join chain); the case->segments lookup is a
    <=32-row broadcast. With integer z and a non-integer iso the
    interpolation params are exact IEEE quotients, so engine and
    oracle agree bit-for-bit before the final rounding."""
    spark = dem.sparkSession
    iso_l = F.lit(float(iso))
    # corner index k: this cell is corner k of the square anchored at
    # (gx - dx_k, gy - dy_k); (dx, dy) per corner c00, c10, c11, c01
    corners = [(0, 0, 0), (1, 1, 0), (2, 1, 1), (3, 0, 1)]
    arr = F.array(*[F.struct(F.lit(k).alias("k"), F.lit(a).alias("dx"),
                             F.lit(b).alias("dy"))
                    for k, a, b in corners])
    contrib = (dem.select(gx, gy, z, F.explode(arr).alias("o"))
               .select((F.col(gx) - F.col("o.dx")).alias("gx"),
                       (F.col(gy) - F.col("o.dy")).alias("gy"),
                       F.col("o.k").alias("_k"),
                       F.col(z).cast("double").alias("_z")))
    zk = [F.max(F.when(F.col("_k") == k, F.col("_z"))).alias(f"z{k}")
          for k in range(4)]
    sq = (contrib.groupBy("gx", "gy")
          .agg(*zk, F.count(F.lit(1)).alias("_m"))
          .filter(F.col("_m") == 4))
    bit = [F.when(F.col(f"z{k}") >= iso_l, 1 << k).otherwise(0)
           for k in range(4)]
    t = {  # (iso - za) / (zb - za), guarded; only crossing arms used
        "t0": ("z0", "z1"), "t1": ("z1", "z2"),
        "t2": ("z3", "z2"), "t3": ("z0", "z3"),
    }
    sq = sq.withColumn("case_id", sum(bit[1:], bit[0]).cast("int"))
    for name, (a, b) in t.items():
        sq = sq.withColumn(
            name, (iso_l - F.col(a))
            / F.nullif(F.col(b) - F.col(a), F.lit(0.0)))
    lut = spark.createDataFrame(
        [(c, a, b) for c, segs in sorted(MS_SEGMENTS.items())
         for a, b in segs],
        "case_id int, e1 int, e2 int")
    segs = (sq.join(F.broadcast(lut), "case_id")
            .withColumn("_x1", F.expr(ms_edge_x_sql("e1")))
            .withColumn("_y1", F.expr(ms_edge_y_sql("e1")))
            .withColumn("_x2", F.expr(ms_edge_x_sql("e2")))
            .withColumn("_y2", F.expr(ms_edge_y_sql("e2")))
            .withColumn("_len", F.sqrt(
                (F.col("_x2") - F.col("_x1")) * (F.col("_x2") - F.col("_x1"))
                + (F.col("_y2") - F.col("_y1"))
                * (F.col("_y2") - F.col("_y1"))))
            .groupBy("gx", "gy")
            .agg(F.count(F.lit(1)).alias("n_segs"),
                 F.sum("_len").alias("_tl")))
    out = (sq.select("gx", "gy", "case_id")
           .join(segs, ["gx", "gy"], "left"))
    return out.select(
        "gx", "gy", "case_id",
        F.coalesce(F.col("n_segs"), F.lit(0)).cast("bigint").alias("n_segs"),
        F.round(F.coalesce(F.col("_tl"), F.lit(0.0)),
                round_to).alias("contour_len"))


def region_stats(labeled: DataFrame, *, gx: str = "gx", gy: str = "gy",
                 region_cols: tuple = ("cls", "region_gx", "region_gy"),
                 round_to: int = 6) -> DataFrame:
    """Dissolve statistics per labelled raster region: cell count
    (area), lattice perimeter (each cell contributes 4 minus its
    same-region 4-neighbors — shared interior edges cancel exactly,
    the dissolve semantics of polygon union without any geometry),
    and the isoperimetric quotient 16*area/perimeter^2 (= 1 for a
    square, < 1 for ragged regions) — the compactness screen of
    region-group post-processing.

    Scale shape: one bounded 4-offset explode + one equi-join on the
    neighbor cell + one hash aggregation on the region key. Integer
    arithmetic until the final quotient."""
    rc = list(region_cols)
    base = labeled.select(gx, gy, *rc)
    offs = F.array(*[F.struct(F.lit(a).alias("dx"), F.lit(b).alias("dy"))
                     for a, b in ((1, 0), (-1, 0), (0, 1), (0, -1))])
    nb = (base.select(gx, gy, *rc, F.explode(offs).alias("o"))
          .select((F.col(gx) + F.col("o.dx")).alias("_nx"),
                  (F.col(gy) + F.col("o.dy")).alias("_ny"),
                  gx, gy, *rc))
    other = base.select(F.col(gx).alias("_nx"), F.col(gy).alias("_ny"),
                        *[F.col(c).alias(f"_n_{c}") for c in rc])
    same = (nb.join(other, ["_nx", "_ny"])
            .filter(" AND ".join(f"{c} = _n_{c}" for c in rc))
            .groupBy(gx, gy, *rc)
            .agg(F.count(F.lit(1)).alias("_deg")))
    per_cell = (base.join(same, [gx, gy, *rc], "left")
                .withColumn("_edge", F.lit(4)
                            - F.coalesce(F.col("_deg"), F.lit(0))))
    out = (per_cell.groupBy(*rc)
           .agg(F.count(F.lit(1)).cast("bigint").alias("area_cells"),
                F.sum("_edge").cast("bigint").alias("perimeter")))
    return out.select(
        *rc, "area_cells", "perimeter",
        F.round(F.lit(16.0) * F.col("area_cells")
                / (F.col("perimeter") * F.col("perimeter")),
                round_to).alias("iso_quotient"))


def topographic_wetness(dem: DataFrame, cell: float, *,
                        gx: str = "gx", gy: str = "gy", z: str = "z",
                        round_to: int = 6) -> DataFrame:
    """Topographic wetness index TWI = ln(a / tan(slope)) per interior
    cell, the hydrology composite of two existing operators: specific
    contributing area a = D8 flow accumulation x cell width, and
    tan(slope) = the Horn gradient MAGNITUDE — tan(atan(m)) = m, so
    no trig function ever evaluates; ln is the single libm call,
    applied to identical doubles in any engine. Zero-gradient cells
    (undefined TWI) drop, mirrored by the oracle.

    Scale shape: the composition inherits its parts — accumulation's
    pointer-forest rounds + Horn's one-explode/one-agg — joined once
    on the cell key."""
    acc = d8_flow_accumulation(dem, gx=gx, gy=gy, z=z)
    offs = [(1, 1, 1, 1), (1, 0, 2, 0), (1, -1, 1, -1),
            (-1, 1, -1, 1), (-1, 0, -2, 0), (-1, -1, -1, -1),
            (0, 1, 0, 2), (0, -1, 0, -2)]
    arr = F.array(*[F.struct(F.lit(a).alias("dx"), F.lit(b).alias("dy"),
                             F.lit(wx).alias("wx"), F.lit(wy).alias("wy"))
                    for a, b, wx, wy in offs])
    contrib = (dem.select(gx, gy, z, F.explode(arr).alias("o"))
               .select((F.col(gx) - F.col("o.dx")).alias(gx),
                       (F.col(gy) - F.col("o.dy")).alias(gy),
                       (F.col(z) * F.col("o.wx")).alias("_cx"),
                       (F.col(z) * F.col("o.wy")).alias("_cy")))
    sums = (contrib.groupBy(gx, gy)
            .agg(F.sum("_cx").alias("_sx"), F.sum("_cy").alias("_sy"),
                 F.count(F.lit(1)).alias("_m"))
            .filter(F.col("_m") == 8))
    d = 8.0 * float(cell)
    gxv = F.col("_sx") / F.lit(d)
    gyv = F.col("_sy") / F.lit(d)
    grad = sums.select(gx, gy,
                       F.sqrt(gxv * gxv + gyv * gyv).alias("_tan"))
    return (acc.join(grad, [gx, gy])
            .filter(F.col("_tan") > 0)
            .select(gx, gy, F.col("acc").cast("bigint").alias("acc"),
                    F.round(F.log(F.col("acc") * F.lit(float(cell))
                                  / F.col("_tan")),
                            round_to).alias("twi")))


def watershed_labels(dem: DataFrame, *, gx: str = "gx", gy: str = "gy",
                     z: str = "z", max_rounds: int = 64) -> DataFrame:
    """Watershed (catchment) labelling: every cell labelled by the
    SINK its D8 flow path terminates in — the basin partition of the
    DEM, completing the hydrology family (direction -> accumulation
    -> basins). D8 descends strictly, so the pointer graph is a
    forest and each cell has exactly one sink.

    Pointer DOUBLING, not step-walking: each round replaces every
    cell's current pointer with its pointer's pointer (one self
    equi-join), so a flow path of length L resolves in ceil(log2 L)
    rounds — the longest path over a 10^12-cell DEM (say 10^6 cells)
    costs ~20 rounds, not 10^6. Sinks point to themselves; the loop
    stops on the structural fixpoint (no pointer changed) and raises
    after ``max_rounds`` (a loud runaway guard, not a silent cap).

    Returns (gx, gy, sink_gx, sink_gy)."""
    dirs = d8_flow_direction(dem, gx=gx, gy=gy, z=z)
    code = {1: (1, 0), 2: (1, -1), 4: (0, -1), 8: (-1, -1),
            16: (-1, 0), 32: (-1, 1), 64: (0, 1), 128: (1, 1)}
    dxc = F.lit(0)
    dyc = F.lit(0)
    for c, (a, b) in code.items():
        dxc = F.when(F.col("dir") == c, a).otherwise(dxc)
        dyc = F.when(F.col("dir") == c, b).otherwise(dyc)
    ptr = (dirs.select(gx, gy,
                       (F.col(gx) + dxc).alias("_px"),
                       (F.col(gy) + dyc).alias("_py"))
           .localCheckpoint(eager=True))
    for _ in range(max_rounds):
        nxt = ptr.select(F.col(gx).alias("_px"), F.col(gy).alias("_py"),
                         F.col("_px").alias("_qx"),
                         F.col("_py").alias("_qy"))
        step = (ptr.join(nxt, ["_px", "_py"])
                .select(gx, gy, F.col("_qx").alias("_nx"),
                        F.col("_qy").alias("_ny"),
                        ((F.col("_qx") != F.col("_px"))
                         | (F.col("_qy") != F.col("_py")))
                        .cast("long").alias("_chg"))
                .localCheckpoint(eager=True))
        changed = step.agg(F.sum("_chg")).first()[0] or 0
        ptr = step.select(gx, gy, F.col("_nx").alias("_px"),
                          F.col("_ny").alias("_py"))
        if changed == 0:
            return ptr.select(gx, gy,
                              F.col("_px").alias("sink_gx"),
                              F.col("_py").alias("sink_gy"))
    raise RuntimeError("watershed_labels: no fixpoint after "
                       f"{max_rounds} doubling rounds")


def terrain_curvature(dem: DataFrame, cell: float, *, gx: str = "gx",
                      gy: str = "gy", z: str = "z",
                      round_to: int = 6) -> DataFrame:
    """Surface curvature per interior cell (Zevenbergen & Thorne
    1987 — the ArcGIS Curvature tool): fit the 9-term quadric to the
    3x3 window and read its second derivatives,

        D = ((zW + zE)/2 - zC) / L^2     E = ((zN + zS)/2 - zC) / L^2
        F = (-zNW + zNE + zSW - zSE) / (4 L^2)
        G = (-zW + zE) / (2 L)           H = (zN - zS) / (2 L)

    general = -2 (D + E) * 100 (ArcGIS scaling), profile =
    -2 (D G^2 + E H^2 + F G H) / (G^2 + H^2), plan = 2 (D H^2 +
    E G^2 - F G H) / (G^2 + H^2). Cells with zero gradient drop
    (profile/plan undefined there), mirrored by the oracle. Pure
    rational arithmetic on integer DEMs — no libm at all, bit-exact
    in any engine.

    Scale shape: the slope_aspect discipline — one bounded 8-offset
    explode tagged with the corner role, one hash agg per center,
    occupied join-back."""
    # (dx, dy, name): neighbor roles relative to center (x east,
    # y north)
    roles = [(-1, 1, "nw"), (0, 1, "n"), (1, 1, "ne"),
             (-1, 0, "w"), (1, 0, "e"),
             (-1, -1, "sw"), (0, -1, "s"), (1, -1, "se")]
    arr = F.array(*[F.struct(F.lit(a).alias("dx"), F.lit(b).alias("dy"),
                             F.lit(i).alias("k"))
                    for i, (a, b, _) in enumerate(roles)])
    contrib = (dem.select(gx, gy, z, F.explode(arr).alias("o"))
               .select((F.col(gx) - F.col("o.dx")).alias(gx),
                       (F.col(gy) - F.col("o.dy")).alias(gy),
                       F.col("o.k").alias("_k"),
                       F.col(z).cast("double").alias("_z")))
    aggs = [F.max(F.when(F.col("_k") == i, F.col("_z"))).alias(f"_{nm}")
            for i, (_, _, nm) in enumerate(roles)]
    nbr = (contrib.groupBy(gx, gy)
           .agg(*aggs, F.count(F.lit(1)).alias("_m"))
           .filter(F.col("_m") == 8)
           .join(dem.select(gx, gy, F.col(z).cast("double")
                            .alias("_c")), [gx, gy]))
    ll = float(cell)
    l2 = ll * ll
    d = ((F.col("_w") + F.col("_e")) / 2.0 - F.col("_c")) / F.lit(l2)
    e = ((F.col("_n") + F.col("_s")) / 2.0 - F.col("_c")) / F.lit(l2)
    f = (-F.col("_nw") + F.col("_ne") + F.col("_sw") - F.col("_se")) \
        / F.lit(4.0 * l2)
    g = (-F.col("_w") + F.col("_e")) / F.lit(2.0 * ll)
    h = (F.col("_n") - F.col("_s")) / F.lit(2.0 * ll)
    g2h2 = g * g + h * h
    out = (nbr.withColumn("_g2h2", g2h2)
           .filter(F.col("_g2h2") > 0))
    # + 0.0 normalizes IEEE negative zero (a flat -0.0 reprs
    # differently across engines and breaks repr-level compares)
    return out.select(
        gx, gy,
        (F.round(F.lit(-200.0) * (d + e), round_to) + 0.0)
        .alias("curv_general"),
        (F.round(F.lit(-2.0) * (d * g * g + e * h * h + f * g * h)
                 / F.col("_g2h2"), round_to) + 0.0).alias("curv_profile"),
        (F.round(F.lit(2.0) * (d * h * h + e * g * g - f * g * h)
                 / F.col("_g2h2"), round_to) + 0.0).alias("curv_plan"))


def flow_path_length(dem: DataFrame, cell: float, *, gx: str = "gx",
                     gy: str = "gy", z: str = "z",
                     max_rounds: int = 64) -> DataFrame:
    """Downstream flow-path length per cell: the along-path distance
    to the D8 sink (cardinal steps cost ``cell``, diagonals
    ``cell*sqrt(2)``) — the hydrology distance behind time-of-
    concentration and erosion-length models.

    Pointer doubling like :func:`watershed_labels`, but the state
    carries INTEGER step counts (n_cardinal, n_diagonal) that add
    exactly under any association — the float length materializes
    once at the end as (nc + nd*sqrt(2)) * cell, so the doubling
    tree's addition order can't drift from the oracle's sequential
    walk. Returns (gx, gy, n_cardinal, n_diagonal, path_len)."""
    dirs = d8_flow_direction(dem, gx=gx, gy=gy, z=z)
    code = {1: (1, 0, 0), 2: (1, -1, 1), 4: (0, -1, 0), 8: (-1, -1, 1),
            16: (-1, 0, 0), 32: (-1, 1, 1), 64: (0, 1, 0), 128: (1, 1, 1)}
    dxc, dyc, dg = F.lit(0), F.lit(0), F.lit(0)
    for c, (a, b, diag) in code.items():
        dxc = F.when(F.col("dir") == c, a).otherwise(dxc)
        dyc = F.when(F.col("dir") == c, b).otherwise(dyc)
        dg = F.when(F.col("dir") == c, diag).otherwise(dg)
    sink = F.col("dir") == 0
    ptr = (dirs.select(
        gx, gy,
        (F.col(gx) + dxc).alias("_px"), (F.col(gy) + dyc).alias("_py"),
        F.when(sink, 0).otherwise(1 - dg).cast("long").alias("_nc"),
        F.when(sink, 0).otherwise(dg).cast("long").alias("_nd"))
        .localCheckpoint(eager=True))
    for _ in range(max_rounds):
        nxt = ptr.select(F.col(gx).alias("_px"), F.col(gy).alias("_py"),
                         F.col("_px").alias("_qx"),
                         F.col("_py").alias("_qy"),
                         F.col("_nc").alias("_nc2"),
                         F.col("_nd").alias("_nd2"))
        step = (ptr.join(nxt, ["_px", "_py"])
                .select(gx, gy,
                        F.col("_qx").alias("_nx"),
                        F.col("_qy").alias("_ny"),
                        (F.col("_nc") + F.col("_nc2")).alias("_mc"),
                        (F.col("_nd") + F.col("_nd2")).alias("_md"),
                        ((F.col("_qx") != F.col("_px"))
                         | (F.col("_qy") != F.col("_py")))
                        .cast("long").alias("_chg"))
                .localCheckpoint(eager=True))
        changed = step.agg(F.sum("_chg")).first()[0] or 0
        ptr = step.select(gx, gy, F.col("_nx").alias("_px"),
                          F.col("_ny").alias("_py"),
                          F.col("_mc").alias("_nc"),
                          F.col("_md").alias("_nd"))
        if changed == 0:
            c = float(cell)
            return ptr.select(
                gx, gy,
                F.col("_nc").alias("n_cardinal"),
                F.col("_nd").alias("n_diagonal"),
                F.round((F.col("_nc") + F.col("_nd") * F.lit(_SQRT2))
                        * F.lit(c), 6).alias("path_len"))
    raise RuntimeError("flow_path_length: no fixpoint after "
                       f"{max_rounds} doubling rounds")


def strahler_order(dem: DataFrame, *, gx: str = "gx", gy: str = "gy",
                   z: str = "z", max_rounds: int = 64) -> DataFrame:
    """Strahler stream order over the D8 flow forest — the stream-
    network classifier completing direction -> accumulation -> basins
    -> length: cells with no upstream children are order 1; a cell
    whose children peak at order m keeps m when exactly ONE child
    attains it and becomes m + 1 when several do.

    Synchronous bottom-up iteration from order = 1 everywhere: each
    round recomputes every cell from its children's CURRENT orders
    (one child->parent equi-join, a per-parent max, and a count of
    max-attaining children). A cell stabilizes one round after its
    children do, so the fixpoint arrives within flow-depth rounds;
    the loop stops at the first unchanged round and raises past
    ``max_rounds`` (loud guard). Returns (gx, gy, strahler)."""
    dirs = d8_flow_direction(dem, gx=gx, gy=gy, z=z)
    code = {1: (1, 0), 2: (1, -1), 4: (0, -1), 8: (-1, -1),
            16: (-1, 0), 32: (-1, 1), 64: (0, 1), 128: (1, 1)}
    dxc, dyc = F.lit(0), F.lit(0)
    for c, (a, b) in code.items():
        dxc = F.when(F.col("dir") == c, a).otherwise(dxc)
        dyc = F.when(F.col("dir") == c, b).otherwise(dyc)
    edges = (dirs.filter(F.col("dir") != 0)
             .select(F.col(gx).alias("_cx"), F.col(gy).alias("_cy"),
                     (F.col(gx) + dxc).alias("_px"),
                     (F.col(gy) + dyc).alias("_py"))
             .localCheckpoint(eager=True))
    cells = dirs.select(gx, gy).localCheckpoint(eager=True)
    order = cells.withColumn("_o", F.lit(1).cast("long"))
    for _ in range(max_rounds):
        child = order.select(F.col(gx).alias("_cx"),
                             F.col(gy).alias("_cy"),
                             F.col("_o").alias("_co"))
        withc = edges.join(child, ["_cx", "_cy"])
        mx = (withc.groupBy("_px", "_py")
              .agg(F.max("_co").alias("_m")))
        par = (withc.join(mx, ["_px", "_py"])
               .filter(F.col("_co") == F.col("_m"))
               .groupBy("_px", "_py", "_m")
               .agg(F.count(F.lit(1)).alias("_t"))
               .select(F.col("_px").alias(gx), F.col("_py").alias(gy),
                       F.when(F.col("_t") > 1, F.col("_m") + 1)
                       .otherwise(F.col("_m")).alias("_no")))
        new = (cells.join(par, [gx, gy], "left")
               .select(gx, gy, F.coalesce(F.col("_no"), F.lit(1))
                       .cast("long").alias("_o"))
               .localCheckpoint(eager=True))
        changed = (new.join(order.withColumnRenamed("_o", "_op"),
                            [gx, gy])
                   .filter(F.col("_o") != F.col("_op"))
                   .limit(1).count())
        order = new
        if changed == 0:
            return order.select(gx, gy, F.col("_o").alias("strahler"))
    raise RuntimeError("strahler_order: no fixpoint after "
                       f"{max_rounds} rounds")
