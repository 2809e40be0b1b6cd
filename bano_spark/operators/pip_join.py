"""Cell-bucketed point-in-polygon join — the engine's workhorse.

Replaces the reference's per-commune GIST spatial joins
(`bano/sql/hsnr_insee_nocache.sql:19-24` and friends, SURVEY.md J1-J8)
with a two-phase distributed plan:

  prune:  polygons -> exploded slippy-cell cover (interior vs boundary
          cells); points -> cell id; equi-join on the cell. The join is
          broadcast when the cover is small (the usual case: covers are
          a few cells per polygon at a well-chosen zoom), otherwise a
          shuffled hash join whose hot cells (Paris-effect skew) AQE's
          skew-join splitting spreads (`session.get_session`).
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
# refine pass adds every Arrow batch's byte size — the JVM->Python
# transfer volume that the shuffle path's ring piggyback keeps small
# (perfbench reports it as pip_join.arrow_mb). None in production.
_BATCH_BYTES_ACC = None

# Broadcast only while the polygons' total vertex count stays under
# this: the broadcast path collects every ring to the driver.
BROADCAST_MAX_VERTS = 4_000_000

# Shuffle-path refine fan-out: each ring is shipped this many times, and
# a hot polygon's boundary candidates spread over as many tasks.
REFINE_SALT = 4


def _ring(verts) -> np.ndarray:
    """A ring's [[x, y], ...] vertex list as an (n, 2) float64 array."""
    return np.array([list(p) for p in verts], dtype=np.float64)


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
                gx, gy, interior = geometry.cover_polygon(_ring(verts), zoom)
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
    split_refine: bool = False,
) -> DataFrame:
    """Inner join of points to containing polygons.

    Returns the point columns plus all polygon columns except the ring.
    ``broadcast=None`` auto-chooses: broadcast the cover + a vertex dict
    when the polygon side is small (the 35k-commune case nationally),
    shuffle otherwise. The probe is byte-aware, not just row-count-aware:
    100k coastline multipolygons with 10^4-vertex rings would OOM the
    driver collect even though the row count looks safe, so the probe
    also bounds the aggregate vertex count (``sum(size(verts))`` against
    ``BROADCAST_MAX_VERTS`` — one column-pruned agg that only runs once
    the cheap row-cap passes).
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
            broadcast = (nv or 0) <= BROADCAST_MAX_VERTS

    vert_map: dict | None = None
    if broadcast:
        # one collect serves both the cover (computed driver-side — no
        # extra distributed job) and the refine vertex dict
        vert_map = {r[0]: _ring(r[1])
                    for r in polygons.select(id_col, verts_col).collect()}
        rows = []
        for pid, v in vert_map.items():
            gx, gy, interior = geometry.cover_polygon(v, zoom)
            rows.extend(zip([pid] * len(gx), gx.tolist(), gy.tolist(),
                            interior.tolist()))
        cover = spark.createDataFrame(
            rows, T.StructType([
                T.StructField(id_col, polygons.schema[id_col].dataType),
                T.StructField("_tx", T.LongType()),
                T.StructField("_ty", T.LongType()),
                T.StructField("interior", T.BooleanType()),
            ]))
        cand = pts.join(F.broadcast(cover), ["_tx", "_ty"])
    else:
        cover = polygon_cover(polygons, zoom, id_col, verts_col)
        cand = pts.join(cover.withColumnRenamed("tx", "_tx")
                        .withColumnRenamed("ty", "_ty"), ["_tx", "_ty"])

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
            vert_map, broadcast)
        out = easy.unionByName(hard_refined)
        return _attach_attrs(out, polygons, id_col, verts_col, broadcast)

    out = _refine_exact(spark, cand, polygons, out_cols, schema, x, y,
                        id_col, verts_col, vert_map, broadcast)
    return _attach_attrs(out, polygons, id_col, verts_col, broadcast)


def _keep_mask(b, rings, x, y, id_col) -> np.ndarray:
    """Keep mask of one Arrow candidate batch: interior-cell rows pass;
    boundary-cell rows run the exact PIP against ``rings[id]``. The
    boundary rows are grouped by polygon once (one integer compare per
    distinct id), not masked by a full-batch id compare per polygon."""
    import pyarrow as pa
    import pyarrow.compute as pc

    keep = b.column("interior").to_numpy(zero_copy_only=False).copy()
    hard = np.flatnonzero(~keep)
    if len(hard):
        hard_ids = pc.take(b.column(id_col), pa.array(hard))
        uniq = pc.unique(hard_ids)
        grp = pc.index_in(hard_ids, value_set=uniq).to_numpy(
            zero_copy_only=False)
        px = b.column(x).to_numpy(zero_copy_only=False)[hard]
        py = b.column(y).to_numpy(zero_copy_only=False)[hard]
        for g, pid in enumerate(uniq.to_pylist()):
            m = grp == g
            keep[hard[m]] = geometry.points_in_polygon(px[m], py[m], rings[pid])
    return keep


def _refine_exact(spark, cand, polygons, out_cols, schema, x, y, id_col,
                  verts_col, vert_map, broadcast):
    """mapInArrow exact-PIP pass over candidate rows (``_keep_mask``).
    The broadcast path looks rings up in the broadcast vertex dict.

    Shuffle path (VERDICT r2 #2): the ring must reach the executor that
    holds the candidate rows, but joining ``polygons(id, verts)`` onto
    candidates duplicates the ring per candidate row — O(candidates ×
    ring bytes) shuffle, the one super-linear term at Paris scale
    (10^6 boundary candidates × 10^4-vertex ring). Instead the ring is
    piggybacked into the candidate stream ONCE per (polygon, salt):
    a one-row-per-polygon ring table is unioned under the candidates,
    both sides are hash-partitioned on (id, salt) and sorted
    ring-first within each partition, and each task moves the ring rows
    it meets into a dict before their candidates arrive. Shuffle volume
    drops to candidates (no ring payload) + ``REFINE_SALT`` copies of
    each ring, and a hot polygon's boundary candidates spread over that
    many tasks — output-invariant."""
    acc = _BATCH_BYTES_ACC
    bc = spark.sparkContext.broadcast(vert_map) if broadcast else None
    if not broadcast:
        ring_rows = polygons.select(id_col, F.col(verts_col).alias("_ring"))
        cand_s = cand.withColumn(
            "_rsalt",
            F.pmod(F.xxhash64(F.col(x), F.col(y)), F.lit(REFINE_SALT)).cast("int"))
        ring_s = ring_rows.withColumn(
            "_rsalt", F.explode(F.array(*[F.lit(i) for i in range(REFINE_SALT)])))
        unioned = cand_s.unionByName(ring_s, allowMissingColumns=True)
        n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
        cand = (unioned.repartition(n_part, id_col, "_rsalt")
                # ring rows (_ring non-null) sort before their candidates
                .sortWithinPartitions(id_col, "_rsalt", F.col("_ring").isNull()))

    def refine(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        rings = bc.value if broadcast else {}
        for b in batches:
            if acc is not None:
                acc.add(b.nbytes)
            if not broadcast:
                ring_m = pc.is_valid(b.column("_ring")).to_numpy(
                    zero_copy_only=False)
                for i in np.flatnonzero(ring_m).tolist():
                    pid = b.column(id_col)[i].as_py()
                    if pid not in rings:
                        rings[pid] = _ring(b.column("_ring")[i].as_py())
                b = b.filter(pa.array(~ring_m))
            keep = _keep_mask(b, rings, x, y, id_col)
            yield b.filter(pa.array(keep)).select(out_cols)

    return cand.mapInArrow(refine, schema)


def _attach_attrs(out, polygons, id_col, verts_col, broadcast):
    """Re-attach non-ring polygon attributes after the refine (cover
    rows carry only the id)."""
    poly_attrs = [c for c in polygons.columns if c not in (verts_col,)]
    attrs = polygons.select(*poly_attrs)
    extra = [c for c in poly_attrs if c != id_col]
    if extra:
        out = out.join(F.broadcast(attrs) if broadcast else attrs, id_col)
    return out


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

    The points are left-joined to the inner join's (point_key, polygon
    attributes) on ``point_key``, so the PIP subplan runs once, with no
    persist."""
    matched = spatial_join(points, polygons, **kwargs)
    verts_col = kwargs.get("verts_col", "verts")
    poly_attrs = [c for c in polygons.columns if c != verts_col]
    return (points.join(matched.select(point_key, *poly_attrs), point_key, "left")
            .select(matched.columns))


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
    full broadcast/shuffle/split-refine machinery unchanged.

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
