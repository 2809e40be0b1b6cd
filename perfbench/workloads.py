"""The three benchmark workloads against the real bano_spark package.

Each workload owns its seeded inputs (written under its work directory
before timing), one untraced operation, a traced twin that times the
calls into each layer's public functions, and an oracle check.

  rebuild_tiles       parquet pages -> extract_records -> broadcast
                      split-refine spatial_join at z16 -> per-commune
                      z16 tile rollup (the jobs/pages_job.py plan)
  publish_export      parquet pages -> pipelines.export_csv (extract ->
                      normalize dictionary -> conciliation over the
                      cache.keep persist -> CSV lines) -> text files
  incremental_update  stored point table + seeded change batches ->
                      snapshot_dirty_communes -> dirty-commune rollup ->
                      resumable_partition_write into a growing
                      CheckpointLog

Spark is lazy, so a traced op materializes (persist + count) each
layer's output at its boundary; that cost is what trace.overhead_frac
reports.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import cache, pipelines, synth
from bano_spark.geo import geometry, tiles
from bano_spark.operators import conciliation as conc, export, pip_join, tiling
from bano_spark.plans import lineage
from bano_spark.sources import pages as P
from bano_spark.streaming import incremental

import oracles

ZOOM = tiles.DEFAULT_ZOOM
ID_SPACE = 2**31  # synth ids are multiplied by 2654435761 in int64


def seeded_ids(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` distinct page ids drawn from [0, 2^31), sorted."""
    ids = np.unique(rng.integers(0, ID_SPACE, size=n + n // 8 + 16))
    while len(ids) < n:
        ids = np.unique(np.concatenate([ids, rng.integers(0, ID_SPACE, size=n)]))
    return np.sort(rng.permutation(ids)[:n])


def level8_polygons(spark: SparkSession) -> DataFrame:
    return (synth.commune_polygons_df(spark).filter(F.col("admin_level") == 8)
            .withColumnRenamed("insee_com", "poly_insee"))


def tile_rollup(joined: DataFrame) -> DataFrame:
    """Per-commune (n, n_tiles) over a spatial_join output."""
    return (joined.select(
        "poly_insee",
        tiles.tile_x(F.col("x"), ZOOM).alias("tx"),
        tiles.tile_y(F.col("y"), ZOOM).alias("ty"))
        .groupBy("poly_insee").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("tx", "ty").alias("n_tiles")))


def join_to_communes(points: DataFrame, polys: DataFrame) -> DataFrame:
    return pip_join.spatial_join(points, polys, x="x", y="y",
                                 id_col="poly_insee", verts_col="verts",
                                 zoom=ZOOM, broadcast=True, split_refine=True)


def storage_bytes(spark: SparkSession) -> int:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(int(i.memSize()) + int(i.diskSize()) for i in infos)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


class Materializer:
    """Persist-and-count at a layer boundary; released at op end."""

    def __init__(self):
        self.live: list[DataFrame] = []

    def __call__(self, df: DataFrame) -> tuple[DataFrame, int]:
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        self.live.append(df)
        return df, df.count()

    def release(self) -> None:
        while self.live:
            self.live.pop().unpersist(blocking=True)


def candidate_counts(spark: SparkSession, points: DataFrame,
                     polys: DataFrame) -> dict[str, float]:
    """Prune-join census of spatial_join's broadcast cover, rebuilt from
    geometry.cover_polygon: cover cells, candidates, boundary candidates."""
    rows = []
    for pid, verts in polys.select("poly_insee", "verts").collect():
        gx, gy, interior = geometry.cover_polygon(
            np.array([list(p) for p in verts], dtype=np.float64), ZOOM)
        rows.extend(zip([pid] * len(gx), gx.tolist(), gy.tolist(),
                        interior.tolist()))
    cover = spark.createDataFrame(
        rows, "pid string, _tx bigint, _ty bigint, interior boolean")
    cand = points.select(tiles.tile_x(F.col("x"), ZOOM).alias("_tx"),
                         tiles.tile_y(F.col("y"), ZOOM).alias("_ty")).join(
        F.broadcast(cover), ["_tx", "_ty"])
    r = cand.agg(F.count(F.lit(1)).alias("c"),
                 F.sum(F.when(~F.col("interior"), 1).otherwise(0)).alias("b")).first()
    return {"cover_cells": len(rows), "candidates": r["c"] or 0,
            "boundary": r["b"] or 0}


class Workload:
    """Base: ``setup(rep)`` writes the inputs, ``warmup()`` runs the
    first ops; ``op(i)`` / ``traced_op(i, tracer)`` run one operation and
    return what ``check(i, result)`` compares against the oracle;
    ``layer_counts()`` runs untimed census passes after a traced loop."""

    name = ""
    rows_per_op = 0  # input rows one op processes (pages_per_s numerator)
    warmup_ops = 2

    def __init__(self, spark: SparkSession, work: str, seed: int, sizes: dict):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.sizes = sizes

    def prepare(self, i: int) -> None:
        """Untimed per-op input step (default: nothing)."""

    def warmup(self) -> None:
        """First ops after set-up: JIT, codegen and python worker start
        take more than one pass to settle."""
        for i in range(-self.warmup_ops, 0):
            self.prepare(i)
            self.op(i)


class PagesWorkload(Workload):
    """Shared input: a seeded parquet pages table on local disk. Every
    set-up repetition writes the same table; the oracle's expected
    output is derived once, at the first check."""

    expected = None

    def setup(self, rep: int) -> None:
        n = self.sizes["pages"]
        if rep > 0:
            shutil.rmtree(self.pages_dir, ignore_errors=True)
        self.pages_dir = os.path.join(self.work, f"pages-{rep}")
        ids = seeded_ids(np.random.default_rng(self.seed), n)
        # a local relation arrives as few uneven partitions; spread it so
        # page synthesis runs on every core
        ids = self.spark.createDataFrame(pd.DataFrame({"id": ids})).repartition(
            2 * self.spark.sparkContext.defaultParallelism)
        P.synth_pages_sql(self.spark, 0, ids=ids).write.parquet(self.pages_dir)
        self.rows_per_op = n

    def scan(self) -> DataFrame:
        return self.spark.read.parquet(self.pages_dir)


class RebuildTiles(PagesWorkload):
    name = "rebuild_tiles"

    def setup(self, rep: int) -> None:
        super().setup(rep)
        self.polys = level8_polygons(self.spark)

    def op(self, i: int):
        recs = P.extract_records(self.scan())
        return tile_rollup(join_to_communes(recs.drop("insee_com"), self.polys)).collect()

    def traced_op(self, i: int, tr):
        mat = Materializer()
        try:
            with tr.span("pages.scan", i) as s:
                pg, s.counts["rows"] = mat(self.scan().select("url", "text"))
            with tr.span("pages.extract", i) as s:
                recs, s.counts["rows"] = mat(P.extract_records(pg))
            with tr.span("pip_join.plan", i):
                joined = join_to_communes(recs.drop("insee_com"), self.polys)
            with tr.span("pip_join.join", i) as s:
                joined, s.counts["rows"] = mat(joined)
            with tr.span("tiles.rollup", i) as s:
                out = tile_rollup(joined).collect()
                s.counts["distinct_tiles"] = sum(r["n_tiles"] for r in out)
            return out
        finally:
            mat.release()

    def layer_counts(self) -> dict[str, float]:
        recs = P.extract_records(self.scan()).drop("insee_com")
        return candidate_counts(self.spark, recs, self.polys)

    def check(self, i: int, result) -> bool:
        if self.expected is None:
            self.expected = oracles.rebuild_rollup(self.pages_dir)
        return oracles.rollup_matches(self.expected, result)


class PublishExport(PagesWorkload):
    name = "publish_export"
    # its many-join plan keeps getting faster for several ops as the JIT
    # compiles the planner; start timing further down that curve
    warmup_ops = 3

    def setup(self, rep: int) -> None:
        super().setup(rep)
        self.out_dir = os.path.join(self.work, "export")

    def op(self, i: int):
        try:
            export.write_country_text(pipelines.export_csv(self.scan()), self.out_dir)
        finally:
            cache.release_all()

    def traced_op(self, i: int, tr):
        mat = Materializer()
        try:
            with tr.span("pages.scan", i) as s:
                pg, s.counts["rows"] = mat(self.scan().select("url", "text"))
            with tr.span("pages.extract", i) as s:
                # pages_to_cumul re-derives this exact plan, so Spark's
                # cache manager serves it from the persist
                _, s.counts["rows"] = mat(P.extract_records(pg))
            with tr.span("normalize", i) as s:
                before = storage_bytes(self.spark)
                cumul, s.counts["rows"] = mat(pipelines.pages_to_cumul(pg))
                s.counts["persisted_bytes"] = storage_bytes(self.spark) - before
            with tr.span("conciliation", i) as s:
                res, s.counts["rows"] = mat(conc.conciliate(cumul))
            with tr.span("export", i) as s:
                export.write_country_text(export.export_csv_lines(res), self.out_dir)
                s.counts["lines"] = s_lines = res.count()
                s.counts["bytes"] = dir_bytes(self.out_dir)
            return s_lines
        finally:
            cache.release_all()
            mat.release()

    def layer_counts(self) -> dict[str, float]:
        recs = (P.extract_records(self.scan())
                .filter(F.col("kind").isin(*pipelines.SOURCE_OF_KIND)))
        cumul = pipelines.pages_to_cumul(self.scan(), normalize=False)
        num = F.coalesce(conc.canonical_num(F.col("numero")), F.lit(""))
        universe = (cumul.filter(F.col("fantoir").isNotNull())
                    .select("insee_com", "fantoir", num.alias("num"))
                    .distinct().count())
        return {"vocab": recs.select("nom_voie").distinct().count(),
                "universe_rows": universe}

    def check(self, i: int, result) -> bool:
        if self.expected is None:
            self.expected = oracles.export_lines(self.pages_dir)
        return oracles.read_text_lines(self.out_dir) == self.expected


# incremental_update geography: 19 eligible communes side by side, slot
# s covering x in [REG0 + s*W, REG0 + (s+1)*W); slots 0-9 are the level-8
# communes, 10-18 the Paris arrondissements. Coordinates keep synth's
# .5 / .25 fractions so no point ever lies on a commune or tile edge.
_SLOTS = [c[0] for c in synth.COMMUNES[:10]] + [c[0] for c in synth.COMMUNES[11:20]]
_XMIN, _XMAX = synth.REG0 + 0.5, synth.REG0 + len(_SLOTS) * synth.W - 0.5
_YMIN, _YMAX = synth.REGY0 + 0.25, synth.REGY0 + 8999.25


def _slot_insee(x: np.ndarray) -> np.ndarray:
    return np.array(_SLOTS)[((x - synth.REG0) // synth.W).astype(int)]


def base_points(rng: np.random.Generator, n: int) -> pd.DataFrame:
    x = synth.REG0 + rng.integers(0, len(_SLOTS) * int(synth.W) - 1, size=n) + 0.5
    y = _YMIN + rng.integers(0, 9000, size=n)
    return pd.DataFrame({"id": np.arange(n, dtype=np.int64), "x": x, "y": y,
                         "insee_com": _slot_insee(x)})


def change_batch(pts: pd.DataFrame, rng: np.random.Generator, communes: int,
                 frac: float, move_radius: int,
                 remove_share: float) -> tuple[pd.DataFrame, int]:
    """Nightly-edit shape: in ``communes`` random communes, a ``frac`` of
    the points change; ``remove_share`` of those are deleted and the rest
    move by up to ``move_radius`` meters (possibly across a border).

    Hot communes are drawn from the inner slots, so each one dirties
    itself and both neighbours (their border tiles overlap) and every
    update recomputes the same number of communes. That needs enough
    changed points to reach both border tile columns: at 50k points a
    batch occasionally misses one, at 100k none did over 24 batches."""
    hot = rng.choice(_SLOTS[1:-1], size=communes, replace=False)
    cand = np.flatnonzero(pts["insee_com"].isin(hot).to_numpy())
    pick = rng.choice(cand, size=max(1, int(len(cand) * frac)), replace=False)
    removed = rng.random(len(pick)) < remove_share
    out = pts.copy()
    mv = pick[~removed]
    dx = rng.integers(-move_radius, move_radius + 1, size=len(mv))
    dy = rng.integers(-move_radius, move_radius + 1, size=len(mv))
    xi, yi = out.columns.get_loc("x"), out.columns.get_loc("y")
    out.iloc[mv, xi] = np.clip(out["x"].to_numpy()[mv] + dx, _XMIN, _XMAX)
    out.iloc[mv, yi] = np.clip(out["y"].to_numpy()[mv] + dy, _YMIN, _YMAX)
    out["insee_com"] = _slot_insee(out["x"].to_numpy())
    return out.drop(out.index[pick[removed]]).reset_index(drop=True), len(pick)


def write_snapshot(pts: pd.DataFrame, path: str) -> None:
    pq.write_to_dataset(pa.Table.from_pandas(pts, preserve_index=False),
                        path, partition_cols=["insee_com"])


class IncrementalUpdate(Workload):
    name = "incremental_update"
    _schema = "id bigint, x double, y double, insee_com string"

    def setup(self, rep: int) -> None:
        if rep > 0:
            shutil.rmtree(self.root, ignore_errors=True)
        self.root = os.path.join(self.work, f"points-{rep}")
        self.rng = np.random.default_rng(self.seed)
        self.pts = base_points(self.rng, self.sizes["points"])
        self.version = 0
        write_snapshot(self.pts, self.snap(0))

    def warmup(self) -> None:
        """Initial full rollup into the store, then the warmup updates."""
        self.store = os.path.join(self.root, "store")
        self.log = lineage.CheckpointLog(self.spark, os.path.join(self.root, "log"))
        self.communes = synth.commune_polygons_df(self.spark)
        self.eligible = (tiling.eligible_communes(self.communes)
                         .select(F.col("insee_com").alias("poly_insee"), "verts"))
        lineage.resumable_partition_write(
            tile_rollup(join_to_communes(self.read(0).drop("insee_com"), self.eligible)),
            self.store, "poly_insee", self.log, source="points", etape="initial")
        super().warmup()

    def snap(self, v: int) -> str:
        return os.path.join(self.root, f"v{v}")

    def read(self, v: int) -> DataFrame:
        return self.spark.read.schema(self._schema).parquet(self.snap(v))

    def prepare(self, i: int) -> None:
        """Write the next snapshot: apply one seeded change batch."""
        s = self.sizes
        self.pts, self.rows_per_op = change_batch(
            self.pts, self.rng, s["batch_communes"], s["batch_frac"],
            s["move_radius"], s["remove_share"])
        self.version += 1
        write_snapshot(self.pts, self.snap(self.version))
        if self.version >= 2:
            shutil.rmtree(self.snap(self.version - 2), ignore_errors=True)

    def _dirty_inputs(self, dirty: list[str]) -> tuple[DataFrame, DataFrame]:
        """Points and polygons of the dirty communes; the stored table's
        insee_com partitioning prunes the point scan to them."""
        new = self.read(self.version).filter(F.col("insee_com").isin(dirty))
        polys = self.eligible.filter(F.col("poly_insee").isin(dirty))
        return new.drop("insee_com"), polys

    def _etape(self) -> str:
        # one etape per update, so earlier writes never mark it complete
        return f"update-{self.version}"

    def op(self, i: int):
        old, new = self.read(self.version - 1), self.read(self.version)
        dirty = [r[0] for r in incremental.snapshot_dirty_communes(
            old, new, self.communes).collect()]
        pts, polys = self._dirty_inputs(dirty)
        return lineage.resumable_partition_write(
            tile_rollup(join_to_communes(pts, polys)), self.store, "poly_insee",
            self.log, source="points", etape=self._etape())

    def traced_op(self, i: int, tr):
        mat = Materializer()
        try:
            old, new = self.read(self.version - 1), self.read(self.version)
            with tr.span("incremental.diff", i) as s:
                expired, s.counts["expired_tiles"] = mat(
                    incremental.snapshot_dirty_tiles(old, new))
            with tr.span("tiling.dirty", i) as s:
                dirty = [r[0] for r in tiling.expired_tiles_to_insee(
                    expired, self.communes).collect()]
                s.counts["dirty_communes"] = len(dirty)
            with tr.span("tiling.cover", i):
                # the per-call re-rasterization expired_tiles_to_insee pays
                pip_join.polygon_cover(tiling.eligible_communes(self.communes),
                                       ZOOM, id_col="insee_com").count()
            pts, polys = self._dirty_inputs(dirty)
            with tr.span("pip_join.plan", i):
                joined = join_to_communes(pts, polys)
            with tr.span("pip_join.join", i) as s:
                joined, s.counts["rows"] = mat(joined)
            with tr.span("tiles.rollup", i) as s:
                out, _ = mat(tile_rollup(joined))
                s.counts["distinct_tiles"] = out.agg(F.sum("n_tiles")).first()[0]
            etape = self._etape()
            with tr.span("lineage.completed", i):
                self.log.completed("points", etape)
            with tr.span("lineage.write", i) as s:
                written = lineage.resumable_partition_write(
                    out, self.store, "poly_insee", self.log, source="points",
                    etape=etape)
                s.counts["partitions"] = len(written)
                s.counts["log_files"] = len([f for f in os.listdir(self.log.path)
                                             if f.endswith(".parquet")])
            self._last = (pts, polys)
            return written
        finally:
            mat.release()

    def layer_counts(self) -> dict[str, float]:
        pts, polys = self._last
        return candidate_counts(self.spark, pts, polys)

    def check(self, i: int, result) -> bool:
        return oracles.read_store(self.store) == oracles.points_rollup(
            self.snap(self.version))


WORKLOADS = {w.name: w for w in (RebuildTiles, PublishExport, IncrementalUpdate)}
