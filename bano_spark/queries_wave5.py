"""Wave-5 driver queries: trajectory analytics, spatial anti-join
coverage gaps, Moran's I and Getis-Ord spatial statistics, dissolve
and cell-set compaction — each with a DuckDB oracle over the same
shared fixtures (synth.py one-source-of-truth discipline: a single
emitter builds both dialects).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from bano_spark import synth
from bano_spark.registry import registrar

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

_TAN225 = "0.41421356237309503"


register = registrar(QUERIES, ORACLES)


def _read(spark: SparkSession, sf_dir: str, table: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{table}.parquet")


def _traj(spark: SparkSession, sf_dir: str) -> DataFrame:
    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    return spark.sql(synth.traj_select_sql("spark"))


# ---------------------------------------------------------------------------
# v01 — stay-point detection (trajectory segmentation): maximal runs
# of consecutive pings within 50 m, kept at >= 3 points. Engine:
# operators/trajectory.staypoints (partitioned lag + running break
# sum + one groupBy); oracle: the same gaps-and-islands statement in
# DuckDB SQL. Fixture: synth.traj_select_sql — 60% dwell (<= ~14 m
# wobble), 40% jumps >= ~490 m, so the 50 m radius is unambiguous.
# ---------------------------------------------------------------------------

_V01_ORACLE = f"""
WITH t AS ({synth.traj_select_sql('duckdb')}),
s AS (
  SELECT user_id, ts, event_id, x, y,
         lag(x) OVER w AS px, lag(y) OVER w AS py
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
b AS (
  SELECT *, CASE WHEN px IS NULL
                   OR (x - px) * (x - px) + (y - py) * (y - py) > 2500.0
            THEN 1 ELSE 0 END AS brk
  FROM s
),
r AS (
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                           ROWS UNBOUNDED PRECEDING) AS run
  FROM b
)
SELECT user_id, CAST(count(*) AS BIGINT) AS n_pts,
       sum(x) / count(*) AS cx, sum(y) / count(*) AS cy,
       min(ts) AS ts_start, max(ts) AS ts_end
FROM r GROUP BY user_id, run HAVING count(*) >= 3
ORDER BY user_id, ts_start
"""


@register("staypoint_runs", _V01_ORACLE)
def v_staypoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.trajectory import staypoints

    out = staypoints(_traj(spark, sf_dir), radius=50.0, min_pts=3)
    return (out.select("user_id", "n_pts", "cx", "cy", "ts_start", "ts_end")
            .orderBy("user_id", "ts_start"))


# ---------------------------------------------------------------------------
# v02 — per-track movement profile: path length, longest step, net
# displacement, straightness (net/total over the ROUNDED terms so
# both engines divide identical inputs).
# ---------------------------------------------------------------------------

_V02_ORACLE = f"""
WITH t AS ({synth.traj_select_sql('duckdb')}),
s AS (
  SELECT user_id, x, y,
         lag(x) OVER w AS px, lag(y) OVER w AS py,
         first_value(x) OVER w2 AS fx, first_value(y) OVER w2 AS fy,
         last_value(x) OVER w2 AS lx, last_value(y) OVER w2 AS ly
  FROM t
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
         w2 AS (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
d AS (
  SELECT user_id,
         sqrt((x - px) * (x - px) + (y - py) * (y - py)) AS step,
         sqrt((lx - fx) * (lx - fx) + (ly - fy) * (ly - fy)) AS net
  FROM s
),
a AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n_points,
         round(coalesce(sum(step), 0.0), 3) AS total_dist_m,
         round(coalesce(max(step), 0.0), 3) AS max_step_m,
         round(any_value(net), 3) AS net_disp_m
  FROM d GROUP BY user_id
)
SELECT user_id, n_points, total_dist_m, max_step_m, net_disp_m,
       CASE WHEN total_dist_m > 0
            THEN round(net_disp_m / total_dist_m, 6) END AS straightness
FROM a ORDER BY user_id
"""


@register("trajectory_profile", _V02_ORACLE)
def v_traj_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.trajectory import trajectory_stats

    out = trajectory_stats(_traj(spark, sf_dir))
    return (out.select("user_id", "n_points", "total_dist_m", "max_step_m",
                       "net_disp_m", "straightness")
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# v03 — move-direction histogram: every step > 50 m classified into 8
# compass sectors with pure sign / tan(22.5 deg) comparisons (no
# atan2 — exact on integer step vectors, engine-portable). The oracle
# repeats the identical comparison cascade.
# ---------------------------------------------------------------------------

_V03_SECTOR = f"""
CASE WHEN abs(dx) <= {_TAN225} * abs(dy)
       THEN CASE WHEN dy > 0 THEN 'N' ELSE 'S' END
     WHEN abs(dy) <= {_TAN225} * abs(dx)
       THEN CASE WHEN dx > 0 THEN 'E' ELSE 'W' END
     WHEN dx > 0 AND dy > 0 THEN 'NE'
     WHEN dx > 0 AND dy < 0 THEN 'SE'
     WHEN dx < 0 AND dy < 0 THEN 'SW'
     ELSE 'NW' END
"""

_V03_ORACLE = f"""
WITH t AS ({synth.traj_select_sql('duckdb')}),
s AS (
  SELECT user_id,
         x - lag(x) OVER w AS dx, y - lag(y) OVER w AS dy
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
m AS (
  SELECT user_id, dx, dy, sqrt(dx * dx + dy * dy) AS d,
         {_V03_SECTOR} AS sector
  FROM s WHERE dx IS NOT NULL AND dx * dx + dy * dy > 2500.0
)
SELECT sector, CAST(count(*) AS BIGINT) AS n_moves,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_tracks,
       round(sum(d), 3) AS total_dist_m
FROM m GROUP BY sector ORDER BY sector
"""


@register("move_sector_histogram", _V03_ORACLE)
def v_move_sectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.trajectory import move_sectors

    out = move_sectors(_traj(spark, sf_dir), min_move=50.0)
    return (out.select("sector", "n_moves", "n_tracks", "total_dist_m")
            .orderBy("sector"))


# ---------------------------------------------------------------------------
# v04 — spatial ANTI-join (coverage gaps): points contained by NO
# level-8 commune. Engine: the flagship cell-bucketed PIP join as the
# probe side of a left_anti on the point key — gap detection with the
# same broadcast/shuffle/salt machinery as the inner join. Fixture
# deliberately spills east of Paris and north of the band.
# ---------------------------------------------------------------------------

_V04_ORACLE = f"""
WITH p AS ({synth.gap_points_select_sql('duckdb')})
SELECT p.event_id, p.x, p.y
FROM p
WHERE NOT EXISTS (
  SELECT 1 FROM {synth.communes_values_sql()}
  WHERE c.admin_level = 8
    AND p.x > c.xmin AND p.x < c.xmax
    AND p.y > c.ymin AND p.y < c.ymax)
ORDER BY p.event_id
"""


@register("pip_coverage_gaps", _V04_ORACLE)
def v_coverage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.pip_join import spatial_join

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    pts = spark.sql(synth.gap_points_select_sql("spark"))
    polys = synth.commune_polygons_df(spark).filter(F.col("admin_level") == 8)
    matched = spatial_join(pts, polys, id_col="insee_com")
    gaps = pts.join(matched.select("event_id").distinct(),
                    "event_id", "left_anti")
    return gaps.select("event_id", "x", "y").orderBy("event_id")


# ---------------------------------------------------------------------------
# v06 — global Moran's I over the 700 m hex-binned point counts:
# "do dense cells neighbor dense cells?" Engine: 6-offset explode +
# equi-join on the cell key (operators/spatialstats.moran_i_hex);
# oracle: the textbook hex-distance self-join in one SQL statement.
# ---------------------------------------------------------------------------


def _v06_cells(dialect: str) -> str:
    from bano_spark.geo.hexgrid import hex_cells_cte

    pts = synth.points_select_sql(dialect, "events")
    return (f"pts AS ({pts}),\n"
            + hex_cells_cte("pts", 700.0, keep="event_id")
            + ",\ncells AS (SELECT hq, hr, CAST(count(*) AS DOUBLE) AS val\n"
              "           FROM hexed_out GROUP BY hq, hr)")


_V06_ORACLE = f"""
WITH {_v06_cells('duckdb')},
st AS (SELECT count(*) AS n, sum(val) / count(*) AS m FROM cells),
dev AS (SELECT hq, hr, val - (SELECT m FROM st) AS dev FROM cells),
prs AS (
  SELECT a.dev AS da, b.dev AS db
  FROM dev a JOIN dev b
    ON ((b.hq = a.hq + 1 AND b.hr = a.hr)
     OR (b.hq = a.hq - 1 AND b.hr = a.hr)
     OR (b.hq = a.hq AND b.hr = a.hr + 1)
     OR (b.hq = a.hq AND b.hr = a.hr - 1)
     OR (b.hq = a.hq + 1 AND b.hr = a.hr - 1)
     OR (b.hq = a.hq - 1 AND b.hr = a.hr + 1))
)
SELECT CAST((SELECT n FROM st) AS INT) AS n_cells,
       CAST(count(*) AS BIGINT) AS w_pairs,
       round((CAST((SELECT n FROM st) AS DOUBLE) / count(*))
             * sum(da * db)
             / (SELECT sum(dev * dev) FROM dev), 6) AS moran_i
FROM prs
"""


@register("moran_i_hex", _V06_ORACLE)
def v_moran(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import moran_i_hex

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    cells = spark.sql("WITH " + _v06_cells("spark") + " SELECT * FROM cells")
    return moran_i_hex(cells, val_col="val")


# ---------------------------------------------------------------------------
# v11 — origin-destination matrix: each user's first -> last point
# binned to zoom-12 slippy cells, flows counted. Engine: one
# partitioned first/last window + one groupBy on the four cell
# indices (operators/trajectory.od_matrix); oracle: the same tile
# arithmetic inline.
# ---------------------------------------------------------------------------


def _v11_oracle() -> str:
    from bano_spark.geo import tiles

    cs = repr(tiles.cell_size(12))
    return f"""
WITH t AS ({synth.traj_select_sql('duckdb')}),
e AS (
  SELECT user_id,
         first_value(x) OVER w AS ox, first_value(y) OVER w AS oy,
         last_value(x) OVER w AS dx, last_value(y) OVER w AS dy,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS rn
  FROM t
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
),
ends AS (SELECT * FROM e WHERE rn = 1)
SELECT CAST(floor((ox - ({tiles.ORIGIN!r})) / {cs}) AS BIGINT) AS o_tx,
       CAST(floor(({-tiles.ORIGIN!r} - oy) / {cs}) AS BIGINT) AS o_ty,
       CAST(floor((dx - ({tiles.ORIGIN!r})) / {cs}) AS BIGINT) AS d_tx,
       CAST(floor(({-tiles.ORIGIN!r} - dy) / {cs}) AS BIGINT) AS d_ty,
       CAST(count(*) AS BIGINT) AS n_trips
FROM ends GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4
"""


@register("od_matrix_tiles", _v11_oracle())
def v_od_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.trajectory import od_matrix

    out = od_matrix(_traj(spark, sf_dir), zoom=12)
    return (out.select("o_tx", "o_ty", "d_tx", "d_ty", "n_trips")
            .orderBy("o_tx", "o_ty", "d_tx", "d_ty"))


# ---------------------------------------------------------------------------
# v12 — Getis-Ord Gi* hot spots over the hex-binned counts: local
# z-score of each cell's ring-1 disk sum against the global moments.
# The oracle repeats the identical formula with the identical
# operation order (all moments from exact integer sums).
# ---------------------------------------------------------------------------

_V12_ORACLE = f"""
WITH {_v06_cells('duckdb')},
st AS (SELECT count(*) AS n, sum(val) / count(*) AS m,
              sum(val * val) / count(*) AS msq
       FROM cells),
rings AS (
  SELECT a.hq, a.hr, sum(b.val) AS s_i,
         CAST(count(*) AS DOUBLE) AS m_i
  FROM cells a JOIN cells b
    ON greatest(abs(a.hq - b.hq), abs(a.hr - b.hr),
                abs((a.hq + a.hr) - (b.hq + b.hr))) <= 1
  GROUP BY a.hq, a.hr
)
SELECT hq, hr, CAST(m_i AS BIGINT) AS ring_size,
       round((s_i - (SELECT m FROM st) * m_i)
             / (sqrt((SELECT msq FROM st)
                     - (SELECT m FROM st) * (SELECT m FROM st))
                * sqrt((CAST((SELECT n FROM st) AS DOUBLE) * m_i - m_i * m_i)
                       / CAST((SELECT n FROM st) - 1 AS DOUBLE))), 6) AS gi_z
FROM rings ORDER BY hq, hr
"""


@register("getis_ord_hotspots", _V12_ORACLE)
def v_getis_ord(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.spatialstats import getis_ord_hex

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    cells = spark.sql("WITH " + _v06_cells("spark") + " SELECT * FROM cells")
    return (getis_ord_hex(cells, k=1, val_col="val")
            .orderBy("hq", "hr"))


# ---------------------------------------------------------------------------
# v15 — dissolve-by-attribute as distinct cell cover: per dept, the
# number (and area) of distinct zoom-14 slippy cells covered by any
# of its commune bboxes — overlapping geometries (the Paris umbrella
# over its 9 arrondissements) count once, which IS the dissolve
# semantics, computed without any polygon union: a bounded cover
# explode + DISTINCT + groupBy, linear in total covered area.
# ---------------------------------------------------------------------------


def _v15_oracle() -> str:
    from bano_spark.geo import tiles

    cs = repr(tiles.cell_size(14))
    km2 = repr(tiles.cell_size(14) * tiles.cell_size(14) / 1e6)
    return f"""
WITH r AS (
  SELECT c.dept,
         CAST(floor((c.xmin - ({tiles.ORIGIN!r})) / {cs}) AS BIGINT) AS tx0,
         CAST(floor((c.xmax - ({tiles.ORIGIN!r})) / {cs}) AS BIGINT) AS tx1,
         CAST(floor(({-tiles.ORIGIN!r} - c.ymax) / {cs}) AS BIGINT) AS ty0,
         CAST(floor(({-tiles.ORIGIN!r} - c.ymin) / {cs}) AS BIGINT) AS ty1
  FROM {synth.communes_values_sql()}
),
ex AS (SELECT dept, unnest(generate_series(tx0, tx1)) AS tx, ty0, ty1 FROM r),
ey AS (SELECT dept, tx, unnest(generate_series(ty0, ty1)) AS ty FROM ex),
cov AS (SELECT DISTINCT dept, tx, ty FROM ey)
SELECT dept, CAST(count(*) AS BIGINT) AS n_cells,
       round(count(*) * CAST({km2} AS DOUBLE), 6) AS area_km2
FROM cov GROUP BY dept ORDER BY dept
"""


@register("dissolve_cell_area", _v15_oracle())
def v_dissolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.geo import tiles

    polys = synth.communes_df(spark)
    txs, tys = tiles.rect_cover_sequence(
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), 14)
    cov = (polys.select("dept", F.explode(txs).alias("tx"), tys.alias("_tys"))
           .select("dept", "tx", F.explode("_tys").alias("ty"))
           .distinct())
    km2 = tiles.cell_size(14) * tiles.cell_size(14) / 1e6
    return (cov.groupBy("dept")
            .agg(F.count(F.lit(1)).alias("n_cells"))
            .select("dept", "n_cells",
                    F.round(F.col("n_cells") * F.lit(km2), 6).alias("area_km2"))
            .orderBy("dept"))


# ---------------------------------------------------------------------------
# v17 — crawl-recency dedup (keep the freshest capture per page): 4
# consecutive page ids form one logical page recrawled 4 times; keep
# the max (warc_ts, url) capture + the capture count. Engine: one
# partitioned window over the synthesized pages table
# (operators/webtext.latest_capture); oracle re-derives url/warc_ts
# from DuckDB's range() — no page body needed.
# ---------------------------------------------------------------------------

_V17_N = 4000

_V17_ORACLE = f"""
WITH p AS (
  SELECT id,
         'https://crawl.example/'
           || (['ban', 'osm', 'bal', 'fantoir'])[CAST(id % 4 AS INT) + 1]
           || '/' || lpad(CAST(id AS VARCHAR), 10, '0') AS url,
         TIMESTAMP '2024-10-16 00:00:00'
           + to_seconds(CAST(id % 86400 AS BIGINT)) AS warc_ts
  FROM range(0, {_V17_N}) t(id)
),
r AS (
  SELECT *, id // 4 AS page_key,
         row_number() OVER (PARTITION BY id // 4
                            ORDER BY warc_ts DESC, url DESC) AS rk,
         CAST(count(*) OVER (PARTITION BY id // 4) AS BIGINT) AS n_captures
  FROM p
)
SELECT page_key, url, warc_ts, n_captures
FROM r WHERE rk = 1 ORDER BY page_key
"""


@register("latest_capture_per_page", _V17_ORACLE)
def v_latest_capture(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.webtext import latest_capture
    from bano_spark.sources.pages import synth_pages_sql

    pages = synth_pages_sql(spark, _V17_N)
    keyed = pages.withColumn(
        "page_key",
        F.expr("CAST(substring_index(url, '/', -1) AS BIGINT) div 4"))
    return (latest_capture(keyed)
            .select("page_key", "url", "warc_ts", "n_captures")
            .orderBy("page_key"))


# ---------------------------------------------------------------------------
# v18 — trip legs (the complement of staypoint_runs under the same
# break rule): maximal runs of consecutive moving steps, with step
# count, path length, and time span per leg.
# ---------------------------------------------------------------------------

_V18_ORACLE = f"""
WITH t AS ({synth.traj_select_sql('duckdb')}),
s AS (
  SELECT user_id, ts, x, y,
         lag(x) OVER w AS px, lag(y) OVER w AS py
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
m AS (
  SELECT user_id, ts,
         sqrt((x - px) * (x - px) + (y - py) * (y - py)) AS d,
         CASE WHEN (x - px) * (x - px) + (y - py) * (y - py) > 2500.0
              THEN 1 ELSE 0 END AS mov
  FROM s WHERE px IS NOT NULL
),
st AS (
  SELECT *, CASE WHEN mov = 1
                  AND coalesce(lag(mov) OVER (PARTITION BY user_id
                                              ORDER BY ts), 0) = 0
            THEN 1 ELSE 0 END AS strt
  FROM m
),
r AS (
  SELECT *, SUM(strt) OVER (PARTITION BY user_id ORDER BY ts
                            ROWS UNBOUNDED PRECEDING) AS leg
  FROM st
)
SELECT user_id, CAST(leg AS BIGINT) AS leg,
       CAST(count(*) AS BIGINT) AS n_steps,
       round(sum(d), 3) AS leg_dist_m,
       min(ts) AS ts_start, max(ts) AS ts_end
FROM r WHERE mov = 1
GROUP BY user_id, leg ORDER BY user_id, leg
"""


@register("trip_legs", _V18_ORACLE)
def v_trip_legs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.trajectory import trip_legs

    out = trip_legs(_traj(spark, sf_dir), radius=50.0)
    return (out.select("user_id", "leg", "n_steps", "leg_dist_m",
                       "ts_start", "ts_end")
            .orderBy("user_id", "leg"))


# ---------------------------------------------------------------------------
# v21 — turn-behavior histogram: consecutive genuine-move vector
# pairs classified straight/left/right/u-turn with cross/dot sign
# comparisons only (tan 45 = 1 makes the 45/135-degree boundaries
# pure |cross| vs +-dot tests — exact on integer steps). The fixture
# walks in 8 compass directions, so every pair sits EXACTLY on a
# boundary or a sector center; both engines resolve identically.
# ---------------------------------------------------------------------------

_V21_ORACLE = f"""
WITH t AS ({synth.traj_select_sql('duckdb')}),
s AS (
  SELECT user_id, ts, event_id,
         x - lag(x) OVER w AS dx, y - lag(y) OVER w AS dy
  FROM t WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
mv AS (
  SELECT user_id, ts, event_id, dx, dy
  FROM s WHERE dx IS NOT NULL AND dx * dx + dy * dy > 2500.0
),
pr AS (
  SELECT user_id, dx, dy,
         lag(dx) OVER w AS pdx, lag(dy) OVER w AS pdy
  FROM mv WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
cl AS (
  SELECT user_id,
         CASE WHEN pdx * dx + pdy * dy > 0
                   AND abs(pdx * dy - pdy * dx) < pdx * dx + pdy * dy
              THEN 'straight'
              WHEN pdx * dx + pdy * dy < 0
                   AND abs(pdx * dy - pdy * dx) < -(pdx * dx + pdy * dy)
              THEN 'u_turn'
              WHEN pdx * dy - pdy * dx > 0 THEN 'left'
              ELSE 'right' END AS turn
  FROM pr WHERE pdx IS NOT NULL
)
SELECT turn, CAST(count(*) AS BIGINT) AS n_turns,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_tracks
FROM cl GROUP BY turn ORDER BY turn
"""


@register("turn_classification_histogram", _V21_ORACLE)
def v_turns(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.trajectory import turn_classification

    out = turn_classification(_traj(spark, sf_dir), min_move=50.0)
    return out.select("turn", "n_turns", "n_tracks").orderBy("turn")


# ---------------------------------------------------------------------------
# v22 — co-location (companionship) mining: distinct track pairs
# within 2 km in the same 5-ping time bucket, counting distinct
# co-located buckets per pair. Engine: dwithin_pairs with the bucket
# as an extra equality key (candidates bounded by cell x bucket
# occupancy); oracle: the bucket-keyed brute-force self-join.
# ---------------------------------------------------------------------------

_V22_DIST = 2000.0


def _v22_points(dialect: str) -> str:
    """Co-location fixture: 10 shared home squares (2 km side), 15
    users each, one position per ping — users of one home are often
    within 2 km of each other in the same bucket; users of different
    homes never are (homes 5 km apart). Same exact-integer emitter
    discipline as synth.py."""
    d = " div " if dialect == "spark" else " // "
    return f"""
SELECT user_id, event_id,
       CAST(1000003.0 + (user_id % 10) * 5000 + (u % 2000) AS DOUBLE) AS x,
       CAST(2000003.0 + ((u{d}2000) % 2000) AS DOUBLE) AS y,
       seq{d}5 AS bucket
FROM (SELECT user_id, event_id,
             (event_id * 2654435761 + 31) % 2147483648 AS u,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS seq
      FROM events)
"""


_V22_ORACLE = f"""
WITH tb AS ({_v22_points('duckdb')}),
p AS (
  SELECT a.user_id AS ua, b.user_id AS ub, a.bucket
  FROM tb a JOIN tb b
    ON a.bucket = b.bucket AND a.event_id < b.event_id
   AND a.user_id != b.user_id
   AND (a.x - b.x) * (a.x - b.x) + (a.y - b.y) * (a.y - b.y)
       <= {_V22_DIST * _V22_DIST!r}
)
SELECT least(ua, ub) AS track_a, greatest(ua, ub) AS track_b,
       CAST(count(DISTINCT bucket) AS BIGINT) AS n_buckets
FROM p GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("colocation_pairs", _V22_ORACLE)
def v_colocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.trajectory import colocation_pairs

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    traj = spark.sql(_v22_points("spark"))
    out = colocation_pairs(traj, _V22_DIST)
    return (out.select("track_a", "track_b", "n_buckets")
            .orderBy("track_a", "track_b"))


# ---------------------------------------------------------------------------
# v25 — H3-style cell-set compaction: the commune cover at zoom 15
# compacted two levels (complete 4-child quads promote to their
# parent, twice) — interior area ships as coarse cells, boundary as
# fine ones, total coverage identical. Oracle: the same promotion
# unrolled as two CTE rounds.
# ---------------------------------------------------------------------------


def _v25_cov(dialect: str) -> str:
    from bano_spark.geo import tiles

    cs = repr(tiles.cell_size(15))
    return f"""
r AS (
  SELECT CAST(floor((c.xmin - ({tiles.ORIGIN!r})) / {cs}) AS BIGINT) AS tx0,
         CAST(floor((c.xmax - ({tiles.ORIGIN!r})) / {cs}) AS BIGINT) AS tx1,
         CAST(floor(({-tiles.ORIGIN!r} - c.ymax) / {cs}) AS BIGINT) AS ty0,
         CAST(floor(({-tiles.ORIGIN!r} - c.ymin) / {cs}) AS BIGINT) AS ty1
  FROM {synth.communes_values_sql()}
  WHERE c.admin_level = 8
)"""


_V25_ORACLE = f"""
WITH {_v25_cov('duckdb')},
ex AS (SELECT unnest(generate_series(tx0, tx1)) AS tx, ty0, ty1 FROM r),
c15 AS (SELECT DISTINCT tx, unnest(generate_series(ty0, ty1)) AS ty FROM ex),
p14 AS (SELECT tx // 2 AS tx, ty // 2 AS ty FROM c15
        GROUP BY 1, 2 HAVING count(*) = 4),
k15 AS (SELECT 15 AS z, c.tx, c.ty FROM c15 c
        WHERE NOT EXISTS (SELECT 1 FROM p14 p
                          WHERE p.tx = c.tx // 2 AND p.ty = c.ty // 2)),
p13 AS (SELECT tx // 2 AS tx, ty // 2 AS ty FROM p14
        GROUP BY 1, 2 HAVING count(*) = 4),
k14 AS (SELECT 14 AS z, c.tx, c.ty FROM p14 c
        WHERE NOT EXISTS (SELECT 1 FROM p13 p
                          WHERE p.tx = c.tx // 2 AND p.ty = c.ty // 2)),
k13 AS (SELECT 13 AS z, tx, ty FROM p13)
SELECT CAST(z AS INT) AS z, tx, ty FROM k13
UNION ALL SELECT CAST(z AS INT), tx, ty FROM k14
UNION ALL SELECT CAST(z AS INT), tx, ty FROM k15
ORDER BY z, tx, ty
"""


@register("compact_cell_cover", _V25_ORACLE)
def v_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.geo import tiles

    polys = synth.communes_df(spark).filter(F.col("admin_level") == 8)
    txs, tys = tiles.rect_cover_sequence(
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), 15)
    cov = (polys.select(F.explode(txs).alias("tx"), tys.alias("_tys"))
           .select("tx", F.explode("_tys").alias("ty"))
           .distinct())
    return (tiles.compact_cells(cov, 15, levels=2)
            .select(F.col("z").cast("int").alias("z"), "tx", "ty")
            .orderBy("z", "tx", "ty"))


# ---------------------------------------------------------------------------
# v27 — compact/uncompact round-trip: the commune cover compacted two
# levels and expanded back must equal the uniform zoom-15 cover. The
# oracle derives the uniform cover DIRECTLY (it never compacts), so
# the hash match proves compact |> uncompact == identity on real
# geometry, not just on toy quads.
# ---------------------------------------------------------------------------

_V27_ORACLE = f"""
WITH {_v25_cov('duckdb')},
ex AS (SELECT unnest(generate_series(tx0, tx1)) AS tx, ty0, ty1 FROM r),
c15 AS (SELECT DISTINCT tx, unnest(generate_series(ty0, ty1)) AS ty FROM ex)
SELECT tx, ty FROM c15 ORDER BY tx, ty
"""


@register("uncompact_roundtrip", _V27_ORACLE)
def v_uncompact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.geo import tiles

    polys = synth.communes_df(spark).filter(F.col("admin_level") == 8)
    txs, tys = tiles.rect_cover_sequence(
        F.col("xmin"), F.col("ymin"), F.col("xmax"), F.col("ymax"), 15)
    cov = (polys.select(F.explode(txs).alias("tx"), tys.alias("_tys"))
           .select("tx", F.explode("_tys").alias("ty"))
           .distinct())
    compacted = tiles.compact_cells(cov, 15, levels=2)
    return tiles.uncompact_cells(compacted, 15).orderBy("tx", "ty")
