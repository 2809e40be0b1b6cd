"""Wave-5 driver queries: trajectory analytics, spatial anti-join
coverage gaps, geodesic polygon area, Moran's I spatial
autocorrelation, map-matching, asymmetric containment dedup, hex KDE
smoothing, and a stream-static enrichment join — each with a DuckDB
oracle over the same shared fixtures (synth.py one-source-of-truth
discipline: a single emitter builds both dialects).
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
# v05 — geodesic (spherical) polygon area per commune: inverse-
# Mercator + the discrete spherical trapezoid sum as ONE aggregate()
# fold over the ring (operators/geodesy.spherical_ring_area_m2 —
# ST_Area(geography) as a column kernel). The oracle is the CLOSED
# FORM for a Mercator rectangle, R^2 * dlambda * dsin(phi) — a
# different algebraic route to the same number, so the hash match
# checks the math, not the code.
# ---------------------------------------------------------------------------

_V05_ORACLE = f"""
SELECT insee_com,
       round(6371008.8 * 6371008.8
             * ((xmax - xmin) / 6378137.0)
             * (sin(2.0 * atan(exp(ymax / 6378137.0)) - pi() / 2.0)
                - sin(2.0 * atan(exp(ymin / 6378137.0)) - pi() / 2.0))
             / 1000000.0, 6) AS area_km2
FROM {synth.communes_values_sql()}
ORDER BY insee_com
"""


@register("spherical_commune_area", _V05_ORACLE)
def v_spherical_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.geodesy import spherical_ring_area_m2

    polys = synth.commune_polygons_df(spark)
    return (polys.select(
        "insee_com",
        F.round(spherical_ring_area_m2("verts") / 1e6, 6).alias("area_km2"))
        .orderBy("insee_com"))


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
# v07 — map-matching: snap each point (every 3rd event) to its
# nearest street segment within 500 m. Engine: expanded-bbox cell
# cover + home-cell equi-join + clamped projection + partitioned
# top-1 window (operators/mapmatch.snap_to_segments); oracle: the
# brute-force point x segment product with the identical projection
# arithmetic — an O(n*m) route the engine never takes.
# ---------------------------------------------------------------------------

_V07_ORACLE = f"""
WITH p AS ({synth.points_select_sql('duckdb')}),
ps AS (SELECT * FROM p WHERE event_id % 3 = 0),
segs AS ({synth.segments_select_sql('duckdb')}),
cand AS (
  SELECT ps.event_id, s.seg_id, ps.x, ps.y, s.x1, s.y1,
         s.x2 - s.x1 AS dx, s.y2 - s.y1 AS dy,
         (s.x2 - s.x1) * (s.x2 - s.x1)
           + (s.y2 - s.y1) * (s.y2 - s.y1) AS d2seg
  FROM ps, segs s
),
proj AS (
  SELECT event_id, seg_id, x, y, x1, y1, dx, dy,
         least(greatest(CASE WHEN d2seg > 0
              THEN ((x - x1) * dx + (y - y1) * dy) / d2seg
              ELSE 0.0 END, 0.0), 1.0) AS tc
  FROM cand
),
scored AS (
  SELECT event_id, seg_id,
         x1 + tc * dx AS sx, y1 + tc * dy AS sy,
         (x - (x1 + tc * dx)) * (x - (x1 + tc * dx))
           + (y - (y1 + tc * dy)) * (y - (y1 + tc * dy)) AS d2
  FROM proj
),
best AS (
  SELECT event_id, seg_id, sx, sy, d2,
         row_number() OVER (PARTITION BY event_id
                            ORDER BY d2, seg_id) AS rk
  FROM scored WHERE d2 <= 250000.0
)
SELECT event_id, seg_id, round(sx, 6) AS snap_x, round(sy, 6) AS snap_y,
       round(sqrt(d2), 3) AS dist_m
FROM best WHERE rk = 1 ORDER BY event_id
"""


@register("map_match_segments", _V07_ORACLE)
def v_map_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.mapmatch import snap_to_segments

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    pts = (spark.sql(synth.points_select_sql("spark"))
           .filter(F.col("event_id") % 3 == 0))
    segs = spark.sql(synth.segments_select_sql("spark"))
    return snap_to_segments(pts, segs, 500.0).orderBy("event_id")


# ---------------------------------------------------------------------------
# v08 — asymmetric near-CONTAINMENT dedup (doc-in-doc): directed
# pairs with |A∩B| / |A| >= 0.9 over distinct tokens — the inclusion
# case Jaccard structurally misses (a half-length excerpt of a page
# has jac ~0.5 but containment ~1.0). Corpus: every 7th document plus
# its front-half excerpt, so the fixture PROVES the operator catches
# pairs allpairs_jaccard(0.8) does not. Engine: prefix-filtered
# candidate join (operators/setsim.containment_pairs); oracle: the
# full token-intersection join.
# ---------------------------------------------------------------------------

_V08_CORPUS = {
    "duckdb": """
corpus AS (
  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 1000000, substr(text, 1, greatest(n_chars // 2, 20))
  FROM documents WHERE doc_id % 7 = 0
)""",
    "spark": """
SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0
UNION ALL
SELECT doc_id + 1000000, substring(text, 1, greatest(CAST(n_chars div 2 AS INT), 20))
FROM documents WHERE doc_id % 7 = 0
""",
}

_V08_ORACLE = rf"""
WITH {_V08_CORPUS['duckdb']},
tok AS (
  SELECT DISTINCT doc_id, term FROM (
    SELECT doc_id, unnest(string_split_regex(text, '\s+')) AS term
    FROM corpus)
  WHERE term <> ''
),
sz AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(count(*) AS DOUBLE) AS c
          FROM tok a JOIN tok b ON a.term = b.term
                                AND a.doc_id != b.doc_id
          GROUP BY 1, 2)
SELECT i.id_a, i.id_b, round(i.c / sa.n, 6) AS containment
FROM inter i JOIN sz sa ON sa.doc_id = i.id_a
WHERE i.c / sa.n >= 0.9
ORDER BY id_a, id_b
"""


@register("containment_pairs", _V08_ORACLE)
def v_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.setsim import containment_pairs

    _read(spark, sf_dir, "documents").createOrReplaceTempView("documents")
    corpus = spark.sql(_V08_CORPUS["spark"])
    return containment_pairs(corpus, 0.9).orderBy("id_a", "id_b")


# ---------------------------------------------------------------------------
# v09 — distance-decay hex smoothing (discrete KDE): triangular
# weights (k + 1 - ring) over each occupied cell's radius-2 disk.
# Integer weight numerators keep the weighted sums exact in doubles
# regardless of aggregation order (hex_kring_smooth discipline).
# ---------------------------------------------------------------------------


def _v09_vals(dialect: str) -> str:
    return (_v06_cells(dialect)
            + """,
vals AS (
  SELECT hq, hr,
         CAST(((hq * 7 + hr * 13 + 100000000) % 100) AS DOUBLE) / 10.0 AS val
  FROM cells
)""")


_V09_RING = ("greatest(abs(a.hq - b.hq), abs(a.hr - b.hr), "
             "abs((a.hq + a.hr) - (b.hq + b.hr)))")

_V09_ORACLE = f"""
WITH {_v09_vals('duckdb')}
SELECT a.hq, a.hr,
       CAST(sum(3 - {_V09_RING}) AS BIGINT) AS w_total,
       round(sum(b.val * (3 - {_V09_RING}))
             / sum(3 - {_V09_RING}), 6) AS kde
FROM vals a JOIN vals b ON {_V09_RING} <= 2
GROUP BY a.hq, a.hr ORDER BY a.hq, a.hr
"""


@register("hex_kde_weighted", _V09_ORACLE)
def v_hex_kde(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.geo.hexgrid import hex_kring_weighted

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    vals = spark.sql("WITH " + _v09_vals("spark") + " SELECT * FROM vals")
    return (hex_kring_weighted(vals, k=2)
            .select("hq", "hr", "w_total", "kde")
            .orderBy("hq", "hr"))


# ---------------------------------------------------------------------------
# v10 — stream-static enrichment join: the event stream joins the
# static commune dimension (broadcast inside each micro-batch — the
# canonical streaming enrich), then rolls up hourly counts per dept.
# Structured Streaming supports stream-static inner joins stateless-
# ly; the oracle is the batch equivalent over the same derivation.
# ---------------------------------------------------------------------------


def _v10_insee_case(col: str) -> str:
    return "CASE " + " ".join(
        f"WHEN {col} % 10 = {i} THEN '{synth.COMMUNES[i][0]}'"
        for i in range(10)
    ) + " END"


_V10_ORACLE = f"""
SELECT date_trunc('hour', CAST(e.ts AS TIMESTAMP)) AS window_start,
       c.dept, CAST(count(*) AS BIGINT) AS n
FROM events e
JOIN {synth.communes_values_sql()}
  ON c.insee_com = {_v10_insee_case('e.event_id')}
GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("streaming_static_enrich", _V10_ORACLE)
def v_stream_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = synth.communes_df(spark).select("insee_com", "dept")
    feed = (spark.readStream.schema(
        _read(spark, sf_dir, "events").schema).parquet(sf_dir.rstrip("/"))
        .filter(F.input_file_name().endswith("events.parquet")))
    enriched = (feed
                .withColumn("ts", F.col("ts").cast("timestamp"))
                .withColumn("insee_com",
                            F.expr(_v10_insee_case("event_id")))
                .join(F.broadcast(dim), "insee_com"))
    agg = (enriched
           .withWatermark("ts", "1 hour")
           .groupBy(F.window("ts", "1 hour").alias("w"), "dept")
           .agg(F.count(F.lit(1)).alias("n"))
           .select(F.col("w.start").alias("window_start"), "dept", "n"))
    qname = "v10_stream"
    q = (agg.writeStream.format("memory").queryName(qname)
         .outputMode("complete").trigger(availableNow=True).start())
    q.awaitTermination()
    out = spark.table(qname).orderBy("window_start", "dept")
    rows = out.collect()
    q.stop()
    return spark.createDataFrame(rows, out.schema)


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
# v13 — morphological classification of the occupied cell set:
# interior (erosion), boundary (set minus erosion), halo (dilation
# minus set) — the raster dilate/erode pair on the sparse hex
# lattice. Oracle: EXISTS/NOT EXISTS over the 6-neighbor VALUES list.
# ---------------------------------------------------------------------------

_V13_ORACLE = f"""
WITH {_v06_cells('duckdb')},
occ AS (SELECT DISTINCT hq, hr FROM cells),
nbr AS (
  SELECT a.hq + d.dq AS hq, a.hr + d.dr AS hr
  FROM occ a, (VALUES (1, 0), (-1, 0), (0, 1),
                      (0, -1), (1, -1), (-1, 1)) d(dq, dr)
),
cnt AS (SELECT hq, hr, count(*) AS n FROM nbr GROUP BY hq, hr)
SELECT o.hq, o.hr,
       CASE WHEN coalesce(c.n, 0) = 6 THEN 'interior'
            ELSE 'boundary' END AS cls,
       CAST(coalesce(c.n, 0) AS BIGINT) AS n_occ_nbrs
FROM occ o LEFT JOIN cnt c ON c.hq = o.hq AND c.hr = o.hr
UNION ALL
SELECT c.hq, c.hr, 'halo', CAST(c.n AS BIGINT)
FROM cnt c
WHERE NOT EXISTS (SELECT 1 FROM occ o
                  WHERE o.hq = c.hq AND o.hr = c.hr)
ORDER BY hq, hr, cls
"""


@register("hex_morphology_classes", _V13_ORACLE)
def v_hex_morphology(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.geo.hexgrid import hex_morphology

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    cells = spark.sql("WITH " + _v06_cells("spark") + " SELECT * FROM cells")
    return (hex_morphology(cells)
            .withColumn("n_occ_nbrs", F.col("n_occ_nbrs").cast("bigint"))
            .orderBy("hq", "hr", "cls"))


# ---------------------------------------------------------------------------
# v14 — sketch-based containment estimate on LSH candidate pairs:
# invert the minhash Jaccard estimate to an intersection estimate
# (I = J(na+nb)/(1+J)) and divide by the exact per-doc distinct-
# shingle counts — the O(pairs * n_hashes) doc-in-doc verify that
# never rereads text (setsim.containment_pairs is the exact twin).
# The sig/band SQL below is kept textually identical to
# __spark_entry__._sig_cte / the q21 bands (the oracle gate proves
# both against the same engine output; a direct import would be
# circular at module-import time).
# ---------------------------------------------------------------------------

_V14_TOKS = "string_split_regex(trim(lower(text)), '\\s+')"
_V14_SHINGLES = (f"CASE WHEN len({_V14_TOKS}) >= 3 THEN "
                 f"list_transform(generate_series(0, len({_V14_TOKS}) - 3), "
                 f"i -> array_to_string(list_slice({_V14_TOKS}, i + 1, i + 3), ' ')) "
                 f"ELSE [array_to_string({_V14_TOKS}, ' ')] END")


def _v14_sig_cte() -> str:
    mins = ",\n         ".join(
        f"list_min(list_transform(m{i // 4}, x -> substr(x, {8 * (i % 4) + 1}, 8))) AS h{i}"
        for i in range(8))
    blocks = ",\n               ".join(
        f"list_transform(sh, s -> md5('b{b}|' || s)) AS m{b}" for b in range(2))
    return (f"sig AS (SELECT doc_id,\n         {mins}\n"
            f"  FROM (SELECT doc_id,\n               {blocks}\n"
            f"        FROM (SELECT doc_id, {_V14_SHINGLES} AS sh FROM documents)))")


_V14_ORACLE = f"""
WITH {_v14_sig_cte()},
sizes AS (
  SELECT doc_id, CAST(len(list_distinct(sh)) AS BIGINT) AS n_shingles
  FROM (SELECT doc_id, {_V14_SHINGLES} AS sh FROM documents)
),
bands AS (
  SELECT doc_id, 0 AS band, h0 || '|' || h1 AS key FROM sig
  UNION ALL SELECT doc_id, 1, h2 || '|' || h3 FROM sig
  UNION ALL SELECT doc_id, 2, h4 || '|' || h5 FROM sig
  UNION ALL SELECT doc_id, 3, h6 || '|' || h7 FROM sig
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
                            AND a.doc_id < b.doc_id
),
est AS (
  SELECT p.id_a, p.id_b,
         CAST({' + '.join(f'CASE WHEN sa.h{i} = sb.h{i} THEN 1 ELSE 0 END'
                          for i in range(8))} AS DOUBLE) / 8.0 AS ej
  FROM pairs p
  JOIN sig sa ON sa.doc_id = p.id_a
  JOIN sig sb ON sb.doc_id = p.id_b
)
SELECT e.id_a, e.id_b, round(e.ej, 6) AS est_jaccard,
       round((e.ej * (za.n_shingles + zb.n_shingles) / (1.0 + e.ej))
             / za.n_shingles, 6) AS est_cont_a_in_b,
       round((e.ej * (za.n_shingles + zb.n_shingles) / (1.0 + e.ej))
             / zb.n_shingles, 6) AS est_cont_b_in_a
FROM est e
JOIN sizes za ON za.doc_id = e.id_a
JOIN sizes zb ON zb.doc_id = e.id_b
ORDER BY id_a, id_b
"""


@register("minhash_containment_est", _V14_ORACLE)
def v_minhash_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.dedup import (lsh_candidate_pairs,
                                            minhash_containment_estimate,
                                            minhash_signature,
                                            shingle_counts)

    docs = _read(spark, sf_dir, "documents")
    sig = minhash_signature(docs)
    pairs = lsh_candidate_pairs(sig)
    sizes = shingle_counts(docs)
    return (minhash_containment_estimate(sig, sizes, pairs)
            .orderBy("id_a", "id_b"))


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
# v16 — STREAMING stay-point detection: the stateful incremental form
# of staypoint_runs (applyInPandasWithState, keyed on the track id).
# The feed is the trajectory fixture split into three time-ordered
# file batches (maxFilesPerTrigger=1), so runs genuinely close across
# micro-batch seams; the operator emits each run when a later
# out-of-radius ping closes it, so the oracle is the batch islands
# result RESTRICTED TO CLOSED RUNS (every run but each user's last).
# ---------------------------------------------------------------------------

_V16_ORACLE = f"""
WITH t AS ({synth.traj_select_sql('duckdb')}),
s AS (
  SELECT user_id, seq, x, y,
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
  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY seq
                           ROWS UNBOUNDED PRECEDING) AS run
  FROM b
),
runs AS (
  SELECT user_id, run, CAST(count(*) AS BIGINT) AS n_pts,
         sum(x) / count(*) AS cx, sum(y) / count(*) AS cy,
         CAST(min(seq) AS BIGINT) AS seq_start,
         CAST(max(seq) AS BIGINT) AS seq_end
  FROM r GROUP BY user_id, run
),
mx AS (SELECT user_id, max(run) AS mr FROM runs GROUP BY user_id)
SELECT runs.user_id AS user_id, runs.n_pts, runs.cx, runs.cy,
       runs.seq_start, runs.seq_end
FROM runs JOIN mx ON mx.user_id = runs.user_id
WHERE runs.run < mx.mr AND n_pts >= 3
ORDER BY runs.user_id, runs.seq_start
"""


@register("streaming_staypoint_runs", _V16_ORACLE)
def v_streaming_staypoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil
    import tempfile

    from bano_spark.streaming.stateful import streaming_staypoints

    traj = _traj(spark, sf_dir).select("user_id", "ts", "event_id",
                                       "seq", "x", "y")
    feed_dir = tempfile.mkdtemp(prefix="v16_feed_")
    try:
        bounds = [(None, 20), (20, 40), (40, None)]
        for i, (lo, hi) in enumerate(bounds):
            part = traj
            if lo is not None:
                part = part.filter(F.col("seq") > lo)
            if hi is not None:
                part = part.filter(F.col("seq") <= hi)
            part.coalesce(1).write.mode("overwrite").parquet(
                os.path.join(feed_dir, f"batch{i}"))
        # FileStreamSource orders by modification time: pin batch order
        for i in range(3):
            d = os.path.join(feed_dir, f"batch{i}")
            t = 1_000_000_000 + i * 900
            for f in os.listdir(d):
                os.utime(os.path.join(d, f), (t, t))
        feed = (spark.readStream.schema(traj.schema)
                .option("maxFilesPerTrigger", 1)
                .parquet(feed_dir + "/*"))
        out = streaming_staypoints(feed.groupBy("user_id"))
        qname = "v16_stream"
        q = (out.writeStream.format("memory").queryName(qname)
             .outputMode("append").trigger(availableNow=True).start())
        q.awaitTermination()
        rows = (spark.table(qname)
                .orderBy("user_id", "seq_start").collect())
    finally:
        shutil.rmtree(feed_dir, ignore_errors=True)
    return spark.createDataFrame(
        rows, "user_id bigint, n_pts bigint, cx double, cy double, "
              "seq_start bigint, seq_end bigint")


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
# v19 — TIGER-style address-range interpolation: numbered points snap
# to their nearest street segment (within 100 m), split by
# housenumber parity (the odd/even side convention the reference's
# rapprochement relies on), and each (segment, side) publishes its
# interpolation range + a monotonicity quality bit (zero order
# inversions of the (t, num) sequence in either direction). Oracle:
# the brute-force nearest join + the same window statement.
# ---------------------------------------------------------------------------

_V19_NUM = "1 + ((event_id * 2654435761) % 2147483648{d}5) % 199"

_V19_ORACLE = f"""
WITH p AS ({synth.points_select_sql('duckdb')}),
pn AS (
  SELECT event_id, x, y,
         CAST({_V19_NUM.format(d=' // ')} AS BIGINT) AS num
  FROM p WHERE event_id % 3 = 1
),
segs AS ({synth.segments_select_sql('duckdb')}),
cand AS (
  SELECT pn.event_id, pn.num, s.seg_id, pn.x, pn.y, s.x1, s.y1,
         s.x2 - s.x1 AS dx, s.y2 - s.y1 AS dy,
         (s.x2 - s.x1) * (s.x2 - s.x1)
           + (s.y2 - s.y1) * (s.y2 - s.y1) AS d2seg
  FROM pn, segs s
),
proj AS (
  SELECT event_id, num, seg_id, x, y, x1, y1, dx, dy,
         least(greatest(CASE WHEN d2seg > 0
              THEN ((x - x1) * dx + (y - y1) * dy) / d2seg
              ELSE 0.0 END, 0.0), 1.0) AS tc
  FROM cand
),
scored AS (
  SELECT event_id, num, seg_id, tc,
         (x - (x1 + tc * dx)) * (x - (x1 + tc * dx))
           + (y - (y1 + tc * dy)) * (y - (y1 + tc * dy)) AS d2
  FROM proj
),
best AS (
  SELECT event_id, num, seg_id, tc,
         row_number() OVER (PARTITION BY event_id
                            ORDER BY d2, seg_id) AS rk
  FROM scored WHERE d2 <= 10000.0
),
sided AS (
  SELECT seg_id, event_id, num, tc,
         CASE WHEN num % 2 = 0 THEN 'even' ELSE 'odd' END AS side
  FROM best WHERE rk = 1
),
seq AS (
  SELECT *, lag(num) OVER (PARTITION BY seg_id, side
                           ORDER BY tc, num, event_id) AS pnum
  FROM sided
),
inv AS (
  SELECT seg_id, side, num, tc,
         CASE WHEN pnum IS NOT NULL AND num < pnum THEN 1 ELSE 0 END AS up,
         CASE WHEN pnum IS NOT NULL AND num > pnum THEN 1 ELSE 0 END AS dn
  FROM seq
)
SELECT seg_id, side, CAST(count(*) AS BIGINT) AS n_points,
       min(num) AS num_min, max(num) AS num_max,
       round(min(tc), 6) AS t_min, round(max(tc), 6) AS t_max,
       (sum(up) = 0 OR sum(dn) = 0) AS monotone
FROM inv GROUP BY seg_id, side ORDER BY seg_id, side
"""


@register("address_range_interpolation", _V19_ORACLE)
def v_address_ranges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.interpolation import address_ranges

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    _read(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    pts = (spark.sql(synth.points_select_sql("spark"))
           .filter(F.col("event_id") % 3 == 1)
           .withColumn("num", F.expr(
               f"CAST({_V19_NUM.format(d=' div ')} AS BIGINT)")))
    segs = spark.sql(synth.segments_select_sql("spark"))
    out = address_ranges(pts, segs, 100.0, point_id="event_id")
    return (out.select("seg_id", "side", "n_points", "num_min", "num_max",
                       "t_min", "t_max", "monotone")
            .orderBy("seg_id", "side"))


# ---------------------------------------------------------------------------
# v20 — axis-aligned overlay with exact intersection AREAS: commune
# bboxes x postal bboxes. Candidates from a shared cell-cover
# equi-join, deduped pair-per-representative-cell (the top-left cell
# of the intersection) so no distinct shuffle exists; the oracle is
# the direct O(n*m) overlap product.
# ---------------------------------------------------------------------------

_V20_ORACLE = f"""
SELECT c.insee_com, pp.code_postal,
       round((least(c.xmax, pp.xmax) - greatest(c.xmin, pp.xmin))
             * (least(c.ymax, pp.ymax) - greatest(c.ymin, pp.ymin)),
             6) AS inter_area
FROM {synth.communes_values_sql()}, {synth.postal_values_sql()}
WHERE least(c.xmax, pp.xmax) > greatest(c.xmin, pp.xmin)
  AND least(c.ymax, pp.ymax) > greatest(c.ymin, pp.ymin)
ORDER BY insee_com, code_postal
"""


@register("rect_intersection_areas", _V20_ORACLE)
def v_rect_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.overlay import bbox_intersection_areas

    communes = synth.communes_df(spark).select(
        F.col("insee_com"), "xmin", "ymin", "xmax", "ymax")
    # the postal fixture ships rings; rebuild its bbox columns from synth
    from pyspark.sql import types as T

    rows = [(p[0], p[1], p[2], p[3], p[4]) for p in synth.POSTAL]
    schema = T.StructType([
        T.StructField("code_postal", T.StringType()),
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
    ])
    postal = spark.createDataFrame(rows, schema)
    out = bbox_intersection_areas(communes, postal,
                                  left_id="insee_com",
                                  right_id="code_postal")
    return out.orderBy("insee_com", "code_postal")


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
# v23 — lag-1 autocorrelation per key: Pearson r over (v_t, v_{t-1})
# pairs, computed from the five raw sums with IDENTICAL operation
# order in both engines (no corr() built-in on either side, so the
# formula — not a library — is what's checked).
# ---------------------------------------------------------------------------

_V23_ORACLE = """
WITH s AS (
  SELECT user_id, value AS vx,
         lag(value) OVER (PARTITION BY user_id
                          ORDER BY ts, event_id) AS vy
  FROM events
),
p AS (SELECT user_id, vx, vy FROM s WHERE vy IS NOT NULL),
a AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         sum(vx) AS sx, sum(vy) AS sy, sum(vx * vy) AS sxy,
         sum(vx * vx) AS sxx, sum(vy * vy) AS syy
  FROM p GROUP BY user_id
)
SELECT user_id, n,
       round((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
             6) AS lag1_r
FROM a WHERE (n * sxx - sx * sx) * (n * syy - sy * sy) > 0
ORDER BY user_id
"""


@register("lag1_autocorrelation", _V23_ORACLE)
def v_lag_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = _read(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    p = (ev.withColumn("vy", F.lag("value").over(w))
         .filter(F.col("vy").isNotNull())
         .withColumnRenamed("value", "vx"))
    a = (p.groupBy("user_id")
         .agg(F.count(F.lit(1)).alias("n"),
              F.sum("vx").alias("sx"), F.sum("vy").alias("sy"),
              F.sum(F.col("vx") * F.col("vy")).alias("sxy"),
              F.sum(F.col("vx") * F.col("vx")).alias("sxx"),
              F.sum(F.col("vy") * F.col("vy")).alias("syy")))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den2 = ((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")))
    return (a.filter(den2 > 0)
            .select("user_id", "n",
                    F.round(num / F.sqrt(den2), 6).alias("lag1_r"))
            .orderBy("user_id"))


# ---------------------------------------------------------------------------
# v24 — polyline resampling (ST_LineInterpolatePoint at k fractions):
# 5 equally spaced points along each polyline, each an aggregate()
# fold over the vertex arrays (zero shuffle; the w136 midpoint op
# generalized to a fraction grid). The oracle replays the ordered
# walk once per fraction.
# ---------------------------------------------------------------------------

_V24_FRACS = [i / 6.0 for i in range(1, 6)]


def _v24_verts(dialect: str) -> str:
    return """
slots AS (
  SELECT DISTINCT event_id % 12 AS a, event_id % 17 AS k
  FROM events WHERE event_id % 17 < 4 + (event_id % 12) % 5
),
verts AS (
  SELECT a AS line_id, k,
         CAST(k * 100 + (a * 37) % 50 AS DOUBLE) AS x,
         CAST(((k * k * 7 + a * 13) % 90) * 3 AS DOUBLE) AS y
  FROM slots
)"""


def _v24_oracle() -> str:
    fr = ", ".join(f"({i}, CAST({f!r} AS DOUBLE))"
                   for i, f in enumerate(_V24_FRACS))
    return f"""
WITH {_v24_verts('duckdb')},
fr(i, frac) AS (VALUES {fr}),
segs AS (
  SELECT line_id, k, x, y,
         lead(x) OVER (PARTITION BY line_id ORDER BY k) AS x2,
         lead(y) OVER (PARTITION BY line_id ORDER BY k) AS y2
  FROM verts
),
lens AS (
  SELECT *, sqrt((x2 - x) * (x2 - x) + (y2 - y) * (y2 - y)) AS len
  FROM segs WHERE x2 IS NOT NULL
),
cum AS (
  SELECT *, sum(len) OVER (PARTITION BY line_id ORDER BY k) AS cume
  FROM lens
),
tot AS (
  SELECT *, max(cume) OVER (PARTITION BY line_id) AS total FROM cum
),
hit AS (
  SELECT t.*, f.i, f.frac,
         row_number() OVER (PARTITION BY t.line_id, f.i
                            ORDER BY t.k) AS rn
  FROM tot t JOIN fr f ON t.cume >= f.frac * t.total
)
SELECT CAST(line_id AS BIGINT) AS line_id, CAST(i AS INT) AS i,
       round(x + (x2 - x) * ((frac * total - (cume - len)) / len), 6) AS px,
       round(y + (y2 - y) * ((frac * total - (cume - len)) / len), 6) AS py
FROM hit WHERE rn = 1 ORDER BY line_id, i
"""


@register("polyline_resample", _v24_oracle())
def v_resample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.geodesy import line_interpolate_point

    _read(spark, sf_dir, "events").createOrReplaceTempView("events")
    verts = spark.sql("WITH " + _v24_verts("spark") + " SELECT * FROM verts")
    lines = (verts.groupBy("line_id")
             .agg(F.array_sort(F.collect_list(F.struct("k", "x", "y")))
                  .alias("vs"))
             .select(F.col("line_id").cast("bigint").alias("line_id"),
                     F.transform("vs", lambda s: s["x"]).alias("xs"),
                     F.transform("vs", lambda s: s["y"]).alias("ys")))
    samples = F.array(*[
        F.struct(F.lit(i).alias("i"),
                 line_interpolate_point(f, "xs", "ys").alias("p"))
        for i, f in enumerate(_V24_FRACS)])
    return (lines.select("line_id", F.explode(samples).alias("e"))
            .select("line_id", F.col("e.i").alias("i"),
                    F.round("e.p.px", 6).alias("px"),
                    F.round("e.p.py", 6).alias("py"))
            .orderBy("line_id", "i"))


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
# v26 — simhash Hamming-ball pair join (Manku et al.): all document
# pairs within Hamming distance 3 of each other's 16-bit simhash.
# Candidates from the 4-bit-band pigeonhole equi-join (distance < 4
# guarantees a whole band agrees), exact bit_count(xor) verify on
# candidates only. Oracle: the brute-force Hamming product over the
# SQL simhash twin.
# ---------------------------------------------------------------------------


def _v26_oracle() -> str:
    from bano_spark.operators.dedup import simhash_bits

    votes = ",\n         ".join(
        f"sum({e}) AS v{j}" for j, e in enumerate(simhash_bits(16, " // ")))
    bits = " + ".join(f"(CASE WHEN v{j} > 0 THEN {2**j} ELSE 0 END)"
                      for j in range(16))
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(list_distinct({_V14_TOKS})) AS tok FROM documents
),
votes AS (SELECT doc_id,
         {votes}
  FROM toks GROUP BY doc_id),
sh AS (SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM votes)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
ORDER BY id_a, id_b
"""


@register("simhash_hamming_pairs", _v26_oracle())
def v_simhash_hamming(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bano_spark.operators.dedup import simhash, simhash_hamming_pairs

    sh = simhash(_read(spark, sf_dir, "documents"))
    return simhash_hamming_pairs(sh, max_hamming=3).orderBy("id_a", "id_b")


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
