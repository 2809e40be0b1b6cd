"""Trajectory analytics: stay-point detection, per-track stats, and
move-direction histograms over ordered (id, x, y) point sequences.

The reference pipeline has no movement data, but its point streams
(OSM diff ingest, bano/sources/osm.py) are exactly the shape a GPS /
check-in feed takes at web scale: (user, ts, x, y) events. These
operators add the standard trajectory-warehouse members on top of the
engine's EPSG:3857 point algebra:

- ``staypoints``: runs of consecutive pings within ``radius`` meters
  of their predecessor, the classic stay-point segmentation (Li et
  al., "Mining user similarity based on location history", public
  formulation) expressed as gaps-and-islands: a per-track lag
  distance, a break flag, a running sum of breaks as the run id, then
  one groupBy — every window is PARTITIONED BY the track key, so the
  whole operator is embarrassingly parallel across users and never
  sees a global window or a cross product.
- ``trajectory_stats``: per-track step/displacement aggregates (total
  path length, longest step, net displacement, straightness index).
  One partitioned lag + one groupBy.
- ``move_sectors``: per-step 8-sector compass classification done with
  pure sign/ratio comparisons against tan(22.5 deg) — no atan2, so
  the classification is exact on integer-valued step vectors and
  engine-portable bit-for-bit (the same transcendental-free
  discipline as geo/geometry.py's orientation tests).

Scale shape: all three are (window partitioned by track) + (groupBy
track or sector) — shuffle volume is O(points) once, keyed by the
track id; skewed mega-tracks can be salted like any hot key, and the
sector rollup is an 8-key aggregate with map-side partial
aggregation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# tan(pi/8): sector half-angle boundary for the 8-way compass split
_TAN225 = 0.41421356237309503

def _steps(traj: DataFrame, track_col: str, order_cols: list[str],
           x: str, y: str) -> DataFrame:
    w = Window.partitionBy(track_col).orderBy(*[F.asc(c) for c in order_cols])
    return (traj
            .withColumn("_px", F.lag(x).over(w))
            .withColumn("_py", F.lag(y).over(w)))


def staypoints(
    traj: DataFrame,
    *,
    track_col: str = "user_id",
    order_cols: list[str] | None = None,
    x: str = "x",
    y: str = "y",
    ts_col: str = "ts",
    radius: float = 50.0,
    min_pts: int = 3,
) -> DataFrame:
    """Stay points per track: maximal runs of consecutive points each
    within ``radius`` m of the previous point, kept when the run has
    >= ``min_pts`` points. Returns one row per stay with the run's
    centroid (mean x/y) and time span.

    A new run starts at the first point of a track and at every step
    longer than ``radius``; the run id is the running count of such
    breaks — windows partitioned by track only."""
    order_cols = order_cols or [ts_col]
    w = Window.partitionBy(track_col).orderBy(*[F.asc(c) for c in order_cols])
    d2 = ((F.col(x) - F.col("_px")) ** 2 + (F.col(y) - F.col("_py")) ** 2)
    stepped = (_steps(traj, track_col, order_cols, x, y)
               .withColumn("_brk", F.when(
                   F.col("_px").isNull()
                   | (d2 > F.lit(float(radius) ** 2)), 1).otherwise(0))
               .withColumn("_run", F.sum("_brk").over(
                   w.rowsBetween(Window.unboundedPreceding, 0))))
    return (stepped.groupBy(track_col, "_run")
            .agg(F.count(F.lit(1)).alias("n_pts"),
                 # sum-then-divide: integer-valued sums are exact, the
                 # single division is IEEE-identical across engines
                 (F.sum(x) / F.count(F.lit(1))).alias("cx"),
                 (F.sum(y) / F.count(F.lit(1))).alias("cy"),
                 F.min(ts_col).alias("ts_start"),
                 F.max(ts_col).alias("ts_end"))
            .filter(F.col("n_pts") >= min_pts)
            .drop("_run"))


def trajectory_stats(
    traj: DataFrame,
    *,
    track_col: str = "user_id",
    order_cols: list[str] | None = None,
    x: str = "x",
    y: str = "y",
    ts_col: str = "ts",
) -> DataFrame:
    """Per-track movement profile: n_points, total path length, max
    single step, net displacement (first point -> last point), and the
    straightness index net/total (1.0 = straight line, rounded from
    the ROUNDED terms so both engines divide identical inputs)."""
    order_cols = order_cols or [ts_col]
    w = Window.partitionBy(track_col).orderBy(*[F.asc(c) for c in order_cols])
    wall = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    d = F.sqrt((F.col(x) - F.col("_px")) ** 2 + (F.col(y) - F.col("_py")) ** 2)
    stepped = (_steps(traj, track_col, order_cols, x, y)
               .withColumn("_d", d)
               .withColumn("_fx", F.first(x).over(wall))
               .withColumn("_fy", F.first(y).over(wall))
               .withColumn("_lx", F.last(x).over(wall))
               .withColumn("_ly", F.last(y).over(wall)))
    net = F.sqrt((F.col("_lx") - F.col("_fx")) ** 2
                 + (F.col("_ly") - F.col("_fy")) ** 2)
    agg = (stepped.groupBy(track_col)
           .agg(F.count(F.lit(1)).alias("n_points"),
                F.round(F.coalesce(F.sum("_d"), F.lit(0.0)), 3)
                .alias("total_dist_m"),
                F.round(F.coalesce(F.max("_d"), F.lit(0.0)), 3)
                .alias("max_step_m"),
                F.round(F.first(net), 3).alias("net_disp_m")))
    return agg.withColumn(
        "straightness",
        F.when(F.col("total_dist_m") > 0,
               F.round(F.col("net_disp_m") / F.col("total_dist_m"), 6))
        .otherwise(F.lit(None).cast("double")))


def sector_expr(dx, dy):
    """8-way compass sector of a step vector via sign / tan(22.5 deg)
    ratio comparisons only — exact on integer-valued steps, no atan2."""
    adx, ady = F.abs(dx), F.abs(dy)
    t = F.lit(_TAN225)
    return (F.when(adx <= t * ady, F.when(dy > 0, "N").otherwise("S"))
            .when(ady <= t * adx, F.when(dx > 0, "E").otherwise("W"))
            .when((dx > 0) & (dy > 0), "NE")
            .when((dx > 0) & (dy < 0), "SE")
            .when((dx < 0) & (dy < 0), "SW")
            .otherwise("NW"))


def move_sectors(
    traj: DataFrame,
    *,
    track_col: str = "user_id",
    order_cols: list[str] | None = None,
    x: str = "x",
    y: str = "y",
    ts_col: str = "ts",
    min_move: float = 0.0,
) -> DataFrame:
    """Histogram of step directions over all tracks: per compass
    sector, the number of steps, distinct tracks moving that way, and
    the summed step length. Steps with length <= ``min_move`` (GPS
    jitter inside a stay) are excluded."""
    order_cols = order_cols or [ts_col]
    dx = F.col(x) - F.col("_px")
    dy = F.col(y) - F.col("_py")
    d = F.sqrt(dx ** 2 + dy ** 2)
    stepped = (_steps(traj, track_col, order_cols, x, y)
               .filter(F.col("_px").isNotNull())
               .withColumn("_d", d)
               .filter(F.col("_d") > F.lit(float(min_move)))
               .withColumn("sector", sector_expr(dx, dy)))
    return (stepped.groupBy("sector")
            .agg(F.count(F.lit(1)).alias("n_moves"),
                 F.countDistinct(track_col).alias("n_tracks"),
                 F.round(F.sum("_d"), 3).alias("total_dist_m")))


def od_matrix(
    traj: DataFrame,
    zoom: int = 12,
    *,
    track_col: str = "user_id",
    order_cols: list[str] | None = None,
    x: str = "x",
    y: str = "y",
    ts_col: str = "ts",
) -> DataFrame:
    """Origin-destination matrix at slippy-cell resolution: each
    track's first and last point are binned to their zoom-``zoom``
    cells and the (origin_cell -> destination_cell) flows counted —
    the standard OD rollup of mobility warehouses.

    One partitioned window (first/last per track), one row per track,
    one groupBy on the four cell indices: shuffle is O(tracks), and
    the cell binning is the engine's pure-arithmetic tile math."""
    from ..geo import tiles

    order_cols = order_cols or [ts_col]
    w = (Window.partitionBy(track_col)
         .orderBy(*[F.asc(c) for c in order_cols])
         .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
    ends = (traj
            .withColumn("_ox", F.first(x).over(w))
            .withColumn("_oy", F.first(y).over(w))
            .withColumn("_dx", F.last(x).over(w))
            .withColumn("_dy", F.last(y).over(w))
            .groupBy(track_col)
            .agg(F.first("_ox").alias("ox"), F.first("_oy").alias("oy"),
                 F.first("_dx").alias("dx"), F.first("_dy").alias("dy")))
    binned = (ends
              .withColumn("o_tx", tiles.tile_x(F.col("ox"), zoom))
              .withColumn("o_ty", tiles.tile_y(F.col("oy"), zoom))
              .withColumn("d_tx", tiles.tile_x(F.col("dx"), zoom))
              .withColumn("d_ty", tiles.tile_y(F.col("dy"), zoom)))
    return (binned.groupBy("o_tx", "o_ty", "d_tx", "d_ty")
            .agg(F.count(F.lit(1)).alias("n_trips")))


def trip_legs(
    traj: DataFrame,
    *,
    track_col: str = "user_id",
    order_cols: list[str] | None = None,
    x: str = "x",
    y: str = "y",
    ts_col: str = "ts",
    radius: float = 50.0,
) -> DataFrame:
    """Trips between stays: maximal runs of consecutive MOVING steps
    (step length > ``radius``), the complement of :func:`staypoints`
    under the same break rule. One row per leg with step count, total
    length and endpoints-by-sequence. Same islands construction, same
    scale shape (per-track windows + one groupBy)."""
    order_cols = order_cols or [ts_col]
    w = Window.partitionBy(track_col).orderBy(*[F.asc(c) for c in order_cols])
    d2 = ((F.col(x) - F.col("_px")) ** 2 + (F.col(y) - F.col("_py")) ** 2)
    stepped = (_steps(traj, track_col, order_cols, x, y)
               .filter(F.col("_px").isNotNull())
               .withColumn("_mov", F.when(
                   d2 > F.lit(float(radius) ** 2), 1).otherwise(0))
               .withColumn("_d", F.sqrt(d2))
               # a leg starts where a moving step follows a non-moving
               # one (or the track start): island id = running count of
               # such starts, counted over moving steps only
               .withColumn("_prevmov", F.lag("_mov").over(w))
               .withColumn("_start", F.when(
                   (F.col("_mov") == 1)
                   & (F.coalesce(F.col("_prevmov"), F.lit(0)) == 0),
                   1).otherwise(0))
               .withColumn("_leg", F.sum("_start").over(
                   w.rowsBetween(Window.unboundedPreceding, 0))))
    return (stepped.filter(F.col("_mov") == 1)
            .groupBy(track_col, "_leg")
            .agg(F.count(F.lit(1)).alias("n_steps"),
                 F.round(F.sum("_d"), 3).alias("leg_dist_m"),
                 F.min(ts_col).alias("ts_start"),
                 F.max(ts_col).alias("ts_end"))
            .withColumnRenamed("_leg", "leg"))


def turn_classification(
    traj: DataFrame,
    *,
    track_col: str = "user_id",
    order_cols: list[str] | None = None,
    x: str = "x",
    y: str = "y",
    ts_col: str = "ts",
    min_move: float = 0.0,
) -> DataFrame:
    """Turn-behavior histogram: consecutive MOVE vector pairs
    classified as straight (|angle| < 45 deg), left, right, or u_turn
    (|angle| > 135 deg) — entirely with cross/dot sign comparisons
    (tan 45 = 1, so |angle| < 45 iff dot > 0 and |cross| < dot;
    |angle| > 135 iff dot < 0 and |cross| < -dot): exact on
    integer-valued steps, no transcendental anywhere.

    Steps <= ``min_move`` are excluded BEFORE pairing (jitter inside a
    stay must not read as a u-turn), so the classified pairs are
    consecutive genuine moves. Same scale shape as move_sectors: one
    per-track window chain + a 4-key aggregate."""
    order_cols = order_cols or [ts_col]
    w = Window.partitionBy(track_col).orderBy(*[F.asc(c) for c in order_cols])
    dx = F.col(x) - F.col("_px")
    dy = F.col(y) - F.col("_py")
    d2 = dx ** 2 + dy ** 2
    moves = (_steps(traj, track_col, order_cols, x, y)
             .filter(F.col("_px").isNotNull())
             .withColumn("_dx", dx).withColumn("_dy", dy)
             .filter(d2 > F.lit(float(min_move) ** 2)))
    paired = (moves
              .withColumn("_pdx", F.lag("_dx").over(w))
              .withColumn("_pdy", F.lag("_dy").over(w))
              .filter(F.col("_pdx").isNotNull()))
    dot = F.col("_pdx") * F.col("_dx") + F.col("_pdy") * F.col("_dy")
    cross = F.col("_pdx") * F.col("_dy") - F.col("_pdy") * F.col("_dx")
    turn = (F.when((dot > 0) & (F.abs(cross) < dot), "straight")
            .when((dot < 0) & (F.abs(cross) < -dot), "u_turn")
            .when(cross > 0, "left")
            .otherwise("right"))
    return (paired.withColumn("turn", turn)
            .groupBy("turn")
            .agg(F.count(F.lit(1)).alias("n_turns"),
                 F.countDistinct(track_col).alias("n_tracks")))


def colocation_pairs(
    traj: DataFrame,
    dist: float,
    *,
    track_col: str = "user_id",
    bucket_col: str = "bucket",
    point_id: str = "event_id",
    x: str = "x",
    y: str = "y",
    min_cooccurrences: int = 1,
) -> DataFrame:
    """Co-location (companionship) mining: pairs of DISTINCT tracks
    observed within ``dist`` meters in the same time bucket, with the
    number of distinct co-located buckets per pair — the standard
    trajectory-mining join behind contact graphs and travel-party
    detection (public formulation: co-location pattern mining).

    Candidates come from :func:`knn_join.dwithin_pairs` with the
    bucket as an extra equality key — the self-join is bounded by
    (cell x bucket) occupancy, never all-pairs; pair aggregation is
    one groupBy on (track_a, track_b).

    Point-level pairs within the SAME track are excluded; a pair of
    tracks co-located at several points of one bucket counts that
    bucket once (count DISTINCT buckets)."""
    from .knn_join import dwithin_pairs

    pts = traj.select(F.col(point_id), F.col(track_col), F.col(bucket_col),
                      F.col(x), F.col(y))
    pairs = dwithin_pairs(
        pts.withColumnRenamed(track_col, "_trk"),
        pts.withColumnRenamed(track_col, "_trk2"),
        dist, left_id=point_id, right_id=point_id,
        dedup_pairs=True, keys=(bucket_col,))
    # join the track ids back on both point ids
    a = pts.select(F.col(point_id).alias(f"{point_id}_a"),
                   F.col(track_col).alias("track_a"))
    b = pts.select(F.col(point_id).alias(f"{point_id}_b"),
                   F.col(track_col).alias("track_b"))
    joined = (pairs.join(a, f"{point_id}_a").join(b, f"{point_id}_b")
              .filter(F.col("track_a") != F.col("track_b")))
    # unordered track pair
    ta = F.least("track_a", "track_b")
    tb = F.greatest("track_a", "track_b")
    return (joined.select(ta.alias("track_a"), tb.alias("track_b"),
                          F.col(bucket_col))
            .groupBy("track_a", "track_b")
            .agg(F.countDistinct(bucket_col).alias("n_buckets"))
            .filter(F.col("n_buckets") >= min_cooccurrences))


# ---------------------------------------------------------------------------
# Dynamic time warping (exact, relational)
# ---------------------------------------------------------------------------

def dtw_pairs(traj: DataFrame, pairs: DataFrame, r: int, *,
              track_col: str = "user_id", order_col: str = "seq",
              x_col: str = "x", y_col: str = "y",
              id_a: str = "id_a", id_b: str = "id_b",
              checkpoint_every: int = 4) -> DataFrame:
    """EXACT dynamic time warping distance between paired tracks,
    each truncated to its first ``r`` points (pairs where either
    track is shorter are dropped — deterministic at any input scale).

    The DP recurrence D[i][j] = c[i][j] + min(D[i-1][j], D[i][j-1],
    D[i-1][j-1]) looks irreducibly sequential, but each ROW linearizes:
    with E[j] = min(D[i-1][j], D[i-1][j-1]) and P the prefix sum of
    row i's costs, D[i][j] = P[j] + min_{k<=j}(E[k] - P[k-1]) — ONE
    prefix sum + ONE running min per row, both ordinary partitioned
    windows. The i-loop is r driver iterations over a frame keyed by
    pair; every pair advances in parallel inside each iteration.

    Scale shape: per iteration one equi-join on the pair key plus two
    partitioned windows over r rows per pair — O(pairs x r) per round,
    r rounds, no per-row Python, no cross product (the cost matrix is
    the definitional r^2 rows per pair). ``dtw_cte_sql`` renders the
    SAME step table as chained CTEs for a SQL oracle.
    """
    pts = (traj.select(F.col(track_col).alias("_t"),
                       F.col(order_col).alias("_s"),
                       F.col(x_col).cast("double").alias("_x"),
                       F.col(y_col).cast("double").alias("_y"))
           .filter(F.col("_s") <= r))
    full = (pts.groupBy("_t").agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") == r).select("_t"))
    pts = pts.join(full, "_t")
    a = pts.select(F.col("_t").alias(id_a), F.col("_s").alias("_i"),
                   F.col("_x").alias("_ax"), F.col("_y").alias("_ay"))
    b = pts.select(F.col("_t").alias(id_b), F.col("_s").alias("_j"),
                   F.col("_x").alias("_bx"), F.col("_y").alias("_by"))
    dx = F.col("_ax") - F.col("_bx")
    dy = F.col("_ay") - F.col("_by")
    wp = Window.partitionBy(id_a, id_b, "_i").orderBy("_j")
    cost = (pairs.join(a, id_a).join(b, id_b)
            .select(id_a, id_b, "_i", "_j",
                    F.sqrt(dx * dx + dy * dy).alias("_c"))
            .withColumn("_pp", F.sum("_c").over(wp)))
    cost = cost.localCheckpoint(eager=True)  # the loop scans it r-1 times

    d = (cost.filter(F.col("_i") == 1)
         .select(id_a, id_b, "_j", F.col("_pp").alias("_d")))
    wj = Window.partitionBy(id_a, id_b).orderBy("_j")
    wmin = wj.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    for i in range(2, r + 1):
        dprev = d.withColumn("_dl", F.lag("_d").over(wj))
        row = cost.filter(F.col("_i") == i)
        e = F.least(F.col("_d"),
                    F.coalesce(F.col("_dl"), F.lit(float("inf"))))
        step = (row.join(dprev, [id_a, id_b, "_j"])
                .withColumn("_g", e - (F.col("_pp") - F.col("_c")))
                .select(id_a, id_b, "_j",
                        (F.col("_pp") + F.min("_g").over(wmin))
                        .alias("_d")))
        if i % checkpoint_every == 0:
            step = step.localCheckpoint(eager=True)
        d = step
    return (d.filter(F.col("_j") == r)
            .select(id_a, id_b, F.col("_d").alias("dtw")))


def dtw_cte_sql(cost_select: str, r: int, dialect: str,
                id_cols: str = "id_a, id_b") -> str:
    """The dtw_pairs step table as chained CTEs over ``cost_select``
    (which must yield columns ``{id_cols}, i, j, c`` — the full r x r
    cost matrix per pair): one source of truth for the rearranged DP
    algebra, two engines. Emits a WITH body ending in CTE ``dtw_d{r}``
    holding (id_cols, j, d); select ``WHERE j = {r}`` for the answer."""
    inf = ("CAST('infinity' AS DOUBLE)" if dialect == "duckdb"
           else "CAST('Infinity' AS DOUBLE)")
    on = " AND ".join(f"d.{c.strip()} = p.{c.strip()}"
                      for c in id_cols.split(","))
    part = id_cols
    parts = [f"""
dtw_p AS (
  SELECT {id_cols}, i, j, c,
         sum(c) OVER (PARTITION BY {part}, i ORDER BY j) AS pp
  FROM ({cost_select})
),
dtw_d1 AS (SELECT {id_cols}, j, pp AS d FROM dtw_p WHERE i = 1)"""]
    for i in range(2, r + 1):
        parts.append(f""",
dtw_e{i} AS (
  SELECT p.*, least(d.d, coalesce(
             lag(d.d) OVER (PARTITION BY {_pfx(part, 'p')}
                            ORDER BY p.j), {inf})) AS e
  FROM dtw_p p JOIN dtw_d{i - 1} d ON {on} AND d.j = p.j
  WHERE p.i = {i}
),
dtw_d{i} AS (
  SELECT {id_cols}, j,
         pp + min(e - (pp - c)) OVER (PARTITION BY {part} ORDER BY j
                                      ROWS UNBOUNDED PRECEDING) AS d
  FROM dtw_e{i}
)""")
    return "".join(parts)


def _pfx(cols: str, alias: str) -> str:
    return ", ".join(f"{alias}.{c.strip()}" for c in cols.split(","))


def frechet_pairs(traj: DataFrame, pairs: DataFrame, r: int, *,
                  track_col: str = "user_id", order_col: str = "seq",
                  x_col: str = "x", y_col: str = "y",
                  id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """EXACT discrete Frechet distance (coupling distance, Eiter &
    Mannila 1994) between paired tracks, each truncated to its first
    ``r`` points (pairs with a shorter member drop — deterministic at
    any input scale).

    Where :func:`dtw_pairs` linearizes its (+, min) DP into prefix-sum
    windows across r driver rounds, the Frechet DP lives in the
    (min, max) semiring, where no subtraction exists to rearrange —
    but each ROW's recurrence R[j] = min(max(E[j], c[j]),
    max(R[j-1], c[j])) (enter the row at column j, or extend from the
    left) is a pure sequential fold, and the row-to-row dependency is
    another fold. So the WHOLE r x r DP collapses into ONE nested
    ``aggregate()`` column expression over the per-pair cost matrix:
    no driver loop, no per-round shuffle, no Python. The only shuffle
    is the per-track collect + the pair join; per-pair work is the
    definitional O(r^2) column compute inside codegen.

    Boundary algebra: virtual D[0][0] = -inf (so cell (1,1) reduces to
    c[1][1]) and every other out-of-range predecessor +inf. Values are
    min/max selections over the cost entries — no accumulation, so
    engine and oracle agree to the exact double.

    Returns (id_a, id_b, frechet)."""
    pts = (traj.select(F.col(track_col).alias("_t"),
                       F.col(order_col).alias("_s"),
                       F.col(x_col).cast("double").alias("_x"),
                       F.col(y_col).cast("double").alias("_y"))
           .filter(F.col("_s") <= r))
    arrs = (pts.groupBy("_t")
            .agg(F.sort_array(F.collect_list(
                F.struct("_s", "_x", "_y"))).alias("_arr"))
            .filter(F.size("_arr") == r))
    a = arrs.select(F.col("_t").alias(id_a), F.col("_arr").alias("_aa"))
    b = arrs.select(F.col("_t").alias(id_b), F.col("_arr").alias("_ba"))
    m = pairs.join(a, id_a).join(b, id_b)
    cost = F.expr(
        "transform(_aa, pa -> transform(_ba, pb ->"
        " sqrt((pa._x - pb._x) * (pa._x - pb._x)"
        " + (pa._y - pb._y) * (pa._y - pb._y))))")
    scan = f"""
aggregate(
  _c,
  struct(0 AS i, array_repeat(double('Infinity'), {r}) AS d),
  (acc, crow) -> struct(
    acc.i + 1,
    aggregate(sequence(1, {r}), CAST(array() AS array<double>),
      (racc, j) -> concat(racc, array(
        least(
          greatest(
            IF(j = 1,
               IF(acc.i = 0, double('-Infinity'), element_at(acc.d, 1)),
               least(element_at(acc.d, j), element_at(acc.d, j - 1))),
            element_at(crow, j)),
          greatest(
            IF(j = 1, double('Infinity'), element_at(racc, j - 1)),
            element_at(crow, j)))))) ),
  acc -> element_at(acc.d, {r}))
"""
    return (m.withColumn("_c", cost)
            .select(id_a, id_b, F.expr(scan).alias("frechet")))


def lcss_pairs(traj: DataFrame, pairs: DataFrame, r: int, eps: float, *,
               track_col: str = "user_id", order_col: str = "seq",
               x_col: str = "x", y_col: str = "y",
               id_a: str = "id_a", id_b: str = "id_b",
               checkpoint_every: int = 4) -> DataFrame:
    """EXACT longest-common-subsequence similarity between paired
    tracks (LCSS, Vlachos et al. 2002): points match when within
    ``eps``; similarity = LCSS length / r, both tracks truncated to
    their first ``r`` points (shorter pairs drop).

    Like :func:`dtw_pairs` the DP linearizes per row, and more simply:
    with E = previous row, L[i][j] = max(E[j], L[i][j-1], E[j-1] +
    m[i][j]) (the classic three-way max is EXACTLY LCS — the two
    non-diagonal arms are always valid lower bounds), and since the
    row is its own running max, L[i][j] = runmax_{k<=j} max(E[k],
    E[k-1] + m[i][k]) — ONE lag + ONE running-max window per row.
    All values are small integers: bit-exact in any engine.

    Scale shape: identical to dtw_pairs — r driver rounds over a
    frame keyed by pair, two partitioned windows per round,
    O(pairs x r) rows per round, no per-row Python."""
    pts = (traj.select(F.col(track_col).alias("_t"),
                       F.col(order_col).alias("_s"),
                       F.col(x_col).cast("double").alias("_x"),
                       F.col(y_col).cast("double").alias("_y"))
           .filter(F.col("_s") <= r))
    full = (pts.groupBy("_t").agg(F.count(F.lit(1)).alias("_n"))
            .filter(F.col("_n") == r).select("_t"))
    pts = pts.join(full, "_t")
    a = pts.select(F.col("_t").alias(id_a), F.col("_s").alias("_i"),
                   F.col("_x").alias("_ax"), F.col("_y").alias("_ay"))
    b = pts.select(F.col("_t").alias(id_b), F.col("_s").alias("_j"),
                   F.col("_x").alias("_bx"), F.col("_y").alias("_by"))
    dx = F.col("_ax") - F.col("_bx")
    dy = F.col("_ay") - F.col("_by")
    e2 = float(eps) * float(eps)
    match = (pairs.join(a, id_a).join(b, id_b)
             .select(id_a, id_b, "_i", "_j",
                     F.when(dx * dx + dy * dy <= e2, F.lit(1))
                     .otherwise(F.lit(0)).cast("long").alias("_m")))
    match = match.localCheckpoint(eager=True)

    wj = Window.partitionBy(id_a, id_b).orderBy("_j")
    wmax = wj.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    d = (match.filter(F.col("_i") == 1)
         .select(id_a, id_b, "_j",
                 F.max("_m").over(wmax).alias("_d")))
    for i in range(2, r + 1):
        dprev = d.withColumn(
            "_dl", F.coalesce(F.lag("_d").over(wj), F.lit(0)))
        row = match.filter(F.col("_i") == i)
        step = (row.join(dprev, [id_a, id_b, "_j"])
                .withColumn("_cand", F.greatest(
                    F.col("_d"), F.col("_dl") + F.col("_m")))
                .select(id_a, id_b, "_j",
                        F.max("_cand").over(wmax).alias("_d")))
        if i % checkpoint_every == 0:
            step = step.localCheckpoint(eager=True)
        d = step
    return (d.filter(F.col("_j") == r)
            .select(id_a, id_b, F.col("_d").alias("lcss_len"),
                    (F.col("_d") / F.lit(float(r))).alias("lcss_sim")))


def geometric_median(pts: DataFrame, *, group_col: str = "user_id",
                     x_col: str = "x", y_col: str = "y",
                     iters: int = 5, round_iter: int = 2,
                     round_to: int = 2) -> DataFrame:
    """Per-group planar geometric median by Weiszfeld's fixed-point
    iteration (the L1 facility-location / meeting-point problem —
    where minimizing SUM of distances, not squared distances, is the
    objective):

        c' = sum(p / d(p, c)) / sum(1 / d(p, c)),   d >= 1e-9 guard

    starting from the centroid, ``iters`` fixed rounds. Each round's
    estimate is rounded to ``round_iter`` decimals — the pagerank
    trajectory-pinning discipline: the 1/d weights are irrational, so
    unrounded cross-engine aggregation-order differences (~1e-10 on
    metre-scale fixtures) would drift; centimetre rounding is far
    above that and far below the answer's resolution.

    Scale shape: per round one broadcastable (group -> estimate) join
    + one groupBy — per-group state is a single row, no window, no
    global exchange; localCheckpoint per round keeps lineage flat.
    Returns (group, median_x, median_y, mean_dist_m)."""
    base = pts.select(F.col(group_col).alias("_g"),
                      F.col(x_col).cast("double").alias("_x"),
                      F.col(y_col).cast("double").alias("_y"))
    est = (base.groupBy("_g")
           .agg(F.round(F.avg("_x"), round_iter).alias("_cx"),
                F.round(F.avg("_y"), round_iter).alias("_cy"))
           .localCheckpoint(eager=False))
    for _ in range(iters):
        j = base.join(est, "_g")
        d = F.greatest(
            F.sqrt((F.col("_x") - F.col("_cx"))
                   * (F.col("_x") - F.col("_cx"))
                   + (F.col("_y") - F.col("_cy"))
                   * (F.col("_y") - F.col("_cy"))),
            F.lit(1e-9))
        est = (j.select("_g", (F.col("_x") / d).alias("_wx"),
                        (F.col("_y") / d).alias("_wy"),
                        (F.lit(1.0) / d).alias("_w"))
               .groupBy("_g")
               .agg(F.round(F.sum("_wx") / F.sum("_w"), round_iter)
                    .alias("_cx"),
                    F.round(F.sum("_wy") / F.sum("_w"), round_iter)
                    .alias("_cy"))
               .localCheckpoint(eager=False))
    j = base.join(est, "_g")
    d = F.sqrt((F.col("_x") - F.col("_cx"))
               * (F.col("_x") - F.col("_cx"))
               + (F.col("_y") - F.col("_cy"))
               * (F.col("_y") - F.col("_cy")))
    return (j.groupBy("_g")
            .agg(F.max("_cx").alias("median_x"),
                 F.max("_cy").alias("median_y"),
                 F.round(F.avg(d), round_to).alias("mean_dist_m"))
            .withColumnRenamed("_g", group_col)
            .orderBy(group_col))


def circular_dispersion(moves: DataFrame, *, group_col: str = "user_id",
                        dx_col: str = "dx", dy_col: str = "dy",
                        round_to: int = 6) -> DataFrame:
    """Per-group circular statistics of movement bearings with the
    von Mises concentration estimate (Fisher 1993 / Best & Fisher
    approximation): mean resultant length R = |mean unit vector|,
    circular variance 1 - R, and

        kappa ~= 2R + R^3 + 5R^5/6                 (R < 0.53)
                 -0.4 + 1.39R + 0.43/(1 - R)       (0.53 <= R < 0.85)
                 1 / (R^3 - 4R^2 + 3R)             (R >= 0.85)

    R is capped at 0.999999 (identically in the oracle) so the
    concentrated branch stays finite for degenerate all-one-bearing
    groups. One groupBy over per-row atan2 bearings — map-side
    combinable; only the cos/sin means are aggregation-order
    sensitive, 10 orders below the rounding grain. Returns
    (group, n_moves, mean_bearing_deg, circ_var, kappa)."""
    th = F.atan2(F.col(dy_col).cast("double"),
                 F.col(dx_col).cast("double"))
    agg = (moves.select(F.col(group_col).alias("_g"),
                        F.cos(th).alias("_c"), F.sin(th).alias("_s"))
           .groupBy("_g")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_moves"),
                F.avg("_c").alias("_mc"), F.avg("_s").alias("_ms")))
    r = F.least(F.sqrt(F.col("_mc") * F.col("_mc")
                       + F.col("_ms") * F.col("_ms")),
                F.lit(0.999999))
    kappa = (F.when(r < 0.53, 2.0 * r + r * r * r
                    + 5.0 * r * r * r * r * r / 6.0)
             .when(r < 0.85, -0.4 + 1.39 * r + 0.43 / (1.0 - r))
             .otherwise(1.0 / (r * r * r - 4.0 * r * r + 3.0 * r)))
    deg = F.degrees(F.atan2(F.col("_ms"), F.col("_mc")))
    return (agg.select(F.col("_g").alias(group_col), "n_moves",
                       F.round(F.when(deg < 0, deg + 360.0)
                               .otherwise(deg), round_to)
                       .alias("mean_bearing_deg"),
                       F.round(1.0 - r, round_to).alias("circ_var"),
                       F.round(kappa, round_to).alias("kappa"))
            .orderBy(group_col))
