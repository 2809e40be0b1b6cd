"""Geodesic polyline math, geohash cell encoding, and the
segment-segment intersection join — all pure JVM column expressions.

Reference parity: BANO measures street extents with PostGIS geodesic
calls (``ST_Length``/``ST_MaxDistance`` patterns in
``bano/sql/export_*.sql``; the hull longest-line port lives in
``operators/importance.py``). This module adds the remaining
line-geometry members Spark lacks natively:

- ``polyline_length_m``: per-feature geodesic length of an ordered
  vertex array (``ST_Length(geography)``) — a ``zip_with`` over the
  array with a haversine fold, zero shuffle, zero Python. At 100 TB
  the length is computed where the row already lives; the only
  shuffle in a typical "length per street" rollup is the final small
  groupBy.
- ``geohash_expr`` / ``geohash_sql``: base-32 geohash of (lon, lat)
  at a fixed precision as ONE generated arithmetic expression —
  quantize each axis to 5*p/2 bits, interleave with shift-and-mask
  terms, index an alphabet literal. The same generator emits the
  Spark and DuckDB dialects, so the oracle is the identical formula
  rather than a reimplementation. Geohash keys give the engine a
  shuffle-friendly spatial bucketing column (prefix = containment)
  that needs no broadcast index at all — the cheap alternative to
  the slippy-cell cover when polygon precision is not required.
- ``segment_intersections_join``: all strictly-crossing segment pairs
  between two line layers (road-graph conflation, overlay candidate
  edges). Candidates come from a bbox cell-cover equi-join (same
  discipline as ``pip_join`` — never a cross product);
  the exact refine is the classic double-orientation (ccw) test,
  expressed as column arithmetic so the whole operator stays in
  whole-stage codegen. Strict crossings only (collinear overlaps and
  endpoint touches excluded) keeps the predicate exact in IEEE
  doubles on lattice fixtures — the same boundary-ambiguity
  discipline the PIP fixtures use (synth.py refine notes).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window, functions as F

_EARTH_R = 6371008.8
_GH_ALPHABET = "0123456789bcdefghjkmnpqrstuvwxyz"


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in meters (mean Earth radius, matching
    geo/geometry.py:157 so Arrow kernels and column plans agree)."""
    dlat = F.radians(lat2 - lat1)
    dlon = F.radians(lon2 - lon1)
    a = (F.pow(F.sin(dlat / 2), 2)
         + F.cos(F.radians(lat1)) * F.cos(F.radians(lat2))
         * F.pow(F.sin(dlon / 2), 2))
    return 2 * _EARTH_R * F.asin(F.sqrt(a))


def polyline_length_m(verts_col: str = "verts") -> Column:
    """Geodesic length of an ordered [[lon, lat], ...] vertex array.

    ``zip_with(verts[:-1], verts[1:], haversine) |> aggregate(sum)``:
    per-row array math in codegen — the distributed shape of
    ``ST_Length(geography)``. Empty / single-vertex lines yield 0.0."""
    v = verts_col
    seg = (f"zip_with(slice({v}, 1, size({v}) - 1), "
           f"slice({v}, 2, size({v}) - 1), "
           "(p, q) -> 2 * 6371008.8 * asin(sqrt("
           "pow(sin(radians(q[1] - p[1]) / 2), 2)"
           " + cos(radians(p[1])) * cos(radians(q[1]))"
           " * pow(sin(radians(q[0] - p[0]) / 2), 2))))")
    return F.expr(
        f"CASE WHEN size({v}) < 2 THEN 0.0D "
        f"ELSE aggregate({seg}, 0.0D, (acc, x) -> acc + x) END")


def _geohash_terms(precision: int):
    """(axis bit-counts, interleave positions) for a geohash of
    ``precision`` base-32 chars: 5p bits total, even bit indices from
    the top are longitude."""
    total = 5 * precision
    lon_bits = (total + 1) // 2
    lat_bits = total // 2
    return total, lon_bits, lat_bits


def _shr(dialect: str):
    if dialect == "duckdb":
        return lambda x, n: f"({x} >> {n})"
    return lambda x, n: f"shiftright({x}, {n})"


def geohash_quant_sql(lon: str, lat: str, precision: int = 6) -> tuple[str, str]:
    """(ix, iy) axis-quantization expressions: clamp(floor(scaled)),
    2^lon_bits cells over [-180, 180] and 2^lat_bits over [-90, 90].
    Pure arithmetic — identical text in both dialects."""
    _, lon_bits, lat_bits = _geohash_terms(precision)
    ix = (f"least(CAST(floor(({lon} + 180.0) / 360.0 * {1 << lon_bits}) "
          f"AS BIGINT), {(1 << lon_bits) - 1})")
    iy = (f"least(CAST(floor(({lat} + 90.0) / 180.0 * {1 << lat_bits}) "
          f"AS BIGINT), {(1 << lat_bits) - 1})")
    return ix, iy


def geohash_interleave_sql(ix: str, iy: str, precision: int = 6,
                           dialect: str = "spark") -> str:
    """Bit-interleave expression over quantized axes: geohash packs
    5*precision bits, even positions FROM THE TOP are longitude."""
    total, lon_bits, lat_bits = _geohash_terms(precision)
    shr = _shr(dialect)
    terms = []
    for b in range(lon_bits):                 # lon fills even slots from top
        pos = total - 1 - 2 * b
        terms.append(f"(({shr(ix, lon_bits - 1 - b)} & 1) * {1 << pos})")
    for b in range(lat_bits):
        pos = total - 2 - 2 * b
        terms.append(f"(({shr(iy, lat_bits - 1 - b)} & 1) * {1 << pos})")
    return "(" + " + ".join(terms) + ")"


def geohash_chars_sql(g: str, precision: int = 6,
                      dialect: str = "spark") -> str:
    """Base-32 character expression over the interleaved bits ``g``."""
    total = 5 * precision
    shr = _shr(dialect)
    return " || ".join(
        f"substr('{_GH_ALPHABET}', "
        f"CAST(({shr(g, total - 5 * (k + 1))} & 31) AS INTEGER) + 1, 1)"
        for k in range(precision))


def with_geohash(df: DataFrame, lon: str, lat: str, precision: int = 6,
                 out: str = "geohash") -> DataFrame:
    """Attach a geohash column via staged intermediates (each bit
    expression is evaluated once, not once per output character)."""
    ix, iy = geohash_quant_sql(lon, lat, precision)
    return (df
            .withColumn("_gix", F.expr(ix))
            .withColumn("_giy", F.expr(iy))
            .withColumn("_gg", F.expr(geohash_interleave_sql(
                "_gix", "_giy", precision, "spark")))
            .withColumn(out, F.expr(geohash_chars_sql(
                "_gg", precision, "spark")))
            .drop("_gix", "_giy", "_gg"))


def _ccw(ax, ay, bx, by, cx, cy):
    """Twice the signed area of (a, b, c) — positive when c is left of
    a->b. Pure column arithmetic, exact for lattice coordinates."""
    return (bx - ax) * (cy - ay) - (by - ay) * (cx - ax)


def segments_cross(ax1, ay1, ax2, ay2, bx1, by1, bx2, by2) -> Column:
    """Strict proper-crossing predicate: each segment's endpoints fall
    on opposite sides of the other's supporting line."""
    d1 = _ccw(ax1, ay1, ax2, ay2, bx1, by1)
    d2 = _ccw(ax1, ay1, ax2, ay2, bx2, by2)
    d3 = _ccw(bx1, by1, bx2, by2, ax1, ay1)
    d4 = _ccw(bx1, by1, bx2, by2, ax2, ay2)
    return (d1 * d2 < 0) & (d3 * d4 < 0)


def _bbox_cells(df: DataFrame, sid: str, cell: float, tag: str) -> DataFrame:
    """Explode each segment onto every grid cell its bbox covers.
    Bounded-length segments touch O(1) cells, so the explode is a
    small constant fan-out — candidates stay proportional to true
    spatial proximity, exactly like polygon_cover in pip_join."""
    cx1 = F.floor(F.least(f"{tag}x1", f"{tag}x2") / cell)
    cx2 = F.floor(F.greatest(f"{tag}x1", f"{tag}x2") / cell)
    cy1 = F.floor(F.least(f"{tag}y1", f"{tag}y2") / cell)
    cy2 = F.floor(F.greatest(f"{tag}y1", f"{tag}y2") / cell)
    return (df
            .withColumn("_cx", F.explode(F.sequence(cx1, cx2)))
            .withColumn("_cy", F.explode(F.sequence(cy1, cy2)))
            .select(sid, f"{tag}x1", f"{tag}y1", f"{tag}x2", f"{tag}y2",
                    "_cx", "_cy"))


def segment_intersections_join(
    segs_a: DataFrame,
    segs_b: DataFrame,
    *,
    id_a: str = "a_id",
    id_b: str = "b_id",
    cell: float = 8.0,
) -> DataFrame:
    """All (id_a, id_b) pairs whose segments strictly cross.

    ``segs_a`` needs columns (id_a, ax1, ay1, ax2, ay2); ``segs_b``
    likewise with the ``b`` prefix. Plan shape: per-side bbox
    cell-cover explode -> equi-join on the cell -> distinct pair +
    coordinates -> ccw refine filter. Everything is codegen; the one
    shuffle is the cell equi-join, keyed by spatial locality (salt the
    cell id upstream for Paris-style hot cells, as pip_join does)."""
    ca = _bbox_cells(segs_a, id_a, cell, "a")
    cb = _bbox_cells(segs_b, id_b, cell, "b")
    cand = (ca.join(cb, ["_cx", "_cy"])
            .select(id_a, id_b, "ax1", "ay1", "ax2", "ay2",
                    "bx1", "by1", "bx2", "by2")
            .distinct())
    keep = segments_cross(
        F.col("ax1"), F.col("ay1"), F.col("ax2"), F.col("ay2"),
        F.col("bx1"), F.col("by1"), F.col("bx2"), F.col("by2"))
    return cand.filter(keep).select(id_a, id_b)


def line_interpolate_point(frac: float, xs_col: str = "xs",
                           ys_col: str = "ys") -> Column:
    """Planar ``ST_LineInterpolatePoint``: the point at fraction
    ``frac`` of a polyline's length, as struct(px, py) — one
    ``aggregate`` fold over the vertex arrays, zero shuffle, zero
    Python: at 10^12 lines the point is computed where the row lives.

    Fold contract (what a SQL oracle replays): walk segments in
    order, carrying cumulative length; the FIRST segment whose
    cumulative end reaches frac * total_length hosts the point,
    linearly interpolated; zero-length segments never host (they
    cannot move the point — the next positive segment starts at the
    same coordinates). frac=0 / frac=1 resolve to the endpoints of
    the first / last positive segment. Single-vertex lines return
    that vertex; empty lines return nulls.
    """
    if not 0.0 <= frac <= 1.0:
        raise ValueError("line_interpolate_point: frac outside [0, 1]")
    xs, ys = xs_col, ys_col
    n = f"size({xs})"
    seg = (f"transform(sequence(0, {n} - 2), i -> "
           f"sqrt(({xs}[i + 1] - {xs}[i]) * ({xs}[i + 1] - {xs}[i])"
           f" + ({ys}[i + 1] - {ys}[i]) * ({ys}[i + 1] - {ys}[i])))")
    total = f"aggregate({seg}, cast(0.0 as double), (a, l) -> a + l)"
    fold = f"""
    aggregate(
      sequence(0, {n} - 2),
      named_struct('cum', cast(0.0 as double),
                   'px', cast(null as double), 'py', cast(null as double)),
      (acc, i) -> CASE
        WHEN acc.px IS NOT NULL THEN acc
        WHEN _seg[i] > 0 AND acc.cum + _seg[i] >= _tgt THEN named_struct(
          'cum', acc.cum + _seg[i],
          'px', {xs}[i] + ({xs}[i + 1] - {xs}[i])
                * ((_tgt - acc.cum) / _seg[i]),
          'py', {ys}[i] + ({ys}[i + 1] - {ys}[i])
                * ((_tgt - acc.cum) / _seg[i]))
        ELSE named_struct('cum', acc.cum + _seg[i],
                          'px', acc.px, 'py', acc.py) END,
      acc -> named_struct('px', coalesce(acc.px, {xs}[{n} - 1]),
                          'py', coalesce(acc.py, {ys}[{n} - 1])))
    """
    expr = (f"CASE WHEN {n} >= 2 THEN ({fold}) "
            f"WHEN {n} = 1 THEN named_struct('px', {xs}[0], 'py', {ys}[0]) "
            f"ELSE named_struct('px', cast(null as double), "
            f"'py', cast(null as double)) END")
    expr = expr.replace("_seg[i]", f"element_at({seg}, i + 1)")
    expr = expr.replace("_tgt", f"(cast({frac!r} as double) * {total})")
    return F.expr(expr)


def spherical_ring_area_m2(verts_col: str = "verts",
                           merc_r: float = 6378137.0) -> Column:
    """Spherical surface area (m^2) of a closed EPSG:3857 ring.

    Inverse-Mercator each vertex to (lambda, phi) radians, then the
    discrete spherical trapezoid sum (turf.js ``ringArea`` / Chamberlain
    & Duquette, public formulation):

        area = | sum_i (lam_{i+1} - lam_i) * (2 + sin phi_i
                                                + sin phi_{i+1}) | * R^2 / 2

    evaluated as one ``aggregate`` over the zipped consecutive-vertex
    pairs — per-row array math in whole-stage codegen, the same
    distributed shape as :func:`polyline_length_m` (the area is
    computed where the polygon row lives; a per-dept rollup afterwards
    is the only shuffle).

    Replaces the reference's PostGIS ``ST_Area(geography)`` calls
    (bano/sql import statistics) with a Spark-native column kernel;
    the planar shoelace twin is operators/streets.py's centroid
    kernel."""
    v = verts_col
    lam = f"(element_at(element_at({v}, i), 1) / CAST({merc_r!r} AS DOUBLE))"
    lam2 = f"(element_at(element_at({v}, i + 1), 1) / CAST({merc_r!r} AS DOUBLE))"
    sphi = (f"sin(2.0 * atan(exp(element_at(element_at({v}, i), 2) "
            f"/ CAST({merc_r!r} AS DOUBLE))) - pi() / 2.0)")
    sphi2 = (f"sin(2.0 * atan(exp(element_at(element_at({v}, i + 1), 2) "
             f"/ CAST({merc_r!r} AS DOUBLE))) - pi() / 2.0)")
    body = (f"aggregate(sequence(1, size({v}) - 1), CAST(0.0 AS DOUBLE), "
            f"(acc, i) -> acc + ({lam2} - {lam}) * (2.0 + {sphi} + {sphi2}))")
    return F.expr(f"abs({body}) * CAST({_EARTH_R!r} AS DOUBLE) "
                  f"* CAST({_EARTH_R!r} AS DOUBLE) / 2.0")


def destination_point(lon: Column, lat: Column, bearing_deg: Column,
                      dist_m: float) -> tuple:
    """Great-circle DIRECT problem: the (lon2, lat2) reached from
    (lon, lat) after travelling ``dist_m`` metres at initial bearing
    ``bearing_deg`` (clockwise from north) on the sphere — the
    inverse of :func:`haversine_m`, completing the geodesy pair.

        lat2 = asin(sin lat cos d + cos lat sin d cos b)
        lon2 = lon + atan2(sin b sin d cos lat,
                           cos d - sin lat sin lat2)

    The angular distance d = dist_m / R is CONSTANT per call, so
    sin d / cos d are computed once in Python and inlined as double
    literals — the distributed expression runs per-row trig only on
    the varying lat/bearing, the same libm surface the aspect/
    geodesic operators already rely on. Returns (lon2_deg, lat2_deg)
    column pair."""
    dl = float(dist_m) / _EARTH_R
    sd, cd = math.sin(dl), math.cos(dl)
    rad = math.pi / 180.0
    la = lat * F.lit(rad)
    b = bearing_deg * F.lit(rad)
    sin_lat2 = (F.sin(la) * F.lit(cd)
                + F.cos(la) * F.lit(sd) * F.cos(b))
    lat2 = F.asin(sin_lat2)
    lon2 = (lon * F.lit(rad)
            + F.atan2(F.sin(b) * F.lit(sd) * F.cos(la),
                      F.lit(cd) - F.sin(la) * sin_lat2))
    return (lon2 / F.lit(rad), lat2 / F.lit(rad))


def ring_validity(rings: DataFrame, *, id_col: str = "ring_id",
                  verts_col: str = "verts",
                  round_to: int = 6) -> DataFrame:
    """Polygon-ring validity screen — the ingestion gate every
    geometry loader runs before rings reach the PIP/overlay engines:
    closure (first vertex == last), shoelace signed area +
    orientation (ccw / cw / degenerate), and PROPER self-intersection
    count over non-adjacent segment pairs (the bowtie detector).

    Scale shape: one posexplode + self-align for segments; the
    crossing check is a per-ring segment self-join — O(n_i^2) pairs
    per ring, the definitional cost of exact validity; ring sizes are
    bounded by construction in admin data (disclose/cap upstream for
    pathological rings — the `_bbox_cells` bucketing of
    segment_intersections_join is the upgrade path). Coordinates are
    integer-valued doubles in the fixtures, so the shoelace sum is
    exact. Returns (ring_id, n_verts, closed, signed_area,
    orientation, n_crossings, is_valid)."""
    v = (rings.select(F.col(id_col).alias("_id"),
                      F.posexplode(verts_col).alias("_i", "_p"))
         .select("_id", "_i", F.col("_p")[0].alias("_x"),
                 F.col("_p")[1].alias("_y")))
    nv = v.groupBy("_id").agg(F.max("_i").alias("_last"))
    nxt = v.select("_id", (F.col("_i") - 1).alias("_i"),
                   F.col("_x").alias("_x2"), F.col("_y").alias("_y2"))
    segs = (v.join(nxt, ["_id", "_i"])
            .select("_id", "_i", "_x", "_y", "_x2", "_y2"))
    area = (segs.groupBy("_id")
            .agg((F.sum(F.col("_x") * F.col("_y2")
                        - F.col("_x2") * F.col("_y")) / 2.0)
                 .alias("_area")))
    closed = (v.join(nv, "_id")
              .filter((F.col("_i") == 0) | (F.col("_i") == F.col("_last")))
              .groupBy("_id", "_last")
              .agg((F.countDistinct("_x", "_y") == 1).alias("_closed")))
    a = segs.select("_id", F.col("_i").alias("_ia"),
                    F.col("_x").alias("ax1"), F.col("_y").alias("ay1"),
                    F.col("_x2").alias("ax2"), F.col("_y2").alias("ay2"))
    b = segs.select("_id", F.col("_i").alias("_ib"),
                    F.col("_x").alias("bx1"), F.col("_y").alias("by1"),
                    F.col("_x2").alias("bx2"), F.col("_y2").alias("by2"))
    cross = segments_cross(
        F.col("ax1"), F.col("ay1"), F.col("ax2"), F.col("ay2"),
        F.col("bx1"), F.col("by1"), F.col("bx2"), F.col("by2"))
    xs = (a.join(b, "_id").join(nv, "_id")
          .filter((F.col("_ib") > F.col("_ia") + 1)
                  & ~((F.col("_ia") == 0)
                      & (F.col("_ib") == F.col("_last") - 1)))
          .filter(cross)
          .groupBy("_id").agg(F.count(F.lit(1)).alias("_nx")))
    out = (closed.join(area, "_id").join(xs, "_id", "left")
           .withColumn("_nx", F.coalesce(F.col("_nx"), F.lit(0))))
    orient = (F.when(F.col("_area") > 0, "ccw")
              .when(F.col("_area") < 0, "cw")
              .otherwise("degenerate"))
    return out.select(
        F.col("_id").alias(id_col),
        (F.col("_last") + 1).cast("bigint").alias("n_verts"),
        F.col("_closed").alias("closed"),
        F.round("_area", round_to).alias("signed_area"),
        orient.alias("orientation"),
        F.col("_nx").cast("bigint").alias("n_crossings"),
        (F.col("_closed") & (F.col("_nx") == 0)
         & (F.col("_area") != 0)).alias("is_valid"))


def rhumb_legs(traj: DataFrame, *, user_col: str = "user_id",
               order_cols: list | None = None,
               lon_col: str = "lon", lat_col: str = "lat",
               radius_m: float = 6371000.0,
               round_to: int = 6) -> DataFrame:
    """Per-user rhumb-line (loxodrome — constant-bearing) navigation
    summary over consecutive pings: total loxodrome sailing distance
    plus the single constant bearing that would take the user from
    the first ping straight to the last. The classical Mercator
    meridional-parts formulation (Bowditch; public):

        dpsi    = ln(tan(pi/4 + lat2/2)) - ln(tan(pi/4 + lat1/2))
        q       = dlat / dpsi   (cos(lat1) in the east-west limit)
        dist    = R * sqrt(dlat^2 + q^2 * dlon^2)
        bearing = atan2(dlon, dpsi), normalized to [0, 360) degrees

    Scale shape: one lag window partitioned by user (the trajectory
    family's exchange), one groupBy — nothing global. Returns
    (user, n_legs, rhumb_total_m, net_bearing_deg)."""
    order_cols = order_cols or ["ts", "event_id"]
    w = Window.partitionBy("_u").orderBy(*order_cols)
    lam = F.radians(F.col(lat_col).cast("double"))
    lon = F.radians(F.col(lon_col).cast("double"))
    pts = traj.select(F.col(user_col).alias("_u"), *order_cols,
                      lam.alias("_phi"), lon.alias("_lam"))
    base = (pts
            .withColumn("_phi0", F.lag("_phi").over(w))
            .withColumn("_lam0", F.lag("_lam").over(w))
            .filter(F.col("_phi0").isNotNull()))
    dphi = F.col("_phi") - F.col("_phi0")
    dlam = F.col("_lam") - F.col("_lam0")
    dpsi = (F.log(F.tan(F.lit(math.pi / 4.0) + F.col("_phi") / 2))
            - F.log(F.tan(F.lit(math.pi / 4.0) + F.col("_phi0") / 2)))
    q = F.when(F.abs(dpsi) > 1e-12, dphi / dpsi) \
        .otherwise(F.cos(F.col("_phi0")))
    dist = F.lit(radius_m) * F.sqrt(dphi * dphi + q * q * dlam * dlam)
    legs = (base.select("_u", dist.alias("_d"))
            .groupBy("_u")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_legs"),
                 F.sum("_d").alias("_total")))
    ends = (pts.select("_u", F.struct(*order_cols, "_phi", "_lam")
                       .alias("_pt"))
            .groupBy("_u")
            .agg(F.min("_pt").alias("_first"), F.max("_pt").alias("_last")))
    per = legs.join(ends, "_u")
    fphi, flam = F.col("_first._phi"), F.col("_first._lam")
    lphi, llam = F.col("_last._phi"), F.col("_last._lam")
    ndpsi = (F.log(F.tan(F.lit(math.pi / 4.0) + lphi / 2))
             - F.log(F.tan(F.lit(math.pi / 4.0) + fphi / 2)))
    ndeg = F.degrees(F.atan2(llam - flam, ndpsi))
    return (per.select(F.col("_u").alias(user_col), "n_legs",
                       F.round("_total", round_to).alias("rhumb_total_m"),
                       F.round(F.when(ndeg < 0, ndeg + 360.0)
                               .otherwise(ndeg), round_to)
                       .alias("net_bearing_deg"))
            .orderBy(user_col))


def vincenty_stages(phi1: str, lam1: str, phi2: str, lam2: str, *,
                    iters: int = 3) -> list:
    """Vincenty inverse geodesic (WGS84) as an ordered list of
    (column_name, sql_expression) STAGES over radian coordinate
    columns. Each stage's expression references only input columns and
    earlier stage names, so the text stays linear in ``iters`` (a
    single nested expression would grow exponentially). The engine
    evaluates the stages as chained F.expr withColumns and the DuckDB
    oracle as chained subselects — the SAME text per stage, which is
    what makes the two engines bit-comparable (both parse
    sin/cos/tan/atan/atan2/sqrt identically).

    ``iters`` fixed lambda iterations (3 is sub-mm for non-antipodal
    pairs; the classical convergence criterion is replaced by a fixed
    unroll so both engines run the identical expression tree).
    Coincident points short-circuit to 0; the equatorial
    cos^2(alpha) = 0 singularity takes the standard cos2sm = 0 guard.
    The final stage is named ``_vdist`` (meters)."""
    a, f = 6378137.0, 1.0 / 298.257223563
    b = a * (1.0 - f)
    st = [
        ("_vu1", f"atan({1.0 - f} * tan({phi1}))"),
        ("_vu2", f"atan({1.0 - f} * tan({phi2}))"),
        ("_vsu1", "sin(_vu1)"), ("_vcu1", "cos(_vu1)"),
        ("_vsu2", "sin(_vu2)"), ("_vcu2", "cos(_vu2)"),
        ("_vell", f"({lam2} - {lam1})"),
        ("_vlam0", "_vell"),
    ]
    k = 0
    for i in range(1, iters + 1):
        p = f"_vlam{i - 1}"
        st += [
            (f"_vsins{i}",
             f"sqrt((_vcu2 * sin({p})) * (_vcu2 * sin({p}))"
             f" + (_vcu1 * _vsu2 - _vsu1 * _vcu2 * cos({p}))"
             f" * (_vcu1 * _vsu2 - _vsu1 * _vcu2 * cos({p})))"),
            (f"_vcoss{i}",
             f"(_vsu1 * _vsu2 + _vcu1 * _vcu2 * cos({p}))"),
            (f"_vsig{i}", f"atan2(_vsins{i}, _vcoss{i})"),
            (f"_vsina{i}",
             f"(CASE WHEN _vsins{i} = 0.0 THEN 0.0"
             f" ELSE _vcu1 * _vcu2 * sin({p}) / _vsins{i} END)"),
            (f"_vcos2a{i}", f"(1.0 - _vsina{i} * _vsina{i})"),
            (f"_vc2sm{i}",
             f"(CASE WHEN _vcos2a{i} = 0.0 THEN 0.0"
             f" ELSE _vcoss{i} - 2.0 * _vsu1 * _vsu2 / _vcos2a{i} END)"),
            (f"_vcc{i}",
             f"({f} / 16.0 * _vcos2a{i}"
             f" * (4.0 + {f} * (4.0 - 3.0 * _vcos2a{i})))"),
            (f"_vlam{i}",
             f"(_vell + (1.0 - _vcc{i}) * {f} * _vsina{i}"
             f" * (_vsig{i} + _vcc{i} * _vsins{i} * (_vc2sm{i}"
             f" + _vcc{i} * _vcoss{i}"
             f" * (-1.0 + 2.0 * _vc2sm{i} * _vc2sm{i}))))"),
        ]
        k = i
    st += [
        ("_vusq", f"(_vcos2a{k} * {(a * a - b * b) / (b * b)})"),
        ("_vaa",
         "(1.0 + _vusq / 16384.0 * (4096.0 + _vusq"
         " * (-768.0 + _vusq * (320.0 - 175.0 * _vusq))))"),
        ("_vbb",
         "(_vusq / 1024.0 * (256.0 + _vusq"
         " * (-128.0 + _vusq * (74.0 - 47.0 * _vusq))))"),
        ("_vdsig",
         f"(_vbb * _vsins{k} * (_vc2sm{k} + _vbb / 4.0"
         f" * (_vcoss{k} * (-1.0 + 2.0 * _vc2sm{k} * _vc2sm{k})"
         f" - _vbb / 6.0 * _vc2sm{k}"
         f" * (-3.0 + 4.0 * _vsins{k} * _vsins{k})"
         f" * (-3.0 + 4.0 * _vc2sm{k} * _vc2sm{k}))))"),
        ("_vdist",
         f"(CASE WHEN _vsins{k} = 0.0 THEN 0.0"
         f" ELSE {b} * _vaa * (_vsig{k} - _vdsig) END)"),
    ]
    return st


def vincenty_vs_haversine(pts: DataFrame, *, user_col: str = "user_id",
                          order_cols: list | None = None,
                          lon_col: str = "lon", lat_col: str = "lat",
                          round_to: int = 2) -> DataFrame:
    """Per-user ellipsoidal vs spherical first-to-last distance: the
    WGS84 Vincenty inverse solution against the R=6371 km haversine,
    with their difference — the standard accuracy audit before
    swapping a spherical kernel for an ellipsoidal one. Returns
    (user, vincenty_m, haversine_m, delta_m).

    Scale shape: one min/max-struct aggregate per user (no window),
    then pure per-row column arithmetic; the Vincenty stages are
    F.expr strings shared verbatim with the SQL oracle — inside
    whole-stage codegen, no UDF."""
    order_cols = order_cols or ["ts", "event_id"]
    pts2 = pts.select(
        F.col(user_col).alias("_u"),
        F.struct(*order_cols,
                 F.radians(F.col(lat_col).cast("double")).alias("_phi"),
                 F.radians(F.col(lon_col).cast("double")).alias("_lam"))
        .alias("_pt"))
    per = (pts2.groupBy("_u")
           .agg(F.min("_pt").alias("_a"), F.max("_pt").alias("_b")))
    per = per.select(
        "_u",
        F.col("_a._phi").alias("phi1"), F.col("_a._lam").alias("lam1"),
        F.col("_b._phi").alias("phi2"), F.col("_b._lam").alias("lam2"))
    for name, expr in vincenty_stages("phi1", "lam1", "phi2", "lam2"):
        per = per.withColumn(name, F.expr(expr))
    hav = F.expr(
        "2.0 * 6371000.0 * asin(sqrt("
        "sin((phi2 - phi1) / 2) * sin((phi2 - phi1) / 2)"
        " + cos(phi1) * cos(phi2)"
        " * sin((lam2 - lam1) / 2) * sin((lam2 - lam1) / 2)))")
    return (per
            .withColumn("_hav", hav)
            .select(
                F.col("_u").alias(user_col),
                F.round(F.col("_vdist"), round_to).alias("vincenty_m"),
                F.round(F.col("_hav"), round_to).alias("haversine_m"),
                F.round(F.col("_vdist") - F.col("_hav"), round_to)
                .alias("delta_m"))
            .orderBy(user_col))


def tissot_mercator_stats(pts: DataFrame, *, group_col: str = "user_id",
                          lat_col: str = "lat",
                          round_to: int = 6) -> DataFrame:
    """Per-group Tissot distortion audit of the spherical-Mercator
    projection the tile grid lives on: at latitude phi the linear
    scale factor is k = sec(phi) (conformal, so h = k) and the areal
    exaggeration k^2 — the QA numbers a cartographic pipeline checks
    before trusting planar areas/lengths computed in EPSG:3857.
    One aggregate pass per group. Returns
    (group, n_points, mean_scale, max_scale, mean_areal)."""
    k = 1.0 / F.cos(F.radians(F.col(lat_col).cast("double")))
    return (pts.select(F.col(group_col).alias("_g"), k.alias("_k"))
            .groupBy("_g")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_points"),
                 F.round(F.avg("_k"), round_to).alias("mean_scale"),
                 F.round(F.max("_k"), round_to).alias("max_scale"),
                 F.round(F.avg(F.col("_k") * F.col("_k")), round_to)
                 .alias("mean_areal"))
            .withColumnRenamed("_g", group_col)
            .orderBy(group_col))
