"""Polygon clipping against axis-aligned rectangles — the vector
overlay half of the tiling stage: cut every commune/cadastre ring into
per-tile fragments so each web-mercator tile ships ONLY the geometry it
needs (the reference regenerates whole-commune geometry per expired
tile; ref: bano/sql/*expire*, bano/models.py polygon handling).

Algorithm: Sutherland–Hodgman, one half-plane pass per rectangle side.
Each pass is a single Catalyst array expression (``transform`` over the
edge indices + ``flatten``) bound to its own column — the let-binding
idiom, so the 4 chained passes reference each other by column name and
the expression tree stays linear instead of 6^4-fanout nested. No
shuffle, no Python: clipping is map-side work that runs AFTER the
tile-cover equi-join, exactly where a 100-TB run wants it (the join
fans a polygon out to its covering tiles; the clip then shrinks every
fragment before it is written/shipped).

Exactness contract (what the oracle relies on): both engines evaluate
the SAME IEEE-double formula in the same order, so clipped coordinates
are bit-identical even when inexact. When the input rings have
power-of-two edge spans (the diamond fixtures) every intersection
coordinate is an exact integer, so shoelace terms are exact and area
conservation (sum of fragment areas == ring area) holds as INTEGER
equality — order-free across DuckDB's unordered SUM.

Rings are closed (first == last), orientation preserved; fragments
with fewer than 3 open vertices collapse to empty arrays.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["halfplane_pass_sql", "clip_to_tiles", "ring_2area_sql",
           "tile_cover"]


def _inside(side: str, bound: str, pt: str) -> str:
    x, y = f"element_at({pt}, 1)", f"element_at({pt}, 2)"
    return {
        "xmin": f"{x} >= {bound}",
        "xmax": f"{x} <= {bound}",
        "ymin": f"{y} >= {bound}",
        "ymax": f"{y} <= {bound}",
    }[side]


def _intersection(side: str, bound: str, prev: str, cur: str) -> str:
    px, py = f"element_at({prev}, 1)", f"element_at({prev}, 2)"
    cx, cy = f"element_at({cur}, 1)", f"element_at({cur}, 2)"
    if side in ("xmin", "xmax"):
        t = f"(({bound}) - {px}) / ({cx} - {px})"
        return f"array(CAST({bound} AS DOUBLE), {py} + ({cy} - {py}) * ({t}))"
    t = f"(({bound}) - {py}) / ({cy} - {py})"
    return f"array({px} + ({cx} - {px}) * ({t}), CAST({bound} AS DOUBLE))"


def halfplane_pass_sql(ring: str, side: str, bound: str,
                       tag: str = "p") -> str:
    """One Sutherland–Hodgman pass as a Spark SQL expression string.

    ``ring`` must be a COLUMN NAME (or cheap expression) holding a
    closed ring array<array<double>>; the result is again a closed
    ring (or an empty array when fewer than 3 vertices survive).

    CRITICAL let-binding idiom: ``ring`` is interpolated exactly ONCE,
    bound to a lambda variable via ``transform(array(ring), v -> ...)``.
    Every internal reference is to the lambda var, which Catalyst's
    predicate-pushdown/projection-collapse CANNOT substitute into —
    with a plain column reference repeated ~15x per pass, pushing a
    downstream ``filter(size(clipped) > 0)`` through 4 chained passes
    inlines the producing expressions multiplicatively (15^4) and the
    optimizer hangs (reproduced; see wave-109 commit). Also guarded
    against the sequence(1, 0) DESCENT pitfall: rings smaller than a
    closed triangle short-circuit before sequence() is built.
    ``tag`` keeps lambda-variable names unique across nested passes.
    """
    v, o, i = f"v{tag}", f"o{tag}", f"i{tag}"
    prev = f"element_at({v}, {i})"
    cur = f"element_at({v}, {i} + 1)"
    ins_p = _inside(side, bound, prev)
    ins_c = _inside(side, bound, cur)
    inter = _intersection(side, bound, prev, cur)
    open_list = f"""element_at(transform(array({ring}), {v} ->
      CASE WHEN size({v}) < 4 THEN slice({v}, 1, 0)
      ELSE flatten(transform(sequence(1, size({v}) - 1), {i} ->
        CASE
          WHEN ({ins_c}) AND ({ins_p}) THEN array({cur})
          WHEN ({ins_c}) THEN array({inter}, {cur})
          WHEN ({ins_p}) THEN array({inter})
          ELSE slice({v}, 1, 0)
        END)) END), 1)"""
    # close the ring; collapse degenerate (<3 open vertices) to empty
    return f"""element_at(transform(array({open_list}), {o} ->
      CASE WHEN size({o}) >= 3
           THEN concat({o}, array(element_at({o}, 1)))
           ELSE slice({o}, 1, 0) END), 1)"""


def ring_2area_sql(ring: str) -> str:
    """Signed DOUBLED shoelace area of a closed ring (SQL expr string).
    Doubled keeps integer-coordinate fixtures in exact integers.
    Same let-binding idiom as halfplane_pass_sql: ``ring`` appears
    exactly once, so optimizer substitution stays linear."""
    term = ("element_at(element_at(va, ia), 1)"
            " * element_at(element_at(va, ia + 1), 2)"
            " - element_at(element_at(va, ia + 1), 1)"
            " * element_at(element_at(va, ia), 2)")
    return (f"element_at(transform(array({ring}), va -> "
            f"CASE WHEN size(va) < 4 THEN CAST(0 AS DOUBLE) ELSE "
            f"aggregate(transform(sequence(1, size(va) - 1), ia -> {term}),"
            f" CAST(0 AS DOUBLE), (acc, t) -> acc + t) END), 1)")


def tile_cover(polys: DataFrame, ts: float,
               verts_col: str = "verts") -> DataFrame:
    """Fan each polygon out to every tile its bbox touches: two
    bounded sequence-explodes on the ring bbox — the equi-join key
    generator for the tiling stage (cover is bbox-exact; the clip
    itself discards no-overlap tiles as empty fragments)."""
    v = verts_col
    xs = f"transform({v}, p -> element_at(p, 1))"
    ys = f"transform({v}, p -> element_at(p, 2))"
    return (polys
            .withColumn("_tx0", F.expr(
                f"CAST(floor(array_min({xs}) / CAST({ts!r} AS DOUBLE)) AS BIGINT)"))
            .withColumn("_tx1", F.expr(
                f"CAST(floor(array_max({xs}) / CAST({ts!r} AS DOUBLE)) AS BIGINT)"))
            .withColumn("_ty0", F.expr(
                f"CAST(floor(array_min({ys}) / CAST({ts!r} AS DOUBLE)) AS BIGINT)"))
            .withColumn("_ty1", F.expr(
                f"CAST(floor(array_max({ys}) / CAST({ts!r} AS DOUBLE)) AS BIGINT)"))
            .withColumn("tx", F.explode(F.expr("sequence(_tx0, _tx1)")))
            .withColumn("ty", F.explode(F.expr("sequence(_ty0, _ty1)")))
            .drop("_tx0", "_tx1", "_ty0", "_ty1"))


def clip_to_tiles(polys: DataFrame, ts: float,
                  verts_col: str = "verts",
                  keep_empty: bool = False) -> DataFrame:
    """Clip every polygon to every tile of an origin-aligned ``ts``
    grid its bbox touches. Adds tx, ty, clipped (closed ring, possibly
    empty), twoa_clip (signed doubled shoelace area).

    Map-only after the cover explode: 4 let-bound half-plane columns,
    whole-stage-codegen friendly, zero Python. At 10^12 rows the cover
    explode IS the partitioner — fragments land keyed by (tx, ty),
    ready for a tile-bucketed write.
    """
    d = tile_cover(polys, ts, verts_col)
    tsd = f"CAST({ts!r} AS DOUBLE)"
    bounds = [("xmin", f"tx * {tsd}"), ("xmax", f"(tx + 1) * {tsd}"),
              ("ymin", f"ty * {tsd}"), ("ymax", f"(ty + 1) * {tsd}")]
    ring = verts_col
    for k, (side, bound) in enumerate(bounds):
        col = "clipped" if k == len(bounds) - 1 else f"_sh{k}"
        d = d.withColumn(col, F.expr(
            halfplane_pass_sql(ring, side, bound, tag=str(k))))
        ring = col
    d = d.drop("_sh0", "_sh1", "_sh2")
    d = d.withColumn("twoa_clip", F.expr(ring_2area_sql("clipped")))
    if not keep_empty:
        d = d.filter(F.size("clipped") > 0)
    return d
