"""bano_spark — a PySpark-native spatial-join + tiling analytics engine.

A from-scratch rebuild of the capabilities of osm-fr/bano (reference at
/root/reference, studied for WHAT it computes, not HOW): address
extraction from web-scale page corpora, deterministic street-name
normalization, cell-bucketed point-in-polygon joins, z16 slippy-tile
expiry -> commune assignment, multi-source address conciliation, and the
export/scoring formulas — re-expressed as DataFrame/Catalyst pipelines
designed for 100 TB-scale inputs on a multi-executor cluster.

Design principles (see SURVEY.md):
  * DataFrame-first; Catalyst handles pushdown/pruning/broadcast.
  * The spatial index is a Web-Mercator slippy-tile grid (the same grid
    the reference uses for tile expiry, bano/models.py:305-313) —
    pure column arithmetic, no geometry library in the pruning path.
  * Exact geometry refinement (ray-casting point-in-polygon, convex
    hull, geodesic length) is vectorized numpy inside Arrow-batched
    pandas UDFs — no per-row Python anywhere in the hot path.
  * Skew (Paris-like hot communes) is handled by AQE skew-join
    splitting (session.get_session turns it on); small polygon indexes
    are broadcast, large ones shuffle.
"""

__version__ = "0.1.0"
