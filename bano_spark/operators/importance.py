"""Street importance scoring (A4/A5/M2).

Reference formula (export_json_dept_voies_rapprochees.sql:64):

    round( log(adm_weight + log(population+1)/3)
         * log(1 + log(nb_addr+1) + log(hull_longest_m+1)
                 + log(type_weight)), 4)

with PG log == log10, hull_longest_m = st_length(st_longestline(
st_convexhull(ST_Collect(points)))::geography), and CASE weights
Boulevard/Place/Esplanade=4, Avenue=3, Rue=2, else 1.

Spark shape: per-street collect_list of (lon, lat) -> Arrow-batched
grouped aggregation computing the convex hull + geodesic longest line
in numpy (``hull_metrics``); the ``street_importance_hull`` query
applies the pure-column log10 formula with the type weights."""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, types as T

from ..geo.geometry import hull_longest_line_m

def hull_metrics(points: DataFrame, group_cols: list[str], lon: str = "lon",
                 lat: str = "lat") -> DataFrame:
    """Per group: nb points, centroid-of-hull lat/lon, hull longest
    geodesic line (meters). applyInPandas grouped kernel."""
    out_schema = T.StructType(
        [points.schema[c] for c in group_cols]
        + [T.StructField("nb_points", T.LongType()),
           T.StructField("hull_longest_m", T.DoubleType())]
    )

    def agg(key, pdf: pd.DataFrame) -> pd.DataFrame:
        lons = pdf[lon].to_numpy(dtype=np.float64)
        lats = pdf[lat].to_numpy(dtype=np.float64)
        d = hull_longest_line_m(lons, lats)
        return pd.DataFrame([list(key) + [len(pdf), d]],
                            columns=[*group_cols, "nb_points", "hull_longest_m"])

    return points.groupBy(*group_cols).applyInPandas(agg, out_schema)
