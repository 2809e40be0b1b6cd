"""Deterministic synthetic geography + point derivation.

Per FIXTURES.md ("Synthetic geography"): a seeded grid of communes in
two fake departements plus one Paris-like commune made of 9
arrondissements (admin_level 9) drawing ~37% of all points — the skew
case. Everything lives natively in EPSG:3857 meters and every derived
value is produced by integer arithmetic followed by exact double
conversions, so the Spark pipeline and the DuckDB oracle compute
bit-identical coordinates from the same table (`events`).

The same constants emit both the Spark DataFrames and the oracle SQL
text — one source of truth, zero drift.

Commune layout (x strips, all sharing one y band):

    01001..01004   dept 01, admin_level 8, slots 0..3
    97405          dept 974 (DOM — 3-char dept per helpers.py:97-101),
                   admin_level 8, slot 4: keeps the C9 overseas rule
                   live through every end-to-end path (pages -> cumul
                   -> conciliation -> publish), per VERDICT r3 item 2
    02001..02005   dept 02, admin_level 8, slots 5..9  (02005 is 'IMAG')
    75056          level 8 umbrella over slots 10..18 (excluded from
                   tiling per the reference's NOT IN list,
                   bano/models.py:346)
    75101..75109   level 9 arrondissements, slots 10..18
    02099          level 8, off-grid commune that receives no points
"""

from __future__ import annotations

REG0 = 1000003.0  # x origin (odd offset: keeps edges off tile boundaries)
REGY0 = 2000003.0  # y origin of the point band
CY0 = REGY0 - 3.0  # commune band ymin
CY1 = REGY0 + 9503.0  # commune band ymax
W = 10000.0  # commune strip width
PARIS0 = REG0 + 10 * W

# (insee_com, dept, admin_level, xmin, ymin, xmax, ymax, format_cadastre)
COMMUNES: list[tuple[str, str, int, float, float, float, float, str]] = (
    [
        (f"0100{i + 1}", "01", 8, REG0 + i * W, CY0, REG0 + (i + 1) * W, CY1, "VECT")
        for i in range(4)
    ]
    + [("97405", "974", 8, REG0 + 4 * W, CY0, REG0 + 5 * W, CY1, "VECT")]
    + [
        (f"0200{i + 1}", "02", 8, REG0 + (5 + i) * W, CY0, REG0 + (6 + i) * W, CY1,
         "IMAG" if i == 4 else "VECT")
        for i in range(5)
    ]
    + [("75056", "75", 8, PARIS0, CY0, PARIS0 + 9 * W, CY1, "VECT")]
    + [
        (f"7510{i + 1}", "75", 9, PARIS0 + i * W, CY0, PARIS0 + (i + 1) * W, CY1, "VECT")
        for i in range(9)
    ]
    + [("02099", "02", 8, REG0 - 2 * W, CY0, REG0 - W, CY1, "VECT")]
)

# Nested postal polygons; `area_rank` is derived from area (smallest wins,
# replacing the reference's insertion-order serial id — SURVEY.md §4).
# (code_postal, xmin, ymin, xmax, ymax)
POSTAL: list[tuple[str, float, float, float, float]] = [
    ("01000", REG0, CY0, REG0 + 3 * W, CY1),
    ("01210", REG0 + 12000.0, REGY0 + 1000.0, REG0 + 15000.0, REGY0 + 4000.0),
    ("02000", REG0 + 5 * W, CY0, REG0 + 10 * W, CY1),
    ("75000", PARIS0, CY0, PARIS0 + 9 * W, CY1),
]

# Street-name vocabulary used by name-derivation queries: raw -> the
# reference normalize() output (goldens checked in tests/test_normalize.py).
STREETS: list[tuple[str, str]] = [
    ("Boulevard de Sébastopol", "BD SEBASTOPOL"),
    ("Rue du Général Leclerc", "RUE GAL LECLERC"),
    ("Avenue des Champs-Élysées", "AV CHAMPS ELYSEES"),
    ("Place de l'Église", "PL EGLISE"),
    ("Impasse du 8 Mai 1945", "IMP HUIT MAI UNNEUFQUATRECINQ"),
    ("Chemin de la Fontaine", "CHE FONTAINE"),
    ("Route Nationale 7", "RTE NATIONALE SEPT"),
    ("Allée des Acacias", "ALL ACACIAS"),
    ("Grande Rue", "GR RUE"),
    ("Quai Saint-Vincent", "QUAI ST VINCENT"),
    ("Rue du Docteur Schweitzer", "RUE DOC SCHWEITZER"),
    ("Square Louis XIV", "SQ LOUIS UNQUATRE"),
]


# format_toponyme(normalize(raw)) goldens for STREETS, generated from the
# reference implementation (bano/helpers.py:24-76) — display-casing parity
TOPONYMES: list[str] = [
    "Bd Sebastopol", "Rue Gal Leclerc", "Av Champs Elysees", "Pl Église",
    "Imp Huit Mai Unneufquatrecinq", "Che Fontaine", "Rte Nationale Sept",
    "All Acacias", "Gr Rue", "Quai St Vincent", "Rue Doc Schweitzer",
    "Sq Louis Unquatre",
]


def _ii(v: float) -> str:
    """Exact SQL literal for our integer-valued doubles."""
    return repr(v)


def communes_values_sql() -> str:
    rows = ",\n    ".join(
        f"('{c[0]}','{c[1]}',{c[2]},{_ii(c[3])},{_ii(c[4])},{_ii(c[5])},{_ii(c[6])},'{c[7]}')"
        for c in COMMUNES
    )
    return (
        "(VALUES\n    " + rows +
        ") AS c(insee_com, dept, admin_level, xmin, ymin, xmax, ymax, format_cadastre)"
    )


def postal_values_sql() -> str:
    rows = ",\n    ".join(
        f"('{p[0]}',{_ii(p[1])},{_ii(p[2])},{_ii(p[3])},{_ii(p[4])})" for p in POSTAL
    )
    return "(VALUES\n    " + rows + ") AS pp(code_postal, xmin, ymin, xmax, ymax)"


def points_select_sql(dialect: str, table: str = "events", id_col: str = "event_id",
                      salt: int = 0) -> str:
    """SELECT deriving one deterministic EPSG:3857 point per row of
    ``table`` (keyed by ``id_col``; ``salt`` decorrelates derivations).

    Identical integer arithmetic in Spark SQL and DuckDB; the only
    dialect difference is the integer-division operator.
    """
    d = " div " if dialect == "spark" else " // "
    return f"""
SELECT {id_col},
       CAST(CASE WHEN u % 16 < 10
            THEN {REG0!r} + (u % 16) * {W!r}
            ELSE {PARIS0!r} + ((u{d}16) % 9) * {W!r}
       END + ((u{d}144) % 9000) + 0.5 AS DOUBLE) AS x,
       CAST({REGY0!r} + ((u{d}1296000) % 9000) + 0.25 AS DOUBLE) AS y
FROM (SELECT {id_col}, ({id_col} * 2654435761 + {salt}) % 2147483648 AS u FROM {table})
"""


def communes_df(spark):
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("insee_com", T.StringType()),
        T.StructField("dept", T.StringType()),
        T.StructField("admin_level", T.IntegerType()),
        T.StructField("xmin", T.DoubleType()),
        T.StructField("ymin", T.DoubleType()),
        T.StructField("xmax", T.DoubleType()),
        T.StructField("ymax", T.DoubleType()),
        T.StructField("format_cadastre", T.StringType()),
    ])
    return spark.createDataFrame([tuple(c) for c in COMMUNES], schema)


def commune_polygons_df(spark):
    """Communes as generic polygons (closed rings) for the spatial-join
    engine path — rectangles here, but the engine treats them as
    arbitrary rings."""
    from pyspark.sql import types as T

    rows = []
    for c in COMMUNES:
        insee, dept, lvl, x0, y0, x1, y1, fmt = c
        ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
        rows.append((insee, dept, lvl, ring))
    schema = T.StructType([
        T.StructField("insee_com", T.StringType()),
        T.StructField("dept", T.StringType()),
        T.StructField("admin_level", T.IntegerType()),
        T.StructField("verts", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ])
    return spark.createDataFrame(rows, schema)


def postal_polygons_df(spark):
    """Postal polygons as generic rings + area column (smallest-wins
    containment, W5 — area-ordered, SURVEY.md §4)."""
    from pyspark.sql import types as T

    rows = []
    for cp, x0, y0, x1, y1 in POSTAL:
        ring = [[x0, y0], [x1, y0], [x1, y1], [x0, y1], [x0, y0]]
        rows.append((cp, (x1 - x0) * (y1 - y0), ring))
    schema = T.StructType([
        T.StructField("code_postal", T.StringType()),
        T.StructField("area", T.DoubleType()),
        T.StructField("verts", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ])
    return spark.createDataFrame(rows, schema)


# ---------------------------------------------------------------------------
# Non-axis-aligned / non-convex refine fixtures (VERDICT r1 item 10).
#
# Derived points always sit at x = i + 0.5, y = j + 0.25 (i, j int), so
# edges on integer vertices with slopes in {0, inf, +-2} can never pass
# through a point: a slope +-2 line through integers has integer y at
# x = i + 0.5, and the points' y is j + 0.25. No boundary ambiguity —
# the oracle's strict half-plane inequalities and the engine's ray-cast
# agree exactly.
#
# T1-T3: isoceles triangles (slope +-2 edges) in strips 0, 7 and Paris
# arr 3 — convex, non-axis-aligned, exercising the exact PIP refine.
# L1: a concave L-shape = union of two axis-aligned rectangles — the
# multi-crossing ray-cast case, SQL-expressible as an OR of boxes.
# ---------------------------------------------------------------------------

_TRI_SPECS = [  # (poly_id, x0, y0, half_base)
    ("T1", REG0 + 500.0, REGY0 + 1000.0, 3000.0),
    ("T2", REG0 + 7 * W + 500.0, REGY0 + 1000.0, 3000.0),
    ("T3", PARIS0 + 2 * W + 500.0, REGY0 + 1000.0, 3000.0),
]
_L_SPEC = ("L1", REG0 + 3 * W + 500.0, REGY0 + 1000.0)  # rects 4000x2000 + 1500x6000


def refine_polygons_df(spark):
    """The refine fixture polygons as generic closed rings for
    spatial_join — same engine path as the commune rectangles."""
    from pyspark.sql import types as T

    rows = []
    for pid, x0, y0, h in _TRI_SPECS:
        ring = [[x0, y0], [x0 + 2 * h, y0], [x0 + h, y0 + 2 * h], [x0, y0]]
        rows.append((pid, ring))
    pid, x0, y0 = _L_SPEC
    ring = [[x0, y0], [x0 + 4000.0, y0], [x0 + 4000.0, y0 + 2000.0],
            [x0 + 1500.0, y0 + 2000.0], [x0 + 1500.0, y0 + 6000.0],
            [x0, y0 + 6000.0], [x0, y0]]
    rows.append((pid, ring))
    schema = T.StructType([
        T.StructField("poly_id", T.StringType()),
        T.StructField("verts", T.ArrayType(T.ArrayType(T.DoubleType()))),
    ])
    return spark.createDataFrame(rows, schema)


def refine_membership_sql(px: str = "p.x", py: str = "p.y") -> str:
    """UNION ALL of (point, poly_id) memberships as strict half-plane
    inequalities (triangles) and box unions (L-shape) — the oracle's
    independent statement of the same containment."""
    parts = []
    for pid, x0, y0, h in _TRI_SPECS:
        parts.append(
            f"SELECT p.event_id, '{pid}' AS poly_id FROM pts p"
            f" WHERE {py} > {y0!r}"
            f" AND {py} < {y0!r} + 2 * ({px} - {x0!r})"
            f" AND {py} < {y0!r} - 2 * ({px} - {x0 + 2 * 3000.0!r})"
        )
    pid, x0, y0 = _L_SPEC
    parts.append(
        f"SELECT p.event_id, '{pid}' AS poly_id FROM pts p"
        f" WHERE ({px} > {x0!r} AND {px} < {x0 + 4000.0!r}"
        f" AND {py} > {y0!r} AND {py} < {y0 + 2000.0!r})"
        f" OR ({px} > {x0!r} AND {px} < {x0 + 1500.0!r}"
        f" AND {py} > {y0!r} AND {py} < {y0 + 6000.0!r})"
    )
    return " UNION ALL ".join(parts)


def points_df(spark, sf_dir: str):
    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    events.createOrReplaceTempView("events")
    return spark.sql(points_select_sql("spark"))


# ---------------------------------------------------------------------------
# Wave-5 fixtures: trajectories, coverage-gap points, street segments.
# Same one-source-of-truth discipline as points_select_sql: a single
# emitter produces both dialects, integer arithmetic end-to-end so the
# engine and the oracle derive bit-identical coordinates.
# ---------------------------------------------------------------------------

# unit step vectors of the 8 compass sectors, index = (u div 10) % 8
_SECTOR_UNITS = [(0, 1), (1, 1), (1, 0), (1, -1),
                 (0, -1), (-1, -1), (-1, 0), (-1, 1)]


def traj_select_sql(dialect: str, table: str = "events") -> str:
    """Per-user trajectory points from ``table``: each user walks from
    a home cell; 60% of pings dwell (<= ~14 m wobble), 40% jump
    500-1100 m in one of 8 compass directions. Every coordinate is an
    integer-valued double built from window sums of integers —
    bit-identical across engines.

    Emits a SELECT with (user_id, ts, event_id, seq, x, y)."""
    d = " div " if dialect == "spark" else " // "
    ux = "CASE (u" + d + "10) % 8 " + " ".join(
        f"WHEN {i} THEN {vx}" for i, (vx, _) in enumerate(_SECTOR_UNITS)
    ) + " END"
    uy = "CASE (u" + d + "10) % 8 " + " ".join(
        f"WHEN {i} THEN {vy}" for i, (_, vy) in enumerate(_SECTOR_UNITS)
    ) + " END"
    return f"""
SELECT user_id, ts, event_id,
       CAST(seq AS INT) AS seq,
       CAST(1000003.0 + (user_id % 97) * 20000
            + SUM(jx) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            + wx AS DOUBLE) AS x,
       CAST(2000003.0 + ((user_id * 31) % 53) * 20000
            + SUM(jy) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            + wy AS DOUBLE) AS y
FROM (
  SELECT user_id, ts, event_id, u,
         ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS seq,
         CASE WHEN u % 10 < 6 THEN 0
              ELSE (500 + (u % 7) * 100) * ({ux}) END AS jx,
         CASE WHEN u % 10 < 6 THEN 0
              ELSE (500 + (u % 7) * 100) * ({uy}) END AS jy,
         u % 11 AS wx, (u{d}11) % 11 AS wy
  FROM (SELECT user_id, ts, event_id,
               (event_id * 2654435761 + 11) % 2147483648 AS u
        FROM {table})
)
"""


def gap_points_select_sql(dialect: str, table: str = "events") -> str:
    """Point derivation that deliberately spills OUTSIDE the commune
    band: x slots 0..20 (19-20 lie east of Paris) and y up to
    REGY0 + 12000 (the band ends at REGY0 + 9503) — the coverage-gap
    fixture for the spatial anti-join. Offsets 0.5 / 0.25 keep every
    point strictly off polygon edges (synth.py refine notes)."""
    d = " div " if dialect == "spark" else " // "
    return f"""
SELECT {"event_id"},
       CAST({REG0!r} + (u % 21) * {W!r} + ((u{d}21) % 9000) + 0.5
            AS DOUBLE) AS x,
       CAST({REGY0!r} + ((u{d}189000) % 12000) + 0.25 AS DOUBLE) AS y
FROM (SELECT event_id, (event_id * 2654435761 + 23) % 2147483648 AS u
      FROM {table})
"""
