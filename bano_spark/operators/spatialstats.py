"""Spatial statistics over cell lattices: global Moran's I.

BANO's batch stats (bano/sql/batch_stats) stop at per-commune counts;
a web-scale geo corpus also wants to KNOW whether a per-cell metric
clusters spatially (hot spots) or scatters — Moran's I is the
standard global test (public formulation: Moran 1950; rook-adjacency
weights on the hex lattice, the 6 equidistant neighbors).

    I = (N / W) * sum_ij w_ij (x_i - m)(x_j - m) / sum_i (x_i - m)^2

with w_ij = 1 for occupied ring-1 neighbors, W = count of directed
neighbor pairs, m the mean over occupied cells.

Scale shape: per-cell values come from the caller's aggregation
(counts are exact integers); the neighbor term is a 6-way offset
explode + equi-join on the cell key (bounded, never a cross product);
the three sums are single aggregates with map-side partials. The mean
is computed exactly (integer sum / count) and shipped as a literal
into the second pass — an O(1) driver value.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

# the 6 axial ring-1 neighbors of a pointy-top hex cell
HEX_NEIGHBORS = [(1, 0), (-1, 0), (0, 1), (0, -1), (1, -1), (-1, 1)]


def moran_i_hex(cells: DataFrame, *, val_col: str = "val",
                round_to: int = 6) -> DataFrame:
    """Global Moran's I of ``val_col`` over occupied hex cells
    (columns hq, hr) with ring-1 adjacency. Returns ONE row:
    (n_cells, w_pairs, moran_i).

    Two-pass: (1) exact mean over occupied cells; (2) deviation
    products over the neighbor join + the deviation-square sum. Both
    passes are plain aggregates; the join is equi on (hq, hr)."""
    stats = cells.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(val_col) / F.count(F.lit(1))).alias("m")).collect()[0]
    n, m = int(stats["n"]), float(stats["m"])

    dev = cells.select("hq", "hr",
                       (F.col(val_col) - F.lit(m)).alias("dev"))
    offs = F.array(*[F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
                     for dq, dr in HEX_NEIGHBORS])
    shifted = (dev.select(F.explode(offs).alias("o"), "hq", "hr", "dev")
               .select((F.col("hq") + F.col("o.dq")).alias("hq"),
                       (F.col("hr") + F.col("o.dr")).alias("hr"),
                       F.col("dev").alias("dev_nbr")))
    pairs = dev.join(shifted, ["hq", "hr"])

    num = pairs.agg(F.count(F.lit(1)).alias("w_pairs"),
                    F.sum(F.col("dev") * F.col("dev_nbr")).alias("cross"))
    den = dev.agg(F.sum(F.col("dev") ** 2).alias("ss"))
    return (num.crossJoin(den)  # two 1-row frames — O(1) by design
            .select(F.lit(n).alias("n_cells"),
                    F.col("w_pairs"),
                    F.round((F.lit(float(n)) / F.col("w_pairs"))
                            * F.col("cross") / F.col("ss"), round_to)
                    .alias("moran_i")))


def getis_ord_hex(cells: DataFrame, k: int = 1, *, val_col: str = "val",
                  round_to: int = 6) -> DataFrame:
    """Getis-Ord Gi* hot-spot z-score per occupied hex cell over the
    k-ring disk (weights 1, self included — the * variant; public
    formulation: Getis & Ord 1992):

        Gi* = (S_i - mean * m_i)
              / (s * sqrt((n * m_i - m_i^2) / (n - 1)))

    with S_i the ring sum, m_i the OCCUPIED ring size (sparse-lattice
    convention, matching hexgrid.hex_kring_smooth), mean/s the global
    moments. Global moments come from one exact aggregate (integer
    sums) shipped as literals; ring sums from the bounded offset
    explode — the same two-pass shape as :func:`moran_i_hex`."""
    from ..geo.hexgrid import hex_kring_offsets

    g = cells.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(val_col) / F.count(F.lit(1))).alias("mean"),
        (F.sum(F.col(val_col) ** 2) / F.count(F.lit(1))).alias("msq"),
    ).collect()[0]
    n, mean = int(g["n"]), float(g["mean"])
    import math

    s = math.sqrt(float(g["msq"]) - mean * mean)

    offs = F.array(*[F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
                     for dq, dr in hex_kring_offsets(k)])
    contrib = (cells.select("hq", "hr", val_col,
                            F.explode(offs).alias("o"))
               .select((F.col("hq") + F.col("o.dq")).alias("hq"),
                       (F.col("hr") + F.col("o.dr")).alias("hr"),
                       F.col(val_col)))
    rings = (contrib.groupBy("hq", "hr")
             .agg(F.sum(val_col).alias("s_i"),
                  F.count(F.lit(1)).alias("m_i")))
    out = rings.join(cells.select("hq", "hr").distinct(), ["hq", "hr"])
    m_i = F.col("m_i").cast("double")
    denom = F.lit(s) * F.sqrt((F.lit(float(n)) * m_i - m_i * m_i)
                              / F.lit(float(n - 1)))
    return out.select(
        "hq", "hr", F.col("m_i").cast("bigint").alias("ring_size"),
        F.round((F.col("s_i") - F.lit(mean) * m_i) / denom, round_to)
        .alias("gi_z"))


def ripley_k(points: DataFrame, rs: list[float], area: float,
             x_col: str = "x", y_col: str = "y",
             id_col: str = "event_id") -> DataFrame:
    """Ripley's K function at distances ``rs`` (no edge correction —
    the naive estimator K(r) = A / (n (n-1)) * #{ordered pairs i != j
    with d_ij <= r}; Ripley 1976). K(r) > pi r^2 flags clustering at
    scale r, < pi r^2 regularity.

    Scale shape: pair counting is a k-ring bucketed self-join at cell
    size max(rs) — each point joins only its own and 8 neighboring
    cells, never the full point set, so the join output is
    O(n * local density), not O(n^2). Counts are exact integers; n
    and the counts reach the driver as one O(|rs|) aggregate row.
    Distances compare squared (no sqrt on the hot path).
    """
    rmax = max(rs)
    cell = float(rmax)
    pts = points.select(
        F.col(id_col).alias("pid"), F.col(x_col).alias("px"),
        F.col(y_col).alias("py"),
        F.floor(F.col(x_col) / cell).alias("cx"),
        F.floor(F.col(y_col) / cell).alias("cy"))
    offs = F.explode(F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])).alias("o")
    probe = (pts.select("pid", "px", "py", "cx", "cy", offs)
             .select("pid", "px", "py",
                     (F.col("cx") + F.col("o.dx")).alias("cx"),
                     (F.col("cy") + F.col("o.dy")).alias("cy")))
    j = probe.join(
        pts.select(F.col("pid").alias("qid"), F.col("px").alias("qx"),
                   F.col("py").alias("qy"), "cx", "cy"),
        ["cx", "cy"]).filter(F.col("pid") != F.col("qid"))
    d2 = ((F.col("px") - F.col("qx")) ** 2
          + (F.col("py") - F.col("qy")) ** 2)
    counts = j.agg(*[
        F.sum(F.when(d2 <= F.lit(float(r) * float(r)), 1).otherwise(0))
        .alias(f"c{i}") for i, r in enumerate(rs)])
    n = points.count()
    denom = float(n) * float(n - 1)
    return counts.select(F.explode(F.array(*[
        F.struct(F.lit(float(r)).alias("r"),
                 (F.col(f"c{i}") * F.lit(area) / F.lit(denom))
                 .alias("k_est"),
                 F.col(f"c{i}").cast("bigint").alias("n_pairs"))
        for i, r in enumerate(rs)])).alias("e")).select(
            "e.r", "e.k_est", "e.n_pairs")


def hausdorff_pairs(traj: DataFrame, pairs: DataFrame,
                    track_col: str = "user_id",
                    x_col: str = "x", y_col: str = "y") -> DataFrame:
    """Discrete Hausdorff distance between paired point tracks:
    H(A, B) = max(h(A,B), h(B,A)) with h(A,B) = max over a in A of
    min over b in B of d(a, b) — the standard similarity measure for
    GPS traces / polyline shapes.

    ``pairs`` carries (id_a, id_b) track-id pairs. Scale shape: the
    point-level join is confined WITHIN each pair (join key = pair
    row), so the blow-up is bounded by the longest single track
    squared — never corpus-wide; both directed maxima come from one
    joined frame via two grouped mins + one max, all map-side
    combinable. Distances stay squared until the final sqrt.
    """
    a = traj.select(F.col(track_col).alias("id_a"),
                    F.col(x_col).alias("ax"), F.col(y_col).alias("ay"))
    b = traj.select(F.col(track_col).alias("id_b"),
                    F.col(x_col).alias("bx"), F.col(y_col).alias("by"))
    j = (pairs.join(a, "id_a").join(b, "id_b")
         .withColumn("d2", (F.col("ax") - F.col("bx")) ** 2
                     + (F.col("ay") - F.col("by")) ** 2))
    hab = (j.groupBy("id_a", "id_b", "ax", "ay")
           .agg(F.min("d2").alias("dmin"))
           .groupBy("id_a", "id_b").agg(F.max("dmin").alias("h_ab")))
    hba = (j.groupBy("id_a", "id_b", "bx", "by")
           .agg(F.min("d2").alias("dmin"))
           .groupBy("id_a", "id_b").agg(F.max("dmin").alias("h_ba")))
    return (hab.join(hba, ["id_a", "id_b"])
            .select("id_a", "id_b",
                    F.sqrt(F.greatest("h_ab", "h_ba"))
                    .alias("hausdorff")))


def nn_distances(points: DataFrame, cell: float, *,
                 id_col: str = "event_id", x_col: str = "x",
                 y_col: str = "y", max_rounds: int = 5) -> DataFrame:
    """EXACT nearest-neighbor distance per point via a doubling-cell
    k-ring join: at cell size c, every point within distance c lies in
    the 3x3 ring of the probe's cell, so a candidate minimum d <= c is
    PROVABLY the true NN. Points whose ring-1 minimum exceeds c (or
    with no ring candidate) escalate to 2c — unresolved points shrink
    geometrically, and the loop raises (loud runaway guard, the k_core
    discipline) instead of returning approximations if max_rounds
    doubles don't cover the extent.

    Scale shape: per round, one equi-join on the cell key over the
    9-cell ring — O(n x local density), never O(n^2); hot cells salt
    like hot tiles (pip_join). The driver sees one count per round.
    Returns (id, nn_dist).
    """
    pts = points.select(F.col(id_col).alias("_id"),
                        F.col(x_col).cast("double").alias("_x"),
                        F.col(y_col).cast("double").alias("_y"))
    unresolved = pts
    resolved = []
    for rnd in range(max_rounds):
        c = cell * (2 ** rnd)
        left = (unresolved
                .withColumn("_cx", F.floor(F.col("_x") / c))
                .withColumn("_cy", F.floor(F.col("_y") / c)))
        offs = F.array(*[F.struct(F.lit(dx).alias("dx"),
                                  F.lit(dy).alias("dy"))
                         for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
        right = (pts.select(F.col("_id").alias("_id2"),
                            F.col("_x").alias("_x2"),
                            F.col("_y").alias("_y2"))
                 .withColumn("_o", F.explode(offs))
                 .select("_id2", "_x2", "_y2",
                         (F.floor(F.col("_x2") / c)
                          + F.col("_o.dx")).alias("_cx"),
                         (F.floor(F.col("_y2") / c)
                          + F.col("_o.dy")).alias("_cy")))
        d2 = ((F.col("_x") - F.col("_x2")) * (F.col("_x") - F.col("_x2"))
              + (F.col("_y") - F.col("_y2")) * (F.col("_y") - F.col("_y2")))
        mind = (left.join(right, ["_cx", "_cy"])
                .filter(F.col("_id") != F.col("_id2"))
                .groupBy("_id")
                .agg(F.min(d2).alias("_d2")))
        ok = (mind.filter(F.col("_d2") <= F.lit(c * c))
              .select("_id", F.sqrt("_d2").alias("nn_dist")))
        ok = ok.localCheckpoint(eager=True)
        resolved.append(ok)
        unresolved = unresolved.join(ok.select("_id"), "_id", "left_anti") \
            .localCheckpoint(eager=True)
        if unresolved.limit(1).count() == 0:
            break
    else:
        raise RuntimeError(
            f"nn_distances: points still unresolved after {max_rounds} "
            f"cell doublings from {cell} — raise max_rounds or cell")
    out = resolved[0]
    for part in resolved[1:]:
        out = out.unionByName(part)
    return out.withColumnRenamed("_id", id_col)


def clark_evans(points: DataFrame, area: float, cell: float, *,
                id_col: str = "event_id", x_col: str = "x",
                y_col: str = "y") -> DataFrame:
    """Clark-Evans aggregation index (Clark & Evans 1954): R =
    observed mean NN distance / expected mean under CSR
    (0.5 * sqrt(A / n)), with the normal z statistic
    z = (obs - exp) / (0.26136 * sqrt(A) / n). R < 1 clustered,
    R > 1 overdispersed. One row out; NN distances from the exact
    doubling-ring join (boundary effects uncorrected — disclosed,
    identical in the oracle)."""
    nn = nn_distances(points, cell, id_col=id_col,
                      x_col=x_col, y_col=y_col)
    agg = nn.agg(F.count(F.lit(1)).alias("n_points"),
                 F.avg("nn_dist").alias("mean_nn"))
    n = F.col("n_points").cast("double")
    expected = F.lit(0.5) * F.sqrt(F.lit(area) / n)
    se = F.lit(0.26136) * F.sqrt(F.lit(area)) / n
    return agg.select(
        "n_points", F.col("mean_nn"),
        expected.alias("expected_nn"),
        (F.col("mean_nn") / expected).alias("r_index"),
        ((F.col("mean_nn") - expected) / se).alias("z_score"))


def mann_kendall(df: DataFrame, key_cols: list, time_col: str,
                 value_col: str) -> DataFrame:
    """Per-key Mann-Kendall trend test (the nonparametric core of
    emerging-hot-spot analysis over space-time bins): S = sum over
    ordered period pairs of sign(v_j - v_i), tie-corrected variance
    Var = (n(n-1)(2n+5) - sum_t t(t-1)(2t+5)) / 18, and the
    continuity-corrected z ((S-1)/sd for S>0, (S+1)/sd for S<0, 0 at
    S=0). Integer-valued series keep S and Var exact.

    The pair join is confined WITHIN each key (bounded period counts
    — days/weeks — so O(n_k^2) is a constant); tie groups come from
    one groupBy (key, value). Keys partition freely."""
    a = df.select(*key_cols, F.col(time_col).alias("_ti"),
                  F.col(value_col).alias("_vi"))
    b = df.select(*key_cols, F.col(time_col).alias("_tj"),
                  F.col(value_col).alias("_vj"))
    keys = [str(k) for k in key_cols]
    pairs = (a.join(b, keys).filter(F.col("_ti") < F.col("_tj")))
    s = (pairs.groupBy(*keys)
         .agg(F.sum(F.signum(F.col("_vj") - F.col("_vi"))
                    .cast("bigint")).alias("s")))
    n = df.groupBy(*keys).agg(F.count(F.lit(1)).alias("n_periods"))
    t = F.col("_tn").cast("double")
    ties = (df.groupBy(*keys, value_col)
            .agg(F.count(F.lit(1)).alias("_tn"))
            .groupBy(*keys)
            .agg(F.sum(t * (t - 1) * (2 * t + 5)).alias("_tie")))
    nn = F.col("n_periods").cast("double")
    var = (nn * (nn - 1) * (2 * nn + 5) - F.col("_tie")) / F.lit(18.0)
    sd = F.sqrt(var)
    z = (F.when(F.col("s") > 0, (F.col("s") - 1) / sd)
         .when(F.col("s") < 0, (F.col("s") + 1) / sd)
         .otherwise(F.lit(0.0)))
    return (s.join(n, keys).join(ties, keys)
            .select(*keys, "n_periods", "s", var.alias("var_s"),
                    F.when(var > 0, z).otherwise(F.lit(0.0)).alias("z")))


def geary_c_hex(cells: DataFrame, *, val_col: str = "val",
                round_to: int = 6) -> DataFrame:
    """Global Geary's C of ``val_col`` over occupied hex cells
    (columns hq, hr) with ring-1 adjacency — the local-contrast
    companion to :func:`moran_i_hex` (C ~ 1 random, < 1 positive
    autocorrelation, > 1 negative; Geary 1954). Returns ONE row:
    (n_cells, w_pairs, geary_c) with

        C = (n - 1) * sum_w (x_i - x_j)^2 / (2 W sum_i (x_i - xbar)^2)

    over the same directed neighbor-pair join as Moran (each unordered
    pair appears twice; W counts directed pairs, exactly mirroring the
    oracle). Same scale shape: 6-offset explode + equi-join on the
    cell key, two plain aggregates, no cross product."""
    stats = cells.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(val_col) / F.count(F.lit(1))).alias("m")).collect()[0]
    n, m = int(stats["n"]), float(stats["m"])

    base = cells.select("hq", "hr", F.col(val_col).alias("x"))
    offs = F.array(*[F.struct(F.lit(dq).alias("dq"), F.lit(dr).alias("dr"))
                     for dq, dr in HEX_NEIGHBORS])
    shifted = (base.select(F.explode(offs).alias("o"), "hq", "hr", "x")
               .select((F.col("hq") + F.col("o.dq")).alias("hq"),
                       (F.col("hr") + F.col("o.dr")).alias("hr"),
                       F.col("x").alias("x_nbr")))
    pairs = base.join(shifted, ["hq", "hr"])
    diff = F.col("x") - F.col("x_nbr")
    num = pairs.agg(F.count(F.lit(1)).alias("w_pairs"),
                    F.sum(diff * diff).alias("ssd"))
    den = base.agg(
        F.sum((F.col("x") - F.lit(m)) ** 2).alias("ss"))
    return (num.crossJoin(den)  # two 1-row frames — O(1) by design
            .select(F.lit(n).alias("n_cells"),
                    F.col("w_pairs"),
                    F.round(F.lit(float(n - 1)) * F.col("ssd")
                            / (F.lit(2.0) * F.col("w_pairs")
                               * F.col("ss")), round_to)
                    .alias("geary_c")))


def getis_ord_grid_by(cells: DataFrame, *, cx: str = "cx", cy: str = "cy",
                      period_col: str = "day",
                      val_col: str = "v") -> DataFrame:
    """Getis-Ord Gi* per occupied square cell WITHIN EACH PERIOD over
    the 3x3 Moore neighborhood (self included). Unlike
    :func:`getis_ord_hex` the per-period global moments are computed
    RELATIONALLY (one groupBy + join, no collect) — with thousands of
    periods a driver round-trip per period would serialize the job.

    Sparse-lattice convention: only cells occupied in a period exist
    in that period's lattice. Periods whose lattice is degenerate
    (n < 2, zero variance, or a neighborhood covering the whole
    lattice, where the Gi* denominator vanishes) drop — documented
    and mirrored by the oracle. ``val_col`` must be integer-valued:
    every sum is then exact, so the emitted doubles are deterministic
    functions of exact integers and both engines agree bitwise.

    Returns (cx, cy, period, gi_z) with gi_z UNROUNDED (trend tests
    downstream compare these values; rounding is the caller's
    presentation concern)."""
    mom = (cells.groupBy(period_col)
           .agg(F.count(F.lit(1)).alias("_n"),
                F.sum(val_col).alias("_sv"),
                F.sum(F.col(val_col) * F.col(val_col)).alias("_svv"))
           .filter(F.col("_n") >= 2)
           .withColumn("_mean", F.col("_sv") / F.col("_n"))
           .withColumn("_s", F.sqrt(F.col("_svv") / F.col("_n")
                                    - F.col("_mean") * F.col("_mean")))
           .filter(F.col("_s") > 0))

    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    contrib = (cells.select(cx, cy, period_col, val_col,
                            F.explode(offs).alias("o"))
               .select((F.col(cx) + F.col("o.dx")).alias(cx),
                       (F.col(cy) + F.col("o.dy")).alias(cy),
                       period_col, val_col))
    rings = (contrib.groupBy(cx, cy, period_col)
             .agg(F.sum(val_col).alias("_si"),
                  F.count(F.lit(1)).alias("_mi")))
    occ = cells.select(cx, cy, period_col)
    out = (rings.join(occ, [cx, cy, period_col])
           .join(mom, period_col)
           .filter(F.col("_mi") < F.col("_n")))
    m_i = F.col("_mi").cast("double")
    n_d = F.col("_n").cast("double")
    denom = F.col("_s") * F.sqrt((n_d * m_i - m_i * m_i) / (n_d - 1))
    return out.select(
        cx, cy, period_col,
        ((F.col("_si") - F.col("_mean") * m_i) / denom).alias("gi_z"))


def emerging_hotspots(cells: DataFrame, *, cx: str = "cx", cy: str = "cy",
                      period_col: str = "day", val_col: str = "v",
                      z_hot: float = 1.645, z_trend: float = 1.645,
                      min_periods: int = 3,
                      round_to: int = 6) -> DataFrame:
    """Emerging-hot-spot analysis (the space-time-cube composition:
    Getis-Ord Gi* per period, Mann-Kendall trend over each cell's
    z series, then a category per cell — after the public ESRI
    formulation, categories reduced to the five decidable from the
    two statistics):

      intensifying  hot now, significantly heating
      diminishing   hot now, significantly cooling
      persistent    hot now, no significant trend
      emerging      not hot yet, significantly heating
      none          everything else

    "Hot now" reads the LAST period's z >= ``z_hot``; the trend reads
    the continuity-corrected Mann-Kendall z against ``z_trend``. Cells
    with fewer than ``min_periods`` periods drop (a two-point trend is
    noise). All inputs to every comparison are deterministic doubles
    derived from exact integer sums (see :func:`getis_ord_grid_by`),
    so the categories are reproducible bit-for-bit.

    Scale shape: two bounded explodes + four hash aggregations + the
    per-cell pair join of Mann-Kendall (bounded by period count) —
    every stage keyed by cell or (cell, period), no cross product, no
    Python. Returns (cx, cy, n_periods, trend_z, last_z, category)."""
    z = getis_ord_grid_by(cells, cx=cx, cy=cy, period_col=period_col,
                          val_col=val_col)
    mk = (mann_kendall(z, [cx, cy], period_col, "gi_z")
          .filter(F.col("n_periods") >= min_periods))
    last = (z.groupBy(cx, cy)
            .agg(F.max_by("gi_z", period_col).alias("_zlast")))
    j = mk.join(last, [cx, cy])
    hot = F.col("_zlast") >= z_hot
    cat = (F.when(hot & (F.col("z") > z_trend), "intensifying")
           .when(hot & (F.col("z") < -z_trend), "diminishing")
           .when(hot, "persistent")
           .when(F.col("z") > z_trend, "emerging")
           .otherwise("none"))
    return j.select(cx, cy, "n_periods",
                    F.round(F.col("z"), round_to).alias("trend_z"),
                    F.round(F.col("_zlast"), round_to).alias("last_z"),
                    cat.alias("category"))


def kulldorff_scan(cells: DataFrame, max_radius: int = 2, top: int = 5, *,
                   cx: str = "cx", cy: str = "cy", val_col: str = "v",
                   round_to: int = 6) -> DataFrame:
    """Kulldorff spatial scan statistic (Kulldorff 1997) over square
    cells under the CSR null (uniform baseline across OCCUPIED cells):
    scan windows are (center cell, Chebyshev radius rho in
    0..``max_radius``); a window containing m of the M occupied cells
    and n of the N events has expectation mu = N * m / M and
    Poisson log-likelihood ratio

        LLR = n ln(n/mu) + (N-n) ln((N-n)/(N-mu))   if n > mu, else 0

    Returns the ``top`` windows by (llr desc, cx, cy, rho) —
    the most anomalous clusters, deduplicated only by exact window
    identity (overlap pruning is the caller's policy, as in SaTScan).

    Scale shape: one bounded offset explode per radius (at most
    (2*max_radius+1)^2 rows per cell), one hash aggregation per
    window key, one O(1)-row global aggregate joined back, and the
    top-k as orderBy().limit() — TakeOrderedAndProject, a per-
    partition top-k with no single-partition exchange. No cross
    product, no Python. All LLR inputs are exact integer sums, so
    both engines emit identical doubles."""
    tot = cells.agg(F.sum(val_col).alias("_nn"),
                    F.count(F.lit(1)).alias("_mm"))

    spans = []
    for rho in range(max_radius + 1):
        offs = F.array(*[
            F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
            for dx in range(-rho, rho + 1) for dy in range(-rho, rho + 1)])
        spans.append(
            cells.select(cx, cy, val_col, F.explode(offs).alias("o"))
            .select((F.col(cx) + F.col("o.dx")).alias(cx),
                    (F.col(cy) + F.col("o.dy")).alias(cy),
                    F.lit(rho).alias("rho"), val_col))
    contrib = spans[0]
    for s in spans[1:]:
        contrib = contrib.unionByName(s)
    wins = (contrib.join(cells.select(cx, cy).distinct(), [cx, cy])
            .groupBy(cx, cy, "rho")
            .agg(F.sum(val_col).alias("n_in"),
                 F.count(F.lit(1)).alias("m_in")))
    j = wins.crossJoin(tot)  # tot is ONE row — O(1) by design
    n = F.col("n_in").cast("double")
    nn = F.col("_nn").cast("double")
    mu = nn * F.col("m_in") / F.col("_mm")
    rest = (F.when(nn - n > 0,
                   (nn - n) * F.log((nn - n) / (nn - mu)))
            .otherwise(F.lit(0.0)))
    llr = F.when(n > mu, n * F.log(n / mu) + rest).otherwise(F.lit(0.0))
    scored = j.select(cx, cy, "rho", F.col("n_in").cast("bigint").alias("n_in"),
                      F.col("m_in").cast("bigint").alias("m_cells"),
                      F.round(llr, round_to).alias("llr"))
    return scored.orderBy(F.desc("llr"), cx, cy, "rho").limit(top)


def nearest_site_join(points: DataFrame, sites: DataFrame, cell: float, *,
                      point_id: str = "event_id", site_id: str = "site_id",
                      x_col: str = "x", y_col: str = "y",
                      max_rounds: int = 8,
                      round_to: int = 6) -> DataFrame:
    """EXACT cross-table 1-NN join: each point gets its nearest site
    (ties by smallest site id) — the :func:`nn_distances` doubling-
    cell discipline generalized to two tables (there: a point set
    against itself). Unlike ``knn_join.knn_nearest_points``-style
    fixed-ring top-k (k nearest AMONG one ring's candidates at a
    chosen zoom), this escalates until the minimum is PROVABLY
    global — use the fixed-ring form when a bounded search radius is
    the semantics, this one when exactness is. At cell size c every site within distance c of a
    point lies in the 3x3 ring of the point's cell, so a ring minimum
    d <= c is PROVABLY the global nearest; points whose ring minimum
    exceeds c (or with an empty ring) escalate to 2c. Exhausting
    ``max_rounds`` doublings raises — loud guard, no approximation.

    Scale shape per round: one equi-join on the cell key over the
    9-cell ring (O(points x local site density), never points x
    sites), one min-struct aggregation; unresolved points shrink
    geometrically. Hot cells salt like hot tiles (pip_join).

    Returns (point_id, site_id, nn_dist)."""
    pts = points.select(F.col(point_id).alias("_pid"),
                        F.col(x_col).cast("double").alias("_x"),
                        F.col(y_col).cast("double").alias("_y"))
    sts = sites.select(F.col(site_id).alias("_sid"),
                       F.col(x_col).cast("double").alias("_sx"),
                       F.col(y_col).cast("double").alias("_sy"))
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    unresolved = pts
    resolved = []
    for rnd in range(max_rounds):
        c = float(cell) * (2 ** rnd)
        left = (unresolved
                .withColumn("_cx", F.floor(F.col("_x") / c))
                .withColumn("_cy", F.floor(F.col("_y") / c)))
        right = (sts.withColumn("_o", F.explode(offs))
                 .select("_sid", "_sx", "_sy",
                         (F.floor(F.col("_sx") / c)
                          + F.col("_o.dx")).alias("_cx"),
                         (F.floor(F.col("_sy") / c)
                          + F.col("_o.dy")).alias("_cy")))
        d2 = ((F.col("_x") - F.col("_sx")) * (F.col("_x") - F.col("_sx"))
              + (F.col("_y") - F.col("_sy")) * (F.col("_y") - F.col("_sy")))
        best = (left.join(right, ["_cx", "_cy"])
                .groupBy("_pid")
                .agg(F.min(F.struct(d2.alias("d2"),
                                    F.col("_sid").alias("sid"))).alias("b")))
        ok = (best.filter(F.col("b.d2") <= F.lit(c * c))
              .select("_pid", F.col("b.sid").alias(site_id),
                      F.round(F.sqrt("b.d2"), round_to).alias("nn_dist")))
        ok = ok.localCheckpoint(eager=True)
        resolved.append(ok)
        unresolved = unresolved.join(ok.select("_pid"), "_pid",
                                     "left_anti").localCheckpoint(eager=True)
        if unresolved.limit(1).count() == 0:
            break
    else:
        raise RuntimeError(
            f"nearest_site_join: points still unresolved after "
            f"{max_rounds} cell doublings from {cell} — raise "
            "max_rounds or cell")
    out = resolved[0]
    for part in resolved[1:]:
        out = out.unionByName(part)
    return out.withColumnRenamed("_pid", point_id)


def empirical_variogram(samples: DataFrame, max_lag: float,
                        n_bins: int, *, x_col: str = "x",
                        y_col: str = "y", z_col: str = "z",
                        round_to: int = 6) -> DataFrame:
    """Empirical semivariogram (Matheron estimator): gamma(h) =
    (1/2) * mean over point pairs with distance in lag bin h of
    (z_i - z_j)^2 — the structure function kriging fits its model to.
    Bins are [k*w, (k+1)*w), w = max_lag / n_bins; pairs at distance
    >= max_lag drop; each unordered pair counts once via strict
    (x, y, z) lexicographic order — rows that are EXACT duplicates
    (same x, y, z) never pair, a documented contract mirrored by the
    oracle. Integer z keeps every squared difference and sum exact,
    so gamma is a deterministic double.

    Scale shape: candidate pairs come from a 3x3 ring equi-join at
    cell size max_lag (every pair within max_lag shares a ring) —
    O(points x local density), never O(n^2); then one hash
    aggregation per bin. Returns (bin, lag_lo, lag_hi, n_pairs,
    gamma, mean_dist)."""
    pts = samples.select(F.col(x_col).cast("double").alias("_x"),
                         F.col(y_col).cast("double").alias("_y"),
                         F.col(z_col).alias("_z"))
    c = float(max_lag)
    a = (pts.withColumn("_cx", F.floor(F.col("_x") / c))
         .withColumn("_cy", F.floor(F.col("_y") / c)))
    offs = F.array(*[F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
                     for dx in (-1, 0, 1) for dy in (-1, 0, 1)])
    b = (pts.select(F.col("_x").alias("_x2"), F.col("_y").alias("_y2"),
                    F.col("_z").alias("_z2"))
         .withColumn("_o", F.explode(offs))
         .select("_x2", "_y2", "_z2",
                 (F.floor(F.col("_x2") / c) + F.col("_o.dx")).alias("_cx"),
                 (F.floor(F.col("_y2") / c) + F.col("_o.dy")).alias("_cy")))
    pairs = (a.join(b, ["_cx", "_cy"])
             .filter(F.struct("_x", "_y", "_z")
                     < F.struct(F.col("_x2").alias("_x"),
                                F.col("_y2").alias("_y"),
                                F.col("_z2").alias("_z"))))
    d2 = ((F.col("_x") - F.col("_x2")) * (F.col("_x") - F.col("_x2"))
          + (F.col("_y") - F.col("_y2")) * (F.col("_y") - F.col("_y2")))
    w = c / int(n_bins)
    dist = F.sqrt(d2)
    dz = (F.col("_z") - F.col("_z2")).cast("double")
    # every aggregated term (dz^2, d2) is an exact integer for
    # integer-valued inputs, so the shuffle-order-dependent double
    # sums are still bitwise deterministic; avg(sqrt(d2)) would NOT
    # be — hence rms_dist, not mean_dist
    binned = (pairs.select(dist.alias("_d"), d2.alias("_d2"),
                           (dz * dz).alias("_dz2"))
              .filter(F.col("_d") < c)
              .withColumn("_bin", F.floor(F.col("_d") / F.lit(w))))
    agg = (binned.groupBy("_bin")
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                F.sum("_dz2").alias("_s"), F.sum("_d2").alias("_sd2")))
    return (agg.select(
        F.col("_bin").cast("int").alias("bin"),
        F.round(F.col("_bin") * w, round_to).alias("lag_lo"),
        F.round((F.col("_bin") + 1) * w, round_to).alias("lag_hi"),
        "n_pairs",
        F.round(F.col("_s") / (2.0 * F.col("n_pairs")), round_to)
        .alias("gamma"),
        F.round(F.sqrt(F.col("_sd2") / F.col("n_pairs")), round_to)
        .alias("rms_dist"))
        .orderBy("bin"))


def std_deviational_ellipse(points: DataFrame, group_cols: list, *,
                            x_col: str = "x", y_col: str = "y",
                            round_to: int = 6) -> DataFrame:
    """Standard deviational ellipse per group (Lefever 1926; the
    CrimeStat/ArcGIS directional-distribution summary): mean center,
    orientation theta = 0.5 * atan2(2*cov, var_x - var_y) normalized
    to [0, 180) degrees, and the semi-axis lengths sqrt of the
    covariance eigenvalues lambda = ((vx + vy) +- sqrt((vx - vy)^2 +
    4 cov^2)) / 2. One hash aggregation per group over five exact
    integer sums (n, Sx, Sy, Sxx, Syy, Sxy for integer-valued
    coordinates), so every emitted double is deterministic.

    Returns (group..., n, mean_x, mean_y, angle_deg, sigma_major,
    sigma_minor). Groups with n < 2 or zero total variance drop
    (no direction to report) — mirrored by the oracle."""
    keys = [str(k) for k in group_cols]
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    agg = (points.groupBy(*keys)
           .agg(F.count(F.lit(1)).alias("_n"),
                F.sum(x).alias("_sx"), F.sum(y).alias("_sy"),
                F.sum(x * x).alias("_sxx"), F.sum(y * y).alias("_syy"),
                F.sum(x * y).alias("_sxy"))
           .filter(F.col("_n") >= 2))
    n = F.col("_n").cast("double")
    mx = F.col("_sx") / n
    my = F.col("_sy") / n
    vx = F.col("_sxx") / n - mx * mx
    vy = F.col("_syy") / n - my * my
    cv = F.col("_sxy") / n - mx * my
    disc = F.sqrt((vx - vy) * (vx - vy) + 4.0 * cv * cv)
    l1 = (vx + vy + disc) / 2.0
    l2 = (vx + vy - disc) / 2.0
    deg = 180.0 / math.pi
    ang = F.atan2(2.0 * cv, vx - vy) * 0.5 * F.lit(deg)
    ang = F.when(ang < 0, ang + 180.0).otherwise(ang)
    return (agg.filter((vx + vy) > 0)
            .select(*keys, F.col("_n").cast("bigint").alias("n"),
                    F.round(mx, round_to).alias("mean_x"),
                    F.round(my, round_to).alias("mean_y"),
                    F.round(ang, round_to).alias("angle_deg"),
                    F.round(F.sqrt(l1), round_to).alias("sigma_major"),
                    F.round(F.sqrt(F.greatest(l2, F.lit(0.0))),
                            round_to).alias("sigma_minor")))


def knox_test(points: DataFrame, delta: float, tau: float, *,
              id_col: str = "id", x: str = "x", y: str = "y",
              t: str = "t", round_to: int = 6) -> DataFrame:
    """Knox space-time interaction statistic: over all unordered point
    pairs, X = #(close in space AND time), compared to the
    independence expectation E = Ns * Nt / C(n, 2) (Ns, Nt the
    marginal close-pair counts). X/E >> 1 signals space-time
    clustering (epidemiology's contagion screen; for a web corpus,
    coordinated-burst detection over geotagged events).

    Scale shape: each pair family is a BOUNDED bucket join, never the
    cross product the definition states — spatial pairs from the
    3x3 cell-ring at cell = delta, temporal pairs from the 3-offset
    time-bucket ring at bucket = tau, joint pairs from the 3-D ring.
    All counts integer; one exact division at the end. Returns a single row
    (n_points, n_space_pairs, n_time_pairs, n_joint_pairs, expected,
    knox_ratio)."""
    pts = points.select(F.col(id_col).alias("_pid"),
                        F.col(x).cast("double").alias("_x"),
                        F.col(y).cast("double").alias("_y"),
                        F.col(t).cast("double").alias("_t"))
    ds, dt = float(delta), float(tau)

    def ring_pairs(df, dims):
        # dims: list of (col, size); unordered pairs _a < _b once each
        home = df
        for c, s in dims:
            home = home.withColumn(f"_h{c}", F.floor(F.col(c) / s))
        hcols = [f"_h{c}" for c, _ in dims]
        offs = [()]
        for _ in dims:
            offs = [o + (d,) for o in offs for d in (-1, 0, 1)]
        arr = F.array(*[
            F.struct(*[F.lit(o[i]).alias(f"d{i}") for i in range(len(dims))])
            for o in offs])
        left = home.select(
            F.col("_pid").alias("_a"),
            *[F.col(c).alias(f"_a{c}") for c, _ in dims],
            F.explode(arr).alias("o"))
        left = left.select(
            "_a", *[F.col(f"_a{c}") for c, _ in dims],
            *[(F.floor(F.col(f"_a{dims[i][0]}") / dims[i][1])
               + F.col(f"o.d{i}")).alias(hcols[i])
              for i in range(len(dims))])
        right = home.select(
            F.col("_pid").alias("_b"),
            *[F.col(c).alias(f"_b{c}") for c, _ in dims], *hcols)
        return left.join(right, hcols).filter(F.col("_a") < F.col("_b"))

    # spatial close pairs
    sp = ring_pairs(pts, [("_x", ds), ("_y", ds)])
    dxc = F.col("_a_x") - F.col("_b_x")
    dyc = F.col("_a_y") - F.col("_b_y")
    ns = sp.filter(dxc * dxc + dyc * dyc <= F.lit(ds * ds)) \
        .select("_a", "_b").count()
    # temporal close pairs
    tp = ring_pairs(pts, [("_t", dt)])
    nt = tp.filter(F.abs(F.col("_a_t") - F.col("_b_t")) <= F.lit(dt)) \
        .select("_a", "_b").count()
    # joint pairs
    jp = ring_pairs(pts, [("_x", ds), ("_y", ds), ("_t", dt)])
    dxj = F.col("_a_x") - F.col("_b_x")
    dyj = F.col("_a_y") - F.col("_b_y")
    nj = (jp.filter((dxj * dxj + dyj * dyj <= F.lit(ds * ds))
                    & (F.abs(F.col("_a_t") - F.col("_b_t")) <= F.lit(dt)))
          .select("_a", "_b").count())
    n = pts.count()
    npairs = n * (n - 1) // 2
    spark = points.sparkSession
    exp = float(ns) * float(nt) / float(npairs) if npairs else 0.0
    ratio = float(nj) / exp if exp else 0.0
    return spark.createDataFrame(
        [(n, ns, nt, nj, round(exp, round_to), round(ratio, round_to))],
        "n_points long, n_space_pairs long, n_time_pairs long, "
        "n_joint_pairs long, expected double, knox_ratio double")


def local_moran(cells: DataFrame, *, cx: str = "cx", cy: str = "cy",
                val_col: str = "val", round_to: int = 6) -> DataFrame:
    """Local Moran's I (Anselin 1995 LISA) per occupied grid cell
    with rook (4-neighbor) binary weights:

        I_i = z_i * sum_{j in N(i)} z_j / m2,   m2 = sum z^2 / n

    plus the Moran-scatter quadrant label (HH/LL/HL/LH from the signs
    of z_i and its spatial lag) — the per-cell decomposition the
    global `moran_i_hex` aggregates away, and the standard map of
    WHERE clustering lives. Cells with no occupied rook neighbor
    drop (their lag is undefined).

    Scale shape: the focal discipline — one bounded 4-offset explode
    + equi-join for the lag sum, two global scalar aggregates (mean,
    m2) collected once; no window, no self-join beyond the ring."""
    stats = cells.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(val_col) / F.count(F.lit(1))).alias("m")).collect()[0]
    n, m = int(stats["n"]), float(stats["m"])
    dev = cells.select(cx, cy, (F.col(val_col) - F.lit(m)).alias("_z"))
    m2 = dev.agg((F.sum(F.col("_z") * F.col("_z"))
                  / F.lit(float(n))).alias("m2")).collect()[0]["m2"]
    offs = F.array(*[F.struct(F.lit(a).alias("dx"), F.lit(b).alias("dy"))
                     for a, b in ((1, 0), (-1, 0), (0, 1), (0, -1))])
    shifted = (dev.select(F.explode(offs).alias("o"), cx, cy, "_z")
               .select((F.col(cx) + F.col("o.dx")).alias(cx),
                       (F.col(cy) + F.col("o.dy")).alias(cy),
                       F.col("_z").alias("_zn")))
    lag = (dev.join(shifted, [cx, cy])
           .groupBy(cx, cy, "_z")
           .agg(F.sum("_zn").alias("_lag"),
                F.count(F.lit(1)).cast("bigint").alias("n_nbrs")))
    quad = (F.when((F.col("_z") >= 0) & (F.col("_lag") >= 0), "HH")
            .when((F.col("_z") < 0) & (F.col("_lag") < 0), "LL")
            .when((F.col("_z") >= 0) & (F.col("_lag") < 0), "HL")
            .otherwise("LH"))
    return lag.select(
        cx, cy,
        F.round(F.col("_z") * F.col("_lag") / F.lit(float(m2)),
                round_to).alias("local_i"),
        "n_nbrs", quad.alias("quadrant"))


def cross_k(points: DataFrame, rs: list, area: float, *,
            type_col: str = "ptype", type_a: str = "a",
            type_b: str = "b", x_col: str = "x", y_col: str = "y",
            id_col: str = "event_id") -> DataFrame:
    """Bivariate (cross) Ripley K: K_ab(r) = A / (n_a n_b) x
    #{(i in A, j in B) : d_ij <= r} — attraction/repulsion BETWEEN
    two point types (cases vs controls, shops vs transit), the
    marked-point-process twin of :func:`ripley_k`. No edge
    correction (naive estimator), squared-distance compares.

    Scale shape: identical to ripley_k — one k-ring bucketed join at
    cell = max(rs), counts reach the driver as one O(|rs|) row."""
    rmax = float(max(rs))
    pa = (points.filter(F.col(type_col) == type_a)
          .select(F.col(id_col).alias("pid"),
                  F.col(x_col).alias("px"), F.col(y_col).alias("py"),
                  F.floor(F.col(x_col) / rmax).alias("cx"),
                  F.floor(F.col(y_col) / rmax).alias("cy")))
    pb = (points.filter(F.col(type_col) == type_b)
          .select(F.col(id_col).alias("qid"),
                  F.col(x_col).alias("qx"), F.col(y_col).alias("qy"),
                  F.floor(F.col(x_col) / rmax).alias("cx"),
                  F.floor(F.col(y_col) / rmax).alias("cy")))
    offs = F.explode(F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1)])).alias("o")
    probe = (pa.select("pid", "px", "py", "cx", "cy", offs)
             .select("pid", "px", "py",
                     (F.col("cx") + F.col("o.dx")).alias("cx"),
                     (F.col("cy") + F.col("o.dy")).alias("cy")))
    j = probe.join(pb, ["cx", "cy"])
    d2 = ((F.col("px") - F.col("qx")) ** 2
          + (F.col("py") - F.col("qy")) ** 2)
    counts = j.agg(*[
        F.coalesce(
            F.sum(F.when(d2 <= F.lit(float(r) * float(r)), 1)
                  .otherwise(0)), F.lit(0))
        .alias(f"c{i}") for i, r in enumerate(rs)])
    na = pa.count()
    nb = pb.count()
    denom = float(na) * float(nb)
    return counts.select(F.explode(F.array(*[
        F.struct(F.lit(float(r)).alias("r"),
                 F.round(F.col(f"c{i}") * F.lit(area) / F.lit(denom), 6)
                 .alias("k_ab"),
                 F.col(f"c{i}").cast("bigint").alias("n_pairs"))
        for i, r in enumerate(rs)])).alias("e")).select(
            "e.r", "e.k_ab", "e.n_pairs")


def moran_correlogram(cells: DataFrame, ks: list, *, cx: str = "cx",
                      cy: str = "cy", val_col: str = "val",
                      round_to: int = 6) -> DataFrame:
    """Spatial correlogram: global Moran's I at Chebyshev ring
    distances k in ``ks`` (weights 1 for cells with max(|dx|, |dy|)
    = k exactly) — I(k) decaying toward 0 reveals the correlation
    RANGE, the piece the single-ring `moran_i_hex` can't see and the
    variogram's autocorrelation twin.

    One explode over all rings' offsets (8k per ring, bounded) +
    one equi-join + a per-ring aggregate; the mean and deviation
    square sum ship as literals/one-row frames (the moran
    discipline). Returns (k, w_pairs, moran_i)."""
    stats = cells.agg(
        F.count(F.lit(1)).alias("n"),
        (F.sum(val_col) / F.count(F.lit(1))).alias("m")).collect()[0]
    n, m = int(stats["n"]), float(stats["m"])
    dev = cells.select(cx, cy, (F.col(val_col) - F.lit(m)).alias("_z"))
    ss = dev.agg(F.sum(F.col("_z") * F.col("_z")).alias("ss")) \
        .collect()[0]["ss"]
    offs = []
    for k in ks:
        k = int(k)
        for dx in range(-k, k + 1):
            for dy in range(-k, k + 1):
                if max(abs(dx), abs(dy)) == k:
                    offs.append((k, dx, dy))
    arr = F.array(*[F.struct(F.lit(k).alias("k"), F.lit(a).alias("dx"),
                             F.lit(b).alias("dy"))
                    for k, a, b in offs])
    shifted = (dev.select(F.explode(arr).alias("o"), cx, cy, "_z")
               .select(F.col("o.k").alias("_k"),
                       (F.col(cx) + F.col("o.dx")).alias(cx),
                       (F.col(cy) + F.col("o.dy")).alias(cy),
                       F.col("_z").alias("_zn")))
    pairs = dev.join(shifted, [cx, cy])
    return (pairs.groupBy("_k")
            .agg(F.count(F.lit(1)).cast("bigint").alias("w_pairs"),
                 F.sum(F.col("_z") * F.col("_zn")).alias("_cross"))
            .select(F.col("_k").alias("k"), "w_pairs",
                    F.round((F.lit(float(n)) / F.col("w_pairs"))
                            * F.col("_cross") / F.lit(float(ss)),
                            round_to).alias("moran_i")))


def ritter_bounding_circle(points: DataFrame, group_cols: list, *,
                           id_col: str = "event_id", x: str = "x",
                           y: str = "y", round_to: int = 6) -> DataFrame:
    """Approximate minimum enclosing circle per group via Ritter's
    algorithm (Ritter 1990, Graphics Gems): seed with the point
    farthest from the first point, the point farthest from THAT, take
    their midpoint circle, then sweep all points once in id order
    growing the circle (guaranteed <= ~5% over the optimum) — the
    coverage-disc summary next to std_dev_ellipse's variance ellipse.

    Execution discipline as holt_last/croston_last: ONE groupBy
    collects the group's points into an id-sorted array, and every
    stage — both farthest-point scans and the sequential growth sweep
    — is an aggregate() fold over that array, so the arithmetic runs
    in identical order on any engine (ties break to the earlier
    point: strict > comparisons). Memory contract: per-group array in
    executor memory; pre-partition mega-groups first."""
    pt = F.struct(F.col(id_col).alias("_i"),
                  F.col(x).cast("double").alias("_x"),
                  F.col(y).cast("double").alias("_y"))
    g = (points.groupBy(*group_cols)
         .agg(F.array_sort(F.collect_list(pt)).alias("arr"))
         .filter(F.size("arr") >= 2))

    def far(from_x: str, from_y: str) -> str:
        # fold: keep the strictly-farthest point from (from_x, from_y)
        return (f"aggregate(arr, "
                f"named_struct('d2', CAST(-1 AS DOUBLE), "
                f"             'x', CAST(0 AS DOUBLE), "
                f"             'y', CAST(0 AS DOUBLE)), "
                f"(s, p) -> IF((p._x - {from_x}) * (p._x - {from_x}) "
                f"   + (p._y - {from_y}) * (p._y - {from_y}) > s.d2, "
                f"  named_struct('d2', (p._x - {from_x}) * (p._x - {from_x}) "
                f"     + (p._y - {from_y}) * (p._y - {from_y}), "
                f"     'x', p._x, 'y', p._y), s))")

    g = g.withColumn("_p1", F.expr(far("arr[0]._x", "arr[0]._y")))
    g = g.withColumn("_p2", F.expr(far("_p1.x", "_p1.y")))
    sweep = ("aggregate(arr, "
             "named_struct('cx', (_p1.x + _p2.x) / 2, "
             "             'cy', (_p1.y + _p2.y) / 2, "
             "             'r', sqrt(_p2.d2) / 2), "
             "(s, p) -> IF(sqrt((p._x - s.cx) * (p._x - s.cx) "
             "     + (p._y - s.cy) * (p._y - s.cy)) > s.r, "
             "  named_struct("
             "    'cx', s.cx + ((sqrt((p._x - s.cx) * (p._x - s.cx) "
             "       + (p._y - s.cy) * (p._y - s.cy)) "
             "       - (s.r + sqrt((p._x - s.cx) * (p._x - s.cx) "
             "       + (p._y - s.cy) * (p._y - s.cy))) / 2) "
             "       / sqrt((p._x - s.cx) * (p._x - s.cx) "
             "       + (p._y - s.cy) * (p._y - s.cy))) * (p._x - s.cx), "
             "    'cy', s.cy + ((sqrt((p._x - s.cx) * (p._x - s.cx) "
             "       + (p._y - s.cy) * (p._y - s.cy)) "
             "       - (s.r + sqrt((p._x - s.cx) * (p._x - s.cx) "
             "       + (p._y - s.cy) * (p._y - s.cy))) / 2) "
             "       / sqrt((p._x - s.cx) * (p._x - s.cx) "
             "       + (p._y - s.cy) * (p._y - s.cy))) * (p._y - s.cy), "
             "    'r', (s.r + sqrt((p._x - s.cx) * (p._x - s.cx) "
             "       + (p._y - s.cy) * (p._y - s.cy))) / 2), "
             "  s))")
    g = g.withColumn("_c", F.expr(sweep))
    return g.select(
        *group_cols,
        F.size("arr").cast("bigint").alias("n_points"),
        F.round(F.col("_c.cx"), round_to).alias("center_x"),
        F.round(F.col("_c.cy"), round_to).alias("center_y"),
        F.round(F.col("_c.r"), round_to).alias("radius"))
