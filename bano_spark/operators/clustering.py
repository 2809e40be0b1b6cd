"""Distributed Lloyd's k-means over embedding columns.

The trainable-codebook counterpart to the deterministic quantizers in
`similarity.py` (ivf_cell's axis cells, pq_encode's axis codebook):
run a few Lloyd iterations to get data-adapted centroids for IVF
cells or PQ codebooks.

Scale shape per iteration: assignment is a pure column expression
(the k centroids are literals — k*dim doubles — so no join at all),
and the centroid update is one hash aggregation over (cluster,
dimension) pairs via posexplode, O(k*dim) rows collected to the
driver. Nothing ever shuffles the vectors themselves except the
posexplode aggregation, which carries (cluster, pos, component).

Determinism (and hence oracle-exactness in plain SQL): init is the k
smallest-id vectors; updated centroid components are rounded to 6
decimals and distances to 4 before any comparison, so both engines
iterate on identical quantized state regardless of their summation
order, and argmin ties break on the lowest cluster id in both.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _dist_cols(vec_col: str, cents: list[list[float]], dim: int):
    """Squared distance to each centroid as ONE higher-order fold per
    centroid: aggregate(zip_with(vec, literal_centroid, diff^2)).
    aggregate folds left-to-right in element order, i.e. the exact
    floating-point association (((t1+t2)+t3)+...) of the unrolled sum
    this replaces — results are bit-identical, but the plan carries 1
    expression per centroid instead of ``dim`` chained adds (64x less
    codegen to compile per assignment pass)."""
    dists = []
    for c in cents:
        lit = "array(" + ", ".join(
            f"CAST({float(c[i])!r} AS DOUBLE)" for i in range(dim)) + ")"
        acc = F.expr(
            f"aggregate(zip_with({vec_col}, {lit},"
            " (x, c) -> (CAST(x AS DOUBLE) - c) * (CAST(x AS DOUBLE) - c)),"
            " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")
        dists.append(F.round(acc, 4))
    return dists


def _assign(vecs: DataFrame, cents: list[list[float]], vec_col: str,
            dim: int) -> DataFrame:
    dists = _dist_cols(vec_col, cents, dim)
    best = F.least(*dists)
    cl = F.when(dists[0] == best, F.lit(0))
    for j in range(1, len(cents)):
        cl = cl.when(dists[j] == best, F.lit(j))
    return vecs.withColumn("cluster", cl.cast("int")) \
        .withColumn("dist", best)


def kmeans_assign(vecs: DataFrame, k: int = 4, iters: int = 2,
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  dim: int = 64) -> DataFrame:
    """(id, cluster, dist) after ``iters`` Lloyd iterations from the
    deterministic init (vectors with the k smallest ids). ``dist`` is
    the squared distance to the final centroid, rounded to 4."""
    init_rows = (vecs.orderBy(id_col).limit(k)
                 .select(vec_col).collect())
    cents = [[float(x) for x in r[0]] for r in init_rows]
    for _ in range(iters):
        assigned = _assign(vecs, cents, vec_col, dim)
        upd = (assigned
               .select("cluster", F.posexplode(F.col(vec_col))
                       .alias("pos", "comp"))
               .groupBy("cluster", "pos")
               .agg(F.round(F.avg(F.col("comp").cast("double")), 6)
                    .alias("c"))
               .collect())
        new = {j: list(cents[j]) for j in range(k)}
        for r in upd:
            new[r["cluster"]][r["pos"]] = float(r["c"])
        cents = [new[j] for j in range(k)]
    return _assign(vecs, cents, vec_col, dim).select(
        id_col, "cluster", "dist")


def dbscan(points: DataFrame, eps: float, min_pts: int, *,
           id_col: str = "id", x: str = "x", y: str = "y",
           zoom: int | None = None) -> DataFrame:
    """Deterministic grid DBSCAN: (id, role, cluster) with role in
    core/border/noise and cluster the MIN point id of the cluster's
    core set (noise -> NULL cluster).

    Semantics pinned for engine-independence (classic DBSCAN leaves
    border assignment scan-order-dependent): a point is core when its
    eps-neighborhood INCLUDING ITSELF holds >= min_pts points;
    clusters are connected components of the core-core eps graph; a
    border point joins the cluster of its minimum-labelled core
    neighbor; everything else is noise. Every rule is order-free, so
    any implementation produces identical output.

    Scale shape: neighborhoods come from the auto-zoomed k-ring cell
    join (`dwithin_pairs` — never a cross product, candidates bounded
    by true spatial density); components run min-label pointer rounds
    with per-round localCheckpoints. Pair volume is the sum of
    squared neighborhood sizes — DBSCAN's intrinsic cost; hot cells
    salt like every cell join in the engine."""
    from .components import connected_components
    from .knn_join import dwithin_pairs

    pts = points.select(F.col(id_col).alias("_pid"), x, y)
    kwargs = {} if zoom is None else {"zoom": zoom}
    pairs = dwithin_pairs(
        pts.withColumnRenamed("_pid", "_a"), pts.withColumnRenamed("_pid", "_b"),
        eps, left_id="_a", right_id="_b", **kwargs).select("_a", "_b")
    # neighborhood size includes the point itself (the (p, p) self pair)
    nsize = pairs.groupBy("_a").agg(F.count(F.lit(1)).alias("_n"))
    core = nsize.filter(F.col("_n") >= min_pts).select("_a").cache()
    core_edges = (pairs.filter(F.col("_a") < F.col("_b"))
                  .join(core, "_a")
                  .join(core.withColumnRenamed("_a", "_b"), "_b"))
    comp = connected_components(core_edges, src="_a", dst="_b") \
        .withColumnRenamed("id", "_a").withColumnRenamed("comp", "_cl")
    # singleton cores never appear in an edge: they label themselves
    core_labels = (core.join(comp, "_a", "left")
                   .select("_a", F.coalesce("_cl", F.col("_a")).alias("_cl")))
    border = (pairs.join(core_labels.withColumnRenamed("_a", "_b"), "_b")
              .filter(F.col("_a") != F.col("_b"))
              .join(core_labels.select("_a"), "_a", "left_anti")
              .groupBy("_a").agg(F.min("_cl").alias("_cl")))
    labelled = (core_labels.withColumn("role", F.lit("core"))
                .unionByName(border.withColumn("role", F.lit("border"))))
    return (pts.join(labelled, pts["_pid"] == labelled["_a"], "left")
            .select(F.col("_pid").alias(id_col),
                    F.coalesce("role", F.lit("noise")).alias("role"),
                    F.col("_cl").alias("cluster")))


def st_dbscan(points: DataFrame, eps_s: float, eps_t: float,
              min_pts: int, *, id_col: str = "id", x: str = "x",
              y: str = "y", t: str = "t") -> DataFrame:
    """Deterministic ST-DBSCAN (Birant & Kut 2007): DBSCAN whose
    neighborhood requires BOTH spatial distance <= eps_s and temporal
    distance <= eps_t — the stay-region / event-burst clusterer. Same
    order-free role/label semantics as :func:`dbscan` (core by
    self-inclusive neighborhood size, clusters = components of the
    core graph labelled by min core id, borders attach to the min
    labelled core neighbor).

    Scale shape: candidates come from a 3-D (cell_x, cell_y,
    time_bucket) home join — cells sized eps_s, buckets sized eps_t,
    one bounded 27-offset explode on the left side against the homed
    right side; a dense static location spread over years never
    pairs across distant times (the time axis prunes INSIDE candidate
    generation, not after). Exact predicate refines in-join; the
    component/border machinery is shared with dbscan."""
    from .components import connected_components

    pts = points.select(F.col(id_col).alias("_pid"),
                        F.col(x).cast("double").alias("_x"),
                        F.col(y).cast("double").alias("_y"),
                        F.col(t).cast("double").alias("_t"))
    cs, ct = float(eps_s), float(eps_t)
    home = pts.select(
        "_pid", "_x", "_y", "_t",
        F.floor(F.col("_x") / cs).alias("_cx"),
        F.floor(F.col("_y") / cs).alias("_cy"),
        F.floor(F.col("_t") / ct).alias("_cb"))
    offs = F.array(*[
        F.struct(F.lit(dx).alias("dx"), F.lit(dy).alias("dy"),
                 F.lit(db).alias("db"))
        for dx in (-1, 0, 1) for dy in (-1, 0, 1) for db in (-1, 0, 1)])
    left = (home.select("_pid", "_x", "_y", "_t", "_cx", "_cy", "_cb",
                        F.explode(offs).alias("o"))
            .select(F.col("_pid").alias("_a"),
                    F.col("_x").alias("_ax"), F.col("_y").alias("_ay"),
                    F.col("_t").alias("_at"),
                    (F.col("_cx") + F.col("o.dx")).alias("_cx"),
                    (F.col("_cy") + F.col("o.dy")).alias("_cy"),
                    (F.col("_cb") + F.col("o.db")).alias("_cb")))
    right = home.select(F.col("_pid").alias("_b"),
                        F.col("_x").alias("_bx"), F.col("_y").alias("_by"),
                        F.col("_t").alias("_bt"), "_cx", "_cy", "_cb")
    dx = F.col("_ax") - F.col("_bx")
    dy = F.col("_ay") - F.col("_by")
    pairs = (left.join(right, ["_cx", "_cy", "_cb"])
             .filter((dx * dx + dy * dy <= F.lit(cs * cs))
                     & (F.abs(F.col("_at") - F.col("_bt")) <= F.lit(ct)))
             .select("_a", "_b"))
    nsize = pairs.groupBy("_a").agg(F.count(F.lit(1)).alias("_n"))
    core = nsize.filter(F.col("_n") >= min_pts).select("_a").cache()
    core_edges = (pairs.filter(F.col("_a") < F.col("_b"))
                  .join(core, "_a")
                  .join(core.withColumnRenamed("_a", "_b"), "_b"))
    comp = connected_components(core_edges, src="_a", dst="_b") \
        .withColumnRenamed("id", "_a").withColumnRenamed("comp", "_cl")
    core_labels = (core.join(comp, "_a", "left")
                   .select("_a", F.coalesce("_cl", F.col("_a")).alias("_cl")))
    border = (pairs.join(core_labels.withColumnRenamed("_a", "_b"), "_b")
              .filter(F.col("_a") != F.col("_b"))
              .join(core_labels.select("_a"), "_a", "left_anti")
              .groupBy("_a").agg(F.min("_cl").alias("_cl")))
    labelled = (core_labels.withColumn("role", F.lit("core"))
                .unionByName(border.withColumn("role", F.lit("border"))))
    return (pts.join(labelled, pts["_pid"] == labelled["_a"], "left")
            .select(F.col("_pid").alias(id_col),
                    F.coalesce("role", F.lit("noise")).alias("role"),
                    F.col("_cl").alias("cluster")))


def gmm_em_1d(df: DataFrame, value_col: str, *, iters: int = 3,
              resp_bits: int = 14, round_to: int = 6) -> DataFrame:
    """Two-component 1-D Gaussian mixture fitted by EM with a FIXED
    iteration unroll — the density-model companion of Lloyd's k-means,
    sharing its quantized-iteration float-parity discipline:

    - the input column must be dyadic-quantized upstream (e.g.
      floor(x * 4) / 4): with dyadic x and responsibilities floored
      to multiples of 2^-resp_bits, every weighted moment
      (sum r, sum r*x, sum r*x^2) is an EXACT double sum, so the
      parameter trajectory is identical across engines and across
      partitionings;
    - libm (exp) enters only BEFORE the responsibility flooring — a
      1-ulp cross-engine difference flips a floor with probability
      ~1e-10 per row;
    - per-iteration parameters are collected to the driver (O(1)
      scalars, the k-means centroid pattern) and re-entered as
      literals.

    Init: w = (.5, .5), mu = (min, max), both variances the
    population variance (floored at 1e-6 — the collapse guard,
    applied every iteration). E-step ties (both densities underflow
    to 0) split 0.5/0.5. Returns (component, weight, mu, sigma).

    Scale shape: one aggregate pass per iteration over the quantized
    column — map-side combinable, no window, no join; state is 6
    scalars."""
    q = float(1 << resp_bits)
    x = F.col(value_col).cast("double")
    base = df.select(x.alias("_x")).filter(F.col("_x").isNotNull())
    s = base.agg(F.count(F.lit(1)).alias("n"),
                 F.min("_x").alias("mn"), F.max("_x").alias("mx"),
                 F.sum("_x").alias("S"),
                 F.sum(F.col("_x") * F.col("_x")).alias("Q")).first()
    n = s["n"]
    v0 = max(s["Q"] / n - (s["S"] / n) * (s["S"] / n), 1e-6)
    w1, mu1, v1 = 0.5, s["mn"], v0
    w2, mu2, v2 = 0.5, s["mx"], v0
    import math as _m
    for _ in range(iters):
        p1 = (F.lit(w1)
              * F.exp(-(F.col("_x") - F.lit(mu1))
                      * (F.col("_x") - F.lit(mu1))
                      / F.lit(2.0 * v1)) / F.lit(_m.sqrt(v1)))
        p2 = (F.lit(w2)
              * F.exp(-(F.col("_x") - F.lit(mu2))
                      * (F.col("_x") - F.lit(mu2))
                      / F.lit(2.0 * v2)) / F.lit(_m.sqrt(v2)))
        r = F.when(p1 + p2 == 0.0, 0.5).otherwise(p1 / (p1 + p2))
        rq = F.floor(r * q) / q
        a = (base.select(rq.alias("_r"), "_x")
             .agg(F.sum("_r").alias("n1"),
                  F.sum(F.col("_r") * F.col("_x")).alias("sx1"),
                  F.sum(F.col("_r") * F.col("_x") * F.col("_x"))
                  .alias("sxx1"),
                  F.sum(F.lit(1.0) - F.col("_r")).alias("n2"),
                  F.sum((F.lit(1.0) - F.col("_r")) * F.col("_x"))
                  .alias("sx2"),
                  F.sum((F.lit(1.0) - F.col("_r")) * F.col("_x")
                        * F.col("_x")).alias("sxx2"))
             .first())
        n1, n2 = a["n1"], a["n2"]
        w1, w2 = n1 / n, n2 / n
        if n1 != 0.0:
            mu1 = a["sx1"] / n1
            v1 = max(a["sxx1"] / n1
                     - (a["sx1"] / n1) * (a["sx1"] / n1), 1e-6)
        else:
            v1 = max(v1, 1e-6)
        if n2 != 0.0:
            mu2 = a["sx2"] / n2
            v2 = max(a["sxx2"] / n2
                     - (a["sx2"] / n2) * (a["sx2"] / n2), 1e-6)
        else:
            v2 = max(v2, 1e-6)
    spark = df.sparkSession
    out = spark.createDataFrame(
        [(1, w1, mu1, v1), (2, w2, mu2, v2)],
        "component int, _w double, _mu double, _v double")
    return out.select(
        F.col("component").cast("bigint").alias("component"),
        F.round("_w", round_to).alias("weight"),
        F.round("_mu", round_to).alias("mu"),
        F.round(F.sqrt("_v"), round_to).alias("sigma")).orderBy("component")


def farthest_first_centers(points, group_col: str, id_col: str,
                           x_col: str, y_col: str, *, k: int = 4):
    """Farthest-first traversal per group (Gonzalez 1985 — the greedy
    2-approximation for k-center, and the deterministic cousin of
    kmeans++ seeding): start from the min-id point, then k-1 times
    add the point whose distance to the chosen set is largest (exact
    integer squared distances; ties -> min id). Returns one row per
    group with the ordered center ids and the final covering radius
    (max over points of squared distance to the nearest center).

    Scale shape: k-1 rounds of (points JOIN centers-so-far) — the
    centers side is O(groups x k) and broadcasts; per round one
    map-side-combinable (g, rid) min and one per-group max_by argmax.
    No windows over the data, no collects."""
    from pyspark.sql import functions as F

    pts = points.select(F.col(group_col).alias("g"),
                        F.col(id_col).cast("bigint").alias("rid"),
                        F.col(x_col).cast("double").alias("x"),
                        F.col(y_col).cast("double").alias("y"))
    first = (pts.groupBy("g").agg(
        F.min_by(F.struct("rid", "x", "y"), F.col("rid")).alias("c"))
        .select("g", F.lit(1).alias("cr"),
                F.col("c.rid").alias("crid"),
                F.col("c.x").alias("cx"), F.col("c.y").alias("cy")))
    centers = first
    for r in range(2, int(k) + 1):
        d2 = ((F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
              + (F.col("y") - F.col("cy")) * (F.col("y") - F.col("cy")))
        mind = (pts.join(F.broadcast(centers), "g")
                .groupBy("g", "rid").agg(
                    F.first("x").alias("x"), F.first("y").alias("y"),
                    F.min(d2).alias("md")))
        nxt = (mind.groupBy("g").agg(
            F.max_by(F.struct("rid", "x", "y"),
                     F.struct(F.col("md").alias("d"),
                              (-F.col("rid")).alias("nr"))).alias("c"))
            .select("g", F.lit(r).alias("cr"),
                    F.col("c.rid").alias("crid"),
                    F.col("c.x").alias("cx"), F.col("c.y").alias("cy")))
        centers = centers.unionByName(nxt).localCheckpoint(eager=False)
    d2 = ((F.col("x") - F.col("cx")) * (F.col("x") - F.col("cx"))
          + (F.col("y") - F.col("cy")) * (F.col("y") - F.col("cy")))
    radius = (pts.join(F.broadcast(centers), "g")
              .groupBy("g", "rid").agg(F.min(d2).alias("md"))
              .groupBy("g").agg(F.max("md").alias("r2")))
    wide = (centers.groupBy("g").agg(
        F.array_sort(F.collect_list(F.struct("cr", "crid"))).alias("cs"))
        .select("g", *[F.col("cs").getItem(i).getField("crid")
                       .alias(f"c{i + 1}_rid") for i in range(int(k))]))
    return (wide.join(radius, "g")
            .select(F.col("g").alias(group_col),
                    *[f"c{i + 1}_rid" for i in range(int(k))],
                    F.col("r2").cast("bigint").alias("radius2"))
            .orderBy(group_col))
