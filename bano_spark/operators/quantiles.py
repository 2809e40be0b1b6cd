"""Exact distributed quantiles by iterative range-narrowing — the
selection-algorithm answer to "approx_percentile isn't exact and a
global sort doesn't scale".

Spark's built-ins force a choice: `approx_percentile` (bounded error,
not exact) or `orderBy` + offset (a global sort, and rank-style plans
are how the r1 single-partition funnel happened). This operator
computes EXACT rank statistics with O(log) full scans and O(bins)
driver state per pass, never sorting data and never collecting data
rows:

  pass k: bin each pending target's candidate set into `bins`
  equal-width bins, histogram ALL targets in ONE shared scan (each row
  emits one (target, bin) entry per pending target; the shuffle
  carries at most targets x bins counted rows after map-side combine),
  walk the O(bins) histogram on the driver to find the bin holding
  each target rank, recurse into that bin. Typical data resolves
  every quantile in 2-3 passes (1e4 bins -> 1e12 effective resolution
  in 3 passes).

Exactness under floating point: the candidate set is narrowed by a
chain of BIN-MEMBERSHIP predicates — the *same* clamp-floor expression
used to count the histogram — never by a value-range filter. A
borderline value whose (v - lo) / width rounds across a bin edge is
therefore counted in exactly one bin and filtered by exactly that
membership, so the rank bookkeeping can never drift by an ulp.
All-duplicate columns terminate: their range collapses to a single
double at the first stats pass.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, functions as F


def _bin_expr(lo: float, width: float, bins: int) -> Column:
    """Clamped equal-width bin id — total over all doubles (clamping
    means even values an ulp outside the analytic [lo, hi] estimate
    land in bin 0 or bins-1 and stay counted)."""
    return F.least(
        F.greatest(F.floor((F.col("v") - F.lit(lo)) / F.lit(width)),
                   F.lit(0)),
        F.lit(bins - 1)).cast("int")


def exact_quantiles(df: DataFrame, col: str, qs: list[float], *,
                    bins: int = 10_000, max_passes: int = 8) -> list[float]:
    """Exact q-quantiles of ``df[col]`` (nulls excluded) under the
    zero-indexed lower-rank convention: quantile q = the value at
    sorted position floor(q * (n - 1)). Returns values aligned with
    ``qs``.

    Driver state is O(bins * len(qs)) per pass; executor work per pass
    is one shared scan + hash aggregation (map-side combined), no
    sort, no shuffle wider than targets x bins rows."""
    d = df.select(F.col(col).cast("double").alias("v")) \
        .filter(F.col("v").isNotNull()).persist()
    try:
        stats = d.agg(F.count("v").alias("n"), F.min("v").alias("lo"),
                      F.max("v").alias("hi")).collect()[0]
        n = stats["n"]
        if n == 0:
            return [float("nan")] * len(qs)
        glo, ghi = float(stats["lo"]), float(stats["hi"])
        # pending[slot] = [rank within pred, pred, lo, hi]; lo/hi are
        # ANALYTIC width estimates only — membership is always pred
        pending: dict[int, list] = {
            i: [int(math.floor(q * (n - 1))), F.lit(True), glo, ghi]
            for i, q in enumerate(qs)}
        out: dict[int, float] = {}

        def _resolve_tiny(i: int, rank: int, pred: Column) -> None:
            """Exact kth-under-pred via distinct-value counts: used
            once the candidate set has <= a handful of distinct
            values (collapsed range) — O(distinct) driver rows."""
            rows = sorted(
                (r["v"], r["c"]) for r in
                d.filter(pred).groupBy("v")
                .agg(F.count(F.lit(1)).alias("c")).collect())
            acc = 0
            for v, c in rows:
                if acc + c > rank:
                    out[i] = float(v)
                    return
                acc += c
            out[i] = float(rows[-1][0])  # defensive: rank off the end

        if glo == ghi:
            d.unpersist()
            return [glo] * len(qs)
        for _ in range(max_passes):
            if not pending:
                break
            metas = []  # (slot, lo, width)
            entries = []
            for i, (rank, pred, lo, hi) in pending.items():
                width = (hi - lo) / bins
                if width <= 0 or math.nextafter(lo, hi) >= hi:
                    _resolve_tiny(i, rank, pred)
                    continue
                metas.append((i, lo, width))
                entries.append(F.struct(
                    F.lit(i).alias("t"),
                    F.when(pred, _bin_expr(lo, width, bins))
                    .otherwise(F.lit(-1)).alias("b")))
            for i in out:
                pending.pop(i, None)
            if not metas:
                continue
            hist = (d.select(F.explode(F.array(*entries)).alias("e"))
                    .filter(F.col("e.b") >= 0)
                    .groupBy(F.col("e.t").alias("t"), F.col("e.b").alias("b"))
                    .agg(F.count(F.lit(1)).alias("c")).collect())
            by_t: dict[int, dict[int, int]] = {}
            for r in hist:
                by_t.setdefault(r["t"], {})[r["b"]] = r["c"]
            for i, lo, width in metas:
                rank, pred, _, hi = pending[i]
                counts = by_t.get(i, {})
                acc = 0
                chosen = None
                for b in sorted(counts):
                    c = counts[b]
                    if acc + c > rank:
                        chosen = (b, acc, c)
                        break
                    acc += c
                if chosen is None:  # cannot happen: histogram is total
                    _resolve_tiny(i, rank, pred)
                    del pending[i]
                    continue
                b, acc, c = chosen
                npred = pred & (_bin_expr(lo, width, bins) == F.lit(b))
                if c == 1:
                    # a single candidate row IS the answer
                    val = d.filter(npred).agg(F.min("v")).collect()[0][0]
                    out[i] = float(val)
                    del pending[i]
                else:
                    pending[i] = [rank - acc, npred,
                                  lo + b * width, lo + (b + 1) * width]
        for i, (rank, pred, _, _) in list(pending.items()):
            _resolve_tiny(i, rank, pred)
            del pending[i]
        return [out[i] for i in range(len(qs))]
    finally:
        d.unpersist()


def exact_quantiles_df(df: DataFrame, col: str, qs: list[float], *,
                       bins: int = 10_000) -> DataFrame:
    """DataFrame wrapper for the oracle harness: one row per quantile
    (q, value). The selection runs eagerly (a driver-coordinated
    algorithm, like the prefix-sum operator); the result
    is O(len(qs)) rows."""
    vals = exact_quantiles(df, col, qs, bins=bins)
    spark = df.sparkSession
    return spark.createDataFrame(
        [(float(q), float(v)) for q, v in zip(qs, vals)], ["q", "value"])


def ks_two_sample(df, group_col: str, value_col: str, *,
                  round_to: int = 6):
    """Two-sample Kolmogorov-Smirnov statistic: the maximum absolute
    ECDF gap between the value distributions of the two groups.
    ``group_col`` must be boolean-like: true = sample A.

    Scale shape: collapse to one row per DISTINCT value with per-group
    counts (map-side combine carries the reduction), then a bucketed
    distributed prefix sum per group over the value order
    (`selection.distributed_cumsum` — O(buckets) driver state, no
    global sort or single-partition window), then one scalar max. The
    ECDF gaps divide exact integer cumulative counts, so the max is
    bit-identical across engines. Returns one row
    (n_a, n_b, n_points, ks_stat)."""
    from pyspark.sql import functions as F

    from .selection import distributed_cumsum

    g = F.col(group_col).cast("boolean")
    s = df.select(F.col(value_col).cast("double").alias("_v"),
                  g.alias("_g")).filter(F.col("_v").isNotNull())
    cells = s.groupBy("_v").agg(
        F.sum(F.when(F.col("_g"), 1).otherwise(0)).alias("_c1"),
        F.sum(F.when(~F.col("_g"), 1).otherwise(0)).alias("_c2"))
    cum = distributed_cumsum(cells, "_v", [F.asc("_v")], "_c1",
                             out_col="_f1")
    cum = distributed_cumsum(cum, "_v", [F.asc("_v")], "_c2",
                             out_col="_f2")
    tot = cells.agg(F.sum("_c1").alias("_n1"), F.sum("_c2").alias("_n2"))
    return (cum.crossJoin(F.broadcast(tot))
            .agg(F.max(F.col("_n1")).cast("bigint").alias("n_a"),
                 F.max(F.col("_n2")).cast("bigint").alias("n_b"),
                 F.count(F.lit(1)).alias("n_points"),
                 F.round(F.max(F.abs(
                     F.col("_f1") / F.col("_n1")
                     - F.col("_f2") / F.col("_n2"))), round_to)
                 .alias("ks_stat")))


def chi_square_independence(df, row_col: str, col_col: str, *,
                            round_to: int = 6):
    """Pearson chi-square test of independence over the (row, col)
    contingency table, plus Cramer's V. The grid is COMPLETED before
    the statistic (an unobserved cell still contributes its expected
    count), so sparse tables are scored correctly.

    Scale shape: one groupBy builds the observed cells; the grid
    completion is a broadcast cross of the two DISTINCT margins
    (O(r x c), bounded by label cardinality, never by rows);
    marginals are partitioned windows over the cell table; the
    statistic is one scalar aggregate. Returns one row
    (n, n_rows, n_cols, dof, chi2, cramers_v)."""
    from pyspark.sql import Window, functions as F

    obs = (df.select(F.col(row_col).alias("_r"), F.col(col_col).alias("_c"))
           .groupBy("_r", "_c").agg(F.count(F.lit(1)).alias("_n")))
    rows_ = obs.select("_r").distinct()
    cols_ = obs.select("_c").distinct()
    grid = (rows_.crossJoin(F.broadcast(cols_))
            .join(obs, ["_r", "_c"], "left")
            .withColumn("_n", F.coalesce(F.col("_n"), F.lit(0))))
    row_tot = F.sum("_n").over(Window.partitionBy("_r"))
    col_tot = F.sum("_n").over(Window.partitionBy("_c"))
    cells = grid.withColumn("_rt", row_tot).withColumn("_ct", col_tot)
    tot = obs.agg(F.sum("_n").alias("_tN"),
                  F.countDistinct("_r").alias("_tR"),
                  F.countDistinct("_c").alias("_tC"))
    e = F.col("_rt") * F.col("_ct") / F.col("_tN")
    term = (F.col("_n") - e) * (F.col("_n") - e) / e
    agg = (cells.crossJoin(F.broadcast(tot))
           .agg(F.max("_tN").cast("bigint").alias("n"),
                F.max("_tR").cast("bigint").alias("n_rows"),
                F.max("_tC").cast("bigint").alias("n_cols"),
                F.sum(term).alias("_chi2")))
    dof = (F.col("n_rows") - 1) * (F.col("n_cols") - 1)
    v = F.sqrt(F.col("_chi2") / (F.col("n")
               * F.least(F.col("n_rows") - 1, F.col("n_cols") - 1)))
    return agg.select(
        "n", "n_rows", "n_cols", dof.cast("bigint").alias("dof"),
        F.round("_chi2", round_to).alias("chi2"),
        F.round(v, round_to).alias("cramers_v"))


def kendall_tau_b(df, key_col: str, x_col: str, y_col: str, *,
                  round_to: int = 6):
    """Kendall's tau-b rank correlation between two INTEGER-valued
    per-key measures, tie-corrected: tau_b = (C - D) /
    sqrt((n0 - t_x)(n0 - t_y)) with n0 = k(k-1)/2 and t_* the tied
    pair counts per axis. Integer measures make every pair comparison
    exact — callers with float measures should quantize first (the
    cents-style cast) or accept ulp-sensitive ordering.

    Scale shape: the pair join runs on the PER-KEY table (k rows, not
    data rows) as a broadcast non-equi self-join — O(k^2) work bounded
    by key cardinality, the same disclosed contract as the silhouette
    / Davies-Bouldin family; tie terms are two tiny groupBys. Returns
    one row (n_keys, concordant, discordant, tau_b)."""
    from pyspark.sql import functions as F

    per = df.select(F.col(key_col).alias("_k"),
                    F.col(x_col).cast("long").alias("_x"),
                    F.col(y_col).cast("long").alias("_y"))
    a = per.select(F.col("_k").alias("_ka"), F.col("_x").alias("_xa"),
                   F.col("_y").alias("_ya"))
    b = per.select(F.col("_k").alias("_kb"), F.col("_x").alias("_xb"),
                   F.col("_y").alias("_yb"))
    prod = (F.col("_xa") - F.col("_xb")) * (F.col("_ya") - F.col("_yb"))
    pairs = (a.join(F.broadcast(b), F.col("_ka") < F.col("_kb"))
             .agg(F.sum(F.when(prod > 0, 1).otherwise(0)).alias("_c"),
                  F.sum(F.when(prod < 0, 1).otherwise(0)).alias("_d")))
    tx = (per.groupBy("_x").agg(F.count(F.lit(1)).alias("_t"))
          .agg(F.sum(F.col("_t") * (F.col("_t") - 1) / 2).alias("_tx")))
    ty = (per.groupBy("_y").agg(F.count(F.lit(1)).alias("_t"))
          .agg(F.sum(F.col("_t") * (F.col("_t") - 1) / 2).alias("_ty")))
    n = per.agg(F.count(F.lit(1)).alias("_n"))
    n0 = F.col("_n") * (F.col("_n") - 1) / 2
    tau = ((F.col("_c") - F.col("_d"))
           / F.sqrt((n0 - F.col("_tx")) * (n0 - F.col("_ty"))))
    return (pairs.crossJoin(F.broadcast(tx)).crossJoin(F.broadcast(ty))
            .crossJoin(F.broadcast(n))
            .select(F.col("_n").cast("bigint").alias("n_keys"),
                    F.col("_c").cast("bigint").alias("concordant"),
                    F.col("_d").cast("bigint").alias("discordant"),
                    F.round(tau, round_to).alias("tau_b")))


def anova_f_oneway(df, group_col: str, value_col: str, *,
                   round_to: int = 6):
    """One-way ANOVA F statistic across the groups of ``group_col``:
    F = (SSB/(k-1)) / (SSW/(n-k)), computed from per-group
    (count, sum, sum-of-squares) moments — the k-group generalization
    of a two-sample t test's one-pass moment shape (pooled variance here, as
    classical ANOVA defines it).

    Scale shape: one groupBy with map-side partial moments, then O(k)
    scalar arithmetic on the group table. Only RATIO statistics are
    returned (F and eta-squared): the raw sums of squares sit at
    magnitudes where summation-order ulps would poison a 6-dp
    cross-engine compare, while the ratios cancel that noise. Returns
    one row (k, n, f_stat, eta_sq)."""
    from pyspark.sql import functions as F

    v = F.col(value_col).cast("double")
    g = df.groupBy(F.col(group_col).alias("_g")).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(v).alias("_s"),
        F.sum(v * v).alias("_ss"))
    agg = g.agg(
        F.count(F.lit(1)).alias("_k"),
        F.sum("_n").alias("_N"),
        F.sum("_s").alias("_S"),
        F.sum(F.col("_s") * F.col("_s") / F.col("_n")).alias("_sb"),
        F.sum(F.col("_ss") - F.col("_s") * F.col("_s") / F.col("_n"))
        .alias("_ssw"))
    ssb = F.col("_sb") - F.col("_S") * F.col("_S") / F.col("_N")
    f = (ssb / (F.col("_k") - 1)) / (F.col("_ssw") / (F.col("_N") - F.col("_k")))
    eta = ssb / (ssb + F.col("_ssw"))
    return agg.select(
        F.col("_k").cast("bigint").alias("k"),
        F.col("_N").cast("bigint").alias("n"),
        F.round(f, round_to).alias("f_stat"),
        F.round(eta, round_to).alias("eta_sq"))


def kruskal_wallis(df, group_col: str, value_col: str, *,
                   round_to: int = 6):
    """Kruskal-Wallis H test (rank-based one-way ANOVA) across the
    groups of ``group_col``, with the standard tie correction
    C = 1 - sum(t^3 - t)/(N^3 - N).

    Scale shape: collapse to one row per DISTINCT (group, value) cell
    with counts (map-side combine), derive per-value totals, assign
    mid-ranks from a bucketed distributed prefix sum over the value
    order (`selection.distributed_cumsum` — no global sort, no per-row
    rank window), then one groupBy(group) for rank sums and two scalar
    aggregates. Mid-ranks are exact multiples of 0.5 so the rank sums
    are bit-identical across engines. Returns one row
    (k, n, h_stat, h_tie_corrected)."""
    from pyspark.sql import functions as F

    from .selection import distributed_cumsum

    s = (df.select(F.col(group_col).alias("_g"),
                   F.col(value_col).cast("double").alias("_v"))
         .filter(F.col("_v").isNotNull()))
    cells = s.groupBy("_g", "_v").agg(F.count(F.lit(1)).alias("_c"))
    vals = cells.groupBy("_v").agg(F.sum("_c").alias("_cv"))
    cum = distributed_cumsum(vals, "_v", [F.asc("_v")], "_cv",
                             out_col="_f")
    # inclusive cumsum => mid-rank of the tie group at v is
    # f - (cv - 1)/2; rename to break the shared-lineage ambiguity.
    ranks = cum.select(F.col("_v").alias("_v2"),
                       (F.col("_f") - (F.col("_cv") - 1) / 2.0)
                       .alias("_mr"))
    per_g = (cells.join(ranks, cells["_v"] == ranks["_v2"])
             .groupBy("_g")
             .agg(F.sum(F.col("_c") * F.col("_mr")).alias("_R"),
                  F.sum("_c").alias("_n")))
    ties = vals.agg(F.sum(F.col("_cv").cast("double")
                          * F.col("_cv") * F.col("_cv")
                          - F.col("_cv")).alias("_T"))
    agg = per_g.agg(F.count(F.lit(1)).alias("_k"),
                    F.sum("_n").alias("_N"),
                    F.sum(F.col("_R") * F.col("_R") / F.col("_n"))
                    .alias("_S"))
    h = (12.0 / (F.col("_N") * (F.col("_N") + 1)) * F.col("_S")
         - 3 * (F.col("_N") + 1))
    corr = 1 - F.col("_T") / (F.col("_N").cast("double")
                              * F.col("_N") * F.col("_N") - F.col("_N"))
    return (agg.crossJoin(F.broadcast(ties))
            .select(F.col("_k").cast("bigint").alias("k"),
                    F.col("_N").cast("bigint").alias("n"),
                    F.round(h, round_to).alias("h_stat"),
                    F.round(h / corr, round_to)
                    .alias("h_tie_corrected")))


def mann_whitney_u(df, group_col: str, value_col: str, *,
                   round_to: int = 6):
    """Mann-Whitney U (two-sample rank-sum) with the tie-corrected
    normal approximation z = (U - n1*n2/2) / sqrt(var), where
    var = n1*n2/12 * ((N+1) - sum(t^3 - t)/(N*(N-1))).
    ``group_col`` must be boolean-like: true = sample A. U counts the
    pairs where A beats B, plus half-credit for ties — the same
    mid-rank identity `ranking.roc_auc` uses (U = AUC * n1 * n2).

    Scale shape: one row per DISTINCT value with per-group counts,
    one bucketed distributed prefix sum (no global sort), two scalar
    aggregates. U is exact (a multiple of 0.5); z is a rounded ratio.
    Returns one row (n_a, n_b, u_stat, z_stat)."""
    from pyspark.sql import functions as F

    from .selection import distributed_cumsum

    g = F.col(group_col).cast("boolean")
    s = (df.select(F.col(value_col).cast("double").alias("_v"),
                   g.alias("_g"))
         .filter(F.col("_v").isNotNull()))
    cells = s.groupBy("_v").agg(
        F.sum(F.when(F.col("_g"), 1).otherwise(0)).alias("_c1"),
        F.sum(F.when(~F.col("_g"), 1).otherwise(0)).alias("_c2"))
    cum = distributed_cumsum(cells, "_v", [F.asc("_v")], "_c2",
                             out_col="_f2")
    t = F.col("_c1") + F.col("_c2")
    a = cum.agg(
        F.sum(F.col("_c1") * (F.col("_f2") - 0.5 * F.col("_c2")))
        .alias("_U"),
        F.sum("_c1").alias("_n1"), F.sum("_c2").alias("_n2"),
        F.sum(t.cast("double") * t * t - t).alias("_T"))
    n1, n2 = F.col("_n1"), F.col("_n2")
    nn = n1 + n2
    var = (n1 * n2 / 12.0
           * ((nn + 1) - F.col("_T") / (nn.cast("double") * (nn - 1))))
    z = (F.col("_U") - n1 * n2 / 2.0) / F.sqrt(var)
    return a.select(n1.cast("bigint").alias("n_a"),
                    n2.cast("bigint").alias("n_b"),
                    F.round("_U", round_to).alias("u_stat"),
                    F.round(z, round_to).alias("z_stat"))


def bh_fdr_selection(df, p_col: str, *, q: float = 0.1,
                     round_to: int = 6):
    """Benjamini-Hochberg step-up FDR selection over a column of
    p-values: find the largest p* with p* <= rank(p*) * q / m and
    reject every test with p <= p*. Equivalent to the classical
    sorted-index rule because the inclusive cumulative count AT a
    distinct p IS the largest rank any test with that p can take.

    Scale shape: collapse to distinct p-values with counts, one
    bucketed distributed prefix sum (no global sort), one scalar
    max over the rows satisfying the step-up condition. Returns one
    row (m, n_rejected, p_threshold) — threshold null when nothing
    survives."""
    from pyspark.sql import functions as F

    from .selection import distributed_cumsum

    pv = (df.select(F.col(p_col).cast("double").alias("_p"))
          .filter(F.col("_p").isNotNull()))
    cells = pv.groupBy("_p").agg(F.count(F.lit(1)).alias("_c"))
    cum = distributed_cumsum(cells, "_p", [F.asc("_p")], "_c",
                             out_col="_f")
    tot = cells.agg(F.sum("_c").alias("_m"))
    sel = (cum.crossJoin(F.broadcast(tot))
           .filter(F.col("_p") <= F.col("_f") * q / F.col("_m"))
           .agg(F.max("_p").alias("_thr"), F.max("_f").alias("_nrej")))
    return (tot.crossJoin(F.broadcast(sel))
            .select(F.col("_m").cast("bigint").alias("m"),
                    F.coalesce(F.col("_nrej"), F.lit(0))
                    .cast("bigint").alias("n_rejected"),
                    F.round("_thr", round_to).alias("p_threshold")))


def chi_square_gof(df, cat_col: str, *, round_to: int = 6):
    """Chi-square goodness-of-fit of the observed category counts
    against the uniform expectation over the OBSERVED categories
    (E = N/k for each of the k seen labels).

    Scale shape: one groupBy(category) + a broadcast scalar total —
    two aggregation passes, O(k) arithmetic. Returns one row
    (n, k, dof, chi2)."""
    from pyspark.sql import functions as F

    obs = (df.select(F.col(cat_col).alias("_cat"))
           .groupBy("_cat").agg(F.count(F.lit(1)).alias("_c")))
    tot = obs.agg(F.sum("_c").alias("_tN"),
                  F.count(F.lit(1)).alias("_tk"))
    e = F.col("_tN") * 1.0 / F.col("_tk")
    return (obs.crossJoin(F.broadcast(tot))
            .agg(F.max("_tN").cast("bigint").alias("n"),
                 F.max("_tk").cast("bigint").alias("k"),
                 (F.max("_tk") - 1).cast("bigint").alias("dof"),
                 F.round(F.sum((F.col("_c") - e) * (F.col("_c") - e) / e),
                         round_to).alias("chi2")))


def log_loss(scored, prob_col: str, label_col: str, *,
             eps: float = 1e-6, round_to: int = 6):
    """Cross-entropy (log loss) of predicted probabilities against
    boolean outcomes, the likelihood-based companion of the Brier score:

        LL = -mean( y ln p' + (1-y) ln(1-p') )

    with p' clipped to [eps, 1-eps] (the sklearn convention) so
    degenerate 0/1 predictions stay finite. One aggregate pass.
    Returns (n, base_rate, log_loss)."""
    from pyspark.sql import functions as F

    p = F.least(F.greatest(F.col(prob_col).cast("double"), F.lit(eps)),
                F.lit(1.0) - F.lit(eps))
    y = F.col(label_col).cast("double")
    agg = scored.agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.avg(y).alias("base"),
        F.avg(-(y * F.log(p)
                + (F.lit(1.0) - y) * F.log(F.lit(1.0) - p))).alias("ll"))
    return agg.select(
        F.col("n").cast("bigint").alias("n"),
        F.round("base", round_to).alias("base_rate"),
        F.round("ll", round_to).alias("log_loss"))


def isotonic_calibration(scored, prob_col: str, label_col: str, *,
                         n_bins: int = 20, round_to: int = 6):
    """Isotonic-regression probability calibration over score bins —
    the nonparametric alternative to Platt scaling. The PAV fit is
    computed by its PARALLELIZABLE minimax characterization
    (Robertson-Wright-Dykstra):

        f(i) = max_{j <= i} min_{k >= i} mean(y on bins j..k)

    which replaces the inherently sequential pool-adjacent-violators
    scan with bounded non-equi joins over the B binned buckets
    (B^2 interval means, then a B^3 min-max fold — all broadcast
    nested-loop territory at B = 20).

    Float parity: interval means are single divisions of exact
    integer sums, so every engine computes identical doubles and the
    min/max fold is order-free. Returns
    (bin, n, rate, isotonic_rate) — isotonic_rate is monotone
    nondecreasing in bin by construction."""
    from pyspark.sql import functions as F

    p = F.col(prob_col).cast("double")
    y = F.col(label_col).cast("int")
    bins = (scored
            .select(F.least(F.floor(p * n_bins),
                            F.lit(n_bins - 1)).cast("bigint").alias("_b"),
                    y.alias("_y"))
            .groupBy("_b")
            .agg(F.count(F.lit(1)).alias("_w"), F.sum("_y").alias("_s")))
    m = (bins.select(F.col("_b").alias("_j"))
         .join(F.broadcast(bins.select(F.col("_b").alias("_k"))),
               F.col("_j") <= F.col("_k"))
         .join(F.broadcast(bins),
               (F.col("_b") >= F.col("_j")) & (F.col("_b") <= F.col("_k")))
         .groupBy("_j", "_k")
         .agg((F.sum("_s") / F.sum("_w")).alias("_m")))
    fit = (bins.select(F.col("_b").alias("_i"))
           .join(F.broadcast(m),
                 (F.col("_j") <= F.col("_i")) & (F.col("_k") >= F.col("_i")))
           .groupBy("_i", "_j")
           .agg(F.min("_m").alias("_g"))
           .groupBy("_i")
           .agg(F.max("_g").alias("_f")))
    return (bins.join(fit, bins["_b"] == fit["_i"])
            .select(F.col("_b").alias("bin"),
                    F.col("_w").cast("bigint").alias("n"),
                    F.round(F.col("_s") / F.col("_w"), round_to)
                    .alias("rate"),
                    F.round("_f", round_to).alias("isotonic_rate"))
            .orderBy("bin"))


def population_stability_index(df, value_col: str, expected_col: str, *,
                               n_bins: int = 10, eps: float = 1e-6,
                               round_to: int = 6):
    """Population stability index — the standard production drift
    monitor between an 'expected' (training/reference) and 'actual'
    (serving) sample of a score or value:

        PSI = sum_bins (p_a - p_e) * ln(p_a / p_e)

    Bins are n_bins equal-width intervals over the EXPECTED sample's
    [min, max] (the monitoring convention), actual values outside
    clamp to the edge bins, and both proportions are floored at
    ``eps`` so empty bins stay finite. Rule of thumb: < 0.1 stable,
    > 0.25 drifted.

    Scale shape: two scalar aggregates (expected min/max broadcast)
    + one groupBy(bin) over each sample — map-side combinable, no
    window. Float parity: proportions are exact-integer divisions;
    only the final 10-term fold rounds. Returns one row
    (n_expected, n_actual, psi)."""
    from pyspark.sql import functions as F

    v = F.col(value_col).cast("double")
    e = F.col(expected_col).cast("boolean")
    base = df.select(v.alias("_v"), e.alias("_e")) \
        .filter(F.col("_v").isNotNull())
    mm = (base.filter(F.col("_e"))
          .agg(F.min("_v").alias("_lo"), F.max("_v").alias("_hi")))
    binned = (base.crossJoin(F.broadcast(mm))
              .select("_e", F.least(F.greatest(F.floor(
                  (F.col("_v") - F.col("_lo"))
                  / ((F.col("_hi") - F.col("_lo")) / n_bins)),
                  F.lit(0)), F.lit(n_bins - 1)).alias("_b")))
    cnt = (binned.groupBy("_b")
           .agg(F.sum(F.when(F.col("_e"), 1).otherwise(0)).alias("_ce"),
                F.sum(F.when(F.col("_e"), 0).otherwise(1)).alias("_ca")))
    tot = binned.agg(
        F.sum(F.when(F.col("_e"), 1).otherwise(0)).alias("_ne"),
        F.sum(F.when(F.col("_e"), 0).otherwise(1)).alias("_na"))
    pe = F.greatest(F.col("_ce") / F.col("_ne"), F.lit(eps))
    pa = F.greatest(F.col("_ca") / F.col("_na"), F.lit(eps))
    return (cnt.crossJoin(F.broadcast(tot))
            .select(F.col("_ne").alias("_n1"), F.col("_na").alias("_n2"),
                    ((pa - pe) * F.log(pa / pe)).alias("_t"))
            .groupBy("_n1", "_n2")
            .agg(F.round(F.sum("_t"), round_to).alias("psi"))
            .select(F.col("_n1").cast("bigint").alias("n_expected"),
                    F.col("_n2").cast("bigint").alias("n_actual"),
                    "psi"))


def anderson_darling_uniform(df: DataFrame, group_col: str,
                             value_col: str, *,
                             round_to: int = 6) -> DataFrame:
    """Anderson-Darling goodness-of-fit statistic against Uniform(0,1)
    per group (Anderson & Stephens 1952/1974) — the tail-sensitive
    upgrade of the KS distance already in the registry (ks_two_sample
    weighs the middle; AD's 1/(F(1-F)) kernel weighs the tails):

        A^2 = -n - (1/n) * sum_i (2i-1) * (ln x_(i) + ln(1 - x_(n+1-i)))

    re-indexed so ONE ascending rank window serves both terms:
    the (2i-1) coefficient multiplies ln x at rank i and the mirrored
    coefficient (2(n-i)+1) multiplies ln(1-x) at the same rank.

    Scale shape: one per-group rank window (partitions are groups,
    never global) feeding one map-side-combinable groupBy sum — same
    shuffle count as a plain aggregate. Values must lie strictly in
    (0,1); ln(0) would poison the sum, so the operator filters and
    REPORTS the clamped count rather than silently dropping."""
    from pyspark.sql import Window

    x = F.col(value_col).cast("double")
    inb = df.select(F.col(group_col).alias("g"), x.alias("x"))
    bad = (inb.filter((F.col("x") <= 0) | (F.col("x") >= 1))
           .groupBy("g").agg(F.count(F.lit(1)).alias("n_oob")))
    ok = inb.filter((F.col("x") > 0) & (F.col("x") < 1))
    w = Window.partitionBy("g").orderBy("x")
    wg = Window.partitionBy("g")
    r = (ok.withColumn("i", F.row_number().over(w))
         .withColumn("nn", F.count(F.lit(1)).over(wg)))
    agg = (r.groupBy("g").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum((2 * F.col("i") - 1) * F.log("x")).alias("s_lo"),
        F.sum((2 * (F.col("nn") - F.col("i")) + 1)
              * F.log(F.lit(1.0) - F.col("x"))).alias("s_hi")))
    out = (agg.join(bad, "g", "left")
           .select(F.col("g").alias(group_col),
                   F.col("n").cast("bigint").alias("n"),
                   F.coalesce("n_oob", F.lit(0)).cast("bigint")
                   .alias("n_out_of_bounds"),
                   F.round(-F.col("n")
                           - (F.col("s_lo") + F.col("s_hi")) / F.col("n"),
                           round_to).alias("a_squared")))
    return out.orderBy(group_col)


def grubbs_statistic(df: DataFrame, group_col: str, value_col: str,
                     id_col: str, *, round_to: int = 6) -> DataFrame:
    """Grubbs' outlier statistic per group: G = max|x - mean| / sd
    (sample sd, n-1), plus the offending row id (ties broken by min
    id). With integer-valued x the moment sums are exact, so mean and
    sd are bit-identical divisions/sqrts in both engines and the
    argmax is deterministic.

    Scale shape: one moment groupBy, join back (AQE picks broadcast
    while groups are small), one min_by argmax aggregate — no window,
    no global exchange."""
    x = F.col(value_col).cast("double")
    base = df.select(F.col(group_col).alias("g"), x.alias("x"),
                     F.col(id_col).alias("rid"))
    m = (base.groupBy("g").agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"))
        .withColumn("mean", F.col("s") / F.col("n"))
        .withColumn("sd", F.sqrt((F.col("ss")
                                  - F.col("s") * F.col("s") / F.col("n"))
                                 / (F.col("n") - 1))))
    dev = (base.join(m.select("g", "n", "mean", "sd"), "g")
           .withColumn("ad", F.abs(F.col("x") - F.col("mean"))))
    out = (dev.groupBy("g").agg(
        F.first("n").alias("n"),
        F.max("ad").alias("mad_"),
        F.first("sd").alias("sd"),
        F.min_by(F.col("rid"), F.struct((-F.col("ad")).alias("d"),
                                        F.col("rid").alias("r")))
        .alias("outlier_id"))
        .select(F.col("g").alias(group_col),
                F.col("n").cast("bigint").alias("n"),
                F.round(F.col("mad_") / F.col("sd"), round_to)
                .alias("g_stat"),
                F.col("outlier_id")))
    return out.orderBy(group_col)


def wasserstein_1d(df: DataFrame, group_col: str, side_col: str,
                   value_col: str) -> DataFrame:
    """Exact 1-D Wasserstein-1 (earth-mover) distance between the two
    sides of ``side_col`` ('a'/'b') within each group — the
    distribution-drift measure:  W1 = integral |F_a - F_b| dx =
    sum_i |F_a(x_i) - F_b(x_i)| (x_{i+1} - x_i) over the merged
    support.  Multiplying through by n_a*n_b keeps the whole sum
    INTEGER (|C_a*n_b - C_b*n_a| * dx); one final division produces
    the distance — bit-identical everywhere.

    Ref parity: the reference compares per-commune address-count
    distributions across sources before conciliation (stats.sql,
    munin bano_rapproche); W1 is the principled drift metric for the
    same comparison.

    Scale shape: one hash aggregate to (group, x, side counts), one
    window per group over its <= |support| distinct values (bounded
    by the value domain, not the data), one final group aggregate.
    Returns (group, n_a, n_b, w1_num, w1)."""
    from pyspark.sql import Window

    g = F.col(group_col)
    counts = (df.groupBy(g.alias("g"), F.col(value_col).alias("x"))
              .agg(F.sum(F.when(F.col(side_col) == "a", 1).otherwise(0))
                   .cast("bigint").alias("ca"),
                   F.sum(F.when(F.col(side_col) == "b", 1).otherwise(0))
                   .cast("bigint").alias("cb")))
    w = Window.partitionBy("g").orderBy("x")
    tot = Window.partitionBy("g")
    # NB: Spark column names are case-insensitive — a cumulative
    # column named "CA" would silently REPLACE "ca".
    cum = (counts
           .withColumn("cum_a", F.sum("ca").over(
               w.rowsBetween(Window.unboundedPreceding, 0)))
           .withColumn("cum_b", F.sum("cb").over(
               w.rowsBetween(Window.unboundedPreceding, 0)))
           .withColumn("na", F.sum("ca").over(tot))
           .withColumn("nb", F.sum("cb").over(tot))
           .withColumn("dx", F.coalesce(F.lead("x").over(w) - F.col("x"),
                                        F.lit(0))))
    term = F.abs(F.col("cum_a") * F.col("nb")
                 - F.col("cum_b") * F.col("na")) * F.col("dx")
    return (cum.groupBy(F.col("g").alias(group_col))
            .agg(F.max("na").cast("bigint").alias("n_a"),
                 F.max("nb").cast("bigint").alias("n_b"),
                 F.sum(term).cast("bigint").alias("w1_num"))
            .withColumn("w1", F.round(
                F.col("w1_num").cast("double")
                / (F.col("n_a") * F.col("n_b")).cast("double"), 6)
                + F.lit(0.0))
            .orderBy(group_col))


def split_conformal(df: DataFrame, group_col: str, split_col: str,
                    id_col: str, value_col: str, *,
                    alpha_num: int = 1, alpha_den: int = 10
                    ) -> DataFrame:
    """Split-conformal prediction intervals (Vovk et al.; Lei et al.
    2018) per group, kept EXACT: the predictor is the calibration
    mean S/n, so the conformity score |y - S/n| scales to the INTEGER
    |y*n - S|; the conformal quantile is the k-th smallest scaled
    score with k = ceil((n+1)(1-alpha)), taken by a window ranked
    WITHIN the group (bounded partitions); test coverage compares
    integers.  Guarantee: coverage >= 1 - alpha in expectation.

    ``split_col`` is 'cal' / 'test'.  Returns (group, n_cal, n_test,
    q_scaled, q, coverage).

    Scale shape: two hash aggregates + one per-group ranking window +
    one broadcast join of the O(groups) quantile table back onto the
    test rows — no global sort, no Python."""
    from pyspark.sql import Window

    y = F.col(value_col).cast("bigint")
    cal = df.filter(F.col(split_col) == "cal").select(
        F.col(group_col).alias("g"), F.col(id_col).alias("rid"),
        y.alias("y"))
    test = df.filter(F.col(split_col) == "test").select(
        F.col(group_col).alias("g"), y.alias("y"))
    stats = (cal.groupBy("g")
             .agg(F.sum("y").cast("bigint").alias("S"),
                  F.count("*").cast("bigint").alias("n_cal")))
    scored = (cal.join(stats, "g")
              .withColumn("r", F.abs(F.col("y") * F.col("n_cal")
                                     - F.col("S"))))
    w = Window.partitionBy("g").orderBy("r", "rid")
    # k = ceil((n+1)(1-a)) with rational a — integer div, never a
    # floored double quotient
    kk = F.expr(
        f"((n_cal + 1) * ({alpha_den - alpha_num}) + {alpha_den - 1}) "
        f"div {alpha_den}").cast("bigint")
    ranked = (scored.withColumn("rn", F.row_number().over(w))
              .withColumn("k", F.least(kk, F.col("n_cal"))))
    q = (ranked.filter(F.col("rn") == F.col("k"))
         .select("g", F.col("r").alias("q_scaled"), "S", "n_cal"))
    cov = (test.join(F.broadcast(q), "g")
           .groupBy("g", "q_scaled", "S", "n_cal")
           .agg(F.count("*").cast("bigint").alias("n_test"),
                F.sum(F.when(F.abs(F.col("y") * F.col("n_cal")
                                   - F.col("S"))
                             <= F.col("q_scaled"), 1).otherwise(0))
                .cast("bigint").alias("n_covered")))
    return (cov.select(F.col("g").alias(group_col), "n_cal", "n_test",
                       "q_scaled",
                       (F.round(F.col("q_scaled")
                                / F.col("n_cal").cast("double"), 6)
                        + F.lit(0.0)).alias("q"),
                       (F.round(F.col("n_covered") / F.col("n_test"), 6)
                        + F.lit(0.0)).alias("coverage"))
            .orderBy(group_col))
