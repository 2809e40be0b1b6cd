"""Instrumental-variable estimation with a binary instrument — the
Wald estimator, its first-stage strength F, and the OLS comparison
(Angrist & Pischke's canonical just-identified IV; completes the
causal family next to difference-in-differences and CUPED).

    beta_IV  = (ybar_1 - ybar_0) / (xbar_1 - xbar_0)
    F_first  = (xbar_1 - xbar_0)^2 / (s2_pooled * (1/n1 + 1/n0))
    beta_OLS = (n*Sxy - Sx*Sy) / (n*Sxx - Sx^2)

Exactness: with integer x, y, z every sufficient statistic (counts,
sums, sums of squares/products) is an exact integer aggregate; the
estimators are fixed chains of divisions — bit-identical across
engines UNROUNDED. One groupBy, map-side combinable, keyed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["wald_iv"]


def wald_iv(df: DataFrame, grp: str, z: str = "z", x: str = "x",
            y: str = "y") -> DataFrame:
    """Per group: arm sizes/sums (exact ints), the Wald IV estimate,
    first-stage F, OLS slope, and the confounding bias (all exact
    unrounded doubles)."""
    zc = F.col(z)
    g = (df.groupBy(grp).agg(
        F.sum(F.when(zc == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(zc == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
        F.sum(F.when(zc == 1, F.col(x)).otherwise(0)).cast("bigint")
        .alias("sx1"),
        F.sum(F.when(zc == 0, F.col(x)).otherwise(0)).cast("bigint")
        .alias("sx0"),
        F.sum(F.when(zc == 1, F.col(y)).otherwise(0)).cast("bigint")
        .alias("sy1"),
        F.sum(F.when(zc == 0, F.col(y)).otherwise(0)).cast("bigint")
        .alias("sy0"),
        F.sum(F.when(zc == 1, F.col(x) * F.col(x)).otherwise(0))
        .cast("bigint").alias("sxx1"),
        F.sum(F.when(zc == 0, F.col(x) * F.col(x)).otherwise(0))
        .cast("bigint").alias("sxx0"),
        F.sum(F.col(x) * F.col(y)).cast("bigint").alias("sxy"),
        F.sum(F.col(x) * F.col(x)).cast("bigint").alias("sxx"),
        F.sum(F.col(x)).cast("bigint").alias("sx"),
        F.sum(F.col(y)).cast("bigint").alias("sy"),
        F.count(F.lit(1)).cast("bigint").alias("n")))
    dx = (F.col("sx1").cast("double") / F.col("n1").cast("double")
          - F.col("sx0").cast("double") / F.col("n0").cast("double"))
    dy = (F.col("sy1").cast("double") / F.col("n1").cast("double")
          - F.col("sy0").cast("double") / F.col("n0").cast("double"))
    ss1 = (F.col("sxx1").cast("double")
           - (F.col("sx1") * F.col("sx1")).cast("double")
           / F.col("n1").cast("double"))
    ss0 = (F.col("sxx0").cast("double")
           - (F.col("sx0") * F.col("sx0")).cast("double")
           / F.col("n0").cast("double"))
    s2p = (ss1 + ss0) / (F.col("n1") + F.col("n0") - 2).cast("double")
    fstat = (dx * dx) / (s2p * (F.lit(1.0) / F.col("n1").cast("double")
                                + F.lit(1.0)
                                / F.col("n0").cast("double")))
    ols = ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
           .cast("double")
           / (F.col("n") * F.col("sxx")
              - F.col("sx") * F.col("sx")).cast("double"))
    return (g.withColumn("beta_iv", dy / dx)
            .withColumn("f_first_stage", fstat)
            .withColumn("beta_ols", ols)
            .withColumn("ols_bias", ols - dy / dx))


def sharp_rdd(df: DataFrame, grp: str, r: str = "r", y: str = "y",
              cutoff: int = 50, h: int = 25) -> DataFrame:
    """Sharp regression-discontinuity estimate per group: local LINEAR
    fits on each side of the cutoff within bandwidth h, effect = the
    jump between the two fitted values AT the cutoff (Imbens & Lemieux
    2008), plus the slope-biased naive difference of side means.

    Exactness: with integer running variable and outcome, every
    sufficient statistic (n, Sr, Sy, Srr, Sry per side) is an exact
    integer aggregate; tau_hat is a fixed chain of divisions — exact
    unrounded doubles. One keyed groupBy, map-side combinable.
    """
    rc, yc = F.col(r), F.col(y)
    left = (rc >= cutoff - h) & (rc < cutoff)
    right = (rc >= cutoff) & (rc < cutoff + h)

    def side(tag: str, cond):
        z = F.lit(0)
        return [
            F.sum(F.when(cond, 1).otherwise(z)).cast("bigint")
            .alias(f"n{tag}"),
            F.sum(F.when(cond, rc).otherwise(z)).cast("bigint")
            .alias(f"sr{tag}"),
            F.sum(F.when(cond, yc).otherwise(z)).cast("bigint")
            .alias(f"sy{tag}"),
            F.sum(F.when(cond, rc * rc).otherwise(z)).cast("bigint")
            .alias(f"srr{tag}"),
            F.sum(F.when(cond, rc * yc).otherwise(z)).cast("bigint")
            .alias(f"sry{tag}")]

    g = df.groupBy(grp).agg(*side("l", left), *side("r", right))

    def fit_at_cutoff(tag: str):
        n = F.col(f"n{tag}").cast("double")
        sr = F.col(f"sr{tag}").cast("double")
        sy = F.col(f"sy{tag}").cast("double")
        srr = F.col(f"srr{tag}").cast("double")
        sry = F.col(f"sry{tag}").cast("double")
        slope = (n * sry - sr * sy) / (n * srr - sr * sr)
        intercept = (sy - slope * sr) / n
        return intercept + slope * F.lit(float(cutoff)), slope

    fl, sl = fit_at_cutoff("l")
    fr, sr_ = fit_at_cutoff("r")
    naive = (F.col("syr").cast("double") / F.col("nr").cast("double")
             - F.col("syl").cast("double") / F.col("nl").cast("double"))
    return (g.withColumn("tau_hat", fr - fl)
            .withColumn("slope_left", sl)
            .withColumn("slope_right", sr_)
            .withColumn("naive_diff", naive))


def stratified_ate(df: DataFrame, grp: str, stratum: str,
                   d: str = "d", y: str = "y") -> DataFrame:
    """Propensity-style stratified ATE per group: exact per-stratum
    arm means, strata weighted by their share of the population among
    strata where BOTH arms are observed (deterministic renormalized
    guard), next to the confounded naive difference.

    Two keyed aggregations (stratum level then group level), all
    sufficient statistics exact integers; estimates are division
    chains — exact unrounded.
    """
    dc, yc = F.col(d), F.col(y)
    s = df.groupBy(grp, stratum).agg(
        F.sum(F.when(dc == 1, 1).otherwise(0)).cast("bigint").alias("n1"),
        F.sum(F.when(dc == 0, 1).otherwise(0)).cast("bigint").alias("n0"),
        F.sum(F.when(dc == 1, yc).otherwise(0)).cast("bigint")
        .alias("sy1"),
        F.sum(F.when(dc == 0, yc).otherwise(0)).cast("bigint")
        .alias("sy0"))
    both = (F.col("n1") > 0) & (F.col("n0") > 0)
    # per-stratum arm-mean difference, micro-quantized to the 2^-20
    # dyadic grid: n_s * diff_q terms are then exact in double, so the
    # cross-strata sum is order-independent (partial aggregation safe)
    # — IEEE division gives identical bits on both engines, so the
    # floor is deterministic too.
    q = float(1 << 20)
    diff = F.floor((F.col("sy1").cast("double")
                    / F.col("n1").cast("double")
                    - F.col("sy0").cast("double")
                    / F.col("n0").cast("double")) * F.lit(q)) / F.lit(q)
    ns = F.col("n1") + F.col("n0")
    g = s.groupBy(grp).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum(F.when(both, 1).otherwise(0)).cast("bigint")
        .alias("n_strata_used"),
        F.sum(F.when(both, ns).otherwise(0)).cast("bigint")
        .alias("n_used"),
        F.sum(F.when(both, ns.cast("double") * diff).otherwise(0.0))
        .alias("wsum"),
        F.sum("n1").cast("bigint").alias("nt1"),
        F.sum("n0").cast("bigint").alias("nt0"),
        F.sum("sy1").cast("bigint").alias("syt1"),
        F.sum("sy0").cast("bigint").alias("syt0"))
    naive = (F.col("syt1").cast("double") / F.col("nt1").cast("double")
             - F.col("syt0").cast("double") / F.col("nt0").cast("double"))
    return (g.withColumn("naive_diff", naive)
            .withColumn("ate_stratified",
                        F.col("wsum") / F.col("n_used").cast("double")))
