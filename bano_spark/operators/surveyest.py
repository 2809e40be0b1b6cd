"""Design-based estimation — the Horvitz-Thompson / Hajek estimators
under known unequal inclusion probabilities, and Lincoln-Petersen /
Chapman capture-recapture population sizing — the survey-sampling
layer completing stratified, Neyman-allocated and weighted
sampling and the jackknife ratio variance (which assume the sample
is given; these ESTIMATE from it and audit against the full frame,
which a warehouse — unlike a field survey — actually has).

Exactness: inclusion is a deterministic hash threshold, so the
"sample" is a filter; with a FINITE set of strata probabilities the
HT sum collapses to sum_j (1/pi_j) * S_j over per-stratum exact
integer sums — a fixed O(strata) chain, no per-row double sums.
Capture-recapture is pure exact distinct counting (entity-level
flags via max() over the entity key) + closed-form ratios.

Scale shape: HT is ONE conditional hash aggregate per group;
capture-recapture is one groupBy(entity) + one global aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["horvitz_thompson", "capture_recapture"]


def horvitz_thompson(df: DataFrame, grp: str, y: str, stratum: str,
                     incl: str, pis: list[float]) -> DataFrame:
    """Estimate the per-group total of `y` from the rows with
    `incl` = 1, where `stratum` indexes into the known inclusion
    probabilities `pis`. Returns (grp, n_frame, true_total,
    n_sampled, ht_total, hajek_total, rel_err_ht, rel_err_hajek)."""
    yc, sc, ic = F.col(y), F.col(stratum), F.col(incl)
    aggs = [F.count(F.lit(1)).cast("bigint").alias("n_frame"),
            F.sum(yc).cast("bigint").alias("true_total"),
            F.sum(F.when(ic == 1, 1).otherwise(0)).cast("bigint")
            .alias("n_sampled")]
    for j in range(len(pis)):
        sel = (ic == 1) & (sc == j)
        aggs += [F.sum(F.when(sel, yc).otherwise(0)).cast("bigint")
                 .alias(f"s{j}"),
                 F.sum(F.when(sel, 1).otherwise(0)).cast("bigint")
                 .alias(f"c{j}")]
    a = df.groupBy(grp).agg(*aggs)
    ht = sum((F.lit(1.0 / p) * F.col(f"s{j}").cast("double")
              for j, p in enumerate(pis)), start=F.lit(0.0))
    nhat = sum((F.lit(1.0 / p) * F.col(f"c{j}").cast("double")
                for j, p in enumerate(pis)), start=F.lit(0.0))
    hajek = ht / nhat * F.col("n_frame").cast("double")
    tt = F.col("true_total").cast("double")
    return a.select(
        grp, "n_frame", "true_total", "n_sampled",
        F.round(ht, 6).alias("ht_total"),
        F.round(hajek, 6).alias("hajek_total"),
        F.round((ht - tt) / tt, 6).alias("rel_err_ht"),
        F.round((hajek - tt) / tt, 6).alias("rel_err_hajek"))


def capture_recapture(df: DataFrame, entity: str, cap1: str,
                      cap2: str) -> DataFrame:
    """Two-occasion abundance estimation over entity-level capture
    flags (an entity is captured if ANY of its rows is). Returns one
    row (true_n, n1, n2, m, lp_estimate, chapman_estimate,
    chapman_rel_err)."""
    ent = (df.groupBy(entity)
           .agg(F.max(F.col(cap1)).alias("c1"),
                F.max(F.col(cap2)).alias("c2")))
    a = ent.agg(
        F.count(F.lit(1)).cast("bigint").alias("true_n"),
        F.sum(F.when(F.col("c1") == 1, 1).otherwise(0)).cast("bigint")
        .alias("n1"),
        F.sum(F.when(F.col("c2") == 1, 1).otherwise(0)).cast("bigint")
        .alias("n2"),
        F.sum(F.when((F.col("c1") == 1) & (F.col("c2") == 1), 1)
              .otherwise(0)).cast("bigint").alias("m"))
    n1d, n2d = F.col("n1").cast("double"), F.col("n2").cast("double")
    md, td = F.col("m").cast("double"), F.col("true_n").cast("double")
    lp = n1d * n2d / md
    chap = ((n1d + F.lit(1.0)) * (n2d + F.lit(1.0))
            / (md + F.lit(1.0)) - F.lit(1.0))
    return a.select(
        "true_n", "n1", "n2", "m",
        F.round(lp, 6).alias("lp_estimate"),
        F.round(chap, 6).alias("chapman_estimate"),
        F.round((chap - td) / td, 6).alias("chapman_rel_err"))
