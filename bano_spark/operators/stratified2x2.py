"""Stratified 2x2 association — Simpson's-paradox audit (rollup of
exposure-outcome rates with EXACT cross-multiplied direction flags)
and the Mantel-Haenszel pooled odds ratio vs the crude OR — the
confounding layer completing the 2x2 odds ratio, the
Cochran-Armitage trend test and the propensity-stratified ATE.

Exactness: the paradox audit never divides to DECIDE — "exposure
helps" is the integer comparison a*d > c*b per rollup cell, so the
flag is exact at any scale (the printed rates are one division each,
round-6). Mantel-Haenszel needs per-stratum rationals
sum(a_i d_i / n_i) / sum(b_i c_i / n_i): the strata are pivoted into
ONE row by conditional aggregation and the sums are FIXED textual
chains over the per-stratum columns — no cross-row double sums, so
the estimate is bit-identical across engines (wave-130 discipline).

Scale shape: one rollup aggregate (paradox) / one conditional
aggregate + O(strata) arithmetic (MH). Stratum count is model-sized.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["simpson_rollup", "mantel_haenszel"]


def simpson_rollup(df: DataFrame, stratum: str, x: str,
                   y: str) -> DataFrame:
    """Rollup over (stratum, TOTAL): exposure/outcome cells, rates,
    and the exact direction flag. Returns (stratum — NULL for the
    total row —, n, exposed, exposed_pos, unexposed, unexposed_pos,
    exposed_rate, unexposed_rate, exposure_helps)."""
    xc, yc = F.col(x), F.col(y)
    a = (df.rollup(stratum).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(xc == 1, 1).otherwise(0)).cast("bigint")
        .alias("exposed"),
        F.sum(F.when((xc == 1) & (yc == 1), 1).otherwise(0))
        .cast("bigint").alias("exposed_pos"),
        F.sum(F.when(xc == 0, 1).otherwise(0)).cast("bigint")
        .alias("unexposed"),
        F.sum(F.when((xc == 0) & (yc == 1), 1).otherwise(0))
        .cast("bigint").alias("unexposed_pos")))
    return a.select(
        stratum, "n", "exposed", "exposed_pos", "unexposed",
        "unexposed_pos",
        F.round(F.col("exposed_pos").cast("double")
                / F.col("exposed").cast("double"), 6)
        .alias("exposed_rate"),
        F.round(F.col("unexposed_pos").cast("double")
                / F.col("unexposed").cast("double"), 6)
        .alias("unexposed_rate"),
        (F.col("exposed_pos") * F.col("unexposed")
         > F.col("unexposed_pos") * F.col("exposed"))
        .alias("exposure_helps"))


def mantel_haenszel(df: DataFrame, stratum: str, x: str, y: str,
                    n_strata: int) -> DataFrame:
    """One row: per-stratum ORs, the MH pooled OR, and the crude
    (unstratified) OR. `stratum` must take values 0..n_strata-1."""
    xc, yc, sc = F.col(x), F.col(y), F.col(stratum)
    aggs = []
    for s in range(n_strata):
        for nm, cond in [("a", (xc == 1) & (yc == 1)),
                         ("b", (xc == 1) & (yc == 0)),
                         ("c", (xc == 0) & (yc == 1)),
                         ("d", (xc == 0) & (yc == 0))]:
            aggs.append(F.sum(F.when((sc == s) & cond, 1).otherwise(0))
                        .cast("bigint").alias(f"{nm}{s}"))
    one = df.agg(*aggs)
    num = " + ".join(
        f"CAST(a{s} AS DOUBLE) * CAST(d{s} AS DOUBLE) "
        f"/ CAST(a{s} + b{s} + c{s} + d{s} AS DOUBLE)"
        for s in range(n_strata))
    den = " + ".join(
        f"CAST(b{s} AS DOUBLE) * CAST(c{s} AS DOUBLE) "
        f"/ CAST(a{s} + b{s} + c{s} + d{s} AS DOUBLE)"
        for s in range(n_strata))
    crude_num = " + ".join(f"a{s}" for s in range(n_strata))
    crude_b = " + ".join(f"b{s}" for s in range(n_strata))
    crude_c = " + ".join(f"c{s}" for s in range(n_strata))
    crude_d = " + ".join(f"d{s}" for s in range(n_strata))
    cols = []
    for s in range(n_strata):
        cols.append(F.round(F.expr(
            f"CAST(a{s} AS DOUBLE) * CAST(d{s} AS DOUBLE) "
            f"/ (CAST(b{s} AS DOUBLE) * CAST(c{s} AS DOUBLE))"), 6)
            .alias(f"or{s}"))
    return one.select(
        *cols,
        F.round(F.expr(f"({num}) / ({den})"), 6).alias("mh_or"),
        F.round(F.expr(
            f"CAST(({crude_num}) AS DOUBLE) "
            f"* CAST(({crude_d}) AS DOUBLE) "
            f"/ (CAST(({crude_b}) AS DOUBLE) "
            f"* CAST(({crude_c}) AS DOUBLE))"), 6).alias("crude_or"))
