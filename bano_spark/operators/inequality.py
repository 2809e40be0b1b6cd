"""Inequality indices — Atkinson (epsilon = 1), Hoover (Robin Hood),
and the Palma ratio — completing the distributional-equity family
(Gini, Theil T, the Lorenz curve, concentration ratios).

Exactness choices, one per index, in the engine's usual ladder:
- Hoover is computed EXACTLY: sum |y - mu| with mu = S/n expands to
  ((Shi*n - nhi*S) + (nlo*S - Slo*n)) / n over integer sums, and the
  side split y > mu is the exact integer comparison y*n > S — so
  H = that / (2*S) is ONE division of exact integers (bit-identical,
  no float sums anywhere).
- Palma is exact order statistics: per-group (value, id) rank
  windows, integer-DIV thresholds (bottom 40% = r <= 4n DIV 10, top
  10% = r > n - n DIV 10), integer share sums, one final division.
- Atkinson(1) = 1 - geomean/mean needs ln: per-row ln is
  MICRO-QUANTIZED to the 2^-24 grid before summing (exact sums,
  order-free); the single exp per group is absorbed by round-to-6
  (the theil_t / wave-88 micro-nat precedent). Non-positive values
  drop (ln-undefined — the theil_t convention, disclosed).

Scale shape: Hoover and Atkinson are two aggregation passes with the
O(groups) first-pass row broadcast back; Palma is one per-group rank
window + one conditional aggregate. No global exchanges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["atkinson_index", "hoover_index", "palma_ratio"]

_Q = "16777216.0"


def atkinson_index(df: DataFrame, grp: str, y: str) -> DataFrame:
    """Returns (grp, n, mean_y, geo_mean, atkinson) with
    A(1) = 1 - exp(mean quantized-ln) / mean."""
    base = df.select(F.col(grp).alias("g"),
                     F.col(y).cast("double").alias("x")) \
        .filter(F.col("x") > 0)
    a = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").alias("s"),
        F.sum(F.expr(f"floor(ln(x) * {_Q}) / {_Q}")).alias("sl"))
    nd = F.col("n").cast("double")
    mean = F.col("s") / nd
    geo = F.exp(F.col("sl") / nd)
    return a.select(
        F.col("g").alias(grp), "n",
        F.round(mean, 6).alias("mean_y"),
        F.round(geo, 6).alias("geo_mean"),
        F.round(F.lit(1.0) - geo / mean, 6).alias("atkinson"))


def hoover_index(df: DataFrame, grp: str, y: str) -> DataFrame:
    """Returns (grp, n, total, hoover) — the share of total income
    that would have to move to equalize; EXACT integer arithmetic
    end-to-end (one final division)."""
    base = df.select(F.col(grp).alias("g"),
                     F.col(y).cast("bigint").alias("x"))
    p1 = base.groupBy("g").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"))
    j = base.join(F.broadcast(p1), "g")
    hi = F.col("x") * F.col("n") > F.col("s")
    p2 = j.groupBy("g").agg(
        F.first("n").alias("n"), F.first("s").alias("s"),
        F.sum(F.when(hi, F.col("x")).otherwise(0)).cast("bigint")
        .alias("shi"),
        F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("nhi"),
        F.sum(F.when(~hi, F.col("x")).otherwise(0)).cast("bigint")
        .alias("slo"),
        F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias("nlo"))
    num = ((F.col("shi") * F.col("n") - F.col("nhi") * F.col("s"))
           + (F.col("nlo") * F.col("s") - F.col("slo") * F.col("n")))
    den = F.lit(2) * F.col("s") * F.col("n")
    return p2.select(
        F.col("g").alias(grp), "n",
        F.col("s").alias("total"),
        F.round(num.cast("double") / den.cast("double"), 6)
        .alias("hoover"))


def palma_ratio(df: DataFrame, grp: str, y: str,
                id_col: str) -> DataFrame:
    """Returns (grp, n, bottom40_sum, top10_sum, palma, top10_share)
    — exact order statistics with (value, id) tie-break."""
    w = Window.partitionBy(grp).orderBy(F.col(y), F.col(id_col))
    wc = Window.partitionBy(grp)
    d = df.select(F.col(grp).alias("g"),
                  F.col(y).cast("bigint").alias("x"),
                  F.row_number().over(w).alias("r"),
                  F.count(F.lit(1)).over(wc).alias("n"))
    bot = F.col("r") <= F.expr("(4 * n) DIV 10")
    top = F.col("r") > F.col("n") - F.expr("n DIV 10")
    a = d.groupBy("g").agg(
        F.max("n").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.when(bot, F.col("x")).otherwise(0)).cast("bigint")
        .alias("b40"),
        F.sum(F.when(top, F.col("x")).otherwise(0)).cast("bigint")
        .alias("t10"))
    return a.select(
        F.col("g").alias(grp), "n",
        F.col("b40").alias("bottom40_sum"),
        F.col("t10").alias("top10_sum"),
        F.round(F.col("t10").cast("double")
                / F.col("b40").cast("double"), 6).alias("palma"),
        F.round(F.col("t10").cast("double")
                / F.col("s").cast("double"), 6).alias("top10_share"))
