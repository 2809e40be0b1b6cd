"""Cash-flow analytics — per-project IRR via Newton-Raphson on the
NPV polynomial, and the NPV rate-sensitivity table — the
capital-budgeting layer next to the engine's risk stack.

Both are sequence folds under the engine-wide contract (one groupBy
on the project key, struct accumulator over the time-sorted cashflow
array, fixed IEEE chains mirrored verbatim by DuckDB list_reduce):
NPV and its derivative accumulate in ONE pass per rate via a running
discount factor (d' = d / (1+r) — no pow(), so no libm), and the
Newton iteration is an outer fold over a fixed iteration count whose
lambda-bound rate the inner fold captures — the nested-capture
pattern of operators/hmm.py.

Caveats owned by the caller (and the fixtures): cashflow times must
be consecutive 0..T per project (the running discount assumes it —
rn-1 over an event order gives exactly that), and the t=0 flow
should be negative with positive later flows so NPV is monotone
decreasing in r and Newton from r0 converges (dNPV < 0 everywhere —
the division is never by zero).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["irr_newton", "npv_table"]


def _npv_fold(r: str, out: str) -> str:
    """Inner single-pass (d, npv, dnpv) fold over `cfs` at rate
    expression `r`; returns field `out` of the final struct."""
    return (f"aggregate(cfs, "
            f"named_struct('d', CAST(1 AS DOUBLE), "
            f"'npv', CAST(0 AS DOUBLE), 'dnpv', CAST(0 AS DOUBLE)), "
            f"(s, v) -> named_struct("
            f"'d', s.d / (1.0 + {r}), "
            f"'npv', s.npv + v.cf * s.d, "
            f"'dnpv', s.dnpv - v.t * v.cf * s.d / (1.0 + {r}))).{out}")


def _sorted_cfs(df: DataFrame, grp: str, order: str,
                cf: str) -> DataFrame:
    row = F.struct(F.col(order).cast("double").alias("o"),
                   F.col(cf).cast("double").alias("c"))
    return (df.groupBy(F.col(grp).alias("g"))
            .agg(F.array_sort(F.collect_list(row)).alias("os"))
            .withColumn("cfs", F.expr(
                "transform(os, (x, i) -> named_struct("
                "'t', CAST(i AS DOUBLE), 'cf', x.c))")))


def irr_newton(df: DataFrame, grp: str, order: str, cf: str, *,
               iters: int = 4, r0: float = 0.1,
               min_flows: int = 4) -> DataFrame:
    """Per project: `iters` Newton steps from r0. Returns (grp,
    n_flows, total_cf, irr, npv_residual) — npv_residual is NPV at
    the returned rate (convergence evidence, rounded 6)."""
    newton = (f"aggregate(sequence(1, {iters}), "
              f"CAST({r0!r} AS DOUBLE), (r, it) -> "
              f"r - {_npv_fold('r', 'npv')} / {_npv_fold('r', 'dnpv')})")
    d = (_sorted_cfs(df, grp, order, cf)
         .filter(F.size("cfs") >= min_flows)
         .withColumn("irr", F.expr(newton)))
    return d.select(
        F.col("g").alias(grp),
        F.size("cfs").cast("bigint").alias("n_flows"),
        F.expr("CAST(aggregate(cfs, CAST(0 AS DOUBLE), "
               "(s, v) -> s + v.cf) AS BIGINT)").alias("total_cf"),
        F.round("irr", 6).alias("irr"),
        # + 0.0 after rounding normalizes -0.0 (engines differ on the
        # sign of a rounded-away negative residual)
        (F.round(F.expr(_npv_fold("irr", "npv")), 6) + F.lit(0.0))
        .alias("npv_residual"))


def npv_table(df: DataFrame, grp: str, order: str, cf: str,
              rates: list[float], *, min_flows: int = 4) -> DataFrame:
    """Per (project, rate): single-pass NPV. Returns (grp, rate,
    npv)."""
    d = _sorted_cfs(df, grp, order, cf).filter(
        F.size("cfs") >= min_flows)
    structs = ", ".join(
        f"named_struct('rate', CAST({r!r} AS DOUBLE), "
        f"'npv', {_npv_fold(repr(float(r)), 'npv')})"
        for r in rates)
    return (d.select("g", F.explode(F.expr(f"array({structs})"))
                     .alias("c"))
            .select(F.col("g").alias(grp),
                    F.col("c.rate").alias("rate"),
                    F.round("c.npv", 6).alias("npv")))
