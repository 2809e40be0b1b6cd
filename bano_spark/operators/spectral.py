"""Orthonormal DCT-II spectral features per key — the
energy-compaction audit a time-series feature pipeline runs before
storing spectral embeddings ("how much of each series' energy do the
first K cosine coefficients carry?"), completing the temporal family
next to lag-1 autocorrelation (autocorrelation finds THE period;
the DCT measures how concentrated the whole spectrum is).

Mechanics: each key's first N values (deterministic (order, tiebreak)
prefix) form x in R^N; the orthonormal DCT-II is X_k = w_k * sum_n
x_n cos(pi (n + 1/2) k / N) with w_0 = sqrt(1/N), w_k = sqrt(2/N) —
Parseval then gives sum_k X_k^2 == sum_n x_n^2 EXACTLY in exact
arithmetic, and the operator emits that identity as a built-in
self-check column (parseval_ok at 1e-9 relative), so a transform bug
is self-evident in the output rather than needing an external
oracle.

Float discipline: the cos basis is PRECOMPUTED in Python and
embedded as one N x N literal table in both engines (cos() at
runtime would expose JVM-vs-DuckDB libm 1-ulp wobble); coefficient
sums are fixed index-order folds, so engine and oracle agree
bit-for-bit before the round-6 display rounding. The independent
numpy replay (tools/check_kernels.py) recomputes the basis with
np.cos and the products with np.dot — different basis, different
summation order — and must land within round-6 tolerance.

Scale shape: one groupBy collecting a BOUNDED N-element array per
key (N is model-sized, default 32 -> 256 B/key), then a pure
column-expression transform: no shuffle after the collect, no
Python. cite: Ahmed, Natarajan & Rao 1974 (DCT); the reference has
no spectral layer — LLM-pipeline telemetry mandate.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, functions as F

__all__ = ["dct2_basis", "dct2_compaction"]


def dct2_basis(n: int) -> list[list[float]]:
    """Orthonormal DCT-II basis rows T[k][i] = w_k cos(pi (i+1/2) k / n)."""
    out = []
    for k in range(n):
        w = math.sqrt(1.0 / n) if k == 0 else math.sqrt(2.0 / n)
        out.append([w * math.cos(math.pi * (i + 0.5) * k / n)
                    for i in range(n)])
    return out


def _basis_sql(n: int) -> str:
    rows = ", ".join(
        "array(" + ", ".join(repr(v) for v in row) + ")"
        for row in dct2_basis(n))
    return f"array({rows})"


def dct2_compaction(df: DataFrame, grp: str, order_cols: list[str],
                    val: str, *, n: int = 32,
                    keep: int = 8) -> DataFrame:
    """Per key: first-`keep` orthonormal DCT-II coefficients of the
    first `n` values, the energy-compaction ratio, and the Parseval
    self-check. Keys with fewer than `n` rows are dropped. Returns
    (grp, n, c0..c{keep-1}, energy, compaction, parseval_ok)."""
    if not 1 <= keep <= n:
        raise ValueError("dct2_compaction: need 1 <= keep <= n")
    # order columns keep their native types (array_sort orders
    # structs field-by-field; timestamps sort natively)
    row = F.struct(*[F.col(c).alias(f"o{j}")
                     for j, c in enumerate(order_cols)],
                   F.col(val).cast("double").alias("v"))
    d = (df.groupBy(F.col(grp).alias("g"))
         .agg(F.array_sort(F.collect_list(row)).alias("os"))
         .filter(F.size("os") >= n)
         .withColumn("xs", F.expr(
             f"transform(slice(os, 1, {n}), p -> p.v)"))
         .drop("os"))
    basis = _basis_sql(n)
    # all N coefficients in one transform over the literal basis —
    # fixed index-order folds, identical text on both engines
    d = d.withColumn("cs", F.expr(
        f"transform({basis}, trow -> "
        f"aggregate(sequence(1, {n}), CAST(0 AS DOUBLE), "
        f"(s, i) -> s + element_at(xs, i) * element_at(trow, i)))"))
    d = d.withColumn("et", F.expr(
        f"aggregate(sequence(1, {n}), CAST(0 AS DOUBLE), "
        f"(s, i) -> s + element_at(xs, i) * element_at(xs, i))"))
    d = d.withColumn("ef", F.expr(
        f"aggregate(sequence(1, {n}), CAST(0 AS DOUBLE), "
        f"(s, i) -> s + element_at(cs, i) * element_at(cs, i))"))
    d = d.withColumn("ek", F.expr(
        f"aggregate(sequence(1, {keep}), CAST(0 AS DOUBLE), "
        f"(s, i) -> s + element_at(cs, i) * element_at(cs, i))"))
    cols = [F.col("g").alias(grp), F.lit(n).cast("bigint").alias("n")]
    cols += [F.round(F.expr(f"element_at(cs, {k + 1})"), 6)
             .alias(f"c{k}") for k in range(keep)]
    cols += [
        F.round("et", 6).alias("energy"),
        F.round(F.col("ek") / F.col("et"), 6).alias("compaction"),
        (F.abs(F.col("ef") - F.col("et"))
         <= 1e-9 * F.col("et")).alias("parseval_ok"),
    ]
    return d.select(*cols).orderBy(grp)
