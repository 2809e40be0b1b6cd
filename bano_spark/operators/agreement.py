"""Clustering-agreement metrics from the contingency table — mutual
information, normalized MI, homogeneity / completeness / V-measure
(Rosenberg & Hirschberg EMNLP'07; Vinh et al. JMLR'10 NMI) — the
information-theoretic complement of the adjusted Rand index.

Everything reduces to integer contingency counts n_ij and marginals:

    MI  = sum_ij (n_ij/n) * ln(n * n_ij / (n_i * n_j))
    H_C = -sum_i (n_i/n) * ln(n_i/n)     (ditto H_K)
    homogeneity = MI/H_C, completeness = MI/H_K,
    v = 2hc/(h+c),  NMI = MI/sqrt(H_C*H_K)

The ln-term sums are over at most |C|x|K| rows — rounded 6 at the end
(the libm/sum-order precedent); every count feeding them is an exact
integer aggregate, map-side combinable, keyed by dataset. No Python.

Ref parity: quality scoring of a predicted partition against the
reference partition — same census shape as the commune batch stats.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["agreement_metrics"]


def agreement_metrics(df: DataFrame, ds: str, l1: str,
                      l2: str) -> DataFrame:
    """Per dataset ``ds``: n, class counts, H_true, H_pred, MI, NMI,
    homogeneity, completeness, V-measure (all round-6)."""
    cont = df.groupBy(ds, l1, l2).agg(F.count(F.lit(1)).alias("nij"))
    m1 = df.groupBy(ds, l1).agg(F.count(F.lit(1)).alias("ni"))
    m2 = df.groupBy(ds, l2).agg(F.count(F.lit(1)).alias("nj"))
    tot = df.groupBy(ds).agg(F.count(F.lit(1)).alias("n"))

    nd = F.col("n").cast("double")
    mi = (cont.join(m1, [ds, l1]).join(m2, [ds, l2]).join(tot, ds)
          .withColumn("t", (F.col("nij").cast("double") / nd)
                      * F.log((nd * F.col("nij").cast("double"))
                              / (F.col("ni").cast("double")
                                 * F.col("nj").cast("double"))))
          .groupBy(ds).agg(F.sum("t").alias("mi_raw")))

    def ent(marg: DataFrame, cnt: str, out: str) -> DataFrame:
        return (marg.join(tot, ds)
                .withColumn("t", -(F.col(cnt).cast("double") / nd)
                            * F.log(F.col(cnt).cast("double") / nd))
                .groupBy(ds).agg(F.sum("t").alias(out)))

    h1 = ent(m1, "ni", "h_true_raw")
    h2 = ent(m2, "nj", "h_pred_raw")
    k1 = m1.groupBy(ds).agg(F.count(F.lit(1)).alias("k_true"))
    k2 = m2.groupBy(ds).agg(F.count(F.lit(1)).alias("k_pred"))

    d = (tot.join(mi, ds).join(h1, ds).join(h2, ds)
         .join(k1, ds).join(k2, ds))
    # degenerate conventions (sklearn): a zero entropy makes the
    # partition trivially homogeneous/complete (-> 1); NMI with a
    # zero entropy (or v with h + c = 0) is 0. ANSI mode makes the
    # unguarded 0/0 a runtime error, not a NaN.
    hom = F.when(F.col("h_true_raw") == 0, F.lit(1.0)) \
        .otherwise(F.col("mi_raw") / F.col("h_true_raw"))
    com = F.when(F.col("h_pred_raw") == 0, F.lit(1.0)) \
        .otherwise(F.col("mi_raw") / F.col("h_pred_raw"))
    nmi = F.when((F.col("h_true_raw") == 0) | (F.col("h_pred_raw") == 0),
                 F.lit(0.0)) \
        .otherwise(F.col("mi_raw")
                   / F.sqrt(F.col("h_true_raw") * F.col("h_pred_raw")))
    v = F.when(hom + com == 0, F.lit(0.0)) \
        .otherwise(2 * hom * com / (hom + com))
    return (d.select(
        F.col(ds),
        F.col("n").cast("bigint").alias("n"),
        F.col("k_true").cast("bigint").alias("k_true"),
        F.col("k_pred").cast("bigint").alias("k_pred"),
        F.round("h_true_raw", 6).alias("h_true"),
        F.round("h_pred_raw", 6).alias("h_pred"),
        F.round("mi_raw", 6).alias("mi"),
        F.round(nmi, 6).alias("nmi"),
        F.round(hom, 6).alias("homogeneity"),
        F.round(com, 6).alias("completeness"),
        F.round(v, 6).alias("v_measure")))
