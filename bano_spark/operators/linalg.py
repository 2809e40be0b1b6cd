"""Distributed linear algebra over embedding columns: covariance /
PCA — the decorrelation and dimensionality-reduction steps of an
embedding-based curation pipeline (SemDeDup preprocessing, whitening
before IVF/PQ indexing).

Scale shape (10^10 vectors, d <= a few hundred):
  - the covariance matrix is computed in ONE pass with per-partition
    NumPy outer products: each Arrow batch contributes X^T X (d x d),
    the component sums, and a count — so the shuffle carries
    O(partitions x d^2) tiny rows, never the vectors. All three
    statistics are additive, so map-side partial aggregation applies
    and cov = (S_xx - S_i S_j / n) / (n - 1) is assembled from global
    sums. This is the textbook "sufficient statistics" reduction; the
    vectors themselves are read once and never reshuffled.
  - eigen-decomposition runs on the driver on the d x d result (d^2
    doubles — trivial), as on any distributed system; the projection
    back onto top-k components is a broadcast matrix fold executed
    per-batch in Arrow.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame, functions as F, types as T


def embedding_covariance(embs: DataFrame, *, vec_col: str = "embedding",
                         round_to: int | None = None) -> DataFrame:
    """Sample covariance matrix of the vector column, as upper-triangle
    rows (i, j, cov) with 0-based i <= j. One distributed pass; see
    module docstring for the sufficient-statistics shape."""
    out_schema = T.StructType([
        T.StructField("i", T.IntegerType()),
        T.StructField("j", T.IntegerType()),
        T.StructField("sxx", T.DoubleType()),
        T.StructField("si", T.DoubleType()),
        T.StructField("sj", T.DoubleType()),
        T.StructField("n", T.LongType()),
    ])

    def partial(batches):
        import pandas as pd

        m = s = None
        n = 0
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            if m is None:
                d = x.shape[1]
                m = np.zeros((d, d))
                s = np.zeros(d)
            m += x.T @ x
            s += x.sum(axis=0)
            n += x.shape[0]
        if m is None:
            yield pd.DataFrame(
                {"i": [], "j": [], "sxx": [], "si": [], "sj": [], "n": []}
            ).astype({"i": "int32", "j": "int32", "n": "int64"})
            return
        iu, ju = np.triu_indices(m.shape[0])
        yield pd.DataFrame({
            "i": iu.astype("int32"), "j": ju.astype("int32"),
            "sxx": m[iu, ju], "si": s[iu], "sj": s[ju],
            "n": np.full(len(iu), n, dtype="int64")})

    partials = embs.select(vec_col).mapInPandas(partial, out_schema)
    cov = (partials.groupBy("i", "j")
           .agg(F.sum("sxx").alias("sxx"), F.sum("si").alias("si"),
                F.sum("sj").alias("sj"), F.sum("n").alias("n"))
           .select("i", "j",
                   ((F.col("sxx") - F.col("si") * F.col("sj") / F.col("n"))
                    / (F.col("n") - 1)).alias("cov")))
    if round_to is not None:
        cov = cov.withColumn("cov", F.round("cov", round_to))
    return cov


def pca_components(embs: DataFrame, k: int, *,
                   vec_col: str = "embedding") -> tuple[np.ndarray, np.ndarray]:
    """Top-k principal axes from the distributed covariance: returns
    (eigenvalues desc [k], components [k x d]). The d x d eigenproblem
    is driver-side by design. Component SIGNS are fixed so the largest
    |entry| of each component is positive — eigenvectors are
    sign-ambiguous and this pins a deterministic choice."""
    rows = embedding_covariance(embs, vec_col=vec_col).collect()
    d = max(r["j"] for r in rows) + 1
    c = np.zeros((d, d))
    for r in rows:
        c[r["i"], r["j"]] = r["cov"]
        c[r["j"], r["i"]] = r["cov"]
    vals, vecs = np.linalg.eigh(c)
    order = np.argsort(vals)[::-1][:k]
    comps = vecs[:, order].T.copy()
    for row in comps:
        if row[np.argmax(np.abs(row))] < 0:
            row *= -1
    return vals[order], comps


def pca_project(embs: DataFrame, components: np.ndarray, *,
                id_col: str = "vec_id", vec_col: str = "embedding",
                out_col: str = "proj") -> DataFrame:
    """Project each vector onto the given [k x d] components — a
    broadcast matrix multiply per Arrow batch (vectors never
    shuffle)."""
    comp = components.astype(np.float64)
    out_schema = T.StructType([
        embs.schema[id_col],
        T.StructField(out_col, T.ArrayType(T.DoubleType())),
    ])

    def project(batches):
        import pandas as pd

        for pdf in batches:
            if not len(pdf):
                yield pd.DataFrame({id_col: [], out_col: []})
                continue
            x = np.array([np.asarray(v, dtype=np.float64)
                          for v in pdf[vec_col]])
            p = x @ comp.T
            yield pd.DataFrame({id_col: pdf[id_col],
                                out_col: list(p)})

    return embs.select(id_col, vec_col).mapInPandas(project, out_schema)


def mahalanobis_diag_scores(emb: DataFrame, id_col: str = "vec_id",
                            vec_col: str = "embedding", *,
                            round_to: int = 6) -> DataFrame:
    """Per-vector Mahalanobis outlier score under a DIAGONAL
    covariance model: sum_d (x_d - mu_d)^2 / var_d with per-dimension
    population moments — the cheap global-outlier screen before
    embedding-space dedup/selection (full-covariance scoring is
    `covariance_matrix` + a driver-side inverse; the diagonal form
    needs no matrix at all). Constant dimensions (var = 0) contribute
    0 by convention.

    Scale shape: one posexplode pass for the per-dim moments (O(dim)
    rows out), a broadcast join of those O(dim) stats back onto the
    exploded vectors, one groupBy(id). Never materializes a gram
    matrix; nothing quadratic. Returns (id, dims, maha_score)."""
    e = emb.select(F.col(id_col).alias("_id"),
                   F.posexplode(F.col(vec_col)).alias("_d", "_x")) \
        .withColumn("_x", F.col("_x").cast("double"))
    st = (e.groupBy("_d")
          .agg(F.count(F.lit(1)).cast("double").alias("_n"),
               F.sum("_x").alias("_s"),
               F.sum(F.col("_x") * F.col("_x")).alias("_ss"))
          .select(F.col("_d").alias("_d2"),
                  (F.col("_s") / F.col("_n")).alias("_mu"),
                  (F.col("_ss") / F.col("_n")
                   - (F.col("_s") / F.col("_n"))
                   * (F.col("_s") / F.col("_n"))).alias("_var")))
    term = F.when(F.col("_var") > 0,
                  (F.col("_x") - F.col("_mu"))
                  * (F.col("_x") - F.col("_mu")) / F.col("_var")) \
        .otherwise(F.lit(0.0))
    return (e.join(F.broadcast(st), e["_d"] == st["_d2"])
            .groupBy("_id")
            .agg(F.count(F.lit(1)).cast("bigint").alias("dims"),
                 F.round(F.sum(term), round_to).alias("maha_score"))
            .withColumnRenamed("_id", id_col))
