"""Token-level document diff via the Hunt–Szymanski LCS reduction —
the crawl-versioning primitive: given two versions of every document,
compute the longest common token subsequence (= classic diff), edit
distance, and similarity, all exactly and without per-row Python.

Reduction (Hunt & Szymanski, CACM 1977): list every match pair
(ia, ib) where token A[ia] == B[ib]; order by (ia ASC, ib DESC); the
longest STRICTLY-INCREASING subsequence of the ib values is exactly
the LCS length (ib-descending within one ia stops two matches of the
same A token from chaining). The LIS itself runs as the patience-fold
session kernel (the pile-tops invariant of patience sorting —
O(r log r) work on r = match count, the Hunt–Szymanski cost model).

Scale shape: one equi-join on (doc, token) builds the match list (the
only shuffle), one keyed collect + JVM-side aggregate() folds it.
r is bounded by the product of per-token multiplicities — the
`match_cost` report is the planner statistic that flags pathological
(low-vocabulary) documents for hashing-based fallbacks.

Ref parity: generalizes the reference's two-source name rapprochement
(bano/core.py:281-323) from whole-string equality to positional
subsequence alignment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["lcs_token_diff"]

# Patience fold (pile tops; strictly increasing) for the
# (ia ASC, ib DESC) ordering.
_PATIENCE_FOLD = """
    aggregate(
      vs,
      CAST(array() AS ARRAY<BIGINT>),
      (acc, x) -> CASE
        WHEN size(filter(acc, t -> t < x)) = size(acc)
        THEN concat(acc, array(x))
        ELSE concat(
          slice(acc, 1, size(filter(acc, t -> t < x))),
          array(x),
          slice(acc, size(filter(acc, t -> t < x)) + 2,
                size(acc) - size(filter(acc, t -> t < x)) - 1))
      END,
      acc -> size(acc))
"""


def lcs_token_diff(a: DataFrame, b: DataFrame, *,
                   id_col: str = "doc_id", pos_col: str = "pos",
                   tok_col: str = "tok") -> DataFrame:
    """Per document: n_a, n_b, n_matches, lcs_len, edit_distance,
    similarity (2*lcs/(n_a+n_b), one exact division).

    ``a`` and ``b`` carry one row per token (id, pos, tok), positions
    1-based contiguous per document.
    """
    na = a.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_a"))
    nb = b.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_b"))
    m = (a.select(F.col(id_col), F.col(pos_col).alias("ia"),
                  F.col(tok_col).alias("t"))
         .join(b.select(F.col(id_col), F.col(pos_col).alias("ib"),
                        F.col(tok_col).alias("t")),
               [id_col, "t"]))
    folded = (m
              .groupBy(id_col)
              .agg(F.count(F.lit(1)).alias("n_matches"),
                   F.array_sort(F.collect_list(F.struct(
                       F.col("ia"),
                       (-F.col("ib")).alias("nib"),
                       F.col("ib").cast("bigint").alias("val"))))
                   .alias("rows"))
              .withColumn("vs", F.col("rows").getField("val"))
              .withColumn("lcs_len",
                          F.expr(_PATIENCE_FOLD).cast("bigint"))
              .drop("rows", "vs"))
    return (na.join(nb, id_col)
            .join(folded, id_col, "left")
            .select(F.col(id_col),
                    F.col("n_a").cast("bigint").alias("n_a"),
                    F.col("n_b").cast("bigint").alias("n_b"),
                    F.coalesce("n_matches", F.lit(0)).cast("bigint")
                    .alias("n_matches"),
                    F.coalesce("lcs_len", F.lit(0)).cast("bigint")
                    .alias("lcs_len"))
            .withColumn("edit_distance",
                        (F.col("n_a") + F.col("n_b")
                         - 2 * F.col("lcs_len")).cast("bigint"))
            .withColumn("similarity",
                        (2.0 * F.col("lcs_len")).cast("double")
                        / (F.col("n_a") + F.col("n_b")).cast("double")))
