"""Cascade-model ranking metrics — Expected Reciprocal Rank
(Chapelle et al., CIKM 2009) and reciprocal-rank exposure fairness
(the Singh & Joachims 2018 exposure-vs-relevance disparity, with the
dyadic 1/rank attention curve) — completing the offline-eval family
(ndcg_at_10, mrr_first_relevant, rbo_rankers,
team_draft_interleaving).

ERR is inherently sequential (the cascade's continue-probability is a
running product), so it is a per-query fold over the (score DESC, id)
sorted item array — the engine-wide sequence-fold contract: one
groupBy shuffle, O(1) state, a fixed IEEE chain the DuckDB
list_reduce oracle replays verbatim (relevance grades map to the
DYADIC R in {0, 1/16, 3/16, 7/16} via a literal CASE — no pow(), no
libm). Exposure uses the same fold with 1/rank weights: each division
is exact-operand IEEE, and results are reported PER QUERY (never
summed across queries), so no cross-engine sum-order freedom exists
anywhere.

Scale shape: one window-free groupBy per operator; per-query arrays
are the ranking length (cap k upstream for unbounded candidate
sets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["err_at_k", "exposure_fairness"]

# grade -> stopping probability (2^g - 1) / 2^gmax, gmax = 4 (dyadic)
_R_SPARK = ("CASE CAST(v.g AS INT) WHEN 0 THEN 0.0 WHEN 1 THEN 0.0625 "
            "WHEN 2 THEN 0.1875 ELSE 0.4375 END")


def _ranked(df: DataFrame, q: str, score: str, id_col: str,
            extra: dict[str, str]) -> DataFrame:
    fields = [(-F.col(score).cast("double")).alias("ns"),
              F.col(id_col).cast("double").alias("id")]
    for alias, col in extra.items():
        fields.append(F.col(col).cast("double").alias(alias))
    return (df.groupBy(F.col(q).alias("q"))
            .agg(F.array_sort(F.collect_list(F.struct(*fields)))
                 .alias("rk")))


def err_at_k(df: DataFrame, q: str, score: str, id_col: str,
             grade: str, *, k: int = 10) -> DataFrame:
    """Per-query ERR@k under the cascade model with dyadic stopping
    probabilities. Returns (q, n_items, err)."""
    fold = f"""
      aggregate(slice(rk, 1, {k}),
        named_struct('i', CAST(0 AS DOUBLE), 'p', CAST(1 AS DOUBLE),
                     'err', CAST(0 AS DOUBLE)),
        (s, v) -> named_struct(
          'i', s.i + 1.0,
          'p', s.p * (1.0 - {_R_SPARK}),
          'err', s.err + (s.p * {_R_SPARK}) / (s.i + 1.0)))"""
    d = _ranked(df, q, score, id_col, {"g": grade})
    return (d.select("q", F.size("rk").cast("bigint").alias("n_items"),
                     F.expr(fold).alias("_st"))
            .select("q", "n_items",
                    F.round(F.col("_st.err"), 6).alias("err")))


def exposure_fairness(df: DataFrame, q: str, score: str, id_col: str,
                      grade: str, attr: str, *, k: int = 10) -> DataFrame:
    """Per-query exposure-vs-relevance disparity for a binary group
    attribute (1 = protected) under the 1/rank attention curve over
    the top k. Returns (q, exp_a, exp_b, rel_a, rel_b,
    exposure_share_a, rel_share_a, disparity); rel_* are exact
    integer grade sums, disparity = exposure share minus relevance
    share of group a."""
    fold = f"""
      aggregate(slice(rk, 1, {k}),
        named_struct('i', CAST(0 AS DOUBLE),
                     'ea', CAST(0 AS DOUBLE), 'eb', CAST(0 AS DOUBLE),
                     'ra', CAST(0 AS DOUBLE), 'rb', CAST(0 AS DOUBLE)),
        (s, v) -> named_struct(
          'i', s.i + 1.0,
          'ea', IF(v.a = 1.0, s.ea + 1.0 / (s.i + 1.0), s.ea),
          'eb', IF(v.a = 1.0, s.eb, s.eb + 1.0 / (s.i + 1.0)),
          'ra', IF(v.a = 1.0, s.ra + v.g, s.ra),
          'rb', IF(v.a = 1.0, s.rb, s.rb + v.g)))"""
    d = _ranked(df, q, score, id_col, {"g": grade, "a": attr})
    st = F.expr(fold)
    out = d.select("q", st.alias("_st")).select(
        "q",
        F.round(F.col("_st.ea"), 6).alias("exp_a"),
        F.round(F.col("_st.eb"), 6).alias("exp_b"),
        F.col("_st.ra").cast("bigint").alias("rel_a"),
        F.col("_st.rb").cast("bigint").alias("rel_b"),
        F.expr("_st.ea / (_st.ea + _st.eb)").alias("_esa"),
        F.expr("_st.ra / (_st.ra + _st.rb)").alias("_rsa"))
    return out.select(
        "q", "exp_a", "exp_b", "rel_a", "rel_b",
        F.round("_esa", 6).alias("exposure_share_a"),
        F.round("_rsa", 6).alias("rel_share_a"),
        F.round(F.col("_esa") - F.col("_rsa"), 6).alias("disparity"))
