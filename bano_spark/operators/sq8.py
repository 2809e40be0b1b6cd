"""Scalar int8 embedding quantization audit — per-dimension affine
uint8 codes (the storage-4x-cheaper baseline every vector store
offers) measured two ways: cosine distortion per query and top-k
recall against the exact ranking (SQ8 is the no-codebook
alternative to product quantization).

Determinism: per-dim min/max are order-free exact aggregates over
float32 values (cast to double losslessly); the code is
floor(x + 0.5) with explicit clamp (no round() half-mode ambiguity);
every cosine is a fixed INDEX-ORDER fold over the 64 dims (never a
SQL SUM over exploded rows), so exact and quantized rankings are
bit-identical across engines, ties broken by vec_id. Distortion
means quantize |err| to 2^-24 before the only cross-row sums.

Scale shape: one explode + one 64-row dim-stats broadcast to build
codes; ranking is a query-keyed crossJoin (bound the query set — the
operator takes it as a filter) + per-query rank windows; recall is
an exact pair join of two top-k tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["dequantized", "sq8_distortion", "sq8_recall"]

DIM = 64


def _fold(a: str, b: str) -> str:
    return (f"aggregate(sequence(1, {DIM}), CAST(0 AS DOUBLE), "
            f"(s, i) -> s + CAST(element_at({a}, CAST(i AS INT)) "
            f"AS DOUBLE) * CAST(element_at({b}, CAST(i AS INT)) "
            f"AS DOUBLE))")


def _cos(a: str, b: str) -> F.Column:
    return F.expr(f"{_fold(a, b)} / sqrt({_fold(a, a)} "
                  f"* {_fold(b, b)})")


def dequantized(emb: DataFrame) -> DataFrame:
    """(vec_id, embedding, deq) with deq the int8-roundtripped
    vector."""
    ex = emb.select("vec_id", F.posexplode("embedding")
                    .alias("pos", "v"))
    dims = (ex.groupBy("pos")
            .agg(F.min(F.col("v").cast("double")).alias("mn"),
                 F.max(F.col("v").cast("double")).alias("mx")))
    q = ("least(CAST(255 AS DOUBLE), greatest(CAST(0 AS DOUBLE), "
         "floor((CAST(v AS DOUBLE) - mn) * 255.0 / (mx - mn) + 0.5)))")
    de = (ex.join(F.broadcast(dims), "pos")
          .withColumn("deq", F.expr(f"mn + {q} * (mx - mn) / 255.0"))
          .groupBy("vec_id")
          .agg(F.expr("transform(array_sort(collect_list("
                      "struct(pos, deq))), x -> x.deq)").alias("deq")))
    return emb.select("vec_id", "embedding").join(de, "vec_id")


def sq8_distortion(emb: DataFrame, *, qmod: int = 25) -> DataFrame:
    """Per query vector (vec_id % qmod == 0): cosine distortion of
    the quantized vectors over all pairs. Returns (qid, n_pairs,
    mean_abs_err, max_abs_err)."""
    d = dequantized(emb)
    qs = d.filter(F.col("vec_id") % qmod == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
        F.col("deq").alias("qd"))
    p = (qs.crossJoin(d.select(F.col("vec_id").alias("vid"),
                               F.col("embedding").alias("ve"),
                               F.col("deq").alias("vd")))
         .filter(F.col("qid") != F.col("vid"))
         .withColumn("ce", _cos("qe", "ve"))
         .withColumn("cq", _cos("qd", "vd"))
         .withColumn("err", F.abs(F.col("cq") - F.col("ce")))
         .withColumn("qerr", F.expr(
             "floor(err * 16777216.0) / 16777216.0")))
    return (p.groupBy("qid")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                 F.sum("qerr").alias("_s"),
                 F.max("err").alias("_m"))
            .select("qid", "n_pairs",
                    F.round(F.col("_s")
                            / F.col("n_pairs").cast("double"), 6)
                    .alias("mean_abs_err"),
                    F.round("_m", 6).alias("max_abs_err"))
            .orderBy("qid"))


def sq8_recall(emb: DataFrame, *, qmod: int = 25,
               k: int = 10) -> DataFrame:
    """Recall@k of the quantized ranking vs the exact one per query.
    Returns (qid, n_matched, recall_at_k)."""
    d = dequantized(emb)
    qs = d.filter(F.col("vec_id") % qmod == 0).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"),
        F.col("deq").alias("qd"))
    p = (qs.crossJoin(d.select(F.col("vec_id").alias("vid"),
                               F.col("embedding").alias("ve"),
                               F.col("deq").alias("vd")))
         .filter(F.col("qid") != F.col("vid"))
         .withColumn("ce", _cos("qe", "ve"))
         .withColumn("cq", _cos("qd", "vd")))
    we = Window.partitionBy("qid").orderBy(F.col("ce").desc(), "vid")
    wq = Window.partitionBy("qid").orderBy(F.col("cq").desc(), "vid")
    te = (p.withColumn("r", F.row_number().over(we))
          .filter(F.col("r") <= k).select("qid", "vid"))
    tq = (p.withColumn("r", F.row_number().over(wq))
          .filter(F.col("r") <= k).select("qid", "vid"))
    m = (te.join(tq, ["qid", "vid"])
         .groupBy("qid")
         .agg(F.count(F.lit(1)).cast("bigint").alias("n_matched")))
    return (te.groupBy("qid").agg(F.count(F.lit(1)).alias("_k"))
            .join(m, "qid", "left")
            .select("qid",
                    F.coalesce(F.col("n_matched"), F.lit(0))
                    .cast("bigint").alias("n_matched"),
                    F.round(F.coalesce(F.col("n_matched"), F.lit(0))
                            .cast("double") / F.lit(float(k)), 6)
                    .alias("recall_at_k"))
            .orderBy("qid"))
