"""Centroid-based extractive summarization (Radev's MEAD family) —
pick each document's most representative pseudo-sentences by cosine
to the document's own term distribution — the curation-side
summarizer next to the keyword rankers (which rank TERMS; this ranks
SPANS, the thing a context-budgeted pipeline actually keeps).

Exactness: term counts are integers, so every dot product and norm
is an exact integer aggregate (sums of integer products are
order-free), and cosine = dot / sqrt(ns * nd) is ONE fixed chain per
chunk row — bit-identical across engines with no quantization
anywhere in the selection path. Cross-chunk averages in the rollup
quantize cosine to 2^-20 first (the usual aggregate contract).

Pseudo-sentences: fixed 12-word chunks (the synthetic corpus has no
punctuation; chunking is the disclosed segmentation and the operator
takes it as a parameter).

Scale shape: one explode + three hash aggregates + one broadcast-safe
equi-join on (doc, term) + a per-doc rank window. The join key
carries document granularity, so skew follows document length — cap
chunk count upstream for pathological documents.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["chunk_cosines", "extractive_topk", "summary_rollup"]


def chunk_cosines(docs: DataFrame, *, chunk_words: int = 12,
                  min_chunks: int = 4) -> DataFrame:
    """Per (doc, chunk): n_terms and cosine to the whole-doc term
    vector."""
    w = (docs.select("doc_id", "source",
                     F.posexplode(F.split("text", " "))
                     .alias("pos", "term"))
         .filter(F.col("term") != "")
         .withColumn("chunk", F.expr(f"pos DIV {chunk_words}")))
    tfc = (w.groupBy("doc_id", "source", "chunk", "term")
           .agg(F.count(F.lit(1)).cast("bigint").alias("ct")))
    tfd = (tfc.groupBy("doc_id", "term")
           .agg(F.sum("ct").cast("bigint").alias("dt")))
    ns = (tfc.groupBy("doc_id", "source", "chunk")
          .agg(F.sum(F.col("ct") * F.col("ct")).cast("bigint")
               .alias("ns"),
               F.sum("ct").cast("bigint").alias("n_terms")))
    nd = (tfd.groupBy("doc_id")
          .agg(F.sum(F.col("dt") * F.col("dt")).cast("bigint")
               .alias("nd"),
               F.countDistinct("term").cast("bigint").alias("_v")))
    dots = (tfc.join(tfd, ["doc_id", "term"])
            .groupBy("doc_id", "chunk")
            .agg(F.sum(F.col("ct") * F.col("dt")).cast("bigint")
                 .alias("dot")))
    nchunks = ns.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"))
    j = (ns.join(dots, ["doc_id", "chunk"])
         .join(F.broadcast(nd.drop("_v")), "doc_id")
         .join(F.broadcast(nchunks), "doc_id")
         .filter(F.col("n_chunks") >= min_chunks))
    cos = (F.col("dot").cast("double")
           / F.sqrt((F.col("ns") * F.col("nd")).cast("double")))
    return j.select("doc_id", "source", "chunk", "n_terms",
                    "n_chunks", cos.alias("cos"))


def extractive_topk(docs: DataFrame, *, k: int = 2,
                    chunk_words: int = 12,
                    min_chunks: int = 4) -> DataFrame:
    """Top-k chunks per doc by (cosine DESC, chunk). Returns
    (doc_id, chunk, n_terms, cos, rank)."""
    c = chunk_cosines(docs, chunk_words=chunk_words,
                      min_chunks=min_chunks)
    w = Window.partitionBy("doc_id").orderBy(F.col("cos").desc(),
                                             F.col("chunk"))
    return (c.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k)
            .select("doc_id", "chunk", "n_terms",
                    F.round("cos", 6).alias("cos"), "rank")
            .orderBy("doc_id", "rank"))


def summary_rollup(docs: DataFrame, *, k: int = 2,
                   chunk_words: int = 12,
                   min_chunks: int = 4) -> DataFrame:
    """Per source: mean cosine of selected vs unselected chunks
    (2^-20-quantized sums) — the evidence that centroid selection
    separates. Returns (source, n_docs, n_chunks, mean_cos_selected,
    mean_cos_rest)."""
    c = chunk_cosines(docs, chunk_words=chunk_words,
                      min_chunks=min_chunks)
    w = Window.partitionBy("doc_id").orderBy(F.col("cos").desc(),
                                             F.col("chunk"))
    d = (c.withColumn("rank", F.row_number().over(w))
         .withColumn("sel", (F.col("rank") <= k).cast("int"))
         .withColumn("qc", F.expr(
             "floor(cos * 1048576.0) / 1048576.0")))
    return (d.groupBy("source")
            .agg(F.countDistinct("doc_id").cast("bigint")
                 .alias("n_docs"),
                 F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
                 F.sum(F.when(F.col("sel") == 1, F.col("qc"))
                       .otherwise(0.0)).alias("_ss"),
                 F.sum(F.col("sel")).cast("bigint").alias("_ns"),
                 F.sum(F.when(F.col("sel") == 0, F.col("qc"))
                       .otherwise(0.0)).alias("_sr"),
                 F.sum(1 - F.col("sel")).cast("bigint").alias("_nr"))
            .select("source", "n_docs", "n_chunks",
                    F.round(F.col("_ss") / F.col("_ns").cast("double"),
                            6).alias("mean_cos_selected"),
                    F.round(F.col("_sr") / F.col("_nr").cast("double"),
                            6).alias("mean_cos_rest"))
            .orderBy("source"))
