"""Corpus curation plan — the end-to-end keep/drop decision a
training-data pipeline materializes per document, composing the
engine's curation primitives into ONE auditable table: language
gate -> quality gate (length + lexical diversity) -> prefix-cluster
dedup (keep the smallest doc_id per 5-word prefix) -> per-source
token budget (PREFIX CUTOFF by length, see below) — with the FIRST
failing stage recorded as the drop reason (the lineage a curation run
must emit).

Exactness: every gate is integer/string logic — the diversity ratio
is the cross-multiplied compare distinct*10 >= words*3 (no
division), the budget is a per-source cumulative window over the
deterministic (n_chars DESC, doc_id) order with an integer cap.
Stage precedence is fixed: lang > quality > duplicate > budget.

Budget semantics — prefix cutoff, NOT greedy bin-fill: the cumulative
word sum runs over ALL dedup-surviving docs in (n_chars DESC, doc_id)
order, and a doc is kept iff the running total THROUGH it is within
the budget. A doc that overflows the budget still consumes budget for
every doc after it, so a later, smaller doc that would individually
fit is also dropped. This is the deterministic single-window shape
(one pass, engine/oracle identical); true greedy fill ("skip the
overflowing doc, keep summing over kept docs only") is a sequential
fold over the per-source doc list — see the repo's bounded-state
aggregate() folds (e.g. operators/cachesim.py) for that pattern if
first-fit semantics are ever required.

Scale shape: one explode aggregate for word stats, one groupBy for
prefix clusters, one per-source window for the budget — each stage a
single pass, no driver logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["curation_plan", "curation_funnel"]


def curation_plan(docs: DataFrame, *, lang: str = "en",
                  min_chars: int = 100, max_chars: int = 2000,
                  budget_words: int = 300) -> DataFrame:
    """Per doc: (doc_id, source, lang, words, distinct_words, kept,
    drop_reason)."""
    w = (docs.select("doc_id", F.explode(F.split("text", " "))
                     .alias("term"))
         .filter(F.col("term") != "")
         .groupBy("doc_id")
         .agg(F.count(F.lit(1)).cast("bigint").alias("words"),
              F.countDistinct("term").cast("bigint")
              .alias("distinct_words")))
    d = (docs.select("doc_id", "source", "lang", "n_chars",
                     F.expr("array_join(slice(split(text, ' '), 1, 5),"
                            " ' ')").alias("pfx"))
         .join(w, "doc_id"))
    d = d.withColumn("lang_ok", F.col("lang") == lang)
    d = d.withColumn(
        "qual_ok", (F.col("n_chars") >= min_chars)
        & (F.col("n_chars") <= max_chars)
        & (F.col("distinct_words") * 10 >= F.col("words") * 3))
    surv1 = F.col("lang_ok") & F.col("qual_ok")
    keeper = (d.filter(surv1)
              .groupBy("pfx")
              .agg(F.min("doc_id").alias("_keep_id")))
    d = d.join(F.broadcast(keeper), "pfx", "left")
    d = d.withColumn("dup_ok", surv1
                     & (F.col("doc_id") == F.col("_keep_id")))
    wb = (Window.partitionBy("source")
          .orderBy(F.col("n_chars").desc(), F.col("doc_id"))
          .rowsBetween(Window.unboundedPreceding, 0))
    d = d.withColumn(
        "_cum", F.sum(F.when(F.col("dup_ok"), F.col("words"))
                      .otherwise(0)).over(wb))
    d = d.withColumn("bud_ok", F.col("dup_ok")
                     & (F.col("_cum") <= budget_words))
    reason = (F.when(~F.col("lang_ok"), "lang")
              .when(~F.col("qual_ok"), "quality")
              .when(~F.col("dup_ok"), "duplicate")
              .when(~F.col("bud_ok"), "budget"))
    return d.select("doc_id", "source", "lang", "words",
                    "distinct_words",
                    F.col("bud_ok").alias("kept"),
                    reason.alias("drop_reason"))


def curation_funnel(docs: DataFrame, **kw) -> DataFrame:
    """Rollup: (stage, n_docs, n_words) for kept + each drop
    reason."""
    p = curation_plan(docs, **kw)
    return (p.groupBy(F.coalesce("drop_reason", F.lit("kept"))
                      .alias("stage"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"),
                 F.sum("words").cast("bigint").alias("n_words"))
            .orderBy("stage"))
