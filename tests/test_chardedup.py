"""The word-13-gram blind spot: a 60-char copied span, re-embedded
mid-word at a shifted offset, yields ZERO word-13-gram duplicate spans
(operators/webtext.dup_span_stats).
"""

from bano_spark.operators.webtext import dup_span_stats

SRC = ("the quick brown fox jumps over the lazy dog while seventeen "
       "sleepy penguins waddle across the frozen harbor under a pale "
       "winter moon and nobody notices the tiny red boat drifting away")
# 60 chars starting mid-word (offset 36, 0-based) — fewer than 13
# words, so no word 13-gram can be shared:
COPY = "XX " + SRC[36:96] + " YY"


def _df(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_word_13gram_misses_shifted_copy(spark):
    docs = _df(spark, [(1, SRC), (2, COPY)])
    word = {r["doc_id"]: r.asDict()
            for r in dup_span_stats(docs, n=13).collect()}
    # the copied span is < 13 words: word-gram dedup sees NOTHING
    # (the copy doc may not even emit a row — absence == zero dups)
    assert word[1]["n_dup_grams"] == 0
    assert word.get(2, {"n_dup_grams": 0})["n_dup_grams"] == 0
