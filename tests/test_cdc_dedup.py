"""CDC char-level exact-substring dedup: shift robustness, the
word-13-gram provable miss, and span accounting."""

from bano_spark.operators.webtext import (cdc_dup_span_ranges,
                                          cdc_dup_spans, dup_span_stats)

# a ~200-char single token (no whitespace): word-grams see ONE token
_GIANT = "".join(f"seg{i:02d}xyz" for i in range(25))  # 8 chars * 25 = 200

# distinct filler vocabularies so no word 13-gram is shared
_FILL_A = " ".join(f"alpha{i:02d}" for i in range(20))
_FILL_B = " ".join(f"bravo{i:02d}" for i in range(20))


def _corpus(spark):
    return spark.createDataFrame(
        [(1, f"{_FILL_A} {_GIANT} {_FILL_A}"),
         (2, f"{_FILL_B} padpad {_GIANT}")],
        ["doc_id", "text"])


def test_word_grams_provably_miss_single_token_dup(spark):
    """Both docs are >13 tokens, share a 200-char token at different
    offsets — every 13-gram containing it also contains doc-unique
    filler, so the word-gram operator reports ZERO duplicate grams."""
    docs = _corpus(spark)
    rows = dup_span_stats(docs, n=13).collect()
    assert all(r.n_dup_grams == 0 for r in rows)


def test_cdc_catches_the_same_shifted_single_token_dup(spark):
    docs = _corpus(spark)
    spans = {r.doc_id: (r.s, r.e)
             for r in cdc_dup_span_ranges(docs).collect()}
    assert set(spans) == {1, 2}
    texts = {r.doc_id: r.text for r in docs.collect()}
    for did, (s, e) in spans.items():
        frag = texts[did][s:e]
        assert len(frag) >= 40
        # the reported span is genuinely shared with the OTHER doc
        other = texts[3 - did]
        assert frag in other
        # and it sits inside the planted giant token
        assert frag in _GIANT


def test_cdc_span_underreach_is_bounded(spark):
    """CDC loses at most one partial chunk (expected ~16 chars) per
    side of the true overlap; with md5-nibble boundaries the loss is
    bounded by the longest boundary gap, well under half the token."""
    docs = _corpus(spark)
    rows = cdc_dup_spans(docs).collect()
    assert {r.doc_id for r in rows} == {1, 2}
    for r in rows:
        assert r.n_spans >= 1
        assert r.dup_chars >= 100  # most of the 200-char token found


def test_cdc_no_false_positives_on_disjoint_docs(spark):
    docs = spark.createDataFrame(
        [(1, _FILL_A), (2, _FILL_B)], ["doc_id", "text"])
    assert cdc_dup_spans(docs).count() == 0


def test_cdc_whole_doc_exact_dup(spark):
    """Identical short docs (shorter than the window) collapse to one
    whole-text chunk each and are still caught when >= min_len."""
    t = "exactly-the-same-short-doc-of-fifty-chars-ok!!"
    docs = spark.createDataFrame(
        [(1, t * 2), (2, t * 2), (3, "something else entirely here")],
        ["doc_id", "text"])
    got = {r.doc_id: r.dup_chars for r in cdc_dup_spans(docs).collect()}
    assert set(got) == {1, 2}
    assert got[1] == got[2] == len(t) * 2


def test_cdc_shifted_partial_copy(spark):
    """Doc B embeds a 150-char slice of doc A at a different offset
    with different surroundings — the Lee et al. partial-overlap case."""
    base = " ".join(f"word{i:03d}" for i in range(60))  # 8 chars/word
    segment = base[100:250]
    docs = spark.createDataFrame(
        [(1, base),
         (2, "totally different lead-in text :: " + segment + " :: coda")],
        ["doc_id", "text"])
    spans = cdc_dup_span_ranges(docs).collect()
    by_doc = {}
    for r in spans:
        by_doc.setdefault(r.doc_id, []).append((r.s, r.e))
    assert set(by_doc) == {1, 2}
    texts = {r.doc_id: r.text for r in docs.collect()}
    for did, ranges in by_doc.items():
        for s, e in ranges:
            assert texts[did][s:e] in segment
