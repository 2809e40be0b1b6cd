"""Kernel tests for wave 99: noisy-channel spelling correction —
argmax-by-frequency with lexicographic tie-break, the distance-1
candidate set, the blocking contract, and the no-candidate NULL."""

from __future__ import annotations

import pytest

from bano_spark.operators.spellcorrect import (
    build_vocab, candidate_pairs, correct_oov, oov_tokens)


@pytest.fixture(scope="module")
def vocab(spark):
    rows = ([("table",)] * 10 + [("cable",)] * 3 + [("tables",)] * 2
            + [("cat",)] * 5 + [("car",)] * 5 + [("bat",)] * 100)
    return build_vocab(spark.createDataFrame(rows, "token string"))


def _corr(spark, vocab, words):
    oov = spark.createDataFrame([(w, 1) for w in words],
                                "oov string, n_occ long")
    return {r["oov"]: r for r in correct_oov(oov, vocab).collect()}


def test_argmax_frequency(spark, vocab):
    # "tabl": table at dist 1 (freq 10); cable dist 2, tables dist 2
    # -> excluded at max_dist=1
    got = _corr(spark, vocab, ["tabl"])
    assert got["tabl"]["corrected"] == "table"
    assert got["tabl"]["cand_freq"] == 10


def test_lexicographic_tiebreak(spark, vocab):
    # "caz" -> cat and car both dist 1, freq 5: lexicographic min wins
    got = _corr(spark, vocab, ["caz"])
    assert got["caz"]["corrected"] == "car"


def test_no_candidate_is_null(spark, vocab):
    got = _corr(spark, vocab, ["xyzzy"])
    assert got["xyzzy"]["corrected"] is None
    assert got["xyzzy"]["cand_freq"] is None


def test_first_char_blocking_contract(spark, vocab):
    # "rat" is distance 1 from "bat"/"cat" only via FIRST-char edits;
    # the block key is (first_char, length), so cross-first-char edits
    # are out of scope by design (documented in the operator
    # docstring) -> no candidate at all
    got = _corr(spark, vocab, ["rat"])
    assert got["rat"]["corrected"] is None


def test_candidate_set_exact(spark, vocab):
    oov = spark.createDataFrame([("tabl", 7)], "oov string, n_occ long")
    cands = {(r["cand"], r["dist"], r["freq"])
             for r in candidate_pairs(oov, vocab).collect()}
    assert cands == {("table", 1, 10)}


def test_oov_excludes_vocab_words(spark, vocab):
    toks = spark.createDataFrame(
        [("table",), ("tabl",), ("tabl",)], "token string")
    got = {r["oov"]: r["n_occ"] for r in
           oov_tokens(toks, vocab).collect()}
    assert got == {"tabl": 2}
