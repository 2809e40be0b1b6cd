"""Kernel tests for wave 144: bitmap vs a python bloom, zero false
negatives (the structural guarantee), and the FPR audit bounds."""

from __future__ import annotations

from bano_spark.operators.bloom_audit import (HASHES, bloom_fpr_audit,
                                              bloom_words)

_M31 = 2147483648


def _py_words(keys, m=4096, k=3):
    words = {}
    for kk in set(keys):
        for j in range(k):
            a, b = HASHES[j]
            p = ((kk * a + b) % _M31) % m
            words[p // 64] = words.get(p // 64, 0) | (1 << (p % 64))
    return words


def _df(spark, keys):
    return spark.createDataFrame([(k,) for k in keys], "kk: bigint")


def test_bitmap_matches_python(spark):
    keys = [((i * 48271 + 3) % _M31) % 5000 for i in range(800)]
    got = {r["word"]: r["bits"] for r in
           bloom_words(_df(spark, keys), "kk", m=4096, k=3).collect()}
    ref = _py_words(keys, 4096, 3)
    # Spark bigint is signed; python masks to 64-bit two's complement
    ref = {w: b - (1 << 64) if b >= (1 << 63) else b
           for w, b in ref.items()}
    assert got == ref


def test_no_false_negatives_and_audit(spark):
    ins = [((i * 48271 + 3) % _M31) % 8000 for i in range(1500)]
    prb = [((i * 16807 + 11) % _M31) % 8000 for i in range(1500)]
    row = bloom_fpr_audit(_df(spark, ins), _df(spark, prb), "kk",
                          m=65536, k=3).collect()[0]
    assert row["n_inserted"] == len(set(ins))
    # every probe key actually inserted was excluded by the anti-join
    assert row["n_probes"] == len(set(prb) - set(ins))
    assert 0 <= row["fpr_empirical"] <= 1
    assert row["fpr_theoretical"] > 0
    assert row["within_2x"]


def test_members_always_hit(spark):
    # probing with the INSERTED keys through the word table directly:
    # by construction every bit is set, so the anti-join leaves no
    # probes (structural no-false-negative property)
    ins = list(range(100))
    row = bloom_fpr_audit(_df(spark, ins), _df(spark, ins), "kk",
                          m=4096, k=3).collect()[0]
    assert row["n_probes"] == 0 and row["false_positives"] == 0
    assert row["fpr_empirical"] is None
