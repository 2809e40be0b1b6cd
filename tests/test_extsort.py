"""Kernel tests for wave 143: run counting vs a direct python scan
(per-key and global chunked), chunk-boundary correctness, and exact
merge-pass planning."""

from __future__ import annotations

import math

from bano_spark.operators.extsort import (merge_pass_advisor,
                                          natural_runs_per_key)

_M31 = 2147483648


def _runs(vals):
    r = 1
    for a, b in zip(vals, vals[1:]):
        if b < a:
            r += 1
    return r


def test_per_key_runs_vs_scan(spark):
    seqs = {k: [((i * 37 + k * 11 + 3) % 97) for i in range(120)]
            for k in range(4)}
    rows = [(k, i, v) for k, vs in seqs.items()
            for i, v in enumerate(vs)]
    df = spark.createDataFrame(rows, "k: bigint, o: bigint, v: bigint")
    got = {r["k"]: r for r in
           natural_runs_per_key(df, "k", "o", "v").collect()}
    for k, vs in seqs.items():
        assert got[k]["n_runs"] == _runs(vs)
        assert got[k]["n"] == len(vs)
        # longest run by scan
        best = cur = 1
        for a, b in zip(vs, vs[1:]):
            cur = cur + 1 if b >= a else 1
            best = max(best, cur)
        assert got[k]["longest_run"] == best


def test_global_runs_cross_chunk_boundaries(spark):
    # descending staircase: every adjacent pair is a break,
    # including the ones straddling the 512-row chunk boundary
    n = 1500
    vals = [n - i for i in range(n)]
    df = spark.createDataFrame(list(enumerate(vals)),
                               "o: bigint, v: bigint")
    rows = merge_pass_advisor(df, "o", "v").collect()
    assert rows[0]["n_runs"] == n  # all breaks
    # fully sorted: one run, zero passes
    df2 = spark.createDataFrame([(i, i) for i in range(n)],
                                "o: bigint, v: bigint")
    rows2 = merge_pass_advisor(df2, "o", "v").collect()
    assert rows2[0]["n_runs"] == 1
    assert all(r["passes"] == 0 for r in rows2)


def test_sparse_order_key_empty_chunks(spark):
    # order keys 0..9 and 2000..2009 with chunk=512: chunks 1..2 are
    # EMPTY, so the boundary to compare is chunk 0 -> chunk 3. The
    # second block starts below the first block's end (a break), so
    # the global count must be runs(concatenated sequence) — a naive
    # (c, c+1) equi-join never compares across the gap and
    # undercounts (ADVICE r4, extsort.py).
    vals1 = [10 + i for i in range(10)]       # ascending, ends at 19
    vals2 = [5 + i for i in range(10)]        # restarts at 5: break
    rows = ([(i, v) for i, v in enumerate(vals1)]
            + [(2000 + i, v) for i, v in enumerate(vals2)])
    df = spark.createDataFrame(rows, "o: bigint, v: bigint")
    got = merge_pass_advisor(df, "o", "v").collect()
    assert got[0]["n_runs"] == _runs(vals1 + vals2) == 2
    # ascending across the gap: still one run
    rows_up = ([(i, i) for i in range(10)]
               + [(2000 + i, 100 + i) for i in range(10)])
    df_up = spark.createDataFrame(rows_up, "o: bigint, v: bigint")
    assert merge_pass_advisor(df_up, "o", "v").collect()[0]["n_runs"] \
        == 1


def test_merge_passes_exact_ceil_log(spark):
    # shift bits before mod: a raw linear congruence steps by a
    # constant (+113 mod 1000) and produces few, long runs
    vals = [(((i * 2654435761 + 13) % _M31) >> 7) % 1000
            for i in range(3000)]
    df = spark.createDataFrame(list(enumerate(vals)),
                               "o: bigint, v: bigint")
    rows = {r["fan_in"]: r for r in
            merge_pass_advisor(df, "o", "v").collect()}
    runs = _runs(vals)
    for k in (2, 4, 8, 16):
        assert rows[k]["n_runs"] == runs
        assert rows[k]["passes"] == math.ceil(math.log(runs, k) - 1e-12)
    # random data: runs ~ n/2
    assert 1300 < runs < 1700
