"""Sorted-neighborhood record-linkage blocking.

The classic SNM blocking step (Hernandez & Stolfo, SIGMOD '95): sort
records by a blocking key, emit every pair whose positions in the
sorted order are within a window ``w``. BANO's conciliation matches
street records by exact normalized-name equality
(``bano/models.py`` rapprochement dicts); SNM is the standard
generalization that also surfaces NEAR-equal keys (typos, word swaps
within prefix) without an all-pairs comparison.

Scale shape — the textbook formulation is hostile to Spark
(``row_number() OVER (ORDER BY key)`` is a single-partition
exchange). This implementation reuses the two-pass distributed prefix
sum (``selection.distributed_cumsum``): deterministic composite-key
range buckets -> per-bucket row numbers via a PARTITIONED window ->
O(buckets) driver offsets. Pair generation is then an equi-join of
rank r against ranks r+1..r+w via a size-w explode — fan-out w per
row, joined on a dense bigint key, no range/cross join anywhere. At
100 TB: two shuffles (bucket, pair-join), both on keys with uniform
fan-out; window pairs never materialize more than w * rows output
rows, and the boundary pairs that per-partition windows would miss
are correct by construction because ranks are GLOBAL."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .selection import distributed_cumsum


def _jaro_winkler_one(a: str, b: str) -> float:
    """Classic Jaro-Winkler (Winkler 1990): greedy window matching,
    floored half-transpositions, boost only above 0.7, prefix cap 4,
    scaling 0.1. Matches DuckDB's `jaro_winkler_similarity` bit-for-bit
    (fuzz-verified on 3000 random pairs incl. empty/degenerate cases:
    both-empty returns 0, not 1)."""
    la, lb = len(a), len(b)
    if la == 0 or lb == 0:
        return 0.0
    if a == b:
        return 1.0
    window = max(max(la, lb) // 2 - 1, 0)
    ma = [False] * la
    mb = [False] * lb
    m = 0
    for i, ca in enumerate(a):
        lo = 0 if i < window else i - window
        hi = min(lb, i + window + 1)
        for j in range(lo, hi):
            if not mb[j] and b[j] == ca:
                ma[i] = True
                mb[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    j = 0
    for i in range(la):
        if ma[i]:
            while not mb[j]:
                j += 1
            if a[i] != b[j]:
                t += 1
            j += 1
    jaro = (m / la + m / lb + (m - t // 2) / m) / 3.0
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for x, y in zip(a, b):
        if x != y or prefix == 4:
            break
        prefix += 1
    return jaro + prefix * 0.1 * (1.0 - jaro)


def global_rank(df: DataFrame, key_col: str, id_col: str,
                out_col: str = "rank") -> DataFrame:
    """Global 1-based dense position in the (key, id) total order,
    without a single-partition exchange. ``id_col`` must be unique and
    non-null; ties on ``key_col`` break by ``id_col``."""
    return distributed_cumsum(
        df.withColumn("_one", F.lit(1)),
        range_col=key_col,
        order_by=[F.asc(key_col), F.asc(id_col)],
        value_col="_one", out_col=out_col,
        tiebreak_col=id_col,
    ).drop("_one")


def sorted_neighborhood_pairs(df: DataFrame, key_col: str, id_col: str,
                              window: int = 4) -> DataFrame:
    """All candidate pairs (id_a, id_b) whose sorted-order positions
    differ by at most ``window`` (a precedes b in the sort). Returns
    (id_a, id_b, key_a, key_b) so callers can refine with any
    similarity predicate before expensive comparison."""
    ranked = global_rank(df, key_col, id_col).select(
        F.col(id_col).alias("_id"), F.col(key_col).alias("_key"), "rank")
    left = ranked.select(
        F.col("_id").alias("id_a"), F.col("_key").alias("key_a"),
        F.explode(F.sequence(
            F.col("rank") + 1, F.col("rank") + window)).alias("_r2"))
    right = ranked.select(
        F.col("_id").alias("id_b"), F.col("_key").alias("key_b"),
        F.col("rank").alias("_r2"))
    return left.join(right, "_r2").select("id_a", "id_b", "key_a", "key_b")
