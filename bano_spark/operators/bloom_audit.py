"""Bloom filter build + empirical FPR audit: builds one filter
distributedly and measures its false-positive rate against the
theoretical (1 - e^(-kn/m))^k.

Build shape: each inserted key explodes to k bit positions
(independent multiplicative hashes mod m); positions become
(word = pos DIV 64, mask = 1 << (pos % 64)) pairs and ONE
bit_or-aggregate groupBy produces the m/64-word bitmap — bitwise OR
is commutative/associative, so the bitmap is EXACT and order-free on
any topology (no float anywhere in the build). Probing joins the
broadcast word table per hash and flags keys with all k bits set;
true negatives come from an exact anti-join, so the empirical FPR
numerator and denominator are exact integers.

The only transcendental is the one scalar exp() in the theoretical
rate (round-6). m and k are model-sized; the word table is
broadcast-sized by construction.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["HASHES", "bloom_words", "bloom_bitmap_census",
           "bloom_fpr_audit"]

HASHES = [(2654435761, 13), (1103515245, 12345), (69069, 7)]
_M31 = 2147483648


def _pos(key: str, j: int, m: int) -> str:
    # key is reduced mod 2^31 BEFORE the multiply: |key%2^31| < 2^31
    # and a < 2^32, so the product < 2^63 provably fits BIGINT on
    # both engines. Without the reduction, |key| > ~3.47e9 silently
    # wraps in Spark (non-ANSI int64) while DuckDB promotes to
    # HUGEINT — a cross-engine divergence for large key domains.
    a, b = HASHES[j]
    return f"((({key} % {_M31}) * {a} + {b}) % {_M31}) % {m}"


def bloom_words(inserts: DataFrame, key: str, *, m: int = 4096,
                k: int = 3) -> DataFrame:
    """Distinct keys -> (word, bits) bitmap table (m/64 words)."""
    d = inserts.select(F.col(key).cast("bigint").alias("kk")).distinct()
    pos = ", ".join(f"CAST({_pos('kk', j, m)} AS BIGINT)"
                    for j in range(k))
    e = d.select(F.explode(F.expr(f"array({pos})")).alias("p"))
    return (e.select(F.expr("p DIV 64").alias("word"),
                     F.expr("shiftleft(CAST(1 AS BIGINT), "
                            "CAST(p % 64 AS INT))").alias("mask"))
            .groupBy("word").agg(F.expr("bit_or(mask)").alias("bits")))


def bloom_bitmap_census(inserts: DataFrame, key: str, *, m: int = 4096,
                        k: int = 3) -> DataFrame:
    """Per word: set-bit count, plus the global load factor repeated
    per row (bounded rows = m/64). Returns (word, popcount)."""
    w = bloom_words(inserts, key, m=m, k=k)
    return (w.select("word", F.expr("bit_count(bits)")
                     .cast("bigint").alias("popcount"))
            .orderBy("word"))


def bloom_fpr_audit(inserts: DataFrame, probes: DataFrame, key: str, *,
                    m: int = 4096, k: int = 3) -> DataFrame:
    """Probe with keys NOT in the insert set (exact anti-join) and
    measure the false-positive rate. Returns one row (n_inserted, m,
    k, bits_set, n_probes, false_positives, fpr_empirical,
    fpr_theoretical, within_2x)."""
    ins = inserts.select(F.col(key).cast("bigint").alias("kk")) \
        .distinct()
    words = bloom_words(inserts, key, m=m, k=k)
    pr = (probes.select(F.col(key).cast("bigint").alias("kk"))
          .distinct()
          .join(ins, "kk", "left_anti"))
    hits = None
    for j in range(k):
        pj = (pr.select("kk", F.expr(f"CAST({_pos('kk', j, m)} "
                                     f"AS BIGINT)").alias("p"))
              .withColumn("word", F.expr("p DIV 64"))
              .join(F.broadcast(words), "word", "left")
              .select("kk", F.when(
                  F.expr("(shiftright(bits, CAST(p % 64 AS INT)) & 1)"
                         " = 1"), 1).otherwise(0).alias(f"b{j}")))
        hits = pj if hits is None else hits.join(pj, "kk")
    flagged = hits.select(
        "kk", (sum(F.col(f"b{j}") for j in range(k))
               == k).cast("int").alias("fp"))
    nb = words.agg(F.sum(F.expr("bit_count(bits)"))
                   .cast("bigint").alias("bs"))
    a = flagged.agg(F.count(F.lit(1)).cast("bigint").alias("n_probes"),
                    F.coalesce(F.sum("fp"), F.lit(0)).cast("bigint")
                    .alias("false_positives"))
    ni = ins.agg(F.count(F.lit(1)).cast("bigint").alias("n_inserted"))
    out = a.crossJoin(F.broadcast(ni)).crossJoin(F.broadcast(nb))
    # guarded: an empty probe set (all probes were members) yields
    # NULL rates rather than an ANSI 0/0 error
    fpr = F.when(F.col("n_probes") > 0,
                 F.col("false_positives").cast("double")
                 / F.col("n_probes").cast("double"))
    t1 = (F.lit(1.0) - F.exp(-F.lit(float(k))
                             * F.col("n_inserted").cast("double")
                             / F.lit(float(m))))
    theo = t1
    for _ in range(k - 1):
        theo = theo * t1  # explicit product, not pow() (libm parity)
    return out.select(
        "n_inserted", F.lit(m).alias("m"), F.lit(k).alias("k"),
        F.col("bs").alias("bits_set"), "n_probes", "false_positives",
        F.round(fpr, 6).alias("fpr_empirical"),
        F.round(theo, 6).alias("fpr_theoretical"),
        ((fpr < 2.0 * theo + 1e-3)
         & (fpr > 0.25 * theo - 1e-3)).alias("within_2x"))
