"""Merkle range-tree digests for snapshot integrity and O(diff)
change localization — the keyspace-structured sync primitive (an
invertible Bloom lookup table answers WHICH KEYS changed from a
constant-size digest exchange; a Merkle range tree answers WHERE in
keyspace from a log-depth digest exchange — the anti-entropy pattern
in Dynamo-style stores and manifest-level table diffing).

Design at 100 TB: leaf digests are ONE map-side-combinable groupBy
over the data — the per-leaf digest is a commutative sum-mod-M of
per-row hashes, so partial aggregation is exact and order-free (no
ordered fold, no sort). The D levels above the leaves each touch only
O(leaves) rows (64 -> 32 -> ... -> 1), and diffing two snapshots is an
equi-join of two O(leaves·D) digest tables — never a row-level
comparison. Finding the dirty 0.1% of a 10^12-row snapshot costs one
aggregation pass per side plus log-depth arithmetic.

Exactness: all arithmetic is integer mod M = 2^31 with a combine
constant small enough that every intermediate product stays < 2^52 —
exact in 64-bit BIGINT on both engines and below Spark's non-ANSI
silent-overflow line. The parent combine (h_left * C + h_right) mod M
is position-sensitive, so left/right child order matters and sibling
swaps are detected.

Ref parity: the snapshot-diff role of bano's diff ingest
(bano/import_diff_osm.sh, sources/osm_diff handling) — find the dirty
subset of communes without re-reading the world; here generalized to
any keyed snapshot with digest-verified localization.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

__all__ = ["row_hash", "merkle_leaves", "merkle_tree", "merkle_diff"]

M = 2_147_483_648          # 2^31 — digests live in [0, M)
ROW_A = 2_654_435_761      # Knuth multiplicative constant
ROW_B = 40_503             # second mixing constant
ROW_C = 17
COMBINE = 1_000_003        # parent combine multiplier (< 2^20)


def row_hash(key: Column, val: Column) -> Column:
    """Per-row integer hash in [0, M): (k*A + v*B + C) mod M. With
    k < 2^33 and v < 2^31 every product stays < 2^63 (exact)."""
    return (key.cast("bigint") * F.lit(ROW_A)
            + val.cast("bigint") * F.lit(ROW_B) + F.lit(ROW_C)) % F.lit(M)


def merkle_leaves(df: DataFrame, key: str, val: str,
                  leaves: int = 64) -> DataFrame:
    """Leaf digests: node = key mod leaves, digest = sum(row_hash) mod
    M (commutative — map-side combinable), plus the leaf row count.
    Missing leaves are NOT filled here (merkle_tree completes the
    domain); sum over <= 2^21 rows of values < 2^31 stays < 2^52."""
    return (df.groupBy((F.col(key) % F.lit(leaves)).cast("bigint")
                       .alias("node"))
            .agg((F.sum(row_hash(F.col(key), F.col(val))) % F.lit(M))
                 .alias("digest"),
                 F.count(F.lit(1)).cast("bigint").alias("nrows")))


def _complete(spark: SparkSession, lv: DataFrame, n: int) -> DataFrame:
    """Left-join the digests onto the full node domain 0..n-1 (empty
    leaf => digest 0). The domain side is O(leaves) — broadcast."""
    dom = spark.range(n).select(F.col("id").cast("bigint").alias("node"))
    return (dom.join(F.broadcast(lv), "node", "left")
            .select("node", F.coalesce("digest", F.lit(0).cast("bigint"))
                    .alias("digest")))


def merkle_tree(spark: SparkSession, df: DataFrame, key: str, val: str,
                leaves: int = 64) -> DataFrame:
    """Complete Merkle tree as (level, node, digest): leaf level
    log2(leaves) with `leaves` nodes, up to level 0 with the root.
    Parent = (digest(left)*C + digest(right)) mod M. `leaves` must be
    a power of two. Levels above the leaves aggregate O(leaves) rows —
    driver never collects anything."""
    depth = leaves.bit_length() - 1
    if 1 << depth != leaves:
        raise ValueError(f"leaves must be a power of two, got {leaves}")
    cur = _complete(spark, merkle_leaves(df, key, val, leaves), leaves)
    out = [cur.select(F.lit(depth).cast("bigint").alias("level"),
                      "node", "digest")]
    for lvl in range(depth - 1, -1, -1):
        cur = (cur.withColumn("parent", ((F.col("node")
                                          - F.col("node") % 2) / 2)
                              .cast("bigint"))
               .groupBy("parent")
               .agg(((F.sum(F.when(F.col("node") % 2 == 0,
                                   F.col("digest")).otherwise(0))
                      * F.lit(COMBINE)
                      + F.sum(F.when(F.col("node") % 2 == 1,
                                     F.col("digest")).otherwise(0)))
                     % F.lit(M)).alias("digest"))
               .withColumnRenamed("parent", "node"))
        out.append(cur.select(F.lit(lvl).cast("bigint").alias("level"),
                              "node", "digest"))
    return reduce(DataFrame.unionByName, out)


def merkle_diff(tree_a: DataFrame, tree_b: DataFrame) -> DataFrame:
    """Node-aligned digest comparison of two complete same-shape trees:
    (level, node, digest_a, digest_b, differs). An equi-join on
    O(leaves·depth) rows — the whole diff costs two digest builds."""
    a = tree_a.select("level", "node", F.col("digest").alias("digest_a"))
    b = tree_b.select("level", "node", F.col("digest").alias("digest_b"))
    return (a.join(b, ["level", "node"])
            .withColumn("differs", F.col("digest_a") != F.col("digest_b")))
