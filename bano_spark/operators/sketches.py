"""KMV (k-minimum-values) distinct-count sketch.

Completes the sketch family next to count-min (frequency) and minhash
(similarity, operators/dedup.py):
bottom-k estimation of per-group cardinality. BANO's batch stats count
distinct sources per commune exactly (ref bano/sql templates'
count(distinct ...)); at 10^12 rows an exact distinct per group is a
full shuffle of every distinct value — the KMV sketch bounds the
per-group state to k doubles with a provable (k-1)/u_k estimator
(Bar-Yossef et al. 2002).

Determinism contract: u = (first 13 md5 hex chars of the value string
as an integer + 0.5) / 16^13 — 52 bits, exactly representable in a
double, so ANY engine with md5 reproduces the sketch bit-for-bit and
a SQL oracle can replay the whole estimator.

Scale shape: dedup on (group, u) is one shuffle whose payload is a
group key + 8 bytes. The min-k selection never funnels a whole group
through one sort: a bucket pre-prune (floor(u * B) — the global min-k
is necessarily inside each bucket's min-k, so pruning is lossless)
caps every window partition at ~distinct/B rows, and the final
per-group window ranks at most B*k survivors. Sort-based windows
spill; no collect, no Python.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F
from pyspark.sql.window import Window

_HEX13 = 4503599627370496.0  # 16^13 = 2^52


def uniform_hash(col: Column) -> Column:
    """Content-derived uniform in (0, 1): md5 -> 13 hex chars -> int.
    52 bits keeps the integer->double conversion exact in every
    engine (the 15-hex variant would round differently per libm)."""
    v = F.conv(F.substring(F.md5(col.cast("string")), 1, 13), 16, 10)
    return (v.cast("double") + 0.5) / F.lit(_HEX13)


def kmv_distinct(df: DataFrame, group_col: str, value_col: str,
                 k: int = 32, prune_buckets: int = 16) -> DataFrame:
    """(group, sketch_size, kmv_estimate) per group.

    estimate = (k-1) / u_k when the group fills the sketch, else the
    sketch size itself (a sketch holding < k hashes has seen every
    distinct hash, so it IS the count). Estimate rounded to 6.
    """
    u = uniform_hash(F.col(value_col)).alias("u")
    d = df.select(F.col(group_col), u).distinct()
    bucket = F.least(F.floor(F.col("u") * prune_buckets),
                     F.lit(prune_buckets - 1))
    pre = Window.partitionBy(group_col, "bucket").orderBy("u")
    pruned = (d.withColumn("bucket", bucket)
              .withColumn("brn", F.row_number().over(pre))
              .filter(F.col("brn") <= k))
    fin = Window.partitionBy(group_col).orderBy("u")
    ranked = (pruned.withColumn("rn", F.row_number().over(fin))
              .filter(F.col("rn") <= k))
    return (ranked.groupBy(group_col)
            .agg(F.count("*").alias("sketch_size"),
                 F.max(F.when(F.col("rn") == k, F.col("u"))).alias("uk"))
            .select(group_col, "sketch_size",
                    F.round(F.when(F.col("sketch_size") < k,
                                   F.col("sketch_size").cast("double"))
                            .otherwise(F.lit(float(k - 1)) / F.col("uk")),
                            6).alias("kmv_estimate")))


def kmv_sketches(df: DataFrame, group_col: str, value_col: str,
                 k: int = 32, prune_buckets: int = 16) -> DataFrame:
    """(group, sketch) — each group's bottom-k hash array, ascending.
    Same machinery as :func:`kmv_distinct` (lossless bucket pre-prune,
    spill-able windows); the array is the MERGEABLE form of the sketch
    — unions of groups are estimated from these k doubles alone,
    never re-reading the data."""
    u = uniform_hash(F.col(value_col)).alias("u")
    d = df.select(F.col(group_col), u).distinct()
    bucket = F.least(F.floor(F.col("u") * prune_buckets),
                     F.lit(prune_buckets - 1))
    pre = Window.partitionBy(group_col, "bucket").orderBy("u")
    pruned = (d.withColumn("bucket", bucket)
              .withColumn("brn", F.row_number().over(pre))
              .filter(F.col("brn") <= k))
    fin = Window.partitionBy(group_col).orderBy("u")
    return (pruned.withColumn("rn", F.row_number().over(fin))
            .filter(F.col("rn") <= k)
            .groupBy(group_col)
            .agg(F.array_sort(F.collect_list("u")).alias("sketch")))


def kmv_set_estimates(sketches: DataFrame, group_col: str,
                      k: int = 32) -> DataFrame:
    """Pairwise |A ∪ B| and |A ∩ B| estimates for every group pair
    (g1 < g2) from their bottom-k sketches (Beyer et al. 2007):
    the union's bottom-k is the first k of the merged distinct hash
    sets; intersection = (fraction of those present in BOTH sketches)
    × union estimate. Under-filled union sketches are exact counts.

    Scale shape: sketch rows are k doubles each; the pair join is
    O(groups^2) rows of 2k doubles — group counts are small by
    construction (sources, languages, depts), and everything after
    the sketch build is pure array expressions in codegen."""
    a = sketches.select(F.col(group_col).alias("g1"),
                        F.col("sketch").alias("sa"))
    b = sketches.select(F.col(group_col).alias("g2"),
                        F.col("sketch").alias("sb"))
    pairs = a.join(b, F.col("g1") < F.col("g2"))
    merged = F.slice(F.array_sort(F.array_union("sa", "sb")), 1, k)
    kk = F.size(F.col("m"))
    full = kk >= k
    uk = F.element_at(F.col("m"), k)
    union_est = F.when(full, F.lit(float(k - 1)) / uk) \
        .otherwise(kk.cast("double"))
    inter_n = F.size(F.filter(
        "m", lambda v: F.array_contains("sa", v)
        & F.array_contains("sb", v)))
    inter_est = inter_n.cast("double") / kk.cast("double") * union_est
    return (pairs.withColumn("m", merged)
            .select("g1", "g2",
                    F.round(union_est, 6).alias("union_est"),
                    F.round(inter_est, 6).alias("intersect_est")))


# ---------------------------------------------------------------------------
# HyperLogLog (Flajolet, Fusy, Gandouet, Meunier 2007)
# ---------------------------------------------------------------------------

_HLL_BITS = 60  # 15 md5 hex chars: register index bits + rank suffix
_HLL_ALPHA = {16: 0.673, 32: 0.697, 64: 0.709}


def _hll_alpha(m: int) -> float:
    return _HLL_ALPHA.get(m, 0.7213 / (1.0 + 1.079 / m))


def hll_register_cols(col: Column, p: int) -> tuple[Column, Column]:
    """(register index, rank) of a value under the shared portable
    hash: h = first 15 md5 hex chars as a 60-bit integer, index = low
    p bits, rank = 1 + leading zeros of the remaining (60-p)-bit
    suffix. Everything is integer bit arithmetic both engines compute
    identically (bin() is unpadded in Spark AND DuckDB), so a SQL
    oracle replays the sketch bit-for-bit — the same determinism
    contract as :func:`uniform_hash`."""
    m = 1 << p
    wbits = _HLL_BITS - p
    h = F.conv(F.substring(F.md5(col.cast("string")), 1, 15),
               16, 10).cast("bigint")
    idx = h.bitwiseAND(F.lit(m - 1))
    w = F.shiftright(h, p)
    rank = (F.when(w == F.lit(0), F.lit(wbits + 1))
            .otherwise(F.lit(wbits + 1) - F.length(F.bin(w))))
    return idx, rank


def hll_sketch(df: DataFrame, group_col: str, value_col: str,
               p: int = 6, out_col: str = "registers") -> DataFrame:
    """(group, registers) — the dense m = 2^p register array (max rank
    per register, 0 for never-hit) per group: the MERGEABLE form.

    Scale shape: one groupBy(group, idx) with a map-side-combinable
    max collapses any number of rows to <= m rows per group BEFORE the
    second shuffle; the dense array comes from a map lookup over
    sequence(0, m-1) — empty registers are materialized by transform,
    never by exploding a grid."""
    m = 1 << p
    idx, rank = hll_register_cols(F.col(value_col), p)
    regs = (df.select(F.col(group_col), idx.alias("_idx"),
                      rank.alias("_rank"))
            .groupBy(group_col, "_idx")
            .agg(F.max("_rank").alias("_mx")))
    return (regs.groupBy(group_col)
            .agg(F.map_from_entries(
                F.collect_list(F.struct("_idx", "_mx"))).alias("_mp"))
            .select(F.col(group_col),
                    F.expr(f"transform(sequence(0, {m - 1}), "
                           f"i -> coalesce(_mp[i], 0))").alias(out_col)))


def hll_merge(sketches: DataFrame, p: int,
              reg_col: str = "registers") -> DataFrame:
    """Union all sketch rows into ONE merged register array
    (element-wise max — the HLL union is exact: the merged sketch IS
    the sketch of the concatenated streams). Returns a single row.
    posexplode is O(rows x m); rows here are group counts."""
    m = 1 << p
    ex = sketches.select(F.posexplode(reg_col).alias("_pos", "_r"))
    return (ex.groupBy("_pos").agg(F.max("_r").alias("_mx"))
            .agg(F.map_from_entries(
                F.collect_list(F.struct("_pos", "_mx"))).alias("_mp"))
            .select(F.expr(f"transform(sequence(0, {m - 1}), "
                           f"i -> coalesce(_mp[i], 0))").alias(reg_col)))


def hll_estimate_col(reg_col: str, p: int) -> Column:
    """The HLL cardinality estimate of a dense register-array column:
    raw = alpha_m * m^2 / sum(2^-M_j), with the small-range linear-
    counting correction E = m * ln(m / V) when raw <= 2.5m and V
    (empty registers) > 0. The indicator sum runs in ARRAY order
    (aggregate()), so the engine-side float fold is deterministic."""
    m = 1 << p
    alpha = _hll_alpha(m)
    z = F.expr(f"aggregate({reg_col}, CAST(0.0 AS DOUBLE), "
               f"(acc, r) -> acc + power(2.0, -CAST(r AS DOUBLE)))")
    v = F.expr(f"size(filter({reg_col}, r -> r = 0))").cast("double")
    raw = F.lit(alpha * m * m) / z
    return (F.when((raw <= F.lit(2.5 * m)) & (v > 0),
                   F.lit(float(m)) * F.log(F.lit(float(m)) / v))
            .otherwise(raw))


def ams_f2(df: DataFrame, key_col: str, *, t: int = 17,
           round_to: int = 6) -> DataFrame:
    """AMS second-frequency-moment sketch (Alon-Matias-Szegedy 1996):
    F2 = sum_x f_x^2 — the self-join size, THE cardinality estimate a
    join planner wants before shuffling two huge relations. Each of
    the ``t`` (odd) estimators assigns every key a deterministic +-1
    sign from integer hash arithmetic; est_i = (sum_x f_x *
    sign_i(x))^2 is an unbiased F2 estimator, and the sketch reports
    their MEDIAN next to the exact value and relative error.

    Scale shape: one groupBy(key) for frequencies, one bounded t-way
    explode + hash agg for the sketch sums (O(distinct x t) rows —
    the sketch is t counters regardless of input size, mergeable by
    addition), exact F2 rides the same frequency pass. Integer
    arithmetic end to end; the median picks the (t+1)/2-th order
    statistic by window, identical in any engine."""
    if t % 2 == 0:
        raise ValueError("ams_f2: t must be odd (median = middle element)")
    freq = (df.groupBy(F.col(key_col).cast("long").alias("_k"))
            .agg(F.count(F.lit(1)).alias("_f")))
    exact = freq.agg(F.sum(F.col("_f") * F.col("_f")).alias("_f2"))
    sk = (freq.select("_k", "_f",
                      F.explode(F.sequence(F.lit(0), F.lit(t - 1)))
                      .alias("_t")))
    h = (F.col("_k") * F.lit(2654435761) + (F.col("_t") + 1)
         * F.lit(40503)) % F.lit(2147483648)
    # /1024 is a power-of-two division (exact in binary); floor then
    # parity — CAST-truncation semantics differ across engines, floor
    # doesn't
    sign = F.lit(1) - F.lit(2) * (F.floor(h / F.lit(1024.0)) % 2)
    sums = (sk.withColumn("_s", F.col("_f") * sign)
            .groupBy("_t").agg(F.sum("_s").alias("_z"))
            .withColumn("_est", F.col("_z") * F.col("_z")))
    w = Window.orderBy("_est", "_t")
    med = (sums.withColumn("_r", F.row_number().over(w))
           .filter(F.col("_r") == (t + 1) // 2)
           .select(F.col("_est").alias("_ams")))
    # broadcast the 1-row median side explicitly: BuildRight keeps
    # the (1-row x 1-row) cross inside the audit's benign class
    out = exact.crossJoin(F.broadcast(med))
    return out.select(
        F.col("_f2").cast("bigint").alias("f2_exact"),
        F.col("_ams").cast("bigint").alias("f2_ams"),
        F.round(F.abs(F.col("_ams").cast("double") - F.col("_f2"))
                / F.col("_f2"), round_to).alias("rel_err"))


def hll_sliding_merge(sketches: DataFrame, bucket_col: str, p: int,
                      window: int, *, reg_col: str = "registers",
                      round_to: int = 1) -> DataFrame:
    """Sliding-window distinct-count from per-bucket HLL sketches:
    for every bucket b, the union (element-wise register max) of the
    sketches in (b - window + 1 .. b) and its cardinality estimate —
    the mergeability payoff: a 30-day rolling uniques needs 30
    sketch-max folds per day, never a rescan of raw events.

    Scale shape: buckets explode ``window`` target assignments (each
    bucket's registers ship to the <= window windows containing it),
    then one groupBy(target, register-position) max over
    posexploded registers — O(buckets x window x m) rows of BIGINT
    triples, independent of event volume. Windows at the leading
    edge merge fewer buckets (disclosed: n_buckets column).
    Returns (bucket, n_buckets, estimate)."""
    m = 1 << p
    offs = F.explode(F.sequence(F.lit(0), F.lit(window - 1))).alias("_o")
    tgt = (sketches.select(F.col(bucket_col).alias("_b"), reg_col, offs)
           .select((F.col("_b") + F.col("_o")).alias("_t"), "_b", reg_col))
    # only targets that are real buckets emit output rows
    real = sketches.select(F.col(bucket_col).alias("_t")).distinct()
    ex = (tgt.join(real, "_t")
          .select("_t", "_b", F.posexplode(reg_col).alias("_pos", "_r")))
    merged = (ex.groupBy("_t", "_pos")
              .agg(F.max("_r").alias("_mx")))
    nb = (tgt.join(real, "_t").select("_t", "_b").distinct()
          .groupBy("_t").agg(F.count(F.lit(1)).alias("n_buckets")))
    regs = (merged.groupBy("_t")
            .agg(F.map_from_entries(
                F.collect_list(F.struct("_pos", "_mx"))).alias("_mp"))
            .select("_t", F.expr(
                f"transform(sequence(0, {m - 1}), "
                f"i -> coalesce(_mp[i], 0))").alias(reg_col)))
    est = hll_estimate_col(reg_col, p)
    return (regs.join(nb, "_t")
            .select(F.col("_t").alias(bucket_col),
                    F.col("n_buckets").cast("bigint").alias("n_buckets"),
                    F.round(est, round_to).alias("estimate")))
