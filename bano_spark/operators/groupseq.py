"""Group-sequential A/B monitoring — O'Brien-Fleming boundaries at K
interim looks — the peeking-safe experiment monitor completing
the fixed-horizon t test and the SPRT (fully sequential): the
industry-standard "look 4 times, spend alpha like OBF" design.

Each look l covers the time-prefix event_id * K < N * l (N from one
scalar count, broadcast back — exact integer prefix membership, no
percentile machinery), and every look's z statistic is a fixed chain
over that prefix's exact integer (n, sum, sum-of-squares) per arm,
all K looks from ONE conditional aggregate. Boundaries are the
classic OBF z values for K = 4 (literals, disclosed): 4.049, 2.863,
2.337, 2.024 — early looks demand overwhelming evidence, the final
look spends nearly the full alpha.

Returns K rows: (look, n_so_far, n_treat, n_ctrl, mean_diff, z_stat,
boundary, crossed, first_crossing)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

__all__ = ["OBF_K4", "obf_looks"]

OBF_K4 = [4.048591, 2.862786, 2.337455, 2.024295]


def obf_looks(df: DataFrame, t_col: str, treat: str,
              y: str) -> DataFrame:
    """`t_col` a dense integer time key, `treat` 0/1, `y` integer."""
    K = 4
    n_tot = df.agg(F.count(F.lit(1)).alias("N"))
    j = df.crossJoin(F.broadcast(n_tot))
    tc, yc = F.col(treat), F.col(y)
    aggs = []
    for l in range(1, K + 1):
        sel = F.col(t_col) * K < F.col("N") * l
        for arm, cond in [("t", tc == 1), ("c", tc == 0)]:
            aggs += [
                F.sum(F.when(sel & cond, 1).otherwise(0))
                .cast("bigint").alias(f"n{arm}{l}"),
                F.sum(F.when(sel & cond, yc).otherwise(0))
                .cast("bigint").alias(f"s{arm}{l}"),
                F.sum(F.when(sel & cond, yc * yc).otherwise(0))
                .cast("bigint").alias(f"ss{arm}{l}")]
    one = j.agg(*aggs)
    structs = []
    for l in range(1, K + 1):
        nt, nc = f"CAST(nt{l} AS DOUBLE)", f"CAST(nc{l} AS DOUBLE)"
        mt = f"(CAST(st{l} AS DOUBLE) / {nt})"
        mc = f"(CAST(sc{l} AS DOUBLE) / {nc})"
        vt = (f"(CAST(sst{l} AS DOUBLE) - CAST(st{l} AS DOUBLE) "
              f"* CAST(st{l} AS DOUBLE) / {nt})")
        vc = (f"(CAST(ssc{l} AS DOUBLE) - CAST(sc{l} AS DOUBLE) "
              f"* CAST(sc{l} AS DOUBLE) / {nc})")
        s2p = f"(({vt} + {vc}) / ({nt} + {nc} - 2.0))"
        se = f"sqrt({s2p} * (1.0 / {nt} + 1.0 / {nc}))"
        z = f"(({mt} - {mc}) / {se})"
        b = OBF_K4[l - 1]
        structs.append(
            f"named_struct('look', {l}, "
            f"'n_so_far', nt{l} + nc{l}, "
            f"'n_treat', nt{l}, 'n_ctrl', nc{l}, "
            f"'diff', {mt} - {mc}, 'z', {z}, "
            f"'boundary', CAST({b!r} AS DOUBLE), "
            f"'crossed', abs({z}) > {b!r})")
    # first_crossing computed IN-ARRAY before the explode (a global
    # window over the 4 rows would be a SinglePartition exchange)
    d = (one.withColumn("arr", F.expr(
        "array(" + ", ".join(structs) + ")"))
        .withColumn("fc", F.expr(
            "nullif(aggregate(arr, 99, (m, p) -> "
            "IF(p.crossed AND p.look < m, p.look, m)), 99)"))
        .select("fc", F.explode("arr").alias("p")))
    return (d.select(F.col("p.look").alias("look"),
                     F.col("p.n_so_far").alias("n_so_far"),
                     F.col("p.n_treat").alias("n_treat"),
                     F.col("p.n_ctrl").alias("n_ctrl"),
                     F.round("p.diff", 6).alias("mean_diff"),
                     F.round("p.z", 6).alias("z_stat"),
                     F.col("p.boundary").alias("boundary"),
                     F.col("p.crossed").alias("crossed"),
                     F.col("fc").alias("first_crossing"))
            .orderBy("look"))
