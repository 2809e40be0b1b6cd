"""Connected components over candidate-pair edges (near-dup clusters).

The step after LSH: candidate pairs form a graph whose components are
the duplicate clusters (keep one representative per component). Spark
has no native component operator; this is iterative min-label
propagation expressed relationally:

    label(v) starts as v; each round every vertex takes the min of its
    own label and its neighbors' labels; stop when no label changed.

Each round does (a) a neighbor-min join and (b) a pointer-doubling
shortcut (label := label of label), so convergence is O(log diameter)
rounds, not O(diameter). Each round's result is localCheckpoint-ed:
lineage truncates, so planning cost stays constant per round instead
of growing with the iteration count (the classic iterative-DataFrame
trap). Peak storage is two label tables regardless of rounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(edges: DataFrame, src: str = "src", dst: str = "dst",
                         max_iter: int = 15) -> DataFrame:
    """(src, dst) undirected edges -> (id, component) where component is
    the minimum vertex id reachable from id. Vertices are those that
    appear in at least one edge."""
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .unionByName(edges.select(F.col(dst).alias("a"),
                                     F.col(src).alias("b")))
           .localCheckpoint(eager=True))
    labels = (sym.select(F.col("a").alias("id")).distinct()
              .withColumn("comp", F.col("id"))
              .localCheckpoint(eager=True))
    for _ in range(max_iter):
        neigh = (sym.join(labels.withColumnRenamed("id", "b"), "b")
                 .groupBy(F.col("a").alias("id"))
                 .agg(F.min("comp").alias("ncomp")))
        stepped = (labels.join(neigh, "id", "left")
                   .select("id", F.least("comp", F.coalesce("ncomp", "comp"))
                           .alias("comp")))
        # pointer doubling: follow comp one more hop so label distance
        # halves per round (comp is always a vertex id, so the lookup
        # is a self-join on the label table)
        hop = stepped.select(F.col("id").alias("comp"),
                             F.col("comp").alias("comp2"))
        new_labels = (stepped.join(hop, "comp", "left")
                      .select("id", F.least("comp", F.coalesce("comp2", "comp"))
                              .alias("comp"))
                      .localCheckpoint(eager=True))
        changed = (new_labels.withColumnRenamed("comp", "nc")
                   .join(labels, "id")
                   .filter(F.col("nc") != F.col("comp"))
                   .limit(1).count())
        labels = new_labels
        if changed == 0:
            break
    return labels
