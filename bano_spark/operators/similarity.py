"""Similarity search over embedding columns (array<float>).

Two paths, mirroring how you'd run ANN at 100 TB:
  * brute-force cosine top-k — the exactness baseline; dot products as
    built-in `aggregate(zip_with(...))` higher-order functions
    (JVM-side, no Python), broadcast of the (small) query set.
  * sign-LSH bucketed variant — deterministic hyperplane sign bits
    bucket vectors; candidate pairs only join within a bucket, cutting
    the quadratic pair space. The hyperplanes are derived from fixed
    dimension differences so any SQL engine reproduces them.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def dot(a: str, b: str) -> Column:
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)")


def norm(a: str) -> Column:
    return F.sqrt(F.expr(
        f"aggregate({a}, CAST(0.0 AS DOUBLE),"
        " (acc, v) -> acc + CAST(v AS DOUBLE) * CAST(v AS DOUBLE))"))


def cosine(a: str, b: str) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def brute_force_topk(vecs: DataFrame, queries: DataFrame, k: int = 5,
                     id_col: str = "vec_id", vec_col: str = "embedding",
                     qid_col: str = "q_id", qvec_col: str = "q_vec") -> DataFrame:
    """Top-k neighbours per query, cosine similarity, broadcast queries.
    Ties break on neighbour id (deterministic)."""
    j = vecs.join(F.broadcast(queries), F.col(id_col) != F.col(qid_col))
    sim = F.round(cosine(vec_col, qvec_col), 4)
    scored = j.select(F.col(qid_col), F.col(id_col), sim.alias("cos_sim"))
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(qid_col, id_col, "cos_sim", "rnk")
    )


def sign_lsh_bucket(vec_col: str, n_bits: int = 8) -> Column:
    """Deterministic sign-LSH bucket: bit j = sign of
    e[4j] + e[4j+1] - e[4j+2] - e[4j+3] (fixed sparse hyperplanes).
    Identical arithmetic is expressible in plain SQL for the oracle."""
    bucket = None
    for j in range(n_bits):
        s = (
            F.element_at(F.col(vec_col), 4 * j + 1).cast("double")
            + F.element_at(F.col(vec_col), 4 * j + 2).cast("double")
            - F.element_at(F.col(vec_col), 4 * j + 3).cast("double")
            - F.element_at(F.col(vec_col), 4 * j + 4).cast("double")
        )
        bit = F.when(s > 0, F.lit(2**j)).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return bucket.cast("bigint")


def lsh_near_dup_pairs(vecs: DataFrame, threshold: float = 0.9, n_bits: int = 8,
                       id_col: str = "vec_id", vec_col: str = "embedding",
                       max_bucket: int | None = None) -> DataFrame:
    """Embedding near-duplicate pairs: bucket join then exact cosine.

    ``max_bucket`` drops sign-LSH buckets larger than the cap before
    the self-join (same quadratic-bucket guard as
    dedup.lsh_candidate_pairs; identical embeddings should be
    pre-collapsed by an exact-hash pass upstream)."""
    b = vecs.select(F.col(id_col), F.col(vec_col),
                    sign_lsh_bucket(vec_col, n_bits).alias("bucket"))
    if max_bucket is not None:
        sizes = b.groupBy("bucket").agg(F.count(F.lit(1)).alias("_bn"))
        b = b.join(sizes.filter(F.col("_bn") <= max_bucket).select("bucket"),
                   "bucket")
    a = b.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"), "bucket")
    c = b.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"), "bucket")
    pairs = a.join(c, ["bucket"]).filter(F.col("id_a") < F.col("id_b"))
    sim = F.round(cosine("va", "vb"), 4)
    return (
        pairs.select("id_a", "id_b", sim.alias("cos_sim"))
        .filter(F.col("cos_sim") >= threshold)
    )


def ivf_cell(vec_col: str, n_cells: int = 4) -> Column:
    """IVF coarse quantizer, deterministic: cell j = argmax of the first
    ``n_cells`` components (ties -> lowest j). Equivalent to nearest-
    centroid assignment with axis-aligned unit centroids, and exactly
    expressible in plain SQL for the oracle."""
    comps = [F.element_at(F.col(vec_col), j + 1).cast("double")
             for j in range(n_cells)]
    best = F.greatest(*comps)
    cell = F.when(comps[0] == best, F.lit(0))
    for j in range(1, n_cells):
        cell = cell.when(comps[j] == best, F.lit(j))
    return cell.cast("int")


def ivf_probe_cells(vec_col: str, n_cells: int = 4, nprobe: int = 1) -> Column:
    """Top-``nprobe`` coarse cells for a query vector, ranked by
    component value descending (ties -> lowest cell id): the standard
    IVF recall knob. Pure array_sort over (negated component, id)
    structs — identical lexicographic semantics in DuckDB for the
    oracle."""
    pairs = ", ".join(
        f"struct(-CAST(element_at({vec_col}, {j + 1}) AS DOUBLE) AS v,"
        f" {j} AS j)" for j in range(n_cells))
    return F.expr(
        f"transform(slice(array_sort(array({pairs})), 1, {nprobe}), x -> x.j)")


def ivf_topk(vecs: DataFrame, queries: DataFrame, k: int = 5, n_cells: int = 4,
             id_col: str = "vec_id", vec_col: str = "embedding",
             qid_col: str = "q_id", qvec_col: str = "q_vec",
             nprobe: int = 1) -> DataFrame:
    """IVF-bucketed ANN: candidates share one of the query's top-
    ``nprobe`` coarse cells, cutting the scanned fraction to
    ~nprobe/n_cells. At cluster scale the data side would be written
    bucketed by cell so the probe is a partition-pruned scan; queries
    stay broadcast (each query explodes into nprobe rows — the data
    side, which carries the volume, is never amplified)."""
    v = vecs.select(F.col(id_col), F.col(vec_col),
                    ivf_cell(vec_col, n_cells).alias("cell"))
    q = queries.select(
        F.col(qid_col), F.col(qvec_col),
        F.explode(ivf_probe_cells(qvec_col, n_cells, nprobe)).alias("cell"))
    j = v.join(F.broadcast(q), "cell").filter(F.col(id_col) != F.col(qid_col))
    sim = F.round(cosine(vec_col, qvec_col), 4)
    scored = j.select(F.col(qid_col), F.col(id_col), sim.alias("cos_sim"))
    w = Window.partitionBy(qid_col).orderBy(F.desc("cos_sim"), F.col(id_col))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(qid_col, id_col, "cos_sim", "rnk")
    )


def embedding_exact_dedup(vecs: DataFrame, id_col: str = "vec_id",
                          vec_col: str = "embedding") -> DataFrame:
    """Collapse bitwise-identical embeddings to their min-id keeper —
    the pre-pass before lsh_near_dup_pairs (same reason as
    dedup.exact_representatives for text: identical-vector clusters
    are unbounded and must never reach the bucket self-join). Grouping
    is on the raw array value; Spark hash-partitions arrays natively,
    so this is one shuffle of (vector, id) pairs."""
    return (vecs.groupBy(vec_col)
            .agg(F.min(id_col).alias("keeper"),
                 F.count(F.lit(1)).alias("n_dups"))
            .select("keeper", "n_dups"))


def pq_encode(vec_col: str, m: int = 8, dsub: int = 8, k: int = 4) -> Column:
    """Product-quantization codes: the vector splits into ``m``
    subvectors of ``dsub`` dims; each is assigned its nearest centroid
    out of ``k``. The codebook is deterministic — centroid j of every
    subspace is the unit vector along the subspace's axis j — so
    nearest-centroid reduces to argmax over the first ``k`` components
    (ties -> lowest j), exactly expressible in plain SQL for the
    oracle, while keeping the real PQ mechanics: a 64-float embedding
    becomes ``m`` small codes (8x+ compression), and search scans
    codes, not vectors. Swap the codebook for k-means centroids on a
    real corpus; the operator shape is unchanged."""
    subs = []
    for mi in range(m):
        comps = [F.element_at(F.col(vec_col), mi * dsub + j + 1).cast("double")
                 for j in range(k)]
        best = F.greatest(*comps)
        code = F.when(comps[0] == best, F.lit(0))
        for j in range(1, k):
            code = code.when(comps[j] == best, F.lit(j))
        subs.append(code.cast("int"))
    return F.array(*subs)


def pq_adc_topk(vecs: DataFrame, queries: DataFrame, topk: int = 5,
                m: int = 8, dsub: int = 8,
                id_col: str = "vec_id", vec_col: str = "embedding",
                qid_col: str = "q_id", qvec_col: str = "q_vec") -> DataFrame:
    """Asymmetric-distance PQ search: data side is ONLY (id, codes) —
    the scan touches m-byte codes instead of the raw vectors (the
    memory-bandwidth win PQ exists for); the query side stays exact.
    dist(q, x) ~ sum_m ||q_m - centroid(code_m)||^2, which for the
    axis-aligned codebook is sum_m (||q_m||^2 - 2*q_m[code_m] + 1).
    Queries broadcast; per (query, vector) the distance is one
    higher-order aggregate in codegen; top-k by window rank
    (dist asc, id asc)."""
    codes = vecs.select(F.col(id_col),
                        pq_encode(vec_col, m, dsub).alias("codes"))
    q = queries.select(F.col(qid_col), F.col(qvec_col))
    sub_norm = " + ".join(
        f"pow(element_at({qvec_col}, m * {dsub} + {j + 1}), 2)"
        for j in range(dsub))
    dist = F.expr(
        f"aggregate(sequence(0, {m - 1}), CAST(0.0 AS DOUBLE),"
        f" (acc, m) -> acc + ({sub_norm})"
        f" - 2 * element_at({qvec_col}, m * {dsub} + element_at(codes, m + 1) + 1)"
        " + 1.0)")
    scored = (codes.crossJoin(F.broadcast(q))
              .filter(F.col(id_col) != F.col(qid_col))
              .select(qid_col, id_col, F.round(dist, 4).alias("adc_dist")))
    w = Window.partitionBy(qid_col).orderBy(F.asc("adc_dist"), F.asc(id_col))
    return (scored.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") <= topk)
            .select(qid_col, id_col, "adc_dist", "rnk"))


def semdedup_prune(vecs: DataFrame, threshold: float = 0.95,
                   n_cells: int = 4, id_col: str = "vec_id",
                   vec_col: str = "embedding",
                   max_cluster: int | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication by
    clustering the embedding space and comparing pairs only WITHIN a
    cluster — drop every vector whose cosine to a lower-id cluster-mate
    reaches ``threshold``; each near-dup group keeps its min-id member
    (deterministic representative). Returns the keepers (id, cell).

    Clustering here is the deterministic ``ivf_cell`` quantizer so the
    whole operator is exactly expressible in SQL for the oracle; on a
    real corpus swap in kmeans_assign centroids — the operator shape
    (cluster column -> per-cluster self-join -> anti-join) is unchanged.

    Scale shape — the reason SemDeDup works at 100 TB where all-pairs
    cosine cannot: the quadratic term is O(sum_c |cluster_c|^2), not
    O(n^2); the self-join is a cell equi-join (hash-partitioned on the
    cell key, vectors shuffle once per side), and ``max_cluster`` caps
    degenerate cells the way lsh_near_dup_pairs caps sign-LSH buckets
    (bitwise-identical vectors must be pre-collapsed upstream by
    embedding_exact_dedup so no cell hides an unbounded identical
    clump). The final anti-join shuffles only (id, cell) pairs."""
    v = vecs.select(F.col(id_col), F.col(vec_col),
                    ivf_cell(vec_col, n_cells).alias("cell"))
    if max_cluster is not None:
        sizes = v.groupBy("cell").agg(F.count(F.lit(1)).alias("_cn"))
        v = v.join(sizes.filter(F.col("_cn") <= max_cluster).select("cell"),
                   "cell")
    a = v.select(F.col(id_col).alias("_ida"), F.col(vec_col).alias("_va"),
                 "cell")
    b = v.select(F.col(id_col).alias("_idb"), F.col(vec_col).alias("_vb"),
                 "cell")
    dropped = (a.join(b, ["cell"])
               .filter(F.col("_ida") < F.col("_idb"))
               .filter(F.round(cosine("_va", "_vb"), 4) >= threshold)
               .select(F.col("_idb").alias(id_col))
               .distinct())
    return (v.join(dropped, [id_col], "left_anti")
            .select(F.col(id_col), F.col("cell")))
