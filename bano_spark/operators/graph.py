"""Iterative link-graph analytics: distributed PageRank.

Complements `operators/components.py` (connected components) on the
web-graph side of a training-data pipeline: host-level PageRank is the
standard quality prior for crawl prioritisation and corpus weighting
(the `importance` column of Common-Crawl-style host tables), and the
reference's importance heuristics (`bano/sql/...` M1-M3, population +
place-type weights) are exactly the role PageRank plays at web scale.

Scale shape (10^9 nodes / 10^11 edges):
  - edges are normalised ONCE (src out-weight folded into a per-edge
    probability) and hash-partitioned on `src`, then persisted: every
    iteration reuses the same co-located layout, so the per-iteration
    shuffle carries only the O(nodes) rank vector and the map-side
    partially-aggregated O(nodes) contribution vector — never the edge
    list.
  - ranks are localCheckpoint()ed each iteration: lineage stays one
    iteration deep (no exponential plan growth, resumable cost).
  - dangling mass is a single scalar aggregate per iteration
    (O(nodes) scan, one row shuffled).
  - per-iteration rounding (`round_to`, default 12 decimals) makes the
    fixed-point trajectory bit-reproducible across engines and across
    partitionings — float sums are order-sensitive at ~1e-16; rounding
    well above that and well below rank resolution pins every engine
    to the same trajectory (the same trick lets a DuckDB SQL oracle
    replay the computation exactly).

No reference counterpart (the reference has no graph operator); the
algorithm is the public PageRank formulation (Brin & Page 1998) with
uniform teleport and dangling-mass redistribution.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..cache import keep


def pagerank(
    edges: DataFrame,
    *,
    src: str = "src",
    dst: str = "dst",
    weight: str | None = None,
    iters: int = 5,
    damping: float = 0.85,
    round_to: int = 12,
    num_partitions: int | None = None,
    teleport: DataFrame | None = None,
) -> DataFrame:
    """Weighted PageRank, `iters` synchronous iterations. Returns
    (node, rank).

    rank_{k+1}(v) = (1-d)*t(v) + d * (sum_{u->v} rank_k(u) * p(u,v)
                                      + dangling_mass_k * t(v))

    where p(u,v) = w(u,v) / out_weight(u) and dangling_mass is the
    rank held by nodes with no out-edges. ``teleport`` personalizes
    the restart distribution t — a (node, t) DataFrame summing to 1
    (nodes absent get 0); None means uniform t = 1/N. A trusted seed
    set as ``teleport`` is exactly TrustRank (Gyöngyi et al. 2004),
    the spam-demotion prior of web corpus curation. The start vector
    is t itself. Ranks are rounded to `round_to` decimals each
    iteration (see module docstring)."""
    spark = edges.sparkSession
    n_part = int(num_partitions or spark.conf.get(
        "spark.sql.shuffle.partitions", "32"))

    w = F.col(weight).cast("double") if weight else F.lit(1.0)
    e = edges.select(F.col(src).alias("_src"), F.col(dst).alias("_dst"),
                     w.alias("_w"))
    # nodes = union of endpoints; one distinct shuffle, reused all run
    nodes = keep(e.select(F.col("_src").alias("node"))
                 .unionByName(e.select(F.col("_dst").alias("node")))
                 .distinct()
                 .repartition(n_part, "node"))
    n_nodes = nodes.count()
    if n_nodes == 0:
        return nodes.withColumn("rank", F.lit(0.0))

    outw = e.groupBy("_src").agg(F.sum("_w").alias("_outw"))
    # per-edge transition probability, partitioned on src once for all
    # iterations (the rank join below reuses this exact layout)
    norm = keep(e.join(outw, "_src")
                .select("_src", "_dst",
                        (F.col("_w") / F.col("_outw")).alias("_p"))
                .repartition(n_part, "_src"))
    norm.count()  # materialize before looping

    if teleport is None:
        t_nodes = keep(nodes.withColumn("_t", F.lit(1.0 / n_nodes)))
    else:
        tcols = teleport.columns
        t_nodes = (nodes.join(
            teleport.select(F.col(tcols[0]).alias("node"),
                            F.col(tcols[1]).cast("double").alias("_t")),
            "node", "left")
            .select("node", F.coalesce(F.col("_t"), F.lit(0.0)).alias("_t")))
        t_nodes = keep(t_nodes)
    ranks = t_nodes.select("node", F.round(F.col("_t"), round_to)
                           .alias("rank"))

    out_srcs = norm.select(F.col("_src").alias("node")).distinct()
    dangling_nodes = keep(nodes.join(out_srcs, "node", "left_anti"))
    # one cheap existence probe: a dangling-free graph (typical after
    # self-loop normalisation) skips the per-iteration mass aggregate
    has_dangling = dangling_nodes.limit(1).count() > 0

    for _ in range(iters):
        dm = 0.0
        if has_dangling:
            dm = (dangling_nodes.join(ranks, "node")
                  .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("m"))
                  .first()["m"]) or 0.0
        contrib = (ranks.withColumnRenamed("node", "_src")
                   .join(norm, "_src")
                   .groupBy(F.col("_dst").alias("node"))
                   .agg(F.sum(F.col("rank") * F.col("_p")).alias("_c")))
        ranks = (t_nodes.join(contrib, "node", "left")
                 .select("node",
                         F.round(
                             F.lit(1.0 - damping) * F.col("_t")
                             + F.lit(damping)
                             * (F.coalesce(F.col("_c"), F.lit(0.0))
                                + F.lit(dm) * F.col("_t")),
                             round_to).alias("rank"))
                 .localCheckpoint(eager=False))

    return ranks


def triangle_participation(edges: DataFrame, *, src: str = "src",
                           dst: str = "dst") -> DataFrame:
    """Per-node triangle counts via DEGREE-ORIENTED enumeration
    (the MapReduce-era standard for skew-bounded triangle counting):
    each undirected edge is oriented from its lower-(degree, id)
    endpoint to the higher one, so every node's out-degree is bounded
    by O(sqrt(|E|)) regardless of hub skew — the wedge join
    E(u,v) x E(u,w) on u therefore cannot blow up on a hub the way a
    naive adjacency join does. A triangle {a,b,c} is counted exactly
    once (orientation is a DAG on a total order), then exploded back
    to its three corners. Returns (node, n_triangles).

    Scale shape: one distinct on the edge set, one degree aggregate
    (broadcast back), the wedge equi-join on the oriented source, and
    one closing equi-join on (v, w) — all bounded-fanout hash joins;
    no global structure anywhere."""
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("u"),
                      F.greatest(F.col(src), F.col(dst)).alias("v"))
         .filter(F.col("u") != F.col("v"))
         .distinct())
    deg = (e.select(F.col("u").alias("n"))
           .unionByName(e.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    # orient low-(degree, id) -> high, carrying the HEAD's degree so
    # wedge pairs can re-derive the closing edge's orientation without
    # another degree join
    oriented = (e.join(deg.withColumnRenamed("n", "u")
                       .withColumnRenamed("d", "du"), "u")
                .join(deg.withColumnRenamed("n", "v")
                      .withColumnRenamed("d", "dv"), "v")
                .select(
                    F.when((F.col("du") < F.col("dv"))
                           | ((F.col("du") == F.col("dv"))
                              & (F.col("u") < F.col("v"))),
                           F.struct(F.col("u").alias("a"),
                                    F.col("v").alias("b"),
                                    F.col("dv").alias("db")))
                    .otherwise(F.struct(F.col("v").alias("a"),
                                        F.col("u").alias("b"),
                                        F.col("du").alias("db")))
                    .alias("o"))
                .select("o.a", "o.b", "o.db"))
    w1 = oriented.select(F.col("a").alias("u"), F.col("b").alias("x"),
                         F.col("db").alias("dx"))
    w2 = oriented.select(F.col("a").alias("u"), F.col("b").alias("y"),
                         F.col("db").alias("dy"))
    # canonical pair order (by id) dedups the wedge; the closing edge's
    # orientation follows the (degree, id) total order instead
    wedges = (w1.join(w2, "u").filter(F.col("x") < F.col("y"))
              .withColumn(
                  "_xfirst",
                  (F.col("dx") < F.col("dy"))
                  | ((F.col("dx") == F.col("dy")) & (F.col("x") < F.col("y"))))
              .select("u", "x", "y",
                      F.when(F.col("_xfirst"), F.col("x")).otherwise(
                          F.col("y")).alias("_lo"),
                      F.when(F.col("_xfirst"), F.col("y")).otherwise(
                          F.col("x")).alias("_hi")))
    closing = oriented.select(F.col("a").alias("_lo"),
                              F.col("b").alias("_hi"))
    tris = wedges.join(closing, ["_lo", "_hi"])
    corners = tris.select(
        F.explode(F.array("u", "x", "y")).alias("node"))
    return (corners.groupBy("node")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles")))


def bfs_distances(edges: DataFrame, seeds: DataFrame, *,
                  src: str = "src", dst: str = "dst",
                  node_col: str = "node", max_hops: int = 5) -> DataFrame:
    """Unweighted shortest-path distances (BFS levels) from a seed set
    over an UNDIRECTED graph, up to ``max_hops``. Returns (node, dist)
    for reached nodes only.

    Frontier expansion: each round joins the CURRENT frontier (nodes
    first reached last round — not the whole visited set) against the
    symmetrized edge list, anti-joins already-visited nodes, and
    localCheckpoints both tables (flat lineage, the components.py
    discipline). Per-round shuffle is O(frontier x avg-degree); rounds
    are the graph diameter capped at max_hops — the textbook
    distributed BFS shape."""
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .unionByName(edges.select(F.col(dst).alias("a"),
                                     F.col(src).alias("b")))
           .filter(F.col("a") != F.col("b"))
           .distinct())
    sym = keep(sym)
    visited = seeds.select(F.col(node_col).alias("node")).distinct() \
        .withColumn("dist", F.lit(0))
    frontier = visited
    for d in range(1, max_hops + 1):
        nxt = (frontier.join(sym, frontier["node"] == sym["a"])
               .select(F.col("b").alias("node"))
               .distinct()
               .join(visited.select("node"), "node", "left_anti")
               .withColumn("dist", F.lit(d))
               .localCheckpoint(eager=False))
        if nxt.limit(1).count() == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return visited


def hits(edges: DataFrame, *, src: str = "src", dst: str = "dst",
         iters: int = 3, round_to: int = 12,
         num_partitions: int | None = None) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999): synchronous mutual
    reinforcement on a directed graph — auth(v) = sum of hub(u) over
    in-edges, hub(u) = sum of auth(v) over out-edges, each vector
    L1-normalized per iteration. Returns (node, hub, auth).

    Same distributed discipline as :func:`pagerank`: the edge list is
    partitioned once and persisted; each iteration shuffles only the
    O(nodes) score vectors (map-side combined), localCheckpoints to
    keep lineage flat, and rounds to `round_to` decimals so the
    trajectory is engine-reproducible (L1 normalization — a scalar
    aggregate + broadcast division — instead of the classic L2 keeps
    the oracle free of sqrt while preserving the ranking fixpoint)."""
    if iters < 1:
        raise ValueError("hits: iters must be >= 1")
    spark = edges.sparkSession
    n_part = int(num_partitions or spark.conf.get(
        "spark.sql.shuffle.partitions", "32"))
    e = (edges.select(F.col(src).alias("_s"), F.col(dst).alias("_d"))
         .distinct())
    # two co-partitioned persisted copies: the auth step joins on _s,
    # the hub step on _d — one copy would re-shuffle the full O(|E|)
    # edge table on _d every iteration (review finding)
    e_s = keep(e.repartition(n_part, "_s"))
    e_d = keep(e.repartition(n_part, "_d"))
    nodes = keep(e_s.select(F.col("_s").alias("node"))
                 .unionByName(e_s.select(F.col("_d").alias("node")))
                 .distinct())
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("hub", F.lit(0.0)).withColumn(
            "auth", F.lit(0.0))
    hub = nodes.withColumn("s", F.round(F.lit(1.0 / n), round_to))

    def _norm(scores):
        tot = scores.agg(F.sum("s").alias("t")).first()["t"] or 1.0
        return scores.select("node", F.round(F.col("s") / F.lit(tot),
                                             round_to).alias("s"))

    auth = None
    for _ in range(iters):
        auth = _norm(
            hub.withColumnRenamed("node", "_s").join(e_s, "_s")
            .groupBy(F.col("_d").alias("node"))
            .agg(F.sum("s").alias("s"))).localCheckpoint(eager=False)
        hub = _norm(
            auth.withColumnRenamed("node", "_d").join(e_d, "_d")
            .groupBy(F.col("_s").alias("node"))
            .agg(F.sum("s").alias("s"))).localCheckpoint(eager=False)
    return (nodes
            .join(hub.withColumnRenamed("s", "hub"), "node", "left")
            .join(auth.withColumnRenamed("s", "auth"), "node", "left")
            .select("node",
                    F.coalesce(F.col("hub"), F.lit(0.0)).alias("hub"),
                    F.coalesce(F.col("auth"), F.lit(0.0)).alias("auth")))


def k_core(edges: DataFrame, k: int, *, src: str = "src", dst: str = "dst",
           max_iters: int = 200) -> DataFrame:
    """k-core decomposition for a fixed k: iteratively peel nodes of
    undirected degree < k until fixpoint; returns the surviving nodes
    with their within-core degree (node, core_degree).

    The dense-subgraph screen of web-graph curation (spam farms and
    boilerplate link rings are high-core; genuine long-tail hosts peel
    out early). Deterministic: the fixpoint is unique regardless of
    peel order (the k-core is the maximal subgraph with min degree
    >= k), so any engine computing it agrees exactly.

    Scale shape: edges symmetrize + dedupe once; each round is two
    semi-joins (keep edges whose BOTH endpoints are alive) + one
    partial-agg degree count + a filter — all key-partitioned
    shuffles, no driver data. The alive set localCheckpoints per
    round (flat lineage, components.py discipline); rounds terminate
    when the alive count stops shrinking — O(peel-depth) driver
    actions, each O(1) rows. Real web graphs peel in tens of rounds;
    ``max_iters`` is a loud runaway guard, not a silent cap."""
    sym = (edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
           .filter(F.col("u") != F.col("v")))
    und = (sym.unionByName(sym.select(F.col("v").alias("u"),
                                      F.col("u").alias("v")))
           .distinct()
           .localCheckpoint(eager=False))
    alive = und.select(F.col("u").alias("node")).distinct() \
               .localCheckpoint(eager=False)
    n_alive = alive.count()
    for _ in range(max_iters):
        deg = (und
               .join(alive.withColumnRenamed("node", "u"), "u")
               .join(alive.withColumnRenamed("node", "v"), "v")
               .groupBy("u").agg(F.count(F.lit(1)).alias("core_degree")))
        nxt = (deg.filter(F.col("core_degree") >= k)
               .localCheckpoint(eager=False))
        n_nxt = nxt.count()
        if n_nxt == n_alive:
            return nxt.select(F.col("u").alias("node"),
                              F.col("core_degree").cast("bigint"))
        alive = nxt.select(F.col("u").alias("node"))
        n_alive = n_nxt
    raise RuntimeError(f"k_core: no fixpoint within {max_iters} rounds")


def sssp_weighted(edges: DataFrame, seeds: DataFrame, *,
                  src: str = "src", dst: str = "dst",
                  weight: str = "w", node_col: str = "node",
                  max_rounds: int = 100) -> DataFrame:
    """Weighted single-source(-set) shortest paths by distributed
    Bellman-Ford relaxation over an UNDIRECTED graph with non-negative
    weights. Returns (node, dist) for reached nodes only.

    Each round relaxes EVERY edge against the current tentative
    distances (min over dist[u] + w), so round k holds exact
    shortest-path distances using <= k edges; the loop stops at the
    first round that improves nothing — the Bellman-Ford fixpoint,
    reached after at most (longest shortest path in edges) rounds.

    Scale shape: the symmetrized edge list is partitioned and
    persisted once; each round is one equi-join shuffling the O(nodes)
    distance vector plus a map-side-combined min-agg, and distances
    are localCheckpoint()ed so lineage stays one round deep (the
    components.py discipline). Convergence is detected STRUCTURALLY:
    a per-round left join old-vs-new asks whether any node's tentative
    distance strictly improved (or appeared) — exact for arbitrary
    non-negative double weights, immune to partial-agg float-sum
    ordering. Negative weights raise (a negative cycle would never
    converge); like k_core, ``max_rounds`` is a loud runaway guard —
    exceeding it raises instead of silently returning distances that
    may still overestimate paths longer than max_rounds hops.
    """
    if edges.filter(F.col(weight) < 0).limit(1).count() > 0:
        raise ValueError("sssp_weighted: negative edge weight")
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"),
                        F.col(weight).cast("double").alias("w"))
           .unionByName(edges.select(F.col(dst).alias("a"),
                                     F.col(src).alias("b"),
                                     F.col(weight).cast("double").alias("w")))
           .filter(F.col("a") != F.col("b"))
           .groupBy("a", "b").agg(F.min("w").alias("w")))
    sym = keep(sym)
    dist = (seeds.select(F.col(node_col).alias("node")).distinct()
            .withColumn("dist", F.lit(0.0)))
    for _ in range(max_rounds):
        relaxed = (dist.join(sym, dist["node"] == sym["a"])
                   .select(F.col("b").alias("node"),
                           (F.col("dist") + F.col("w")).alias("dist")))
        new = (dist.unionByName(relaxed)
               .groupBy("node").agg(F.min("dist").alias("dist"))
               .localCheckpoint(eager=False))
        # structural fixpoint test (ADVICE r3): any node whose min
        # strictly dropped, or any newly reached node, means another
        # round is needed — exact for any non-negative doubles
        improved = (new.join(dist.withColumnRenamed("dist", "dist_prev"),
                             "node", "left")
                    .filter(F.col("dist_prev").isNull()
                            | (F.col("dist") < F.col("dist_prev")))
                    .limit(1).count())
        dist = new
        if improved == 0:
            return dist
    raise RuntimeError(
        f"sssp_weighted: no Bellman-Ford fixpoint within {max_rounds} "
        "rounds — distances for paths longer than that many hops would "
        "be overestimates; raise max_rounds for high-diameter graphs")


def label_propagation(edges: DataFrame, *, src: str = "src",
                      dst: str = "dst", rounds: int = 4) -> DataFrame:
    """Synchronous label propagation (Raghavan et al. 2007) over an
    UNDIRECTED graph, made deterministic: every node starts as its own
    label; each round EVERY node simultaneously adopts the smallest
    label among its neighbors' most frequent labels (count desc, label
    asc); isolated nodes keep their label. Runs a FIXED number of
    rounds — synchronous LPA can oscillate on bipartite structures, so
    a fixpoint loop may never exit; a pinned round count keeps the
    result a pure function of the input that an unrolled SQL oracle
    replays exactly.

    Scale shape: per round, one equi-join shipping the O(nodes) label
    vector against the persisted symmetrized edge list, a map-side
    combined (node, label) count, and a per-node window over that
    node's distinct neighbor labels (bounded by degree); labels are
    localCheckpoint()ed so lineage stays one round deep.
    """
    from pyspark.sql.window import Window

    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .unionByName(edges.select(F.col(dst).alias("a"),
                                     F.col(src).alias("b")))
           .filter(F.col("a") != F.col("b"))
           .distinct())
    sym = keep(sym)
    labels = (sym.select(F.col("a").alias("node")).distinct()
              .withColumn("lbl", F.col("node")))
    w = Window.partitionBy("node")
    for _ in range(rounds):
        cnt = (labels.join(sym, labels["node"] == sym["a"])
               .groupBy(F.col("b").alias("node"), "lbl")
               .agg(F.count("*").alias("c")))
        pick = (cnt.withColumn("mc", F.max("c").over(w))
                .filter(F.col("c") == F.col("mc"))
                .groupBy("node").agg(F.min("lbl").alias("new_lbl")))
        labels = (labels.join(pick, "node", "left")
                  .select("node", F.coalesce("new_lbl", "lbl").alias("lbl"))
                  .localCheckpoint(eager=False))
    return labels


def multi_source_sssp(edges: DataFrame, seeds: DataFrame, *,
                      src: str = "src", dst: str = "dst",
                      weight: str = "w", node_col: str = "node",
                      label_col: str = "lbl",
                      max_rounds: int = 100) -> DataFrame:
    """Closest-facility labelling: multi-source Bellman-Ford where
    every seed carries a LABEL (the facility id) and each reached
    node keeps the (dist, label) pair that is lexicographically
    minimal — nearest facility, ties to the smallest label, the
    network-Voronoi partition of the graph (allocation along a road
    network rather than Euclidean `nearest_site_join`).

    Relaxation candidates are identical in any engine (each path's
    sum accumulates left-to-right), so the struct-min is engine-
    reproducible even under distance ties. Same scale/convergence
    discipline as :func:`sssp_weighted`: persisted symmetrized edges,
    one equi-join + struct-min agg per round, localCheckpoint,
    structural fixpoint, loud max_rounds guard.

    Returns (node, dist, lbl) for reached nodes."""
    if edges.filter(F.col(weight) < 0).limit(1).count() > 0:
        raise ValueError("multi_source_sssp: negative edge weight")
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"),
                        F.col(weight).cast("double").alias("w"))
           .unionByName(edges.select(F.col(dst).alias("a"),
                                     F.col(src).alias("b"),
                                     F.col(weight).cast("double")
                                     .alias("w")))
           .filter(F.col("a") != F.col("b"))
           .groupBy("a", "b").agg(F.min("w").alias("w")))
    sym = keep(sym)
    state = (seeds.select(F.col(node_col).alias("node"),
                          F.col(label_col).alias("lbl")).distinct()
             .select("node", F.struct(F.lit(0.0).alias("dist"),
                                      F.col("lbl")).alias("s")))
    for _ in range(max_rounds):
        relaxed = (state.join(sym, state["node"] == sym["a"])
                   .select(F.col("b").alias("node"),
                           F.struct((F.col("s.dist") + F.col("w"))
                                    .alias("dist"),
                                    F.col("s.lbl").alias("lbl"))
                           .alias("s")))
        new = (state.unionByName(relaxed)
               .groupBy("node").agg(F.min("s").alias("s"))
               .localCheckpoint(eager=False))
        improved = (new.join(state.select("node",
                                          F.col("s").alias("sp")),
                             "node", "left")
                    .filter(F.col("sp").isNull() | (F.col("s") < F.col("sp")))
                    .limit(1).count())
        state = new
        if improved == 0:
            return state.select("node", F.col("s.dist").alias("dist"),
                                F.col("s.lbl").alias("lbl"))
    raise RuntimeError(
        f"multi_source_sssp: no fixpoint within {max_rounds} rounds")


def cocitation_coupling(edges: DataFrame, *, src: str = "src",
                        dst: str = "dst") -> DataFrame:
    """Co-citation and bibliographic coupling per node pair (Small
    1973 / Kessler 1963) over the DISTINCT edge set: co-citation
    (a, b) = #nodes linking to BOTH a and b; coupling (a, b) =
    #nodes both a and b link to — the similarity signals web-graph
    clustering runs before any content model.

    Scale shape: the inverted discipline — pairs generate from
    shared endpoints only (one self-join keyed by the shared citer,
    one by the shared target), never the node cross product; a
    degree-d hub contributes C(d, 2) pairs, the definitional output.
    Returns (node_a, node_b, cocitation, coupling) for pairs with
    either count > 0."""
    e = edges.select(F.col(src).alias("_s"),
                     F.col(dst).alias("_d")).distinct()
    co = (e.alias("x").join(e.alias("y"), F.col("x._s") == F.col("y._s"))
          .filter(F.col("x._d") < F.col("y._d"))
          .groupBy(F.col("x._d").alias("node_a"),
                   F.col("y._d").alias("node_b"))
          .agg(F.count(F.lit(1)).alias("cocitation")))
    cp = (e.alias("x").join(e.alias("y"), F.col("x._d") == F.col("y._d"))
          .filter(F.col("x._s") < F.col("y._s"))
          .groupBy(F.col("x._s").alias("node_a"),
                   F.col("y._s").alias("node_b"))
          .agg(F.count(F.lit(1)).alias("coupling")))
    return (co.join(cp, ["node_a", "node_b"], "full_outer")
            .select("node_a", "node_b",
                    F.coalesce("cocitation", F.lit(0)).cast("bigint")
                    .alias("cocitation"),
                    F.coalesce("coupling", F.lit(0)).cast("bigint")
                    .alias("coupling")))


def two_hop_neighborhoods(edges: DataFrame, *, src: str = "src",
                          dst: str = "dst") -> DataFrame:
    """Per-node 1-hop degree and DISTINCT <=2-hop neighborhood size
    over the undirected distinct edge set — the local-densification
    statistic behind friend-of-friend recommendation and graph
    sampling designs.

    Scale shape: symmetrize once, one self-join on the middle node
    (a degree-d hub contributes d^2 two-hop rows — the definitional
    cost; cap or sample hubs upstream for power-law graphs, as the
    LSH family caps its buckets), one distinct + one rollup. Returns
    (node, degree, n_two_hop)."""
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .unionByName(edges.select(F.col(dst).alias("a"),
                                     F.col(src).alias("b")))
           .filter(F.col("a") != F.col("b"))
           .distinct())
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("degree"))
    two = (sym.alias("x")
           .join(sym.alias("y"), F.col("x.b") == F.col("y.a"))
           .select(F.col("x.a").alias("a"), F.col("y.b").alias("c"))
           .filter(F.col("a") != F.col("c"))
           .unionByName(sym.select("a", F.col("b").alias("c")))
           .distinct()
           .groupBy("a").agg(F.count(F.lit(1)).alias("n_two_hop")))
    return (deg.join(two, "a")
            .select(F.col("a").alias("node"),
                    F.col("degree").cast("bigint").alias("degree"),
                    F.col("n_two_hop").cast("bigint").alias("n_two_hop")))


def multi_source_bfs(edges: DataFrame, seeds: DataFrame, *,
                     src: str = "src", dst: str = "dst",
                     node_col: str = "node",
                     max_hops: int = 5) -> DataFrame:
    """Per-seed BFS levels over the UNDIRECTED graph: like
    `bfs_distances` but each sampled seed keeps its OWN frontier, so
    the result is (seed, node, dist) — the primitive behind sampled
    centrality estimators (Eppstein & Wang 2001), which need d(s, v)
    per seed, not the min over the seed set.

    Scale shape: identical frontier-expansion discipline to
    bfs_distances (current frontier x symmetrized edges, anti-join
    visited, localCheckpoint per round — flat lineage); state and
    per-round shuffle scale as |seeds| x frontier, bounded by the k
    sampled seeds, never all-pairs."""
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .unionByName(edges.select(F.col(dst).alias("a"),
                                     F.col(src).alias("b")))
           .filter(F.col("a") != F.col("b"))
           .distinct())
    sym = keep(sym)
    visited = (seeds.select(F.col(node_col).alias("seed")).distinct()
               .withColumn("node", F.col("seed"))
               .withColumn("dist", F.lit(0)))
    frontier = visited
    for d in range(1, max_hops + 1):
        nxt = (frontier.join(sym, frontier["node"] == sym["a"])
               .select("seed", F.col("b").alias("node"))
               .distinct()
               .join(visited.select("seed", "node"),
                     ["seed", "node"], "left_anti")
               .withColumn("dist", F.lit(d))
               .localCheckpoint(eager=False))
        if nxt.limit(1).count() == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return visited


def sampled_harmonic_centrality(edges: DataFrame, seeds: DataFrame, *,
                                src: str = "src", dst: str = "dst",
                                node_col: str = "node",
                                max_hops: int = 5,
                                round_to: int = 6) -> DataFrame:
    """Sampled harmonic centrality (the Eppstein-Wang estimator on the
    harmonic variant, which needs no reached-by-all-seeds restriction):
    c_H(v) ~= (n / k) * sum_{s in S, d(s,v) > 0} 1/d(s,v) / (n - 1),
    with n the node universe of the symmetrized edge list and k the
    seed-sample size. Exact when S is all nodes; unbiased under
    uniform seed sampling.

    Scale shape: one multi_source_bfs (k bounded frontiers) + one
    groupBy(node) + two broadcast scalars. Returns
    (node, n_seeds_reaching, harmonic_centrality) for nodes reached
    by at least one non-self seed."""
    dists = multi_source_bfs(edges, seeds, src=src, dst=dst,
                             node_col=node_col, max_hops=max_hops)
    n = (edges.select(F.col(src).alias("x"))
         .unionByName(edges.select(F.col(dst).alias("x")))
         .filter(F.col("x").isNotNull())
         .agg(F.countDistinct("x").alias("_n")))
    k = seeds.agg(F.countDistinct(node_col).alias("_k"))
    per = (dists.filter(F.col("dist") > 0)
           .groupBy("node")
           .agg(F.count(F.lit(1)).alias("n_seeds_reaching"),
                F.sum(1.0 / F.col("dist")).alias("_h")))
    return (per.crossJoin(F.broadcast(n)).crossJoin(F.broadcast(k))
            .select("node",
                    F.col("n_seeds_reaching").cast("bigint")
                    .alias("n_seeds_reaching"),
                    F.round((F.col("_n") / F.col("_k").cast("double"))
                            * F.col("_h") / (F.col("_n") - 1), round_to)
                    .alias("harmonic_centrality")))


def effective_diameter_sampled(edges: DataFrame, seeds: DataFrame, *,
                               src: str = "src", dst: str = "dst",
                               node_col: str = "node",
                               max_hops: int = 10,
                               quantile: float = 0.9) -> DataFrame:
    """Sampled effective diameter: the smallest hop count d such that
    at least ``quantile`` of the reachable (seed, node) pairs (self
    pairs excluded) lie within distance d — the ANF/HyperANF headline
    statistic, here computed exactly on the seed sample's BFS levels.

    Scale shape: one multi_source_bfs + an O(max_hops) distance
    histogram folded on the driver-free aggregate table. Returns one
    row (n_pairs, effective_diameter)."""
    dists = multi_source_bfs(edges, seeds, src=src, dst=dst,
                             node_col=node_col, max_hops=max_hops)
    hist = (dists.filter(F.col("dist") > 0)
            .groupBy("dist").agg(F.count(F.lit(1)).alias("_c")))
    tot = hist.agg(F.sum("_c").alias("_t"))
    # O(max_hops) rows: a plain window over the tiny histogram would
    # plan an unbounded SinglePartition exchange; the broadcast
    # nested-loop over <= max_hops rows is the bounded shape.
    cum = (hist.alias("h")
           .join(F.broadcast(hist.alias("g")),
                 F.col("g.dist") <= F.col("h.dist"))
           .groupBy(F.col("h.dist").alias("dist"))
           .agg(F.sum("g._c").alias("_cum")))
    return (cum.crossJoin(F.broadcast(tot))
            .filter(F.col("_cum") >= quantile * F.col("_t"))
            .agg(F.max(F.col("_t")).cast("bigint").alias("n_pairs"),
                 F.min("dist").cast("bigint").alias("effective_diameter")))


def sampled_betweenness(edges: DataFrame, seeds: DataFrame, *,
                        src: str = "src", dst: str = "dst",
                        node_col: str = "node",
                        max_hops: int = 5,
                        round_to: int = 6) -> DataFrame:
    """Sampled betweenness centrality: Brandes' dependency
    accumulation (Brandes 2001) run from a seed sample (Brandes &
    Pich 2007 estimator), bounded at ``max_hops`` (Borgatti's
    k-betweenness when paths are truncated):

        bc(v) ~= (n / k) * sum_{s in S} delta_s(v) / 2

    Forward pass: level-synchronous BFS that carries the
    shortest-path COUNT sigma with the frontier (sigma(v) = sum of
    sigma over dist-1 predecessors — exact in level order). Backward
    pass: delta(v) = sum over DAG successors w of
    (sigma_v / sigma_w) * (1 + delta_w), accumulated from the deepest
    level up; the seed's own delta is excluded per Brandes.

    Scale shape: same bounded-frontier discipline as multi_source_bfs
    (state and per-round shuffle O(k x frontier), localCheckpoint per
    round); the backward pass is max_hops joins of one level against
    the symmetrized edges — never all-pairs, never a global window.
    Float parity: sigma is exact integer; delta terms are
    sigma-ratio rationals — fixtures whose sigma ratios are dyadic
    (1, 1/2, ...) make every cross-engine sum exact, and the final
    estimate rounds to ``round_to`` regardless."""
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .unionByName(edges.select(F.col(dst).alias("a"),
                                     F.col(src).alias("b")))
           .filter(F.col("a") != F.col("b"))
           .distinct())
    sym = keep(sym)
    lvl0 = (seeds.select(F.col(node_col).alias("seed")).distinct()
            .withColumn("node", F.col("seed"))
            .withColumn("dist", F.lit(0))
            .withColumn("sig", F.lit(1).cast("bigint")))
    visited = lvl0
    frontier = lvl0
    for d in range(1, max_hops + 1):
        nxt = (frontier.join(sym, frontier["node"] == sym["a"])
               .select("seed", F.col("b").alias("node"), "sig")
               .groupBy("seed", "node")
               .agg(F.sum("sig").alias("sig"))
               .join(visited.select("seed", "node"),
                     ["seed", "node"], "left_anti")
               .withColumn("dist", F.lit(d))
               .select("seed", "node", "dist", "sig")
               .localCheckpoint(eager=False))
        if nxt.limit(1).count() == 0:
            break
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    visited = keep(visited)
    delta_next = None
    acc = None
    for level in range(max_hops - 1, 0, -1):
        u = visited.filter(F.col("dist") == level)
        w = (visited.filter(F.col("dist") == level + 1)
             .select("seed", F.col("node").alias("w"),
                     F.col("sig").alias("sigw")))
        if delta_next is not None:
            w = (w.join(delta_next.select("seed",
                                          F.col("node").alias("w"),
                                          F.col("delta").alias("dnext")),
                        ["seed", "w"], "left")
                 .withColumn("dnext", F.coalesce("dnext", F.lit(0.0))))
        else:
            w = w.withColumn("dnext", F.lit(0.0))
        contrib = (u.join(sym, u["node"] == sym["a"])
                   .select("seed", "node", "sig", F.col("b").alias("w"))
                   .join(w, ["seed", "w"])
                   .groupBy("seed", "node")
                   .agg(F.sum((F.col("sig") / F.col("sigw"))
                              * (F.lit(1.0) + F.col("dnext")))
                        .alias("delta"))
                   .localCheckpoint(eager=False))
        delta_next = contrib
        acc = contrib if acc is None else acc.unionByName(contrib)
    n = (edges.select(F.col(src).alias("x"))
         .unionByName(edges.select(F.col(dst).alias("x")))
         .filter(F.col("x").isNotNull())
         .agg(F.countDistinct("x").cast("double").alias("_n")))
    k = seeds.agg(F.countDistinct(node_col).cast("double").alias("_k"))
    if acc is None:
        return (visited.filter(F.lit(False))
                .select("node", F.lit(0.0).alias("betweenness")))
    return (acc.groupBy("node")
            .agg(F.sum("delta").alias("_d"))
            .crossJoin(F.broadcast(n)).crossJoin(F.broadcast(k))
            .select("node",
                    F.round(F.col("_n") / F.col("_k")
                            * F.col("_d") / 2, round_to)
                    .alias("betweenness")))


def adamic_adar_pairs(edges: DataFrame, *, src: str = "src",
                      dst: str = "dst",
                      max_degree: int | None = None,
                      round_to: int = 6) -> DataFrame:
    """Common-neighbors and Adamic-Adar link-prediction scores
    (Adamic & Adar 2003) for every unordered node pair sharing at
    least one neighbor in the symmetrized graph:

        AA(u, v) = sum_{z in N(u) & N(v)} 1 / ln(deg(z))

    (deg(z) >= 2 for any common neighbor of distinct u, v, so the log
    never vanishes). ``is_edge`` flags pairs already connected — the
    usual link-prediction evaluation split.

    Scale shape: the candidate join fans out deg(z) choose 2 pairs
    per intermediate z — the same bucketed-candidate contract as the
    LSH families; ``max_degree`` (optional, disclosed) drops
    super-hub intermediates before the self-join, standard practice
    at web scale. One groupBy on the pair key, map-side combinable."""
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .unionByName(edges.select(F.col(dst).alias("a"),
                                     F.col(src).alias("b")))
           .filter(F.col("a") != F.col("b"))
           .distinct())
    sym = keep(sym)
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("dz"))
    if max_degree is not None:
        deg = deg.filter(F.col("dz") <= max_degree)
    x = sym.select(F.col("a").alias("u"), F.col("b").alias("z"))
    y = sym.select(F.col("a").alias("v"), F.col("b").alias("z"))
    pairs = (x.join(y, "z")
             .filter(F.col("u") < F.col("v"))
             .join(deg.select(F.col("a").alias("z"), "dz"), "z")
             .groupBy("u", "v")
             .agg(F.count(F.lit(1)).cast("bigint")
                  .alias("common_neighbors"),
                  F.round(F.sum(F.lit(1.0) / F.log(F.col("dz"))),
                          round_to).alias("adamic_adar")))
    return (pairs.join(sym.select(F.col("a").alias("u"),
                                  F.col("b").alias("v"),
                                  F.lit(True).alias("_e")),
                       ["u", "v"], "left")
            .select("u", "v", "common_neighbors", "adamic_adar",
                    F.coalesce("_e", F.lit(False)).alias("is_edge"))
            .orderBy("u", "v"))


def k_truss(edges: DataFrame, k: int, *, src: str = "src",
            dst: str = "dst", max_rounds: int = 30) -> DataFrame:
    """k-truss decomposition (Cohen 2008): the maximal subgraph in
    which every edge participates in at least k-2 triangles — the
    edge-level strengthening of k_core, standard for mining cohesive
    web/citation communities. Iterative peeling: compute per-edge
    triangle support, drop edges below k-2, repeat to the (unique)
    fixpoint; like k_core, ``max_rounds`` is a loud runaway guard.

    Scale shape per round: triangles enumerate once per {a<b<c} via
    the wedge equi-join on the lowest vertex closed by one (b, c)
    hash join (the triangle_participation discipline — no adjacency
    blowup beyond wedge fan-out), support is one exploded groupBy,
    and the surviving edge set localCheckpoints so lineage stays one
    round deep. Returns the truss edges (u, v, support)."""
    e = (edges.select(F.least(F.col(src), F.col(dst)).alias("u"),
                      F.greatest(F.col(src), F.col(dst)).alias("v"))
         .filter(F.col("u") != F.col("v"))
         .distinct()
         .localCheckpoint(eager=False))
    n_cur = e.count()
    for _ in range(max_rounds):
        w = (e.alias("x")
             .join(e.alias("y"),
                   (F.col("x.u") == F.col("y.u"))
                   & (F.col("x.v") < F.col("y.v")))
             .select(F.col("x.u").alias("a"), F.col("x.v").alias("b"),
                     F.col("y.v").alias("c")))
        tri = w.join(e.select(F.col("u").alias("b"),
                              F.col("v").alias("c")), ["b", "c"])
        sup = (tri.select(F.explode(F.array(
                F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                F.struct(F.col("a").alias("u"), F.col("c").alias("v")),
                F.struct(F.col("b").alias("u"), F.col("c").alias("v"))))
                .alias("_e"))
               .select(F.col("_e.u").alias("u"), F.col("_e.v").alias("v"))
               .groupBy("u", "v")
               .agg(F.count(F.lit(1)).cast("bigint").alias("support")))
        scored = (e.join(sup, ["u", "v"], "left")
                  .select("u", "v",
                          F.coalesce("support", F.lit(0).cast("bigint"))
                          .alias("support"))
                  .localCheckpoint(eager=False))
        kept = scored.filter(F.col("support") >= k - 2) \
            .localCheckpoint(eager=False)
        n_new = kept.count()
        if n_new == n_cur:
            return scored.orderBy("u", "v")
        e = kept.select("u", "v")
        n_cur = n_new
    raise RuntimeError(
        f"k_truss: no fixpoint within {max_rounds} rounds")


def boruvka_mst(edges: DataFrame, *, src: str = "src", dst: str = "dst",
                weight: str = "w", max_rounds: int = 25,
                collect_threshold: int = 2_000_000) -> DataFrame:
    """Minimum spanning forest by Boruvka's algorithm (Boruvka 1926 —
    the data-parallel MST: Kruskal and Prim are inherently sequential,
    Boruvka contracts in O(log n) rounds): per round every component
    selects its minimum-weight outgoing edge (distinct weights make
    the MST unique, the caller's contract — assert upstream), the
    chosen edges merge components, repeat until no cross-component
    edge remains (a FOREST on disconnected graphs). The oracle twin
    replays Kruskal sequentially inside one recursive CTE — same
    unique edge set, opposite execution model, which is exactly the
    point of the cross-engine check.

    Scale shape per round: one join of the O(nodes) label vector onto
    the edge table, one groupBy(component) min-struct argmin
    (map-side combinable), then contraction runs ONLY on the
    chosen-edge COMPONENT graph (at most one edge per live component).
    That graph is collected to the driver and contracted with an exact
    union-find when it has <= ``collect_threshold`` edges (a disclosed
    small-side escape hatch — O(components) driver memory, zero shuffle
    rounds); above the threshold it falls back to the distributed min-label
    ``connected_components`` operator. Components at least halve per
    round, so rounds <= log2(n) and the chosen graph shrinks
    geometrically — at 100x scale only the first round or two take the
    distributed path. ``max_rounds`` raises loudly. Returns the MST
    edges (u, v, w) ordered by weight."""
    from pyspark.sql import types as T

    spark = edges.sparkSession
    ew = (edges.select(F.least(F.col(src), F.col(dst)).alias("u"),
                       F.greatest(F.col(src), F.col(dst)).alias("v"),
                       F.col(weight).alias("w"))
          .filter(F.col("u") != F.col("v"))
          .distinct()
          .localCheckpoint(eager=False))
    node_type = ew.schema["u"].dataType
    remap_schema = T.StructType([T.StructField("comp", node_type),
                                 T.StructField("nc", node_type)])
    labels = (ew.select(F.col("u").alias("node"))
              .unionByName(ew.select(F.col("v").alias("node")))
              .distinct()
              .select("node", F.col("node").alias("comp"))
              .localCheckpoint(eager=False))
    mst = None
    for _ in range(max_rounds):
        lu = labels.select(F.col("node").alias("u"),
                           F.col("comp").alias("cu"))
        lv = labels.select(F.col("node").alias("v"),
                           F.col("comp").alias("cv"))
        ec = (ew.join(lu, "u").join(lv, "v")
              .filter(F.col("cu") != F.col("cv"))
              .localCheckpoint(eager=False))
        if ec.limit(1).count() == 0:
            break
        pick = F.struct("w", "u", "v", "cu", "cv")
        cand = (ec.select(F.col("cu").alias("c"), pick.alias("e"))
                .unionByName(ec.select(F.col("cv").alias("c"),
                                       pick.alias("e"))))
        chosen = (cand.groupBy("c").agg(F.min("e").alias("e"))
                  .select("e.w", "e.u", "e.v", "e.cu", "e.cv")
                  .dropDuplicates(["u", "v"])
                  .localCheckpoint(eager=False))
        add = chosen.select("u", "v", "w")
        mst = add if mst is None else mst.unionByName(add)
        mst = mst.localCheckpoint(eager=False)
        # contraction on the chosen-edge component graph (at most one
        # edge per live component): exact driver union-find when small
        # (one collect, no shuffle rounds), distributed min-label
        # propagation otherwise
        n_chosen = chosen.count()
        if n_chosen <= collect_threshold:
            parent: dict = {}

            def _find(x):
                root = x
                while parent.get(root, root) != root:
                    root = parent[root]
                while parent.get(x, x) != x:
                    parent[x], x = root, parent[x]
                return root

            for r in chosen.select("cu", "cv").collect():
                ra, rb = _find(r["cu"]), _find(r["cv"])
                if ra != rb:
                    if rb < ra:
                        ra, rb = rb, ra
                    # larger root always points at the smaller, so the
                    # final root IS the min label of its component
                    parent[rb] = ra
            mapping = [(k, _find(k)) for k in list(parent)]
            lbl = spark.createDataFrame(mapping, schema=remap_schema)
            labels = (labels.join(F.broadcast(lbl), "comp", "left")
                      .select("node", F.coalesce("nc", F.col("comp"))
                              .alias("comp"))
                      .localCheckpoint(eager=False))
        else:
            from bano_spark.operators.components import \
                connected_components
            lbl = (connected_components(chosen.select("cu", "cv"),
                                        src="cu", dst="cv")
                   .select(F.col("id").alias("comp"),
                           F.col("comp").alias("nc")))
            labels = (labels.join(lbl, "comp", "left")
                      .select("node", F.coalesce("nc", F.col("comp"))
                              .alias("comp"))
                      .localCheckpoint(eager=False))
    else:
        raise RuntimeError(
            f"boruvka_mst: no fixpoint within {max_rounds} rounds "
            "(components must at least halve per round — check for "
            "duplicate edge weights breaking MST uniqueness)")
    if mst is None:
        return ew.select("u", "v", "w").limit(0)
    return mst.orderBy("w")


def hash_random_walks(edges: DataFrame, *, src: str = "src",
                      dst: str = "dst", walk_len: int = 5) -> DataFrame:
    """Deterministic 'random' walks from every node of the undirected
    graph — the corpus-generation primitive for node embeddings
    (DeepWalk/node2vec), made bit-reproducible by replacing the RNG
    with an md5 draw: at step t the walk at node c (started from s)
    moves to sorted-neighbor index md5(s|c|t) % degree. Zero RNG
    state means the walk corpus is identical on any cluster topology
    AND replayable in the DuckDB oracle. Returns (start, step, node)
    for steps 0..walk_len.

    Scale shape: one neighbor-list aggregation, then walk_len joins
    of the O(nodes) walker frontier against the adjacency table
    (shuffle keyed by current node; AQE broadcasts while adjacency is
    small), each round localCheckpointed. Degree skew = hot rows on
    the adjacency side only — salt upstream for celebrity nodes."""
    sym = (edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
           .unionByName(edges.select(F.col(dst).alias("a"),
                                     F.col(src).alias("b")))
           .filter(F.col("a") != F.col("b"))
           .distinct())
    adj = (sym.groupBy(F.col("a").alias("node"))
           .agg(F.array_sort(F.collect_list("b")).alias("nbrs"))
           .localCheckpoint(eager=False))
    cur = adj.select(F.col("node").alias("start"),
                     F.col("node").alias("cur"))
    out = cur.select("start", F.lit(0).alias("step"),
                     F.col("cur").alias("node"))
    for t in range(1, int(walk_len) + 1):
        stepped = (cur.join(adj.withColumnRenamed("node", "cur"), "cur")
                   .withColumn("nxt", F.expr(
                       f"nbrs[CAST(conv(substr(md5(concat(start, '|', "
                       f"cur, '|', CAST({t} AS STRING))), 1, 8), 16, 10)"
                       f" AS BIGINT) % size(nbrs)]"))
                   .select("start", F.col("nxt").alias("cur"))
                   .localCheckpoint(eager=False))
        out = out.unionByName(
            stepped.select("start", F.lit(t).alias("step"),
                           F.col("cur").alias("node")))
        cur = stepped
    return out.orderBy("start", "step", "node")
