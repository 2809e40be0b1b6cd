"""Text statistics for training-data pipelines: BPE-ish token counts,
DSIR importance weights, n-gram, keyword and language-model scores,
and divergences between sources.

All pure built-in column expressions (regexp + array ops in codegen) so
a 10^12-document pass never leaves the JVM.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

from .dedup import tokens

BPE_ISH_RE = r"[a-z]+|[0-9]|[^a-z0-9\s]"


def bpe_token_count(col: Column) -> Column:
    """BPE-ish token count: letter runs, single digits, and single
    non-alnum marks over the lowercased text (the GPT-2 pre-tokenizer
    shape, simplified to a portable regex). Stays in codegen via
    regexp_extract_all."""
    lowered = F.lower(col)
    return F.size(F.regexp_extract_all(lowered, F.lit(BPE_ISH_RE), F.lit(0))).cast("bigint")


def dsir_importance(docs: DataFrame, target_cond: Column,
                    text_col: str = "text",
                    id_col: str = "doc_id") -> DataFrame:
    """DSIR importance weights (Data Selection via Importance
    Resampling, Xie et al. 2023): weight every document by how much
    more likely its bag of bigrams is under a TARGET-domain LM than
    under the raw-corpus LM —
    ``w(d) = sum_b [ ln p_target(b) - ln p_raw(b) ]`` over the doc's
    bigram occurrences, both models Laplace-smoothed multinomials over
    the corpus bigram space (``p(b) = (c_b + 1) / (total + B)`` with B
    = distinct bigrams). ``target_cond`` is a boolean column picking
    the target rows (e.g. ``F.col('lang') == 'fr'``) — the in-corpus
    stand-in for the paper's external target corpus. Selection is then
    deterministic top-n by (weight desc, id): ``.orderBy(...).limit(n)``
    compiles to TakeOrderedAndProject (per-partition top-n, no global
    sort). The paper hashes bigrams into 10k buckets only to bound
    feature-vector memory; relationally no hashing is needed — the
    count table IS the model and joins by the bigram itself.

    Scale shape: BOTH models train in ONE aggregation pass (count +
    conditional count per bigram — map-side partial combine; the
    shuffle carries token pairs and two counters, never documents);
    the three scalars (raw total, target total, vocabulary B) come
    from one O(|bigrams|) aggregation; scoring is one shuffle join of
    doc-bigrams against the count table plus a per-doc sum. No Python
    anywhere."""
    toked = (docs.select(F.col(id_col),
                         target_cond.cast("int").alias("_tgt"),
                         tokens(F.col(text_col)).alias("_t"))
             .filter(F.size("_t") >= 2))
    bi = toked.select(
        F.col(id_col), "_tgt",
        F.explode(F.expr(
            "transform(sequence(1, size(_t) - 1),"
            " i -> struct(element_at(_t, i) AS w1,"
            " element_at(_t, i + 1) AS w2))")).alias("b")
    ).select(id_col, "_tgt", F.col("b.w1").alias("w1"),
             F.col("b.w2").alias("w2"))
    counts = bi.groupBy("w1", "w2").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum("_tgt").alias("c_tgt"))
    tot = counts.agg(F.sum("c_raw").alias("r"), F.sum("c_tgt").alias("t"),
                     F.count(F.lit(1)).alias("b")).collect()[0]
    raw_total, tgt_total, n_bigrams = float(tot["r"]), float(tot["t"]), float(tot["b"])
    term = (F.log((F.col("c_tgt") + 1) / F.lit(tgt_total + n_bigrams))
            - F.log((F.col("c_raw") + 1) / F.lit(raw_total + n_bigrams)))
    scored = bi.join(counts, ["w1", "w2"]).withColumn("_lr", term)
    return (scored.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_feats"),
        F.round(F.sum("_lr"), 6).alias("log_weight")))


def top_ngrams(docs: DataFrame, k: int = 50, n: int = 2,
               text_col: str = "text") -> DataFrame:
    """Corpus-wide top-k n-gram vocabulary with counts (the seed step
    of vocabulary/BPE-merge construction, and the heavy-hitters view
    of a corpus). Ties rank by the gram string ascending so the top-k
    set is deterministic.

    Scale shape: explode n-grams -> ONE hash aggregation with map-side
    partial combine (the shuffle carries (gram, count), never text) ->
    global top-k via orderBy + limit, which Spark plans as
    TakeOrderedAndProject: each partition keeps its local top-k and
    the driver merges O(partitions * k) rows — no global sort, no
    single-partition exchange."""
    return (docs.select(tokens(F.col(text_col)).alias("tokens_arr"))
            .filter(F.size("tokens_arr") >= n)
            .select(F.explode(F.expr(
                "transform(sequence(1, size(tokens_arr) - %d),"
                " i -> concat_ws(' ', slice(tokens_arr, i, %d)))"
                % (n - 1, n))).alias("gram"))
            .groupBy("gram").agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("gram")).limit(k))


def zipf_slope(docs: DataFrame, text_col: str = "text",
               min_freq: int = 1) -> DataFrame:
    """Zipf's-law fit over the corpus unigram distribution: OLS slope
    of ln(freq) on ln(rank) (rank by freq DESC, token ASC for
    determinism). A healthy natural-language corpus sits near -1;
    the slope is a standard one-number drift detector for a crawl
    snapshot (template explosions flatten it, boilerplate steepens
    it).

    Scale shape: one token-count groupBy (map-side combinable) over
    the corpus collapses to vocabulary size; the rank over the
    vocabulary comes from selection.distributed_cumsum (bucketed
    composite prefix sum — NO single-partition window, the r1
    token_budget lesson), and the OLS terms are one final aggregate
    row.
    """
    from .selection import distributed_cumsum

    toks = docs.select(F.explode(tokens(F.col(text_col))).alias("t"))
    freq = (toks.groupBy("t").agg(F.count(F.lit(1)).alias("f"))
            .filter(F.col("f") >= min_freq)
            .withColumn("_one", F.lit(1)))
    ranked_rows = distributed_cumsum(
        freq, "f", [F.col("f").desc(), F.col("t")], "_one",
        out_col="rank", descending=True, tiebreak_col="t")
    ranked = ranked_rows.select(
        F.ln(F.col("rank").cast("double")).alias("lx"),
        F.ln(F.col("f").cast("double")).alias("ly"))
    return ranked.agg(
        ((F.sum(F.col("lx") * F.col("ly"))
          - F.sum("lx") * F.sum("ly") / F.count(F.lit(1)))
         / (F.sum(F.col("lx") * F.col("lx"))
            - F.sum("lx") * F.sum("lx") / F.count(F.lit(1))))
        .alias("zipf_slope"),
        F.count(F.lit(1)).cast("bigint").alias("n_vocab"))


def heaps_law(docs: DataFrame, text_col: str = "text",
              doc_col: str = "doc_id",
              checkpoints: int = 10) -> DataFrame:
    """Heaps' law fit V(n) = K * n^beta: vocabulary growth against
    corpus position, the standard sublinearity check of a healthy
    natural-language corpus (beta ~ 0.4-0.6; synthetic/boilerplate
    text bends it). Each token's FIRST global occurrence position is
    min(global position); V(n_k) at ``checkpoints`` evenly spaced
    prefixes comes from conditional sums in ONE aggregate pass (the
    ripley ladder discipline), and (K, beta) from the closed-form OLS
    of ln V on ln n computed in-engine (no driver libm).

    Scale shape: the global token position NEVER sorts tokens through
    one partition — per-doc counts get a distributed prefix sum
    (bucketed composite cumsum) and each token adds its in-doc offset.
    Everything else is two map-side-combinable aggregations.
    """
    from bano_spark.operators.dedup import tokens
    from bano_spark.operators.selection import distributed_cumsum

    tok = docs.select(F.col(doc_col).alias("_d"),
                      F.posexplode(tokens(F.col(text_col)))
                      .alias("_p", "_t"))
    per_doc = tok.groupBy("_d").agg(F.count(F.lit(1)).alias("_n"))
    offs = distributed_cumsum(per_doc, "_d", [F.col("_d")], "_n",
                              out_col="_cum", tiebreak_col="_d")
    offs = offs.withColumn("_off", F.col("_cum") - F.col("_n"))
    gp = (tok.join(offs.select("_d", "_off"), "_d")
          .select("_t", (F.col("_off") + F.col("_p") + 1).alias("_gp")))
    fp = gp.groupBy("_t").agg(F.min("_gp").alias("_fp"))
    n_total = int(per_doc.agg(F.sum("_n")).first()[0] or 0)
    ladder = [max(1, (k * n_total) // checkpoints)
              for k in range(1, checkpoints + 1)]
    vs = fp.agg(*[F.sum(F.when(F.col("_fp") <= nk, 1).otherwise(0))
                  .alias(f"_v{i}") for i, nk in enumerate(ladder)])
    # OLS of ln v on ln n over the checkpoint ladder, in-engine
    pts = [(F.log(F.lit(float(nk))), F.log(F.col(f"_v{i}").cast("double")))
           for i, nk in enumerate(ladder)]
    c = float(len(ladder))
    sx = sum((p[0] for p in pts[1:]), pts[0][0])
    sy = sum((p[1] for p in pts[1:]), pts[0][1])
    sxy = sum((p[0] * p[1] for p in pts[1:]), pts[0][0] * pts[0][1])
    sxx = sum((p[0] * p[0] for p in pts[1:]), pts[0][0] * pts[0][0])
    beta = (sxy - sx * sy / c) / (sxx - sx * sx / c)
    kk = F.exp((sy - beta * sx) / c)
    return vs.select(
        F.lit(n_total).cast("bigint").alias("n_tokens"),
        F.col(f"_v{checkpoints - 1}").cast("bigint").alias("n_vocab"),
        beta.alias("heaps_beta"), kk.alias("heaps_k"))


def log_odds_keywords(docs: DataFrame, text_col: str = "text",
                      source_col: str = "source", k: int = 3) -> DataFrame:
    """Per-source distinguishing keywords by log-odds z-score with the
    informative Dirichlet prior (Monroe, Colaresi & Quinn 2008,
    "Fightin' Words"): prior counts = the corpus counts themselves
    (a_w = y_w, a0 = N), delta = ln((y_sw + a_w)/(n_s + a0 - y_sw -
    a_w)) - ln((y_w + a_w)/(N + a0 - y_w - a_w)), var = 1/(y_sw + a_w)
    + 1/(y_w + a_w), z = delta / sqrt(var). Top-k per source by z
    (ties to the lexicographically smaller token).

    Two map-side-combinable count aggregations + one broadcast of the
    per-source totals; candidates are only tokens PRESENT in the
    source (absent tokens have negative delta and can never enter a
    top-k by z), so no zero materialization. The per-source top-k is
    a partitioned window over the source's vocabulary."""
    from pyspark.sql.window import Window

    from bano_spark.operators.dedup import tokens

    toks = docs.select(F.col(source_col).alias("_src"),
                       F.explode(tokens(F.col(text_col))).alias("_t"))
    ysw = toks.groupBy("_src", "_t").agg(F.count(F.lit(1)).alias("_ysw"))
    yw = toks.groupBy("_t").agg(F.count(F.lit(1)).alias("_yw"))
    ns = toks.groupBy("_src").agg(F.count(F.lit(1)).alias("_ns"))
    n_total = float(toks.count())
    j = (ysw.join(yw, "_t").join(F.broadcast(ns), "_src"))
    aw = F.col("_yw").cast("double")
    a0 = F.lit(n_total)
    num1 = F.col("_ysw") + aw
    den1 = F.col("_ns") + a0 - F.col("_ysw") - aw
    num2 = F.col("_yw") + aw
    den2 = F.lit(n_total) + a0 - F.col("_yw") - aw
    delta = F.log(num1 / den1) - F.log(num2 / den2)
    var = 1.0 / num1 + 1.0 / num2
    scored = j.select(F.col("_src").alias(source_col),
                      F.col("_t").alias("token"),
                      F.col("_ysw").alias("n_in_source"),
                      (delta / F.sqrt(var)).alias("z"))
    w = Window.partitionBy(source_col).orderBy(F.desc("z"), "token")
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def rake_keywords(docs: DataFrame, stopwords: list[str],
                  text_col: str = "text", id_col: str = "doc_id",
                  k: int = 3) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010 "Automatic Keyword
    Extraction from Individual Documents"): candidate phrases are the
    maximal runs of non-stopword tokens; each word scores
    deg(w)/freq(w) where freq counts the word's occurrences across
    all candidate phrases and deg sums the lengths of the phrases
    those occurrences sit in; a phrase scores the sum of its member
    word scores. Returns the top-``k`` phrases per document by
    (score desc, phrase asc).

    Scale shape: posexplode -> running-sum window per doc (phrase
    ids) -> one corpus-wide hash aggregation for the word table
    (map-side combine; the shuffle carries words + counters) -> a
    broadcast-sized join back -> per-doc top-k window. The phrase
    TEXT is assembled once per phrase from sorted (pos, word) structs
    — document text itself never shuffles."""
    from pyspark.sql import Window

    stop = F.array(*[F.lit(s) for s in stopwords])
    toks = (docs.select(F.col(id_col),
                        F.posexplode(tokens(F.col(text_col)))
                        .alias("pos", "w"))
            .withColumn("is_stop", F.array_contains(stop, F.col("w"))
                        | (F.col("w") == "")))
    wseq = Window.partitionBy(id_col).orderBy("pos")
    toks = toks.withColumn("pid", F.sum(F.col("is_stop").cast("int"))
                           .over(wseq))
    words = toks.filter(~F.col("is_stop")) \
        .select(id_col, "pid", "pos", "w")
    plen = (words.groupBy(id_col, "pid")
            .agg(F.count(F.lit(1)).alias("plen")))
    occ = words.join(plen, [id_col, "pid"])
    wstats = (occ.groupBy("w")
              .agg(F.count(F.lit(1)).alias("freq"),
                   F.sum("plen").alias("deg"))
              .select("w", (F.col("deg").cast("double")
                            / F.col("freq")).alias("wscore")))
    scored = (occ.join(F.broadcast(wstats), "w")
              .groupBy(id_col, "pid")
              .agg(F.round(F.sum("wscore"), 6).alias("score"),
                   F.array_join(
                       F.transform(
                           F.array_sort(F.collect_list(
                               F.struct(F.col("pos").alias("p"),
                                        F.col("w").alias("t")))),
                           lambda s: s["t"]), " ").alias("phrase")))
    dedup = (scored.groupBy(id_col, "phrase")
             .agg(F.max("score").alias("score")))
    wtop = Window.partitionBy(id_col).orderBy(F.desc("score"),
                                              F.asc("phrase"))
    return (dedup.withColumn("rnk", F.row_number().over(wtop))
            .filter(F.col("rnk") <= k)
            .select(id_col, "phrase", "score", "rnk"))


def stupid_backoff_score(docs: DataFrame, train_cond,
                         text_col: str = "text", id_col: str = "doc_id",
                         alpha: float = 0.4) -> DataFrame:
    """Stupid-backoff trigram LM scoring (Brants et al. 2007 "Large
    Language Models in Machine Translation" — the backoff scheme built
    FOR distributed count tables): train counts on the rows where
    ``train_cond`` holds, score every other document. A trigram
    (w1,w2,w3) scores

        S = c123/c12                         if the trigram was seen
          = alpha * c23/c2                   else if the bigram was
          = alpha^2 * (c3 + 1)/(N + V)       else (Laplace unigram)

    where c12/c2 count CONTEXT occurrences among the train trigrams/
    bigrams, N is the train token count and V the train vocabulary.
    Returns per scored doc (id, n_tri, avg_neg_logp) — avg -ln S.

    Scale shape: three count tables from one explode each (map-side
    partial combine; shuffles carry token tuples + counters); scoring
    is left joins on the gram keys — the trigram join shuffles, the
    bigram/unigram tables broadcast at real vocab sizes. The two
    scalars (N, V) come from one O(1)-row aggregation."""
    toked = docs.select(F.col(id_col), train_cond.alias("_is_tr"),
                        tokens(F.col(text_col)).alias("_t"))
    train = toked.filter(F.col("_is_tr"))
    test = toked.filter(~F.col("_is_tr")).filter(F.size("_t") >= 3)

    def grams(df: DataFrame, n: int, cols: list[str]) -> DataFrame:
        fields = ", ".join(
            f"element_at(_t, i + {j}) AS {c}" for j, c in enumerate(cols))
        return df.select(
            F.col(id_col),
            F.explode(F.expr(
                f"CASE WHEN size(_t) >= {n} THEN "
                f"transform(sequence(1, size(_t) - {n - 1}),"
                f" i -> struct({fields})) ELSE array() END")).alias("g")
        ).select(id_col, *[F.col(f"g.{c}") for c in cols])

    tri_tr = grams(train, 3, ["w1", "w2", "w3"])
    c3 = tri_tr.groupBy("w1", "w2", "w3").agg(
        F.count(F.lit(1)).alias("c123"))
    c2ctx = tri_tr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    bi_tr = grams(train, 2, ["w1", "w2"])
    cb2 = (bi_tr.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c23"))
           .withColumnRenamed("w1", "b1").withColumnRenamed("w2", "b2"))
    cb1 = bi_tr.groupBy("w1").agg(F.count(F.lit(1)).alias("c2"))
    uni = train.select(F.explode("_t").alias("w"))
    cu = uni.groupBy("w").agg(F.count(F.lit(1)).alias("c3u"))
    sc = uni.agg(F.count(F.lit(1)).alias("n"),
                 F.countDistinct("w").alias("v")).collect()[0]
    n_tok, vocab = float(sc["n"]), float(sc["v"])

    tri = grams(test, 3, ["w1", "w2", "w3"])
    j = (tri.join(c3, ["w1", "w2", "w3"], "left")
         .join(c2ctx, ["w1", "w2"], "left")
         .join(cb2, (F.col("w2") == F.col("b1"))
               & (F.col("w3") == F.col("b2")), "left")
         .join(cb1.withColumnRenamed("w1", "u1"),
               F.col("w2") == F.col("u1"), "left")
         .join(cu.withColumnRenamed("w", "u3"),
               F.col("w3") == F.col("u3"), "left"))
    a = F.lit(alpha)
    s = (F.when(F.col("c123").isNotNull(),
                F.col("c123") / F.col("c12"))
         .when(F.col("c23").isNotNull(), a * F.col("c23") / F.col("c2"))
         .otherwise(a * a * (F.coalesce(F.col("c3u"), F.lit(0)) + 1)
                    / F.lit(n_tok + vocab)))
    return (j.groupBy(id_col)
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_tri"),
                 F.round(F.avg(-F.log(s)), 6).alias("avg_neg_logp")))


def token_chunks(docs: DataFrame, size: int, stride: int, *,
                 id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """Fixed-size overlapping token windows — the training-example
    prep step between cleaning and tokenizer packing (size tokens per
    chunk, stride < size gives overlap). Chunks start at token
    1, 1+stride, 1+2*stride, ... while the start lies within the
    document; the last chunk may be short. Each chunk carries its
    md5 fingerprint (of the space-joined tokens) so downstream exact
    chunk-level dedup is one groupBy away.

    Scale shape: one whitespace split + one bounded sequence explode
    per document (ceil(n/stride) rows) + pure column expressions —
    no Python, no shuffle until the caller aggregates.

    Returns (id, chunk_no, start_tok, n_tokens, chunk_md5)."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    d = (docs.select(F.col(id_col), toks.alias("_t"))
         .withColumn("_n", F.size("_t"))
         .filter(F.col("_n") > 0))
    starts = F.sequence(F.lit(1), F.col("_n"), F.lit(int(stride)))
    ex = (d.select(id_col, "_t", "_n",
                   F.posexplode(starts).alias("_k", "_start")))
    chunk = F.slice(F.col("_t"), F.col("_start"), int(size))
    return ex.select(
        F.col(id_col),
        (F.col("_k") + 1).cast("int").alias("chunk_no"),
        F.col("_start").cast("int").alias("start_tok"),
        F.size(chunk).cast("int").alias("n_tokens"),
        F.md5(F.array_join(chunk, " ")).alias("chunk_md5"))


def kwic_concordance(docs: DataFrame, term: str, window: int, *,
                     id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Keyword-in-context concordance: every occurrence of ``term``
    (exact lowercase token match) with up to ``window`` tokens of
    left and right context joined back to strings — the corpus
    linguist's first query and the spot-check view for filter-rule
    debugging.

    Scale shape: one positional explode per document + pure slice
    arithmetic; occurrences shuffle nowhere until the caller sorts.

    Returns (id, pos, left_ctx, right_ctx) with pos 1-based."""
    toks = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    d = (docs.select(F.col(id_col), toks.alias("_t"))
         .withColumn("_n", F.size("_t")))
    ex = (d.select(id_col, "_t", "_n",
                   F.posexplode("_t").alias("_p0", "_w"))
          .filter(F.col("_w") == term.lower())
          .withColumn("_p", F.col("_p0") + 1))
    lstart = F.greatest(F.col("_p") - window, F.lit(1))
    left = F.slice(F.col("_t"), lstart, (F.col("_p") - lstart).cast("int"))
    right = F.slice(F.col("_t"), F.col("_p") + 1,
                    F.least(F.lit(window), F.col("_n") - F.col("_p"))
                    .cast("int"))
    # empty windows (term at a document edge): slice yields null/[]
    # depending on the engine — pin both to '' (coalesce here, in the
    # oracle via coalesce(array_to_string(...), ''))
    return ex.select(
        F.col(id_col), F.col("_p").cast("int").alias("pos"),
        F.coalesce(F.array_join(left, " "), F.lit("")).alias("left_ctx"),
        F.coalesce(F.array_join(right, " "), F.lit("")).alias("right_ctx"))


def bigram_llr(docs: DataFrame, text_col: str = "text", *,
               min_count: int = 30, round_to: int = 6) -> DataFrame:
    """Dunning log-likelihood-ratio collocation strength for adjacent
    token bigrams (Dunning 1993) — the count-robust alternative to
    PMI (which over-rewards rare pairs). From the 2x2 contingency
    table of each bigram (k11 = bigram count, k12/k21 = marginal
    remainders, k22 = rest, n = total bigrams):

        G2 = 2 * sum_ij k_ij * ln(k_ij * n / (row_i * col_j))

    with 0*ln(0) = 0. Counts are exact integers; ln is the only libm
    call, on identical doubles in any engine.

    Scale shape: one token explode + self-align for bigrams (the
    textrank adjacency), one groupBy(bigram), two marginal groupBys
    joined back — all bounded equi-shuffles. Returns (w1, w2, k11,
    llr) for bigrams with k11 >= min_count."""
    tok = (docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(text_col)), r"\s+"))
        .alias("p", "w"))
        .filter(F.col("w") != ""))
    nxt = tok.select("doc_id", (F.col("p") - 1).alias("p"),
                     F.col("w").alias("w2"))
    bg = (tok.join(nxt, ["doc_id", "p"])
          .select(F.col("w").alias("w1"), "w2"))
    k11 = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("k11"))
    r1 = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    c1 = bg.groupBy("w2").agg(F.count(F.lit(1)).alias("c2"))
    n = bg.count()

    j = (k11.join(r1, "w1").join(c1, "w2")
         .filter(F.col("k11") >= min_count)
         .withColumn("k12", F.col("c1") - F.col("k11"))
         .withColumn("k21", F.col("c2") - F.col("k11"))
         .withColumn("k22", F.lit(n) - F.col("c1") - F.col("c2")
                     + F.col("k11")))

    def term(k, row, col):
        kd = F.col(k).cast("double")
        e = F.col(row).cast("double") * F.col(col) / F.lit(float(n))
        return F.when(F.col(k) > 0, kd * F.log(kd / e)).otherwise(F.lit(0.0))

    # rows: c1, n-c1; cols: c2, n-c2
    j = (j.withColumn("_r2", F.lit(n) - F.col("c1"))
         .withColumn("_q2", F.lit(n) - F.col("c2")))
    g2 = 2.0 * (term("k11", "c1", "c2") + term("k12", "c1", "_q2")
                + term("k21", "_r2", "c2") + term("k22", "_r2", "_q2"))
    return (j.select("w1", "w2", F.col("k11").cast("bigint").alias("k11"),
                     F.round(g2, round_to).alias("llr")))


def texttiling(docs: DataFrame, text_col: str = "text", *,
               block: int = 20, threshold: float = 0.4,
               round_to: int = 6) -> DataFrame:
    """TextTiling topic segmentation (Hearst 1997): split each doc
    into ``block``-token blocks, score each inter-block gap by the
    cosine of adjacent block term vectors, and mark a boundary where
    the DEPTH score (left-peak drop + right-peak drop around the gap)
    exceeds ``threshold`` — the lexical-cohesion dip detector that
    finds topic shifts without any model.

    Determinism: term counts are integers, so dot products are
    integer-exact and norms/cosines are single IEEE ops — both
    engines emit identical doubles. Depth uses running maxes (two
    partitioned windows), not Hearst's local hill-climb, which is
    scan-order-sensitive.

    Scale shape: one token explode + one groupBy(doc, block, term) +
    one self-equi-join on (doc, term) restricted to adjacent blocks +
    two windows per doc — no cross product, no Python. Returns
    (doc_id, gap, sim, depth, is_boundary)."""
    from pyspark.sql import Window

    tok = (docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(text_col)), r"\s+"))
        .alias("p", "w"))
        .filter(F.col("w") != ""))
    tf = (tok.withColumn("_b", (F.col("p") / block).cast("long"))
          .groupBy("doc_id", "_b", "w")
          .agg(F.count(F.lit(1)).alias("_c")))
    norm = (tf.groupBy("doc_id", "_b")
            .agg(F.sqrt(F.sum(F.col("_c") * F.col("_c"))).alias("_n")))
    nxt = tf.select("doc_id", (F.col("_b") - 1).alias("_b"),
                    F.col("w"), F.col("_c").alias("_c2"))
    dot = (tf.join(nxt, ["doc_id", "_b", "w"])
           .groupBy("doc_id", "_b")
           .agg(F.sum(F.col("_c") * F.col("_c2")).alias("_dot")))
    nrm2 = norm.select("doc_id", (F.col("_b") - 1).alias("_b"),
                       F.col("_n").alias("_nb"))
    gaps = (norm.withColumnRenamed("_n", "_na")
            .join(nrm2, ["doc_id", "_b"])
            .join(dot, ["doc_id", "_b"], "left")
            .select("doc_id", F.col("_b").alias("gap"),
                    (F.coalesce(F.col("_dot"), F.lit(0.0))
                     / (F.col("_na") * F.col("_nb"))).alias("sim")))
    w = Window.partitionBy("doc_id").orderBy("gap")
    left_pk = F.max("sim").over(
        w.rowsBetween(Window.unboundedPreceding, 0))
    right_pk = F.max("sim").over(
        w.rowsBetween(0, Window.unboundedFollowing))
    out = gaps.withColumn(
        "depth", (left_pk - F.col("sim")) + (right_pk - F.col("sim")))
    return out.select(
        "doc_id", "gap", F.round("sim", round_to).alias("sim"),
        F.round("depth", round_to).alias("depth"),
        (F.col("depth") >= threshold).alias("is_boundary"))


def good_turing(docs: DataFrame, text_col: str = "text", *,
                round_to: int = 6) -> DataFrame:
    """Simple Good-Turing smoothed frequency estimates (Gale &
    Sampson 1995): from the corpus unigram frequency spectrum S(r)
    (= how many types occur exactly r times), fit log S = a + b log r
    by least squares and report the smoothed count

        r* = (r + 1) * S_fit(r + 1) / S_fit(r)
           = (r + 1) * exp(b * (ln(r + 1) - ln r))

    per observed r — the LM-smoothing companion of the stupid-backoff
    and bigram-LM operators (unseen-mass estimation for OOV scoring).

    Scale shape: two aggregation passes (type frequencies, then the
    frequency spectrum) + one O(spectrum) fit from scalar sufficient
    statistics — the linear_fit discipline; the spectrum is tiny by
    Zipf. Returns (r, s_r, r_star)."""
    tf = (docs.select(
        F.explode(F.split(F.trim(F.lower(text_col)), r"\s+")).alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count(F.lit(1)).alias("_r")))
    spec = tf.groupBy("_r").agg(F.count(F.lit(1)).alias("_s"))
    pts = spec.select(F.log(F.col("_r").cast("double")).alias("_x"),
                      F.log(F.col("_s").cast("double")).alias("_y"),
                      "_r", "_s")
    st = pts.agg(F.count(F.lit(1)).alias("n"), F.sum("_x").alias("sx"),
                 F.sum("_y").alias("sy"), F.sum(F.col("_x") * F.col("_x"))
                 .alias("sxx"), F.sum(F.col("_x") * F.col("_y"))
                 .alias("sxy")).collect()[0]
    nn = float(st["n"])
    b = ((nn * st["sxy"] - st["sx"] * st["sy"])
         / (nn * st["sxx"] - st["sx"] * st["sx"]))
    r = F.col("_r").cast("double")
    rstar = (r + 1.0) * F.exp(F.lit(b) * (F.log(r + 1.0) - F.log(r)))
    return (spec.select(F.col("_r").cast("bigint").alias("r"),
                        F.col("_s").cast("bigint").alias("s_r"),
                        F.round(rstar, round_to).alias("r_star")))


def stylometric_delta(docs: DataFrame, group_col: str, *,
                      text_col: str = "text", top_n: int = 20,
                      round_to: int = 6) -> DataFrame:
    """Burrows' Delta (Burrows 2002) between corpus slices: for the
    ``top_n`` most frequent words overall, z-score each slice's
    RELATIVE frequency across slices, then Delta(a, b) = mean
    |z_a - z_b| — the standard stylometric distance (authorship /
    register drift between sources, crawls, or time slices).

    Variance is population variance from explicit sufficient sums
    (the burstiness discipline — library stddev semantics differ);
    zero-variance words drop from the mean (every slice identical —
    no signal). Scale shape: one token explode + two hash aggs for
    frequencies, one window for the top-n vocabulary, one groupBy
    (word) moment pass, one slice-pair join bounded by slices^2 —
    slices are few by construction. Returns (g1, g2, n_words,
    delta)."""
    from pyspark.sql import Window

    tok = (docs.select(F.col(group_col).alias("_g"),
                       F.explode(F.split(F.trim(F.lower(text_col)),
                                         r"\s+")).alias("w"))
           .filter(F.col("w") != ""))
    totals = tok.groupBy("_g").agg(F.count(F.lit(1)).alias("_tot"))
    gw = tok.groupBy("_g", "w").agg(F.count(F.lit(1)).alias("_c"))
    vocab = (gw.groupBy("w").agg(F.sum("_c").alias("_all"))
             .withColumn("_r", F.row_number().over(
                 Window.orderBy(F.desc("_all"), F.asc("w"))))
             .filter(F.col("_r") <= top_n).select("w"))
    ng = totals.count()
    # dense (slice, word) grid so absent words score freq 0
    grid = (totals.crossJoin(F.broadcast(vocab))
            .join(gw, ["_g", "w"], "left")
            .select("_g", "w", "_tot",
                    (F.coalesce(F.col("_c"), F.lit(0))
                     / F.col("_tot")).alias("_f")))
    mom = (grid.groupBy("w")
           .agg(F.sum("_f").alias("_sf"),
                F.sum(F.col("_f") * F.col("_f")).alias("_sff")))
    nn = float(ng)
    z = (grid.join(mom, "w")
         .withColumn("_mu", F.col("_sf") / nn)
         .withColumn("_var", F.col("_sff") / nn
                     - F.col("_mu") * F.col("_mu"))
         .filter(F.col("_var") > 0)
         .withColumn("_z", (F.col("_f") - F.col("_mu"))
                     / F.sqrt("_var")))
    a = z.select(F.col("_g").alias("g1"), "w", F.col("_z").alias("_za"))
    b = z.select(F.col("_g").alias("g2"), "w", F.col("_z").alias("_zb"))
    return (a.join(b, "w")
            .filter(F.col("g1") < F.col("g2"))
            .groupBy("g1", "g2")
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_words"),
                 F.round(F.avg(F.abs(F.col("_za") - F.col("_zb"))),
                         round_to).alias("delta")))


def js_divergence_sources(docs: DataFrame, source_a: str, source_b: str,
                          *, source_col: str = "source",
                          text_col: str = "text",
                          round_to: int = 6) -> DataFrame:
    """Jensen-Shannon divergence (base-2, in [0, 1]) between the
    unigram distributions of two sources: JS = 0.5 KL(P||M) +
    0.5 KL(Q||M) with M = (P+Q)/2 — the symmetric, always-finite
    counterpart of the KL divergence (KL explodes when Q misses a
    token P has; JS's mixture denominator never vanishes where p or q
    is positive, so disjoint vocabularies are handled exactly, scoring
    the theoretical maximum 1).

    Scale shape: two token-count aggregations + one FULL OUTER join on
    token (vocabulary-sized, not corpus-sized) + one scalar agg.
    Returns one row (n_tokens_a, n_tokens_b, vocab_union,
    js_divergence)."""
    ta = (docs.filter(F.col(source_col) == source_a)
          .select(F.explode(tokens(F.col(text_col))).alias("_ta"))
          .groupBy("_ta").agg(F.count(F.lit(1)).alias("_ca")))
    tb = (docs.filter(F.col(source_col) == source_b)
          .select(F.explode(tokens(F.col(text_col))).alias("_tb"))
          .groupBy("_tb").agg(F.count(F.lit(1)).alias("_cb")))
    na = ta.agg(F.sum("_ca").alias("_na"))
    nb = tb.agg(F.sum("_cb").alias("_nb"))
    j = (ta.join(tb, ta["_ta"] == tb["_tb"], "full_outer")
         .select(F.coalesce(F.col("_ca"), F.lit(0)).alias("_ca"),
                 F.coalesce(F.col("_cb"), F.lit(0)).alias("_cb"))
         .crossJoin(F.broadcast(na)).crossJoin(F.broadcast(nb)))
    p = F.col("_ca") / F.col("_na").cast("double")
    q = F.col("_cb") / F.col("_nb").cast("double")
    m = (p + q) / 2
    term = (F.when(F.col("_ca") > 0, 0.5 * p * F.log2(p / m))
            .otherwise(F.lit(0.0))
            + F.when(F.col("_cb") > 0, 0.5 * q * F.log2(q / m))
            .otherwise(F.lit(0.0)))
    return (j.agg(F.max("_na").cast("bigint").alias("n_tokens_a"),
                  F.max("_nb").cast("bigint").alias("n_tokens_b"),
                  F.count(F.lit(1)).alias("vocab_union"),
                  F.round(F.sum(term), round_to).alias("js_divergence")))


def source_tfidf_cosine(docs, source_col: str = "source",
                        text_col: str = "text", *,
                        bigrams: bool = False,
                        round_to: int = 6):
    """Pairwise cosine similarity of source-level tf-idf vectors —
    the vector-space companion of the divergence family (KL, and
    ``js_divergence_sources``): each source becomes
    one tf-idf vector over the shared vocabulary (idf = ln(S / df_t)
    at source granularity, so universal terms vanish) and every
    unordered source pair gets dot/(|a||b|). ``bigrams=True`` uses
    word-bigram features — the right choice when the unigram
    vocabulary is small enough to saturate every source (idf would
    zero it out).

    Scale shape: token counts collapse to one row per (source, term)
    with map-side combine; the pair join fans out O(df_t^2) per term
    over S sources — S is small by definition (corpus mixture
    components), so the pair count stays bounded.
    Returns (src_a, src_b, n_common_terms, cosine)."""
    from pyspark.sql import functions as F

    arr = F.split(F.trim(F.lower(F.col(text_col))), r"\s+")
    if bigrams:
        base = (docs.select(F.col(source_col).alias("_s"),
                            arr.alias("_a"))
                .filter(F.size("_a") >= 2)
                .select("_s", F.explode(F.expr(
                    "transform(sequence(1, size(_a) - 1),"
                    " i -> concat(element_at(_a, i), ' ',"
                    " element_at(_a, i + 1)))")).alias("_t")))
    else:
        base = (docs.select(F.col(source_col).alias("_s"),
                            F.explode(arr).alias("_t"))
                .filter(F.col("_t") != ""))
    tok = base.groupBy("_s", "_t").agg(F.count(F.lit(1)).alias("_tf"))
    ns = tok.select("_s").distinct().count()
    dfs = tok.groupBy("_t").agg(F.count(F.lit(1)).alias("_df"))
    w = (tok.join(dfs, "_t")
         .select("_s", "_t",
                 (F.col("_tf") * F.log(F.lit(float(ns)) / F.col("_df")))
                 .alias("_w")))
    norms = w.groupBy("_s").agg(
        F.sqrt(F.sum(F.col("_w") * F.col("_w"))).alias("_n"))
    dots = (w.select(F.col("_s").alias("_sa"), "_t",
                     F.col("_w").alias("_wa"))
            .join(w.select(F.col("_s").alias("_sb"), "_t",
                           F.col("_w").alias("_wb")), "_t")
            .filter(F.col("_sa") < F.col("_sb"))
            .groupBy("_sa", "_sb")
            .agg(F.count(F.lit(1)).cast("bigint")
                 .alias("n_common_terms"),
                 F.sum(F.col("_wa") * F.col("_wb")).alias("_dot")))
    return (dots
            .join(norms.withColumnRenamed("_s", "_sa")
                  .withColumnRenamed("_n", "_na"), "_sa")
            .join(norms.withColumnRenamed("_s", "_sb")
                  .withColumnRenamed("_n", "_nb"), "_sb")
            .select(F.col("_sa").alias("src_a"),
                    F.col("_sb").alias("src_b"), "n_common_terms",
                    F.round(F.col("_dot")
                            / F.nullif(F.col("_na") * F.col("_nb"),
                                       F.lit(0.0)), round_to)
                    .alias("cosine"))
            .orderBy("src_a", "src_b"))
