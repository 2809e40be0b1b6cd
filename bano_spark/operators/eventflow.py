"""Event-flow analytics: SCD2 intervals, CDC apply, funnels, cohorts.

The warehouse-staple operator family over an event stream — the
engine's events table is the stand-in for any keyed, timestamped
changelog (page recrawls, label updates, user activity).

Scale shape: every operator here is windows-partitioned-by-key plus
aggregations — one shuffle on the entity key, all windows parallel
across keys, no global ordering anywhere. Funnel stages chain
key-equi-joins whose right sides shrink monotonically (stage N+1
users ⊆ stage N users), so AQE turns the tail joins into broadcasts.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F


def scd2_intervals(events: DataFrame, *, key: str, ts: str,
                   attr: str, tiebreak: str) -> DataFrame:
    """Type-2 slowly-changing-dimension build: collapse an event
    stream into validity intervals of `attr` per `key` — one row per
    VALUE CHANGE with [valid_from, valid_to) half-open bounds
    (valid_to null on the current row). Consecutive duplicate values
    merge into one interval — including NULL values: change detection
    is null-safe (eqNullSafe with an explicit first-row marker), so a
    NULL attribute opens its own interval and consecutive NULLs merge
    like any other repeated value. `tiebreak` must make (ts, tiebreak)
    unique per key."""
    w = Window.partitionBy(key).orderBy(F.asc(ts), F.asc(tiebreak))
    changed = (events
               .withColumn("_prev", F.lag(attr).over(w))
               .withColumn("_rn", F.row_number().over(w))
               .filter((F.col("_rn") == 1)
                       | ~F.col("_prev").eqNullSafe(F.col(attr))))
    w2 = Window.partitionBy(key).orderBy(F.asc(ts), F.asc(tiebreak))
    return (changed
            .withColumn("valid_from", F.col(ts))
            .withColumn("valid_to", F.lead(ts).over(w2))
            .select(key, attr, "valid_from", "valid_to"))


def cdc_apply(changes: DataFrame, *, key: str, ts: str, tiebreak: str,
              op_col: str, value_cols: list[str],
              delete_op: str = "D") -> DataFrame:
    """Apply a CDC changelog: for each key keep the LATEST change by
    (ts, tiebreak); keys whose latest op is `delete_op` vanish from
    the result. Output: one row per surviving key with its latest
    values — the materialized table state."""
    w = Window.partitionBy(key).orderBy(F.desc(ts), F.desc(tiebreak))
    latest = (changes.withColumn("_rn", F.row_number().over(w))
              .filter(F.col("_rn") == 1)
              .filter(F.col(op_col) != delete_op))
    return latest.select(key, ts, *value_cols)


def funnel_stages(events: DataFrame, steps: list[Column | str], *,
                  key: str, ts: str) -> DataFrame:
    """Strict-order funnel: per key, the earliest time of step 1, then
    the earliest step-2 event AT OR AFTER it, and so on. Returns one
    row per key that completed step 1, with t1..tN (null once the
    funnel breaks). `steps` are boolean filter expressions (or event
    type names matched against `event_type`)."""
    conds = [F.col("event_type") == s if isinstance(s, str) else s
             for s in steps]
    cur = (events.filter(conds[0]).groupBy(key)
           .agg(F.min(ts).alias("t1")))
    for n, cond in enumerate(conds[1:], start=2):
        step = events.filter(cond).select(key, F.col(ts).alias("_ts"))
        # one LEFT join + conditional min: keys with no qualifying
        # step-N event keep a null tN (funnel broken) without a
        # second anti-join pass. The step side shrinks every stage.
        cur = (cur.join(step, key, "left")
               .groupBy(key, *[f"t{i}" for i in range(1, n)])
               .agg(F.min(F.when(F.col("_ts") >= F.col(f"t{n-1}"),
                                 F.col("_ts"))).alias(f"t{n}")))
    return cur


def retention_cohorts(events: DataFrame, *, key: str, ts: str,
                      period: str = "week") -> DataFrame:
    """Cohort retention: cohort = the key's first active period;
    output (cohort, period_offset, n_active) — how many of each
    cohort's keys were active N periods later. Two aggregations and a
    broadcast-joined cohort map; offsets derive from day arithmetic
    (both truncations are period-aligned, so the division is exact)."""
    if period not in ("week", "day"):
        raise ValueError(
            f"retention_cohorts: period={period!r} unsupported — offsets "
            "derive from fixed-length day arithmetic, which only weeks "
            "and days admit (months vary in length)")
    per = F.date_trunc(period, F.col(ts)).cast("date")
    active = events.select(F.col(key), per.alias("_p")).distinct()
    cohort = active.groupBy(key).agg(F.min("_p").alias("_cohort"))
    days = 7 if period == "week" else 1
    return (active.join(cohort, key)
            .select("_cohort",
                    (F.datediff(F.col("_p"), F.col("_cohort")) / days)
                    .cast("int").alias("period_offset"), key)
            .groupBy("_cohort", "period_offset")
            .agg(F.countDistinct(key).cast("bigint").alias("n_active"))
            .withColumnRenamed("_cohort", "cohort"))


def transition_counts(events: DataFrame, *, key: str, ts: str,
                      attr: str, tiebreak: str) -> DataFrame:
    """First-order transition matrix of `attr` along each key's
    timeline: (from_value, to_value, n) over consecutive event pairs.
    One per-key window — the Markov-chain summary behind session-flow
    and crawl-path analyses."""
    w = Window.partitionBy(key).orderBy(F.asc(ts), F.asc(tiebreak))
    return (events
            .withColumn("_nxt", F.lead(attr).over(w))
            .filter(F.col("_nxt").isNotNull())
            .groupBy(F.col(attr).alias("from_value"),
                     F.col("_nxt").alias("to_value"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n")))


def attribution_touches(events: DataFrame, conversion_type: str,
                        lookback_s: int, *, user_col: str = "user_id",
                        ts_col: str = "ts",
                        type_col: str = "event_type") -> DataFrame:
    """First-touch and last-touch attribution: for every conversion
    event, the earliest and latest OTHER event of the same user
    inside the lookback window (ts - lookback_s, ts) — the marketing-
    attribution primitive next to event_funnel (which counts ordered
    stage completion, not credit assignment). Deterministic: touch
    identity is the lexicographic (epoch, event_id) struct min/max
    over a RANGE window, so simultaneous touches break ties by id.

    Scale shape: one RANGE window per user over the epoch — no self
    join; the rollup is one groupBy (model, touch type).
    Returns (model, touch_type, n_conversions)."""
    from pyspark.sql import Window

    t = F.col(ts_col).cast("timestamp_ntz")
    epoch = (F.datediff(F.to_date(t), F.lit("1970-01-01")).cast("long")
             * 86400 + F.hour(t) * 3600 + F.minute(t) * 60 + F.second(t))
    e = events.select(user_col, F.col(type_col).alias("_ty"),
                      F.col("event_id"), epoch.alias("_ep"))
    w = (Window.partitionBy(user_col).orderBy("_ep")
         .rangeBetween(-int(lookback_s), -1))
    tagged = (e.withColumn("_first", F.min(
        F.struct(F.col("_ep"), F.col("event_id"), F.col("_ty"))).over(w))
        .withColumn("_last", F.max(
            F.struct(F.col("_ep"), F.col("event_id"), F.col("_ty")))
            .over(w))
        .filter((F.col("_ty") == conversion_type)
                & F.col("_first").isNotNull()))
    ft = (tagged.groupBy(F.col("_first._ty").alias("touch_type"))
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_conversions"))
          .withColumn("model", F.lit("first_touch")))
    lt = (tagged.groupBy(F.col("_last._ty").alias("touch_type"))
          .agg(F.count(F.lit(1)).cast("bigint").alias("n_conversions"))
          .withColumn("model", F.lit("last_touch")))
    return ft.unionByName(lt).select("model", "touch_type",
                                     "n_conversions")


def sequence_patterns(events: DataFrame, gap_s: int, min_support: int, *,
                      user_col: str = "user_id", ts_col: str = "ts",
                      type_col: str = "event_type",
                      round_to: int = 6) -> DataFrame:
    """Length-2 sequential pattern mining (the SPAM/PrefixSpan L2
    step): ordered pairs (A then B, strictly later, within ``gap_s``
    seconds) SUPPORTED by at least ``min_support`` distinct users —
    discovered patterns, where event_funnel counts a stage list the
    caller specifies. Support = distinct users exhibiting the
    pattern at least once.

    Scale shape: the per-user candidate join is bounded by the gap
    window (a RANGE self-pair via time buckets would bound it harder;
    per-user event counts are small in clickstream data — disclosed);
    support pruning happens on single types FIRST (Apriori
    discipline), so rare types never enter the pair join. Returns
    (type_a, type_b, support, share)."""
    t = F.col(ts_col).cast("timestamp_ntz")
    epoch = (F.datediff(F.to_date(t), F.lit("1970-01-01")).cast("long")
             * 86400 + F.hour(t) * 3600 + F.minute(t) * 60 + F.second(t))
    e = events.select(F.col(user_col).alias("_u"),
                      F.col(type_col).alias("_ty"),
                      epoch.alias("_ep"))
    n_users = e.select("_u").distinct().count()
    # Apriori prune on single types
    l1 = (e.select("_u", "_ty").distinct()
          .groupBy("_ty").agg(F.count(F.lit(1)).alias("_c"))
          .filter(F.col("_c") >= min_support).select("_ty"))
    fe = e.join(F.broadcast(l1), "_ty")
    a = fe.select("_u", F.col("_ty").alias("type_a"),
                  F.col("_ep").alias("_ea"))
    b = fe.select("_u", F.col("_ty").alias("type_b"),
                  F.col("_ep").alias("_eb"))
    pairs = (a.join(b, "_u")
             .filter((F.col("_eb") > F.col("_ea"))
                     & (F.col("_eb") - F.col("_ea") <= gap_s))
             .select("_u", "type_a", "type_b").distinct())
    return (pairs.groupBy("type_a", "type_b")
            .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
            .filter(F.col("support") >= min_support)
            .withColumn("share", F.round(
                F.col("support") / F.lit(float(n_users)), round_to)))


def markov_next_accuracy(events, *, user_col: str = "user_id",
                         order_cols: list | None = None,
                         state_col: str = "event_type",
                         round_to: int = 6):
    """In-sample top-1 accuracy of the first-order Markov next-event
    predictor: train P(next | current) on the transition counts,
    predict argmax (ties to the lexicographically smallest next
    state), and score against the same transitions — the standard
    sanity baseline before sequence models. Returns one row per
    current state (state, n_transitions, predicted_next, accuracy)
    plus the implied weighted overall accuracy is sum(n*acc)/sum(n).

    Scale shape: one lag window per user (the sessionization
    exchange), one groupBy on (cur, next), an argmax fold via
    min(struct(-count, next)), one join back. Integer counts + one
    division — exact cross-engine parity."""
    from pyspark.sql import Window, functions as F

    order_cols = order_cols or ["ts", "event_id"]
    w = Window.partitionBy(user_col).orderBy(*order_cols)
    pairs = (events
             .withColumn("_nxt", F.lead(state_col).over(w))
             .filter(F.col("_nxt").isNotNull())
             .select(F.col(state_col).alias("_cur"), "_nxt"))
    trans = pairs.groupBy("_cur", "_nxt").agg(
        F.count(F.lit(1)).alias("_c"))
    pred = (trans.groupBy("_cur")
            .agg(F.min(F.struct((-F.col("_c")).alias("nc"),
                                F.col("_nxt").alias("nx"))).alias("_b"))
            .select("_cur", F.col("_b.nx").alias("predicted_next")))
    return (trans.join(pred, "_cur")
            .groupBy("_cur")
            .agg(F.sum("_c").cast("bigint").alias("n_transitions"),
                 F.max("predicted_next").alias("predicted_next"),
                 F.round(F.sum(F.when(F.col("_nxt")
                                      == F.col("predicted_next"),
                                      F.col("_c")).otherwise(0))
                         / F.sum("_c"), round_to).alias("accuracy"))
            .withColumnRenamed("_cur", state_col)
            .orderBy(state_col))


def lz78_complexity(events: DataFrame, *, key_col: str = "user_id",
                    order_cols: list[str] | None = None,
                    symbol_col: str = "event_type") -> DataFrame:
    """LZ78 phrase complexity of each key's ordered symbol stream
    (Ziv & Lempel 1978): greedily parse the stream into the shortest
    phrases never seen before (current phrase extends while
    dictionary-known, emits + resets on the first novel extension);
    the phrase count is the classic compressibility measure —
    repetitive behavior parses into few long phrases, high-entropy
    behavior into ~n/log n short ones. A trailing unfinished phrase
    counts as one (the usual convention; documented so the oracle
    matches exactly). Pure integer/string computation — exact parity.

    Scale shape: one collect_list per key (bounded by per-key stream
    length, the same contract as every session fold here), then one
    JVM-side aggregate() fold; dictionary lookup is array_contains
    over phrases of the SAME key only. No Python, no window."""
    order_cols = order_cols or ["ts", "event_id"]
    row = F.struct(*[F.col(c) for c in order_cols],
                   F.col(symbol_col).alias("sym"))
    per = (events.groupBy(F.col(key_col).alias("k"))
           .agg(F.array_sort(F.collect_list(row)).alias("rows"))
           .withColumn("syms", F.col("rows").getField("sym"))
           .drop("rows"))
    fold = F.expr("""
        aggregate(
          syms,
          named_struct('phr', CAST(array() AS ARRAY<STRING>),
                       'cur', CAST('' AS STRING), 'cnt', 0),
          (s, x) -> named_struct(
            'phr', IF(array_contains(s.phr,
                        IF(s.cur = '', x, concat(s.cur, '|', x))),
                      s.phr,
                      concat(s.phr,
                        array(IF(s.cur = '', x,
                                 concat(s.cur, '|', x))))),
            'cur', IF(array_contains(s.phr,
                        IF(s.cur = '', x, concat(s.cur, '|', x))),
                      IF(s.cur = '', x, concat(s.cur, '|', x)),
                      ''),
            'cnt', IF(array_contains(s.phr,
                        IF(s.cur = '', x, concat(s.cur, '|', x))),
                      s.cnt, s.cnt + 1)),
          s -> named_struct(
            'n_phrases', s.cnt + IF(s.cur = '', 0, 1),
            'dict_size', size(s.phr)))
    """)
    return (per.select(F.col("k").alias(key_col),
                       F.size("syms").cast("bigint").alias("n_events"),
                       fold.alias("z"))
            .select(key_col, "n_events",
                    F.col("z.n_phrases").cast("bigint")
                    .alias("n_phrases"),
                    F.col("z.dict_size").cast("bigint")
                    .alias("dict_size"))
            .orderBy(key_col))


def _epoch_micro(ts_col: str) -> "Column":
    t = F.col(ts_col).cast("timestamp_ntz")
    sec = (F.datediff(F.to_date(t), F.lit("1970-01-01")).cast("long")
           * 86400 + F.hour(t) * 3600 + F.minute(t) * 60 + F.second(t))
    return sec * 1000000 + F.col("event_id") % 1000000


def shapley_attribution(events: DataFrame, channels: list[str],
                        conversion_type: str, lookback_s: int, *,
                        user_col: str = "user_id",
                        ts_col: str = "ts",
                        type_col: str = "event_type") -> DataFrame:
    """EXACT Shapley-value multi-touch attribution over channel
    coalitions (Shapley 1953; the marketing formulation of Dalessandro
    et al. 2012): each conversion contributes its SET of touched
    channels (within the lookback window); the coalition value v(S) =
    number of conversions whose touch-set is contained in S; channel
    i's credit is phi_i = sum_{S not containing i} w_{|S|}
    (v(S+i) - v(S)) with w_s = s!(n-1-s)!/n!.

    With n = len(channels) the whole computation collapses to integer
    arithmetic on the 2^n mask-count table: phi_i = num_i / n!, where
    num_i is an integer — bit-identical everywhere; the division
    happens once at the end.  Returns (channel, shapley_num,
    shapley_credit, n_conversions) with sum(credit) = v(full) by the
    efficiency axiom.

    Scale shape: one window pass tags every conversion with its n-bit
    touch mask (n conditional aggs over the SAME range frame); a hash
    aggregate reduces 10^12 conversions to <= 2^n mask counts; the
    subset/Shapley algebra then runs on 2^n-row relations (joins over
    bitmask containment) — constant-size, broadcast-everything."""
    from pyspark.sql import Window

    n = len(channels)
    assert n <= 8
    fact = [1] * (n + 1)
    for i in range(1, n + 1):
        fact[i] = fact[i - 1] * i
    # integer coefficients n! * w_s for s = |S|
    coef = [fact[s] * fact[n - 1 - s] for s in range(n)]

    ep = _epoch_micro(ts_col)
    e = events.select(user_col, F.col(type_col).alias("_ty"),
                      ep.alias("_ep"))
    w = (Window.partitionBy(user_col).orderBy("_ep")
         .rangeBetween(-int(lookback_s) * 1000000, -1))
    bits = [F.coalesce(
        F.max(F.when(F.col("_ty") == c, 1).otherwise(0)).over(w),
        F.lit(0)) * (1 << i) for i, c in enumerate(channels)]
    conv = (e.withColumn("_mask", sum(bits))
            .filter(F.col("_ty") == conversion_type))
    cm = (conv.groupBy(F.col("_mask").cast("int").alias("m"))
          .agg(F.count("*").cast("bigint").alias("c")))
    full = (1 << n) - 1
    subsets = events.sparkSession.range(full + 1) \
        .select(F.col("id").cast("int").alias("s"))
    v = (subsets.join(F.broadcast(cm),
                      (F.col("m").bitwiseAND(F.col("s")) == F.col("m")),
                      "left")
         .groupBy("s").agg(F.coalesce(F.sum("c"), F.lit(0))
                           .cast("bigint").alias("v")))
    chan = events.sparkSession.createDataFrame(
        [(i, c) for i, c in enumerate(channels)], "i int, channel string")
    pairs = (chan.crossJoin(v.select(F.col("s"), F.col("v")))
             .filter(F.expr("(shiftleft(1, i) & s) = 0")))
    vs1 = v.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    coef_expr = F.element_at(
        F.array(*[F.lit(c) for c in coef]), F.bit_count("s") + 1)
    numdf = (pairs.join(
        F.broadcast(vs1),
        F.col("s1") == F.col("s") + F.expr("shiftleft(1, i)"))
        .groupBy("i", "channel")
        .agg(F.sum(coef_expr * (F.col("v1") - F.col("v")))
             .cast("bigint").alias("shapley_num")))
    nconv = conv.agg(F.count("*").cast("bigint").alias("n_conversions"))
    return (numdf.crossJoin(F.broadcast(nconv))
            .select("channel", "shapley_num",
                    (F.round(F.col("shapley_num")
                             / F.lit(float(fact[n])), 6) + F.lit(0.0))
                    .alias("shapley_credit"), "n_conversions")
            .orderBy("channel"))


def position_attribution(events: DataFrame, channels: list[str],
                         conversion_type: str, lookback_s: int, *,
                         user_col: str = "user_id",
                         ts_col: str = "ts",
                         type_col: str = "event_type") -> DataFrame:
    """U-shaped (position-based 40/20/40) attribution with a
    DETERMINISTIC float reduction: per-touch weights are w = 1 (single
    touch), 0.5/0.5 (two touches), else 0.4 first / 0.4 last /
    0.2/(k-2) per middle.  Credits are first reduced to the EXACT
    integer count table (channel, k, pos_class, n) and only then
    folded — in sorted (k, pos_class) order — into a per-channel
    double, so the addition order is fixed on any topology/engine.

    Scale shape: conversions x touches is a per-user range join
    (bounded by the lookback window, never corpus-sized), one window
    ranks touches within each conversion, one hash aggregate produces
    the bounded count table, and the final fold runs over a
    collect_list bounded by distinct (k, pos_class) — O(window size).
    Returns (channel, n_touches, credit)."""
    from pyspark.sql import Window

    ep = _epoch_micro(ts_col)
    e = events.select(user_col, F.col(type_col).alias("_ty"),
                      ep.alias("_ep"))
    conv = (e.filter(F.col("_ty") == conversion_type)
            .select(F.col(user_col).alias("_u"),
                    F.col("_ep").alias("_tc")))
    touch = (e.filter(F.col("_ty").isin(channels))
             .select(F.col(user_col).alias("_u"),
                     F.col("_ty").alias("channel"),
                     F.col("_ep").alias("_tt")))
    j = conv.join(touch, "_u").filter(
        (F.col("_tt") < F.col("_tc"))
        & (F.col("_tt") >= F.col("_tc") - lookback_s * 1000000))
    w = Window.partitionBy("_u", "_tc").orderBy("_tt")
    ranked = (j.withColumn("rn", F.row_number().over(w))
              .withColumn("k", F.count("*").over(
                  Window.partitionBy("_u", "_tc"))))
    pos = (F.when(F.col("k") == 1, F.lit("only"))
           .when(F.col("rn") == 1, F.lit("first"))
           .when(F.col("rn") == F.col("k"), F.lit("last"))
           .otherwise(F.lit("middle")))
    counts = (ranked.groupBy("channel", F.col("k").cast("bigint")
                             .alias("k"), pos.alias("pc"))
              .agg(F.count("*").cast("bigint").alias("n")))
    per = (counts.groupBy("channel")
           .agg(F.sum("n").cast("bigint").alias("n_touches"),
                F.array_sort(F.collect_list(
                    F.struct("k", "pc", "n"))).alias("xs")))
    # CAST every literal: a bare 0.2 in Spark SQL is DECIMAL, and
    # decimal division would round differently from the oracle's
    # double division.
    credit = F.expr("""
        aggregate(xs, CAST(0.0 AS DOUBLE),
          (acc, r) -> acc + r.n * CASE
            WHEN r.pc = 'only' THEN CAST(1.0 AS DOUBLE)
            WHEN r.pc IN ('first', 'last')
              THEN IF(r.k = 2, CAST(0.5 AS DOUBLE),
                      CAST(0.4 AS DOUBLE))
            ELSE CAST(0.2 AS DOUBLE) / (r.k - 2) END,
          acc -> acc)
    """)
    return (per.select("channel", "n_touches",
                       (F.round(credit, 6) + F.lit(0.0)).alias("credit"))
            .orderBy("channel"))
