"""Temporal joins Spark lacks as built-ins: as-of (most recent match
at-or-before) and interval overlap, both expressed as shuffle-bounded
compositions of DataFrame ops — never an inequality nested-loop join.

The reference pipeline is batch-snapshot (its "latest state" logic is
the import-then-diff loop, bano/cron_osm.sh); these generalize that
temporal semantics to event streams, and they are the standard
training-data operators for attaching slowly-changing metadata (crawl
snapshots, robots.txt versions, per-host quality scores) to page
events at scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    *,
    key: str,
    ts: str = "ts",
    value_cols: list[str] | None = None,
    tolerance_sec: float | None = None,
) -> DataFrame:
    """LEFT as-of join: each left row picks up ``value_cols`` from the
    most recent right row with the same ``key`` and right.ts <= left.ts
    (DuckDB/Pandas ``ASOF JOIN`` semantics, ties matching). Left rows
    with no prior right row keep nulls; ``tolerance_sec`` additionally
    nulls matches older than the window.

    Plan: tag both sides, UNION on (key, ts, side), and run ONE
    per-key window with ``last(value, ignorenulls=True)`` ordered by
    (ts, side) — right rows sort before left rows at equal ts, so an
    exact-tie right row is visible to the left row. This is a single
    shuffle on the key (the union is shuffle-free), no inequality join
    anywhere, and the window never needs a global order — it scales
    exactly like any per-key aggregation, with the usual salting story
    for hot keys.

    The matched right timestamp is carried as ``matched_ts`` (needed
    for the tolerance filter; also the provenance a pipeline wants)."""
    value_cols = value_cols or [
        c for c in right.columns if c not in (key, ts)]
    lt = left.withColumn("_side", F.lit(1))
    for c in value_cols:
        lt = lt.withColumn(f"_v_{c}", F.lit(None).cast(
            right.schema[c].dataType))
    lt = lt.withColumn("_rts", F.lit(None).cast(right.schema[ts].dataType))
    rt = right.select(
        F.col(key), F.col(ts), F.lit(0).alias("_side"),
        *[F.col(c).alias(f"_v_{c}") for c in value_cols],
        F.col(ts).alias("_rts"))
    for c in left.columns:
        if c not in (key, ts):
            rt = rt.withColumn(c, F.lit(None).cast(left.schema[c].dataType))
    both = lt.unionByName(rt)
    w = (Window.partitionBy(key).orderBy(ts, "_side")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    filled = both.select(
        *left.columns, "_side",
        F.last("_rts", ignorenulls=True).over(w).alias("matched_ts"),
        *[F.last(f"_v_{c}", ignorenulls=True).over(w).alias(c)
          for c in value_cols])
    out = filled.filter(F.col("_side") == 1).drop("_side")
    if tolerance_sec is not None:
        stale = (F.unix_timestamp(F.col(ts))
                 - F.unix_timestamp(F.col("matched_ts"))
                 > F.lit(float(tolerance_sec)))
        out = out.select(
            *left.columns,
            F.when(stale, F.lit(None)).otherwise(F.col("matched_ts"))
            .alias("matched_ts"),
            *[F.when(stale, F.lit(None)).otherwise(F.col(c)).alias(c)
              for c in value_cols])
    return out


def interval_join(
    points: DataFrame,
    intervals: DataFrame,
    *,
    ts: str = "ts",
    begin: str = "begin",
    end: str = "end",
    bin_sec: int = 3600,
    broadcast_intervals: bool | None = None,
    broadcast_max_rows: int = 1_000_000,
) -> DataFrame:
    """INNER overlap join: every (point, interval) pair with
    begin <= point.ts < end (half-open, the SQL/window convention).

    Plan: each interval is exploded to the epoch-time bins it covers
    (``sequence`` of bin ids — pure codegen), points map to ONE bin,
    and the pair space becomes a bin equi-join with an exact refine —
    the same complete-candidate-then-refine shape as the spatial cell
    joins, with the same guarantees: never a cross product, cost
    O(intervals x bins-covered + points) through a hash join.
    Long intervals cost bins proportional to their length; pick
    ``bin_sec`` near the median interval length (a 100x-too-small bin
    multiplies the exploded side 100x; a 100x-too-big bin multiplies
    candidate pairs — both degrade linearly and loudly, never
    quadratically). Auto-broadcasts the exploded interval side below
    ``broadcast_max_rows``."""
    pb = points.withColumn(
        "_bin", F.floor(F.unix_timestamp(F.col(ts)) / F.lit(bin_sec))
        .cast("bigint"))
    ib = intervals.withColumn(
        "_bin", F.explode(F.sequence(
            F.floor(F.unix_timestamp(F.col(begin)) / F.lit(bin_sec))
            .cast("bigint"),
            # end is exclusive: a zero-length tail on a bin border
            # must not explode an extra empty bin
            F.floor((F.unix_timestamp(F.col(end)) - F.lit(1))
                    / F.lit(bin_sec)).cast("bigint"))))
    if broadcast_intervals is None:
        cap = broadcast_max_rows
        broadcast_intervals = (
            ib.select("_bin").limit(cap + 1).count() <= cap)
    if broadcast_intervals:
        ib = F.broadcast(ib)
    return (pb.join(ib, "_bin")
            .filter((F.col(begin) <= F.col(ts)) & (F.col(ts) < F.col(end)))
            .drop("_bin"))


def time_range_rolling(df, part_col: str, ts_col: str, value_col: str,
                       seconds: int = 3600):
    """Time-range rolling aggregates: count and mean of ``value_col``
    over [ts - seconds, ts] per partition key — the RANGE-frame window
    (``RANGE BETWEEN INTERVAL x PRECEDING AND CURRENT ROW``) Spark
    only exposes through rangeBetween on a numeric ordering. Epoch
    seconds keep the frame arithmetic exact and identical to SQL
    engines' interval frames (both bounds inclusive).

    Scale shape: the window partitions by ``part_col`` — at 10^12
    events the shuffle is one exchange on the partition key, every
    frame evaluation is a per-partition sliding pass; no
    single-partition exchange, no self-join blowup (the naive
    range-self-join materializes O(rows x window-density) pairs)."""
    from pyspark.sql import Window, functions as F

    # TIMESTAMP_NTZ has no direct long cast, and the NTZ->TZ hop's
    # session offset is NOT constant across a DST transition (ADVICE
    # r3) — so derive epoch from the wall-clock FIELDS instead: pure
    # timezone-free arithmetic, identical to a SQL engine's RANGE
    # INTERVAL frame over the naive timestamp under any session tz.
    t = F.col(ts_col).cast("timestamp_ntz")
    epoch = (F.datediff(F.to_date(t), F.lit("1970-01-01")).cast("long")
             * 86400 + F.hour(t) * 3600 + F.minute(t) * 60 + F.second(t))
    w = (Window.partitionBy(part_col)
         .orderBy(epoch)
         .rangeBetween(-seconds, 0))
    return (df
            .withColumn("n_in_window",
                        F.count(F.lit(1)).over(w).cast("bigint"))
            .withColumn("avg_in_window",
                        F.round(F.avg(F.col(value_col)).over(w), 6)))


def ewma_last(df: DataFrame, key_col: str, order_cols: list[str],
              val_col: str, alpha: float = 0.5) -> DataFrame:
    """Final exponentially-weighted moving average per key:
    s_1 = v_1, s_i = alpha*v_i + (1-alpha)*s_{i-1} over rows ordered by
    ``order_cols`` (which must be a total order within each key — pass
    a tiebreaker column). Returns (key, n_rows, ewma).

    The recursion is inherently sequential per key, so the engine runs
    it as ONE aggregate() fold over each key's value array — the
    line_interpolate_point discipline: a single groupBy shuffle, then
    pure map work where the row lives; no window, no pow() (whose
    last-ulp behavior differs across libm implementations — repeated
    multiplication by the literal alpha reproduces bit-for-bit in any
    engine with IEEE doubles, and a SQL oracle replays it with the
    same fold, e.g. DuckDB list_reduce).

    Memory note: the per-key array is the series length; for unbounded
    series at 10^12 scale, pre-aggregate to coarser ticks first (the
    rollup keeps EWMA semantics under any time-bucketing) — the same
    contract as collect_list-based session features.
    """
    if not 0.0 < alpha <= 1.0:
        raise ValueError("ewma_last: alpha outside (0, 1]")
    order_struct = F.struct(*[F.col(c) for c in order_cols],
                            F.col(val_col).alias("_v"))
    agged = (df.groupBy(key_col)
             .agg(F.array_sort(F.collect_list(order_struct)).alias("os")))
    a = repr(float(alpha))
    fold = (f"aggregate(slice(vs, 2, size(vs) - 1), vs[0], "
            f"(s, v) -> CAST({a} AS DOUBLE) * v "
            f"+ CAST(1.0 - {a} AS DOUBLE) * s)")
    return (agged
            .withColumn("vs", F.expr("transform(os, o -> CAST(o._v AS DOUBLE))"))
            .select(key_col, F.size("vs").cast("bigint").alias("n_rows"),
                    F.expr(fold).alias("ewma")))


def gap_fill(df: DataFrame, key_col: str, ts_col: str, value_col: str,
             grid: DataFrame) -> DataFrame:
    """Resample an irregular per-key series onto a supplied time grid
    with forward fill (last observation carried forward): the filled
    value at grid instant g is the latest observation with ts <= g.

    ``grid`` must have (key_col, grid ``ts_col`` rows). Implemented as
    the classic union trick — observations and grid markers interleave
    in one partitioned ordered window and `last(value, ignorenulls)`
    carries the observation forward — so the whole operator is a
    single per-key sort, no as-of join, no per-key loop. At equal
    timestamps the observation sorts before the marker (is_grid
    tiebreak), so an observation exactly on a grid instant is
    included. Keys with no prior observation fill NULL.
    """
    obs = df.select(F.col(key_col), F.col(ts_col),
                    F.col(value_col).alias("_v"), F.lit(0).alias("_g"))
    mark = grid.select(F.col(key_col), F.col(ts_col),
                       F.lit(None).cast(obs.schema["_v"].dataType).alias("_v"),
                       F.lit(1).alias("_g"))
    w = (Window.partitionBy(key_col).orderBy(ts_col, "_g")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (obs.unionByName(mark)
            .withColumn("filled", F.last("_v", ignorenulls=True).over(w))
            .filter(F.col("_g") == 1)
            .select(key_col, ts_col, "filled"))


def time_weighted_average(df: DataFrame, key_col: str, ts_col: str,
                          value_col: str,
                          order_cols: list[str] | None = None) -> DataFrame:
    """Per-key time-weighted average: each observation's value is held
    until the next observation, TWA = sum(v_i * dt_i) / sum(dt_i) over
    the intervals between consecutive observations (the last
    observation carries no weight — the standard left-Riemann TWA of
    a step series). One lead window + one groupBy; dt in seconds as
    an exact microsecond-integer ratio.
    """
    order_cols = order_cols or [ts_col]
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    # TIMESTAMP_NTZ columns cast through the session zone; the engine
    # pins spark.sql.session.timeZone=UTC (session.py), so the cast is
    # offset-free and dt differences are exact microsecond integers
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    stepped = df.select(
        F.col(key_col), F.col(value_col).alias("_v"),
        ((F.lead(us).over(w) - us) / F.lit(1e6)).alias("_dt"))
    return (stepped.filter(F.col("_dt").isNotNull())
            .groupBy(key_col)
            .agg((F.sum(F.col("_v") * F.col("_dt")) / F.sum("_dt"))
                 .alias("twa"),
                 F.sum("_dt").alias("span_sec")))


def cusum(df: DataFrame, key_col: str, value_col: str,
          order_cols: list[str], target: float, slack: float,
          threshold: float) -> DataFrame:
    """One-sided upper CUSUM per key: S_i = max(0, S_{i-1} + x_i -
    target - slack), alarm when S_i > threshold (Page 1954).

    The recursion is rewritten with the reflection identity
    S_i = cs_i - min(0, min_{j<=i} cs_j) where cs is the running sum
    of y_i = x_i - target - slack — two ordered window passes, no
    recursion, no per-key loop, exact for integer-valued series.
    Returns per key: max_cusum, first alarm position (row number, 1
    when the first point already alarms; NULL if never), n_alarms.
    """
    k = F.lit(target + slack)
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cs = F.sum(F.col(value_col) - k).over(run)
    s = (df.withColumn("_cs", cs)
         .withColumn("_s", F.col("_cs")
                     - F.least(F.lit(0.0), F.min("_cs").over(run)))
         .withColumn("_seq", F.row_number().over(w)))
    return (s.groupBy(key_col)
            .agg(F.max("_s").alias("max_cusum"),
                 F.min(F.when(F.col("_s") > threshold, F.col("_seq")))
                 .alias("first_alarm_seq"),
                 F.sum(F.when(F.col("_s") > threshold, 1).otherwise(0))
                 .alias("n_alarms")))


def theil_sen(df: DataFrame, key_col: str, x_col: str, y_col: str,
              out_col: str = "theil_sen_slope") -> DataFrame:
    """Per-key Theil-Sen estimator: the median of all pairwise slopes
    (y_j - y_i) / (x_j - x_i) over x_i < x_j — the robust slope with a
    29.3% breakdown point (Sen 1968), immune to the level shifts and
    outliers that drag OLS (the CUSUM fixture's +300 step is exactly
    such a contaminant). Median = exact interpolated percentile(0.5),
    matching DuckDB's quantile_cont.

    Scale shape: the pair generation is a per-key equi-join —
    O(n_k^2) rows per key, never across keys. That quadratic is the
    estimator's definition; the contract is bounded per-key series
    (sessions, days, devices). For unbounded keys the standard remedy
    is upstream per-key sampling or the repeated-median variant —
    callers pick the bound, this operator never hides it.
    """
    a = df.select(F.col(key_col), F.col(x_col).cast("double").alias("_x1"),
                  F.col(y_col).cast("double").alias("_y1"))
    b = df.select(F.col(key_col), F.col(x_col).cast("double").alias("_x2"),
                  F.col(y_col).cast("double").alias("_y2"))
    pairs = (a.join(b, key_col)
             .filter(F.col("_x1") < F.col("_x2"))
             .withColumn("_s", (F.col("_y2") - F.col("_y1"))
                         / (F.col("_x2") - F.col("_x1"))))
    return (pairs.groupBy(key_col)
            .agg(F.expr("percentile(_s, 0.5)").alias(out_col),
                 F.count(F.lit(1)).alias("n_pairs")))


def ols_slope(df: DataFrame, key_col: str, x_col: str, y_col: str,
              out_col: str = "ols_slope") -> DataFrame:
    """Per-key ordinary-least-squares slope from one pass of additive
    sufficient statistics (n, sum x, sum y, sum xy, sum x^2) — the
    non-robust twin theil_sen is compared against."""
    x = F.col(x_col).cast("double")
    y = F.col(y_col).cast("double")
    agg = df.groupBy(key_col).agg(
        F.count(F.lit(1)).cast("double").alias("_n"),
        F.sum(x).alias("_sx"), F.sum(y).alias("_sy"),
        F.sum(x * y).alias("_sxy"), F.sum(x * x).alias("_sxx"))
    return agg.select(
        F.col(key_col),
        ((F.col("_sxy") - F.col("_sx") * F.col("_sy") / F.col("_n"))
         / (F.col("_sxx") - F.col("_sx") * F.col("_sx") / F.col("_n")))
        .alias(out_col),
        F.col("_n").cast("bigint").alias("n_obs"))


def interarrival_burstiness(df: DataFrame, key_col: str, ts_col: str,
                            order_cols: list | None = None) -> DataFrame:
    """Per-key burstiness of the inter-arrival process (Goh &
    Barabasi 2008): B = (sigma - mu) / (sigma + mu) over the gaps
    between consecutive events — -1 perfectly regular, 0 Poisson,
    -> 1 extremely bursty. The session/crawl politeness planner's
    heavy-tail detector.

    One partitioned lag + one groupBy; variance from explicit
    sufficient statistics (sum, sum of squares) so the float
    expression is identical in any SQL engine (library var_pop
    implementations differ numerically). Keys with < 2 events drop
    (no gap exists)."""
    order_cols = order_cols or [F.col(ts_col)]
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    us = F.unix_micros(F.col(ts_col).cast("timestamp"))
    gaps = (df.withColumn("_dt", (us - F.lag(us).over(w)) / F.lit(1e6))
            .filter(F.col("_dt").isNotNull()))
    agg = gaps.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_gaps"),
        F.sum("_dt").alias("_s"),
        F.sum(F.col("_dt") * F.col("_dt")).alias("_s2"))
    n = F.col("n_gaps").cast("double")
    mu = F.col("_s") / n
    sigma = F.sqrt(F.col("_s2") / n - mu * mu)
    return agg.select(
        key_col, "n_gaps", mu.alias("mean_gap_sec"),
        sigma.alias("std_gap_sec"),
        F.when(sigma + mu > 0, (sigma - mu) / (sigma + mu))
        .otherwise(F.lit(0.0)).alias("burstiness"))


def holt_last(df: DataFrame, key_col: str, order_cols: list[str],
              val_col: str, alpha: float = 0.5,
              beta: float = 0.25) -> DataFrame:
    """Final Holt double-exponential state per key (level + trend +
    one-step-ahead forecast), the linear-trend upgrade of
    :func:`ewma_last`:

        l_t = a*y_t + (1-a)*(l_{t-1} + b_{t-1})
        b_t = B*(l_t - l_{t-1}) + (1-B)*b_{t-1}

    initialized l_2 = y_2, b_2 = y_2 - y_1 (the standard Holt start;
    a perfectly linear series is then tracked EXACTLY — level = y_t,
    trend = slope — for any alpha/beta). Keys with < 2 rows drop.
    Same execution discipline as ewma_last: ONE groupBy shuffle, then
    one aggregate() fold per key over its sorted value array with a
    STRUCT accumulator — no window, no pow(); literals are CAST once
    so both engines fold identical doubles (a SQL twin replays it
    with DuckDB list_reduce over a prepended init struct). Memory
    contract as ewma_last: per-key array is the series length;
    pre-bucket unbounded series first."""
    if not 0.0 < alpha <= 1.0 or not 0.0 <= beta <= 1.0:
        raise ValueError("holt_last: smoothing constants out of range")
    order_struct = F.struct(*[F.col(c) for c in order_cols],
                            F.col(val_col).alias("_v"))
    agged = (df.groupBy(key_col)
             .agg(F.array_sort(F.collect_list(order_struct)).alias("os"))
             .withColumn("vs", F.expr(
                 "transform(os, o -> CAST(o._v AS DOUBLE))"))
             .filter(F.size("vs") >= 2))
    a = repr(float(alpha))
    b = repr(float(beta))
    lnew = (f"(CAST({a} AS DOUBLE) * v "
            f"+ CAST(1.0 - {a} AS DOUBLE) * (s.l + s.b))")
    fold = (f"aggregate(slice(vs, 3, size(vs) - 2), "
            f"named_struct('l', CAST(vs[1] AS DOUBLE), "
            f"              'b', CAST(vs[1] - vs[0] AS DOUBLE)), "
            f"(s, v) -> named_struct("
            f"  'l', {lnew}, "
            f"  'b', CAST({b} AS DOUBLE) * ({lnew} - s.l) "
            f"     + CAST(1.0 - {b} AS DOUBLE) * s.b))")
    st = F.expr(fold)
    return (agged.select(
        key_col, F.size("vs").cast("bigint").alias("n_rows"),
        st.alias("_st"))
        .select(key_col, "n_rows",
                F.round(F.col("_st.l"), 6).alias("level"),
                F.round(F.col("_st.b"), 6).alias("trend"),
                F.round(F.col("_st.l") + F.col("_st.b"), 6)
                .alias("forecast")))


def seasonal_naive_mase(df: DataFrame, key_col: str, ts_col: str,
                        val_col: str, *, period: int = 24,
                        bucket_seconds: int = 3600,
                        round_to: int = 6) -> DataFrame:
    """Forecast-skill evaluation per key: bucket the series (epoch
    div ``bucket_seconds``, DST-free field arithmetic as
    time_range_rolling), then score the SEASONAL-NAIVE forecast
    (y_hat[t] = y[t - period], ROW lag over the observed bucket
    sequence) with MASE (Hyndman & Koehler 2006): numerator = MAE of
    the seasonal forecast, denominator = in-sample MAE of the naive
    one-step forecast. MASE < 1 means the seasonal pattern carries
    real signal — the triage statistic before fitting anything
    heavier.

    Scale shape: one hash aggregation into buckets + two ROW-lag
    windows partitioned by key — no self-join, no global exchange.
    Returns (key, n_buckets, mae_seasonal, mae_naive, mase)."""
    t = F.col(ts_col).cast("timestamp_ntz")
    epoch = (F.datediff(F.to_date(t), F.lit("1970-01-01")).cast("long")
             * 86400 + F.hour(t) * 3600 + F.minute(t) * 60 + F.second(t))
    hourly = (df.withColumn("_b", F.floor(epoch / bucket_seconds))
              .groupBy(key_col, "_b")
              .agg(F.sum(F.col(val_col).cast("double")).alias("_y")))
    w = Window.partitionBy(key_col).orderBy("_b")
    scored = (hourly
              .withColumn("_sn", F.lag("_y", period).over(w))
              .withColumn("_nv", F.lag("_y", 1).over(w)))
    out = (scored.groupBy(key_col)
           .agg(F.count(F.lit(1)).cast("bigint").alias("n_buckets"),
                F.avg(F.abs(F.col("_y") - F.col("_sn"))).alias("_ms"),
                F.avg(F.abs(F.col("_y") - F.col("_nv"))).alias("_mn")))
    return out.select(
        key_col, "n_buckets",
        F.round(F.col("_ms"), round_to).alias("mae_seasonal"),
        F.round(F.col("_mn"), round_to).alias("mae_naive"),
        F.round(F.col("_ms") / F.col("_mn"), round_to).alias("mase"))


def acf_profile(df: DataFrame, key_col: str, ts_col: str,
                val_col: str, *, max_lag: int = 6,
                bucket_seconds: int = 3600,
                round_to: int = 6) -> DataFrame:
    """Autocorrelation profile per key: the ACF at ROW lags 1..
    ``max_lag`` over the bucketed series (the periodicity detector
    generalizing lag-1 autocorrelation — a daily cycle shows as a
    peak at lag 24 on hourly buckets):

        r_k = sum (y_t - m)(y_{t-k} - m) / sum (y_t - m)^2

    with m the series mean. One bucket aggregation, one lag window
    per k (bounded, max_lag explodes structs — still one window
    pass), one per-key rollup. Returns (key, lag, n_pairs, acf)."""
    t = F.col(ts_col).cast("timestamp_ntz")
    epoch = (F.datediff(F.to_date(t), F.lit("1970-01-01")).cast("long")
             * 86400 + F.hour(t) * 3600 + F.minute(t) * 60 + F.second(t))
    hourly = (df.withColumn("_b", F.floor(epoch / bucket_seconds))
              .groupBy(key_col, "_b")
              .agg(F.sum(F.col(val_col).cast("double")).alias("_y")))
    mean = hourly.groupBy(key_col).agg(
        (F.sum("_y") / F.count(F.lit(1))).alias("_m"),
        F.sum(F.col("_y") * F.col("_y")).alias("_syy"),
        F.sum("_y").alias("_sy"),
        F.count(F.lit(1)).alias("_n"))
    w = Window.partitionBy(key_col).orderBy("_b")
    lagged = hourly
    for k in range(1, max_lag + 1):
        lagged = lagged.withColumn(f"_l{k}", F.lag("_y", k).over(w))
    dev = lagged.join(mean, key_col)
    outs = []
    for k in range(1, max_lag + 1):
        lk = F.col(f"_l{k}")
        outs.append(dev.filter(lk.isNotNull()).groupBy(key_col).agg(
            F.lit(k).alias("lag"),
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum((F.col("_y") - F.col("_m"))
                  * (lk - F.col("_m"))).alias("_num"),
            F.max(F.col("_syy") - F.col("_sy") * F.col("_sy")
                  / F.col("_n")).alias("_den")))
    acf = outs[0]
    for o in outs[1:]:
        acf = acf.unionByName(o)
    return acf.select(key_col, "lag", "n_pairs",
                      F.round(F.col("_num") / F.col("_den"),
                              round_to).alias("acf"))


def rolling_trend_slope(df: DataFrame, key_col: str, ts_col: str,
                        val_col: str, *, window: int = 24,
                        bucket_seconds: int = 3600,
                        round_to: int = 6) -> DataFrame:
    """Rolling OLS trend slope per key: over each trailing ``window``
    buckets (ROW frame on the observed bucket sequence), the least-
    squares slope of value against bucket index — the local-trend
    detector between EWMA (level) and Mann-Kendall (global monotony):

        slope = (n Σxy - Σx Σy) / (n Σx² - (Σx)²)

    computed from running-sum windows only (five windowed sums, no
    self-join); emitted where the frame holds >= 3 buckets. Returns
    (key, bucket, n_in_frame, slope)."""
    t = F.col(ts_col).cast("timestamp_ntz")
    epoch = (F.datediff(F.to_date(t), F.lit("1970-01-01")).cast("long")
             * 86400 + F.hour(t) * 3600 + F.minute(t) * 60 + F.second(t))
    hourly = (df.withColumn("_b", F.floor(epoch / bucket_seconds))
              .groupBy(key_col, "_b")
              .agg(F.sum(F.col(val_col).cast("double")).alias("_y")))
    # center x on the per-key min bucket: raw epoch-hour indices
    # (~5e5) would make n*Sxy - Sx*Sy cancel 10 orders of magnitude
    # and the engines' different window-sum trees (running fold vs
    # segment tree) would disagree past round-6
    minb = hourly.groupBy(key_col).agg(F.min("_b").alias("_b0"))
    hourly = hourly.join(minb, key_col)
    w = (Window.partitionBy(key_col).orderBy("_b")
         .rowsBetween(-(window - 1), 0))
    x = (F.col("_b") - F.col("_b0")).cast("double")
    n = F.count(F.lit(1)).over(w).cast("double")
    sx = F.sum(x).over(w)
    sy = F.sum("_y").over(w)
    sxx = F.sum(x * x).over(w)
    sxy = F.sum(x * F.col("_y")).over(w)
    out = (hourly
           .withColumn("_n", n).withColumn("_sx", sx)
           .withColumn("_sy", sy).withColumn("_sxx", sxx)
           .withColumn("_sxy", sxy)
           .filter(F.col("_n") >= 3))
    slope = ((F.col("_n") * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
             / (F.col("_n") * F.col("_sxx")
                - F.col("_sx") * F.col("_sx")))
    return out.select(key_col, F.col("_b").alias("bucket"),
                      F.col("_n").cast("bigint").alias("n_in_frame"),
                      F.round(slope, round_to).alias("slope"))


def croston_last(df: DataFrame, key_col: str, order_cols: list,
                 val_col: str, alpha: float = 0.3,
                 round_to: int = 6) -> DataFrame:
    """Final Croston state per key for INTERMITTENT demand series
    (Croston 1972): exponential smoothing applied separately to the
    nonzero demand sizes (z) and the inter-demand intervals (p),
    advancing ONLY on demand periods; forecast = z / p, the demand
    rate per period. Initialized at the first nonzero demand with
    z = that demand and p = its 1-based position. Keys with no demand
    drop.

    Execution discipline as holt_last: ONE groupBy shuffle, then one
    aggregate() fold per key over the sorted value array with a
    struct accumulator (Spark evaluates all struct fields against the
    OLD state; the DuckDB twin must hold the state as a LIST — the
    list_reduce struct trap). Memory contract: per-key array is the
    series length; pre-bucket unbounded series first."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError("croston_last: alpha out of range")
    order_struct = F.struct(*[F.col(c) for c in order_cols],
                            F.col(val_col).alias("_v"))
    agged = (df.groupBy(key_col)
             .agg(F.array_sort(F.collect_list(order_struct)).alias("os"))
             .withColumn("vs", F.expr(
                 "transform(os, o -> CAST(o._v AS DOUBLE))"))
             .withColumn("_k", F.expr(
                 "array_position(transform(vs, x -> x > 0), true)"))
             .filter(F.col("_k") > 0))
    a = repr(float(alpha))
    fold = (f"aggregate(slice(vs, CAST(_k + 1 AS INT), "
            f"                size(vs) - CAST(_k AS INT)), "
            f"named_struct('z', element_at(vs, CAST(_k AS INT)), "
            f"             'p', CAST(_k AS DOUBLE), "
            f"             'q', CAST(0 AS DOUBLE)), "
            f"(s, v) -> named_struct("
            f"  'z', IF(v > 0, CAST({a} AS DOUBLE) * v "
            f"            + CAST(1.0 - {a} AS DOUBLE) * s.z, s.z), "
            f"  'p', IF(v > 0, CAST({a} AS DOUBLE) * (s.q + 1) "
            f"            + CAST(1.0 - {a} AS DOUBLE) * s.p, s.p), "
            f"  'q', IF(v > 0, CAST(0 AS DOUBLE), s.q + 1)))")
    st = F.expr(fold)
    nz = F.expr("size(filter(vs, x -> x > 0))")
    return (agged.select(
        key_col, F.size("vs").cast("bigint").alias("n_periods"),
        nz.cast("bigint").alias("n_demands"), st.alias("_st"))
        .select(key_col, "n_periods", "n_demands",
                F.round(F.col("_st.z"), round_to).alias("demand_size"),
                F.round(F.col("_st.p"), round_to).alias("interval"),
                F.round(F.col("_st.z") / F.col("_st.p"), round_to)
                .alias("rate_forecast")))


def kaplan_meier(durations: DataFrame, *, dur_col: str = "duration",
                 observed_col: str = "observed",
                 round_to: int = 6) -> DataFrame:
    """Kaplan-Meier product-limit survival estimator (Kaplan & Meier
    1958) over right-censored durations: at each distinct observed
    event time t, S(t) = prod_{t_i <= t} (1 - d_i / n_i) with d_i the
    events and n_i the number still at risk — recrawl-interval
    survival with the still-unchanged pages entering as censored
    spells, the principled upgrade of naive change-rate averages
    (cf. recrawl_priority).

    Scale shape: the risk table is ONE groupBy on duration (distinct
    times, already bounded for bucketed durations) + an ordered
    window cumsum of integer counts; the running product folds over
    the collected risk table in ascending-time order — an O(distinct
    times) array on one executor, never the raw spell count. Every
    factor is a ratio of exact integers and the fold order is fixed,
    so S(t) is bit-stable. Returns
    (duration, n_risk, n_events, n_censored, survival) for event
    times only (the censored-only times thin the risk set but add no
    step, per the estimator)."""
    d = durations.select(
        F.col(dur_col).cast("double").alias("_t"),
        F.col(observed_col).cast("boolean").alias("_o"))
    total = d.agg(F.count(F.lit(1)).alias("_n"))
    rt = d.groupBy("_t").agg(
        F.sum(F.when(F.col("_o"), 1).otherwise(0)).alias("_d"),
        F.sum(F.when(~F.col("_o"), 1).otherwise(0)).alias("_c"))
    # the risk table is O(distinct times); ONE array fold computes the
    # at-risk cumsum AND the running product — no global window, no
    # single-partition exchange (explain-audit discipline)
    row = F.struct(F.col("_t"), F.col("_d"), F.col("_c"))
    folded = (rt.agg(F.array_sort(F.collect_list(row)).alias("a"))
              .crossJoin(F.broadcast(total))
              .select(F.expr(
                  "transform(a, (r, i) -> named_struct("
                  "  't', r._t, 'd', r._d, 'c', r._c,"
                  "  'nrisk', _n - aggregate(slice(a, 1, i), "
                  "       CAST(0 AS BIGINT), "
                  "       (acc, q) -> acc + q._d + q._c),"
                  "  's', aggregate(slice(a, 1, i + 1), "
                  "       CAST(1 AS DOUBLE), "
                  "       (acc, q) -> acc * (1 - CAST(q._d AS DOUBLE) "
                  "         / (_n - aggregate(slice(a, 1, "
                  "              array_position(transform(a, z -> z._t), "
                  "                             q._t) - 1), "
                  "              CAST(0 AS BIGINT), "
                  "              (a2, q2) -> a2 + q2._d + q2._c))))))")
                  .alias("rows")))
    out = folded.select(F.explode("rows").alias("r")).select(
        F.col("r.t").alias("duration"),
        F.col("r.nrisk").cast("bigint").alias("n_risk"),
        F.col("r.d").cast("bigint").alias("n_events"),
        F.col("r.c").cast("bigint").alias("n_censored"),
        F.round(F.col("r.s"), round_to).alias("survival"))
    return out.filter(F.col("n_events") > 0)


def seasonal_strength(df: DataFrame, key_col: str, ts_col: str,
                      value_col: str, *, round_to: int = 6) -> DataFrame:
    """Per-key seasonal strength on the hour-of-day cycle:
    1 - Var(value - seasonal_mean) / Var(value), clamped at 0 —
    the Wang/Hyndman feature-based decomposition score with the
    seasonal component estimated by hourly means. 1 = the hour
    explains everything; 0 = no hourly structure.

    Scale shape: the seasonal means are a partitioned window over
    (key, hour) — they never leave the exchange the per-key variance
    needs anyway; variances come from explicit sufficient statistics
    (sum / sum-of-squares), not library var_pop, so the float
    expression is engine-identical. Returns one row per key
    (key, n, seasonal_strength)."""
    v = F.col(value_col).cast("double")
    d = (df.select(F.col(key_col).alias("_k"), v.alias("_v"),
                   F.col(ts_col).alias("_ts"))
         .filter(F.col("_v").isNotNull())
         .withColumn("_s", F.avg("_v").over(
             Window.partitionBy("_k", F.hour(F.col("_ts"))))))
    r = F.col("_v") - F.col("_s")
    agg = d.groupBy("_k").agg(
        F.count(F.lit(1)).alias("_n"),
        F.sum("_v").alias("_sv"), F.sum(F.col("_v") * F.col("_v")).alias("_svv"),
        F.sum(r).alias("_sr"), F.sum(r * r).alias("_srr"))
    n = F.col("_n").cast("double")
    var_v = F.col("_svv") / n - (F.col("_sv") / n) * (F.col("_sv") / n)
    var_r = F.col("_srr") / n - (F.col("_sr") / n) * (F.col("_sr") / n)
    return agg.select(
        F.col("_k").alias(key_col),
        F.col("_n").cast("bigint").alias("n"),
        F.round(F.greatest(F.lit(0.0), 1 - var_r / var_v), round_to)
        .alias("seasonal_strength"))


def ar1_coefficient(df: DataFrame, key_col: str, order_cols: list,
                    value_col: str, *, round_to: int = 6) -> DataFrame:
    """Per-key lag-1 autoregressive coefficient: the OLS slope of
    x_t on x_{t-1} over the ``order_cols``-ordered series (include a
    unique tiebreak). phi ~ 0 white noise, -> 1 strong persistence,
    < 0 mean reversion — the stationarity screen before any
    smoothing/forecast operator (holt_last, croston) is trusted.

    Scale shape: one partitioned lag window + one groupBy of the five
    OLS sufficient statistics. Keys with < 2 observations drop.
    Returns (key, n_pairs, ar1_phi)."""
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    v = F.col(value_col).cast("double")
    pairs = (df.withColumn("_y", v).withColumn("_x", F.lag(v).over(w))
             .filter(F.col("_x").isNotNull() & F.col("_y").isNotNull()))
    agg = pairs.groupBy(key_col).agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum("_x").alias("_sx"), F.sum("_y").alias("_sy"),
        F.sum(F.col("_x") * F.col("_y")).alias("_sxy"),
        F.sum(F.col("_x") * F.col("_x")).alias("_sxx"))
    n = F.col("n_pairs").cast("double")
    phi = ((n * F.col("_sxy") - F.col("_sx") * F.col("_sy"))
           / (n * F.col("_sxx") - F.col("_sx") * F.col("_sx")))
    return agg.filter(F.col("n_pairs") >= 2).select(
        key_col, "n_pairs", F.round(phi, round_to).alias("ar1_phi"))


def variance_ratio(df: DataFrame, key_col: str, order_cols: list,
                   value_col: str, *, q: int = 4,
                   round_to: int = 6) -> DataFrame:
    """Per-key Lo-MacKinlay variance ratio VR(q) =
    Var(x_t - x_{t-q}) / (q * Var(x_t - x_{t-1})) over the ordered
    series (overlapping q-differences, population variances). VR ~ 1
    for a random walk, < 1 mean-reverting, > 1 trending.

    Scale shape: two partitioned lag windows sharing one exchange +
    one groupBy of explicit moments. Keys with < 2 q-spaced
    differences drop. Returns (key, n_1, n_q, vr)."""
    w = Window.partitionBy(key_col).orderBy(*order_cols)
    v = F.col(value_col).cast("double")
    d = (df.withColumn("_d1", v - F.lag(v, 1).over(w))
         .withColumn("_dq", v - F.lag(v, q).over(w)))
    agg = d.groupBy(key_col).agg(
        F.count("_d1").alias("n_1"),
        F.sum("_d1").alias("_s1"),
        F.sum(F.col("_d1") * F.col("_d1")).alias("_s11"),
        F.count("_dq").alias("n_q"),
        F.sum("_dq").alias("_sq"),
        F.sum(F.col("_dq") * F.col("_dq")).alias("_sqq"))
    n1 = F.col("n_1").cast("double")
    nq = F.col("n_q").cast("double")
    var1 = F.col("_s11") / n1 - (F.col("_s1") / n1) * (F.col("_s1") / n1)
    varq = F.col("_sqq") / nq - (F.col("_sq") / nq) * (F.col("_sq") / nq)
    return (agg.filter(F.col("n_q") >= 2)
            .select(key_col, "n_1", "n_q",
                    F.round(varq / (q * var1), round_to).alias("vr")))


def changepoint_split(df: DataFrame, key_col: str, t_col: str,
                      y_col: str, *, round_to: int = 6) -> DataFrame:
    """Single-changepoint detection per key — the first step of
    binary segmentation (Scott & Knott 1974): over the series y_t
    ordered by ``t_col`` (one row per distinct t — pre-aggregate
    upstream), choose the split that minimizes
    SSE(left) + SSE(right), with SSE from exact prefix sums
    (Q - S^2/W). Pass an exact-INTEGER y (cents-quantize floats
    upstream): prefix sums are then exact longs and every engine
    computes bit-identical split scores, so the argmin
    (min-over-struct, earliest t on ties) agrees across engines.

    Returns (key, split_t, n_left, n_right, sse_reduction) where
    split_t is the LAST point of the left segment and
    sse_reduction = 1 - SSE_best / SSE_total (NULL for a constant
    series). Scale shape: one partitioned window chain per key — no
    global exchange; O(n) candidate rows folded by min(struct)."""
    w = (Window.partitionBy("_k").orderBy("_t")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    base = df.select(F.col(key_col).alias("_k"), F.col(t_col).alias("_t"),
                     F.col(y_col).cast("long").alias("_y"))
    pre = (base
           .withColumn("_i", F.count(F.lit(1)).over(w))
           .withColumn("_S", F.sum("_y").over(w))
           .withColumn("_Q", F.sum(F.col("_y") * F.col("_y")).over(w)))
    tot = base.groupBy("_k").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("_y").alias("_St"),
        F.sum(F.col("_y") * F.col("_y")).alias("_Qt"))
    sse_l = F.col("_Q") - F.col("_S") * F.col("_S") / F.col("_i")
    sse_r = ((F.col("_Qt") - F.col("_Q"))
             - (F.col("_St") - F.col("_S"))
             * (F.col("_St") - F.col("_S"))
             / (F.col("_n") - F.col("_i")))
    cand = (pre.join(tot, "_k")
            .filter(F.col("_i") < F.col("_n"))
            .select("_k", (sse_l + sse_r).alias("_sse"), "_t", "_i"))
    best = (cand.groupBy("_k")
            .agg(F.min(F.struct(F.col("_sse").alias("s"),
                                F.col("_t").alias("t"),
                                F.col("_i").alias("i"))).alias("_b")))
    return (best.join(tot, "_k")
            .select(F.col("_k").alias(key_col),
                    F.col("_b.t").alias("split_t"),
                    F.col("_b.i").cast("bigint").alias("n_left"),
                    (F.col("_n") - F.col("_b.i")).cast("bigint")
                    .alias("n_right"),
                    F.round(F.lit(1.0) - F.col("_b.s")
                            / F.nullif(F.col("_Qt")
                                       - F.col("_St") * F.col("_St")
                                       / F.col("_n"), F.lit(0.0)),
                            round_to).alias("sse_reduction"))
            .orderBy(key_col))


def hurst_rs(df: DataFrame, group_col: str, order_cols: list[str],
             value_col: str, *, sizes: tuple = (8, 16, 32),
             round_to: int = 6) -> DataFrame:
    """Hurst exponent per group by classic rescaled-range analysis
    (Hurst 1951; Mandelbrot & Wallis 1969): for each window size w,
    split the ordered series into full blocks of w, compute each
    block's R/S = (max cumdev - min cumdev) / population sd, average
    over blocks, then H = OLS slope of ln(avg R/S) on ln(w). H ~ 0.5
    for iid noise, > 0.5 persistent (the level-shift fixture), < 0.5
    anti-persistent.

    Float parity: integer values make block sums/cumsums EXACT, so
    block mean, variance (ss/w - mean^2 — the one-pass form, chosen
    because a per-row (v-mean)^2 re-aggregation would reintroduce
    sum-order noise), every cumulative deviation, and R are
    bit-identical across engines; only the per-(group,size) block
    average and the final ln-slope accumulate 1-ulp noise (6 dp).

    Scale shape: rows explode x len(sizes); one (g,size,block)
    groupBy for moments, one same-key cumsum window, one
    (g,size,block) max/min groupBy, then O(groups x sizes) algebra.
    All shuffles share the (g,size,block) key family."""
    g = F.col(group_col).alias("g")
    v = F.col(value_col).cast("double")
    w = Window.partitionBy("g").orderBy(*order_cols)
    base = (df.select(g, v.alias("v"), *[F.col(c) for c in order_cols])
            .withColumn("i", F.row_number().over(w))
            .withColumn("size", F.explode(F.array(
                *[F.lit(int(s)) for s in sizes])))
            .withColumn("blk", F.expr("CAST((i - 1) div size AS INT)")))
    mom = (base.groupBy("g", "size", "blk").agg(
        F.count(F.lit(1)).alias("nb"),
        F.sum("v").alias("s"),
        F.sum(F.col("v") * F.col("v")).alias("ss"))
        .filter(F.col("nb") == F.col("size"))
        .withColumn("mean", F.col("s") / F.col("size").cast("double"))
        .withColumn("sd", F.sqrt(
            F.col("ss") / F.col("size").cast("double")
            - (F.col("s") / F.col("size").cast("double"))
            * (F.col("s") / F.col("size").cast("double")))))
    wc = (Window.partitionBy("g", "size", "blk").orderBy(*order_cols)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    cum = (base.withColumn("t", F.row_number().over(
        Window.partitionBy("g", "size", "blk").orderBy(*order_cols)))
        .withColumn("cs", F.sum("v").over(wc))
        .join(mom.select("g", "size", "blk", "mean", "sd"),
              ["g", "size", "blk"])
        .withColumn("z", F.col("cs") - F.col("t") * F.col("mean")))
    rs = (cum.groupBy("g", "size", "blk").agg(
        F.first("sd").alias("sd"),
        (F.max("z") - F.min("z")).alias("r"))
        .filter(F.col("sd") > 0)
        .withColumn("rs", F.col("r") / F.col("sd")))
    pts = (rs.groupBy("g", "size").agg(
        F.avg("rs").alias("avg_rs"),
        F.count(F.lit(1)).alias("n_blocks"))
        .withColumn("x", F.log(F.col("size").cast("double")))
        .withColumn("y", F.log("avg_rs")))
    out = (pts.groupBy("g").agg(
        F.count(F.lit(1)).cast("double").alias("k"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum("n_blocks").cast("bigint").alias("n_blocks"))
        .select(F.col("g").alias(group_col), "n_blocks",
                F.round((F.col("k") * F.col("sxy")
                         - F.col("sx") * F.col("sy"))
                        / (F.col("k") * F.col("sxx")
                           - F.col("sx") * F.col("sx")), round_to)
                .alias("hurst")))
    return out.orderBy(group_col)


def permutation_entropy(df: DataFrame, group_col: str,
                        order_cols: list[str], value_col: str, *,
                        round_to: int = 6) -> DataFrame:
    """Permutation entropy of order 3 per group (Bandt & Pompe 2002):
    slide a 3-window over the ordered series, map each triple to its
    ordinal pattern — the positions 1..3 sorted by (value, position),
    position breaking ties so the pattern is deterministic for
    integer-valued series — and take Shannon entropy (nats) of the
    pattern distribution. Low PE = regular dynamics, ln 6 = white
    noise.

    Scale shape: two lead() calls on one per-group window, a
    JVM-side array_sort of a 3-element struct array (no Python), one
    (g, pattern) count groupBy, one per-group entropy fold over <= 6
    rows."""
    g = F.col(group_col).alias("g")
    v = F.col(value_col).cast("double")
    w = Window.partitionBy("g").orderBy(*order_cols)
    base = (df.select(g, v.alias("v"),
                      *[F.col(c) for c in order_cols])
            .withColumn("v2", F.lead("v", 1).over(w))
            .withColumn("v3", F.lead("v", 2).over(w))
            .filter(F.col("v3").isNotNull()))
    pat = F.concat_ws("", F.array_sort(F.array(
        F.struct(F.col("v").alias("a"), F.lit(1).alias("p")),
        F.struct(F.col("v2").alias("a"), F.lit(2).alias("p")),
        F.struct(F.col("v3").alias("a"), F.lit(3).alias("p"))))
        .getField("p"))
    cnt = (base.select("g", pat.alias("pattern"))
           .groupBy("g", "pattern").agg(F.count(F.lit(1)).alias("c")))
    tot = cnt.groupBy("g").agg(F.sum("c").alias("n"))
    out = (cnt.join(tot, "g")
           .groupBy("g").agg(
               F.first("n").cast("bigint").alias("n_windows"),
               F.count(F.lit(1)).cast("bigint").alias("n_patterns"),
               (-F.sum((F.col("c") / F.col("n"))
                       * F.log(F.col("c") / F.col("n"))))
               .alias("pe"))
           .select(F.col("g").alias(group_col), "n_windows",
                   "n_patterns",
                   F.round("pe", round_to).alias("perm_entropy")))
    return out.orderBy(group_col)


def huffman_cost(df: DataFrame, group_col: str,
                 symbol_col: str, *, round_to: int = 6) -> DataFrame:
    """Optimal prefix-code (Huffman 1952) total cost per group over
    the observed symbol distribution, via the classic two-smallest
    merge run as a fold: total encoded bits = sum of every merged
    node's weight (all Huffman trees are cost-optimal, and both
    engines replay the IDENTICAL merge order anyway, ties included).
    Reported next to the Shannon bound sum c*log2(n/c) — the
    compressibility audit pair.

    Scale shape: one (g, symbol) count groupBy, one collect of
    O(alphabet) weights per group, one JVM fold of alphabet-1 merges
    (each a sort of the <= alphabet-sized weight array)."""
    cnt = (df.groupBy(F.col(group_col).alias("g"),
                      F.col(symbol_col).alias("sym"))
           .agg(F.count(F.lit(1)).alias("c")))
    per = (cnt.groupBy("g").agg(
        F.array_sort(F.collect_list("c")).alias("ws"),
        F.sum("c").alias("n"),
        F.count(F.lit(1)).alias("n_symbols"),
        F.sum(F.col("c").cast("double")
              * F.log2(F.col("c").cast("double"))).alias("clogc")))
    fold = F.expr("""
        IF(size(ws) < 2, CAST(0 AS BIGINT), aggregate(
          sequence(1, size(ws) - 1),
          named_struct('a', ws, 'cost', CAST(0 AS BIGINT)),
          (s, i) -> named_struct(
            'a', array_sort(concat(
                   slice(s.a, 3, size(s.a) - 2),
                   array(s.a[0] + s.a[1]))),
            'cost', s.cost + s.a[0] + s.a[1]),
          s -> s.cost))
    """)
    ent = (F.col("n").cast("double")
           * F.log2(F.col("n").cast("double")) - F.col("clogc"))
    return (per.select(
        F.col("g").alias(group_col),
        F.col("n").cast("bigint").alias("n_total"),
        F.col("n_symbols").cast("bigint").alias("n_symbols"),
        fold.alias("huffman_bits"),
        F.round(ent, round_to).alias("entropy_bits"))
        .orderBy(group_col))


def matrix_profile_ed(series: DataFrame, group_col: str, seq_col: str,
                      value_col: str, m: int = 4) -> DataFrame:
    """Matrix-profile motif + discord discovery per group (Yeh et al.
    2016, the ICDM matrix-profile paper) under EXACT squared Euclidean
    distance on integer series: for every length-m subsequence, the
    profile value is the min distance to any non-trivial match
    (|i - j| >= m exclusion zone); the MOTIF is the globally closest
    pair, the DISCORD the subsequence with the largest profile value.
    Integer distances make every comparison exact; ties break to the
    smallest (d2, i, j).

    Scale shape: subsequences come from m-1 LEAD columns over the
    per-group window (no collect); the candidate pairs are a per-group
    self-join bounded by the per-group series length (n^2 pairs INSIDE
    a group, never across groups — cap n upstream for long series or
    switch to the STOMP recurrence); the profile is one hash aggregate
    and motif/discord are per-group argmins over bounded windows.
    Returns (group, n_subs, motif_i, motif_j, motif_d2, discord_i,
    discord_d2)."""
    from pyspark.sql import Window

    w = Window.partitionBy(group_col).orderBy(seq_col)
    v = F.col(value_col).cast("bigint")
    cols = [v.alias("v0")] + [F.lead(v, k).over(w).alias(f"v{k}")
                              for k in range(1, m)]
    subs = (series.select(F.col(group_col).alias("g"),
                          F.row_number().over(w).alias("i"), *cols)
            .filter(F.col(f"v{m - 1}").isNotNull()))
    a = subs.alias("a")
    b = subs.alias("b")
    d2 = sum((F.col(f"a.v{k}") - F.col(f"b.v{k}"))
             * (F.col(f"a.v{k}") - F.col(f"b.v{k}")) for k in range(m))
    pairs = (a.join(b, (F.col("a.g") == F.col("b.g"))
                    & (F.abs(F.col("a.i") - F.col("b.i")) >= m))
             .select(F.col("a.g").alias("g"), F.col("a.i").alias("i"),
                     F.col("b.i").alias("j"),
                     d2.cast("bigint").alias("d2")))
    profile = (pairs.groupBy("g", "i")
               .agg(F.min(F.struct("d2", "j")).alias("p"))
               .select("g", "i", F.col("p.d2").alias("pd2")))
    wd = Window.partitionBy("g").orderBy(F.col("pd2").desc(),
                                         F.col("i").asc())
    discord = (profile.withColumn("rn", F.row_number().over(wd))
               .filter(F.col("rn") == 1)
               .select("g", F.col("i").alias("discord_i"),
                       F.col("pd2").alias("discord_d2")))
    wm = Window.partitionBy("g").orderBy("d2", "i", "j")
    motif = (pairs.filter(F.col("i") < F.col("j"))
             .withColumn("rn", F.row_number().over(wm))
             .filter(F.col("rn") == 1)
             .select("g", F.col("i").alias("motif_i"),
                     F.col("j").alias("motif_j"),
                     F.col("d2").alias("motif_d2")))
    nsubs = subs.groupBy("g").agg(F.count("*").cast("bigint")
                                  .alias("n_subs"))
    return (nsubs.join(motif, "g").join(discord, "g")
            .select(F.col("g").alias(group_col), "n_subs",
                    "motif_i", "motif_j", "motif_d2",
                    "discord_i", "discord_d2")
            .orderBy(group_col))


def page_hinkley(series: DataFrame, group_col: str, seq_col: str,
                 value_col: str, *, delta: float = 0.5,
                 lam: float = 20.0) -> DataFrame:
    """Page-Hinkley mean-increase drift detection per group (Page
    1954; the streaming-drift baseline in MOA/river): with running
    mean x̄_t INCLUDING the current point, m_t = m_{t-1} +
    (x_t - x̄_t - delta), M_t = min m, alarm at the first t where
    m_t - M_t > lambda.  The fold runs in one fixed order per group
    (seq ascending), so every double is bit-identical across engines
    and topologies.  Returns (group, n, ph_final, max_dev,
    first_alarm) — first_alarm 0 when no alarm fired.

    Ref parity: the reference flags communes whose matched-address
    counts drift between runs (munin bano_rapproche thresholds);
    Page-Hinkley is the sequential version with a false-alarm bound.

    Scale shape: session-fold contract — one shuffle to the group,
    one bounded collect, O(1) fold state, no Python."""
    row = F.struct(F.col(seq_col).cast("bigint").alias("o"),
                   F.col(value_col).cast("double").alias("x"))
    per = (series.groupBy(F.col(group_col).alias("g"))
           .agg(F.array_sort(F.collect_list(row)).alias("xs")))
    fold = F.expr(f"""
        aggregate(
          xs,
          named_struct('s', CAST(0.0 AS DOUBLE), 't', CAST(0 AS BIGINT),
                       'm', CAST(0.0 AS DOUBLE),
                       'mn', CAST(0.0 AS DOUBLE),
                       'mx', CAST(0.0 AS DOUBLE),
                       'al', CAST(0 AS BIGINT)),
          (acc, r) -> aggregate(
            array(named_struct(
              's', acc.s + r.x, 't', acc.t + 1,
              'm', acc.m + (r.x - (acc.s + r.x) / (acc.t + 1)
                            - CAST({delta} AS DOUBLE)))),
            acc,
            (a, u) -> named_struct(
              's', u.s, 't', u.t, 'm', u.m,
              'mn', least(a.mn, u.m),
              'mx', greatest(a.mx, u.m - least(a.mn, u.m)),
              'al', IF(a.al > 0, a.al,
                       IF(u.m - least(a.mn, u.m)
                            > CAST({lam} AS DOUBLE), u.t,
                          CAST(0 AS BIGINT)))),
            a -> a),
          acc -> acc)
    """)
    return (per.select(F.col("g").alias(group_col),
                       F.size("xs").cast("bigint").alias("n"),
                       fold.alias("st"))
            .select(group_col, "n",
                    (F.round(F.col("st.m"), 6) + F.lit(0.0))
                    .alias("ph_final"),
                    (F.round(F.col("st.mx"), 6) + F.lit(0.0))
                    .alias("max_dev"),
                    F.col("st.al").alias("first_alarm"))
            .orderBy(group_col))
