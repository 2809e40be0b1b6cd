"""Custom stateful streaming operator (applyInPandasWithState).

The reference's cumulative tables (cumul_adresses row counts per
commune, batch metrics) are maintained by re-running SQL per commune.
Streaming-first: a grouped state operator keeps per-commune running
counters across micro-batches — the pattern for any accumulating
per-key statistic over an address feed (counts, bbox, last-seen
timestamps) without recomputing history.

State schema is explicit and versioned; timeouts are disabled (the
commune universe is closed); output is the updated row per key per
batch — an upsert feed for the serving table.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (LongType, StringType, StructField, StructType,
                               DoubleType)

STATE_SCHEMA = StructType([
    StructField("n_rows", LongType()),
    StructField("sum_value", DoubleType()),
])

OUTPUT_SCHEMA = StructType([
    StructField("key", StringType()),
    StructField("n_rows", LongType()),
    StructField("sum_value", DoubleType()),
])


def running_commune_stats(grouped, value_col: str = "value"):
    """pdf-iterator state function: fold each micro-batch's rows into
    (n_rows, sum_value) per key."""

    def fn(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf[value_col].sum())
        state.update((n, s))
        yield pd.DataFrame({"key": [key[0]], "n_rows": [n], "sum_value": [s]})

    return grouped.applyInPandasWithState(
        fn, OUTPUT_SCHEMA, STATE_SCHEMA, "update",
        GroupStateTimeout.NoTimeout)


def run_running_stats_stream(spark, src_dir: str, schema, key_col: str,
                             value_col: str, checkpoint: str):
    """availableNow pass folding a parquet feed into per-key running
    stats; returns the in-memory sink table name."""
    feed = spark.readStream.schema(schema).parquet(src_dir)
    out = running_commune_stats(
        feed.select(feed[key_col].alias("key"), feed[value_col].alias("value"))
        .groupBy("key"))
    q = (out.writeStream.format("memory").queryName("running_stats")
         .outputMode("update").option("checkpointLocation", checkpoint)
         .trigger(availableNow=True).start())
    q.awaitTermination()
    return "running_stats"


DEDUP_STATE_SCHEMA = StructType([
    StructField("keeper", LongType()),
    StructField("n_seen", LongType()),
])

DEDUP_OUTPUT_SCHEMA = StructType([
    StructField("text_hash", StringType()),
    StructField("keeper", LongType()),
    StructField("n_dups", LongType()),
])


def streaming_exact_dedup(grouped, id_col: str = "doc_id"):
    """Stateful exact-dedup over a document stream: per content-hash
    group the state carries (keeper = min id seen so far, n_seen);
    each micro-batch emits the updated dedup row — an upsert feed for
    the dedup serving table, converging to exactly the batch
    `dedup.exact_dedup` result without ever recomputing history.
    Deterministic under replay: the keeper is the min id, not the
    arrival order."""

    def fn(key, pdfs, state: GroupState):
        keeper, n = state.get if state.exists else (None, 0)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            mn = int(pdf[id_col].min())
            keeper = mn if keeper is None else min(keeper, mn)
        state.update((keeper, n))
        yield pd.DataFrame({"text_hash": [key[0]], "keeper": [keeper],
                            "n_dups": [n]})

    return grouped.applyInPandasWithState(
        fn, DEDUP_OUTPUT_SCHEMA, DEDUP_STATE_SCHEMA, "update",
        GroupStateTimeout.NoTimeout)


STAY_STATE_SCHEMA = StructType([
    StructField("px", DoubleType()),
    StructField("py", DoubleType()),
    StructField("run_n", LongType()),
    StructField("run_sx", DoubleType()),
    StructField("run_sy", DoubleType()),
    StructField("seq_start", LongType()),
    StructField("seq", LongType()),
])

STAY_OUTPUT_SCHEMA = StructType([
    StructField("user_id", LongType()),
    StructField("n_pts", LongType()),
    StructField("cx", DoubleType()),
    StructField("cy", DoubleType()),
    StructField("seq_start", LongType()),
    StructField("seq_end", LongType()),
])


def streaming_staypoints(grouped, *, radius: float = 50.0, min_pts: int = 3,
                         x: str = "x", y: str = "y",
                         order_cols: tuple[str, ...] = ("ts", "event_id")):
    """Stateful stay-point segmentation over a per-user ping stream:
    the per-key state carries the previous point and the OPEN run's
    accumulators (count, coordinate sums, start sequence); each
    micro-batch folds its (time-ordered) rows in, EMITS every run the
    batch closes with >= min_pts points, and leaves the still-open run
    in state — the incremental form of
    operators/trajectory.staypoints, converging to exactly the batch
    islands result restricted to CLOSED runs (a run only closes when a
    later out-of-radius ping arrives, so the last run per user is
    never emitted; the oracle states the same restriction).

    Within each batch the break/run assignment is vectorized numpy
    (shifted distances + cumsum); only the state seam touches
    scalars. Centroid sums are exact integer-valued doubles, one
    division at emit time — engine-portable bit-for-bit.

    Scale shape: keyed state on the track id, O(points) through the
    operator once; mega-track skew handled upstream exactly as in the
    batch operator (salt or time-split the key)."""
    import numpy as np

    r2 = float(radius) ** 2

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            px, py, run_n, run_sx, run_sy, seq_start, seq = state.get
        else:
            px = py = None
            run_n, run_sx, run_sy, seq_start, seq = 0, 0.0, 0.0, 1, 0
        out = {"user_id": [], "n_pts": [], "cx": [], "cy": [],
               "seq_start": [], "seq_end": []}
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(list(order_cols))
            xs = pdf[x].to_numpy(dtype=float)
            ys = pdf[y].to_numpy(dtype=float)
            pxs = np.concatenate(([px if px is not None else np.nan], xs[:-1]))
            pys = np.concatenate(([py if py is not None else np.nan], ys[:-1]))
            d2 = (xs - pxs) ** 2 + (ys - pys) ** 2
            brk = ~(d2 <= r2)  # NaN (no previous point) breaks too
            # run index within this batch: 0 = continuation of the open
            # run, 1.. = runs started by this batch's breaks
            rid = np.cumsum(brk)
            for r in range(0, int(rid[-1]) + 1):
                m = rid == r
                n_m = int(m.sum())
                if n_m == 0:
                    continue
                first_seq = seq + int(np.argmax(m)) + 1
                if r == 0:
                    run_n += n_m
                    run_sx += float(xs[m].sum())
                    run_sy += float(ys[m].sum())
                else:
                    # a break: the previous run is now CLOSED
                    if run_n >= min_pts:
                        out["user_id"].append(key[0])
                        out["n_pts"].append(run_n)
                        out["cx"].append(run_sx / run_n)
                        out["cy"].append(run_sy / run_n)
                        out["seq_start"].append(seq_start)
                        out["seq_end"].append(first_seq - 1)
                    run_n = n_m
                    run_sx = float(xs[m].sum())
                    run_sy = float(ys[m].sum())
                    seq_start = first_seq
            seq += len(xs)
            px, py = float(xs[-1]), float(ys[-1])
        state.update((px, py, run_n, run_sx, run_sy, seq_start, seq))
        yield pd.DataFrame(out)

    return grouped.applyInPandasWithState(
        fn, STAY_OUTPUT_SCHEMA, STAY_STATE_SCHEMA, "append",
        GroupStateTimeout.NoTimeout)


def streaming_hll(grouped, p: int = 6, key_name: str = "event_type",
                  key_type=None):
    """Stateful streaming HyperLogLog: per group the state is the
    dense m = 2^p register array; each micro-batch folds the batch's
    (idx, rank) pairs in with element-wise max and emits the updated
    registers + a monotone n_seen counter (the upsert-ordering key).
    Converges to EXACTLY the batch hll_sketch registers — the
    mergeable-sketch property is what makes the incremental fold
    correct under replay and reordering.

    The md5/bit math runs JVM-side upstream (hll_register_cols):
    only two small ints per row cross into Python. State is m bytes
    of ranks per key, the whole point of sketching a 10^12-row
    stream."""
    from pyspark.sql.types import ArrayType, IntegerType

    m = 1 << p
    key_type = key_type or StringType()
    state_schema = StructType([
        StructField("registers", ArrayType(IntegerType())),
        StructField("n_seen", LongType()),
    ])
    output_schema = StructType([
        StructField(key_name, key_type),
        StructField("registers", ArrayType(IntegerType())),
        StructField("n_seen", LongType()),
    ])

    def fn(key, pdfs, state: GroupState):
        if state.exists:
            regs, n = state.get
            regs = list(regs)
        else:
            regs, n = [0] * m, 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n += len(pdf)
            best = pdf.groupby("idx")["rank"].max()
            for idx, rank in best.items():
                i, r = int(idx), int(rank)
                if r > regs[i]:
                    regs[i] = r
        state.update((regs, n))
        yield pd.DataFrame({key_name: [key[0]], "registers": [regs],
                            "n_seen": [n]})

    return grouped.applyInPandasWithState(
        fn, output_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


def streaming_cusum(grouped, target: float, slack: float,
                    threshold: float, *, key_name: str = "user_id",
                    key_type=None, value_col: str = "v",
                    order_col: str = "seq"):
    """Stateful streaming one-sided CUSUM: per key the state is FOUR
    numbers (running S, running max, alarm count, first alarm) plus a
    seen counter — constant memory per key at any stream length, the
    streaming twin of temporal.cusum (whose batch reflection identity
    equals this direct recursion exactly for integer-valued series).

    Contract: micro-batches must arrive in event order per key (rows
    WITHIN a batch are sorted here); a replayed/backfilled feed in
    file order satisfies it — the standard pairing is an upstream
    watermark reorder. Emits the updated per-key summary each batch —
    the drift-alarm upsert feed."""
    k = float(target + slack)
    key_type = key_type or LongType()
    state_schema = StructType([
        StructField("s", DoubleType()),
        StructField("smax", DoubleType()),
        StructField("alarms", LongType()),
        StructField("first_alarm", LongType()),
        StructField("n_seen", LongType()),
    ])
    output_schema = StructType([
        StructField(key_name, key_type),
        StructField("max_cusum", DoubleType()),
        StructField("first_alarm_seq", LongType()),
        StructField("n_alarms", LongType()),
        StructField("n_seen", LongType()),
    ])

    def fn(key, pdfs, state: GroupState):
        # vectorized batch fold: with carry-in S0 and P the prefix sum
        # of y = v - k, S_i = max(0, P_i - min_{m<i} P_m, S0 + P_i)
        # (P_0 = 0) — the reflection identity with initial state,
        # exact for integer series, no per-row Python.
        import numpy as np

        if state.exists:
            s, smax, alarms, first, n = state.get
        else:
            s, smax, alarms, first, n = 0.0, 0.0, 0, None, 0
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(order_col)
            n += len(pdf)
            y = pdf[value_col].to_numpy(dtype="float64") - k
            p = np.cumsum(y)
            runmin_prev = np.minimum.accumulate(
                np.concatenate([[0.0], p]))[:-1]
            sv = np.maximum(np.maximum(0.0, p - runmin_prev), s + p)
            over = sv > threshold
            if over.any():
                alarms += int(over.sum())
                if first is None:
                    first = int(pdf[order_col].to_numpy()[
                        int(np.argmax(over))])
            smax = max(smax, float(sv.max()))
            s = float(sv[-1])
        state.update((s, smax, alarms, first, n))
        yield pd.DataFrame({key_name: [key[0]], "max_cusum": [smax],
                            "first_alarm_seq": [first],
                            "n_alarms": [alarms], "n_seen": [n]})

    return grouped.applyInPandasWithState(
        fn, output_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)


def streaming_reservoir(grouped, n: int, *, key_name: str = "source",
                        key_type=None, id_col: str = "doc_id",
                        weight_col: str = "n_chars",
                        sample_key_col: str = "sample_key"):
    """Stateful streaming weighted reservoir (A-ES, without
    replacement): per group the state is the current top-n
    (sample_key, id, weight) triplets — bounded at n rows per key
    forever. The exponential sort keys are content-derived and
    computed JVM-side UPSTREAM (selection.weighted_sample_per_group's
    construction), so the fold here is a pure merge-and-truncate: the
    converged sample equals the batch draw EXACTLY, independent of
    arrival order or batch seams (top-n by a total order commutes).

    Emits the full current sample per batch — the upsert feed for a
    live training-data quota draw."""
    from pyspark.sql.types import ArrayType

    key_type = key_type or StringType()

    state_schema = StructType([
        StructField("ids", ArrayType(LongType())),
        StructField("ws", ArrayType(DoubleType())),
        StructField("ks", ArrayType(DoubleType())),
        StructField("n_seen", LongType()),
    ])
    output_schema = StructType([
        StructField(key_name, key_type),
        StructField("ids", ArrayType(LongType())),
        StructField("ws", ArrayType(DoubleType())),
        StructField("ks", ArrayType(DoubleType())),
        StructField("n_seen", LongType()),
    ])

    def fn(key, pdfs, state: GroupState):
        ids: list = []
        ws: list = []
        ks: list = []
        n_seen = 0
        if state.exists:
            ids, ws, ks, n_seen = state.get
            ids, ws, ks = list(ids), list(ws), list(ks)
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            n_seen += len(pdf)
            ids += [int(v) for v in pdf[id_col]]
            ws += [float(v) for v in pdf[weight_col]]
            ks += [float(v) for v in pdf[sample_key_col]]
            trip = sorted(zip(ks, ids, ws),
                          key=lambda t: (-t[0], t[1]))[:n]
            ks = [t[0] for t in trip]
            ids = [t[1] for t in trip]
            ws = [t[2] for t in trip]
        state.update((ids, ws, ks, n_seen))
        yield pd.DataFrame({key_name: [key[0]], "ids": [ids],
                            "ws": [ws], "ks": [ks],
                            "n_seen": [n_seen]})

    return grouped.applyInPandasWithState(
        fn, output_schema, state_schema, "update",
        GroupStateTimeout.NoTimeout)
