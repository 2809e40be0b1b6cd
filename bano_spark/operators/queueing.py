"""FIFO queueing algebra: the Lindley recurrence as a distributed scan.

A single-server FIFO queue (a per-host crawl fetch queue, a
per-partition compaction worker) is classically simulated with the
sequential Lindley recurrence

    depart_i = max(depart_{i-1}, arrive_i) + service_i

which looks inherently serial.  It is not: with cumS_i the running sum
of service times and base_j = arrive_j - cumS_{j-1},

    depart_i = cumS_i + max_{j<=i} base_j

— i.e. a running sum plus a running max, BOTH plain keyed window
scans.  That closed form is what this module computes, so a trillion
jobs across millions of host queues need exactly one hash exchange on
the queue key followed by per-partition sorted single-pass windows; no
iteration, no driver loop, no UDF.

Scale design:
- Both windows are ``partitionBy(queue).orderBy(arrival, id)`` ROWS
  frames — Catalyst plans one Exchange(queue) + one sort, reused by
  every derived column (wait, start, busy-period flag).
- A pathological single mega-queue degrades to one partition's sorted
  scan (O(n) streaming, constant memory) — never a cross-partition
  dependency.  For that case a two-phase segmented scan (per-chunk
  max/sum + a tiny chunk-summary prefix pass, the
  ``distributed_cumsum`` idiom from eventflow) drops in because the
  recurrence is associative in (sum, max) space; at web scale the
  queue key (host) has ~10^8 cardinality and hash partitioning is
  already even.
- Busy-period segmentation reuses the SAME sort: a period opens where
  arrive_i strictly exceeds the previous departure (gaps-and-islands
  on the derived departure sequence).

Exactness: all inputs are integer seconds; every derived quantity
(start, depart, wait, busy/idle spans, Little's-law sojourn area) is
exact BIGINT arithmetic.

Ref parity: the reference serializes per-department download/build
steps in its cron pipeline (bano/cron_*.sh) — a FIFO queue per
resource; this operator gives the same per-key FIFO semantics as scan
algebra.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

__all__ = ["fifo_departures", "busy_periods", "queue_summary"]


def _w(queue: str, arrival: str, order: str):
    return Window.partitionBy(queue).orderBy(arrival, order)


def fifo_departures(jobs: DataFrame, queue: str = "queue",
                    arrival: str = "a", service: str = "s",
                    order: str = "job_id") -> DataFrame:
    """Per-job FIFO start/depart/wait via the prefix-max closed form.

    Input: one row per job with integer-second ``arrival`` and
    ``service``; ``order`` breaks arrival ties deterministically.
    Adds ``start``, ``depart``, ``wait`` (all exact integers).
    """
    w_run = _w(queue, arrival, order).rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    cum_s = F.sum(service).over(w_run)
    base = F.col(arrival) - (cum_s - F.col(service))
    depart = cum_s + F.max(base).over(w_run)
    start = depart - F.col(service)
    return (jobs
            .withColumn("depart", depart.cast("bigint"))
            .withColumn("start", start.cast("bigint"))
            .withColumn("wait", (start - F.col(arrival)).cast("bigint")))


def busy_periods(jobs: DataFrame, queue: str = "queue",
                 arrival: str = "a", service: str = "s",
                 order: str = "job_id") -> DataFrame:
    """Segment each queue's timeline into busy periods.

    A busy period opens at a job whose arrival strictly exceeds the
    previous job's departure (the server sat idle in between; an
    arrival exactly at the previous departure keeps the server
    continuously busy).  Returns one row per (queue, period) with the
    period's job count, first arrival, last departure and busy span.
    """
    dep = fifo_departures(jobs, queue, arrival, service, order)
    w = _w(queue, arrival, order)
    opens = F.when(
        F.col(arrival) > F.coalesce(F.lag("depart").over(w), F.lit(-1)),
        1).otherwise(0)
    w_run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    seg = dep.withColumn("period_id",
                         F.sum(opens).over(w_run).cast("bigint"))
    return (seg.groupBy(queue, "period_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_jobs"),
        F.min(arrival).cast("bigint").alias("first_arrival"),
        F.max("depart").cast("bigint").alias("last_depart"))
        .withColumn("busy_seconds",
                    (F.col("last_depart") - F.col("first_arrival"))
                    .cast("bigint")))


def queue_summary(jobs: DataFrame, queue: str = "queue",
                  arrival: str = "a", service: str = "s",
                  order: str = "job_id") -> DataFrame:
    """Per-queue utilization / Little's-law summary, exact integers.

    - ``sojourn_seconds`` = sum(depart - arrive): the area under the
      number-in-system curve N(t) (each job contributes its sojourn),
      so ``sojourn_seconds / horizon_seconds`` IS the time-average
      number in system — emitted unrounded (single division of exact
      integers is bit-identical across engines).
    - ``horizon_seconds`` = last departure - first arrival.
    """
    dep = fifo_departures(jobs, queue, arrival, service, order)
    return (dep.groupBy(queue).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_jobs"),
        F.sum(service).cast("bigint").alias("service_seconds"),
        F.sum("wait").cast("bigint").alias("wait_seconds"),
        F.max("wait").cast("bigint").alias("max_wait"),
        F.sum(F.col("depart") - F.col(arrival)).cast("bigint")
        .alias("sojourn_seconds"),
        (F.max("depart") - F.min(arrival)).cast("bigint")
        .alias("horizon_seconds"))
        .withColumn("l_avg",
                    F.col("sojourn_seconds") / F.col("horizon_seconds"))
        .withColumn("utilization",
                    F.col("service_seconds") / F.col("horizon_seconds")))
