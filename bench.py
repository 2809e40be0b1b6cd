"""Benchmark harness (driver contract).

Runs the headline queries at $SPARK_GRAFT_SF_DIR (default: the sf0.1
test data) on local[N] (N = $SPARK_GRAFT_CPUS, else the CPUs this
process may run on), plus the north-rule pages pipeline
(pipelines.pages_tile_rollup over synthesized pages) whose throughput
is the BASELINE.json metric. Prints ONE JSON line.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pip_count_per_commune",
    "tile_assignment_counts",
    "expired_tiles_to_insee",
    "conciliation_export",
    "end_to_end_csv_export",
    "knn_name_match",
    "postal_smallest_polygon",
]


def pages_pipeline(spark, n_pages: int) -> int:
    """The north-rule job: pages -> extract -> PIP -> tiles."""
    from bano_spark.pipelines import pages_tile_rollup
    from bano_spark.session import cpu_count
    from bano_spark.sources import pages as P

    pg = P.synth_pages_sql(spark, n_pages, partitions=cpu_count() * 2)
    return pages_tile_rollup(pg).count()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_pages = int(os.environ.get("SPARK_GRAFT_BENCH_PAGES", "16000000"))
    load_before = round(os.getloadavg()[0], 1)

    import __spark_entry__ as E
    from bano_spark.session import cpu_count, get_session

    cpus = cpu_count()

    # r4 ROOT CAUSE of the 10-60x slow first pages run (VERDICT r3 #1):
    # this sandbox is a microVM whose guest memory is host-faulted at
    # ~80 MB/s on FIRST touch — a one-time-per-page tax that the first
    # full-size job otherwise absorbs (measured: a fresh quiet session's
    # run 1 took 245-557s vs 9-22s after; NOT cache residency — a
    # release_all-only arm still ramped; NOT JIT — a same-class barrier
    # warmup and -XX:-DontCompileHugeMethods changed nothing; WITH
    # -Xms=-Xmx -XX:+AlwaysPreTouch the tax moved to session startup and
    # the first run fell to 12.2s, second 2.5s — the full A/B is
    # committed in AB_FIRSTRUN.jsonl).
    # So: pre-touch a right-sized heap at startup (disclosed), keeping
    # the timed region on already-faulted pages — exactly what long-
    # lived executors on a real cluster see after provisioning.
    t_sess = time.time()
    heap = os.environ.get("SPARK_GRAFT_BENCH_HEAP", "24g")
    spark = get_session(
        "bench", cpus=cpus, shuffle_partitions=max(cpus, 32),
        extra={
            "spark.driver.memory": heap,
            "spark.driver.extraJavaOptions":
                f"-Dderby.system.home=/tmp/bano_spark_derby_{os.getpid()} "
                f"-Xms{heap} -XX:+AlwaysPreTouch",
        })
    session_up_sec = round(time.time() - t_sess, 1)
    spark.sparkContext.setLogLevel("ERROR")

    # warmup: JIT, Arrow/python-worker pool, parquet footer cache — so the
    # timings measure the engine, not first-action init
    pages_pipeline(spark, 50_000)

    qs = E.queries()
    timings: dict[str, float] = {}
    for name in HEADLINE:
        t0 = time.time()
        df = qs[name](spark, sf_dir)
        n = df.count()
        timings[name] = round(time.time() - t0, 3)

    # cache hygiene + one full-size warmup (cheap now that the heap is
    # pre-touched) so the samples start from the engine's steady state
    from bano_spark.cache import release_all
    release_all()
    spark.catalog.clearCache()
    t0 = time.time()
    pages_pipeline(spark, n_pages)
    warmup_full_sec = round(time.time() - t0, 3)

    # three samples: the box shows multi-minute external load bursts
    # (BENCH.md). The HEADLINE number is the MEDIAN (ADVICE r2: min
    # overstates sustained throughput on a noisy box); min is kept as a
    # secondary best-case field, and every raw sample is reported.
    pages_runs = []
    for _ in range(3):
        t0 = time.time()
        pages_pipeline(spark, n_pages)
        pages_runs.append(time.time() - t0)
    pages_sec = sorted(pages_runs)[len(pages_runs) // 2]
    timings["pages_pipeline"] = round(pages_sec, 3)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").split("sf")[-1]
    print(json.dumps({
        "metric": "headline_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "sf": float(sf),
        "pages": n_pages,
        "pages_per_sec": round(n_pages / pages_sec, 1),
        "pages_per_sec_best": round(n_pages / min(pages_runs), 1),
        "pages_runs_sec": [round(r, 3) for r in pages_runs],
        "pages_warmup_full_sec": warmup_full_sec,
        "session_up_sec": session_up_sec,  # includes the heap pre-touch
        "cpus": cpus,
        # box-state disclosure: this shared box shows multi-minute
        # external load bursts (BENCH.md) — a burst-straddling sample
        # is visible here instead of silently degrading the record
        "load_1m_before": load_before,
        "load_1m_after": round(os.getloadavg()[0], 1),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
