"""bano_spark benchmark: one command, three workloads.

    python3 perfbench/run.py --workload rebuild_tiles --seed 1 --seconds 20 --trace 0

Run from the repository root. The seed selects the page ids and the
change batches; inputs are written under .perfbench_work/ and removed
at the end. The load is closed-loop with one client (this process) on
local[nproc]: each operation starts when the previous one, and its
oracle check, has finished.

--trace 0  end-to-end metrics from untraced operations.
--trace 1  per-layer metrics: untraced and traced operations alternate,
           the traced ones record spans around every layer call (written
           to .perfbench_work/<run>/spans.jsonl) and trace.overhead_frac
           compares the two.

Earlier stdout lines carry the run's details (machine, versions, seed,
sizes, box load before/after, every raw sample); the last line is the
result object {"correct", "attempted", "failed", "metrics"}.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import sys
import time
import traceback

from harness import (OpLog, RssSampler, Tracer, cpu_times, load_1m, median,
                     steal_frac, tail)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUP_REPS = 3

# per-op input sizes; see BENCHMARK.json for why each workload exists
SIZES = {
    "rebuild_tiles": {"pages": 200_000},
    "publish_export": {"pages": 40_000},
    "incremental_update": {"points": 100_000, "batch_communes": 1,
                           "batch_frac": 0.1, "move_radius": 300,
                           "remove_share": 0.3},
}

# pages_per_s  input rows / summed op time: pages for rebuild_tiles and
#              publish_export, changed points for incremental_update
# op_s_p50     median duration of one op (a rebuild, an export, an update)
# op_s_tail    duration at the highest percentile with >= 10 samples beyond
#              it (the maximum when a run has fewer than 11 ops; percentile
#              and sample count are in the detail line)
# peak_rss_mb  peak resident memory of this process tree (JVM + Python
#              workers), summed as PSS so shared pages count once
# setup_s      session start (heap pre-touch included) + median input
#              set-up of SETUP_REPS repetitions + the warmup ops
# Failed ops are the result's "failed" of "attempted"; failed_frac is in
# the detail line (it is 0 on a correct run, so it cannot be a metric).
END_TO_END = {"pages_per_s": "1/s", "op_s_p50": "s", "op_s_tail": "s",
              "peak_rss_mb": "MiB", "setup_s": "s"}

PER_LAYER = {
    "pages.scan_s": "s", "pages.extract_s": "s", "pages.records": "count",
    "pip_join.plan_s": "s", "pip_join.join_s": "s",
    "pip_join.candidates": "count", "pip_join.boundary_frac": "ratio",
    "pip_join.refine_keep_frac": "ratio", "pip_join.arrow_mb": "MB",
    "pip_join.cover_cells": "count",
    "tiles.rollup_s": "s", "tiles.distinct_tiles": "count",
    "normalize.s": "s", "normalize.vocab_per_row": "ratio",
    "conciliation.s": "s", "conciliation.universe_rows": "count",
    "conciliation.out_per_universe": "ratio", "cache.persisted_mb": "MB",
    "export.s": "s", "export.lines": "count", "export.mb": "MB",
    "incremental.diff_s": "s", "incremental.expired_tiles": "count",
    "tiling.dirty_s": "s", "tiling.cover_s": "s", "tiling.dirty_communes": "count",
    "lineage.completed_s": "s", "lineage.write_s": "s",
    "lineage.partitions_written": "count", "lineage.log_files": "count",
    "spark.jobs_per_op": "count", "spark.tasks_per_op": "count",
    "trace.overhead_frac": "ratio",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def machine() -> dict:
    """Size the session from this machine: every usable core, and a heap
    that fits available memory (2 GiB, or a quarter of what is free on
    a smaller box)."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        avail_mb = next(int(l.split()[1]) // 1024 for l in f
                        if l.startswith("MemAvailable:"))
    heap_mb = 2048 if avail_mb >= 4 * 2048 else max(1024, avail_mb // 4 // 256 * 256)
    return {"cpus": cpus, "heap_mb": heap_mb, "mem_available_mb": avail_mb}


def start_session(work: str, cpus: int, heap_mb: int):
    """local[cpus] with -Xms = -Xmx and the heap pre-touched at startup,
    so first-touch page faults land in set-up, not in the timed region.
    Every scratch path of the JVM and the Python workers stays in
    ``work``; workers find bano_spark through PYTHONPATH."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    # shuffle/spill scratch: set through the environment because an
    # inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # every JVM (the spark-submit launcher too) would otherwise keep a
    # perf-data file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        p for p in (os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData") if p)
    from bano_spark.session import get_session

    spark = get_session("perfbench", cpus=cpus, extra={
        "spark.driver.memory": f"{heap_mb}m",
        "spark.driver.extraJavaOptions":
            f"-Dderby.system.home={work}/derby -Djava.io.tmpdir={tmp} "
            f"-Xms{heap_mb}m -XX:+AlwaysPreTouch",
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM (and with it the Python
    workers) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


class SparkWork:
    """Tracer hook: a job group per span, so StatusTracker attributes
    every Spark job and task of an op to the span that launched it."""

    def __init__(self, sc, tracer):
        self.sc = sc
        self.tracer = tracer

    def __call__(self, event: str, idx: int) -> None:
        if event == "exit":
            idx = self.tracer.spans[idx].parent
        if idx is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(f"span-{idx}", self.tracer.spans[idx].name)

    def op_totals(self, op: int) -> tuple[int, int]:
        st = self.sc.statusTracker()
        jobs = tasks = 0
        for idx, sp in enumerate(self.tracer.spans):
            if sp.op != op:
                continue
            for j in st.getJobIdsForGroup(f"span-{idx}"):
                jobs += 1
                info = st.getJobInfo(j)
                for s in (info.stageIds if info else ()):
                    si = st.getStageInfo(s)
                    tasks += si.numCompletedTasks if si else 0
        return jobs, tasks


def timed_loop(wl, seconds: float, log, traced_ops=None):
    """Run ops for ``seconds``: the next op starts while at least half of
    it (judged by the previous iteration) fits in the time left, so ops
    of a few seconds give the same op count run after run. With
    ``traced_ops`` (a callable (i) -> result), odd ops are traced and
    even ops untraced. Returns the untraced and traced duration lists
    and the input rows the completed ops processed."""
    plain, traced = [], []
    rows = 0
    t_end = time.perf_counter() + seconds
    i = 0
    last = 0.0
    while time.perf_counter() + last / 2 < t_end:
        t_iter = time.perf_counter()
        wl.prepare(i)
        run = traced_ops if (traced_ops and i % 2) else wl.op
        t0 = time.perf_counter()
        try:
            result = run(i)
        except Exception:
            traceback.print_exc(file=sys.stderr)
            log.record(raised=True)
        else:
            dt = time.perf_counter() - t0
            log.record(raised=False)
            (traced if run is traced_ops else plain).append(dt)
            rows += wl.rows_per_op
            if not wl.check(i, result):
                print(f"oracle mismatch on {wl.name} op {i}", file=sys.stderr)
                log.oracle_failures += 1
        i += 1
        last = time.perf_counter() - t_iter
    return plain, traced, rows


def layer_metrics(tr, counts, plain, traced, arrow, last_log_files) -> dict:
    def med_time(name):
        v = tr.per_op(name)
        return median(list(v.values())) if v else 0.0

    def med_count(name, key):
        v = tr.count_per_op(name, key)
        return median(list(v.values())) if v else 0.0

    # the candidate census covers the last traced op's join inputs
    cand, bnd = counts.get("candidates", 0), counts.get("boundary", 0)
    joins = tr.count_per_op("pip_join.join", "rows")
    joined = joins[max(joins)] if joins else 0
    norm_rows = med_count("normalize", "rows")
    universe = counts.get("universe_rows", 0)
    pairs = min(len(plain), len(traced))
    return {
        "pages.scan_s": med_time("pages.scan"),
        "pages.extract_s": med_time("pages.extract"),
        "pages.records": med_count("pages.extract", "rows"),
        "pip_join.plan_s": med_time("pip_join.plan"),
        "pip_join.join_s": med_time("pip_join.join"),
        "pip_join.candidates": cand,
        "pip_join.boundary_frac": bnd / cand if cand else 0.0,
        "pip_join.refine_keep_frac": (joined - (cand - bnd)) / bnd if bnd else 0.0,
        "pip_join.arrow_mb": median(arrow) / 1e6 if arrow else 0.0,
        "pip_join.cover_cells": counts.get("cover_cells", 0),
        "tiles.rollup_s": med_time("tiles.rollup"),
        "tiles.distinct_tiles": med_count("tiles.rollup", "distinct_tiles"),
        "normalize.s": med_time("normalize"),
        "normalize.vocab_per_row": counts.get("vocab", 0) / norm_rows if norm_rows else 0.0,
        "conciliation.s": med_time("conciliation"),
        "conciliation.universe_rows": universe,
        "conciliation.out_per_universe":
            med_count("conciliation", "rows") / universe if universe else 0.0,
        "cache.persisted_mb": med_count("normalize", "persisted_bytes") / 1e6,
        "export.s": med_time("export"),
        "export.lines": med_count("export", "lines"),
        "export.mb": med_count("export", "bytes") / 1e6,
        "incremental.diff_s": med_time("incremental.diff"),
        "incremental.expired_tiles": med_count("incremental.diff", "expired_tiles"),
        "tiling.dirty_s": med_time("tiling.dirty"),
        "tiling.cover_s": med_time("tiling.cover"),
        "tiling.dirty_communes": med_count("tiling.dirty", "dirty_communes"),
        "lineage.completed_s": med_time("lineage.completed"),
        "lineage.write_s": med_time("lineage.write"),
        "lineage.partitions_written": med_count("lineage.write", "partitions"),
        "lineage.log_files": last_log_files,
        "spark.jobs_per_op": med_count("op", "jobs"),
        "spark.tasks_per_op": med_count("op", "tasks"),
        "trace.overhead_frac":
            sum(traced[:pairs]) / sum(plain[:pairs]) - 1 if pairs else 0.0,
    }


def versions(spark) -> dict:
    import duckdb
    import numpy
    import pyarrow
    import pyspark

    return {"python": platform.python_version(), "pyspark": pyspark.__version__,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "duckdb": duckdb.__version__, "numpy": numpy.__version__,
            "pyarrow": pyarrow.__version__}


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, "bano_spark")):
        print(f"perfbench: no bano_spark package under {ROOT}; run from a "
              "full checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-s{args.seed}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    box = machine()
    load_before = load_1m()
    log = OpLog()
    spark = None
    with RssSampler() as rss:
        try:
            t0 = time.perf_counter()
            spark = start_session(work, box["cpus"], box["heap_mb"])
            session_s = time.perf_counter() - t0
            vers = versions(spark)
            wl = workloads.WORKLOADS[args.workload](
                spark, work, args.seed, SIZES[args.workload])
            # inputs are set up SETUP_REPS times (median reported); the
            # session start and the first operation (JIT, codegen, python
            # worker start) are one-time costs and are added once
            reps = []
            for rep in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.setup(rep)
                reps.append(time.perf_counter() - t0)
            t0 = time.perf_counter()
            wl.warmup()
            warm_s = time.perf_counter() - t0
            cpu_t0 = cpu_times()
            if args.trace:
                from bano_spark.operators import pip_join

                tr = Tracer()
                jobs = SparkWork(spark.sparkContext, tr)
                tr.hooks.append(jobs)
                arrow = []

                def traced(i):
                    acc = spark.sparkContext.accumulator(0)
                    pip_join._BATCH_BYTES_ACC = acc
                    try:
                        with tr.span("op", i) as sp:
                            out = wl.traced_op(i, tr)
                    finally:
                        pip_join._BATCH_BYTES_ACC = None
                    arrow.append(acc.value)
                    sp.counts["jobs"], sp.counts["tasks"] = jobs.op_totals(i)
                    return out

                plain, traced_d, rows = timed_loop(wl, args.seconds, log, traced)
                counts = wl.layer_counts() if traced_d else {}
                log_files = max(tr.count_per_op("lineage.write", "log_files").values(),
                                default=0)
                metrics = layer_metrics(tr, counts, plain, traced_d, arrow,
                                        log_files)
                units = PER_LAYER
                tr.dump(os.path.join(work, "spans.jsonl"))
                samples = {"untraced_s": plain, "traced_s": traced_d}
            else:
                plain, _, rows = timed_loop(wl, args.seconds, log)
                samples = {"op_s": plain}
            steal = steal_frac(cpu_t0, cpu_times())
        finally:
            if spark is not None:
                stop_session(spark)
    load_after = load_1m()
    for d in os.listdir(work):  # keep only the small outputs (spans)
        if os.path.isdir(os.path.join(work, d)):
            shutil.rmtree(os.path.join(work, d), ignore_errors=True)

    ok = plain if not args.trace else plain + traced_d
    if not ok:
        print("perfbench: no operation completed", file=sys.stderr)
        return 1
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "seconds": args.seconds, "sizes": SIZES[args.workload], **box,
        "versions": vers, "closed_loop_clients": 1,
        "load_1m_before": load_before, "load_1m_after": load_after,
        "cpu_steal_frac_timed": steal,
        "session_s": session_s, "setup_reps_s": reps, "warmup_s": warm_s,
        "errors": log.errors, "oracle_failures": log.oracle_failures,
        "failed_frac": log.failed_frac, **samples,
    }
    if not args.trace:
        tail_v, tail_pct, n = tail(plain)
        detail["op_s_tail_percentile"] = tail_pct
        detail["op_s_tail_samples"] = n
        metrics = {
            "pages_per_s": rows / sum(plain),
            "op_s_p50": median(plain),
            "op_s_tail": tail_v,
            "peak_rss_mb": rss.peak / 2**20,
            "setup_s": session_s + median(reps) + warm_s,
        }
        units = END_TO_END
    print(json.dumps(detail))
    print(json.dumps({
        "correct": log.failed == 0,
        "attempted": log.attempted,
        "failed": log.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
