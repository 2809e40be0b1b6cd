"""Tests for the benchmark's own logic; no Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

import math
import os
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import oracles
import workloads
from bano_spark import synth
from bano_spark.geo import tiles
from bano_spark.sources import pages as P
from harness import OpLog, Tracer, median, steal_frac, tail, tree_memory_bytes


class FakeClock:
    def __init__(self):
        self.t = 0.0

    def __call__(self):
        return self.t


def test_self_time_subtracts_children():
    clk = FakeClock()
    tr = Tracer(clock=clk)
    with tr.span("op", 0):
        clk.t = 1.0
        with tr.span("a", 0):
            clk.t = 3.0
        with tr.span("b", 0):
            clk.t = 4.0
            with tr.span("b.inner", 0):
                clk.t = 4.5
            clk.t = 6.0
        clk.t = 10.0
    names = [s.name for s in tr.spans]
    assert names == ["op", "a", "b", "b.inner"]
    assert tr.spans[2].parent == 0 and tr.spans[3].parent == 2
    # a covers [1, 3], b covers [3, 6] and b.inner [4, 4.5] inside b
    assert tr.self_time(0) == pytest.approx(10.0 - 2.0 - 3.0)
    assert tr.self_time(2) == pytest.approx(3.0 - 0.5)
    assert tr.self_time(3) == pytest.approx(0.5)
    assert tr.per_op("op") == {0: pytest.approx(5.0)}


def test_self_time_counts_overlapping_children_once():
    clk = FakeClock()
    tr = Tracer(clock=clk)
    with tr.span("op", 3):
        clk.t = 5.0
    tr.spans.append(type(tr.spans[0])("x", 3, 1.0, 3.0, parent=0))
    tr.spans.append(type(tr.spans[0])("y", 3, 2.0, 4.0, parent=0))
    assert tr.self_time(0) == pytest.approx(5.0 - 3.0)


def test_per_op_sums_repeated_spans_and_counts():
    clk = FakeClock()
    tr = Tracer(clock=clk)
    for op in (0, 1):
        for _ in range(2):
            with tr.span("layer", op) as s:
                clk.t += 1.5
                s.counts["rows"] = 10
    assert tr.per_op("layer") == {0: 3.0, 1: 3.0}
    assert tr.count_per_op("layer", "rows") == {0: 20, 1: 20}


def test_tracer_hooks_see_enter_and_exit():
    tr = Tracer()
    seen = []
    tr.hooks.append(lambda ev, idx: seen.append((ev, tr.spans[idx].name)))
    with tr.span("op", 0):
        with tr.span("a", 0):
            pass
    assert seen == [("enter", "op"), ("enter", "a"), ("exit", "a"), ("exit", "op")]


def test_tail_keeps_ten_samples_beyond():
    xs = [float(i) for i in range(1, 31)]  # 30 samples
    value, pct, n = tail(xs)
    assert n == 30
    assert value == 20.0  # 21..30 lie beyond
    assert sum(x > value for x in xs) == 10
    assert pct == pytest.approx(100 * 20 / 30)


def test_tail_with_eleven_samples_is_the_minimum():
    xs = [5.0, 1.0, 3.0, 2.0, 4.0, 9.0, 8.0, 7.0, 6.0, 11.0, 10.0]
    assert tail(xs) == (1.0, pytest.approx(100 / 11), 11)


def test_tail_with_too_few_samples_falls_back_to_max():
    value, pct, n = tail([3.0, 1.0, 2.0])
    assert (value, pct, n) == (3.0, 100.0, 3)


def test_median():
    assert median([3.0, 1.0, 2.0]) == 2.0
    assert median([4.0, 1.0, 2.0, 3.0]) == 2.5
    with pytest.raises(ValueError):
        median([])


def test_failed_frac_counts_errors_and_oracle_failures():
    log = OpLog()
    for raised in (False, True, False, False):
        log.record(raised)
    log.oracle_failures += 1
    assert log.attempted == 4
    assert log.failed == 2
    assert log.failed_frac == 0.5


def test_failed_never_exceeds_attempted():
    log = OpLog()
    log.record(raised=True)
    log.oracle_failures += 1  # a check on a failed op must not double count
    assert log.failed == 1 and log.failed_frac == 1.0


def test_seeded_ids_are_reproducible_distinct_and_in_range():
    a = workloads.seeded_ids(np.random.default_rng(7), 5000)
    b = workloads.seeded_ids(np.random.default_rng(7), 5000)
    c = workloads.seeded_ids(np.random.default_rng(8), 5000)
    assert np.array_equal(a, b) and not np.array_equal(a, c)
    assert len(np.unique(a)) == 5000
    assert a.min() >= 0 and a.max() < 2**31


def test_change_batch_is_seeded_and_keeps_points_in_their_commune():
    base = workloads.base_points(np.random.default_rng(1), 4000)
    kw = dict(communes=2, frac=0.1, move_radius=300, remove_share=0.3)
    a, na = workloads.change_batch(base, np.random.default_rng(2), **kw)
    b, nb = workloads.change_batch(base, np.random.default_rng(2), **kw)
    pd.testing.assert_frame_equal(a, b)
    assert na == nb and 0 < na and len(a) < len(base)
    slot = np.array([workloads._SLOTS.index(c) for c in a["insee_com"]])
    x0 = synth.REG0 + slot * synth.W
    assert ((a["x"] > x0) & (a["x"] < x0 + synth.W)).all()


# --- oracles on tiny inputs -------------------------------------------------

def _tiny_pages(tmp_path, ids):
    kind = np.array(P.KINDS)[ids % len(P.KINDS)]
    text = "ADDRESSES " + pd.Series(kind) + "\n" + P._page_body(ids) + "\n"
    d = tmp_path / "pages"
    d.mkdir()
    pq.write_table(pa.table({"text": text}), d / "part-0.parquet")
    return str(d)


def _python_rollup(ids):
    """Per level-8 commune (n, n_tiles), straight from the point math."""
    _, xs, ys = P._derive_points(ids)
    size = tiles.cell_size(tiles.DEFAULT_ZOOM)
    out = {}
    for x, y in zip(xs, ys):
        com = next(c[0] for c in synth.COMMUNES
                   if c[2] == 8 and c[3] <= x < c[5] and c[4] <= y < c[6])
        tile = (math.floor((x - tiles.ORIGIN) / size),
                math.floor((-tiles.ORIGIN - y) / size))
        n, ts = out.get(com, (0, set()))
        out[com] = (n + 1, ts | {tile})
    return {k: (n, len(ts)) for k, (n, ts) in out.items()}


def test_rebuild_oracle_matches_python_and_rejects_perturbed_output(tmp_path):
    ids = np.arange(1, 400, 7, dtype=np.int64)
    expected = oracles.rebuild_rollup(_tiny_pages(tmp_path, ids))
    truth = _python_rollup(ids)
    assert expected == truth
    rows = [(k, n, t) for k, (n, t) in truth.items()]
    assert oracles.rollup_matches(expected, rows)
    k, n, t = rows[0]
    assert not oracles.rollup_matches(expected, [(k, n + 1, t)] + rows[1:])
    assert not oracles.rollup_matches(expected, rows[1:])


def test_export_oracle_rejects_perturbed_lines(tmp_path):
    ids = np.arange(0, 64, dtype=np.int64)
    lines = oracles.export_lines(_tiny_pages(tmp_path, ids))
    assert lines and lines == sorted(lines)
    assert all(len(l.split(",")) == 8 for l in lines)
    out = tmp_path / "export"
    out.mkdir()
    (out / "part-00000").write_text("\n".join(lines) + "\n")
    assert oracles.read_text_lines(str(out)) == lines
    (out / "part-00000").write_text("\n".join(lines[:-1] + [lines[-1] + "0"]) + "\n")
    assert oracles.read_text_lines(str(out)) != lines


def test_store_oracle_rejects_a_stale_partition(tmp_path):
    pts = workloads.base_points(np.random.default_rng(3), 2000)
    snap = str(tmp_path / "v0")
    workloads.write_snapshot(pts, snap)
    truth = oracles.points_rollup(snap)
    assert sum(n for n, _ in truth.values()) == len(pts)
    store = tmp_path / "store"
    for k, (n, t) in truth.items():
        d = store / f"poly_insee={k}"
        d.mkdir(parents=True)
        pq.write_table(pa.table({"n": [n], "n_tiles": [t]}), d / "part-0.parquet")
    assert oracles.read_store(str(store)) == truth
    k = sorted(truth)[0]
    n, t = truth[k]
    pq.write_table(pa.table({"n": [n - 1], "n_tiles": [t]}),
                   store / f"poly_insee={k}" / "part-0.parquet")
    assert oracles.read_store(str(store)) != truth


def test_tree_memory_counts_shared_pages_once():
    import subprocess
    import sys
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(30)"])
    try:
        time.sleep(0.5)
        alone = tree_memory_bytes(child.pid)
        both = tree_memory_bytes(os.getpid())
        assert 0 < alone < both
    finally:
        child.kill()
        child.wait(timeout=10)


def test_steal_frac():
    assert steal_frac((10, 1000), (30, 1200)) == 0.1
    assert steal_frac((10, 1000), (10, 1000)) == 0.0
