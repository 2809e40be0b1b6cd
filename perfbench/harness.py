"""Engine-independent measurement helpers: order statistics, in-memory
spans with self-time arithmetic, failure counting, box state and
process-tree memory sampling.

Nothing here imports Spark, so the unit tests under perfbench/tests run
without a JVM.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

TAIL_BEYOND = 10  # samples that must lie beyond the reported tail


def median(xs: list[float]) -> float:
    if not xs:
        raise ValueError("median of no samples")
    s = sorted(xs)
    n = len(s)
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2


def tail(xs: list[float], beyond: int = TAIL_BEYOND) -> tuple[float, float, int]:
    """Value at the highest percentile that still has ``beyond`` samples
    above it, as (value, percentile, n_samples).

    Nearest rank: the sorted sample at index n-1-beyond has exactly
    ``beyond`` samples after it, and sits at percentile 100*(n-beyond)/n.
    With too few samples for any such percentile, the maximum is
    returned at percentile 100 so the caller can see the tail is
    unresolved."""
    if not xs:
        raise ValueError("tail of no samples")
    s = sorted(xs)
    n = len(s)
    if n <= beyond:
        return s[-1], 100.0, n
    return s[n - 1 - beyond], 100.0 * (n - beyond) / n, n


@dataclass
class OpLog:
    """Per-operation outcomes: failures count both raised errors and
    failed oracle checks."""
    attempted: int = 0
    errors: int = 0
    oracle_failures: int = 0

    def record(self, raised: bool) -> None:
        self.attempted += 1
        self.errors += raised

    @property
    def failed(self) -> int:
        return min(self.attempted, self.errors + self.oracle_failures)

    @property
    def failed_frac(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


@dataclass
class Span:
    name: str
    op: int
    start: float
    end: float = 0.0
    parent: int | None = None  # index into Tracer.spans
    counts: dict[str, float] = field(default_factory=dict)

    @property
    def duration(self) -> float:
        return self.end - self.start


def _covered(interval: tuple[float, float],
             parts: list[tuple[float, float]]) -> float:
    """Length of ``interval`` covered by the union of ``parts``."""
    lo, hi = interval
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in parts)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


class Tracer:
    """Spans kept in memory (name, start, end, parent, op id) and written
    out once at the end. ``hooks`` get (event, span_index) on enter/exit
    so an engine can attribute its own work (jobs, tasks) per span."""

    def __init__(self, clock=time.perf_counter):
        self.clock = clock
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.hooks: list = []

    @contextmanager
    def span(self, name: str, op: int):
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, op, self.clock(), parent=parent)
        self.spans.append(sp)
        idx = len(self.spans) - 1
        self._stack.append(idx)
        for h in self.hooks:
            h("enter", idx)
        try:
            yield sp
        finally:
            sp.end = self.clock()
            self._stack.pop()
            for h in self.hooks:
                h("exit", idx)

    def self_time(self, idx: int) -> float:
        sp = self.spans[idx]
        kids = [(c.start, c.end) for c in self.spans if c.parent == idx]
        return sp.duration - _covered((sp.start, sp.end), kids)

    def per_op(self, name: str) -> dict[int, float]:
        """Self time of ``name`` summed per op id."""
        out: dict[int, float] = {}
        for i, sp in enumerate(self.spans):
            if sp.name == name:
                out[sp.op] = out.get(sp.op, 0.0) + self.self_time(i)
        return out

    def count_per_op(self, name: str, key: str) -> dict[int, float]:
        out: dict[int, float] = {}
        for sp in self.spans:
            if sp.name == name and key in sp.counts:
                out[sp.op] = out.get(sp.op, 0.0) + sp.counts[key]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for i, sp in enumerate(self.spans):
                row = asdict(sp)
                row["id"] = i
                row["self"] = self.self_time(i)
                f.write(json.dumps(row) + "\n")


def load_1m() -> float:
    return os.getloadavg()[0]


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs: the steal share between two
    readings is the time the host gave this VM's CPUs to someone else."""
    with open("/proc/stat") as f:
        fields = [int(v) for v in f.readline().split()[1:]]
    # user nice system idle iowait irq softirq steal [guest guest_nice]
    return fields[7], sum(fields[:8])


def steal_frac(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[1] - before[1]
    return (after[0] - before[0]) / total if total else 0.0


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def _pss_bytes(pid: int) -> int:
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_memory_bytes(root: int) -> int:
    """Resident memory of ``root`` and all its descendants, summed as
    proportional set size: a page shared by n processes counts 1/n in
    each. Plain RSS counts the JVM heap twice whenever the JVM
    briefly forks a helper process, which made some runs' peaks double."""
    kids = _children_map()
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        try:
            total += _pss_bytes(pid)
        except OSError:
            pass
        todo.extend(kids.get(pid, ()))
    return total


class RssSampler:
    """Background thread polling this process's tree (JVM + Python
    workers); ``peak`` holds the largest summed resident memory seen."""

    def __init__(self, interval: float = 0.25, root: int | None = None):
        self.interval = interval
        self.root = root or os.getpid()
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_memory_bytes(self.root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_memory_bytes(self.root))
