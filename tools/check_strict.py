"""Strict full-registry compare (VERDICT r4 item 7, the r2
discipline): run every queries() entry on Spark and its oracle_sql()
on DuckDB and compare rows at TYPE + repr LEVEL WITH NO FLOAT
ROUNDING — the local gate's canon() rounds floats to 9 digits
(tools/check_correctness.py:31) while the driver hashes raw values,
so this is the compare that proves the driver's hash can't diverge.

Each cell is canonicalized as f"{type_tag}:{repr(value)}" where
repr of a float is the full 17-significant-digit round-trip repr —
any cross-engine double difference, sign-of-zero difference, or
int-vs-float type drift fails the query.

Usage: python tools/check_strict.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, ".")

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def _tag(v) -> str:
    if v is None:
        return "N:"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        if math.isnan(v):
            return "f:nan"
        return f"f:{v!r}"  # full repr — no rounding, -0.0 != 0.0
    if isinstance(v, (list, tuple)):
        return "l:[" + ",".join(_tag(x) for x in v) + "]"
    if isinstance(v, bytes):
        return f"y:{v.hex()}"
    return f"s:{v}"


def canon(rows, cols):
    dups = sorted({c for c in cols if cols.count(c) > 1})
    if dups:
        # columns are paired across engines by name: a repeated name
        # would pair them arbitrarily
        raise ValueError(f"duplicate output column names {dups}")
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = ["|".join(_tag(r[i]) for i in order) for r in rows]
    out.sort()
    return out


def first_diff(a, b) -> int:
    """Index of the first differing canonical row; when one side is a
    prefix of the other, the first row past the shorter side."""
    return next((i for i, (x, y) in enumerate(zip(a, b)) if x != y),
                min(len(a), len(b)))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from bano_spark.session import get_session

    spark = get_session("strict", cpus=8, shuffle_partitions=8)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = E.queries()
    oracles = E.oracle_sql()
    failures, skipped = [], 0
    for name, fn in qs.items():
        if only and name not in only:
            continue
        if name not in oracles:
            skipped += 1
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            s_cols = df.columns
            s_rows = [tuple(r) for r in df.collect()]
            cur = con.execute(oracles[name])
            d_cols = [c[0] for c in cur.description]
            d_rows = cur.fetchall()
        except Exception as e:
            failures.append(name)
            print(f"ERR  {name}: {type(e).__name__}: "
                  f"{str(e).splitlines()[0][:160]}")
            continue
        dt = time.time() - t0
        if sorted(s_cols) != sorted(d_cols):
            failures.append(name)
            print(f"FAIL {name}: columns {sorted(s_cols)} "
                  f"!= {sorted(d_cols)}")
            continue
        try:
            a, b = canon(s_rows, s_cols), canon(d_rows, d_cols)
        except ValueError as e:
            failures.append(name)
            print(f"ERR  {name}: {e}")
            continue
        if a != b:
            failures.append(name)
            bad = first_diff(a, b)
            print(f"FAIL {name}: {len(a)} vs {len(b)} rows; first "
                  f"diff row {bad}:")
            if bad < len(a):
                print(f"  spark:  {a[bad][:300]}")
            if bad < len(b):
                print(f"  duckdb: {b[bad][:300]}")
        else:
            print(f"PASS {name}: {len(a)} rows strict "
                  f"type+repr ({dt:.1f}s)")
    print(f"\n{len(failures)} failures"
          + (f", {skipped} without oracle skipped" if skipped else ""))
    if failures:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
