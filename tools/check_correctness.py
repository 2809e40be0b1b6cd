"""Local stand-in for the driver's correctness gate: run every
queries() entry on Spark and its oracle_sql() on DuckDB over the same
sf dir, compare row counts + column names + order-insensitive values.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time

sys.path.insert(0, ".")

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                if math.isnan(v):
                    v = "nan"
                else:
                    v = repr(round(v, 9))
            vals.append(str(v))
        out.append("|".join(vals))
    out.sort()
    return out


def connect(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """DuckDB connection with one view per sf table."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check(spark, con, sf_dir: str, name: str, fn, oracle: str | None) -> str:
    """Run one registry pair; return its report line (PASS/FAIL/ok?)."""
    t0 = time.time()
    try:
        df = fn(spark, sf_dir)
        cols = df.columns
        rows = [tuple(r) for r in df.collect()]
    except Exception as ex:
        return f"FAIL {name}: spark error: {ex}"
    if oracle is None:
        return f"ok?  {name}: rows-only check, {len(rows)} rows ({time.time()-t0:.1f}s)"
    try:
        cur = con.execute(oracle)
        ocols = [d[0] for d in cur.description]
        orows = cur.fetchall()
    except Exception as ex:
        return f"FAIL {name}: duckdb error: {ex}"
    if sorted(cols) != sorted(ocols):
        return f"FAIL {name}: columns {sorted(cols)} vs oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"FAIL {name}: rowcount {len(rows)} vs oracle {len(orows)}"
    a, b = canon(rows, cols), canon(orows, ocols)
    if a != b:
        diff = [(x, y) for x, y in zip(a, b) if x != y][:5]
        return f"FAIL {name}: value mismatch; first diffs: {diff}"
    return f"PASS {name}: {len(rows)} rows ({time.time()-t0:.1f}s)"


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from bano_spark.session import cpu_count, get_session

    n = cpu_count()
    spark = get_session("correctness", cpus=n, shuffle_partitions=n)
    con = connect(sf_dir)

    oracles = E.oracle_sql()
    failures = []
    for name, fn in E.queries().items():
        if only and name not in only:
            continue
        line = check(spark, con, sf_dir, name, fn, oracles.get(name))
        print(line)
        if line.startswith("FAIL"):
            failures.append(name)

    print(f"\n{len(failures)} failures" + (f": {failures}" if failures else ""))
    spark.stop()
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
