"""Independent numpy replay of a query whose DuckDB oracle shares its
formula chain with the engine.

When the oracle executes the SAME expression text as the engine (the
hex lattice's cube-rounding chain), a green oracle row proves
cross-engine EXECUTION IDENTITY, not formula correctness. This harness
closes that gap: the query's expected output is recomputed FROM FIRST
PRINCIPLES in numpy/python (nearest hex center by geometry instead of
cube rounding, ring means from the textbook hex distance) and diffed
against the engine's Spark output.

Tolerances: float columns must agree within 2e-6 (libm 1-ulp wobble x
quantization granularity stays far below this; a formula error lands
far above); integer, boolean and string columns must match exactly,
except counts a spec gives a per-key slack.

Usage: python tools/check_kernels.py [sf_dir] [query ...]
Writes a PASS/FAIL line per query; exit 1 on any failure.
"""

from __future__ import annotations

import math
import os
import sys

import numpy as np
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

M31 = 2147483648
FTOL = 2e-6

# ---------------------------------------------------------------- helpers


def _events(sf_dir: str) -> pd.DataFrame:
    return pd.read_parquet(f"{sf_dir}/events.parquet",
                           columns=["event_id", "user_id"])


def _u(ids: np.ndarray, a: int, b: int) -> np.ndarray:
    return (ids * a + b) % M31


def _r6(x):
    # final display rounding; compared under FTOL so half-even vs
    # half-up at the 6th digit is immaterial
    return np.round(np.asarray(x, dtype=np.float64), 6)


# ---------------------------------------------------- wave-4 hex lattice


def replay_hex_kring_smooth(sf_dir: str):
    """Hex binning verified GEOMETRICALLY: each point is assigned to
    the axial cell whose center is nearest in the plane (scanning a
    5x5 candidate neighborhood) — independent of the engines' shared
    cube-rounding formula chain. Ring means then follow the textbook
    hex-distance definition. Fixture points sit strictly off cell
    edges (+0.5/+0.25 offsets), so nearest-center is unambiguous."""
    ids = _events(sf_dir)["event_id"].to_numpy(dtype=np.int64)
    u = _u(ids, 2654435761, 0)
    x = np.where(u % 16 < 10,
                 1000003.0 + (u % 16) * 10000.0,
                 1000003.0 + 10 * 10000.0 + ((u // 16) % 9) * 10000.0) \
        + (u // 144) % 9000 + 0.5
    y = 2000003.0 + (u // 1296000) % 9000 + 0.25
    size = 700.0
    s3 = math.sqrt(3.0)
    fq = (s3 / 3.0 * x - y / 3.0) / size
    fr = (2.0 / 3.0 * y) / size
    q0, r0 = np.floor(fq).astype(np.int64), np.floor(fr).astype(np.int64)
    best_q = np.zeros_like(q0)
    best_r = np.zeros_like(r0)
    best_d = np.full(x.shape, np.inf)
    for dq in range(-2, 3):
        for dr in range(-2, 3):
            q, r = q0 + dq, r0 + dr
            cx = size * s3 * (q + r / 2.0)
            cy = size * 1.5 * r
            d = (x - cx) ** 2 + (y - cy) ** 2
            m = d < best_d
            best_d[m] = d[m]
            best_q[m], best_r[m] = q[m], r[m]
    cells = sorted(set(zip(best_q.tolist(), best_r.tolist())))
    vals = {(q, r): ((q * 7 + r * 13 + 100000000) % 100) / 10.0
            for q, r in cells}
    rows = []
    for q, r in cells:
        ring = [vals[(q + dq, r + dr)]
                for dq in (-1, 0, 1) for dr in (-1, 0, 1)
                if max(abs(dq), abs(dr), abs(dq + dr)) <= 1
                and (q + dq, r + dr) in vals]
        rows.append((q, r, len(ring),
                     float(_r6(sum(ring) / len(ring)))))
    df = pd.DataFrame(rows, columns=["hq", "hr", "n_neighbors",
                                     "ring_mean"])
    return df, {"keys": ["hq", "hr"], "float": {"ring_mean": FTOL}}


# ---------------------------------------------------------------- harness

REPLAYS = {
    "hex_kring_smooth": replay_hex_kring_smooth,
}


def _compare(name, got: pd.DataFrame, exp: pd.DataFrame, spec) -> list[str]:
    errs = []
    if list(got.columns) != list(exp.columns):
        return [f"columns {list(got.columns)} != {list(exp.columns)}"]
    if len(got) != len(exp):
        return [f"row count {len(got)} != {len(exp)}"]
    keys = spec["keys"]
    got = got.sort_values(keys).reset_index(drop=True)
    exp = exp.sort_values(keys).reset_index(drop=True)
    ftol = spec.get("float", {})
    slack = spec.get("slack", {})
    for col in got.columns:
        g, e = got[col], exp[col]
        if col in ftol:
            d = np.abs(g.to_numpy(dtype=np.float64)
                       - e.to_numpy(dtype=np.float64))
            bad = d > max(ftol[col], 0.0) if ftol[col] > 0 else d > 0
            if bad.any():
                i = int(np.argmax(bad))
                errs.append(f"{col}[row {i}]: {g[i]!r} vs {e[i]!r} "
                            f"(|d|={d[i]:.3g} > {ftol[col]})")
        elif col in slack:
            sl = slack[col]
            for i in range(len(got)):
                kk = tuple(exp.loc[i, k] for k in keys)
                kk = tuple(float(v) if isinstance(v, float) else int(v)
                           for v in kk)
                allowed = sl.get(kk, 0)
                if abs(int(g[i]) - int(e[i])) > allowed:
                    errs.append(
                        f"{col}{kk}: {g[i]} vs {e[i]} "
                        f"(slack {allowed})")
        else:
            for i in range(len(got)):
                gv, ev = g[i], e[i]
                if (pd.isna(gv) and pd.isna(ev)):
                    continue
                if gv != ev:
                    errs.append(f"{col}[row {i}]: {gv!r} != {ev!r}")
                    break
    return errs


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    import __spark_entry__ as E
    from bano_spark.session import cpu_count, get_session

    n = cpu_count()
    spark = get_session("kernels", cpus=n, shuffle_partitions=n)
    qs = E.queries()
    failures = []
    for name, replay in REPLAYS.items():
        if only and name not in only:
            continue
        exp, spec = replay(sf_dir)
        got = qs[name](spark, sf_dir).toPandas()
        errs = _compare(name, got, exp, spec)
        if errs:
            failures.append(name)
            print(f"FAIL {name}: " + "; ".join(errs[:4]))
        else:
            print(f"PASS {name}: {len(got)} rows replayed "
                  f"independently (numpy)")
    print(f"\n{len(failures)} failures")
    if failures:
        raise SystemExit(1)


if __name__ == "__main__":
    main()
