"""Local replica of the driver's correctness gate.

Runs every ``queries()`` entry on Spark and its ``oracle_sql()`` on
DuckDB over the same parquet fixtures, then compares row count, schema
shape, and an order-insensitive value comparison (columns sorted by
name, rows sorted, floats rounded).  Use this before every commit so
oracle drift is caught here, not in CORRECTNESS_r{N}.json.

Usage:  python tools/verify_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import sys
import time
import traceback
from pathlib import Path

import duckdb

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

FIXTURE_TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def _norm_value(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v, 6)
        # The DRIVER's value hash distinguishes -0.0 from +0.0 (r12:
        # q_window_rolling_corr failed on exactly 3 such rows while
        # Python's `-0.0 == 0.0` kept this gate green for 12 rounds).
        # Map -0.0 to a distinct token so the local gate is at least
        # as strict as the driver's.
        if r == 0.0 and math.copysign(1.0, r) < 0.0:
            return "-0.0"
        return r
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    if isinstance(v, (list, tuple)):
        return tuple(_norm_value(x) for x in v)
    if isinstance(v, bytearray):
        return bytes(v)
    return v


def _contains_negzero(x):
    if x == "-0.0":
        return True
    if isinstance(x, tuple):
        return any(_contains_negzero(y) for y in x)
    return False


def _normalize(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [tuple(_norm_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def main() -> int:
    argv = sys.argv[1:]
    sf_dir = argv[0] if argv and "/" in argv[0] else "/root/testdata/sf0.01"
    only = set(a for a in argv if "/" not in a)

    import __spark_entry__ as ent
    from setup_harvest_action_spark.session import get_spark

    spark = get_spark("verify-oracle")
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries, oracles = ent.queries(), ent.oracle_sql()
    n_pass = n_fail = n_rowsonly = 0
    failures = []
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            scols = sdf.columns
            srows = [tuple(r) for r in sdf.collect()]
        except Exception:
            print(f"FAIL  {name}: spark error")
            traceback.print_exc()
            n_fail += 1
            failures.append(name)
            continue
        if name not in oracles:
            print(f"rows  {name}: {len(srows)} rows (no oracle) [{time.time()-t0:.1f}s]")
            n_rowsonly += 1
            continue
        try:
            res = con.execute(oracles[name])
            ocols = [d[0] for d in res.description]
            orows = res.fetchall()
        except Exception as exc:
            print(f"FAIL  {name}: duckdb error: {exc}")
            n_fail += 1
            failures.append(name)
            continue
        problems = []
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(ocols)}")
        if not problems:
            sn, on = _normalize(srows, scols), _normalize(orows, ocols)
            # Even when both sides agree, an output containing -0.0 is
            # fragile (a different SF can flip one engine's sign) —
            # surface it so the query gets the `+ 0.0` normalization.
            for side, rows_n in (("spark", sn), ("duck", on)):
                if any(_contains_negzero(x) for r in rows_n for x in r):
                    print(f"WARN  {name}: -0.0 present in {side} output "
                          f"— add `+ 0.0` after round() on both sides")
            if sn != on:
                bad = sum(1 for a, b in zip(sn, on) if a != b)
                problems.append(f"values differ in {bad}/{len(sn)} rows")
                for a, b in list(zip(sn, on))[:200]:
                    if a != b:
                        problems.append(f"  spark={a}")
                        problems.append(f"  duck ={b}")
                        break
        if problems:
            print(f"FAIL  {name}: " + "; ".join(problems[:1]) + f" [{time.time()-t0:.1f}s]")
            for p in problems[1:]:
                print(f"      {p}")
            n_fail += 1
            failures.append(name)
        else:
            print(f"ok    {name}: {len(srows)} rows [{time.time()-t0:.1f}s]")
            n_pass += 1

    print(f"\n{n_pass} ok, {n_rowsonly} rows-only, {n_fail} fail")
    if failures:
        print("failed:", " ".join(failures))
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
