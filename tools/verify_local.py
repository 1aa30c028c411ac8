#!/usr/bin/env python
"""Run every registered query against its DuckDB oracle locally.

Usage: python tools/verify_local.py [--sf /root/testdata/sf0.001] [--query NAME ...]
Prints one line per query and a summary; exit code 1 on any failure.
"""

from __future__ import annotations

import argparse
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from map_reduce_c_sharp_simulation_multithreaded_spark import oracle as ora
from map_reduce_c_sharp_simulation_multithreaded_spark.plans import registry
from map_reduce_c_sharp_simulation_multithreaded_spark.session import get_spark


# Oracle output types that DuckDB's pandas/Arrow fetch paths materialize
# as float64 (or that otherwise stringify differently from Spark's LONG),
# flipping the driver's value hash even when the local comparator saw
# equal numbers. HUGEINT was the root cause of the two-round
# text_lang_rollup / text_winnowing_fingerprints driver hash FAIL
# (VERDICT.md r3 "What's wrong" #1/#2).
_BANNED_ORACLE_TYPES = ("HUGEINT", "UHUGEINT", "UTINYINT", "USMALLINT",
                        "UINTEGER", "UBIGINT")


def lint_oracle_types(con, oracles) -> list[str]:
    """DESCRIBE every oracle; flag columns with driver-hash-unsafe types.

    Returns a list of "query.column: TYPE" violation strings.
    """
    bad = []
    for name, sql in sorted(oracles.items()):
        if sql is None:
            continue
        try:
            rows = con.execute(f"DESCRIBE {sql}").fetchall()
        except Exception as exc:  # describe failure is itself a finding
            bad.append(f"{name}: DESCRIBE failed: {exc}")
            continue
        for col, ctype, *_ in rows:
            base = ctype.split("(")[0].strip().upper()
            if base in _BANNED_ORACLE_TYPES:
                bad.append(f"{name}.{col}: {ctype}")
    return bad


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.001")
    ap.add_argument("--query", action="append", default=None)
    ap.add_argument("--lint-only", action="store_true",
                    help="run only the oracle DESCRIBE type lint")
    args = ap.parse_args()

    con = ora.duckdb_connect(args.sf)
    qs = registry.all_queries()
    if args.query:
        qs = {n: q for n, q in qs.items() if n in set(args.query)}

    # materialize callable oracles once, against the sf under test
    oracles = {
        n: registry.resolve_oracle(q.oracle, args.sf) for n, q in qs.items()
    }
    lint = lint_oracle_types(con, oracles)
    if lint:
        print("ORACLE TYPE LINT FAILURES (cast these to BIGINT/DOUBLE):")
        for v in lint:
            print(f"    {v}")
        if args.lint_only:
            return 1
    elif args.lint_only:
        print(f"oracle type lint: {len(qs)} queries clean")
        return 0

    spark = get_spark("verify_local")
    failures = list(lint)
    for name, q in sorted(qs.items()):
        t0 = time.time()
        try:
            scols, srows = ora.spark_result(q.fn(spark, args.sf))
            if oracles[name] is None:
                status = "ROWS-ONLY" if srows is not None else "??"
                print(f"{name:45s} {status:10s} rows={len(srows):7d} "
                      f"({time.time()-t0:5.1f}s)")
                continue
            ocols, orows = ora.oracle_result(con, oracles[name])
            res = ora.compare(scols, srows, ocols, orows)
            status = "OK" if res["ok"] else "FAIL"
            print(f"{name:45s} {status:10s} rows={res['rows_spark']:7d} "
                  f"({time.time()-t0:5.1f}s)")
            if not res["ok"]:
                failures.append(name)
                detail = {k: v for k, v in res.items() if k != "first_diffs"}
                print(f"    {detail}")
                for a, b in res.get("first_diffs", []):
                    print(f"    spark : {a}\n    oracle: {b}")
        except Exception:
            failures.append(name)
            print(f"{name:45s} ERROR      ({time.time()-t0:5.1f}s)")
            traceback.print_exc()

    n_query_failures = len([f for f in failures if f in qs])
    print(f"\n{len(qs) - n_query_failures}/{len(qs)} passed"
          + (f"; {len(lint)} oracle-type lint violations" if lint else ""))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
