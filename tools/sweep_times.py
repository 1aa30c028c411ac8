#!/usr/bin/env python
"""Warm-timing sweep over EVERY registered query — the perf audit the
bench set cannot give (bench times ~50 of 184 queries).

    python tools/sweep_times.py [--passes 2] [--sf DIR] [--json OUT.json]
                                [--collect] [--diff PREV.json]

Prints one line per query, slowest first: warm (min across passes),
cold (first pass), name. Round 5's sweep found a 45 s and a 32 s
outlier that had been invisible for four rounds (SCALE.md "Full-sweep
timing audit"); re-run this after adding query families or making
plan-level changes, and investigate anything whose warm time is out
of line with its plan shape.

Measurement mode (VERDICT.md r6 next-round #4): queries are evaluated
with a NOOP WRITE (``df.write.format("noop")``) by default, not
``.collect()`` — the sweep should record PLAN cost, and driver-side
row materialization polluted the artifact for row-identity projections
(scalar_math_pack: 3.35 s collected, ~1.1 s noop — the plan was never
slow). ``--collect`` restores the old mode; the artifact records which
mode produced it. Streaming queries still execute their micro-batches
either way (the returned frame is the memory-sink table; the stream
runs when the plan builds).

``--json SWEEP_r{N}.json`` writes the full per-query warm/cold map as
a committed machine-readable artifact: the driver's stdout tail
capture (~2 KB) cannot carry 184 timings, so the repo carries them
instead.

``--diff PREV.json`` compares against a prior artifact taken on the
same host and flags any query whose warm time grew >1.5× (prior warm
≥ 0.25 s — below that, constant overhead dominates and ratios are
noise). tests/test_sweep_regressions.py pins the rule on fixtures.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from map_reduce_c_sharp_simulation_multithreaded_spark import buildstats
from map_reduce_c_sharp_simulation_multithreaded_spark.plans import registry
from map_reduce_c_sharp_simulation_multithreaded_spark.session import (
    get_spark,
)

REGRESSION_RATIO = 1.5
REGRESSION_FLOOR_SEC = 0.25


def compare_sweeps(prev: dict, cur: dict) -> list[tuple[str, float, float]]:
    """(name, prev_warm, cur_warm) for every query in BOTH artifacts
    whose warm time grew >REGRESSION_RATIO× from a prior warm of at
    least REGRESSION_FLOOR_SEC. Raw times: compare two sweeps taken on
    the same host."""
    out = []
    pq, cq = prev.get("queries", {}), cur.get("queries", {})
    for name in sorted(set(pq) & set(cq)):
        pw, cw = pq[name]["warm"], cq[name]["warm"]
        if pw >= REGRESSION_FLOOR_SEC and cw > REGRESSION_RATIO * pw:
            out.append((name, pw, cw))
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--json", default=None,
                    help="also write the full warm/cold map to this path")
    ap.add_argument("--collect", action="store_true",
                    help="evaluate via .collect() instead of a noop write")
    ap.add_argument("--diff", default=None,
                    help="prior-round artifact to flag >1.5x warm regressions "
                         "against")
    args = ap.parse_args()

    # pre-JVM load sample: other work already running on the host
    loadavg_start = [round(v, 2) for v in os.getloadavg()]
    spark = get_spark("mrcs_sweep")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup

    def evaluate(df) -> None:
        if args.collect:
            df.collect()
        else:
            df.write.format("noop").mode("overwrite").save()

    # Registration order, so round-over-round diffs compare each query
    # at the same session age (JIT warmth grows along the sweep).
    qs = registry.all_queries()
    res: dict[str, tuple[float, float]] = {}
    builds: dict[str, list[dict]] = {}
    buildstats.drain()  # clear anything a prior import-time path left
    for name, q in qs.items():
        ts: list[float] = []
        for _ in range(args.passes):
            t0 = time.perf_counter()
            try:
                evaluate(q.fn(spark, args.sf))
            except Exception as e:  # keep sweeping; report at the end
                print(f"ERR {name}: {type(e).__name__}: {e}", file=sys.stderr)
                break
            ts.append(time.perf_counter() - t0)
        # one-time memoized BUILD steps (codebook training, the cluster
        # index) self-report via the build ledger: attach them to the
        # query whose invocation paid them, so a cold build in the
        # artifact is labeled as BUILD, never misread as plan cost
        # (VERDICT.md r7 stretch #8 — the FAISS train/add/search split,
        # now explicit in the committed record)
        paid = buildstats.drain()
        if paid:
            builds[name] = paid
        if ts:
            res[name] = (round(min(ts), 3), round(ts[0], 3))

    total = 0.0
    for name, (warm, cold) in sorted(res.items(), key=lambda kv: -kv[1][0]):
        total += warm
        print(f"{warm:8.3f} {cold:8.3f}  {name}")
    print(f"# {len(res)} queries, warm total {total:.1f}s", file=sys.stderr)

    artifact = {
        "sf_dir": args.sf,
        "passes": args.passes,
        "measure": "collect" if args.collect else "noop_write",
        "n_queries": len(res),
        "warm_total_sec": round(total, 3),
        "loadavg_start": loadavg_start,
        "loadavg_end": [round(v, 2) for v in os.getloadavg()],
        "cpu_count": os.cpu_count(),
        "queries": {
            n: {
                "warm": warm,
                "cold": cold,
                **(
                    {
                        "build_sec": round(
                            sum(b["sec"] for b in builds[n]), 3
                        ),
                        "builds": builds[n],
                    }
                    if n in builds
                    else {}
                ),
            }
            for n, (warm, cold) in sorted(res.items())
        },
    }
    if args.json:
        with open(args.json, "w", encoding="utf-8") as fh:
            json.dump(artifact, fh, indent=0, sort_keys=True)
            fh.write("\n")
        print(f"# wrote {args.json}", file=sys.stderr)

    if args.diff:
        with open(args.diff, encoding="utf-8") as fh:
            prev = json.load(fh)
        regressions = compare_sweeps(prev, artifact)
        for name, pw, cw in regressions:
            print(f"REGRESSION {name}: {pw}s -> {cw}s "
                  f"({cw / pw:.2f}x)", file=sys.stderr)
        if regressions:
            return 2
    return 0


if __name__ == "__main__":
    sys.exit(main())
