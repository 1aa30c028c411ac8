#!/usr/bin/env python
"""Warm-timing sweep over EVERY registered query, and the one
per-query measurement loop that bench.py and tools/shuffle_audit.py
also run their queries through.

    python tools/sweep_times.py [--passes 2] [--sf DIR] [--json OUT.json]
                                [--diff PREV.json]

Prints one line per query, slowest first: warm (min across passes),
cold (first pass), name. The bench set is not the perf map: a sweep
over all queries is how outliers invisible to the headline set are
found (SCALE.md "Full-sweep timing audit"). Re-run it after adding
query families or making plan-level changes, and investigate anything
whose warm time is out of line with its plan shape. Any query that
raises is named on stderr and the sweep exits non-zero.

How :func:`run_queries` measures:

- Passes are INTERLEAVED (pass-major): each query is sampled at
  well-separated points in time, so a host-level contention burst
  cannot depress every sample of one query the way back-to-back
  repeats can. The first pass pays JIT/page-cache warmup and one-time
  builds (reported as cold); the min across passes is the steady-state
  number a long-running cluster job would see.
- Each query is evaluated with a NOOP WRITE (``df.write.format("noop")``),
  not ``.collect()``: the record is PLAN cost, and driver-side row
  materialization polluted it for row-identity projections
  (scalar_math_pack: 3.35 s collected, ~1.1 s noop; the plan was never
  slow). A ``count()`` consumer would instead let Catalyst prune every
  column the count doesn't need. Streaming queries execute their
  micro-batches either way (the returned frame is the memory-sink
  table; the stream runs when the plan builds).
- The build ledger (``buildstats``) is drained after every query, so a
  one-time memoized build (codebook training, the cluster index) is
  attached to the query that paid it and labeled BUILD, never misread
  as plan cost.
- ``spark.catalog.clearCache()`` runs after every query, outside the
  timing: plans that ``.cache()`` and never unpersist would otherwise
  hand their cached blocks to later passes and to later queries with
  the same subplan, and the warm number would skip the work it times.
- Each query runs under job group ``name#pass``; pass 0's COMPLETE
  stages are summed from Spark's in-process status store
  (:func:`stage_totals`) into the four byte columns. The plan is built
  inside the group, so jobs it runs while building count too.

``--json SWEEP_r{N}.json`` writes the full per-query map as a
committed machine-readable artifact. ``--diff PREV.json`` compares
against a prior artifact taken on the same host and flags any query
whose warm time grew >1.5× (prior warm ≥ 0.25 s — below that, constant
overhead dominates and ratios are noise). tests/test_sweep_regressions.py
pins the rule on fixtures.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

from map_reduce_c_sharp_simulation_multithreaded_spark import buildstats
from map_reduce_c_sharp_simulation_multithreaded_spark.plans import registry
from map_reduce_c_sharp_simulation_multithreaded_spark.session import (
    get_spark,
)

REGRESSION_RATIO = 1.5
REGRESSION_FLOOR_SEC = 0.25
COLUMNS = ("shuffle_write_bytes", "shuffle_read_bytes", "input_bytes",
           "spill_bytes")


def stage_totals(spark: SparkSession, group: str) -> dict[str, int]:
    """Byte totals over the COMPLETE stages of every job run under job
    group ``group``. A stage shared by two of the group's jobs counts
    once; skipped stages (shuffle output reused from an earlier job)
    are not COMPLETE and add nothing."""
    sc = spark.sparkContext
    # the status store is filled ASYNCHRONOUSLY from the listener bus:
    # read it the moment the action returns and stages still queued
    # there are missed
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    stage_ids: set[int] = set()
    for job in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job)
        stage_ids.update(info.stageIds if info else ())
    out = dict.fromkeys(COLUMNS, 0)
    for stage in stage_ids:
        try:
            sd = store.lastStageAttempt(stage)
        except Py4JJavaError:  # never submitted
            continue
        if sd.status().toString() != "COMPLETE":
            continue
        out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
        out["shuffle_read_bytes"] += sd.shuffleReadBytes()
        out["input_bytes"] += sd.inputBytes()
        # spill is the OOM early-warning the byte columns can't show:
        # a task that spills at sf0.1 is a task whose per-partition
        # working set is already out of proportion —
        # tests/test_shuffle_audit.py pins the registry to ZERO spill
        out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
    return out


def run_queries(
    spark: SparkSession,
    queries: dict[str, registry.QueryFn],
    sf_dir: str,
    passes: int,
) -> dict[str, dict]:
    """Run every query in ``queries`` ``passes`` times, pass-major, and
    return per query ``warm`` (min over passes, s), ``cold`` (first
    pass, s), ``builds`` (when a one-time build ran) and pass 0's
    :data:`COLUMNS`. A query that raises returns ``{"error": ...}`` and
    is not run again. The module docstring says why the loop is shaped
    this way."""
    sc = spark.sparkContext
    times: dict[str, list[float]] = {n: [] for n in queries}
    out: dict[str, dict] = {n: {} for n in queries}
    buildstats.drain()  # clear anything an import-time path left
    try:
        for p in range(passes):
            for name, fn in queries.items():
                if "error" in out[name]:
                    continue
                group = f"{name}#{p}"
                sc.setJobGroup(group, f"measured query {group}")
                t0 = time.perf_counter()
                try:
                    fn(spark, sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception as exc:  # keep measuring the rest
                    traceback.print_exc(file=sys.stderr)
                    out[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
                else:
                    times[name].append(time.perf_counter() - t0)
                    if p == 0:
                        out[name].update(stage_totals(spark, group))
                paid = buildstats.drain()
                if paid and "error" not in out[name]:
                    out[name].setdefault("builds", []).extend(paid)
                spark.catalog.clearCache()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    for name, ts in times.items():
        if "error" not in out[name]:
            out[name] = {"warm": round(min(ts), 3), "cold": round(ts[0], 3),
                         **out[name]}
    return out


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
                    help="also write the full per-query map to this path")
    ap.add_argument("--diff", default=None,
                    help="prior-round artifact to flag >1.5x warm regressions "
                         "against")
    args = ap.parse_args()

    # pre-JVM load sample: other work already running on the host
    loadavg_start = [round(v, 2) for v in os.getloadavg()]
    spark = get_spark("mrcs_sweep")
    spark.range(1_000_000).selectExpr("sum(id)").collect()  # JVM warmup

    # Registration order, so round-over-round diffs compare each query
    # at the same session age (JIT warmth grows along the sweep).
    queries = {n: q.fn for n, q in registry.all_queries().items()}
    rows = run_queries(spark, queries, args.sf, args.passes)
    errors = {n: r["error"] for n, r in rows.items() if "error" in r}
    res = {n: r for n, r in rows.items() if "error" not in r}
    for r in res.values():
        if "builds" in r:
            r["build_sec"] = round(sum(b["sec"] for b in r["builds"]), 3)

    total = 0.0
    for name, r in sorted(res.items(), key=lambda kv: -kv[1]["warm"]):
        total += r["warm"]
        print(f"{r['warm']:8.3f} {r['cold']:8.3f}  {name}")
    print(f"# {len(res)} queries, warm total {total:.1f}s", file=sys.stderr)

    artifact = {
        "sf_dir": args.sf,
        "passes": args.passes,
        "measure": "noop_write",
        "n_queries": len(res),
        "warm_total_sec": round(total, 3),
        "loadavg_start": loadavg_start,
        "loadavg_end": [round(v, 2) for v in os.getloadavg()],
        "cpu_count": os.cpu_count(),
        "queries": dict(sorted(res.items())),
        "errors": errors,
    }
    if args.json:
        with open(args.json, "w", encoding="utf-8") as fh:
            json.dump(artifact, fh, indent=0, sort_keys=True)
            fh.write("\n")
        print(f"# wrote {args.json}", file=sys.stderr)

    for name, err in errors.items():
        print(f"ERR {name}: {err}", file=sys.stderr)
    if args.diff:
        with open(args.diff, encoding="utf-8") as fh:
            prev = json.load(fh)
        regressions = compare_sweeps(prev, artifact)
        for name, pw, cw in regressions:
            print(f"REGRESSION {name}: {pw}s -> {cw}s "
                  f"({cw / pw:.2f}x)", file=sys.stderr)
        if regressions:
            return 2
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
