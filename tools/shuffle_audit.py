#!/usr/bin/env python
"""Per-query shuffle/scan-volume audit over the registered queries —
the hard numbers behind every "one bounded shuffle" claim in SCALE.md.

    python tools/shuffle_audit.py [--sf DIR] [--json SHUFFLE_AUDIT.json]
                                  [--query NAME[,NAME...]]

For each (batch, non-side-effecting) registered query, runs the plan
once with a NOOP WRITE under its own job group and sums that group's
completed stages from Spark's in-process status store (the store
``perfbench/tracing.py`` reads): shuffle bytes written/read, input
bytes scanned, memory+disk spill. The plan is built inside the group,
so jobs a plan runs while building count too; retried/cached stages
mean the numbers are per-EXECUTION, which is exactly what a capacity
plan wants.

The noop write matters (round-11 lesson, learned twice in one
session): a ``count()`` consumer lets Catalyst prune every column the
count doesn't need — pure-projection window queries measured 59 BYTES
of shuffle because their window expressions (and thus the per-key
Exchange) were optimized away entirely. The write shape evaluates
every output column, which is what a pipeline sinking the result
pays. The count() shape is still exercised once per run on ONE query
(pandas_asof_join) as a consumer-shape regression probe: it is the
shape that exposed the cogroup attribute-dedup bug the collect-shaped
oracle harness could never hit.

Why this exists: SCALE.md argues shuffle budgets qualitatively
("broadcast, so the train side never shuffles", "the shuffle carries
8-byte keys"). This artifact turns each claim into a measured number —
e.g. a broadcast-eval decontamination run should show shuffle bytes
near ZERO next to an input-bytes column at corpus size, and a
gram-keyed dedup should shuffle ~rows × key-width, not rows ×
document-width. Reviewed per round; a query whose shuffle volume is
out of line with its plan shape is a bug the timing sweep can't see.

Skips streaming queries (their state-store traffic is STREAM_BENCH's
job) and the side-effecting sink round-trips (their write volume is
the point). The session is ``get_spark``'s; no UI port is opened.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from py4j.protocol import Py4JJavaError
from pyspark.sql import SparkSession

from map_reduce_c_sharp_simulation_multithreaded_spark.plans import registry
from map_reduce_c_sharp_simulation_multithreaded_spark.session import get_spark

# side-effecting / sink-measuring queries whose volume is the point
SKIP = {
    "sink_partitioned_roundtrip",
    "source_json_roundtrip",
    "source_orc_roundtrip",
    "join_bucketed_colocated",
    "scd2_merge_customer_segment",
    "pysource_synthetic_agg",
}
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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--json", default=None)
    ap.add_argument("--query", default=None)
    args = ap.parse_args()

    spark = get_spark("mrcs_shuffle_audit")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    only = set(args.query.split(",")) if args.query else None
    results: dict[str, dict] = {}
    for name, q in registry.all_queries().items():
        if only is not None and name not in only:
            continue
        if name in SKIP or name.startswith("stream_"):
            continue
        try:
            spark.sparkContext.setJobGroup(name, f"shuffle audit: {name}")
            df = q.fn(spark, args.sf)
            if df.isStreaming:
                continue
            df.write.format("noop").mode("overwrite").save()
            row = stage_totals(spark, name)
        except Exception as exc:  # pragma: no cover - audit continues
            results[name] = {"error": str(exc)[:200]}
            continue
        results[name] = row
        print(
            f"{name:42s} shufW {row['shuffle_write_bytes']:>12,d}  "
            f"in {row['input_bytes']:>12,d}"
        )
    # consumer-shape regression probe: the one query whose count()-
    # shaped history matters (see module docstring)
    try:
        registry.all_queries()["pandas_asof_join"].fn(spark, args.sf).count()
        results["_count_shape_probe"] = {"pandas_asof_join": "ok"}
    except Exception as exc:  # pragma: no cover
        results["_count_shape_probe"] = {"pandas_asof_join": str(exc)[:200]}

    artifact = {
        "sf_dir": args.sf,
        "cpu_count": os.cpu_count(),
        "queries": dict(sorted(results.items())),
    }
    if args.json:
        with open(args.json, "w", encoding="utf-8") as fh:
            json.dump(artifact, fh, indent=0, sort_keys=True)
            fh.write("\n")
        print(f"# wrote {args.json}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
