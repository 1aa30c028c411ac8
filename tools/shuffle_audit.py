#!/usr/bin/env python
"""Per-query shuffle/scan-volume audit over the registered queries —
the hard numbers behind every "one bounded shuffle" claim in SCALE.md.

    python tools/shuffle_audit.py [--sf DIR] [--json SHUFFLE_AUDIT.json]
                                  [--query NAME[,NAME...]]

Runs each (batch, non-side-effecting) registered query once through
``sweep_times.run_queries`` and keeps its byte columns: shuffle bytes
written/read, input bytes scanned, memory+disk spill, summed over the
COMPLETE stages of the query's own job group from Spark's in-process
status store. Jobs a plan runs while building count too; retried or
recomputed stages mean the numbers are per-EXECUTION, which is exactly
what a capacity plan wants.

The noop write matters: a ``count()`` consumer lets Catalyst prune
every column the count doesn't need — pure-projection window queries
measured 59 BYTES of shuffle because their window expressions (and
thus the per-key Exchange) were optimized away entirely. The write
shape evaluates every output column, which is what a pipeline sinking
the result pays. The count() shape is still exercised once per run on
ONE query (pandas_asof_join) as a consumer-shape regression probe: it
is the shape that exposed the cogroup attribute-dedup bug the
collect-shaped oracle harness could never hit.

Why this exists: SCALE.md argues shuffle budgets qualitatively
("broadcast, so the train side never shuffles", "the shuffle carries
8-byte keys"). This artifact turns each claim into a measured number —
e.g. a broadcast-eval decontamination run should show shuffle bytes
near ZERO next to an input-bytes column at corpus size, and a
gram-keyed dedup should shuffle ~rows × key-width, not rows ×
document-width. A query whose shuffle volume is out of line with its
plan shape is a bug the timing sweep can't see.

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

from sweep_times import COLUMNS, run_queries

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


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--json", default=None)
    ap.add_argument("--query", default=None)
    args = ap.parse_args()

    spark = get_spark("mrcs_shuffle_audit")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    only = set(args.query.split(",")) if args.query else None
    selected = {
        name: q.fn
        for name, q in registry.all_queries().items()
        if (only is None or name in only)
        and name not in SKIP
        and not name.startswith("stream_")
    }
    results: dict[str, dict] = {}
    for name, row in run_queries(spark, selected, args.sf, passes=1).items():
        if "error" in row:
            results[name] = row
            continue
        results[name] = {c: row[c] for c in COLUMNS}
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
