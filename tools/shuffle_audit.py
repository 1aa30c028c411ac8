#!/usr/bin/env python
"""Per-query shuffle/scan-volume audit over the registered queries —
the hard numbers behind every "one bounded shuffle" claim in SCALE.md.

    python tools/shuffle_audit.py [--sf DIR] [--json SHUFFLE_AUDIT.json]
                                  [--query NAME[,NAME...]]

For each (batch, non-side-effecting) registered query, runs the plan
once with a NOOP WRITE and records the DELTA of completed-stage
metrics from Spark's status REST API: shuffle bytes written/read,
input bytes scanned. Queries run sequentially in one session, so the
delta is attributable; retried/cached stages mean the numbers are
per-EXECUTION, which is exactly what a capacity plan wants.

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
the point). UI is enabled on a fixed local port for the REST reads —
this tool builds its own session and must run alone.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

from map_reduce_c_sharp_simulation_multithreaded_spark.plans import registry
from map_reduce_c_sharp_simulation_multithreaded_spark.session import (
    default_cpus,
    host_speed_probe,
)

UI_PORT = 4097
# side-effecting / sink-measuring queries whose volume is the point
SKIP = {
    "sink_partitioned_roundtrip",
    "source_json_roundtrip",
    "source_orc_roundtrip",
    "join_bucketed_colocated",
    "scd2_merge_customer_segment",
    "pysource_synthetic_agg",
}


def audit_session() -> SparkSession:
    """get_spark's confs with the UI (REST metrics source) enabled."""
    cpus = default_cpus()
    return (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("mrcs_shuffle_audit")
        .config("spark.sql.shuffle.partitions", str(max(cpus, 16)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("MRCS_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "true")
        .config("spark.ui.port", str(UI_PORT))
        .config("spark.ui.retainedStages", "20000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(
                os.environ.get("TMPDIR", "/tmp"), "mrcs_spark_warehouse"
            ),
        )
        .getOrCreate()
    )


def drain_listener_bus(spark: SparkSession) -> None:
    """Block until the listener bus has delivered every queued event
    (ADVICE r11): the UI status store behind ``stage_totals`` is
    populated ASYNCHRONOUSLY — sampling "after" the moment the noop
    write returns can miss stages still in the event queue, silently
    shifting their bytes into the NEXT query's delta."""
    bus = spark.sparkContext._jsc.sc().listenerBus()
    try:
        bus.waitUntilEmpty(30_000)
    except Exception:
        bus.waitUntilEmpty()


def stage_totals(app_id: str) -> dict[str, int]:
    url = (
        f"http://localhost:{UI_PORT}/api/v1/applications/{app_id}"
        f"/stages?status=complete"
    )
    with urllib.request.urlopen(url) as r:
        data = json.load(r)
    return {
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in data),
        "shuffle_read_bytes": sum(s.get("shuffleReadBytes", 0) for s in data),
        "input_bytes": sum(s.get("inputBytes", 0) for s in data),
        # spill is the OOM early-warning the byte columns can't show:
        # a task that spills at sf0.1 under 128 GiB is a task whose
        # per-partition working set is already out of proportion —
        # tests/test_shuffle_audit.py pins the registry to ZERO spill
        "spill_bytes": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0)
            for s in data
        ),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--json", default=None)
    ap.add_argument("--query", default=None)
    args = ap.parse_args()

    spark = audit_session()
    spark.sparkContext.setLogLevel("WARN")
    app_id = spark.sparkContext.applicationId
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    calibration = host_speed_probe(spark)

    only = set(args.query.split(",")) if args.query else None
    results: dict[str, dict] = {}
    for name, q in registry.all_queries().items():
        if only is not None and name not in only:
            continue
        if name in SKIP or name.startswith("stream_"):
            continue
        try:
            drain_listener_bus(spark)
            before = stage_totals(app_id)
            df = q.fn(spark, args.sf)
            if df.isStreaming:
                continue
            df.write.format("noop").mode("overwrite").save()
            drain_listener_bus(spark)
            after = stage_totals(app_id)
        except Exception as exc:  # pragma: no cover - audit continues
            results[name] = {"error": str(exc)[:200]}
            continue
        row = {
            k: after[k] - before[k]
            for k in ("shuffle_write_bytes", "shuffle_read_bytes",
                      "input_bytes", "spill_bytes")
        }
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
        "calibration_sec": calibration,
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
