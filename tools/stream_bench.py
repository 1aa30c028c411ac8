#!/usr/bin/env python
"""Streaming latency/throughput bench (VERDICT.md r8 stretch #7).

The streaming family is correctness-complete (every stream_* query has
a green driver row) but the sweep times only FULL-REPLAY wall — the
registered queries drain one parquet file in ~1 micro-batch, so no
per-batch latency number exists anywhere. This tool makes micro-batch
behavior measurable: it re-chunks ``events.parquet`` into N
time-ranged files, replays them one file per trigger through
representative streaming plans (memory sink), and records per-batch
``triggerExecution`` percentiles + end-to-end row throughput from the
StreamingQuery progress feed — the numbers a Kafka deployment would
alert on.

    python tools/stream_bench.py [--sf DIR] [--batches 20]
                                 [--json STREAM_BENCH.json]

The measured plans MIRROR registered queries (cited per entry) rather
than importing their plan functions: the registered bodies are pinned
to the single-file source in ``streaming/events_stream.py``, whose
source text is folded into the stream queries' plan fingerprints —
reusing it with an injected chunked source would drift every stream_*
fingerprint for a measurement-only tool. The mirrored bodies are the
same operator graphs (same watermark, same windows, same state
shapes); only the source options differ.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import load_table
from map_reduce_c_sharp_simulation_multithreaded_spark.session import (
    conf_scope,
    get_spark,
)

STATE_PARTITIONS = 8  # see run_to_completion's sizing note


def chunk_events(spark, sf_dir: str, n_batches: int) -> str:
    """Rewrite events as ``n_batches`` time-ranged parquet files so
    maxFilesPerTrigger=1 yields a realistic ordered replay (range
    partitioning by ts ≈ arrival order; watermarks tolerate the
    intra-file disorder, as they must)."""
    out = os.path.join(
        tempfile.gettempdir(),
        f"mrcs_stream_replay_{os.path.basename(os.path.normpath(sf_dir))}_{n_batches}",
    )
    shutil.rmtree(out, ignore_errors=True)
    (
        load_table(spark, sf_dir, "events")
        .repartitionByRange(n_batches, "ts")
        .write.mode("overwrite")
        .parquet(out)
    )
    return out


def chunked_stream(spark, chunk_dir: str):
    """File-stream over the chunked replay, one file per micro-batch.
    Mirrors streaming/events_stream.events_stream's schema handling
    (the chunks are written by this process, so ts is already µs)."""
    schema = spark.read.parquet(chunk_dir).schema
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .option("pathGlobFilter", "*.parquet")
        .parquet(chunk_dir)
    )


def _mirror_tumbling(ev):
    """Mirrors stream_tumbling_counts (plans/streaming.py)."""
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("total_value")),
        "complete",
    )


def _mirror_sliding(ev):
    """Mirrors stream_sliding_avg's windowed aggregation."""
    return (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(F.count(F.lit(1)).alias("n"),
             F.round(F.sum("value"), 2).alias("total_value")),
        "complete",
    )


def _mirror_dedup_watermark(ev):
    """Mirrors stream_dedup_within_watermark (bounded-state dedup)."""
    return (
        ev.withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type"),
        "append",
    )


def _mirror_stateful_totals(ev):
    """Reuses the REGISTERED applyInPandasWithState body directly —
    stateful_user_totals takes the stream frame as an argument, so no
    source injection is needed (plans/streaming.py:184)."""
    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.streaming import (
        stateful_user_totals,
    )

    return stateful_user_totals(ev), "update"


def _mirror_interval_join(ev):
    """Mirrors stream_stream_interval_join (state-bounded join)."""
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(F.col("event_id").alias("error_id"),
                F.col("user_id").alias("e_user"),
                F.col("ts").alias("e_ts"))
        .withWatermark("e_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("p_user"),
                F.col("ts").alias("p_ts"))
        .withWatermark("p_ts", "1 hour")
    )
    joined = errors.join(
        purchases,
        (F.col("e_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("e_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("p_ts") <= F.col("e_ts")),
    )
    return joined, "append"


def _mirror_dedup_heavy(ev):
    """STATE-HEAVY dedup (round 12, VERDICT r11 stretch #7): the r11
    RocksDB A/B measured ≤10 MB of state and correctly found in-memory
    faster — but "RocksDB at scale" claims a regime that run never
    entered. This shape enters it: each event fans out ×20 with a
    salted key, and the 10-year watermark means NO key expires within
    the replay, so state grows monotonically to (20 × events) keys —
    the unbounded-dedup worst case a real pipeline hits when its key
    space outlives its watermark."""
    salted = ev.withColumn(
        "salt", F.explode(F.sequence(F.lit(1), F.lit(20)))
    ).withColumn(
        "event_id", F.concat_ws("#", F.col("event_id"), F.col("salt"))
    )
    return (
        salted.withWatermark("ts", "3650 days")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type"),
        "append",
    )


MIRRORS = {
    "tumbling_counts": _mirror_tumbling,
    "sliding_avg": _mirror_sliding,
    "dedup_within_watermark": _mirror_dedup_watermark,
    "stateful_user_totals": _mirror_stateful_totals,
    "interval_join": _mirror_interval_join,
}


def _pctl(xs: list[float], p: float) -> float:
    xs = sorted(xs)
    i = min(len(xs) - 1, max(0, round(p * (len(xs) - 1))))
    return xs[i]


ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def run_one(spark, chunk_dir: str, name: str, build, provider=None) -> dict:
    ev = chunked_stream(spark, chunk_dir)
    frame, mode = build(ev)
    overrides = {"spark.sql.shuffle.partitions": str(STATE_PARTITIONS)}
    if provider:
        overrides["spark.sql.streaming.stateStore.providerClass"] = provider
    with conf_scope(spark, overrides):
        t0 = time.perf_counter()
        q = (
            frame.writeStream.outputMode(mode)
            .format("memory")
            .queryName(f"mrcs_sbench_{name}")
            .start()
        )
    try:
        q.processAllAvailable()
        wall = time.perf_counter() - t0
        progress = [
            p if isinstance(p, dict) else json.loads(str(p))
            for p in q.recentProgress
        ]
    finally:
        q.stop()
    batches = [
        {
            "rows": p.get("numInputRows", 0),
            "ms": p.get("durationMs", {}).get("triggerExecution"),
        }
        for p in progress
        if p.get("numInputRows", 0) > 0
        and p.get("durationMs", {}).get("triggerExecution") is not None
    ]
    durs = [b["ms"] for b in batches]
    rows = sum(b["rows"] for b in batches)
    out = {
        "n_batches": len(batches),
        "input_rows": rows,
        "wall_sec": round(wall, 3),
        "rows_per_sec": round(rows / wall, 1) if wall else None,
        "batch_ms_p50": _pctl(durs, 0.50) if durs else None,
        "batch_ms_p95": _pctl(durs, 0.95) if durs else None,
        "batch_ms_max": max(durs) if durs else None,
    }
    # state-store evidence (VERDICT r10 #6): per-batch buffered-row and
    # state-maintenance numbers from the same progress feed, so a slow
    # query's cost can be attributed to STATE (buffered rows × per-row
    # maintenance) vs PLAN (the stateless part of addBatch)
    st_rows, st_mem, st_maint = [], [], []
    for p in progress:
        if p.get("numInputRows", 0) <= 0:
            continue
        ops = p.get("stateOperators", [])
        if not ops:
            continue
        st_rows.append(sum(o.get("numRowsTotal", 0) for o in ops))
        st_mem.append(sum(o.get("memoryUsedBytes", 0) for o in ops))
        st_maint.append(sum(
            o.get("allUpdatesTimeMs", 0)
            + o.get("allRemovalsTimeMs", 0)
            + o.get("commitTimeMs", 0)
            for o in ops
        ))
    if st_rows:
        out["state_rows_max"] = max(st_rows)
        out["state_rows_last"] = st_rows[-1]
        out["state_mem_mb_max"] = round(max(st_mem) / 1e6, 1)
        out["state_maint_ms_p50"] = _pctl(st_maint, 0.50)
        out["state_maint_ms_p95"] = _pctl(st_maint, 0.95)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--batches", type=int, default=20)
    ap.add_argument("--json", default=None)
    ap.add_argument(
        "--rocksdb", action="store_true",
        help="also A/B the RocksDB state-store provider on the two "
             "heaviest JVM state shapes",
    )
    ap.add_argument(
        "--heavy", action="store_true",
        help="also A/B both providers on a never-expiring ×20-salted "
             "dedup whose state outgrows heap comfort (r11 stretch #7)",
    )
    args = ap.parse_args()

    loadavg_start = [round(v, 2) for v in os.getloadavg()]
    spark = get_spark("mrcs_stream_bench")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    chunk_dir = chunk_events(spark, args.sf, args.batches)
    results = {}
    for name, build in MIRRORS.items():
        # one warm-up replay (JIT + state-store provider init), then
        # the measured replay — matches the bench's warm discipline
        run_one(spark, chunk_dir, name + "_warmup", build)
        results[name] = run_one(spark, chunk_dir, name, build)
        r = results[name]
        print(
            f"{name:24s} {r['n_batches']:3d} batches  "
            f"p50 {r['batch_ms_p50']}ms  p95 {r['batch_ms_p95']}ms  "
            f"max {r['batch_ms_max']}ms  {r['rows_per_sec']} rows/s"
        )
    if args.rocksdb:
        # provider A/B on the two heaviest JVM state shapes — the
        # cluster default (RocksDB + changelog checkpointing) vs the
        # HDFS-backed in-memory provider local mode uses. Same plans,
        # same chunk replay; only providerClass differs. (The pandas
        # shape is excluded: applyInPandasWithState pays Arrow, not
        # the store.)
        for name in ("tumbling_counts", "interval_join"):
            key = name + "_rocksdb"
            run_one(
                spark, chunk_dir, key + "_warmup", MIRRORS[name],
                provider=ROCKSDB_PROVIDER,
            )
            results[key] = run_one(
                spark, chunk_dir, key, MIRRORS[name],
                provider=ROCKSDB_PROVIDER,
            )
            r = results[key]
            print(
                f"{key:24s} {r['n_batches']:3d} batches  "
                f"p50 {r['batch_ms_p50']}ms  p95 {r['batch_ms_p95']}ms  "
                f"max {r['batch_ms_max']}ms  {r['rows_per_sec']} rows/s"
            )

    if args.heavy:
        # state-heavy provider A/B (r11 stretch #7): same replay, a
        # never-expiring ×20-salted dedup — state that cannot live
        # comfortably on-heap, the regime the RocksDB recommendation
        # actually claims. No warm-up replay: a SECOND pass would
        # re-pay the same monotone state growth, and cold includes
        # provider init, which is part of what's being compared.
        for prov_label, prov in (
            ("inmem", None),
            ("rocksdb", ROCKSDB_PROVIDER),
        ):
            key = f"dedup_heavy_x20_{prov_label}"
            results[key] = run_one(
                spark, chunk_dir, key, _mirror_dedup_heavy, provider=prov
            )
            r = results[key]
            print(
                f"{key:24s} {r['n_batches']:3d} batches  "
                f"p50 {r['batch_ms_p50']}ms  p95 {r['batch_ms_p95']}ms  "
                f"max {r['batch_ms_max']}ms  "
                f"state_rows {r.get('state_rows_max')}  "
                f"state_mb {r.get('state_mem_mb_max')}"
            )

    artifact = {
        "sf_dir": args.sf,
        "n_batches": args.batches,
        "state_partitions": STATE_PARTITIONS,
        "loadavg_start": loadavg_start,
        "loadavg_end": [round(v, 2) for v in os.getloadavg()],
        "cpu_count": os.cpu_count(),
        "queries": results,
    }
    if args.json:
        with open(args.json, "w", encoding="utf-8") as fh:
            json.dump(artifact, fh, indent=0, sort_keys=True)
            fh.write("\n")
        print(f"# wrote {args.json}", file=sys.stderr)
    shutil.rmtree(chunk_dir, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
