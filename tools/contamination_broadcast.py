#!/usr/bin/env python
"""Contamination-span broadcast A/B (round 12, VERDICT r11 advice #4):
measure the broadcast BUILD sizes of the literal-gram shape (round 11)
against the shipped hash-prune → matched-tail-literal-verify shape,
and the wall time of both, on the registered
``contamination_span_overlap`` split (eval = doc_id % 20 == 7).

    python tools/contamination_broadcast.py [--sf DIR] [--json OUT.json]

Broadcast sizes come from the executed plan's ``BroadcastExchange``
SQL metrics (``dataSize``/``numOutputRows``), deduplicated by plan id
and labeled by the build key's data type (bigint = the hash set,
string = literal grams, struct = the verify stage's per-doc position
lists). The claim under test: the eval gram set costs ~58 B/row as
literal 50-char grams but 8 B/row as xxhash64 keys, so the hash-prune
shape cuts the big broadcast ~6-7× while the literal grams that still
ship are only the matched tail — and both shapes return identical
spans (asserted here; the driver oracle replays the literal semantics
independently).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import load_table
from map_reduce_c_sharp_simulation_multithreaded_spark.operators.dedup import (
    _literal_gram_positions,
    _span_islands,
    contamination_spans,
)
from map_reduce_c_sharp_simulation_multithreaded_spark.session import (
    get_spark,
)

L = 50


def broadcast_metrics(df) -> list[dict]:
    """All BroadcastExchange nodes of the EXECUTED plan (post-AQE),
    deduplicated by plan id, with dataSize/numOutputRows metrics."""

    def walk(node):
        yield node
        try:
            ch = node.children()
            for i in range(ch.size()):
                yield from walk(ch.apply(i))
        except Exception:
            pass
        for meth in ("executedPlan", "finalPhysicalPlan", "plan"):
            try:
                yield from walk(getattr(node, meth)())
            except Exception:
                pass

    out, seen = [], set()
    for n in walk(df._jdf.queryExecution().executedPlan()):
        name = n.nodeName()
        if "Broadcast" not in name or "Exchange" not in name:
            continue
        pid = n.id()
        if pid in seen:
            continue
        seen.add(pid)
        vals = {}
        it = n.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            vals[kv._1()] = kv._2().value()
        # label by the build side's first output attribute type
        try:
            key_type = n.output().apply(0).dataType().simpleString()
        except Exception:
            key_type = "?"
        out.append(
            {
                "key_type": key_type,
                "rows": vals.get("numOutputRows"),
                "data_size_bytes": vals.get("dataSize"),
            }
        )
    return out


def literal_variant(train, eval_df):
    """The round-11 shape, reconstructed for the A/B: the full
    distinct LITERAL eval gram set is the (one) broadcast key."""
    ev = (
        _literal_gram_positions(eval_df, "doc_id", "text", L)
        .select("_g")
        .distinct()
    )
    tr = _literal_gram_positions(train, "doc_id", "text", L)
    hits = tr.join(F.broadcast(ev), "_g", "left_semi").select("_id", "_p")
    return _span_islands(hits, L).select(
        F.col("_id").alias("doc_id"),
        "span_start",
        "span_end",
        "span_len",
        "n_windows",
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    spark = get_spark("mrcs_contamination_broadcast")
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    d = load_table(spark, args.sf, "documents").select("doc_id", "text")
    is_eval = F.col("doc_id") % 20 == 7
    train, eval_df = d.filter(~is_eval), d.filter(is_eval)

    rows: dict[str, dict] = {}
    results: dict[str, list] = {}
    for label, mk in (
        ("literal_r11", lambda: literal_variant(train, eval_df)),
        (
            "hash_prune_r12",
            lambda: contamination_spans(train, eval_df, "doc_id", "text", L),
        ),
    ):
        mk().count()  # warm
        df = mk()
        t0 = time.perf_counter()
        res = df.collect()
        wall = round(time.perf_counter() - t0, 3)
        results[label] = sorted(tuple(r) for r in res)
        rows[label] = {
            "wall_sec": wall,
            "spans": len(res),
            "broadcasts": broadcast_metrics(df),
        }
        print(f"{label}: {rows[label]}")
    assert results["literal_r11"] == results["hash_prune_r12"], (
        "shapes disagree — the hardening changed answers"
    )

    artifact = {
        "sf_dir": args.sf,
        "cpu_count": os.cpu_count(),
        "min_len": L,
        "variants": rows,
    }
    if args.json:
        with open(args.json, "w", encoding="utf-8") as fh:
            json.dump(artifact, fh, indent=0, sort_keys=True)
            fh.write("\n")
        print(f"# wrote {args.json}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
