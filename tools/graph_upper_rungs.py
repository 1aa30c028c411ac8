#!/usr/bin/env python
"""Upper-rung shuffle ladders for the adjudicated graph family
(VERDICT r13 next-round #4).

Round 13 proved `graph_pagerank_directed`'s two-point sf0.01→sf0.1
exponent (1.60) is a cheap-lower-rung artifact, not a growth law, by
measuring pagerank over k disjoint copies of the sf0.1 graph: x2→x4
shuffle grew exactly 2.00× for 2.00× edges. `graph_pagerank_suppliers`
(1.27) and `graph_bfs_supplier_hops` (1.21) carried the same
adjudication by family argument only. This tool runs the SAME k-copies
probe on both:

- **pagerank_suppliers**: the symmetrized customer↔supplier purchase
  graph, k disjoint copies made by prefixing the string node ids with
  the copy index (`"0|c:123"`), 5 power iterations at the plan's loop
  width (8).
- **bfs**: the min-2 co-supply graph (bigint supplier keys), k copies
  by key offset (+10M per copy), and — crucially — one BFS SOURCE per
  copy so the frontier work scales with k (a single source would only
  ever explore its own copy and the ladder would measure nothing).

Each rung materializes the copied edge frame with `localCheckpoint`
BEFORE the measured region, so the shuffle delta covers the iterative
loop, not the edge derivation; `spark.catalog.clearCache()` between
rungs stops pagerank's internal edge cache leaking across rungs.
Shuffle bytes come from `tools/sweep_times.stage_totals`: each
rung's loop runs under its own job group, whose completed stages are
summed from Spark's in-process status store.

Usage: python tools/graph_upper_rungs.py [--json SHUFFLE_SCALING.json]
(with --json, rows are merged into the artifact under
`pagerank_suppliers_upper_rungs` / `bfs_upper_rungs`).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import functions as F

from sweep_times import stage_totals

from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import (
    load_table,
)
from map_reduce_c_sharp_simulation_multithreaded_spark.plans.advanced import (
    _loop_partitions,
    pagerank,
)
from map_reduce_c_sharp_simulation_multithreaded_spark.session import get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = "/root/testdata/sf0.1"
BFS_OFFSET = 10_000_000  # far above any sf0.1 suppkey


def _measure(spark, group: str, action) -> dict[str, int]:
    spark.sparkContext.setJobGroup(group, f"upper rung: {group}")
    action()
    return stage_totals(spark, group)


def supplier_edges(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    o = load_table(spark, SF_DIR, "orders")
    cs = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            F.concat(F.lit("c:"), F.col("o_custkey")).alias("src"),
            F.concat(F.lit("s:"), F.col("l_suppkey")).alias("dst"),
        )
        .distinct()
    )
    return cs.union(
        cs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def bfs_edges(spark):
    from pyspark.sql import Window

    li = load_table(spark, SF_DIR, "lineitem")
    sp = li.select(
        F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p")
    ).distinct()
    ranked = sp.withColumn(
        "rn", F.row_number().over(Window.partitionBy("p").orderBy("s"))
    )
    a = ranked.filter(F.col("rn") == 1).select("p", F.col("s").alias("src"))
    b = ranked.filter(F.col("rn") == 2).select("p", F.col("s").alias("dst"))
    pair = a.join(b, "p").select("src", "dst")
    return pair.union(
        pair.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()


def _string_copies(edges, k: int):
    parts = [
        edges.select(
            F.concat(F.lit(f"{i}|"), "src").alias("src"),
            F.concat(F.lit(f"{i}|"), "dst").alias("dst"),
        )
        for i in range(k)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


def _offset_copies(edges, k: int):
    parts = [
        edges.select(
            (F.col("src") + F.lit(i * BFS_OFFSET)).alias("src"),
            (F.col("dst") + F.lit(i * BFS_OFFSET)).alias("dst"),
        )
        for i in range(k)
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.union(p)
    return out


def _bfs_multi_source(spark, edges, sources, max_hops: int = 6):
    """graph_bfs_supplier_hops' frontier loop (plans/advanced.py
    bfs_hops), generalized to seed one source PER COPY so the ladder's
    frontier volume scales with k."""
    visited = spark.createDataFrame(
        [(s, 0) for s in sources], "node long, dist int"
    )
    frontier = visited.select("node")
    with _loop_partitions(spark, 8):
        for hop in range(1, max_hops + 1):
            nxt = (
                frontier.join(edges, frontier.node == edges.src)
                .select(F.col("dst").alias("node"))
                .distinct()
                .join(visited, "node", "left_anti")
                .withColumn("dist", F.lit(hop))
                .localCheckpoint()
            )
            if nxt.isEmpty():
                break
            visited = visited.union(nxt).localCheckpoint()
            frontier = nxt.select("node")
    return visited


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--json", default=None,
                    help="SHUFFLE_SCALING.json to merge the rows into")
    ap.add_argument("--rungs", default="1,2,4")
    args = ap.parse_args()
    ks = [int(x) for x in args.rungs.split(",")]

    spark = get_spark("mrcs_shuffle_audit")
    out: dict[str, dict] = {}

    base_pr = supplier_edges(spark)
    pr_rungs: dict[str, dict] = {}
    for k in ks:
        spark.catalog.clearCache()
        ek = _string_copies(base_pr, k).localCheckpoint()
        n_edges = ek.count()
        delta = _measure(
            spark,
            f"pagerank_suppliers_x{k}",
            lambda ek=ek: pagerank(ek, n_iter=5, loop_partitions=8)
            .orderBy(F.col("rank").desc(), F.col("node"))
            .limit(20)
            .collect(),
        )
        pr_rungs[f"x{k}"] = {
            "edges": n_edges,
            "shuffle_bytes_5iter": delta["shuffle_write_bytes"],
        }
        print(f"pagerank_suppliers x{k}: edges={n_edges} "
              f"shuffle={delta['shuffle_write_bytes']:,d}")
    out["pagerank_suppliers_upper_rungs"] = {
        "note": (
            "k-copies probe on the symmetrized cust-supp graph (string "
            "node ids prefixed per copy; edges scale exactly k). Same "
            "method as pagerank_upper_rungs; the upper-rung "
            "(x2->x4) shuffle ratio is the linear-asymptote check for "
            "the 1.27 two-point exponent"
        ),
        "rungs": pr_rungs,
    }

    base_bfs = bfs_edges(spark)
    bfs_rungs: dict[str, dict] = {}
    for k in ks:
        spark.catalog.clearCache()
        ek = _offset_copies(base_bfs, k).localCheckpoint()
        n_edges = ek.count()
        sources = [1 + i * BFS_OFFSET for i in range(k)]
        delta = _measure(
            spark,
            f"bfs_x{k}",
            lambda ek=ek, s=sources: _bfs_multi_source(spark, ek, s)
            .count(),
        )
        bfs_rungs[f"x{k}"] = {
            "edges": n_edges,
            "shuffle_bytes_6hop": delta["shuffle_write_bytes"],
        }
        print(f"bfs x{k}: edges={n_edges} "
              f"shuffle={delta['shuffle_write_bytes']:,d}")
    out["bfs_upper_rungs"] = {
        "note": (
            "k-copies probe on the min-2 co-supply graph (bigint keys "
            "offset +10M per copy, one BFS source per copy so frontier "
            "work scales with k). Upper-rung shuffle ratio is the "
            "linear-asymptote check for the 1.21 two-point exponent"
        ),
        "rungs": bfs_rungs,
    }

    if args.json:
        with open(args.json, encoding="utf-8") as fh:
            artifact = json.load(fh)
        artifact.update(out)
        with open(args.json, "w", encoding="utf-8") as fh:
            json.dump(artifact, fh, indent=0, sort_keys=True)
            fh.write("\n")
        print(f"# merged upper-rung rows into {args.json}", file=sys.stderr)
    return 0


if __name__ == "__main__":
    sys.exit(main())
