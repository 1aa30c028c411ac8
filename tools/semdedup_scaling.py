#!/usr/bin/env python
"""Measure SemDeDup cell-occupancy scaling: fixed k vs k ∝ n.

VERDICT.md r5 (next-round #3): the fixed-16-cell SemDeDup was the one
measured-superlinear plan — each cell is c× fuller at c× corpus, so
within-cell pair work Σ|cell|² grows c². This script scales the sf0.1
corpus by id-offset replication (the round-5 "Measured scaling"
scheme) and reports, under BOTH codebook schedules, the per-cell
occupancy (mean/max) and Σ|cell|² — the pair-stage work driver.

Replication exactness: a replica carries its source's embedding, so it
lands in the source's argmax cell at ANY k. Per-cell counts at scale c
are therefore (base-vector counts under k(c) centroids) × c — computed
on the 2 000 base vectors via a broadcast centroid join (the
relational assignment shape of embed_label_centroids; the registered
query's literal-expression form is equivalent — asserted at k=16
before the table prints). This sidesteps evaluating a 2 000-literal
codebook expression at 64×; production assignment at large k is a
broadcast codebook join anyway.

Wall-time evidence for the verdict plan itself comes from the
registered queries (fixed k=16 and scaled k=31 at sf0.1, bench/sweep)
plus round 5's 8× fixed-k run (8.72 s, ~5.2× the 1× wall); the
table's Σ|cell|² column is what turns those observations into the
scaling law.

Usage: python tools/semdedup_scaling.py [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import Window
from pyspark.sql import functions as F


def base_cells(emb, k: int):
    """Relational argmax assignment of the base vectors to k
    sha256-derived centroids — the engine's broadcast-codebook path
    (:func:`operators.similarity.assign_cells_broadcast`), which is
    also the production assignment once k outgrows a literal
    expression."""
    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
        _deterministic_centroids,
        assign_cells_broadcast,
    )

    return assign_cells_broadcast(
        emb, "embedding", _deterministic_centroids(k, 64)
    )


def trained_cells(emb, k: int, init: str = "md5"):
    """Relational argmax assignment to a codebook TRAINED at k — the
    production configuration (dedup_semantic_clusters_trained).
    Training runs on the base corpus: replication repeats the same
    unit vectors, so the base distribution IS the scaled distribution
    (only seed ids differ), and the replica-exactness argument above
    holds for any codebook.

    Past k=256 (BROADCAST_ASSIGN_CUTOVER_K — now the trainer's OWN
    default selection, VERDICT.md r8 next-round #6) the per-round
    assignment inside training goes through the broadcast-codebook
    join (the assign_cells_broadcast shape): a
    k=2000×64 literal expression is past the point where codegen-able
    plans end, which is exactly why the 64× trained row was previously
    argued, not measured."""
    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
        assign_cells_broadcast,
        train_kmeans_codebook,
    )

    cents = train_kmeans_codebook(
        emb, "embedding", n_centroids=k, n_iter=3, dim=64,
        id_col="vec_id", init=init,
    )  # assignment mode selected by k (the trainer's cutover default)
    return assign_cells_broadcast(emb, "embedding", cents)


def occupancy(emb, k: int, scale: int, trained: bool = False,
              init: str = "md5"):
    """(n, cells_used, mean, max, sum_sq) of per-cell counts at
    ``scale``× replication (exact: base counts × scale)."""
    cells = trained_cells(emb, k, init) if trained else base_cells(emb, k)
    counts = cells.groupBy("cell").count()
    row = counts.agg(
        F.sum("count").alias("nb"),
        F.count(F.lit(1)).alias("cells"),
        F.avg("count").alias("mean"),
        F.max("count").alias("mx"),
        F.sum(F.col("count") * F.col("count")).alias("ssq"),
    ).collect()[0]
    return (
        row["nb"] * scale,
        row["cells"],
        row["mean"] * scale,
        row["mx"] * scale,
        row["ssq"] * scale * scale,
    )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--cell-size", type=int, default=64)
    ap.add_argument("--init", default="md5", choices=("md5", "farthest"),
                    help="trained-row seeding: md5 uniform (default) or "
                         "the k-means||-shaped farthest-point init "
                         "(seed_kmeans_scalable; scoring selects the "
                         "literal expression or the broadcast "
                         "seed-frame join by k, like the trainer)")
    ap.add_argument("--trained", action="store_true",
                    help="add a k-means-trained-codebook row per scale "
                         "(the dedup_semantic_clusters_trained config, "
                         "VERDICT.md r6 #3) — shows trained occupancy "
                         "tighter than sha-random at the same schedule")
    args = ap.parse_args()

    from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import load_table
    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
        _deterministic_centroids,
        centroid_scores,
    )
    from map_reduce_c_sharp_simulation_multithreaded_spark.session import get_spark

    spark = get_spark("semdedup_scaling")
    base = load_table(spark, args.sf, "embeddings")
    n_base = base.count()

    # sanity: relational assignment == the registered query's literal
    # expression at k=16 (same argmax, same tiebreak)
    scores = centroid_scores(F.col("embedding"), _deterministic_centroids(16, 64))
    expr_cells = base.select(
        "vec_id",
        (F.array_position(scores, F.array_max(scores)).cast("int") - 1).alias("cell"),
    )
    mismatches = (
        base_cells(base, 16)
        .withColumnRenamed("cell", "rcell")
        .join(expr_cells, "vec_id")
        .filter(F.col("rcell") != F.col("cell"))
        .count()
    )
    assert mismatches == 0, f"{mismatches} assignment mismatches at k=16"
    print(f"# relational==expression assignment verified at k=16 "
          f"({n_base} vectors)")

    print(f"{'scale':>5} {'mode':>6} {'k':>6} {'n':>9} {'cells':>6} "
          f"{'mean|cell|':>10} {'max|cell|':>9} {'sum|cell|^2':>13} "
          f"{'ssq/n':>8}")
    for scale in (1, 8, 64):
        n = n_base * scale
        kn = max(16, n // args.cell_size)
        modes = [("fixed", 16, False), ("k∝n", kn, False)]
        if args.trained:
            # trained row at the same schedule, ALL scales: past the
            # k=256 cutover the trainer itself selects the broadcast-
            # codebook join (BROADCAST_ASSIGN_CUTOVER_K default), so the
            # 64× row (k=2000, where sha-random leaves ~43% of cells
            # empty) is measured, not argued (VERDICT.md r7 #2)
            modes.append(("k∝n+km", kn, True))
        if args.trained and args.init == "farthest":
            # past the literal cutover the seeding scores through the
            # broadcast seed-frame join (bit-equal to the literal
            # path, pinned in tests/test_round10_ops.py), so the 64x
            # row is measured like the md5-trained one
            modes.append(("k∝n+far", kn, "farthest"))
        for mode, k, trained in modes:
            nn, cells, mean, mx, ssq = occupancy(
                base, k, scale, trained=bool(trained),
                init=trained if isinstance(trained, str) else "md5",
            )
            print(f"{scale:>4}x {mode:>6} {k:>6} {nn:>9} {cells:>6} "
                  f"{mean:>10.1f} {mx:>9} {ssq:>13} {ssq / nn:>8.1f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
