"""Measure k-means seeding quality: md5-uniform vs batched
farthest-point (``init="farthest"``, the k-means|| scan shape) on the
planted-cluster corpus, where ground truth exists — 16 block-sparse
directions, so seed/centroid BLOCK COVERAGE is directly observable.

Usage: python tools/seed_quality.py [--sf /root/testdata/sf0.01]

Reports, for k=16 and n_iter in {0, 1, 3}:
  coverage  — how many of the 16 planted blocks are some centroid's
              dominant block (16 = every cluster got a centroid)
  objective — mean cosine of each vector to its assigned centroid
              (the spherical k-means objective, higher is better)
A uniform sample of 16 seeds misses blocks with probability
1 − 16!/16^16 ≈ 1 (expected distinct blocks ≈ 16(1−(15/16)^16) ≈ 10.3)
and Lloyd cannot split a merged pair later; farthest-point cannot
leave a block uncovered while any covered block holds two seeds
farther apart than the uncovered one.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

sys.path.insert(0, __file__.rsplit("/", 2)[0])

from pyspark.sql import functions as F  # noqa: E402

from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import (  # noqa: E402
    load_table,
)
from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (  # noqa: E402
    centroid_scores,
    seed_kmeans_scalable,
    train_kmeans_codebook,
)
from map_reduce_c_sharp_simulation_multithreaded_spark.plans.similarity import (  # noqa: E402
    _planted_embedding,
)
from map_reduce_c_sharp_simulation_multithreaded_spark.session import (  # noqa: E402
    get_spark,
)


def dominant_block(c: list[float], width: int = 4) -> int:
    sums = [
        sum(c[b * width:(b + 1) * width]) for b in range(len(c) // width)
    ]
    return max(range(len(sums)), key=lambda b: sums[b])


def objective(df, cents) -> float:
    best = F.array_max(centroid_scores(F.col("embedding"), cents))
    return df.agg(F.avg(best)).collect()[0][0]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.01")
    ap.add_argument("--k", type=int, default=16)
    args = ap.parse_args()
    spark = get_spark()
    planted = (
        load_table(spark, args.sf, "embeddings")
        .select(
            "vec_id",
            _planted_embedding(F.col("vec_id")).alias("embedding"),
        )
        .cache()
    )
    planted.count()
    out = {}
    for init in ("md5", "farthest"):
        t0 = time.time()
        if init == "farthest":
            seeds = seed_kmeans_scalable(
                planted, "embedding", args.k, id_col="vec_id"
            )
        else:
            seeds = train_kmeans_codebook(
                planted, "embedding", args.k, n_iter=0, id_col="vec_id",
            )
        seed_sec = time.time() - t0
        row = {
            "seed_sec": round(seed_sec, 2),
            "seed_coverage": len({dominant_block(c) for c in seeds}),
        }
        for n_iter in (0, 1, 3):
            t0 = time.time()
            cents = train_kmeans_codebook(
                planted, "embedding", args.k, n_iter=n_iter,
                id_col="vec_id", init=init,
            )
            row[f"iter{n_iter}"] = {
                "coverage": len({dominant_block(c) for c in cents}),
                "objective": round(objective(planted, cents), 4),
                "train_sec": round(time.time() - t0, 2),
            }
        out[init] = row
    print(json.dumps(out, indent=2))


if __name__ == "__main__":
    main()
