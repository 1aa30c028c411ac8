#!/usr/bin/env python
"""ANN quality/cost frontier on the planted-cluster corpus
(VERDICT.md r8 stretch #8) — the FAISS tuning loop as a reproducible
artifact, across every index family the engine ships.

Four families, each with its own recall/cost dial, all measured as
mean recall@10 against the same brute-force ground truth:

- ivf_block     — IVF with the analytic 16-block codebook, dial n_probe
- ivf_trained   — IVF with a codebook TRAINED on the corpus
                  (train_kmeans_codebook; one-time cost labeled BUILD
                  through the build ledger), dial n_probe
- ivf_trained_far1 — the same retrieval with a codebook seeded by the
                  k-means||-shaped farthest-point init (init=
                  "farthest") and only ONE Lloyd round vs the md5
                  family's three: the seeding quality claim cashed
                  out as recall per corpus pass
- ivfpq_rerank  — IVF-PQ shortlist (k'=20, compressed-domain ADC) +
                  exact rerank, block coarse codebook, dial n_probe.
                  PQ sub-codebooks stay sha-derived: their magnitude
                  mismatch vs the planted data is exactly the
                  documented PQ worst case — this row IS the plateau
- ivfpq_trained — same retrieval with sub-codebooks TRAINED on the
                  corpus (train_pq_codebooks, BUILD-labeled): the
                  measured answer to the plateau
- ivfpq_residual— FAISS's shipping IVFPQ: codes over x − centroid[cell]
                  with sub-codebooks trained ON residuals and one ADC
                  table per probed cell. On THIS fixture residuals are
                  near-noise (the planted structure IS the coarse
                  codebook), so expect ≈ ivfpq_trained, not a lift
- lsh           — multi-probe hyperplane LSH (8 planes), dial
                  probe_hamming (bucket-flip radius)
- sq8           — scalar-quantized (int8) full scan + exact rerank,
                  dial k_prime (shortlist width). No pruning and no
                  training: the ACCURACY end of the compression trade
                  (int8 cosine is near-lossless at 64 dims), priced at
                  a full compressed-domain scan per query batch

    python tools/ann_probe_curve.py [--sf DIR] [--json ANN_CURVE.json]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from map_reduce_c_sharp_simulation_multithreaded_spark import buildstats
from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    ivfpq_rerank_topk,
    lsh_topk,
    sq8_topk,
    residual_frame,
    train_kmeans_codebook,
    train_pq_codebooks,
)
from map_reduce_c_sharp_simulation_multithreaded_spark.plans.similarity import (
    _block_centroids,
    _recall_frame,
    planted_corpus,
)
from map_reduce_c_sharp_simulation_multithreaded_spark.session import (
    get_spark,
)

N_PROBES = (1, 2, 3, 4, 8, 16)
K = 10


def measure(spark, corpus, truth, search, extra: dict) -> dict:
    """Mean recall@10 of ``search(corpus, queries)`` vs ``truth`` plus
    a warm second-run wall; ``extra`` rides into the record."""
    q = corpus.filter(F.col("vec_id") < 20)

    def run():
        approx = search(corpus, q)
        return (
            _recall_frame(truth, approx)
            .agg(F.avg("recall").alias("r"))
            .collect()[0]["r"]
        )

    recall = run()  # warm-up + value
    t0 = time.perf_counter()
    run()
    warm = time.perf_counter() - t0
    return {
        "recall": round(float(recall), 4),
        "warm_sec": round(warm, 3),
        **extra,
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--json", default=None)
    args = ap.parse_args()

    loadavg_start = [round(v, 2) for v in os.getloadavg()]
    spark = get_spark("mrcs_ann_curve")
    spark.range(1_000_000).selectExpr("sum(id)").collect()

    corpus = planted_corpus(spark, args.sf).cache()
    corpus.count()
    q = corpus.filter(F.col("vec_id") < 20)
    truth = brute_force_topk(q, corpus, "vec_id", "embedding", k=K).select(
        "query_id", "neighbor_id"
    )

    buildstats.drain()
    block = _block_centroids()
    t0 = time.perf_counter()
    trained = train_kmeans_codebook(
        corpus, "embedding", n_centroids=16, n_iter=3, dim=64,
        id_col="vec_id",
    )
    buildstats.record_build(
        "kmeans_codebook", time.perf_counter() - t0, "ann_probe_curve k=16"
    )
    trained_builds = buildstats.drain()

    t0 = time.perf_counter()
    trained_far = train_kmeans_codebook(
        corpus, "embedding", n_centroids=16, n_iter=1, dim=64,
        id_col="vec_id", init="farthest",
    )
    buildstats.record_build(
        "kmeans_codebook", time.perf_counter() - t0,
        "ann_probe_curve k=16 farthest-init n_iter=1",
    )
    trained_far_builds = buildstats.drain()

    def ivf_search(cents):
        return lambda npb: (
            lambda c, q: ivf_topk(
                c, q, "vec_id", "embedding", k=K, n_probe=npb, dim=64,
                centroids=cents,
            )
        )

    t0 = time.perf_counter()
    trained_books = train_pq_codebooks(
        corpus, "embedding", m_sub=8, k_codes=16, dim=64, n_iter=3,
        id_col="vec_id",
    )
    buildstats.record_build(
        "pq_codebooks", time.perf_counter() - t0, "ann_probe_curve m=8 k=16"
    )
    pq_builds = buildstats.drain()

    def pq_search(books, residual=False):
        def mk(npb):
            return lambda c, q: ivfpq_rerank_topk(
                c, q, "vec_id", "embedding", k=K, k_prime=20, n_probe=npb,
                dim=64, m_sub=8, k_codes=16, centroids=block, books=books,
                residual=residual,
            )
        return mk

    t0 = time.perf_counter()
    resid_books = train_pq_codebooks(
        residual_frame(corpus, block, "vec_id", "embedding"),
        "embedding", m_sub=8, k_codes=16, dim=64, n_iter=3,
        id_col="vec_id",
    )
    buildstats.record_build(
        "pq_codebooks", time.perf_counter() - t0,
        "ann_probe_curve residual m=8 k=16",
    )
    resid_builds = buildstats.drain()

    def sq8_search(kp):
        return lambda c, q: sq8_topk(
            c, q, "vec_id", "embedding", k=K, k_prime=kp,
        )

    def lsh_search(radius):
        return lambda c, q: lsh_topk(
            c, q, "vec_id", "embedding", k=K, n_planes=8, dim=64,
            probe_hamming=radius,
        )

    families = {
        "ivf_block": ("n_probe", N_PROBES, ivf_search(block),
                      lambda d: {"cell_fraction": round(d / 16, 4)}, []),
        "ivf_trained": ("n_probe", N_PROBES, ivf_search(trained),
                        lambda d: {"cell_fraction": round(d / 16, 4)},
                        trained_builds),
        # k-means||-seeded codebook at ONE Lloyd round vs the md5-
        # seeded THREE above: the init claim (seed_quality.py, coverage
        # 14/16 vs 10/16) cashed out as retrieval recall per corpus
        # pass — the number a 100 TB training run budgets by
        "ivf_trained_far1": ("n_probe", N_PROBES, ivf_search(trained_far),
                             lambda d: {"cell_fraction": round(d / 16, 4)},
                             trained_far_builds),
        "ivfpq_rerank": ("n_probe", (1, 2, 4, 8), pq_search(None),
                         lambda d: {"cell_fraction": round(d / 16, 4)}, []),
        "ivfpq_trained": ("n_probe", (1, 2, 4, 8), pq_search(trained_books),
                          lambda d: {"cell_fraction": round(d / 16, 4)},
                          pq_builds),
        "ivfpq_residual": ("n_probe", (1, 2, 4, 8),
                           pq_search(resid_books, residual=True),
                           lambda d: {"cell_fraction": round(d / 16, 4)},
                           resid_builds),
        "lsh": ("probe_hamming", (0, 1, 2, 3), lsh_search,
                lambda d: {}, []),
        "sq8": ("k_prime", (10, 15, 20), sq8_search,
                lambda d: {}, []),
    }

    results: dict[str, dict] = {}
    for name, (dial, dials, mk, extra_fn, builds) in families.items():
        curve = {}
        for d in dials:
            curve[str(d)] = measure(spark, corpus, truth, mk(d), extra_fn(d))
            c = curve[str(d)]
            print(f"{name:14s} {dial}={d:2d}  recall {c['recall']:.4f}  "
                  f"warm {c['warm_sec']}s")
        results[name] = {"dial": dial, "curve": curve, "builds": builds}

    artifact = {
        "sf_dir": args.sf,
        "k": K,
        "n_centroids": 16,
        "loadavg_start": loadavg_start,
        "loadavg_end": [round(v, 2) for v in os.getloadavg()],
        "cpu_count": os.cpu_count(),
        "families": results,
    }
    if args.json:
        with open(args.json, "w", encoding="utf-8") as fh:
            json.dump(artifact, fh, indent=0, sort_keys=True)
            fh.write("\n")
        print(f"# wrote {args.json}", file=sys.stderr)
    corpus.unpersist()
    return 0


if __name__ == "__main__":
    sys.exit(main())
