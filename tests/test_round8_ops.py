"""Round-8 operator tests: broadcast-assign k-means training, the
composed multimodal near-dup pipeline, and the ANN recall@k query.

Pins the contracts VERDICT.md r7 asked for (next-round #2, stretch
#7, debut quality): training through the broadcast-codebook join is
bit-identical to the literal-expression trainer (which is what makes
the 64× trained-occupancy measurement in tools/semdedup_scaling.py a
measurement of the SAME configuration the registered query runs),
the multimodal pipeline's keep-best decision is exactly one canonical
per fingerprint bucket, and recall@k is measuring a real retrieval
gap (bounded, non-trivial ground truth).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import load_table
from map_reduce_c_sharp_simulation_multithreaded_spark.plans import registry


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_broadcast_assign_training_equals_literal(spark, sf_dir):
    """train_kmeans_codebook(broadcast_assign=True) must produce the
    IDENTICAL codebook as the literal-expression path at the same
    (seeds, k, n_iter, grid): the dot is the same sequential zip_with
    fold, the argmax tiebreak is first-max == max_by(score, −cell),
    and the sum grid absorbs the only legal difference (partial-agg
    merge order in the per-(cell, position) sums). This equality is
    what lets the 64× trained-occupancy row (k=2000, trained via the
    broadcast path — a 128k-literal expression otherwise) stand in
    for the registered query's configuration."""
    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
        train_kmeans_codebook,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    for k in (8, 31):
        literal = train_kmeans_codebook(
            emb, "embedding", n_centroids=k, n_iter=3, dim=64,
            id_col="vec_id",
        )
        broadcast = train_kmeans_codebook(
            emb, "embedding", n_centroids=k, n_iter=3, dim=64,
            id_col="vec_id", broadcast_assign=True,
        )
        assert literal == broadcast, f"codebooks diverge at k={k}"


def test_multimodal_pipeline_keep_best_contract(spark, sf_dir):
    """Exactly one keep=1 per fingerprint bucket; the canonical doc is
    the bucket's max-bytes (doc_id-tiebreak) member; bucket sizes sum
    to the corpus; keeps == distinct fingerprints."""
    q = registry.all_queries()["multimodal_pipeline_neardup"]
    out = q.fn(spark, sf_dir).cache()
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert out.count() == n_docs

    per_bucket = (
        out.groupBy("fingerprint")
        .agg(
            F.sum("keep").alias("n_keep"),
            F.count(F.lit(1)).alias("n"),
            F.max("bucket_size").alias("bs"),
            F.min("bucket_size").alias("bs2"),
            F.countDistinct("canonical_doc_id").alias("n_canon"),
        )
        .collect()
    )
    for r in per_bucket:
        assert r["n_keep"] == 1, f"bucket {r} keeps != 1"
        assert r["bs"] == r["bs2"] == r["n"], f"bucket_size wrong: {r}"
        assert r["n_canon"] == 1, f"canonical not constant in bucket: {r}"

    # the kept row IS the canonical row, and it is max-bytes-first
    kept = out.filter(F.col("keep") == 1)
    assert kept.filter(F.col("doc_id") != F.col("canonical_doc_id")).count() == 0
    best = (
        out.groupBy("fingerprint")
        .agg(F.max_by("doc_id", F.struct("n_bytes", (-F.col("doc_id")).alias("nd"))).alias("best_id"))
    )
    mism = (
        kept.join(best, "fingerprint")
        .filter(F.col("doc_id") != F.col("best_id"))
        .count()
    )
    assert mism == 0
    out.unpersist()


def test_ann_recall_bounded_and_nontrivial(spark, sf_dir):
    """recall@5 rows: one per sampled query, n_truth == 5, hits ≤ 5,
    recall == hits/5; and the metric is non-degenerate in aggregate
    (the IVF index at n_probe=4/16 recovers a meaningful fraction of
    the exact neighbours — if mean recall were 0 the join keys are
    broken, if forced 1.0 the test would miss a probe-pruning bug)."""
    q = registry.all_queries()["sim_ann_recall_at_k"]
    rows = q.fn(spark, sf_dir).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["n_truth"] == 5
        assert 0 <= r["n_hits"] <= 5
        assert abs(r["recall"] - round(r["n_hits"] / 5.0, 6)) < 1e-12
    mean_recall = sum(r["recall"] for r in rows) / len(rows)
    # Bar calibrated to the corpus, not to hope: synthetic embeddings
    # are near-uniform on the sphere, so cell membership is weakly
    # predictive and mean recall sits near the n_probe/k = 4/16 = 0.25
    # chance floor (measured 0.42 at sf0.001, 0.27 at sf0.01 — MORE
    # vectors dilute the weak signal toward chance, which is itself
    # the point of shipping recall@k as a first-class query). The
    # failure mode this guards is mechanical — broken join keys or an
    # empty approx side read 0.0 — so the bar is chance-with-margin,
    # not clusterability the data doesn't have.
    assert mean_recall >= 0.15, f"IVF recall collapsed: {mean_recall}"
