"""Planted-duplicate tests for the probabilistic dedup operators
(SURVEY.md §7.3: "test with planted duplicates, assert containment").
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_c_sharp_simulation_multithreaded_spark.operators.dedup import (
    exact_dedup_keep_first,
    hamming64,
    minhash_lsh_dedup_pairs,
    simhash64,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside "
    "as morning light spreads slowly across the quiet little town"
)
NEAR_DUP = BASE.replace("quiet little town", "sleepy little village")
DISTINCT = (
    "completely different content about distributed query engines and "
    "columnar execution with vectorized operators over parquet files "
    "streaming shuffles and adaptive partitioning at petabyte scale"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE),
        (2, BASE),  # exact duplicate of 1
        (3, NEAR_DUP),  # near duplicate of 1
        (4, DISTINCT),
        (5, "tiny"),  # shorter than one shingle
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_keeps_lowest_id(docs):
    out = {r.doc_id: r.n_copies for r in exact_dedup_keep_first(docs, "text", "doc_id").collect()}
    assert out[1] == 2  # doc 2 collapsed into doc 1
    assert 2 not in out
    assert out[3] == 1 and out[4] == 1 and out[5] == 1


def test_minhash_lsh_finds_planted_pair(docs):
    pairs = {
        (r.id_a, r.id_b): r.jaccard_e4
        for r in minhash_lsh_dedup_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 10000  # exact dup
    assert (1, 3) in pairs and pairs[(1, 3)] >= 5000  # near dup survives verify
    assert all(4 not in p and 5 not in p for p in pairs)  # no false positives


def test_simhash_near_dup_is_close_distinct_is_far(spark, docs):
    sig = simhash64(docs, "doc_id", "text")
    a = sig.alias("a")
    b = sig.alias("b")
    d = (
        a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("ia"),
            F.col("b.doc_id").alias("ib"),
            hamming64(F.col("a.simhash"), F.col("b.simhash")).alias("ham"),
        )
    )
    ham = {(r.ia, r.ib): r.ham for r in d.collect()}
    assert ham[(1, 2)] == 0  # identical text → identical signature
    assert ham[(1, 3)] <= 16  # near dup → small hamming distance
    assert ham[(1, 4)] > 16  # unrelated → far


def test_simhash_deterministic_across_runs(docs):
    s1 = {r.doc_id: r.simhash for r in simhash64(docs, "doc_id", "text").collect()}
    s2 = {r.doc_id: r.simhash for r in simhash64(docs, "doc_id", "text").collect()}
    assert s1 == s2


def test_connected_components_clusters_planted_groups(spark):
    # two planted near-dup groups {1,2,3} and {10,11}, plus a singleton
    g1 = BASE
    g1b = BASE.replace("quiet little town", "sleepy little town")
    g1c = BASE.replace("morning light", "evening light")
    g2 = DISTINCT
    g2b = DISTINCT.replace("petabyte scale", "exabyte scale")
    docs = spark.createDataFrame(
        [(1, g1), (2, g1b), (3, g1c), (10, g2), (11, g2b), (20, "tiny text here")],
        "doc_id long, text string",
    )
    from pyspark.sql import functions as F

    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.dedup import (
        minhash_lsh_dedup_pairs,
    )

    pairs = minhash_lsh_dedup_pairs(docs, "doc_id", "text", threshold=0.4)
    edges = pairs.select("id_a", "id_b").cache()
    adj = edges.union(
        edges.select(F.col("id_b").alias("id_a"), F.col("id_a").alias("id_b"))
    )
    labels = (
        adj.select(F.col("id_a").alias("node")).distinct().withColumn("label", F.col("node"))
    )
    for _ in range(6):
        nbr = (
            adj.join(labels, adj.id_b == labels.node)
            .groupBy(adj.id_a)
            .agg(F.min("label").alias("nbr_label"))
            .withColumnRenamed("id_a", "node2")
        )
        labels = labels.join(nbr, labels.node == F.col("node2"), "left").select(
            "node",
            F.least(F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))).alias("label"),
        )
    got = {r.node: r.label for r in labels.collect()}
    assert got.get(1) == 1 and got.get(2) == 1 and got.get(3) == 1
    assert got.get(10) == 10 and got.get(11) == 10
    assert 20 not in got  # singleton: no edges, not in the pair graph


def test_simhash_band_pairs_equal_brute_force(spark, sf_dir):
    """Pigeonhole guarantee: the banded join's verified pair set must
    EQUAL the all-pairs hamming<=3 set — recall 1.0 by construction,
    precision 1.0 from the exact verify."""
    from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import (
        load_table,
    )
    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.dedup import (
        simhash_band_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    banded = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_band_pairs(d, "doc_id", "text", 3, 4).collect()
    }
    sig = simhash64(d, "doc_id", "text")
    a = sig.select(F.col("doc_id").alias("ia"), F.col("simhash").alias("sa"))
    b = sig.select(F.col("doc_id").alias("ib"), F.col("simhash").alias("sb"))
    brute = {
        (r.ia, r.ib): r.h
        for r in a.join(b, F.col("ia") < F.col("ib"))
        .select(
            "ia", "ib", hamming64(F.col("sa"), F.col("sb")).alias("h")
        )
        .filter(F.col("h") <= 3)
        .collect()
    }
    assert banded == brute
    assert len(brute) > 0  # corpus has planted near-dups
