"""Pinned reference join semantics (SURVEY.md §7.3 hard parts).

Edge cases from FIXTURES.md §A5: duplicate build keys (reference keeps
last, ``D/Program.cs:296``) and unmatched probe keys (reference throws,
``D/Program.cs:310``).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from map_reduce_c_sharp_simulation_multithreaded_spark.operators.joins import (
    dedup_dim_last_wins,
    strict_join_agg,
)


def test_last_wins_keeps_last_per_key(spark):
    dim = spark.createDataFrame(
        [("d1", "CA", 1), ("d1", "NY", 2), ("d2", "TX", 1)],
        "donor_id string, state string, seq int",
    )
    out = dedup_dim_last_wins(dim, "donor_id", [F.col("seq")])
    got = {(r.donor_id, r.state) for r in out.collect()}
    assert got == {("d1", "NY"), ("d2", "TX")}


def test_strict_join_raises_on_missing_key(spark):
    probe = spark.createDataFrame([("d1", 5.0), ("dX", 1.0)], "k string, amt double")
    build = spark.createDataFrame([("d1", "CA")], "k string, state string")
    with pytest.raises(ValueError, match="strict join"):
        strict_join_agg(
            probe, build, "k", [F.col("state")], [F.sum("amt").alias("amt")]
        )


def test_strict_join_passes_when_ri_holds(spark):
    probe = spark.createDataFrame([("d1", 5.0), ("d1", 2.0)], "k string, amt double")
    build = spark.createDataFrame([("d1", "CA")], "k string, state string")
    out = strict_join_agg(
        probe, build, "k", [F.col("state")],
        [F.count(F.lit(1)).alias("n"), F.sum("amt").alias("amt")],
    )
    assert [(r.state, r.n, r.amt) for r in out.collect()] == [("CA", 2, 7.0)]


def test_salted_join_equals_plain_join(spark):
    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.joins import (
        salted_join,
    )

    # skewed fact: key 'hot' holds 90% of rows
    fact = spark.createDataFrame(
        [("hot" if i % 10 != 0 else f"k{i}", i, float(i)) for i in range(200)],
        "k string, rid long, amt double",
    )
    dim = spark.createDataFrame(
        [("hot", "H")] + [(f"k{i}", f"d{i}") for i in range(0, 200, 10)],
        "k string, attr string",
    )
    plain = {(r.k, r.rid, r.attr) for r in fact.join(dim, "k").collect()}
    salted = {
        (r.k, r.rid, r.attr)
        for r in salted_join(fact, dim, key="k", salt_col="rid").collect()
    }
    assert salted == plain
    # the salted fact side spreads the hot key across many salt values
    from pyspark.sql import functions as F2

    n_salts = (
        fact.filter(F2.col("k") == "hot")
        .select(F2.pmod(F2.xxhash64("rid"), F2.lit(16)).alias("s"))
        .distinct()
        .count()
    )
    assert n_salts > 8


def test_stratified_sample_deterministic_and_in_envelope(spark, sf_dir):
    from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import load_table

    d = load_table(spark, sf_dir, "documents")
    fractions = {r[0]: 0.5 for r in d.select("lang").distinct().collect()}
    a = d.sampleBy("lang", fractions, seed=7).groupBy("lang").count().collect()
    b = d.sampleBy("lang", fractions, seed=7).groupBy("lang").count().collect()
    assert sorted((r.lang, r["count"]) for r in a) == sorted(
        (r.lang, r["count"]) for r in b
    )
    totals = dict(
        (r.lang, r["count"]) for r in d.groupBy("lang").count().collect()
    )
    for r in a:
        rate = r["count"] / totals[r.lang]
        assert 0.25 < rate < 0.75, f"stratum {r.lang} rate {rate}"


def test_pagerank_triangle_stays_uniform(spark):
    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.advanced import (
        pagerank,
    )

    tri = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )
    ranks = {r.node: r.rank for r in pagerank(tri, n_iter=4).collect()}
    # symmetric cycle: uniform 1/3 is the exact fixpoint at every step
    assert set(ranks) == {"a", "b", "c"}
    for v in ranks.values():
        assert abs(v - 1 / 3) < 1e-9
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_pagerank_hub_outranks_leaves(spark):
    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.advanced import (
        pagerank,
    )

    # star with backlinks: leaves l1..l4 <-> hub
    edges = [("hub", f"l{i}") for i in range(4)] + [
        (f"l{i}", "hub") for i in range(4)
    ]
    df = spark.createDataFrame(edges, "src string, dst string")
    ranks = {r.node: r.rank for r in pagerank(df, n_iter=6).collect()}
    assert all(ranks["hub"] > ranks[f"l{i}"] for i in range(4))
    # no dangling nodes -> total mass conserved
    assert abs(sum(ranks.values()) - 1.0) < 1e-9


def test_pagerank_dangling_redistribution_conserves_mass(spark):
    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.advanced import (
        pagerank,
    )

    # chain a -> b -> c: c is a sink; without redistribution its mass
    # leaks every round, with it the ranks stay a distribution
    chain = spark.createDataFrame(
        [("a", "b"), ("b", "c")], "src string, dst string"
    )
    leaky = {r.node: r.rank for r in pagerank(chain, n_iter=5).collect()}
    assert sum(leaky.values()) < 1.0 - 1e-6

    full = {
        r.node: r.rank
        for r in pagerank(
            chain, n_iter=5, redistribute_dangling=True
        ).collect()
    }
    assert abs(sum(full.values()) - 1.0) < 1e-9
    # downstream nodes still accumulate more rank than upstream ones
    assert full["c"] > full["b"] > full["a"]
