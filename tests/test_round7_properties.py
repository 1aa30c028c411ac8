"""Property-based tests for the round-7 compositions.

Three registered queries now ride the min-label iterative loop
(dedup_connected_components, curation_cluster_keep_best,
split_cluster_leakage_safe) and the loop is fingerprint-BLIND (its
returned frame is a checkpoint scan), so its correctness evidence must
come from tests: random graphs pit `_min_label_components` against an
independent pure-Python union-find. The leakage-safe split's nibble
rule is likewise probed on random cluster labelings against an
independent recomputation. One Spark job per hypothesis example
(per-example jobs make shrinking unbearably slow).
"""

from __future__ import annotations

import hashlib

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from map_reduce_c_sharp_simulation_multithreaded_spark.plans.advanced import (
    _min_label_components,
)

SLOW = settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# Small dense node pool so random edges actually form multi-node
# components (and chains long enough to need several label rounds);
# isolated nodes come from the fixed 0..14 node frame below.
EDGES = st.lists(
    st.tuples(st.integers(0, 14), st.integers(0, 14)),
    min_size=0,
    max_size=25,
)


def _union_find_labels(nodes: set[int], edges: list[tuple[int, int]]):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    # component label = MIN member, the loop's fixpoint contract
    comp: dict[int, list[int]] = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(members) for members in comp.values() for n in members}


@given(EDGES)
@SLOW
def test_min_label_components_equal_union_find(spark, edges):
    nodes = set(range(15))  # includes isolates not touched by any edge
    nodes_df = spark.createDataFrame([(n,) for n in nodes], "node long")
    if edges:
        edges_df = spark.createDataFrame(
            [(a, b) for a, b in edges], "id_a long, id_b long"
        )
    else:
        edges_df = spark.createDataFrame([], "id_a long, id_b long")
    got = {
        r["node"]: r["label"]
        for r in _min_label_components(
            nodes_df, edges_df, loop_partitions=4
        ).collect()
    }
    want = _union_find_labels(nodes, edges)
    assert got == want


def test_min_label_components_converge_on_long_path(spark):
    """A 12-node path needs 11 label rounds: the loop runs to its
    fixpoint instead of stopping at a fixed round count."""
    n = 12
    nodes_df = spark.createDataFrame([(i,) for i in range(n)], "node long")
    edges_df = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a long, id_b long"
    )
    got = {
        r["node"]: r["label"]
        for r in _min_label_components(
            nodes_df, edges_df, loop_partitions=4
        ).collect()
    }
    assert got == {i: 0 for i in range(n)}


LABELS = st.lists(
    st.tuples(st.integers(0, 500), st.integers(0, 60)),  # (doc, cluster)
    min_size=1,
    max_size=60,
    unique_by=lambda t: t[0],
)


@given(LABELS)
@SLOW
def test_nibble_split_rule_matches_engine(spark, labeling):
    """The md5-nibble split is a pure function of the cluster id that
    any engine re-derives (the oracle's claim) — assert the engine
    expression against hashlib on random (doc, cluster) labelings, and
    that same-cluster docs always land together (leakage-freedom is a
    corollary of being a function of cluster_id alone)."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        list(labeling), "doc_id long, cluster_id long"
    )
    nibble = F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("cluster_id").cast("string"))),
        1,
        1,
    )
    rows = df.select(
        "doc_id",
        "cluster_id",
        F.when(nibble.isin(*"0123456789abc"), F.lit("train"))
        .otherwise(F.lit("eval"))
        .alias("split"),
    ).collect()
    for r in rows:
        n = hashlib.md5(f"split:{r['cluster_id']}".encode()).hexdigest()[0]
        want = "train" if n in "0123456789abc" else "eval"
        assert r["split"] == want
    by_cluster: dict[int, set[str]] = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())


# INTEGER-valued components, deliberately: dots and squared norms are
# then exact in float64 regardless of summation order, so numpy's
# pairwise matmul and the engine's sequential fold produce
# bit-identical sims (sqrt/mul/div are correctly-rounded on identical
# inputs) — no near-boundary rank-flip flake is possible.
RAND_VECS = st.lists(
    st.lists(st.integers(-4, 4).map(float), min_size=4, max_size=4),
    min_size=3,
    max_size=12,
)


@SLOW
@given(vecs=RAND_VECS)
def test_brute_force_topk_matches_numpy_ranking(spark, vecs):
    """The prenorm brute-force top-k must agree with an independent
    numpy cosine ranking on random float vectors: same neighbor SETS
    per query and numerically matching (rounded) sims. Guards exactly
    the surface the prenorm refactor touched — one fold per pair
    recombined with precomputed norms — against an oracle that shares
    no code with it. Ranks are compared as sets at rounded-sim ties
    (the engine breaks ties on neighbor id; so does the reference
    impl here, making the rn sequences comparable too)."""
    import numpy as np

    from map_reduce_c_sharp_simulation_multithreaded_spark.operators.similarity import (
        brute_force_topk,
    )

    # drop zero vectors: cosine is undefined there (NaN sim on both
    # sides) and the corpus contract (unit-ish embeddings) excludes them
    arr = np.array(vecs, dtype=np.float32)
    arr = arr[np.linalg.norm(arr, axis=1) > 1e-3]
    if len(arr) < 3:
        return
    k = 3
    df = spark.createDataFrame(
        [(i, row.tolist()) for i, row in enumerate(arr)],
        "vec_id long, embedding array<float>",
    )
    got = brute_force_topk(
        df.filter("vec_id < 2"), df, k=k, sim_decimals=6
    ).collect()

    a = arr.astype(np.float64)
    sims = (a @ a.T) / (
        np.linalg.norm(a, axis=1)[:, None] * np.linalg.norm(a, axis=1)[None, :]
    )
    for q in range(min(2, len(a))):
        # Python round() is half-even, Spark round() is HALF_UP — but an
        # exact decimal half-point at 6 places needs a 5^7 denominator,
        # unreachable from a binary double, so the modes cannot diverge
        # here and the rounded ranks are comparable.
        mine = sorted(
            ((round(sims[q, c], 6), -c) for c in range(len(a)) if c != q),
            reverse=True,
        )[:k]
        want = [(-negc, s) for s, negc in mine]
        have = sorted(
            ((r.neighbor_id, r.sim) for r in got if r.query_id == q),
            key=lambda t: next(
                i for i, (c, _) in enumerate(want) if c == t[0]
            ) if any(c == t[0] for c, _ in want) else 99,
        )
        assert len(have) == min(k, len(a) - 1)
        for (cw, sw), (ch, sh) in zip(want, have):
            assert cw == ch, (q, want, have)
            assert abs(sw - sh) < 2e-6, (q, cw, sw, sh)


@SLOW
@given(
    vals=st.lists(
        st.integers(-(10**7), 10**7), min_size=1, max_size=30
    )
)
def test_exact_decimal_sum_matches_fraction_oracle(spark, vals):
    """exact_decimal_sum (the hi/lo int64 split under every money
    aggregate) vs exact rational arithmetic: for terms with exactly
    4 decimals and totals far inside 2^53 scaled units, the engine's
    double(total)/10^4 IS the correctly-rounded double of the true
    rational sum — including mixed-sign totals, where the split's
    truncating % and exact (v - v%B)/B reconstruction must agree."""
    from fractions import Fraction

    from pyspark.sql import functions as F

    from map_reduce_c_sharp_simulation_multithreaded_spark.functions.numeric import (
        exact_decimal_sum,
    )

    df = spark.createDataFrame([(v / 10**4,) for v in vals], "x double")
    got = df.agg(exact_decimal_sum(F.col("x"), 4).alias("s")).collect()[0]["s"]
    want = float(sum(Fraction(v, 10**4) for v in vals))
    assert got == want, (vals, got, want)
