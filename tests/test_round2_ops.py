"""Semantics tests for the late-round-2 operators: BFS hops, inverted
index, column profiler, per-group mode, streaming windowed top-k."""

from __future__ import annotations

from collections import Counter

import pytest
from pyspark.sql import functions as F

from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import load_table
from map_reduce_c_sharp_simulation_multithreaded_spark.plans.advanced import (
    bfs_hops,
    graph_bfs_supplier_hops,
)
from map_reduce_c_sharp_simulation_multithreaded_spark.plans.aggregates import (
    agg_mode_per_group,
    agg_profile_orders_columns,
)
from map_reduce_c_sharp_simulation_multithreaded_spark.plans.streaming import (
    stream_windowed_topk,
)
from map_reduce_c_sharp_simulation_multithreaded_spark.plans.text import (
    text_inverted_index,
)
from map_reduce_c_sharp_simulation_multithreaded_spark.session import conf_scope


def test_bfs_hops_on_known_graph(spark):
    """Path graph 1-2-3-4 plus an unreachable node: exact distances,
    and the loop's early exit must not fabricate entries."""
    pairs = [(1, 2), (2, 3), (3, 4), (8, 9)]
    edges = spark.createDataFrame(
        pairs + [(b, a) for a, b in pairs], "src long, dst long"
    )
    got = {r.node: r.dist for r in bfs_hops(edges, 1, max_hops=10).collect()}
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}


def test_bfs_hops_cap_truncates(spark):
    pairs = [(1, 2), (2, 3), (3, 4)]
    edges = spark.createDataFrame(pairs, "src long, dst long")
    got = {r.node: r.dist for r in bfs_hops(edges, 1, max_hops=2).collect()}
    assert got == {1: 0, 2: 1, 3: 2}  # node 4 beyond the cap


def test_bfs_supplier_hops_triangle_inequality(spark, sf_dir):
    """Distances are BFS-consistent: every non-source node at dist d
    has a neighbor at d-1 (spot-checked via the source row)."""
    rows = graph_bfs_supplier_hops(spark, sf_dir).collect()
    dists = {r.node: r.dist for r in rows}
    assert dists[1] == 0
    assert all(0 <= d <= 6 for d in dists.values())
    assert sorted(set(dists.values())) == list(range(max(dists.values()) + 1))


def test_inverted_index_postings(spark, sf_dir):
    rows = text_inverted_index(spark, sf_dir).collect()
    assert rows
    for r in rows:
        posts = r.postings.split("|")
        assert len(posts) <= 20
        ids = [int(p.split(":")[0]) for p in posts]
        assert ids == sorted(ids)  # doc_id-ordered
        assert r.doc_freq >= 2
        tfs = sum(int(p.split(":")[1]) for p in posts)
        if r.doc_freq <= 20:  # uncapped: postings account for all tf
            assert tfs == r.total_tf and len(posts) == r.doc_freq
        else:
            assert tfs < r.total_tf


def test_profile_matches_direct_aggregates(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    prof = {r.col: r for r in agg_profile_orders_columns(spark, sf_dir).collect()}
    n = o.count()
    assert prof["o_custkey"].n_rows == n
    assert prof["o_custkey"].n_null == 0
    assert prof["o_custkey"].n_distinct == o.select("o_custkey").distinct().count()
    assert prof["o_orderstatus"].min_val is None
    assert prof["o_totalprice"].max_val == pytest.approx(
        round(o.agg(F.max("o_totalprice")).first()[0], 2)
    )


def test_mode_per_group_matches_counter(spark, sf_dir):
    o = load_table(spark, sf_dir, "orders")
    rows = o.select("o_orderstatus", "o_orderpriority").collect()
    by_status: dict[str, Counter] = {}
    for r in rows:
        by_status.setdefault(r.o_orderstatus, Counter())[r.o_orderpriority] += 1
    got = {r.o_orderstatus: (r.mode_priority, r.n)
           for r in agg_mode_per_group(spark, sf_dir).collect()}
    for status, cnt in by_status.items():
        # deterministic tiebreak: max count, then lexicographically smallest
        top_n = max(cnt.values())
        candidates = sorted(k for k, v in cnt.items() if v == top_n)
        assert got[status] == (candidates[0], top_n)


def test_stream_windowed_topk_shape(spark, sf_dir):
    rows = stream_windowed_topk(spark, sf_dir).collect()
    assert rows
    per_win: dict[str, list] = {}
    for r in rows:
        per_win.setdefault(r.window_start, []).append(r)
    for win, rs in per_win.items():
        assert len(rs) <= 2
        ns = [r.n for r in rs]
        assert ns == sorted(ns, reverse=True)


def test_rolling_median_small_frames(spark, sf_dir):
    """First row of each customer = its own price; frame never exceeds
    4 elements; median bounded by frame min/max."""
    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.windows import (
        window_rolling_median,
    )

    o = load_table(spark, sf_dir, "orders")
    # min_by picks the first order deterministically; orderBy +
    # dropDuplicates would keep an ARBITRARY row per key (dropDuplicates
    # is an aggregate — sort order is not preserved through its shuffle).
    first = {
        r.o_custkey: (r.f.o_orderkey, round(r.f.o_totalprice, 4))
        for r in o.groupBy("o_custkey")
        .agg(
            F.min_by(
                F.struct("o_orderkey", "o_totalprice"),
                F.struct("o_orderdate", "o_orderkey"),
            ).alias("f")
        )
        .collect()
    }
    got = {r.o_orderkey: r.rolling_median
           for r in window_rolling_median(spark, sf_dir).collect()}
    for ck, (ok, price) in first.items():
        assert got[ok] == pytest.approx(price)


def test_quality_audit_clean_corpus(spark, sf_dir):
    """The generated corpus satisfies FK integrity and range bounds;
    the audit must report zero violations with full n_checked."""
    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.relational import (
        quality_constraint_audit,
    )

    rows = {r.check_name: r for r in quality_constraint_audit(spark, sf_dir).collect()}
    assert set(rows) == {
        "orders_fk_customer", "lineitem_fk_orders",
        "orders_positive_totalprice", "lineitem_discount_range",
        "documents_nonempty_text", "events_nonneg_value",
    }
    o_n = load_table(spark, sf_dir, "orders").count()
    assert rows["orders_fk_customer"].n_checked == o_n
    for r in rows.values():
        assert r.n_violations == 0


def test_pandas_udaf_matches_builtin(spark, sf_dir):
    """The grouped-agg pandas UDAF's exact-cents scaled ratio matches a
    builtin-expression recomputation EXACTLY (both sides are integer
    arithmetic — no float tolerance needed), and approximates the naive
    double weighted average."""
    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.advanced import (
        pandas_udaf_weighted_avg,
    )

    got = {r.c_nationkey: r.w_avg_e4
           for r in pandas_udaf_weighted_avg(spark, sf_dir).collect()}
    t = load_table(spark, sf_dir, "customer").join(
        load_table(spark, sf_dir, "orders"),
        F.col("c_custkey") == F.col("o_custkey"),
    ).withColumn("w", F.col("c_acctbal") + 5000.0)
    builtin = t.groupBy("c_nationkey").agg(
        # DECIMAL(38,0) accumulator: a BIGINT SUM(cp*cw)*100 silently
        # wraps (non-ANSI) around sf1+ while the UDAF's Python ints and
        # the oracle's HUGEINT do not — the test would report a false
        # mismatch at large SF (ADVICE.md r3).
        F.expr(
            "SUM(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)"
            "         * CAST(ROUND(w * 100) AS BIGINT)"
            "     AS DECIMAL(38,0))) * 100"
            " DIV SUM(CAST(ROUND(w * 100) AS BIGINT))"
        ).alias("e4"),
        F.sum(F.col("o_totalprice") * F.col("w")).alias("num"),
        F.sum("w").alias("den"),
    )
    rows = builtin.collect()
    want = {r.c_nationkey: r.e4 for r in rows}
    naive = {r.c_nationkey: r.num / r.den for r in rows}
    assert got == want
    for k in got:
        assert got[k] / 1e4 == pytest.approx(naive[k], abs=1e-3)


def test_curation_pipeline_invariants(spark, sf_dir):
    """Survivors pass the gates, are fingerprint-canonical, and the
    split is the deterministic content hash."""
    import hashlib

    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.mlprep import (
        pipeline_curate_corpus,
    )

    rows = pipeline_curate_corpus(spark, sf_dir).collect()
    assert rows
    n_docs = load_table(spark, sf_dir, "documents").count()
    assert len(rows) < n_docs  # gates + dedup actually dropped rows
    for r in rows:
        assert r.n_toks >= 15
        assert r.n_dups >= 1
        want = ("train"
                if hashlib.md5(f"doc:{r.doc_id}".encode()).hexdigest()[0] < "d"
                else "eval")
        assert r.split == want


def test_fuzzy_join_pairs_are_close_and_blocked(spark, sf_dir):
    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.joins import (
        join_fuzzy_levenshtein,
    )

    rows = join_fuzzy_levenshtein(spark, sf_dir).collect()
    assert rows
    for r in rows:
        assert r.name_a < r.name_b
        assert 1 <= r.dist <= 2
        # blocked: same second token
        assert r.name_a.split(" ")[1] == r.name_b.split(" ")[1]


def test_higher_order_pack_consistency(spark, sf_dir):
    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.scalars import (
        scalar_higher_order_pack,
    )

    emb = {r.vec_id: r.embedding
           for r in load_table(spark, sf_dir, "embeddings").collect()}
    for r in scalar_higher_order_pack(spark, sf_dir).collect():
        v = emb[r.vec_id]
        assert r.n_pos == sum(1 for x in v if x > 0)
        assert r.any_big == any(abs(x) >= 2.0 for x in v)
        assert r.all_small is True
        assert r.l1_norm == pytest.approx(sum(abs(x) for x in v), abs=2e-3)


def test_ratio_to_report_sums_to_one(spark, sf_dir):
    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.windows import (
        window_ratio_to_report,
    )

    rows = window_ratio_to_report(spark, sf_dir).collect()
    assert rows
    assert sum(r.share for r in rows) == pytest.approx(1.0, abs=1e-4)
    for r in rows:
        assert 0.0 < r.share < 1.0


def test_runtime_bloom_filter_engages(spark, sf_dir):
    """100 TB posture evidence: with broadcast off (both sides 'big'),
    Catalyst injects a runtime bloom filter from the selective dim
    side into the fact scan — row-level semi-join pushdown that cuts
    shuffle input before the SortMergeJoin. Thresholds are lowered to
    sf-test sizes; conf state is restored for the shared session."""
    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "1KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    before = {k: spark.conf.get(k, None) for k in overrides}
    with conf_scope(spark, overrides):
        li = load_table(spark, sf_dir, "lineitem")
        p = load_table(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#3")
        j = li.join(p, li.l_partkey == p.p_partkey).groupBy("p_brand").count()
        plan = j._jdf.queryExecution().optimizedPlan().toString().lower()
        assert "bloom" in plan or "might_contain" in plan
        # and the filtered result is still correct
        rows = j.collect()
        assert len(rows) == 1 and rows[0]["count"] > 0
    # keys that were unset are unset again, set ones hold their values
    assert {k: spark.conf.get(k, None) for k in overrides} == before
