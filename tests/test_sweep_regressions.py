"""The sweep's measurement loop and its diff rule.

``run_queries`` is the one per-query loop bench.py, the sweep and the
shuffle audit all call. The diff rule behind ``tools/sweep_times.py
--diff``: no query >1.5× its prior warm time, over the queries both
sweeps carry.

Queries with prior warm < 0.25 s are exempt (constant overhead
dominates; ratios there are noise), as are queries present in only one
artifact (debuts / retirements). Times compare raw, so both sweeps must
come from the same host.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.join(REPO, "tools"))


def _sweep(**warm: float) -> dict:
    return {"queries": {n: {"warm": w, "cold": w} for n, w in warm.items()}}


def test_compare_sweeps_raw_rules():
    from sweep_times import compare_sweeps

    prev = _sweep(slow=1.0, floor=0.24, edge=0.25, gone=1.0)
    cur = _sweep(slow=1.51, floor=10.0, edge=0.375, debut=50.0)
    # 1.51x from 1.0 s is flagged; 10 s from a 0.24 s prior is under the
    # floor; exactly 1.5x is not "grew >1.5x"; queries in only one
    # sweep never enter the comparison
    assert compare_sweeps(prev, cur) == [("slow", 1.0, 1.51)]
    # the floor is inclusive: a 0.25 s prior is compared
    assert compare_sweeps(_sweep(q=0.25), _sweep(q=0.38)) == [
        ("q", 0.25, 0.38)
    ]
    assert compare_sweeps({}, cur) == []


def test_run_queries_clears_cache_attaches_builds_and_isolates_errors(
    spark, sf_dir
):
    """Pass-major, per query: pass 0's byte columns cover only pass 0's
    job group, the cache a plan leaves is cleared after every query (so
    pass 1 shuffles again instead of reading cached blocks), a build is
    attached to the query that paid it, and a query that raises is
    reported once and not run again."""
    from sweep_times import run_queries, stage_totals

    from map_reduce_c_sharp_simulation_multithreaded_spark import buildstats

    calls = {"raises": 0}

    def cached(spark, sf_dir):
        return spark.range(100_000).repartition(3).cache()

    def builds(spark, sf_dir):
        buildstats.record_build("test_build", 0.5, "in-test")
        return spark.range(10)

    def raises(spark, sf_dir):
        calls["raises"] += 1
        raise ValueError("planted failure")

    out = run_queries(
        spark, {"cached": cached, "raises": raises, "builds": builds},
        sf_dir, passes=2,
    )

    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    row = out["cached"]
    assert row["shuffle_write_bytes"] > 0
    pass0 = stage_totals(spark, "cached#0")
    pass1 = stage_totals(spark, "cached#1")
    assert pass1["shuffle_write_bytes"] > 0  # recomputed, not read cached
    assert row["shuffle_write_bytes"] == pass0["shuffle_write_bytes"]
    assert 0 < row["warm"] <= row["cold"]
    assert "builds" not in row
    assert [b["kind"] for b in out["builds"]["builds"]] == [
        "test_build", "test_build"
    ]
    assert out["raises"] == {"error": "ValueError: planted failure"}
    assert calls["raises"] == 1
    assert buildstats.drain() == []
