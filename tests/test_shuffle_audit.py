"""Shuffle-audit staleness gate (round 11).

SHUFFLE_AUDIT.json is evidence the same way SWEEP_r{N}.json is: it
holds the measured shuffle/scan volume for every batch query, and the
claims SCALE.md builds on it only stay true while the artifact covers
the registry. This gate fails when a query debuts (or is renamed)
without re-running ``tools/shuffle_audit.py --json SHUFFLE_AUDIT.json``
— the same add-consciously contract as the sweep's regression gate.
"""

from __future__ import annotations

import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _artifact() -> dict:
    with open(os.path.join(REPO, "SHUFFLE_AUDIT.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_shuffle_audit_covers_every_batch_query():
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from shuffle_audit import SKIP

    from map_reduce_c_sharp_simulation_multithreaded_spark.plans import (
        registry,
    )

    audited = {
        k for k in _artifact()["queries"] if not k.startswith("_")
    }
    expected = {
        n
        for n in registry.all_queries()
        if n not in SKIP and not n.startswith("stream_")
    }
    missing = sorted(expected - audited)
    assert not missing, (
        f"registered batch queries missing from SHUFFLE_AUDIT.json: "
        f"{missing} — re-run tools/shuffle_audit.py --json "
        f"SHUFFLE_AUDIT.json (it executes every plan once with a noop "
        f"write; the artifact is the evidence behind SCALE.md's "
        f"shuffle-volume claims)"
    )
    stale = sorted(audited - expected)
    assert not stale, (
        f"SHUFFLE_AUDIT.json lists queries that no longer exist: {stale}"
    )


def test_shuffle_audit_is_clean():
    q = _artifact()["queries"]
    errs = {
        k: v
        for k, v in q.items()
        if not k.startswith("_") and isinstance(v, dict) and "error" in v
    }
    assert not errs, f"audited queries errored: {errs}"
    probe = q.get("_count_shape_probe", {})
    assert probe.get("pandas_asof_join") == "ok", (
        "count()-shaped consumer probe failed — the cogroup "
        "attribute-dedup class (round-11 bug) may have regressed: "
        f"{probe}"
    )


def _assert_zero_spill(rows: dict) -> None:
    """The zero-spill check over audited rows — factored so the
    red-test proof below can drive it with a fabricated artifact."""
    missing_col = sorted(k for k, v in rows.items() if "spill_bytes" not in v)
    assert not missing_col, (
        f"audited queries missing the spill_bytes column: {missing_col} "
        f"— the audit tool was run in a form that dropped the column; "
        f"the zero-spill gate is ARMED permanently (VERDICT r13 "
        f"next-round #5): a regenerated SHUFFLE_AUDIT.json must always "
        f"carry it, or the non-spillable-buffer OOM class goes unwatched"
    )
    spilled = {k: v["spill_bytes"] for k, v in rows.items()
               if v["spill_bytes"] > 0}
    assert not spilled, (
        f"queries spilled at sf0.1: {spilled} — the working set per "
        f"partition is out of proportion; re-shard the hot key or "
        f"bound the aggregation buffer"
    )


def test_no_query_spills_at_test_scale():
    """Zero-spill gate (round 13; armed permanently round 14): memory+
    disk bytes spilled must be 0 for every audited query at sf0.1
    under the audit session. A task that spills THIS corpus on THIS
    heap has a per-partition working set out of proportion to its
    input — the early warning for the non-spillable-buffer OOM class
    (collect_list aggregation buffers, window sort state) that shuffle
    byte counts cannot show. The r13 version skipped when the artifact
    predated the spill column; now that the committed artifact has it,
    a regenerated artifact WITHOUT the column fails instead of
    skipping — staleness can't silently disarm the gate."""
    q = _artifact()["queries"]
    rows = {
        k: v
        for k, v in q.items()
        if not k.startswith("_") and isinstance(v, dict) and "error" not in v
    }
    assert rows, "SHUFFLE_AUDIT.json has no audited rows"
    _assert_zero_spill(rows)


def test_spill_gate_fails_not_skips_without_column():
    """Red-test proof (VERDICT r13 next-round #5 done-condition): an
    artifact row lacking spill_bytes FAILS the armed gate — it does
    not skip, and a spill of 0 elsewhere does not mask it."""
    import pytest

    with pytest.raises(AssertionError, match="spill_bytes column"):
        _assert_zero_spill({
            "q_with_column": {"shuffle_write_bytes": 1, "spill_bytes": 0},
            "q_without_column": {"shuffle_write_bytes": 1},
        })
    with pytest.raises(AssertionError, match="spilled at sf0.1"):
        _assert_zero_spill({"q": {"spill_bytes": 4096}})


def test_stage_totals_sum_only_the_job_group(spark):
    """``tools/sweep_times.stage_totals`` reads the in-process status
    store per job group: a shuffling write under group A shows shuffle
    bytes, and a later action under group B neither counts A's stages
    nor changes A's totals."""
    import sys

    sys.path.insert(0, os.path.join(REPO, "tools"))
    from sweep_times import stage_totals

    sc = spark.sparkContext
    try:
        sc.setJobGroup("audit-test-a", "shuffling write")
        spark.range(100_000).repartition(3).write.format("noop").mode(
            "overwrite"
        ).save()
        a = stage_totals(spark, "audit-test-a")
        assert a["shuffle_write_bytes"] > 0
        assert a["shuffle_read_bytes"] > 0

        sc.setJobGroup("audit-test-b", "narrow write")
        spark.range(100_000).write.format("noop").mode("overwrite").save()
        b = stage_totals(spark, "audit-test-b")
        assert b["shuffle_write_bytes"] == 0
        assert b["shuffle_read_bytes"] == 0
        assert stage_totals(spark, "audit-test-a") == a
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
