"""bench.py contract tests (round 14).

The driver parses bench.py's LAST stdout line; round 14 added the
PRIMARY perf channel to it (`sweep_norm_ratio` — SCALE.md "Perf
channels"). These tests pin the channel's arithmetic on fixture
artifacts (no Spark session) and its behavior against the committed
sweeps, so a refactor can't silently change what the one number means.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from bench import sweep_channel  # noqa: E402


def _write_sweep(path, n, queries, calibration):
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(
            {
                "queries": {k: {"warm": v} for k, v in queries.items()},
                "calibration_sec": calibration,
                "cpu_count": 32,
            },
            fh,
        )


def test_sweep_channel_arithmetic(tmp_path):
    """Known fixtures: cur is 2x prev raw on common queries, but the
    host probe also doubled — normalized ratio must be 1.0, and
    queries present in only one sweep must not enter the sums."""
    _write_sweep(tmp_path / "SWEEP_r01.json", 1,
                 {"a": 1.0, "b": 3.0, "prev_only": 99.0}, 0.5)
    _write_sweep(tmp_path / "SWEEP_r02.json", 2,
                 {"a": 2.0, "b": 6.0, "cur_only": 99.0}, 1.0)
    out = sweep_channel(str(tmp_path))
    assert out["sweep_rounds"] == [1, 2]
    assert out["sweep_norm_ratio"] == pytest.approx(1.0, abs=1e-9)


def test_sweep_channel_needs_two_artifacts(tmp_path):
    assert sweep_channel(str(tmp_path)) == {}
    _write_sweep(tmp_path / "SWEEP_r01.json", 1, {"a": 1.0}, 0.5)
    assert sweep_channel(str(tmp_path)) == {}


def test_sweep_channel_on_committed_artifacts():
    """The repo's own sweeps produce a finite ratio near 1 (the flat
    steady state every round since r6 has measured; a 2x move here
    would be a real regression the sweep diff gate flags per-query)."""
    out = sweep_channel(REPO)
    assert out, "fewer than two SWEEP_r*.json artifacts in the repo"
    assert 0.5 < out["sweep_norm_ratio"] < 2.0
    assert out["sweep_rounds"][0] < out["sweep_rounds"][1]


def test_effective_cpus_reads_the_grant(monkeypatch):
    """"cpus" must track SPARK_GRAFT_CPUS (the local[N] grant), not
    os.cpu_count() — the r14 scaling probe false-flag (VERDICT r14
    next-round #3)."""
    from bench import effective_cpus

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert effective_cpus() == 8
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert effective_cpus() == len(os.sched_getaffinity(0))


def test_pin_session_sizes_stock_partitions_from_the_grant(
    spark, monkeypatch
):
    """A foreign session at Spark's stock 200 shuffle partitions is
    resized from the same core grant as ``get_spark``: the affinity
    mask when SPARK_GRAFT_CPUS is unset, floored at 16."""
    from map_reduce_c_sharp_simulation_multithreaded_spark.session import (
        pin_session,
    )

    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "200")
    try:
        monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
        pin_session(spark)
        assert int(spark.conf.get("spark.sql.shuffle.partitions")) == max(
            len(os.sched_getaffinity(0)), 16
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_prior_bench_paths_skip_side_artifacts(tmp_path):
    """The headline watch compares against the newest MAIN-channel
    artifact; BENCH_r14_c8.json (8-core probe) sorts after
    BENCH_r14.json and must be excluded."""
    from bench import prior_bench_paths

    for name in ("BENCH_r13.json", "BENCH_r14.json", "BENCH_r14_c8.json"):
        (tmp_path / name).write_text("{}")
    got = [os.path.basename(p) for p in prior_bench_paths(str(tmp_path))]
    assert got == ["BENCH_r13.json", "BENCH_r14.json"]
