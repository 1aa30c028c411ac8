"""The build-once memo (``buildstats.memo_build``), without Spark: a hit
returns the stored object and reports nothing, a miss reports exactly
one ledger entry, a rewrite of the table's files rebuilds, and distinct
``params`` never share an entry."""

from __future__ import annotations

import os

import pytest

from map_reduce_c_sharp_simulation_multithreaded_spark import buildstats


@pytest.fixture
def sf(tmp_path):
    part = tmp_path / "t.parquet" / "part-0.parquet"
    part.parent.mkdir()
    part.write_bytes(b"abc")
    buildstats.drain()
    yield str(tmp_path), part
    buildstats.drain()


def _counting_build():
    calls = []

    def build():
        calls.append(1)
        return [len(calls)]

    return calls, build


def test_hit_returns_same_object_and_records_nothing(sf):
    sf_dir, _ = sf
    calls, build = _counting_build()
    first = buildstats.memo_build("k", "d", sf_dir, "t", (1,), build)
    assert [e["kind"] for e in buildstats.drain()] == ["k"]
    again = buildstats.memo_build("k", "d", sf_dir, "t", (1,), build)
    assert again is first
    assert len(calls) == 1
    assert buildstats.drain() == []


def test_miss_records_exactly_one_entry(sf):
    sf_dir, _ = sf
    _, build = _counting_build()
    buildstats.memo_build("kind_a", "detail a", sf_dir, "t", None, build)
    (entry,) = buildstats.drain()
    assert entry["kind"] == "kind_a"
    assert entry["detail"] == "detail a"
    assert entry["sec"] >= 0


def test_rewrite_of_size_or_mtime_rebuilds(sf):
    sf_dir, part = sf
    calls, build = _counting_build()
    first = buildstats.memo_build("k", "", sf_dir, "t", (), build)
    part.write_bytes(b"abcd")  # size changes
    second = buildstats.memo_build("k", "", sf_dir, "t", (), build)
    assert second is not first
    st = os.stat(part)
    os.utime(part, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))  # mtime only
    third = buildstats.memo_build("k", "", sf_dir, "t", (), build)
    assert third is not second
    assert len(calls) == 3
    assert len(buildstats.drain()) == 3


def test_distinct_params_do_not_collide(sf):
    sf_dir, _ = sf
    calls, build = _counting_build()
    a = buildstats.memo_build("k", "", sf_dir, "t", ("pq", 8, 16, 3), build)
    b = buildstats.memo_build("k", "", sf_dir, "t", ("pq_resid", 8, 16, 3), build)
    c = buildstats.memo_build("k", "", sf_dir, "t", (2, 4), build)
    d = buildstats.memo_build("k", "", sf_dir, "t", None, build)
    assert len({id(x) for x in (a, b, c, d)}) == 4
    assert len(calls) == 4
    assert buildstats.memo_build("k", "", sf_dir, "t", (2, 4), build) is c
