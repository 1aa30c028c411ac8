"""Core-grant contract tests.

``session.default_cpus`` is the one CPU-grant default: bench.py reports
it as "cpus", ``get_spark`` builds ``local[N]`` from it, and
``pin_session`` sizes a foreign session's stock shuffle partitions from
it.
"""

from __future__ import annotations

import os


def test_default_cpus_reads_the_grant(monkeypatch):
    """The grant tracks SPARK_GRAFT_CPUS (the local[N] grant), else the
    affinity mask — never os.cpu_count()."""
    from map_reduce_c_sharp_simulation_multithreaded_spark.session import (
        default_cpus,
    )

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "8")
    assert default_cpus() == 8
    monkeypatch.delenv("SPARK_GRAFT_CPUS")
    assert default_cpus() == len(os.sched_getaffinity(0))


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
