"""Core-grant contract tests.

``session.default_cpus`` is the one CPU-grant default: bench.py reports
it as "cpus", ``get_spark`` builds ``local[N]`` from it, and
``pin_session`` sizes a foreign session's stock shuffle partitions from
it. ``registry.register`` pins the session for every query, whether it
is called through the registry or imported from its plan module.
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


def test_registered_queries_pin_a_foreign_session(spark, sf_dir):
    """A session at a foreign timezone and the stock 200 partitions
    reads UTC at the grant's width after one query, called through the
    registry or imported directly; ``conf_scope`` restores the suite's
    settings afterwards."""
    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.aggregates import (
        agg_pricing_summary,
    )
    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.registry import (
        all_queries,
    )
    from map_reduce_c_sharp_simulation_multithreaded_spark.session import (
        conf_scope,
        default_cpus,
    )

    foreign = {
        "spark.sql.session.timeZone": "America/New_York",
        "spark.sql.shuffle.partitions": "200",
    }
    for fn in (all_queries()["agg_pricing_summary"].fn, agg_pricing_summary):
        with conf_scope(spark, foreign):
            fn(spark, sf_dir)
            assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
            assert int(spark.conf.get("spark.sql.shuffle.partitions")) == max(
                default_cpus(), 16
            )
