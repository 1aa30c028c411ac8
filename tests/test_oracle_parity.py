"""Differential test: every registered query vs its DuckDB oracle.

Mirrors the driver's t2 correctness gate at sf0.001 so failures surface
locally first. Queries without an oracle get a rows-materialize smoke
check instead.
"""

from __future__ import annotations

import pytest

from map_reduce_c_sharp_simulation_multithreaded_spark import oracle as ora
from map_reduce_c_sharp_simulation_multithreaded_spark.plans import registry

ALL = registry.all_queries()


@pytest.fixture(scope="module")
def con(sf_dir):
    c = ora.duckdb_connect(sf_dir)
    yield c
    c.close()


@pytest.mark.parametrize("name", sorted(ALL))
def test_query_matches_oracle(name, spark, sf_dir, con):
    q = ALL[name]
    scols, srows = ora.spark_result(q.fn(spark, sf_dir))
    sql = registry.resolve_oracle(q.oracle, sf_dir)
    if sql is None:
        assert srows is not None  # materializes without error
        return
    ocols, orows = ora.oracle_result(con, sql)
    res = ora.compare(scols, srows, ocols, orows)
    assert res["ok"], {k: v for k, v in res.items() if k != "first_diffs"} | {
        "first_diffs": res.get("first_diffs")
    }


def test_collect_sorted_array(spark, sf_dir):
    """Array-typed ordered collect (the registered query joins to string
    because the driver's canonicalizer can't hash array cells)."""
    from pyspark.sql import functions as F

    from map_reduce_c_sharp_simulation_multithreaded_spark.catalog import load_table

    n = load_table(spark, sf_dir, "nation")
    rows = (
        n.groupBy("n_regionkey")
        .agg(F.sort_array(F.collect_list("n_name")).alias("nations"))
        .orderBy("n_regionkey")
        .collect()
    )
    assert len(rows) == 5
    for r in rows:
        assert r.nations == sorted(r.nations) and len(r.nations) == 5


def test_every_query_is_oracle_backed():
    """No registered query may fall back to the rows-only smoke check in
    :func:`test_query_matches_oracle`: the MinHash/SimHash family runs
    the md5-derived oracle-mode hash family and the trained-IVF query
    generates its oracle from the pure-Python training replay."""
    assert [n for n, q in ALL.items() if q.oracle is None] == []


def test_winnowing_short_docs(spark, tmp_path):
    """Docs shorter than the 5-gram window produce zero fingerprints;
    pin the cross-engine convention (n_fp=0, fp_min NULL, fp_check 0)
    the real corpus never exercises (ADVICE r01)."""
    from map_reduce_c_sharp_simulation_multithreaded_spark.plans.text import (
        _WINNOW_ORACLE,
        text_winnowing_fingerprints,
    )

    rows = [
        (1, "", "en", "t", 0),
        (2, "abc", "en", "t", 3),
        (3, "abcde", "en", "t", 5),  # exactly one 5-gram
        (4, "hello world, winnowing!", "en", "t", 23),
    ]
    sf = tmp_path / "sf_tiny"
    sf.mkdir()
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(str(sf / "documents.parquet"))

    import duckdb

    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    scols, srows = ora.spark_result(text_winnowing_fingerprints(spark, str(sf)))
    ocols, orows = ora.oracle_result(con, _WINNOW_ORACLE)
    res = ora.compare(scols, srows, ocols, orows)
    assert res["ok"], res
    by_id = {r[0]: r for r in srows}
    assert by_id[1][1] == 0 and by_id[1][2] is None and by_id[1][3] == 0
    assert by_id[2][1] == 0 and by_id[2][3] == 0
    assert by_id[3][1] == 1
