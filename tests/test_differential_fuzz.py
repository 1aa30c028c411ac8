"""Grammar-restricted differential SQL fuzzing: Spark vs DuckDB on the
same parquet tables (round 13).

Every registered query is differentially tested against a hand-built
oracle; this suite closes the remaining gap — the HAND in hand-built.
Hypothesis generates queries from a restricted relational grammar
(single fact table, optional dimension join, exact-typed predicates,
COUNT/SUM-on-integer/MIN/MAX aggregates, optional HAVING) and runs the
IDENTICAL SQL text through `spark.sql` and DuckDB, comparing with the
same canonicalizer the oracle harness uses (`oracle.compare` — the
type-tagged, float-repr comparator that caught the int-vs-float driver
hash skew in round 3).

The grammar is deliberately inside the dialect intersection AND the
exactness envelope the repo's oracle discipline established:
- no SUM/AVG over DOUBLE (partial-agg order would leak ulps); SUM only
  over integer columns, MIN/MAX over anything (selection, not
  arithmetic),
- no LIMIT / ORDER BY (compare() sorts canonically),
- literals from the synthetic data's ranges so predicates are
  selective rather than degenerate,
- COUNT(*) always present, so group-cardinality skew can never hide.

What this catches that per-query oracles cannot: engine-integration
regressions in shapes NO registered query happens to exercise — a
grouping-column type coercion, a predicate-pushdown edge, a HAVING
over a computed alias — the combinatorial neighborhood around the
hand-written inventory.
"""

from __future__ import annotations

import os
import sys

import pytest
from hypothesis import HealthCheck, example, given, seed, settings
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from map_reduce_c_sharp_simulation_multithreaded_spark import oracle as ora

SF_DIR = os.environ.get("MRCS_TEST_SF_DIR", "/root/testdata/sf0.001")

# Fixed Hypothesis seed: every run explores the identical example set,
# so a red is re-drivable, and ``print_blob=True`` emits a
# ``@reproduce_failure`` blob for it. ``MRCS_FUZZ_SEED`` overrides it
# to explore a different neighbourhood.
FUZZ_SEED = int(os.environ.get("MRCS_FUZZ_SEED", "16"))

# fact table -> (group-by columns, integer sum columns, min/max
# columns, numeric predicate columns with literal ranges, string
# predicate columns with LIKE fragments, optional join clause)
TABLES = {
    "orders": {
        "group": ["o_orderstatus", "o_orderpriority"],
        "sum": ["o_orderkey", "o_custkey"],
        "minmax": ["o_totalprice", "o_orderpriority", "o_custkey"],
        "numpred": [("o_custkey", 0, 400), ("o_totalprice", 0.0, 300000.0)],
        "strpred": [("o_orderpriority", ["1", "2", "3", "4", "5"])],
        "joins": [
            (
                "JOIN customer ON o_custkey = c_custkey",
                ["c_mktsegment", "c_nationkey"],
            )
        ],
    },
    "lineitem": {
        "group": ["l_returnflag", "l_linestatus", "l_linenumber"],
        "sum": ["l_orderkey", "l_partkey", "l_linenumber"],
        "minmax": ["l_quantity", "l_extendedprice", "l_shipdate"],
        "numpred": [
            ("l_quantity", 1.0, 50.0),
            ("l_partkey", 0, 2000),
            ("l_linenumber", 1, 7),
        ],
        "strpred": [("l_returnflag", ["A", "N", "R"])],
        "joins": [
            (
                "JOIN orders ON l_orderkey = o_orderkey",
                ["o_orderstatus", "o_orderpriority"],
            )
        ],
    },
    "customer": {
        "group": ["c_mktsegment", "c_nationkey"],
        "sum": ["c_custkey", "c_nationkey"],
        "minmax": ["c_acctbal", "c_name", "c_custkey"],
        "numpred": [("c_acctbal", -999.0, 9999.0), ("c_nationkey", 0, 24)],
        "strpred": [("c_name", ["1", "2", "3"])],
        "joins": [
            (
                "JOIN nation ON c_nationkey = n_nationkey",
                ["n_name", "n_regionkey"],
            )
        ],
    },
    "part": {
        "group": ["p_brand", "p_type", "p_size"],
        "sum": ["p_partkey", "p_size"],
        "minmax": ["p_retailprice", "p_name", "p_size"],
        "numpred": [("p_size", 1, 50), ("p_retailprice", 900.0, 2000.0)],
        "strpred": [("p_brand", ["1", "2", "3", "4"])],
        "joins": [],
    },
}

OPS = ["=", "<>", "<", "<=", ">", ">="]


@st.composite
def queries(draw):
    tname = draw(st.sampled_from(sorted(TABLES)))
    t = TABLES[tname]
    join_sql, join_groups = "", []
    if t["joins"] and draw(st.booleans()):
        join_sql, join_groups = t["joins"][0]
    gpool = t["group"] + join_groups
    n_groups = draw(st.integers(min_value=0, max_value=2))
    groups = draw(
        st.lists(
            st.sampled_from(gpool),
            min_size=n_groups,
            max_size=n_groups,
            unique=True,
        )
    )
    aggs = ["COUNT(*) AS cnt"]
    if draw(st.booleans()):
        aggs.append(f"SUM({draw(st.sampled_from(t['sum']))}) AS s1")
    if draw(st.booleans()):
        col = draw(st.sampled_from(t["minmax"]))
        fn = draw(st.sampled_from(["MIN", "MAX"]))
        aggs.append(f"{fn}({col}) AS m1")

    preds = []
    n_preds = draw(st.integers(min_value=0, max_value=2))
    for _ in range(n_preds):
        if draw(st.booleans()) and t["strpred"]:
            col, frags = draw(st.sampled_from(t["strpred"])), None
            frag = draw(st.sampled_from(col[1]))
            preds.append(f"{col[0]} LIKE '%{frag}%'")
        else:
            col, lo, hi = draw(st.sampled_from(t["numpred"]))
            if isinstance(lo, float):
                lit = round(draw(st.floats(min_value=lo, max_value=hi,
                                           allow_nan=False)), 2)
            else:
                lit = draw(st.integers(min_value=lo, max_value=hi))
            preds.append(f"{col} {draw(st.sampled_from(OPS))} {lit}")
    where = f" WHERE {' AND '.join(preds)}" if preds else ""
    group_by = f" GROUP BY {', '.join(groups)}" if groups else ""
    having = ""
    if groups and draw(st.booleans()):
        having = f" HAVING COUNT(*) > {draw(st.integers(0, 5))}"
    select = ", ".join(groups + aggs)
    return (
        f"SELECT {select} FROM {tname} {join_sql}{where}{group_by}{having}"
    )


@pytest.fixture(scope="module")
def engines(spark):
    names = sorted(TABLES) + ["nation"]
    for name in names:
        spark.read.parquet(os.path.join(SF_DIR, f"{name}.parquet")) \
            .createOrReplaceTempView(name)
    con = ora.duckdb_connect(SF_DIR)
    yield spark, con
    con.close()
    # temp views are session-global: drop them so no later test can
    # silently resolve a bare table name against this module's views
    for name in names:
        spark.catalog.dropTempView(name)


@seed(FUZZ_SEED)
@settings(
    max_examples=25,
    deadline=None,
    print_blob=True,
    suppress_health_check=[HealthCheck.too_slow],
)
@given(sql=queries())
@example(sql="SELECT COUNT(*) AS cnt FROM orders ")
@example(
    sql="SELECT o_orderstatus, COUNT(*) AS cnt, SUM(o_custkey) AS s1 "
    "FROM orders  WHERE o_custkey <= 200 GROUP BY o_orderstatus "
    "HAVING COUNT(*) > 2"
)
@example(
    sql="SELECT c_mktsegment, n_name, COUNT(*) AS cnt, "
    "MIN(c_acctbal) AS m1 FROM customer "
    "JOIN nation ON c_nationkey = n_nationkey "
    "GROUP BY c_mktsegment, n_name"
)
@example(
    sql="SELECT l_returnflag, COUNT(*) AS cnt, MAX(l_shipdate) AS m1 "
    "FROM lineitem  WHERE l_quantity > 25.0 GROUP BY l_returnflag"
)
def test_generated_query_agrees_across_engines(engines, sql):
    spark, con = engines
    scols, srows = ora.spark_result(spark.sql(sql))
    ocols, orows = ora.oracle_result(con, sql)
    res = ora.compare(scols, srows, ocols, orows)
    assert res["ok"], f"engines disagree on: {sql}\n{res}"


# ---------------------------------------------------------------------
# Scalar-projection grammar: CASE / string scalars / integer arithmetic
# projected per row (no aggregation). Division excluded by design: the
# one operator whose int semantics the dialects do not share.
# ---------------------------------------------------------------------

@st.composite
def scalar_queries(draw):
    tname = draw(st.sampled_from(["orders", "part", "customer"]))
    t = TABLES[tname]
    key = {"orders": "o_orderkey", "part": "p_partkey",
           "customer": "c_custkey"}[tname]
    exprs = [key]
    n = draw(st.integers(min_value=1, max_value=3))
    for i in range(n):
        kind = draw(st.sampled_from(["case", "str", "arith"]))
        if kind == "case":
            col, lo, hi = draw(st.sampled_from(t["numpred"]))
            lit = (
                round(draw(st.floats(min_value=lo, max_value=hi,
                                     allow_nan=False)), 2)
                if isinstance(lo, float)
                else draw(st.integers(min_value=lo, max_value=hi))
            )
            exprs.append(
                f"CASE WHEN {col} > {lit} THEN 'hi' ELSE 'lo' END AS e{i}"
            )
        elif kind == "str":
            col = draw(st.sampled_from(
                [c for c, _ in t["strpred"]] + t["group"][:1]
            ))
            fn = draw(st.sampled_from(
                [f"UPPER({col})", f"LOWER({col})", f"LENGTH({col})",
                 f"SUBSTR({col}, 1, 3)", f"TRIM({col})"]
            ))
            exprs.append(f"{fn} AS e{i}")
        else:
            a = draw(st.sampled_from(t["sum"]))
            b = draw(st.sampled_from(t["sum"]))
            op = draw(st.sampled_from(["+", "-", "*"]))
            exprs.append(f"({a} {op} {b}) AS e{i}")
    col, lo, hi = draw(st.sampled_from(t["numpred"]))
    lit = (
        round(draw(st.floats(min_value=lo, max_value=hi,
                             allow_nan=False)), 2)
        if isinstance(lo, float)
        else draw(st.integers(min_value=lo, max_value=hi))
    )
    return (
        f"SELECT {', '.join(exprs)} FROM {tname} "
        f"WHERE {col} {draw(st.sampled_from(OPS))} {lit}"
    )


@seed(FUZZ_SEED)
@settings(max_examples=20, deadline=None, print_blob=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(sql=scalar_queries())
@example(
    sql="SELECT p_partkey, CASE WHEN p_size > 25 THEN 'hi' ELSE 'lo' "
    "END AS e0, SUBSTR(p_brand, 1, 3) AS e1, (p_partkey * p_size) AS e2 "
    "FROM part WHERE p_size >= 1"
)
def test_scalar_projections_agree_across_engines(engines, sql):
    spark, con = engines
    scols, srows = ora.spark_result(spark.sql(sql))
    ocols, orows = ora.oracle_result(con, sql)
    res = ora.compare(scols, srows, ocols, orows)
    assert res["ok"], f"engines disagree on: {sql}\n{res}"


# ---------------------------------------------------------------------
# Window grammar: ranking functions over a deterministic ORDER BY
# (unique key tiebreak — rank ties are the classic cross-engine trap,
# excluded by construction the same way the registry's windows do it).
# ---------------------------------------------------------------------

@st.composite
def window_queries(draw):
    tname = draw(st.sampled_from(["orders", "lineitem", "customer"]))
    t = TABLES[tname]
    key = {"orders": "o_orderkey", "customer": "c_custkey",
           "lineitem": "l_orderkey"}[tname]
    part = draw(st.sampled_from(t["group"]))
    fn = draw(st.sampled_from(["ROW_NUMBER()", "RANK()", "DENSE_RANK()",
                               f"COUNT(*) ", f"SUM({t['sum'][0]})"])).strip()
    order = key if tname != "lineitem" else "l_orderkey, l_linenumber"
    over = f"OVER (PARTITION BY {part} ORDER BY {order})"
    k = draw(st.integers(min_value=1, max_value=5))
    return (
        f"SELECT * FROM (SELECT {key}, {part}, {fn} {over} AS w "
        f"FROM {tname}) WHERE w <= {k}" if "RANK" in fn or "NUMBER" in fn
        else f"SELECT {key}, {part}, {fn} {over} AS w FROM {tname}"
    )


@seed(FUZZ_SEED)
@settings(max_examples=15, deadline=None, print_blob=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(sql=window_queries())
@example(
    sql="SELECT * FROM (SELECT o_orderkey, o_orderstatus, ROW_NUMBER() "
    "OVER (PARTITION BY o_orderstatus ORDER BY o_orderkey) AS w "
    "FROM orders) WHERE w <= 3"
)
def test_window_functions_agree_across_engines(engines, sql):
    spark, con = engines
    scols, srows = ora.spark_result(spark.sql(sql))
    ocols, orows = ora.oracle_result(con, sql)
    res = ora.compare(scols, srows, ocols, orows)
    assert res["ok"], f"engines disagree on: {sql}\n{res}"


# ---------------------------------------------------------------------
# Set-operation grammar: two same-shape projections of one table under
# different predicates, combined with the full distinct/ALL matrix.
# ---------------------------------------------------------------------

@st.composite
def setop_queries(draw):
    tname = draw(st.sampled_from(["orders", "part"]))
    t = TABLES[tname]
    cols = ", ".join(t["group"][:2])

    def side():
        col, lo, hi = draw(st.sampled_from(t["numpred"]))
        lit = (
            round(draw(st.floats(min_value=lo, max_value=hi,
                                 allow_nan=False)), 2)
            if isinstance(lo, float)
            else draw(st.integers(min_value=lo, max_value=hi))
        )
        return (
            f"SELECT {cols} FROM {tname} "
            f"WHERE {col} {draw(st.sampled_from(OPS))} {lit}"
        )

    op = draw(st.sampled_from(
        ["UNION", "UNION ALL", "INTERSECT", "EXCEPT"]
    ))
    return f"{side()} {op} {side()}"


@seed(FUZZ_SEED)
@settings(max_examples=15, deadline=None, print_blob=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(sql=setop_queries())
@example(
    sql="SELECT o_orderstatus, o_orderpriority FROM orders WHERE "
    "o_custkey <= 200 EXCEPT SELECT o_orderstatus, o_orderpriority "
    "FROM orders WHERE o_custkey > 200"
)
def test_set_operations_agree_across_engines(engines, sql):
    spark, con = engines
    scols, srows = ora.spark_result(spark.sql(sql))
    ocols, orows = ora.oracle_result(con, sql)
    res = ora.compare(scols, srows, ocols, orows)
    assert res["ok"], f"engines disagree on: {sql}\n{res}"


# ---------------------------------------------------------------------
# Temporal / membership / DISTINCT-aggregate grammar: EXTRACT over the
# timestamp columns, IN-lists and BETWEEN predicates, COUNT(DISTINCT).
# ---------------------------------------------------------------------

@st.composite
def temporal_queries(draw):
    tname = draw(st.sampled_from(["orders", "lineitem"]))
    ts = {"orders": "o_orderdate", "lineitem": "l_shipdate"}[tname]
    t = TABLES[tname]
    part = draw(st.sampled_from(["YEAR", "MONTH", "DAY"]))
    groups = [f"EXTRACT({part} FROM {ts}) AS g0"]
    group_keys = ["g0"]
    if draw(st.booleans()):
        g = draw(st.sampled_from(t["group"]))
        groups.append(g)
        group_keys.append(g)
    aggs = ["COUNT(*) AS cnt"]
    if draw(st.booleans()):
        aggs.append(
            f"COUNT(DISTINCT {draw(st.sampled_from(t['group']))}) AS d1"
        )
    preds = []
    kind = draw(st.sampled_from(["in", "between", "none"]))
    if kind == "in":
        col, vals = draw(st.sampled_from(t["strpred"]))
        picks = draw(st.lists(st.sampled_from(vals), min_size=1,
                              max_size=3, unique=True))
        quoted = ", ".join(f"'{v}'" for v in picks)
        preds.append(f"{col} IN ({quoted})")
    elif kind == "between":
        col, lo, hi = draw(st.sampled_from(t["numpred"]))
        if isinstance(lo, float):
            a = round(draw(st.floats(min_value=lo, max_value=hi,
                                     allow_nan=False)), 2)
            b = round(draw(st.floats(min_value=lo, max_value=hi,
                                     allow_nan=False)), 2)
        else:
            a = draw(st.integers(min_value=lo, max_value=hi))
            b = draw(st.integers(min_value=lo, max_value=hi))
        preds.append(f"{col} BETWEEN {min(a, b)} AND {max(a, b)}")
    where = f" WHERE {' AND '.join(preds)}" if preds else ""
    return (
        f"SELECT {', '.join(groups + aggs)} FROM {tname}{where} "
        f"GROUP BY {', '.join(group_keys)}"
    )


@seed(FUZZ_SEED)
@settings(max_examples=15, deadline=None, print_blob=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(sql=temporal_queries())
@example(
    sql="SELECT EXTRACT(YEAR FROM o_orderdate) AS g0, COUNT(*) AS cnt, "
    "COUNT(DISTINCT o_orderstatus) AS d1 FROM orders "
    "WHERE o_orderpriority IN ('1', '3') GROUP BY g0"
)
@example(
    sql="SELECT EXTRACT(MONTH FROM l_shipdate) AS g0, l_returnflag, "
    "COUNT(*) AS cnt FROM lineitem WHERE l_partkey BETWEEN 100 AND 900 "
    "GROUP BY g0, l_returnflag"
)
def test_temporal_and_membership_agree_across_engines(engines, sql):
    spark, con = engines
    scols, srows = ora.spark_result(spark.sql(sql))
    ocols, orows = ora.oracle_result(con, sql)
    res = ora.compare(scols, srows, ocols, orows)
    assert res["ok"], f"engines disagree on: {sql}\n{res}"


# ---------------------------------------------------------------------
# Outer-join / existential grammar (round 14): LEFT JOIN with an
# ON-clause predicate on the null-producing side — the construct where
# ON-vs-WHERE placement changes semantics and engines have historically
# disagreed — plus correlated EXISTS / NOT EXISTS (the semi/anti-join
# shapes both engines compile to hash semi joins through different
# front ends). COUNT(*) vs COUNT(dim_col) vs an IS NULL case-sum give
# three independent null-accounting channels per query, so a dropped
# or spuriously-manufactured null row cannot hide.
# ---------------------------------------------------------------------

@st.composite
def outerjoin_queries(draw):
    g = draw(st.sampled_from(["o_orderstatus", "o_orderpriority"]))
    col, lo, hi = draw(
        st.sampled_from([("c_nationkey", 0, 24), ("c_acctbal", -999.0, 9999.0)])
    )
    lit = (
        round(draw(st.floats(min_value=lo, max_value=hi,
                             allow_nan=False)), 2)
        if isinstance(lo, float)
        else draw(st.integers(min_value=lo, max_value=hi))
    )
    dim_pred = f"{col} {draw(st.sampled_from(OPS))} {lit}"
    kind = draw(st.sampled_from(["left", "exists", "not_exists"]))
    if kind == "left":
        # the dim predicate rides the ON clause: rows failing it stay
        # in the result with NULL dim columns instead of being dropped
        return (
            f"SELECT {g}, COUNT(*) AS cnt, COUNT(c_custkey) AS cnt_dim, "
            f"SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS n_null "
            f"FROM orders LEFT JOIN customer "
            f"ON o_custkey = c_custkey AND {dim_pred} "
            f"GROUP BY {g}"
        )
    neg = "NOT " if kind == "not_exists" else ""
    return (
        f"SELECT {g}, COUNT(*) AS cnt FROM orders WHERE {neg}EXISTS "
        f"(SELECT 1 FROM customer WHERE c_custkey = o_custkey "
        f"AND {dim_pred}) GROUP BY {g}"
    )


@seed(FUZZ_SEED)
@settings(max_examples=15, deadline=None, print_blob=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(sql=outerjoin_queries())
@example(
    sql="SELECT o_orderstatus, COUNT(*) AS cnt, COUNT(c_custkey) AS "
    "cnt_dim, SUM(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END) AS "
    "n_null FROM orders LEFT JOIN customer "
    "ON o_custkey = c_custkey AND c_nationkey <= 11 GROUP BY o_orderstatus"
)
@example(
    sql="SELECT o_orderpriority, COUNT(*) AS cnt FROM orders WHERE "
    "NOT EXISTS (SELECT 1 FROM customer WHERE c_custkey = o_custkey "
    "AND c_acctbal > 0.0) GROUP BY o_orderpriority"
)
def test_outer_join_and_exists_agree_across_engines(engines, sql):
    spark, con = engines
    scols, srows = ora.spark_result(spark.sql(sql))
    ocols, orows = ora.oracle_result(con, sql)
    res = ora.compare(scols, srows, ocols, orows)
    assert res["ok"], f"engines disagree on: {sql}\n{res}"


# ---------------------------------------------------------------------
# Multi-dimensional grouping grammar (round 14): ROLLUP / CUBE /
# GROUPING SETS over two group columns with GROUPING() markers. The
# subtotal rows' NULL group keys are exactly where an engine pair can
# diverge (NULL-vs-subtotal ambiguity, grouping-id bit order), and the
# GROUPING() columns pin which NULLs are subtotals — a genuine-NULL
# group value that got misattributed to a subtotal (or vice versa)
# flips a gr bit and fails the compare.
# ---------------------------------------------------------------------

@st.composite
def rollup_queries(draw):
    tname = draw(st.sampled_from(["orders", "lineitem", "part"]))
    t = TABLES[tname]
    g = draw(st.lists(st.sampled_from(t["group"]), min_size=2,
                      max_size=2, unique=True))
    form = draw(st.sampled_from(["ROLLUP", "CUBE", "SETS"]))
    if form == "SETS":
        clause = f"GROUPING SETS (({g[0]}, {g[1]}), ({g[0]}), ())"
    else:
        clause = f"{form}({g[0]}, {g[1]})"
    aggs = ["COUNT(*) AS cnt"]
    if draw(st.booleans()):
        aggs.append(f"SUM({draw(st.sampled_from(t['sum']))}) AS s1")
    where = ""
    if draw(st.booleans()):
        col, lo, hi = draw(st.sampled_from(t["numpred"]))
        lit = (
            round(draw(st.floats(min_value=lo, max_value=hi,
                                 allow_nan=False)), 2)
            if isinstance(lo, float)
            else draw(st.integers(min_value=lo, max_value=hi))
        )
        where = f" WHERE {col} {draw(st.sampled_from(OPS))} {lit}"
    sel = ", ".join(
        list(g)
        + [f"GROUPING({c}) AS gr{i}" for i, c in enumerate(g)]
        + aggs
    )
    return f"SELECT {sel} FROM {tname}{where} GROUP BY {clause}"


def _is_empty_input_grand_total_divergence(srows, ocols, orows) -> bool:
    """The ONE adjudicated engine divergence this grammar has found
    (round 14, first rotating-seed run — minimal repro: ``SELECT a,
    GROUPING(a) g, COUNT(*) c FROM t WHERE false GROUP BY ROLLUP(a)``).
    Over an EMPTY input the SQL standard's empty grouping set ``()``
    still defines one group, so DuckDB (like PostgreSQL) returns the
    grand-total row with cnt=0 and every GROUPING() bit = 1; Spark's
    grouping-sets lowering goes through Expand, and Expand of zero
    rows is zero rows, so Spark returns an EMPTY result — even though
    its plain global aggregate (``SELECT COUNT(*) ... WHERE false``)
    correctly returns the 1-row answer. Accept exactly that shape:
    Spark empty, oracle rows all-subtotal (every gr bit 1) with zero
    counts — anything else is a real disagreement."""
    if srows:
        return False
    by_col = {c: [r[i] for r in orows] for i, c in enumerate(ocols)}
    return all(
        all(v == 1 for v in vs) if c.startswith("gr")
        else all(v == 0 for v in vs) if c == "cnt"
        else all(v is None for v in vs)
        for c, vs in by_col.items()
        if c != "s1"  # SUM over no rows: NULL, covered by the else arm
    ) and all(v is None for v in by_col.get("s1", []))


@seed(FUZZ_SEED)
@settings(max_examples=15, deadline=None, print_blob=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(sql=rollup_queries())
@example(
    sql="SELECT o_orderstatus, o_orderpriority, GROUPING(o_orderstatus) "
    "AS gr0, GROUPING(o_orderpriority) AS gr1, COUNT(*) AS cnt "
    "FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)"
)
@example(
    sql="SELECT p_brand, p_size, GROUPING(p_brand) AS gr0, "
    "GROUPING(p_size) AS gr1, COUNT(*) AS cnt, SUM(p_partkey) AS s1 "
    "FROM part WHERE p_size <= 25 "
    "GROUP BY GROUPING SETS ((p_brand, p_size), (p_brand), ())"
)
@example(
    # the adjudicated divergence, pinned so the carve-out is exercised
    # every run: WHERE matches zero rows, Spark returns empty, DuckDB
    # returns the standard's grand-total row
    sql="SELECT o_orderstatus, o_orderpriority, GROUPING(o_orderstatus) "
    "AS gr0, GROUPING(o_orderpriority) AS gr1, COUNT(*) AS cnt "
    "FROM orders WHERE o_totalprice = 0.0 "
    "GROUP BY ROLLUP(o_orderstatus, o_orderpriority)"
)
def test_multidim_grouping_agrees_across_engines(engines, sql):
    spark, con = engines
    scols, srows = ora.spark_result(spark.sql(sql))
    ocols, orows = ora.oracle_result(con, sql)
    if _is_empty_input_grand_total_divergence(srows, ocols, orows):
        return  # adjudicated: Spark's Expand-over-empty vs the standard
    res = ora.compare(scols, srows, ocols, orows)
    assert res["ok"], f"engines disagree on: {sql}\n{res}"
