"""Relational completeness: predicates, subqueries, unpivot, composite
keys, null-safe equality.

The reference has NO filter operator at all (SURVEY.md §2.3
"Projections / filters" — the closest thing is blank-line skipping,
``D/Program.cs:557-561``); this module supplies the full predicate
algebra and the SQL-surface forms (scalar/correlated subqueries) that a
user of a general engine expects.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, register_views
from .registry import register


@register(
    "filter_predicate_pack",
    oracle="""
SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority
FROM orders
WHERE o_totalprice BETWEEN 100000 AND 300000
  AND o_orderpriority IN ('1-URGENT', '2-HIGH')
  AND o_orderstatus LIKE 'F%'
  AND NOT (o_orderkey % 10 = 0)
""",
    tags=("filter",),
)
def filter_predicate_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """between / isin / like / negation — full boolean predicate algebra
    pushed into the parquet scan where possible."""
    o = load_table(spark, sf_dir, "orders")
    return o.filter(
        F.col("o_totalprice").between(100000, 300000)
        & F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
        & F.col("o_orderstatus").like("F%")
        & ~(F.col("o_orderkey") % 10 == 0)
    ).select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")


@register(
    "filter_rlike_regex",
    oracle="""
SELECT p_partkey, p_name
FROM part
WHERE regexp_matches(p_name, '^(small|large) (widget|bolt)$')
""",
    tags=("filter", "string"),
)
def filter_rlike_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex predicate (rlike)."""
    p = load_table(spark, sf_dir, "part")
    return p.filter(
        F.col("p_name").rlike(r"^(small|large) (widget|bolt)$")
    ).select("p_partkey", "p_name")


@register(
    "filter_null_safe_eq",
    oracle="""
WITH e AS (
  SELECT event_id,
         CASE WHEN value < 10 THEN NULL ELSE ROUND(value, 0) END AS v
  FROM events
)
SELECT e1.event_id AS id_a, e2.event_id AS id_b
FROM e e1 JOIN e e2
  ON e1.v IS NOT DISTINCT FROM e2.v
 AND e1.event_id + 1 = e2.event_id
""",
    tags=("filter", "join", "nulls"),
)
def filter_null_safe_eq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (``<=>`` / IS NOT DISTINCT FROM):
    NULL = NULL matches, unlike ordinary equi-join semantics. The
    corpus has no NULL values, so NULLs are derived deterministically
    (value < 10 → NULL) to exercise the NULL-match path for real."""
    ev = load_table(spark, sf_dir, "events")
    v = F.when(F.col("value") < 10, F.lit(None).cast("double")).otherwise(
        F.round("value", 0)
    )
    e = ev.select("event_id", v.alias("v"))
    a = e.select(F.col("event_id").alias("id_a"), F.col("v").alias("va"))
    b = e.select(F.col("event_id").alias("id_b"), F.col("v").alias("vb"))
    return a.join(
        b,
        (F.col("va").eqNullSafe(F.col("vb")))
        & (F.col("id_a") + 1 == F.col("id_b")),
    ).select("id_a", "id_b")


_SCALAR_SUBQ = """
SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice
FROM orders
WHERE o_totalprice > 1.8 * (SELECT AVG(o_totalprice) FROM orders)
"""


@register("subquery_scalar_avg", oracle=_SCALAR_SUBQ, tags=("subquery",))
def subquery_scalar_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Uncorrelated scalar subquery (orders 80% above the global mean).

    The 1.8x margin keeps the cut line far from any data point, so the
    engines' ulp-level AVG difference cannot flip membership.
    """
    register_views(spark, sf_dir, "orders")
    return spark.sql(_SCALAR_SUBQ)


_CORR_SUBQ = """
SELECT c_custkey, c_nationkey, ROUND(c_acctbal, 2) AS c_acctbal
FROM customer c
WHERE c_acctbal > 500 + (
  SELECT AVG(c_acctbal) FROM customer c2
  WHERE c2.c_nationkey = c.c_nationkey
)
"""


@register("subquery_correlated_avg", oracle=_CORR_SUBQ, tags=("subquery",))
def subquery_correlated_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (decorrelated by Catalyst into an
    aggregate + join — no per-row re-execution at scale); the +500
    margin keeps membership ulp-stable."""
    register_views(spark, sf_dir, "customer")
    return spark.sql(_CORR_SUBQ)


@register(
    "unpivot_part_attrs",
    oracle="""
SELECT p_partkey, 'size' AS attr, CAST(p_size AS DOUBLE) AS val FROM part
UNION ALL
SELECT p_partkey, 'retailprice' AS attr, p_retailprice AS val FROM part
""",
    tags=("unpivot",),
)
def unpivot_part_attrs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (melt): wide columns → (attr, val) rows via stack."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.expr(
            "stack(2, 'size', CAST(p_size AS DOUBLE), "
            "'retailprice', p_retailprice) AS (attr, val)"
        ),
    )


@register(
    "join_composite_key",
    oracle="""
SELECT l.l_orderkey, l.l_linenumber, ROUND(l.l_extendedprice, 2) AS price
FROM lineitem l
JOIN (
  SELECT l_orderkey, MAX(l_linenumber) AS l_linenumber
  FROM lineitem GROUP BY l_orderkey
) last_line
  ON l.l_orderkey = last_line.l_orderkey
 AND l.l_linenumber = last_line.l_linenumber
""",
    tags=("join",),
)
def join_composite_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite-key equi join (argmax via self-join on two columns)."""
    li = load_table(spark, sf_dir, "lineitem")
    last_line = li.groupBy("l_orderkey").agg(
        F.max("l_linenumber").alias("l_linenumber")
    )
    return li.join(last_line, ["l_orderkey", "l_linenumber"]).select(
        "l_orderkey",
        "l_linenumber",
        F.round("l_extendedprice", 2).alias("price"),
    )


@register(
    "having_clause",
    oracle="""
SELECT l_suppkey, COUNT(*) AS n_lines, ROUND(SUM(l_quantity), 2) AS qty
FROM lineitem
GROUP BY l_suppkey
HAVING COUNT(*) > 50 AND SUM(l_quantity) > 1000.5
""",
    tags=("aggregate", "filter"),
)
def having_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Post-aggregation filter (HAVING)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_quantity"), 2).alias("qty"),
        )
        .filter((F.col("n_lines") > 50) & (F.col("qty") > 1000.5))
    )


@register(
    "quality_constraint_audit",
    oracle="""
SELECT 'orders_fk_customer' AS check_name,
       (SELECT COUNT(*) FROM orders) AS n_checked,
       (SELECT COUNT(*) FROM orders
        WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS n_violations
UNION ALL
SELECT 'lineitem_fk_orders',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem
        WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders))
UNION ALL
SELECT 'orders_positive_totalprice',
       (SELECT COUNT(*) FROM orders),
       (SELECT COUNT(*) FROM orders WHERE NOT (o_totalprice > 0.0))
UNION ALL
SELECT 'lineitem_discount_range',
       (SELECT COUNT(*) FROM lineitem),
       (SELECT COUNT(*) FROM lineitem
        WHERE NOT (l_discount >= 0.0 AND l_discount <= 0.2))
UNION ALL
SELECT 'documents_nonempty_text',
       (SELECT COUNT(*) FROM documents),
       (SELECT COUNT(*) FROM documents
        WHERE text IS NULL OR length(text) = 0)
UNION ALL
SELECT 'events_nonneg_value',
       (SELECT COUNT(*) FROM events),
       (SELECT COUNT(*) FROM events
        WHERE value IS NULL OR value < 0.0)
""",
    tags=("quality", "join", "aggregate", "custom-operator"),
)
def quality_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dbt-test-style data-quality audit: referential-integrity checks
    (left-anti joins, the scalable NOT IN for non-null keys), range
    constraints, and non-empty checks, each reported as
    (check, n_checked, n_violations). Row-level predicates fold into
    each table's single scan (one count + one conditional count);
    every FK check is one anti-join — the generalization of the
    reference's throw-on-missing-key probe (``D/Program.cs:310``)
    into a reporting operator instead of a crash.
    """
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    li = load_table(spark, sf_dir, "lineitem")
    d = load_table(spark, sf_dir, "documents")

    def check(name: str, table: DataFrame, violations: DataFrame) -> DataFrame:
        # both sides reduce to one row; no .count() action at plan-build
        # time (the anti-pattern: a Spark job before the returned
        # DataFrame's own action)
        nc = table.agg(F.count(F.lit(1)).alias("n_checked"))
        nv = violations.agg(F.count(F.lit(1)).alias("n_violations"))
        return nv.crossJoin(F.broadcast(nc)).select(
            F.lit(name).alias("check_name"), "n_checked", "n_violations"
        )

    fk_oc = check(
        "orders_fk_customer", o,
        o.join(c, o.o_custkey == c.c_custkey, "left_anti"),
    )
    fk_lo = check(
        "lineitem_fk_orders", li,
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti"),
    )
    rng_tp = check(
        "orders_positive_totalprice", o,
        o.filter(~(F.col("o_totalprice") > 0.0)),
    )
    rng_disc = check(
        "lineitem_discount_range", li,
        li.filter(
            ~((F.col("l_discount") >= 0.0) & (F.col("l_discount") <= 0.2))
        ),
    )
    empty_doc = check(
        "documents_nonempty_text", d,
        d.filter(F.col("text").isNull() | (F.length("text") == 0)),
    )
    # events.value >= 0 is load-bearing: stream_sliding_avg's integer
    # average uses truncating DIV (Spark) vs floor // (DuckDB), which
    # only agree for non-negative window sums. Auditing the invariant
    # keeps a future corpus regeneration from silently breaking it.
    ev = load_table(spark, sf_dir, "events")
    nonneg_val = check(
        "events_nonneg_value", ev,
        ev.filter(F.col("value").isNull() | (F.col("value") < 0.0)),
    )
    return (
        fk_oc.union(fk_lo).union(rng_tp).union(rng_disc)
        .union(empty_doc).union(nonneg_val)
    )


@register(
    "join_lateral_top_order",
    oracle="""
SELECT c_custkey, t.o_orderkey AS top_orderkey,
       ROUND(t.o_totalprice, 2) AS top_price
FROM customer,
LATERAL (
  SELECT o_orderkey, o_totalprice
  FROM orders
  WHERE o_custkey = c_custkey
  ORDER BY o_totalprice DESC, o_orderkey
  LIMIT 1
) t
""",
    tags=("join", "lateral", "subquery"),
)
def join_lateral_top_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — each customer's single most
    expensive order, written as the SQL a warehouse user actually
    types. Catalyst decorrelates the per-row ORDER BY ... LIMIT 1
    into a window/aggregate plan rather than executing it per
    customer row, which is exactly why declaring the plan beats
    hand-scheduling it (the reference would have needed another
    worker loop). Price tiebreak on o_orderkey keeps the winner
    deterministic across engines.
    """
    register_views(spark, sf_dir, "customer", "orders")
    return spark.sql("""
        SELECT c_custkey, t.o_orderkey AS top_orderkey,
               ROUND(t.o_totalprice, 2) AS top_price
        FROM customer,
        LATERAL (
          SELECT o_orderkey, o_totalprice
          FROM orders
          WHERE o_custkey = c_custkey
          ORDER BY o_totalprice DESC, o_orderkey
          LIMIT 1
        ) t
    """)
