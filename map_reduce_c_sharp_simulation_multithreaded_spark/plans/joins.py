"""Join-family queries.

The reference implements exactly one join: a co-partitioned inner equi
hash join (``D/Program.cs:63-149,289-318``). This module generalizes to
the full join family (SURVEY.md §2.3 "Joins"): inner, left, semi, anti,
full outer, cross, non-equi (theta), and explicit broadcast.

Scale notes: every equi join here is declared; Catalyst plans broadcast
vs shuffled-hash vs sort-merge from stats + AQE. Broadcast hints are
applied ONLY to the fixed-cardinality dims (nation=25, region=5 rows at
every SF) — hinting big tables would break at 100 TB. The non-equi
predicate rides on the equi key, so it stays a hash join with a post-
filter rather than degenerating to a nested-loop join.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_tables
from .registry import register


@register(
    "join_inner_supplier_nation",
    oracle="""
SELECT s_suppkey, s_name, n_name
FROM supplier JOIN nation ON s_nationkey = n_nationkey
""",
    tags=("join",),
)
def join_inner_supplier_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain inner equi join with projection (the reference's O8–O9)."""
    t = load_tables(spark, sf_dir, "supplier", "nation")
    s, n = t["supplier"], t["nation"]
    return s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey).select(
        "s_suppkey", "s_name", "n_name"
    )


@register(
    "join_left_orders_per_customer",
    oracle="""
SELECT c_custkey,
       COUNT(o_orderkey) AS n_orders,
       ROUND(SUM(COALESCE(o_totalprice, 0.0)), 2) AS total_spent
FROM customer LEFT JOIN orders ON c_custkey = o_custkey
GROUP BY c_custkey
""",
    tags=("join", "aggregate"),
)
def join_left_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving customers with no orders (count=0)."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    c, o = t["customer"], t["orders"]
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(
            F.count(o.o_orderkey).alias("n_orders"),
            F.round(F.sum(F.coalesce(o.o_totalprice, F.lit(0.0))), 2).alias(
                "total_spent"
            ),
        )
    )


@register(
    "join_semi_customers_with_orders",
    oracle="""
SELECT c_nationkey, COUNT(*) AS n_customers
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_nationkey
""",
    tags=("join",),
)
def join_semi_customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join = EXISTS; no row multiplication on the probe side."""
    t = load_tables(spark, sf_dir, "customer", "orders")
    c, o = t["customer"], t["orders"]
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "join_anti_customers_without_big_orders",
    oracle="""
SELECT c_mktsegment AS segment, COUNT(*) AS n_customers
FROM customer c
WHERE NOT EXISTS (
  SELECT 1 FROM orders o
  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000
)
GROUP BY c_mktsegment
""",
    tags=("join",),
)
def join_anti_customers_without_big_orders(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Left-anti join = NOT EXISTS (right side pre-filtered).

    The synthetic data has full referential integrity (every customer
    has orders), so the anti join is made non-trivial by filtering the
    right side to big-ticket orders first — the filter is pushed to the
    parquet scan before the anti join's shuffle.
    """
    t = load_tables(spark, sf_dir, "customer", "orders")
    c = t["customer"]
    big = t["orders"].filter(F.col("o_totalprice") > 400000)
    return (
        c.join(big, c.c_custkey == big.o_custkey, "left_anti")
        .groupBy(c.c_mktsegment.alias("segment"))
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "join_full_outer_nation_coverage",
    oracle="""
WITH cn AS (SELECT DISTINCT c_nationkey AS ck FROM customer),
     sn AS (SELECT DISTINCT s_nationkey AS sk FROM supplier)
SELECT COALESCE(ck, sk) AS nationkey,
       ck IS NOT NULL AS has_customers,
       sk IS NOT NULL AS has_suppliers
FROM cn FULL OUTER JOIN sn ON ck = sk
""",
    tags=("join", "setop"),
)
def join_full_outer_nation_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join: nations present on either side, with flags."""
    t = load_tables(spark, sf_dir, "customer", "supplier")
    cn = t["customer"].select(F.col("c_nationkey").alias("ck")).distinct()
    sn = t["supplier"].select(F.col("s_nationkey").alias("sk")).distinct()
    return cn.join(sn, cn.ck == sn.sk, "full_outer").select(
        F.coalesce("ck", "sk").alias("nationkey"),
        F.col("ck").isNotNull().alias("has_customers"),
        F.col("sk").isNotNull().alias("has_suppliers"),
    )


@register(
    "join_cross_region_nation",
    oracle="SELECT r_name, n_name FROM region CROSS JOIN nation",
    tags=("join",),
)
def join_cross_region_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cartesian product (both sides tiny/fixed-cardinality)."""
    t = load_tables(spark, sf_dir, "region", "nation")
    return t["region"].crossJoin(t["nation"]).select("r_name", "n_name")


@register(
    "join_nonequi_late_ship",
    oracle="""
SELECT l_returnflag, COUNT(*) AS n_late,
       ROUND(SUM(l_extendedprice), 2) AS late_value
FROM lineitem JOIN orders
  ON l_orderkey = o_orderkey
 AND l_shipdate > o_orderdate + INTERVAL 30 DAY
GROUP BY l_returnflag
""",
    tags=("join",),
)
def join_nonequi_late_ship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi + theta join: lines shipped >30 days after the order date.

    The theta predicate rides on the equi key, so Catalyst still plans a
    hash join with the range condition as a post-join filter — the only
    shape that survives 100 TB (a pure theta join would be a broadcast
    nested loop).
    """
    t = load_tables(spark, sf_dir, "lineitem", "orders")
    li, o = t["lineitem"], t["orders"]
    cond = (li.l_orderkey == o.o_orderkey) & (
        li.l_shipdate > o.o_orderdate + F.expr("INTERVAL 30 DAYS")
    )
    return (
        li.join(o, cond)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_late"),
            F.round(F.sum(li.l_extendedprice), 2).alias("late_value"),
        )
    )


@register(
    "join_broadcast_region_revenue",
    oracle="""
SELECT r_name, ROUND(SUM(o_totalprice), 2) AS total, COUNT(*) AS n_orders
FROM orders
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name
""",
    tags=("join", "aggregate"),
    headline=True,
)
def join_broadcast_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snowflake join with explicit broadcast of the constant dims.

    nation/region have fixed cardinality at every scale factor, so the
    broadcast hint is safe at 100 TB and removes two shuffles; customer
    is left to Catalyst/AQE (broadcastable at sf0.1, shuffled at scale).
    """
    t = load_tables(spark, sf_dir, "orders", "customer", "nation", "region")
    o, c, n, r = t["orders"], t["customer"], t["nation"], t["region"]
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum(o.o_totalprice), 2).alias("total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "join_salted_skew",
    oracle="""
SELECT c_mktsegment AS segment,
       COUNT(*) AS n_orders,
       ROUND(SUM(o_totalprice), 2) AS total
FROM orders
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
""",
    tags=("join", "skew", "custom-operator"),
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministically salted fact⋈dim join (16 salts) — the explicit
    mitigation for pathological single-key skew that AQE's split-
    partition skew join can't balance (operators/joins.py salted_join).
    The oracle is the UNSALTED join: salting must not change results.
    """
    from ..operators.joins import salted_join

    t = load_tables(spark, sf_dir, "orders", "customer")
    o = t["orders"].withColumnRenamed("o_custkey", "custkey")
    c = t["customer"].select(
        F.col("c_custkey").alias("custkey"), "c_mktsegment"
    )
    joined = salted_join(o, c, key="custkey", salt_col="o_orderkey")
    return joined.groupBy(F.col("c_mktsegment").alias("segment")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total"),
    )


@register(
    "join_fuzzy_levenshtein",
    oracle="""
WITH names AS (SELECT DISTINCT p_name AS nm FROM part)
SELECT a.nm AS name_a, b.nm AS name_b,
       CAST(levenshtein(a.nm, b.nm) AS INT) AS dist
FROM names a JOIN names b
  ON split_part(a.nm, ' ', 2) = split_part(b.nm, ' ', 2)
 AND a.nm < b.nm
WHERE levenshtein(a.nm, b.nm) <= 2
""",
    tags=("join", "fuzzy", "entity-resolution", "custom-operator"),
)
def join_fuzzy_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution fuzzy self-join: near-identical part names
    within edit distance 2, BLOCKED on the name's second token so the
    O(n²) all-pairs comparison becomes per-block quadratic — the
    classic record-linkage shape (block → compare → threshold). The
    equi-join on the block key shuffles once; levenshtein runs only
    inside blocks; `a < b` halves the symmetric pairs. At 100 TB the
    same plan holds as long as blocks stay bounded (choose blocking
    keys accordingly — e.g. sorted-token prefix or phonetic key).

    Block-key dialect note: on a single-token name Spark's
    element_at(split(nm,' '),2) yields NULL (the row would silently
    drop out of the equi-join) while DuckDB's split_part yields '' (the
    row joins the '' block) — coalescing Spark's key to '' makes the
    dialects agree for any corpus, not just the current one where every
    p_name has a space.
    """
    p = load_tables(spark, sf_dir, "part")["part"]
    names = p.select(F.col("p_name").alias("nm")).distinct()
    block = lambda c: F.coalesce(  # noqa: E731
        F.element_at(F.split(c, " "), 2), F.lit("")
    )
    a = names.select(F.col("nm").alias("name_a"),
                     block(F.col("nm")).alias("blk"))
    b = names.select(F.col("nm").alias("name_b"),
                     block(F.col("nm")).alias("blk"))
    return (
        a.join(b, "blk")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn("dist", F.levenshtein("name_a", "name_b"))
        .filter(F.col("dist") <= 2)
        .select("name_a", "name_b", "dist")
    )
