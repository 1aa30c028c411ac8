"""Composite benchmark queries in classic TPC-H shapes (all 22:
Q2-Q22 here, Q1 lives as ``agg_pricing_summary``; Q9/Q11 are adapted —
the corpus lacks partsupp, so supply cost/value are proxied through
part retail price and lineitem revenue while keeping each query's
plan shape intact).

The reference runs exactly one fixed query; a complete analytics engine
must compose scans, selective filters, multi-way joins, aggregation,
ranking and limits in one plan. These four shapes exercise Catalyst's
join ordering, filter pushdown across joins, and TakeOrderedAndProject
— and they are the standard yardstick for OLAP engines.

Determinism: every ORDER BY ... LIMIT ranks on ROUNDED revenue with an
id tiebreak so float ulp cannot flip the k-boundary between engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions.numeric import exact_decimal_sum, exact_decimal_sum_sql
from .registry import register

def _rev():
    # built lazily: constructing a Column requires an active SparkContext,
    # and plan modules are imported at pytest collection time (no session)
    return F.col("l_extendedprice") * (1 - F.col("l_discount"))


@register(
    "tpch_q3_shipping_priority",
    oracle="""
SELECT l_orderkey,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4)
                AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       o_orderpriority
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01'
  AND l_shipdate > TIMESTAMP '1998-01-01'
GROUP BY l_orderkey, o_orderdate, o_orderpriority
""",
    tags=("tpch", "join", "aggregate"),
    headline=True,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape: segment filter → 3-way join → grouped revenue.

    Both date filters push into the parquet scans; the segment filter
    prunes customer before the join (visible as PushedFilters).
    """
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    c, o, li = t["customer"], t["orders"], t["lineitem"]
    return (
        c.filter(F.col("c_mktsegment") == "BUILDING")
        .join(o, c.c_custkey == o.o_custkey)
        .filter(F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        .join(li, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_shipdate") > F.lit("1998-01-01").cast("timestamp"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(exact_decimal_sum(_rev(), 4).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle="""
SELECT n_name, CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4)
                AS DECIMAL(28,4))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY n_name
""",
    tags=("tpch", "join", "aggregate"),
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 shape: 6-table snowflake with a composite join condition
    (customer and supplier in the SAME nation) and region pruning."""
    t = load_tables(
        spark, sf_dir, "customer", "orders", "lineitem", "supplier",
        "nation", "region",
    )
    c, o, li, s, n, r = (
        t["customer"], t["orders"], t["lineitem"], t["supplier"],
        t["nation"], t["region"],
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(li, li.l_orderkey == o.o_orderkey)
        .join(s, (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey))
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "ASIA")),
              n.n_regionkey == r.r_regionkey)
        .groupBy("n_name")
        .agg(exact_decimal_sum(_rev(), 4).alias("revenue"))
    )


@register(
    "tpch_q10_returned_items",
    oracle="""
SELECT c_custkey, c_name, n_name,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4)
                AS DECIMAL(28,4))) AS DOUBLE) AS revenue
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
JOIN nation ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01'
  AND o_orderdate < TIMESTAMP '1997-07-01'
GROUP BY c_custkey, c_name, n_name
ORDER BY revenue DESC, c_custkey
LIMIT 20
""",
    tags=("tpch", "join", "aggregate", "topk"),
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: returned-item revenue loss, top 20 customers.

    Ranking happens on the ROUNDED revenue (same on both engines) with
    c_custkey tiebreak → the LIMIT boundary is deterministic.
    """
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem", "nation")
    c, o, li, n = t["customer"], t["orders"], t["lineitem"], t["nation"]
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
        )
        .join(li, li.l_orderkey == o.o_orderkey)
        .filter(F.col("l_returnflag") == "R")
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(exact_decimal_sum(_rev(), 4).alias("revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
    )


@register(
    "tpch_q18_large_orders",
    oracle="""
WITH big AS (
  SELECT l_orderkey
  FROM lineitem
  GROUP BY l_orderkey
  HAVING SUM(l_quantity) > 150.5
)
SELECT c_custkey, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS orderdate,
       ROUND(o_totalprice, 2) AS o_totalprice,
       ROUND(SUM(l_quantity), 2) AS total_qty
FROM customer
JOIN orders ON c_custkey = o_custkey
JOIN lineitem ON l_orderkey = o_orderkey
WHERE o_orderkey IN (SELECT l_orderkey FROM big)
GROUP BY c_custkey, o_orderkey, o_orderdate, o_totalprice
""",
    tags=("tpch", "join", "aggregate", "subquery"),
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 shape: semi-join against a HAVING-filtered aggregate (large
    orders), then re-aggregate with customer context. The threshold sits
    off any exactly-representable quantity sum (150.5)."""
    t = load_tables(spark, sf_dir, "customer", "orders", "lineitem")
    c, o, li = t["customer"], t["orders"], t["lineitem"]
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("_q"))
        .filter(F.col("_q") > 150.5)
        .select("l_orderkey")
    )
    return (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(big, o.o_orderkey == big.l_orderkey, "left_semi")
        .join(li, li.l_orderkey == o.o_orderkey)
        .groupBy("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .select(
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            F.round("o_totalprice", 2).alias("o_totalprice"),
            "total_qty",
        )
    )


@register(
    "tpch_q12_late_lines",
    oracle="""
SELECT o_orderpriority,
       CAST(SUM(CASE WHEN l_shipdate > o_orderdate + INTERVAL 75 DAY
                     THEN 1 ELSE 0 END) AS BIGINT) AS late_lines,
       COUNT(*) AS all_lines
FROM orders
JOIN lineitem ON o_orderkey = l_orderkey
GROUP BY o_orderpriority
""",
    tags=("tpch", "join", "aggregate", "conditional"),
)
def tpch_q12_late_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape (adapted: the corpus has no l_shipmode/l_receiptdate):
    conditional aggregation over a fact-fact join — lines shipped more
    than 75 days after the order date, bucketed by order priority.

    The lateness predicate is timestamp arithmetic evaluated inside the
    partial aggregate; the shuffle carries 5 groups, not 6M rows.
    """
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    o, li = t["orders"], t["lineitem"]
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 75 DAYS")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(F.when(late, 1).otherwise(0)).cast("bigint").alias("late_lines"),
            F.count(F.lit(1)).alias("all_lines"),
        )
    )


@register(
    "tpch_q14_promo_revenue",
    oracle=f"""
SELECT CAST(month(l_shipdate) AS INT) AS ship_month,
       {exact_decimal_sum_sql(
           "CASE WHEN p_type = 'PROMO' "
           "THEN l_extendedprice * (1 - l_discount) ELSE 0 END", 4)}
         AS promo_rev,
       {exact_decimal_sum_sql("l_extendedprice * (1 - l_discount)", 4)}
         AS total_rev,
       ROUND(100 * {exact_decimal_sum_sql(
           "CASE WHEN p_type = 'PROMO' "
           "THEN l_extendedprice * (1 - l_discount) ELSE 0 END", 4)}
         / {exact_decimal_sum_sql("l_extendedprice * (1 - l_discount)", 4)}, 2)
         AS promo_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
GROUP BY 1
""",
    tags=("tpch", "join", "aggregate"),
)
def tpch_q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14 shape: promotion revenue share per ship month of 1997.

    The ratio divides two exact-decimal sums (identical IEEE bits on
    both engines per functions/numeric.py), so the division and final
    round are reproducible cross-engine. part is broadcast-joined into
    the lineitem scan; the date filter pushes to parquet.
    """
    t = load_tables(spark, sf_dir, "lineitem", "part")
    li, p = t["lineitem"], t["part"]
    promo_term = F.when(F.col("p_type") == "PROMO", _rev()).otherwise(F.lit(0.0))
    promo = exact_decimal_sum(promo_term, 4)
    total = exact_decimal_sum(_rev(), 4)
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(p, li.l_partkey == p.p_partkey)
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        .agg(
            promo.alias("promo_rev"),
            total.alias("total_rev"),
            F.round(F.lit(100) * promo / total, 2).alias("promo_pct"),
        )
    )


@register(
    "tpch_q19_disjunctive_filter",
    oracle=f"""
SELECT COUNT(*) AS n_lines,
       {exact_decimal_sum_sql("l_extendedprice * (1 - l_discount)", 4)}
         AS revenue
FROM lineitem
JOIN part ON p_partkey = l_partkey
WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
       AND l_quantity BETWEEN 1 AND 11)
   OR (p_brand = 'Brand#23' AND p_size BETWEEN 1 AND 25
       AND l_quantity BETWEEN 10 AND 20)
   OR (p_brand = 'Brand#34' AND p_size BETWEEN 1 AND 35
       AND l_quantity BETWEEN 20 AND 30)
""",
    tags=("tpch", "join", "filter"),
)
def tpch_q19_disjunctive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: disjunction of conjunctive brand/size/quantity bands
    spanning both join sides — the classic test that OR predicates
    still prune (Catalyst extracts the common l_quantity/p_brand/p_size
    envelope below the join; part is broadcast)."""
    t = load_tables(spark, sf_dir, "lineitem", "part")
    li, p = t["lineitem"], t["part"]
    q = F.col("l_quantity")
    band = (
        (
            (F.col("p_brand") == "Brand#12")
            & F.col("p_size").between(1, 15)
            & q.between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#23")
            & F.col("p_size").between(1, 25)
            & q.between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#34")
            & F.col("p_size").between(1, 35)
            & q.between(20, 30)
        )
    )
    return (
        li.join(p, p.p_partkey == li.l_partkey)
        .filter(band)
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            exact_decimal_sum(_rev(), 4).alias("revenue"),
        )
    )


@register(
    "tpch_q7_nation_volume",
    oracle=f"""
SELECT supp_nation, cust_nation, l_year,
       {exact_decimal_sum_sql("volume", 4)} AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         l_extendedprice * (1 - l_discount) AS volume
  FROM supplier
  JOIN lineitem ON s_suppkey = l_suppkey
  JOIN orders ON o_orderkey = l_orderkey
  JOIN customer ON c_custkey = o_custkey
  JOIN nation n1 ON s_nationkey = n1.n_nationkey
  JOIN nation n2 ON c_nationkey = n2.n_nationkey
  WHERE (n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
     OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3')
)
GROUP BY supp_nation, cust_nation, l_year
""",
    tags=("tpch", "join", "aggregate"),
)
def tpch_q7_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bilateral trade volume — the same dimension (nation)
    joined TWICE under different roles (supplier side, customer side)
    with a cross-role disjunction, then revenue by year. Exercises
    self-aliasing a broadcast dim and OR-predicates spanning both
    aliases."""
    t = load_tables(
        spark, sf_dir, "supplier", "lineitem", "orders", "customer", "nation"
    )
    s, li, o, c, n = (
        t["supplier"], t["lineitem"], t["orders"], t["customer"], t["nation"]
    )
    n1 = n.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = n.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7")
    ) | (
        (F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3")
    )
    return (
        s.join(li, s.s_suppkey == li.l_suppkey)
        .join(o, o.o_orderkey == li.l_orderkey)
        .join(c, c.c_custkey == o.o_custkey)
        .join(F.broadcast(n1), s.s_nationkey == F.col("n1_key"))
        .join(F.broadcast(n2), c.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").alias("l_year"),
        )
        .agg(exact_decimal_sum(_rev(), 4).alias("revenue"))
    )


@register(
    "tpch_q16_supplier_variety",
    oracle="""
SELECT p_brand, p_type,
       CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt,
       COUNT(*) AS n_lines
FROM part
JOIN lineitem ON p_partkey = l_partkey
WHERE p_size BETWEEN 10 AND 30
GROUP BY p_brand, p_type
""",
    tags=("tpch", "join", "aggregate", "distinct"),
)
def tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape (adapted: no partsupp table in the corpus — lineitem
    stands in as the part↔supplier bridge): DISTINCT supplier count per
    (brand, type). Distinct aggregation = two-phase expand+dedup before
    the final count; the size filter prunes the part scan."""
    t = load_tables(spark, sf_dir, "part", "lineitem")
    p, li = t["part"], t["lineitem"]
    return (
        p.filter(F.col("p_size").between(10, 30))
        .join(li, p.p_partkey == li.l_partkey)
        .groupBy("p_brand", "p_type")
        .agg(
            F.count_distinct(F.col("l_suppkey")).alias("supplier_cnt"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q2_min_cost_supplier",
    oracle="""
WITH ps AS (
  SELECT l_partkey AS ps_partkey, l_suppkey AS ps_suppkey,
         MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS ps_supplycost
  FROM lineitem
  GROUP BY 1, 2
)
SELECT p_partkey, p_name, s_name, n_name,
       CAST(ROUND(s_acctbal, 2) AS DOUBLE) AS acctbal,
       CAST(ps_supplycost AS DOUBLE) AS supplycost
FROM ps
JOIN part ON p_partkey = ps_partkey
JOIN supplier ON s_suppkey = ps_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
WHERE p_size BETWEEN 5 AND 15
  AND r_name = 'EUROPE'
  AND ps_supplycost = (
    SELECT MIN(ps2.ps_supplycost)
    FROM ps ps2
    JOIN supplier s2 ON s2.s_suppkey = ps2.ps_suppkey
    JOIN nation n2 ON n2.n_nationkey = s2.s_nationkey
    JOIN region r2 ON r2.r_regionkey = n2.n_regionkey
    WHERE ps2.ps_partkey = ps.ps_partkey AND r2.r_name = 'EUROPE'
  )
ORDER BY acctbal DESC, p_partkey, s_name
LIMIT 100
""",
    tags=("tpch", "join", "subquery", "topk"),
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape (adapted: no partsupp in the corpus — per-(part,supplier)
    unit cost is derived from lineitem): for each mid-size part, the
    EUROPE supplier(s) offering the minimum supply cost.

    The classic correlated scalar subquery (`= (SELECT MIN ...)`) is
    decorrelated Spark-side into a per-partkey aggregate joined back on
    (partkey, cost) — the same rewrite Catalyst performs, written
    explicitly so the join is visibly broadcast-able: the min-cost
    table is one row per part, tiny next to the cost fact.

    Determinism: supply cost is the min line price as exact
    DECIMAL(18,2) (a per-unit division would tie at rounding
    half-boundaries whenever quantity is a power of two — engines
    disagree there), so the min and the equality join compare exact
    decimals, not float ulps, in both engines.
    """
    t = load_tables(
        spark, sf_dir, "lineitem", "part", "supplier", "nation", "region"
    )
    li, p, s, n, r = (
        t["lineitem"], t["part"], t["supplier"], t["nation"], t["region"]
    )
    cost = F.col("l_extendedprice").cast("decimal(18,2)")
    ps = (
        li.groupBy(
            F.col("l_partkey").alias("ps_partkey"),
            F.col("l_suppkey").alias("ps_suppkey"),
        )
        .agg(F.min(cost).alias("ps_supplycost"))
    )
    eu_supp = (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps_eu = ps.join(eu_supp, ps.ps_suppkey == eu_supp.s_suppkey)
    # r14 optimization (guide §2.4): the decorrelated min was an
    # aggregate + equality JOIN back onto ps_eu — which evaluated the
    # whole lineitem-aggregate ⋈ EUROPE-supplier subtree TWICE (no
    # ReusedExchange: the aggregate's grouping differs). A min window
    # over ps_partkey computes the identical row set (rows whose exact
    # DECIMAL cost equals their part's min) in ONE pass with one
    # exchange on ps_partkey — a key bounded by suppliers-per-part
    # (~100 at any TPC-H scale), so no hot-key risk. Same rows, same
    # oracle.
    w = Window.partitionBy("ps_partkey")
    return (
        ps_eu.withColumn("min_cost", F.min("ps_supplycost").over(w))
        .filter(F.col("ps_supplycost") == F.col("min_cost"))
        .join(
            p.filter(F.col("p_size").between(5, 15)),
            F.col("ps_partkey") == F.col("p_partkey"),
        )
        .select(
            "p_partkey",
            "p_name",
            "s_name",
            "n_name",
            F.round("s_acctbal", 2).alias("acctbal"),
            F.col("ps_supplycost").cast("double").alias("supplycost"),
        )
        .orderBy(F.col("acctbal").desc(), "p_partkey", "s_name")
        .limit(100)
    )


@register(
    "tpch_q20_excess_shippers",
    oracle="""
SELECT s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem
  WHERE l_partkey IN (
    SELECT p_partkey FROM part WHERE p_name LIKE '%widget%'
  )
  GROUP BY l_partkey, l_suppkey
  HAVING 2 * SUM(CASE WHEN l_shipdate >= TIMESTAMP '1997-01-01'
                       AND l_shipdate < TIMESTAMP '1998-01-01'
                      THEN CAST(l_quantity AS DECIMAL(18,2))
                      ELSE CAST(0 AS DECIMAL(18,2)) END)
        > SUM(CAST(l_quantity AS DECIMAL(18,2)))
)
ORDER BY s_name, n_name
""",
    tags=("tpch", "join", "subquery", "semi-join"),
)
def tpch_q20_excess_shippers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape (adapted: availqty has no source table — the "excess"
    test compares 1997 shipments against half the all-time total per
    (part, supplier)): suppliers who shipped more than half of their
    all-time volume of widget parts during 1997.

    Exercises the nested-IN decorrelation: the inner part filter becomes
    a broadcast LEFT SEMI join onto lineitem, the conditional/total
    aggregate pair is ONE grouped pass (no self-join of lineitem), and
    the outer IN becomes a LEFT SEMI join onto supplier. Quantities sum
    as DECIMAL so the 2x-vs-total comparison is exact cross-engine.
    """
    t = load_tables(spark, sf_dir, "supplier", "nation", "lineitem", "part")
    s, n, li, p = t["supplier"], t["nation"], t["lineitem"], t["part"]
    qty = F.col("l_quantity").cast("decimal(18,2)")
    in_97 = (
        F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp")
    ) & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    excess = (
        # the filtered part set scales with SF — no broadcast hint
        li.join(
            p.filter(F.col("p_name").like("%widget%")),
            li.l_partkey == p.p_partkey,
            "left_semi",
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(
            F.sum(F.when(in_97, qty).otherwise(F.lit(0).cast("decimal(18,2)")))
            .alias("qty_97"),
            F.sum(qty).alias("qty_all"),
        )
        .filter(F.lit(2) * F.col("qty_97") > F.col("qty_all"))
        .select("l_suppkey")
    )
    return (
        s.join(excess, s.s_suppkey == excess.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("s_name", "n_name")
        .orderBy("s_name", "n_name")
    )


@register(
    "tpch_q4_order_priority",
    oracle="""
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY)
GROUP BY o_orderpriority
""",
    tags=("tpch", "join", "semi"),
)
def tpch_q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS decorrelated to a left-semi join with a
    non-equi extra conjunct. The schema has no l_commitdate /
    l_receiptdate, so "late" is adapted to shipping >30 days after the
    order date — the plan shape (filtered scan → semi join carrying a
    correlated date comparison → count by priority) is Q4's.
    Reference: the reference engine has no subquery support at all
    (one fixed aggregation, ``D/Program.cs:300-340``).
    """
    t = load_tables(spark, sf_dir, "orders", "lineitem")
    o, li = t["orders"], t["lineitem"]
    o_f = o.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    cond = (li.l_orderkey == o_f.o_orderkey) & (
        li.l_shipdate > o_f.o_orderdate + F.expr("INTERVAL 30 DAY")
    )
    return (
        o_f.join(li, cond, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle=f"""
SELECT {exact_decimal_sum_sql("l_extendedprice * l_discount", 4)} AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.04 AND 0.06
  AND l_quantity < 24
""",
    tags=("tpch", "filter", "aggregate"),
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 shape: the pure scan–filter–aggregate query — zero joins,
    every predicate pushable into the parquet scan (PushedFilters shows
    all four), one partial/final agg pair with no groupBy keys. The
    canonical "is your scan path fast" probe.
    """
    li = load_tables(spark, sf_dir, "lineitem")["lineitem"]
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.04)
            & (F.col("l_discount") <= 0.06)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            exact_decimal_sum(
                F.col("l_extendedprice") * F.col("l_discount"), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q8_market_share",
    oracle=f"""
WITH all_sales AS (
  SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         ROUND(l_extendedprice * (1 - l_discount), 4) AS volume,
         n2.n_name AS supp_nation
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN part ON l_partkey = p_partkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'EUROPE' AND p_type = 'ECONOMY'
    AND o_orderdate >= TIMESTAMP '1996-01-01'
    AND o_orderdate < TIMESTAMP '1998-01-01'
)
SELECT o_year,
       ROUND(
         CAST(SUM(CAST(CASE WHEN supp_nation = 'NATION_7' THEN volume
                            ELSE 0 END AS DECIMAL(28,4))) AS DOUBLE)
         / CAST(SUM(CAST(volume AS DECIMAL(28,4))) AS DOUBLE), 6)
         AS mkt_share
FROM all_sales
GROUP BY o_year
""",
    tags=("tpch", "join", "aggregate"),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: national market share — an 8-table join with TWO
    roles for nation (customer's nation restricts the market region,
    supplier's nation is the share dimension), then a conditional-sum
    ratio per year. Both sums are decimal-exact before the single
    double division, so the ratio is bit-identical across engines and
    ROUND(...,6) cannot tie.
    """
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "part", "customer",
        "nation", "supplier", "region",
    )
    li, o, p, c, n, s, r = (
        t["lineitem"], t["orders"], t["part"], t["customer"],
        t["nation"], t["supplier"], t["region"],
    )
    n1 = n.alias("n1")
    n2 = n.alias("n2")
    volume = F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4)
    sales = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        # filtered part scales with SF — unhinted
        .join(p.filter(F.col("p_type") == "ECONOMY"),
              li.l_partkey == p.p_partkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == F.col("n1.n_nationkey"))
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
              F.col("n1.n_regionkey") == r.r_regionkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n2), s.s_nationkey == F.col("n2.n_nationkey"))
        .select(
            F.year("o_orderdate").alias("o_year"),
            volume.alias("volume"),
            F.col("n2.n_name").alias("supp_nation"),
        )
    )
    dec = "decimal(28,4)"
    num = F.sum(
        F.when(F.col("supp_nation") == "NATION_7", F.col("volume"))
        .otherwise(F.lit(0))
        .cast(dec)
    ).cast("double")
    den = F.sum(F.col("volume").cast(dec)).cast("double")
    return sales.groupBy("o_year").agg(
        F.round(num / den, 6).alias("mkt_share")
    )


@register(
    "tpch_q13_customer_distribution",
    oracle="""
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN orders ON c_custkey = o_custkey
                  AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
)
GROUP BY c_count
""",
    tags=("tpch", "join", "outer", "aggregate"),
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: order-count-per-customer histogram. The defining
    subtlety is the filter in the LEFT JOIN's ON clause (not WHERE):
    customers whose only orders are urgent must survive with count 0,
    so the predicate cannot be pushed below the outer join as a WHERE.
    (Adapted: the schema has no o_comment, so the exclusion predicate
    is a priority class instead of the NOT LIKE comment pattern.)
    Two stacked aggregations over one outer join.
    """
    t = load_tables(spark, sf_dir, "customer", "orders")
    c, o = t["customer"], t["orders"]
    cond = (c.c_custkey == o.o_custkey) & (
        F.col("o_orderpriority") != "1-URGENT"
    )
    return (
        c.join(o, cond, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
        .groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
    )


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         {exact_decimal_sum_sql("l_extendedprice * (1 - l_discount)", 4)}
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
""",
    tags=("tpch", "join", "subquery"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: aggregate → scalar MAX over the aggregate → join
    back (the view-reuse query). The revenue equality against the MAX
    is exact because both sides reduce the same DECIMAL sum to the
    same double — the float-equality the exact-decimal-sum discipline
    exists to make safe. Aggregate columns get fresh names
    (supplier_no) before the self-referencing join, avoiding Spark's
    trivially-true-predicate resolution trap on reused plans.
    """
    t = load_tables(spark, sf_dir, "lineitem", "supplier")
    li, s = t["lineitem"], t["supplier"]
    revenue = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(exact_decimal_sum(_rev(), 4).alias("total_revenue"))
    )
    mx = revenue.agg(F.max("total_revenue").alias("mx"))
    return (
        s.join(revenue, s.s_suppkey == revenue.supplier_no)
        .join(F.broadcast(mx), F.col("total_revenue") == F.col("mx"))
        .select("s_suppkey", "s_name", "total_revenue")
    )


@register(
    "tpch_q17_small_quantity_revenue",
    oracle=f"""
WITH qa AS (
  SELECT l_partkey AS ap_partkey, AVG(l_quantity) AS avg_qty
  FROM lineitem GROUP BY l_partkey
)
SELECT ROUND({exact_decimal_sum_sql("l_extendedprice", 2)} / 7.0, 2)
         AS avg_yearly,
       COUNT(*) AS n_lines
FROM lineitem
JOIN part ON p_partkey = l_partkey
JOIN qa ON ap_partkey = l_partkey
WHERE p_brand = 'Brand#3' AND l_quantity < 0.2 * avg_qty
""",
    tags=("tpch", "join", "subquery", "aggregate"),
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: the correlated per-part average decorrelated into a
    grouped aggregate joined back (small-quantity order revenue).
    Quantities are integer-valued doubles, so AVG is exact and
    identical across engines (sum of ints < 2^53 is order-free); the
    0.2·avg threshold is therefore the same double on both sides.
    The /7.0 output can never tie at ROUND(...,2): m/7 with three
    decimals would need 2m ≡ 7·odd, impossible in integers.
    """
    t = load_tables(spark, sf_dir, "lineitem", "part")
    li, p = t["lineitem"], t["part"]
    qa = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        # filtered part scales with SF — unhinted
        li.join(p.filter(F.col("p_brand") == "Brand#3"),
                li.l_partkey == p.p_partkey)
        .join(qa, F.col("ap_partkey") == li.l_partkey)
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
        .agg(
            F.round(exact_decimal_sum(F.col("l_extendedprice"), 2) / 7.0, 2)
            .alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
SELECT s_name, COUNT(*) AS numwait
FROM lineitem l1
JOIN orders o ON o.o_orderkey = l1.l_orderkey AND o.o_orderstatus = 'F'
JOIN supplier s ON s.s_suppkey = l1.l_suppkey
JOIN nation n ON n.n_nationkey = s.s_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey AND r.r_name = 'EUROPE'
WHERE l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey
      AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey
      AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 20
""",
    tags=("tpch", "join", "semi", "anti"),
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape: the hardest TPC-H join topology — one EXISTS and one
    NOT EXISTS, both correlated on the same key with a <> conjunct,
    decorrelated into a left-semi then a left-anti self-join on
    lineitem. "Late" is adapted to ship >60 days after order date (no
    receipt/commit dates in this schema); 'F' status and the supplier
    region filter mirror the original's selectivity structure. The
    anti join's lateness test references l1's order date — carried
    through the semi join as a join-condition column, not recomputed.
    """
    t = load_tables(
        spark, sf_dir, "lineitem", "orders", "supplier", "nation", "region"
    )
    li, o, s, n, r = (
        t["lineitem"], t["orders"], t["supplier"], t["nation"], t["region"],
    )
    late_days = F.expr("INTERVAL 60 DAY")
    l1 = (
        li.join(o.filter(F.col("o_orderstatus") == "F"),
                li.l_orderkey == o.o_orderkey)
        .filter(li.l_shipdate > o.o_orderdate + late_days)
        .select(
            li.l_orderkey.alias("k1"),
            li.l_suppkey.alias("sk1"),
            o.o_orderdate.alias("od1"),
        )
    )
    l2 = li.select(
        F.col("l_orderkey").alias("k2"), F.col("l_suppkey").alias("sk2")
    )
    l3 = li.select(
        F.col("l_orderkey").alias("k3"),
        F.col("l_suppkey").alias("sk3"),
        F.col("l_shipdate").alias("sd3"),
    )
    cand = l1.join(
        l2, (F.col("k2") == F.col("k1")) & (F.col("sk2") != F.col("sk1")),
        "left_semi",
    ).join(
        l3,
        (F.col("k3") == F.col("k1"))
        & (F.col("sk3") != F.col("sk1"))
        & (F.col("sd3") > F.col("od1") + late_days),
        "left_anti",
    )
    return (
        cand.join(s, F.col("sk1") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(F.col("r_name") == "EUROPE")),
              n.n_regionkey == r.r_regionkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .orderBy(F.col("numwait").desc(), F.col("s_name"))
        .limit(20)
    )


@register(
    "tpch_q22_global_sales_opportunity",
    oracle="""
WITH avg_bal AS (
  SELECT CAST(SUM(CAST(ROUND(c_acctbal, 2) AS DECIMAL(28,2))) AS DOUBLE)
         / COUNT(*) AS ab
  FROM customer WHERE c_acctbal > 0.0
)
SELECT c_nationkey,
       COUNT(*) AS numcust,
       CAST(SUM(CAST(ROUND(c_acctbal, 2) AS DECIMAL(28,2))) AS DOUBLE)
         AS totacctbal
FROM customer CROSS JOIN avg_bal
WHERE c_acctbal > ab
  AND NOT EXISTS (
    SELECT 1 FROM orders
    WHERE o_custkey = c_custkey
      AND o_orderdate >= TIMESTAMP '1999-01-01')
GROUP BY c_nationkey
""",
    tags=("tpch", "join", "anti", "subquery"),
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape: wealthy but lapsed customers — a scalar subquery
    threshold (average positive balance, exact-decimal sum over count
    so the bar is the same double on both engines) feeding a NOT
    EXISTS decorrelated to a left-anti join, grouped by nation key
    (no phone column for the original's country codes; "never
    ordered" is adapted to "no orders since 1999" because this corpus
    gives every customer at least one order). The scalar rides a
    broadcast cross join, not a collect.
    """
    t = load_tables(spark, sf_dir, "customer", "orders")
    c, o = t["customer"], t["orders"]
    bal_sum = F.sum(
        F.round(F.col("c_acctbal"), 2).cast("decimal(28,2)")
    ).cast("double")
    avg_bal = c.filter(F.col("c_acctbal") > 0.0).agg(
        (bal_sum / F.count(F.lit(1))).alias("ab")
    )
    return (
        c.crossJoin(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("ab"))
        .join(
            o.filter(
                F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
            ),
            c.c_custkey == o.o_custkey,
            "left_anti",
        )
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            bal_sum.alias("totacctbal"),
        )
    )


@register(
    "tpch_q9_product_profit",
    oracle="""
SELECT n_name AS nation,
       CAST(strftime(o_orderdate, '%Y') AS INT) AS o_year,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount)
                           - 0.5 * p_retailprice * l_quantity, 4)
                AS DECIMAL(28,4))) AS DOUBLE) AS sum_profit
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN orders ON l_orderkey = o_orderkey
JOIN nation ON s_nationkey = n_nationkey
WHERE p_name LIKE '%red%'
GROUP BY n_name, o_year
""",
    tags=("tpch", "join", "aggregate"),
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape: product-type profit — a 5-way star join (lineitem to
    part, supplier, orders, nation) with a LIKE filter on the part
    name and profit grouped by supplier nation and order year. The
    corpus has no partsupp table, so the original's ``ps_supplycost``
    is proxied by half the part's retail price; the plan shape (one
    fact table joined to four dimensions, substring filter pruning
    the part build side before the join, two-phase aggregation on a
    composite key) is the point. Profit terms are rounded to their
    exact 4-decimal width and summed as DECIMAL so float order can't
    flip the hash (functions/numeric.py).

    Reference: generalizes the single hash join + SUM at
    ``D/Program.cs:301-318`` to a multi-dimension star.
    """
    t = load_tables(
        spark, sf_dir, "lineitem", "part", "supplier", "orders", "nation"
    )
    li, p, s, o, n = (
        t["lineitem"], t["part"], t["supplier"], t["orders"], t["nation"]
    )
    profit = F.round(
        _rev() - 0.5 * F.col("p_retailprice") * F.col("l_quantity"), 4
    ).cast("decimal(28,4)")
    return (
        # part/supplier scale with SF — no broadcast hints (AQE picks
        # broadcast at test scale, SMJ at 100 TB); nation is bounded
        li.join(p.filter(F.col("p_name").like("%red%")),
                li.l_partkey == p.p_partkey)
        .join(s, li.l_suppkey == s.s_suppkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
        )
        .agg(F.sum(profit).cast("double").alias("sum_profit"))
    )


@register(
    "tpch_q11_important_parts",
    oracle="""
WITH pv AS (
  SELECT l_partkey,
         SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(28,2))) AS value_dec
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation ON s_nationkey = n_nationkey
  WHERE n_name = 'NATION_7'
  GROUP BY l_partkey
)
SELECT l_partkey, CAST(value_dec AS DOUBLE) AS value
FROM pv CROSS JOIN (SELECT CAST(SUM(value_dec) AS DOUBLE) AS total FROM pv)
WHERE CAST(value_dec AS DOUBLE) > 0.002 * total
""",
    tags=("tpch", "join", "aggregate", "subquery"),
)
def tpch_q11_important_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape: important-stock identification — per-part value for
    one nation's suppliers, kept only where it exceeds a fraction of
    the national total. The corpus lacks partsupp, so value is the
    lineitem revenue routed through NATION_7 suppliers rather than
    ``ps_supplycost * ps_availqty``; the shape — an aggregate reused
    both as rows and as a scalar threshold (HAVING against a global
    SUM) — is intact. The per-part aggregate is computed once and
    self-joined against its own broadcast total, not recomputed. Both
    the per-part values AND the grand total stay DECIMAL until the
    final cast, so every double either engine compares is derived from
    the same exact decimal — a double total (order-dependent partial
    sums) could land an ulp apart between engines and flip a part
    sitting exactly on the 0.002 threshold.

    At 100 TB the pv aggregate shuffles once on l_partkey and the
    total is a single-row broadcast — no driver collect.
    """
    t = load_tables(spark, sf_dir, "lineitem", "supplier", "nation")
    li, s, n = t["lineitem"], t["supplier"], t["nation"]
    pv = (
        # supplier scales with SF — unhinted (AQE broadcasts at test
        # scale); the single-nation filter is on the bounded dim
        li.join(s, li.l_suppkey == s.s_suppkey)
        .join(
            F.broadcast(n.filter(F.col("n_name") == "NATION_7")),
            s.s_nationkey == n.n_nationkey,
        )
        .groupBy("l_partkey")
        .agg(
            F.sum(
                F.round(F.col("l_extendedprice"), 2).cast("decimal(28,2)")
            ).alias("value_dec")
        )
    )
    total = pv.agg(F.sum("value_dec").cast("double").alias("total"))
    return (
        pv.crossJoin(F.broadcast(total))
        .filter(F.col("value_dec").cast("double") > 0.002 * F.col("total"))
        .select("l_partkey", F.col("value_dec").cast("double").alias("value"))
    )
