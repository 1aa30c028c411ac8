"""Aggregation-family queries.

The reference implements one aggregate — ``SUM(double)`` grouped by one
string key, as hand-rolled partial (map-side, ``D/Program.cs:312-315``)
+ final (``:151-165``) hash aggregation. Spark emits the same two-phase
HashAggregate automatically for every query here; this module covers
the generalized surface (SURVEY.md §2.3 "Aggregations"): multi-function
aggs, distinct aggs, cube/rollup/grouping sets (redeeming the "CubeMR"
name — the reference computes no cube despite it, ``D/CubeMR.csproj:11``),
pivot, ordered collect, and exact percentiles.

All double aggregates are rounded identically on both engine and oracle
side so float-summation order cannot flip the value hash (the reference
itself sums doubles in nondeterministic merge order, ``D/Program.cs:162``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, register_views
from ..functions.numeric import exact_decimal_sum
from .registry import register


@register(
    "agg_pricing_summary",
    oracle="""
WITH s AS (
  SELECT l_returnflag, l_linestatus,
         COUNT(*) AS count_order,
         -- integer cent sums, NOT decimal: same exactness (each term
         -- recovers the exact 2/4-decimal value before summation; the
         -- int64 sum is order-independent) at double-sum speed. Bound:
         -- price cents < 2^25, so even 10^11 rows/group stays < 2^63.
         CAST(SUM(CAST(ROUND(l_quantity * 100) AS BIGINT)) AS BIGINT)
           AS qty_c,
         CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
           AS price_c,
         CAST(SUM(CAST(ROUND(l_discount * 10000) AS BIGINT)) AS BIGINT)
           AS disc_e4,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4)
                  AS DECIMAL(28,4))) AS DOUBLE) AS sum_disc_price,
         CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * (1 + l_tax),
                        6) AS DECIMAL(28,6))) AS DOUBLE) AS sum_charge
  FROM lineitem
  WHERE l_shipdate <= TIMESTAMP '1999-12-01'
  GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       CAST(qty_c AS DOUBLE) / 100.0 AS sum_qty,
       CAST(price_c AS DOUBLE) / 100.0 AS sum_base_price,
       sum_disc_price, sum_charge,
       -- integer-exact truncated averages from the SAME cent sums:
       -- floor-div then /scale. ROUND(ratio) ties (group size dividing
       -- a power of 10) can straddle engine rounding modes; all-integer
       -- derivation cannot (values are non-negative, so floor and
       -- truncating division agree).
       CAST(qty_c // count_order AS DOUBLE) / 100.0 AS avg_qty,
       CAST(price_c // count_order AS DOUBLE) / 100.0 AS avg_price,
       CAST(disc_e4 // count_order AS DOUBLE) / 10000.0 AS avg_disc,
       count_order
FROM s
""",
    tags=("aggregate", "filter"),
    headline=True,
)
def agg_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: filtered scan → 8 aggregates over 2 group keys.

    The predicate is pushed into the parquet scan (PushedFilters) and
    only 7 of 11 columns are read — the declarative form of the
    reference's hand-coded projection (``D/Program.cs:421-427``).
    """
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    g = (
        li.filter(F.col("l_shipdate") <= F.lit("1999-12-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            # ONE integer cent sum per measure; every output below
            # derives from these six buffers (sum, truncated average) —
            # exact (each term recovers its true 2/4-decimal value
            # before the order-independent int64 sum), as fast as a
            # double sum, and no ROUND of any ratio (which can land on
            # a .xx5 tie where engine rounding modes differ)
            F.count(F.lit(1)).alias("count_order"),
            F.expr(
                "SUM(CAST(ROUND(l_quantity * 100) AS BIGINT))"
            ).alias("qty_c"),
            F.expr(
                "SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))"
            ).alias("price_c"),
            F.expr(
                "SUM(CAST(ROUND(l_discount * 10000) AS BIGINT))"
            ).alias("disc_e4"),
            # 4- and 6-decimal product terms: exact decimal sums (see
            # functions/numeric.py — ROUND(SUM,2) ties at .005)
            exact_decimal_sum(disc_price, 4).alias("sum_disc_price"),
            exact_decimal_sum(disc_price * (1 + F.col("l_tax")), 6).alias(
                "sum_charge"
            ),
        )
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        (F.col("qty_c").cast("double") / 100.0).alias("sum_qty"),
        (F.col("price_c").cast("double") / 100.0).alias("sum_base_price"),
        "sum_disc_price",
        "sum_charge",
        F.expr(
            "CAST(qty_c DIV count_order AS DOUBLE) / 100.0"
        ).alias("avg_qty"),
        F.expr(
            "CAST(price_c DIV count_order AS DOUBLE) / 100.0"
        ).alias("avg_price"),
        F.expr(
            "CAST(disc_e4 DIV count_order AS DOUBLE) / 10000.0"
        ).alias("avg_disc"),
        "count_order",
    )


@register(
    "agg_distinct_counts",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS n_suppliers,
       COUNT(DISTINCT l_partkey) AS n_parts,
       COUNT(*) AS n_lines
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("aggregate",),
)
def agg_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregation (expand + two-phase agg under the hood)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_suppkey").alias("n_suppliers"),
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("n_lines"),
    )


@register(
    "agg_approx_distinct",
    oracle="""
SELECT l_returnflag,
       COUNT(DISTINCT l_suppkey) AS exact_suppliers,
       COUNT(DISTINCT l_orderkey) AS exact_orders,
       TRUE AS supp_within_5pct,
       TRUE AS ord_within_5pct
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("aggregate", "approx"),
)
def agg_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) — the 100 TB path for
    distinct counts, where exact distinct would shuffle every key.

    Driver-checkable despite being a sketch: the query emits the exact
    distinct counts plus a Spark-computed "sketch within ±5% of exact"
    boolean per group; the oracle emits the same exact counts and
    literal TRUE. HLL++ register-merge is order-insensitive, so the
    booleans are deterministic, and rsd=0.01 makes ±5% a wide margin.

    The exact and sketch aggregates deliberately run as TWO
    aggregations joined on the 3-row group key, not one: multiple
    count_distinct triggers Catalyst's Expand rewrite (one input copy
    per distinct group), and inside that expanded aggregate each
    rsd=0.01 HLL++ buffer is 2^14 registers — the partial aggregate
    then sorts/merges 16 KB sketch buffers across 3× the input rows
    (measured 58 s at sf0.1; either aggregation alone is 2-3 s). Two
    narrow passes + a 3-row join is the shape that survives scale —
    and in production you run only the sketch pass anyway (the exact
    pass exists here as the in-query accuracy audit).
    """
    li = load_table(spark, sf_dir, "lineitem")
    exact = li.groupBy("l_returnflag").agg(
        F.count_distinct("l_suppkey").alias("exact_suppliers"),
        F.count_distinct("l_orderkey").alias("exact_orders"),
    )
    approx = li.groupBy("l_returnflag").agg(
        F.approx_count_distinct("l_suppkey", 0.01).alias("_ap_supp"),
        F.approx_count_distinct("l_orderkey", 0.01).alias("_ap_ord"),
    )
    within = lambda ap, ex: (  # noqa: E731
        F.abs(F.col(ap) - F.col(ex)) <= 0.05 * F.col(ex)
    )
    return exact.join(approx, "l_returnflag").select(
        "l_returnflag",
        "exact_suppliers",
        "exact_orders",
        within("_ap_supp", "exact_suppliers").alias("supp_within_5pct"),
        within("_ap_ord", "exact_orders").alias("ord_within_5pct"),
    )


@register(
    "agg_cube",
    oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_quantity), 2) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    tags=("aggregate", "cube"),
)
def agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two keys: all 2^2 grouping sets in one pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_rollup",
    oracle="""
SELECT CAST(year(o_orderdate) AS INT) AS order_year, o_orderstatus,
       ROUND(SUM(o_totalprice), 2) AS total,
       COUNT(*) AS n_orders
FROM orders
GROUP BY ROLLUP (CAST(year(o_orderdate) AS INT), o_orderstatus)
""",
    tags=("aggregate", "cube"),
)
def agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP over (year, status): hierarchical subtotals + grand total."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.withColumn("order_year", F.year("o_orderdate"))
        .rollup("order_year", "o_orderstatus")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("total"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


@register(
    "agg_grouping_sets",
    oracle="""
SELECT l_returnflag, l_linestatus,
       ROUND(SUM(l_extendedprice), 2) AS total_price
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
""",
    tags=("aggregate", "cube"),
)
def agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS via the SQL surface (temp views)."""
    register_views(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_extendedprice), 2) AS total_price
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """
    )


@register(
    "agg_pivot",
    oracle="""
SELECT l_returnflag,
       ROUND(SUM(l_quantity) FILTER (WHERE l_linestatus = 'O'), 2) AS "O",
       ROUND(SUM(l_quantity) FILTER (WHERE l_linestatus = 'F'), 2) AS "F"
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("aggregate", "pivot"),
)
def agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot linestatus into columns (explicit value list, so the plan
    needs no extra distinct-values pass — required at scale)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.round(F.sum("l_quantity"), 2))
    )


@register(
    "agg_stats_by_brand",
    oracle="""
WITH s AS (
  SELECT p_brand,
         COUNT(*) AS n,
         ROUND(MIN(l_extendedprice), 2) AS min_price,
         ROUND(MAX(l_extendedprice), 2) AS max_price,
         CAST(SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(28,2))) * 100
              AS BIGINT) AS sx_c,
         CAST(SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(28,2)))
              AS DOUBLE) AS sx,
         CAST(SUM(CAST(ROUND(l_extendedprice * l_extendedprice, 4)
                       AS DECIMAL(38,4))) AS DOUBLE) AS sxx
  FROM lineitem JOIN part ON l_partkey = p_partkey
  GROUP BY p_brand
)
SELECT p_brand, min_price, max_price,
       CAST(sx_c // n AS DOUBLE) / 100.0 AS avg_price,
       -- greatest(.., 0): cancellation can push var_raw slightly
       -- negative on a (near-)constant group; Spark's floor(sqrt(neg))
       -- and DuckDB's disagree on NaN handling, so clamp before the
       -- sqrt on BOTH sides (ADVICE.md r3)
       CASE WHEN n > 1 THEN
         floor(sqrt(greatest((n * sxx - sx * sx) / (n * (n - 1)), 0))
               * 100) / 100.0
       END AS sd_price,
       CASE WHEN n > 1 THEN
         floor(greatest((n * sxx - sx * sx) / (n * (n - 1)), 0) * 10) / 10.0
       END AS var_price,
       n
FROM s
""",
    tags=("aggregate", "join"),
)
def agg_stats_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (min/max/avg/stddev/variance) per brand.

    Variance/stddev are NOT the engines' kernels (whose summation
    algorithms drift by ulps across engines and versions, under a
    ROUND that can tie): both engines derive them from decimal-exact
    component sums (n, Σx, Σx² — order-independent, bit-identical)
    through the same written double formula, then FLOOR-scale — floor
    of the same double is the same everywhere, unlike ROUND, whose
    decimal interpretation of a double is implementation-defined.
    x² has exactly 4 decimals and |x²| < 2^49/1e4, so ROUND(x·x, 4)
    recovers the exact product before the decimal sum.
    """
    li = load_table(spark, sf_dir, "lineitem")
    p = load_table(spark, sf_dir, "part")
    g = (
        li.join(p, li.l_partkey == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("l_extendedprice"), 2).alias("min_price"),
            F.round(F.max("l_extendedprice"), 2).alias("max_price"),
            F.expr(
                "CAST(SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(28,2)))"
                " * 100 AS BIGINT)"
            ).alias("sx_c"),
            F.expr(
                "CAST(SUM(CAST(ROUND(l_extendedprice, 2) AS DECIMAL(28,2)))"
                " AS DOUBLE)"
            ).alias("sx"),
            F.expr(
                "CAST(SUM(CAST(ROUND(l_extendedprice * l_extendedprice, 4)"
                " AS DECIMAL(38,4))) AS DOUBLE)"
            ).alias("sxx"),
        )
    )
    # greatest(.., 0): cancellation can push the formula slightly
    # negative on a (near-)constant group; without the clamp Spark's
    # floor(sqrt(negative)) and DuckDB's handle the NaN differently
    # (ADVICE.md r3). Mirrors the identical clamp in the oracle SQL.
    var_raw = F.greatest(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        / (F.col("n") * (F.col("n") - 1)),
        F.lit(0.0),
    )
    return g.select(
        "p_brand",
        "min_price",
        "max_price",
        (F.expr("sx_c DIV n").cast("double") / 100.0).alias("avg_price"),
        F.when(F.col("n") > 1, F.floor(F.sqrt(var_raw) * 100) / 100.0).alias(
            "sd_price"
        ),
        F.when(F.col("n") > 1, F.floor(var_raw * 10) / 10.0).alias("var_price"),
        "n",
    )


@register(
    "agg_collect_sorted",
    oracle="""
SELECT n_regionkey,
       array_to_string(array_agg(n_name ORDER BY n_name), '|') AS nations
FROM nation
GROUP BY n_regionkey
""",
    tags=("aggregate", "array"),
)
def agg_collect_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered collect, rendered as a '|'-joined string (sorted for
    determinism — collect_list order is partition-dependent by design).

    The join to string is for the driver's correctness harness, whose
    pandas canonicalizer cannot hash an array cell (round-1 TypeError);
    the array-typed variant stays covered in
    ``tests/test_oracle_parity.py::test_collect_sorted_array``.
    """
    n = load_table(spark, sf_dir, "nation")
    return n.groupBy("n_regionkey").agg(
        F.array_join(F.sort_array(F.collect_list("n_name")), "|").alias(
            "nations"
        )
    )


@register(
    "agg_median_percentile",
    oracle="""
SELECT o_orderpriority,
       -- scaled-integer emission: the true median is a half-cent
       -- multiple ((a+b)/2 of 2-decimal values) and p90 a 0.001
       -- multiple (tenth-fraction interpolation), so ROUND(x, 2) sits
       -- EXACTLY on a .xx5 tie whenever interpolation engages — the
       -- cross-engine rounding-mode seam. ×1000 makes the true value
       -- an integer; nearest-int of a within-ulps double is
       -- unambiguous under any rounding implementation.
       CAST(ROUND(median(o_totalprice) * 1000) AS BIGINT) AS median_e3,
       CAST(ROUND(quantile_cont(o_totalprice, 0.9) * 1000) AS BIGINT) AS p90_e3,
       COUNT(*) AS n
FROM orders
GROUP BY o_orderpriority
""",
    tags=("aggregate", "percentile"),
)
def agg_median_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated median / p90 per group (both engines use
    linear interpolation for continuous percentiles), emitted as
    ×1000 integers — see the oracle comment for why a 2-decimal
    ROUND is an exact tie here by construction."""
    o = load_table(spark, sf_dir, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.median("o_totalprice") * 1000, 0).cast("long").alias("median_e3"),
        F.round(F.percentile("o_totalprice", F.lit(0.9)) * 1000, 0)
        .cast("long")
        .alias("p90_e3"),
        F.count(F.lit(1)).alias("n"),
    )


@register(
    "agg_salted_two_phase",
    oracle="""
SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS total
FROM events
GROUP BY event_type
""",
    tags=("aggregate", "skew", "custom-operator"),
)
def agg_salted_two_phase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation — the manual skew-mitigation shape.

    A hot group key at 100 TB funnels into one reducer; salting spreads
    it: phase 1 groups on (key, salt = hash(row) % 16), phase 2 merges
    the partials. Results are EXACTLY the plain groupBy (the oracle):
    counts are exact, and the sum is rounded like every other float sum.
    (Spark's partial aggregation covers mild skew automatically; the
    explicit salt is for hot keys whose partials still overflow one
    reducer — kept deterministic here via hash-salting, no rand().)
    """
    ev = load_table(spark, sf_dir, "events")
    salted = ev.withColumn("_salt", F.pmod(F.hash("event_id"), F.lit(16)))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("_n"), F.sum("value").alias("_s")
    )
    return partial.groupBy("event_type").agg(
        F.sum("_n").alias("n"), F.round(F.sum("_s"), 2).alias("total")
    )


@register(
    "agg_approx_percentile",
    oracle="""
SELECT o_orderpriority,
       COUNT(*) AS n,
       TRUE AS median_in_rank_band,
       TRUE AS p95_in_rank_band
FROM orders
GROUP BY o_orderpriority
""",
    tags=("aggregate", "approx"),
)
def agg_approx_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percentile_approx (GK sketch) — the 100 TB path for quantiles,
    where exact percentile would sort per group.

    Driver-checkable via a rank-band assertion instead of the raw
    sketch value: percentile_approx(accuracy=1000) guarantees the
    returned datum's rank is within ±n/1000 of the target rank, so the
    value must lie inside the exact [p-2%, p+2%] percentile band — a
    20× safety margin the oracle asserts as literal TRUE. (The exact
    interpolated percentile path is hash-checked in
    agg_median_percentile.)
    """
    o = load_table(spark, sf_dir, "orders")
    agg = o.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.percentile_approx("o_totalprice", 0.5, 1000).alias("_ap_med"),
        F.percentile_approx("o_totalprice", 0.95, 1000).alias("_ap_p95"),
        F.percentile("o_totalprice", F.lit(0.48)).alias("_lo_med"),
        F.percentile("o_totalprice", F.lit(0.52)).alias("_hi_med"),
        F.percentile("o_totalprice", F.lit(0.93)).alias("_lo_p95"),
        F.percentile("o_totalprice", F.lit(0.97)).alias("_hi_p95"),
    )
    band = lambda ap, lo, hi: (  # noqa: E731
        (F.col(ap) >= F.col(lo)) & (F.col(ap) <= F.col(hi))
    )
    return agg.select(
        "o_orderpriority",
        "n",
        band("_ap_med", "_lo_med", "_hi_med").alias("median_in_rank_band"),
        band("_ap_p95", "_lo_p95", "_hi_p95").alias("p95_in_rank_band"),
    )


@register(
    "agg_histogram_totalprice",
    oracle="""
WITH b AS (
  SELECT CAST(CASE WHEN o_totalprice >= 600000.0 THEN 11
              WHEN o_totalprice < 0.0 THEN 0
              ELSE CAST(floor(o_totalprice / 50000.0) AS INT) + 1 END AS INT)
           AS bucket,
         o_totalprice
  FROM orders
)
SELECT bucket, COUNT(*) AS n_orders,
       CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(28,2))) AS DOUBLE)
         AS total_value,
       ROUND(MIN(o_totalprice), 2) AS min_price,
       ROUND(MAX(o_totalprice), 2) AS max_price
FROM b GROUP BY bucket
""",
    tags=("aggregate", "histogram"),
)
def agg_histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Equi-width histogram of order totals (12 buckets: underflow, 10
    × 50k bins, overflow) — width_bucket semantics in portable floor
    arithmetic, since bucketing must behave identically on every
    engine that reads the table. One two-phase aggregation; histograms
    at 100 TB are exactly this shape (the map side collapses each
    partition to ≤12 rows before the exchange). Boundary values land
    in the upper bin on both engines: floor of identical doubles.
    """
    o = load_table(spark, sf_dir, "orders")
    p = F.col("o_totalprice")
    bucket = (
        F.when(p >= 600000.0, F.lit(11))
        .when(p < 0.0, F.lit(0))
        .otherwise(F.floor(p / 50000.0).cast("int") + 1)
        .cast("int")
    )
    return (
        o.select(bucket.alias("bucket"), "o_totalprice")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.round(p, 2).cast("decimal(28,2)"))
            .cast("double")
            .alias("total_value"),
            F.round(F.min(p), 2).alias("min_price"),
            F.round(F.max(p), 2).alias("max_price"),
        )
    )


@register(
    "agg_profile_orders_columns",
    oracle="""
SELECT 'o_custkey' AS col, COUNT(*) AS n_rows,
       COUNT(*) - COUNT(o_custkey) AS n_null,
       COUNT(DISTINCT o_custkey) AS n_distinct,
       CAST(MIN(o_custkey) AS DOUBLE) AS min_val,
       CAST(MAX(o_custkey) AS DOUBLE) AS max_val
FROM orders
UNION ALL
SELECT 'o_totalprice', COUNT(*), COUNT(*) - COUNT(o_totalprice),
       COUNT(DISTINCT o_totalprice),
       ROUND(MIN(o_totalprice), 2), ROUND(MAX(o_totalprice), 2)
FROM orders
UNION ALL
SELECT 'o_orderstatus', COUNT(*), COUNT(*) - COUNT(o_orderstatus),
       COUNT(DISTINCT o_orderstatus), NULL, NULL
FROM orders
""",
    tags=("aggregate", "profile"),
)
def agg_profile_orders_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style column profiling: per-column row/null/distinct
    counts and numeric min/max, emitted long-format (one row per
    column). All columns profile in a SINGLE scan + single aggregate
    (one struct-typed projection unpivoted with ``stack``) — the
    profile pass a lakehouse runs before choosing join strategies and
    NDV-based broadcast decisions; at 100 TB one pass over the fact
    table instead of one per column is the difference between usable
    and not.
    """
    o = load_table(spark, sf_dir, "orders")
    prof = o.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_custkey").isNull().cast("long")).alias("nn_ck"),
        F.countDistinct("o_custkey").alias("nd_ck"),
        F.min("o_custkey").cast("double").alias("min_ck"),
        F.max("o_custkey").cast("double").alias("max_ck"),
        F.sum(F.col("o_totalprice").isNull().cast("long")).alias("nn_tp"),
        F.countDistinct("o_totalprice").alias("nd_tp"),
        F.round(F.min("o_totalprice"), 2).alias("min_tp"),
        F.round(F.max("o_totalprice"), 2).alias("max_tp"),
        F.sum(F.col("o_orderstatus").isNull().cast("long")).alias("nn_os"),
        F.countDistinct("o_orderstatus").alias("nd_os"),
    )
    return prof.selectExpr(
        """stack(3,
             'o_custkey',    n_rows, nn_ck, nd_ck, min_ck, max_ck,
             'o_totalprice', n_rows, nn_tp, nd_tp, min_tp, max_tp,
             'o_orderstatus',n_rows, nn_os, nd_os,
                             CAST(NULL AS DOUBLE), CAST(NULL AS DOUBLE))
           AS (col, n_rows, n_null, n_distinct, min_val, max_val)"""
    )


@register(
    "agg_mode_per_group",
    oracle="""
SELECT o_orderstatus, o_orderpriority AS mode_priority, n
FROM (
  SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n,
         ROW_NUMBER() OVER (PARTITION BY o_orderstatus
                            ORDER BY COUNT(*) DESC, o_orderpriority) AS rn
  FROM orders
  GROUP BY o_orderstatus, o_orderpriority
)
WHERE rn = 1
""",
    tags=("aggregate", "mode", "topk"),
)
def agg_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group mode (most frequent value) with a deterministic
    value tiebreak — the argmax pattern: count-group, then
    row_number over (count DESC, value ASC). Native ``mode()``
    aggregates break ties engine-specifically, so the explicit window
    is both portable and what you'd write at scale anyway (two
    shuffles: one for the count, one for the per-group rank; the
    second operates on the already-reduced group table).
    """
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    counts = o.groupBy("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("o_orderstatus").orderBy(
        F.col("n").desc(), F.col("o_orderpriority")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "o_orderstatus",
            F.col("o_orderpriority").alias("mode_priority"),
            "n",
        )
    )


@register(
    "agg_stats_correlation",
    oracle="""
WITH j AS (
  SELECT c_nationkey,
         ROUND(o_totalprice, 2) AS x, ROUND(c_acctbal, 2) AS y
  FROM customer JOIN orders ON c_custkey = o_custkey
),
s AS (
  SELECT c_nationkey,
         COUNT(*) AS n,
         CAST(SUM(CAST(x AS DECIMAL(28,2))) AS DOUBLE) AS sx,
         CAST(SUM(CAST(y AS DECIMAL(28,2))) AS DOUBLE) AS sy,
         CAST(SUM(CAST(ROUND(x * y, 4) AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
         CAST(SUM(CAST(ROUND(x * x, 4) AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
         CAST(SUM(CAST(ROUND(y * y, 4) AS DECIMAL(28,4))) AS DOUBLE) AS syy
  FROM j GROUP BY c_nationkey
)
SELECT c_nationkey, n,
       ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
       ROUND((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n, 4)
         AS intercept,
       ROUND((n * sxy - sx * sy)
             / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)), 6) AS corr_xy
FROM s
""",
    tags=("aggregate", "statistics"),
)
def agg_stats_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates — per-nation least-squares slope,
    intercept, and Pearson correlation of order value vs account
    balance — computed from DECIMAL-EXACT component sums (n, Σx, Σy,
    Σxy, Σx², Σy²) rather than the engines' own corr()/regr_*()
    kernels: component sums are order-independent and bit-identical
    across engines, so the derived statistics are too (both engines
    then run the same double formula on the same inputs). This is
    also the single-pass map-side-combinable shape you'd want at
    100 TB — one scan, six partial aggregates, no second pass.
    """
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    j = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .select(
            "c_nationkey",
            F.round("o_totalprice", 2).alias("x"),
            F.round("c_acctbal", 2).alias("y"),
        )
    )

    def dsum(col, dec):
        return F.sum(F.round(col, dec).cast(f"decimal(28,{dec})")).cast("double")

    s = j.groupBy("c_nationkey").agg(
        F.count(F.lit(1)).alias("n"),
        dsum(F.col("x"), 2).alias("sx"),
        dsum(F.col("y"), 2).alias("sy"),
        dsum(F.col("x") * F.col("y"), 4).alias("sxy"),
        dsum(F.col("x") * F.col("x"), 4).alias("sxx"),
        dsum(F.col("y") * F.col("y"), 4).alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return s.select(
        "c_nationkey",
        "n",
        F.round(slope, 6).alias("slope"),
        F.round((sy - slope * sx) / n, 4).alias("intercept"),
        F.round(
            (n * sxy - sx * sy)
            / F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)),
            6,
        ).alias("corr_xy"),
    )


@register(
    "agg_cube_grouping_id",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status,
       COUNT(*) AS n
FROM lineitem
GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    tags=("aggregate", "cube", "grouping"),
)
def agg_cube_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE with GROUPING() indicators — the only way a consumer can
    tell a subtotal row's NULL from a genuine NULL group key (the
    practical usability gap in every bare cube/rollup result). Same
    single-pass expand-aggregate plan as ``agg_cube``; the indicator
    is metadata Catalyst carries through the expansion for free.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        F.count(F.lit(1)).alias("n"),
    ).select("l_returnflag", "l_linestatus", "g_flag", "g_status", "n")
