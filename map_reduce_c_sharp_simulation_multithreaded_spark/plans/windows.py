"""Window-function queries + window-composed custom operators.

The reference has no window functions (SURVEY.md §2.3). This module
covers ranking, frames (rows + range), offsets, first/last, per-group
top-k, plus two operators Spark lacks as primitives but that compose
from windows (the preferred scale path per the build brief):

* **as-of join** — union-tag + ``last(ignorenulls)`` over an ordered
  window; oracle is DuckDB's native ``ASOF JOIN``.
* **sessionization** — lag-gap-cumsum; the batch twin of streaming
  ``session_window``.

Every window ordering includes a unique tiebreak column so results are
deterministic under distributed row order (nondeterministic ordering
inside windows is the #1 source of flaky distributed results).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


@register(
    "window_topk_per_customer",
    oracle="""
SELECT o_custkey, o_orderkey, rn
FROM (
  SELECT o_custkey, o_orderkey,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey
           ORDER BY o_totalprice DESC, o_orderkey
         ) AS rn
  FROM orders
)
WHERE rn <= 3
""",
    tags=("window", "topk"),
    headline=True,
)
def window_topk_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k: each customer's 3 priciest orders.

    One shuffle on the partition key; at 100 TB this is the standard
    top-k-per-group shape (row_number + filter), never a global sort.
    """
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "rn")
    )


@register(
    "window_running_total",
    oracle="""
SELECT o_custkey, o_orderkey,
       ROUND(SUM(o_totalprice) OVER (
         PARTITION BY o_custkey
         ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
       ), 2) AS running_total
FROM orders
""",
    tags=("window",),
)
def window_running_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running sum per customer over order history (rows frame)."""
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_orderdate", "o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.round(F.sum("o_totalprice").over(w), 2).alias("running_total"),
    )


@register(
    "window_lag_lead",
    oracle="""
SELECT o_custkey, o_orderkey,
       LAG(o_totalprice) OVER w AS prev_price,
       LEAD(o_totalprice) OVER w AS next_price
FROM orders
WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
""",
    tags=("window",),
)
def window_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset functions (no arithmetic → raw doubles must match exactly)."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
    )


@register(
    "window_rank_dense_ntile",
    oracle="""
SELECT c_custkey,
       RANK() OVER (PARTITION BY c_nationkey ORDER BY bucket DESC) AS rnk,
       DENSE_RANK() OVER (PARTITION BY c_nationkey ORDER BY bucket DESC) AS drnk,
       NTILE(4) OVER (
         PARTITION BY c_nationkey ORDER BY bucket DESC, c_custkey
       ) AS quartile
FROM (
  SELECT c_custkey, c_nationkey,
         CAST(FLOOR(c_acctbal / 1000) AS BIGINT) AS bucket
  FROM customer
)
""",
    tags=("window",),
)
def window_rank_dense_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank over a tie-prone key; ntile over a total order
    (ntile on a partial order would be nondeterministic)."""
    c = load_table(spark, sf_dir, "customer")
    b = c.select(
        "c_custkey",
        "c_nationkey",
        F.floor(F.col("c_acctbal") / 1000).cast("long").alias("bucket"),
    )
    w_ties = W.partitionBy("c_nationkey").orderBy(F.col("bucket").desc())
    w_total = W.partitionBy("c_nationkey").orderBy(
        F.col("bucket").desc(), F.col("c_custkey")
    )
    return b.select(
        "c_custkey",
        F.rank().over(w_ties).alias("rnk"),
        F.dense_rank().over(w_ties).alias("drnk"),
        F.ntile(4).over(w_total).alias("quartile"),
    )


@register(
    "window_range_frame_30d",
    oracle="""
SELECT o_orderkey,
       COUNT(*) OVER (
         PARTITION BY o_custkey
         ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
         RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW
       ) AS n_orders_30d
FROM orders
""",
    tags=("window",),
)
def window_range_frame_30d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame: orders by the same customer in the trailing 30 days.

    Value-based frames need a numeric order key; epoch seconds here.
    Deterministic even under order-key ties (frame depends on values).
    """
    o = load_table(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-2592000, 0)
    )
    return o.select(
        "o_orderkey", F.count(F.lit(1)).over(w).alias("n_orders_30d")
    )


@register(
    "window_first_last",
    oracle="""
SELECT DISTINCT c_nationkey,
       FIRST_VALUE(c_name) OVER w AS poorest,
       LAST_VALUE(c_name) OVER (
         PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey
         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
       ) AS richest
FROM customer
WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
""",
    tags=("window",),
)
def window_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value/last_value with an explicit full frame for last."""
    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    w_full = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return c.select(
        "c_nationkey",
        F.first("c_name").over(w).alias("poorest"),
        F.last("c_name").over(w_full).alias("richest"),
    ).distinct()


@register(
    "asof_join_last_purchase",
    oracle="""
SELECT e.event_id, p.value AS last_purchase_value
FROM (SELECT * FROM events WHERE event_type = 'error') e
ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id AND e.ts >= p.ts
""",
    tags=("window", "asof", "custom-operator"),
)
def asof_join_last_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (operator Spark lacks) as a window composition.

    For each error event, the value of the same user's most recent
    purchase at-or-before it. Implemented the scale-friendly way: tag +
    union both sides, one window per user ordered by (ts, side, id),
    ``last(value_of_right_side, ignorenulls=True)`` — a single shuffle
    on the join key, no per-group pandas, no range explosion. Oracle is
    DuckDB's native ASOF JOIN.

    The side tag sorts purchases before errors at equal timestamps so
    "at-or-before" includes ties, matching ASOF's ``>=``.
    """
    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id",
        "ts",
        F.col("value").alias("p_value"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("side"),
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        "user_id",
        "ts",
        F.lit(None).cast("double").alias("p_value"),
        "event_id",
        F.lit(1).alias("side"),
    )
    unioned = purchases.unionByName(errors)
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "side", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return (
        unioned.withColumn(
            "last_purchase_value", F.last("p_value", ignorenulls=True).over(w)
        )
        .filter(F.col("side") == 1)
        .select("event_id", "last_purchase_value")
    )


@register(
    "sessionize_events",
    oracle="""
WITH g AS (
  SELECT user_id, ts,
         CASE WHEN LAG(ts) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id,
         SUM(new_sess) OVER (
           PARTITION BY user_id ORDER BY ts
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS sess_id
  FROM g
)
SELECT user_id,
       CAST(MAX(sess_id) AS BIGINT) AS n_sessions,
       COUNT(*) AS n_events
FROM s
GROUP BY user_id
""",
    tags=("window", "session", "custom-operator"),
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization: 30-minute-gap sessions per user via
    lag → gap flag → cumulative sum (the standard distributed shape;
    one shuffle, no stateful loop)."""
    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    w_cum = W.partitionBy("user_id").orderBy("ts").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    # integer microseconds on both engine and oracle side: the gap
    # comparison must not depend on timestamp render precision
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)
    flagged = ev.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > 1_800_000_000), F.lit(1)).otherwise(F.lit(0)),
    )
    sess = flagged.withColumn("sess_id", F.sum("new_sess").over(w_cum))
    return sess.groupBy("user_id").agg(
        F.max("sess_id").cast("long").alias("n_sessions"),
        F.count(F.lit(1)).alias("n_events"),
    )


@register(
    "window_rolling_median",
    oracle="""
SELECT o_orderkey, o_custkey,
       ROUND(quantile_cont(o_totalprice, 0.5) OVER (
         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 4) AS rolling_median
FROM orders
""",
    tags=("window", "percentile", "custom-operator"),
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling median of each customer's last 4 order totals — the
    windowed-percentile operator Spark has no primitive for (built-in
    ``median``/``percentile`` are group aggregates; they cannot run
    over a sliding frame). Built as collect_list over the bounded
    frame → sort_array → midpoint interpolation, exactly DuckDB's
    ``quantile_cont(0.5)``: state per row is the 4-element frame, so
    the trick stays O(frame) at any scale — it would NOT be safe for
    unbounded frames, which need a two-pass or sketch approach.

    Float discipline: both engines interpolate from the same two
    doubles; ROUND(...,4) absorbs the ulp between ``(a+b)/2`` and
    ``a+(b-a)*0.5`` (true medians of 2-decimal prices have ≤3
    decimals, so nothing sits on the 4-decimal rounding boundary).
    The frame membership itself is deterministic via the
    (o_orderdate, o_orderkey) tiebreak.
    """
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey").rowsBetween(-3, 0)
    arr = F.sort_array(F.collect_list("o_totalprice").over(w))
    n = F.size(arr)
    lower = F.element_at(arr, ((n + 1) / 2).cast("int"))
    upper = F.element_at(arr, ((n + 2) / 2).cast("int"))
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round((lower + upper) / 2, 4).alias("rolling_median"),
    )


@register(
    "window_ratio_to_report",
    oracle="""
WITH rev AS (
  SELECT c_nationkey,
         CAST(SUM(CAST(ROUND(o_totalprice, 2) AS DECIMAL(28,2)))
              AS DOUBLE) AS nation_rev
  FROM customer JOIN orders ON c_custkey = o_custkey
  GROUP BY c_nationkey
)
SELECT c_nationkey, nation_rev,
       ROUND(nation_rev / SUM(nation_rev) OVER (), 6) AS share
FROM rev
""",
    tags=("window", "ratio"),
)
def window_ratio_to_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percent-of-total (ratio_to_report): each nation's revenue share
    via an unbounded empty-partition window over the aggregate — one
    extra single-row-broadcast exchange on top of the groupBy, never a
    driver collect. The denominator sums the already-exact decimal
    nation revenues, so both engines divide identical doubles;
    ROUND(,6) absorbs the final division ulp.
    """
    from ..functions.numeric import exact_decimal_sum

    t = load_table(spark, sf_dir, "customer").join(
        load_table(spark, sf_dir, "orders"),
        F.col("c_custkey") == F.col("o_custkey"),
    )
    rev = t.groupBy("c_nationkey").agg(
        exact_decimal_sum(F.col("o_totalprice"), 2).alias("nation_rev")
    )
    w = W.partitionBy()
    return rev.select(
        "c_nationkey",
        "nation_rev",
        F.round(F.col("nation_rev") / F.sum("nation_rev").over(w), 6).alias(
            "share"
        ),
    )


@register(
    "window_distinct_count_trick",
    oracle="""
SELECT o_orderkey, o_custkey,
       COUNT(DISTINCT o_orderpriority) OVER (PARTITION BY o_custkey)
         AS n_distinct_prio
FROM orders
""",
    tags=("window", "distinct", "custom-operator"),
)
def window_distinct_count_trick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COUNT(DISTINCT) OVER a partition — a window Spark does NOT
    support (DISTINCT aggregates are rejected in window frames), built
    with the classic two-window trick: dense_rank over (partition,
    value) numbers the distinct values 1..k, and max(dense_rank) over
    the partition attaches k to every row. The oracle side runs
    DuckDB's NATIVE windowed distinct count, making this a true
    differential test of the workaround. Both windows share one
    shuffle on o_custkey.
    """
    o = load_table(spark, sf_dir, "orders")
    dr = F.dense_rank().over(
        W.partitionBy("o_custkey").orderBy("o_orderpriority")
    )
    return (
        o.withColumn("_dr", dr)
        .withColumn(
            "n_distinct_prio", F.max("_dr").over(W.partitionBy("o_custkey"))
        )
        .select("o_orderkey", "o_custkey", "n_distinct_prio")
    )
