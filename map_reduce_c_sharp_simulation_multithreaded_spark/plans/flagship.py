"""Flagship + reference-parity queries.

The reference's entire query surface is one query (SURVEY.md §2.2):

    donations ⋈_{DonorID} donors → Γ_{DonorState; SUM(DonationAmount)} → csv
    (``D/Program.cs:228-248``)

Mapped onto the driver's star schema (FIXTURES.md §B): fact ``orders``
≈ donations, dimension ``customer`` ≈ donors. The flagship ``entry()``
query is the 4-table generalization (revenue by nation).

Scale notes: ``nation`` (25 rows, constant at every SF) is explicitly
broadcast — at 100 TB it is still 25 rows. ``customer`` is NOT forcibly
broadcast: at sf0.1 it fits, at 100 TB it does not; Catalyst/AQE picks
broadcast vs shuffled-hash from runtime stats, which is the only choice
that survives a 1000× scale-up. Partial (map-side) aggregation — the
reference's hand-rolled combiner, ``D/Program.cs:312-315`` — is emitted
automatically as HashAggregate(partial) before the exchange.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_tables
from ..functions.numeric import exact_decimal_sum
from ..operators.joins import dedup_dim_last_wins
from .registry import register

FLAGSHIP_ORACLE = """
SELECT n_name,
       CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount), 4)
                AS DECIMAL(28,4))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


@register("flagship_revenue_by_nation", oracle=FLAGSHIP_ORACLE, headline=True,
          tags=("join", "aggregate", "parity"))
def flagship_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ nation → revenue per nation.

    The reference composition O1–O12 (scan → co-partitioned equi hash
    join → partial+final SUM agg) generalized to a 3-join star query.
    """
    t = load_tables(spark, sf_dir, "lineitem", "orders", "customer", "nation")
    li, o, c, n = t["lineitem"], t["orders"], t["customer"], t["nation"]
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            # revenue terms have 4 exact decimals → decimal sum (see
            # functions/numeric.py for why ROUND(SUM(...), 2) is unsafe)
            exact_decimal_sum(
                li.l_extendedprice * (1 - li.l_discount), 4
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_lines"),
        )
    )


PARITY_ORACLE = """
SELECT c_mktsegment AS segment,
       ROUND(SUM(o_totalprice), 2) AS total_amount
FROM orders
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@register("parity_donations_by_state", oracle=PARITY_ORACLE, headline=True,
          tags=("join", "aggregate", "parity"))
def parity_donations_by_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's exact query shape on the star schema.

    fact(key, amount) ⋈ dim(key, state) → GROUP BY state → SUM(amount):
    ``o_custkey`` ≈ Donor ID, ``o_totalprice`` ≈ Donation Amount,
    ``c_mktsegment`` ≈ Donor State (FIXTURES.md §B mapping). One shuffle
    for the join (or zero when the dim broadcasts), one for the final
    agg; map-side partial aggregation is automatic.
    """
    t = load_tables(spark, sf_dir, "orders", "customer")
    o, c = t["orders"], t["customer"]
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(c.c_mktsegment.alias("segment"))
        .agg(F.round(F.sum(o.o_totalprice), 2).alias("total_amount"))
    )


NULL_DEFAULT_ORACLE = """
SELECT event_type,
       ROUND(SUM(COALESCE(value, 0.0)), 2) AS total_value,
       COUNT(*) AS n_events
FROM events
GROUP BY event_type
"""


@register("parity_null_default_sum", oracle=NULL_DEFAULT_ORACLE,
          tags=("parity", "aggregate"))
def parity_null_default_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL measure → 0.0 before summing.

    The reference coalesces empty/missing Donation Amount tokens to 0.0
    (``D/Program.cs:451,580-588``); here the same semantics as an
    explicit ``coalesce`` so NULL rows still count toward COUNT(*).
    """
    ev = load_tables(spark, sf_dir, "events")["events"]
    return ev.groupBy("event_type").agg(
        F.round(F.sum(F.coalesce(F.col("value"), F.lit(0.0))), 2).alias("total_value"),
        F.count(F.lit(1)).alias("n_events"),
    )


LAST_WINS_ORACLE = """
WITH latest AS (
  SELECT o_custkey, o_totalprice
  FROM (
    SELECT o_custkey, o_totalprice,
           ROW_NUMBER() OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate DESC, o_orderkey DESC
           ) AS rn
    FROM orders
  )
  WHERE rn = 1
)
SELECT c_mktsegment AS segment,
       COUNT(*) AS n_customers,
       ROUND(SUM(o_totalprice), 2) AS latest_total
FROM latest
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@register("parity_last_wins_dim", oracle=LAST_WINS_ORACLE,
          tags=("parity", "join", "window"))
def parity_last_wins_dim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-key last-writer-wins dimension semantics.

    The reference's build dictionary overwrites on duplicate Donor ID —
    last row wins (``D/Program.cs:296``); Spark's join would multiply.
    Reproduced as an explicit keep-last window (deterministic ordering,
    since distributed file order is not) over ``orders`` treated as a
    keyed dimension, then the ordinary join.
    """
    t = load_tables(spark, sf_dir, "orders", "customer")
    o, c = t["orders"], t["customer"]
    latest = dedup_dim_last_wins(
        o.select("o_custkey", "o_totalprice", "o_orderdate", "o_orderkey"),
        "o_custkey",
        [F.col("o_orderdate"), F.col("o_orderkey")],
    )
    return (
        latest.join(c, latest.o_custkey == c.c_custkey)
        .groupBy(c.c_mktsegment.alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.round(F.sum(latest.o_totalprice), 2).alias("latest_total"),
        )
    )


DECIMAL_ORACLE = """
SELECT c_mktsegment AS segment,
       SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS total_amount
FROM orders
JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


@register("parity_decimal_money_sum", oracle=DECIMAL_ORACLE,
          tags=("parity", "decimal", "aggregate"))
def parity_decimal_money_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship money sum in EXACT decimal semantics.

    The reference aggregates money as binary double and only renders F2
    at the sink (``D/Program.cs:483``) — float semantics, order-
    dependent. SURVEY.md §1.2 flags DecimalType as the correctness
    option: DECIMAL(18,2) sums are exact and order-independent, so the
    oracle comparison needs NO rounding at all — the strongest parity
    statement in the suite.
    """
    t = load_tables(spark, sf_dir, "orders", "customer")
    o, c = t["orders"], t["customer"]
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(c.c_mktsegment.alias("segment"))
        .agg(
            F.sum(o.o_totalprice.cast("decimal(18,2)")).alias("total_amount")
        )
    )
