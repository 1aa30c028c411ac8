"""Slowly-changing-dimension (SCD type 2) MERGE emulation.

The reference engine is append-only (its sink writes one immutable CSV,
``D/Program.cs:475-484``); a production analytics store also needs the
upsert/merge pattern. Spark without a lakehouse table format has no
MERGE INTO, so this module shows the canonical emulation: derive the
change set with a join, then rebuild the dimension as a union of
untouched rows + closed-out old versions + newly-opened versions. At
scale every step is a key-partitioned join/union — no driver state —
and the rewrite only touches the partitions holding changed keys when
the dim is stored partitioned by key range (dynamic partition
overwrite).

Scenario: ``customer`` is the current dimension (segment attribute);
each customer's LATEST order on/after 1998-01-01 proposes a new
segment value. Changed keys get their current row closed at the change
date and a new open row appended.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import Window

from ..catalog import load_tables
from .registry import register

_SCD2_ORACLE = """
WITH latest AS (
  SELECT o_custkey, o_orderpriority, o_orderdate,
         ROW_NUMBER() OVER (
           PARTITION BY o_custkey
           ORDER BY o_orderdate DESC, o_orderkey DESC
         ) AS rn
  FROM orders
  WHERE o_orderdate >= TIMESTAMP '1998-01-01'
),
upd AS (
  SELECT o_custkey AS custkey,
         'SEG-' || substr(o_orderpriority, 1, 1) AS new_seg,
         strftime(o_orderdate, '%Y-%m-%d') AS change_date
  FROM latest WHERE rn = 1
),
changed AS (
  SELECT c.c_custkey AS custkey, c.c_mktsegment AS old_seg,
         u.new_seg, u.change_date
  FROM customer c
  JOIN upd u ON c.c_custkey = u.custkey
  WHERE u.new_seg <> c.c_mktsegment
)
SELECT c_custkey AS custkey, c_mktsegment AS segment,
       '1995-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to,
       CAST(1 AS INT) AS is_current
FROM customer
WHERE c_custkey NOT IN (SELECT custkey FROM changed)
UNION ALL
SELECT custkey, old_seg, '1995-01-01', change_date, CAST(0 AS INT)
FROM changed
UNION ALL
SELECT custkey, new_seg, change_date, NULL, CAST(1 AS INT)
FROM changed
"""


@register(
    "scd2_merge_customer_segment",
    oracle=_SCD2_ORACLE,
    tags=("merge", "scd2", "join", "window", "custom-operator"),
)
def scd2_merge_customer_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 MERGE emulation: close-and-reopen changed dimension rows.

    Change set = latest-1998-order-per-customer (one window shuffle on
    the key, deterministic (date, orderkey) tiebreak) joined against
    the current dim, kept where the attribute actually changed. Output
    = anti-join survivors ∪ closed versions ∪ opened versions — three
    narrow selects over two shuffles; nothing is collected.
    """
    t = load_tables(spark, sf_dir, "customer", "orders")
    c, o = t["customer"], t["orders"]

    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_orderdate").desc(), F.col("o_orderkey").desc()
    )
    upd = (
        o.filter(F.col("o_orderdate") >= F.lit("1998-01-01").cast("timestamp"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.concat(
                F.lit("SEG-"), F.substring("o_orderpriority", 1, 1)
            ).alias("new_seg"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("change_date"),
        )
    )
    changed = (
        c.join(upd, c.c_custkey == upd.custkey)
        .filter(F.col("new_seg") != F.col("c_mktsegment"))
        .select(
            "custkey",
            F.col("c_mktsegment").alias("old_seg"),
            "new_seg",
            "change_date",
        )
        # reused by all three output branches; without this the window+
        # join subtree executes 3x (persist(MEMORY_AND_DISK) at scale)
        .cache()
    )
    untouched = c.join(
        changed, c.c_custkey == changed.custkey, "left_anti"
    ).select(
        F.col("c_custkey").alias("custkey"),
        F.col("c_mktsegment").alias("segment"),
        F.lit("1995-01-01").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(1).alias("is_current"),
    )
    closed = changed.select(
        "custkey",
        F.col("old_seg").alias("segment"),
        F.lit("1995-01-01").alias("valid_from"),
        F.col("change_date").alias("valid_to"),
        F.lit(0).alias("is_current"),
    )
    opened = changed.select(
        "custkey",
        F.col("new_seg").alias("segment"),
        F.col("change_date").alias("valid_from"),
        F.lit(None).cast("string").alias("valid_to"),
        F.lit(1).alias("is_current"),
    )
    return untouched.unionAll(closed).unionAll(opened)
