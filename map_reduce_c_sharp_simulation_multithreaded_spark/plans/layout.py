"""Data-layout operators: multi-dimensional clustering keys.

At 100 TB the scan you avoid beats the scan you optimize: sorting a
fact table by a Z-order (Morton) key before writing bounds EVERY
interleaved dimension within each file/row group, so min/max footer
stats prune scans filtered on either column — the Delta/Iceberg
``ZORDER BY`` idea expressed as plain integer arithmetic.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

_BITS = 16


def zorder_key(x: Column, y: Column, bits: int = _BITS) -> Column:
    """Morton interleave of two ``bits``-wide non-negative ints:
    bit i of x lands at position 2i, bit i of y at 2i+1. Pure shifts,
    masks and adds — identical on any engine, and cheap enough to be
    a write-path expression (codegen'd, no shuffle of its own)."""
    z = F.lit(0).cast("long")
    for i in range(bits):
        z = (
            z
            + F.shiftright(x, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i))
            + F.shiftright(y, i).bitwiseAND(F.lit(1)) * F.lit(1 << (2 * i + 1))
        )
    return z


def _zorder_oracle(bits: int = _BITS, tile_shift: int = 20) -> str:
    xbit = " + ".join(
        f"((x >> {i}) & 1) * {1 << (2 * i)}"
        f" + ((y >> {i}) & 1) * {1 << (2 * i + 1)}"
        for i in range(bits)
    )
    return f"""
WITH base AS (
  SELECT CAST(o_custkey % 65536 AS BIGINT) AS x,
         CAST(datediff('day', DATE '1992-01-01', o_orderdate) % 65536
              AS BIGINT) AS y
  FROM orders
),
z AS (SELECT x, y, ({xbit}) AS zkey FROM base)
SELECT zkey >> {tile_shift} AS tile,
       COUNT(*) AS n_rows,
       CAST(MIN(x) AS BIGINT) AS min_x, CAST(MAX(x) AS BIGINT) AS max_x,
       CAST(MIN(y) AS BIGINT) AS min_y, CAST(MAX(y) AS BIGINT) AS max_y
FROM z GROUP BY tile
"""


@register(
    "layout_zorder_tiles",
    oracle=_zorder_oracle(),
    tags=("layout", "zorder", "custom-operator"),
)
def layout_zorder_tiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order clustering audit over orders on (custkey, order-day):
    Morton-interleave both dimensions, tile by the key's high bits
    (tile = zkey >> 20, i.e. what one sorted file/row group would
    hold), and report per-tile min/max of BOTH source columns.

    The payoff being audited: fixing the top 12 z-bits fixes the top
    6 bits of each dimension, so every tile spans < 2^10 in x AND y
    simultaneously — which is why footer min/max stats prune scans on
    either predicate after a Z-order write, where a plain sort bounds
    only its leading column (pytest pins the 1023 bound; the oracle
    re-derives every bit). Write-path usage is just
    ``df.repartitionByRange(n, zkey).sortWithinPartitions(zkey)``.
    """
    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        (F.col("o_custkey") % 65536).cast("long").alias("x"),
        (
            F.datediff(F.col("o_orderdate"), F.lit("1992-01-01").cast("date"))
            % 65536
        )
        .cast("long")
        .alias("y"),
    )
    z = base.select("x", "y", zorder_key(F.col("x"), F.col("y")).alias("zkey"))
    return z.groupBy(F.shiftright("zkey", 20).alias("tile")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )
