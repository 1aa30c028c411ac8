"""Table loading for the driver's parquet test corpus.

Replaces the reference's hand-rolled CSV scan + positional projection
(``D/Program.cs:409-455``): a declarative parquet scan on which Catalyst
performs column pruning and predicate pushdown automatically. At 100 TB
the same call reads a partitioned cloud dataset; nothing here holds rows
on the driver.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from .schemas import TABLE_NAMES


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one test table as a DataFrame (lazy parquet scan)."""
    if name not in TABLE_NAMES:
        raise KeyError(f"unknown table {name!r}; have {TABLE_NAMES}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts has shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)
        # across corpus generations. Nanos read as long (session.SESSION_CONF)
        # and floor-convert to the engine-native µs TimestampType (DuckDB's
        # ns→µs floor); micros read natively as NTZ and only need the cast
        # to session-TZ (UTC) TimestampType.
        df = spark.read.parquet(path)
        if isinstance(df.schema["ts"].dataType, LongType):
            return df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return spark.read.parquet(path)


def load_tables(
    spark: SparkSession, sf_dir: str, *names: str
) -> dict[str, DataFrame]:
    """Load several tables at once; all tables when no names given."""
    picked = list(names) if names else TABLE_NAMES
    return {n: load_table(spark, sf_dir, n) for n in picked}


def register_views(spark: SparkSession, sf_dir: str, *names: str) -> None:
    """Register temp views so operators can be expressed in pure SQL."""
    for name, df in load_tables(spark, sf_dir, *names).items():
        df.createOrReplaceTempView(name)
