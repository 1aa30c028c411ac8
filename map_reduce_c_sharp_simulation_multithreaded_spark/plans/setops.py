"""Set operations, distinct/dedup, sorts, limits, top-k.

The reference's only set-like operation is the reduce-side bag-union of
partial aggregates (``D/Program.cs:151-165``) — i.e. UNION ALL +
re-aggregate in disguise. This module covers the full family
(SURVEY.md §2.3 "Set operations" / "Sorts / limits / top-k").
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


def _nationkeys(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = load_table(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c, s


@register(
    "set_union_distinct",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
UNION
SELECT s_nationkey FROM supplier
""",
    tags=("setop",),
)
def set_union_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION (distinct): union + dropDuplicates, one shuffle."""
    c, s = _nationkeys(spark, sf_dir)
    return c.union(s).distinct()


@register(
    "set_union_all_reaggregate",
    oracle="""
SELECT nationkey, COUNT(*) AS n
FROM (
  SELECT c_nationkey AS nationkey FROM customer
  UNION ALL
  SELECT s_nationkey FROM supplier
)
GROUP BY nationkey
""",
    tags=("setop", "aggregate", "parity"),
)
def set_union_all_reaggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL + re-aggregate — the reference's merge step
    (``D/Program.cs:151-165``) as a declarative plan."""
    c, s = _nationkeys(spark, sf_dir)
    return c.union(s).groupBy("nationkey").agg(F.count(F.lit(1)).alias("n"))


@register(
    "set_intersect",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
INTERSECT
SELECT s_nationkey FROM supplier
""",
    tags=("setop",),
)
def set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct)."""
    c, s = _nationkeys(spark, sf_dir)
    return c.intersect(s)


@register(
    "set_except",
    oracle="""
SELECT c_nationkey AS nationkey FROM customer
EXCEPT
SELECT s_nationkey FROM supplier
""",
    tags=("setop",),
)
def set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): nations with customers but no suppliers.

    ``subtract`` is Spark's EXCEPT DISTINCT (``exceptAll`` would be bag
    semantics: remove one occurrence per right row — not this query).
    """
    c, s = _nationkeys(spark, sf_dir)
    return c.subtract(s)


@register(
    "distinct_pairs",
    oracle="SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
    tags=("setop", "dedup"),
)
def distinct_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates on a column subset (exact dedup primitive)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.select("l_returnflag", "l_linestatus").dropDuplicates()


@register(
    "orderby_limit_topk",
    oracle="""
SELECT o_orderkey, o_custkey, o_totalprice
FROM orders
ORDER BY o_totalprice DESC, o_orderkey
LIMIT 10
""",
    tags=("sort", "topk"),
)
def orderby_limit_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k: ORDER BY + LIMIT plans as TakeOrderedAndProject —
    per-partition heaps + driver merge of k rows, never a full sort.
    The tiebreak makes the k-boundary deterministic."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(10)
    )


@register(
    "sort_within_partitions_sample",
    oracle="""
SELECT l_returnflag, COUNT(*) AS n, ROUND(SUM(l_quantity), 2) AS qty
FROM lineitem
GROUP BY l_returnflag
""",
    tags=("sort",),
)
def sort_within_partitions_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """repartition-by-key + sortWithinPartitions (the write-path pattern
    for sorted sinks / bucketed tables) feeding an aggregate; results
    are order-insensitive so the oracle is the plain aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    arranged = li.repartition(8, "l_returnflag").sortWithinPartitions(
        "l_returnflag", "l_orderkey"
    )
    return arranged.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("l_quantity"), 2).alias("qty"),
    )


@register(
    "set_except_all",
    oracle="""
SELECT l_returnflag FROM lineitem WHERE l_linenumber <= 2
EXCEPT ALL
SELECT l_returnflag FROM lineitem WHERE l_linenumber = 1
""",
    tags=("setop",),
)
def set_except_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag semantics): each right-side occurrence removes
    exactly one left-side occurrence."""
    li = load_table(spark, sf_dir, "lineitem")
    a = li.filter(F.col("l_linenumber") <= 2).select("l_returnflag")
    b = li.filter(F.col("l_linenumber") == 1).select("l_returnflag")
    return a.exceptAll(b)


@register(
    "sample_deterministic_count",
    oracle="""
SELECT l_returnflag, COUNT(*) AS n_sampled
FROM lineitem
WHERE CAST('0x' || substr(md5(l_orderkey || '|' || l_linenumber), 1, 15)
      AS BIGINT) < 115292150460684704
GROUP BY l_returnflag
""",
    tags=("sample",),
)
def sample_deterministic_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% Bernoulli sample by CONTENT HASH (first 60 md5 bits of the
    row key under 0.1·2^60), per-flag sampled counts.

    Hash sampling is the reproducibility discipline at 100 TB: the
    keep/drop decision is a pure row function, so it survives reruns,
    repartitioning, and engine swaps — which the oracle proves by
    re-deriving the identical sample in DuckDB. (Seeded ``.sample``
    determinism-within-Spark is pinned separately in pytest; its RNG is
    engine-specific by construction.)
    """
    li = load_table(spark, sf_dir, "lineitem")
    u60 = F.conv(
        F.substring(
            F.md5(F.concat_ws("|", "l_orderkey", "l_linenumber")), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return (
        li.filter(u60 < F.lit(115292150460684704))
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


@register(
    "sample_stratified_by_lang",
    oracle="""
WITH f AS (
  SELECT lang, doc_id,
         CASE WHEN substr(md5('strat:' || lang), 1, 1) < '8'
              THEN 288230376151711744 ELSE 864691128455135232 END AS bar
  FROM documents
)
SELECT lang, COUNT(*) AS n_sampled
FROM f
WHERE CAST('0x' || substr(md5('doc:' || doc_id), 1, 15) AS BIGINT) < bar
GROUP BY lang
""",
    tags=("sample", "mlprep"),
)
def sample_stratified_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling: per-language fractions — the corpus-
    rebalancing primitive (downsample the dominant language, keep the
    tail) every training-data pipeline needs.

    Both the per-stratum fraction (25% or 75% by the lang's md5 nibble)
    and each row's keep/drop (60-bit md5 uniform under fraction·2^60)
    are pure content-hash functions: no driver pre-pass to enumerate
    strata (round 1 collect()ed the lang list at plan-build time), no
    RNG, and any engine re-derives the identical sample — the 100 TB
    reproducibility discipline, proven by the DuckDB oracle.
    """
    d = load_table(spark, sf_dir, "documents")
    # 2^58 (=0.25·2^60) and 3·2^58 (=0.75·2^60): exact integer bars
    bar = F.when(
        F.substring(F.md5(F.concat(F.lit("strat:"), F.col("lang"))), 1, 1)
        < "8",
        F.lit(288230376151711744),
    ).otherwise(F.lit(864691128455135232))
    u60 = F.conv(
        F.substring(F.md5(F.concat(F.lit("doc:"), F.col("doc_id"))), 1, 15),
        16,
        10,
    ).cast("long")
    return (
        d.filter(u60 < bar)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"))
    )


@register(
    "sample_weighted_priority",
    oracle="""
WITH pri AS (
  SELECT doc_id, lang, n_chars,
         ROUND(
           -ln((CAST(CAST('0x' || substr(md5('wsamp:' || doc_id), 1, 15)
                     AS BIGINT) AS DOUBLE) + 1) / 1152921504606846976.0)
           / n_chars, 9) AS key_r
  FROM documents
)
SELECT doc_id, lang, n_chars, key_r
FROM pri ORDER BY key_r ASC, doc_id LIMIT 50
""",
    tags=("sample", "mlprep", "custom-operator"),
)
def sample_weighted_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis–Spirakis via
    exponential clocks): each doc draws key = -ln(u)/weight from a
    CONTENT-HASH uniform, and the k smallest keys are the sample —
    inclusion probability proportional to weight (n_chars here), with
    the same 100 TB reproducibility discipline as the other samples:
    no RNG state, survives reruns/repartitions/engine swaps, and one
    distributed top-k (TakeOrdered) instead of a driver-side pass.

    u = (60-bit md5 + 1)/2^60 is the identical double on both engines;
    keys are rounded to 9 BEFORE the top-k cut with a doc_id tiebreak
    so a last-ulp ln() difference cannot flip the boundary.
    """
    d = load_table(spark, sf_dir, "documents")
    u60 = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("wsamp:"), F.col("doc_id"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    u = (u60.cast("double") + 1) / F.lit(1152921504606846976.0)
    key_r = F.round(-F.log(u) / F.col("n_chars"), 9)
    return (
        d.select("doc_id", "lang", "n_chars", key_r.alias("key_r"))
        .orderBy(F.col("key_r").asc(), F.col("doc_id"))
        .limit(50)
    )
