"""Scalar-function pack: string / date / math / array / map / JSON.

The reference's entire scalar surface is ``double.Parse``, ``Trim``,
``Split`` and ``"F2"`` formatting (``D/Program.cs:556,563,586,483``).
This module covers the generalized pack (SURVEY.md §2.3 "Scalar
functions"), every function JVM-side inside whole-stage codegen — no
Python UDFs anywhere in the hot path.

Cross-engine gotchas pinned here (learned against DuckDB):
ints are cast to BIGINT on both sides (DuckDB ``floor`` returns DOUBLE,
Spark returns LONG; a "2.0" vs "2" value-hash mismatch otherwise);
transcendentals are rounded (libm ulp differences); day-of-week uses an
explicit shared convention.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register


@register(
    "scalar_string_pack",
    oracle="""
SELECT p_partkey,
       lower(p_name) AS lname,
       upper(p_brand) AS ubrand,
       substr(p_name, 1, 5) AS prefix5,
       CAST(length(p_name) AS BIGINT) AS name_len,
       concat(p_brand, '|', p_type) AS brand_type,
       regexp_extract(p_brand, '([0-9]+)', 1) AS brand_num,
       replace(p_name, ' ', '_') AS snake,
       string_split(p_name, ' ')[1] AS first_word,
       trim('  ' || p_type || ' ') AS trimmed
FROM part
""",
    tags=("scalar", "string"),
)
def scalar_string_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lower/upper/substring/length/concat/regexp_extract/replace/split/trim."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("lname"),
        F.upper("p_brand").alias("ubrand"),
        F.substring("p_name", 1, 5).alias("prefix5"),
        F.length("p_name").cast("long").alias("name_len"),
        F.concat_ws("|", "p_brand", "p_type").alias("brand_type"),
        F.regexp_extract("p_brand", r"([0-9]+)", 1).alias("brand_num"),
        F.regexp_replace("p_name", " ", "_").alias("snake"),
        F.split("p_name", " ").getItem(0).alias("first_word"),
        F.trim(F.concat(F.lit("  "), F.col("p_type"), F.lit(" "))).alias("trimmed"),
    )


@register(
    "scalar_date_pack",
    oracle="""
SELECT o_orderkey,
       CAST(year(o_orderdate) AS INT) AS yr,
       CAST(quarter(o_orderdate) AS INT) AS qtr,
       CAST(month(o_orderdate) AS INT) AS mth,
       CAST(day(o_orderdate) AS INT) AS dom,
       CAST(dayofweek(o_orderdate) + 1 AS INT) AS dow_sun1,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
       strftime(o_orderdate, '%Y-%m-%d') AS order_day,
       CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INT)
         AS days_since_epoch_start,
       strftime(CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE), '%Y-%m-%d')
         AS month_end,
       strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d')
         AS plus3m
FROM orders
""",
    tags=("scalar", "date"),
)
def scalar_date_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """year/quarter/month/day/dow/date_trunc/format/datediff/last_day/add_months.

    Day-of-week pinned to Sunday=1 (Spark's convention; DuckDB's
    ``dayofweek`` is Sunday=0, shifted in the oracle). Dates render as
    strings so engine-side date types never leak into the hash.
    """
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(d).alias("yr"),
        F.quarter(d).alias("qtr"),
        F.month(d).alias("mth"),
        F.dayofmonth(d).alias("dom"),
        F.dayofweek(d).alias("dow_sun1"),
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias("month_start"),
        F.date_format(d, "yyyy-MM-dd").alias("order_day"),
        F.datediff(d.cast("date"), F.lit("1995-01-01").cast("date")).alias(
            "days_since_epoch_start"
        ),
        F.date_format(F.last_day(d.cast("date")), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.add_months(d.cast("date"), 3), "yyyy-MM-dd").alias("plus3m"),
    )


@register(
    "scalar_math_pack",
    oracle="""
SELECT l_orderkey, l_linenumber,
       ROUND(abs(l_extendedprice - 50000), 2) AS abs_dev,
       CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
       CAST(CEIL(l_extendedprice / 1000) AS BIGINT) AS price_kceil,
       ROUND(sqrt(l_extendedprice), 6) AS price_sqrt,
       ROUND(ln(l_extendedprice + 1), 6) AS price_ln,
       ROUND(log10(l_extendedprice + 1), 6) AS price_log10,
       ROUND(l_quantity * l_quantity, 2) AS qty_sq,
       CAST(l_linenumber % 3 AS INT) AS line_mod3,
       CAST(sign(l_discount - 0.05) AS INT) AS disc_sign
FROM lineitem
""",
    tags=("scalar", "math"),
)
def scalar_math_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """abs/floor/ceil/sqrt/ln/log10/power/mod/sign (ints → BIGINT both
    sides, transcendentals rounded to kill libm ulp drift)."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.round(F.abs(price - 50000), 2).alias("abs_dev"),
        F.floor("l_quantity").cast("long").alias("qty_floor"),
        F.ceil(price / 1000).cast("long").alias("price_kceil"),
        F.round(F.sqrt(price), 6).alias("price_sqrt"),
        F.round(F.log(price + 1), 6).alias("price_ln"),
        F.round(F.log10(price + 1), 6).alias("price_log10"),
        F.round(F.col("l_quantity") * F.col("l_quantity"), 2).alias("qty_sq"),
        (F.col("l_linenumber") % 3).cast("int").alias("line_mod3"),
        F.signum(F.col("l_discount") - 0.05).cast("int").alias("disc_sign"),
    )


@register(
    "scalar_conditional_pack",
    oracle="""
SELECT o_orderkey,
       CASE WHEN o_totalprice >= 300000 THEN 'high'
            WHEN o_totalprice >= 100000 THEN 'mid'
            ELSE 'low' END AS tier,
       COALESCE(NULLIF(o_orderstatus, 'O'), 'open') AS status_label,
       LEAST(o_totalprice, 250000.0) AS capped,
       GREATEST(o_totalprice, 50000.0) AS floored
FROM orders
""",
    tags=("scalar", "conditional"),
)
def scalar_conditional_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CASE WHEN / nullif / coalesce / least / greatest."""
    o = load_table(spark, sf_dir, "orders")
    tp = F.col("o_totalprice")
    return o.select(
        "o_orderkey",
        F.when(tp >= 300000, "high")
        .when(tp >= 100000, "mid")
        .otherwise("low")
        .alias("tier"),
        F.coalesce(F.nullif("o_orderstatus", F.lit("O")), F.lit("open")).alias(
            "status_label"
        ),
        F.least(tp, F.lit(250000.0)).alias("capped"),
        F.greatest(tp, F.lit(50000.0)).alias("floored"),
    )


@register(
    "scalar_array_pack",
    oracle="""
SELECT vec_id,
       CAST(len(embedding) AS INT) AS dim,
       embedding[1] AS first_val,
       -- + 0.0 normalizes the IEEE zero sign: rounding a tiny negative
       -- sum yields -0.0 on one engine and +0.0 on the other (caught by
       -- the r4 type-tagged comparator; a stringifying driver hash
       -- distinguishes "-0.0" from "0.0")
       ROUND(list_aggregate(embedding, 'sum'), 3) + 0.0 AS vsum,
       ROUND(CAST(list_aggregate(embedding, 'max') AS DOUBLE), 4) + 0.0 AS vmax,
       list_contains(embedding, 0.0) AS has_zero
FROM embeddings
""",
    tags=("scalar", "array"),
)
def scalar_array_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """size/element_at/aggregate(fold)/array_max/array_contains on the
    native ``array<float>`` embedding column (multimodal data model)."""
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(emb).alias("dim"),
        F.element_at(emb, 1).alias("first_val"),
        # + 0.0 on both sides: normalize -0.0 vs +0.0 (see oracle note)
        (
            F.round(F.aggregate(emb, F.lit(0.0), lambda acc, x: acc + x), 3)
            + F.lit(0.0)
        ).alias("vsum"),
        (F.round(F.array_max(emb).cast("double"), 4) + F.lit(0.0)).alias(
            "vmax"
        ),
        F.array_contains(emb, F.lit(0.0)).alias("has_zero"),
    )


@register(
    "scalar_json_pack",
    oracle="""
SELECT event_id,
       CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val,
       json_extract_string(props, '$.missing') AS missing_val
FROM events
""",
    tags=("scalar", "json"),
)
def scalar_json_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON path extraction over the events.props text column."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("long").alias("k_val"),
        F.get_json_object("props", "$.missing").alias("missing_val"),
    )


@register(
    "scalar_map_explode",
    oracle="""
SELECT n_nationkey, 'name' AS attr, n_name AS val FROM nation
UNION ALL
SELECT n_nationkey, 'region' AS attr, CAST(n_regionkey AS VARCHAR) AS val
FROM nation
""",
    tags=("scalar", "map"),
)
def scalar_map_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType construction + explode to attribute rows (the oracle
    builds the same rows relationally — DuckDB MAPs are not compared
    directly)."""
    n = load_table(spark, sf_dir, "nation")
    m = F.create_map(
        F.lit("name"),
        F.col("n_name"),
        F.lit("region"),
        F.col("n_regionkey").cast("string"),
    )
    return n.select(
        "n_nationkey", F.explode(m).alias("attr", "val")
    )


@register(
    "scalar_posexplode_words",
    oracle="""
SELECT p_partkey, CAST(pos AS INT) AS pos, word
FROM (
  SELECT p_partkey,
         unnest(range(len(words))) AS pos,
         unnest(words) AS word
  FROM (SELECT p_partkey, string_split(p_name, ' ') AS words FROM part)
)
""",
    tags=("scalar", "array", "explode"),
)
def scalar_posexplode_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """posexplode (UDTF-style fan-out) of tokenized part names."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.posexplode(F.split("p_name", " ")).alias("pos", "word"),
    )


@register(
    "scalar_higher_order_pack",
    oracle="""
SELECT vec_id,
       CAST(len(list_filter(embedding, x -> x > 0)) AS INT) AS n_pos,
       len(list_filter(embedding, x -> abs(x) >= 2.0)) > 0 AS any_big,
       len(list_filter(embedding, x -> abs(x) >= 1e6)) = 0 AS all_small,
       ROUND(list_aggregate(
         list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'sum'),
         3) AS l1_norm
FROM embeddings
""",
    tags=("scalar", "array", "higher-order"),
)
def scalar_higher_order_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array lambdas the array pack doesn't cover:
    ``filter`` (positive-element count), ``exists`` (any |x| ≥ 2),
    ``forall`` (all |x| < 1e6), and an abs-fold L1 norm — all
    codegen'd JVM expressions over the float vector, zero Python.
    Elements cast to double before the fold so both engines sum in
    the same precision; ROUND(,3) matches the established vector-sum
    discipline.
    """
    e = load_table(spark, sf_dir, "embeddings")
    emb = F.col("embedding")
    return e.select(
        "vec_id",
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_pos"),
        F.exists(emb, lambda x: F.abs(x) >= 2.0).alias("any_big"),
        F.forall(emb, lambda x: F.abs(x) < 1e6).alias("all_small"),
        F.round(
            F.aggregate(
                emb, F.lit(0.0), lambda acc, x: acc + F.abs(x.cast("double"))
            ),
            3,
        ).alias("l1_norm"),
    )


@register(
    "scalar_try_arithmetic",
    oracle="""
SELECT l_orderkey, l_linenumber,
       -- floor of the identical IEEE quotient, not ROUND: x/0.08 etc.
       -- can land exactly on a representable .xx5 (12.5x of a 2-decimal
       -- value) where engine rounding modes differ; floor of the same
       -- double is the same everywhere
       CASE WHEN l_discount = 0.0 THEN NULL
            ELSE CAST(floor(l_extendedprice / l_discount * 100) AS BIGINT)
       END AS price_per_disc_e2,
       TRY_CAST(l_returnflag AS INT) AS flag_as_int,
       TRY_CAST(CAST(CAST(l_quantity AS BIGINT) AS VARCHAR) AS INT)
         AS qty_as_int
FROM lineitem
WHERE l_linenumber = 1
""",
    tags=("scalar", "ansi", "error-handling"),
)
def scalar_try_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI-safe error handling: ``try_divide`` (NULL on zero divisor
    instead of ±Inf or an ANSI exception) and ``try_cast`` (NULL on
    malformed input — 'R' → NULL, '5.0' → 5) — the functions that keep
    a 100 TB job from dying at row 3 billion on one bad record. The
    oracle models try_divide with an explicit zero guard and uses
    DuckDB's native TRY_CAST; the float-string cast goes through an
    explicit VARCHAR render so both engines parse the same text.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter(F.col("l_linenumber") == 1).select(
        "l_orderkey",
        "l_linenumber",
        # floor-e2 of the identical IEEE quotient (see oracle comment);
        # try_divide yields NULL on zero divisor, floor propagates it
        F.floor(
            F.try_divide(F.col("l_extendedprice"), F.col("l_discount")) * 100
        ).alias("price_per_disc_e2"),
        F.col("l_returnflag").try_cast("int").alias("flag_as_int"),
        # integer render first: TRY_CAST('44.0' AS INT) parses in
        # DuckDB but is NULL in Spark — '44' parses identically in both
        F.col("l_quantity").cast("long").cast("string").try_cast("int")
        .alias("qty_as_int"),
    )
