"""Event-analytics queries over ``events`` (funnel + cohort retention)
— the product-analytics staples every clickstream warehouse runs.

Timestamp discipline: events.parquet is TIMESTAMP(NANOS); the catalog
loader floors Spark to microseconds while DuckDB keeps nanoseconds, so
EVERY comparison here happens on integer microseconds (`unix_micros` /
`epoch_us`) — never on raw timestamps — and every output is an integer
count. Nothing to round, nothing engine-specific.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..catalog import load_table
from .registry import register

_7D_US = 7 * 86_400 * 1_000_000
_DAY0 = 19_723  # epoch day of 2024-01-01, the corpus start


_FUNNEL_ORACLE = f"""
WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS tv
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, v.tv, MIN(epoch_us(e.ts)) AS tc
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click' AND epoch_us(e.ts) > v.tv
  GROUP BY e.user_id, v.tv
),
p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS tp
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > c.tc
    AND epoch_us(e.ts) - c.tv <= {_7D_US}
  GROUP BY e.user_id
)
SELECT COUNT(v.tv) AS n_view_users,
       COUNT(c.tc) AS n_click_after,
       COUNT(p.tp) AS n_purchase_within_7d
FROM v
LEFT JOIN c ON c.user_id = v.user_id
LEFT JOIN p ON p.user_id = v.user_id
"""


@register(
    "events_funnel_view_click_purchase",
    oracle=_FUNNEL_ORACLE,
    tags=("events", "funnel", "join", "custom-operator"),
)
def events_funnel_view_click_purchase(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ordered conversion funnel: first view → first click AFTER that
    view → first purchase AFTER that click, purchase within 7 days of
    the view. One row of stage counts.

    Each stage is a grouped min over a stage-filtered, time-gated join
    against the previous stage's anchor — the decorrelated form of the
    sequential EXISTS chain. All shuffles key on user_id, so at 100 TB
    the three stages co-partition (one real exchange, reused), and the
    stage filters push into the scan.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("tv"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", us.alias("cu"))
        .join(v, "user_id")
        .filter(F.col("cu") > F.col("tv"))
        .groupBy("user_id", "tv")
        .agg(F.min("cu").alias("tc"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("pu"))
        .join(c, "user_id")
        .filter(
            (F.col("pu") > F.col("tc"))
            & (F.col("pu") - F.col("tv") <= F.lit(_7D_US))
        )
        .groupBy("user_id")
        .agg(F.min("pu").alias("tp"))
    )
    return (
        v.join(c.select("user_id", "tc"), "user_id", "left")
        .join(p, "user_id", "left")
        .agg(
            F.count("tv").alias("n_view_users"),
            F.count("tc").alias("n_click_after"),
            F.count("tp").alias("n_purchase_within_7d"),
        )
    )


_COHORT_ORACLE = f"""
WITH w AS (
  SELECT user_id,
         CAST(floor((epoch_us(ts) / 86400000000.0 - {_DAY0}) / 7.0)
              AS BIGINT) AS wk
  FROM events
),
cohort AS (SELECT user_id, MIN(wk) AS cohort_wk FROM w GROUP BY user_id)
SELECT c.cohort_wk, w.wk - c.cohort_wk AS week_offset,
       COUNT(DISTINCT w.user_id) AS n_users
FROM w JOIN cohort c ON c.user_id = w.user_id
GROUP BY c.cohort_wk, week_offset
"""


@register(
    "events_cohort_retention",
    oracle=_COHORT_ORACLE,
    tags=("events", "cohort", "aggregate", "custom-operator"),
)
def events_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention triangle: users grouped by first-activity week,
    counted distinct in each later week, keyed (cohort_week, offset).

    Weeks are integer arithmetic on epoch days from a fixed corpus
    anchor — not calendar `date_trunc('week')`, whose week-start
    convention is an engine setting and a silent cross-engine trap.
    Two user-keyed aggregations plus one distinct count; every value
    an exact integer.
    """
    ev = load_table(spark, sf_dir, "events")
    wk = F.floor(
        (F.unix_micros(F.col("ts")) / F.lit(86_400_000_000.0) - _DAY0)
        / F.lit(7.0)
    ).cast("long")
    w = ev.select("user_id", wk.alias("wk"))
    cohort = w.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    return (
        w.join(cohort, "user_id")
        .groupBy(
            "cohort_wk", (F.col("wk") - F.col("cohort_wk")).alias("week_offset")
        )
        .agg(F.countDistinct("user_id").alias("n_users"))
    )


_TTC_ORACLE = """
WITH v AS (
  SELECT user_id, MIN(epoch_us(ts)) AS tv
  FROM events WHERE event_type = 'view' GROUP BY user_id
),
p AS (
  SELECT e.user_id, MIN(epoch_us(e.ts)) AS tp
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > v.tv
  GROUP BY e.user_id
),
d AS (
  -- floor, not CAST: DuckDB's double->BIGINT cast ROUNDS while
  -- Spark's truncates — x.999999 delays split the engines otherwise
  SELECT p.user_id,
         CAST(floor((p.tp - v.tv) / 1000000.0) AS BIGINT) AS delay_s
  FROM p JOIN v ON v.user_id = p.user_id
)
SELECT COUNT(*) AS n_converted,
       CAST(MIN(delay_s) AS BIGINT) AS min_s,
       ROUND(quantile_cont(delay_s, 0.5), 4) AS p50_s,
       ROUND(quantile_cont(delay_s, 0.9), 4) AS p90_s,
       CAST(MAX(delay_s) AS BIGINT) AS max_s
FROM d
"""


@register(
    "events_time_to_convert",
    oracle=_TTC_ORACLE,
    tags=("events", "funnel", "aggregate"),
)
def events_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert distribution: per user, seconds from first view
    to first subsequent purchase; min/median/p90/max over converters.

    Delays are INTEGER seconds (µs difference floored by integer
    division). Interpolated percentiles still need ROUND(…,4) on both
    sides: DuckDB's quantile_cont computes a+(b-a)·f in floats (p90 of
    integers came out …4.49999999994 in testing) while Spark's
    percentile() lands exact; the true values are multiples of 0.1,
    so 4-decimal rounding absorbs the artifact and cannot tie.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    v = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(us).alias("tv"))
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("user_id", us.alias("pu"))
        .join(v, "user_id")
        .filter(F.col("pu") > F.col("tv"))
        .groupBy("user_id", "tv")
        .agg(F.min("pu").alias("tp"))
    )
    d = p.select(
        F.floor((F.col("tp") - F.col("tv")) / F.lit(1_000_000.0))
        .cast("long")
        .alias("delay_s")
    )
    return d.agg(
        F.count(F.lit(1)).alias("n_converted"),
        F.min("delay_s").alias("min_s"),
        F.round(F.expr("percentile(delay_s, 0.5)"), 4).alias("p50_s"),
        F.round(F.expr("percentile(delay_s, 0.9)"), 4).alias("p90_s"),
        F.max("delay_s").alias("max_s"),
    )


_TRANSITION_ORACLE = """
WITH seq AS (
  SELECT user_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id
                               ORDER BY epoch_us(ts), event_id) AS prev_type
  FROM events
)
SELECT prev_type AS from_type, event_type AS to_type,
       COUNT(*) AS n_transitions
FROM seq WHERE prev_type IS NOT NULL
GROUP BY from_type, to_type
"""


@register(
    "events_transition_matrix",
    oracle=_TRANSITION_ORACLE,
    tags=("events", "window", "aggregate"),
)
def events_transition_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (clickstream path analysis): for
    each user's time-ordered event sequence, count from→to adjacent
    pairs — the Markov-chain estimation behind "what happens after a
    view". One lag window per user plus a two-phase count; ordering
    ties on identical microseconds break on event_id on BOTH engines
    (the events table carries nanos the engines floor differently —
    integer-µs + id ordering is the only stable sequence).
    """
    ev = load_table(spark, sf_dir, "events")
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(
        F.unix_micros(F.col("ts")), F.col("event_id")
    )
    seq = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    )
    return (
        seq.filter(F.col("prev_type").isNotNull())
        .groupBy(
            F.col("prev_type").alias("from_type"),
            F.col("event_type").alias("to_type"),
        )
        .agg(F.count(F.lit(1)).alias("n_transitions"))
    )


_WAU_ORACLE = f"""
WITH ud AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch_us(ts) / 86400000000.0) AS BIGINT) - {_DAY0} AS day
  FROM events
),
contrib AS (
  SELECT user_id, ud.day + o.o AS obs_day
  FROM ud CROSS JOIN (SELECT unnest(range(0, 7)) AS o) o
),
days AS (SELECT DISTINCT day AS obs_day FROM ud)
SELECT d.obs_day,
       COUNT(DISTINCT c.user_id) AS wau
FROM days d JOIN contrib c ON c.obs_day = d.obs_day
GROUP BY d.obs_day
"""


@register(
    "events_rolling_wau",
    oracle=_WAU_ORACLE,
    tags=("events", "window", "aggregate", "custom-operator"),
)
def events_rolling_wau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day active users per observed day (WAU): each
    (user, active-day) pair is expanded to the 7 observation days it
    contributes to, then counted distinct per day — the scale-correct
    sliding-distinct shape. A RANGE window cannot compute sliding
    COUNT(DISTINCT); the 7× row expansion keeps the distinct a plain
    two-phase aggregate that AQE can partition freely, and the
    expansion factor is the window length, not the data size. Days
    are anchored integers (no calendar truncation).
    """
    ev = load_table(spark, sf_dir, "events")
    day = (
        F.floor(F.unix_micros(F.col("ts")) / F.lit(86_400_000_000.0)).cast(
            "long"
        )
        - _DAY0
    )
    ud = ev.select("user_id", day.alias("day")).distinct()
    contrib = ud.select(
        "user_id",
        F.explode(
            F.sequence(F.col("day"), F.col("day") + F.lit(6))
        ).alias("obs_day"),
    )
    days = ud.select(F.col("day").alias("obs_day")).distinct()
    return (
        days.join(contrib, "obs_day")
        .groupBy("obs_day")
        .agg(F.countDistinct("user_id").alias("wau"))
    )


@register(
    "events_longest_streak",
    oracle="""
WITH days AS (
  SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
),
isl AS (
  SELECT user_id, d,
         d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d)
                  AS INT) AS island
  FROM days
),
streaks AS (
  SELECT user_id, island, COUNT(*) AS streak_len,
         strftime(MIN(d), '%Y-%m-%d') AS streak_start
  FROM isl GROUP BY user_id, island
)
SELECT user_id, streak_len, streak_start
FROM (
  SELECT user_id, streak_len, streak_start,
         ROW_NUMBER() OVER (PARTITION BY user_id
                            ORDER BY streak_len DESC, streak_start) AS rn
  FROM streaks
)
WHERE rn = 1
""",
    tags=("events", "window", "gaps-islands"),
)
def events_longest_streak(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's longest run of CONSECUTIVE active
    days — the classic streak query (date minus row_number is constant
    within an island). Distinct-days first, so the island key never
    sees intra-day duplicates; earliest streak wins length ties. Two
    window passes over the same user_id partitioning — Catalyst reuses
    one shuffle for both.
    """
    from pyspark.sql import Window as W

    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.col("ts").cast("date").alias("d")
    ).distinct()
    rn = F.row_number().over(W.partitionBy("user_id").orderBy("d"))
    isl = days.withColumn(
        "island", F.date_sub(F.col("d"), rn)
    )
    streaks = isl.groupBy("user_id", "island").agg(
        F.count(F.lit(1)).alias("streak_len"),
        F.date_format(F.min("d"), "yyyy-MM-dd").alias("streak_start"),
    )
    pick = F.row_number().over(
        W.partitionBy("user_id").orderBy(
            F.col("streak_len").desc(), F.col("streak_start")
        )
    )
    return (
        streaks.withColumn("rn", pick)
        .filter(F.col("rn") == 1)
        .select("user_id", "streak_len", "streak_start")
    )


_ROLLUP_ORACLE = """
SELECT CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day_id,
       COUNT(*) AS n_events,
       CAST(SUM(CAST(ROUND(COALESCE(value, 0.0) * 100) AS BIGINT))
            AS BIGINT) AS value_cents
FROM events
GROUP BY 1
"""


@register(
    "events_rollup_cascade",
    oracle=_ROLLUP_ORACLE,
    tags=("events", "aggregate", "rollup", "custom-operator"),
)
def events_rollup_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous-aggregate cascade: raw events roll
    up to minute grain, hours roll up FROM the minute aggregate, days
    FROM the hourly — the raw table is scanned exactly once and each
    coarser grain reads only the previous (already tiny) grain.

    That reuse is the 100 TB point: a day of 100 TB clickstream has
    ~1440 minute rows per key — re-scanning raw events per grain
    (the naive GROUP BY per dashboard zoom level) costs three full
    scans where this cascade costs one plus two trivial aggregations;
    materialized, it is the TimescaleDB/Druid rollup hierarchy. The
    oracle aggregates raw→day DIRECTLY, proving the cascade is
    lossless (counts and integer cents are associative). Integer
    microsecond ids throughout (module discipline); DIV chains agree
    with a direct day DIV because all epochs are positive.
    """
    ev = load_table(spark, sf_dir, "events")
    cents = (
        F.round(F.coalesce(F.col("value"), F.lit(0.0)) * 100)
        .cast("bigint")
        .alias("cents")
    )
    base = ev.select(
        F.expr("unix_micros(ts) DIV 60000000").alias("min_id"), cents
    )
    minute = base.groupBy("min_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("value_cents"),
    )
    hourly = (
        minute.withColumn("hour_id", F.expr("min_id DIV 60"))
        .groupBy("hour_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_cents").alias("value_cents"),
        )
    )
    return (
        hourly.withColumn("day_id", F.expr("hour_id DIV 24"))
        .groupBy("day_id")
        .agg(
            F.sum("n_events").alias("n_events"),
            F.sum("value_cents").alias("value_cents"),
        )
    )


# Episode gap for the composed attribution pipeline: 1 DAY, not the
# 30-minute clickstream default — this corpus's per-user event cadence
# is ~5 days (sessionize_events measures 1.09 events per 30-min
# session), so a real-time gap degenerates the in-session funnel to
# zero conversions and a week-plus gap collapses every user into one
# all-converting session. One day keeps all three funnel branches
# populated at every test SF (sf0.01: 1214 sessions / 288 converted /
# 679 attributed purchases). The gap is the one tunable; production
# clickstream would set 30 min without touching the plan.
_SESSION_GAP_US = 86_400_000_000

_ATTRIBUTION_ORACLE = """
WITH b AS (
  SELECT user_id, event_id, event_type, value, epoch_us(ts) AS us
  FROM events
),
g AS (
  SELECT *, CASE WHEN LAG(us) OVER w IS NULL
                   OR us - LAG(us) OVER w > 86400000000
                 THEN 1 ELSE 0 END AS new_sess
  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)
),
s AS (
  SELECT *, SUM(new_sess) OVER (
    PARTITION BY user_id ORDER BY us, event_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
  FROM g
),
v AS (
  SELECT *, MIN(CASE WHEN event_type = 'view' THEN us END)
              OVER (PARTITION BY user_id, sess_id) AS tv
  FROM s
),
c AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND us > tv THEN us END)
              OVER (PARTITION BY user_id, sess_id) AS tc
  FROM v
),
f AS (
  SELECT *,
    MIN(CASE WHEN event_type = 'purchase' AND us > tc THEN us END)
      OVER (PARTITION BY user_id, sess_id) AS tp,
    ROW_NUMBER() OVER (PARTITION BY user_id, sess_id
                       ORDER BY us, event_id) AS rn,
    FIRST_VALUE(event_type) OVER (PARTITION BY user_id, sess_id
                                  ORDER BY us, event_id) AS channel
  FROM c
)
SELECT channel,
       COUNT(CASE WHEN rn = 1 THEN 1 END) AS n_sessions,
       COUNT(CASE WHEN rn = 1 AND tp IS NOT NULL THEN 1 END)
         AS n_converted,
       CAST(SUM(CASE WHEN event_type = 'purchase' AND us > tc
                     THEN CAST(ROUND(value * 100) AS BIGINT)
                     ELSE 0 END) AS DOUBLE) / 100.0 AS attributed_revenue
FROM f GROUP BY channel
"""


@register(
    "events_session_funnel_attribution",
    oracle=_ATTRIBUTION_ORACLE,
    tags=("events", "session", "funnel", "attribution", "window",
          "custom-operator"),
)
def events_session_funnel_attribution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Composed clickstream pipeline (VERDICT.md r6 next-round #6):
    sessionize → in-session funnel → first-touch attribution, the
    ``curation_cluster_keep_best`` discipline applied to the events
    domain — several already-green mechanisms chained under ONE
    composed DuckDB oracle.

    Stages: (1) gap sessionization (lag → gap flag → cumulative sum,
    exactly ``sessionize_events``; 1-day episode gap — see
    _SESSION_GAP_US above for the corpus-cadence rationale); (2) within each
    SESSION the ordered funnel first view → first click after it →
    first purchase after that (the ``events_funnel`` chain, rescoped
    from user-lifetime to session via conditional window mins — no
    joins needed because the session IS the partition); (3) first-touch
    attribution: each converted session's post-click purchase revenue
    is credited to the session's FIRST event type. Output: per channel,
    sessions / converted sessions / attributed revenue.

    Shuffle story (PLANS.md shows the plan): ONE data exchange total —
    hashpartitioning(user_id) satisfies the ClusteredDistribution of
    every later (user_id, sess_id) window too, so all five window
    groups run as in-partition sorts over the same exchange — then the
    final ≤5-group agg exchange on channel. At 100 TB this is one
    user-keyed shuffle plus per-partition sorts, no driver state, no
    iteration.

    Determinism: integer microseconds everywhere (the events.py
    timestamp discipline), (us, event_id) as the total order, and
    revenue summed as exact integer CENTS (value has exactly 2
    decimals; events_rollup_cascade discipline) so the double appears
    only in the final cast — nothing association-order-dependent.
    """
    ev = load_table(spark, sf_dir, "events")
    base = ev.select(
        "user_id", "event_id", "event_type", "value",
        F.unix_micros("ts").alias("us"),
    )
    w = W.partitionBy("user_id").orderBy("us", "event_id")
    gap = F.col("us") - F.lag("us").over(w)
    sess = base.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > _SESSION_GAP_US), F.lit(1))
        .otherwise(F.lit(0)),
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ),
    )
    ws = W.partitionBy("user_id", "sess_id")
    ws_ord = ws.orderBy("us", "event_id")
    is_type = lambda t: F.col("event_type") == t  # noqa: E731
    staged = (
        sess.withColumn(
            "tv", F.min(F.when(is_type("view"), F.col("us"))).over(ws)
        )
        .withColumn(
            "tc",
            F.min(
                F.when(is_type("click") & (F.col("us") > F.col("tv")),
                       F.col("us"))
            ).over(ws),
        )
        .withColumn(
            "tp",
            F.min(
                F.when(is_type("purchase") & (F.col("us") > F.col("tc")),
                       F.col("us"))
            ).over(ws),
        )
        .withColumn("rn", F.row_number().over(ws_ord))
        .withColumn("channel", F.first("event_type").over(ws_ord))
    )
    attributed_cents = F.when(
        is_type("purchase") & (F.col("us") > F.col("tc")),
        F.round(F.col("value") * 100).cast("bigint"),
    ).otherwise(F.lit(0).cast("bigint"))
    return staged.groupBy("channel").agg(
        F.count(F.when(F.col("rn") == 1, F.lit(1))).alias("n_sessions"),
        F.count(
            F.when((F.col("rn") == 1) & F.col("tp").isNotNull(), F.lit(1))
        ).alias("n_converted"),
        (F.sum(attributed_cents).cast("double") / F.lit(100.0)).alias(
            "attributed_revenue"
        ),
    )
