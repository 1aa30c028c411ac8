"""Structured Streaming queries (SURVEY.md §2.3 "Streaming" / §7.2 M3).

Each query runs a REAL streaming plan (file replay → watermark →
stateful op → memory sink, drained to completion) and returns the final
table. Because the replay covers the whole dataset, tumbling/sliding/
session aggregations have exact batch equivalents — so they get full
DuckDB oracles, stronger than the usual rows-only streaming check.
Stateful ``applyInPandasWithState`` and streaming dedup are pinned the
same way.
"""

from __future__ import annotations

import os
import tempfile

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..catalog import load_table
from ..streaming.events_stream import events_stream, run_to_completion
from .registry import register


@register(
    "stream_tumbling_counts",
    oracle="""
SELECT strftime(time_bucket(INTERVAL 5 MINUTE, ts), '%Y-%m-%d %H:%M:%S')
         AS window_start,
       event_type,
       COUNT(*) AS n,
       ROUND(SUM(value), 2) AS total_value
FROM events
GROUP BY 1, 2
""",
    tags=("streaming", "window"),
)
def stream_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 5-minute windows per event type, with watermark.

    Complete-mode memory sink: after full replay the result equals the
    batch bucket aggregation, which is exactly what the oracle computes.
    """
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    out = run_to_completion(agg, spark, "complete")
    return out.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event_type",
        "n",
        "total_value",
    )


@register(
    "stream_sliding_avg",
    oracle="""
SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
       COUNT(*) AS n,
       -- integer-exact average scaled by 1e4: cents = the decimal-exact
       -- sum in integer cents, avg_e4 = (cents*100) DIV n. All-integer,
       -- so no engine can land on a float rounding boundary (found at
       -- sf0.1: round(sum,2)/16 = 44.01125, an exact round-4 tie that
       -- Spark HALF_UP and DuckDB break differently)
       CAST(ROUND(ROUND(SUM(value), 2) * 100, 0) AS BIGINT) * 100
         // COUNT(*) AS avg_e4
FROM (
  SELECT value,
         unnest([time_bucket(INTERVAL 5 MINUTE, ts),
                 time_bucket(INTERVAL 5 MINUTE, ts) - INTERVAL 5 MINUTE]) AS ws
  FROM events
)
GROUP BY 1
""",
    tags=("streaming", "window"),
)
def stream_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10 min, slide 5 min): each event lands in two
    windows; the oracle unrolls the same two bucket starts per event.

    Spark's ``div`` truncates toward zero while DuckDB's ``//`` floors;
    they agree only because every window's cents sum is non-negative —
    an invariant of the corpus (events.value >= 0) now audited by
    quality_constraint_audit's ``events_nonneg_value`` check."""
    ev = events_stream(spark, sf_dir)
    # integer-exact average: the 2-decimal window sum becomes integer
    # cents (round-then-cast — double→long CAST truncates in Spark and
    # rounds in DuckDB, so round first), and avg×1e4 is (cents*100) div
    # n — all-integer, immune to the float rounding-boundary ties that
    # round(sum,2)/n hits when n divides a power of 10 (observed at
    # sf0.1 with n=16: an exact .00005 boundary broken differently by
    # the two engines)
    cents = F.round(F.round(F.sum("value"), 2) * 100, 0).cast("long")
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "10 minutes", "5 minutes"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (cents * 100).alias("_c100"),
        )
    )
    out = run_to_completion(agg, spark, "complete")
    return out.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n",
        F.expr("_c100 div n").alias("avg_e4"),
    )


@register(
    "stream_session_windows",
    oracle="""
WITH g AS (
  SELECT user_id, event_id, ts, epoch_us(ts) AS us,
         CASE WHEN LAG(epoch_us(ts)) OVER w IS NULL
                OR epoch_us(ts) - LAG(epoch_us(ts)) OVER w > 1800000000
              THEN 1 ELSE 0 END AS new_sess
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
),
s AS (
  SELECT user_id, us,
         -- same (us, event_id) order as window w: under identical-µs
         -- ties an us-only sort could place a session-opening row after
         -- its successor and flip MIN(us)/COUNT nondeterministically
         SUM(new_sess) OVER (
           PARTITION BY user_id ORDER BY us, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) AS sess_id
  FROM g
)
SELECT user_id, MIN(us) AS session_start_us, COUNT(*) AS n_events
FROM s
GROUP BY user_id, sess_id
""",
    tags=("streaming", "session", "custom-operator"),
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming ``session_window`` (30-minute gap) per user.

    The oracle is batch sessionization (lag-gap-cumsum) — the streaming
    state machine must merge to exactly those sessions after full
    replay; session start compared as integer microseconds.
    """
    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "30 minutes")
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    out = run_to_completion(agg, spark, "complete")
    return out.select(
        "user_id",
        F.unix_micros("session_window.start").alias("session_start_us"),
        "n_events",
    )


@register(
    "stream_dedup_user_type",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
    tags=("streaming", "dedup"),
)
def stream_dedup_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dropDuplicates on (user_id, event_type): first-seen
    emission; after full replay the kept set equals batch DISTINCT."""
    ev = events_stream(spark, sf_dir)
    dedup = ev.select("user_id", "event_type").dropDuplicates(
        ["user_id", "event_type"]
    )
    return run_to_completion(dedup, spark, "append")


def stateful_user_totals(stream_df: DataFrame) -> DataFrame:
    """Per-user running (count, sum) state over any (user_id, value)
    stream — the arbitrary-state escape hatch built-in aggregations
    don't need, exercised so the stateful surface (state schema, Arrow
    batches, update semantics) is tested end-to-end."""

    def update(key, pdf_iter, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdf_iter:
            n += len(pdf)
            total += float(pdf["value"].fillna(0.0).sum())
        state.update((n, total))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2)],
            }
        )

    return (
        stream_df.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType="user_id long, n_events long, total_value double",
            stateStructType="n long, total double",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def last_update_per_user(sink_df: DataFrame) -> DataFrame:
    """Collapse an update-mode memory sink to the final state per user.

    The sink appends every micro-batch's updated rows; with a
    multi-file source (several micro-batches) a user appears once per
    batch that touched it. n_events is strictly increasing per user,
    so max_by picks the last update regardless of batching.
    """
    return sink_df.groupBy("user_id").agg(
        F.max("n_events").alias("n_events"),
        F.max_by("total_value", "n_events").alias("total_value"),
    )


@register(
    "stream_stateful_user_totals",
    oracle="""
SELECT user_id,
       COUNT(*) AS n_events,
       ROUND(SUM(COALESCE(value, 0.0)), 2) AS total_value
FROM events
GROUP BY user_id
""",
    tags=("streaming", "stateful", "custom-operator"),
)
def stream_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``:
    per-user running (count, sum) state, update-mode emission; after
    full replay the final state per user equals the batch aggregate
    (multi-batch replay covered by
    ``tests/test_contract.py::test_stateful_totals_multibatch``).
    """
    ev = events_stream(spark, sf_dir)
    out = run_to_completion(stateful_user_totals(ev), spark, "update")
    return last_update_per_user(out)


@register(
    "stream_static_join_enrich",
    oracle="""
SELECT c_mktsegment AS segment,
       COUNT(*) AS n_events,
       ROUND(SUM(value), 2) AS total_value
FROM events
JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
""",
    tags=("streaming", "join"),
)
def stream_static_join_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static join: the event stream enriched with the static
    customer dimension mid-flight, then aggregated.

    The standard streaming-ETL enrichment shape — the static side is
    re-planned per micro-batch (broadcast at this size; shuffled-hash
    at 100 TB dim scale). After full replay the result equals the batch
    join+agg, which is the oracle.
    """
    ev = events_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    agg = (
        ev.join(customer, ev.user_id == customer.c_custkey)
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )
    return run_to_completion(agg, spark, "complete")


@register(
    "stream_stream_interval_join",
    oracle="""
SELECT e.event_id AS error_id, p.event_id AS purchase_id
FROM (SELECT * FROM events WHERE event_type = 'error') e
JOIN (SELECT * FROM events WHERE event_type = 'purchase') p
  ON e.user_id = p.user_id
 AND epoch_us(p.ts) BETWEEN epoch_us(e.ts) - 1800000000 AND epoch_us(e.ts)
""",
    tags=("streaming", "join", "custom-operator"),
)
def stream_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join: each error matched to the same
    user's purchases in the preceding 30 minutes.

    Both sides are streams with watermarks; the time-interval condition
    bounds the join state so Spark can evict buffered rows — THE
    requirement for unbounded-stream joins at scale. After full replay
    the inner join equals the batch interval join (the oracle).
    """
    ev = events_stream(spark, sf_dir)
    errors = (
        ev.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("error_id"),
            F.col("user_id").alias("e_user"),
            F.col("ts").alias("e_ts"),
        )
        .withWatermark("e_ts", "1 hour")
    )
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
        )
        .withWatermark("p_ts", "1 hour")
    )
    joined = errors.join(
        purchases,
        (F.col("e_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("e_ts") - F.expr("INTERVAL 30 MINUTES"))
        & (F.col("p_ts") <= F.col("e_ts")),
    ).select("error_id", "purchase_id")
    return run_to_completion(joined, spark, "append")


@register(
    "stream_foreachbatch_upsert",
    oracle="""
SELECT user_id, COUNT(*) AS n_events, MAX(event_id) AS max_event_id
FROM events
GROUP BY user_id
""",
    tags=("streaming", "sink", "custom-operator"),
)
def stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``foreachBatch`` keyed-upsert sink — the MERGE-into-target loop
    used when the sink has no native merge (JDBC, plain parquet).

    The event replay is re-staged into 4 files and streamed one file
    per micro-batch, so the upsert genuinely runs several times; each
    batch's per-user (count, max) deltas full-outer-merge into a
    versioned parquet target. After the last batch the target equals
    the batch aggregate (the oracle) no matter how rows were split.
    At scale the target would be a lakehouse table with real MERGE; the
    batch-id versioning shown here is also the idempotence story —
    reprocessing a batch rewrites the same version instead of
    double-counting.
    """
    tmp = tempfile.mkdtemp(prefix="mrcs_fb_")
    src_dir = os.path.join(tmp, "src")
    load_table(spark, sf_dir, "events").select(
        "event_id", "user_id"
    ).repartition(4).write.parquet(src_dir)

    stream = (
        spark.readStream.schema("event_id long, user_id long")
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    state_base = os.path.join(tmp, "state")
    latest: dict[str, str | None] = {"v": None}

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        sess = batch_df.sparkSession
        delta = batch_df.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.max("event_id").alias("max_event_id"),
        )
        if latest["v"] is None:
            merged = delta
        else:
            prev = sess.read.parquet(latest["v"])
            d = delta.select(
                F.col("user_id").alias("d_user"),
                F.col("n_events").alias("d_n"),
                F.col("max_event_id").alias("d_max"),
            )
            merged = prev.join(
                d, prev.user_id == d.d_user, "full_outer"
            ).select(
                F.coalesce(prev.user_id, d.d_user).alias("user_id"),
                (
                    F.coalesce(prev.n_events, F.lit(0))
                    + F.coalesce(d.d_n, F.lit(0))
                ).cast("long").alias("n_events"),
                F.greatest(prev.max_event_id, d.d_max).alias("max_event_id"),
            )
        new_v = os.path.join(state_base, f"v{batch_id}")
        merged.write.mode("overwrite").parquet(new_v)
        latest["v"] = new_v

    q = stream.writeStream.foreachBatch(upsert).start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    assert latest["v"] is not None, "no micro-batch ran"
    return spark.read.parquet(latest["v"])


@register(
    "stream_dedup_within_watermark",
    oracle="""
SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us
FROM events
""",
    tags=("streaming", "dedup"),
)
def stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dropDuplicatesWithinWatermark`` on event_id: duplicate-arrival
    protection whose state EVICTS as the watermark advances — unlike
    plain streaming dropDuplicates, whose key set grows forever. The
    right dedup for at-least-once sources at 100 TB/day, where a
    duplicate can only arrive within the delivery-delay bound.

    event_id is unique in the corpus, so after full replay the output
    is exactly the input (the oracle) while the plan still runs the
    bounded-state dedup operator.
    """
    ev = events_stream(spark, sf_dir)
    dedup = (
        ev.withWatermark("ts", "30 minutes")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select(
            "event_id",
            "user_id",
            "event_type",
            F.unix_micros("ts").alias("ts_us"),
        )
    )
    return run_to_completion(dedup, spark, "append")


@register(
    "stream_windowed_topk",
    oracle="""
SELECT window_start, event_type, n
FROM (
  SELECT strftime(time_bucket(INTERVAL 15 MINUTE, ts),
                  '%Y-%m-%d %H:%M:%S') AS window_start,
         event_type, COUNT(*) AS n,
         ROW_NUMBER() OVER (
           PARTITION BY time_bucket(INTERVAL 15 MINUTE, ts)
           ORDER BY COUNT(*) DESC, event_type) AS rn
  FROM events
  GROUP BY time_bucket(INTERVAL 15 MINUTE, ts), event_type
)
WHERE rn <= 2
""",
    tags=("streaming", "window", "topk", "custom-operator"),
)
def stream_windowed_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-2 event types per 15-minute tumbling window. Ranking is not
    a streaming-supported operator (it needs the whole window's counts),
    so this is the production two-layer shape: the STREAM maintains the
    windowed counts incrementally (watermarked state, complete-mode
    sink); the RANK runs as a batch window function over the
    materialized counts — exactly what a dashboard query does over a
    streaming-maintained aggregate table. Deterministic event_type
    tiebreak on the rank boundary.
    """
    from pyspark.sql import Window

    ev = events_stream(spark, sf_dir)
    agg = (
        ev.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "15 minutes"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    counts = run_to_completion(agg, spark, "complete")
    w = Window.partitionBy("window").orderBy(
        F.col("n").desc(), F.col("event_type")
    )
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n",
        )
    )
