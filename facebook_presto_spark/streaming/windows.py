"""Windowed event aggregation: tumbling / sliding / session, batch + stream.

Batch forms are oracle-checked (DuckDB time_bucket / gaps-and-islands);
streaming forms run the *same* expressions over readStream and are asserted
equal to batch in tests/test_streaming.py — Structured Streaming's
correctness contract (incremental execution of a deterministic batch plan).

Scale notes:
- tumbling/sliding are single shuffles on (window, key); watermarks bound
  state so a 100 TB/day stream holds only the open windows per key.
- session windows use Spark's session_window merge state; the batch oracle
  is the classic gaps-and-islands construction (lag + running flag sum) —
  same semantics, two very different execution strategies.
- `value` money sums use the integer-cents device (see plans/tpch.py).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T

from facebook_presto_spark.catalog import events_table
from facebook_presto_spark.plans.tpch import cents
from facebook_presto_spark.staging import SCRATCH

GAP = "1 hour"  # session gap; ~15% of the driver's inter-event gaps are <1h


def tumbling_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-day windows per event_type."""
    ev = events_table(spark, sf_dir)
    return (
        ev.groupBy(
            F.window("ts", "1 day").start.alias("window_start"), "event_type"
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents("value")) / 100.0).alias("total_value"),
            F.countDistinct("user_id").alias("users"),
        )
    )


TUMBLING_SQL = """
SELECT time_bucket(INTERVAL 1 DAY, ts) AS window_start, event_type,
       count(*) AS n,
       sum(CAST(round(value*100) AS BIGINT))/100.0 AS total_value,
       count(DISTINCT user_id) AS users
FROM events
GROUP BY 1, 2
"""


def sliding_6h_3h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 6-hour windows every 3 hours — each event lands in 2 windows."""
    ev = events_table(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "6 hours", "3 hours").start.alias("window_start"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents("value")) / 100.0).alias("total_value"),
        )
    )


SLIDING_SQL = """
WITH assigned AS (
  SELECT time_bucket(INTERVAL 3 HOUR, ts) AS ws, value FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL 3 HOUR, ts) - INTERVAL 3 HOUR AS ws, value FROM events
)
SELECT ws AS window_start, count(*) AS n,
       sum(CAST(round(value*100) AS BIGINT))/100.0 AS total_value
FROM assigned
GROUP BY 1
"""


def session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user sessions with a 1-hour inactivity gap."""
    ev = events_table(spark, sf_dir)
    return (
        ev.groupBy(F.session_window("ts", GAP), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents("value")) / 100.0).alias("session_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").alias("session_start"),
            "n_events",
            "session_value",
        )
    )


SESSION_SQL = """
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN ts - lag(ts) OVER w > INTERVAL 1 HOUR
                OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
), s AS (
  SELECT user_id, ts, value,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
  FROM g
)
SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
       sum(CAST(round(value*100) AS BIGINT))/100.0 AS session_value
FROM s
GROUP BY user_id, session_id
"""


def hourly_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling hour × event_type matrix via conditional aggregation (the
    PIVOT shape without engine-specific pivot syntax)."""
    ev = events_table(spark, sf_dir)
    agg = [
        F.count(F.when(F.col("event_type") == t, 1)).alias(f"n_{t}")
        for t in ("click", "view", "purchase", "signup", "error")
    ]
    return ev.groupBy(F.window("ts", "1 hour").start.alias("hour_start")).agg(*agg)


HOURLY_PIVOT_SQL = """
SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour_start,
       count(*) FILTER (WHERE event_type = 'click') AS n_click,
       count(*) FILTER (WHERE event_type = 'view') AS n_view,
       count(*) FILTER (WHERE event_type = 'purchase') AS n_purchase,
       count(*) FILTER (WHERE event_type = 'signup') AS n_signup,
       count(*) FILTER (WHERE event_type = 'error') AS n_error
FROM events
GROUP BY 1
"""


# --------------------------------------------------------------------------
# Streaming mirrors — same transformations over readStream.
# --------------------------------------------------------------------------

EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampNTZType()),  # parquet TIMESTAMP(NANOS), micro-truncated
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """events as an unbounded source (file stream over the same parquet).

    FileStreamSource requires a *directory* (new files arriving = new
    micro-batches), while the driver ships a single file — stage a symlink
    directory.  In production this is the landing directory / Kafka topic.

    The declared schema reads the parquet TIMESTAMP(NANOS) column directly
    as TIMESTAMP_NTZ (micro-truncated by the reader, matching DuckDB and
    the batch `events_table` path exactly).  Structured Streaming's event
    time — `withWatermark` — only accepts TIMESTAMP, so the stream carries
    an LTZ cast of it; under the engine's fixed UTC session zone the cast
    is value-preserving, keeping stream results row-identical to their
    zone-less batch twins.
    """
    import hashlib

    src = os.path.join(sf_dir, "events.parquet")
    stage = os.path.join(
        SCRATCH, "stream", hashlib.md5(src.encode()).hexdigest()[:12]
    )
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    if not os.path.exists(link):
        os.symlink(src, link)
    raw = spark.readStream.schema(EVENTS_RAW_SCHEMA).parquet(stage)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def stream_tumbling_daily(spark: SparkSession, sf_dir: str, watermark: str = "1 day") -> DataFrame:
    """Streaming form of tumbling_daily with late-data watermark: state for
    a day-window is dropped once the watermark passes its end — bounded
    state on an unbounded stream."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", watermark)
    return (
        ev.groupBy(F.window("ts", "1 day").start.alias("window_start"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            (F.sum(cents("value")) / 100.0).alias("total_value"),
        )
    )


def dedup_first_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of streaming dedup: one row per (user_id, event_type)
    with first timestamp and duplicate count — the deterministic form of
    ``dropDuplicates`` (which keeps an arbitrary member per key)."""
    ev = events_table(spark, sf_dir)
    return ev.groupBy("user_id", "event_type").agg(
        F.min("ts").alias("first_ts"),
        F.count(F.lit(1)).alias("n_dups"),
    )


DEDUP_FIRST_SQL = """
SELECT user_id, event_type, min(ts) AS first_ts, count(*) AS n_dups
FROM events GROUP BY user_id, event_type
"""


def stream_dedup(spark: SparkSession, sf_dir: str, watermark: str = "1 day") -> DataFrame:
    """Streaming exact dedup: ``dropDuplicatesWithinWatermark`` keeps one
    row per (user_id, event_type), expiring key state once the watermark
    passes — bounded state on an unbounded stream (the streaming form of
    dedup_exact; at 100 TB the key is the content hash)."""
    ev = events_stream(spark, sf_dir).withWatermark("ts", watermark)
    return ev.dropDuplicatesWithinWatermark(["user_id", "event_type"])


def run_stream_to_memory(df: DataFrame, name: str) -> None:
    """Drain an availableNow stream into a memory sink (test harness)."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()


def funnel_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval join: purchases within 1 hour after a click by the same
    user — the reference's sorted-inequality join class (SURVEY §2.1#15,
    SortExpressionExtractor.java builds sorted range scans for exactly
    this shape) and the batch twin of a watermarked stream-stream join.

    Plan shape at scale: equi-key (user_id) shuffle + per-key range
    predicate — the range condition never becomes a cross product.
    """
    ev = events_table(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("user_id"), F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    buys = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("buy_ts")
    )
    return (
        clicks.join(buys, "user_id")
        .filter(
            (F.col("buy_ts") >= F.col("click_ts"))
            & (F.col("buy_ts") <= F.col("click_ts") + F.expr("INTERVAL 1 HOUR"))
        )
        .select("user_id", "click_id", "purchase_id")
    )


FUNNEL_SQL = """
SELECT c.user_id, c.event_id AS click_id, p.event_id AS purchase_id
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
"""


def stream_funnel_1h(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join with watermarks: unmatched click state
    is dropped once the purchase watermark passes click_ts + 1h — bounded
    state on two unbounded streams."""
    ev = events_stream(spark, sf_dir)
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("user_id", F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts"))
        .withWatermark("click_ts", "2 hours")
    )
    buys = (
        ev.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("b_user_id"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("buy_ts"),
        )
        .withWatermark("buy_ts", "2 hours")
    )
    return clicks.join(
        buys,
        F.expr(
            "user_id = b_user_id AND buy_ts >= click_ts "
            "AND buy_ts <= click_ts + INTERVAL 1 HOUR"
        ),
    ).select("user_id", "click_id", "purchase_id")


def asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase matched to the latest click by the same
    user at-or-before it.  Spark has no ASOF JOIN operator; the scalable
    composition is the tagged-union + window trick — one shuffle on
    user_id, one sort, `last_value(..., ignorenulls)` carries the most
    recent click forward.  No range self-join, no per-row subquery: cost
    is sort-within-partition, which is the lower bound for as-of
    semantics.  (Deterministic tie-break: at equal ts the click sorts
    before the purchase via the tag.)
    """
    ev = events_table(spark, sf_dir)
    tagged = ev.filter(F.col("event_type").isin("click", "purchase")).select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("tag"),
    )
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "tag", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    carried = tagged.withColumn(
        "asof_click_id",
        F.last(F.when(F.col("tag") == 0, F.col("event_id")), ignorenulls=True).over(w),
    )
    return (
        carried.filter(F.col("tag") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            "asof_click_id",
        )
    )


ASOF_SQL = """
WITH tagged AS (
  SELECT user_id, ts, event_id,
         CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag
  FROM events WHERE event_type IN ('click', 'purchase')
), carried AS (
  SELECT user_id, event_id, tag,
         last_value(CASE WHEN tag = 0 THEN event_id END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, tag, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS asof_click_id
  FROM tagged
)
SELECT user_id, event_id AS purchase_id, asof_click_id
FROM carried WHERE tag = 1
"""



def daily_approx_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch twin of stream_daily_approx_users: per-day approximate
    distinct users via the mergeable HLL sketch (lgK=21 keeps the
    sparse representation exact at test cardinalities, so the exact
    COUNT DISTINCT oracle is valid — the agg_hll_sketch device)."""
    ev = events_table(spark, sf_dir)
    return (
        ev.groupBy(F.date_trunc("day", "ts").alias("window_start"))
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 21)).alias(
                "approx_users"
            )
        )
        .orderBy("window_start")
    )


def stream_daily_approx_users(
    spark: SparkSession, sf_dir: str, watermark: str = "1 day"
) -> DataFrame:
    """Sketches under event-time streaming: per-day approx-distinct
    users with watermark-bounded state.

    The HLL sketch aggregate is mergeable, so Structured Streaming
    maintains one ~KB sketch per open window regardless of arrival
    order or cardinality — the production shape for "daily uniques" at
    100 TB/day, where exact COUNT DISTINCT state would be unbounded.
    Equivalence with the batch twin is pinned in tests/test_streaming.py.
    """
    ev = events_stream(spark, sf_dir).withWatermark("ts", watermark)
    return (
        ev.groupBy(F.window("ts", "1 day").start.alias("window_start"))
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id", 21)).alias(
                "approx_users"
            )
        )
    )


DAILY_APPROX_USERS_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
       count(DISTINCT user_id) AS approx_users
FROM events
GROUP BY 1
ORDER BY 1
"""


QUERIES = {
    "events_dedup_first": dedup_first_event,
    "stream_tumbling_daily": tumbling_daily,
    "stream_sliding_6h3h": sliding_6h_3h,
    "stream_session_1h": session_windows,
    "stream_hourly_pivot": hourly_type_pivot,
    "stream_daily_approx_users": daily_approx_users,
    "events_funnel_1h": funnel_1h,
    "events_asof_join": asof_join,
}

ORACLE = {
    "events_dedup_first": DEDUP_FIRST_SQL,
    "stream_tumbling_daily": TUMBLING_SQL,
    "stream_sliding_6h3h": SLIDING_SQL,
    "stream_session_1h": SESSION_SQL,
    "stream_hourly_pivot": HOURLY_PIVOT_SQL,
    "stream_daily_approx_users": DAILY_APPROX_USERS_SQL,
    "events_funnel_1h": FUNNEL_SQL,
    "events_asof_join": ASOF_SQL,
}
