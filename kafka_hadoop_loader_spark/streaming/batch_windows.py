"""Batch analogues of the loader's time-bucketing + streaming windows.

The reference's one "analytical" behavior is organizing a Kafka topic by
event time (MultiOutputFormat time-bucketed directories — SURVEY.md §2.A
R6/R7).  These queries are the DataFrame-native generalization: event-time
extraction + tumbling/sliding/session windows, run in batch form so the
DuckDB oracle can verify them.  The package's one streaming query is the
loader's (``streaming/loader.py``); these windows are batch queries only.

Scale notes: all of these are single-shuffle hash aggregations on
(time-bucket, key); at 100 TB the time-bucketed parquet layout written by
the loader makes the scan partition-prunable by date, and AQE coalesces
the post-shuffle partitions.  No Python runs anywhere in these plans.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_hadoop_loader_spark.catalog import table
from kafka_hadoop_loader_spark.functions.exact import exact_sum
from kafka_hadoop_loader_spark.registry import register


@register(
    "events_hourly",
    oracle="""
        SELECT date_trunc('hour', ts) AS hour,
               event_type,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               CAST(SUM(CAST(ROUND((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        FROM events
        GROUP BY 1, 2
        ORDER BY hour, event_type
    """,
    doc="""Flagship: hourly event-load report (tumbling window, batch form).

    Reference parity: this is the query the loader exists to enable —
    messages bucketed by extracted event time (R6/R7), counted per bucket.
    Spark: date_trunc + hash agg; partial aggregation map-side, one
    shuffle on (hour, event_type).
    """,
)
def events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", F.col("ts")).cast("timestamp_ntz").alias("hour"),
            "event_type",
        )
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            exact_sum(F.col("value")).alias("sum_value"),
        )
        .orderBy("hour", "event_type")
    )


@register(
    "window_sliding_batch",
    oracle="""
        WITH slid AS (
            SELECT time_bucket(INTERVAL '15 minutes', ts)
                       - i * INTERVAL '15 minutes' AS window_start,
                   event_type, value
            FROM events, unnest([0, 1, 2, 3]) AS t(i)
        )
        SELECT window_start, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        FROM slid
        GROUP BY 1, 2
        ORDER BY window_start, event_type
    """,
    doc="""Sliding window agg (1h window, 15min slide), batch form.

    Spark's ``window()`` assigns each event to windowDuration/slideDuration
    overlapping epoch-aligned windows — the oracle reproduces the
    assignment with time_bucket minus i*slide.
    """,
)
def window_sliding_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), exact_sum(F.col("value")).alias("sum_value"))
        .select(
            F.col("w.start").cast("timestamp_ntz").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
        .orderBy("window_start", "event_type")
    )


@register(
    "window_session_batch",
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                             > 30 * 60 * 1000000
                        OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts, value,
                   CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                          ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS session_id
            FROM flagged
        )
        SELECT user_id, session_id,
               COUNT(*) AS n_events,
               date_trunc('second', MIN(ts)) AS session_start,
               date_trunc('second', MAX(ts)) AS session_end,
               CAST(SUM(CAST(ROUND((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        FROM sessions
        GROUP BY user_id, session_id
        ORDER BY user_id, session_id
    """,
    doc="""Session windows (30 min inactivity gap), batch gaps-and-islands.

    Spark ``session_window`` is the streaming primitive; the batch
    equivalent is lag + cumulative-sum session ids — two window passes on
    the same (user_id, ts) sort order, so a single shuffle + sort serves
    both (Catalyst reuses the exchange).  Integer-µs arithmetic keeps the
    gap test exact on both sides.
    """,
)
def window_session_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = 30 * 60 * 1_000_000
    flagged = ev.withColumn(
        "is_new",
        F.when(
            F.col("ts_us") - F.lag("ts_us").over(w) > F.lit(gap_us), 1
        ).when(F.lag("ts_us").over(w).isNull(), 1).otherwise(0),
    )
    sessions = flagged.withColumn(
        "session_id",
        F.sum("is_new").over(
            Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    return (
        sessions.groupBy("user_id", "session_id")
        .agg(
            F.count("*").alias("n_events"),
            F.date_trunc("second", F.min("ts")).cast("timestamp_ntz").alias("session_start"),
            F.date_trunc("second", F.max("ts")).cast("timestamp_ntz").alias("session_end"),
            exact_sum(F.col("value")).alias("sum_value"),
        )
        .orderBy("user_id", "session_id")
    )


@register(
    "events_funnel",
    oracle="""
        WITH u AS (
            SELECT user_id,
                   MIN(CASE WHEN event_type = 'signup' THEN ts END)
                       AS signup_ts
            FROM events GROUP BY user_id
        ),
        c AS (
            SELECT e.user_id, MIN(e.ts) AS click_ts
            FROM events e JOIN u ON e.user_id = u.user_id
            WHERE e.event_type = 'click' AND e.ts > u.signup_ts
            GROUP BY e.user_id
        ),
        p AS (
            SELECT e.user_id, MIN(e.ts) AS purchase_ts
            FROM events e JOIN c ON e.user_id = c.user_id
            WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
            GROUP BY e.user_id
        )
        SELECT u.user_id, u.signup_ts, c.click_ts, p.purchase_ts,
               CAST(CASE WHEN p.purchase_ts IS NOT NULL THEN 3
                         WHEN c.click_ts IS NOT NULL THEN 2
                         WHEN u.signup_ts IS NOT NULL THEN 1
                         ELSE 0 END AS BIGINT) AS funnel_depth
        FROM u LEFT JOIN c ON u.user_id = c.user_id
               LEFT JOIN p ON u.user_id = p.user_id
        ORDER BY u.user_id
    """,
    doc="""Ordered-sequence funnel over the event stream: per user, the
    earliest signup -> first click strictly after it -> first purchase
    strictly after that, plus how deep the user got (0-3).  The
    sequential-pattern query every product-analytics engine ships
    (funnel / conversion analysis), expressed as three cascaded
    conditional MIN aggregations joined on user_id.

    Scale: every stage aggregates and joins on the same user_id key, so
    one hash partitioning serves the whole cascade (no repartitioning
    between stages); per-stage state is one timestamp per user.  AQE
    broadcasts the per-user funnel tables when they fit.  Timestamp
    comparisons are on the microsecond-exact NTZ column both engines
    derive identically from the ns parquet source.""",
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    u = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("signup_ts")
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(u, "user_id")
        .where(F.col("ts") > F.col("signup_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    depth = (
        F.when(F.col("purchase_ts").isNotNull(), 3)
        .when(F.col("click_ts").isNotNull(), 2)
        .when(F.col("signup_ts").isNotNull(), 1)
        .otherwise(0)
        .cast("bigint")
    )
    return (
        u.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "signup_ts", "click_ts", "purchase_ts", depth.alias("funnel_depth"))
        .orderBy("user_id")
    )


_LAG_PARTS = 8  # synthetic topic-partition count (user_id % 8)
_LAG_SLA_US = 3_600_000_000  # 1h freshness SLA


@register(
    "events_watermark_lag",
    oracle=f"""
        WITH p AS (
            SELECT user_id % {_LAG_PARTS} AS partition_id,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   CAST(MAX(epoch_us(ts)) AS BIGINT) AS max_ts_us
            FROM events
            GROUP BY partition_id
        ),
        g AS (SELECT CAST(MAX(max_ts_us) AS BIGINT) AS global_max FROM p)
        SELECT p.partition_id, p.n_events, p.max_ts_us,
               CAST(g.global_max - p.max_ts_us AS BIGINT) AS lag_us,
               (g.global_max - p.max_ts_us) > {_LAG_SLA_US} AS behind_sla
        FROM p CROSS JOIN g
        ORDER BY partition_id
    """,
    doc="""Consumer-lag / watermark-freshness audit — the monitoring
    query every loader deployment runs against its own output [pub:
    CheckpointManager.java's ZK offsets are the reference's equivalent
    signal]: per (synthetic) topic-partition, the newest loaded event
    time, its lag behind the most advanced partition, and an SLA flag.
    A partition whose lag exceeds the watermark delay is exactly the
    one whose late data a streaming query's ``withWatermark`` with that
    delay would drop — this query is how you see that coming.

    Determinism: all values derive from event timestamps in the data
    (no wall clock — a wall-clock 'now' would be unreproducible);
    integer microseconds end-to-end.

    Scale: one map-side-combined aggregate to |partitions| rows + a
    1-row broadcast — runs on the manifest-sized output of a 100 TB
    load, not the load itself.""",
)
def events_watermark_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    p = e.groupBy((F.col("user_id") % _LAG_PARTS).alias("partition_id")).agg(
        F.count("*").alias("n_events"),
        F.max("ts_us").cast("bigint").alias("max_ts_us"),
    )
    g = p.agg(F.max("max_ts_us").alias("global_max"))
    lag = F.col("global_max") - F.col("max_ts_us")
    return (
        p.crossJoin(F.broadcast(g))
        .select(
            "partition_id",
            "n_events",
            "max_ts_us",
            lag.cast("bigint").alias("lag_us"),
            (lag > _LAG_SLA_US).alias("behind_sla"),
        )
        .orderBy("partition_id")
    )


@register(
    "window_session_native",
    oracle="""
        WITH flagged AS (
            SELECT user_id, event_id, ts, value, epoch_us(ts) AS ts_us,
                   CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w
                             >= 30 * 60 * 1000000
                        OR lag(ts) OVER w IS NULL
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ),
        sessions AS (
            SELECT user_id, ts_us, value,
                   SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                                     ROWS UNBOUNDED PRECEDING) AS sid
            FROM flagged
        )
        SELECT user_id,
               make_timestamp(MIN(ts_us)) AS session_start,
               make_timestamp(MAX(ts_us) + 30 * 60 * 1000000) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               CAST(SUM(CAST(ROUND((value) * 100) AS BIGINT)) AS DOUBLE) / 100.0
                   AS sum_value
        FROM sessions
        GROUP BY user_id, sid
        ORDER BY user_id, session_start
    """,
    doc="""Spark's NATIVE ``session_window`` aggregation in batch — the
    built-in merging-interval operator window_session_batch hand-rolls
    with lag + cumulative sum.  Semantics divergence worth pinning:
    the native operator's windows are half-open [start, last+gap), so
    an event arriving at EXACTLY gap after its predecessor starts a
    NEW session — the manual gaps-and-islands form with a strict `>`
    test would merge it.  The oracle therefore flags `>= gap`, and
    session_end is last-event-time + gap (the native window's `end`),
    not last-event-time.  One shuffle on user_id; the merging pass is
    the same sort Spark already does for the aggregate.  (Spark's
    ``session_window`` is the same primitive in a streaming query,
    under a watermark.)""",
)
def window_session_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = table(spark, sf_dir, "events")
    sw = F.session_window("ts", "30 minutes")
    return (
        ev.groupBy("user_id", sw.alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            exact_sum(F.col("value")).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("sw.start").cast("timestamp_ntz").alias("session_start"),
            F.col("sw.end").cast("timestamp_ntz").alias("session_end"),
            "n_events",
            "sum_value",
        )
        .orderBy("user_id", "session_start")
    )
