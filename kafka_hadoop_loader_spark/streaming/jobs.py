"""Streaming analytics jobs over the loader's stream: watermarked
windowed aggregation, streaming dedup, session windows.

These are the true-streaming counterparts of streaming/batch_windows.py
(whose batch forms carry the DuckDB oracles).  Covered by pytest with
file-stream sources — no broker in this environment; the queries are
source-agnostic DataFrames so the Kafka path is the same plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def hourly_counts_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Tumbling 1h window + watermark: late events beyond the watermark
    are dropped; state is bounded by (watermark / window) windows/key."""
    return (
        events.withWatermark("event_ts", watermark)
        .groupBy(F.window("event_ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def session_counts_stream(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Native session windows (30min inactivity gap) — the streaming
    form of window_session_batch."""
    return (
        events.withWatermark("event_ts", "1 hour")
        .groupBy(F.session_window("event_ts", gap).alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_stream(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon —
    the loader's at-least-once replay protection done in-stream."""
    return events.withWatermark("event_ts", watermark).dropDuplicates(
        ["event_id", "event_ts"]
    )


def clicks_attributed_to_views_stream(
    clicks: DataFrame, views: DataFrame, attribution: str = "10 minutes"
) -> DataFrame:
    """Stream-stream inner interval join: attribute each click to the
    same user's preceding view within the attribution window — the
    canonical two-stream correlation (ad attribution / funnel stitch).

    Both sides carry watermarks, and the join condition bounds the
    event-time distance, so Spark can size the join state: each side
    buffers only rows inside watermark + interval, then evicts.  An
    unbounded-condition stream-stream join would grow state forever —
    the interval predicate is what makes this runnable on an infinite
    stream.  State is hash-partitioned on user_id across executors.
    """
    c = clicks.withWatermark("event_ts", attribution).alias("c")
    v = views.withWatermark("event_ts", attribution).alias("v")
    return c.join(
        v,
        F.expr(
            "c.user_id = v.user_id"
            " AND v.event_ts <= c.event_ts"
            f" AND v.event_ts >= c.event_ts - INTERVAL {attribution}"
        ),
    ).select(
        F.col("c.event_id").alias("click_id"),
        F.col("v.event_id").alias("view_id"),
        F.col("c.user_id").alias("user_id"),
        F.col("c.event_ts").alias("click_ts"),
        F.col("v.event_ts").alias("view_ts"),
    )


def enrich_stream_static(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static enrichment join: each micro-batch of the stream
    joins a STATIC dimension table (no watermark, no join state — the
    static side is just re-planned per batch, broadcast when small).
    This is the loader-adjacent lookup shape: decorate the landing
    stream with slowly-refreshed reference data (type → category map,
    allow-lists, model-version routing) without any stateful machinery.

    Contrast clicks_attributed_to_views_stream: a stream-STREAM join
    needs watermarks on both sides and bounded-interval state; a
    stream-static join needs neither — Spark treats the static side as
    a batch relation inside each incremental plan.  At scale the dim
    broadcast is the same runtime filter discipline as bloom_filter_
    probe: the stream side never shuffles for the lookup.
    """
    return events.join(F.broadcast(dim), "event_type", "left").select(
        "event_id",
        "user_id",
        "event_type",
        F.coalesce("category", F.lit("unknown")).alias("category"),
        "value",
        "event_ts",
    )


def user_running_stats_stream(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    cumulative (event count, max value) carried across micro-batches in
    managed GroupState — the escape hatch for aggregation logic that
    built-in windowed aggs can't express (multi-field state machines,
    conditional resets).  Output mode 'update': one row per user per
    micro-batch with the running totals; state is per-key and lives in
    the checkpoint, so an incremental re-run resumes exactly.

    Scale notes: state is partitioned by the group key across executors
    (RocksDB state store in production); keep the state struct narrow —
    it is rewritten per batch per active key."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update_user(key, pdfs, state: GroupState):
        n, mx = state.get if state.exists else (0, None)
        for pdf in pdfs:
            n += len(pdf)
            batch_max = float(pdf["value"].max()) if len(pdf) else None
            if batch_max is not None:
                mx = batch_max if mx is None else max(mx, batch_max)
        state.update((n, mx))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "max_value": [mx]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update_user,
        outputStructType="user_id bigint, n_events bigint, max_value double",
        stateStructType="n bigint, mx double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def upsert_state_foreach_batch(records: DataFrame, state_dir: str):
    """MERGE each micro-batch into a keyed parquet state table — the
    foreachBatch upsert sink (the streaming write path of cdc.py's
    merge_upsert, which documents the join-based MERGE semantics).

    Per batch: collapse to the latest change per key (window top-1 on
    event time — the within-batch dedup MERGE requires), full-outer
    join against current state with COALESCE precedence, then commit by
    write-aside + atomic directory swap, so a re-delivered batch
    (foreachBatch is at-least-once on retry) converges to the same
    state — idempotence comes from the merge being a pure function of
    (state, batch), not from the sink.

    Scale: state and batch shuffle on the key once per batch; with the
    state table bucketed on the key (join_bucketed_colocated layout)
    the state side never reshuffles.  A transactional format (Delta/
    Iceberg MERGE) replaces the directory swap in production; the
    relational core is identical.
    """
    import os
    import shutil

    from pyspark.sql import Window

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        w = Window.partitionBy("user_id").orderBy(
            F.col("event_ts").desc(), F.col("event_id").desc()
        )
        latest = (
            batch.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == 1)
            .drop("_rn")
        )
        cur_dir = os.path.join(state_dir, "current")
        if os.path.exists(cur_dir):
            cur = spark.read.parquet(cur_dir)
            c, b = cur.alias("c"), latest.alias("b")
            merged = c.join(b, F.col("c.user_id") == F.col("b.user_id"), "full_outer").select(
                F.coalesce(F.col("b.user_id"), F.col("c.user_id")).alias("user_id"),
                F.coalesce(F.col("b.event_id"), F.col("c.event_id")).alias("event_id"),
                F.coalesce(F.col("b.event_type"), F.col("c.event_type")).alias("event_type"),
                F.coalesce(F.col("b.value"), F.col("c.value")).alias("value"),
                F.coalesce(F.col("b.event_ts"), F.col("c.event_ts")).alias("event_ts"),
            )
        else:
            merged = latest.select("user_id", "event_id", "event_type", "value", "event_ts")
        new_dir = os.path.join(state_dir, f"_staged_{batch_id}")
        merged.write.mode("overwrite").parquet(new_dir)
        old_dir = os.path.join(state_dir, f"_old_{batch_id}")
        if os.path.exists(cur_dir):
            os.rename(cur_dir, old_dir)
        os.rename(new_dir, cur_dir)
        if os.path.exists(old_dir):
            shutil.rmtree(old_dir)

    return records.writeStream.foreachBatch(apply_batch).trigger(availableNow=True)


def views_with_optional_click_stream(
    views: DataFrame, clicks: DataFrame, attribution: str = "10 minutes"
) -> DataFrame:
    """Stream-stream LEFT OUTER interval join: every view emits exactly
    once — joined to a same-user click inside the attribution window if
    one arrives, or null-padded once the watermark proves no click can
    still come.  This is the conversion-rate complement of the inner
    attribution join: the unmatched side is the signal (views that
    converted vs. didn't).

    Outer-ness is what makes the watermark LOAD-BEARING for
    correctness, not just state sizing: a null-padded row may only be
    emitted when event time has provably passed view_ts + attribution,
    so results trail the watermark — the inherent completeness/latency
    trade of outer stream joins.  State stays bounded exactly as in the
    inner case."""
    v = views.withWatermark("event_ts", attribution).alias("v")
    c = clicks.withWatermark("event_ts", attribution).alias("c")
    return v.join(
        c,
        F.expr(
            "v.user_id = c.user_id"
            " AND c.event_ts >= v.event_ts"
            f" AND c.event_ts <= v.event_ts + INTERVAL {attribution}"
        ),
        "leftOuter",
    ).select(
        F.col("v.event_id").alias("view_id"),
        F.col("v.user_id").alias("user_id"),
        F.col("v.event_ts").alias("view_ts"),
        F.col("c.event_id").alias("click_id"),
        F.col("c.event_ts").alias("click_ts"),
    )


def dedup_within_watermark_stream(
    events: DataFrame, watermark: str = "1 hour"
) -> DataFrame:
    """Streaming dedup on event_id alone via
    dropDuplicatesWithinWatermark — the replay-protection form for the
    REAL at-least-once case, where a redelivered record carries the
    same id but a jittered timestamp (broker retry, producer re-send
    with fresh ingest time).  Plain dropDuplicates([id, ts]) would pass
    both copies; keying state on id alone with a watermark-bounded
    retention window dedups them while still letting state expire.
    State per key lives ~watermark, so memory is bounded by the id
    arrival rate times the horizon, independent of stream length."""
    return events.withWatermark("event_ts", watermark).dropDuplicatesWithinWatermark(
        ["event_id"]
    )


def backfill_overwrite_days(records: DataFrame, target_dir: str):
    """Rate-limited historical backfill with idempotent day-partition
    overwrite — the streaming mirror of sources/formats.py's
    insert_overwrite_day, run under `availableNow` so a bounded
    reprocess of months of history proceeds in rate-limited
    micro-batches (cap files/offsets per trigger on the source) with
    checkpointed progress: kill it mid-backfill and the next run
    resumes from the last committed batch instead of day one.

    Per batch, for the day partitions the batch TOUCHES: read the
    current content of just those partitions, merge (batch wins over
    existing on event_id — the redelivery/correction rule), and commit
    with dynamic partition overwrite so untouched days are never
    rewritten.  The merge makes the result a pure function of
    (existing, batch): a retried batch (foreachBatch is at-least-once
    on retry) and a day split across several rate-limited batches both
    converge to the same partition content — idempotence comes from
    the merge, not the sink.

    Scale: each micro-batch shuffles only its own rows plus the rows
    of the days it touches (read via partition-pruned paths, never the
    whole target); the rate limit bounds both.  A transactional format
    (Delta/Iceberg `replaceWhere`) replaces the dynamic-overwrite
    commit in production; the merge logic is identical.
    """
    import os

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        spark = batch.sparkSession
        b = batch.withColumn(
            "d", F.date_format("event_ts", "yyyy-MM-dd")
        )
        days = [r["d"] for r in b.select("d").distinct().collect()]
        existing_dirs = [
            os.path.join(target_dir, f"d={day}")
            for day in days
            if os.path.isdir(os.path.join(target_dir, f"d={day}"))
        ]
        merged = b
        if existing_dirs:
            cur = spark.read.option("basePath", target_dir).parquet(
                *existing_dirs
            )
            keep = cur.join(
                b.select("event_id").distinct(), "event_id", "left_anti"
            )
            merged = keep.select(*b.columns).unionByName(b)
        (
            merged.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("d")
            .parquet(target_dir)
        )

    return records.writeStream.foreachBatch(apply_batch).trigger(
        availableNow=True
    )
