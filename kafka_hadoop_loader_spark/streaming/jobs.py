"""Streaming analytics jobs over the loader's stream: watermarked
windowed aggregation, streaming dedup, session windows.

These are the true-streaming counterparts of streaming/batch_windows.py
(whose batch forms carry the DuckDB oracles).  Covered by pytest with
file-stream sources — no broker in this environment; the queries are
source-agnostic DataFrames so the Kafka path is the same plan.
"""

from __future__ import annotations

import contextlib

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


def user_running_stats_tws(events: DataFrame) -> DataFrame:
    """Same per-user running stats on the transformWithStateInPandas API
    (Spark 4.x arbitrary-state v2) — the successor to
    applyInPandasWithState, kept side by side to cover both stateful
    surfaces.  Differences that matter at scale: state lives in NAMED
    typed handles (ValueState/ListState/MapState per variable, each
    independently updatable — no monolithic state struct rewrite per
    batch), optional per-state TTL bounds state size without a custom
    timeout state machine, and timers (timeMode processing/event time)
    replace hand-rolled GroupStateTimeout logic.  State remains
    key-partitioned across executors in the checkpoint, so incremental
    re-runs resume exactly like the v1 operator.

    Environment note: executing the stream needs (a) the RocksDB state
    store provider and (b) google.protobuf for the JVM<->Python state
    server — the latter is absent in this container, so the pytest
    covers plan construction/schema unconditionally and gates the
    actual run on protobuf availability (see
    test_transform_with_state_running_stats)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _RunningStats(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState(
                "agg", "n BIGINT, sm DOUBLE, mx DOUBLE"
            )

        def handleInputRows(self, key, rows, timerValues):
            n, sm, mx = self._agg.get() if self._agg.exists() else (0, 0.0, None)
            for pdf in rows:
                if not len(pdf):
                    continue
                n += len(pdf)
                sm += float(pdf["value"].sum())
                bmx = float(pdf["value"].max())
                mx = bmx if mx is None else max(mx, bmx)
            self._agg.update((n, sm, mx))
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "n_events": [n],
                    "sum_value": [sm],
                    "max_value": [mx],
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_RunningStats(),
        outputStructType=(
            "user_id bigint, n_events bigint, sum_value double, max_value double"
        ),
        outputMode="Update",
        timeMode="None",
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


def session_eviction_tws(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-user session aggregation where sessions are CLOSED BY
    EVENT-TIME TIMERS — the transformWithStateInPandas capability the
    running-stats job doesn't exercise: nothing is emitted while a
    session is open; when the watermark passes last_event + gap the
    registered timer fires, ``handleExpiredTimer`` emits exactly one
    closed-session row, and state is cleared.  This is the
    timer-driven replacement for GroupStateTimeout session logic (and
    the streaming dual of window_session_batch): output is APPEND-mode
    final results, safe to sink straight to parquet — no retraction,
    no dedup downstream.

    Mechanics pinned here: one named ValueState row per user
    (start/end/count/sum + the currently-armed expiry so it can be
    DELETED and re-armed as the session extends — registerTimer is
    additive, an extended session must cancel its stale timer or it
    fires early); ``timeMode="EventTime"`` makes
    ``timerValues.getCurrentWatermarkInMs()`` the clock, so eviction is
    deterministic replay-stable (processing-time timers are not).
    State size is O(active sessions); the watermark bounds how long a
    session can stay active, exactly like the v1 session operators.

    Environment note: same protobuf gate as user_running_stats_tws —
    plan construction and schema are testable in this container, the
    stream start is not (see test_session_eviction_tws)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    gap_ms = gap_minutes * 60 * 1000

    class _SessionEvict(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._handle = handle
            self._sess = handle.getValueState(
                "sess",
                "start_ms BIGINT, end_ms BIGINT, n BIGINT, sm DOUBLE, "
                "timer_ms BIGINT",
            )

        def handleInputRows(self, key, rows, timerValues):
            start = end = None
            n = 0
            sm = 0.0
            for pdf in rows:
                if not len(pdf):
                    continue
                ts_ms = (pdf["event_ts"].astype("int64") // 1_000_000)
                bmin = int(ts_ms.min())
                bmax = int(ts_ms.max())
                start = bmin if start is None else min(start, bmin)
                end = bmax if end is None else max(end, bmax)
                n += len(pdf)
                sm += float(pdf["value"].sum())
            if n == 0:
                return iter(())
            if self._sess.exists():
                s0, e0, n0, sm0, t0 = self._sess.get()
                start = min(start, s0)
                end = max(end, e0)
                n += n0
                sm += sm0
                # a session that extends must disarm its stale timer,
                # or the old expiry closes it mid-flight
                self._handle.deleteTimer(t0)
            expiry = end + gap_ms
            self._sess.update((start, end, n, sm, expiry))
            self._handle.registerTimer(expiry)
            return iter(())

        def handleExpiredTimer(self, key, timerValues, expiredTimerInfo):
            if not self._sess.exists():
                return
            start, end, n, sm, _ = self._sess.get()
            self._sess.clear()
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "session_start_ms": [start],
                    "session_end_ms": [end],
                    "n_events": [n],
                    "sum_value": [sm],
                }
            )

        def close(self) -> None:
            pass

    return (
        events.withWatermark("event_ts", f"{gap_minutes} minutes")
        .groupBy("user_id")
        .transformWithStateInPandas(
            statefulProcessor=_SessionEvict(),
            outputStructType=(
                "user_id bigint, session_start_ms bigint, "
                "session_end_ms bigint, n_events bigint, sum_value double"
            ),
            outputMode="Append",
            timeMode="EventTime",
        )
    )


def user_topk_tws(events: DataFrame, k: int = 3) -> DataFrame:
    """Per-user top-k event values via transformWithStateInPandas
    LIST STATE — the third state-handle kind after the running-stats
    ValueState and the session job's timer registry: ListState holds a
    VARIABLE-LENGTH collection the processor appends to and rewrites
    without a monolithic value struct, the natural fit for leaderboard
    / reservoir / beam-search state.  Each batch merges the incoming
    values into the stored top-k (bounded: the put() writes back at
    most k rows, so state is O(k) per user regardless of stream
    length) and emits the user's current leaderboard in Update mode.

    Mechanics pinned here: ``getListState`` with a one-column schema;
    ``get()`` returns an ITERATOR of tuples (consumed, not indexed);
    ``put(rows)`` REPLACES the whole list (the bounded rewrite is the
    point — contrast appendList, which would grow unboundedly and
    push the truncation to read time).

    Environment note: same protobuf gate as the other tws jobs —
    plan construction and schema are testable here, the stream start
    is not (see test_user_topk_tws)."""
    import pandas as pd
    from pyspark.sql.streaming.stateful_processor import (
        StatefulProcessor,
        StatefulProcessorHandle,
    )

    class _TopK(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._top = handle.getListState("top", "v DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            vals = [float(t[0]) for t in self._top.get()]
            for pdf in rows:
                if len(pdf):
                    vals.extend(float(v) for v in pdf["value"])
            vals = sorted(vals, reverse=True)[:k]
            self._top.put([(v,) for v in vals])
            yield pd.DataFrame(
                {
                    "user_id": [key[0]] * len(vals),
                    "rank": list(range(1, len(vals) + 1)),
                    "value": vals,
                }
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=_TopK(),
        outputStructType="user_id bigint, rank int, value double",
        outputMode="Update",
        timeMode="None",
    )


# ---------------------------------------------------------------------------
# Streaming corpus maintenance: pipeline_corpus_build's ingest gate,
# incremental.
# ---------------------------------------------------------------------------

_CORPUS_INDEX_SCHEMA = (
    "doc_id bigint, source string, n_tok bigint, h string,"
    " sig array<bigint>, bands array<struct<band:int,bkey:bigint>>,"
    " s array<bigint>, ingest_batch bigint"
)
# `s` = the doc's distinct shingle hashes, stored ONLY when the doc has
# at most `shingle_state_budget` of them (else null) — the bounded
# state that lets vs-corpus candidates get the batch cascade's EXACT
# Jaccard verdict instead of the signature estimate.  Index partitions
# written before this column existed read as null (explicit schema
# above), which safely selects the estimate path.
_CORPUS_ND_EST_T = 0.5  # signature-agreement threshold for the
# vs-corpus FALLBACK verify (partner doc's shingles exceeded the state
# budget, so state holds only its 64-long signature) ~ the batch
# cascade's exact-Jaccard ND_JACCARD_T (operators/dedup.py).  Every
# other candidate class — within-batch pairs, and vs-corpus pairs whose
# partner stored `s` — verifies by the cascade's own exact_jaccard /
# ND_JACCARD_T: shared code path, no second copy.


def _bands_from_sig(sig_col):
    """16 (band, bkey) structs from a 64-long minhash signature ARRAY —
    the same 4-rows-per-band xxhash64 key as the batch cascade
    (operators/dedup.py:_minhash_pairs), rebuilt from the stored array
    so index-side and batch-side keys are constructed by ONE code path
    and can never drift."""
    from kafka_hadoop_loader_spark.operators.dedup import (
        N_BANDS,
        ROWS_PER_BAND,
    )

    return F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.xxhash64(
                    *[
                        F.element_at(sig_col, b * ROWS_PER_BAND + r + 1)
                        for r in range(ROWS_PER_BAND)
                    ],
                    F.lit(b),
                ).alias("bkey"),
            )
            for b in range(N_BANDS)
        ]
    )


def corpus_apply_ingest_batch(
    batch: DataFrame,
    batch_id: int,
    corpus_dir: str,
    bench_grams: tuple[str, ...] = (),
    shingle_state_budget: int = 512,
) -> None:
    """One incremental pass of the corpus-build ingest gate (the
    foreachBatch body of ``corpus_maintain_foreach_batch``; module-level
    so tests can drive redelivery directly).

    Stage semantics mirror pipeline_corpus_build stage for stage, at
    map-side index-scan + O(batch + matches) shuffle cost per arrival
    instead of re-running the whole-corpus cascade (see the Scale
    paragraph below for the honest accounting):

    - quality gate: the registered thresholds, map-side;
    - exact dedup: keep-first within the batch (window on md5) PLUS a
      left join against the corpus hash index — the
      dedup_incremental_batch shape, never corpus x corpus;
    - near-dup: batch survivors get the cascade's 64 minhashes and 16
      band keys; candidates come from band-bucket joins against the
      corpus index AND a within-batch band self-join.  WITHIN-BATCH
      candidates verify by EXACT shingle Jaccard >= 0.5 — the batch's
      shingle sets are already computed in this job, so these pairs get
      pipeline_corpus_build's exact verdict.  VS-CORPUS candidates get
      the SAME exact verdict whenever the corpus partner stored its
      shingle set: the index keeps a doc's distinct shingle hashes when
      there are at most ``shingle_state_budget`` of them (default 512
      longs = 4 KiB/doc ceiling, on top of the 64-long signature), so
      state stays bounded per doc rather than text-sized.  Only when
      the partner EXCEEDED the budget (shingles stored as null) does
      the pair fall back to SIGNATURE AGREEMENT (fraction of equal
      minhash positions >= 0.5) — the unbiased estimate that is now
      the one deliberate divergence from the batch funnel, confined to
      boundary pairs whose corpus side is a long document.  Budget
      semantics at 100 TB: short/medium docs (the bulk of near-dup
      traffic) verify exactly; the per-doc state ceiling — not a
      corpus-proportional total — is the knob, and ``0`` recovers the
      pure-signature behavior;
    - decontamination: any word 3-gram in ``bench_grams`` (the BOUNDED
      benchmark set — safe to inline as a literal predicate);
    - accepted survivors land in the index log.

    State is ONE append-only index log at ``{corpus_dir}/index``,
    hive-partitioned by ``ingest_batch``: batch N overwrites exactly its
    own partition with the rows it accepted (doc_id, source, n_tok, h,
    sig, budget-bounded shingles s).  The partition content is a
    deterministic function of the
    EARLIER partitions (``ingest_batch < N``) and the batch, so an
    at-least-once redelivery rewrites identical bytes — the
    backfill_overwrite_days idempotence doctrine, and a single store
    means no multi-directory commit hazard.  A per-doc audit row
    (every gate's verdict + provenance) lands in
    ``{corpus_dir}/decisions`` under the same per-batch overwrite —
    one partition per batch, unbounded until
    ``corpus_decisions_retain`` expires the old ones (the gate itself
    never re-reads a decision row, so the growth is file count, not
    state).

    Scale: per batch the index log is scanned map-side twice — once
    for the hash-index aggregate, once for the stored-band explode
    (band keys are PRECOMPUTED at index-write time by the same
    ``_bands_from_sig`` code path, so the read side never re-hashes the
    corpus).  The exact-verify upgrade widens the band-explode scan:
    it now also reads ``s`` (up to ``shingle_state_budget`` longs/doc
    on top of the 64-long signature) for EVERY corpus doc, because a
    join-back for candidates only would still column-scan all of ``s``
    (no pushdown through a join) while paying a second pass — inline
    is the cheaper of the two shapes.  That width is the deliberate,
    budget-capped I/O price of exact verdicts; ``budget=0`` recovers
    the 64-long scan.  Those scans are O(corpus) I/O that a real
    deployment
    amortizes with compaction and bucketing on ``h`` —
    ``corpus_compact_index`` below is that maintenance job for this
    directory layout (a transactional table MERGE replaces it in
    production); the
    SHUFFLES stay O(batch + band matches) because AQE broadcasts the
    batch-sized side of every join.  The gate plan is persisted across
    the two commit actions so the cascade is computed once per batch.
    """
    from pyspark.sql import Window

    from kafka_hadoop_loader_spark.operators.dedup import (
        N_HASHES,
        ND_JACCARD_T,
        _minhash_signatures,
        _shingle_grams,
        _shingle_hashes,
        exact_jaccard,
    )
    from kafka_hadoop_loader_spark.operators.pipeline import (
        _QG_MAX_AVG_LEN,
        _QG_MAX_STOP,
        _QG_MIN_AVG_LEN,
        _QG_MIN_TOKENS,
        _QG_MIN_TTR,
        _QG_STOPWORDS,
    )

    spark = batch.sparkSession
    # plain string joins, not os.path: corpus_dir may be any Hadoop
    # filesystem URI (hdfs://, s3a://), not just a local path
    index_root = corpus_dir.rstrip("/") + "/index"

    # -- per-doc flags, map-side (quality gate + content hash) --
    w = F.split("text", " ")
    n_tok = F.size(w).cast("bigint")
    avg_len = F.length("text").cast("double") / n_tok.cast("double")
    ttr = F.size(F.array_distinct(w)).cast("double") / n_tok.cast("double")
    stop = (
        F.size(F.filter(w, lambda x: x.isin(*_QG_STOPWORDS))).cast("double")
        / n_tok.cast("double")
    )
    pass_q = (
        (n_tok >= _QG_MIN_TOKENS)
        & (avg_len >= _QG_MIN_AVG_LEN)
        & (avg_len <= _QG_MAX_AVG_LEN)
        & (ttr >= _QG_MIN_TTR)
        & (stop <= _QG_MAX_STOP)
    )
    base = batch.select(
        "doc_id",
        "source",
        "text",
        n_tok.alias("n_tok"),
        pass_q.alias("pass_q"),
        F.md5("text").alias("h"),
    )

    # -- exact dedup: keep-first within the batch (canonical = min
    # doc_id among quality-passers per hash, pipeline_corpus_build's
    # exact rule) --
    base = base.withColumn(
        "dup_within_batch",
        F.col("pass_q")
        & (
            F.min(F.when(F.col("pass_q"), F.col("doc_id"))).over(
                Window.partitionBy("h")
            )
            < F.col("doc_id")
        ),
    )

    # -- corpus state: earlier partitions of the index log.  Discovery
    # goes through the Hadoop FileSystem API so a non-local corpus_dir
    # (hdfs://, s3a://) sees its state too — os.path here would return
    # False forever and silently disable all vs-corpus dedup. --
    jpath = spark._jvm.org.apache.hadoop.fs.Path(index_root)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    have_state = fs.exists(jpath) and any(
        st.getPath().getName().startswith("ingest_batch=")
        for st in fs.listStatus(jpath)
    )
    idx = (
        spark.read.schema(_CORPUS_INDEX_SCHEMA)
        .option("basePath", index_root)
        .parquet(index_root)
        .where(F.col("ingest_batch") < batch_id)
        if have_state
        else None
    )

    # -- exact dedup vs corpus: hash-index left join --
    if idx is not None:
        hash_idx = idx.groupBy("h").agg(
            F.min("doc_id").alias("corpus_match_id")
        )
        base = base.join(hash_idx, "h", "left")
    else:
        base = base.withColumn("corpus_match_id", F.lit(None).cast("bigint"))
    base = base.withColumn(
        "dup_vs_corpus", F.col("corpus_match_id").isNotNull()
    )

    # -- near-dup: signatures for exact-dedup survivors only --
    surv = base.where(
        F.col("pass_q") & ~F.col("dup_within_batch") & ~F.col("dup_vs_corpus")
    )
    # batch-sized; the shingle sets feed the signature pass AND the
    # exact-Jaccard verify of within-batch candidates below
    sh = surv.select(
        "doc_id", _shingle_hashes(F.col("text")).alias("s")
    ).where(F.size("s") > 0).persist()
    # batch-sized; reused by the band joins AND the accepted-rows
    # commit below — persist so the 64-min signature pass runs once.
    # Everything from the first persist onward sits inside ONE
    # try/finally: a failed batch (e.g. an AnalysisException while
    # building the band joins) must not leak cached blocks — in a
    # long-running stream repeatedly failing batches would otherwise
    # accumulate them.
    mh = decided = None
    try:
        mh = _minhash_signatures(sh).select(
            "doc_id",
            F.array(*[F.col(f"mh{k}") for k in range(N_HASHES)]).alias("sig"),
        ).persist()
        sig_agree = lambda a, b: (  # noqa: E731 — fraction of equal positions
            F.aggregate(
                F.zip_with(a, b, lambda x, y: (x == y).cast("int")),
                F.lit(0),
                lambda acc, v: acc + v,
            ).cast("double")
            / F.lit(N_HASHES).cast("double")
        )
        bands = mh.select(
            "doc_id", "sig", F.explode(_bands_from_sig(F.col("sig"))).alias("bk")
        ).select("doc_id", "sig", "bk.band", "bk.bkey")

        nd_parts = []
        if idx is not None:
            # stored band keys (precomputed at index-write time; empty for
            # docs with no 64-hash signature) — no per-batch re-hash of
            # the corpus.  vs-corpus candidates verify by the batch
            # cascade's EXACT shingle Jaccard whenever the partner stored
            # its (budget-bounded) shingle set `c_s`; only an over-budget
            # partner (c_s null — long doc, or a pre-budget index
            # partition) falls back to the signature-agreement estimate.
            corpus_bands = idx.select(
                F.col("doc_id").alias("c_doc_id"),
                F.col("sig").alias("c_sig"),
                F.col("s").alias("c_s"),
                F.explode("bands").alias("bk"),
            ).select("c_doc_id", "c_sig", "c_s", "bk.band", "bk.bkey")
            nd_corpus = (
                bands.join(corpus_bands, ["band", "bkey"])
                .select("doc_id", "sig", "c_doc_id", "c_sig", "c_s")
                .distinct()
                # batch side's shingle sets are already in this job
                .join(sh.select("doc_id", F.col("s").alias("b_s")), "doc_id")
                .where(
                    F.when(
                        F.col("c_s").isNotNull(),
                        exact_jaccard("b_s", "c_s") >= ND_JACCARD_T,
                    ).otherwise(
                        sig_agree(F.col("sig"), F.col("c_sig"))
                        >= _CORPUS_ND_EST_T
                    )
                )
                .groupBy("doc_id")
                .agg(F.min("c_doc_id").alias("near_match_id"))
            )
            nd_parts.append(nd_corpus)
        # within-batch candidates verify by EXACT shingle Jaccard: the
        # batch's shingle sets (sh) are already computed in this job, so
        # the state-size argument that forces the signature estimate on
        # the vs-corpus path does not apply here — same
        # array_intersect/array_union verify and 0.5 threshold as the
        # batch cascade (operators/dedup.py:_minhash_pairs), so a
        # borderline within-batch pair gets pipeline_corpus_build's
        # verdict, not an estimate of it.
        a, b = bands.alias("a"), bands.alias("b")
        cand_within = (
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.bkey") == F.col("b.bkey"))
                & (F.col("a.doc_id") < F.col("b.doc_id")),
            )
            .select(
                F.col("b.doc_id").alias("nd_b"),
                F.col("a.doc_id").alias("nd_a"),
            )
            .distinct()
        )
        nd_within = (
            cand_within.join(
                sh.select(F.col("doc_id").alias("nd_a"), F.col("s").alias("sa")),
                "nd_a",
            )
            .join(
                sh.select(F.col("doc_id").alias("nd_b"), F.col("s").alias("sb")),
                "nd_b",
            )
            .where(exact_jaccard("sa", "sb") >= ND_JACCARD_T)
            .select(
                F.col("nd_b").alias("doc_id"),
                F.col("nd_a").alias("near_match_id"),
            )
            .groupBy("doc_id")
            .agg(F.min("near_match_id").alias("near_match_id"))
        )
        nd_parts.append(nd_within)
        nd = nd_parts[0]
        for p in nd_parts[1:]:
            nd = nd.unionByName(p)
        nd = nd.groupBy("doc_id").agg(F.min("near_match_id").alias("near_match_id"))
        base = base.join(nd, "doc_id", "left").withColumn(
            "near_dup", F.col("near_match_id").isNotNull()
        )

        # -- decontamination vs the bounded benchmark gram set --
        if bench_grams:
            contam = F.exists(
                _shingle_grams(F.col("text")), lambda g: g.isin(*bench_grams)
            )
        else:
            contam = F.lit(False)
        base = base.withColumn("contaminated", contam)

        # -- commit: audit rows + accepted index rows, per-batch
        # overwrite.  decided is persisted across the two actions so the
        # whole gate cascade (index scans, window, signature pass, band
        # joins, exact-Jaccard verify) runs once per batch, not once per
        # sink. --
        decided = base.withColumn(
            "accept",
            F.col("pass_q")
            & ~F.col("dup_within_batch")
            & ~F.col("dup_vs_corpus")
            & ~F.col("near_dup")
            & ~F.col("contaminated"),
        ).persist()
        decided.select(
            "doc_id",
            "source",
            "n_tok",
            "pass_q",
            "dup_within_batch",
            "corpus_match_id",
            "dup_vs_corpus",
            "near_match_id",
            "near_dup",
            "contaminated",
            "accept",
        ).write.mode("overwrite").parquet(
            corpus_dir.rstrip("/") + f"/decisions/ingest_batch={batch_id}"
        )
        empty_bands = F.array().cast(
            "array<struct<band:int,bkey:bigint>>"
        )
        accepted = (
            decided.where("accept")
            .join(mh, "doc_id", "left")
            .join(sh, "doc_id", "left")
            .select(
                "doc_id",
                "source",
                "n_tok",
                "h",
                F.coalesce(
                    F.col("sig"), F.array().cast("array<bigint>")
                ).alias("sig"),
                # band keys precomputed once here so every future
                # batch's candidate join reads them instead of
                # re-hashing the corpus (same _bands_from_sig path)
                F.when(
                    F.size("sig") == N_HASHES,
                    _bands_from_sig(F.col("sig")),
                )
                .otherwise(empty_bands)
                .alias("bands"),
                # budget-bounded shingle state: stored only when the doc
                # has at most shingle_state_budget distinct shingles, so
                # future batches can verify candidate pairs against this
                # doc by EXACT Jaccard; null (over budget / no shingles)
                # selects the signature-estimate fallback
                F.when(
                    F.size("s") <= F.lit(int(shingle_state_budget)),
                    F.col("s"),
                ).alias("s"),
            )
        )
        accepted.write.mode("overwrite").parquet(
            index_root + f"/ingest_batch={batch_id}"
        )
    finally:
        for cached in (decided, mh):
            if cached is not None:
                cached.unpersist()
        sh.unpersist()


def corpus_maintain_foreach_batch(
    docs: DataFrame,
    corpus_dir: str,
    bench_grams: tuple[str, ...] = (),
    checkpoint_dir: str | None = None,
    shingle_state_budget: int = 512,
):
    """Streaming corpus maintenance: run pipeline_corpus_build's ingest
    gate incrementally over a document stream under ``availableNow``
    micro-batches — the streaming form of the corpus-build funnel
    (quality -> exact dedup -> near-dup -> decontamination), with
    checkpointed progress and idempotent per-batch commits.  See
    ``corpus_apply_ingest_batch`` for stage semantics, state layout,
    and the one documented divergence from the batch cascade.

    ``checkpointLocation`` is set HERE (default
    ``{corpus_dir}/_checkpoint``) rather than left to the caller: the
    per-batch overwrite doctrine is only idempotent if ``batch_id``
    numbering is continuous across restarts.  A temp checkpoint (what
    Spark falls back to when none is set) restarts from batch 0 with
    potentially different batch boundaries, leaving stale
    ``ingest_batch=N`` partitions from the prior run in the index log —
    docs double-counted, dedup state corrupted.  Callers may still
    override via ``.option("checkpointLocation", ...)`` on the returned
    writer (last set wins); what they can no longer do is accidentally
    run without one."""
    if checkpoint_dir is None:
        checkpoint_dir = corpus_dir.rstrip("/") + "/_checkpoint"

    def apply_batch(batch: DataFrame, batch_id: int) -> None:
        corpus_apply_ingest_batch(
            batch, batch_id, corpus_dir, bench_grams,
            shingle_state_budget=shingle_state_budget,
        )

    return (
        docs.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
    )


def _lock_owner_of(spark, fs, lock) -> str | None:
    """``run_id`` recorded in the lock file at ``lock`` (a Hadoop
    ``Path``), or ``None`` if the file is absent/unreadable (never
    raises — an unreadable lock is treated as foreign and left alone)."""
    import json as _json

    try:
        stream = fs.open(lock)
        try:
            raw = bytes(
                spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream)
            )
        finally:
            stream.close()
        return _json.loads(raw.decode("utf-8")).get("run_id")
    except Exception:
        return None


def _reclaim_stale_lock(fs, jvm_path, lock, lock_ttl_sec, run_id) -> bool:
    """Atomically claim an expired maintenance lock for reclamation.

    RENAME the stale lock to a run-unique tombstone, then VERIFY the
    captured file's mtime really is past the TTL.  Both halves matter:

    - rename is the atomic claim primitive — it fails once the source
      is gone, so of N reclaimers that all observed the same expired
      lock, at most one holds any given file.  (The pre-round-12
      delete-then-create form admitted two maintenance jobs outright:
      A deletes and re-acquires; B then deletes A's FRESH lock and
      acquires too.)
    - the post-capture mtime check is what makes the claim
      CONDITIONAL: a loser whose rename lands after the winner's
      fresh ``create`` captures the winner's NEW lock, not the stale
      one — rename takes whatever is at the path.  Mtime discriminates
      exactly (a fresh lock is always a newly created file; nothing
      rewrites a lock in place), so a captured-fresh lock is renamed
      straight back and the reclaim reports lost.  Residual: if a
      third job acquires during that displacement the restore fails
      and the capture is dropped — the same microsecond-scale,
      crash-window-bounded residual as the release path.

    The winner's stale tombstone is deleted immediately; a crash
    before that leaves an inert, never-re-read file, not a blocker.
    Assumes rename preserves the file's own mtime (POSIX and HDFS
    both do); a store that refreshed mtime on rename would only make
    stale locks look fresh here — refusal and restore, never a double
    admission, so the failure direction is safe.  The same doctrine
    covers a capture whose stat FAILS outright: staleness unproven ->
    restore and report lost (round 13; deleting on an age=inf guess
    was the one path that failed toward double admission).  Returns
    True iff THIS run captured the provenly stale lock.
    """
    import time

    tomb = jvm_path(lock.toString() + ".reclaim." + run_id)
    try:
        won = bool(fs.rename(lock, tomb))
    except Exception:
        won = False
    if not won:
        return False
    try:
        age_sec = (
            time.time() * 1000.0
            - fs.getFileStatus(tomb).getModificationTime()
        ) / 1000.0
        proven_stale = age_sec > lock_ttl_sec
    except Exception:
        # UNSTATTABLE capture: we cannot prove it stale, and deleting
        # it on faith is the one outcome that fails toward DOUBLE
        # admission (a transient stat failure on a winner's fresh lock
        # would kill the live lock).  Fail safe exactly like the
        # fresh-capture path: rename it back and report the reclaim
        # lost — worst case the genuinely stale lock survives one more
        # TTL probe.
        proven_stale = False
    if proven_stale:
        try:
            fs.delete(tomb, False)
        except Exception:
            pass  # unique name, never re-read: an orphan is inert
        return True
    # captured a FRESH lock (a winner re-created between our staleness
    # stat and our rename) — or one we could not stat: give it back
    # untouched
    try:
        restored = bool(fs.rename(tomb, lock))
    except Exception:
        restored = False
    if not restored:
        try:
            fs.delete(tomb, False)
        except Exception:
            pass
    return False


def _capture_release_owned(spark, fs, jvm_path, lock, run_id) -> None:
    """Release the maintenance lock iff it is still THIS run's: RENAME
    it to a run-unique capture name (atomic — takes whatever file is
    at the lock path in one step), then verify the CAPTURED payload.
    Ours -> delete it (released).  Foreign (a reclaimer rewrote the
    lock between the caller's ownership read and the rename) -> rename
    it straight back, untouched.  This closes the read-then-delete
    TOCTOU of a plain ownership-checked delete: a foreign lock can be
    briefly displaced but never deleted.  Residual window: if a THIRD
    job acquires during that displacement, the restore fails and the
    displaced reclaimer runs on without its lock file — strictly
    narrower than the delete form (needs TWO back-to-back races inside
    microsecond windows) and bounded, as ever, by the crash-window
    doctrine (duplicates, never loss).
    """
    cap = jvm_path(lock.toString() + ".release." + run_id)
    try:
        captured = bool(fs.rename(lock, cap))
    except Exception:
        captured = False
    if not captured:
        return  # lock already gone or re-claimed: nothing of ours to free
    if _lock_owner_of(spark, fs, cap) == run_id:
        # Runs from _maintenance_lock's finally: a transient delete
        # failure must not mask the context body's real exception.
        # The orphaned capture sits at a run-unique .release.<run_id>
        # name nothing re-reads — inert, per the tombstone doctrine.
        try:
            fs.delete(cap, False)
        except Exception:
            pass
        return
    try:
        restored = bool(fs.rename(cap, lock))
    except Exception:
        restored = False
    if not restored:
        # a third lock landed at the lock path mid-displacement: drop
        # the orphaned capture (unique name, never re-read)
        try:
            fs.delete(cap, False)
        except Exception:
            pass


@contextlib.contextmanager
def _maintenance_lock(spark, index_root: str, lock_ttl_sec: float, job: str):
    """Single-flight lock shared by ALL corpus maintenance jobs
    (``corpus_compact_index``, ``corpus_decisions_retain``): one
    ``{index_root}/_compact_lock`` marker serializes them against each
    other, so a retention sweep can never run beside a compaction.

    Doctrine (hoisted verbatim from the compaction job that grew it):
    atomic create-if-absent via ``FileSystem.create(path, False)``;
    a FRESH existing lock -> raise (another maintenance job is live);
    a lock older than ``lock_ttl_sec`` -> a crashed run's leftover,
    reclaimed by an atomic RENAME (:func:`_reclaim_stale_lock`), so
    two jobs that both observe the same expired lock can never both
    proceed.  ``lock_ttl_sec`` must exceed the deployment's
    worst-case maintenance wall-clock: a LIVE run that outlives the
    TTL can have its lock reclaimed, and the OWNERSHIP-CHECKED release
    below is what keeps that a single failure — the ``finally``
    re-reads the lock payload and frees it only if it still carries
    THIS run's id, via rename-capture-then-verify
    (:func:`_capture_release_owned`), so an outlived first run cannot
    delete the reclaimer's lock and admit a third job.  A payload
    write that fails mid-acquire deletes the half-created lock before
    re-raising rather than leaving an ownerless blocker behind.

    Clock-skew assumption: staleness compares the DRIVER's
    ``time.time()`` against the filesystem's own modification time
    (HDFS namenode / object-store clock).  Driver-vs-store skew
    therefore shifts the effective TTL by the skew amount — a fresh
    lock can be misjudged stale (skew ahead) or a crashed one held
    past the TTL (skew behind).  Size ``lock_ttl_sec`` with headroom
    for the deployment's worst-case skew on top of the worst-case
    maintenance wall-clock; NTP-grade skew (sub-second) is noise
    against the hour-scale default.
    """
    import json as _json
    import time
    import uuid

    run_id = uuid.uuid4().hex
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    lock = jvm_path(index_root + "/_compact_lock")
    fs = lock.getFileSystem(spark._jsc.hadoopConfiguration())

    def _try_acquire() -> bool:
        # FileSystem.create(path, overwrite=False) is the atomic
        # create-if-absent primitive on both HDFS and local FS
        try:
            out = fs.create(lock, False)
        except Exception:
            return False
        try:
            out.write(bytearray(_json.dumps(
                {"run_id": run_id, "job": job, "acquired_unix": time.time()}
            ).encode("utf-8")))
            out.close()
        except Exception:
            # the create succeeded but the payload didn't land: an
            # ownerless lock left behind here would block every
            # maintenance job until the TTL expired.  Release it before
            # re-raising (best-effort close first — some FS streams
            # hold the lease until closed).
            try:
                out.close()
            except Exception:
                pass
            fs.delete(lock, False)
            raise
        return True

    def _release_if_owned() -> None:
        # Free only the lock THIS run wrote.  If this run outlived
        # lock_ttl_sec, a second invocation may have reclaimed the lock
        # and written its own run_id — deleting that blindly would let
        # a THIRD maintenance job start while the second still runs.
        # An unreadable or missing lock is left alone for the same
        # reason (worst case: the TTL reclaims it).  The ownership read
        # here is a cheap pre-filter; the atomic rename-capture inside
        # _capture_release_owned is what makes the release race-safe.
        if _lock_owner_of(spark, fs, lock) == run_id:
            _capture_release_owned(spark, fs, jvm_path, lock, run_id)

    if not _try_acquire():
        # a lock exists: fresh -> a live maintenance job, refuse; older
        # than the TTL -> a crashed run's leftover, reclaim (the
        # crash-window doctrine makes the half-done state safe to
        # re-enter).  The freshness source is the FS's own mtime, not
        # the (crashed writer's) payload.  If the holder releases
        # between our failed create and the stat, just acquire.
        try:
            age_sec = (
                time.time() * 1000.0
                - fs.getFileStatus(lock).getModificationTime()
            ) / 1000.0
        except Exception:
            age_sec = float("inf")
        if age_sec <= lock_ttl_sec:
            raise RuntimeError(
                f"{job}: another maintenance job holds "
                f"{index_root}/_compact_lock (age {age_sec:.1f}s <= ttl "
                f"{lock_ttl_sec:.0f}s); corpus maintenance is "
                "single-flight — wait for it or, if it crashed, let "
                "the TTL reclaim"
            )
        # Whatever the reclaim outcome, the atomic create below is the
        # real admission gate: a reclaim LOSS just means someone else
        # cleared (or kept) the path — if the lock is simply gone (the
        # holder released between our failed create and the stat, or
        # the rename winner hasn't re-created yet), the create wins
        # and exactly one job still proceeds.
        reclaimed = _reclaim_stale_lock(
            fs, jvm_path, lock, lock_ttl_sec, run_id
        )
        if not _try_acquire():
            raise RuntimeError(
                f"{job}: lost the race on {index_root}/_compact_lock "
                + ("re-acquiring after reclaiming a stale one"
                   if reclaimed else
                   "— another maintenance job reclaimed the stale lock "
                   "first; single-flight holds")
            )
    try:
        yield
    finally:
        _release_if_owned()


def corpus_compact_index(
    spark,
    corpus_dir: str,
    upto_batch: int | None = None,
    target_files: int | None = None,
    lock_ttl_sec: float = 3600.0,
) -> dict:
    """Compact the streaming corpus index log: merge the per-batch
    partitions ``ingest_batch=0..upto_batch`` (plus any existing base)
    into ONE base partition ``ingest_batch=-1`` — the maintenance job
    the ingest gate's own scale accounting calls for (its per-batch
    index scans are O(corpus) in FILE COUNT as much as bytes; after N
    ingest batches an uncompacted log plans N listing calls and N
    footer reads per scan).  ``-1`` sorts below every real batch id, so
    the gate's ``ingest_batch < batch_id`` state filter picks the base
    up unchanged — no reader-side changes.

    Safety doctrine (this is a directory-layout approximation of the
    transactional MERGE a production deployment would use — Iceberg /
    Delta compaction):

    - only batches STRICTLY BELOW the newest committed batch may be
      compacted (default ``upto_batch = newest - 1``): foreachBatch is
      at-least-once, and the newest batch is the only one a restarted
      stream can redeliver — its per-batch overwrite must keep owning
      its own partition.  Asking for the newest (or higher) raises.
    - every step prefers DUPLICATES over loss, because the gate's
      reads tolerate duplicates exactly (hash index = min(doc_id) per
      h; band candidates are distinct-then-min) while a lost row
      silently re-admits a dup document.  The merged rows are staged
      under a run-unique ``_compact_tmp-*`` dir (underscore prefix:
      invisible to Spark's file index), then MOVED file-by-file into
      the base partition (per-file rename = the atomic unit), and only
      then are the old base files and source partitions deleted.  A
      crash at any point leaves every row visible at least once;
      re-running the job converges (the merge reads whatever is
      visible and dedupes on (doc_id, h) — copies of a ROW are
      byte-identical by construction, but a doc_id REUSED across
      batches with different text is two distinct index entries whose
      hashes must both survive, so doc_id alone is not the dedupe key).
    - output file count is sized from the LISTED byte total
      (ceil(bytes / spark.sql.files.maxPartitionBytes)), not guessed,
      unless ``target_files`` overrides it.
    - SINGLE-FLIGHT, quiesced ingest — ENFORCED, not just documented:
      the job runs under :func:`_maintenance_lock` (atomic
      create-if-absent of ``{index}/_compact_lock``, TTL reclaim of
      crashed runs, ownership-checked release — full doctrine on the
      lock itself, including why ``lock_ttl_sec`` must exceed
      worst-case compaction wall-clock).  The lock is SHARED with
      ``corpus_decisions_retain``, so maintenance jobs also serialize
      against each other.  It guards maintenance-vs-maintenance only;
      quiescing INGEST remains the caller's job (a different session's
      already-planned scan would hit deleted part files; the refresh
      below can only fix THIS session's listing cache).  The
      availableNow trigger makes the quiesce natural — compact between
      drains.  Stale ``_compact_tmp-*`` leftovers from a crashed run
      are deleted after the lock is held (deleting them unlocked could
      destroy a LIVE run's staging).

    Per-row arrival provenance (which batch a doc landed in) is NOT
    kept in the compacted base — ``{corpus_dir}/decisions`` is the
    audit log and keeps it until ``corpus_decisions_retain`` expires
    it; the index is dedup state.

    Returns a report: compacted batch ids, rows in the new base, and
    file counts before/after over the compacted region.
    """
    index_root = corpus_dir.rstrip("/") + "/index"
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    fs = jvm_path(index_root).getFileSystem(spark._jsc.hadoopConfiguration())
    root = jvm_path(index_root)
    if not fs.exists(root):
        return {"compacted_batches": [], "base_rows": 0,
                "files_before": 0, "files_after": 0}

    with _maintenance_lock(
        spark, index_root, lock_ttl_sec, "corpus_compact_index"
    ):
        return _corpus_compact_index_locked(
            spark, index_root, upto_batch, target_files, jvm_path, fs, root
        )


def _compact_swap_files(fs, jvm_path, tmp, base_dir) -> int:
    """Move the staged merge files into the base partition (per-file
    rename = the atomic unit).  Module-level so tests can interleave an
    ingest batch at the staging->swap seam — the crash-window doctrine's
    "duplicates visible, never loss" claim is pinned there, not just
    stated."""
    moved = 0
    for st in fs.listStatus(jvm_path(tmp)):
        n = st.getPath().getName()
        if n.startswith("_") or n.startswith("."):
            continue
        if not fs.rename(st.getPath(), jvm_path(base_dir.toString() + "/" + n)):
            raise IOError(f"rename failed: {st.getPath()} -> {base_dir}")
        moved += 1
    return moved


def _ingest_batch_id(name: str) -> int | None:
    """Batch id from an ``ingest_batch=N`` directory name, or ``None``
    when the value part is not an integer — a stray hand-made dir or a
    ``ingest_batch=__HIVE_DEFAULT_PARTITION__`` must be SKIPPED by the
    maintenance sweeps, not abort them mid-lock with a ``ValueError``
    (the gate itself only ever writes integer ids, so a non-integer
    name is by definition foreign and not maintenance's to touch)."""
    try:
        return int(name.split("=", 1)[1])
    except ValueError:
        return None


def _corpus_compact_index_locked(
    spark, index_root, upto_batch, target_files, jvm_path, fs, root
) -> dict:
    """Body of :func:`corpus_compact_index`; caller holds _compact_lock."""
    import math
    import uuid

    part_ids: dict[int, object] = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("_compact_tmp"):
            # crashed prior run's staging dir: every row it holds is
            # still visible in the source partitions (tmp is only
            # deleted AFTER its files move), so this is pure garbage
            fs.delete(st.getPath(), True)
        elif name.startswith("ingest_batch="):
            bid = _ingest_batch_id(name)
            if bid is not None:
                part_ids[bid] = st.getPath()
    real = sorted(i for i in part_ids if i >= 0)
    if not real:
        return {"compacted_batches": [], "base_rows": 0,
                "files_before": 0, "files_after": 0}
    newest = real[-1]
    if upto_batch is None:
        upto_batch = newest - 1
    if upto_batch >= newest:
        raise ValueError(
            f"cannot compact ingest_batch={newest}: the newest committed "
            "batch is the one a restarted stream can redeliver and must "
            f"keep owning its partition (upto_batch={upto_batch})"
        )
    todo = [i for i in real if i <= upto_batch]
    has_base = -1 in part_ids
    if not todo:
        return {"compacted_batches": [], "base_rows": 0,
                "files_before": 0, "files_after": 0}

    # listed byte total + file census over the region being rewritten
    src_paths = [part_ids[i] for i in todo] + ([part_ids[-1]] if has_base else [])
    old_files = []  # data files to delete after the swap
    total_bytes = 0
    for p in src_paths:
        for st in fs.listStatus(p):
            n = st.getPath().getName()
            if n.startswith("_") or n.startswith("."):
                continue
            old_files.append(st.getPath())
            total_bytes += st.getLen()
    files_before = len(old_files)

    if target_files is None:
        raw = spark.conf.get("spark.sql.files.maxPartitionBytes", "134217728")
        # Spark renders byte confs as "134217728b" but accepts every
        # JavaUtils size form ("128m", "1g", "1t", ...) — parse with
        # Spark's own parser rather than a hand-rolled suffix subset
        max_pb = int(
            spark._jvm.org.apache.spark.network.util.JavaUtils
            .byteStringAsBytes(raw)
        )
        target_files = max(1, math.ceil(total_bytes / max_pb))

    merged = (
        spark.read.schema(_CORPUS_INDEX_SCHEMA)
        .option("basePath", index_root)
        .parquet(*[p.toString() for p in src_paths])
        # crash-tolerant re-runs may see a ROW twice; copies of a row
        # are identical, so any representative is correct.  Key on
        # (doc_id, h), NOT doc_id alone: nothing in the gate forbids a
        # doc_id reappearing in a later batch with different text, and
        # both hash entries are live dedup state
        .dropDuplicates(["doc_id", "h"])
        .drop("ingest_batch")
        .repartition(target_files)
    )
    tmp = index_root + "/_compact_tmp-" + uuid.uuid4().hex
    merged.write.mode("overwrite").parquet(tmp)

    base_dir = jvm_path(index_root + "/ingest_batch=-1")
    fs.mkdirs(base_dir)
    moved = _compact_swap_files(fs, jvm_path, tmp, base_dir)
    # new base files are all visible from here on; everything below
    # only removes now-redundant copies
    for p in old_files:
        fs.delete(p, False)
    for i in todo:
        fs.delete(part_ids[i], True)
    fs.delete(jvm_path(tmp), True)
    # Spark writers invalidate the session's file-listing cache for the
    # paths they write; the raw FileSystem renames/deletes above do NOT,
    # so a same-session reader (the next ingest batch) could plan against
    # stale listings — deleted part files or a missed base.  Invalidate
    # explicitly.
    spark.catalog.refreshByPath(index_root)

    base_rows = (
        spark.read.schema(_CORPUS_INDEX_SCHEMA)
        .option("basePath", index_root)
        .parquet(base_dir.toString())
        .count()
    )
    return {
        "compacted_batches": todo,
        "base_rows": base_rows,
        "files_before": files_before,
        "files_after": moved,
    }


def corpus_decisions_retain(
    spark,
    corpus_dir: str,
    keep_batches: int,
    lock_ttl_sec: float = 3600.0,
    dry_run: bool = False,
) -> dict:
    """Retention sweep for the per-batch audit log
    ``{corpus_dir}/decisions``: keep the NEWEST ``keep_batches``
    partitions (by batch id), delete the rest.

    Why it exists: the ingest gate appends one
    ``decisions/ingest_batch=N`` partition per micro-batch with no
    bound.  That is deliberately NOT dedup state — nothing in the gate
    ever re-reads a decision row, so the growth costs auditor listing
    time and namenode/object-store file count, never correctness.  At
    100 TB / years of batches the file count still needs a policy;
    this sweeper is the directory-layout stand-in for the retention
    VACUUM a transactional table format provides (a production
    deployment would archive expired partitions to cold storage before
    deleting — this models only the expiry decision).

    Safety doctrine:

    - ``keep_batches >= 1`` enforced: the newest batch is the only one
      an at-least-once restart can redeliver, and its redelivery
      re-OVERWRITES its own audit partition — expiring it would turn a
      redelivery into a resurrection of just-deleted audit rows, so
      the newest partition is never eligible.
    - runs under the SAME single-flight lock as
      ``corpus_compact_index`` (:func:`_maintenance_lock` on
      ``{index}/_compact_lock``), so retention never races compaction
      or a second retention sweep.
    - expiry is oldest-first, one recursive partition delete per batch
      id; a crash mid-sweep leaves a suffix of the expired partitions
      behind and a re-run converges (idempotent — the retention set is
      recomputed from what exists).
    - ``dry_run=True`` only LISTS what would expire, takes no lock and
      deletes nothing (a read-only probe must not block or be blocked
      by live maintenance).

    Scale: O(partitions) driver-side listing — bounded by batch count,
    not data size; no Spark job is launched at all.

    Returns ``{"kept_batches": [...], "deleted_batches": [...],
    "files_deleted": n, "dry_run": bool}`` (``files_deleted`` counts
    the expired partitions' visible data files; on a dry run, the
    count that WOULD be deleted).
    """
    if int(keep_batches) < 1:
        raise ValueError(
            f"keep_batches must be >= 1 (got {keep_batches}): the newest "
            "batch's audit partition can be rewritten by an at-least-once "
            "redelivery and is never eligible for expiry"
        )
    decisions_root = corpus_dir.rstrip("/") + "/decisions"
    index_root = corpus_dir.rstrip("/") + "/index"
    jvm_path = spark._jvm.org.apache.hadoop.fs.Path
    droot = jvm_path(decisions_root)
    fs = droot.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(droot):
        return {"kept_batches": [], "deleted_batches": [],
                "files_deleted": 0, "dry_run": bool(dry_run)}

    def _sweep() -> dict:
        parts: dict[int, object] = {}
        for st in fs.listStatus(droot):
            name = st.getPath().getName()
            if st.isDirectory() and name.startswith("ingest_batch="):
                bid = _ingest_batch_id(name)
                if bid is not None:
                    parts[bid] = st.getPath()
        ids = sorted(parts)
        kept = ids[-int(keep_batches):]
        expired = ids[: -int(keep_batches)]
        files = 0
        for i in expired:
            try:
                files += sum(
                    1
                    for s in fs.listStatus(parts[i])
                    if not s.getPath().getName().startswith(("_", "."))
                )
            except Exception:
                if dry_run:
                    # the lock-free probe can race a LIVE locked sweep:
                    # a partition expiring under its feet is the sweep
                    # doing its job, not a probe error
                    continue
                raise
            if not dry_run:
                fs.delete(parts[i], True)
        if expired and not dry_run:
            # raw FileSystem deletes bypass the session's file-listing
            # cache (same hazard as compaction's renames) — invalidate
            # so a same-session auditor replans
            spark.catalog.refreshByPath(decisions_root)
        return {
            "kept_batches": kept,
            "deleted_batches": expired,
            "files_deleted": files,
            "dry_run": bool(dry_run),
        }

    if dry_run:
        return _sweep()
    with _maintenance_lock(
        spark, index_root, lock_ttl_sec, "corpus_decisions_retain"
    ):
        return _sweep()
