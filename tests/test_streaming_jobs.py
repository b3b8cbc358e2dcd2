"""True-streaming jobs: watermarked tumbling/session windows and
streaming dedup over a file-stream source (no broker in env; the plans
are source-agnostic so the Kafka path is identical)."""

from __future__ import annotations

import json
import os

from kafka_hadoop_loader_spark.streaming import jobs
from kafka_hadoop_loader_spark.streaming.loader import LoaderConfig, _read_stream, transform

BASE_US = 1_704_067_200_000_000


def _write_events(path: str, recs: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in recs:
            f.write(json.dumps(r) + "\n")


def _stream(spark, tmp_path):
    cfg = LoaderConfig(input_path=str(tmp_path / "in"))
    raw = transform(cfg, _read_stream(spark, cfg))
    rec = raw.selectExpr(
        "from_json(payload, 'event_id bigint, ts bigint, user_id bigint,"
        " event_type string, value double, props string') AS r",
        "event_ts",
    ).select("r.event_id", "r.user_id", "r.event_type", "r.value", "event_ts")
    return rec


def _run_to_memory(df, name: str, output_mode: str):
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return q


def test_tumbling_window_stream(spark, tmp_path):
    recs = [
        {"event_id": i, "ts": BASE_US + i * 600_000_000, "user_id": i % 3,
         "event_type": "click" if i % 2 else "view", "value": 1.0, "props": "{}"}
        for i in range(12)  # 2 hours of events, 10 min apart
    ]
    _write_events(str(tmp_path / "in" / "a.jsonl"), recs)
    df = jobs.hourly_counts_stream(_stream(spark, tmp_path))
    _run_to_memory(df, "tumbling_t", "complete")
    rows = spark.sql("SELECT * FROM tumbling_t ORDER BY window_start, event_type").collect()
    # 12 events over 2 hours -> 2 windows x 2 types
    assert len(rows) == 4
    assert sum(r.n_events for r in rows) == 12


def test_session_window_stream(spark, tmp_path):
    # two sessions per user separated by > 30min gap
    recs = []
    for u in range(2):
        for s in range(2):
            for i in range(3):
                recs.append(
                    {"event_id": len(recs), "ts": BASE_US + s * 3_600_000_000 + i * 60_000_000 + u * 7_000_000,
                     "user_id": u, "event_type": "click", "value": 1.0, "props": "{}"}
                )
    _write_events(str(tmp_path / "in" / "a.jsonl"), recs)
    df = jobs.session_counts_stream(_stream(spark, tmp_path))
    _run_to_memory(df, "session_t", "complete")
    rows = spark.sql("SELECT * FROM session_t").collect()
    assert len(rows) == 4  # 2 users x 2 sessions
    assert all(r.n_events == 3 for r in rows)


def test_streaming_dedup(spark, tmp_path):
    recs = [
        {"event_id": i % 5, "ts": BASE_US + (i % 5) * 1_000_000, "user_id": 0,
         "event_type": "click", "value": 1.0, "props": "{}"}
        for i in range(15)  # every event duplicated 3x
    ]
    _write_events(str(tmp_path / "in" / "a.jsonl"), recs)
    df = jobs.dedup_stream(_stream(spark, tmp_path))
    _run_to_memory(df, "dedup_t", "append")
    rows = spark.sql("SELECT DISTINCT event_id FROM dedup_t").collect()
    assert spark.sql("SELECT COUNT(*) c FROM dedup_t").first().c == 5
    assert len(rows) == 5


def test_stream_stream_interval_join(spark, tmp_path):
    """Clicks join the same user's views within a 10-minute attribution
    window; views outside the window (or other users') must not match."""
    recs = []
    # user 0: view at t0, click at t0+5min  -> joins
    # user 1: view at t0, click at t0+20min -> outside window, no join
    # user 2: click at t0+5min, no view     -> no join
    recs.append({"event_id": 0, "ts": BASE_US, "user_id": 0,
                 "event_type": "view", "value": 1.0, "props": "{}"})
    recs.append({"event_id": 1, "ts": BASE_US + 300_000_000, "user_id": 0,
                 "event_type": "click", "value": 1.0, "props": "{}"})
    recs.append({"event_id": 2, "ts": BASE_US, "user_id": 1,
                 "event_type": "view", "value": 1.0, "props": "{}"})
    recs.append({"event_id": 3, "ts": BASE_US + 1_200_000_000, "user_id": 1,
                 "event_type": "click", "value": 1.0, "props": "{}"})
    recs.append({"event_id": 4, "ts": BASE_US + 300_000_000, "user_id": 2,
                 "event_type": "click", "value": 1.0, "props": "{}"})
    _write_events(str(tmp_path / "in" / "a.jsonl"), recs)
    src = _stream(spark, tmp_path)
    clicks = src.where("event_type = 'click'")
    views = src.where("event_type = 'view'")
    df = jobs.clicks_attributed_to_views_stream(clicks, views)
    _run_to_memory(df, "ssjoin_t", "append")
    rows = spark.sql("SELECT * FROM ssjoin_t ORDER BY click_id").collect()
    assert [(r.click_id, r.view_id, r.user_id) for r in rows] == [(1, 0, 0)]


def test_stateful_running_stats_across_batches(spark, tmp_path):
    """applyInPandasWithState carries per-user state across micro-batches:
    two input files processed as two batches (maxFilesPerTrigger=1) must
    yield cumulative counts in the second batch's update rows."""
    recs1 = [
        {"event_id": i, "ts": BASE_US + i * 60_000_000, "user_id": i % 2,
         "event_type": "click", "value": float(i), "props": "{}"}
        for i in range(6)
    ]
    recs2 = [
        {"event_id": 100 + i, "ts": BASE_US + (100 + i) * 60_000_000,
         "user_id": i % 2, "event_type": "view", "value": 50.0 + i, "props": "{}"}
        for i in range(4)
    ]
    _write_events(str(tmp_path / "in" / "a.jsonl"), recs1)
    _write_events(str(tmp_path / "in" / "b.jsonl"), recs2)

    from kafka_hadoop_loader_spark.streaming.loader import (
        LoaderConfig,
        _read_stream,
        transform,
    )

    cfg = LoaderConfig(input_path=str(tmp_path / "in"), max_files_per_trigger=1)
    raw = transform(cfg, _read_stream(spark, cfg))
    rec = raw.selectExpr(
        "from_json(payload, 'event_id bigint, ts bigint, user_id bigint,"
        " event_type string, value double, props string') AS r",
        "event_ts",
    ).select("r.event_id", "r.user_id", "r.value", "event_ts")

    from kafka_hadoop_loader_spark.streaming import jobs

    df = jobs.user_running_stats_stream(rec)
    q = (
        df.writeStream.format("memory")
        .queryName("stateful_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM stateful_t").collect()
    # update mode appends one row per user per batch; the cumulative
    # count per user across ALL rows must peak at the true totals
    per_user_max = {}
    for r in rows:
        per_user_max[r.user_id] = max(per_user_max.get(r.user_id, 0), r.n_events)
    assert per_user_max == {0: 5, 1: 5}
    # two batches really ran (one update row per user per batch), and an
    # intermediate count (2 or 3 depending on which file came first) is
    # visible — i.e. the final 5 came from state carried across batches,
    # not one big batch
    assert len(rows) == 4
    intermediates = sorted(r.n_events for r in rows)[:2]
    assert intermediates in ([2, 2], [3, 3])
    assert sorted(r.n_events for r in rows)[2:] == [5, 5]
    # and max_value reflects the second batch's larger values
    assert max(r.max_value for r in rows) == 53.0


def test_foreach_batch_upsert_state(spark, tmp_path):
    state_dir = str(tmp_path / "state")
    ckpt = str(tmp_path / "ckpt_upsert")

    # batch 1: users 1 and 2
    _write_events(
        str(tmp_path / "in" / "b1.json"),
        [
            {"event_id": 1, "ts": BASE_US, "user_id": 1,
             "event_type": "view", "value": 1.0, "props": "{}"},
            {"event_id": 2, "ts": BASE_US + 1_000_000, "user_id": 2,
             "event_type": "click", "value": 2.0, "props": "{}"},
            # same-key older record in the same batch: must lose to event 2
            {"event_id": 3, "ts": BASE_US + 500_000, "user_id": 2,
             "event_type": "view", "value": 9.0, "props": "{}"},
        ],
    )
    rec = _stream(spark, tmp_path)
    q = jobs.upsert_state_foreach_batch(rec, state_dir).option(
        "checkpointLocation", ckpt
    ).start()
    q.awaitTermination(120)

    cur = {r["user_id"]: r for r in spark.read.parquet(state_dir + "/current").collect()}
    assert set(cur) == {1, 2}
    assert cur[2]["event_id"] == 2 and cur[2]["value"] == 2.0

    # batch 2: update user 1, insert user 3; user 2 must persist untouched
    _write_events(
        str(tmp_path / "in" / "b2.json"),
        [
            {"event_id": 4, "ts": BASE_US + 2_000_000, "user_id": 1,
             "event_type": "purchase", "value": 10.0, "props": "{}"},
            {"event_id": 5, "ts": BASE_US + 3_000_000, "user_id": 3,
             "event_type": "signup", "value": 0.5, "props": "{}"},
        ],
    )
    rec2 = _stream(spark, tmp_path)
    q2 = jobs.upsert_state_foreach_batch(rec2, state_dir).option(
        "checkpointLocation", ckpt
    ).start()
    q2.awaitTermination(120)

    cur = {r["user_id"]: r for r in spark.read.parquet(state_dir + "/current").collect()}
    assert set(cur) == {1, 2, 3}
    assert cur[1]["event_id"] == 4 and cur[1]["event_type"] == "purchase"
    assert cur[2]["event_id"] == 2  # untouched key carried forward
    assert cur[3]["event_type"] == "signup"


def test_stream_static_enrichment(spark, tmp_path):
    recs = [
        {"event_id": i, "ts": BASE_US + i * 60_000_000, "user_id": i % 2,
         "event_type": ["click", "view", "error"][i % 3], "value": 1.0,
         "props": "{}"}
        for i in range(9)
    ]
    _write_events(str(tmp_path / "in" / "a.jsonl"), recs)
    dim = spark.createDataFrame(
        [("click", "engagement"), ("view", "engagement")],
        "event_type string, category string",
    )
    df = jobs.enrich_stream_static(_stream(spark, tmp_path), dim)
    _run_to_memory(df, "enrich_t", "append")
    rows = spark.sql("SELECT * FROM enrich_t ORDER BY event_id").collect()
    assert len(rows) == 9
    # left join: unmatched types fall back to 'unknown'
    cats = {r.event_type: r.category for r in rows}
    assert cats == {"click": "engagement", "view": "engagement",
                    "error": "unknown"}


def test_stream_stream_left_outer_join(spark, tmp_path):
    """Every view emits exactly once: converted views carry their click,
    unconverted views emit null-padded once the watermark passes their
    eligibility window (forced here by a far-future sentinel event)."""
    recs = [
        # user 0: view then click 5min later -> matched row
        {"event_id": 0, "ts": BASE_US, "user_id": 0,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 1, "ts": BASE_US + 300_000_000, "user_id": 0,
         "event_type": "click", "value": 1.0, "props": "{}"},
        # user 1: view, click only after the 10-min window -> null-padded
        {"event_id": 2, "ts": BASE_US, "user_id": 1,
         "event_type": "view", "value": 1.0, "props": "{}"},
        {"event_id": 3, "ts": BASE_US + 1_200_000_000, "user_id": 1,
         "event_type": "click", "value": 1.0, "props": "{}"},
    ]
    _write_events(str(tmp_path / "in" / "a.jsonl"), recs)
    # watermark pushers in LATER micro-batches: null-padded rows only
    # emit in a batch that runs with the watermark already past the
    # view's eligibility window, so two sentinel batches follow.  The
    # global watermark is the MIN across both inputs, so each sentinel
    # batch carries BOTH a view and a click to advance both sides.
    for i, fname in ((1, "b.jsonl"), (2, "c.jsonl")):
        _write_events(
            str(tmp_path / "in" / fname),
            [{"event_id": 90 + i, "ts": BASE_US + i * 86_400_000_000,
              "user_id": 9, "event_type": et, "value": 1.0, "props": "{}"}
             for et in ("view", "click")],
        )
    cfg = LoaderConfig(input_path=str(tmp_path / "in"), max_files_per_trigger=1)
    raw = transform(cfg, _read_stream(spark, cfg))
    src = raw.selectExpr(
        "from_json(payload, 'event_id bigint, ts bigint, user_id bigint,"
        " event_type string, value double, props string') AS r",
        "event_ts",
    ).select("r.event_id", "r.user_id", "r.event_type", "event_ts")
    views = src.where("event_type = 'view'")
    clicks = src.where("event_type = 'click'")
    df = jobs.views_with_optional_click_stream(views, clicks)
    _run_to_memory(df, "ssleft_t", "append")
    rows = spark.sql("SELECT * FROM ssleft_t ORDER BY view_id").collect()
    got = [(r.view_id, r.user_id, r.click_id) for r in rows if r.user_id != 9]
    assert got == [(0, 0, 1), (2, 1, None)]


def test_streaming_dedup_within_watermark(spark, tmp_path):
    """Redelivered records with the SAME id but jittered timestamps must
    collapse to one row — the case dropDuplicates([id, ts]) misses."""
    recs = [
        {"event_id": 7, "ts": BASE_US, "user_id": 0,
         "event_type": "click", "value": 1.0, "props": "{}"},
        # same id redelivered 3s later (producer retry w/ new ingest ts)
        {"event_id": 7, "ts": BASE_US + 3_000_000, "user_id": 0,
         "event_type": "click", "value": 1.0, "props": "{}"},
        {"event_id": 8, "ts": BASE_US + 60_000_000, "user_id": 1,
         "event_type": "view", "value": 1.0, "props": "{}"},
    ]
    _write_events(str(tmp_path / "in" / "a.jsonl"), recs)
    df = jobs.dedup_within_watermark_stream(_stream(spark, tmp_path))
    _run_to_memory(df, "dedup_wm_t", "append")
    rows = spark.sql("SELECT event_id FROM dedup_wm_t ORDER BY event_id").collect()
    assert [r.event_id for r in rows] == [7, 8]


def test_stateful_stats_on_rocksdb_state_store(spark, tmp_path):
    """The stateful operator must run unchanged on the RocksDB state
    store provider — the backend that holds 100 GB+ of streaming state
    per executor off-heap (the default HDFSBackedStateStore keeps state
    in JVM memory).  Same cumulative-count semantics, different
    checkpoint backend."""
    recs = [
        {"event_id": i, "ts": BASE_US + i * 60_000_000, "user_id": i % 2,
         "event_type": "click", "value": float(i), "props": "{}"}
        for i in range(6)
    ]
    _write_events(str(tmp_path / "in" / "a.jsonl"), recs)
    df = jobs.user_running_stats_stream(_stream(spark, tmp_path))
    q = (
        df.writeStream.format("memory")
        .queryName("rocks_t")
        .outputMode("update")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .option(
            "spark.sql.streaming.stateStore.providerClass",
            "org.apache.spark.sql.execution.streaming.state."
            "RocksDBStateStoreProvider",
        )
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = spark.sql("SELECT * FROM rocks_t ORDER BY user_id").collect()
    assert [(r.user_id, r.n_events) for r in rows] == [(0, 3), (1, 3)]


def test_statestore_reader_exposes_aggregate_state(spark, tmp_path):
    """Spark 4's `statestore` batch source reads a streaming
    checkpoint's state store as a DataFrame — queryable state, the
    operational debugging surface for the loader's stateful jobs: after
    a run, per-key state on disk must equal the aggregate the query
    emitted.  Also covers `state-metadata` (operator inventory)."""
    recs = [
        {"event_id": i, "ts": BASE_US + i * 60_000_000, "user_id": i % 3,
         "event_type": "click" if i % 2 else "view", "value": 1.0, "props": "{}"}
        for i in range(12)
    ]
    _write_events(str(tmp_path / "in" / "a.jsonl"), recs)
    ckpt = str(tmp_path / "state_ckpt")
    df = _stream(spark, tmp_path).groupBy("user_id").count()
    q = (
        df.writeStream.format("memory")
        .queryName("state_probe")
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    emitted = {
        r.user_id: r["count"]
        for r in spark.sql("SELECT * FROM state_probe").collect()
    }
    state = {
        r.key.user_id: r.value["count"]
        for r in spark.read.format("statestore").load(ckpt).collect()
    }
    assert state == emitted == {0: 4, 1: 4, 2: 4}
    meta = spark.read.format("state-metadata").load(ckpt).collect()
    assert len(meta) == 1 and meta[0].operatorName == "stateStoreSave"


def test_backfill_overwrite_days(spark, tmp_path):
    """Rate-limited backfill: one file per micro-batch, a day split
    across batches must not clobber itself, and a resumed run merges
    corrections idempotently while leaving untouched days alone."""
    target = str(tmp_path / "backfill_out")
    ckpt = str(tmp_path / "ckpt_backfill")
    day1, day2 = BASE_US, BASE_US + 86_400_000_000

    def rec(i, ts, value):
        return {"event_id": i, "ts": ts, "user_id": i % 2,
                "event_type": "view", "value": value, "props": "{}"}

    # three files -> three rate-limited batches; day1 spans f1+f2
    _write_events(str(tmp_path / "in" / "f1.jsonl"),
                  [rec(1, day1, 1.0), rec(2, day1 + 1_000_000, 2.0)])
    _write_events(str(tmp_path / "in" / "f2.jsonl"),
                  [rec(3, day1 + 2_000_000, 3.0), rec(4, day2, 4.0)])
    _write_events(str(tmp_path / "in" / "f3.jsonl"),
                  [rec(5, day2 + 1_000_000, 5.0)])

    def stream():
        cfg = LoaderConfig(input_path=str(tmp_path / "in"),
                           max_files_per_trigger=1)
        raw = transform(cfg, _read_stream(spark, cfg))
        return raw.selectExpr(
            "from_json(payload, 'event_id bigint, ts bigint, user_id bigint,"
            " event_type string, value double, props string') AS r",
            "event_ts",
        ).select("r.event_id", "r.user_id", "r.event_type", "r.value",
                 "event_ts")

    q = jobs.backfill_overwrite_days(stream(), target).option(
        "checkpointLocation", ckpt
    ).start()
    q.awaitTermination(120)

    out = {r["event_id"]: r for r in spark.read.parquet(target).collect()}
    assert set(out) == {1, 2, 3, 4, 5}  # day1 not clobbered across batches
    assert out[3]["value"] == 3.0
    day1_str = out[1]["d"]
    day1_mtime = max(
        os.path.getmtime(os.path.join(target, f"d={day1_str}", f))
        for f in os.listdir(os.path.join(target, f"d={day1_str}"))
        if f.endswith(".parquet")
    )

    # resumed run: a correction for event 4 (day2) only; day1 untouched
    _write_events(str(tmp_path / "in" / "f4.jsonl"),
                  [rec(4, day2, 44.0)])
    q2 = jobs.backfill_overwrite_days(stream(), target).option(
        "checkpointLocation", ckpt
    ).start()
    q2.awaitTermination(120)

    out = {r["event_id"]: r for r in spark.read.parquet(target).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[4]["value"] == 44.0  # batch wins over existing
    assert out[1]["value"] == 1.0
    day1_mtime2 = max(
        os.path.getmtime(os.path.join(target, f"d={day1_str}", f))
        for f in os.listdir(os.path.join(target, f"d={day1_str}"))
        if f.endswith(".parquet")
    )
    assert day1_mtime2 == day1_mtime  # untouched day was not rewritten
