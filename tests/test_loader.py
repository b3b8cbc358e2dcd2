"""Loader parity tests (SURVEY.md §2.A R1-R10): incremental bounded
load, offset resume via checkpoint, time-bucketed partitioned layout,
exactly-once on replay."""

from __future__ import annotations

import json
import os

import pytest

from kafka_hadoop_loader_spark.session import configure_runtime
from kafka_hadoop_loader_spark.streaming import loader
from kafka_hadoop_loader_spark.streaming.loader import (
    LoaderConfig,
    read_loaded,
    run_loader,
)
from tests.conftest import session_confs


def _write_jsonl(path: str, records: list[dict]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        for r in records:
            f.write(json.dumps(r) + "\n")


def _mk_events(start_id: int, n: int, base_us: int) -> list[dict]:
    return [
        {
            "event_id": start_id + i,
            "ts": base_us + i * 60_000_000,  # 1 min apart, microseconds
            "user_id": i % 5,
            "event_type": "click",
            "value": float(i),
            "props": json.dumps({"k": i}),
        }
        for i in range(n)
    ]


BASE_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


@pytest.fixture()
def loader_dirs(tmp_path):
    return {
        "input": str(tmp_path / "in"),
        "target": str(tmp_path / "out"),
        "checkpoint": str(tmp_path / "ckpt"),
    }


def test_incremental_load_and_layout(spark, loader_dirs):
    cfg = LoaderConfig(
        input_path=loader_dirs["input"],
        target_path=loader_dirs["target"],
        checkpoint_path=loader_dirs["checkpoint"],
    )
    # run 1: 120 events spanning 2 hours
    _write_jsonl(loader_dirs["input"] + "/batch1.jsonl", _mk_events(0, 120, BASE_US))
    run_loader(spark, cfg)
    out1 = read_loaded(spark, cfg.target_path)
    assert out1.count() == 120

    # R7: time-bucketed hive layout d=YYYY-MM-DD/h=HH
    d_dirs = [p for p in os.listdir(cfg.target_path) if p.startswith("d=")]
    assert d_dirs == ["d=2024-01-01"]
    h_dirs = sorted(os.listdir(os.path.join(cfg.target_path, "d=2024-01-01")))
    assert h_dirs == ["h=00", "h=01"]

    # run 2 with NO new input: exactly-once — nothing duplicated (R9)
    run_loader(spark, cfg)
    assert read_loaded(spark, cfg.target_path).count() == 120

    # run 3: new file arrives; only it is picked up (R2 watermark resume)
    _write_jsonl(
        loader_dirs["input"] + "/batch2.jsonl",
        _mk_events(1000, 30, BASE_US + 86_400_000_000),  # next day
    )
    run_loader(spark, cfg)
    out3 = read_loaded(spark, cfg.target_path)
    assert out3.count() == 150
    assert sorted(p for p in os.listdir(cfg.target_path) if p.startswith("d=")) == [
        "d=2024-01-01",
        "d=2024-01-02",
    ]

    # payload fidelity (R4 passthrough): ids survive the round trip
    ids = {r.event_id for r in out3.selectExpr(
        "from_json(payload, 'event_id bigint').event_id AS event_id"
    ).collect()}
    assert ids == set(range(120)) | set(range(1000, 1030))


def test_partition_pruning_on_loaded_data(spark, loader_dirs):
    cfg = LoaderConfig(
        input_path=loader_dirs["input"],
        target_path=loader_dirs["target"],
        checkpoint_path=loader_dirs["checkpoint"],
    )
    _write_jsonl(loader_dirs["input"] + "/b.jsonl", _mk_events(0, 120, BASE_US))
    run_loader(spark, cfg)
    df = read_loaded(spark, cfg.target_path).where("d = '2024-01-01' AND h = '00'")
    assert df.count() == 60
    # the physical scan must prune to the one matching partition
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan


def test_read_loaded_ignores_uncommitted_files(spark, loader_dirs):
    """A batch that crashes inside ``addBatch`` can leave a data file
    that no ``_spark_metadata`` entry names.  ``read_loaded`` does not
    see it; a read of the hour directory's path does."""
    import glob
    import shutil

    cfg = LoaderConfig(
        input_path=loader_dirs["input"],
        target_path=loader_dirs["target"],
        checkpoint_path=loader_dirs["checkpoint"],
    )
    _write_jsonl(loader_dirs["input"] + "/b.jsonl", _mk_events(0, 120, BASE_US))
    run_loader(spark, cfg)
    hour = os.path.join(cfg.target_path, "d=2024-01-01", "h=00")
    (committed,) = glob.glob(os.path.join(hour, "*.parquet"))
    shutil.copy(committed, os.path.join(hour, "part-99999-orphan.c000.snappy.parquet"))

    assert read_loaded(spark, cfg.target_path).count() == 120
    # a path read is not exactly-once: the hour's 60 committed rows
    # plus the orphan's 60
    assert spark.read.parquet(hour).count() == 120


def test_loaded_target_and_checkpoint_hold_no_crc_files(spark, loader_dirs):
    """``get_spark`` writes local paths without Hadoop's ``.crc``
    sidecars: none next to the parquet files, the sink log
    (``_spark_metadata``) or the checkpoint's offset and commit logs."""
    cfg = LoaderConfig(
        input_path=loader_dirs["input"],
        target_path=loader_dirs["target"],
        checkpoint_path=loader_dirs["checkpoint"],
    )
    for k in range(2):  # two incremental runs
        _write_jsonl(
            f"{loader_dirs['input']}/run{k}.jsonl", _mk_events(1000 * k, 120, BASE_US)
        )
        run_loader(spark, cfg)

    files = [
        os.path.relpath(os.path.join(d, f), root)
        for root in (cfg.target_path, cfg.checkpoint_path)
        for d, _, names in os.walk(root)
        for f in names
    ]
    for log_entry in ("_spark_metadata/1", "offsets/1", "commits/1"):
        assert log_entry in files, files
    assert [f for f in files if f.endswith(".crc")] == []
    assert read_loaded(spark, cfg.target_path).count() == 240


def test_one_file_per_hour_partition_per_batch(spark, loader_dirs):
    """The write is repartitioned on d/h: however many input tasks read
    the batch, each hour directory receives exactly one file."""
    import glob

    cfg = LoaderConfig(
        input_path=loader_dirs["input"],
        target_path=loader_dirs["target"],
        checkpoint_path=loader_dirs["checkpoint"],
    )
    for k in range(3):  # each file spans h=00 and h=01
        _write_jsonl(
            f"{loader_dirs['input']}/part{k}.jsonl", _mk_events(1000 * k, 120, BASE_US)
        )
    # tiny splits so the batch is read by several input tasks
    with session_confs(
        spark,
        {
            "spark.sql.files.openCostInBytes": "1",
            "spark.sql.files.maxPartitionBytes": "2k",
        },
    ):
        res = run_loader(spark, cfg)

    hour_dirs = sorted(glob.glob(os.path.join(cfg.target_path, "d=*", "h=*")))
    assert [os.path.relpath(h, cfg.target_path) for h in hour_dirs] == [
        "d=2024-01-01/h=00",
        "d=2024-01-01/h=01",
    ]
    for h in hour_dirs:
        assert len(glob.glob(os.path.join(h, "*.parquet"))) == 1, os.listdir(h)
    assert res["rows_written"] == 360
    assert read_loaded(spark, cfg.target_path).count() == 360


def _five_batches(loader_dirs) -> LoaderConfig:
    """A config whose next run loads 5 one-file batches of 7 events."""
    for k in range(5):
        _write_jsonl(
            f"{loader_dirs['input']}/part{k}.jsonl", _mk_events(100 * k, 7, BASE_US)
        )
    return LoaderConfig(
        input_path=loader_dirs["input"],
        target_path=loader_dirs["target"],
        checkpoint_path=loader_dirs["checkpoint"],
        max_files_per_trigger=1,
    )


def test_run_loader_counts_batches_past_the_progress_buffer(spark, loader_dirs):
    """The counts come from ``query.recentProgress``, whose retention
    ``run_loader`` raises for the run: a session retention of 2 loses
    none of the 5 batches, and is back to 2 afterwards."""
    cfg = _five_batches(loader_dirs)
    retention = "spark.sql.streaming.numRecentProgressUpdates"
    with session_confs(spark, {retention: "2"}):
        res = run_loader(spark, cfg)
        assert spark.conf.get(retention) == "2"
    assert res["batches"] == 5
    assert res["rows_written"] == 35
    assert read_loaded(spark, cfg.target_path).count() == 35


def test_run_loader_raises_when_progress_may_have_wrapped(spark, loader_dirs, monkeypatch):
    """A full progress buffer (Spark keeps retention - 1 entries) may
    have dropped batches: the run raises instead of returning a partial
    count."""
    monkeypatch.setattr(loader, "_PROGRESS_RETENTION", 2)
    cfg = _five_batches(loader_dirs)
    with pytest.raises(RuntimeError, match="row count unknown"):
        run_loader(spark, cfg)


def test_run_loader_plans_each_config_once_per_session(spark, tmp_path, monkeypatch):
    """The preflight and plan build run once per (session, config); a
    config differing in any field gets its own plan."""
    import glob

    calls = []
    real = loader.validate_config

    def counting(*args, **kwargs):
        calls.append(args[1])
        return real(*args, **kwargs)

    monkeypatch.setattr(loader, "validate_config", counting)
    indir = str(tmp_path / "in")
    cfg = LoaderConfig(
        input_path=indir,
        target_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    _write_jsonl(indir + "/a.jsonl", _mk_events(0, 10, BASE_US))
    assert run_loader(spark, cfg)["rows_written"] == 10
    _write_jsonl(indir + "/b.jsonl", _mk_events(100, 4, BASE_US))
    assert run_loader(spark, cfg)["rows_written"] == 4
    assert len(calls) == 1
    assert read_loaded(spark, cfg.target_path).count() == 14

    as_json = LoaderConfig(
        input_path=indir,
        target_path=str(tmp_path / "out_json"),
        checkpoint_path=str(tmp_path / "ckpt_json"),
        output_format="json",
    )
    assert run_loader(spark, as_json)["rows_written"] == 14
    assert len(calls) == 2
    assert glob.glob(str(tmp_path / "out_json" / "d=*" / "h=*" / "*.json.snappy"))
    assert not glob.glob(str(tmp_path / "out_json" / "d=*" / "h=*" / "*.parquet"))


def test_layout_is_utc_whatever_the_session_zone(spark, loader_dirs):
    """``d``/``h`` are the UTC hour of the event even when the session
    zone was changed after the engine configured it."""
    import glob

    configure_runtime(spark)
    cfg = LoaderConfig(
        input_path=loader_dirs["input"],
        target_path=loader_dirs["target"],
        checkpoint_path=loader_dirs["checkpoint"],
    )
    # 2024-01-01T05:00Z is midnight in New York
    _write_jsonl(loader_dirs["input"] + "/b.jsonl", _mk_events(0, 1, BASE_US + 5 * 3_600_000_000))
    with session_confs(spark, {"spark.sql.session.timeZone": "America/New_York"}):
        run_loader(spark, cfg)
    hours = glob.glob(os.path.join(cfg.target_path, "d=*", "h=*"))
    assert [os.path.relpath(h, cfg.target_path) for h in hours] == ["d=2024-01-01/h=05"]


def test_cli_end_to_end_incremental(spark, tmp_path):
    """R10 parity: the CLI runs a bounded load; a second invocation with
    the same checkpoint loads only newly-arrived files (R2/R9)."""
    import json as _json

    from kafka_hadoop_loader_spark.__main__ import main

    indir = tmp_path / "in"
    indir.mkdir()
    base_us = 1704067200000000
    with open(indir / "a.json", "w") as f:
        for i in range(24):
            f.write(
                _json.dumps(
                    {
                        "event_id": i,
                        "ts": base_us + i * 3600_000_000,
                        "user_id": i % 3,
                        "event_type": "click",
                        "value": 1.0,
                        "props": "{}",
                    }
                )
                + "\n"
            )
    args = [
        "--source", "files",
        "--input", str(indir),
        "--target", str(tmp_path / "out"),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--master", "local[4]",
    ]
    assert main(args) == 0
    with open(indir / "b.json", "w") as f:
        f.write(
            _json.dumps(
                {
                    "event_id": 99,
                    "ts": base_us,
                    "user_id": 0,
                    "event_type": "view",
                    "value": 2.0,
                    "props": "{}",
                }
            )
            + "\n"
        )
    assert main(args) == 0
    from kafka_hadoop_loader_spark.streaming.loader import read_loaded

    back = read_loaded(spark, str(tmp_path / "out"))
    assert back.count() == 25
    # payload is passed through unparsed (R4); dig the id out of the JSON
    assert back.where("get_json_object(payload, '$.event_id') = 99").count() == 1


def test_cli_gzip_text_output(spark, tmp_path):
    """R8 parity: the reference writes raw payload lines with an optional
    gzip codec into the time-bucketed layout — drive the CLI end-to-end
    with --output-format text --compression gzip and read it back."""
    import glob
    import json as _json

    from kafka_hadoop_loader_spark.__main__ import main

    indir = tmp_path / "in"
    indir.mkdir()
    base_us = 1704067200000000
    records = [
        {
            "event_id": i,
            "ts": base_us + i * 3600_000_000,
            "user_id": i % 3,
            "event_type": "click",
            "value": 1.0,
            "props": "{}",
        }
        for i in range(24)
    ]
    with open(indir / "a.json", "w") as f:
        for r in records:
            f.write(_json.dumps(r) + "\n")
    out = tmp_path / "out"
    assert main([
        "--source", "files",
        "--input", str(indir),
        "--target", str(out),
        "--checkpoint", str(tmp_path / "ckpt"),
        "--output-format", "text",
        "--compression", "gzip",
        "--master", "local[4]",
    ]) == 0

    # gzip'd line files inside the hive d=/h= layout
    gz = glob.glob(str(out / "d=*" / "h=*" / "*.txt.gz"))
    assert gz, f"no .txt.gz files under {out}"
    back = spark.read.text(str(out))
    assert back.count() == 24
    # lines are the raw payloads, bit-for-bit (R4 passthrough + R8 codec)
    got = {r.value for r in back.collect()}
    assert got == {_json.dumps(r) for r in records}


def test_kafka_source_options_contract():
    """No broker exists in this environment, so the production Kafka
    seam is verified by contract: the options dict the loader would
    hand to ``format("kafka")`` must carry the reference consumer's
    knobs (bootstrap, subscription, offset-reset policy, data-loss
    posture) exactly as documented in the README."""
    from kafka_hadoop_loader_spark.streaming.loader import (
        LoaderConfig,
        kafka_source_options,
    )

    cfg = LoaderConfig(
        source="kafka",
        kafka_bootstrap="broker1:9092,broker2:9092",
        topics="events,clicks",
        offset_reset="earliest",
        input_path="",
        target_path="/tmp/x",
        checkpoint_path="/tmp/c",
    )
    opts = kafka_source_options(cfg)
    assert opts == {
        "kafka.bootstrap.servers": "broker1:9092,broker2:9092",
        "subscribe": "events,clicks",
        "startingOffsets": "earliest",
        "failOnDataLoss": "false",
    }


def _kafka_connector_present(spark) -> bool:
    """Environment probe, independent of the code under test: is the
    spark-sql-kafka connector class on the session JVM's classpath?
    Uses the context classloader — the one Spark's own DataSource
    lookup consults — so the answer matches what load() will see."""
    try:
        spark._jvm.Thread.currentThread().getContextClassLoader().loadClass(
            "org.apache.spark.sql.kafka010.KafkaSourceProvider"
        )
        return True
    except Exception:
        return False


def test_validate_config_dry_run_green(spark, tmp_path):
    """A well-formed kafka config passes the dry run end-to-end: every
    Python-side domain check, the DDL parse, the full transform-plan
    resolution, and the reader construction (connector availability is
    an environment FACT, reported not asserted — SURVEY §0)."""
    from kafka_hadoop_loader_spark.streaming.loader import (
        LoaderConfig,
        validate_config,
    )

    cfg = LoaderConfig(
        source="kafka",
        kafka_bootstrap="broker1:9092",
        topics="events",
        target_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    rep = validate_config(spark, cfg)
    assert rep["ok"], rep["errors"]
    assert rep["options"]["subscribe"] == "events"
    assert rep["partition_cols"] == ["d", "h"]
    assert rep["output_schema"] is not None and "event_ts:timestamp" in rep["output_schema"]
    # The dry run must REPORT connector availability (an environment
    # fact) rather than fail — but the report must agree with the
    # environment: detect the connector class on the JVM classpath
    # independently and assert THAT value (a bare `in (True, False)`
    # would also pass if a genuine option error were misclassified as
    # jar absence).  False in this no-jar container, True on a host
    # that ships spark-sql-kafka; the test follows the host.
    assert rep["connector_available"] is _kafka_connector_present(spark)


def test_validate_config_reports_every_error_at_once(spark):
    from kafka_hadoop_loader_spark.streaming.loader import (
        LoaderConfig,
        validate_config,
    )

    cfg = LoaderConfig(
        source="kafka",
        kafka_bootstrap="",             # missing
        topics="events,,clicks",        # empty element
        offset_reset="sometimes",       # bad domain
        output_format="parquet",
        compression="bzip2",            # text codec, not parquet
        timestamp_unit="ns",            # bad domain
        target_path="/tmp/same",
        checkpoint_path="/tmp/same",    # collides with target
        max_files_per_trigger=0,        # non-positive
    )
    rep = validate_config(spark, cfg)
    assert not rep["ok"]
    joined = "\n".join(rep["errors"])
    for needle in (
        "kafka_bootstrap",
        "topics",
        "offset_reset",
        "compression",
        "timestamp_unit",
        "checkpoint_path must differ",
        "max_files_per_trigger",
    ):
        assert needle in joined, (needle, rep["errors"])
    import pytest as _pytest

    with _pytest.raises(ValueError, match="offset_reset"):
        validate_config(spark, cfg, strict=True)


def test_validate_config_reports_non_string_values(spark):
    """``LoaderConfig`` passes values of the wrong type through, so the
    validator must report them as errors, not raise on them."""
    from kafka_hadoop_loader_spark.streaming.loader import (
        LoaderConfig,
        validate_config,
    )

    cfg = LoaderConfig(
        source="kafka",
        topics=None,
        offset_reset=None,
        max_files_per_trigger="3",
        target_path="/tmp/out",
        checkpoint_path="/tmp/ckpt",
    )
    rep = validate_config(spark, cfg)
    assert not rep["ok"]
    joined = "\n".join(rep["errors"])
    for needle in ("topics", "offset_reset", "max_files_per_trigger"):
        assert needle in joined, (needle, rep["errors"])


def test_validate_config_catches_plan_level_errors(spark, tmp_path):
    """Errors only the analyzer can see: malformed payload DDL and a
    timestamp_field absent from the schema fail the DRY RUN, not the
    first micro-batch."""
    from kafka_hadoop_loader_spark.streaming.loader import (
        LoaderConfig,
        validate_config,
    )

    base = dict(
        input_path=str(tmp_path / "in"),
        target_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    bad_ddl = validate_config(
        spark, LoaderConfig(payload_schema="event_id bigint,, ts bigint", **base)
    )
    assert not bad_ddl["ok"]
    assert any("does not resolve" in e for e in bad_ddl["errors"])

    bad_field = validate_config(
        spark, LoaderConfig(timestamp_field="nope", **base)
    )
    assert not bad_field["ok"]
    assert any("timestamp_field" in e for e in bad_field["errors"])


def test_run_loader_preflights_strictly(spark, tmp_path):
    """run_loader aborts on a bad config BEFORE creating a checkpoint."""
    import pytest as _pytest

    from kafka_hadoop_loader_spark.streaming.loader import LoaderConfig, run_loader

    ckpt = tmp_path / "ckpt"
    cfg = LoaderConfig(
        input_path=str(tmp_path / "in"),
        target_path=str(tmp_path / "out"),
        checkpoint_path=str(ckpt),
        compression="brotli",
        output_format="text",  # brotli is not a text codec
    )
    for _ in range(2):  # a config that fails its preflight is never kept
        with _pytest.raises(ValueError, match="compression"):
            run_loader(spark, cfg)
    assert not ckpt.exists()


def test_cli_dry_run(spark, tmp_path, capsys):
    """--dry-run prints the validate_config report and exits 0/1 by
    validity, starting nothing and writing no checkpoint state."""
    import json as _json

    from kafka_hadoop_loader_spark.__main__ import main

    ckpt = tmp_path / "ckpt"
    rc = main([
        "--source", "files", "--input", str(tmp_path / "in"),
        "--target", str(tmp_path / "out"), "--checkpoint", str(ckpt),
        "--dry-run",
    ])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 0 and rep["ok"] and not ckpt.exists()

    rc = main([
        "--source", "files", "--input", str(tmp_path / "in"),
        "--target", str(tmp_path / "out"), "--checkpoint", str(ckpt),
        "--timestamp-field", "nope", "--dry-run",
    ])
    rep = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert rc == 1 and not rep["ok"]
    assert any("timestamp_field" in e for e in rep["errors"])
    assert not ckpt.exists()


def test_config_codec_and_format_case_insensitive(spark, tmp_path):
    """Spark's sinks resolve codec and format names case-insensitively
    ("SNAPPY", "Parquet" run fine), so the strict preflight must not
    reject the same spellings (ADVICE r7)."""
    from kafka_hadoop_loader_spark.streaming.loader import (
        LoaderConfig,
        validate_config,
    )

    cfg = LoaderConfig(
        source="files",
        input_path=str(tmp_path / "in"),
        target_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        output_format="PARQUET",
        compression="SNAPPY",
    )
    # __post_init__ normalizes, so every consumer (validate_config's
    # domain check, run_loader's text-format branch) sees lowercase
    assert cfg.output_format == "parquet" and cfg.compression == "snappy"
    rep = validate_config(spark, cfg)
    assert rep["ok"], rep["errors"]

    bad = LoaderConfig(
        source="files",
        input_path=str(tmp_path / "in"),
        target_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
        compression="Bzip2",  # wrong for parquet in ANY case
    )
    rep = validate_config(spark, bad)
    assert not rep["ok"]
    assert any("compression" in e for e in rep["errors"])


def test_missing_datasource_detection_covers_spark4_wordings():
    """The jar-absence classifier must match every rendering Spark
    uses, not just the one this container happens to emit — a Spark
    upgrade flipping to the DATA_SOURCE_NOT_FOUND error-class wording
    must not turn 'jar missing' into 'config invalid' (ADVICE r7)."""
    from kafka_hadoop_loader_spark.streaming.loader import (
        _is_missing_datasource_error,
    )

    for msg in (
        "Failed to find data source: kafka. Please deploy ...",
        "[DATA_SOURCE_NOT_FOUND] Failed to find the data source: kafka.",
        "DATA_SOURCE_NOT_FOUND",
        "java.lang.ClassNotFoundException: kafka.DefaultSource",
    ):
        assert _is_missing_datasource_error(msg), msg
    # genuine option/config errors must NOT be classified as jar absence
    for msg in (
        "kafka option 'subscribe' conflicts with 'assign'",
        "Cannot resolve option startingOffsets value 'sometimes'",
    ):
        assert not _is_missing_datasource_error(msg), msg


def test_validate_config_option_error_not_misclassified(spark, tmp_path, monkeypatch):
    """Companion to the dry-run-green probe: when the connector IS on
    the classpath, a genuine kafka option error must land in
    rep['errors'] with connector_available=True — a regression that
    routed option errors into the jar-absence branch would swallow
    them.  Skips (doesn't pass vacuously) where the jar is absent,
    since the connector's own option validation cannot run there."""
    from kafka_hadoop_loader_spark.streaming import loader as loader_mod

    if not _kafka_connector_present(spark):
        pytest.skip("spark-sql-kafka connector not on classpath")

    cfg = LoaderConfig(
        source="kafka",
        kafka_bootstrap="broker1:9092",
        topics="events",
        target_path=str(tmp_path / "out"),
        checkpoint_path=str(tmp_path / "ckpt"),
    )
    real_opts = loader_mod.kafka_source_options

    def conflicting(c):
        # subscribe + assign together: rejected by the connector's
        # validateStreamOptions, no broker round-trip needed
        return {**real_opts(c), "assign": '{"events":[0]}'}

    monkeypatch.setattr(loader_mod, "kafka_source_options", conflicting)
    rep = loader_mod.validate_config(spark, cfg)
    assert rep["connector_available"] is True
    assert not rep["ok"]
    assert any("kafka reader rejected options" in e for e in rep["errors"])
