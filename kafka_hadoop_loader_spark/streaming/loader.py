"""The loader: incremental stream -> time-bucketed partitioned parquet.

This is the engine's parity surface for the reference's whole purpose
(SURVEY.md §2.A R1-R10): an incremental Kafka->HDFS loader that

- reads each topic-partition from the last committed offset   (R1, R2)
- applies an offset-reset policy on first run / data loss     (R3)
- passes payloads through, optionally extracting an event
  timestamp from a JSON field                                 (R4-R6)
- writes records into {topic}/d=YYYY-MM-DD/h=HH directories   (R7)
- compresses output                                           (R8)
- commits consumed offsets only after a successful run        (R9)

Spark-first mapping: Structured Streaming owns R1-R3 and R9 — the
checkpoint's offsets/commit logs replace the reference's ZooKeeper
watermarks, and the parquet file-sink's transactional log upgrades the
reference's at-least-once to exactly-once.  `trigger(availableNow=True)`
reproduces the reference's bounded per-run semantics ("load what exists
now, then stop").  R7's MultiOutputFormat is exactly Spark's dynamic
partitioned write (`partitionBy("d", "h")`).

Sources are pluggable (R5's deserializer hook, generalized):
- "kafka": real Kafka source — the production path (no broker in this
  container, so covered by config plumbing only);
- "files": JSON-lines directory stream standing in for a topic; each
  file plays the role of a batch of Kafka messages.

Scale notes: one streaming micro-batch is a normal Spark job (append
only, dynamic partition overwrite off).  Before the write, the output
is repartitioned on its partition columns, so each partition value
goes to exactly one writer task and a batch writes one file per
partition per batch.  Without the shuffle, every input task would
write its own file into every hour it touches: many small files, a
larger sink log, and more files for every reader to list and open.
The shuffle's width is the session's core count, not
``spark.sql.shuffle.partitions``, so a small incremental run does not
schedule a wide set of empty reduce tasks.  The loader's query runs
with adaptive execution off: a repartition to a fixed count leaves
nothing to coalesce, and with it on every micro-batch runs the shuffle's
map stage as a Spark job of its own.  The trade-off is skew:
one hot hour is written by a single task.  With
maxFilesPerTrigger/maxOffsetsPerTrigger the loader backfills unbounded
history in bounded-memory increments.  The d=/h= layout is what makes
every downstream query partition-prunable.
"""

from __future__ import annotations

import dataclasses
import os
import weakref
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_hadoop_loader_spark.session import configure_runtime

# R7's fixed output layout: {target}/d=YYYY-MM-DD/h=HH
PARTITION_COLS = ("d", "h")

_HOUR_S = 3600
_DAY_S = 24 * _HOUR_S

# The loader's run raises the session's progress retention to this.  A
# query's ``recentProgress`` keeps at most retention - 1 entries, so a
# run that fills them may have dropped batches and cannot be counted.
_PROGRESS_RETENTION = 10_000
# Copied by the stream when it starts: one Spark job per micro-batch.
_QUERY_CONFS = {"spark.sql.adaptive.enabled": "false"}

# Per session: the validated, built output plan of each config.  The
# value is the JVM plan, not a DataFrame, so it does not hold the
# session alive.
_PLANS: "weakref.WeakKeyDictionary[SparkSession, dict]" = weakref.WeakKeyDictionary()


@dataclass
class LoaderConfig:
    """Configuration surface mirroring the reference's CLI/job conf (R10)."""

    source: str = "files"  # "files" | "kafka"
    input_path: str = ""  # files: directory of JSON-lines
    kafka_bootstrap: str = ""  # kafka: bootstrap servers
    topics: str = "events"  # kafka: comma-separated topic list
    target_path: str = ""  # output root (the reference's HDFS target)
    checkpoint_path: str = ""  # offsets+commit log (replaces ZK watermarks)
    timestamp_field: str = "ts"  # JSON field holding event time (R6)
    timestamp_unit: str = "us"  # s | ms | us
    offset_reset: str = "earliest"  # R3: earliest | latest
    compression: str = "snappy"  # R8 codec (parquet: snappy/gzip/zstd...;
    # text/json: gzip/bzip2/...)
    output_format: str = "parquet"  # parquet | text | json; "text" is the
    # reference's exact output shape — raw payload lines + codec
    # [pub: .../io/MultiOutputFormat.java] — columnar parquet is the
    # engine's default upgrade over it
    payload_schema: str = (
        "event_id bigint, ts bigint, user_id bigint, event_type string,"
        " value double, props string"
    )
    max_files_per_trigger: int | None = None

    def __post_init__(self) -> None:
        # Spark's sinks resolve format names and codec names
        # case-insensitively ("SNAPPY", "Parquet" work), so the config
        # surface must too — otherwise validate_config(strict=True)
        # would reject configs the engine happily runs, and
        # run_loader's `output_format == "text"` branch would silently
        # miss "TEXT".  Normalize once here so every consumer agrees.
        # Non-string values (a config deserialized with None/0) are
        # left as-is so validate_config can REPORT the domain error
        # exhaustively instead of construction raising AttributeError.
        if isinstance(self.output_format, str):
            self.output_format = self.output_format.lower()
        if isinstance(self.compression, str):
            self.compression = self.compression.lower()


def kafka_source_options(cfg: LoaderConfig) -> dict[str, str]:
    """The exact ``format("kafka")`` reader options the production path
    sets — exposed as data so the seam is contract-testable in an
    environment with no broker (tests assert this dict; the README
    documents it).  [pub: io/KafkaInputFormat.java — topic subscription
    + offset-reset policy are the reference's consumer knobs.]"""
    return {
        "kafka.bootstrap.servers": cfg.kafka_bootstrap,
        "subscribe": cfg.topics,
        # reference's auto.offset.reset: where a NEW consumer group
        # starts ("earliest" | "latest" | a JSON offsets map)
        "startingOffsets": cfg.offset_reset,
        # retention-expired offsets surface as a data-loss *metric*,
        # not a job abort — the loader's at-least-once floor
        "failOnDataLoss": "false",
    }


def _read_stream(spark: SparkSession, cfg: LoaderConfig) -> DataFrame:
    if cfg.source == "kafka":
        raw = (
            spark.readStream.format("kafka").options(**kafka_source_options(cfg)).load()
        )
        # Kafka source fixed schema: key/value binary + metadata.  The
        # payload stays bytes until the JSON extraction below (R4).
        return raw.select(
            F.col("topic"),
            F.col("partition").alias("kafka_partition"),
            F.col("offset"),
            F.col("value").cast("string").alias("payload"),
        )
    reader = spark.readStream.format("text")
    if cfg.max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", str(cfg.max_files_per_trigger))
    raw = reader.load(cfg.input_path)
    return raw.select(
        F.lit(cfg.topics).alias("topic"),
        F.lit(0).alias("kafka_partition"),
        # synthetic offset: content hash (monotonic ids aren't allowed on
        # streaming relations; the file source has no native offsets)
        F.xxhash64("value").alias("offset"),
        F.col("value").alias("payload"),
    )


def _utc_layout(ts: Column) -> list[Column]:
    """``d`` (yyyy-MM-dd) and ``h`` (HH) of the UTC hour of ``ts``.

    Arithmetic on epoch seconds, so the session time zone (which
    ``date_format`` would use) never enters the layout.  Every operand
    stays below 2**53, so the double divisions are exact."""
    secs = F.unix_seconds(ts)
    sec_of_day = F.pmod(secs, F.lit(_DAY_S))
    days = ((secs - sec_of_day) / _DAY_S).cast("int")
    return [
        F.date_from_unix_date(days).cast("string").alias("d"),
        F.lpad((sec_of_day / _HOUR_S).cast("int").cast("string"), 2, "0").alias("h"),
    ]


def transform(cfg: LoaderConfig, raw: DataFrame) -> DataFrame:
    """R5/R6/R7: parse payload, extract event time, derive d/h buckets."""
    parsed = raw.withColumn("rec", F.from_json("payload", cfg.payload_schema))
    ts_raw = F.col("rec").getField(cfg.timestamp_field).cast("bigint")
    to_ts = {
        "s": lambda c: F.timestamp_seconds(c),
        "ms": lambda c: F.timestamp_millis(c),
        "us": lambda c: F.timestamp_micros(c),
    }[cfg.timestamp_unit]
    ts = to_ts(ts_raw)
    return parsed.select(
        "topic",
        "kafka_partition",
        "offset",
        "payload",
        ts.alias("event_ts"),
        *_utc_layout(ts),
    )


# Codecs Spark's sinks accept, per output format (parquet codecs from
# parquet.compression; text/json ride Hadoop compression codecs).
_SINK_CODECS = {
    "parquet": {"none", "uncompressed", "snappy", "gzip", "lzo", "brotli", "lz4", "zstd"},
    "text": {"none", "gzip", "bzip2", "lz4", "deflate", "snappy"},
    "json": {"none", "gzip", "bzip2", "lz4", "deflate", "snappy"},
}


def _is_missing_datasource_error(msg: str) -> bool:
    """True when an exception message means "connector jar absent".

    Jar absence renders differently across Spark versions and code
    paths: "Failed to find data source" (pre-4.x and the streaming
    reader today), "Failed to find the data source" (the 4.x
    DATA_SOURCE_NOT_FOUND error-class template), or a raw
    ClassNotFoundException from the provider lookup.  Matching all of
    them keeps an upgrade from misclassifying a missing connector as a
    config error (which, with run_loader's strict preflight, would
    hard-fail valid configs)."""
    return (
        "Failed to find data source" in msg
        or "Failed to find the data source" in msg
        or "DATA_SOURCE_NOT_FOUND" in msg
        or "ClassNotFoundException" in msg
    )


def validate_config(spark: SparkSession, cfg: LoaderConfig, strict: bool = False) -> dict:
    """DRY-RUN the loader: build and validate the whole plan, start nothing.

    The reference's job conf had no preflight — a typo'd topic or codec
    surfaced minutes into a MapReduce run.  This validator makes R10's
    config surface construction-tested: it (1) checks every knob's
    domain Python-side, (2) parses ``payload_schema`` with Spark's DDL
    parser and resolves the FULL ``transform`` plan against an empty
    static frame with the source's schema — so a missing
    ``timestamp_field`` or malformed DDL fails HERE, (3) for the kafka
    source, builds the real ``format("kafka")`` reader with
    ``kafka_source_options`` and attempts ``load()``, which runs the
    connector's own option validation WITHOUT contacting a broker
    (source resolution is lazy; offsets are first fetched at
    ``start()``).  A container without the kafka connector jar reports
    ``connector_available: False`` instead of failing the dry run —
    the remaining checks still ran, which is exactly the degree of
    verification this no-broker environment permits (SURVEY §0
    env-limits).

    Returns a report dict: ``{"ok", "errors", "source", "options",
    "connector_available", "output_schema", "partition_cols"}``.
    With ``strict=True`` raises ``ValueError`` listing every error at
    once (operators fail fast; preflights report exhaustively).
    """
    errors: list[str] = []
    if cfg.source not in ("files", "kafka"):
        errors.append(f"source must be files|kafka, got {cfg.source!r}")
    if cfg.source == "kafka":
        if not cfg.kafka_bootstrap:
            errors.append("kafka source requires kafka_bootstrap")
        if not isinstance(cfg.topics, str) or not all(
            t.strip() for t in cfg.topics.split(",")
        ):
            errors.append(f"topics must be a non-empty comma list, got {cfg.topics!r}")
        if cfg.offset_reset not in ("earliest", "latest") and not (
            isinstance(cfg.offset_reset, str) and cfg.offset_reset.startswith("{")
        ):
            errors.append(
                "offset_reset must be earliest|latest|JSON offsets map, "
                f"got {cfg.offset_reset!r}"
            )
    elif cfg.source == "files" and not cfg.input_path:
        errors.append("files source requires input_path")
    if not cfg.target_path:
        errors.append("target_path is required")
    if not cfg.checkpoint_path:
        errors.append("checkpoint_path is required")
    elif cfg.checkpoint_path == cfg.target_path:
        errors.append("checkpoint_path must differ from target_path")
    if cfg.output_format not in _SINK_CODECS:
        errors.append(f"output_format must be parquet|text|json, got {cfg.output_format!r}")
    elif cfg.compression not in _SINK_CODECS[cfg.output_format]:
        errors.append(
            f"compression {cfg.compression!r} not valid for {cfg.output_format}: "
            f"choose from {sorted(_SINK_CODECS[cfg.output_format])}"
        )
    if cfg.timestamp_unit not in ("s", "ms", "us"):
        errors.append(f"timestamp_unit must be s|ms|us, got {cfg.timestamp_unit!r}")
    mfpt = cfg.max_files_per_trigger
    if mfpt is not None and (type(mfpt) is not int or mfpt <= 0):
        errors.append(f"max_files_per_trigger must be a positive int when set, got {mfpt!r}")

    # Resolve the actual transform plan against an empty static frame
    # with the source's exact post-_read_stream schema: catches DDL
    # syntax errors and a timestamp_field absent from payload_schema —
    # the full analyzer pass, zero jobs.
    out_schema = None
    if cfg.timestamp_unit in ("s", "ms", "us"):
        try:
            from pyspark.sql.types import StructType

            payload_fields = {
                f.name for f in StructType.fromDDL(cfg.payload_schema).fields
            }  # precise DDL error surfaces first
            if cfg.timestamp_field not in payload_fields:
                # transform cannot resolve without it
                errors.append(
                    f"timestamp_field {cfg.timestamp_field!r} not in payload_schema"
                )
            else:
                stand_in = spark.createDataFrame(
                    [],
                    "topic string, kafka_partition int, offset bigint, payload string",
                )
                out_schema = transform(cfg, stand_in).schema.simpleString()
        except Exception as e:  # analyzer/DDL error — report, don't raise
            errors.append(f"transform plan does not resolve: {str(e)[:300]}")

    # Kafka reader construction: the connector's validateStreamOptions
    # runs inside load() with no broker round-trip.
    connector_available = None
    if cfg.source == "kafka" and cfg.kafka_bootstrap:
        try:
            raw = (
                spark.readStream.format("kafka")
                .options(**kafka_source_options(cfg))
                .load()
            )
            connector_available = True
            got = {f.name for f in raw.schema.fields}
            need = {"topic", "partition", "offset", "value"}
            if not need <= got:
                errors.append(f"kafka source schema missing {sorted(need - got)}")
        except Exception as e:
            msg = str(e)
            if _is_missing_datasource_error(msg):
                connector_available = False  # env limit, not a config error
            else:
                connector_available = True
                errors.append(f"kafka reader rejected options: {msg[:300]}")

    report = {
        "ok": not errors,
        "errors": errors,
        "source": cfg.source,
        "options": kafka_source_options(cfg) if cfg.source == "kafka" else {
            "path": cfg.input_path,
            **(
                {"maxFilesPerTrigger": str(cfg.max_files_per_trigger)}
                if cfg.max_files_per_trigger
                else {}
            ),
        },
        "connector_available": connector_available,
        "output_schema": out_schema,
        "partition_cols": list(PARTITION_COLS),
    }
    if strict and errors:
        raise ValueError("loader config invalid: " + "; ".join(errors))
    return report


def _plan(spark: SparkSession, cfg: LoaderConfig) -> DataFrame:
    """The preflighted output frame of ``cfg``, built once per session.

    A config that fails ``validate_config`` raises and is not stored.  A
    streaming frame can be started again: each ``start()`` builds its
    source anew from the checkpoint."""
    plans = _PLANS.setdefault(spark, {})
    key = dataclasses.astuple(cfg)
    if key not in plans:
        validate_config(spark, cfg, strict=True)
        out = transform(cfg, _read_stream(spark, cfg))
        if cfg.output_format == "text":
            # R8 text-lines parity: the text sink takes exactly one string
            # column ("value" = the raw payload) plus the partition columns.
            out = out.select(F.col("payload").alias("value"), *PARTITION_COLS)
        # one writer task per partition value: one file per hour per batch
        out = out.repartition(spark.sparkContext.defaultParallelism, *PARTITION_COLS)
        plans[key] = out._jdf
    return DataFrame(plans[key], spark)


def _count(progress: list) -> tuple[int, int]:
    """(batches, rows written) of a finished query's ``recentProgress``.

    A trigger that found no new data leaves an entry without an
    ``addBatch`` phase: it ran no batch and is not counted.  Raises when
    the buffer may have dropped batches, since the count would be
    partial."""
    ran = [p for p in progress if "addBatch" in (p.durationMs or {})]
    ids = [p.batchId for p in ran]
    contiguous = ids == list(range(ids[0], ids[0] + len(ids))) if ids else True
    if not contiguous or len(progress) >= _PROGRESS_RETENTION - 1:
        raise RuntimeError(
            f"query progress holds {len(progress)} entries (retention "
            f"{_PROGRESS_RETENTION}), batch ids {ids[:1]}..{ids[-1:]}: batches may be "
            "missing, row count unknown"
        )
    rows = 0
    for p in ran:
        n = int(p.sink.numOutputRows if p.sink.numOutputRows is not None else -1)
        rows += n if n >= 0 else int(p.numInputRows or 0)  # file sink may report -1
    return len(ran), rows


def run_loader(spark: SparkSession, cfg: LoaderConfig) -> dict:
    """One bounded incremental run (the reference's `hadoop jar ... run`).

    Returns run metrics.  Re-running with the same checkpoint picks up
    only data that arrived since the last run (R2/R9 parity, but
    exactly-once thanks to the file sink's transaction log).

    The first run of each config in a session is preflighted by
    ``validate_config(strict=True)``: a bad knob aborts before a
    streaming query (and its checkpoint state) exists, with every config
    error listed at once.  The checked, built plan is kept for the
    session, so later runs of the same config skip the preflight and the
    plan build.

    ``batches`` and ``rows_written`` are summed from the finished
    query's ``recentProgress``, which is complete once
    ``awaitTermination`` returns.  For the whole run the session's
    ``spark.sql.streaming.numRecentProgressUpdates`` is raised (the
    query reads it on every batch), so it applies session-wide until the
    old value is restored.  If the progress is not one contiguous run of
    batches, or fills the retention (it may have dropped some), the run
    raises ``RuntimeError`` instead of returning a partial count.  The
    query runs with adaptive execution off: one Spark job per batch.
    """
    configure_runtime(spark)
    out = _plan(spark, cfg)
    confs = {
        "spark.sql.streaming.numRecentProgressUpdates": str(_PROGRESS_RETENTION),
        **_QUERY_CONFS,
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        query = (
            out.writeStream.format(cfg.output_format)
            .option("path", cfg.target_path)
            .option("checkpointLocation", cfg.checkpoint_path)
            .option("compression", cfg.compression)
            .partitionBy(*PARTITION_COLS)
            .trigger(availableNow=True)
            .start()
        )
        query.awaitTermination()
        progress = query.recentProgress
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    batches, rows = _count(progress)
    return {"batches": batches, "rows_written": rows, "target": cfg.target_path}


def read_loaded(spark: SparkSession, target_path: str) -> DataFrame:
    """Read the loader's output back as a partition-pruned table.

    The read goes through the file sink's ``_spark_metadata`` log, so it
    sees only the files of committed batches; a direct path or glob read
    of the target also sees files left by a batch that never committed.
    ``d`` and ``h`` come back as ``date`` and ``int``: Spark infers their
    types from the directory names (``d=2024-01-01/h=00``).  The schema
    is inferred from the loaded files, so a target that holds none
    raises."""
    if not os.path.isdir(target_path):
        raise FileNotFoundError(target_path)
    return spark.read.option("basePath", target_path).parquet(target_path)
