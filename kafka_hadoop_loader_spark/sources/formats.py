"""Sources beyond parquet (SURVEY.md §2.B "Scans / sources / sinks"):
JSON, CSV, ORC, gzip-text, XML, binary-file and custom Python DataSource
scans with declared schemas, SQL table lifecycles, and two read-backs of
the reference's time-bucketed MultiOutputFormat sink
[pub: src/main/java/io/amient/kafka/hadoop/io/MultiOutputFormat.java]
as the loader writes it.

Each scan query is a full round-trip: write a fixture slice in the
format under test, read it back with a declared schema (never
inferSchema on the hot path — schema inference is an extra full scan),
aggregate, and compare against the oracle computed directly on the
original parquet.  Only integer/string columns cross the text formats so
the round-trip is bit-exact (doubles through JSON/CSV text would be
shortest-roundtrip-printed, which is exact too, but integers make the
determinism obvious).

The d=/h= layout queries (sink_partitioned, reference_loader_parity)
write nothing themselves: the JSON round-trip is the files source of
one ``run_loader`` run per process, and both read its output back with
``read_loaded``.  The d/h derivation, the pre-write repartition and the
partitioned write live only in ``streaming/loader.py``.

Scale notes: text formats are line-splittable, so a 100 TB JSON/CSV
input parallelizes per HDFS block with no coordination.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafka_hadoop_loader_spark.catalog import table
from kafka_hadoop_loader_spark.registry import register
from kafka_hadoop_loader_spark.streaming.loader import LoaderConfig, read_loaded, run_loader

# One temp root per process, removed at exit — repeated driver/bench/
# pytest runs must not accumulate events-slice copies under /tmp.
_tmp_root: str | None = None
# The text-format round-trips are memoized per (sf_dir, format): the
# write side-effect happens once per process, re-runs only re-scan.
_round_trips: dict[tuple[str, str], str] = {}


def _temp_root() -> str:
    global _tmp_root
    if _tmp_root is None:
        _tmp_root = tempfile.mkdtemp(prefix=f"khl_io_{os.getpid()}_")
        atexit.register(shutil.rmtree, _tmp_root, ignore_errors=True)
    return _tmp_root


def _round_trip_path(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    key = (os.path.abspath(sf_dir), fmt)
    if key not in _round_trips:
        path = os.path.join(_temp_root(), f"events_{fmt}_{len(_round_trips)}")
        df = _events_slice(spark, sf_dir)
        if fmt == "json":
            df.write.mode("overwrite").json(path)
        elif fmt == "orc":
            df.write.mode("overwrite").orc(path)
        elif fmt == "text":
            # the reference's R8 output shape: delimited text lines with
            # a compression codec [pub: …/io/MultiOutputFormat.java]
            (
                df.select(
                    F.concat_ws(
                        "\t",
                        F.col("event_id").cast("string"),
                        F.col("user_id").cast("string"),
                        F.col("event_type"),
                        F.col("ts_us").cast("string"),
                    ).alias("value")
                )
                .write.mode("overwrite")
                .option("compression", "gzip")
                .text(path)
            )
        elif fmt == "xml":
            # Spark 4 native XML source (spark-xml upstreamed):
            # one <event> element per row under the default <ROWS> root
            df.write.mode("overwrite").option("rowTag", "event").format(
                "xml"
            ).save(path)
        else:
            df.write.mode("overwrite").option("header", True).csv(path)
        _round_trips[key] = path
    return _round_trips[key]


# The events slice's schema, as DDL: the scans read with it and the
# loader parses its JSON payloads with it.
_EVENTS_SLICE_DDL = "event_id bigint, user_id bigint, event_type string, ts_us bigint"


def _events_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "events")
    return e.select("event_id", "user_id", "event_type", "ts_us")


_SLICE_AGG_ORACLE = """
    SELECT event_type,
           COUNT(*) AS n,
           CAST(SUM(user_id) AS BIGINT) AS sum_user_id,
           MIN(event_id) AS min_event_id,
           MAX(event_id) AS max_event_id
    FROM events
    GROUP BY event_type
    ORDER BY event_type
"""


def _slice_agg(df: DataFrame) -> DataFrame:
    return (
        df.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("user_id").alias("sum_user_id"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
        )
        .orderBy("event_type")
    )


@register(
    "scan_json",
    oracle=_SLICE_AGG_ORACLE,
    doc="""JSON-lines scan: write the events slice as JSON, read it back
    with a declared StructType (no inferSchema pass), aggregate.  The
    oracle aggregates the original parquet — proving the JSON round-trip
    is lossless.  Line-delimited JSON splits per block at scale.""",
)
def scan_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    back = spark.read.schema(_EVENTS_SLICE_DDL).json(
        _round_trip_path(spark, sf_dir, "json")
    )
    return _slice_agg(back)


@register(
    "scan_csv",
    oracle=_SLICE_AGG_ORACLE,
    doc="""CSV scan with header + declared schema (inference off), same
    round-trip proof as scan_json.  CSV is the interchange format the
    reference's text-file output most resembles
    [pub: …/io/MultiOutputFormat.java: text lines + codec].""",
)
def scan_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    back = spark.read.schema(_EVENTS_SLICE_DDL).option("header", True).csv(
        _round_trip_path(spark, sf_dir, "csv")
    )
    return _slice_agg(back)


@register(
    "scan_orc",
    oracle=_SLICE_AGG_ORACLE,
    doc="""ORC scan: write the events slice as ORC (Spark's second
    native columnar format), read it back, aggregate — same round-trip
    proof as scan_json/scan_csv.  Unlike the text formats, ORC is
    binary-columnar with stripe-level statistics, so at 100 TB it gets
    the same predicate-pushdown/column-pruning treatment as parquet;
    the declared-schema read skips the footer-only inference pass.""",
)
def scan_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    back = spark.read.schema(_EVENTS_SLICE_DDL).orc(
        _round_trip_path(spark, sf_dir, "orc")
    )
    return _slice_agg(back)


# sf_dir -> target of the one loader run over its JSON round-trip, or
# None when that run wrote no rows.
_loads: dict[str, str | None] = {}


def _loaded_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The events slice as the loader writes it: its JSON round-trip is
    the files source of one ``run_loader`` run (event time from
    ``ts_us``), read back with ``read_loaded`` and the payload parsed.

    The load runs once per process per ``sf_dir``; a repeat call only
    reads.  ``read_loaded`` infers its schema from the loaded files, so
    a run that wrote none reads as an empty frame of the same columns."""
    key = os.path.abspath(sf_dir)
    if key not in _loads:
        root = os.path.join(_temp_root(), f"loaded_{len(_loads)}")
        cfg = LoaderConfig(
            input_path=_round_trip_path(spark, sf_dir, "json"),
            target_path=os.path.join(root, "out"),
            checkpoint_path=os.path.join(root, "checkpoint"),
            timestamp_field="ts_us",
            payload_schema=_EVENTS_SLICE_DDL,
        )
        wrote = run_loader(spark, cfg)["rows_written"]
        _loads[key] = cfg.target_path if wrote else None
    if _loads[key] is None:
        return spark.createDataFrame([], f"{_EVENTS_SLICE_DDL}, d date, h int")
    rec = F.from_json("payload", _EVENTS_SLICE_DDL).alias("rec")
    return read_loaded(spark, _loads[key]).select(rec, "d", "h").select("rec.*", "d", "h")


def _layout_keys() -> list:
    """The loaded table's ``d``/``h`` as the oracles type them."""
    return [F.col("d").cast("string").alias("d"), F.col("h").cast("bigint").alias("h")]


@register(
    "sink_partitioned",
    oracle="""
        WITH t AS (
            SELECT strftime(ts, '%Y-%m-%d') AS d,
                   CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
                   user_id
            FROM events
        )
        SELECT d, h, COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS sum_user_id
        FROM t
        WHERE d = (SELECT min(d) FROM t)
        GROUP BY d, h
        ORDER BY d, h
    """,
    doc="""The reference's time-bucketed sink (R7), read back one day:
    the events slice as run_loader loads it into d=YYYY-MM-DD/h=HH
    (shared with reference_loader_parity, loaded once per process),
    filtered to its first day.  The day comes from a scalar subquery,
    not a driver-side collect, and the scan's partition filter carries
    it, so only that day's directories are read (verified in pytest on
    the executed plan's PartitionFilters).  The oracle recomputes the
    same per-hour aggregate for that day directly from parquet.""",
)
def sink_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    back = _loaded_events(spark, sf_dir)
    first_day = back.where(F.col("d") == back.select(F.min("d")).scalar())
    return (
        first_day.groupBy(*_layout_keys())
        .agg(F.count("*").alias("n"), F.sum("user_id").alias("sum_user_id"))
        .orderBy("d", "h")
    )


@register(
    "scan_text_lines",
    oracle=_SLICE_AGG_ORACLE,
    doc="""Gzip text-lines scan — the closest batch analogue of the
    reference's output format (text lines + compression codec, R8
    [pub: …/io/MultiOutputFormat.java]): the events slice is written as
    tab-delimited gzip text, read back with spark.read.text, parsed by
    a JVM-side split + casts (no UDF), and aggregated; the oracle
    aggregates the original parquet, proving the text round-trip is
    lossless.  Scale note: unlike plain text, GZIP FILES ARE NOT
    SPLITTABLE — each .gz becomes exactly one task, so the writer's
    parallelism caps the reader's.  Real deployments size write tasks
    to ~128 MB of compressed text or use a splittable codec; the
    parquet sink path avoids the issue entirely.""",
)
def scan_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    lines = spark.read.text(_round_trip_path(spark, sf_dir, "text"))
    parts = F.split(F.col("value"), "\t")
    back = lines.select(
        parts.getItem(0).cast("long").alias("event_id"),
        parts.getItem(1).cast("long").alias("user_id"),
        parts.getItem(2).alias("event_type"),
        parts.getItem(3).cast("long").alias("ts_us"),
    )
    return _slice_agg(back)


def _make_jsonl_reader(options):
    from pyspark.sql.datasource import DataSourceReader

    class _JsonlLoaderReader(DataSourceReader):
        """Reader half of the Python DataSource below: one input
        partition per .json file (the split granularity the loader's
        own sink produces), rows parsed with the stdlib json module."""

        def __init__(self, opts):
            self._path = opts.get("path")

        def partitions(self):
            import glob

            from pyspark.sql.datasource import InputPartition

            return [
                InputPartition(p)
                for p in sorted(glob.glob(os.path.join(self._path, "*.json")))
            ]

        def read(self, partition):
            import json

            with open(partition.value) as f:
                for line in f:
                    if not line.strip():
                        continue
                    r = json.loads(line)
                    yield (
                        r["event_id"],
                        r["user_id"],
                        r["event_type"],
                        r["ts_us"],
                    )

    return _JsonlLoaderReader(options)


def _make_jsonl_datasource():
    from pyspark.sql.datasource import DataSource

    class JsonlLoaderSource(DataSource):
        """Custom Python DataSource (Spark 4 API): a from-scratch
        parallel reader for the loader's JSON-lines output, the
        pluggable-source seam the reference filled with a custom Hadoop
        InputFormat [pub: …/io/KafkaInputFormat.java]."""

        @classmethod
        def name(cls):
            return "khl_jsonl"

        def schema(self):
            return _EVENTS_SLICE_DDL

        def reader(self, schema):
            return _make_jsonl_reader(self.options)

    return JsonlLoaderSource


@register(
    "scan_python_datasource",
    oracle=_SLICE_AGG_ORACLE,
    doc="""Custom Python DataSource (Spark 4's pyspark.sql.datasource
    API): the engine's own registered source format ("khl_jsonl") reads
    the events slice back from JSON-lines with one InputPartition per
    file and a pure-Python row parser — the modern equivalent of the
    reference's custom Hadoop InputFormat seam (KafkaInputFormat: a
    from-scratch source plugged into the framework's split/read
    lifecycle).  The oracle aggregates the original parquet, proving
    the custom source is lossless.  Scale notes: partitions() defines
    the parallelism contract exactly like InputSplits did; a real
    deployment returns one partition per file-range and reads via
    Arrow batches (DataSourceReader also supports that), and anything
    hot should stay on the built-in JVM readers — this seam is for
    systems Spark has NO connector for.""",
)
def scan_python_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _round_trip_path(spark, sf_dir, "json")
    spark.dataSource.register(_make_jsonl_datasource())
    back = (
        spark.read.format("khl_jsonl")
        .option("path", path)
        .load()
    )
    return _slice_agg(back)


_ctas_done: set[str] = set()


@register(
    "sql_ctas_insert",
    oracle="""
        WITH t AS (
            SELECT o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey % 2 = 0
            UNION ALL
            SELECT o_orderstatus, o_totalprice
            FROM orders WHERE o_orderkey % 2 = 1 AND o_orderstatus = 'F'
        )
        SELECT o_orderstatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE)
                   / 100.0 AS total
        FROM t
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus
    """,
    doc="""SQL DDL/DML lifecycle: CREATE TABLE ... USING parquet AS
    SELECT (CTAS) materializes half the orders, INSERT INTO appends a
    filtered second batch, and the engine's catalog serves the managed
    table back for the final aggregate — the create/append/query loop
    every warehouse table lives through, exercised through the SQL
    parser (parameterized spark.sql for the predicates).  Table data
    lives under the per-process temp root (same lifecycle discipline as
    the bucketed/partitioned fixtures: no cross-process races, removed
    at exit); the write happens once per process, re-runs only re-scan.
    Oracle recomputes the CTAS ∪ INSERT contents directly from the
    source — catalog plumbing must not change the data.""",
)
def sql_ctas_insert(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir.rstrip("/")).encode()).hexdigest()[:8]
    tname = f"khl_ctas_{tag}"
    data_dir = os.path.join(_temp_root(), tname)
    if tname not in _ctas_done or not os.path.isdir(data_dir):
        table(spark, sf_dir, "orders").createOrReplaceTempView(f"khl_orders_{tag}")
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        spark.sql(
            f"""
            CREATE TABLE {tname}
            USING parquet LOCATION '{data_dir}'
            AS SELECT o_orderkey, o_orderstatus, o_totalprice
               FROM khl_orders_{tag} WHERE o_orderkey % :m = 0
            """,
            args={"m": 2},
        )
        spark.sql(
            f"""
            INSERT INTO {tname}
            SELECT o_orderkey, o_orderstatus, o_totalprice
            FROM khl_orders_{tag}
            WHERE o_orderkey % :m = 1 AND o_orderstatus = :st
            """,
            args={"m": 2, "st": "F"},
        )
        _ctas_done.add(tname)
    return (
        spark.table(tname)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).cast(
                    "double"
                )
                / 100.0
            ).alias("total"),
        )
        .orderBy("o_orderstatus")
    )


_overwrite_done: set[str] = set()


@register(
    "insert_overwrite_day",
    oracle="""
        WITH src AS (
            SELECT strftime(ts, '%Y-%m-%d') AS d, user_id, value
            FROM events
        ),
        mn AS (SELECT min(d) AS d0 FROM src)
        SELECT d,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND(
                   CASE WHEN d = (SELECT d0 FROM mn) THEN value * 2
                        ELSE value END * 100) AS BIGINT)) AS DOUBLE)
                   / 100.0 AS sum_value
        FROM src
        GROUP BY d
        ORDER BY d
    """,
    doc="""Dynamic partition overwrite (INSERT OVERWRITE with
    partitionOverwriteMode=dynamic): restate exactly one day of a
    date-partitioned table — the backfill primitive.  The first day's
    rows are rewritten with corrected (here: doubled) values; every
    other day's directory is untouched because dynamic mode only
    replaces partitions the INSERT produces (static mode would wipe
    the whole table — the classic backfill footgun this op exists to
    demonstrate).  The restated day is picked by a scalar subquery, no
    driver collect.  Idempotent: re-running the restatement yields the
    same state, so the registered query is re-executable.  Oracle
    states the expected post-restatement content from the source of
    truth.  At 100 TB this is the nightly correction job: cost is one
    day's partition, not the table.""",
)
def insert_overwrite_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir.rstrip("/")).encode()).hexdigest()[:8]
    tname = f"khl_ovw_{tag}"
    data_dir = os.path.join(_temp_root(), tname)
    src = table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "value",
        F.date_format("ts", "yyyy-MM-dd").alias("d"),
    )
    if tname not in _overwrite_done or not os.path.isdir(data_dir):
        src.createOrReplaceTempView(f"khl_ovw_src_{tag}")
        spark.sql(f"DROP TABLE IF EXISTS {tname}")
        spark.sql(
            f"""
            CREATE TABLE {tname}
            USING parquet
            PARTITIONED BY (d)
            LOCATION '{data_dir}'
            AS SELECT event_id, user_id, value, d FROM khl_ovw_src_{tag}
            """
        )
        # Scope the dynamic-overwrite mode to this one statement: the
        # session is shared (bench/driver run hundreds of queries in one
        # process), so leaking `dynamic` would silently change INSERT
        # OVERWRITE semantics for everything after us.
        prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode", None)
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            spark.sql(
                f"""
                INSERT OVERWRITE TABLE {tname}
                SELECT event_id, user_id, value * 2 AS value, d
                FROM khl_ovw_src_{tag}
                WHERE d = (SELECT min(d) FROM khl_ovw_src_{tag})
                """
            )
        finally:
            if prev_mode is None:
                spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
            else:
                spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        _overwrite_done.add(tname)
    return (
        spark.table(tname)
        .groupBy("d")
        .agg(
            F.count("*").alias("n"),
            (
                F.sum(F.round(F.col("value") * 100).cast("long")).cast("double")
                / 100.0
            ).alias("sum_value"),
        )
        .orderBy("d")
    )


@register(
    "reference_loader_parity",
    oracle="""
        SELECT strftime(ts, '%Y-%m-%d') AS d,
               CAST(EXTRACT(hour FROM ts) AS BIGINT) AS h,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(MIN(event_id) AS BIGINT) AS min_event_id,
               CAST(MAX(event_id) AS BIGINT) AS max_event_id,
               CAST(SUM(user_id) AS BIGINT) AS sum_user_id
        FROM events
        GROUP BY d, h
        ORDER BY d, h
    """,
    doc="""The reference's complete job, run by the loader itself
    [pub: HadoopJobMapper.java + MultiOutputFormat.java, R1-R8]:
    run_loader consumes the events slice as a stream of JSON lines (a
    files source over the JSON round-trip), parses each payload with
    the slice's declared schema, takes the event time from the payload
    (R6), and writes the d=YYYY-MM-DD/h=HH parquet layout (R7) in one
    bounded availableNow run, once per process.  The query reads the
    WHOLE layout back through read_loaded and proves it complete
    against the source of truth: per-bucket counts, id ranges and
    checksums must equal the oracle computed on the original parquet.
    sink_partitioned reads one day of the same load.""",
)
def reference_loader_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _loaded_events(spark, sf_dir)
        .groupBy(*_layout_keys())
        .agg(
            F.count("*").alias("n"),
            F.min("event_id").alias("min_event_id"),
            F.max("event_id").alias("max_event_id"),
            F.sum("user_id").alias("sum_user_id"),
        )
        .orderBy("d", "h")
    )


_corrupt_done: dict[str, str] = {}


def _corrupt_jsonl_path(spark: SparkSession, sf_dir: str) -> str:
    """Write (once per process per sf_dir) a JSONL copy of the events
    slice where every line with event_id % 10 == 3 is truncated into
    invalid JSON — the deterministic stand-in for the malformed payloads
    every real feed contains [pub: HadoopJobMapper.java skips lines its
    JSON timestamp extraction cannot parse]."""
    key = os.path.abspath(sf_dir)
    if key not in _corrupt_done:
        path = os.path.join(_temp_root(), f"events_corrupt_{len(_corrupt_done)}")
        df = _events_slice(spark, sf_dir)
        line = F.to_json(F.struct("event_id", "user_id", "event_type", "ts_us"))
        (
            df.select(line.alias("line"))
            .select(
                F.when(
                    # derive the rule from the serialized line itself so
                    # the JSON expression exists in exactly one place
                    F.get_json_object("line", "$.event_id") % 10 == 3,
                    F.substring(F.col("line"), 1, F.length("line") - 5),
                )
                .otherwise(F.col("line"))
                .alias("value")
            )
            .write.mode("overwrite")
            .text(path)
        )
        _corrupt_done[key] = path
    return _corrupt_done[key]


@register(
    "scan_corrupt_records",
    oracle="""
        SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
               CAST(SUM(CASE WHEN event_id % 10 = 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_corrupt,
               CAST(SUM(CASE WHEN event_id % 10 != 3 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_good,
               CAST(SUM(CASE WHEN event_id % 10 != 3 THEN user_id END)
                    AS BIGINT) AS sum_user_id,
               CAST(MIN(CASE WHEN event_id % 10 != 3 THEN event_id END)
                    AS BIGINT) AS min_good_event_id
        FROM events
    """,
    doc="""Corrupt-record-tolerant ingestion: the events slice is
    round-tripped through JSONL with every (event_id % 10 == 3) line
    deterministically truncated mid-object, then read back with a
    declared schema in PERMISSIVE mode + columnNameOfCorruptRecord —
    bad lines surface as rows whose `_corrupt_record` holds the raw
    text and whose typed columns are null, instead of failing the job
    (DROPMALFORMED) or aborting it (FAILFAST).  The audit aggregates
    good/corrupt counts and checksums the good rows; the oracle derives
    the same numbers from the corruption rule.

    This is the production JSON-feed posture: quarantine malformed
    payloads into a dead-letter column, keep loading.  Scale: schema'd
    JSON scan, one aggregate — the corrupt column is only materialized
    for rows that fail the parser.""",
)
def scan_corrupt_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _corrupt_jsonl_path(spark, sf_dir)
    df = (
        spark.read.schema(f"{_EVENTS_SLICE_DDL}, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    bad = F.col("_corrupt_record").isNotNull()
    return df.agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(bad, 1).otherwise(0)).cast("bigint").alias("n_corrupt"),
        F.sum(F.when(~bad, 1).otherwise(0)).cast("bigint").alias("n_good"),
        F.sum(F.when(~bad, F.col("user_id"))).cast("bigint").alias("sum_user_id"),
        F.min(F.when(~bad, F.col("event_id"))).cast("bigint").alias("min_good_event_id"),
    )


@register(
    "sql_pipe_syntax",
    oracle="""
        SELECT l_returnflag, l_linestatus,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT))
                         AS BIGINT) AS DOUBLE) / 100.0 AS revenue,
               CAST(MAX(CAST(l_quantity AS BIGINT)) AS BIGINT) AS max_qty
        FROM lineitem
        WHERE l_quantity >= 10
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    doc="""SQL pipe syntax (Spark 4.0's `|>` operator chain — the
    linear FROM -> transform -> aggregate form standardized from
    GoogleSQL): the same pricing-summary shape as agg_pricing_summary
    expressed as  FROM t |> WHERE |> EXTEND |> AGGREGATE ... GROUP BY
    |> ORDER BY, proving the engine's SQL front door accepts the
    pipeline dialect and plans it identically to nested SQL (Catalyst
    sees the same logical plan; the oracle is the classic form).
    EXTEND adds the scaled-cents column the exact-sum convention
    needs; the aggregate is one map-side-combining hash agg.""",
)
def sql_pipe_syntax(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    tag = hashlib.md5(os.path.abspath(sf_dir.rstrip("/")).encode()).hexdigest()[:8]
    vname = f"khl_pipe_li_{tag}"
    table(spark, sf_dir, "lineitem").createOrReplaceTempView(vname)
    return spark.sql(
        f"""
        FROM {vname}
        |> WHERE l_quantity >= 10
        |> EXTEND CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS price_c
        |> AGGREGATE COUNT(*) AS n,
                     CAST(SUM(price_c) AS DOUBLE) / 100.0 AS revenue,
                     MAX(CAST(l_quantity AS BIGINT)) AS max_qty
           GROUP BY l_returnflag, l_linestatus
        |> ORDER BY l_returnflag, l_linestatus
        |> SELECT l_returnflag, l_linestatus, n, revenue, max_qty
        """
    )


@register(
    "scan_xml",
    oracle=_SLICE_AGG_ORACLE,
    doc="""XML scan — Spark 4's NATIVE xml source (the spark-xml
    package upstreamed): write the events slice as <event> row elements,
    read it back with a declared schema and rowTag, aggregate — the
    same round-trip proof as scan_json/scan_csv/scan_orc, closing the
    text-format family.  XML is the one ingest format whose records
    nest by default; at 100 TB you treat it exactly like JSON-lines:
    declared schema (no inference pass), per-file splits, and convert
    to parquet on landing (the loader's R7 step) rather than re-parsing
    tags per query.""",
)
def scan_xml(spark: SparkSession, sf_dir: str) -> DataFrame:
    back = (
        spark.read.schema(_EVENTS_SLICE_DDL)
        .option("rowTag", "event")
        .format("xml")
        .load(_round_trip_path(spark, sf_dir, "xml"))
    )
    return _slice_agg(back)


# --- Binary-files source ------------------------------------------------------

_BLOB_MOD = 100  # every 100th document becomes a blob file
_blob_dirs: dict = {}


def _blob_fixture_dir(spark: SparkSession, sf_dir: str) -> str:
    """First-touch fixture: every {_BLOB_MOD}th document's text written
    as a standalone .bin file (plain Python IO — no Spark job), the
    on-disk shape of an image/audio blob store keyed by id."""
    key = os.path.abspath(sf_dir)
    if key not in _blob_dirs:
        path = os.path.join(_temp_root(), f"blobs_{len(_blob_dirs)}")
        os.makedirs(path, exist_ok=True)
        rows = (
            table(spark, sf_dir, "documents")
            .where(F.col("doc_id") % _BLOB_MOD == 0)
            .select("doc_id", "text")
            .collect()
        )
        for r in rows:
            with open(os.path.join(path, f"doc_{r['doc_id']}.bin"), "wb") as f:
                f.write(r["text"].encode("utf-8"))
        _blob_dirs[key] = path
    return _blob_dirs[key]


@register(
    "scan_binary_files",
    oracle=f"""
        SELECT doc_id,
               CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
               md5(text) AS content_md5
        FROM documents
        WHERE doc_id % {_BLOB_MOD} = 0
        ORDER BY doc_id
    """,
    doc=f"""Whole-file binary source — ``spark.read.format("binaryFile")``,
    the ingestion path for image/audio/model-checkpoint blobs that have
    no row structure (the eighth source format after parquet / json /
    csv / orc / gzip-text / xml / the custom Python DataSource): each
    file becomes one row of (path, modificationTime, length, content),
    here every {_BLOB_MOD}th document's bytes staged as a ``.bin``
    file at first touch.  The query extracts the id from the filename
    (JVM regexp), the size, and the content md5; the oracle computes
    the same three from the source-of-truth documents view, proving
    the blob round-trip byte-lossless without the oracle ever seeing
    the staging directory.

    Scale notes pinned in code: binaryFile loads EACH FILE WHOLE into
    one row — the right tool for millions of small-to-medium blobs
    (it lists and partitions by file), the wrong one past
    2 GB/file (Spark's byte-array row limit); a real lake fronts it
    with the same (id, bytes) columnar shape multimodal_meta models.
    The md5 runs JVM-side on the binary column — no Python in the
    scan.""",
)
def scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    path = _blob_fixture_dir(spark, sf_dir)
    files = spark.read.format("binaryFile").load(path)
    return (
        files.select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("length").cast("bigint").alias("payload_bytes"),
            F.md5(F.col("content")).alias("content_md5"),
        )
        .orderBy("doc_id")
    )
