"""SparkSession construction + runtime configuration.

The driver supplies its own SparkSession to ``queries()`` callables, so
everything the engine *needs* must be settable at runtime on an existing
session (``configure_runtime``).  ``get_spark`` builds the engine's own
session, used by the CLI loader, the tests and the benchmark.

Scale notes (100 TB posture):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting
  and dynamic join-strategy switching replace any hand-tuned plan.
- shuffle partitions default small for local test scale; on a real
  cluster set ``spark.sql.shuffle.partitions`` ~ 2-3x total cores and
  let AQE coalesce down.
- Arrow enabled for any Pandas-UDF path (vectorized transfer).

Local file system: ``get_spark`` maps ``file://`` to Hadoop's raw local
file system, so local tables and checkpoints get no ``.crc`` sidecar
files.  ``ChecksumFileSystem`` writes one next to every parquet file,
sink-log entry and checkpoint log entry, which doubles the files on
every micro-batch's commit path; without a native Hadoop library each
of those files also forks ``chmod``.  The trade: local files lose
Hadoop's client-side CRC.  HDFS and object stores checksum on their
own, so only ``file://`` paths change, and a table or checkpoint written
either way stays readable and resumable by the other.  These are not
``RUNTIME_CONFS``: the JVM reads ``fs.file.impl`` when it first creates
its cached ``file://`` file system, so a session that already exists,
such as one passed to ``queries()``, keeps the checksummed file system.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import SparkSession

# Runtime-settable SQL confs: safe to apply to a driver-provided session.
RUNTIME_CONFS: dict[str, str] = {
    # Determinism vs the DuckDB oracle: DuckDB timestamps are naive; with a
    # UTC session zone, LTZ<->NTZ casts are wall-clock identity.
    "spark.sql.session.timeZone": "UTC",
    # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark cannot read
    # natively (PARQUET_TYPE_ILLEGAL); read as long ns and convert ourselves
    # (catalog.events does `ts DIV 1000` -> microseconds, matching DuckDB's
    # own ns->us truncation).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # Arrow-batched transfer for every Pandas UDF / toPandas path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # AQE: coalesce post-shuffle partitions, split skewed joins.
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Wide sketch aggregates (64 minhash mins, simhash bit votes) exceed
    # the default 100-field cap and silently lose whole-stage codegen —
    # measured ~1.5x slower.  Raise the cap; the generated methods stay
    # under the JIT's 8KB/64KB limits because each field is one sum/min.
    "spark.sql.codegen.maxFields": "512",
    # Bucketed-sorted tables (join_bucketed_colocated): let the scan
    # report the sortBy ordering so the co-located SMJ elides both Sorts
    # (requires one file per bucket, which the bucketed write guarantees
    # via repartition-on-key).  Only affects bucketed scans.
    "spark.sql.legacy.bucketedTableScan.outputOrdering": "true",
}

_CONFIGURED: "weakref.WeakSet[SparkSession]" = weakref.WeakSet()


def configure_runtime(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine confs to an existing session.

    Idempotent and cheap; called from catalog loading so the engine works
    on the driver's session, not only on ``get_spark()``'s.  Memoized per
    session object (a WeakSet, so a collected session can never alias a
    new one): table() calls this on EVERY table reference, and the ~8
    conf.set py4j round-trips were a fixed tax on each of the suite's
    thousands of plan constructions (r13 measurement hygiene).
    """
    if spark in _CONFIGURED:
        return spark
    for k, v in RUNTIME_CONFS.items():
        try:
            spark.conf.set(k, v)
        except Exception:
            # A conf may be rejected on exotic builds; engine degrades
            # gracefully (only nanosAsLong is load-bearing, and only for
            # the events table).
            pass
    try:
        _CONFIGURED.add(spark)
    except TypeError:
        pass  # un-weakref-able session stand-ins (tests) just reconfigure
    return spark


def get_spark(
    app_name: str = "kafka-hadoop-loader-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build the engine's own session (tests, bench, CLI loader)."""
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or "local[%s]" % (
        os.environ.get("SPARK_GRAFT_CPUS", "*")
    )
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # A session that plans hundreds of distinct queries (bench: 220+
        # queries x 3 passes) compiles thousands of whole-stage-codegen
        # classes; the JVM default ReservedCodeCacheSize (240 MB) fills,
        # HotSpot stops JIT-compiling, and expression-heavy operators
        # degrade 2-10x late in the run (measured: text_repetition 1.7s
        # -> 11s across bench runs; multimodal_arrow_checksum 1.5s ->
        # 3.5-9.5s late-suite at 512 MB, back to ~2.5s at 1 GB with
        # 16 GB heap).  1 GB keeps the JIT active for the whole suite —
        # same flag Spark's own docs recommend for long-lived drivers.
        # Heap: 16 GB gives the memoized operator indexes (ANN buckets,
        # shingle tables) headroom without GC pressure on the
        # Arrow-batched paths; the box has 128 GB.
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get(
                "SPARK_GRAFT_DRIVER_JAVA_OPTS", "-XX:ReservedCodeCacheSize=1g"
            ),
        )
        # Keep the Python worker pool alive for the whole suite: a suite
        # mixing JVM-only and Python-tier queries otherwise lets idle
        # workers be reaped between Python queries, and the next pandas/
        # Arrow query re-pays 32x worker spawn + numpy/pyarrow imports
        # (measured ~2s on this box).  0 = never reap.
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.worker.idleTimeoutSeconds", "0")
        # No .crc sidecars on local paths (module docstring).  The second
        # key covers FileContext users, such as the checkpoint manager.
        .config("spark.hadoop.fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
        .config(
            "spark.hadoop.fs.AbstractFileSystem.file.impl",
            "org.apache.hadoop.fs.local.RawLocalFs",
        )
    )
    for k, v in RUNTIME_CONFS.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
