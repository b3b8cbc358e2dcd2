"""Source/sink round-trips: JSON/CSV scans match the oracle on the
original parquet; the partitioned sink's read-back actually prunes."""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_DIR, assert_matches_oracle, session_confs


def test_scan_json_matches_oracle(spark, duck):
    from kafka_hadoop_loader_spark import registry

    q = registry.load_all()["scan_json"]
    assert_matches_oracle(q.fn(spark, SF_DIR), q.oracle, duck)


def test_scan_csv_matches_oracle(spark, duck):
    from kafka_hadoop_loader_spark import registry

    q = registry.load_all()["scan_csv"]
    assert_matches_oracle(q.fn(spark, SF_DIR), q.oracle, duck)


def test_sink_partitioned_matches_oracle(spark, duck):
    """The first-day read matches the oracle, and its scan prunes on
    the day subquery itself, not only on ``isnotnull(d)``."""
    from kafka_hadoop_loader_spark import registry

    q = registry.load_all()["sink_partitioned"]
    df = q.fn(spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    filters = re.findall(r"PartitionFilters: \[(.*?)\], PushedFilters", plan)
    assert any(re.search(r"\bd#\d+ = Subquery ", f) for f in filters), filters
    assert_matches_oracle(df, q.oracle, duck)


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_time_columns_ignore_session_zone(spark, tmp_path, unit):
    """``ts`` (wall clock) and ``ts_us`` (epoch µs) of the events table
    read the stored timestamp as UTC in both fixture layouts, even when
    the session zone was changed after the engine configured the
    session.  The d/h layout queries bucket on ``ts_us``."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from kafka_hadoop_loader_spark.catalog import table
    from kafka_hadoop_loader_spark.session import configure_runtime

    walls = [
        dt.datetime(2024, 1, 1, 0, 0),
        dt.datetime(2024, 3, 10, 2, 30, 0, 123456),  # a New York DST gap
        dt.datetime(1969, 12, 31, 23, 59, 59, 500000),
    ]
    epoch_us = [(w - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1) for w in walls]
    pq.write_table(
        pa.table({"event_id": [0, 1, 2], "ts": pa.array(walls, pa.timestamp(unit))}),
        str(tmp_path / "events.parquet"),
    )
    configure_runtime(spark)
    with session_confs(spark, {"spark.sql.session.timeZone": "America/New_York"}):
        rows = table(spark, str(tmp_path), "events").orderBy("event_id").collect()
    assert [r.ts_us for r in rows] == epoch_us
    assert [r.ts for r in rows] == walls


def test_compaction_reduces_files_per_day(spark):
    """The fragmented copy must really be fragmented (8 hashed writer
    tasks -> >1 file in at least one day directory) and the compacted
    rewrite must land exactly one data file per day."""
    import glob
    import os

    from kafka_hadoop_loader_spark.operators.layout import _compact_dirs
    from tests.conftest import SF_DIR

    frag, compact = _compact_dirs(spark, SF_DIR)

    def files_per_day(root):
        return {
            os.path.basename(d): len(glob.glob(os.path.join(d, "*.parquet")))
            for d in glob.glob(os.path.join(root, "d=*"))
        }

    frag_counts = files_per_day(frag)
    compact_counts = files_per_day(compact)
    assert frag_counts and compact_counts
    assert max(frag_counts.values()) > 1
    assert set(compact_counts.values()) == {1}
    assert sum(1 for v in frag_counts.values() if v > 1) >= 1
