"""Shared fixtures: one SparkSession per test session, a DuckDB oracle
connection factory, and the strict compare helper (mirrors the driver's
row-count + column + order-insensitive value-hash gate)."""

from __future__ import annotations

import contextlib
import hashlib
import os
import sys

import duckdb
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)
_TOOLS = os.path.join(REPO, "tools")
if _TOOLS not in sys.path:
    sys.path.insert(0, _TOOLS)

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from kafka_hadoop_loader_spark.session import get_spark

    s = get_spark("pytest", master="local[8]", shuffle_partitions=8)
    yield s
    s.stop()


@contextlib.contextmanager
def session_confs(spark, confs: dict[str, str]):
    """Set session confs for the block, then restore the old values."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    from kafka_hadoop_loader_spark.catalog import TABLES

    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con


def value_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(r[i] for i in order)) for r in rows)
    return hashlib.sha256("\n".join(canon).encode()).hexdigest()


def assert_matches_oracle(spark_df, oracle_sql: str, duck) -> None:
    srows = [tuple(r) for r in spark_df.collect()]
    res = duck.execute(oracle_sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    assert sorted(spark_df.columns) == sorted(ocols), (
        f"columns: {sorted(spark_df.columns)} != {sorted(ocols)}"
    )
    # Typed-schema gate (mirrors the driver's typed value hashing): a
    # DuckDB column family that diverges from the Spark one — e.g. an
    # un-CAST integer SUM() widening to HUGEINT/decimal128 — is a driver
    # hash-fail even when Python-level values compare equal.
    from typecanon import oracle_arrow_schema, type_mismatches

    tmis = type_mismatches(spark_df.schema, oracle_arrow_schema(duck, oracle_sql))
    assert not tmis, f"oracle/engine type-family mismatch: {tmis}"
    assert len(srows) == len(orows), f"rowcount: {len(srows)} != {len(orows)}"
    sh, oh = value_hash(srows, spark_df.columns), value_hash(orows, ocols)
    if sh != oh:
        s_norm = sorted(
            repr(tuple(r[i] for i in sorted(range(len(spark_df.columns)), key=lambda i: spark_df.columns[i])))
            for r in srows
        )
        o_norm = sorted(
            repr(tuple(r[i] for i in sorted(range(len(ocols)), key=lambda i: ocols[i])))
            for r in orows
        )
        diffs = [(a, b) for a, b in zip(s_norm, o_norm) if a != b][:3]
        raise AssertionError(f"value hash mismatch; first diffs: {diffs}")
