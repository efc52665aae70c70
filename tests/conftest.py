from __future__ import annotations

import duckdb
import pytest

from pandamapreduce_spark.catalog import TABLES
from pandamapreduce_spark.session import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pandamapreduce-tests")
    yield s
    s.stop()


@pytest.fixture(scope="session")
def oracle():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')")
    yield con
    con.close()


def duckdb_rows(sql: str, **frames) -> list[tuple]:
    """Rows of ``sql`` run by a fresh DuckDB connection in which each
    keyword frame (pandas or Arrow) is registered under its name —
    the oracle side of tests that feed a planted or re-read frame."""
    con = duckdb.connect()
    try:
        for name, frame in frames.items():
            con.register(name, frame)
        return con.sql(sql).fetchall()
    finally:
        con.close()


def jobs_run(spark, group: str, fn):
    """(fn(), number of Spark jobs fn ran), counted under job group ``group``."""
    sc = spark.sparkContext
    sc.setLocalProperty("spark.jobGroup.id", group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))
