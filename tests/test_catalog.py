"""catalog.load_table's schema memo: a repeat load of an unchanged file
runs no Spark job and reads the same schema and plan; a rewritten file
is inferred again."""

from __future__ import annotations

import os
import re
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pandamapreduce_spark.catalog import TABLES, load_table

from tests.conftest import SF_DIR, jobs_run


def optimized_plan(df) -> str:
    return re.sub(r"#\d+L?", "", df._jdf.queryExecution().optimizedPlan().toString())


def test_repeat_load_runs_no_job(spark):
    load_table(spark, SF_DIR, "lineitem")
    df, jobs = jobs_run(spark, "catalog.repeat_load", lambda: load_table(spark, SF_DIR, "lineitem"))
    assert jobs == 0
    assert df.count() > 0


def test_memoized_load_matches_inferred_load(spark, tmp_path):
    # a fresh path forces the first load to infer its schema
    for name in TABLES:
        shutil.copy(os.path.join(SF_DIR, f"{name}.parquet"), tmp_path / f"{name}.parquet")
    for name in TABLES:
        first, jobs1 = jobs_run(spark, f"catalog.first.{name}", lambda: load_table(spark, str(tmp_path), name))
        second, jobs2 = jobs_run(spark, f"catalog.second.{name}", lambda: load_table(spark, str(tmp_path), name))
        assert jobs1 >= 1 and jobs2 == 0, (name, jobs1, jobs2)
        assert second.schema == first.schema, name
        assert optimized_plan(second) == optimized_plan(first), name


def test_rewritten_file_is_inferred_again(spark, tmp_path):
    path = tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2]}), path)
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    assert load_table(spark, str(tmp_path), "t").columns == ["a"]
    pq.write_table(pa.table({"a": [3, 4], "b": ["x", "y"]}), path)
    df = load_table(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"]
    assert sorted(df.collect()) == [(3, "x"), (4, "y")]


def test_events_ts_is_timestamp_on_memoized_read(spark):
    first = load_table(spark, SF_DIR, "events")
    second = load_table(spark, SF_DIR, "events")
    assert isinstance(second.schema["ts"].dataType, T.TimestampType)
    span = [F.min("ts"), F.max("ts"), F.count("ts")]
    assert second.agg(*span).collect() == first.agg(*span).collect()
