"""Catalog: load the driver's TPC-H-ish star schema + extension tables.

Tables (see TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

At 100 TB these would be partitioned/bucketed parquet datasets; the
loader is path-based so the same code reads a directory tree. Parquet
scans get predicate pushdown + column pruning from Catalyst for free.

A schema-less ``spark.read.parquet`` runs a one-task Spark job to read
the file footer, on every call. ``load_table`` therefore remembers the
schema it inferred for each regular file, keyed on the absolute path
and valid while the file's ``(st_mtime_ns, st_size)`` stay the same;
later loads pass that schema to the reader and run no job. A rewritten
file gets a new stamp and is inferred again. Directories are never
memoized: a directory's mtime does not change when a file inside it is
rewritten.
"""

from __future__ import annotations

import os
import stat

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

#: absolute path → (st_mtime_ns, st_size, schema inferred at that stamp)
_SCHEMAS: dict[str, tuple[int, int, StructType]] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)``, with the inferred schema memoized
    for a regular local file (see the module docstring)."""
    try:
        st = os.stat(path)
    except OSError:  # a cluster URI, or missing: Spark resolves or reports it
        return spark.read.parquet(path)
    if not stat.S_ISREG(st.st_mode):
        return spark.read.parquet(path)
    key = os.path.abspath(path)
    hit = _SCHEMAS.get(key)
    if hit is not None and hit[:2] == (st.st_mtime_ns, st.st_size):
        return spark.read.schema(hit[2]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (st.st_mtime_ns, st.st_size, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str, spread: bool = False) -> DataFrame:
    """Load one table. ``spread=True`` repartitions to the cluster's
    parallelism — use for CPU-heavy per-row operators (hashing,
    shingling, vector math) over tables that arrive as few/small files:
    a single small parquet file otherwise pins the whole computation to
    one core. At real scale inputs arrive pre-split and the repartition
    collapses to a cheap exchange of already-distributed data.

    The first load of a file infers its schema with a one-task Spark
    job; later loads of the same unchanged file reuse that schema and
    run no job. The memo is keyed on the file's absolute path, valid
    while its ``(st_mtime_ns, st_size)`` match; a directory path is
    read without the memo every time.
    """
    if name == "events":
        # defensive: the caller's session may not have been built by
        # session.get_spark (e.g. an external driver's session) — the
        # TIMESTAMP(NANOS) file is unreadable without this conf.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))
    if spread:
        df = df.repartition(spark.sparkContext.defaultParallelism * 2)
    if name == "events":
        # The driver has shipped ts as TIMESTAMP(NANOS) (read as
        # nanos-long via session.py) and as naive TIMESTAMP(MICROS)
        # (read as TIMESTAMP_NTZ); normalize either to TIMESTAMP so
        # epoch functions (unix_micros, unix_timestamp) resolve. The
        # naive file value is treated as UTC wall clock regardless of
        # the caller session's timezone — matching DuckDB's naive read.
        from pyspark.sql import functions as F
        from pyspark.sql import types as T

        dt = df.schema["ts"].dataType
        if isinstance(dt, T.LongType):
            # integer div: float division would lose precision at 2^63-scale nanos
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(dt, T.TimestampNTZType):
            # naive wall clock → the same UTC instant: cast interprets
            # the naive value in the SESSION timezone, so re-anchor it
            # FROM UTC (identity under a UTC session, correct shift
            # elsewhere — to_utc_timestamp would double the offset).
            df = df.withColumn("ts", F.from_utc_timestamp(F.col("ts").cast("timestamp"), F.expr("current_timezone()")))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Register every table as a temp view so SQL-surface queries work."""
    dfs = load_tables(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
