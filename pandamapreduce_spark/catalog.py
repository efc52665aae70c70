"""Catalog: load the driver's TPC-H-ish star schema + extension tables.

Tables (see TESTDATA.md): region nation customer supplier part orders
lineitem events documents embeddings — one parquet file each under
``/root/testdata/sf{0.001,0.01,0.1}/``.

At 100 TB these would be partitioned/bucketed parquet datasets; the
loader is path-based so the same code reads a directory tree. Parquet
scans get predicate pushdown + column pruning from Catalyst for free.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

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

#: Dimension tables small enough to broadcast at ANY scale factor —
#: region/nation are fixed-size in TPC-H; supplier/part/customer grow
#: with SF but stay broadcastable until very large SF. Join helpers
#: use this to hint broadcast.
BROADCAST_TABLES = ("region", "nation", "supplier")

def load_table(spark: SparkSession, sf_dir: str, name: str, spread: bool = False) -> DataFrame:
    """Load one table. ``spread=True`` repartitions to the cluster's
    parallelism — use for CPU-heavy per-row operators (hashing,
    shingling, vector math) over tables that arrive as few/small files:
    a single small parquet file otherwise pins the whole computation to
    one core. At real scale inputs arrive pre-split and the repartition
    collapses to a cheap exchange of already-distributed data.
    """
    if name == "events":
        # defensive: the caller's session may not have been built by
        # session.get_spark (e.g. an external driver's session) — the
        # TIMESTAMP(NANOS) file is unreadable without this conf.
        try:
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        except Exception:
            pass
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
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
