"""Engine + Dataset: the engine's user-facing API surface.

Two layers, mirroring how the reference is used:

- ``MapReduceJob`` — the imperative, reference-shaped job API
  (``PandaMapReduceJob``: ctor + setters + ``addInput`` + ``execute``,
  ``apps/wordcount/wc_main.cpp:27-53``,
  ``src/panda/PandaMapReduceJob.cpp:885-955``). A user of the
  reference ports a job by moving their map/combine/reduce callbacks
  over verbatim (Python instead of CUDA/C++).
- ``Engine`` / ``Dataset`` — the declarative generalization: sources →
  ``Dataset`` (a thin DataFrame wrapper) → relational verbs + the
  ``map_reduce`` escape hatch. Everything declarative compiles to
  DataFrame ops so Catalyst owns optimization (SURVEY §4.2: zero
  custom rules needed).

Device management (``setEnableCPU/GPU``, CPU/GPU work ratios —
``include/Panda.h:443-445``) is intentionally dropped: Spark's
scheduler owns placement (SURVEY §1.2).
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

from pyspark.rdd import RDD
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandamapreduce_spark.catalog import load_table
from pandamapreduce_spark.operators import tera
from pandamapreduce_spark.operators.mapreduce import MapFn, ReduceFn, map_reduce
from pandamapreduce_spark.session import get_spark


class Dataset:
    """Thin wrapper over a DataFrame exposing the engine's operator
    vocabulary. Every verb returns a new Dataset; ``.df`` drops to the
    raw DataFrame, ``.rdd_pairs(key)`` to the keyed RDD world."""

    def __init__(self, df: DataFrame):
        self.df = df

    # --- relational verbs (compile 1:1 to Catalyst plans) -----------

    def select(self, *cols) -> "Dataset":
        return Dataset(self.df.select(*cols))

    def where(self, cond) -> "Dataset":
        return Dataset(self.df.where(cond))

    filter = where

    def group_agg(self, keys: list[str], *aggs) -> "Dataset":
        return Dataset(self.df.groupBy(*keys).agg(*aggs))

    def distinct(self) -> "Dataset":
        return Dataset(self.df.distinct())

    def order_by(self, *cols) -> "Dataset":
        return Dataset(self.df.orderBy(*cols))

    def limit(self, n: int) -> "Dataset":
        return Dataset(self.df.limit(n))

    def join(self, other: "Dataset", on, how: str = "inner", broadcast_other: bool = False) -> "Dataset":
        right = F.broadcast(other.df) if broadcast_other else other.df
        return Dataset(self.df.join(right, on, how))

    def union(self, other: "Dataset") -> "Dataset":
        return Dataset(self.df.unionByName(other.df))

    def intersect(self, other: "Dataset") -> "Dataset":
        return Dataset(self.df.intersect(other.df))

    def subtract(self, other: "Dataset") -> "Dataset":
        return Dataset(self.df.subtract(other.df))

    # --- partitioning (reference O10/O11) ---------------------------

    def repartition_hash(self, n: int, *cols) -> "Dataset":
        return Dataset(self.df.repartition(n, *cols) if cols else self.df.repartition(n))

    def repartition_range(self, n: int, *cols) -> "Dataset":
        return Dataset(self.df.repartitionByRange(n, *cols))

    # --- the MapReduce escape hatch ---------------------------------

    def rdd_pairs(self, key_col: str, val_cols: list[str] | str) -> RDD:
        """(key, value) RDD view — the reference's ``keyval_t`` world."""
        if isinstance(val_cols, str):
            return self.df.select(key_col, val_cols).rdd.map(lambda r: (r[0], r[1]))
        cols = [key_col, *val_cols]
        return self.df.select(*cols).rdd.map(lambda r: (r[0], tuple(r[1:])))

    def map_reduce(
        self,
        key_col: str,
        val_cols: list[str] | str,
        map_f: MapFn,
        reduce_f: ReduceFn,
        combine_f: ReduceFn | None = None,
        num_reducers: int | None = None,
        schema=None,
    ) -> "Dataset":
        """Run user callbacks through the spine and come back to a
        Dataset (schema required for the resulting DataFrame)."""
        out = map_reduce(self.rdd_pairs(key_col, val_cols), map_f, reduce_f, combine_f, num_reducers)
        spark = self.df.sparkSession
        return Dataset(spark.createDataFrame(out, schema) if schema else spark.createDataFrame(out))

    # --- sinks (reference O17's stdout/file sink, generalized) ------

    def write_parquet(self, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
        w = self.df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)

    # -- extension operators (the 100 TB training-data toolkit) --------
    # Thin delegations so a pipeline stays in one fluent chain; the
    # implementations (and their scale notes) live in ``operators/``.

    def dedup_exact(self, *cols: str) -> "Dataset":
        """Exact dedup: on ``cols`` if given, else full rows."""
        return Dataset(self.df.dropDuplicates(list(cols) or None))

    def neardup_pairs(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        num_hashes: int = 12,
        num_bands: int = 4,
        max_bucket_size: int | None = None,
    ) -> "Dataset":
        """MinHash-LSH near-duplicate candidate pairs (id_a < id_b)."""
        from pandamapreduce_spark.operators.dedup_ops import minhash_band_pairs

        return Dataset(
            minhash_band_pairs(
                self.df, text_col, id_col, num_hashes=num_hashes, num_bands=num_bands, max_bucket_size=max_bucket_size
            )
        )

    def asof_join(
        self, other: "Dataset", on: str, left_ts: str, right_ts: str, right_cols: list[str], suffix: str = "_right"
    ) -> "Dataset":
        from pandamapreduce_spark.operators.asof import asof_join

        return Dataset(asof_join(self.df, other.df, on, left_ts, right_ts, right_cols, suffix))

    def salted_join(self, other: "Dataset", on: str, n_salts: int = 16, how: str = "inner") -> "Dataset":
        from pandamapreduce_spark.operators.skew import salted_join

        return Dataset(salted_join(self.df, other.df, on, n_salts, how))

    def sample_frames(self, num_frames: int = 4, frame_bytes: int = 64) -> "Dataset":
        from pandamapreduce_spark.operators.multimodal import sample_frames

        return Dataset(sample_frames(self.df, num_frames, frame_bytes))

    def resize_images(self, width: int = 16, height: int = 16) -> "Dataset":
        from pandamapreduce_spark.operators.multimodal import resize_images

        return Dataset(resize_images(self.df, width, height))

    def extract_features(self) -> "Dataset":
        from pandamapreduce_spark.operators.multimodal import extract_features

        return Dataset(extract_features(self.df))

    def write_csv(self, path: str, header: bool = True, mode: str = "overwrite") -> None:
        from pandamapreduce_spark.sources.formats import write_csv

        write_csv(self.df, path, header=header, mode=mode)

    def write_json(self, path: str, mode: str = "overwrite") -> None:
        from pandamapreduce_spark.sources.formats import write_json

        write_json(self.df, path, mode=mode)

    def write_orc(self, path: str, mode: str = "overwrite", partition_by: list[str] | None = None) -> None:
        from pandamapreduce_spark.sources.formats import write_orc

        write_orc(self.df, path, mode=mode, partition_by=partition_by)

    def collect(self):
        return self.df.collect()

    def count(self) -> int:
        return self.df.count()

    def explain(self, mode: str = "formatted") -> None:
        self.df.explain(mode)


class Engine:
    """Session + sources. ``Engine().table(sf_dir, "lineitem")`` is the
    reference's chunk-feeding (``addInput``) replaced by real sources.
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()

    # --- sources (reference O1-O3, A4) ------------------------------

    def table(self, sf_dir: str, name: str, spread: bool = False) -> Dataset:
        return Dataset(load_table(self.spark, sf_dir, name, spread=spread))

    def read_parquet(self, path: str) -> Dataset:
        return Dataset(self.spark.read.parquet(path))

    def read_text(self, path: str) -> Dataset:
        """Line-per-row text scan (reference chunked file scan O2)."""
        return Dataset(self.spark.read.text(path))

    def from_pairs(self, pairs: Iterable[tuple], schema="key string, value string", num_partitions: int | None = None) -> Dataset:
        """In-memory pairs (reference ``PreLoadedPandaChunk``, O1)."""
        rdd = self.spark.sparkContext.parallelize(list(pairs), num_partitions)
        return Dataset(self.spark.createDataFrame(rdd, schema))

    def teragen(self, num_records: int, num_partitions: int | None = None) -> Dataset:
        return Dataset(tera.teragen(self.spark, num_records, num_partitions))

    def read_tera_records(self, path: str) -> Dataset:
        """Fixed-width 100-byte record reader (reference
        ``TeraInputFormat.scala:62-86`` / ``TeraInputFormat.h:8-11``):
        binaryFile scan + JVM-side slicing into (key, value) rows.

        Scale note: ``binaryFile`` materializes a whole file per row —
        fine for the ≤ few-hundred-MB files the tera tools produce per
        partition; a DataSource-v2 splitting reader is the upgrade
        path for multi-GB single files.
        """
        files = self.spark.read.format("binaryFile").load(path)
        n = (F.length("content") / tera.RECORD_LEN).cast("long")
        idx = F.explode(F.sequence(F.lit(0), n - 1)).alias("i")
        rows = files.select(F.col("content"), idx)
        return Dataset(
            rows.select(
                F.substring(F.col("content"), (F.col("i") * tera.RECORD_LEN + 1).cast("int"), tera.KEY_LEN).alias("key"),
                F.substring(
                    F.col("content"), (F.col("i") * tera.RECORD_LEN + 1 + tera.KEY_LEN).cast("int"), tera.VALUE_LEN
                ).alias("value"),
            )
        )

    def read_tera_records_split(self, path: str, split_bytes: int = 32 * 1024 * 1024) -> Dataset:
        """Splitting fixed-width reader: large record files are cut into
        record-aligned byte ranges (the reference's 32 MB read units,
        ``include/panda/PandaChunk.h:16-52``), one Spark task per
        range — unlike ``read_tera_records``, a single multi-GB file
        parallelizes. Ranges stream through Arrow batches.

        Implemented as a registered Python Data Source
        (``sources.tera_source``): split planning from file metadata
        on the driver, task IO through ``pyarrow.fs`` (local paths and
        object-store URIs alike), zero-copy Arrow batches out.
        """
        from pandamapreduce_spark.sources import tera_source

        tera_source.register(self.spark)
        return Dataset(
            self.spark.read.format("tera")
            .option("split_bytes", str(split_bytes))
            .load(path)
        )

    def sql(self, sf_dir: str, statement: str) -> Dataset:
        """SQL surface over the catalog tables."""
        from pandamapreduce_spark.catalog import register_views

        register_views(self.spark, sf_dir)
        return Dataset(self.spark.sql(statement))


class MapReduceJob:
    """Reference-shaped imperative job API (``PandaMapReduceJob``).

    Port of a reference job::

        job = MapReduceJob(spark)            # new PandaMapReduceJob(...)
        job.set_map(map_f)                   # panda_cpu_map
        job.set_combiner(sum_f)              # panda_cpu_combiner
        job.set_reduce(sum_f)                # panda_cpu_reduce
        job.set_num_reducers(8)              # job_configuration.num_reducers
        job.set_partitioner("range")         # setPartition(TeraSortPartitioner)
        job.add_input(pairs)                 # addInput(PreLoadedPandaChunk)
        out = job.execute()                  # execute() -> RDD[(k, v)]

    ``setEnableCPU/GPU`` and the messenger (MPI transport) have no
    analogue: Spark owns placement and shuffle transport.
    """

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        self._inputs: list[RDD] = []
        self._map_f: MapFn | None = None
        self._combine_f: ReduceFn | None = None
        self._reduce_f: ReduceFn | None = None
        self._num_reducers: int | None = None
        self._partition_f: Callable[[Any], int] | str | None = None

    def set_map(self, f: MapFn) -> "MapReduceJob":
        self._map_f = f
        return self

    def set_combiner(self, f: ReduceFn) -> "MapReduceJob":
        self._combine_f = f
        return self

    def set_reduce(self, f: ReduceFn) -> "MapReduceJob":
        self._reduce_f = f
        return self

    def set_num_reducers(self, n: int) -> "MapReduceJob":
        self._num_reducers = n
        return self

    def set_partitioner(self, p: str | Callable[[Any], int]) -> "MapReduceJob":
        """'hash' (default, reference O10), 'range' (reference O11 —
        ordered delivery), or a callable key -> partition id."""
        self._partition_f = None if p == "hash" else p
        return self

    def add_input(self, data: RDD | Iterable[tuple], num_partitions: int | None = None) -> "MapReduceJob":
        if isinstance(data, RDD):
            self._inputs.append(data)
        else:
            self._inputs.append(self.spark.sparkContext.parallelize(list(data), num_partitions))
        return self

    def execute(self) -> RDD:
        if not self._inputs:
            raise ValueError("no inputs: call add_input() first")
        if self._map_f is None or self._reduce_f is None:
            raise ValueError("map and reduce callbacks are required")
        rdd = self._inputs[0]
        for extra in self._inputs[1:]:
            rdd = rdd.union(extra)
        return map_reduce(
            rdd,
            self._map_f,
            self._reduce_f,
            combine_f=self._combine_f,
            num_reducers=self._num_reducers,
            partition_f=self._partition_f,
        )

