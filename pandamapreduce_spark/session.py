"""SparkSession bootstrap tuned for local correctness runs AND a
1000-executor/100 TB posture.

Every knob here is cluster-safe: AQE handles runtime re-planning
(partition coalescing, skew joins) at any scale; shuffle partitions
default to the core count locally but are overridable via
``SPARK_GRAFT_CPUS`` / explicit conf on a real cluster.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(app_name: str = "pandamapreduce_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Local mode is a single JVM; on a real cluster the same conf applies,
    with master/memory supplied by the submitter. AQE is on so the
    engine's plans self-tune (coalesce post-shuffle partitions, convert
    to broadcast joins at runtime, split skewed partitions) — this is
    the 100 TB story: we declare plans, AQE sizes them.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    if shuffle_partitions is None:
        shuffle_partitions = cpus * 2

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches (default 10k): per-batch IPC framing
        # dominates vectorized mapInArrow/pandas-UDF folds at the
        # default — measured 18s → 5-8s on the 10M-record teravalidate
        # fold. ~6 MB/batch at 100 B rows: negligible executor memory.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(65536))
        .config("spark.sql.parquet.filterPushdown", "true")
        # events.parquet stores TIMESTAMP(NANOS); Spark's reader has no
        # nanos timestamp — read as long, catalog converts to micros
        # (same truncation DuckDB applies).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.enabled", "false")
        # PySpark wraps every Column/function call to record its Python
        # call site: four py4j round trips per call, two thirds of the
        # driver's calls while a plan is built. It only adds file:line
        # under "== DataFrame ==" in error messages; the error class and
        # message stay. Read once per process, so it must be set here.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if not os.environ.get("SPARK_MASTER_URL"):
        # Default heap: half the host's RAM, at most 48g. A heap above
        # physical memory lets the JVM grow past what the host has (it
        # expands rather than collects) until the kernel OOM-kills it.
        ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
        heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{min(48, max(1, ram_gb // 2))}g")
        builder = builder.master(f"local[{cpus}]").config("spark.driver.memory", heap)
        # Python workers run under the engine's daemon, which stops each
        # task from re-reading Spark's own archives (pyworker.py). Local
        # mode only: the daemon must import the engine, and local workers
        # start from the driver's cwd and PYTHONPATH, as they already must
        # to import engine functions pickled by reference.
        builder = builder.config("spark.python.daemon.module", "pandamapreduce_spark.pyworker")
        # Local mode only: shuffle/spill files on tmpfs so single-node
        # benchmarks measure the engine, not /tmp disk flush stalls. On
        # a real cluster spark.local.dir comes from the deployment
        # (SSD/NVMe per executor) and this branch is never taken.
        # NOTE: a set-but-empty SPARK_LOCAL_DIRS env var silently
        # overrides spark.local.dir and lands shuffle files in /tmp
        # (observed: 3-7x tera slowdown from virtio-disk writeback),
        # so pin the env var itself before the JVM launches.
        if os.access("/dev/shm", os.W_OK) and not os.environ.get("SPARK_LOCAL_DIRS"):
            os.environ["SPARK_LOCAL_DIRS"] = "/dev/shm/spark-local"
            builder = builder.config("spark.local.dir", "/dev/shm/spark-local")
            # Streaming TEMP checkpoints (state store + per-microbatch
            # WAL fsyncs) go to java.io.tmpdir — move that to tmpfs
            # too, keeping Spark's temp-checkpoint auto-delete (a conf
            # checkpointLocation would accumulate instead). Queries
            # that need durable checkpoints pass their own location.
            os.makedirs("/dev/shm/spark-local/tmp", exist_ok=True)
            builder = builder.config(
                "spark.driver.extraJavaOptions", "-Djava.io.tmpdir=/dev/shm/spark-local/tmp"
            ).config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
