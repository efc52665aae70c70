"""The MapReduce operator spine: the reference's 9-phase pipeline
(``src/panda/PandaMapReduceJob.cpp:885-955``) as one Spark construct.

Reference callback surface (``include/PandaAPI.h:29-51``):
- ``map(key, val) -> emits 0..n (k2, v2)``  (UDTF shape)
- ``combiner(key, vals) -> partial value``   (map-side, per task)
- ``reduce(key, vals) -> value``             (final, post-shuffle)
- ``compare(a, b)``                          (key ordering)
- partitioner: hash (``src/panda/Partitioner.cpp:7-19``) or range
  (``apps/terasort/TeraSortPartitioner.cpp:24-33``)

Spark restatement: ``flatMap → [local combine] → partitionBy(shuffle)
→ group → reduce``. Spark's shuffle machinery replaces the reference's
emit arenas (O5), MPI transport (O13), and nested-loop grouping
(O7/O8/O14); stages split exactly at the shuffle.

Scale notes: the combine path keeps a per-partition dict — bounded by
distinct-keys-per-partition, the same memory posture as the
reference's in-arena combiner. For associative numeric reductions
prefer the DataFrame aggregate surface (``plans.relational``), which
gets Tungsten spilling; this spine exists for arbitrary Python
callbacks (the reference's whole API).
"""

from __future__ import annotations

from collections import defaultdict
from collections.abc import Callable, Iterable
from typing import Any

from pyspark.rdd import RDD, portable_hash

MapFn = Callable[[Any, Any], Iterable[tuple[Any, Any]]]
ReduceFn = Callable[[Any, list[Any]], Any]


def elf_hash(key: Any) -> int:
    """The reference's default partitioner hash (PJW/ELF over key
    bytes, ``src/panda/Partitioner.cpp:7-19``), for byte-compatible
    partition placement when porting a reference job. Any callable is
    accepted as ``partition_f``; Spark's ``portable_hash`` is the
    default — placement does not affect results (asserted by the
    partitioning-invariance tests)."""
    if isinstance(key, str):
        data = key.encode()
    elif isinstance(key, (bytes, bytearray)):
        data = bytes(key)
    else:
        data = repr(key).encode()
    h = 0
    for b in data:
        h = ((h << 4) + b) & 0xFFFFFFFF
        g = h & 0xF0000000
        if g:
            h ^= g >> 24
        h &= ~g & 0xFFFFFFFF
    return h


def map_reduce(
    rdd: RDD,
    map_f: MapFn,
    reduce_f: ReduceFn,
    combine_f: ReduceFn | None = None,
    num_reducers: int | None = None,
    partition_f: Callable[[Any], int] | str | None = None,
) -> RDD:
    """Run the full map → combine → shuffle → group → reduce pipeline.

    Args mirror the reference's ``job_configuration``
    (``include/Panda.h:124-143``): ``num_reducers`` = num_reducers,
    ``combine_f`` = local_combiner flag + callback, ``partition_f`` =
    Partitioner::GetHash — a callable key -> partition id, or
    ``"range"`` for total-order delivery (the terasort partitioner,
    ``apps/terasort/TeraSortPartitioner.cpp:24-33``): ``sortByKey``
    samples key bounds and range-partitions, so partition i's keys
    all precede partition i+1's and arrive sorted within it.

    Returns an RDD of (key, reduced_value).
    """
    num = num_reducers or rdd.context.defaultParallelism

    mapped = rdd.flatMap(lambda kv: map_f(kv[0], kv[1]))

    if combine_f is not None:
        # Local (map-side) combine: the reference's O6. Grouping within
        # the partition, one partial per (partition, key).
        def local_combine(it: Iterable[tuple[Any, Any]]) -> Iterable[tuple[Any, Any]]:
            buf: dict[Any, list[Any]] = defaultdict(list)
            for k, v in it:
                buf[k].append(v)
            for k, vs in buf.items():
                yield k, combine_f(k, vs)

        mapped = mapped.mapPartitions(local_combine)

    if partition_f == "range":
        shuffled = mapped.sortByKey(numPartitions=num)
    else:
        shuffled = mapped.partitionBy(num, partition_f or portable_hash)

    def reduce_partition(it: Iterable[tuple[Any, Any]]) -> Iterable[tuple[Any, Any]]:
        # keys come out in arrival order: sorted under "range"
        buf: dict[Any, list[Any]] = defaultdict(list)
        for k, v in it:
            buf[k].append(v)
        for k, vs in buf.items():
            yield k, reduce_f(k, vs)

    return shuffled.mapPartitions(reduce_partition, preservesPartitioning=True)
