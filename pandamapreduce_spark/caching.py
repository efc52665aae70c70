"""Query-scoped cache tracking.

A few plans persist a shuffled intermediate because the SAME pid
assignment must be seen by both a bounded driver collect and the
returned DataFrame (``operators/prefix.py::range_prefix``, which q90,
q96 and the other distributed-prefix lanes go through) or by an
iterative loop (q94). A bare ``.persist()`` leaks: the returned
DataFrame is lazy, so there is no in-plan point where the cache can be
dropped, and Spark never auto-unpersists.

``scoped_persist`` registers the handle; ``release_caches`` drops every
registered cache. The registry dispatcher calls ``release_caches()``
before building each query, so in any session that runs queries through
the registry (driver, bench, tests) a query's caches live exactly until
the NEXT query starts — callers that need the result longer should
materialize it first (the driver's collect does). ``release_caches`` is
also safe to call directly after materializing a result.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

#: (frame, is_checkpoint) — checkpointed frames need their INTERNAL
#: RDD unpersisted (DataFrame.unpersist goes through the CacheManager,
#: which only tracks .persist()-ed plans, not LogicalRDD blocks).
_LIVE: list[tuple[DataFrame, bool]] = []


def scoped_persist(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for the next ``release_caches``."""
    df.persist()
    _LIVE.append((df, False))
    return df


def scoped_checkpoint(df: DataFrame) -> DataFrame:
    """Eagerly ``localCheckpoint`` ``df`` and register the result for
    the next ``release_caches``.

    localCheckpoint = materialize + TRUNCATE lineage, so its cached
    blocks are not recomputable: without registration they linger
    until the JVM ContextCleaner happens to collect them (observed:
    the q94 caching pytest passed or failed on GC timing). Scoped
    registration makes release deterministic. The same release timing
    contract as scoped_persist applies — the blocks die at the NEXT
    dispatch, so a caller holding the returned frame must materialize
    before dispatching another query (the driver's collect does)."""
    out = df.localCheckpoint()
    _LIVE.append((out, True))
    return out


def _drop(df: DataFrame, is_ckpt: bool) -> None:
    try:
        if is_ckpt:
            # the checkpoint's blocks belong to the RDD captured
            # INSIDE the LogicalRDD plan node; CacheManager-level
            # unpersist never sees them, and queryExecution.toRdd()
            # builds a fresh uncached wrapper (measured: blocks
            # lingered until a lucky ContextCleaner pass)
            df._jdf.queryExecution().analyzed().rdd().unpersist(False)
        else:
            df.unpersist(False)
    except Exception:
        pass  # session already stopped — nothing to release


def release_one(df: DataFrame) -> bool:
    """Release ONE scoped cache early, by identity.

    Iterative loops (q94's connected components) supersede a round's
    state as soon as the next round's convergence count materializes;
    without early release every generation's blocks pile up until the
    next dispatch — up to max_iters frames for one query. Callers
    release the superseded frame right after the count that last reads
    it; the winning round stays registered for ``release_caches``."""
    for i, (frame, is_ckpt) in enumerate(_LIVE):
        if frame is df:
            _LIVE.pop(i)
            _drop(frame, is_ckpt)
            return True
    return False


def release_caches() -> int:
    """Unpersist every scoped cache (non-blocking); returns the count."""
    n = 0
    while _LIVE:
        df, is_ckpt = _LIVE.pop()
        _drop(df, is_ckpt)
        n += 1
    return n
