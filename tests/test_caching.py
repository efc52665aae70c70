"""Scoped-cache discipline: plans that persist a shuffled intermediate
(q90/q94/q96 distributed-prefix-sum / iterative CC) must not pin RDD
storage beyond their query's lifetime — the registry dispatcher
releases the previous query's scoped caches before building the next —
and an iterative plan pins only its final round (``caching.iterate``).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pandamapreduce_spark import caching
from pandamapreduce_spark.caching import iterate, release_caches, scoped_persist
from pandamapreduce_spark.plans import REGISTRY

from tests.conftest import SF_DIR


def _cached_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_scoped_caches_released_on_next_dispatch(spark):
    release_caches()
    base = _cached_rdds(spark)

    # q90 persists its range-partitioned prefix-sum intermediate and
    # the cache must survive the query's own action...
    REGISTRY["q90_sequence_packing"].build(spark, SF_DIR).count()
    assert _cached_rdds(spark) > base

    # ...but dispatching ANY next registry query releases it.
    REGISTRY["q01_pricing_summary"].build(spark, SF_DIR).count()
    assert _cached_rdds(spark) == base


def test_release_caches_after_iterative_query(spark):
    release_caches()
    base = _cached_rdds(spark)
    REGISTRY["q94_dedup_clusters"].build(spark, SF_DIR).count()
    release_caches()
    assert _cached_rdds(spark) == base

    REGISTRY["q96_vocab_build"].build(spark, SF_DIR).count()
    release_caches()
    assert _cached_rdds(spark) == base


def _halve(state, _):
    return state.select("id", F.floor(F.col("v") / 2).alias("v"), F.col("v").alias("old"))


def test_iterate_fixed_rounds_keeps_one_loop_frame(spark):
    release_caches()
    base = _cached_rdds(spark)
    state = scoped_persist(spark.range(10).select("id", F.col("id").alias("v")))
    seen = []

    def step(s, i):
        seen.append(i)
        return s.select("id", (F.col("v") + i).alias("v"))

    out = iterate(state, step, 4)
    assert seen == [1, 2, 3, 4]
    # the persisted input and every superseded round are released:
    # exactly the returned round stays registered and pinned
    assert [f for f, _ in caching._LIVE] == [out]
    assert _cached_rdds(spark) - base == 1
    assert sorted(r.v for r in out.collect()) == [i + 10 for i in range(10)]
    release_caches()
    assert _cached_rdds(spark) == base


def test_iterate_changed_stops_at_zero(spark):
    release_caches()
    rounds = []

    def step(s, i):
        rounds.append(i)
        return _halve(s, i)

    # 9 → 4 → 2 → 1 → 0 changes for four rounds; the fifth changes nothing
    out = iterate(spark.range(10).select("id", F.col("id").alias("v")), step, 10, F.col("v") != F.col("old"))
    assert rounds == [1, 2, 3, 4, 5]
    assert {r.v for r in out.collect()} == {0}
    assert [f for f, _ in caching._LIVE] == [out]
    release_caches()


def test_iterate_raises_when_not_converged(spark):
    release_caches()
    state = spark.range(10).select("id", F.col("id").alias("v"))
    with pytest.raises(RuntimeError, match="did not converge in 3 rounds"):
        iterate(state, _halve, 3, F.col("v") != F.col("old"))
    release_caches()


@pytest.mark.parametrize("name", ["q169_khop_reach", "q180_shortest_path"])
def test_iterative_query_pins_only_its_final_round(spark, name):
    """After the action, an iterative query pins its persisted inputs
    (pair counts, edge list) and its final round; no superseded round
    stays pinned (before the loop driver: 9 RDDs for q169, 6 for q180)."""
    release_caches()
    base = _cached_rdds(spark)
    REGISTRY[name].build(spark, SF_DIR).collect()
    rounds = [f for f, is_ckpt in caching._LIVE if is_ckpt]
    inputs = [f for f, is_ckpt in caching._LIVE if not is_ckpt]
    assert len(rounds) == 1
    assert _cached_rdds(spark) - base <= len(inputs) + 1 <= 3
    release_caches()
