"""Round-10 regression tests.

1. q87's semantic side now reuses q35's blocked cogroup-grid scan with
   tau threaded through (HYBRID_COS) — the r9 verdict's one scale-weak
   (label self-join, 1548 s at sf1). Equality with q35's DuckDB oracle
   is pinned on planted geometry at a NON-default tau so the tau
   plumbing itself is exercised (the parquet fixtures emit zero >= 0.93
   pairs — vacuous).
2. The shared cosine block's zero-norm guard matches the JVM cosine()
   bit-for-bit ((na>0)&(nb>0), ADVICE r9) — pinned with an explicit
   zero vector through both emitters.
"""

from __future__ import annotations

import numpy as np
import pytest

from tests.conftest import duckdb_rows
from tests.test_round9 import planted_embeddings, planted_frame


def test_self_cogroup_survives_count_shaped_plans(spark):
    """Regression for the Spark 4.1 self-cogroup pruning trap
    (lineage.detach): a ``count()`` downstream of a self-cogroup used
    to strip the RIGHT side's payload columns, so the Arrow kernel got
    a keys-only pdf and raised KeyError — invisible to every ledger
    path (they collect, which never triggers the pruning). q35, q166,
    and q203 all self-cogroup; counting each must not raise."""
    from pandamapreduce_spark.plans.dedup import q35_embedding_neardup
    from pandamapreduce_spark.plans.similarity import q166_mutual_knn, q203_semdedup_bucketed

    sf_dir = "/root/testdata/sf0.001"
    assert q35_embedding_neardup(spark, sf_dir).count() >= 0
    assert q166_mutual_knn(spark, sf_dir).count() > 0
    assert q203_semdedup_bucketed(spark, sf_dir).count() >= 0


def test_emb_pairs_tau_threading_blocked_equals_hof(spark):
    """The cogroup-grid pair scan at tau=0.5 on target-cos-0.7 planted
    cohorts vs q35's oracle SQL at the same tau: same pairs,
    bitwise-same cosines. This is q87's semantic side by construction
    (q87 calls `_emb_neardup_pairs` with tau=HYBRID_COS); a tau that
    silently stayed 0.93 would emit zero pairs here and fail the count
    floor. The name dates from when the reference side was the
    since-removed HOF self-join."""
    from pandamapreduce_spark.plans.dedup import _emb_neardup_pairs, _emb_neardup_sql

    pdf, emb = planted_frame(spark, 100, 20, 3, target_cos=0.7, seed=13)
    got = sorted(tuple(r) for r in _emb_neardup_pairs(emb, tau=0.5, sort=False).collect())
    assert len(got) >= 10, "planted cohorts produced no tau=0.5 pairs — vacuous"
    assert got == duckdb_rows(_emb_neardup_sql(0.5), embeddings=pdf)


def test_q87_semantic_side_is_q35_scan(spark):
    """q87's union must contain exactly the blocked scan's pairs as its
    'semantic' rows: run the full q87 builder on the sf0.001 fixture
    and compare its semantic-method pairs against a direct
    `_emb_neardup_pairs` call at HYBRID_COS (both usually empty on the
    near-isotropic fixture — the assertion is that they are EQUAL,
    plus a fixture-shape sanity check that the lexical side is not)."""
    from pandamapreduce_spark.plans.dedup import _emb_neardup_pairs
    from pandamapreduce_spark.plans.pipeline import HYBRID_COS, q87_hybrid_neardup
    from pandamapreduce_spark.catalog import load_table

    sf_dir = "/root/testdata/sf0.001"
    out = q87_hybrid_neardup(spark, sf_dir).collect()
    sem_pairs = sorted(
        (r.doc_a, r.doc_b) for r in out if "semantic" in r.methods.split("+")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    want = sorted(
        (r.vec_a, r.vec_b)
        for r in _emb_neardup_pairs(emb, tau=HYBRID_COS, sort=False).collect()
    )
    assert sem_pairs == want
    assert len(out) > 0  # lexical side keeps the lane non-vacuous


def test_q210_no_base_self_join_plan(spark):
    """The incremental lane's scale contract is structural: the ONLY
    pairing in the plan is the delta-probe × base-bucket cogroup. The
    optimized plan must contain exactly one FlatMapCoGroupsInPandas
    and ZERO Join nodes — a base self-join cannot hide anywhere."""
    from pandamapreduce_spark.plans.similarity import q210_incremental_semdedup

    df = q210_incremental_semdedup(spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("FlatMapCoGroupsInPandas") == 1
    assert "Join" not in plan


def test_q210_recall_floor_on_planted_production_tau(spark):
    """The measured recall row for the incremental semantic lane: on
    planted τ=0.95 geometry, the SHIPPED Spark plan's delta-vs-base
    pairs must recover >= 0.90 of the exact delta-vs-base τ-pairs
    (hyperplane pricing for 6 planes / radius 2 at θ≈18°: 0.984 —
    q203's math, identical miss condition), and every emitted pair
    must be a genuine τ-pair (precision 1.0 — cosines are exact;
    approximation lives only in candidate generation)."""
    from pandamapreduce_spark.plans.dedup import DELTA_MOD
    from pandamapreduce_spark.plans.similarity import _incremental_sem_pairs
    from tests.test_round8 import _sequential_cosine_matrix

    ids, V = planted_embeddings(300, 100, 3, target_cos=0.95, seed=23)
    emb = spark.createDataFrame(
        [(int(i), [float(x) for x in np.asarray(v, dtype=np.float32)]) for i, v in zip(ids, V)],
        "vec_id long, embedding array<float>",
    ).repartition(8)
    got = {(r.delta_id, r.base_id) for r in _incremental_sem_pairs(emb, tau=0.95).collect()}

    cos = _sequential_cosine_matrix(V, V)
    idx = {int(v): i for i, v in enumerate(ids)}
    is_delta = {int(v): int(v) % DELTA_MOD == DELTA_MOD - 1 for v in ids}
    exact = {
        (int(a), int(b))
        for a in ids
        for b in ids
        if is_delta[int(a)] and not is_delta[int(b)] and cos[idx[int(a)], idx[int(b)]] >= 0.95
    }
    assert len(exact) >= 20, f"planted regime produced too few delta-base τ-pairs ({len(exact)})"
    for (a, b) in got:  # precision 1.0: every emitted pair is genuine
        assert cos[idx[a], idx[b]] >= 0.95
    recall = len(exact & got) / len(exact)
    assert recall >= 0.90, f"delta-vs-base recall {recall:.3f} below floor"


def _threshold_emit(a, b):
    from pandamapreduce_spark.plans.dedup import _emb_pairs_pdf

    out = _emb_pairs_pdf(a, b, tau=-1.0)  # tau=-1 keeps even cos=0 rows
    return {(r.vec_a, r.vec_b): r.cos_sim for r in out.itertuples(index=False)}


def _topk_emit(a, b):
    from pandamapreduce_spark.plans.similarity import _block_topk_pdf

    out = _block_topk_pdf(a, b)
    return {(r.query_id, r.neighbor_id): r.cos_sim for r in out.itertuples(index=False)}


@pytest.mark.parametrize("emit", [_threshold_emit, _topk_emit], ids=["threshold", "topk"])
def test_emb_pairs_zero_norm_guard_matches_hof(spark, emit):
    """An all-zero embedding must emit cosine 0.0 (never NaN/inf) from
    both emitters over the shared cosine block (q35's threshold
    emitter, q166's top-k emitter), exactly as the JVM cosine() guard
    (na>0)&(nb>0) does; neither emits a self-pair."""
    import pandas as pd

    a = pd.DataFrame(
        {"vec_id": [1, 2], "embedding": [np.zeros(4, dtype=np.float32), np.ones(4, dtype=np.float32)]}
    )
    got = emit(a, a)
    assert got[(1, 2)] == 0.0  # zero-norm pair: guarded to 0.0, not NaN
    assert (2, 2) not in got and (1, 1) not in got  # no self-pairs


def test_basket_pair_explode_equals_self_join(spark):
    """r10 optimization: `_basket_pairs`/q131/q136 now explode a<b
    pairs from each capped basket's sorted distinct part array
    (`_PAIR_EXPLODE`) instead of the items⋈items self-join. Pin the
    equivalence on the real sf0.001 fixture: identical (a, b, n_ab)
    triples, identical capped item set."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from pandamapreduce_spark.catalog import load_table
    from pandamapreduce_spark.plans.warehouse import MAX_BASKET, _basket_pairs

    sf_dir = "/root/testdata/sf0.001"
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .distinct()
        .withColumn("sz", F.count(F.lit(1)).over(Window.partitionBy("ok")))
        .where(F.col("sz") <= MAX_BASKET)
        .drop("sz")
    )
    a, b = items.alias("a"), items.alias("b")
    want = sorted(
        tuple(r)
        for r in (
            a.join(b, (F.col("a.ok") == F.col("b.ok")) & (F.col("a.pk") < F.col("b.pk")))
            .groupBy(F.col("a.pk").alias("a"), F.col("b.pk").alias("b"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
            .where(F.col("n_ab") >= 2)
        ).collect()
    )
    got = sorted(tuple(r) for r in _basket_pairs(spark, sf_dir, 2).collect())
    assert got == want and len(got) > 0
