"""Brute-force semantic checks for the round-8 lanes, beyond their
value-hash oracle parity — the test_round7 strategy: recompute each
answer in plain Python/numpy from the sf0.001 parquet.

q203 (bucketed SemDeDup) gets the deepest treatment because it is an
APPROXIMATION whose whole point is a measured gap vs q183: the Python
reference here rebuilds the sign-LSH buckets, the multi-probe candidate
sets, the in-candidate top-k, the reciprocity cut and the τ threshold
from scratch, so a Spark-side bucketing or ranking bug cannot hide
behind "it's approximate anyway".
"""

from __future__ import annotations

import collections

import numpy as np
import pandas as pd

from pandamapreduce_spark.plans import REGISTRY
from pandamapreduce_spark.plans.similarity import (
    HYPERPLANES,
    MUTUAL_K,
    SEMDEDUP_PLANES,
    SEMDEDUP_RADIUS,
    SEMDEDUP_TAU,
    _mutual_knn_bucketed,
    _probe_masks,
)

from tests.conftest import SF_DIR, duckdb_rows


def _sequential_cosine_matrix(A: np.ndarray, B: np.ndarray) -> np.ndarray:
    """Cosine with the JVM fold's exact IEEE sequence (one rounded add
    per dimension) — the q166 blocked-kernel contract, so rank ties
    resolve identically to the Spark plan."""
    dot = np.zeros((A.shape[0], B.shape[0]))
    na = np.zeros(A.shape[0])
    nb = np.zeros(B.shape[0])
    for d in range(A.shape[1]):
        dot += A[:, d, None] * B[None, :, d]
        na += A[:, d] * A[:, d]
        nb += B[:, d] * B[:, d]
    na, nb = np.sqrt(na), np.sqrt(nb)
    denom = na[:, None] * nb[None, :]
    with np.errstate(divide="ignore", invalid="ignore"):
        return np.where(denom > 0, dot / denom, 0.0)


def _load_vectors():
    emb = pd.read_parquet(f"{SF_DIR}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = emb["vec_id"].to_numpy()
    V = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    return ids, V


def _buckets(ids, V) -> dict[int, int]:
    """Sign-LSH bucket per vector, sequential-fold dot like the JVM."""
    out = {}
    P = np.array(HYPERPLANES[:SEMDEDUP_PLANES], dtype=np.float64)  # (planes, dim)
    for row, vid in enumerate(ids):
        b = 0
        for p in range(SEMDEDUP_PLANES):
            acc = 0.0
            for d in range(V.shape[1]):
                acc += V[row, d] * P[p, d]
            if acc >= 0:
                b |= 1 << p
        out[int(vid)] = b
    return out


def _python_bucketed_mutual(ids, V):
    """The q203 candidate contract from scratch: probe every bucket
    within Hamming radius SEMDEDUP_RADIUS of the vector's own, top-k
    among candidates, keep reciprocated pairs."""
    cos = _sequential_cosine_matrix(V, V)
    bkt = _buckets(ids, V)
    by_bucket = collections.defaultdict(list)
    for row, vid in enumerate(ids):
        by_bucket[bkt[int(vid)]].append(row)
    topk = {}
    masks = _probe_masks(SEMDEDUP_PLANES, SEMDEDUP_RADIUS)
    for row, vid in enumerate(ids):
        probes = [bkt[int(vid)] ^ m for m in masks]
        cand = [r for p in probes for r in by_bucket.get(p, []) if r != row]
        ranked = sorted(cand, key=lambda r: (-cos[row, r], ids[r]))[:MUTUAL_K]
        topk[int(vid)] = {int(ids[r]): (rank + 1, cos[row, r]) for rank, r in enumerate(ranked)}
    mutual = {}
    for a, nbrs in topk.items():
        for b, (rank_ab, c) in nbrs.items():
            if a < b and a in topk.get(b, {}):
                mutual[(a, b)] = (rank_ab, topk[b][a][0], c)
    return mutual


def test_bucketed_mutual_edges_match_python(spark):
    from pandamapreduce_spark.catalog import load_table

    ids, V = _load_vectors()
    want = _python_bucketed_mutual(ids, V)
    emb = load_table(spark, SF_DIR, "embeddings", spread=True)
    got = {
        (r.vec_a, r.vec_b): (r.rank_ab, r.rank_ba, r.cos_sim)
        for r in _mutual_knn_bucketed(emb).collect()
    }
    assert set(got) == set(want)
    for pair, (rank_ab, rank_ba, c) in want.items():
        g = got[pair]
        assert (g[0], g[1]) == (rank_ab, rank_ba)
        assert abs(g[2] - c) < 1e-12


def test_bucketed_semdedup_verdict_invariants(spark):
    """Same frame discipline as q183: min-id cluster labels, exactly
    one kept member per cluster, keep-longest election."""
    rows = REGISTRY["q203_semdedup_bucketed"].build(spark, SF_DIR).collect()
    assert rows, "fixture produced no bucketed semantic clusters"
    clusters = collections.defaultdict(list)
    for r in rows:
        clusters[r.cluster_id].append(r)
    for cid, members in clusters.items():
        assert len(members) >= 2, "singleton cluster emitted"
        assert cid == min(m.doc_id for m in members)
        kept = [m for m in members if m.keep]
        assert len(kept) == 1
        best = max(members, key=lambda m: (m.n_chars, -m.doc_id))
        assert kept[0].doc_id == best.doc_id


def test_bucketed_semdedup_recall_vs_exact(spark):
    """The number the lane exists to expose: duplicate-edge recall of
    the bucketed candidate path vs the exact all-pairs q183 edges.
    Every bucketed duplicate edge must be a GENUINE τ-pair (cosine is
    exact — only candidate generation approximates), and recall on the
    fixture must clear a floor that a broken probe scheme (e.g. a
    bucket-key type mismatch joining nothing) cannot."""
    ids, V = _load_vectors()
    cos = _sequential_cosine_matrix(V, V)
    # exact mutual edges (the q183/q166 contract), from scratch
    order = {}
    for row, vid in enumerate(ids):
        ranked = sorted(
            (r for r in range(len(ids)) if r != row), key=lambda r: (-cos[row, r], ids[r])
        )[:MUTUAL_K]
        order[int(vid)] = {int(ids[r]) for r in ranked}
    exact = {
        (a, b)
        for a, nb in order.items()
        for b in nb
        if a < b and a in order.get(b, set())
        and cos[np.where(ids == a)[0][0], np.where(ids == b)[0][0]] >= SEMDEDUP_TAU
    }
    bucketed = {
        pair for pair, (_, _, c) in _python_bucketed_mutual(ids, V).items() if c >= SEMDEDUP_TAU
    }
    assert exact, "fixture has no exact τ-edges; recall undefined"
    for a, b in bucketed:
        ra, rb = np.where(ids == a)[0][0], np.where(ids == b)[0][0]
        assert cos[ra, rb] >= SEMDEDUP_TAU, "bucketed path fabricated a sub-τ edge"
    recall = len(exact & bucketed) / len(exact)
    assert recall >= 0.5, f"bucketed recall collapsed: {recall:.2f} on {len(exact)} exact edges"


def test_bucketed_knn_strategies_agree(spark):
    """The bucketed mutual edge frame vs its DuckDB oracle SQL on the
    sf0.001 fixture: same pairs, ranks, and bitwise cosines. The name
    dates from when the reference side was the since-removed HOF
    probe join."""
    import pyarrow.parquet as pq

    from pandamapreduce_spark.catalog import load_table
    from pandamapreduce_spark.plans.similarity import _semdedup_bucketed_mutual_sql

    emb = load_table(spark, SF_DIR, "embeddings", spread=True)
    got = sorted(map(tuple, _mutual_knn_bucketed(emb).collect()))
    assert got, "fixture produced no mutual edges"
    want = duckdb_rows(
        _semdedup_bucketed_mutual_sql(), embeddings=pq.read_table(f"{SF_DIR}/embeddings.parquet")
    )
    assert got == want


def test_bucketed_knn_plan_uses_cogrouped_arrow(spark):
    """q203's default candidate stage must run as the per-bucket
    cogrouped Arrow kernel — never a nested-loop or cartesian join."""
    from pandamapreduce_spark.catalog import load_table

    emb = load_table(spark, SF_DIR, "embeddings", spread=True)
    df = _mutual_knn_bucketed(emb)
    df.collect()  # finalize the adaptive plan (AQE) before inspecting
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_range_prefix_exact_global_rank_and_sum(spark, monkeypatch):
    """Unit contract of the shared prefix operator (every distributed
    prefix lane's machinery): _base + per-range row_number == the naive
    single-partition global rank, and _base_sum prefixes exactly —
    on synthetic data WITH heavy duplicate keys, at a range count
    that forces splits."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from pandamapreduce_spark.operators import prefix

    monkeypatch.setattr(prefix, "PREFIX_RANGES", 5)
    rows = [(i % 7, i, (i * 13) % 101) for i in range(500)]  # dup-heavy key0
    df = spark.createDataFrame(rows, "k int, id bigint, v bigint")
    parts, n_total, s_total = prefix.range_prefix(df, ["k", "id"], sum_col="v")
    assert n_total == 500
    assert s_total == sum(r[2] for r in rows)
    w = W.partitionBy("_pid").orderBy("k", "id")
    got = {
        (r.k, r.id): (r.rank, r.psum)
        for r in parts.withColumn("rank", F.row_number().over(w) + F.col("_base"))
        .withColumn(
            "psum",
            F.sum("v").over(w.rowsBetween(W.unboundedPreceding, 0)) + F.col("_base_sum"),
        )
        .collect()
    }
    ordered = sorted(rows, key=lambda r: (r[0], r[1]))
    acc = 0
    for rank0, (k, i, v) in enumerate(ordered, start=1):
        acc += v
        assert got[(k, i)] == (rank0, acc), (k, i)


def test_range_prefix_empty_input(spark, monkeypatch):
    from pandamapreduce_spark.operators import prefix

    monkeypatch.setattr(prefix, "PREFIX_RANGES", 4)
    df = spark.createDataFrame([], "k int, v bigint")
    parts, n_total, s_total = prefix.range_prefix(df, ["k"], sum_col="v")
    assert n_total == 0 and s_total == 0 and parts.count() == 0


def test_probe_mask_schedule_properties():
    """Masks are unique, radius-bounded, complete per radius tier, and
    the shipped radius-2 schedule is exactly own+flip1+flip2."""
    import math

    for n, r in [(6, 1), (6, 2), (6, 3), (8, 2)]:
        masks = _probe_masks(n, r)
        assert len(masks) == len(set(masks))
        assert all(m < (1 << n) for m in masks)
        assert len(masks) == sum(math.comb(n, i) for i in range(r + 1))
        assert all(bin(m).count("1") <= r for m in masks)
