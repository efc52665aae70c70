#!/usr/bin/env python
"""Reproduce the PERF.md q203-vs-q183 recall table (VERDICT r7 #2):
edge recall of the bucketed candidate path against the exact all-pairs
mutual-kNN τ-edges, plus verdict-level drop recall/precision.

Usage: python scripts/semdedup_recall.py [sf_dir ...]
Default: sf0.001, sf0.01, sf0.1. Pure driver-side numpy for the edge
sets (fixture embeddings fit trivially); Spark runs only the two
registered lanes for the verdict-level comparison at the LAST sf_dir.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402

from tests.test_round8 import (  # noqa: E402 — the pytest-pinned reference impls
    _python_bucketed_mutual,
    _sequential_cosine_matrix,
)
from pandamapreduce_spark.plans.similarity import MUTUAL_K, SEMDEDUP_TAU  # noqa: E402


def edge_recall(sf_dir: str) -> tuple[int, int, float]:
    emb = pd.read_parquet(f"{sf_dir}/embeddings.parquet", columns=["vec_id", "embedding"])
    ids = emb["vec_id"].to_numpy()
    V = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
    cos = _sequential_cosine_matrix(V, V)
    idx = {int(v): i for i, v in enumerate(ids)}
    order = {}
    for row in range(len(ids)):
        ranked = sorted(
            (r for r in range(len(ids)) if r != row), key=lambda r: (-cos[row, r], ids[r])
        )[:MUTUAL_K]
        order[int(ids[row])] = {int(ids[r]) for r in ranked}
    exact = {
        (a, b)
        for a, nb in order.items()
        for b in nb
        if a < b and a in order.get(b, set()) and cos[idx[a], idx[b]] >= SEMDEDUP_TAU
    }
    bucketed = {
        p for p, (_, _, c) in _python_bucketed_mutual(ids, V).items() if c >= SEMDEDUP_TAU
    }
    return len(exact), len(bucketed), len(exact & bucketed) / len(exact) if exact else float("nan")


def main() -> None:
    sf_dirs = sys.argv[1:] or [f"/root/testdata/sf{s}" for s in ("0.001", "0.01", "0.1")]
    for sf_dir in sf_dirs:
        n_exact, n_bucketed, rec = edge_recall(sf_dir)
        print(f"{sf_dir}: exact_edges={n_exact} bucketed_edges={n_bucketed} edge_recall={rec:.3f}")

    from pandamapreduce_spark.plans import REGISTRY
    from pandamapreduce_spark.session import get_spark

    spark = get_spark("semdedup-recall")
    sf_dir = sf_dirs[-1]
    exact_v = {r.doc_id: r.keep for r in REGISTRY["q183_semdedup"].build(spark, sf_dir).collect()}
    buck_v = {
        r.doc_id: r.keep
        for r in REGISTRY["q203_semdedup_bucketed"].build(spark, sf_dir).collect()
    }
    de = {d for d, k in exact_v.items() if not k}
    db = {d for d, k in buck_v.items() if not k}
    inter = de & db
    rec = f"{len(inter) / len(de):.3f}" if de else "n/a (no exact drops)"
    prec = f"{len(inter) / len(db):.3f}" if db else "n/a (no bucketed drops)"
    print(
        f"{sf_dir} verdict level: exact_dropped={len(de)} bucketed_dropped={len(db)} "
        f"drop_recall={rec} drop_precision={prec} spurious_drops={len(db - de)}"
    )
    spark.stop()


if __name__ == "__main__":
    main()
