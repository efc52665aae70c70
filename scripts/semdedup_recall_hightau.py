#!/usr/bin/env python
"""Measure q203's bucketed-SemDeDup edge recall in the PRODUCTION
similarity regime (VERDICT r8 #1): planted near-dup cohorts at target
cosine τ over an isotropic background, exact mutual-kNN τ-edges vs the
bucketed candidate path — the same pytest-pinned Python references as
the fixture-regime table (scripts/semdedup_recall.py), at larger n.

Usage: python scripts/semdedup_recall_hightau.py
Prints one row per (τ, n) and the hyperplane-math priced value next to
the measured one. Pure driver-side numpy (no Spark): the Spark lane is
pinned equal to the Python bucketed reference on planted geometry by
tests/test_round9.py, so this measures the SHIPPED scheme.
"""

from __future__ import annotations

import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pandamapreduce_spark.plans.similarity import (  # noqa: E402
    SEMDEDUP_PLANES,
    SEMDEDUP_RADIUS,
)
from tests.test_round9 import measure_recall  # noqa: E402


def priced_at(n_planes: int, radius: int, tau: float) -> float:
    """P(Hamming distance of the 2 codes <= radius) under independent
    hyperplanes: per-bit disagreement p = theta/pi."""
    p = math.acos(tau) / math.pi
    return sum(
        math.comb(n_planes, d) * p**d * (1 - p) ** (n_planes - d) for d in range(radius + 1)
    )


def priced_recall(tau: float) -> float:
    return priced_at(SEMDEDUP_PLANES, SEMDEDUP_RADIUS, tau)


def main() -> None:
    print(f"scheme: {SEMDEDUP_PLANES} planes, probe radius {SEMDEDUP_RADIUS}")
    for tau, n_bg, n_cohorts, size in (
        (0.90, 1500, 250, 2),
        (0.95, 1500, 250, 2),
        (0.95, 3000, 400, 3),
    ):
        n_exact, n_buck, rec = measure_recall(n_bg, n_cohorts, size, tau)
        n = n_bg + n_cohorts * size
        print(
            f"tau={tau:.2f} n={n} (cohorts {n_cohorts}x{size}): "
            f"exact_edges={n_exact} bucketed_edges={n_buck} "
            f"measured_recall={rec:.3f} priced={priced_recall(tau):.3f}"
        )

    # Corpus-scale knob sweep (PERF.md round-9 table): same geometry,
    # arbitrary (planes, radius) via the generalized reference.
    from tests.test_round9 import (
        exact_mutual_tau_edges,
        general_bucketed_tau_edges,
        planted_embeddings,
    )

    ids, V = planted_embeddings(3000, 400, 3, 0.95)
    exact = exact_mutual_tau_edges(ids, V, 0.95)
    print(f"knob sweep at tau=0.95, n={len(ids)}: exact_edges={len(exact)}")
    for planes, radius in ((16, 2), (20, 2), (20, 3)):
        buck = general_bucketed_tau_edges(ids, V, planes, radius, 0.95)
        rec = len(exact & buck) / len(exact)
        print(
            f"planes={planes} radius={radius}: bucketed={len(buck)} "
            f"measured={rec:.3f} priced={priced_at(planes, radius, 0.95):.3f}"
        )


if __name__ == "__main__":
    main()
