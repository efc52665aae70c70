"""Driver contract for the spark-graft builder (PySpark target).

Thin adapter over the engine's central query registry
(``pandamapreduce_spark.plans.REGISTRY``): every implemented operator
from SURVEY §2 is registered there once with its Spark builder and its
DuckDB oracle SQL; this module re-exports them in the driver's shape.
"""

from __future__ import annotations

import os as _os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

# A set-but-empty SPARK_LOCAL_DIRS overrides spark.local.dir and puts
# shuffle files on the virtio disk (3-7x slowdowns under writeback).
# Pin it before ANY SparkSession (ours or the driver's) launches a JVM
# — same guard as session.get_spark, here for sessions we don't build.
if _os.access("/dev/shm", _os.W_OK) and not _os.environ.get("SPARK_LOCAL_DIRS"):
    _os.environ["SPARK_LOCAL_DIRS"] = "/dev/shm/spark-local"

from pandamapreduce_spark.plans import REGISTRY

# Registry/driver count reconciliation: every registered query carries
# a value-hash oracle; nothing is conditionally registered. (A
# transformWithStateInPandas twin of q62 was retired in round 5 — its
# state-server protocol needs google.protobuf, absent from this image;
# the implementation lives in git history for capable runtimes.)

# Driver-verification window management: the driver's CORRECTNESS pass
# covers the first N (~50) entries of ``queries()`` in iteration order.
# The priority is computed from the CORRECTNESS_r*.json ledger. Order:
#   1. never driver-green (new lanes, or landed past a window),
#   2. changed this round (the hand OVERRIDE below — the one fact the
#      ledger cannot know),
#   3. everything else, oldest driver-green first.
# Entries beyond the window stay covered by tests/test_oracle_parity.py
# at sf0.001 and each session's full-registry emulation at sf0.01.

#: Queries whose Spark plan or oracle text changed since their last
#: driver-green row — the only hand-maintained piece. A changed plan
#: takes a window row; a refactor proven plan-identical does not.
_WINDOW_OVERRIDE: list[str] = [
    "q90_sequence_packing",
    "q96_vocab_build",
    "q141_pps_sample",
    "q208_bpe_pack",
    "q169_khop_reach",
    "q180_shortest_path",
    "q204_bpe_merges",
    "q206_bpe_encode",
    "q131_copurchase",
    "q136_triangle_count",
    "q184_communities",
    "q187_link_prediction",
    "q171_ann_recall",
    "q203_semdedup_bucketed",
    "q129_pagerank",
    "q172_entity_resolution",
    "q183_semdedup",
    "q94_dedup_clusters",
    "q103_dedup_keep_best",
    "q106_final_corpus",
    "q87_hybrid_neardup",
    "q35_embedding_neardup",
    "q32_minhash_lsh_candidates",
    "q33_neardup_verified",
    "q69_stream_neardup",
    "q80_clean_corpus",
    "q87b_hybrid_neardup_ann",
    "q116_incremental_neardup",
    "q124_corpus_merge",
    "q185_neardup_eval",
]


def _ledger_green_rounds() -> dict[str, int]:
    """name -> latest round with a fully-green driver-window row."""
    import glob as _glob
    import json as _json
    import re as _re

    here = _os.path.dirname(_os.path.abspath(__file__))
    green: dict[str, int] = {}
    for path in sorted(_glob.glob(_os.path.join(here, "CORRECTNESS_r*.json"))):
        m = _re.search(r"_r(\d+)\.json$", path)
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                data = _json.load(f)
        except (OSError, ValueError):
            continue
        for name, rec in data.items():
            if not isinstance(rec, dict) or rec.get("err"):
                continue
            # Require explicit True on all three gates (ADVICE r7): a
            # truncated row with the schema/hash keys absent must NOT
            # count as green, or it would rotate out unverified.
            ok = (
                rec.get("rows_match") is True
                and rec.get("schema_match") is True
                and rec.get("hash_match") is True
            )
            if ok:
                green[name] = max(green.get(name, 0), rnd)
    return green


def _ordered_names() -> list[str]:
    green = _ledger_green_rounds()
    never = [n for n in REGISTRY if n not in green]
    changed = [n for n in _WINDOW_OVERRIDE if n in REGISTRY and n in green and n not in never]
    seen = set(never) | set(changed)
    rest = sorted((n for n in REGISTRY if n not in seen), key=lambda n: (green[n], n))
    return never + changed + rest


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    Flagship = q01_pricing_summary: exercises scan → filter → partial
    agg → shuffle → final agg → sort, the full reference pipeline shape
    (SURVEY §3.1) in one declarative plan.
    """
    return REGISTRY["q01_pricing_summary"].build(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY §2."""
    return {name: REGISTRY[name].build for name in _ordered_names()}


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL for every registered query — as of round 4
    every query carries one (pinned literal-row oracles cover the
    generative/deterministic-fit cases: tera q52/q53, GMM q59).
    """
    return {name: REGISTRY[name].oracle for name in _ordered_names() if REGISTRY[name].oracle is not None}
