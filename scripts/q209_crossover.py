#!/usr/bin/env python
"""Measure the q209 broadcast-NLJ vs bucketed-candidate crossover
(VERDICT r9 #7): q209's docstring promises a swap to q41/q55 bucketed
candidate generation "when the eval set itself is huge" — this script
turns that prose into a measured number.

Both shapes score |train| corpus vectors against |eval| eval vectors
at cosine >= tau, per-train top-1:
- brute: q209's shipped plan — broadcast NLJ, every (train, eval)
  pair, map-side struct-max fold;
- bucketed: sign-LSH multi-probe (q203's 6-plane/radius-2 schedule) —
  train probes eval's buckets, only Hamming<=2 candidates are scored
  (~34% of pairs at these constants; recall priced/measured in
  PERF.md's q203 table).

The corpus is the sf1 scaled embeddings (20k vectors); the eval set is
the first N corpus vectors re-tagged, N swept upward. Reported:
wall-clock per shape per N (median of R runs) and the measured
crossover N* where bucketed first beats brute.

Usage: q209_crossover.py [--sf-dir D] [--sizes 50,500,2000,8000] [--runs 3]
"""

from __future__ import annotations

import argparse
import json
import statistics
import time

from pyspark.sql import functions as F

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
from pandamapreduce_spark.catalog import load_table  # noqa: E402
from pandamapreduce_spark.functions import cosine  # noqa: E402
from pandamapreduce_spark.lineage import detach  # noqa: E402
from pandamapreduce_spark.plans.similarity import (  # noqa: E402
    SEMDEDUP_PLANES,
    SEMDEDUP_RADIUS,
    SEMDEDUP_TAU,
    _bucket_col,
    _probe_masks,
)
from pandamapreduce_spark.session import get_spark  # noqa: E402


def brute(train, ev):
    pair = train.crossJoin(F.broadcast(ev)).select(
        "vec_id", "eval_id", cosine(F.col("embedding"), F.col("e_emb")).alias("cos_sim")
    )
    best = pair.groupBy("vec_id").agg(
        F.max(F.struct("cos_sim", (-F.col("eval_id")).alias("neg"), "eval_id")).alias("b")
    )
    return best.where(F.col("b.cos_sim") >= SEMDEDUP_TAU)


def bucketed(train, ev):
    evb = ev.select(
        "eval_id", "e_emb", _bucket_col("e_emb", SEMDEDUP_PLANES).alias("bucket")
    )
    probe_arr = F.array(
        *[
            F.col("bucket").bitwiseXOR(F.lit(m))
            for m in _probe_masks(SEMDEDUP_PLANES, SEMDEDUP_RADIUS)
        ]
    )
    tb = train.select(
        "vec_id", "embedding", _bucket_col("embedding", SEMDEDUP_PLANES).alias("bucket")
    ).select("vec_id", "embedding", F.explode(probe_arr).alias("probe"))
    pair = tb.join(
        F.broadcast(detach(evb)), F.col("probe") == F.col("bucket")
    ).select("vec_id", "eval_id", cosine(F.col("embedding"), F.col("e_emb")).alias("cos_sim"))
    best = pair.groupBy("vec_id").agg(
        F.max(F.struct("cos_sim", (-F.col("eval_id")).alias("neg"), "eval_id")).alias("b")
    )
    return best.where(F.col("b.cos_sim") >= SEMDEDUP_TAU)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/repo/.bench/sf1")
    ap.add_argument("--sizes", default="50,500,2000,8000")
    ap.add_argument("--runs", type=int, default=3)
    args = ap.parse_args()
    sizes = [int(s) for s in args.sizes.split(",")]

    spark = get_spark("q209-crossover")
    emb = load_table(spark, args.sf_dir, "embeddings", spread=True)
    emb.persist().count()  # park the scan so runs time the join, not the read
    out = {"sf_dir": args.sf_dir, "corpus_rows": emb.count(), "rows": []}
    for n in sizes:
        ev = emb.where(F.col("vec_id") < n).select(
            F.col("vec_id").alias("eval_id"), F.col("embedding").alias("e_emb")
        )
        train = emb.where(F.col("vec_id") >= n)
        rec = {"eval_rows": n}
        for name, fn in (("brute", brute), ("bucketed", bucketed)):
            ts = []
            for _ in range(args.runs):
                t0 = time.time()
                fn(train, ev).toPandas()
                ts.append(time.time() - t0)
            rec[name] = round(statistics.median(ts), 2)
        rec["winner"] = "bucketed" if rec["bucketed"] < rec["brute"] else "brute"
        out["rows"].append(rec)
        print(json.dumps(rec), flush=True)
    emb.unpersist()
    cross = next((r["eval_rows"] for r in out["rows"] if r["winner"] == "bucketed"), None)
    out["crossover_eval_rows"] = cross
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
