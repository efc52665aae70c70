#!/usr/bin/env python
"""Full-registry sf1 parity sweep with a per-oracle watchdog.

The gated sf1 parity evidence (docs/SF1_PARITY.md) historically
covered the bench set plus each round's new lanes — every other lane
had only sf0.001/0.01/0.1 coverage. This script runs EVERY registry
entry at sf1 (Spark side AND DuckDB oracle) the way
scripts/driver_emulation.py does, with one addition: each oracle runs
under a watchdog thread that calls `duckdb.interrupt()` after
--budget seconds (default 300), so the documented md5-recompute cost
class (the q33/q94 family: 12 md5s per shingle in SQL) records as
OVER_BUDGET instead of stalling the sweep — those lanes' cost class
is a DOCUMENTED oracle-side property, not an engine gap (their
bench-set siblings q32/q80/q106/q116 were sf1-verified in the r5
2h40m dedicated pass).

Usage: sf1_sweep.py [SF_DIR] [--budget SECONDS] [--out JSONL]
Resumable: names already present in --out are skipped.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import time

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry_mod  # noqa: E402
from pandamapreduce_spark.session import get_spark  # noqa: E402
from tests.test_oracle_parity import canon  # noqa: E402

#: Lanes whose sf1 run is excluded by FIXTURE SEMANTICS, not cost:
#: the FK-copy fixture replicates every document 10x byte-identically,
#: so q147's TRUE pair count itself grows quadratically (~700M pairs)
#: — no engine should materialize it (docs/SF1_PARITY.md).
#: (q34b was briefly suspected of joining this class — its per-token
#: SimHash is rotation-invariant, so the FK copies share fingerprints
#: — but its bucket caps, mirrored in the oracle, bound the blowup:
#: MATCH at sf1 in 9.7 s Spark / 32 s oracle, 119,520 pairs.)
SEMANTIC_EXCLUSIONS = {"q147_set_similarity_join"}

#: Lanes whose ORACLE VALIDITY is bounded by a documented exactness
#: regime that the 10x PERF fixture exceeds (SF1_PARITY.md r5 notes
#: these were deliberately excluded from sf1 gating from the start):
#: q64 — sparse-mode HLL is the exact answer only below ~12k distinct
#: (fixtures <= 1.5k; sf1 is 10x past it, so the estimate lawfully
#: diverges from DuckDB's exact count); q66 — the GK summary is exact
#: only while per-group n < 50k; q59 — the oracle is a per-fixture
#: PINNED literal row (exp/ln ulp divergence rules out a computed
#: cross-engine oracle), so it only exists for the driver fixtures.
#: Their behavior at scale is covered by the error-bound pytests
#: (tests/test_sketches.py) and q59's determinism/monotonicity tests.
REGIME_EXCLUSIONS = {"q59_gmm_em", "q64_sketch_distinct_rollup", "q66_approx_quantiles"}


def run_oracle(sf_dir: str, sql: str, budget: float):
    """Run one oracle on a fresh connection under a watchdog; returns
    (df|None, status, seconds)."""
    con = duckdb.connect()
    con.execute("SET memory_limit='24GB'")
    for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    done = threading.Event()

    def watchdog():
        if not done.wait(budget):
            con.interrupt()

    w = threading.Thread(target=watchdog, daemon=True)
    w.start()
    t0 = time.time()
    try:
        df = con.execute(sql).df()
        return df, "ok", time.time() - t0
    except duckdb.InterruptException:
        return None, "OVER_BUDGET", time.time() - t0
    except Exception as e:  # noqa: BLE001 — recorded, not swallowed
        return None, f"ERROR: {type(e).__name__}: {e}", time.time() - t0
    finally:
        done.set()
        con.close()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir", nargs="?", default="/root/repo/.bench/sf1")
    ap.add_argument("--budget", type=float, default=300.0)
    ap.add_argument("--out", default="/root/repo/docs/sf1_sweep.jsonl")
    ap.add_argument(
        "--retry-over-budget",
        action="store_true",
        help="re-run names whose recorded status is OVER_BUDGET (their "
        "old rows are dropped from the JSONL first); use with a higher "
        "--budget on a quiet host",
    )
    args = ap.parse_args()

    done_names = set()
    if os.path.exists(args.out):
        with open(args.out) as f:
            rows = [json.loads(line) for line in f if line.strip()]
        if args.retry_over_budget:
            keep = [r for r in rows if r.get("status") != "OVER_BUDGET"]
            if len(keep) != len(rows):
                with open(args.out, "w") as f:
                    for r in keep:
                        f.write(json.dumps(r) + "\n")
                rows = keep
        done_names = {r["name"] for r in rows}

    spark = get_spark("sf1-sweep")
    qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
    with open(args.out, "a") as out:
        for name, fn in qs.items():
            if name in done_names:
                continue
            rec = {"name": name, "sf_dir": args.sf_dir}
            if name in SEMANTIC_EXCLUSIONS:
                rec["status"] = "EXCLUDED_FIXTURE_SEMANTICS"
                out.write(json.dumps(rec) + "\n")
                out.flush()
                continue
            if name in REGIME_EXCLUSIONS:
                rec["status"] = "EXCLUDED_EXACTNESS_REGIME"
                out.write(json.dumps(rec) + "\n")
                out.flush()
                continue
            t0 = time.time()
            try:
                got = fn(spark, args.sf_dir).toPandas()
                rec["spark_s"] = round(time.time() - t0, 1)
                rec["spark_rows"] = len(got)
            except Exception as e:  # noqa: BLE001
                rec["status"] = f"SPARK_ERROR: {type(e).__name__}: {e}"
                out.write(json.dumps(rec) + "\n")
                out.flush()
                continue
            if name not in oracles:
                rec["status"] = "rows-only"
            else:
                want, status, secs = run_oracle(args.sf_dir, oracles[name], args.budget)
                rec["oracle_s"] = round(secs, 1)
                if want is None:
                    rec["status"] = status
                else:
                    ok = (
                        sorted(got.columns) == sorted(want.columns)
                        and len(got) == len(want)
                        and canon(got) == canon(want)
                    )
                    rec["status"] = "MATCH" if ok else "MISMATCH"
                    rec["oracle_rows"] = len(want)
            out.write(json.dumps(rec) + "\n")
            out.flush()
            print(name, rec["status"], flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
