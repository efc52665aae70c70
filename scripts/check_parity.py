"""Driver-style parity check for selected queries at a given sf_dir.

Usage: importable from the interactive session or
``python3 scripts/check_parity.py q59_gmm_em q64_... [sf_dir ...]``.
Mirrors tests/test_oracle_parity.canon (the driver's t2 shape). A query
whose pinned oracle does not cover a fixture (``Query.covers``) is
reported as not covered there and does not fail the run.
"""

from __future__ import annotations

import os
import sys

import duckdb

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings".split()
)


def make_oracle(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def check(spark, name: str, sf_dir: str) -> bool:
    from pandamapreduce_spark.plans import REGISTRY
    from tests.test_oracle_parity import canon

    q = REGISTRY[name]
    con = make_oracle(sf_dir)
    if q.covers is not None and not con.execute(q.covers).fetchone()[0]:
        print(f"{name} @ {sf_dir}: not covered (its pinned oracle has no rows for this fixture)")
        return True
    got = q.build(spark, sf_dir).toPandas()
    want = con.execute(q.oracle).df()
    ok_cols = sorted(got.columns) == sorted(want.columns)
    ok_rows = len(got) == len(want)
    g, w = canon(got), canon(want)
    ok_vals = g == w
    print(f"{name} @ {sf_dir}: cols={ok_cols} rows={ok_rows}({len(got)}/{len(want)}) vals={ok_vals}")
    if not ok_vals:
        for a, b in list(zip(g, w))[:4]:
            if a != b:
                print("  spark:", a)
                print("  oracle:", b)
    return ok_cols and ok_rows and ok_vals


if __name__ == "__main__":
    sys.path.insert(0, ROOT)
    from pandamapreduce_spark.session import get_spark

    names = [a for a in sys.argv[1:] if not a.startswith("/")]
    dirs = [a for a in sys.argv[1:] if a.startswith("/")] or [
        "/root/testdata/sf0.001",
        "/root/testdata/sf0.01",
    ]
    spark = get_spark()
    ok = True
    for d in dirs:
        for n in names:
            ok = check(spark, n, d) and ok
    sys.exit(0 if ok else 1)
