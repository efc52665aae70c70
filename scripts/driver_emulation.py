"""Full driver-contract emulation at sf0.01 (the verify skill's t2
gate), runnable as a script: every queries() entry vs its oracle.

Usage: driver_emulation.py [SF_DIR] [name1,name2,...]
The optional second arg restricts the run to a comma-separated query
subset (e.g. the bench set for the gated sf1 parity pass)."""

import os
import sys

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
import __spark_entry__ as entry_mod  # noqa: E402
from pandamapreduce_spark.session import get_spark  # noqa: E402
from tests.test_oracle_parity import canon  # noqa: E402

sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
only = set(sys.argv[2].split(",")) if len(sys.argv) > 2 else None
spark = get_spark("driver-emulation")
df = entry_mod.entry(spark)
print("ENTRY rows:", len(df.collect()))

con = duckdb.connect()
# Bound DuckDB: at sf1 the minhash/dedup oracles otherwise balloon
# alongside the 48g Spark driver JVM and the host OOM-kills one of
# them silently (spill-to-disk is the right behavior for an oracle).
con.execute("SET memory_limit='24GB'")
for t in "region nation customer supplier part orders lineitem events documents embeddings".split():
    con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")


qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
if only is not None:
    unknown = only - set(qs)
    if unknown:
        # Fail loudly: a typo'd subset would otherwise run nothing and
        # print a vacuous FAILURES: 0.
        sys.exit(f"unknown query names: {sorted(unknown)}")
fail = 0
for name, fn in qs.items():
    if only is not None and name not in only:
        continue
    try:
        got = fn(spark, sf_dir).toPandas()
    except Exception as e:
        fail += 1
        print(name, f"ERROR: {e}")
        continue
    if name in oracles:
        want = con.execute(oracles[name]).df()
        ok = (
            sorted(got.columns) == sorted(want.columns)
            and len(got) == len(want)
            and canon(got) == canon(want)
        )
        if not ok:
            fail += 1
        print(name, "MATCH" if ok else "MISMATCH")
    else:
        print(name, f"rows-only ({len(got)})")
print("FAILURES:", fail)
spark.stop()
