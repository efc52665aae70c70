"""Engine / Dataset / MapReduceJob API tests — the reference-user
porting surface (SURVEY §7.1)."""

from __future__ import annotations

import tempfile
import uuid
import zipfile

from pyspark.sql import functions as F

from pandamapreduce_spark.engine import Dataset, Engine, MapReduceJob
from pandamapreduce_spark.operators import tera

from tests.conftest import SF_DIR


def test_dataset_relational_verbs(spark):
    e = Engine(spark)
    li = e.table(SF_DIR, "lineitem")
    out = (
        li.where(F.col("l_quantity") > 10)
        .group_agg(["l_returnflag"], F.count(F.lit(1)).alias("n"))
        .order_by("l_returnflag")
    )
    rows = out.collect()
    assert [r.l_returnflag for r in rows] == ["A", "N", "R"]
    assert all(r.n > 0 for r in rows)


def test_dataset_join_broadcast(spark):
    e = Engine(spark)
    cust = e.table(SF_DIR, "customer")
    nation = e.table(SF_DIR, "nation")
    j = cust.join(nation, F.col("c_nationkey") == F.col("n_nationkey"), broadcast_other=True)
    assert j.count() == cust.count()


def test_mapreduce_job_wordcount(spark):
    """The reference wordcount job ported 1:1 (wc_main.cpp shape)."""
    import re

    pairs = [(i, t) for i, t in enumerate(["the quick brown fox", "the lazy dog", "the fox"])]
    word_re = re.compile("[^A-Z]+")

    def map_f(_k, text):
        for w in word_re.split(text.upper()):
            if w:
                yield w, 1

    def sum_f(_k, vals):
        return sum(vals)

    out = dict(
        MapReduceJob(spark)
        .set_map(map_f)
        .set_combiner(sum_f)
        .set_reduce(sum_f)
        .set_num_reducers(4)
        .add_input(pairs, num_partitions=2)
        .execute()
        .collect()
    )
    assert out == {"THE": 3, "QUICK": 1, "BROWN": 1, "FOX": 2, "LAZY": 1, "DOG": 1}


def test_mapreduce_job_range_partitioner_sorted(spark):
    """Range partitioner = terasort shape: globally ordered delivery."""
    pairs = [(f"k{i:04d}", i) for i in range(500)]

    def map_f(k, v):
        yield k, v

    def first_f(_k, vals):
        return vals[0]

    job = (
        MapReduceJob(spark)
        .set_map(map_f)
        .set_reduce(first_f)
        .set_num_reducers(4)
        .set_partitioner("range")
        .add_input(pairs, num_partitions=7)
    )
    out = job.execute()
    per_part = out.mapPartitions(lambda it: [[k for k, _ in it]]).collect()
    flat = [k for part in per_part for k in part]
    assert flat == sorted(flat)  # partitions ordered AND internally sorted
    assert len(flat) == 500


def test_mapreduce_job_combiner_honoured_under_range(spark):
    """A combiner that reshapes values (v -> (sum, n), folded by the
    reducer) must run under the range partitioner exactly as under
    hash: same per-key means either way."""
    pairs = [(f"k{i % 13:02d}", float(i)) for i in range(400)]

    def map_f(k, v):
        yield k, v

    def partial_f(_k, vals):
        return sum(vals), len(vals)

    def mean_f(_k, partials):
        return sum(s for s, _ in partials) / sum(n for _, n in partials)

    def run(partitioner):
        job = (
            MapReduceJob(spark)
            .set_map(map_f)
            .set_combiner(partial_f)
            .set_reduce(mean_f)
            .set_num_reducers(4)
            .set_partitioner(partitioner)
            .add_input(pairs, num_partitions=5)
        )
        return sorted(job.execute().collect())

    hashed = run("hash")
    assert len(hashed) == 13
    assert run("range") == hashed


def test_tera_file_roundtrip(spark):
    """teragen → raw 100-byte file sink → fixed-width reader → identical."""
    e = Engine(spark)
    gen = tera.teragen(spark, 1_000, num_partitions=3)
    with tempfile.TemporaryDirectory() as d:
        n_files = tera.write_tera_files(gen, d)
        assert n_files == 3
        back = e.read_tera_records(d)
        assert back.count() == 1_000
        a = sorted((bytes(r.key), bytes(r.value)) for r in gen.collect())
        b = sorted((bytes(r.key), bytes(r.value)) for r in back.collect())
        assert a == b


def test_engine_sql_surface(spark):
    e = Engine(spark)
    out = e.sql(SF_DIR, "SELECT count(*) AS n FROM lineitem WHERE l_quantity > 10")
    assert out.collect()[0].n > 0


def test_from_pairs_and_mapreduce_dataset(spark):
    e = Engine(spark)
    ds = e.from_pairs([("a", "1"), ("b", "2"), ("a", "3")])

    def map_f(k, v):
        yield k, int(v)

    def sum_f(_k, vals):
        return sum(vals)

    out = ds.map_reduce("key", "value", map_f, sum_f, combine_f=sum_f, schema="k string, total long")
    got = {r.k: r.total for r in out.collect()}
    assert got == {"a": 4, "b": 2}


def test_dataset_extension_methods(spark):
    """The 100 TB toolkit is reachable as one fluent Dataset chain."""
    from pandamapreduce_spark.engine import Engine

    e = Engine(spark)
    docs = e.table(SF_DIR, "documents")

    assert docs.dedup_exact("text").count() <= docs.count()
    pairs = docs.neardup_pairs().df
    assert set(pairs.columns) == {"doc_a", "doc_b"}

    from pandamapreduce_spark.operators.multimodal import attach_fake_payload

    payloads = type(docs)(attach_fake_payload(docs.df, "video"))
    frames = payloads.sample_frames(num_frames=2)
    assert frames.count() == 2 * docs.count()
    feats = payloads.extract_features()
    assert "features" in feats.df.columns
    resized = payloads.resize_images(width=8, height=8)
    assert resized.df.select("meta.width").first()[0] == 8

    ev = e.table(SF_DIR, "events").select("event_id", "user_id", "ts", "event_type")
    right = e.table(SF_DIR, "events").where("event_type = 'click'").select(
        "user_id", F.col("ts").alias("c_ts"), F.col("event_id").alias("c_id")
    )
    j = ev.salted_join(e.table(SF_DIR, "customer").select(F.col("c_custkey").alias("user_id"), "c_name"), "user_id", n_salts=4)
    assert "c_name" in j.df.columns


def test_worker_daemon_fixes_spark_archives(spark):
    """Warm Python workers run under the engine's daemon, so no importer
    under an archive that was on the daemon's path at start-up (Spark's
    pyspark.zip, py4j zip and spark-core jar) keeps ``zipimporter``'s own
    ``invalidate_caches``, which re-reads the archive on every task."""
    sc = spark.sparkContext
    n = 2 * sc.defaultParallelism
    sc.parallelize(range(n), n).map(lambda x: x + 1).sum()

    def probe(_):
        import os
        import sys
        import zipimport

        # a package the daemon does not import at start-up: its path
        # inside pyspark.zip gets an importer only now, in a task
        import pyspark.streaming  # noqa: F401

        archives = [p for p in os.environ["PYTHONPATH"].split(os.pathsep) if p.endswith((".zip", ".jar"))]
        under = [
            finder
            for path, finder in sys.path_importer_cache.items()
            if any(path == a or path.startswith(a + os.sep) for a in archives)
        ]
        yield len(under), sum(type(f).invalidate_caches is zipimport.zipimporter.invalidate_caches for f in under)

    counts = sc.parallelize(range(n), n).mapPartitions(probe).collect()
    assert all(entries > 0 for entries, _ in counts), counts
    assert all(rereads == 0 for _, rereads in counts), counts


def test_add_py_file_imports_in_warm_workers(spark, tmp_path):
    """A ``.py`` and a ``.zip`` added after the workers are warm still
    import in a task: the worker daemon keeps the per-task import-cache
    invalidation for everything but Spark's own archives."""
    sc = spark.sparkContext
    sc.parallelize(range(8), 4).map(lambda x: x + 1).sum()
    tag = uuid.uuid4().hex[:12]
    py = tmp_path / f"added_py_{tag}.py"
    py.write_text("VALUE = 40\n")
    zp = tmp_path / f"added_zip_{tag}.zip"
    with zipfile.ZipFile(zp, "w") as z:
        z.writestr(f"added_zip_{tag}/__init__.py", "VALUE = 2\n")
    sc.addPyFile(str(py))
    sc.addPyFile(str(zp))

    def use(_):
        import importlib

        yield importlib.import_module(f"added_py_{tag}").VALUE + importlib.import_module(f"added_zip_{tag}").VALUE

    assert sc.parallelize(range(4), 4).mapPartitions(use).collect() == [42] * 4


def test_driver_contract_shape():
    """Guards the __spark_entry__ driver contract: the override list
    names only registered queries, the computed order covers the full
    registry exactly once, every registered query carries an oracle,
    and oracle keys are a subset of query keys."""
    import __spark_entry__ as m

    assert len(set(m._WINDOW_OVERRIDE)) == len(m._WINDOW_OVERRIDE)
    from pandamapreduce_spark.plans import REGISTRY

    missing = [n for n in m._WINDOW_OVERRIDE if n not in REGISTRY]
    assert not missing, missing
    ordered = m._ordered_names()
    assert sorted(ordered) == sorted(REGISTRY)
    qs = m.queries()
    oracles = m.oracle_sql()
    assert set(oracles) <= set(qs)
    # round-4 state: every registered query is value-hash-oracled
    assert set(oracles) == set(qs), set(qs) - set(oracles)


def test_window_priority_computed_from_ledger():
    # r6 verdict #3: the driver window (first ~50 queries() entries)
    # must be generated from the CORRECTNESS ledger — never-green
    # first, then the changed-this-round override, then oldest-green —
    # so staleness can never again be crowded out by hand-edited prose.
    import __spark_entry__ as m

    names = m._ordered_names()
    green = m._ledger_green_rounds()
    window = set(names[:50])

    never = [n for n in names if n not in green]
    assert all(n in window for n in never), "never-green query outside the window"
    greened = [n for n in names if n in green]
    if greened:
        oldest_round = min(green[n] for n in greened)
        oldest = [n for n in greened if green[n] == oldest_round]
        # every query whose green is the stalest on record is windowed
        # (or there are more stale queries than slots — then the window
        # must be ENTIRELY never-green + override + stalest)
        outside = [n for n in oldest if n not in window]
        if outside:
            tail = [n for n in names[:50] if n in green and green[n] > oldest_round
                    and n not in set(m._WINDOW_OVERRIDE)]
            assert not tail, f"stale {outside[:3]} displaced by fresher {tail[:3]}"
    # the override is honored right after never-green
    k = len(never)
    expected = [n for n in m._WINDOW_OVERRIDE if n in green and n not in set(never)]
    assert names[k : k + len(expected)] == expected
