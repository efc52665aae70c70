"""Invariant tests (SURVEY §5.2) — the reference's own validation
strategy generalized:

- terasort: TeraValidate invariants (order, boundaries, count,
  checksum preservation) — ``TeraValidate.scala:64-125``;
- teragen: determinism under partition count (the skip-ahead LCG
  guarantee, ``apps/terasort/Random16.cpp``);
- map_reduce: combiner-on == combiner-off (the reference's
  ``local_combiner`` flag inconsistency is the bug class, SURVEY §4.1);
- partitioning invariance: results identical under hash vs range vs
  arbitrary repartition (reference O10 vs O11).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from pandamapreduce_spark.operators import prefix, tera
from pandamapreduce_spark.operators.mapreduce import map_reduce

from tests.conftest import SF_DIR

N = 5_000


def test_teragen_deterministic_across_partitionings(spark):
    a = tera.teragen(spark, N, num_partitions=3).orderBy("key", "value").collect()
    b = tera.teragen(spark, N, num_partitions=17).orderBy("key", "value").collect()
    assert len(a) == len(b) == N
    assert a == b


def test_teragen_known_record_zero(spark):
    # Record 0 pinned against LITERAL bytes of the published algorithm
    # (gensort/Hadoop teragen; reference apps/terasort/teragen_api.cu:
    # 28-66 + Unsigned16.cpp:171-183 uppercase hex digits): one LCG
    # step from seed 0 spells the gensort easter egg "JimGrayRIP".
    row = tera.teragen(spark, 1, num_partitions=1).collect()[0]
    assert bytes(row.key) == b"JimGrayRIP"
    assert bytes(row.value) == (
        b"\x00\x11"
        + b"0" * 32
        + b"\x88\x99\xaa\xbb"
        + b"2222000022220000222200002222000022220000"
        + b"00001111"
        + b"\xcc\xdd\xee\xff"
    )
    assert len(row.key) == 10 and len(row.value) == 90
    # and the scalar spec agrees with the vectorized path
    x = (tera._A * 0 + tera._C) % tera._M
    key, value = tera._record(x, 0)
    assert bytes(row.key) == key and bytes(row.value) == value


def test_terasort_validates(spark):
    gen = tera.teragen(spark, N, num_partitions=4)
    before = gen.agg(F.sum(F.crc32(F.concat("key", "value")))).collect()[0][0]
    sorted_df = tera.terasort(gen, num_partitions=6)
    verdict = tera.teravalidate(sorted_df)
    assert verdict["all_sorted"], verdict
    assert verdict["boundaries_ok"], verdict
    assert verdict["n_records"] == N
    # count + checksum preserved through the shuffle
    after = sorted_df.agg(F.sum(F.crc32(F.concat("key", "value")))).collect()[0][0]
    assert before == after


def test_teravalidate_detects_disorder(spark):
    """Negative paths of the two-level block validator: an inversion
    INSIDE a block, an inversion exactly AT a block boundary, and
    fully unsorted input must all fail; the repaired input passes."""
    B = tera.VALIDATE_BLOCK
    n = B + 64  # two blocks in one partition
    val = bytes(90)

    def df_with_swap(i: int | None):
        keys = [i_.to_bytes(tera.KEY_LEN, "big") for i_ in range(n)]
        if i is not None:
            keys[i], keys[i + 1] = keys[i + 1], keys[i]
        return spark.createDataFrame([(k, val) for k in keys], tera.TERA_SCHEMA).coalesce(1)

    # sorted → valid
    assert tera.teravalidate(df_with_swap(None))["all_sorted"]
    # in-block inversion (middle of block 0)
    assert not tera.teravalidate(df_with_swap(100))["all_sorted"]
    # inversion spanning the block-0 / block-1 boundary
    assert not tera.teravalidate(df_with_swap(B - 1))["all_sorted"]
    # unsorted gen output: sortedness fails overall
    gen = tera.teragen(spark, 20_000, num_partitions=2)
    v = tera.teravalidate(gen)
    assert not (v["all_sorted"] and v["boundaries_ok"])
    assert v["n_records"] == 20_000


def test_terasort_globally_ordered(spark):
    gen = tera.teragen(spark, 2_000, num_partitions=4)
    keys = [bytes(r.key) for r in tera.terasort(gen, num_partitions=5).collect()]
    assert keys == sorted(keys)


def _kv_rdd(spark):
    # FIXTURES F3 shape: skewed keys, some singletons, negative values.
    data = [(f"k{i % 37 if i % 37 else i}", (i * 7919) % 101 - 50) for i in range(20_000)]
    return spark.sparkContext.parallelize(data, 8)


def test_combiner_on_off_equivalence(spark):
    rdd = _kv_rdd(spark)

    def map_f(k, v):
        yield k, v

    def sum_f(_k, vals):
        return sum(vals)

    with_c = dict(map_reduce(rdd, map_f, sum_f, combine_f=sum_f).collect())
    without_c = dict(map_reduce(rdd, map_f, sum_f).collect())
    assert with_c == without_c


def test_mapreduce_invariant_to_reducer_count(spark):
    rdd = _kv_rdd(spark)

    def map_f(k, v):
        yield k, v

    def sum_f(_k, vals):
        return sum(vals)

    r1 = dict(map_reduce(rdd, map_f, sum_f, combine_f=sum_f, num_reducers=1).collect())
    r17 = dict(map_reduce(rdd, map_f, sum_f, combine_f=sum_f, num_reducers=17).collect())
    assert r1 == r17


def test_agg_invariant_under_repartition(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")

    def agg(df):
        return {
            (r.l_returnflag, r.l_linestatus): r.n
            for r in df.groupBy("l_returnflag", "l_linestatus").agg(F.count(F.lit(1)).alias("n")).collect()
        }

    base = agg(li)
    assert agg(li.repartition(1)) == base
    assert agg(li.repartition(17, "l_orderkey")) == base
    assert agg(li.repartitionByRange(4, "l_returnflag")) == base


def test_elf_hash_partitioner_same_results(spark):
    """Reference O10 parity: ELF-hash placement changes nothing about
    the reduced results (vs the default portable_hash)."""
    from pandamapreduce_spark.operators.mapreduce import elf_hash

    # pin the reference algorithm on a known vector (manual trace)
    assert elf_hash(b"A") == 0x41
    assert elf_hash(b"AB") == ((0x41 << 4) + 0x42)

    rdd = _kv_rdd(spark)

    def map_f(k, v):
        yield k, v

    def sum_f(_k, vals):
        return sum(vals)

    default = dict(map_reduce(rdd, map_f, sum_f, combine_f=sum_f, num_reducers=8).collect())
    elf = dict(map_reduce(rdd, map_f, sum_f, combine_f=sum_f, num_reducers=8, partition_f=elf_hash).collect())
    assert default == elf


def test_mapreduce_sorted_delivery(spark):
    rdd = _kv_rdd(spark)

    def map_f(k, v):
        yield k, v

    def sum_f(_k, vals):
        return sum(vals)

    out = map_reduce(rdd, map_f, sum_f, combine_f=sum_f, num_reducers=4, partition_f="range")

    def keys_of_partition(it):
        yield [k for k, _ in it]

    flat = [k for part_keys in out.mapPartitions(keys_of_partition).collect() for k in part_keys]
    assert flat == sorted(flat)  # total order: across partitions, not only within


def test_crc32_rows_matches_zlib():
    """Vectorized table CRC == zlib.crc32 row-by-row (random widths)."""
    import zlib

    import numpy as np

    from pandamapreduce_spark.operators.tera import crc32_rows

    rng = np.random.default_rng(7)
    for w in (1, 10, 100, 257):
        mat = rng.integers(0, 256, size=(50, w), dtype=np.uint8)
        got = crc32_rows(mat)
        want = [zlib.crc32(mat[i].tobytes()) for i in range(len(mat))]
        assert got.tolist() == want


def test_gen_block_matches_record_spec():
    """Vectorized generator is byte-identical to the scalar _record spec."""
    from pandamapreduce_spark.operators import tera

    kflat, vflat = tera._gen_block(12345, 64)
    x = tera.lcg_skip(12345)
    for i in range(64):
        x = (tera._A * x + tera._C) % tera._M
        k, v = tera._record(x, 12345 + i)
        assert bytes(kflat[i * 10 : (i + 1) * 10]) == k
        assert bytes(vflat[i * 90 : (i + 1) * 90]) == v


def test_lcg_affine_matches_skip():
    """Block-jump coefficients: x_{k+n} = a_n*x_k + c_n must equal n
    sequential steps, for n spanning several bit patterns."""
    from pandamapreduce_spark.operators.tera import _M, lcg_affine, lcg_skip

    for n in (1, 2, 3, 7, 1024, 4096, 4097, 123456):
        a_n, c_n = lcg_affine(n)
        for x0 in (0, 1, 0xDEADBEEF):
            assert (a_n * x0 + c_n) % _M == lcg_skip(n, x0)


@pytest.mark.parametrize(
    "name",
    [
        "q90_sequence_packing",
        "q96_vocab_build",
        "q100_global_quality_deciles",
        "q141_pps_sample",
    ],
)
def test_prefix_lane_invariant_to_range_count(spark, monkeypatch, name):
    """A ``range_prefix`` lane's global offsets/ranks must not depend
    on how many range partitions the cluster uses: one range (the
    serial computation) and three ranges collect exactly the rows of
    the default count."""
    from pandamapreduce_spark.plans import REGISTRY

    def rows():
        return REGISTRY[name].build(spark, SF_DIR).collect()

    base = rows()
    assert base
    for n_ranges in (1, 3):
        monkeypatch.setattr(prefix, "PREFIX_RANGES", n_ranges)
        assert rows() == base, n_ranges


def test_dedup_clusters_roots_are_members_and_minimal(spark):
    """Every q94 cluster root is the minimum doc_id of its own
    cluster, and every member maps to exactly one root."""
    from tests.conftest import SF_DIR

    from pandamapreduce_spark.plans.training import q94_dedup_clusters

    rows = q94_dedup_clusters(spark, SF_DIR).collect()
    by_root: dict[int, list[int]] = {}
    for r in rows:
        by_root.setdefault(r["cluster_root"], []).append(r["doc_id"])
    for root, members in by_root.items():
        assert root == min(members)
        assert len(members) == len(set(members))
        assert all(s == len(members) for s in [r["cluster_size"] for r in rows if r["cluster_root"] == root])


def test_connected_components_on_long_chain(spark):
    """Min-label propagation walks the min label one hop per round, so
    a planted 17-node path (diameter 16) needs 16 propagation rounds
    plus the no-change round: with ``max_iters=64`` it lands the exact
    component labels, and with ``max_iters=8`` it must raise rather
    than return partial labels."""
    from pandamapreduce_spark.plans.training import connected_components

    n = 17
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)] + [(100, 101)], ["doc_a", "doc_b"]
    )
    labels = connected_components(chain, max_iters=64)
    want = sorted([(i, 0) for i in range(n)] + [(100, 100), (101, 100)])
    assert sorted((r["doc_id"], r["label"]) for r in labels.collect()) == want
    with pytest.raises(RuntimeError, match="did not converge in 8 rounds"):
        connected_components(chain, max_iters=8)


def test_context_chunks_cover_every_token(spark):
    """q102: per document, chunk starts step by STRIDE from 0, every
    token index lands in >=1 chunk, lengths are min(CHUNK, n-start),
    and rebuilding the doc from the non-overlapping chunk prefixes
    reproduces the tokenized text exactly."""
    from pandamapreduce_spark.plans.training import CHUNK_STRIDE, CHUNK_TOKENS, q102_context_chunks

    chunks = q102_context_chunks(spark, SF_DIR).toPandas()
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .toPandas()
        .set_index("doc_id")["text"]
    )
    assert len(chunks) > 0
    for doc_id, g in chunks.groupby("doc_id"):
        toks = docs[doc_id].split()
        n = len(toks)
        g = g.sort_values("chunk_idx")
        assert list(g["start_tok"]) == [i * CHUNK_STRIDE for i in range(len(g))]
        assert (g["chunk_len"] == g["start_tok"].map(lambda s: min(CHUNK_TOKENS, n - s))).all()
        # full coverage: last chunk reaches the last token
        assert g["start_tok"].iloc[-1] + g["chunk_len"].iloc[-1] == n
        # stride prefixes reassemble the document's token stream
        rebuilt = []
        for _, row in g.iterrows():
            rebuilt.extend(row["chunk_text"].split()[: CHUNK_STRIDE])
        assert rebuilt == toks


def test_quantization_error_bound(spark):
    """q115: absmax int8 rounding error is at most scale/2 per element,
    so per-vector RMSE <= scale/2; codes stay inside [-127, 127]."""
    from pandamapreduce_spark.plans import REGISTRY

    rows = REGISTRY["q115_embedding_quantize"].build(spark, SF_DIR).collect()
    assert rows, "empty quantization output"
    for r in rows:
        assert r.scale >= 0
        assert -127 * 64 <= r.qsum <= 127 * 64
        assert r.rmse <= r.scale / 2 + 1e-12, (r.vec_id, r.rmse, r.scale)


def test_dup_ngram_fraction_bounds(spark):
    """q113: a reported doc has 0 < dup_frac <= 1 and n_dup <= n_grams;
    fractions are exactly n_dup/n_grams."""
    from pandamapreduce_spark.plans import REGISTRY

    rows = REGISTRY["q113_dup_ngram_fraction"].build(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 0 < r.n_dup <= r.n_grams
        assert abs(r.dup_frac - r.n_dup / r.n_grams) < 1e-12


def test_incremental_neardup_sides(spark):
    """q116: every pair joins one delta doc (id % 5 == 4) to one base
    doc, never delta-delta or base-base, and passes the verify bar."""
    from pandamapreduce_spark.plans import REGISTRY
    from pandamapreduce_spark.plans.dedup import DELTA_MOD

    rows = REGISTRY["q116_incremental_neardup"].build(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.delta_id % DELTA_MOD == DELTA_MOD - 1
        assert r.base_id % DELTA_MOD != DELTA_MOD - 1
        assert r.jaccard >= 0.1


def test_dup_span_bounds(spark):
    """q118: a span is at least the gram size and never exceeds the
    doc's token count; the dup-gram count covers at least the longest
    run."""
    from pandamapreduce_spark.plans import REGISTRY
    from pandamapreduce_spark.plans.pipeline import SPAN_GRAM

    rows = REGISTRY["q118_dup_span"].build(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert r.max_dup_span_tokens >= SPAN_GRAM
        assert r.n_dup_grams >= r.max_dup_span_tokens - SPAN_GRAM + 1


def test_zorder_prunes_better_than_linear(spark):
    """The claim behind q125: z-order bucket boxes are bounded in BOTH
    dimensions, so a range probe on the NON-lead dimension prunes most
    buckets, where a linear (user_id-sorted) layout's boxes span the
    full value range and prune nothing. Build both layouts' zonemaps
    over the same rows and compare buckets-scanned for the same probe."""
    from pandamapreduce_spark.plans import REGISTRY

    zmap = REGISTRY["q125_zorder_layout"].build(spark, SF_DIR).toPandas()
    ev = (
        __import__("pandamapreduce_spark.catalog", fromlist=["load_table"])
        .load_table(spark, SF_DIR, "events")
        .select("user_id", "value")
        .toPandas()
    )
    # Linear layout: sort by the lead column only (intra-user rows stay
    # in arrival order, as a real ingest-sorted table would), cut into
    # the same number of equal-size buckets, collect min/max boxes.
    n_buckets = len(zmap)
    ev_sorted = ev.sort_values(["user_id"], kind="mergesort").reset_index(drop=True)
    ev_sorted["bucket"] = (ev_sorted.index * n_buckets) // len(ev_sorted)
    linmap = ev_sorted.groupby("bucket").agg(
        min_value=("value", "min"), max_value=("value", "max")
    )

    # Probe: a 10%-wide band of `value`, all users — the non-lead-dim
    # range query that kills single-column sorts.
    lo = ev["value"].quantile(0.45)
    hi = ev["value"].quantile(0.55)
    z_scanned = ((zmap["max_value"] >= lo) & (zmap["min_value"] <= hi)).sum()
    lin_scanned = ((linmap["max_value"] >= lo) & (linmap["min_value"] <= hi)).sum()
    assert lin_scanned >= 0.9 * n_buckets, (lin_scanned, n_buckets)  # linear prunes ~nothing
    assert z_scanned <= 0.5 * lin_scanned, (z_scanned, lin_scanned)  # z-order prunes most


def test_column_stats_drive_join_cardinality_estimates(spark):
    """q128's stats exist to feed a cost model; sanity-check they do:
    the textbook containment estimate |R ⋈ S| ≈ |R|·|S| / max(ndv_R,
    ndv_S) on the join key must land within 1.5× of the true join
    size for the fixture's FK joins (exact for a clean FK: every
    lineitem row matches exactly one order)."""
    from pyspark.sql import functions as F

    from pandamapreduce_spark.catalog import load_table

    li = load_table(spark, SF_DIR, "lineitem")
    o = load_table(spark, SF_DIR, "orders")

    def stats(df, col):
        r = df.agg(F.count(F.lit(1)).alias("n"), F.count_distinct(F.col(col)).alias("ndv")).first()
        return r["n"], r["ndv"]

    n_l, ndv_l = stats(li, "l_orderkey")
    n_o, ndv_o = stats(o, "o_orderkey")
    est = n_l * n_o / max(ndv_l, ndv_o)
    actual = li.join(o, li.l_orderkey == o.o_orderkey).count()
    assert actual > 0
    assert est / actual < 1.5 and actual / est < 1.5, (est, actual)


def test_no_bare_persist_outside_caching():
    # caching.py's contract: every persist/cache/localCheckpoint in the
    # engine goes through scoped_persist or caching.iterate so
    # release_caches can reclaim it. A bare call leaks blocks until
    # session end (q171 once shipped one). Plans never hand-roll a
    # loop's checkpoint/release either: their loops go through iterate.
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "pandamapreduce_spark"
    pat = re.compile(r"\.(persist|cache|localCheckpoint)\(")
    loop_pat = re.compile(r"\b(scoped_checkpoint|release_one)\b")
    offenders = []
    for p in sorted(root.rglob("*.py")):
        if p.name == "caching.py":
            continue
        in_plans = p.parent.name == "plans"
        for i, line in enumerate(p.read_text().splitlines(), 1):
            if line.lstrip().startswith("#"):
                continue
            if pat.search(line) or (in_plans and loop_pat.search(line)):
                offenders.append(f"{p.relative_to(root)}:{i}: {line.strip()}")
    assert not offenders, f"bare persist/cache or hand-rolled loop cut-over: {offenders}"


def test_plans_read_tables_through_catalog():
    # Every registry query reads its inputs through catalog.load_table,
    # which remembers each file's schema: a direct read under plans/
    # would run a schema-inference Spark job on every build.
    import pathlib
    import re

    root = pathlib.Path(__file__).resolve().parents[1] / "pandamapreduce_spark" / "plans"
    pat = re.compile(r"\bspark\.read\b|\.read\.parquet\(")
    offenders = [
        f"{p.name}:{i}: {line.strip()}"
        for p in sorted(root.rglob("*.py"))
        for i, line in enumerate(p.read_text().splitlines(), 1)
        if pat.search(line) and not line.lstrip().startswith("#")
    ]
    assert not offenders, f"direct table reads under plans/: {offenders}"


def test_delay_seconds_contract_sub_millisecond(spark, oracle):
    # q178/q182 contract (r6 verdict #1): delay seconds are the CEIL of
    # the exact MICROSECOND difference on both engines. The adversarial
    # case: start on an exact ms boundary, true delay 1.000001 s —
    # DuckDB's boundary-counted milliseconds ceil to 1 (the latent r6
    # oracle bug), the microsecond contract ceils to 2 on both sides.
    t1 = "2024-01-01 00:00:00.000000"
    tp = "2024-01-01 00:00:01.000001"
    got_spark = (
        spark.sql(
            f"SELECT cast(ceil(cast(unix_micros(timestamp'{tp}') - "
            f"unix_micros(timestamp'{t1}') as double) / 1000000.0) as bigint) AS d"
        )
        .collect()[0]
        .d
    )
    got_oracle = oracle.execute(
        f"SELECT cast(ceil(date_diff('microsecond', timestamp '{t1}', "
        f"timestamp '{tp}') / 1000000.0) as bigint)"
    ).fetchone()[0]
    old_ms_oracle = oracle.execute(
        f"SELECT cast(ceil(date_diff('millisecond', timestamp '{t1}', "
        f"timestamp '{tp}') / 1000.0) as bigint)"
    ).fetchone()[0]
    assert got_spark == got_oracle == 2
    assert old_ms_oracle == 1  # why the ms formula was latent-broken
