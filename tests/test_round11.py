"""Round-11 regression tests — pins for the optimization-round
reshapes, each comparing the shipped shape against the superseded one
on real fixture data (the r10 `_basket_pairs` equivalence discipline).

1. q171's shared-corpus threading: every ANN lane called with a
   persisted shared ``emb`` frame must return exactly the rows of its
   standalone (re-scan) form.
2. q121's single-evaluation HOF bloom probe must select exactly the
   candidate set of the superseded projection+filter shape (same md5
   positions, same bitmap), pinned on the real orders/lineitem fixture.
3. q136's adjacency-explode triangle count must equal the superseded
   oe⋈na⋈nb join shape on the fixture graph.
4. label_prop connected components (union+agg round shape) must land
   the same fixpoint as a literal transcription of the old
   join+agg+left-join round on fixture-derived edges (q94's DuckDB
   oracle pins the labels themselves in test_oracle_parity).
"""

from __future__ import annotations

from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def test_q171_shared_emb_equals_standalone_lanes(spark):
    from pandamapreduce_spark.caching import release_caches, scoped_persist
    from pandamapreduce_spark.catalog import load_table
    from pandamapreduce_spark.plans.ml import q55_ivf_knn, q77_ivf_nprobe
    from pandamapreduce_spark.plans.similarity import (
        q40_knn_bruteforce,
        q42_lsh_knn,
        q74_multiprobe_lsh_knn,
    )

    emb = scoped_persist(
        load_table(spark, SF_DIR, "embeddings", spread=True).select("vec_id", "embedding")
    )
    seeds = [
        (int(r.vec_id), [float(v) for v in r.embedding])
        for r in emb.where(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    lanes = [
        (q40_knn_bruteforce, {"emb": emb}),
        (q42_lsh_knn, {"emb": emb}),
        (q74_multiprobe_lsh_knn, {"emb": emb}),
        (q55_ivf_knn, {"emb": emb, "seeds": seeds}),
        (q77_ivf_nprobe, {"emb": emb, "seeds": seeds}),
    ]
    for fn, kwargs in lanes:
        shared = sorted(tuple(r) for r in fn(spark, SF_DIR, **kwargs).collect())
        standalone = sorted(tuple(r) for r in fn(spark, SF_DIR).collect())
        assert shared == standalone, fn.__name__
        assert shared  # non-vacuous
    release_caches()


def test_q121_hof_probe_equals_projection_probe(spark):
    """The shipped probe (md5 digest bound once as a lambda variable)
    must pass exactly the rows of the superseded shape (digest + BF_K
    position columns projected, then per-position element_at filters)
    — same bitmap, same positions, so the candidate id MULTISET over
    the fixture lineitem must be identical."""
    from pandamapreduce_spark.catalog import load_table
    from pandamapreduce_spark.plans.relational import (
        BF_K,
        BF_M,
        BF_PRICE,
        _bf_key_spark_sql,
        _bf_pos_spark_sql,
    )

    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    keys = orders.where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > BF_PRICE)
    ).select("o_orderkey")
    khash = keys.select(F.expr(_bf_key_spark_sql("o_orderkey")).alias("h"))
    bits = khash.select(
        F.explode(F.array(*[F.expr(_bf_pos_spark_sql(i, "h")) for i in range(BF_K)])).alias("pos")
    )
    bitmap = (
        bits.select(
            (F.col("pos") / 64).cast("int").alias("w"),
            F.expr("shiftleft(1L, cast(pmod(pos, 64) as int))").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(b)").alias("bits"))
    )
    words = {int(r["w"]): int(r["bits"]) for r in bitmap.collect()}
    barr_vals = [words.get(w, 0) for w in range(BF_M // 64)]

    # shipped shape (mirrors q121_bloom_prune_join)
    from pandamapreduce_spark.plans.relational import BF_BITS

    arr_sql = "array(" + ",".join(f"{v}L" for v in barr_vals) + ")"
    checks = " AND ".join(
        f"(element_at(B, cast(pmod(shiftright(h, {BF_BITS * i}), {BF_M}) / 64 as int) + 1)"
        f" & shiftleft(1L, cast(pmod(pmod(shiftright(h, {BF_BITS * i}), {BF_M}), 64) as int))) != 0L"
        for i in range(BF_K)
    )
    new_pass = F.expr(
        f"exists(array({_bf_key_spark_sql('l_orderkey')}),"
        f" h -> exists(array({arr_sql}), B -> {checks}))"
    )
    new_ids = sorted(r[0] for r in li.where(new_pass).select("l_orderkey").collect())

    # superseded shape (r10's projection + per-position filters)
    barr = F.lit(barr_vals)
    lhash = li.withColumn("_bfh", F.expr(_bf_key_spark_sql("l_orderkey"))).select(
        "*", *[F.expr(_bf_pos_spark_sql(i, "_bfh")).alias(f"_bp{i}") for i in range(BF_K)]
    )
    hits = []
    for i in range(BF_K):
        word = (F.col(f"_bp{i}") / F.lit(64)).cast("int") + F.lit(1)
        mask = F.expr(f"shiftleft(1L, cast(pmod(_bp{i}, 64) as int))")
        hits.append(F.element_at(barr, word).bitwiseAND(mask) != F.lit(0))
    old_pass = hits[0]
    for h in hits[1:]:
        old_pass = old_pass & h
    old_ids = sorted(r[0] for r in lhash.where(old_pass).select("l_orderkey").collect())

    assert new_ids == old_ids
    assert new_ids  # non-vacuous: the fixture plants passing keys


def test_q136_adjacency_explode_equals_join_shape(spark):
    """The shipped edge-iterator (adjacency explode) must produce the
    same census row as the superseded oe⋈na⋈nb join shape on the
    fixture's co-purchase graph."""
    from pandamapreduce_spark.caching import release_caches, scoped_persist
    from pandamapreduce_spark.plans.warehouse import (
        _PAIR_EXPLODE,
        _baskets,
        q136_triangle_count,
    )

    new_row = q136_triangle_count(spark, SF_DIR).collect()[0].asDict()

    e = scoped_persist(
        _baskets(spark, SF_DIR)
        .select(F.explode(F.expr(_PAIR_EXPLODE)).alias("p"))
        .select(F.col("p.a").alias("u"), F.col("p.b").alias("v"))
        .distinct()
    )
    deg = scoped_persist(
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    fwd = (F.col("du") < F.col("dv")) | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oe = scoped_persist(
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
        )
    )
    adj = oe.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
    na = adj.select(F.col("src").alias("u"), F.col("nbrs").alias("na"))
    nb = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nb"))
    old_tri = (
        oe.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .join(na, "u")
        .join(nb, "v", "left")
        .select(
            F.size(F.array_intersect(F.col("na"), F.coalesce(F.col("nb"), F.array()))).alias("t")
        )
        .agg(F.sum("t").cast("bigint").alias("tri"))
        .collect()[0]["tri"]
    )
    release_caches()
    assert new_row["n_triangles"] == old_tri
    assert new_row["n_triangles"] > 0  # non-vacuous: the fixture plants triangles


def test_label_prop_union_agg_round_equals_old_join_round(spark):
    """The union+agg label-prop round must land the same fixpoint as a
    literal transcription of the superseded join+agg+left-join round,
    on q33-derived fixture edges."""
    from pandamapreduce_spark.plans.dedup import q33_neardup_verified
    from pandamapreduce_spark.plans.training import connected_components

    edges = (
        q33_neardup_verified(spark, SF_DIR)
        .select(F.col("doc_a"), F.col("doc_b"))
        .localCheckpoint()
    )
    new_labels = connected_components(edges)
    got = sorted((r["doc_id"], r["label"]) for r in new_labels.collect())

    # superseded round shape, run to the same fixpoint
    sym = edges.union(edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b")))
    e = sym.where(F.col("doc_a") != F.col("doc_b")).distinct().localCheckpoint()
    labels = (
        e.select(F.col("doc_a").alias("doc_id"))
        .distinct()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint()
    )
    for _ in range(20):
        neigh = (
            e.join(labels, e["doc_b"] == labels["doc_id"])
            .groupBy("doc_a")
            .agg(F.min("label").alias("nmin"))
        )
        new = (
            labels.join(neigh, labels["doc_id"] == neigh["doc_a"], "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce(F.col("nmin"), F.col("label"))).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    want = sorted((r["doc_id"], r["label"]) for r in labels.collect())
    assert got == want
    assert got  # non-vacuous: the fixture plants near-dup clusters
