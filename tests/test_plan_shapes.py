"""Physical-plan-shape tests: the 100 TB posture, enforced.

Each assertion encodes a scale property the engine's plans must keep:
filters/projections reaching the parquet scan, small dims broadcast,
top-k compiling to TakeOrdered (not a global sort), partial
aggregation before the exchange, whole-stage codegen in the hot path.
A regression here is a plan that still passes correctness but would
fall over at 1000× the data.
"""

from __future__ import annotations

import pytest

from pandamapreduce_spark.plans import REGISTRY

from tests.conftest import SF_DIR


def plan_of(spark, name: str) -> str:
    df = REGISTRY[name].build(spark, SF_DIR)
    df.collect()  # finalize the adaptive plan (AQE) before inspecting
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize(
    "name, predicates",
    [
        ("q02_filter_project", ()),
        # timestamp literals cast in the builder still reach the scans
        ("q03_top_orders", ("GreaterThan(l_shipdate,1998-01-01T00:00)", "LessThan(o_orderdate,1998-01-01T00:00)")),
    ],
    ids=["q02_filter_project", "q03_top_orders"],
)
def test_filter_pushdown_reaches_scan(spark, name, predicates):
    plan = plan_of(spark, name)
    assert "PushedFilters: [" in plan
    pushed = [part.split("]", 1)[0] for part in plan.split("PushedFilters: [")[1:]]
    # at least one real predicate pushed (not an empty list)
    assert pushed[0].strip(), plan
    for pred in predicates:
        assert any(pred in p for p in pushed), (pred, pushed)


def test_column_pruning_reaches_scan(spark):
    plan = plan_of(spark, "q02_filter_project")
    schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    # only the 5 needed columns read, not all 11 lineitem columns
    assert "l_returnflag" not in schema and "l_tax" not in schema, schema


def test_star_join_broadcasts_dims(spark):
    plan = plan_of(spark, "q05_revenue_by_nation")
    assert "BroadcastHashJoin" in plan


def test_unhinted_dims_fall_back_to_shuffle_join(spark):
    """customer/orders carry NO broadcast hint (they grow with SF):
    with the threshold shrunk to zero, the plan must degrade to
    shuffle joins instead of forcing a broadcast that would OOM at
    100×. nation keeps its hint (fixed 25 rows at any SF)."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        for name in ("q03_top_orders", "q05_revenue_by_nation"):
            df = REGISTRY[name].build(spark, SF_DIR)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        # the explicit nation hint still broadcasts
        assert "BroadcastHashJoin" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_topk_uses_take_ordered(spark):
    plan = plan_of(spark, "q08_orderby_limit")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Sort ") == 0  # no global sort operator


def test_partial_aggregation_before_shuffle(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    # partial_ hash aggregate upstream of the exchange (map-side combine)
    assert "partial_" in plan.lower() or "HashAggregate" in plan
    assert plan.index("Exchange") > plan.rindex("Scan parquet") or "partial" in plan.lower()


def test_wholestage_codegen_in_hot_path(spark):
    plan = plan_of(spark, "q01_pricing_summary")
    # codegen'd operators print as "*(n) Op" in the final plan string
    assert "WholeStageCodegen" in plan or "*(" in plan


def test_window_topk_has_group_limit(spark):
    # Spark 3.5+ inserts WindowGroupLimit for rank<=k filters: partial
    # top-k before the shuffle. If this disappears, per-group top-k
    # ships whole groups.
    plan = plan_of(spark, "q10_window_topk_per_group")
    assert "WindowGroupLimit" in plan, plan


def test_semi_join_stays_semi(spark):
    plan = plan_of(spark, "q04_order_priority")
    assert "LeftSemi" in plan


def test_anti_join_stays_anti(spark):
    plan = plan_of(spark, "q16_anti_join")
    assert "LeftAnti" in plan


def test_lsh_join_is_equi_not_cross(spark):
    plan = plan_of(spark, "q32_minhash_lsh_candidates")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan


def test_multimodal_ops_are_narrow(spark):
    """Frame sampling / resize are 1:N / 1:1 Arrow map operators — the
    physical plan must contain NO Exchange (nothing shuffles payload
    bytes)."""
    from pandamapreduce_spark.operators.multimodal import (
        attach_fake_payload,
        resize_images,
        sample_frames,
    )
    from pandamapreduce_spark.catalog import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, SF_DIR, "documents")
    for df in (
        sample_frames(attach_fake_payload(docs, "video"), num_frames=2),
        resize_images(attach_fake_payload(docs, "image"), width=8, height=8),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
    assert sample_frames(attach_fake_payload(docs, "video"), num_frames=2).count() == 2 * docs.count()


def test_exact_percentiles_use_rank_selection(spark):
    """q28 must compute exact percentiles via the window-sort rank
    selection (spills, unbounded group size) — NOT the percentile()
    aggregate, which buffers each whole group in executor memory.
    The groupBy must reuse the window's hash partitioning (a second
    hash exchange on the same key would be pure waste)."""
    plan = plan_of(spark, "q28_percentiles")
    assert "Window" in plan
    assert "percentile" not in plan.lower()
    final = plan.split("== Initial Plan ==")[0]  # AQE echoes the pre-adaptive plan below
    assert final.count("Exchange hashpartitioning") == 1, final


def test_contamination_broadcasts_eval_grams(spark):
    """q88: the eval n-gram set must broadcast (benchmarks are small);
    a shuffle of train-side n-gram strings would be the scale bug."""
    plan = plan_of(spark, "q88_contamination")
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, final
    assert "SortMergeJoin" not in final, final


def test_hybrid_neardup_no_cartesian(spark):
    """q87: both detector arms must stay keyed joins (band bucket /
    label block) — never a cross product."""
    plan = plan_of(spark, "q87_hybrid_neardup")
    assert "CartesianProduct" not in plan, plan


def test_hybrid_ann_blocks_on_bucket_not_label(spark):
    """q87b: the semantic arm must equi-join on the sign-LSH bucket
    key — no label self-join, no cross product, so no data-dependent
    skew key survives in the plan."""
    plan = plan_of(spark, "q87b_hybrid_neardup_ann")
    assert "CartesianProduct" not in plan, plan
    assert "bucket" in plan, plan
    # the embeddings self-join must not key on the label column
    assert "label#" not in plan, plan


def test_pii_scrub_is_map_only(spark):
    """q98: regexp redaction + counts must stay narrow JVM ops — no
    hash shuffle, no Python eval; the only exchange is the
    presentational output sort."""
    plan = plan_of(spark, "q98_pii_scrub")
    assert "Exchange hashpartitioning" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_temperature_mixture_broadcasts_rates(spark):
    """q99: the per-source rate table joins back to the corpus as a
    broadcast — the fact side must never shuffle for the join."""
    plan = plan_of(spark, "q99_temperature_mixture")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_multiprobe_broadcasts_query_side(spark):
    """q74: the exploded probe set (queries × 9) broadcasts; the
    corpus is never replicated or cross-joined."""
    plan = plan_of(spark, "q74_multiprobe_lsh_knn")
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_train_split_prunes_scan(spark):
    """q85: the split assignment needs only doc_id + text — the scan
    must not read lang/source/n_chars."""
    plan = plan_of(spark, "q85_train_split")
    schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "lang" not in schema and "n_chars" not in schema, schema


def test_repetition_score_is_map_only(spark):
    """q93 is pure per-row array math: the only exchange allowed is
    the final presentation orderBy — no aggregation or join shuffle."""
    plan = plan_of(spark, "q93_repetition_score")
    assert "Join" not in plan, plan
    assert plan.count("HashAggregate") == 0, plan


def test_boilerplate_blocks_shuffles_hashes_only(spark):
    """q92's exchanges carry (doc_id, md5) pairs, never document
    bodies, and the shared-hash filter joins as a semi join."""
    plan = plan_of(spark, "q92_boilerplate_blocks")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_context_chunks_is_map_only(spark):
    """q102 fans each doc out to its chunk windows in the scanning
    task: no join, no aggregation, no Python eval — the only exchange
    is the presentational orderBy, and the scan reads just
    doc_id + text."""
    plan = plan_of(spark, "q102_context_chunks")
    assert "Join" not in plan, plan
    assert "HashAggregate" not in plan, plan
    assert "Exchange hashpartitioning" not in plan, plan
    assert "EvalPython" not in plan, plan
    schema = plan.split("ReadSchema: ", 1)[1].split("\n", 1)[0]
    assert "lang" not in schema and "n_chars" not in schema, schema


def test_dedup_keep_best_prunes_corpus_scan(spark):
    """q103 joins the (small) cluster-member table against the corpus:
    the corpus side must be pruned to (doc_id, n_chars) — no second
    full-text read — and nothing may degenerate to a cross join."""
    plan = plan_of(spark, "q103_dedup_keep_best")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan
    assert "struct<doc_id:bigint,n_chars:bigint>" in plan, plan


def test_final_corpus_never_shuffles_bodies(spark):
    """q106 (the full pipeline materialization): no cartesian anywhere,
    and no exchange may carry document text — exact dedup ships
    (hash, doc_id), LSH ships (band, signature), contamination ships
    (doc_id, counts)."""
    plan = plan_of(spark, "q106_final_corpus")
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line


def test_full_outer_join_never_broadcasts(spark):
    """q108: a full outer join must keep unmatched rows of BOTH sides,
    so neither side may be broadcast — the plan has to be a shuffle
    sort-merge join, which is also the right 100 TB plan."""
    plan = plan_of(spark, "q108_full_outer_join")
    assert "FullOuter" in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
    assert "BroadcastHashJoin" not in plan, plan


def test_higher_order_funcs_map_only(spark):
    """q109: every metric is a codegen'd array expression — the only
    exchange permitted is the final presentation sort."""
    plan = plan_of(spark, "q109_higher_order_funcs")
    body = plan.split("rangepartitioning", 1)[0]  # up to the ORDER BY
    assert "Exchange hashpartitioning" not in body, plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, plan


def test_source_cap_single_shuffle(spark):
    """q110: exactly one hash exchange (the per-source window) plus the
    presentation sort, and Spark's two-phase WindowGroupLimit (partial
    top-K before the shuffle) must engage — that's what keeps a hot
    source from shipping all its rows to one reducer."""
    plan = plan_of(spark, "q110_source_cap")
    final = plan.split("== Initial Plan ==", 1)[0]  # AQE prints both plans
    assert final.count("Exchange hashpartitioning") == 1, plan
    assert final.count("WindowGroupLimit") == 2, plan  # Partial + Final


def test_gap_fill_no_cartesian(spark):
    """q112: the grid join is an equi-join on (event_type, hour) —
    a nested-loop/cartesian here would explode at scale."""
    plan = plan_of(spark, "q112_gap_fill")
    assert "CartesianProduct" not in plan and "BroadcastNestedLoopJoin" not in plan, plan


def test_dup_ngram_fraction_hash_only_shuffles(spark):
    """q113: both shuffles move 8-byte gram hashes, never text; the
    dfreq side comes back as a broadcast; final top-k is TakeOrdered."""
    plan = plan_of(spark, "q113_dup_ngram_fraction")
    final = plan.split("== Initial Plan ==", 1)[0]
    for line in final.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, line
    assert "TakeOrderedAndProject" in final, plan
    assert "EvalPython" not in final, plan


def test_bm25_filters_before_shuffle(spark):
    """q114: the query-term isin filter must sit under the first
    exchange (postings, not corpus, get shuffled) and the idf/stats
    sides must broadcast."""
    plan = plan_of(spark, "q114_bm25_search")
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "BroadcastHashJoin" in final, plan
    assert "TakeOrderedAndProject" in final, plan
    # the term filter is a map-side IN before any aggregation
    assert "term#" in final and " IN (" in final.replace("IN(", " IN ("), plan
    assert "EvalPython" not in final, plan


def test_embedding_quantize_map_only(spark):
    """q115: int8 quantization is pure Catalyst array math — no hash
    exchange, no Python; only the presentation sort may shuffle."""
    plan = plan_of(spark, "q115_embedding_quantize")
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "Exchange hashpartitioning" not in final, plan
    assert "EvalPython" not in final, plan


def test_incremental_neardup_no_base_self_join(spark):
    """q116: the bucket join must be delta-vs-base equi-join on
    (band, key) — no cartesian, no nested-loop; that's what keeps an
    increment O(|delta| + matched buckets) instead of O(|corpus|^2)."""
    plan = plan_of(spark, "q116_incremental_neardup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_dup_span_shuffles_hashes_only(spark):
    """q118: positional grams shuffle as (doc_id, p, 8-byte hash) —
    token text never crosses an exchange; the islands window
    partitions by doc_id (local sorts, no global sort)."""
    plan = plan_of(spark, "q118_dup_span")
    final = plan.split("== Initial Plan ==", 1)[0]
    for line in final.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "toks#" not in line and "text#" not in line, line
    assert "TakeOrderedAndProject" in final, plan


def test_collocations_broadcast_vocab_joins(spark):
    """q119: the unigram-count joins must not cartesian; corpus total
    is a one-row broadcast; final top-k is TakeOrdered."""
    plan = plan_of(spark, "q119_collocations")
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "CartesianProduct" not in final, plan
    assert "TakeOrderedAndProject" in final, plan


def test_fuzzy_join_caps_blocks_and_never_shuffles_bodies(spark):
    """q120: the levenshtein verify runs only on capped blocks; no
    CartesianProduct anywhere, and no exchange carries document text —
    only the fixed-width prefixes travel."""
    plan = plan_of(spark, "q120_fuzzy_join")
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "CartesianProduct" not in final, plan
    for line in final.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text#" not in line, line


def test_bloom_prune_filters_fact_scan_map_side(spark):
    """q121: the bloom membership test is a codegen'd Filter over the
    lineitem scan probing an inlined array-literal bitmap (the
    InjectRuntimeFilter collect-and-reuse shape) — the fact side must
    reach its aggregation partials without ANY hash exchange (the
    exact join is a broadcast)."""
    plan = plan_of(spark, "q121_bloom_prune_join")
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "element_at" in final, plan  # the bitmap probe exists...
    assert "BroadcastHashJoin" in final, plan  # exact join broadcasts
    assert "BroadcastNestedLoopJoin" not in final, plan  # no interpreted-path join
    # ...and no exchange ships lineitem columns (only the final
    # per-returnflag partial-agg rows and the tiny build side shuffle)
    for line in final.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "l_orderkey#" not in line and "l_extendedprice#" not in line, line


def test_bloom_prune_no_false_negatives(spark):
    """q121 soundness invariant: a bloom filter may overadmit (FPs,
    visible as n_bloom_pass > n_items) but must NEVER reject a true
    match — n_items must equal the exact join's per-flag counts."""
    from pyspark.sql import functions as F

    from pandamapreduce_spark.catalog import load_table
    from pandamapreduce_spark.plans.relational import BF_PRICE

    rows = {r.l_returnflag: r for r in REGISTRY["q121_bloom_prune_join"].build(spark, SF_DIR).collect()}
    orders = load_table(spark, SF_DIR, "orders")
    li = load_table(spark, SF_DIR, "lineitem")
    keys = orders.where(
        (F.col("o_orderpriority") == "1-URGENT") & (F.col("o_totalprice") > BF_PRICE)
    ).select("o_orderkey")
    exact = {
        r.l_returnflag: r.n
        for r in li.join(keys, li.l_orderkey == keys.o_orderkey)
        .groupBy("l_returnflag")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for flag, r in rows.items():
        assert r.n_items == exact.get(flag, 0), (flag, r)
        assert r.n_bloom_pass >= r.n_items, (flag, r)


def test_q121_hof_probe_equals_projection_probe(spark):
    """The shipped probe (md5 digest bound once as a lambda variable)
    must pass exactly the rows of the superseded shape (digest + BF_K
    position columns projected, then per-position element_at filters)
    — same bitmap, same positions, so the candidate id MULTISET over
    the fixture lineitem must be identical."""
    from pyspark.sql import functions as F

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

    # superseded shape (projection + per-position filters)
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


def test_fuzzy_join_edit_distance_lower_bound(spark):
    """q120 invariant: reported edit distance is a true levenshtein —
    never below the length difference of the two prefixes."""
    from pyspark.sql import functions as F

    from pandamapreduce_spark.catalog import load_table
    from pandamapreduce_spark.plans.similarity import FUZZY_PREFIX

    out = REGISTRY["q120_fuzzy_join"].build(spark, SF_DIR)
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", F.substring("text", 1, FUZZY_PREFIX).alias("p")
    )
    j = (
        out.join(docs.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("p", "pa"), "doc_a")
        .join(docs.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("p", "pb"), "doc_b")
        .select("edit_dist", (F.abs(F.length("pa") - F.length("pb"))).alias("len_diff"))
    )
    bad = j.where(F.col("edit_dist") < F.col("len_diff")).count()
    assert bad == 0


def test_corpus_merge_never_shuffles_bodies(spark):
    """q124 (incremental MERGE): the near-dup discovery is q116's
    bucket join (its shape is asserted by the q116/LSH tests); the
    merge layer on top may join only id-keyed 48-byte rows
    (doc_id, n_chars, md5s) — no KEY-partitioned exchange carries
    document text (the round-robin REPARTITION_BY_NUM that spreads
    the single-file scan across cores is scan-side and allowed), and
    nothing degenerates to a cartesian."""
    plan = plan_of(spark, "q124_corpus_merge")
    assert "CartesianProduct" not in plan, plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line or "Exchange rangepartitioning" in line:
            assert "text#" not in line, line


def test_pagerank_iterates_on_cached_edges_no_cartesian(spark):
    """q129: the expensive fact-table join derives the edge list ONCE
    (persisted); each of the 3 iterations must read the in-memory edge
    relation, not re-derive it — the executed plan may scan the
    lineitem parquet at most once. The dangling-mass scalar attaches
    as a 1-row broadcast, never a CartesianProduct."""
    plan = plan_of(spark, "q129_pagerank")
    assert "CartesianProduct" not in plan, plan
    # each iteration's inflow join must read the cached edge relation
    # (lineitem FileScan lines in the text are the InMemoryRelation
    # printing its own build plan at every reference, not real scans)
    assert plan.count("InMemoryTableScan") >= 3, "iterations not hitting the edge cache"


def test_scd2_windows_share_one_exchange(spark):
    """q130: both window passes partition by o_custkey — Catalyst must
    plan ONE hash exchange on the customer key, not one per window."""
    # count only the AQE final plan (the printout appends the initial
    # plan as a second copy of the whole tree)
    plan = plan_of(spark, "q130_scd2_history").split("== Initial Plan ==")[0]
    n = sum(
        1
        for ln in plan.splitlines()
        if "Exchange hashpartitioning(o_custkey" in ln
    )
    assert n == 1, plan


def test_copurchase_pair_join_is_equi_no_cartesian(spark):
    """q131: the within-basket pair expansion must be an equi-join on
    the order key (pk inequality as a join filter) — a cross product
    here is the quadratic catastrophe the basket cap exists to bound."""
    plan = plan_of(spark, "q131_copurchase")
    assert "CartesianProduct" not in plan, plan
    assert (
        "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    ), plan


def test_snapshot_diff_shuffles_fingerprints_only(spark):
    """q134: the md5 fingerprint is computed below the full-outer join,
    so no exchange carries the payload columns — only (key, 32-char
    fp) crosses the wire regardless of table width."""
    plan = plan_of(spark, "q134_snapshot_diff")
    for ln in plan.splitlines():
        if "Exchange hashpartitioning" in ln or "Exchange rangepartitioning" in ln:
            assert "o_orderpriority#" not in ln and "o_orderstatus#" not in ln, ln


def test_triangle_wedge_join_is_equi_no_cartesian(spark):
    """q136: wedge enumeration must equi-join oriented edges on src
    (the degree-order comparison rides along as a join filter); the
    closing edge probe equi-joins on (src, dst)."""
    plan = plan_of(spark, "q136_triangle_count")
    assert "CartesianProduct" not in plan, plan


def test_interval_join_is_binned_equi_not_nlj(spark):
    """q137: the overlap join must plan as an equi-join on (org, bin)
    with the overlap predicate as a residual filter — the naive θ-join
    formulation would be a BroadcastNestedLoopJoin, quadratic per org."""
    plan = plan_of(spark, "q137_interval_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert (
        "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan
    ), plan


def test_set_similarity_join_is_prefix_equi(spark):
    """q147: candidate generation must equi-join on the prefix token
    (never a cross product), and the verify phase joins candidates
    only — the exact-recall guarantee must not come from an all-pairs
    plan."""
    plan = plan_of(spark, "q147_set_similarity_join")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_hybrid_rrf_windows_after_topk_cut(spark):
    """q148: both per-retriever rank windows must run AFTER the
    RRF_POOL top-k cut (TakeOrderedAndProject), so the single-partition
    window input is constant-bounded; no CartesianProduct anywhere (the
    only NLJ is the documented 1-row query-vector/stats attaches)."""
    plan = plan_of(spark, "q148_hybrid_rrf")
    final = plan.split("== Initial Plan ==", 1)[0]
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in final, plan
    assert "EvalPython" not in final, plan


def test_ohlc_single_hash_exchange(spark):
    """q149: both rank windows and the bar aggregate must share ONE
    (event_type, bar_hour) hash exchange — the groupBy reuses the
    window partitioning; JSON parse stays map-side (no Python)."""
    plan = plan_of(spark, "q149_ohlc_bars")
    final = plan.split("== Initial Plan ==", 1)[0]
    assert final.count("Exchange hashpartitioning") == 1, plan
    assert "EvalPython" not in final, plan


def test_compaction_plan_single_exchange(spark):
    """q150: the prefix-sum window and the per-task aggregate must
    share ONE (source) hash exchange; only inventory triples flow —
    the text column must never reach an exchange."""
    plan = plan_of(spark, "q150_compaction_plan")
    final = plan.split("== Initial Plan ==", 1)[0]
    assert final.count("Exchange hashpartitioning") == 1, plan
    for line in final.splitlines():
        if "Exchange" in line:
            assert "text#" not in line, line
    assert "EvalPython" not in final, plan


def test_skew_profile_one_hash_exchange_per_table(spark):
    """q151: per profiled key, ONE (key) hash exchange builds the
    cached counts; everything downstream is single-row aggregates and
    broadcast attaches — nothing wider than (key, count) shuffles.
    The tree re-prints each cached build plan (final AND initial AQE
    copies) at every InMemoryTableScan reference, so exchanges are
    deduped by their partitioning KEY — re-prints repeat the same key,
    a rogue extra shuffle would introduce a new one."""
    plan = plan_of(spark, "q151_skew_profile")
    keys = set()
    for line in plan.split("\n"):
        if "Exchange hashpartitioning(" in line:
            key = line.split("Exchange hashpartitioning(", 1)[1].split("#", 1)[0]
            keys.add(key)
    # exactly one hash shuffle per SKEW_PROFILES entry, on the key
    assert keys == {"o_custkey", "l_suppkey"}, plan
    assert "EvalPython" not in plan, plan


def test_ewma_exchanges_carry_daily_cells_only(spark):
    """q152: the partial agg must compress order rows to daily cells
    BEFORE any exchange — at scale the fact table never shuffles, only
    (prio, day, cents) cells (bounded by the calendar); the HOF dot
    product stays in codegen (no EvalPython)."""
    plan = plan_of(spark, "q152_ewma")
    for line in plan.split("\n"):
        if "Exchange" in line:
            assert "o_totalprice" not in line, line
    assert "partial_sum" in plan, plan
    assert "EvalPython" not in plan, plan


def test_benford_audit_single_digit_exchange(spark):
    """q153: one 9-key hash exchange (map-side partial agg first), the
    1-row total broadcast back — the fact table's amounts never
    shuffle, no EvalPython."""
    plan = plan_of(spark, "q153_benford_audit")
    final = plan.split("== Initial Plan ==")[0]
    assert "partial_count" in final, final
    assert "BroadcastNestedLoopJoin" in final or "BroadcastHashJoin" in final, final
    for line in final.split("\n"):
        if "Exchange hashpartitioning" in line:
            assert "digit" in line, line
    assert "EvalPython" not in final, final


def test_source_drift_no_text_in_exchanges(spark):
    """q154: the contingency counts compress map-side — document text
    never crosses an exchange; the deviation join is token-keyed (no
    cartesian), margins attach by broadcast; no EvalPython."""
    plan = plan_of(spark, "q154_source_drift")
    for line in plan.split("\n"):
        if "Exchange" in line:
            assert "text#" not in line, line
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_join_forecast_shuffles_histograms_only(spark):
    """q155: the forecast must never shuffle fact rows — every hash
    exchange carries a (key, partial count) histogram row; the
    histogram equi-join is never a cartesian; no EvalPython."""
    plan = plan_of(spark, "q155_join_forecast")
    keys = set()
    for line in plan.split("\n"):
        if "Exchange hashpartitioning(" in line:
            keys.add(line.split("Exchange hashpartitioning(", 1)[1].split("#", 1)[0])
            assert "o_totalprice" not in line and "l_extendedprice" not in line, line
    assert keys <= {"o_custkey", "c_custkey", "l_suppkey", "s_suppkey", "k"}, keys
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_anti_entropy_exchanges_carry_summaries_only(spark):
    """q156: the per-replica fold must partial-aggregate map-side (the
    exchange carries <= AE_BUCKETS (bucket, count, xor) rows per task,
    never row payloads) and the replica compare joins two summary
    relations; no EvalPython."""
    plan = plan_of(spark, "q156_anti_entropy")
    assert "partial_bit_xor" in plan or "partial_count" in plan, plan
    for line in plan.split("\n"):
        if "Exchange" in line:
            assert "o_orderpriority" not in line and "o_totalprice" not in line, line
    assert "EvalPython" not in plan, plan


def test_cumulative_uniques_shuffles_keys_not_payloads(spark):
    """q158: the event table reduces to (type,user)/(type,day) pairs
    before any exchange — props/value payloads never shuffle; the
    running sum runs over the calendar-bounded day grid; no
    EvalPython."""
    plan = plan_of(spark, "q158_cumulative_uniques")
    for line in plan.split("\n"):
        if "Exchange" in line:
            assert "props" not in line and "value#" not in line, line
    assert "EvalPython" not in plan, plan


def test_independence_audit_exchanges_carry_cells_only(spark):
    """q159: one (prio,status) cell exchange; margins broadcast back;
    no payload columns in any exchange; no EvalPython."""
    plan = plan_of(spark, "q159_independence_audit")
    for line in plan.split("\n"):
        if "Exchange" in line:
            assert "o_totalprice" not in line and "o_custkey" not in line, line
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan, plan
    assert "EvalPython" not in plan, plan


def test_audience_overlap_joins_words_not_users(spark):
    """q160: the pair intersection must join the compact (word, bits)
    bitmap relations — after the bitmap fold no exchange carries
    user_id; sizes broadcast back; no cartesian, no EvalPython."""
    plan = plan_of(spark, "q160_audience_overlap")
    assert "bit_count" in plan and ("bit_or" in plan or "partial_bit_or" in plan), plan
    assert "CartesianProduct" not in plan, plan
    assert "EvalPython" not in plan, plan


def test_linear_interpolation_single_sort_serves_both_windows(spark):
    """q161: the forward and backward ignorenulls windows share one
    (event_type) partitioning + one ascending sort — no second
    exchange or re-sort for the descending context; no EvalPython."""
    plan = plan_of(spark, "q161_linear_interpolate")
    # no persisted subtree in this plan, so the single
    # "== Initial Plan ==" marker is the AQE echo — everything before
    # it is the final plan (q151's cached-build caveat doesn't apply)
    final = plan.split("== Initial Plan ==", 1)[0]
    import re

    # event_type as the ONLY partition key (the hourly-agg exchange
    # keys on (event_type, grouping-expr) and must not match)
    win_ex = [
        line
        for line in final.split("\n")
        if re.search(r"hashpartitioning\(event_type#\d+, \d+\)", line)
    ]
    # exactly one event_type exchange feeds the window stage (the
    # grid/agg exchanges key on (event_type, hour) / grouping exprs)
    assert len(win_ex) == 1, final
    # and exactly one Window operator computes all four ignorenulls
    # contexts off that single sort
    assert final.count("Window [") == 1, final
    assert "EvalPython" not in final, final


def test_quantile_normalize_no_single_partition_global_sort(spark):
    """q163: the global order-statistic relation must come from the
    distributed-rank pattern — a rangepartitioning exchange over >1
    partition — never a single-partition window (the q100 guarantee);
    no EvalPython."""
    plan = plan_of(spark, "q163_quantile_normalize")
    assert "rangepartitioning" in plan, plan
    # no Window spec with an empty partition list over the full corpus:
    # every windowspecdefinition must name a partition column
    # (single-partition AGGREGATES are fine; global-sort windows are
    # the scale bug this guards against)
    final = plan.split("== Initial Plan ==", 1)[0]
    for seg in final.split("windowspecdefinition(")[1:]:
        assert seg.split(",", 1)[0].strip() != "", seg[:80]
        head = seg.split(" ASC", 1)[0]
        assert "#" in head, seg[:120]  # partitioned by a real column
    assert "EvalPython" not in final, final


# --- round-6 lanes ---------------------------------------------------------


def test_attribution_single_user_exchange(spark):
    """q167's window + final agg must reuse ONE user_id hash exchange
    for the window; the channel rollup adds exactly one more (the
    |event-type|-key agg). No other exchanges."""
    plan = plan_of(spark, "q167_attribution")
    final = plan.split("== Initial Plan ==")[0]  # AQE prints both plans
    assert final.count("Exchange hashpartitioning") <= 2, final


def test_rfm_has_no_single_partition_window(spark):
    """q177's quintiles come from the distributed-rank pattern: every
    window must be PARTITIONED (a global window is the anti-pattern
    the _global_ntile helper exists to avoid). Checked on the
    optimized logical plan — the executed plan hides the rank windows
    inside the scoped-persist InMemoryRelations. A global window's
    windowspecdefinition opens directly with an order spec (first arg
    carries ASC/DESC); a partitioned one opens with plain columns."""
    df = REGISTRY["q177_rfm_segments"].build(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    specs = plan.split("windowspecdefinition(")[1:]
    assert specs, plan
    for frag in specs:
        first_arg = frag.split(",", 1)[0]
        assert "ASC" not in first_arg and "DESC" not in first_arg, frag[:120]


def test_mutual_knn_blocked_uses_cogrouped_arrow(spark):
    """q166's default strategy must run the all-pairs arithmetic in
    the cogrouped Arrow operator, not a nested-loop join."""
    plan = plan_of(spark, "q166_mutual_knn")
    assert "FlatMapCoGroupsInPandas" in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_khop_frontier_rounds_are_equi_joins(spark):
    """q169/q180's relaxation rounds must be keyed joins — a cartesian
    product would mean the frontier join lost its key."""
    for name in ("q169_khop_reach", "q180_shortest_path"):
        plan = plan_of(spark, name)
        assert "CartesianProduct" not in plan, name


def test_scd2_pit_join_broadcasts_dimension(spark):
    """q168: the SCD2 history (dimension-sized) must broadcast against
    the fact table at test scale (AQE picks BHJ under the threshold);
    the interval predicates ride as join residuals, never a cartesian."""
    plan = plan_of(spark, "q168_scd2_pit_join")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_time_to_convert_two_minaggs_no_cartesian(spark):
    """q182 is two per-user min-aggs plus a 5-row report: every join
    keyed (the 1-row total joins via broadcast, never a shuffled
    cartesian), aggregation partial before each exchange, all-JVM."""
    plan = plan_of(spark, "q182_time_to_convert")
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final, final
    assert "EvalPython" not in final, final
    # the per-user stage-1 min, the conversion min, the bucket agg —
    # nothing else should shuffle (the total is a broadcast join)
    assert final.count("Exchange hashpartitioning") <= 4, final
    assert "partial_min" in final or "partial_count" in final, final


# --- round-7 lanes ----------------------------------------------------------


def test_semdedup_survivorship_plan_is_keyed(spark):
    """q183's returned plan starts from the checkpointed component
    labels (the CC loop's lineage cut), so the Arrow-kernel assertion
    lives with q166 (test_mutual_knn_blocked_uses_cogrouped_arrow);
    here: the survivorship join/window must be keyed and partitioned —
    no cartesian, no partition-less window, no Python in the plan."""
    plan = plan_of(spark, "q183_semdedup")
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final, final
    assert "BroadcastNestedLoopJoin" not in final, final
    for frag in final.split("windowspecdefinition(")[1:]:
        first_arg = frag.split(",", 1)[0]
        assert "ASC" not in first_arg and "DESC" not in first_arg, frag[:120]


def test_link_prediction_wedges_are_equi_joins(spark):
    """q187's wedge walk and existing-edge exclusion must be keyed —
    a cartesian would mean the middle-vertex key was lost."""
    plan = plan_of(spark, "q187_link_prediction")
    final = plan.split("== Initial Plan ==")[0]
    assert "CartesianProduct" not in final, final
    assert "EvalPython" not in final, final


def test_pareto_prefix_sum_is_distributed(spark):
    """q189's cumulative revenue must come from the distributed prefix
    pattern: a rangepartitioning exchange plus per-range windows
    partitioned by pid — never a single-partition global running sum."""
    df = REGISTRY["q189_pareto_abc"].build(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "rangepartitioning" in plan.lower() or "RepartitionByExpression" in plan, plan
    for frag in plan.split("windowspecdefinition(")[1:]:
        first_arg = frag.split(",", 1)[0]
        assert "ASC" not in first_arg and "DESC" not in first_arg, frag[:120]


# --- round-8: shared distributed-prefix helper -----------------------------


@pytest.mark.parametrize(
    "name",
    [
        "q90_sequence_packing",
        "q96_vocab_build",
        "q100_global_quality_deciles",
        "q141_pps_sample",
        "q163_quantile_normalize",
        "q177_rfm_segments",
        "q189_pareto_abc",
        "q202_gini",
    ],
)
def test_prefix_offsets_are_broadcast_joined(spark, name):
    """Every ``range_prefix`` lane ships its per-range base offsets as
    a broadcast-joined one-row-per-range table: the plan must contain a
    broadcast join keyed on ``_pid`` and must NOT contain the retired
    chained CASE WHEN over range ids (whose expression tree grows with
    PREFIX_RANGES — a cluster-size-dependent plan is the anti-pattern).
    Composes with the existing no-partition-less-window guards."""
    df = REGISTRY[name].build(spark, SF_DIR)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "_pid" in plan, plan
    # offsets arrive via a join (Catalyst plans the tiny side broadcast
    # or AQE converts it); the retired form had NO join on _pid at all,
    # it inlined a 64-branch CASE WHEN instead
    assert plan.count("CASE WHEN (_pid") <= 1, plan
    assert plan.count("CASE WHEN (pid") == 0, plan
    joined = "Join Inner" in plan or "BroadcastHint" in plan or "ResolvedHint" in plan
    assert joined, plan
