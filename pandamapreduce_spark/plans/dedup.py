"""Deduplication query surface over ``documents`` (+ embeddings).

Training-data-pipeline operators (SURVEY §2.3 "ext" rows): exact dedup,
normalized dedup, MinHash-LSH near-dup candidates, Jaccard-verified
near-dup pairs, SimHash signatures, embedding-cosine near-dup. The
MapReduce shape is the reference's own algebra — shingle emit (map) →
band signature (combine) → bucket join (shuffle/group) → verify
(reduce) — cf. V-SMART-Join (PAPERS.md) and the reference pipeline
``src/panda/PandaMapReduceJob.cpp:885-955``.

Every operator uses md5-derived hashing so the DuckDB oracle reproduces
it bit-for-bit (``functions.text``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandamapreduce_spark.catalog import load_table
from pandamapreduce_spark.functions import (
    cosine_sql,
    hex16,
    hex16_sql,
    minhash_sig_sql,
    normalize_text,
    normalize_text_sql,
    tokens,
    tokens_sql,
    word_ngrams,
    word_ngrams_sql,
)
from pandamapreduce_spark.plans.registry import REGISTRY, query

# MinHash-LSH parameters: 12 hashes in 4 bands of 3 → catches
# Jaccard ≳ 0.5 pairs with good probability at tiny signature cost.
NUM_HASHES = 12
NUM_BANDS = 4
ROWS_PER_BAND = 3

# Skew cap: a band bucket with more than this many members is
# boilerplate (headers, licenses), not near-duplication — at corpus
# scale one 10⁵-member bucket would emit ~10¹⁰ pairs (the classic LSH
# skew bomb). The cap is part of the VERIFIED plan: the DuckDB oracle
# applies the identical `HAVING count(*) <= cap` on band buckets, so
# the scale-safe plan is the one the correctness gate checks.
MAX_BUCKET = 64


@query(
    "q30_dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash, min(doc_id) AS canonical_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    ORDER BY text_hash
    """,
    doc="Exact dedup: hash-group on content, keep min doc_id as canonical.",
    tags=("dedup",),
)
def q30_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: group key is md5(text) (fixed 32 bytes), so the shuffle
    carries hashes + ids, never the document bodies — this is THE
    100 TB exact-dedup plan."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("text_hash")
    )


@query(
    "q31_dedup_normalized",
    oracle=f"""
    SELECT md5({normalize_text_sql("text")}) AS norm_hash,
           min(doc_id) AS canonical_id, count(*) AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY norm_hash
    """,
    doc="Normalized dedup: canonicalize (lower/strip punct/collapse ws) before hashing.",
    tags=("dedup",),
)
def q31_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5(normalize_text("text")).alias("norm_hash"))
        .agg(F.min("doc_id").alias("canonical_id"), F.count(F.lit(1)).alias("n_copies"))
        .orderBy("norm_hash")
    )


def _band_sql(sig: str, band: int) -> str:
    lo = band * ROWS_PER_BAND + 1
    hi = lo + ROWS_PER_BAND - 1
    return f"md5(array_to_string(list_transform(({sig})[{lo}:{hi}], x -> cast(x as varchar)), '|'))"


def minhash_sigs_sql(source: str = "documents", num_hashes: int = NUM_HASHES) -> str:
    """`SELECT doc_id, sig FROM ...` computing the q32 MinHash
    signature in the distinct-shingle join-back form: md5 runs ONCE
    per DISTINCT shingle string corpus-wide (the expression form in
    ``minhash_sig_sql`` re-evaluates `md5(s)` inside both h1 and h2
    for every member of the num_hashes family — 2×num_hashes md5s per
    shingle OCCURRENCE — which made the md5-recompute oracle class
    the documented sf1 OVER_BUDGET wall). Value-identical by
    construction: min over a doc's shingle occurrences equals min
    over its distinct shingles, and the hash family h1 + i*h2 is
    unchanged — proven row-identical to the expression form at
    sf0.001/0.01/0.1 and 25.9× faster at sf0.1 (168.1 s → 6.5 s);
    the distinct-shingle dedup compounds at sf1 where the FK-copy
    fixture repeats every document 10×. Docs with zero shingles emit
    no row — identical to the old `WHERE len(shingles) > 0` guard."""
    sh = word_ngrams_sql("text", 3)
    h1 = "cast(concat('0x', substr(md5(g), 1, 12)) as bigint)"
    h2 = "cast(concat('0x', substr(md5(g), 17, 12)) as bigint)"
    return f"""
      WITH occ AS (SELECT doc_id, unnest({sh}) AS g FROM {source}),
      hg AS MATERIALIZED (
        SELECT g, {h1} AS h1, {h2} AS h2 FROM (SELECT DISTINCT g FROM occ)
      ),
      sig_long AS (
        SELECT o.doc_id, t.i, min(h.h1 + t.i * h.h2) AS m
        FROM (SELECT DISTINCT doc_id, g FROM occ) o
        JOIN hg h USING (g)
        CROSS JOIN (SELECT unnest(range({num_hashes})) AS i) t
        GROUP BY o.doc_id, t.i
      )
      SELECT doc_id, list(m ORDER BY i) AS sig FROM sig_long GROUP BY doc_id
    """


def _lsh_pairs_sql(source: str = "documents", max_bucket: int = MAX_BUCKET) -> str:
    bands_list = ", ".join(
        f"struct_pack(band := {b}, key := {_band_sql('sig', b)})" for b in range(NUM_BANDS)
    )
    return f"""
    WITH sigs AS ({minhash_sigs_sql(source)}),
    bands AS (
      SELECT doc_id, unnest([{bands_list}], recursive := true) FROM sigs
    ),
    ok_buckets AS (
      SELECT band, key FROM bands
      GROUP BY band, key HAVING count(*) BETWEEN 2 AND {max_bucket}
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM bands a
    JOIN ok_buckets o ON a.band = o.band AND a.key = o.key
    JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    """


def _lsh_pairs_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    # See operators.dedup_ops.minhash_band_pairs: the MapReduce
    # formulation — shingle emit → per-hash min aggregation → band
    # bucket reduce — computes each md5 exactly once and replaces the
    # band self-join (which would recompute the signature subtree for
    # both sides) with one shuffle.
    from pandamapreduce_spark.operators.dedup_ops import minhash_band_pairs

    docs = load_table(spark, sf_dir, "documents", spread=True)
    return minhash_band_pairs(docs, num_hashes=NUM_HASHES, num_bands=NUM_BANDS, max_bucket_size=MAX_BUCKET)


@query(
    "q32_minhash_lsh_candidates",
    oracle=_lsh_pairs_sql() + " ORDER BY doc_a, doc_b",
    doc="MinHash-LSH near-dup candidate pairs: shingle → 12-hash signature → 4 bands → bucket self-join.",
    bench=True,
    tags=("dedup", "lsh"),
)
def q32_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the self-join is on (band, band_key) — cardinality per
    bucket is tiny for non-dup corpora, so the join output stays near-
    linear. Skewed buckets (boilerplate dups) are the known hazard; the
    MAX_BUCKET cap drops them before pair emission, and the oracle
    applies the identical HAVING bound, so the verified plan IS the
    scale-safe plan (VERDICT r1 §What's-wrong #2)."""
    return _lsh_pairs_df(spark, sf_dir).orderBy("doc_a", "doc_b")


def _jaccard_cols(g1: F.Column, g2: F.Column) -> F.Column:
    inter = F.size(F.filter(g1, lambda x: F.array_contains(g2, x)))
    union = F.size(g1) + F.size(g2) - inter
    return inter.cast("double") / union.cast("double")


def _jaccard_sql(g1: str, g2: str) -> str:
    inter = f"len(list_filter({g1}, x -> list_contains({g2}, x)))"
    return f"(cast({inter} as double) / cast(len({g1}) + len({g2}) - {inter} as double))"


@query(
    "q33_neardup_verified",
    oracle=f"""
    WITH pairs AS ({_lsh_pairs_sql()}),
    g AS (SELECT doc_id, {word_ngrams_sql("text", 3)} AS grams FROM documents)
    SELECT p.doc_a, p.doc_b, {_jaccard_sql("ga.grams", "gb.grams")} AS jaccard
    FROM pairs p JOIN g ga ON p.doc_a = ga.doc_id JOIN g gb ON p.doc_b = gb.doc_id
    WHERE {_jaccard_sql("ga.grams", "gb.grams")} >= 0.1
    ORDER BY doc_a, doc_b
    """,
    doc="Verified near-dups: LSH candidates filtered by exact shingle Jaccard >= 0.1.",
    tags=("dedup", "lsh", "jaccard"),
)
def q33_neardup_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup pipeline: candidates (cheap, LSH) → exact
    verify (expensive, only on candidates). Scale: verify joins carry
    shingle arrays only for candidate ids — a tiny fraction of corpus."""
    pairs = _lsh_pairs_df(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    g = docs.select("doc_id", word_ngrams("text", 3).alias("grams"))
    ga, gb = g.alias("ga"), g.alias("gb")
    jac = _jaccard_cols(F.col("ga.grams"), F.col("gb.grams"))
    return (
        pairs.join(ga, F.col("doc_a") == F.col("ga.doc_id"))
        .join(gb, F.col("doc_b") == F.col("gb.doc_id"))
        .select("doc_a", "doc_b", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.1)
        .orderBy("doc_a", "doc_b")
    )


SIMHASH_BITS = 16


@query(
    "q34_simhash",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({tokens_sql("text")}) AS t FROM documents
    ),
    bits AS (
      SELECT doc_id, {hex16_sql("t")} AS h, count(*) AS w
      FROM tok GROUP BY doc_id, t
    )
    SELECT doc_id,
      cast({" + ".join(f"(CASE WHEN sum(CASE WHEN (h >> {j}) & 1 = 1 THEN w ELSE -w END) > 0 THEN {1 << j} ELSE 0 END)" for j in range(SIMHASH_BITS))} as bigint) AS simhash
    FROM bits GROUP BY doc_id
    ORDER BY doc_id
    """,
    doc=f"SimHash ({SIMHASH_BITS}-bit): per-token md5 bit votes weighted by term frequency.",
    tags=("dedup", "simhash"),
)
def q34_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: explode → two-level groupBy, both partially aggregated;
    signature is one bigint per doc, so near-dup scan over signatures
    (hamming ≤ k via bit_count(xor)) is trivially distributable."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("t"))
    bits = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("w")).withColumn("h", hex16("t"))
    vote = [
        F.when(F.sum(F.when(F.shiftright(F.col("h"), j).bitwiseAND(1) == 1, F.col("w")).otherwise(-F.col("w"))) > 0, 1 << j).otherwise(0)
        for j in range(SIMHASH_BITS)
    ]
    total = vote[0]
    for v in vote[1:]:
        total = total + v
    return bits.groupBy("doc_id").agg(total.cast("bigint").alias("simhash")).orderBy("doc_id")


# q34b: a wider fingerprint for PAIR detection — 16 bits can't be
# banded usefully (4-bit band keys = 16 buckets = everything
# collides); 48 bits give 4 × 12-bit bands, and bands > HAM_K
# guarantees (pigeonhole) every pair at hamming ≤ HAM_K shares a band.
SIMHASH_PAIR_BITS = 48
HAM_BANDS = 4
HAM_K = 3
_BAND_W = SIMHASH_PAIR_BITS // HAM_BANDS


def _simhash_pair_sql() -> str:
    votes = " + ".join(
        f"(CASE WHEN sum(CASE WHEN (h >> {j}) & 1 = 1 THEN w ELSE -w END) > 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SIMHASH_PAIR_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT doc_id, unnest({tokens_sql("text")}) AS t FROM documents
    ),
    bits AS (
      SELECT doc_id, {hex16_sql("t")} AS h, count(*) AS w
      FROM tok GROUP BY doc_id, t
    )
    SELECT doc_id, cast({votes} as bigint) AS simhash
    FROM bits GROUP BY doc_id
    """


@query(
    "q34b_simhash_neardup",
    oracle=f"""
    WITH sh AS ({_simhash_pair_sql()}),
    bands AS (
      SELECT doc_id, simhash,
             unnest([struct_pack(band := i, key := (simhash >> (i * {_BAND_W})) & {(1 << _BAND_W) - 1})
                     for i in range(0, {HAM_BANDS})], recursive := true)
      FROM sh
    ),
    ok AS (
      SELECT band, key FROM bands
      GROUP BY band, key HAVING count(*) BETWEEN 2 AND {MAX_BUCKET}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
                      a.simhash AS sa, b.simhash AS sb
      FROM bands a
      JOIN ok o ON a.band = o.band AND a.key = o.key
      JOIN bands b ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, cast(bit_count(xor(sa, sb)) as int) AS hamming
    FROM cand WHERE bit_count(xor(sa, sb)) <= {HAM_K}
    ORDER BY doc_a, doc_b
    """,
    doc=f"SimHash near-dup pairs: {SIMHASH_PAIR_BITS}-bit fingerprint, {HAM_BANDS}-band Hamming-LSH (bucket-capped), verified hamming ≤ {HAM_K}.",
    tags=("dedup", "simhash", "lsh"),
)
def q34b_simhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Google-crawl dedup recipe (Manku et al., WWW'07 idea as
    bands): near-dup ⟺ simhash hamming distance ≤ {HAM_K}. Pigeonhole
    over {HAM_BANDS} bands of {_BAND_W} bits each guarantees recall at
    the threshold — a qualifying pair agrees exactly on ≥1 band — so
    candidates come from an EQUI-join on (band, key), never a pair
    scan; the q32 bucket cap kills boilerplate-key skew identically in
    the oracle.

    Scale: fingerprints are one bigint/doc; bands shuffle (band, key,
    doc_id, simhash) ≈ 30 B/doc × {HAM_BANDS}; verification is a
    JVM ``bit_count(xor)`` on the candidate set only.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("t"))
    bits = tok.groupBy("doc_id", "t").agg(F.count(F.lit(1)).alias("w")).withColumn("h", hex16("t"))
    # one plain arithmetic sum per bit (±w as (2·bit−1)·w, no CASE),
    # assembled into the fingerprint post-agg: 48 CASE-inside-sum
    # trees in a single aggregate expression measurably stall codegen
    # (~30 s plan compile at 48 bits); this form is flat.
    aggs = [
        F.sum((F.shiftright(F.col("h"), j).bitwiseAND(1) * 2 - 1) * F.col("w")).alias(f"v{j}")
        for j in range(SIMHASH_PAIR_BITS)
    ]
    votes = bits.groupBy("doc_id").agg(*aggs)
    total = F.lit(0).cast("bigint")
    for j in range(SIMHASH_PAIR_BITS):
        total = total + F.when(F.col(f"v{j}") > 0, F.lit(1 << j).cast("bigint")).otherwise(F.lit(0))
    sh = votes.select("doc_id", total.cast("bigint").alias("simhash"))

    mask = (1 << _BAND_W) - 1
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("band"),
                        F.shiftright("simhash", i * _BAND_W).bitwiseAND(F.lit(mask)).alias("key"),
                    )
                    for i in range(HAM_BANDS)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "simhash", "b.band", "b.key")
    ok = (
        bands.groupBy("band", "key")
        .agg(F.count(F.lit(1)).alias("n"))
        .where((F.col("n") >= 2) & (F.col("n") <= MAX_BUCKET))
        .select("band", "key")
    )
    kept = bands.join(ok, ["band", "key"])
    a, b = kept.alias("a"), kept.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    ham = F.bit_count(F.col("sa").bitwiseXOR(F.col("sb")))
    return (
        cand.where(ham <= HAM_K)
        .select("doc_a", "doc_b", ham.cast("int").alias("hamming"))
        .orderBy("doc_a", "doc_b")
    )


#: Sub-block grid width for q35's pair scan: each label's pair
#: scan splits into EMB_PAIR_BLOCKS^2 cogrouped Arrow tasks.
EMB_PAIR_BLOCKS = 4


def _emb_pairs_pdf(a_pdf, b_pdf, tau: float = 0.93, ordered: bool = True):
    """Threshold emitter over ``functions.vector.cosine_block``: every
    (left, right) pair with left.vec_id < right.vec_id and cosine >=
    tau, values bitwise equal to the JVM fold and DuckDB's
    list_dot_product. ``ordered=False`` drops the id ordering and
    emits the full cross product above tau — the delta-vs-base shape
    (q210), where the two sides are disjoint id sets and every cross
    pair is wanted."""
    import numpy as np
    import pandas as pd

    from pandamapreduce_spark.functions.vector import cosine_block

    if a_pdf.empty or b_pdf.empty:
        return pd.DataFrame({"vec_a": [], "vec_b": [], "cos_sim": []}).astype(
            {"vec_a": "int64", "vec_b": "int64", "cos_sim": "float64"}
        )
    aid, bid, cos = cosine_block(a_pdf, b_pdf)
    idmask = (aid[:, None] < bid[None, :]) if ordered else np.ones_like(cos, dtype=bool)
    ii, jj = np.nonzero(idmask & (cos >= tau))
    return pd.DataFrame(
        {
            "vec_a": aid[ii].astype("int64"),
            "vec_b": bid[jj].astype("int64"),
            "cos_sim": cos[ii, jj],
        }
    )


def _emb_neardup_sql(tau: float) -> str:
    """q35's oracle at any cosine threshold (tests replay it at the
    planted-geometry τ that ``_emb_neardup_pairs`` is called with)."""
    return f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           {cosine_sql("a.embedding", "b.embedding")} AS cos_sim
    FROM embeddings a JOIN embeddings b
      ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE {cosine_sql("a.embedding", "b.embedding")} >= {tau}
    ORDER BY vec_a, vec_b
    """


@query(
    "q35_embedding_neardup",
    oracle=_emb_neardup_sql(0.93),
    doc="Embedding-cosine near-dup: label-blocked pair scan, cosine >= 0.93.",
    tags=("dedup", "embedding"),
)
def q35_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: blocking on label turns O(n²) into Σ O(n_b²); for real
    corpora the block key is an LSH bucket (q41) — same plan shape.

    Each label splits into an EMB_PAIR_BLOCKS x EMB_PAIR_BLOCKS
    cogroup grid keyed (label, left vec_id%B, right vec_id%B) — the
    grid builder q166 also uses (``similarity._cogroup_grid``) — so
    each unordered pair meets in exactly ONE task (the left<right
    filter dedups the p=q diagonal), tasks are labels x B^2, and each
    task runs the threshold emitter (``_emb_pairs_pdf``) over the
    shared bitwise cosine block. A plain label self-join is a scale trap:
    with 10 labels its effective parallelism is the label-bucket
    count, AQE's coalesce then merges those partitions BY INPUT BYTES
    (20k embedding rows look tiny) into ~2 tasks, and the ~44M
    per-pair cosine folds inside the join grind near-single-threaded —
    35+ min at sf1 for what is seconds of numpy arithmetic."""
    return _emb_neardup_pairs(load_table(spark, sf_dir, "embeddings"))


def _emb_neardup_pairs(emb: DataFrame, tau: float = 0.93, sort: bool = True) -> DataFrame:
    """q35's pair scan over any (vec_id, embedding, label) frame —
    split out so tests can feed a PLANTED high-similarity frame (the
    parquet fixtures are near-isotropic and emit zero >= 0.93 pairs
    there, which would make an equality check vacuous). ``tau``/``sort``
    let q87's hybrid lane reuse the same scan (its HYBRID_COS
    threshold, unsorted — the union re-groups anyway, a trailing sort
    would be a wasted exchange)."""
    from pandamapreduce_spark.plans.similarity import _cogroup_grid

    pairs = _cogroup_grid(
        emb,
        lambda left, right: _emb_pairs_pdf(left, right, tau=tau),
        "vec_a long, vec_b long, cos_sim double",
        EMB_PAIR_BLOCKS,
        keys=("label",),
    )
    return pairs.orderBy("vec_a", "vec_b") if sort else pairs


# --- q116: incremental (delta-vs-base) near-dup ---------------------------

DELTA_MOD = 5  # doc_id % 5 == 4 plays the incoming crawl batch (~20%)


@query(
    "q116_incremental_neardup",
    oracle=f"""
    WITH sigs AS (
      {{sigs_subquery}}
    ),
    bands AS (
      SELECT doc_id, unnest([{{bands_list}}], recursive := true) FROM sigs
    ),
    base AS (SELECT * FROM bands WHERE doc_id % {DELTA_MOD} <> {DELTA_MOD - 1}),
    delta AS (SELECT * FROM bands WHERE doc_id % {DELTA_MOD} = {DELTA_MOD - 1}),
    ok_buckets AS (
      SELECT band, key FROM base GROUP BY band, key HAVING count(*) <= {{max_bucket}}
    ),
    cand AS (
      SELECT DISTINCT d.doc_id AS delta_id, b.doc_id AS base_id
      FROM delta d
      JOIN ok_buckets o ON d.band = o.band AND d.key = o.key
      JOIN base b ON d.band = b.band AND d.key = b.key
    ),
    g AS (SELECT doc_id, {{grams3}} AS grams FROM documents)
    SELECT c.delta_id, c.base_id, {{jac}} AS jaccard
    FROM cand c JOIN g ga ON c.delta_id = ga.doc_id JOIN g gb ON c.base_id = gb.doc_id
    WHERE {{jac}} >= 0.1
    ORDER BY delta_id, base_id
    """.format(
        # distinct-shingle join-back signatures (minhash_sigs_sql —
        # value-identical to the old expression form, 25.9× cheaper)
        sigs_subquery=minhash_sigs_sql("documents"),
        grams3=word_ngrams_sql("text", 3),
        bands_list=", ".join(
            f"struct_pack(band := {b}, key := {_band_sql('sig', b)})" for b in range(NUM_BANDS)
        ),
        max_bucket=MAX_BUCKET,
        jac=_jaccard_sql("ga.grams", "gb.grams"),
    ),
    doc="Incremental dedup: near-dups of an incoming batch (doc_id % 5 == 4) against the existing corpus via a base-vs-delta LSH bucket join — no base self-join — verified by exact Jaccard.",
    bench=True,  # per-round signal for the delta-vs-base dedup path
    tags=("dedup", "lsh", "incremental"),
)
def q116_incremental_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-crawl dedup shape: only (delta × base-bucket-mates)
    candidates are generated — the base corpus is never self-joined,
    so each increment costs O(|delta| + matched buckets), not
    O(|corpus|²). In production the base band keys are a materialized
    table keyed by (band, key); here both sides project from
    ``documents`` with the same stateless band-key operator the
    streaming dedup (q69) uses, so batch/stream/incremental buckets
    all coincide. Hot-bucket skew is capped on the BASE side
    (boilerplate buckets bigger than MAX_BUCKET are dropped, mirrored
    in the oracle), and the final Jaccard verify touches shingle
    arrays only for candidate ids."""
    from pandamapreduce_spark.caching import scoped_persist
    from pandamapreduce_spark.operators.dedup_ops import minhash_band_keys_agg

    docs = load_table(spark, sf_dir, "documents", spread=True)
    is_delta = F.col("doc_id") % DELTA_MOD == DELTA_MOD - 1
    # aggregation-formulated band keys (one md5 per shingle), persisted
    # once for the three consumers (base bands, delta bands, base
    # bucket counts) — the expression variant re-hashed every shingle
    # 12× per consumer (measured 22.5 s → ~4 s at sf0.1)
    keys = scoped_persist(minhash_band_keys_agg(docs, num_hashes=NUM_HASHES, num_bands=NUM_BANDS))
    base = keys.where(~is_delta)
    delta = keys.where(is_delta)
    ok = base.groupBy("band", "key").agg(F.count(F.lit(1)).alias("n")).where(F.col("n") <= MAX_BUCKET)
    cand = (
        delta.select(F.col("doc_id").alias("delta_id"), "band", "key")
        .join(ok.select("band", "key"), ["band", "key"], "left_semi")
        .join(base.select(F.col("doc_id").alias("base_id"), "band", "key"), ["band", "key"])
        .select("delta_id", "base_id")
        .distinct()
    )
    g = docs.select("doc_id", word_ngrams("text", 3).alias("grams"))
    ga, gb = g.alias("ga"), g.alias("gb")
    jac = _jaccard_cols(F.col("ga.grams"), F.col("gb.grams"))
    return (
        cand.join(ga, F.col("delta_id") == F.col("ga.doc_id"))
        .join(gb, F.col("base_id") == F.col("gb.doc_id"))
        .select("delta_id", "base_id", jac.alias("jaccard"))
        .where(F.col("jaccard") >= 0.1)
        .orderBy("delta_id", "base_id")
    )


# --- q124: incremental corpus MERGE (apply the delta) ---------------------

MERGE_JACCARD = 0.5  # supersession threshold — the LSH design point (4 bands of 3)

# Two-step CTE oracle (VERDICT r4 #8): step 1 = q116's near-dup oracle
# verbatim as a CTE (spliced from the registry so the two can never
# drift); step 2 = the merge application in plain SQL over
# (pairs, per-doc metadata).
_Q124_ORACLE = f"""
    WITH nd AS ({{q116}}),
    pairs AS (SELECT delta_id, base_id FROM nd WHERE jaccard >= {MERGE_JACCARD}),
    meta AS (
      SELECT doc_id, n_chars, md5({normalize_text_sql("text")}) AS norm_md5,
             md5(text) AS text_md5,
             doc_id % {DELTA_MOD} = {DELTA_MOD - 1} AS is_delta
      FROM documents
    ),
    exact_win AS (
      SELECT min(doc_id) AS doc_id FROM meta WHERE is_delta GROUP BY norm_md5
    ),
    delta_live AS (SELECT m.* FROM meta m JOIN exact_win e USING (doc_id)),
    ms AS (
      SELECT d.doc_id AS delta_id, count(*) AS n_match,
             count(*) FILTER (d.n_chars > b.n_chars
                              OR (d.n_chars = b.n_chars AND d.doc_id < b.doc_id)) AS n_beat
      FROM delta_live d
      JOIN pairs p ON d.doc_id = p.delta_id
      JOIN meta b ON p.base_id = b.doc_id
      GROUP BY d.doc_id
    ),
    admitted AS (
      SELECT doc_id FROM delta_live
      WHERE doc_id NOT IN (SELECT delta_id FROM ms WHERE n_match <> n_beat)
    ),
    superseded AS (
      SELECT DISTINCT p.base_id AS doc_id
      FROM pairs p JOIN admitted a ON p.delta_id = a.doc_id
    )
    SELECT doc_id, origin, action,
           action IN ('retained', 'admitted') AS in_corpus,
           n_chars, text_md5
    FROM (
      SELECT m.doc_id,
             CASE WHEN m.is_delta THEN 'delta' ELSE 'base' END AS origin,
             CASE WHEN NOT m.is_delta THEN
                    CASE WHEN m.doc_id IN (SELECT doc_id FROM superseded)
                         THEN 'superseded' ELSE 'retained' END
                  WHEN m.doc_id NOT IN (SELECT doc_id FROM delta_live) THEN 'dropped_dup'
                  WHEN m.doc_id IN (SELECT doc_id FROM admitted) THEN 'admitted'
                  ELSE 'dropped_inferior' END AS action,
             cast(m.n_chars as bigint) AS n_chars, m.text_md5
      FROM meta m
    ) ORDER BY doc_id
    """


@query(
    "q124_corpus_merge",
    oracle=_Q124_ORACLE.format(q116=REGISTRY["q116_incremental_neardup"].oracle),
    doc="Incremental corpus MERGE — applies q116's delta-vs-base near-dups as an upsert: exact-dedup within the delta, admit a delta doc only where it beats every matched base doc (longer wins, ties to lower id), supersede the base docs an admitted delta beats; full post-merge corpus state, content-addressed (md5).",
    tags=("dedup", "incremental", "merge", "pipeline"),
)
def q124_corpus_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily-crawl maintenance operator: q116 FINDS the incoming
    batch's near-dups; this APPLIES them. One row per document (base
    and delta) with the post-merge verdict — the table a production
    MERGE INTO would be driven by:

    - delta docs that exact-duplicate an earlier delta doc
      (md5-normalized, q31's canon) → ``dropped_dup``;
    - a surviving delta doc is ``admitted`` iff it beats EVERY base
      doc it near-matches (q103's keep-best comparator: n_chars desc,
      doc_id asc) — else ``dropped_inferior`` (a better version
      already exists in the corpus);
    - a base doc is ``superseded`` iff an admitted delta beats it
      (admission guarantees the winner beat all its matches, so the
      two rules can't contradict — no iterative resolution needed);
      all other base docs are ``retained``.

    Scale shape: near-dup discovery is q116's delta×base bucket join
    (never a base self-join); the merge itself adds only id-keyed
    joins over (doc_id, n_chars, md5) — 48-byte rows, document bodies
    never shuffle (md5s computed map-side, q106's content-addressing).
    The verdict-flag joins are semi/anti joins on doc_id, and the
    pair/admission tables are bounded by the delta size, not the
    corpus."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    is_delta = F.col("doc_id") % DELTA_MOD == DELTA_MOD - 1
    meta = docs.select(
        "doc_id",
        "n_chars",
        F.md5(normalize_text("text")).alias("norm_md5"),
        F.md5("text").alias("text_md5"),
        is_delta.alias("is_delta"),
    )
    pairs = (
        q116_incremental_neardup(spark, sf_dir)
        .where(F.col("jaccard") >= MERGE_JACCARD)
        .select("delta_id", "base_id")
    )
    exact_win = (
        meta.where("is_delta").groupBy("norm_md5").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    delta_live = meta.where("is_delta").join(exact_win, "doc_id", "left_semi")
    base_chars = meta.where(~F.col("is_delta")).select(
        F.col("doc_id").alias("base_id"), F.col("n_chars").alias("b_chars")
    )
    beats = (F.col("d_chars") > F.col("b_chars")) | (
        (F.col("d_chars") == F.col("b_chars")) & (F.col("delta_id") < F.col("base_id"))
    )
    ms = (
        delta_live.select(F.col("doc_id").alias("delta_id"), F.col("n_chars").alias("d_chars"))
        .join(pairs, "delta_id")
        .join(base_chars, "base_id")
        .groupBy("delta_id")
        .agg(F.count(F.lit(1)).alias("n_match"), F.sum(beats.cast("int")).alias("n_beat"))
    )
    losers = ms.where(F.col("n_match") != F.col("n_beat")).select(F.col("delta_id").alias("doc_id"))
    admitted = delta_live.select("doc_id").join(losers, "doc_id", "left_anti")
    superseded = (
        pairs.join(admitted.select(F.col("doc_id").alias("delta_id")), "delta_id", "left_semi")
        .select(F.col("base_id").alias("doc_id"))
        .distinct()
    )

    def _mark(df: DataFrame, name: str) -> DataFrame:
        return df.select("doc_id").withColumn(name, F.lit(True))

    action = (
        F.when(
            ~F.col("is_delta"),
            F.when(F.col("_sup"), "superseded").otherwise("retained"),
        )
        .when(F.col("_live").isNull(), "dropped_dup")
        .when(F.col("_adm"), "admitted")
        .otherwise("dropped_inferior")
    )
    return (
        meta.join(_mark(delta_live, "_live"), "doc_id", "left")
        .join(_mark(admitted, "_adm"), "doc_id", "left")
        .join(_mark(superseded, "_sup"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("is_delta"), "delta").otherwise("base").alias("origin"),
            action.alias("action"),
            action.isin("retained", "admitted").alias("in_corpus"),
            F.col("n_chars").cast("bigint").alias("n_chars"),
            "text_md5",
        )
        .orderBy("doc_id")
    )


# --- q185: near-dup pipeline evaluation (LSH candidates vs exact truth) -----

#: ground-truth Jaccard threshold as a rational 1/2 — the LSH design
#: point (4 bands of 3 rows targets J >= ~0.5), so the eval measures
#: the LSH stage exactly where its collision curve claims to work.
NDE_NUM, NDE_DEN = 1, 2


def _nde_truth_sql() -> str:
    """EXACT distinct-3-gram Jaccard >= 1/2 pairs via the q147 prefix
    bound (provably complete — never misses a qualifying pair).

    Round-8 reformulation (VERDICT r7 #3 — the r7 form OOM-killed
    DuckDB at sf1): the candidate pair-join now AGGREGATES per pair
    instead of DISTINCT, which makes the two classic lossless PPJoin
    prunes free (Xiao et al. 2008, public algorithm): the LENGTH
    filter ({NDE_DEN}*min(sz) >= {NDE_NUM}*max(sz) — below that even
    ov=min(sz) cannot reach J>={NDE_NUM}/{NDE_DEN}) and the POSITIONAL
    filter (ov <= shared prefix grams + what remains past the LAST
    shared prefix position in either doc). Measured at sf1: 41.2M raw
    candidates -> 12.1M. The verify step then probes doc-keyed gram
    LISTS (build side = one row per doc) and tests the threshold on
    ``list_intersect`` — memory bounded by the doc-gram table, never
    by candidates x grams (the join order the r7 form let the
    optimizer pick built an ~candidates*avg_sz hash side: the OOM)."""
    return f"""
    grams AS MATERIALIZED (
      SELECT DISTINCT doc_id, unnest({word_ngrams_sql("text", 3)}) AS g FROM documents
    ),
    gdf AS (SELECT g, cast(count(*) as bigint) AS dfreq FROM grams GROUP BY g),
    gsz AS (SELECT doc_id, cast(count(*) as bigint) AS sz FROM grams GROUP BY doc_id),
    ranked AS (
      SELECT t.doc_id, t.g, s.sz,
             row_number() OVER (PARTITION BY t.doc_id ORDER BY d.dfreq, t.g) AS rn
      FROM grams t JOIN gdf d ON t.g = d.g JOIN gsz s ON t.doc_id = s.doc_id
    ),
    prefix AS (
      SELECT doc_id, g, sz, rn FROM ranked
      WHERE rn <= sz - (({NDE_NUM} * sz + {NDE_DEN - 1}) // {NDE_DEN}) + 1
    ),
    cand2 AS (
      SELECT a.doc_id AS da, b.doc_id AS db,
             cast(count(*) as bigint) AS npfx,
             max(a.rn) AS mxa, max(b.rn) AS mxb,
             max(a.sz) AS sa, max(b.sz) AS sb
      FROM prefix a JOIN prefix b ON a.g = b.g AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    candf AS (
      SELECT da, db, sa, sb FROM cand2
      WHERE {NDE_DEN} * least(sa, sb) >= {NDE_NUM} * greatest(sa, sb)
        AND ({NDE_NUM} + {NDE_DEN}) * (npfx + least(sa - mxa, sb - mxb))
              >= {NDE_NUM} * (sa + sb)
    ),
    garr AS MATERIALIZED (SELECT doc_id, list(g) AS arr FROM grams GROUP BY doc_id),
    truth AS MATERIALIZED (
      SELECT c.da AS doc_a, c.db AS doc_b
      FROM candf c
      JOIN garr ga ON ga.doc_id = c.da
      JOIN garr gb ON gb.doc_id = c.db
      WHERE ({NDE_NUM} + {NDE_DEN}) * len(list_intersect(ga.arr, gb.arr))
              >= {NDE_NUM} * (c.sa + c.sb)
    )"""


@query(
    "q185_neardup_eval",
    oracle=f"""
    WITH cand AS MATERIALIZED ({_lsh_pairs_sql()}),
    {_nde_truth_sql()},
    nt AS (SELECT cast(count(*) as bigint) AS n_true FROM truth),
    nc AS (SELECT cast(count(*) as bigint) AS n_cand FROM cand),
    nh AS (
      SELECT cast(count(*) as bigint) AS n_hit
      FROM truth t JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    )
    SELECT 'minhash_{NUM_HASHES}x{NUM_BANDS}' AS method,
           nt.n_true AS n_true, nc.n_cand AS n_cand, nh.n_hit AS n_hit,
           cast(nh.n_hit as double) / cast(nc.n_cand as double) AS precision_at_tau,
           cast(nh.n_hit as double) / cast(nt.n_true as double) AS recall_at_tau
    FROM nt, nc, nh
    """,
    doc=f"Near-dup pipeline evaluation — the dedup twin of q171's ANN recall: ground truth = EXACT distinct-3-gram Jaccard >= {NDE_NUM}/{NDE_DEN} pairs via the q147 prefix-filter bound (complete by construction), system under test = q32's MinHash-LSH candidate pairs ({NUM_HASHES} hashes, {NUM_BANDS} bands, bucket cap {MAX_BUCKET}); one-row report of candidate precision/recall at the LSH design threshold, so signature/band choices and the skew cap are MEASURED, not assumed.",
    tags=("dedup", "evaluation", "lsh"),
)
def q185_neardup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A dedup deployment's two knobs — band shape (speed/recall) and
    the bucket skew cap (the 10^10-pair bomb guard) — both TRADE
    RECALL; this lane prices them against exact ground truth the way
    q171 prices ANN probes. Truth comes from the AllPairs prefix
    bound (q147's operator, here on the 3-gram shingle space the LSH
    actually hashes), so the truth side is itself sub-quadratic and
    runs at corpus scale — no brute-force all-pairs anywhere.

    Scale shape: truth shuffles (rare-gram, doc) prefix pairs and
    verifies by per-pair array intersect on candidates only; the LSH
    side is q32's band shuffle; the eval joins two (doc_a, doc_b)
    integer pair lists and reduces to ONE row — three broadcast-able
    singleton aggregates. Precision/recall are single int/int IEEE
    divisions (exact-count numerators/denominators)."""
    from pandamapreduce_spark.caching import scoped_persist

    docs = load_table(spark, sf_dir, "documents", spread=True)
    grams = scoped_persist(
        docs.select("doc_id", F.explode(F.array_distinct(word_ngrams("text", 3))).alias("g"))
    )
    gdf = grams.groupBy("g").agg(F.count(F.lit(1)).cast("bigint").alias("dfreq"))
    gsz = grams.groupBy("doc_id").agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy("dfreq", "g")
    prefix_len = F.col("sz") - F.expr(f"({NDE_NUM} * sz + {NDE_DEN - 1}) div {NDE_DEN}") + 1
    prefix = scoped_persist(
        grams.join(gdf, "g")
        .join(gsz, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= prefix_len)
        .select("doc_id", "g")
    )
    a, b = prefix.alias("a"), prefix.alias("b")
    candp = (
        a.join(b, (F.col("a.g") == F.col("b.g")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db"))
        .distinct()
    )
    arrs = grams.groupBy("doc_id").agg(F.collect_list("g").alias("arr"))
    aa = arrs.select(
        F.col("doc_id").alias("da"), F.col("arr").alias("arr_a"),
        F.size("arr").cast("bigint").alias("size_a"),
    )
    bb = arrs.select(
        F.col("doc_id").alias("db"), F.col("arr").alias("arr_b"),
        F.size("arr").cast("bigint").alias("size_b"),
    )
    truth = scoped_persist(
        candp.join(aa, "da")
        .join(bb, "db")
        .select(
            "da", "db",
            F.size(F.array_intersect("arr_a", "arr_b")).cast("bigint").alias("ov"),
            "size_a", "size_b",
        )
        .where(
            F.lit(NDE_NUM + NDE_DEN) * F.col("ov")
            >= F.lit(NDE_NUM) * (F.col("size_a") + F.col("size_b"))
        )
        .select(F.col("da").alias("doc_a"), F.col("db").alias("doc_b"))
    )
    cand = scoped_persist(_lsh_pairs_df(spark, sf_dir).select("doc_a", "doc_b"))
    nt = truth.agg(F.count(F.lit(1)).cast("bigint").alias("n_true"))
    nc = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_cand"))
    nh = truth.join(cand, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hit")
    )
    return (
        nt.crossJoin(F.broadcast(nc))
        .crossJoin(F.broadcast(nh))
        .select(
            F.lit(f"minhash_{NUM_HASHES}x{NUM_BANDS}").alias("method"),
            "n_true",
            "n_cand",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_cand").cast("double")).alias(
                "precision_at_tau"
            ),
            (F.col("n_hit").cast("double") / F.col("n_true").cast("double")).alias(
                "recall_at_tau"
            ),
        )
    )
