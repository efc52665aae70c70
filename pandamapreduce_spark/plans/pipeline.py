"""The showcase composition: a full training-data cleaning pipeline —
quality filter → language filter → exact dedup → near-dup removal →
corpus stats — as ONE declarative engine query with a DuckDB oracle.

This is what the engine is FOR at 100 TB: every stage is one of the
already-verified operators (q24 quality, q25 lang, q31 dedup, q32/q33
LSH), composed so Catalyst plans the whole thing end-to-end —
filters before hashes, hash-only shuffles, candidate-only verification.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pandamapreduce_spark.catalog import load_table
from pandamapreduce_spark.functions import (
    hex16_sql,
    normalize_text,
    normalize_text_sql,
    tokens,
    tokens_sql,
    word_ngrams,
    word_ngrams_sql,
)
from pandamapreduce_spark.operators.prefix import range_prefix
from pandamapreduce_spark.plans.dedup import MAX_BUCKET, _lsh_pairs_sql
from pandamapreduce_spark.plans.numeric import davg, davg_sql
from pandamapreduce_spark.plans.registry import query

MIN_TOKENS = 20
MIN_ALPHA = 0.5
KEEP_LANGS = ("en", "de", "es", "fr")


@query(
    "q80_clean_corpus",
    oracle=f"""
    WITH quality AS (
      SELECT doc_id, lang, text,
             len({tokens_sql("text")}) AS n_tokens,
             (cast(length(regexp_replace(text, '[^a-z]', '', 'g')) as double)
                / cast(length(text) as double)) AS alpha_ratio
      FROM documents
    ),
    filtered AS (
      SELECT * FROM quality
      WHERE n_tokens >= {MIN_TOKENS} AND alpha_ratio >= {MIN_ALPHA}
        AND lang IN ({", ".join(f"'{lang}'" for lang in KEEP_LANGS)})
    ),
    exact_keep AS (
      SELECT min(doc_id) AS doc_id FROM filtered GROUP BY md5({normalize_text_sql("text")})
    ),
    near_dups AS (
      SELECT DISTINCT doc_b AS doc_id FROM ({_lsh_pairs_sql("filtered")})
    ),
    kept AS (
      SELECT f.* FROM filtered f
      JOIN exact_keep e ON f.doc_id = e.doc_id
      WHERE f.doc_id NOT IN (SELECT doc_id FROM near_dups)
    )
    SELECT lang, count(*) AS n_docs, cast(sum(n_tokens) as bigint) AS total_tokens,
           min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
    FROM kept GROUP BY lang ORDER BY lang
    """,
    doc="End-to-end corpus cleaning: quality + language filters, exact dedup (normalized), LSH near-dup removal, per-language stats.",
    bench=True,
    tags=("pipeline", "dedup", "text", "quality"),
)
def q80_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale shape: the quality/language filters are map-only and run
    FIRST (cheapest, highest selectivity) — and the LSH near-dup stage
    runs on the FILTERED survivors only, so the expensive shingle
    explode never touches rejected documents. Exact dedup shuffles only
    (hash, doc_id); near-dup removal joins against the candidate-pair
    ids (tiny); stats are one partial-agg shuffle. Document bodies
    never shuffle."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = tokens("text")
    quality = docs.select(
        "doc_id",
        "lang",
        "text",
        F.size(toks).alias("n_tokens"),
        (F.length(F.regexp_replace(F.col("text"), "[^a-z]", "")).cast("double") / F.length("text").cast("double")).alias(
            "alpha_ratio"
        ),
    )
    from pandamapreduce_spark.caching import scoped_persist

    # scoped: three branches (exact hash, LSH shingles, final join)
    # consume the filtered projection — uncached, each re-scans and
    # re-tokenizes the corpus; at 100 TB that is two extra full scans
    # vs a disk-backed cache of the ~filtered half. Released at the
    # next registry dispatch.
    filtered = scoped_persist(
        quality.where(
            (F.col("n_tokens") >= MIN_TOKENS) & (F.col("alpha_ratio") >= MIN_ALPHA) & (F.col("lang").isin(*KEEP_LANGS))
        )
    )
    from pandamapreduce_spark.operators.dedup_ops import minhash_band_pairs

    exact_keep = filtered.groupBy(F.md5(normalize_text("text")).alias("h")).agg(F.min("doc_id").alias("doc_id"))
    near_dups = (
        minhash_band_pairs(filtered.select("doc_id", "text"), max_bucket_size=MAX_BUCKET)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    kept = (
        filtered.join(exact_keep.select("doc_id"), "doc_id", "left_semi")
        .join(near_dups, "doc_id", "left_anti")
    )
    return (
        kept.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
        .orderBy("lang")
    )


# --- train/val/test splitting --------------------------------------------

SPLIT_BUCKETS = 100
TRAIN_PCT, VAL_PCT = 90, 5  # remainder = test


@query(
    "q85_train_split",
    oracle=f"""
    WITH assigned AS (
      SELECT doc_id,
             cast(concat('0x', substr(md5(cast(doc_id as varchar)), 1, 15)) as bigint)
               % {SPLIT_BUCKETS} AS bucket,
             len({{toks}}) AS n_tokens
      FROM documents
    ),
    labeled AS (
      SELECT CASE WHEN bucket < {TRAIN_PCT} THEN 'train'
                  WHEN bucket < {TRAIN_PCT + VAL_PCT} THEN 'val'
                  ELSE 'test' END AS split,
             n_tokens
      FROM assigned
    )
    SELECT split, count(*) AS n_docs, cast(sum(n_tokens) as bigint) AS total_tokens
    FROM labeled GROUP BY split ORDER BY split
    """.format(toks=tokens_sql("text")),
    doc="Deterministic content-hash train/val/test split (md5-bucket assignment, stable across runs/cluster sizes) with per-split token accounting.",
    tags=("pipeline", "sampling"),
)
def q85_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training pipelines need splits that are STABLE — a document
    keeps its split across reruns, engine versions, and cluster
    sizes — so assignment must be a pure function of identity, never
    of partition layout or RNG state. md5(doc_id) mod 100 gives that:
    map-only, no shuffle until the final 3-group partial agg. (Spark's
    ``df.sample``/``randomSplit`` are partition-layout-dependent —
    exactly what a reproducible pipeline must avoid.)"""
    from pandamapreduce_spark.functions import hex16

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(hex16(F.col("doc_id").cast("string")), F.lit(SPLIT_BUCKETS))
    split = (
        F.when(bucket < TRAIN_PCT, "train").when(bucket < TRAIN_PCT + VAL_PCT, "val").otherwise("test")
    )
    return (
        docs.select(split.alias("split"), F.size(tokens("text")).alias("n_tokens"))
        .groupBy("split")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("n_tokens").cast("bigint").alias("total_tokens"))
        .orderBy("split")
    )


# --- quality binning ------------------------------------------------------


@query(
    "q86_quality_deciles",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang,
             len({tokens_sql("text")}) AS n_tokens,
             coalesce(cast(length(regexp_replace(text, '[^a-z]', '', 'g')) as double)
                        / nullif(cast(length(text) as double), 0.0), -1.0) AS alpha_ratio
      FROM documents
    ),
    binned AS (
      SELECT lang, n_tokens, alpha_ratio,
             ntile(10) OVER (PARTITION BY lang ORDER BY alpha_ratio, doc_id) AS decile
      FROM scored
    )
    SELECT lang, decile, count(*) AS n_docs,
           {davg_sql("alpha_ratio")} AS avg_alpha,
           min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
    FROM binned GROUP BY lang, decile ORDER BY lang, decile
    """,
    doc="Per-language quality deciles (ntile over a spilling window sort) with per-bin stats — curriculum/quality-mix accounting.",
    bench=True,
    tags=("pipeline", "quality", "window"),
)
def q86_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-mix accounting for curriculum construction: rank each
    language's documents by quality score, cut into deciles, report
    per-bin composition. Scale: the window partitions by ``lang`` —
    parallel across languages, and the per-partition sort SPILLS
    (same rank-selection posture as q28; no group buffering). For
    global deciles over one giant partition, the sketch path (q66
    approx boundaries → range bucketing) is the 100 TB variant.
    Ordering ties break on doc_id so ntile is deterministic; null
    scores (empty text) coalesce to -1 = decile 1."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        F.size(tokens("text")).alias("n_tokens"),
        F.coalesce(
            F.length(F.regexp_replace(F.col("text"), "[^a-z]", "")).cast("double")
            / F.nullif(F.length("text").cast("double"), F.lit(0.0)),
            F.lit(-1.0),
        ).alias("alpha_ratio"),
    )
    w = Window.partitionBy("lang").orderBy("alpha_ratio", "doc_id")
    return (
        scored.withColumn("decile", F.ntile(10).over(w))
        .groupBy("lang", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            davg("alpha_ratio").alias("avg_alpha"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("lang", "decile")
    )


# --- global quality deciles (distributed exact rank) ----------------------

@query(
    "q100_global_quality_deciles",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             len({tokens_sql("text")}) AS n_tokens,
             coalesce(cast(length(regexp_replace(text, '[^a-z]', '', 'g')) as double)
                        / nullif(cast(length(text) as double), 0.0), -1.0) AS alpha_ratio
      FROM documents
    ),
    binned AS (
      SELECT n_tokens, alpha_ratio,
             cast(ntile(10) OVER (ORDER BY alpha_ratio, doc_id) as int) AS decile
      FROM scored
    )
    SELECT decile, count(*) AS n_docs,
           {davg_sql("alpha_ratio")} AS avg_alpha,
           min(n_tokens) AS min_tokens, max(n_tokens) AS max_tokens
    FROM binned GROUP BY decile ORDER BY decile
    """,
    doc="GLOBAL quality deciles via distributed exact rank (range partition + per-range row_number + driver prefix) — ntile semantics without a single-partition window.",
    tags=("pipeline", "quality", "rank"),
)
def q100_global_quality_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q86's global form. A naive global ``ntile(10)`` is a
    single-partition window — one task sorts the corpus. Here the
    global rank comes from the engine's distributed-rank pattern
    (q90/q96): range-partition on the full rank key
    ``(alpha_ratio, doc_id)``, row_number within each range in
    parallel, and per-range base offsets from one bounded driver
    collect (one row per range). The ntile bucket is then pure
    integer arithmetic on (rank, total) — buckets 1..(T mod 10) get
    ``T div 10 + 1`` rows, the rest ``T div 10`` — exactly DuckDB's
    ntile, so the oracle hash-matches.

    Scale: one range exchange of (score, id, tokens) triples, fully
    parallel per-range sorts (spill-capable), ~PREFIX_RANGES rows to
    the driver. Result invariant to the range boundaries.
    """
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        F.size(tokens("text")).alias("n_tokens"),
        F.coalesce(
            F.length(F.regexp_replace(F.col("text"), "[^a-z]", "")).cast("double")
            / F.nullif(F.length("text").cast("double"), F.lit(0.0)),
            F.lit(-1.0),
        ).alias("alpha_ratio"),
    )
    parts, total, _ = range_prefix(scored, ["alpha_ratio", "doc_id"])
    tq, tr = total // 10, total % 10
    w = Window.partitionBy("_pid").orderBy("alpha_ratio", "doc_id")
    rk = (F.row_number().over(w).cast("bigint") + F.col("_base")).alias("rk")
    big_cut = tr * (tq + 1)  # ranks ≤ big_cut land in the +1-sized buckets
    decile = (
        F.when(F.col("rk") <= big_cut, F.expr(f"(rk - 1) div {tq + 1}"))
        .otherwise(F.expr(f"{tr} + (rk - 1 - {big_cut}) div {max(tq, 1)}"))
        .cast("int")
        + 1
    )
    return (
        parts.select("n_tokens", "alpha_ratio", rk)
        .withColumn("decile", decile)
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            davg("alpha_ratio").alias("avg_alpha"),
            F.min("n_tokens").alias("min_tokens"),
            F.max("n_tokens").alias("max_tokens"),
        )
        .orderBy("decile")
    )


# --- hybrid near-dup ------------------------------------------------------

HYBRID_COS = 0.93


def _hybrid_oracle() -> str:
    from pandamapreduce_spark.functions.vector import cosine_sql

    return f"""
    WITH lex AS (
      SELECT doc_a, doc_b, 'lexical' AS method FROM ({_lsh_pairs_sql("documents")})
    ),
    sem AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, 'semantic' AS method
      FROM embeddings a JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {cosine_sql("a.embedding", "b.embedding")} >= {HYBRID_COS}
    ),
    allp AS (SELECT * FROM lex UNION ALL SELECT * FROM sem)
    SELECT doc_a, doc_b, string_agg(method, '+' ORDER BY method) AS methods
    FROM allp GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b
    """


@query(
    "q87_hybrid_neardup",
    oracle=_hybrid_oracle(),
    doc="Hybrid near-dup: lexical MinHash-LSH pairs ∪ semantic embedding-cosine pairs, one row per pair with the detecting method(s).",
    tags=("pipeline", "dedup", "embedding"),
)
def q87_hybrid_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real cleaning pipelines run BOTH detectors: lexical LSH catches
    boilerplate/copy-paste, embedding cosine catches paraphrase.
    Lexical side is the capped LSH bucket reduce (q32); the semantic
    side REUSES q35's blocked cogroup-grid pair scan
    (`_emb_neardup_pairs`, tau=HYBRID_COS) — the label self-join it
    shipped through round 9 was the exact scale trap the sf1 sweep
    caught in q35: block size grows linearly with the corpus, work
    quadratically, and AQE coalesces the label-bucket partitions by
    input bytes into ~2 tasks (measured 1548 s at sf1 vs 66 s for the
    ANN twin q87b). The grid splits each label into B×B cogrouped
    Arrow tasks with the bitwise-IEEE cosine kernel, so emitted values
    are unchanged (DuckDB-oracle pytest; sf1: 1548 s → seconds).
    The union then groups by pair, so a pair found by both methods
    reports 'lexical+semantic'. Methods aggregate as a '+'-joined
    sorted string (not an array — scalar columns canonicalize
    cleanly). For real corpora the semantic block key is an LSH
    bucket rather than a label — that form is q87b, the documented
    production path."""
    from pandamapreduce_spark.operators.dedup_ops import minhash_band_pairs
    from pandamapreduce_spark.plans.dedup import _emb_neardup_pairs

    docs = load_table(spark, sf_dir, "documents", spread=True)
    lex = (
        minhash_band_pairs(docs, max_bucket_size=MAX_BUCKET)
        .select("doc_a", "doc_b", F.lit("lexical").alias("method"))
    )
    emb = load_table(spark, sf_dir, "embeddings")
    sem = _emb_neardup_pairs(emb, tau=HYBRID_COS, sort=False).select(
        F.col("vec_a").alias("doc_a"),
        F.col("vec_b").alias("doc_b"),
        F.lit("semantic").alias("method"),
    )
    return (
        lex.unionByName(sem)
        .groupBy("doc_a", "doc_b")
        .agg(F.concat_ws("+", F.sort_array(F.collect_set("method"))).alias("methods"))
        .orderBy("doc_a", "doc_b")
    )


def _hybrid_ann_oracle() -> str:
    from pandamapreduce_spark.functions.vector import cosine_sql
    from pandamapreduce_spark.plans.similarity import _bucket_sql

    emb_b = f"(SELECT vec_id, embedding, {_bucket_sql('embedding')} AS bucket FROM embeddings)"
    return f"""
    WITH lex AS (
      SELECT doc_a, doc_b, 'lexical' AS method FROM ({_lsh_pairs_sql("documents")})
    ),
    sem AS (
      SELECT a.vec_id AS doc_a, b.vec_id AS doc_b, 'semantic' AS method
      FROM {emb_b} a JOIN {emb_b} b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      WHERE {cosine_sql("a.embedding", "b.embedding")} >= {HYBRID_COS}
    ),
    allp AS (SELECT * FROM lex UNION ALL SELECT * FROM sem)
    SELECT doc_a, doc_b, string_agg(method, '+' ORDER BY method) AS methods
    FROM allp GROUP BY doc_a, doc_b ORDER BY doc_a, doc_b
    """


@query(
    "q87b_hybrid_neardup_ann",
    oracle=_hybrid_ann_oracle(),
    doc="Hybrid near-dup with sub-quadratic semantic side: lexical MinHash-LSH pairs ∪ sign-LSH-bucket-blocked embedding-cosine pairs.",
    tags=("pipeline", "dedup", "embedding", "ann"),
)
def q87b_hybrid_neardup_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q87's sub-quadratic form: the semantic side blocks on the
    sign-LSH bucket (q41's 8 md5-seeded hyperplanes → 8-bit key)
    instead of the data-dependent ``label`` — an equi-join on the
    bucket key, never a label self-join, so no single dominant label
    can go quadratic. Cosine ≥ {HYBRID_COS} pairs whose signs differ
    on ≥1 hyperplane are the documented ANN recall tradeoff (the
    multi-probe expansion in q74 is the recall knob); the oracle
    applies the identical blocking, so the check is exact.

    Scale: lexical side is the capped LSH bucket reduce (q32); the
    semantic side shuffles (vec_id, bucket, embedding) once on the
    256-value bucket key with per-bucket work O(n_b²) over ~uniform
    hyperplane buckets — sign bits of md5 hyperplanes are not
    population-skewed the way labels/domains are.
    """
    from pandamapreduce_spark.functions.vector import cosine
    from pandamapreduce_spark.operators.dedup_ops import minhash_band_pairs
    from pandamapreduce_spark.plans.similarity import _bucket_col

    docs = load_table(spark, sf_dir, "documents", spread=True)
    lex = (
        minhash_band_pairs(docs, max_bucket_size=MAX_BUCKET)
        .select("doc_a", "doc_b", F.lit("lexical").alias("method"))
    )
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding", _bucket_col("embedding").alias("bucket")
    )
    a, b = emb.alias("a"), emb.alias("b")
    cos = cosine(F.col("a.embedding"), F.col("b.embedding"))
    sem = (
        a.join(b, (F.col("a.bucket") == F.col("b.bucket")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        .select(F.col("a.vec_id").alias("doc_a"), F.col("b.vec_id").alias("doc_b"), cos.alias("cos_sim"))
        .where(F.col("cos_sim") >= HYBRID_COS)
        .select("doc_a", "doc_b", F.lit("semantic").alias("method"))
    )
    return (
        lex.unionByName(sem)
        .groupBy("doc_a", "doc_b")
        .agg(F.concat_ws("+", F.sort_array(F.collect_set("method"))).alias("methods"))
        .orderBy("doc_a", "doc_b")
    )


# --- PII scrubbing --------------------------------------------------------

#: conservative patterns valid in BOTH Java regex (Spark) and RE2
#: (DuckDB): no backreferences, no lookaround. Replacement order is
#: fixed (email → ip → digit-run) so overlapping matches resolve
#: identically on both engines.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_DIGITRUN = r"\b\d{9,}\b"  # SSNs, account/phone number runs


@query(
    "q98_pii_scrub",
    oracle=f"""
    SELECT doc_id,
           cast(len(regexp_extract_all(text, '{PII_EMAIL}')) as int) AS n_emails,
           cast(len(regexp_extract_all(text, '{PII_IPV4}')) as int) AS n_ips,
           cast(len(regexp_extract_all(text, '{PII_DIGITRUN}')) as int) AS n_digit_runs,
           md5(regexp_replace(regexp_replace(regexp_replace(text,
               '{PII_EMAIL}', '<EMAIL>', 'g'),
               '{PII_IPV4}', '<IP>', 'g'),
               '{PII_DIGITRUN}', '<NUM>', 'g')) AS scrub_hash
    FROM documents
    ORDER BY doc_id
    """,
    doc="PII scrubbing: redact emails / IPv4s / long digit runs to typed placeholders; per-doc counts + md5 of scrubbed text (map-only).",
    tags=("pipeline", "pii", "text"),
)
def q98_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data PII pass: replace emails, IPv4 addresses, and
    ≥9-digit runs with typed placeholders. Counts come from the RAW
    text per pattern (independent detectors — an email containing a
    digit run reports both); the value check is the md5 of the fully
    scrubbed text, which verifies every replacement byte-for-byte
    without hauling document bodies through the comparator. Every doc
    emits a row (the synthetic corpus is digit-free, so the oracle
    check proves the no-false-positive path; redaction semantics on
    real PII strings are pinned by ``tests/test_properties.py``).

    Scale: map-only Catalyst regexps — no shuffle, no Python; the
    patterns avoid constructs that diverge between Java regex and
    RE2, so the oracle runs the identical program.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", PII_EMAIL, "<EMAIL>"),
            PII_IPV4,
            "<IP>",
        ),
        PII_DIGITRUN,
        "<NUM>",
    )
    return docs.select(
        "doc_id",
        F.regexp_count("text", F.lit(PII_EMAIL)).alias("n_emails"),
        F.regexp_count("text", F.lit(PII_IPV4)).alias("n_ips"),
        F.regexp_count("text", F.lit(PII_DIGITRUN)).alias("n_digit_runs"),
        F.md5(scrubbed).alias("scrub_hash"),
    ).orderBy("doc_id")


# --- contamination / decontamination --------------------------------------

EVAL_DOCS = 20  # doc_id < 20 plays the benchmark/eval set
CONTAM_NGRAM = 4  # 4-word grams: dense enough on the synthetic corpus to exercise the check; real pipelines use 8-13


@query(
    "q88_contamination",
    oracle=f"""
    WITH eval_grams AS (
      SELECT DISTINCT unnest({{grams}}) AS g FROM documents WHERE doc_id < {EVAL_DOCS}
    ),
    train AS (
      SELECT doc_id, unnest({{grams}}) AS g FROM documents WHERE doc_id >= {EVAL_DOCS}
    ),
    per_doc AS (
      SELECT t.doc_id,
             count(*) AS n_grams,
             count(e.g) AS n_hit
      FROM train t LEFT JOIN eval_grams e ON t.g = e.g
      GROUP BY t.doc_id
    )
    SELECT doc_id, n_grams, n_hit,
           cast(n_hit as double) / cast(n_grams as double) AS contam_ratio
    FROM per_doc
    WHERE n_hit > 0
    ORDER BY contam_ratio DESC, doc_id
    LIMIT 50
    """.format(grams=word_ngrams_sql("text", CONTAM_NGRAM)),
    doc=f"Benchmark-contamination scan: per-train-doc {CONTAM_NGRAM}-gram overlap ratio against the eval set's n-gram universe; top contaminated docs.",
    bench=True,
    tags=("pipeline", "contamination", "text"),
)
def q88_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination is a standard step before training: any doc
    sharing long n-grams with an eval benchmark must be flagged.
    Scale shape: the EVAL side's distinct n-grams are tiny (benchmarks
    are small by definition) → broadcast; each train doc's n-grams are
    matched map-side with NO shuffle of n-gram strings — the only
    exchange is the per-doc count aggregation keyed on doc_id. A
    100 TB corpus streams once; left join against the broadcast set
    (count hits) replaces a semi-join so the per-doc denominator and
    numerator come from one pass."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    grams = word_ngrams("text", CONTAM_NGRAM)
    eval_grams = (
        docs.where(F.col("doc_id") < EVAL_DOCS)
        .select(F.explode(grams).alias("g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    train = docs.where(F.col("doc_id") >= EVAL_DOCS).select("doc_id", F.explode(grams).alias("g"))
    per_doc = (
        train.join(F.broadcast(eval_grams), "g", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"), F.count("__hit").alias("n_hit"))
    )
    return (
        per_doc.where(F.col("n_hit") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_hit",
            (F.col("n_hit").cast("double") / F.col("n_grams").cast("double")).alias("contam_ratio"),
        )
        .orderBy(F.col("contam_ratio").desc(), "doc_id")
        .limit(50)
    )


# --- stratified sampling --------------------------------------------------

#: per-language sampling rates (percent) — the data-mixing knob of a
#: training pipeline; languages not listed keep DEFAULT_RATE
STRATA_RATES = {"en": 80, "de": 40, "es": 25, "fr": 10}
DEFAULT_RATE = 50


def _rate_case_sql() -> str:
    whens = " ".join(f"WHEN '{lang}' THEN {r}" for lang, r in STRATA_RATES.items())
    return f"CASE lang {whens} ELSE {DEFAULT_RATE} END"


@query(
    "q89_stratified_sample",
    oracle=f"""
    WITH assigned AS (
      SELECT lang,
             len({tokens_sql("text")}) AS n_tokens,
             cast(concat('0x', substr(md5(concat(lang, ':', cast(doc_id as varchar))), 1, 15)) as bigint)
               % 100 AS bucket,
             {_rate_case_sql()} AS rate_pct
      FROM documents
    )
    SELECT lang, count(*) AS n_sampled, cast(sum(n_tokens) as bigint) AS total_tokens
    FROM assigned WHERE bucket < rate_pct
    GROUP BY lang ORDER BY lang
    """,
    doc="Deterministic stratified sampling: per-language rates via md5-bucket thresholding (data-mixing knob); per-stratum counts and token budget.",
    tags=("pipeline", "sampling"),
)
def q89_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data mixing for training runs: downsample each language at its
    own rate, DETERMINISTICALLY — membership is a pure function of
    (lang, doc_id), so reruns, retries, and cluster-size changes keep
    the identical sample (df.sample cannot promise that). Seeding the
    hash with the stratum key makes strata independent: a document's
    bucket in 'en' is uncorrelated with what it would be in 'de'.
    Map-only until the per-stratum agg — one tiny shuffle."""
    from pandamapreduce_spark.functions import hex16

    docs = load_table(spark, sf_dir, "documents")
    bucket = F.pmod(hex16(F.concat(F.col("lang"), F.lit(":"), F.col("doc_id").cast("string"))), F.lit(100))
    rate = F.lit(DEFAULT_RATE)
    for lang, r in STRATA_RATES.items():
        rate = F.when(F.col("lang") == lang, r).otherwise(rate)
    return (
        docs.select("lang", F.size(tokens("text")).alias("n_tokens"), bucket.alias("bucket"), rate.alias("rate_pct"))
        .where(F.col("bucket") < F.col("rate_pct"))
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.sum("n_tokens").cast("bigint").alias("total_tokens"))
        .orderBy("lang")
    )


# --- q106: final corpus materialization (the whole pipeline, doc-level) ---

CONTAM_MAX = 0.5  # drop a train doc when > half its 4-grams hit the eval set


@query(
    "q106_final_corpus",
    oracle=f"""
    WITH quality AS (
      SELECT doc_id, lang, source, text,
             len({tokens_sql("text")}) AS n_tokens,
             (cast(length(regexp_replace(text, '[^a-z]', '', 'g')) as double)
                / cast(length(text) as double)) AS alpha_ratio
      FROM documents
    ),
    filtered AS (
      SELECT * FROM quality
      WHERE n_tokens >= {MIN_TOKENS} AND alpha_ratio >= {MIN_ALPHA}
        AND lang IN ({", ".join(f"'{lang}'" for lang in KEEP_LANGS)})
    ),
    exact_keep AS (
      SELECT min(doc_id) AS doc_id FROM filtered GROUP BY md5({normalize_text_sql("text")})
    ),
    near_dups AS (
      SELECT DISTINCT doc_b AS doc_id FROM ({_lsh_pairs_sql("filtered")})
    ),
    eval_grams AS (
      SELECT DISTINCT unnest({word_ngrams_sql("text", CONTAM_NGRAM)}) AS g
      FROM documents WHERE doc_id < {EVAL_DOCS}
    ),
    train_grams AS (
      SELECT doc_id, unnest({word_ngrams_sql("text", CONTAM_NGRAM)}) AS g
      FROM documents WHERE doc_id >= {EVAL_DOCS}
    ),
    contaminated AS (
      SELECT t.doc_id
      FROM train_grams t LEFT JOIN eval_grams e ON t.g = e.g
      GROUP BY t.doc_id
      HAVING cast(count(e.g) as double) / cast(count(*) as double) > {CONTAM_MAX}
    ),
    kept AS (
      SELECT f.* FROM filtered f
      JOIN exact_keep e ON f.doc_id = e.doc_id
      WHERE f.doc_id NOT IN (SELECT doc_id FROM near_dups)
        AND f.doc_id >= {EVAL_DOCS}
        AND f.doc_id NOT IN (SELECT doc_id FROM contaminated)
    )
    SELECT doc_id, lang, source, cast(n_tokens as bigint) AS n_tokens, md5(text) AS text_md5
    FROM kept ORDER BY doc_id
    """,
    doc="Final training-corpus materialization: quality + language filters, exact dedup, LSH near-dup removal, eval-set exclusion AND decontamination — doc-level output with content md5.",
    bench=True,  # north-star composed pipeline: per-round perf signal (VERDICT r3 #5)
    tags=("pipeline", "dedup", "contamination", "quality"),
)
def q106_final_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The artifact the whole engine exists to produce: the cleaned,
    deduplicated, decontaminated training corpus as a doc-level table
    (content-addressed via md5 so the materialization is value-checked,
    not just counted). Extends q80's cleaning composition with the two
    eval-safety stages: eval docs themselves leave the corpus, and any
    train doc whose {CONTAM_NGRAM}-gram overlap with the eval set
    exceeds {CONTAM_MAX} is dropped — even when its exact/near-dup
    survivor status would have kept it.

    Scale shape: all of q80's properties hold (filters first, LSH on
    survivors only, hash-only shuffles); the contamination stage adds
    one broadcast of the eval n-gram universe (benchmarks are small by
    definition) and one doc_id-keyed count shuffle. The three
    exclusion sets (near-dups, contaminated, non-representatives)
    join as semi/anti joins on doc_id — document bodies still never
    shuffle."""
    from pandamapreduce_spark.caching import scoped_persist
    from pandamapreduce_spark.operators.dedup_ops import minhash_band_pairs

    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = tokens("text")
    quality = docs.select(
        "doc_id",
        "lang",
        "source",
        "text",
        F.size(toks).alias("n_tokens"),
        (F.length(F.regexp_replace(F.col("text"), "[^a-z]", "")).cast("double") / F.length("text").cast("double")).alias(
            "alpha_ratio"
        ),
    )
    filtered = scoped_persist(
        quality.where(
            (F.col("n_tokens") >= MIN_TOKENS) & (F.col("alpha_ratio") >= MIN_ALPHA) & (F.col("lang").isin(*KEEP_LANGS))
        )
    )
    exact_keep = filtered.groupBy(F.md5(normalize_text("text")).alias("h")).agg(F.min("doc_id").alias("doc_id"))
    near_dups = (
        minhash_band_pairs(filtered.select("doc_id", "text"), max_bucket_size=MAX_BUCKET)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )
    grams = word_ngrams("text", CONTAM_NGRAM)
    eval_grams = (
        docs.where(F.col("doc_id") < EVAL_DOCS)
        .select(F.explode(grams).alias("g"))
        .distinct()
        .withColumn("__hit", F.lit(1))
    )
    train_grams = docs.where(F.col("doc_id") >= EVAL_DOCS).select("doc_id", F.explode(grams).alias("g"))
    contaminated = (
        train_grams.join(F.broadcast(eval_grams), "g", "left")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_grams"), F.count("__hit").alias("n_hit"))
        .where(F.col("n_hit").cast("double") / F.col("n_grams").cast("double") > CONTAM_MAX)
        .select("doc_id")
    )
    kept = (
        filtered.where(F.col("doc_id") >= EVAL_DOCS)
        .join(exact_keep.select("doc_id"), "doc_id", "left_semi")
        .join(near_dups, "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
    )
    return (
        kept.select(
            "doc_id",
            "lang",
            "source",
            F.col("n_tokens").cast("bigint").alias("n_tokens"),
            F.md5("text").alias("text_md5"),
        )
        .orderBy("doc_id")
    )


# --- cross-document duplicate-n-gram fraction ----------------------------

DUP_NGRAM = 4  # same density rationale as CONTAM_NGRAM on the synthetic corpus


@query(
    "q113_dup_ngram_fraction",
    oracle=f"""
    WITH grams AS (
      SELECT doc_id, {{h}} AS h FROM (
        SELECT doc_id, unnest({{grams}}) AS g FROM documents
      )
    ),
    dfreq AS (SELECT h, count(*) AS c FROM grams GROUP BY h),
    per_doc AS (
      SELECT g.doc_id,
             count(*) AS n_grams,
             cast(count_if(d.c >= 2) as bigint) AS n_dup
      FROM grams g JOIN dfreq d USING (h)
      GROUP BY g.doc_id
    )
    SELECT doc_id, n_grams, n_dup,
           cast(n_dup as double) / cast(n_grams as double) AS dup_frac
    FROM per_doc
    WHERE n_dup > 0
    ORDER BY dup_frac DESC, doc_id
    LIMIT 100
    """.format(grams=word_ngrams_sql("text", DUP_NGRAM), h=hex16_sql("g")),
    doc=f"Cross-document duplicate-{DUP_NGRAM}-gram fraction per doc (Gopher/RefinedWeb-style dup-ngram metric): share of a doc's distinct {DUP_NGRAM}-grams that appear in 2+ docs.",
    bench=True,  # dedup-diagnostic per-round perf signal (VERDICT r3 #5)
    tags=("pipeline", "dedup", "text"),
)
def q113_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide duplicated-n-gram scoring, the cross-document
    counterpart of q93's within-document repetition (Rae et al.,
    Gopher, and RefinedWeb both gate training docs on it).

    Two shuffles, both on the 8-byte gram hash — never on text:
    (1) ``groupBy(h)`` computes each gram's document frequency with
    map-side partial counts; (2) the grams relation re-joins the
    ``dfreq >= 2`` survivors (AQE broadcasts them when small) and
    reduces per doc. At 100 TB the gram relation is the corpus ×
    ~n_tokens, but only hashes move, partial aggs halve the exchange,
    and no operator buffers a whole document's grams beyond the
    codegen'd distinct-array builder (reference combiner analogue:
    ``apps/wordcount/wc_api.cu:89-96``)."""
    from pandamapreduce_spark.functions import hex16

    docs = load_table(spark, sf_dir, "documents", spread=True)
    grams = docs.select(
        "doc_id", F.explode(word_ngrams("text", DUP_NGRAM)).alias("g")
    ).select("doc_id", hex16(F.col("g")).alias("h"))
    dfreq = grams.groupBy("h").agg(F.count(F.lit(1)).alias("c"))
    return (
        grams.join(dfreq, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count_if(F.col("c") >= 2).alias("n_dup"),
        )
        .where(F.col("n_dup") > 0)
        .select(
            "doc_id",
            "n_grams",
            "n_dup",
            (F.col("n_dup").cast("double") / F.col("n_grams").cast("double")).alias("dup_frac"),
        )
        .orderBy(F.col("dup_frac").desc(), "doc_id")
        .limit(100)
    )


# --- q118: longest duplicated token span per document ---------------------

SPAN_GRAM = 4  # same gram size as q113's dup fraction


@query(
    "q118_dup_span",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, {{toks}} AS toks FROM documents
    ),
    posu AS (
      SELECT doc_id, toks,
             unnest(generate_series(1, len(toks) - {SPAN_GRAM} + 1)) AS p
      FROM tok
    ),
    pos AS (
      SELECT doc_id, p, {{h}} AS h FROM (
        SELECT doc_id, p,
               array_to_string(list_slice(toks, p, p + {SPAN_GRAM} - 1), ' ') AS g
        FROM posu
      )
    ),
    dup AS (
      SELECT h FROM (SELECT DISTINCT doc_id, h FROM pos)
      GROUP BY h HAVING count(*) >= 2
    ),
    dpos AS (
      SELECT p.doc_id, p.p,
             p.p - row_number() OVER (PARTITION BY p.doc_id ORDER BY p.p) AS grp
      FROM pos p JOIN dup d USING (h)
    ),
    runs AS (
      SELECT doc_id, count(*) AS run FROM dpos GROUP BY doc_id, grp
    ),
    per_doc AS (
      SELECT r.doc_id,
             max(r.run) AS max_run,
             sum(r.run) AS n_dup_grams
      FROM runs r GROUP BY r.doc_id
    )
    SELECT doc_id,
           cast(max_run + {SPAN_GRAM} - 1 as bigint) AS max_dup_span_tokens,
           cast(n_dup_grams as bigint) AS n_dup_grams
    FROM per_doc
    ORDER BY max_dup_span_tokens DESC, doc_id
    LIMIT 100
    """.format(h=hex16_sql("g"), toks=tokens_sql("text")),
    doc=f"Longest duplicated token span per doc: positional {SPAN_GRAM}-grams shared by 2+ docs, collapsed to maximal consecutive runs (gaps-and-islands) — the span-level exact-substring dedup diagnostic (Lee et al. dedup spans).",
    bench=True,  # span-dedup diagnostic; tracks the offsets-only gram layout
    tags=("pipeline", "dedup", "text"),
)
def q118_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where q113 scores HOW MUCH of a doc is duplicated, this locates
    the duplication: positional n-grams whose hash appears in ≥2
    distinct documents are collapsed into maximal consecutive runs via
    the gaps-and-islands trick (p - row_number(p) is constant within a
    run), and the longest run converts back to a token-span length.

    Scale shape: positional grams shuffle as 8-byte hashes with their
    int positions; the cross-doc dup set is (distinct doc, h) → partial
    agg; the islands window partitions by doc_id — each doc's dup
    positions sort locally, no global sort. Top-k via TakeOrdered."""
    from pyspark.sql import Window

    from pandamapreduce_spark.functions import hex16

    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = tokens("text")
    base = docs.select("doc_id", toks.alias("toks")).where(F.size("toks") >= SPAN_GRAM)
    # Offsets-only layout: hash every positional gram INSIDE the array
    # world (one transform over the index sequence), then explode only
    # 16-byte (p, h) structs — the generator never duplicates the
    # per-row token array across its n_positions output rows. Each
    # lambda element does one slice+concat+md5 — inherent per-gram
    # work, evaluated once per position (HOF eval-count discipline).
    grams = F.transform(
        F.sequence(F.lit(1), F.size("toks") - SPAN_GRAM + 1),
        lambda p: F.struct(
            p.alias("p"),
            hex16(F.concat_ws(" ", F.slice(F.col("toks"), p, F.lit(SPAN_GRAM)))).alias("h"),
        ),
    )
    pos = base.select("doc_id", F.explode(grams).alias("ph")).select(
        "doc_id", F.col("ph.p").alias("p"), F.col("ph.h").alias("h")
    )
    dup = (
        pos.select("doc_id", "h")
        .distinct()
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("nd"))
        .where(F.col("nd") >= 2)
        .select("h")
    )
    w = Window.partitionBy("doc_id").orderBy("p")
    dpos = pos.join(dup, "h", "left_semi").withColumn("grp", F.col("p") - F.row_number().over(w))
    runs = dpos.groupBy("doc_id", "grp").agg(F.count(F.lit(1)).alias("run"))
    return (
        runs.groupBy("doc_id")
        .agg(
            (F.max("run") + SPAN_GRAM - 1).cast("bigint").alias("max_dup_span_tokens"),
            F.sum("run").cast("bigint").alias("n_dup_grams"),
        )
        .orderBy(F.col("max_dup_span_tokens").desc(), "doc_id")
        .limit(100)
    )


# --- q163: cross-source quantile normalization ----------------------------


@query(
    "q163_quantile_normalize",
    oracle="""
    WITH g AS (
      SELECT n_chars, row_number() OVER (ORDER BY n_chars, doc_id) AS grk,
             count(*) OVER () AS n
      FROM documents
    ),
    s AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS r,
             count(*) OVER (PARTITION BY source) AS ns
      FROM documents
    )
    SELECT s.doc_id, s.source, s.n_chars,
           cast(s.r as double) / cast(s.ns as double) AS src_pct,
           g.n_chars AS norm_chars
    FROM s JOIN g
      ON g.grk = (s.r * (SELECT max(n) FROM g) + s.ns - 1) // s.ns
    ORDER BY s.doc_id
    """,
    doc="Cross-source quantile normalization (the ML-preprocessing distribution aligner): each document's n_chars maps to the GLOBAL value at its within-source percentile — per-source rank r of n_s maps to the global order statistic at nearest-rank position ceil(r*N/n_s), pure integer index algebra (no float quantile interpolation, ties broken (value, doc_id) identically everywhere); the Spark global rank is the engine's distributed-rank pattern (range partition + per-range row_number + bounded driver prefix), while the oracle ranks with a naive global window — parity proves the distributed rank exact.",
    tags=("pipeline", "quantile", "normalize", "rank"),
)
def q163_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization forces every source's value distribution
    onto the corpus-wide one (batch-effect removal — sources with
    systematically short/long docs become comparable before quality
    thresholds apply). Mapping: doc at within-source rank r of n_s →
    global order statistic #ceil(r·N/n_s) (nearest-rank, exact
    integers: (r·N + n_s − 1) div n_s; r = n_s gives exactly N).
    Exactness: no float quantile interpolation anywhere; src_pct is
    the one pinned int/int division; total order (n_chars, doc_id) is
    deterministic under ties. Scale shape: the global order statistic
    relation comes from ONE range exchange + per-range row_number +
    a PREFIX_RANGES-row driver prefix (q100's machinery — never a
    single-partition window); the per-source rank is a per-source
    window (spill-capable); the final mapping is an integer equi-join
    of N rows against the N-row order-statistic relation. r·N stays
    < 2^63 up to ~3e9 docs per source at 1e9 corpus size; beyond that
    the index algebra lifts to decimal unchanged."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    parts, total, _ = range_prefix(docs, ["n_chars", "doc_id"])
    wg = Window.partitionBy("_pid").orderBy("n_chars", "doc_id")
    glob = parts.select(
        (F.row_number().over(wg).cast("bigint") + F.col("_base")).alias("grk"),
        F.col("n_chars").alias("norm_chars"),
    )
    ws = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    wn = Window.partitionBy("source")
    src = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(ws).cast("bigint").alias("r"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("ns"),
    )
    # integer ceil-div: (r*N + ns - 1) div ns — keep it in longs
    g_pos = F.expr(f"(r * {total} + ns - 1) div ns")
    return (
        src.withColumn("grk", g_pos)
        .join(glob, "grk")
        .select(
            "doc_id",
            "source",
            "n_chars",
            (F.col("r").cast("double") / F.col("ns").cast("double")).alias("src_pct"),
            "norm_chars",
        )
        .orderBy("doc_id")
    )


# --- q177: RFM customer segmentation ---------------------------------------


def _global_ntile(df: DataFrame, value_col: str, id_col: str, k: int, out: str) -> DataFrame:
    """Exact global ``ntile(k)`` over (value, id) WITHOUT a
    single-partition window — the shared ``range_prefix`` machinery
    (range-partition on the full rank key, row_number within each
    range in parallel, per-range base offsets broadcast-joined back
    from one bounded driver collect), then ntile as pure integer
    arithmetic on (rank, total) — bitwise DuckDB ntile semantics."""
    from pyspark.sql import Window

    parts, total, _ = range_prefix(df, [value_col, id_col])
    tq, tr = total // k, total % k
    w = Window.partitionBy("_pid").orderBy(value_col, id_col)
    rk = (F.row_number().over(w).cast("bigint") + F.col("_base")).alias("_rk")
    big_cut = tr * (tq + 1)
    bucket = (
        F.when(F.col("_rk") <= big_cut, F.expr(f"(_rk - 1) div {tq + 1}"))
        .otherwise(F.expr(f"{tr} + (_rk - 1 - {big_cut}) div {max(tq, 1)}"))
        .cast("int")
        + 1
    )
    return parts.select(id_col, rk).withColumn(out, bucket).drop("_rk", "_pid")


@query(
    "q177_rfm_segments",
    oracle="""
    WITH cust AS (
      SELECT o_custkey AS ck,
             cast(max(cast(o_orderdate as date)) - DATE '1992-01-01' as bigint) AS r_days,
             cast(count(*) as bigint) AS f,
             cast(sum(cast(round(o_totalprice * 100) as decimal(19,0))) as decimal(19,0)) AS cents
      FROM orders GROUP BY 1
    ),
    scored AS (
      SELECT ck, cents,
             cast(ntile(5) OVER (ORDER BY r_days, ck) as int) AS r_score,
             cast(ntile(5) OVER (ORDER BY f, ck) as int) AS f_score,
             cast(ntile(5) OVER (ORDER BY cents, ck) as int) AS m_score
      FROM cust
    )
    SELECT r_score, f_score, m_score,
           cast(count(*) as bigint) AS n_customers,
           cast(sum(cents) as double) / 100.0 AS revenue
    FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
    doc="RFM customer segmentation: per-customer recency (last order day) / frequency (order count) / monetary (exact cents) quintiled 1-5 by exact global rank (q100's distributed-rank pattern — NO single-partition ntile window), segment report with customer counts and exact revenue; quintile 5 = most recent / most frequent / top spend.",
    tags=("pipeline", "segmentation", "rank"),
)
def q177_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic marketing-warehouse segmentation: score every
    customer 1-5 on Recency, Frequency, Monetary by data quantiles,
    then size the 125 segments ("R5F5M5" = champions, "R1F5M5" =
    at-risk big spenders). Three exact global quintiles — each via the
    engine's distributed-rank pattern (range exchange + parallel
    per-range row_number + one 64-row driver collect), never a
    single-partition ntile window; ties broken by custkey so the
    ranking is a total order and DuckDB's ntile hash-matches.

    Float contract: revenue is exact integer cents summed as decimal,
    ONE division by 100 at the end. Scale shape: the per-customer
    profile is one orders-keyed partial agg; each quintile pass
    exchanges only (custkey, metric) pairs; the segment report is at
    most 125 rows."""
    o = load_table(spark, sf_dir, "orders")
    cust = o.groupBy(F.col("o_custkey").alias("ck")).agg(
        F.datediff(F.max(F.to_date("o_orderdate")), F.lit("1992-01-01").cast("date"))
        .cast("bigint")
        .alias("r_days"),
        F.count(F.lit(1)).cast("bigint").alias("f"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("decimal(19,0)"))
        .cast("decimal(19,0)")
        .alias("cents"),
    )
    from pandamapreduce_spark.caching import scoped_persist

    cust = scoped_persist(cust)
    r = _global_ntile(cust.select("ck", "r_days"), "r_days", "ck", 5, "r_score")
    f = _global_ntile(cust.select("ck", "f"), "f", "ck", 5, "f_score")
    m = _global_ntile(cust.select("ck", "cents"), "cents", "ck", 5, "m_score")
    return (
        cust.select("ck", "cents")
        .join(r.select("ck", "r_score"), "ck")
        .join(f.select("ck", "f_score"), "ck")
        .join(m.select("ck", "m_score"), "ck")
        .groupBy("r_score", "f_score", "m_score")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            (F.sum("cents").cast("double") / F.lit(100.0)).alias("revenue"),
        )
        .orderBy("r_score", "f_score", "m_score")
    )


# --- q189: Pareto / ABC contribution analysis --------------------------------

ABC_A_PCT, ABC_B_PCT = 80, 95  # cumulative-revenue class boundaries (integer %)


@query(
    "q189_pareto_abc",
    bench=True,  # per-round signal for the distributed exact prefix sum
    oracle=f"""
    WITH rev AS (
      SELECT l_partkey,
             cast(sum(cast(round(l_extendedprice * 100) as decimal(19,0))) as bigint) AS cents
      FROM lineitem GROUP BY 1
    ),
    t AS (SELECT cast(sum(cents) as bigint) AS total FROM rev),
    c AS (
      SELECT l_partkey, cents,
             sum(cents) OVER (ORDER BY cents DESC, l_partkey
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
      FROM rev
    ),
    cls AS (
      SELECT CASE WHEN 100 * cum <= {ABC_A_PCT} * t.total THEN 'A'
                  WHEN 100 * cum <= {ABC_B_PCT} * t.total THEN 'B'
                  ELSE 'C' END AS abc_class,
             cents, t.total AS total
      FROM c, t
    )
    SELECT abc_class,
           cast(count(*) as bigint) AS n_parts,
           cast(sum(cents) as double) / 100.0 AS revenue,
           cast(sum(cents) as double) / cast(max(total) as double) AS revenue_share
    FROM cls GROUP BY abc_class ORDER BY abc_class
    """,
    doc=f"Pareto / ABC classification of parts by revenue: exact-cents cumulative revenue in (revenue DESC, partkey) order, class A = parts within the first {ABC_A_PCT}% of total revenue, B within {ABC_B_PCT}%, C the tail — boundaries tested as pure integer comparisons (100*cum <= pct*total); the Spark cumulative sum is a DISTRIBUTED exact prefix sum (range exchange + per-range running sum + bounded per-range offset collect — q100's rank pattern extended to sums), the oracle a naive global window, parity proving the distributed prefix exact.",
    tags=("pipeline", "analytics", "rank"),
)
def q189_pareto_abc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 80/20 inventory/assortment staple. The interesting part at
    scale is the CUMULATIVE sum: a naive cumulative window over all
    parts is a single-partition sort (the q100 anti-pattern). Here the
    prefix sum distributes exactly like the rank: range-partition on
    the full order key (-cents, partkey), per-range running sums in
    parallel, and each range's BASE offset = the exact integer sum of
    all earlier ranges, broadcast-joined back from the shared
    ``range_prefix`` collect (one row per range). Class membership
    then never touches a float: 100*cum <= pct*total in int64 (cents
    fit comfortably — 100*total ~ 1e17 at 100 TB vs 9.2e18 int64 max).

    Scale shape: one partkey partial-agg exchange + one range exchange
    of (cents, partkey) pairs; the report is 3 rows."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = (
        li.groupBy("l_partkey")
        .agg(
            F.sum(F.round(F.col("l_extendedprice") * 100).cast("decimal(19,0)"))
            .cast("bigint")
            .alias("cents")
        )
        .withColumn("neg", -F.col("cents"))
    )
    parts, _, total = range_prefix(rev, ["neg", "l_partkey"], sum_col="cents")
    from pyspark.sql import Window

    w = (
        Window.partitionBy("_pid")
        .orderBy("neg", "l_partkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = (F.sum("cents").over(w) + F.col("_base_sum")).alias("cum")
    cls = (
        F.when(100 * F.col("cum") <= F.lit(ABC_A_PCT * total), "A")
        .when(100 * F.col("cum") <= F.lit(ABC_B_PCT * total), "B")
        .otherwise("C")
    )
    return (
        parts.select("cents", cum)
        .withColumn("abc_class", cls)
        .groupBy("abc_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_parts"),
            (F.sum("cents").cast("double") / F.lit(100.0)).alias("revenue"),
            (F.sum("cents").cast("double") / F.lit(float(total))).alias("revenue_share"),
        )
        .orderBy("abc_class")
    )


# --- q194: winsorized per-source statistics (value-histogram percentiles) ----

WINSOR_LO_PCT, WINSOR_HI_PCT = 1, 99  # nearest-rank clip points (integer %)


@query(
    "q194_winsorize",
    oracle=f"""
    WITH hist AS (
      SELECT source, n_chars, cast(count(*) as bigint) AS c
      FROM documents GROUP BY 1, 2
    ),
    cum AS (
      SELECT source, n_chars, c,
             sum(c) OVER (PARTITION BY source ORDER BY n_chars
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cc,
             sum(c) OVER (PARTITION BY source) AS n_s
      FROM hist
    ),
    thresholds AS (
      SELECT source,
             min(CASE WHEN 100 * cc >= {WINSOR_LO_PCT} * n_s THEN n_chars END) AS lo_val,
             min(CASE WHEN 100 * cc >= {WINSOR_HI_PCT} * n_s THEN n_chars END) AS hi_val
      FROM cum GROUP BY source
    )
    SELECT d.source,
           cast(count(*) as bigint) AS n_docs,
           cast(t.lo_val as bigint) AS lo_val,
           cast(t.hi_val as bigint) AS hi_val,
           cast(sum(CASE WHEN d.n_chars < t.lo_val THEN 1 ELSE 0 END) as bigint) AS n_clip_low,
           cast(sum(CASE WHEN d.n_chars > t.hi_val THEN 1 ELSE 0 END) as bigint) AS n_clip_high,
           cast(sum(d.n_chars) as double) / cast(count(*) as double) AS mean_raw,
           cast(sum(CASE WHEN d.n_chars < t.lo_val THEN t.lo_val
                         WHEN d.n_chars > t.hi_val THEN t.hi_val
                         ELSE d.n_chars END) as double) / cast(count(*) as double)
             AS mean_winsorized
    FROM documents d JOIN thresholds t ON d.source = t.source
    GROUP BY d.source, t.lo_val, t.hi_val
    ORDER BY d.source
    """,
    doc=f"Winsorized per-source length statistics: nearest-rank P{WINSOR_LO_PCT}/P{WINSOR_HI_PCT} clip thresholds computed from the per-(source, value) HISTOGRAM — the cumulative window runs over the bounded distinct-value domain (a few hundred rows), never over corpus rows, so the percentile pass is scale-free; clip counts and raw-vs-winsorized means in exact integers with one division each — the outlier-robust preprocessing stats a length-based quality filter should be tuned on.",
    tags=("pipeline", "stats", "preprocessing"),
)
def q194_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization (clip, don't drop) is the standard robust
    preprocessing for heavy-tailed features; the engineering content
    here is WHERE the percentile comes from: ranking corpus rows
    per source is the q100 anti-pattern, but n_chars has a BOUNDED
    value domain, so the exact nearest-rank threshold falls out of a
    (source, value) histogram — one partial-agg exchange whose output
    is value-domain-sized, then a cumulative window over those few
    hundred rows. 100*cc >= pct*n_s keeps the rank test in integers.

    The clip pass re-joins the BROADCAST per-source thresholds; means
    are exact integer sums with one final division each. At 100 TB
    only the two partial aggs grow — the histogram trick is how
    production engines (and q128's stats collector) do percentiles on
    low-cardinality columns."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    hist = docs.groupBy("source", "n_chars").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wcum = (
        Window.partitionBy("source")
        .orderBy("n_chars")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("source")
    cum = hist.withColumn("cc", F.sum("c").over(wcum)).withColumn("n_s", F.sum("c").over(wall))
    thresholds = cum.groupBy("source").agg(
        F.min(
            F.when(100 * F.col("cc") >= WINSOR_LO_PCT * F.col("n_s"), F.col("n_chars"))
        ).alias("lo_val"),
        F.min(
            F.when(100 * F.col("cc") >= WINSOR_HI_PCT * F.col("n_s"), F.col("n_chars"))
        ).alias("hi_val"),
    )
    clipped = F.when(F.col("n_chars") < F.col("lo_val"), F.col("lo_val")).when(
        F.col("n_chars") > F.col("hi_val"), F.col("hi_val")
    ).otherwise(F.col("n_chars"))
    return (
        docs.join(F.broadcast(thresholds), "source")
        .groupBy("source", "lo_val", "hi_val")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n_chars") < F.col("lo_val"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clip_low"),
            F.sum(F.when(F.col("n_chars") > F.col("hi_val"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_clip_high"),
            (F.sum("n_chars").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "mean_raw"
            ),
            (F.sum(clipped).cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "mean_winsorized"
            ),
        )
        .select(
            "source",
            "n_docs",
            F.col("lo_val").cast("bigint").alias("lo_val"),
            F.col("hi_val").cast("bigint").alias("hi_val"),
            "n_clip_low",
            "n_clip_high",
            "mean_raw",
            "mean_winsorized",
        )
        .orderBy("source")
    )


# --- q197: dataset card (one-row corpus profile) ------------------------------


@query(
    "q197_dataset_card",
    oracle=f"""
    WITH base AS (
      SELECT cast(count(*) as bigint) AS n_docs,
             cast(count(DISTINCT source) as bigint) AS n_sources,
             cast(count(DISTINCT lang) as bigint) AS n_langs,
             cast(sum(len({tokens_sql("text")})) as bigint) AS total_tokens,
             cast(sum(n_chars) as double) / cast(count(*) as double) AS mean_chars,
             {davg_sql("cast(length(regexp_replace(text, '[^a-z]', '', 'g')) as double) / cast(length(text) as double)")}
               AS mean_alpha,
             cast(count(*) - count(DISTINCT md5(text)) as bigint) AS n_exact_dups
      FROM documents
    ),
    hist AS (
      SELECT n_chars, cast(count(*) as bigint) AS c FROM documents GROUP BY 1
    ),
    med AS (
      SELECT cast(min(CASE WHEN 2 * cc >= n THEN n_chars END) as bigint) AS p50_chars
      FROM (
        SELECT n_chars,
               sum(c) OVER (ORDER BY n_chars ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS cc,
               sum(c) OVER () AS n
        FROM hist
      )
    )
    SELECT b.n_docs, b.n_sources, b.n_langs, b.total_tokens,
           b.mean_chars, m.p50_chars, b.mean_alpha, b.n_exact_dups,
           cast(b.n_exact_dups as double) / cast(b.n_docs as double) AS exact_dup_rate
    FROM base b, med m
    """,
    doc="Dataset card: the one-row corpus profile a training-data release ships — doc/source/language counts, total tokens, mean and MEDIAN length (median from the bounded value histogram, q194's trick — no row-level rank anywhere), mean alphabetic ratio (exact decimal-sum average), and the exact-duplicate count/rate (docs minus distinct md5) — every number the q80/q106 filter decisions are justified by, in one scan-shaped query.",
    tags=("pipeline", "profiling", "analytics"),
)
def q197_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every corpus release ships a dataset card; every number on it
    must be reproducible from the data. This lane computes the core
    table in two partial-agg exchanges: one global aggregate row
    (counts, token mass, exact-decimal mean alpha, md5-distinct dup
    count — the q30 shuffle shape: hashes, never bodies) and one
    value-histogram median (the q194 trick: the cumulative window
    runs over distinct n_chars values, a few hundred rows, so the
    exact nearest-rank median costs nothing at any corpus size).

    Exactness: integers throughout; mean_chars is one int/int
    division; mean_alpha is the davg contract (exact decimal sum,
    round-6, one division); dup rate one more division."""
    from pandamapreduce_spark.functions import tokens
    from pandamapreduce_spark.plans.numeric import davg
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-z]", "")).cast(
        "double"
    ) / F.length("text").cast("double")
    base = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.count_distinct("source").cast("bigint").alias("n_sources"),
        F.count_distinct("lang").cast("bigint").alias("n_langs"),
        F.sum(F.size(tokens("text"))).cast("bigint").alias("total_tokens"),
        (F.sum("n_chars").cast("double") / F.count(F.lit(1)).cast("double")).alias(
            "mean_chars"
        ),
        davg(alpha).alias("mean_alpha"),
        (F.count(F.lit(1)) - F.count_distinct(F.md5("text"))).cast("bigint").alias(
            "n_exact_dups"
        ),
    )
    hist = docs.groupBy("n_chars").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wcum = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wall = Window.partitionBy()
    med = (
        hist.withColumn("cc", F.sum("c").over(wcum))
        .withColumn("n", F.sum("c").over(wall))
        .agg(
            F.min(F.when(2 * F.col("cc") >= F.col("n"), F.col("n_chars")))
            .cast("bigint")
            .alias("p50_chars")
        )
    )
    return base.crossJoin(F.broadcast(med)).select(
        "n_docs",
        "n_sources",
        "n_langs",
        "total_tokens",
        "mean_chars",
        "p50_chars",
        "mean_alpha",
        "n_exact_dups",
        (F.col("n_exact_dups").cast("double") / F.col("n_docs").cast("double")).alias(
            "exact_dup_rate"
        ),
    )


# --- q202: Gini coefficient of revenue concentration --------------------------


@query(
    "q202_gini",
    oracle="""
    WITH rev AS (
      SELECT l_partkey,
             cast(sum(cast(round(l_extendedprice * 100) as decimal(19,0))) as bigint) AS cents
      FROM lineitem GROUP BY 1
    ),
    r AS (
      SELECT cents,
             cast(row_number() OVER (ORDER BY cents, l_partkey) as bigint) AS i
      FROM rev
    ),
    s AS (
      SELECT cast(count(*) as decimal(38,0)) AS n,
             cast(sum(cents) as decimal(38,0)) AS tot,
             sum(cast(i as decimal(12,0)) * cast(cents as decimal(24,0))) AS siw
      FROM r
    )
    SELECT cast(n as bigint) AS n_parts,
           cast(tot as double) / 100.0 AS total_revenue,
           cast(2 * siw - (n + 1) * tot as double) / cast(n * tot as double) AS gini
    FROM s
    """,
    doc="Gini coefficient of part-revenue concentration: G = (2*Σ(i*x_i) - (n+1)*Σx) / (n*Σx) over ascending exact-cents ranks — every product an exact decimal integer (rank x cents overflows int64 at scale, hence decimal(12,0)*decimal(24,0)), ONE final division; the Spark rank comes from the q100/q189 distributed-rank pattern (range exchange + per-range row_number + bounded offset collect), the oracle from a naive global window — parity proves the distributed rank exact. The single-number twin of q189's ABC classes.",
    tags=("pipeline", "analytics", "rank"),
)
def q202_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The concentration summary execs quote next to the ABC table:
    0 = revenue spread evenly across parts, ->1 = one part is the
    business. The closed rank form needs a GLOBAL ascending rank —
    the q189 machinery reversed — after which Gini is three exact
    decimal sums (n, Σx, Σ i*x) and one division. Sizing: i ≤ 1e9
    parts (decimal(12,0)) times cents ≤ 1e15 (decimal(24,0)) keeps
    the product at 37 digits — within 38 on BOTH engines, the q200
    precision-loss lesson applied at design time.

    Scale shape: one partkey partial agg, one range exchange of
    (cents, partkey) pairs, per-range ranks + one bounded offset
    collect (broadcast-joined back, the shared ``range_prefix``), a
    3-value final aggregate."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(F.round(F.col("l_extendedprice") * 100).cast("decimal(19,0)"))
        .cast("bigint")
        .alias("cents")
    )
    parts, _, _ = range_prefix(rev, ["cents", "l_partkey"])
    from pyspark.sql import Window

    w = Window.partitionBy("_pid").orderBy("cents", "l_partkey")
    i = (F.row_number().over(w).cast("bigint") + F.col("_base")).alias("i")
    ranked = parts.select("cents", i)
    s = ranked.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("cents").cast("decimal(38,0)").alias("tot"),
        F.sum(F.col("i").cast("decimal(12,0)") * F.col("cents").cast("decimal(24,0)")).alias(
            "siw"
        ),
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_parts"),
        (F.col("tot").cast("double") / F.lit(100.0)).alias("total_revenue"),
        (
            (2 * F.col("siw") - (F.col("n") + 1) * F.col("tot")).cast("double")
            / (F.col("n") * F.col("tot")).cast("double")
        ).alias("gini"),
    )
