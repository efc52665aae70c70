"""Training-data pipeline operators beyond cleaning/dedup: sequence
packing, source mixture rebalancing, boilerplate block detection,
intra-document repetition scoring, and near-dup cluster resolution.

These are the ops a 100 TB pretraining pipeline runs AFTER the q80
cleaning pass: pack documents into fixed token-budget sequences,
rebalance the source mixture to a token budget, drop boilerplate,
score repetition (Gopher-style), and collapse near-dup pairs into
clusters with one canonical survivor. Reference parity: the reference
has no analogue (its apps stop at wordcount/terasort/C-means,
`apps/` — see SURVEY §2.2); these extend the engine per the task's
LLM-pipeline mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pandamapreduce_spark.caching import iterate, scoped_persist
from pandamapreduce_spark.catalog import load_table
from pandamapreduce_spark.functions import hex16, tokens, tokens_sql
from pandamapreduce_spark.operators.prefix import range_prefix
from pandamapreduce_spark.plans.registry import REGISTRY, query

# --- q90: sequence packing (concat-and-chunk) -----------------------------

PACK_TOKENS = 512


def _pack_spans(t: DataFrame) -> DataFrame:
    """``(doc_id, n_tokens)`` -> each doc's exact global token offset
    (exclusive prefix sum in doc_id order, via ``range_prefix``) and
    the span of PACK_TOKENS-token packs it lands in. Shared by q90 and
    q208."""
    parts, _, _ = range_prefix(t, ["doc_id"], sum_col="n_tokens")
    w = Window.partitionBy("_pid").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    return (
        parts.select(
            "doc_id",
            "n_tokens",
            (F.coalesce(F.sum("n_tokens").over(w), F.lit(0)) + F.col("_base_sum"))
            .cast("bigint")
            .alias("start_offset"),
        )
        .withColumn("pack_first", F.expr(f"start_offset div {PACK_TOKENS}"))
        .withColumn(
            "pack_last", F.expr(f"(start_offset + greatest(n_tokens, 1) - 1) div {PACK_TOKENS}")
        )
        .withColumn("n_packs", F.col("pack_last") - F.col("pack_first") + F.lit(1).cast("bigint"))
        .orderBy("doc_id")
    )


@query(
    "q90_sequence_packing",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, cast(len({tokens_sql("text")}) as bigint) AS n_tokens FROM documents
    ),
    o AS (
      SELECT doc_id, n_tokens,
             cast(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) as bigint) AS start_offset
      FROM t
    )
    SELECT doc_id, n_tokens, start_offset,
           start_offset // {PACK_TOKENS} AS pack_first,
           (start_offset + greatest(n_tokens, 1) - 1) // {PACK_TOKENS} AS pack_last,
           ((start_offset + greatest(n_tokens, 1) - 1) // {PACK_TOKENS})
             - (start_offset // {PACK_TOKENS}) + 1 AS n_packs
    FROM o ORDER BY doc_id
    """,
    doc=f"Concat-and-chunk sequence packing: global token offsets via distributed prefix sum, {PACK_TOKENS}-token packs.",
    tags=("training", "packing"),
)
def q90_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style packing: concatenate the corpus in doc_id order and
    chunk into fixed {PACK_TOKENS}-token sequences; each document maps
    to its [start_offset, start_offset + n_tokens) token span and the
    pack range it lands in.

    Scale shape — the global running sum is a DISTRIBUTED prefix sum,
    not a single-partition window: the shared ``range_prefix``
    range-partitions by doc_id, collects one (range, token-sum) row
    per range to the driver, and broadcast-joins each range's base
    offset back onto a per-range cumulative window (parallel across
    ranges). The result is invariant to the range boundaries, so
    AQE/cluster-size changes don't move any offset.
    """
    docs = load_table(spark, sf_dir, "documents")
    return _pack_spans(docs.select("doc_id", F.size(tokens("text")).cast("bigint").alias("n_tokens")))


# --- q91: source mixture rebalancing --------------------------------------

MIX_NUM, MIX_DEN = 1, 2  # keep ~half the corpus token budget


@query(
    "q91_source_mixture",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, cast(len({tokens_sql("text")}) as bigint) AS n_tokens FROM documents
    ),
    per_src AS (
      SELECT source, cast(sum(n_tokens) as bigint) AS src_tokens FROM t GROUP BY source
    ),
    tot AS (
      SELECT cast(sum(src_tokens) as bigint) AS total_tokens,
             cast(count(*) as bigint) AS n_sources
      FROM per_src
    ),
    rates AS (
      SELECT source, src_tokens,
             cast(floor(least(1.0,
               cast((total_tokens * {MIX_NUM}) // ({MIX_DEN} * n_sources) as double)
                 / cast(src_tokens as double)) * 1000000) as bigint) AS thresh_ppm
      FROM per_src, tot
    )
    SELECT r.source, r.src_tokens, r.thresh_ppm,
           cast(count(*) as bigint) AS n_sampled,
           cast(sum(t.n_tokens) as bigint) AS sampled_tokens
    FROM t JOIN rates r ON t.source = r.source
    WHERE cast(concat('0x', substr(md5(concat(t.source, ':', cast(t.doc_id as varchar))), 1, 15)) as bigint)
            % 1000000 < r.thresh_ppm
    GROUP BY r.source, r.src_tokens, r.thresh_ppm
    ORDER BY r.source
    """,
    doc="Source-mixture rebalancing: equal per-source token budget, deterministic ppm-hash sampling; per-source achieved counts.",
    tags=("training", "sampling", "mixture"),
)
def q91_source_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing for a token budget: give every source the same
    target share of MIX_NUM/MIX_DEN of the corpus tokens, downsample
    over-represented sources to it deterministically (hash-ppm — a
    pure function of (source, doc_id), so reruns and cluster resizes
    keep the identical sample), keep under-budget sources whole.

    Scale shape: per-source token totals are one partial-agg shuffle
    of ~|sources| rows; the rate table is tiny and broadcast back onto
    the fact side; membership is map-only. The rate math stays in
    integer token counts until a single exactly-reproducible double
    division, so the ppm threshold is bit-identical on any engine.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "source", F.size(tokens("text")).cast("bigint").alias("n_tokens"))
    per_src = t.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    tot = per_src.agg(
        F.sum("src_tokens").alias("total_tokens"), F.count(F.lit(1)).alias("n_sources")
    )
    rates = (
        per_src.crossJoin(F.broadcast(tot))
        .withColumn("budget", F.expr(f"(total_tokens * {MIX_NUM}) div ({MIX_DEN} * n_sources)"))
        .select(
            "source",
            "src_tokens",
            F.floor(
                F.least(F.lit(1.0), F.col("budget").cast("double") / F.col("src_tokens").cast("double"))
                * 1000000
            )
            .cast("bigint")
            .alias("thresh_ppm"),
        )
    )
    bucket = F.pmod(hex16(F.concat(F.col("source"), F.lit(":"), F.col("doc_id").cast("string"))), F.lit(1000000))
    return (
        t.join(F.broadcast(rates), "source")
        .where(bucket < F.col("thresh_ppm"))
        .groupBy("source", "src_tokens", "thresh_ppm")
        .agg(F.count(F.lit(1)).alias("n_sampled"), F.sum("n_tokens").alias("sampled_tokens"))
        .orderBy("source")
    )


# --- q99: temperature-based mixture sampling ------------------------------

TEMP_NUM, TEMP_DEN = 1, 2  # overall token budget: half the corpus


@query(
    "q99_temperature_mixture",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, source, cast(len({tokens_sql("text")}) as bigint) AS n_tokens FROM documents
    ),
    per_src AS (
      SELECT source, cast(sum(n_tokens) as bigint) AS src_tokens FROM t GROUP BY source
    ),
    w AS (
      SELECT source, src_tokens,
             cast(floor(sqrt(cast(src_tokens as double))) as bigint) AS weight
      FROM per_src
    ),
    tot AS (
      SELECT cast(sum(src_tokens) as bigint) AS total_tokens,
             cast(sum(weight) as bigint) AS total_weight
      FROM w
    ),
    rates AS (
      SELECT source, src_tokens,
             cast(floor(least(1.0,
               cast((total_tokens * {TEMP_NUM} // {TEMP_DEN}) * weight // total_weight as double)
                 / cast(src_tokens as double)) * 1000000) as bigint) AS thresh_ppm
      FROM w, tot
    )
    SELECT r.source, r.src_tokens, r.thresh_ppm,
           cast(count(*) as bigint) AS n_sampled,
           cast(sum(t.n_tokens) as bigint) AS sampled_tokens
    FROM t JOIN rates r ON t.source = r.source
    WHERE cast(concat('0x', substr(md5(concat('temp:', t.source, ':', cast(t.doc_id as varchar))), 1, 15)) as bigint)
            % 1000000 < r.thresh_ppm
    GROUP BY r.source, r.src_tokens, r.thresh_ppm
    ORDER BY r.source
    """,
    doc="Temperature mixture sampling (alpha=0.5): per-source token budgets proportional to sqrt(src_tokens), deterministic ppm-hash membership.",
    tags=("training", "sampling", "mixture"),
)
def q99_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual/multi-source temperature sampling — the standard
    alpha-smoothed mixture (GPT-3/PaLM style, alpha = 0.5): source s
    gets a share of the token budget proportional to src_tokens^alpha,
    flattening the head and boosting the tail relative to proportional
    sampling. q91 is the equal-share limit (alpha → 0); this is the
    tempered middle.

    Determinism across engines: weights are floor(sqrt(tokens)) —
    sqrt is IEEE-correctly-rounded in both Spark and DuckDB, floor
    pins the one ulp that could differ — and all share math stays in
    bigint (budget·weight // total_weight) until the single double
    division that q91 also makes before the ppm floor. Membership is
    the same md5-ppm hash, salted 'temp:' so q91 and q99 samples are
    independent.

    Scale shape: identical to q91 — one |sources|-row partial-agg
    shuffle, broadcast rate table, map-only membership.
    """
    docs = load_table(spark, sf_dir, "documents")
    t = docs.select("doc_id", "source", F.size(tokens("text")).cast("bigint").alias("n_tokens"))
    per_src = t.groupBy("source").agg(F.sum("n_tokens").alias("src_tokens"))
    w = per_src.withColumn("weight", F.floor(F.sqrt(F.col("src_tokens").cast("double"))).cast("bigint"))
    tot = w.agg(
        F.sum("src_tokens").alias("total_tokens"), F.sum("weight").alias("total_weight")
    )
    rates = (
        w.crossJoin(F.broadcast(tot))
        .withColumn(
            "budget",
            F.expr(f"((total_tokens * {TEMP_NUM}) div {TEMP_DEN}) * weight div total_weight"),
        )
        .select(
            "source",
            "src_tokens",
            F.floor(
                F.least(F.lit(1.0), F.col("budget").cast("double") / F.col("src_tokens").cast("double"))
                * 1000000
            )
            .cast("bigint")
            .alias("thresh_ppm"),
        )
    )
    member = F.pmod(
        hex16(F.concat(F.lit("temp:"), F.col("source"), F.lit(":"), F.col("doc_id").cast("string"))),
        F.lit(1000000),
    )
    return (
        t.join(F.broadcast(rates), "source")
        .where(member < F.col("thresh_ppm"))
        .groupBy("source", "src_tokens", "thresh_ppm")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_tokens").alias("sampled_tokens"),
        )
        .orderBy("source")
    )


# --- q101: bigram LM negative-log-likelihood scoring ----------------------


@query(
    "q101_bigram_nll",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {tokens_sql("text")} AS toks FROM documents
      WHERE len({tokens_sql("text")}) >= 2
    ),
    bg AS (
      SELECT doc_id,
             unnest([struct_pack(w1 := toks[i+1], w2 := toks[i+2])
                     for i in range(0, cast(len(toks) - 1 as int))],
                    recursive := true)
      FROM t
    ),
    bc AS (SELECT w1, w2, cast(count(*) as bigint) AS c12 FROM bg GROUP BY w1, w2),
    uc AS (SELECT w1, cast(count(*) as bigint) AS c1 FROM bg GROUP BY w1),
    vocab AS (
      SELECT cast(count(DISTINCT tok) as bigint) AS v
      FROM (SELECT unnest({tokens_sql("text")}) AS tok FROM documents)
    )
    SELECT bg.doc_id,
           cast(count(*) as bigint) AS n_bigrams,
           cast(sum(cast(round(-ln(cast(bc.c12 + 1 as double) / cast(uc.c1 + vocab.v as double)), 9)
                         as decimal(18,9))) as double)
             / cast(count(*) as double) AS avg_nll
    FROM bg JOIN bc USING (w1, w2) JOIN uc USING (w1) CROSS JOIN vocab
    GROUP BY bg.doc_id ORDER BY bg.doc_id
    """,
    doc="Bigram-LM quality score: per-doc mean negative log-likelihood under an add-one-smoothed corpus bigram model (CCNet-style LM filtering shape).",
    tags=("training", "quality", "lm"),
)
def q101_bigram_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality filtering, self-trained: fit an add-one-
    smoothed bigram model on the corpus, score every document by its
    mean token NLL — the CCNet/Wikipedia-LM filtering recipe with the
    n-gram model standing in for KenLM (not in this image). High
    NLL = improbable token sequences = gibberish candidates; low =
    repetitive/boilerplate candidates.

    Scale shape: bigram and unigram count tables are partial-agg
    shuffles of (token-pair, count) — never document bodies; scoring
    joins the exploded doc bigrams to those tables on the bigram key
    (shuffle join — the model table is corpus-vocabulary-sized, NOT
    broadcastable at real scale) plus a 1-row broadcast for |V|.

    Float contract: each -ln(p) term rounds to 9 decimals and sums
    exactly as decimal(18,9) (ulp-level libm differences between JVM
    and DuckDB vanish at 1e-9); the final mean divides two exactly-
    representable doubles.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = tokens("text")
    t = docs.select("doc_id", toks.alias("toks")).where(F.size("toks") >= 2)
    bg = t.select(
        "doc_id",
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - 2),
                lambda i: F.struct(F.col("toks")[i].alias("w1"), F.col("toks")[i + 1].alias("w2")),
            )
        ).alias("b"),
    ).select("doc_id", "b.w1", "b.w2")
    bc = bg.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("c12"))
    uc = bg.groupBy("w1").agg(F.count(F.lit(1)).alias("c1"))
    vocab = docs.select(F.explode(toks).alias("tok")).agg(
        F.countDistinct("tok").alias("v")
    )
    term = F.round(
        -F.log((F.col("c12") + 1).cast("double") / (F.col("c1") + F.col("v")).cast("double")), 9
    ).cast("decimal(18,9)")
    return (
        bg.join(bc, ["w1", "w2"])
        .join(uc, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            (F.sum(term).cast("double") / F.count(F.lit(1)).cast("double")).alias("avg_nll"),
        )
        .orderBy("doc_id")
    )


# --- q92: cross-document boilerplate blocks -------------------------------

BLOCK_WORDS = 8


def _blocks_col(col: str):
    toks = tokens(col)
    nb = F.floor(F.size(toks) / BLOCK_WORDS).cast("int")
    grams = F.transform(
        F.sequence(F.lit(0), nb - 1),
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i * BLOCK_WORDS + 1, BLOCK_WORDS))),
    )
    return F.when(nb > 0, grams).otherwise(F.array().cast("array<string>"))


@query(
    "q92_boilerplate_blocks",
    oracle=f"""
    WITH t AS (SELECT doc_id, {tokens_sql("text")} AS toks FROM documents),
    b AS (
      SELECT doc_id,
             CASE WHEN len(toks) // {BLOCK_WORDS} > 0 THEN
               [md5(array_to_string(toks[{BLOCK_WORDS}*i+1 : {BLOCK_WORDS}*i+{BLOCK_WORDS}], ' '))
                for i in range(0, cast(len(toks) // {BLOCK_WORDS} as int))]
             ELSE [] END AS blocks
      FROM t
    ),
    ex AS (SELECT doc_id, unnest(blocks) AS h FROM b),
    shared AS (SELECT h FROM ex GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    sc AS (SELECT doc_id, count(*) AS n_shared FROM ex JOIN shared USING (h) GROUP BY doc_id)
    SELECT b.doc_id, cast(len(blocks) as bigint) AS n_blocks,
           cast(coalesce(sc.n_shared, 0) as bigint) AS n_shared,
           CASE WHEN len(blocks) > 0
                THEN cast(coalesce(sc.n_shared, 0) as double) / cast(len(blocks) as double)
                ELSE 0.0 END AS shared_frac
    FROM b LEFT JOIN sc ON b.doc_id = sc.doc_id
    ORDER BY b.doc_id
    """,
    doc=f"Boilerplate detection: {BLOCK_WORDS}-word block hashes shared by ≥2 docs; per-doc shared-block fraction.",
    tags=("training", "dedup", "boilerplate"),
)
def q92_boilerplate_blocks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate (header/footer/template) detection: hash every
    non-overlapping {BLOCK_WORDS}-word block, mark hashes seen in ≥2
    distinct documents, report each document's shared-block fraction —
    the standard pre-dedup repetitive-content signal.

    Scale shape: only (doc_id, 16-byte hash) pairs shuffle — document
    bodies never leave the scan stage; the shared-hash set is found by
    one partial-agg groupBy and joined back as a semi join on the
    hash. The fraction divides two small exact integers as doubles, so
    it is bit-reproducible.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    b = docs.select("doc_id", _blocks_col("text").alias("blocks"))
    ex = b.select("doc_id", F.explode("blocks").alias("h"))
    shared = ex.groupBy("h").agg(F.count_distinct("doc_id").alias("nd")).where(F.col("nd") >= 2).select("h")
    sc = ex.join(shared, "h", "left_semi").groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_shared"))
    n_blocks = F.size("blocks").cast("bigint")
    n_shared = F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint")
    return (
        b.join(sc, "doc_id", "left")
        .select(
            "doc_id",
            n_blocks.alias("n_blocks"),
            n_shared.alias("n_shared"),
            F.when(n_blocks > 0, n_shared.cast("double") / n_blocks.cast("double"))
            .otherwise(F.lit(0.0))
            .alias("shared_frac"),
        )
        .orderBy("doc_id")
    )


# --- q93: intra-document repetition score ---------------------------------


def _all_ngrams(col: str, n: int):
    """ALL word n-grams (with duplicates — unlike functions.word_ngrams,
    which is distinct-only for shingling)."""
    toks = tokens(col)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(toks) - n),
        lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n)),
    )
    return F.when(F.size(toks) >= n, grams).otherwise(F.array().cast("array<string>"))


def _all_ngrams_sql(expr: str, n: int) -> str:
    toks = tokens_sql(expr)
    return (
        f"CASE WHEN len({toks}) >= {n} THEN "
        f"[array_to_string(({toks})[i:i+{n - 1}], ' ') for i in range(1, len({toks}) - {n} + 2)] "
        f"ELSE [] END"
    )


def _dup_frac_sql(grams: str) -> str:
    return (
        f"CASE WHEN len({grams}) > 0 THEN "
        f"cast(len({grams}) - len(list_distinct({grams})) as double) / cast(len({grams}) as double) "
        f"ELSE 0.0 END"
    )


@query(
    "q93_repetition_score",
    oracle=f"""
    WITH g AS (
      SELECT doc_id, {_all_ngrams_sql("text", 2)} AS g2, {_all_ngrams_sql("text", 3)} AS g3
      FROM documents
    )
    SELECT doc_id,
           cast(len(g2) as bigint) AS n_2grams,
           cast(len(g2) - len(list_distinct(g2)) as bigint) AS dup_2grams,
           {_dup_frac_sql("g2")} AS dup2_frac,
           cast(len(g3) as bigint) AS n_3grams,
           cast(len(g3) - len(list_distinct(g3)) as bigint) AS dup_3grams,
           {_dup_frac_sql("g3")} AS dup3_frac
    FROM g ORDER BY doc_id
    """,
    doc="Gopher-style repetition scoring: duplicate 2-/3-gram fractions per document, map-only.",
    tags=("training", "quality", "text"),
)
def q93_repetition_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition (the Gopher/MassiveText duplicate
    n-gram fraction filters): the share of word 2-grams and 3-grams
    that are repeats within the document. High values flag generated /
    template / scraper-loop text that per-corpus dedup cannot catch.

    Scale shape: entirely map-side Catalyst array expressions
    (split → transform → array_distinct) — zero shuffle, zero Python;
    the scan's row count is the job's only cost, so this runs at
    whatever rate the storage layer can feed 100 TB.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    g = docs.select("doc_id", _all_ngrams("text", 2).alias("g2"), _all_ngrams("text", 3).alias("g3"))
    out = [F.col("doc_id")]
    for n, c in ((2, "g2"), (3, "g3")):
        total = F.size(c).cast("bigint")
        dup = (F.size(c) - F.size(F.array_distinct(c))).cast("bigint")
        out += [
            total.alias(f"n_{n}grams"),
            dup.alias(f"dup_{n}grams"),
            F.when(total > 0, dup.cast("double") / total.cast("double")).otherwise(F.lit(0.0)).alias(f"dup{n}_frac"),
        ]
    return g.select(*out).orderBy("doc_id")


# --- q94: near-dup cluster resolution (connected components) --------------

CC_MAX_ITERS = 20


def connected_components(edges: DataFrame, max_iters: int = CC_MAX_ITERS) -> DataFrame:
    """Connected components over an undirected edge list ``(doc_a,
    doc_b)`` → ``(doc_id, label)`` with label = component minimum.

    Iterative min-label propagation: each round every node takes the
    min of its own and its neighbors' labels — one union + one
    partial-agg groupBy per round on (node, label) pairs, converging
    in O(diameter) rounds. Near-dup and match graphs are shallow
    (diameter ≤ 3-4 hops), so 2-3 rounds suffice. A graph that has
    not converged after ``max_iters`` rounds raises ``RuntimeError``
    rather than returning partial labels.

    Rounds run through ``caching.iterate``: each round's labels are cut
    over with an eager ``localCheckpoint`` (constant per-round analysis
    cost, where a persisted plan would double every round), the
    superseded round is released, and convergence is a count of
    changed labels (never a collect)."""
    # Round shape (guide §2.4 — fewer exchanges per round):
    #
    # - union+agg instead of join+agg+left-join: every node already has
    #   its own row in ``labels``, so the candidate set {own label} ∪
    #   {neighbor labels} min-reduces in ONE groupBy — the old shape
    #   paid a second (left) join to re-attach the node's own label.
    # - the convergence count reads label != old_label straight off the
    #   checkpointed frame (the old label rides along as a column)
    #   instead of re-joining the new round against the old one.
    #
    # Measured on q203's τ-cut graph (882 nodes / 598 edges, 10 rounds,
    # sf0.1, warm): old join+agg+left-join+count-join loop 6.2 s → this
    # shape 2.8-3.5 s. A pointer-jump variant (label(label(v))
    # candidates in the same union) was measured too: it does cut a
    # planted diameter-16 chain from 17 rounds to 6, but on the real
    # near-dup graph it saved zero rounds (shallow components) and its
    # extra per-round self-join cost ~25%, so the round stays
    # jump-free.
    sym = edges.select(F.col("doc_a"), F.col("doc_b")).union(
        edges.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    )
    e = scoped_persist(sym.where(F.col("doc_a") != F.col("doc_b")).distinct())
    labels = scoped_persist(
        e.select(F.col("doc_a").alias("doc_id")).distinct().withColumn("label", F.col("doc_id"))
    )
    null_lbl = F.lit(None).cast(labels.schema["label"].dataType)

    def step(labels: DataFrame, _: int) -> DataFrame:
        own = labels.select("doc_id", "label", F.col("label").alias("old"))
        nbr = (
            e.join(labels, e["doc_b"] == labels["doc_id"])
            .select(F.col("doc_a").alias("doc_id"), "label", null_lbl.alias("old"))
        )
        return (
            own.unionByName(nbr)
            .groupBy("doc_id")
            .agg(F.min("label").alias("label"), F.max("old").alias("old"))
        )

    # old is non-null exactly once per node (the own row), so the
    # changed count is a filter over the checkpointed frame — no
    # old⋈new join.
    changed = F.col("label") != F.col("old")
    return iterate(labels, step, max_iters, changed).select("doc_id", "label")


@query(
    "q94_dedup_clusters",
    oracle="""
    WITH RECURSIVE verified AS ({q33}),
    edges AS (
      SELECT doc_a AS a, doc_b AS b FROM verified
      UNION ALL
      SELECT doc_b, doc_a FROM verified
    ),
    nodes AS (SELECT DISTINCT a FROM edges),
    reach(src, node) AS (
      SELECT a, a FROM nodes
      UNION
      SELECT r.src, e.b FROM reach r JOIN edges e ON r.node = e.a
    ),
    roots AS (SELECT src AS doc_id, min(node) AS cluster_root FROM reach GROUP BY src)
    SELECT doc_id, cluster_root,
           cast(count(*) OVER (PARTITION BY cluster_root) as bigint) AS cluster_size
    FROM roots ORDER BY doc_id
    """,
    doc="Near-dup cluster resolution: connected components over verified LSH pairs (iterative min-label propagation); canonical root + size per member.",
    tags=("training", "dedup", "iterative"),
)
def q94_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production dedup keeps ONE doc per near-dup cluster, not per
    pair: q33's verified pairs are edges; connected components give
    each member its cluster root (the minimum doc_id — the canonical
    survivor) and cluster size. Near-dup clusters are shallow, so
    :func:`connected_components`' min-label propagation converges in
    2-3 rounds.

    This is the one iterative operator WITH a full value-hash oracle:
    DuckDB computes the same components via a recursive CTE.
    """
    from pandamapreduce_spark.plans.dedup import q33_neardup_verified

    pairs = q33_neardup_verified(spark, sf_dir).select("doc_a", "doc_b")
    labels = connected_components(pairs)
    w = Window.partitionBy("cluster_root")
    return (
        labels.select("doc_id", F.col("label").alias("cluster_root"))
        .withColumn("cluster_size", F.count(F.lit(1)).over(w))
        .orderBy("doc_id")
    )


# --- q96: vocabulary build (distributed rank → token ids) -----------------

VOCAB_MIN_COUNT = 5


@query(
    "q96_vocab_build",
    oracle=f"""
    WITH tok AS (
      SELECT unnest({tokens_sql("text")}) AS token FROM documents
    ),
    c AS (
      SELECT token, cast(count(*) as bigint) AS cnt FROM tok GROUP BY token
      HAVING count(*) >= {VOCAB_MIN_COUNT}
    )
    SELECT token, cnt,
           cast(row_number() OVER (ORDER BY cnt DESC, token) - 1 as bigint) AS token_id
    FROM c ORDER BY token_id
    """,
    doc=f"Tokenizer vocabulary build: corpus term counts (min {VOCAB_MIN_COUNT}), frequency-ranked contiguous token ids via distributed rank.",
    tags=("training", "vocab", "text"),
)
def q96_vocab_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Build a tokenizer vocabulary: count every token in the corpus,
    keep those with ≥ {VOCAB_MIN_COUNT} occurrences, and assign
    contiguous ids 0..V-1 by (count desc, token asc) — the standard
    frequency-sorted vocab layout.

    Scale shape: the global rank is NOT a single-partition window —
    that would serialize a 10^8-term vocab through one task. Instead
    the shared ``range_prefix`` range-partitions the counted terms on
    the ascending rank key (-cnt, token) (q189's negation), each range
    assigns local row_numbers in parallel, and the per-range base
    offsets are broadcast-joined back from one bounded driver collect
    (one row per range). Result is invariant to the range boundaries.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    c = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .where(F.col("cnt") >= VOCAB_MIN_COUNT)
        .withColumn("neg", -F.col("cnt"))
    )
    parts, _, _ = range_prefix(c, ["neg", "token"])
    w = Window.partitionBy("_pid").orderBy("neg", "token")
    return (
        parts.select(
            "token",
            "cnt",
            (F.row_number().over(w).cast("bigint") - 1 + F.col("_base")).alias("token_id"),
        )
        .orderBy("token_id")
    )


# --- q107: tokenizer encode (corpus -> token-id sequences) ----------------

UNK_ID = -1


@query(
    "q107_tokenize_ids",
    oracle=f"""
    WITH vocab AS ({{q96}}),
    t AS (SELECT doc_id, {tokens_sql("text")} AS toks FROM documents),
    tok AS (
      SELECT doc_id, unnest(toks) AS token,
             unnest(range(1, len(toks) + 1)) AS pos
      FROM t
    ),
    enc AS (
      SELECT doc_id,
             cast(count(*) as bigint) AS n_tokens,
             cast(sum(CASE WHEN v.token_id IS NULL THEN 1 ELSE 0 END) as bigint) AS n_unk,
             md5(string_agg(cast(coalesce(v.token_id, {UNK_ID}) as varchar), ',' ORDER BY pos)) AS ids_md5
      FROM tok LEFT JOIN vocab v USING (token) GROUP BY doc_id
    )
    SELECT doc_id, n_tokens, n_unk, ids_md5 FROM enc ORDER BY doc_id
    """,
    doc="Tokenizer encode: every document's token stream mapped to q96 vocab ids (OOV -> -1); per-doc id-sequence md5 value-checks the exact encoding.",
    tags=("training", "vocab", "text"),
)
def q107_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The encode half of the tokenizer pair (q96 builds the vocab,
    this applies it): each document becomes its ordered token-id
    sequence, with out-of-vocabulary tokens mapped to {UNK_ID}. The
    output is content-addressed — the md5 of the comma-joined id
    sequence — so the driver checks the exact per-position encoding,
    not just counts.

    Scale shape: the vocab broadcasts (even a 10^6-term vocab is tens
    of MB of (token, id) pairs), so the corpus-side token stream maps
    to ids WITHOUT shuffling token strings; the only exchange carries
    (doc_id, pos, id) integers for the per-doc regroup. At 100 TB the
    regroup can be avoided entirely by encoding per-partition with the
    broadcast vocab inside one mapInArrow pass; the declarative form
    here keeps the whole plan in Catalyst and its shuffle is already
    id-width, not text-width.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    vocab = q96_vocab_build(spark, sf_dir).select("token", "token_id")
    toks = docs.select("doc_id", F.posexplode(tokens("text")).alias("pos", "token"))
    j = toks.join(F.broadcast(vocab), "token", "left").select(
        "doc_id", "pos", F.coalesce(F.col("token_id"), F.lit(UNK_ID)).alias("tid")
    )
    return (
        j.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("tid") == UNK_ID, 1).otherwise(0)).cast("bigint").alias("n_unk"),
            F.md5(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("pos", "tid"))),
                        lambda p: p["tid"].cast("string"),
                    ),
                )
            ).alias("ids_md5"),
        )
        .orderBy("doc_id")
    )


# --- q102: context-window chunking (sliding token windows) ----------------

CHUNK_TOKENS = 128
CHUNK_STRIDE = 96  # 32-token overlap between consecutive chunks


@query(
    "q102_context_chunks",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {tokens_sql("text")} AS toks FROM documents
    ),
    n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
    s AS (
      SELECT doc_id, toks, n,
             cast(g AS bigint) AS start_tok,
             cast(g // {CHUNK_STRIDE} AS bigint) AS chunk_idx
      FROM (SELECT doc_id, toks, n, unnest(range(0, n, {CHUNK_STRIDE})) AS g FROM n)
    )
    SELECT doc_id, chunk_idx, start_tok,
           cast(least({CHUNK_TOKENS}, n - start_tok) AS bigint) AS chunk_len,
           array_to_string(list_slice(toks, start_tok + 1, start_tok + {CHUNK_TOKENS}), ' ') AS chunk_text
    FROM s ORDER BY doc_id, chunk_idx
    """,
    doc=f"Sliding-window context chunking: {CHUNK_TOKENS}-token chunks at stride {CHUNK_STRIDE} per document, map-only.",
    tags=("training", "chunking", "text"),
)
def q102_context_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split each document into fixed-size overlapping token windows —
    the standard long-document treatment for a bounded-context model
    (BERT/RoBERTa-style stride chunking): {CHUNK_TOKENS}-token chunks
    every {CHUNK_STRIDE} tokens, so consecutive chunks share a
    {CHUNK_TOKENS - CHUNK_STRIDE}-token overlap and the tail chunk may
    be short. Unlike q90 (cross-document concat-and-pack), chunks never
    cross document boundaries.

    Scale shape: entirely map-side — tokenize, ``sequence`` of chunk
    starts, ``posexplode``, ``slice`` — zero shuffle, zero Python; the
    fan-out is ~n_tokens/{CHUNK_STRIDE} rows per document, produced in
    the same task that scanned the document.
    """
    docs = load_table(spark, sf_dir, "documents", spread=True)
    t = (
        docs.select("doc_id", tokens("text").alias("toks"))
        .withColumn("n", F.size("toks"))
        .where(F.col("n") > 0)
    )
    e = t.select(
        "doc_id",
        "toks",
        "n",
        F.posexplode(F.sequence(F.lit(0), F.col("n") - 1, F.lit(CHUNK_STRIDE))).alias("chunk_idx", "start_tok"),
    )
    return e.select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("start_tok").cast("bigint").alias("start_tok"),
        F.least(F.lit(CHUNK_TOKENS), F.col("n") - F.col("start_tok")).cast("bigint").alias("chunk_len"),
        F.array_join(F.slice(F.col("toks"), F.col("start_tok") + 1, F.lit(CHUNK_TOKENS)), " ").alias("chunk_text"),
    ).orderBy("doc_id", "chunk_idx")


# --- q103: dedup resolution apply (keep one survivor per cluster) ---------


@query(
    "q103_dedup_keep_best",
    oracle="""
    WITH clusters AS ({q94}),
    scored AS (
      SELECT c.doc_id, c.cluster_root, c.cluster_size, d.n_chars
      FROM clusters c JOIN documents d ON c.doc_id = d.doc_id
    ),
    r AS (
      SELECT cluster_root, cluster_size, doc_id, n_chars,
             row_number() OVER (PARTITION BY cluster_root ORDER BY n_chars DESC, doc_id) AS rn
      FROM scored
    )
    SELECT cluster_root, cluster_size, doc_id AS keep_doc, n_chars AS keep_chars,
           cast(cluster_size - 1 AS bigint) AS n_dropped
    FROM r WHERE rn = 1 ORDER BY cluster_root
    """,
    doc="Dedup apply: one canonical survivor per q94 near-dup cluster (longest doc, doc_id tie-break).",
    tags=("training", "dedup"),
)
def q103_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The step that completes the dedup pipeline (candidates → verify
    → cluster → RESOLVE): per q94 cluster, keep the longest member
    (``n_chars``, ties to the lowest doc_id) and report how many
    duplicates the cluster drops. Production pipelines anti-join the
    corpus against the non-survivors; the survivor table here is the
    driving artifact.

    Scale shape: the cluster-member table is a small fraction of the
    corpus, and the corpus side is pruned to (doc_id, n_chars) before
    the equi-join — AQE broadcasts the member side when it fits (no
    forced hint: at 50%-duplicate scales it must stay a shuffle join).
    The argmax window partitions by cluster_root; near-dup clusters
    are shallow, so no partition skews.
    """
    labels = q94_dedup_clusters(spark, sf_dir).select("doc_id", "cluster_root", "cluster_size")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    j = docs.join(labels, "doc_id")
    w = Window.partitionBy("cluster_root").orderBy(F.col("n_chars").desc(), F.col("doc_id").asc())
    return (
        j.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "cluster_root",
            "cluster_size",
            F.col("doc_id").alias("keep_doc"),
            F.col("n_chars").alias("keep_chars"),
            (F.col("cluster_size") - 1).cast("bigint").alias("n_dropped"),
        )
        .orderBy("cluster_root")
    )


SOURCE_CAP = 40  # max documents kept per source


@query(
    "q110_source_cap",
    oracle=f"""
    SELECT doc_id, source, lang, n_chars FROM (
      SELECT doc_id, source, lang, n_chars,
             row_number() OVER (PARTITION BY source
               ORDER BY md5(cast(doc_id as varchar)), doc_id) AS rk
      FROM documents
    ) WHERE rk <= {SOURCE_CAP}
    ORDER BY doc_id
    """,
    doc=f"Per-source document cap: keep at most {SOURCE_CAP} docs per source, selected by deterministic hash rank (domain/source capping, a standard pretraining-mixture control).",
    tags=("training", "sampling"),
)
def q110_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic reservoir-style cap: rank docs within each source
    by md5(doc_id) — a uniform, rerun-stable permutation — and keep the
    first SOURCE_CAP. Scale: one shuffle on source; a hot source makes
    a hot partition, but the window needs only rank ≤ K, so on a real
    cluster this becomes the two-phase form (per-partition top-K then
    top-K-of-top-Ks, cf. rank_stats) — documented here because at
    K=40 the single window is the right local plan. md5 (not xxhash)
    so the oracle permutation matches bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(F.md5(F.col("doc_id").cast("string")), F.col("doc_id"))
    return (
        docs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= SOURCE_CAP)
        .select("doc_id", "source", "lang", "n_chars")
        .orderBy("doc_id")
    )


def _patch_composed_oracles() -> None:
    """q94's oracle embeds q33's oracle verbatim so the two stay in
    lockstep with the LSH parameters; q103's embeds (patched) q94's.
    String ``replace`` (not ``format``) for q103 because the embedded
    SQL may itself contain braces."""
    from pandamapreduce_spark.plans.registry import REGISTRY

    q33_sql = REGISTRY["q33_neardup_verified"].oracle
    q94 = REGISTRY["q94_dedup_clusters"]
    q94.oracle = q94.oracle.format(q33=q33_sql)
    q103 = REGISTRY["q103_dedup_keep_best"]
    q103.oracle = q103.oracle.replace("{q94}", q94.oracle)
    q107 = REGISTRY["q107_tokenize_ids"]
    q107.oracle = q107.oracle.replace("{q96}", REGISTRY["q96_vocab_build"].oracle)


_patch_composed_oracles()


# --- q117: Python UDTF chunking (API-parity twin of q102) -----------------


@query(
    "q117_udtf_chunks",
    oracle=REGISTRY["q102_context_chunks"].oracle,
    doc=f"Same {CHUNK_TOKENS}/{CHUNK_STRIDE} stride chunking as q102, but through a Spark 4 Python UDTF lateral join — the reference's map-emits-many callback (UDTF shape) on the modern API; shares q102's oracle so the two engines cross-check.",
    tags=("training", "chunking", "udtf"),
)
def q117_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's Map callback emits 0..n records per input
    (``include/PandaAPI.h:29-35`` — the UDTF shape); q50/q51 express
    it through ``rdd.flatMap``, this query through the first-class
    ``@udtf`` API (pickled row path — the documented slow lane; the
    production plan is q102's codegen'd posexplode, which this must
    match row-for-row via the shared oracle).
    """
    import re as _re

    from pyspark.sql.functions import udtf

    ws = _re.compile("[ \t\n\x0b\f\r]+")
    chunk_tokens, chunk_stride = CHUNK_TOKENS, CHUNK_STRIDE

    @udtf(returnType="chunk_idx bigint, start_tok bigint, chunk_len bigint, chunk_text string")
    class ChunkUDTF:
        def eval(self, text: str):
            if not text:  # null/empty doc → no chunks (q102: filtered by n > 0)
                return
            # explicit ASCII strip set: bare str.strip() removes ALL
            # Unicode whitespace (\xa0, \x85, ...), which would drift
            # from q102/WS_CLASS tokenization on non-ASCII edges
            toks = [t for t in ws.split(text.strip(" \t\n\x0b\f\r")) if t]
            n = len(toks)
            for idx, start in enumerate(range(0, n, chunk_stride)):
                yield (
                    idx,
                    start,
                    min(chunk_tokens, n - start),
                    " ".join(toks[start : start + chunk_tokens]),
                )

    spark.udtf.register("chunk_udtf", ChunkUDTF)
    load_table(spark, sf_dir, "documents", spread=True).createOrReplaceTempView("__q117_docs")
    return spark.sql(
        """
        SELECT s.doc_id, c.chunk_idx, c.start_tok, c.chunk_len, c.chunk_text
        FROM __q117_docs s, LATERAL chunk_udtf(s.text) c
        ORDER BY doc_id, chunk_idx
        """
    )


# --- q123: boilerplate scrub (the APPLY twin of q92) ----------------------


@query(
    "q123_boilerplate_scrub",
    oracle=f"""
    WITH t AS (SELECT doc_id, {tokens_sql("text")} AS toks FROM documents),
    m AS (SELECT doc_id, toks, cast(len(toks) // {BLOCK_WORDS} as int) AS nb FROM t),
    b0 AS (SELECT doc_id, nb, toks, unnest(range(0, nb)) AS pos FROM m),
    b AS (
      SELECT doc_id, pos,
             array_to_string(toks[{BLOCK_WORDS}*pos+1 : {BLOCK_WORDS}*pos+{BLOCK_WORDS}], ' ') AS btxt
      FROM b0
    ),
    hx AS (SELECT doc_id, pos, btxt, md5(btxt) AS h FROM b),
    shared AS (SELECT h FROM hx GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
    kept AS (
      SELECT doc_id, list(btxt ORDER BY pos) AS ks, count(*) AS n_kept
      FROM hx WHERE h NOT IN (SELECT h FROM shared) GROUP BY doc_id
    ),
    asm AS (
      SELECT m.doc_id, m.nb, len(m.toks) AS nt,
             coalesce(k.ks, cast([] as varchar[])) AS ks,
             coalesce(m.toks[{BLOCK_WORDS}*m.nb+1 :], cast([] as varchar[])) AS tail,
             coalesce(k.n_kept, 0) AS n_kept
      FROM m LEFT JOIN kept k USING (doc_id)
    )
    SELECT doc_id,
           cast(nb as bigint) AS n_blocks,
           cast(nb - n_kept as bigint) AS n_dropped,
           cast({BLOCK_WORDS}*n_kept + (nt - {BLOCK_WORDS}*nb) as bigint) AS n_tokens_after,
           md5(coalesce(array_to_string(coalesce(list_concat(ks, tail), cast([] as varchar[])), ' '), '')) AS scrub_md5
    FROM asm ORDER BY doc_id
    """,
    doc=f"Boilerplate REMOVAL (apply twin of q92): every {BLOCK_WORDS}-word block shared by ≥2 docs is dropped from ALL documents, survivors reassemble in position order (+ the sub-block tail); md5 of each scrubbed doc value-checks exact reassembly.",
    tags=("training", "dedup", "boilerplate"),
)
def q123_boilerplate_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Where q92 DETECTS cross-document template content, this removes
    it (the CCNet-style duplicated-paragraph drop, under this corpus's
    flat-token structure): a block hash seen in ≥2 distinct documents
    is boilerplate and is dropped from every document — including its
    first occurrence; template content carries no training value
    anywhere. Remaining blocks rejoin in position order, followed by
    the sub-block tail tokens, and the scrubbed text is value-checked
    exactly via md5.

    Scale shape: the shared-hash set comes from one partial-agg
    groupBy of (doc_id, 16-byte hash) pairs; block TEXT shuffles only
    for the per-doc reassembly groupBy — bounded by document size, the
    same bound any doc-granular transform already carries. Reassembly
    is sort_array(collect_list(struct(pos, btxt))) — deterministic
    under any partitioning because pos is unique within a doc.
    """
    from pandamapreduce_spark.functions import tokens

    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = tokens("text")
    m = docs.select(
        "doc_id",
        toks.alias("toks"),
        F.floor(F.size(toks) / BLOCK_WORDS).cast("int").alias("nb"),
    )
    blocks = F.when(
        F.col("nb") > 0,
        F.transform(
            F.sequence(F.lit(0), F.col("nb") - 1),
            lambda i: F.struct(
                i.alias("pos"),
                F.concat_ws(
                    " ", F.slice(F.col("toks"), i * BLOCK_WORDS + 1, F.lit(BLOCK_WORDS))
                ).alias("btxt"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,btxt:string>>"))
    ex = m.select("doc_id", F.explode(blocks).alias("b")).select(
        "doc_id", F.col("b.pos").alias("pos"), F.col("b.btxt").alias("btxt"), F.md5("b.btxt").alias("h")
    )
    shared = (
        ex.groupBy("h").agg(F.count_distinct("doc_id").alias("nd")).where(F.col("nd") >= 2).select("h")
    )
    kept = (
        ex.join(shared, "h", "left_anti")
        .groupBy("doc_id")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "btxt"))), lambda s: s["btxt"]
            ).alias("ks"),
            F.count(F.lit(1)).alias("n_kept"),
        )
    )
    nb, nt = F.col("nb"), F.size("toks")
    asm = m.join(kept, "doc_id", "left").select(
        "doc_id",
        nb.cast("bigint").alias("n_blocks"),
        F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
        nt.alias("nt"),
        F.coalesce(F.col("ks"), F.array().cast("array<string>")).alias("ks"),
        F.slice(F.col("toks"), nb * BLOCK_WORDS + 1, nt - nb * BLOCK_WORDS).alias("tail"),
    )
    return asm.select(
        "doc_id",
        "n_blocks",
        (F.col("n_blocks") - F.col("n_kept")).cast("bigint").alias("n_dropped"),
        (BLOCK_WORDS * F.col("n_kept") + (F.col("nt") - BLOCK_WORDS * F.col("n_blocks"))).cast("bigint").alias("n_tokens_after"),
        F.md5(F.concat_ws(" ", F.concat(F.col("ks"), F.col("tail")))).alias("scrub_md5"),
    ).orderBy("doc_id")


# --- q141: systematic PPS document sampling -------------------------------

PPS_K = 100  # sample size (grid points over the cumulative token axis)


@query(
    "q141_pps_sample",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, cast(len({tokens_sql("text")}) as bigint) AS n FROM documents
    ),
    c AS (
      SELECT doc_id, n,
             coalesce(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS s
      FROM tok
    ),
    t AS (SELECT cast(sum(n) as bigint) AS tot FROM tok),
    m AS (
      SELECT doc_id, n, s,
             ((s + n) * {PPS_K} + tot - 1) // tot - (s * {PPS_K} + tot - 1) // tot AS mult
      FROM c, t
    )
    SELECT doc_id, n AS n_tokens, cast(mult as bigint) AS multiplicity
    FROM m WHERE mult >= 1 ORDER BY doc_id
    """,
    doc=f"Systematic probability-proportional-to-size sampling: {PPS_K} evenly-spaced grid points over the cumulative token axis select documents with multiplicity = #grid points inside their token interval — fully deterministic (no RNG, no transcendental), exact integer arithmetic, inclusion probability ∝ token count, Σ multiplicity = {PPS_K} by construction; distributed prefix sum (the shared `range_prefix`).",
    tags=("sampling", "pps", "prefix-sum"),
)
def q141_pps_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPS sampling is how a 100 TB corpus is subsampled for eval or
    inspection without under-representing long documents — and the
    classic implementations draw per-row randoms (u^(1/w) keys),
    which are irreproducible across engines and need a transcendental.
    Systematic PPS replaces the RNG with a deterministic grid: lay all
    T tokens on one axis (exclusive prefix sum of token counts in
    doc_id order — the shared ``range_prefix``, no single-partition
    window), drop K grid points at positions floor(j·T/K), and a
    document is sampled once per grid point inside its interval:
    multiplicity = ceil((s+n)·K/T) − ceil(s·K/T), pure bigint
    arithmetic. Any doc with n ≥ T/K is guaranteed in (its interval
    must contain a grid point); Σ multiplicity = K exactly. Only
    (doc_id, n) pairs shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.size(tokens("text")).cast("bigint").alias("n"))
    parts, _, total = range_prefix(tok, ["doc_id"], sum_col="n")
    w = Window.partitionBy("_pid").orderBy("doc_id").rowsBetween(Window.unboundedPreceding, -1)
    c = parts.select(
        "doc_id",
        "n",
        (F.coalesce(F.sum("n").over(w), F.lit(0)) + F.col("_base_sum")).alias("s"),
    )
    mult = F.expr(f"((s + n) * {PPS_K} + {total} - 1) div {total}") - F.expr(
        f"(s * {PPS_K} + {total} - 1) div {total}"
    )
    return (
        c.withColumn("mult", mult)
        .where(F.col("mult") >= 1)
        .select("doc_id", F.col("n").alias("n_tokens"), F.col("mult").cast("bigint").alias("multiplicity"))
        .orderBy("doc_id")
    )


# --- q154: corpus drift monitor (per-source total-variation distance) -----


@query(
    "q154_source_drift",
    oracle=f"""
    WITH st AS (
      SELECT source, token, cast(count(*) as bigint) AS c
      FROM (SELECT source, unnest({tokens_sql("text")}) AS token FROM documents)
      GROUP BY source, token
    ),
    gt AS (SELECT token, cast(sum(c) as bigint) AS gc FROM st GROUP BY token),
    ns AS (SELECT source, cast(sum(c) as bigint) AS n_s,
                  cast(count(*) as bigint) AS vocab FROM st GROUP BY source),
    tot AS (SELECT cast(sum(gc) as bigint) AS n FROM gt),
    dev AS (
      SELECT st.source, st.token,
             abs(cast(st.c as decimal(19,0)) * cast(tot.n as decimal(19,0))
                 - cast(gt.gc as decimal(19,0)) * cast(ns.n_s as decimal(19,0))) AS dv,
             gt.gc, ns.n_s, tot.n
      FROM st JOIN gt USING (token) JOIN ns USING (source), tot
    ),
    agg AS (
      SELECT source, cast(sum(dv) as decimal(38,0)) AS sumdev,
             cast(sum(gc) as bigint) AS covered,
             min(n_s) AS n_s, min(n) AS n
      FROM dev GROUP BY source
    ),
    top AS (
      SELECT d.source, min(d.token) AS top_token, min(d.dv) AS top_dv
      FROM dev d JOIN (SELECT source, max(dv) AS mx FROM dev GROUP BY source) m
        ON d.source = m.source AND d.dv = m.mx
      GROUP BY d.source
    )
    SELECT a.source AS source, a.n_s AS n_tokens, ns.vocab AS vocab_size,
           (cast(a.sumdev as double)
             + cast(a.n_s as double) * (cast(a.n as double) - cast(a.covered as double)))
             / (2.0 * cast(a.n_s as double) * cast(a.n as double)) AS tv_dist,
           t.top_token,
           cast(t.top_dv as double)
             / (cast(a.n_s as double) * cast(a.n as double)) AS top_share_gap
    FROM agg a JOIN ns USING (source) JOIN top t ON t.source = a.source
    ORDER BY a.source
    """,
    doc="Corpus drift monitor: per-source token-distribution total-variation distance vs the whole corpus — TV = 1/2 SUM |p_t - q_t| computed as exact integer algebra (|c_st*N - C_t*n_s| decimal products; tokens ABSENT from a source folded in algebraically as n_s*(N - covered), no outer join over the vocabulary), one pinned double division; plus the most-drifted token per source (min token among max-deviation ties). The mixture-shift alarm a training pipeline runs per ingest batch; unlike KL divergence, TV needs no transcendental and is exactly reproducible.",
    tags=("training", "drift", "quality"),
)
def q154_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift detection per source: if one crawl source's
    token mixture diverges from the corpus, its TV distance rises and
    top_share_gap names the most over/under-represented token. Float
    contract: every |p - q| term is |c_st·N − C_t·n_s| / (n_s·N) —
    numerators are exact decimal(38,0) integers (bigint counts cross-
    multiplied; sums exact), the absent-token tail is the closed form
    n_s·(N − Σ_covered C_t) rather than a vocabulary-wide outer join,
    and doubles appear only in the final pinned expressions. Tie
    discipline: top token = min(token) among max-deviation ties
    (q151's lesson). Scale shape: one (source, token) partial-agg
    exchange builds the contingency counts; the global margin derives
    from them (one token-keyed exchange, rows = vocabulary); the
    deviation join is token-keyed (no skew key wider than a natural
    token); per-source margins and the 1-row total attach by
    broadcast; output is one row per source."""
    d19 = "decimal(19,0)"
    docs = load_table(spark, sf_dir, "documents")
    st = scoped_persist(
        docs.select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    gt = st.groupBy("token").agg(F.sum("c").cast("bigint").alias("gc"))
    ns = st.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_s"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
    )
    tot = gt.agg(F.sum("gc").cast("bigint").alias("n"))
    dev = scoped_persist(
        st.join(gt, "token")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "token",
            F.abs(
                F.col("c").cast(d19) * F.col("n").cast(d19)
                - F.col("gc").cast(d19) * F.col("n_s").cast(d19)
            ).alias("dv"),
            "gc",
            "n_s",
            "n",
        )
    )
    agg = dev.groupBy("source").agg(
        F.sum("dv").cast("decimal(38,0)").alias("sumdev"),
        F.sum("gc").cast("bigint").alias("covered"),
        F.min("n_s").alias("n_s"),
        F.min("n").alias("n"),
    )
    mx = dev.groupBy("source").agg(F.max("dv").alias("mx"))
    top = (
        dev.join(F.broadcast(mx), "source")
        .where(F.col("dv") == F.col("mx"))
        .groupBy("source")
        .agg(F.min("token").alias("top_token"), F.min("dv").alias("top_dv"))
    )
    nsd = F.col("n_s").cast("double")
    nd = F.col("n").cast("double")
    return (
        agg.join(ns.select("source", "vocab"), "source")
        .join(top, "source")
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            F.col("vocab").alias("vocab_size"),
            (
                (
                    F.col("sumdev").cast("double")
                    + nsd * (nd - F.col("covered").cast("double"))
                )
                / (F.lit(2.0) * nsd * nd)
            ).alias("tv_dist"),
            "top_token",
            (F.col("top_dv").cast("double") / (nsd * nd)).alias("top_share_gap"),
        )
        .orderBy("source")
    )


# --- q164: largest-remainder budget apportionment --------------------------

#: Global sampling budget (documents) to apportion across sources in
#: proportion to their token mass. Deliberately coprime-ish with
#: typical token totals so fractional quotas (and the remainder
#: distribution) are actually exercised.
APPORTION_BUDGET = 12347


@query(
    "q164_budget_apportion",
    oracle=f"""
    WITH srcs AS (
      SELECT source, cast(sum(len({tokens_sql("text")})) as bigint) AS toks
      FROM documents GROUP BY source
    ),
    tot AS (SELECT cast(sum(toks) as bigint) AS t FROM srcs),
    quotas AS (
      SELECT source, toks,
             ({APPORTION_BUDGET} * toks) // t AS floor_alloc,
             ({APPORTION_BUDGET} * toks) % t AS rem,
             t
      FROM srcs, tot
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY rem DESC, source) AS rr,
             {APPORTION_BUDGET} - sum(floor_alloc) OVER () AS extras
      FROM quotas
    )
    SELECT source, toks, cast(floor_alloc as bigint) AS floor_alloc,
           cast(rr <= extras as boolean) AS got_extra,
           cast(floor_alloc + (CASE WHEN rr <= extras THEN 1 ELSE 0 END) as bigint) AS alloc,
           cast({APPORTION_BUDGET} * toks as double) / cast(t as double) AS exact_quota
    FROM ranked ORDER BY source
    """,
    doc=f"Largest-remainder (Hamilton) apportionment of an exact {APPORTION_BUDGET}-unit sampling budget across sources proportional to token mass — floor quotas are integer div, leftover units go to the largest fractional remainders (budget·toks mod total, compared as exact integers — never float fractions), ties broken by source name; the allocation sums to the budget EXACTLY by construction, which float-rounded rate multiplication (q91/q99's per-row regime) cannot guarantee; the quota-vs-allocation report every mixture rebalance needs.",
    tags=("training", "mixture", "apportionment"),
)
def q164_budget_apportion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning 'sample 12,347 documents proportionally to source token
    mass' into integers that ADD UP: floor quotas under-allocate by
    exactly (budget − Σ floors) units, and Hamilton's method hands
    those to the largest remainders. Everything is exact 128-bit-safe
    integer algebra (budget·toks ≤ 1e4·1e13 at petabyte scale —
    decimal if ever needed); remainders compare as integers
    (budget·toks mod total), never as float fractions whose rounding
    could reorder near-ties; exact_quota is the one display double.
    Scale shape: one (source) partial-agg exchange reduces the corpus
    to |sources| rows; the remainder ranking is a window over that
    bounded dimension table (sources are a catalog, not data) — the
    fact table is read once. Invariant Σalloc = budget is pinned in
    pytest, the property float-rate pipelines (q91's regime) only
    approximate."""
    docs = load_table(spark, sf_dir, "documents")
    srcs = docs.groupBy("source").agg(
        F.sum(F.size(tokens("text"))).cast("bigint").alias("toks")
    )
    tot = srcs.agg(F.sum("toks").cast("bigint").alias("t"))
    q = srcs.crossJoin(F.broadcast(tot)).select(
        "source",
        "toks",
        "t",
        F.expr(f"({APPORTION_BUDGET} * toks) div t").alias("floor_alloc"),
        (F.lit(APPORTION_BUDGET) * F.col("toks") % F.col("t")).alias("rem"),
    )
    wr = Window.orderBy(F.col("rem").desc(), "source")
    wall = Window.partitionBy()
    ranked = q.select(
        "source",
        "toks",
        "t",
        "floor_alloc",
        F.row_number().over(wr).cast("bigint").alias("rr"),
        (F.lit(APPORTION_BUDGET) - F.sum("floor_alloc").over(wall))
        .cast("bigint")
        .alias("extras"),
    )
    return ranked.select(
        "source",
        "toks",
        F.col("floor_alloc").cast("bigint").alias("floor_alloc"),
        (F.col("rr") <= F.col("extras")).alias("got_extra"),
        (
            F.col("floor_alloc")
            + F.when(F.col("rr") <= F.col("extras"), F.lit(1)).otherwise(F.lit(0))
        )
        .cast("bigint")
        .alias("alloc"),
        # same pinned DAG as the oracle: exact integer product cast to
        # double, then ONE division (not double*double, which would
        # diverge once budget*toks exceeds 2^53)
        (
            (F.lit(APPORTION_BUDGET) * F.col("toks")).cast("double")
            / F.col("t").cast("double")
        ).alias("exact_quota"),
    ).orderBy("source")


# --- q170: two-sample Kolmogorov-Smirnov drift ------------------------------


@query(
    "q170_ks_drift",
    oracle="""
    WITH c AS (
      SELECT source, n_chars AS v, cast(count(*) as bigint) AS c
      FROM documents GROUP BY source, n_chars
    ),
    grid AS (
      SELECT s.source, g.v
      FROM (SELECT DISTINCT source FROM c) s CROSS JOIN (SELECT DISTINCT v FROM c) g
    ),
    cum AS (
      SELECT grid.source, grid.v,
             sum(coalesce(c.c, 0)) OVER (
               PARTITION BY grid.source ORDER BY grid.v) AS cum_a
      FROM grid LEFT JOIN c ON grid.source = c.source AND grid.v = c.v
    ),
    g AS (SELECT v, sum(cum_a) AS cum_g FROM cum GROUP BY v),
    n AS (SELECT source, max(cum_a) AS n_a FROM cum GROUP BY source),
    tot AS (SELECT sum(n_a) AS n FROM n),
    dev AS (
      SELECT cum.source,
             abs(cum_a * (tot.n - n.n_a) - (g.cum_g - cum_a) * n.n_a) AS dv
      FROM cum JOIN g USING (v) JOIN n ON cum.source = n.source, tot
    )
    SELECT dev.source AS source,
           cast(n.n_a as bigint) AS n_docs,
           cast(max(dev.dv) as double)
             / (cast(n.n_a as double) * cast((tot.n - n.n_a) as double)) AS ks_d
    FROM dev JOIN n ON dev.source = n.source, tot
    GROUP BY dev.source, n.n_a, tot.n ORDER BY source
    """,
    doc="Two-sample Kolmogorov-Smirnov drift per source: exact sup-distance between each source's doc-length ECDF and the rest-of-corpus ECDF, evaluated on the pooled distinct-value grid; integer cross-multiplied deviations (exact), ONE final IEEE division per source.",
    tags=("training", "drift", "stats"),
)
def q170_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The classic distribution-drift test, exactly: for each crawl
    source, D = sup_x |ECDF_source(x) - ECDF_rest(x)| over document
    length — the KS statistic a data-quality monitor thresholds to
    catch a feed whose length profile shifted (truncation bugs,
    boilerplate floods). Complements q154's token-mixture TV distance:
    that watches WHAT the text says, this watches its SHAPE.

    Exactness: the sup runs over the pooled distinct-value grid (the
    ECDF difference only changes at sample points), and each deviation
    is the integer cross-multiplication |cumA*nB - cumB*nA| — exact in
    int64 (and below 2^53 for the final numerator) up to ~10^7 docs
    per side; ONE IEEE division per source produces the double, so the
    hash cannot move between engines.

    Scale shape: counts collapse to (source, length) cells first —
    the only row-count-sized shuffle is that partial agg; the grid is
    |sources| x |distinct lengths| (domain-bounded: lengths are
    integers, sources an enum), cumulative sums run in windows
    PARTITIONED BY source (no global-order single-partition window),
    and the pooled cum is a groupBy over the grid. At 100 TB with a
    continuous metric, the same lane runs on a fixed binning of x —
    the grid stays bounded; the statistic becomes the binned KS every
    monitoring system actually deploys."""
    docs = load_table(spark, sf_dir, "documents")
    c = docs.groupBy("source", F.col("n_chars").alias("v")).agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    c = scoped_persist(c)
    grid = c.select("source").distinct().crossJoin(c.select("v").distinct())
    cum = (
        grid.join(c, ["source", "v"], "left")
        .withColumn(
            "cum_a",
            F.sum(F.coalesce(F.col("c"), F.lit(0))).over(
                Window.partitionBy("source").orderBy("v")
            ),
        )
        .drop("c")
    )
    cum = scoped_persist(cum)
    g = cum.groupBy("v").agg(F.sum("cum_a").alias("cum_g"))
    n = cum.groupBy("source").agg(F.max("cum_a").alias("n_a"))
    tot = n.agg(F.sum("n_a").alias("n"))
    dev = (
        cum.join(g, "v")
        .join(F.broadcast(n), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_a",
            "n",
            F.abs(
                F.col("cum_a") * (F.col("n") - F.col("n_a"))
                - (F.col("cum_g") - F.col("cum_a")) * F.col("n_a")
            ).alias("dv"),
        )
    )
    return (
        dev.groupBy("source", "n_a", "n")
        .agg(F.max("dv").alias("mx"))
        .select(
            "source",
            F.col("n_a").cast("bigint").alias("n_docs"),
            (
                F.col("mx").cast("double")
                / (F.col("n_a").cast("double") * (F.col("n") - F.col("n_a")).cast("double"))
            ).alias("ks_d"),
        )
        .orderBy("source")
    )


# --- q173: Jensen-Shannon mixture drift -------------------------------------

#: ln(2) pinned as a literal double on BOTH engines (never libm at
#: runtime) — the JSD upper bound and the bits conversion factor.
LN2 = 0.6931471805599453


@query(
    "q173_jsd_drift",
    oracle=f"""
    WITH st AS (
      SELECT source, token, cast(count(*) as bigint) AS c
      FROM (SELECT source, unnest({tokens_sql("text")}) AS token FROM documents)
      GROUP BY source, token
    ),
    gt AS (SELECT token, cast(sum(c) as bigint) AS gc FROM st GROUP BY token),
    ns AS (SELECT source, cast(sum(c) as bigint) AS n_s,
                  cast(count(*) as bigint) AS vocab FROM st GROUP BY source),
    tot AS (SELECT cast(sum(gc) as bigint) AS n FROM gt),
    terms AS (
      SELECT st.source,
             cast(round(
               (cast(st.c as double) / cast(ns.n_s as double))
                 * ln(2.0 * (cast(st.c as double) / cast(ns.n_s as double))
                      / ((cast(st.c as double) / cast(ns.n_s as double))
                         + (cast(gt.gc - st.c as double) / cast(tot.n - ns.n_s as double))))
               + CASE WHEN gt.gc - st.c > 0 THEN
                   (cast(gt.gc - st.c as double) / cast(tot.n - ns.n_s as double))
                     * ln(2.0 * (cast(gt.gc - st.c as double) / cast(tot.n - ns.n_s as double))
                          / ((cast(st.c as double) / cast(ns.n_s as double))
                             + (cast(gt.gc - st.c as double) / cast(tot.n - ns.n_s as double))))
                 ELSE 0.0 END, 9) as decimal(18,9)) AS term,
             gt.gc - st.c AS r
      FROM st JOIN gt USING (token) JOIN ns USING (source), tot
    ),
    agg AS (
      SELECT terms.source, sum(term) AS sum_terms,
             cast(sum(r) as bigint) AS covered_r
      FROM terms GROUP BY terms.source
    )
    SELECT agg.source AS source, ns.n_s AS n_tokens, ns.vocab AS vocab_size,
           cast(agg.sum_terms
                + cast(round({LN2!r} * (cast((tot.n - ns.n_s) - agg.covered_r as double)
                                        / cast(tot.n - ns.n_s as double)), 9)
                       as decimal(18,9))
                as double) * 0.5 AS jsd
    FROM agg JOIN ns USING (source), tot ORDER BY source
    """,
    doc="Jensen-Shannon mixture drift per source: JSD between the source's token unigram distribution and the rest-of-corpus distribution — per-token terms only where the source HAS the token (the absent-token mass is the closed-form ln2 tail), each term rounded to 9 decimals and summed exactly as decimal(18,9); ln(2) pinned as a literal.",
    tags=("training", "drift", "stats"),
)
def q173_jsd_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The information-theoretic companion of q154 (TV distance) and
    q170 (KS on length): JSD is symmetric, bounded by ln 2, and the
    standard corpus-mixture monitor (is source X drifting away from
    the blend we trained on?). Source distribution P vs rest-of-corpus
    Q; JSD = (KL(P||M) + KL(Q||M))/2 with M = (P+Q)/2.

    The vocabulary-wide outer join is avoided exactly as in q154: a
    token ABSENT from the source contributes q/2 * ln 2 to the Q-side
    KL, so the whole absent tail collapses to the closed form
    ln2/2 * (n_r - covered_r)/n_r — only (source, token) cells with
    c > 0 ever materialize. Float contract: p and q are single exact
    int/int IEEE divisions; each per-token term rounds to 9 decimals
    and sums exactly as decimal(18,9) (q101's discipline — libm ulp
    differences between JVM and DuckDB vanish at 1e-9); ln(2) is a
    PINNED literal, never a runtime libm call; the final *0.5 scales
    an exactly-representable decimal-cast double.

    Scale shape: identical to q154 — one (source, token) partial-agg
    exchange, a token-keyed join against the global margin, broadcast
    per-source margins, |sources| output rows."""
    docs = load_table(spark, sf_dir, "documents")
    st = scoped_persist(
        docs.select("source", F.explode(tokens("text")).alias("token"))
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    gt = st.groupBy("token").agg(F.sum("c").cast("bigint").alias("gc"))
    ns = st.groupBy("source").agg(
        F.sum("c").cast("bigint").alias("n_s"),
        F.count(F.lit(1)).cast("bigint").alias("vocab"),
    )
    tot = gt.agg(F.sum("gc").cast("bigint").alias("n"))
    p = F.col("c").cast("double") / F.col("n_s").cast("double")
    qv = (F.col("gc") - F.col("c")).cast("double") / (F.col("n") - F.col("n_s")).cast("double")
    term = p * F.log(F.lit(2.0) * p / (p + qv)) + F.when(
        F.col("gc") - F.col("c") > 0, qv * F.log(F.lit(2.0) * qv / (p + qv))
    ).otherwise(F.lit(0.0))
    terms = (
        st.join(gt, "token")
        .join(F.broadcast(ns.select("source", "n_s")), "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.round(term, 9).cast("decimal(18,9)").alias("term"),
            (F.col("gc") - F.col("c")).alias("r"),
            "n_s",
            "n",
        )
    )
    agg = terms.groupBy("source", "n_s", "n").agg(
        F.sum("term").alias("sum_terms"),
        F.sum("r").cast("bigint").alias("covered_r"),
    )
    n_r = F.col("n") - F.col("n_s")
    tail = F.round(
        F.lit(LN2) * ((n_r - F.col("covered_r")).cast("double") / n_r.cast("double")), 9
    ).cast("decimal(18,9)")
    return (
        agg.join(ns.select("source", "vocab"), "source")
        .select(
            "source",
            F.col("n_s").alias("n_tokens"),
            F.col("vocab").alias("vocab_size"),
            ((F.col("sum_terms") + tail).cast("double") * F.lit(0.5)).alias("jsd"),
        )
        .orderBy("source")
    )


# --- q174: DSIR importance weights (hashed-ngram log-likelihood ratio) ------

DSIR_BUCKETS = 256  # hashed-bigram feature space (fixed, broadcastable)
DSIR_TARGET_LANG = "en"  # the quality-proxy target distribution


@query(
    "q174_dsir_weights",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang = '{DSIR_TARGET_LANG}' AS is_t,
             {tokens_sql("text")} AS toks FROM documents
      WHERE len({tokens_sql("text")}) >= 2
    ),
    bg AS MATERIALIZED (
      SELECT doc_id, is_t,
             cast(concat('0x', substr(md5(w1 || ' ' || w2), 1, 15)) as bigint)
               % {DSIR_BUCKETS} AS bucket
      FROM (
        SELECT doc_id, is_t,
               unnest([struct_pack(w1 := toks[i+1], w2 := toks[i+2])
                       for i in range(0, cast(len(toks) - 1 as int))],
                      recursive := true)
        FROM t
      )
    ),
    bc AS (
      SELECT bucket,
             cast(sum(CASE WHEN is_t THEN 1 ELSE 0 END) as bigint) AS ct,
             cast(sum(CASE WHEN is_t THEN 0 ELSE 1 END) as bigint) AS cs
      FROM bg GROUP BY bucket
    ),
    n AS (SELECT cast(sum(ct) as bigint) AS n_t, cast(sum(cs) as bigint) AS n_s FROM bc),
    lr AS (
      SELECT bucket,
             cast(round(ln((cast(ct + 1 as double) * cast(n.n_s + {DSIR_BUCKETS} as double))
                           / (cast(cs + 1 as double) * cast(n.n_t + {DSIR_BUCKETS} as double))), 9)
                  as decimal(18,9)) AS lr
      FROM bc, n
    )
    SELECT bg.doc_id,
           cast(max(CASE WHEN bg.is_t THEN 1 ELSE 0 END) as int) AS is_target,
           cast(count(*) as bigint) AS n_grams,
           cast(sum(lr.lr) as double) / cast(count(*) as double) AS avg_log_ratio
    FROM bg JOIN lr USING (bucket)
    GROUP BY bg.doc_id ORDER BY bg.doc_id
    """,
    doc=f"DSIR importance weights: per-doc mean log-likelihood ratio of hashed word-bigram features under the target ('{DSIR_TARGET_LANG}' docs) vs source (rest) unigram-of-feature models, add-one smoothed over {DSIR_BUCKETS} buckets — the public hashed-ngram data-selection estimator; md5 bucket hash shared bit-for-bit with the oracle, 9-decimal term rounding + exact decimal sums.",
    tags=("training", "selection", "quality"),
)
def q174_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data SELECTION, not just filtering: DSIR (Xie et al. 2023)
    scores every raw document by how much more likely its features are
    under a target distribution (here the 'en' subset standing in
    for 'formal text') than under the raw-source distribution, then
    samples by the importance weight. This lane computes the weights —
    the expensive distributed part; q141's PPS machinery is the
    sampling step.

    Estimator: features are word bigrams hashed to {DSIR_BUCKETS}
    buckets (hex16 md5, the engine's portable-hash bridge, bit-equal
    in DuckDB); each bucket's log ratio is
    ln((ct+1)(n_s+B) / ((cs+1)(n_t+B))) — add-one smoothing on both
    models so unseen buckets stay finite; a document's weight is the
    MEAN ratio over its gram instances.

    Float contract: bucket ratios are one exact-int-product division
    + one libm ln, rounded to 9 decimals into decimal(18,9) (q101's
    discipline); per-doc sums are exact decimal; ONE final IEEE
    division by the gram count.

    Scale shape: gram instances collapse to {DSIR_BUCKETS} cells in
    one partial-agg exchange (the model fit); scoring joins exploded
    grams against the BROADCAST 256-row ratio table — document text
    never shuffles, and the per-doc agg shuffles (doc_id, decimal)
    pairs. At 100 TB this is DSIR's own architecture: fixed-size
    hashed feature models, one pass to fit, one to score."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    toks = tokens("text")
    t = docs.select(
        "doc_id",
        (F.col("lang") == DSIR_TARGET_LANG).alias("is_t"),
        toks.alias("toks"),
    ).where(F.size("toks") >= 2)
    gram = F.concat(F.col("toks")[F.col("i")], F.lit(" "), F.col("toks")[F.col("i") + 1])
    bg = scoped_persist(
        t.select(
            "doc_id",
            "is_t",
            F.explode(F.sequence(F.lit(0), F.size("toks") - 2)).alias("i"),
            "toks",
        ).select(
            "doc_id",
            "is_t",
            (hex16(gram) % DSIR_BUCKETS).alias("bucket"),
        )
    )
    bc = bg.groupBy("bucket").agg(
        F.sum(F.when(F.col("is_t"), 1).otherwise(0)).cast("bigint").alias("ct"),
        F.sum(F.when(F.col("is_t"), 0).otherwise(1)).cast("bigint").alias("cs"),
    )
    n = bc.agg(
        F.sum("ct").cast("bigint").alias("n_t"), F.sum("cs").cast("bigint").alias("n_s")
    )
    B = F.lit(float(DSIR_BUCKETS))
    lr = bc.crossJoin(F.broadcast(n)).select(
        "bucket",
        F.round(
            F.log(
                ((F.col("ct") + 1).cast("double") * (F.col("n_s").cast("double") + B))
                / ((F.col("cs") + 1).cast("double") * (F.col("n_t").cast("double") + B))
            ),
            9,
        )
        .cast("decimal(18,9)")
        .alias("lr"),
    )
    return (
        bg.join(F.broadcast(lr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.max(F.when(F.col("is_t"), 1).otherwise(0)).cast("int").alias("is_target"),
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            (F.sum("lr").cast("double") / F.count(F.lit(1)).cast("double")).alias(
                "avg_log_ratio"
            ),
        )
        .orderBy("doc_id")
    )


# --- q204: BPE merge-rule learning (unrolled fixed-round loop) --------------

#: number of unrolled merge rounds — the q129/q184 fixed-round
#: discipline: each round is one deterministic dataflow step, so the
#: whole loop is oracle-able as K chained CTEs.
BPE_MERGES = 6


def _bpe_wrap_sql() -> str:
    """Initial symbol sequence: each character of the normalized word
    wrapped as ``(c)`` — the delimiter trick that makes one SQL/JVM
    ``replace()`` call EXACTLY the BPE leftmost non-overlapping merge
    scan: adjacent matches share no characters (unlike space-joined
    symbols, where ``' a a '`` consumes the next match's leading
    space), so left-to-right replacement can neither skip nor overlap.
    ``(`` and ``)`` cannot collide: normalized words are [a-z0-9]+."""
    return r"regexp_replace(word, '(.)', '(\1)', 'g')"


def _bpe_cte_parts() -> tuple[list[str], list[str], str]:
    """The shared BPE merge-learning CTE chain (w0 word counts, r0
    wrapped sequences, then per round: pair counts p{k}, winner b{k},
    post-merge state r{k}). Returns (parts, per-round merge selects,
    name of the final state CTE) — q204's oracle unions the selects,
    q206's encode oracle reads the final state."""
    from pandamapreduce_spark.functions import normalize_text_sql

    parts = [
        f"""w0 AS (
      SELECT word, cast(count(*) as bigint) AS cnt FROM (
        SELECT unnest({tokens_sql(normalize_text_sql("text"), pattern=" ")}) AS word
        FROM documents
      ) GROUP BY word
    ),
    r0 AS (SELECT cnt, {_bpe_wrap_sql()} AS seq FROM w0)"""
    ]
    selects = []
    prev = "r0"
    for k in range(1, BPE_MERGES + 1):
        parts.append(f"""p{k} AS (
      SELECT syms[i] AS lhs, syms[i + 1] AS rhs, cast(sum(cnt) as bigint) AS c
      FROM (
        SELECT cnt, syms, unnest(range(1, len(syms))) AS i
        FROM (SELECT cnt, str_split(trim(seq, '()'), ')(') AS syms FROM {prev})
      ) GROUP BY 1, 2
    ),
    b{k} AS (SELECT lhs, rhs, c FROM p{k} ORDER BY c DESC, lhs, rhs LIMIT 1),
    r{k} AS (
      SELECT w.cnt,
             replace(w.seq, '(' || b.lhs || ')(' || b.rhs || ')',
                     '(' || b.lhs || b.rhs || ')') AS seq
      FROM {prev} w, b{k} b
    )""")
        selects.append(
            f"SELECT {k} AS merge_round, lhs, rhs, c AS pair_count,"
            f" lhs || rhs AS new_symbol FROM b{k}"
        )
        prev = f"r{k}"
    return parts, selects, prev


def _bpe_oracle() -> str:
    parts, selects, _ = _bpe_cte_parts()
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + "\n    UNION ALL ".join(selects)
        + "\n    ORDER BY merge_round"
    )


@query(
    "q204_bpe_merges",
    oracle=_bpe_oracle(),
    doc=f"BPE merge-rule learning over the corpus word-frequency table: {BPE_MERGES} unrolled merge rounds, each picking the highest-total-count adjacent symbol pair (ties: lexicographic on the pair) and applying the leftmost-non-overlapping merge to every word type — the missing loop between q96's frequency vocab and q107's encode (VERDICT r7 #4); output = the learned merge table (round, pair, count, new symbol), the artifact a BPE tokenizer ships.",
    tags=("training", "vocab", "text", "iterative"),
)
def q204_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Byte-pair encoding (Sennrich et al. 2016, public algorithm):
    repeatedly merge the corpus's most frequent adjacent symbol pair.
    The scale insight BPE implementations share: after the first
    word-count pass, ALL state lives on the word-TYPE table (Zipf-
    bounded — ~10^7-10^8 types at 100 TB, vs 10^12 corpus tokens), so
    each round is a small-table dataflow: explode adjacent pairs
    weighted by type count, one distributed TakeOrdered(1) for the
    winner (never a global sort), one driver row per round, and a
    map-only ``replace`` applying the merge to every type.

    Exactness: pair counts are exact integers; the winning pair's
    tie-break (count DESC, lhs, rhs) is a total order over ASCII
    [a-z0-9] symbols, identical in both engines; and the wrapped
    ``(sym)`` representation (see ``_bpe_wrap_sql``) makes Spark's and
    DuckDB's left-to-right ``replace`` EXACTLY the BPE merge scan —
    no overlap ambiguity, pytest-pinned against a pure-Python
    reference implementation.

    The merged symbol does not re-pair within its own round (the
    standard semantics): round counts come from the PRE-merge
    sequences, application is one literal replace."""
    merges, _ = _bpe_learn(_bpe_words(load_table(spark, sf_dir, "documents", spread=True)))
    return spark.createDataFrame(
        merges,
        "merge_round int, lhs string, rhs string, pair_count bigint, new_symbol string",
    ).orderBy("merge_round")


def _bpe_words(docs: DataFrame) -> DataFrame:
    """The corpus word-TYPE frequency table all BPE state lives on."""
    from pandamapreduce_spark.functions import normalize_text

    return (
        docs.select(F.explode(tokens(normalize_text("text"), pattern=" ")).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )


def _bpe_learn(words: DataFrame) -> tuple[list[tuple[int, str, str, int, str]], DataFrame]:
    """The BPE_MERGES-round merge-learning loop over the (word, cnt)
    type table (shared by q204, q206 and q208). Returns the learned
    merge list and the wrapped-sequence state after the last merge.
    Rounds run through ``caching.iterate``: each round's state is
    checkpointed, so a round reads the previous round's materialized
    types instead of replaying every earlier ``replace`` from the base
    (O(K^2) passes over the word-type table)."""
    syms = F.split(F.expr("trim(BOTH '()' FROM seq)"), r"\)\(")
    adj = F.expr(
        "transform(sequence(0, size(syms) - 2), i -> struct(syms[i] AS lhs, syms[i + 1] AS rhs))"
    )
    merges: list[tuple[int, str, str, int, str]] = []

    def step(cur: DataFrame, k: int) -> DataFrame:
        pairs = (
            cur.select("cnt", syms.alias("syms"))
            .where(F.size("syms") >= 2)  # sequence(0,-1) would DESCEND
            .select("cnt", F.explode(adj).alias("p"))
        )
        best = (
            pairs.groupBy(F.col("p.lhs").alias("lhs"), F.col("p.rhs").alias("rhs"))
            .agg(F.sum("cnt").cast("bigint").alias("c"))
            .orderBy(F.col("c").desc(), "lhs", "rhs")
            .limit(1)
            .collect()[0]
        )
        lhs, rhs, c = best["lhs"], best["rhs"], int(best["c"])
        merges.append((k, lhs, rhs, c, lhs + rhs))
        return cur.withColumn(
            "seq", F.replace("seq", F.lit(f"({lhs})({rhs})"), F.lit(f"({lhs}{rhs})"))
        )

    cur = scoped_persist(
        words.select("cnt", F.regexp_replace("word", "(.)", r"($1)").alias("seq"))
    )
    return merges, iterate(cur, step, BPE_MERGES)


# --- q206: BPE encode with the learned merges -------------------------------


def _bpe_enc_dw_parts() -> list[str]:
    """The learn chain plus the two encode CTEs both encode lanes
    share: ``enc`` (word type → post-merge symbol count) and ``dw``
    (per-doc distinct words with occurrence counts)."""
    from pandamapreduce_spark.functions import normalize_text_sql

    parts, _, final = _bpe_cte_parts()
    toks = tokens_sql(normalize_text_sql("text"), pattern=" ")
    parts.append(f"""enc AS (
      SELECT replace(replace(seq, '(', ''), ')', '') AS word,
             cast(len(str_split(trim(seq, '()'), ')(')) as bigint) AS n_sym
      FROM {final}
    ),
    dw AS (
      SELECT doc_id, word, cast(count(*) as bigint) AS occ FROM (
        SELECT doc_id, unnest({toks}) AS word FROM documents
      ) GROUP BY doc_id, word
    )""")
    return parts


def _bpe_encode_oracle() -> str:
    return (
        "WITH "
        + ",\n    ".join(_bpe_enc_dw_parts())
        + """
    SELECT d.doc_id,
           cast(sum(d.occ) as bigint) AS n_words,
           cast(sum(d.occ * length(d.word)) as bigint) AS n_word_chars,
           cast(sum(d.occ * e.n_sym) as bigint) AS n_bpe_tokens
    FROM dw d JOIN enc e USING (word)
    GROUP BY d.doc_id ORDER BY d.doc_id"""
    )


@query(
    "q206_bpe_encode",
    oracle=_bpe_encode_oracle(),
    doc=f"BPE ENCODE with q204's learned merges — the tokenizer loop closed (VERDICT r8 #5): the {BPE_MERGES} learned merge rules are applied to every corpus word type (same wrapped-representation replace chain, so application IS the leftmost non-overlapping merge scan), then each document is priced against the encoded type table: words, pre-BPE characters, and post-BPE token count per document. vocab (q96) -> merges (q204) -> encode (q206) is now a complete, oracle-checked tokenizer pipeline; oracle = the identical chained-CTE learn chain plus one encode join.",
    tags=("training", "vocab", "text", "iterative"),
)
def q206_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding throughput is why BPE state lives on the word-TYPE
    table: the merge chain is applied once per TYPE (Zipf-bounded,
    ~10^7-10^8 rows at 100 TB), and documents join against the encoded
    table instead of re-running merges per token occurrence (10^12
    rows). Per-document output: n_words, n_word_chars (pre-BPE symbol
    count = characters), n_bpe_tokens (post-merge symbol count) — the
    sequence-length/compression numbers a packing stage (q90) and a
    token-budget mixture (q99/q110) consume.

    Scale shape: the (doc_id, word) aggregation is one map-side-
    combined exchange of per-doc DISTINCT words (sub-token-stream);
    the encode join keys on the word type — Zipf-skewed ('the' is
    hot), which AQE's skew split handles, and the per-type payload is
    two ints, so skewed keys are wide, not deep. The final per-doc agg
    re-uses the dw exchange's partitioning. Learned state: the
    {BPE_MERGES}-round loop is q204's shared ``_bpe_learn`` (one
    bounded driver row per round); encode itself adds NO new driver
    state.

    Exactness: all outputs are exact integers; the replace-chain
    equivalence to the definitional merge scan is the same pytest-
    pinned wrapped-representation argument as q204 (tests/test_bpe.py
    covers the encode path against a from-scratch Python encoder)."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    _, final = _bpe_learn(_bpe_words(docs))
    return (
        _bpe_doc_words(docs)
        .join(_bpe_enc_table(final), "word")
        .groupBy("doc_id")
        .agg(
            F.sum("occ").cast("bigint").alias("n_words"),
            F.sum(F.col("occ") * F.length("word")).cast("bigint").alias("n_word_chars"),
            F.sum(F.col("occ") * F.col("n_sym")).cast("bigint").alias("n_bpe_tokens"),
        )
        .orderBy("doc_id")
    )


def _bpe_enc_table(final: DataFrame) -> DataFrame:
    """(word, n_sym): each word TYPE's post-merge symbol count, with
    the word recovered from its wrapped sequence (parens only ever
    come from wrapping — normalized words are [a-z0-9]+)."""
    return final.select(
        F.regexp_replace("seq", r"[()]", "").alias("word"),
        F.size(F.split(F.expr("trim(BOTH '()' FROM seq)"), r"\)\("))
        .cast("bigint")
        .alias("n_sym"),
    )


def _bpe_doc_words(docs: DataFrame) -> DataFrame:
    """(doc_id, word, occ): per-document distinct words with counts —
    the map-side-combined reduction of the token stream both encode
    lanes join against the type table."""
    from pandamapreduce_spark.functions import normalize_text

    return (
        docs.select(
            "doc_id", F.explode(tokens(normalize_text("text"), pattern=" ")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count(F.lit(1)).cast("bigint").alias("occ"))
    )


# --- q208: sequence packing by LEARNED-BPE token counts ---------------------


def _bpe_pack_oracle() -> str:
    parts = _bpe_enc_dw_parts()
    parts.append("""per AS (
      SELECT d.doc_id, cast(sum(d.occ * e.n_sym) as bigint) AS n_tokens
      FROM dw d JOIN enc e USING (word) GROUP BY d.doc_id
    ),
    t AS (
      SELECT doc_id, cast(coalesce(p.n_tokens, 0) as bigint) AS n_tokens
      FROM documents LEFT JOIN per p USING (doc_id)
    ),
    o AS (
      SELECT doc_id, n_tokens,
             cast(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) as bigint) AS start_offset
      FROM t
    )""")
    return (
        "WITH "
        + ",\n    ".join(parts)
        + f"""
    SELECT doc_id, n_tokens, start_offset,
           start_offset // {PACK_TOKENS} AS pack_first,
           (start_offset + greatest(n_tokens, 1) - 1) // {PACK_TOKENS} AS pack_last,
           ((start_offset + greatest(n_tokens, 1) - 1) // {PACK_TOKENS})
             - (start_offset // {PACK_TOKENS}) + 1 AS n_packs
    FROM o ORDER BY doc_id"""
    )


@query(
    "q208_bpe_pack",
    oracle=_bpe_pack_oracle(),
    doc=f"Sequence packing by LEARNED-BPE token counts — the tokenizer pipeline's last stage run with its own tokenizer: q206's encoded type table prices every document in post-merge tokens (wordless docs kept at 0 via left join), the shared distributed prefix machinery (`range_prefix`) assigns exact global token offsets, and each doc maps to its {PACK_TOKENS}-token pack span. q90 packs by whitespace tokens (the pre-tokenizer approximation); this lane packs by what the trained model actually consumes. vocab -> merges -> encode -> PACK, all oracle-checked end-to-end.",
    tags=("training", "packing", "vocab", "iterative"),
)
def q208_bpe_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A GPT-style pretraining batch is sized in TOKENIZER tokens, not
    whitespace words — packing with q90's whitespace counts missizes
    every sequence by the corpus's BPE compression ratio. This lane
    composes the shipped pieces: q206's type-table encode join (per
    TYPE, never per occurrence) produces per-doc BPE token counts, and
    the global running sum is the `range_prefix` distributed prefix —
    range-partition by doc_id, ONE bounded row per range collected,
    base offsets broadcast back (the flat q100/q189 plan, not a
    single-partition window, not a when-chain).

    Scale shape: everything before the prefix is q206's audited plan;
    the prefix (``_pack_spans``, shared with q90) adds one range
    exchange + a PREFIX_RANGES-row driver collect + a broadcast join;
    pack arithmetic is map-only integer div. Offsets are invariant to
    range boundaries (range_prefix contract, pytest-pinned there), so
    cluster-size changes move no pack assignment.

    Exactness: all columns are exact bigints; the oracle reproduces
    the SAME chained-CTE learn/encode chain plus a window-based prefix
    — parity proves the distributed prefix rewrite."""
    docs = load_table(spark, sf_dir, "documents", spread=True)
    _, final = _bpe_learn(_bpe_words(docs))
    per = (
        _bpe_doc_words(docs)
        .join(_bpe_enc_table(final), "word")
        .groupBy("doc_id")
        .agg(F.sum(F.col("occ") * F.col("n_sym")).cast("bigint").alias("n_tokens"))
    )
    t = (
        docs.select("doc_id")
        .join(per, "doc_id", "left")
        .select("doc_id", F.coalesce("n_tokens", F.lit(0)).cast("bigint").alias("n_tokens"))
    )
    return _pack_spans(t)
