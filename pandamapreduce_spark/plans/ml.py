"""ML-shaped queries: the reference's paper apps (GEMV, C-means —
SURVEY A7) as engine queries over the embeddings table.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pandamapreduce_spark.catalog import load_table
from pandamapreduce_spark.functions import dot
from pandamapreduce_spark.functions.vector import vec_lit
from pandamapreduce_spark.operators.ml import kmeans
from pandamapreduce_spark.plans.registry import query
from pandamapreduce_spark.plans.similarity import N_QUERIES, TOP_K, _ann_lane

DIM = 64


def _weight(i: int) -> float:
    h = hashlib.md5(f"w:{i}".encode()).hexdigest()
    return (int(h[:15], 16) % 2_000_000) / 1_000_000.0 - 1.0


WEIGHTS = [_weight(i) for i in range(DIM)]


@query(
    "q48_gemv",
    oracle=f"""
    SELECT vec_id,
           list_dot_product(cast(embedding as double[]),
                            [{", ".join(repr(w) for w in WEIGHTS)}]) AS y
    FROM embeddings ORDER BY vec_id
    """,
    doc="GEMV (reference paper app): row-distributed matrix x broadcast vector.",
    tags=("ml", "gemv"),
)
def q48_gemv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The paper's GEMV workload shape: the matrix is the row-
    partitioned embeddings table, the vector broadcasts as a literal;
    one map-side fold per row, zero shuffle."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    w = vec_lit(WEIGHTS)
    return emb.select("vec_id", dot(F.col("embedding"), w).alias("y")).orderBy("vec_id")


@query(
    "q47_kmeans_assign",
    oracle=f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
    d AS (
      SELECT e.vec_id, c.cid,
             (list_dot_product(cast(e.embedding as double[]), cast(e.embedding as double[]))
              - 2 * list_dot_product(cast(e.embedding as double[]), cast(c.cvec as double[]))
              + list_dot_product(cast(c.cvec as double[]), cast(c.cvec as double[]))) AS dist2
      FROM embeddings e CROSS JOIN c
    ),
    r AS (
      SELECT vec_id, cid, dist2,
             row_number() OVER (PARTITION BY vec_id ORDER BY dist2, cid) AS rn
      FROM d
    )
    SELECT cid AS cluster_id, count(*) AS n_vectors, min(vec_id) AS min_vec_id,
           cast(round(sum(cast(dist2 as decimal(28,10))), 4) as double) AS total_dist2
    FROM r WHERE rn = 1
    GROUP BY cid ORDER BY cid
    """,
    doc="K-means assignment step (C-means shape): nearest of 8 seed centroids per vector, cluster summary.",
    tags=("ml", "kmeans"),
)
def q47_kmeans_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One assignment iteration as a declarative plan: centroids are a
    tiny broadcast side (vec_id < 8), distance = dot-product expansion
    (bitwise-deterministic), argmin via ranking window. The shuffle
    carries one row per vector."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    c = emb.where(F.col("vec_id") < 8).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    e = emb.select("vec_id", "embedding")
    x, cv = F.col("embedding"), F.col("cvec")
    d = (
        e.crossJoin(F.broadcast(c))
        .select(
            "vec_id",
            "cid",
            (dot(x, x) - 2 * dot(x, cv) + dot(cv, cv)).alias("dist2"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy("dist2", "cid")
    r = d.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        r.groupBy(F.col("cid").alias("cluster_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            F.round(F.sum(F.col("dist2").cast("decimal(28,10)")), 4).cast("double").alias("total_dist2"),
        )
        .orderBy("cluster_id")
    )


@query(
    "q55_ivf_knn",
    oracle=f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
    assigned AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 (list_dot_product(cast(e.embedding as double[]), cast(e.embedding as double[]))
                  - 2 * list_dot_product(cast(e.embedding as double[]), cast(c.cvec as double[]))
                  + list_dot_product(cast(c.cvec as double[]), cast(c.cvec as double[]))), c.cid) AS rn
        FROM embeddings e CROSS JOIN c
      ) WHERE rn = 1
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
      SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
             (list_dot_product(cast(q.embedding as double[]), cast(x.embedding as double[]))
               / (sqrt(list_dot_product(cast(q.embedding as double[]), cast(q.embedding as double[])))
                  * sqrt(list_dot_product(cast(x.embedding as double[]), cast(x.embedding as double[]))))) AS cos_sim,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               (list_dot_product(cast(q.embedding as double[]), cast(x.embedding as double[]))
                 / (sqrt(list_dot_product(cast(q.embedding as double[]), cast(q.embedding as double[])))
                    * sqrt(list_dot_product(cast(x.embedding as double[]), cast(x.embedding as double[]))))) DESC,
               x.vec_id) AS rank
      FROM assigned q JOIN assigned x ON q.cid = x.cid AND q.vec_id <> x.vec_id
      WHERE q.vec_id < {N_QUERIES}
    ) WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    doc="IVF-style ANN: k-means coarse quantizer (8 cells, 1 probe) -> exact top-5 within the query's cell.",
    tags=("similarity", "ivf", "ml"),
)
def q55_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF scale path for billion-vector ANN: assignment is
    map-only against broadcast centroids; search joins on the cell id
    (co-partitioned equi-join). Recall improves with n_probe cells
    (q77); 1 probe here keeps the oracle simple."""
    return _ann_lane(spark, sf_dir, "ivf_1probe")


GMM_SIGMA = [1.0 + k / 10.0 for k in range(8)]
GMM_PI = [1.0 / 8.0] * 8
# log-space constants computed driver-side and injected as identical
# literals into both engines: ln() differs by 1 ulp between Spark and
# DuckDB, so it must not be evaluated inside either engine.
import math as _math

GMM_CONST = [-DIM * _math.log(s) + _math.log(p) for s, p in zip(GMM_SIGMA, GMM_PI)]


@query(
    "q58_gmm_assign",
    oracle=f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
    scored AS (
      SELECT e.vec_id, c.cid,
             (-(list_dot_product(cast(e.embedding as double[]), cast(e.embedding as double[]))
                - 2 * list_dot_product(cast(e.embedding as double[]), cast(c.cvec as double[]))
                + list_dot_product(cast(c.cvec as double[]), cast(c.cvec as double[])))
              / (2 * ([{", ".join(repr(s) for s in GMM_SIGMA)}])[c.cid + 1]
                   * ([{", ".join(repr(s) for s in GMM_SIGMA)}])[c.cid + 1])
              + ([{", ".join(repr(v) for v in GMM_CONST)}])[c.cid + 1]) AS log_score
      FROM embeddings e CROSS JOIN c
    )
    SELECT cid AS component, count(*) AS n_vectors, min(vec_id) AS min_vec_id,
           cast(round(sum(cast(log_score as decimal(28,10))), 4) as double) AS total_log_score
    FROM (
      SELECT vec_id, cid, log_score,
             row_number() OVER (PARTITION BY vec_id ORDER BY log_score DESC, cid) AS rn
      FROM scored
    ) WHERE rn = 1
    GROUP BY cid ORDER BY cid
    """,
    doc="GMM E-step (isotropic, fixed priors): max-posterior component per vector, component summary.",
    tags=("ml", "gmm"),
)
def q58_gmm_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's GMM paper app (A7) as a hard-assignment E-step:
    log-density = -|x-mu|^2 / (2 sigma_k^2) + const_k with the log
    constants precomputed driver-side (ln parity hazard). Same
    broadcast + partial-agg shape as k-means; soft responsibilities
    would add one exp-normalize per row."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select("vec_id", "embedding")
    c = emb.where(F.col("vec_id") < 8).select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cvec"))
    x, cv = F.col("embedding"), F.col("cvec")
    sigma_arr = vec_lit(GMM_SIGMA)
    const_arr = vec_lit(GMM_CONST)
    dist2 = dot(x, x) - 2 * dot(x, cv) + dot(cv, cv)
    log_score = -dist2 / (2 * sigma_arr[F.col("cid")] * sigma_arr[F.col("cid")]) + const_arr[F.col("cid")]
    scored = emb.crossJoin(F.broadcast(c)).select("vec_id", "cid", log_score.alias("log_score"))
    w = Window.partitionBy("vec_id").orderBy(F.col("log_score").desc(), "cid")
    best = scored.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    return (
        best.groupBy(F.col("cid").alias("component"))
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            F.round(F.sum(F.col("log_score").cast("decimal(28,10)")), 4).cast("double").alias("total_log_score"),
        )
        .orderBy("component")
    )


# q59's E-step exp/ln run on JVM Math.* in Spark and libm in DuckDB,
# which differ by 1 ulp on ~10% of inputs on this host (measured over
# 1M values spanning the log-prob range) — so unlike k-means/C-means
# (q54/q60a, transcendental-free, unrolled-SQL-oracled) a computed
# cross-engine GMM oracle cannot be stable. Instead the oracle PINS
# literal expected rows per shipped fixture (the q52/q53 precedent:
# deterministic pipeline → frozen expectation, rounded to the driver's
# 6-dp float canon). The fit itself is bitwise-deterministic on this
# runtime: decimal-exact M-step sums make it partitioning-invariant
# (pytest determinism test) and JVM exp/log are deterministic for
# fixed inputs. The fixture is identified inside the oracle by a
# decimal-summed fingerprint of the embeddings table; an unknown
# fixture yields 0 oracle rows → an HONEST mismatch, never a silent
# pass; the query's ``covers`` SQL runs the same fingerprint, so a
# parity tool can tell an unpinned fixture from a wrong fit. Semantic
# correctness stays guarded by the EM-monotonicity + determinism
# invariants in tests/test_ml.py; the pin guards regressions and gives
# the driver a full value-hash row.
_Q59_EXPECTED = {
    # fingerprint -> [(component, weight, sigma2, n_assigned, final_mean_loglik)]
    # sf0.001 fixture (500 vectors)
    -1.463953: [
        (0, 0.24968, 0.015586, 94, 42.332727),
        (1, 0.251557, 0.015578, 126, 42.332727),
        (2, 0.249176, 0.015587, 139, 42.332727),
        (3, 0.249588, 0.015583, 141, 42.332727),
    ],
    # sf0.01 fixture (500 vectors, different draw)
    1.082355: [
        (0, 0.251323, 0.015571, 101, 42.357027),
        (1, 0.249528, 0.015568, 119, 42.357027),
        (2, 0.249492, 0.015573, 140, 42.357027),
        (3, 0.249657, 0.015566, 140, 42.357027),
    ],
}

_Q59_FINGERPRINT = (
    "SELECT round(cast(sum(cast(embedding[1] as decimal(28,12))) as double), 6) FROM embeddings"
)


def _q59_oracle_sql() -> str:
    branches = []
    for fp, rows in _Q59_EXPECTED.items():
        # explicit double casts: DuckDB types bare decimal literals as
        # DECIMAL, which would canonicalize differently from doubles
        vals = ", ".join(
            f"(cast({c} as int), cast({w!r} as double), cast({s!r} as double), "
            f"cast({n} as bigint), cast({ll!r} as double))"
            for c, w, s, n, ll in rows
        )
        branches.append(
            f"SELECT * FROM (VALUES {vals}) "
            f"t(component, weight, sigma2, n_assigned, final_mean_loglik) "
            f"WHERE ({_Q59_FINGERPRINT}) = {fp!r}"
        )
    return " UNION ALL ".join(branches) + " ORDER BY component"


@query(
    "q59_gmm_em",
    oracle=_q59_oracle_sql(),
    covers=f"SELECT ({_Q59_FINGERPRINT}) IN ({', '.join(repr(fp) for fp in _Q59_EXPECTED)})",
    doc="Full GMM EM (3 iterations, isotropic): component weights/variances + mean log-likelihood trace. Hash-oracled via per-fixture pinned literal rows (deterministic fit; 6-dp canon), q52-style.",
    tags=("ml", "gmm", "iterative"),
)
def q59_gmm_em(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's GMM paper app end-to-end: E-step (stable
    log-sum-exp, JVM expressions), M-step (responsibility-weighted
    exact-decimal moments). Returns one row per component."""
    from pandamapreduce_spark.operators.ml import gmm_em

    emb = load_table(spark, sf_dir, "embeddings", spread=True).select("vec_id", "embedding")
    params, assigned, ll = gmm_em(emb, k=4, iterations=3)
    counts = {r.component: r.n for r in assigned.groupBy("component").agg(F.count(F.lit(1)).alias("n")).collect()}
    # 6-dp rounding matches the pinned-literal oracle at the driver's
    # float canon (repo round-in-query convention).
    rows = [
        (
            c,
            round(float(params["pis"][c]), 6),
            round(float(params["sig2"][c]), 6),
            int(counts.get(c, 0)),
            round(float(ll[-1]), 6),
        )
        for c in range(4)
    ]
    return spark.createDataFrame(
        rows, "component int, weight double, sigma2 double, n_assigned bigint, final_mean_loglik double"
    )


def _cmeans_oracle_sql(k: int = 4, iters: int = 3, dim: int = DIM) -> str:
    """Unrolled-iteration SQL twin of ``operators.ml.cmeans`` (same
    idea as ``_kmeans_oracle_sql``): fuzzy C-means with m=2 is
    transcendental-free — memberships are ratio chains in explicit
    cid order, M-steps are exact-decimal weighted means — so a fixed
    iteration count unrolls to plain CTEs and the whole loop is
    bit-reproducible. (GMM's log-sum-exp E-step hits exp/ln, where JVM
    and libm may differ in the last ulp, so q59 instead pins literal
    expected rows per fixture — see ``_q59_oracle_sql``.)

    Every CTE is MATERIALIZED: un-hinted DuckDB inlines the chain and
    re-expands each membership CTE per reference (60.6 s -> 0.1 s at
    sf0.001, identical rows)."""
    DECM = "decimal(28,12)"
    dp = "list_dot_product"
    parts = [
        "WITH v AS MATERIALIZED (SELECT vec_id, cast(embedding as double[]) AS x FROM embeddings)",
        f"seed AS MATERIALIZED (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, x AS c FROM v ORDER BY vec_id LIMIT {k})",
        "cp0 AS MATERIALIZED (SELECT "
        + ", ".join(f"(SELECT c FROM seed WHERE cid={c}) AS cc{c}" for c in range(k))
        + ")",
    ]

    def memb_cte(name: str, cp: str) -> str:
        dcols = ", ".join(
            f"greatest({dp}(v.x, {cp}.cc{c}) * (-2) + {dp}(v.x, v.x) + {dp}({cp}.cc{c}, {cp}.cc{c}), 1e-12) AS d{c}"
            for c in range(k)
        )
        den = " + ".join(f"(1.0 / d{c})" for c in range(k))  # cid-order sum, matching the Spark fold
        ucols = ", ".join(f"(1.0 / d{c}) / ({den}) AS u{c}" for c in range(k))
        return (
            f"{name}d AS MATERIALIZED (SELECT v.vec_id, v.x, {dcols} FROM v CROSS JOIN {cp}),\n"
            f"{name} AS MATERIALIZED (SELECT *, {ucols} FROM {name}d)"
        )

    def mstep_cte(perdim: str, memb: str, cpnext: str) -> str:
        aggs = ", ".join(
            f"cast(sum(cast(u{c} * u{c} * x[r.i] as {DECM})) as double) / cast(sum(cast(u{c} * u{c} as {DECM})) as double) AS m{c}"
            for c in range(k)
        )
        lists = ", ".join(f"(SELECT list(m{c} ORDER BY i) FROM {perdim}) AS cc{c}" for c in range(k))
        return (
            f"{perdim} AS MATERIALIZED (SELECT r.i AS i, {aggs} FROM {memb}, range(1, {dim + 1}) r(i) GROUP BY r.i),\n"
            f"{cpnext} AS MATERIALIZED (SELECT {lists})"
        )

    for it in range(iters):
        parts.append(memb_cte(f"m{it}", f"cp{it}"))
        parts.append(mstep_cte(f"pd{it}", f"m{it}", f"cp{it + 1}"))
    parts.append(memb_cte(f"m{iters}", f"cp{iters}"))
    jterm = " + ".join(f"cast(u{c} * u{c} * d{c} as {DECM})" for c in range(k))
    parts.append(f"obj AS MATERIALIZED (SELECT cast(sum({jterm}) as double) AS j FROM m{iters})")
    masses = " UNION ALL ".join(
        f"SELECT {c} AS cluster, (SELECT cast(round(sum(cast(u{c} as {DECM})), 4) as double) FROM m{iters}) AS fuzzy_mass, (SELECT j FROM obj) AS final_objective"
        for c in range(k)
    )
    return ",\n".join(parts) + f"\nSELECT * FROM ({masses}) ORDER BY cluster"


@query(
    "q60a_cmeans",
    oracle=_cmeans_oracle_sql(),
    doc="Fuzzy C-means (m=2, 3 iterations): the reference's namesake paper app; per-cluster fuzzy mass + objective trace — value-hash-oracled via unrolled SQL iterations.",
    tags=("ml", "cmeans", "iterative"),
)
def q60a_cmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pandamapreduce_spark.operators.ml import cmeans

    emb = load_table(spark, sf_dir, "embeddings", spread=True).select("vec_id", "embedding")
    cents, memb, obj = cmeans(emb, k=4, iterations=3)
    mass = memb.agg(*[F.round(F.sum(F.col(f"u{c}").cast("decimal(28,12)")), 4).cast("double").alias(f"m{c}") for c in range(4)]).collect()[0]
    rows = [(c, float(mass[f"m{c}"]), float(obj[-1])) for c in range(4)]
    return spark.createDataFrame(rows, "cluster int, fuzzy_mass double, final_objective double")


def _kmeans_oracle_sql(k: int = 8, iters: int = 3, dim: int = DIM) -> str:
    """Unrolled-iteration SQL twin of ``operators.ml.kmeans``: because
    the Spark side is bitwise-deterministic (decimal centroid means,
    struct-argmin with cid tie-break, sequential double dot folds),
    a FIXED iteration count is expressible as a chain of plain CTEs —
    assign_i = argmin over centroids_(i-1), centroids_i = decimal-exact
    elementwise means — no recursive aggregation needed. This upgrades
    the iterative workload from rows-only to a full value-hash oracle."""
    dp = "list_dot_product"
    parts = [
        "WITH v AS (SELECT vec_id, cast(embedding as double[]) AS x FROM embeddings)",
        f"c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, x AS c FROM v ORDER BY vec_id LIMIT {k})",
    ]
    for it in range(1, iters + 1):
        parts.append(
            f"a{it}d AS (SELECT v.vec_id, v.x, c.cid, "
            f"{dp}(v.x, v.x) - 2*{dp}(v.x, c.c) + {dp}(c.c, c.c) AS d "
            f"FROM v CROSS JOIN c{it - 1} c)"
        )
        parts.append(
            f"a{it} AS (SELECT vec_id, x, cid AS cluster_id, d AS dist2 FROM "
            f"(SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM a{it}d) WHERE rn = 1)"
        )
        parts.append(
            f"c{it} AS (SELECT cid, list(m ORDER BY dim) AS c FROM "
            f"(SELECT cluster_id AS cid, r.i AS dim, "
            f"cast(sum(cast(x[r.i] as decimal(28,12))) as double) / count(*) AS m "
            f"FROM a{it}, range(1, {dim + 1}) r(i) GROUP BY cluster_id, r.i) GROUP BY cid)"
        )
    parts.append(
        f"fd AS (SELECT v.vec_id, c.cid, "
        f"{dp}(v.x, v.x) - 2*{dp}(v.x, c.c) + {dp}(c.c, c.c) AS d "
        f"FROM v CROSS JOIN c{iters} c)"
    )
    parts.append(
        "fa AS (SELECT vec_id, cid AS cluster_id, d AS dist2 FROM "
        "(SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn FROM fd) WHERE rn = 1)"
    )
    return ",\n".join(parts) + """
    SELECT cluster_id, count(*) AS n_vectors, min(vec_id) AS min_vec_id,
           cast(round(sum(cast(dist2 as decimal(28,10))), 4) as double) AS inertia
    FROM fa GROUP BY cluster_id ORDER BY cluster_id
    """


@query(
    "q54_kmeans_iterative",
    oracle=_kmeans_oracle_sql(),
    doc="Full iterative k-means (Lloyd's, 3 iterations, deterministic seeding): cluster sizes + inertia — value-hash-oracled via unrolled SQL iterations (deterministic decimal means make the whole loop bit-reproducible).",
    tags=("ml", "kmeans", "iterative"),
)
def q54_kmeans_iterative(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's iterative_support workload shape: driver loop of
    broadcast-assign + partial-agg update over a cached DataFrame."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True).select("vec_id", "embedding")
    _, assigned = kmeans(emb, k=8, iterations=3)
    return (
        assigned.groupBy("cluster_id")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.min("vec_id").alias("min_vec_id"),
            F.round(F.sum(F.col("dist2").cast("decimal(28,10)")), 4).cast("double").alias("inertia"),
        )
        .orderBy("cluster_id")
    )


@query(
    "q77_ivf_nprobe",
    oracle=f"""
    WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8),
    corpus AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 (list_dot_product(cast(e.embedding as double[]), cast(e.embedding as double[]))
                  - 2 * list_dot_product(cast(e.embedding as double[]), cast(c.cvec as double[]))
                  + list_dot_product(cast(c.cvec as double[]), cast(c.cvec as double[]))), c.cid) AS rn
        FROM embeddings e CROSS JOIN c
      ) WHERE rn = 1
    ),
    queries AS (
      SELECT vec_id, embedding, cid FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               row_number() OVER (PARTITION BY e.vec_id ORDER BY
                 (list_dot_product(cast(e.embedding as double[]), cast(e.embedding as double[]))
                  - 2 * list_dot_product(cast(e.embedding as double[]), cast(c.cvec as double[]))
                  + list_dot_product(cast(c.cvec as double[]), cast(c.cvec as double[]))), c.cid) AS rn
        FROM embeddings e CROSS JOIN c
        WHERE e.vec_id < {N_QUERIES}
      ) WHERE rn <= 2
    )
    SELECT query_id, neighbor_id, rank, cos_sim FROM (
      SELECT q.vec_id AS query_id, x.vec_id AS neighbor_id,
             (list_dot_product(cast(q.embedding as double[]), cast(x.embedding as double[]))
               / (sqrt(list_dot_product(cast(q.embedding as double[]), cast(q.embedding as double[])))
                  * sqrt(list_dot_product(cast(x.embedding as double[]), cast(x.embedding as double[]))))) AS cos_sim,
             row_number() OVER (PARTITION BY q.vec_id ORDER BY
               (list_dot_product(cast(q.embedding as double[]), cast(x.embedding as double[]))
                 / (sqrt(list_dot_product(cast(q.embedding as double[]), cast(q.embedding as double[])))
                    * sqrt(list_dot_product(cast(x.embedding as double[]), cast(x.embedding as double[]))))) DESC,
               x.vec_id) AS rank
      FROM queries q JOIN corpus x ON q.cid = x.cid AND q.vec_id <> x.vec_id
    ) WHERE rank <= {TOP_K}
    ORDER BY query_id, rank
    """,
    doc="IVF ANN with nprobe=2: each query searches its TWO nearest cells (corpus stays 1 cell/vector) — the IVF recall knob, twin of q74's LSH multi-probe.",
    tags=("similarity", "ivf", "ml"),
)
def q77_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nprobe is THE recall/cost knob of IVF search: the corpus keeps
    exactly one cell per vector (disjoint candidates, no dedup), while
    each query fans out to its nprobe nearest centroids. Scale: the
    fan-out multiplies only the broadcast query set; the search join
    stays a co-partitioned equi-join on the cell id, touching
    nprobe/k of the corpus per query."""
    return _ann_lane(spark, sf_dir, "ivf_2probe")


# --- q97: per-label embedding centroids -----------------------------------


@query(
    "q97_embedding_centroids",
    oracle=f"""
    SELECT label, cast(i - 1 as int) AS dim,
           cast(round(sum(cast(cast(embedding[i] as double) as decimal(18,6))), 6) as double)
             / cast(count(*) as double) AS centroid,
           cast(count(*) as bigint) AS n_vectors
    FROM embeddings, range(1, {DIM + 1}) r(i)
    GROUP BY label, i ORDER BY label, dim
    """,
    doc="Per-label elementwise embedding centroids: posexplode → partial-agg groupBy(label, dim); decimal-exact means.",
    tags=("ml", "embeddings", "centroid"),
)
def q97_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class centroids over the embedding column — the building block
    for nearest-class-mean classification, IVF coarse quantizers, and
    per-source embedding drift monitoring.

    Scale shape: posexplode multiplies rows ×DIM map-side, but partial
    aggregation collapses each task's slice to ≤ |labels|×DIM partial
    sums before the shuffle — shuffle volume is the centroid table
    size, not corpus×DIM. The mean goes through exact decimal sums
    (plans.numeric contract) so the doubles are bit-identical to the
    oracle regardless of partitioning.
    """
    from pandamapreduce_spark.plans.numeric import DEC

    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    # the oracle's range(1, DIM+1) assumes every vector has exactly DIM
    # elements — a malformed row must fail loudly, not skew centroids
    # (assert_true is NULL for valid rows, raises on the first bad one)
    emb = emb.where(F.assert_true(F.size("embedding") == DIM, F.lit(f"embedding dim != {DIM}")).isNull())
    long = emb.select("label", F.posexplode("embedding").alias("dim", "v"))
    return (
        long.groupBy("label", "dim")
        .agg(
            (
                F.round(F.sum(F.col("v").cast("double").cast(DEC)), 6).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias("centroid"),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .orderBy("label", "dim")
    )


# --- q115: int8 scalar quantization of embeddings -------------------------

Q8_MAX = 127


@query(
    "q115_embedding_quantize",
    oracle=f"""
    WITH s AS (
      SELECT vec_id,
             [cast(x as double) for x in embedding] AS v,
             list_max([abs(cast(x as double)) for x in embedding]) / {Q8_MAX}.0 AS scale
      FROM embeddings
    )
    SELECT vec_id, scale,
           cast(list_sum([least(greatest(coalesce(floor(x / nullif(scale, 0) + 0.5), 0), -{Q8_MAX}), {Q8_MAX}) for x in v]) as bigint) AS qsum,
           sqrt(list_sum([pow(x - least(greatest(coalesce(floor(x / nullif(scale, 0) + 0.5), 0), -{Q8_MAX}), {Q8_MAX}) * scale, 2) for x in v]) / len(v)) AS rmse
    FROM s
    ORDER BY vec_id
    """,
    doc="Per-vector symmetric int8 scalar quantization of the embedding column: absmax scale, quantized-code checksum, reconstruction RMSE — the compression step before large-scale ANN serving.",
    tags=("ml", "embeddings", "quantization"),
)
def q115_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 absmax quantization (the scheme vector stores and
    LLM.int8()-style inference kernels use): per vector,
    ``scale = max|v| / 127``, ``q_i = clip(round(v_i/scale))``;
    emits the scale, the integer checksum of the codes (exact,
    order-independent) and the reconstruction RMSE.

    Scale shape: entirely map-side Catalyst array expressions
    (transform / array_max / aggregate fold) — zero shuffle except the
    presentation sort, zero Python. At 100 TB this runs at scan speed;
    the rounding is spelled ``floor(x + 0.5)`` in BOTH engines so no
    round-half-to-even discrepancy can split the oracle."""
    emb = load_table(spark, sf_dir, "embeddings", spread=True)
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    scale = F.array_max(F.transform(v, F.abs)) / float(Q8_MAX)

    def qcode(x, s):
        raw = F.floor(x / F.nullif(s, F.lit(0.0)) + F.lit(0.5))
        return F.least(F.greatest(F.coalesce(raw, F.lit(0)), F.lit(-Q8_MAX)), F.lit(Q8_MAX))

    with_scale = emb.select("vec_id", v.alias("v"), scale.alias("scale"))
    qarr = F.transform(F.col("v"), lambda x: qcode(x, F.col("scale")))
    err = F.aggregate(
        F.zip_with(F.col("v"), qarr, lambda x, q: F.pow(x - q * F.col("scale"), F.lit(2))),
        F.lit(0.0),
        lambda acc, e: acc + e,
    )
    return with_scale.select(
        "vec_id",
        "scale",
        F.aggregate(qarr, F.lit(0).cast("bigint"), lambda acc, q: acc + q).alias("qsum"),
        F.sqrt(err / F.size("v")).alias("rmse"),
    ).orderBy("vec_id")
