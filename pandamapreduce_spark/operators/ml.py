"""Iterative ML operators — the reference's paper apps (SURVEY A7:
C-means / GMM / GEMV, ``docs/`` paper §IV; ``iterative_support`` flag
``include/Panda.h:128``) re-expressed as cached-DataFrame loops.

Distance arithmetic uses the dot-product expansion
``|x-c|² = x·x - 2 x·c + c·c`` with the engine's sequential-fold dot
(``functions.vector``), so assignments are bitwise-deterministic and
oracle-checkable.

Scale: each iteration is one broadcast (centroids, k×dim doubles) +
one partial-aggregated shuffle (per-cluster sums) — the classic
MapReduce k-means; the loop lives on the driver, data never collects.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pandamapreduce_spark.caching import release_one, scoped_persist
from pandamapreduce_spark.functions import dot
from pandamapreduce_spark.functions.vector import _dbl, vec_lit


def _centroid_dists(x: Column, centroids: list[tuple[int, list[float]]]) -> Column:
    """One ``(d, cid)`` struct per centroid, ``d = x·x - 2 x·c + c·c``
    evaluated left to right, the order of every k-means/IVF oracle.
    Struct ordering is lexicographic, so the smallest struct is the
    nearest centroid with the lowest id on ties. Each distance
    expression appears exactly ONCE — a chained when() argmin
    duplicates subtrees exponentially in k."""
    xx = dot(x, x)
    entries = []
    for cid, cvec in centroids:
        c = vec_lit(cvec)
        entries.append(F.struct((xx - 2 * dot(x, c) + dot(c, c)).alias("d"), F.lit(cid).alias("cid")))
    return F.array(*entries)


def assign_clusters(vectors: DataFrame, centroids: list[tuple[int, list[float]]], vec_col: str = "embedding") -> DataFrame:
    """Assign each vector to its nearest centroid (squared-L2,
    tie-break on centroid id). ``centroids`` are plain driver-side
    values → broadcast as literals inside the plan."""
    best = F.array_min(_centroid_dists(F.col(vec_col), centroids))
    return vectors.withColumn("cluster_id", best["cid"]).withColumn("dist2", best["d"])


def nearest_centroids(x: Column, centroids: list[tuple[int, list[float]]]) -> Column:
    """Every centroid as a ``(d, cid)`` struct, nearest to vector ``x``
    first, ties to the lowest id: the IVF probe order (nprobe = a
    prefix). The first element is ``assign_clusters``' ``(dist2,
    cluster_id)``, bitwise (same distance expression, same ordering)."""
    return F.array_sort(_centroid_dists(x, centroids))


def update_centroids(assigned: DataFrame, dim: int, vec_col: str = "embedding") -> list[tuple[int, list[float]]]:
    """New centroids = element-wise mean per cluster, via
    ``posexplode`` + partial-aggregated groupBy((cluster, dim)) — the
    shuffle carries k×dim partial sums, independent of data size."""
    exploded = assigned.select("cluster_id", F.posexplode(_dbl(vec_col)).alias("d", "v"))
    # exact-decimal mean: avg(double) is summation-order-dependent, so
    # centroids (and therefore the whole iteration) would vary with
    # partitioning; decimal sums make k-means bitwise-deterministic.
    means = exploded.groupBy("cluster_id", "d").agg(
        (F.sum(F.col("v").cast("decimal(28,12)")).cast("double") / F.count("v")).alias("m")
    )
    rows = means.groupBy("cluster_id").agg(F.map_from_arrays(F.collect_list("d"), F.collect_list("m")).alias("mm")).collect()
    out = []
    for r in rows:
        out.append((r.cluster_id, [r.mm[i] for i in range(dim)]))
    return sorted(out)


def gmm_em(
    vectors: DataFrame,
    k: int,
    iterations: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[dict, DataFrame, list[float]]:
    """Gaussian mixture EM (isotropic components) — the reference's GMM
    paper app (SURVEY A7) as a cached-DataFrame loop.

    Per iteration: E-step computes responsibilities with a numerically
    stable log-sum-exp entirely in JVM expressions (cross join against
    k broadcast components); M-step re-estimates weights/means/
    variances from responsibility-weighted exact-decimal sums (so the
    fit is deterministic under any partitioning). Returns
    (params, final assignment with responsibilities, per-iteration
    mean log-likelihood — non-decreasing, the EM invariant).

    Scale: E-step is map-side (k × dim literals broadcast); M-step is
    one partial-aggregated shuffle of k × dim partial sums.
    """
    import math

    dim = len(vectors.select(vec_col).first()[0])
    seed_rows = vectors.orderBy(id_col).limit(k).collect()
    mus = [[float(v) for v in r[vec_col]] for r in seed_rows]
    sig2 = [1.0] * k
    pis = [1.0 / k] * k
    x = F.col(vec_col)
    vectors = scoped_persist(vectors)
    loglik: list[float] = []

    def log_density(c: int) -> Column:
        """log p(x, z=c) under the current parameters."""
        mu = vec_lit(mus[c])
        d2 = dot(x, x) - 2 * dot(x, mu) + F.lit(sum(v * v for v in mus[c]))
        return -d2 / (2 * sig2[c]) + F.lit(
            math.log(pis[c]) - 0.5 * dim * math.log(2 * math.pi * sig2[c])
        )

    try:
        for _ in range(iterations):
            # E-step: log p(x, z=c) for each component, stable softmax
            comps = [log_density(c).alias(f"lp{c}") for c in range(k)]
            scored = vectors.select(id_col, vec_col, *comps)
            mx = F.greatest(*[F.col(f"lp{c}") for c in range(k)])
            exps = [F.exp(F.col(f"lp{c}") - mx) for c in range(k)]
            den = exps[0]
            for e in exps[1:]:
                den = den + e
            resp = scored.select(
                id_col,
                vec_col,
                (mx + F.log(den)).alias("ll"),
                *[(exps[c] / den).alias(f"r{c}") for c in range(k)],
            )
            resp = scoped_persist(resp)
            try:
                loglik.append(
                    resp.agg((F.sum(F.col("ll").cast("decimal(28,10)")).cast("double") / F.count("ll")).alias("m"))
                    .collect()[0][0]
                )
                # M-step: responsibility-weighted moments via explode, exact decimal
                DECM = "decimal(28,12)"
                exploded = resp.select(
                    *[F.col(f"r{c}") for c in range(k)], F.posexplode(_dbl(vec_col)).alias("d", "v")
                )
                aggs = []
                for c in range(k):
                    aggs.append(F.sum((F.col(f"r{c}") * F.col("v")).cast(DECM)).cast("double").alias(f"sx{c}"))
                    aggs.append(F.sum((F.col(f"r{c}") * F.col("v") * F.col("v")).cast(DECM)).cast("double").alias(f"sxx{c}"))
                per_dim = exploded.groupBy("d").agg(*aggs).collect()
                totals = resp.agg(
                    *[F.sum(F.col(f"r{c}").cast(DECM)).cast("double").alias(f"n{c}") for c in range(k)],
                    F.count(F.lit(1)).alias("n"),
                ).collect()[0]
                n_total = totals["n"]
            finally:
                release_one(resp)
            for c in range(k):
                nc = totals[f"n{c}"]
                pis[c] = nc / n_total
                new_mu = [0.0] * dim
                e_x2 = 0.0
                for row in per_dim:
                    new_mu[row["d"]] = row[f"sx{c}"] / nc
                    e_x2 += row[f"sxx{c}"] / nc
                mus[c] = new_mu
                sig2[c] = max((e_x2 - sum(m * m for m in new_mu)) / dim, 1e-6)
        # final assignment
        comps = [F.struct(log_density(c).alias("lp"), F.lit(c).alias("cid")) for c in range(k)]
        best = F.array_max(F.array(*comps))
        assigned = vectors.withColumn("component", best["cid"]).withColumn("log_score", best["lp"])
        params = {"pis": pis, "mus": mus, "sig2": sig2}
        return params, assigned, loglik
    finally:
        release_one(vectors)


def cmeans(
    vectors: DataFrame,
    k: int,
    iterations: int,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
) -> tuple[list[list[float]], DataFrame, list[float]]:
    """Fuzzy C-means (m=2) — the reference's namesake paper app
    (SURVEY A7; ``Makefile.old:36-37`` still lists the cmeans app).

    Memberships u_ik = (1/d²_ik) / Σ_j (1/d²_jk); centroids are
    u²-weighted means (exact-decimal sums → deterministic under any
    partitioning). Returns (centroids, final membership DataFrame,
    per-iteration objective J = Σ u² d² — non-increasing).

    Same scale shape as k-means/GMM: broadcast centroids, map-side
    membership, one partial-agg shuffle per M-step.
    """
    dim = len(vectors.select(vec_col).first()[0])
    seed_rows = vectors.orderBy(id_col).limit(k).collect()
    cents = [[float(v) for v in r[vec_col]] for r in seed_rows]
    x = F.col(vec_col)
    vectors = scoped_persist(vectors)
    objective: list[float] = []
    try:
        for it in range(iterations + 1):
            xx = dot(x, x)
            d2s = []
            for c in range(k):
                mu = vec_lit(cents[c])
                d2 = xx - 2 * dot(x, mu) + F.lit(sum(v * v for v in cents[c]))
                d2s.append(F.greatest(d2, F.lit(1e-12)).alias(f"d{c}"))
            scored = vectors.select(id_col, vec_col, *d2s)
            inv = [1.0 / F.col(f"d{c}") for c in range(k)]
            den = inv[0]
            for e in inv[1:]:
                den = den + e
            memb = scored.select(
                id_col,
                vec_col,
                *[F.col(f"d{c}") for c in range(k)],
                *[(inv[c] / den).alias(f"u{c}") for c in range(k)],
            )
            jterms = [(F.col(f"u{c}") * F.col(f"u{c}") * F.col(f"d{c}")).cast("decimal(28,12)") for c in range(k)]
            jsum = jterms[0]
            for t in jterms[1:]:
                jsum = jsum + t
            objective.append(memb.agg(F.sum(jsum).cast("double")).collect()[0][0])
            if it == iterations:
                return cents, memb.select(id_col, *[f"u{c}" for c in range(k)]), objective
            # M-step: u²-weighted centroid update, exact decimal
            DECM = "decimal(28,12)"
            exploded = memb.select(
                *[(F.col(f"u{c}") * F.col(f"u{c}")).alias(f"w{c}") for c in range(k)],
                F.posexplode(_dbl(vec_col)).alias("d", "v"),
            )
            per_dim = exploded.groupBy("d").agg(
                *[F.sum((F.col(f"w{c}") * F.col("v")).cast(DECM)).cast("double").alias(f"sx{c}") for c in range(k)],
                *[F.sum(F.col(f"w{c}").cast(DECM)).cast("double").alias(f"sw{c}") for c in range(k)],
            ).collect()
            for c in range(k):
                new = [0.0] * dim
                for row in per_dim:
                    new[row["d"]] = row[f"sx{c}"] / row[f"sw{c}"]
                cents[c] = new
    finally:
        release_one(vectors)


def kmeans(vectors: DataFrame, k: int, iterations: int, vec_col: str = "embedding", id_col: str = "vec_id") -> tuple[list, DataFrame]:
    """Lloyd's algorithm, deterministically seeded: initial centroids =
    the k lowest-id vectors (reproducible across partitionings).
    Returns (centroids, final assignment DataFrame)."""
    dim = len(vectors.select(vec_col).first()[0])
    seed_rows = vectors.orderBy(id_col).limit(k).collect()
    centroids = [(i, [float(v) for v in row[vec_col]]) for i, row in enumerate(seed_rows)]
    vectors = scoped_persist(vectors)
    try:
        for _ in range(iterations):
            assigned = assign_clusters(vectors, centroids, vec_col)
            centroids = [(cid, vec) for cid, vec in update_centroids(assigned, dim, vec_col)]
        return centroids, assign_clusters(vectors, centroids, vec_col)
    finally:
        release_one(vectors)
