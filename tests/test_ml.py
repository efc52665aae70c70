"""Iterative k-means operator invariants (reference A7 shape)."""

from __future__ import annotations

from pyspark.sql import functions as F

from pandamapreduce_spark.catalog import load_table
from pandamapreduce_spark.operators.ml import assign_clusters, kmeans

from tests.conftest import SF_DIR


def _inertia(assigned):
    return assigned.agg(F.sum("dist2")).collect()[0][0]


def test_kmeans_deterministic_across_partitionings(spark):
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    c1, a1 = kmeans(emb.repartition(2), k=4, iterations=2)
    c2, a2 = kmeans(emb.repartition(13), k=4, iterations=2)
    assert [cid for cid, _ in c1] == [cid for cid, _ in c2]
    for (_, v1), (_, v2) in zip(c1, c2):
        assert v1 == v2  # bitwise-equal centroids regardless of partitioning? see note
    m1 = {r.vec_id: r.cluster_id for r in a1.collect()}
    m2 = {r.vec_id: r.cluster_id for r in a2.collect()}
    assert m1 == m2


def test_kmeans_inertia_nonincreasing(spark):
    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    seed_rows = emb.orderBy("vec_id").limit(4).collect()
    seeds = [(i, [float(v) for v in r.embedding]) for i, r in enumerate(seed_rows)]
    inertia0 = _inertia(assign_clusters(emb, seeds))
    _, a3 = kmeans(emb, k=4, iterations=3)
    inertia3 = _inertia(a3)
    assert inertia3 <= inertia0 * 1.0000001


def test_gmm_loglik_nondecreasing(spark):
    """EM's defining invariant: mean log-likelihood never decreases."""
    from pandamapreduce_spark.operators.ml import gmm_em

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    params, assigned, ll = gmm_em(emb, k=4, iterations=4)
    assert len(ll) == 4
    for a, b in zip(ll, ll[1:]):
        assert b >= a - 1e-9, ll
    assert abs(sum(params["pis"]) - 1.0) < 1e-9
    n = assigned.count()
    assert n == emb.count()
    comps = {r.component for r in assigned.select("component").distinct().collect()}
    assert comps.issubset(set(range(4)))


def test_gmm_deterministic_across_partitionings(spark):
    from pandamapreduce_spark.operators.ml import gmm_em

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    p1, _, ll1 = gmm_em(emb.repartition(2), k=3, iterations=2)
    p2, _, ll2 = gmm_em(emb.repartition(11), k=3, iterations=2)
    assert ll1 == ll2
    assert p1["pis"] == p2["pis"]
    assert p1["sig2"] == p2["sig2"]


def test_cmeans_objective_nonincreasing(spark):
    """Fuzzy C-means invariant: J = sum u^2 d^2 never increases."""
    from pandamapreduce_spark.operators.ml import cmeans

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    cents, memb, obj = cmeans(emb, k=4, iterations=3)
    assert len(obj) == 4
    for a, b in zip(obj, obj[1:]):
        assert b <= a * 1.0000001, obj
    # memberships sum to ~1 per vector
    row = memb.first()
    assert abs(sum(row[f"u{c}"] for c in range(4)) - 1.0) < 1e-9
    assert len(cents) == 4 and len(cents[0]) == 64


def test_cmeans_deterministic_across_partitionings(spark):
    from pandamapreduce_spark.operators.ml import cmeans

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    _, _, o1 = cmeans(emb.repartition(3), k=3, iterations=2)
    _, _, o2 = cmeans(emb.repartition(7), k=3, iterations=2)
    assert o1 == o2


def test_assign_ties_break_on_lowest_cid(spark):
    vecs = spark.createDataFrame([(0, [1.0, 0.0])], "vec_id int, embedding array<double>")
    cents = [(0, [0.0, 1.0]), (1, [0.0, 1.0]), (2, [5.0, 5.0])]
    r = assign_clusters(vecs, cents).collect()[0]
    assert r.cluster_id == 0


def test_ivf_probe_ranks_by_assignment_distance(spark, oracle):
    """The IVF probe (q55/q77/q171) ranks centroids by assign_clusters'
    own distance: for every vector, its first cell and distance are
    assign_clusters' (cluster_id, dist2), bitwise, the ranking is
    ascending on (d, cid), and every (vector, centroid) distance equals
    the IVF oracles' ``(x·x - 2 x·c) + c·c`` in DuckDB, bitwise — the
    grouping a reordered sum (``x·c * -2 + c·c + x·x``) breaks."""
    from pandamapreduce_spark.operators.ml import nearest_centroids
    from pandamapreduce_spark.plans.similarity import _ivf_seeds

    emb = load_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    seeds = _ivf_seeds(emb)
    rows = (
        assign_clusters(emb, seeds)
        .select("vec_id", "cluster_id", "dist2", nearest_centroids(F.col("embedding"), seeds).alias("ranked"))
        .collect()
    )
    want = {
        (v, c): d
        for v, c, d in oracle.execute(
            """WITH c AS (SELECT vec_id AS cid, embedding AS cvec FROM embeddings WHERE vec_id < 8)
            SELECT e.vec_id, c.cid,
                   list_dot_product(cast(e.embedding as double[]), cast(e.embedding as double[]))
                   - 2 * list_dot_product(cast(e.embedding as double[]), cast(c.cvec as double[]))
                   + list_dot_product(cast(c.cvec as double[]), cast(c.cvec as double[]))
            FROM embeddings e CROSS JOIN c"""
        ).fetchall()
    }
    got = {}
    for r in rows:
        ranked = [(s.d, s.cid) for s in r.ranked]
        assert ranked == sorted(ranked), r.vec_id
        assert ranked[0] == (r.dist2, r.cluster_id), r.vec_id
        got.update({(r.vec_id, cid): d for d, cid in ranked})
    assert len(rows) == 500 and len(seeds) == 8
    assert got == want


def test_q59_pinned_oracle_is_honest_on_unknown_fixture():
    """q59's pinned literal-row oracle dispatches on an embeddings
    fingerprint; an UNPINNED fixture must yield 0 oracle rows (a loud
    row-count mismatch), never a silent pass. sf0.1 is deliberately
    not pinned — verify the dispatch returns nothing there, and that
    the query's ``covers`` SQL says so while it covers the pinned
    fixtures."""
    import os

    import duckdb

    from pandamapreduce_spark.plans import REGISTRY

    q = REGISTRY["q59_gmm_em"]
    fixtures = os.path.dirname(SF_DIR)
    for sf, pinned in (("sf0.001", True), ("sf0.01", True), ("sf0.1", False)):
        con = duckdb.connect()
        con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{fixtures}/{sf}/embeddings.parquet'")
        assert con.execute(q.covers).fetchone()[0] is pinned, sf
        assert (len(con.execute(q.oracle).fetchall()) > 0) is pinned, sf
        con.close()
