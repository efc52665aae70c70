"""Warehouse & graph analytics lanes (round 5): iterative PageRank over
a derived trade graph (q129), SCD Type-2 dimension history (q130),
market-basket co-purchase affinity (q131), a declarative data-quality
constraint audit (q132), robust (median/MAD) time-series outlier
detection (q133), degree-oriented triangle counting (q136), an
interval-overlap join via the binned equi-join rewrite (q137), and a
Pareto-frontier skyline via distributed prefix-max (q138).

These extend the engine past the reference's §2 inventory into the
analytics operators a 100 TB warehouse actually runs daily: graph
centrality/census over joined fact tables, dimension versioning,
affinity mining, ingest validation, anomaly flags, temporal joins,
and multi-criteria frontiers.

Float contract as everywhere (``plans.numeric``): every compared double
is either a single correctly-rounded IEEE operation on identical inputs
(int/int division, product of identical doubles) or an exact-decimal
sum rounded before the double cast — bitwise-equal vs the oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pandamapreduce_spark.caching import iterate, scoped_persist
from pandamapreduce_spark.catalog import load_table
from pandamapreduce_spark.plans.registry import query

# --- q129: PageRank over the nation trade graph ---------------------------

PR_ITERS = 3  # fixed iteration count → unrolled-SQL oracle (q54's precedent)
#: decimal wide enough that a rank (≤1) times an edge fraction keeps
#: 14 exact fractional digits; sums rounded to 12 before the double cast
PR_DEC = "decimal(28,14)"
PR_SCALE = 12


def _pr_edges_sql() -> str:
    """Edge CTE shared by the oracle: trade weight customer-nation →
    supplier-nation, out-weight-normalized fractions as one exact IEEE
    int/int division per edge."""
    return """
    w AS (
      SELECT c.c_nationkey AS src, s.s_nationkey AS dst, cast(count(*) as bigint) AS w
      FROM lineitem l
      JOIN orders o ON l.l_orderkey = o.o_orderkey
      JOIN customer c ON o.o_custkey = c.c_custkey
      JOIN supplier s ON l.l_suppkey = s.s_suppkey
      GROUP BY 1, 2
    ),
    e AS (
      SELECT src, dst, w,
             cast(w as double) / cast(sum(w) OVER (PARTITION BY src) as double) AS frac
      FROM w
    )
    """


def _pagerank_oracle_sql(iters: int = PR_ITERS) -> str:
    """Unrolled-iteration SQL twin of the Spark loop: every per-edge
    contribution is the same correctly-rounded double product, every
    per-node sum goes through exact decimal and is rounded to 12 dp
    before the double cast, and the scalar combine uses one pinned
    parenthesization — the whole loop is bit-reproducible."""
    nn = "(SELECT cast(count(*) as double) FROM nation)"
    parts = [
        "WITH " + _pr_edges_sql().strip().rstrip(),
        "nodes AS (SELECT n_nationkey AS nk, n_name FROM nation)",
        f"r0 AS (SELECT nk, cast(1 as double) / {nn} AS r FROM nodes)",
    ]
    for i in range(1, iters + 1):
        p = i - 1
        parts.append(
            f"d{i} AS (SELECT coalesce(cast(round(sum(cast(r as {PR_DEC})), {PR_SCALE}) as double), cast(0 as double)) AS dang "
            f"FROM r{p} WHERE nk NOT IN (SELECT DISTINCT src FROM e))"
        )
        parts.append(
            f"f{i} AS (SELECT e.dst AS nk, "
            f"cast(round(sum(cast(r.r * e.frac as {PR_DEC})), {PR_SCALE}) as double) AS inflow "
            f"FROM e JOIN r{p} r ON e.src = r.nk GROUP BY e.dst)"
        )
        parts.append(
            f"r{i} AS (SELECT n.nk, cast(round(cast("
            f"((cast(0.15 as double) / {nn}) + cast(0.85 as double) * coalesce(f.inflow, cast(0 as double)))"
            f" + cast(0.85 as double) * (d.dang / {nn})"
            f" as {PR_DEC}), {PR_SCALE}) as double) AS r "
            f"FROM nodes n LEFT JOIN f{i} f ON n.nk = f.nk CROSS JOIN d{i} d)"
        )
    return (
        ",\n".join(parts)
        + f"""
    SELECT n.n_name, r.r AS pagerank,
           coalesce(ow.out_w, 0) AS out_weight, coalesce(iw.in_w, 0) AS in_weight
    FROM nodes n
    JOIN r{iters} r ON n.nk = r.nk
    LEFT JOIN (SELECT src, cast(sum(w) as bigint) AS out_w FROM w GROUP BY src) ow ON n.nk = ow.src
    LEFT JOIN (SELECT dst, cast(sum(w) as bigint) AS in_w FROM w GROUP BY dst) iw ON n.nk = iw.dst
    ORDER BY pagerank DESC, n.n_name
    """
    )


@query(
    "q129_pagerank",
    bench=True,  # per-round signal for the iterative-graph lane
    oracle=_pagerank_oracle_sql(),
    doc=f"PageRank ({PR_ITERS} iterations, d=0.85, dangling mass redistributed) over the customer-nation → supplier-nation trade graph derived from lineitem⋈orders⋈customer⋈supplier; value-hash-oracled via unrolled SQL iterations (q54's precedent).",
    tags=("graph", "pagerank", "iterative"),
)
def q129_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iterative graph centrality — the lane q94's connected components
    opened, now with weighted rank propagation. Reference parity: the
    reference's iterative_support driver loop (SURVEY §2.2 A7) re-runs
    a map-reduce per iteration over persisted input; here the loop body
    is one join + one aggregation per iteration over a persisted edge
    DataFrame, and ``caching.iterate`` checkpoints each round's ranks,
    so Catalyst plans one round at a time.

    Scale shape: the EXPENSIVE part is the one-time edge derivation —
    a fact-table join against three dimensions aggregated down to the
    (src, dst) graph; everything after runs on the aggregated graph,
    whose size is O(nations²), not O(lineitem). Ranks stay a DataFrame
    throughout (no driver-side vectors — node count is unbounded in
    general); per-iteration shuffles carry (nk, double) pairs keyed by
    the SAME dst attribute, and the dangling-mass scalar is a bounded
    1-row aggregate. Determinism: per-edge contribution r*frac is one
    correctly-rounded double product on identical inputs; per-node sums
    go through exact decimal (order-independent) rounded to 12 dp; the
    scalar combine uses one pinned parenthesization on both sides.
    """
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey")
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    s = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nodes = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nk"), "n_name"
    )

    weights = scoped_persist(
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(F.col("c_nationkey").alias("src"), F.col("s_nationkey").alias("dst"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("w"))
    )
    # persisted with the out-weight fractions so no round re-runs the window;
    # no broadcast hints: AQE broadcasts the ≤25-row frames without a driver build
    edges = scoped_persist(
        weights.withColumn(
            "frac",
            F.col("w").cast("double")
            / F.sum("w").over(Window.partitionBy("src")).cast("double"),
        )
    )
    srcs = edges.select("src").distinct()

    n_nodes = nodes.count()  # bounded: dimension-table cardinality (a scalar)
    nn = F.lit(float(n_nodes))

    def dec_sum(col: F.Column) -> F.Column:
        return F.round(F.sum(col.cast(PR_DEC)), PR_SCALE).cast("double")

    def step(ranks: DataFrame, _: int) -> DataFrame:
        dang = (
            ranks.join(srcs, ranks.nk == srcs.src, "left_anti")
            .agg(F.coalesce(dec_sum(F.col("r")), F.lit(0).cast("double")).alias("dang"))
        )
        inflow = (
            edges.join(ranks, edges.src == ranks.nk)
            .groupBy(F.col("dst").alias("nk"))
            .agg(dec_sum(F.col("r") * F.col("frac")).alias("inflow"))
        )
        return (
            nodes.select("nk")
            .join(inflow, "nk", "left")
            .crossJoin(F.broadcast(dang))
            .select(
                "nk",
                F.round(
                    (
                        (
                            (F.lit(0.15).cast("double") / nn)
                            + F.lit(0.85).cast("double")
                            * F.coalesce(F.col("inflow"), F.lit(0).cast("double"))
                        )
                        + F.lit(0.85).cast("double") * (F.col("dang") / nn)
                    ).cast(PR_DEC),
                    PR_SCALE,
                )
                .cast("double")
                .alias("r"),
            )
        )

    ranks = iterate(nodes.select("nk", (F.lit(1).cast("double") / nn).alias("r")), step, PR_ITERS)
    out_w = weights.groupBy("src").agg(F.sum("w").cast("bigint").alias("out_w"))
    in_w = weights.groupBy("dst").agg(F.sum("w").cast("bigint").alias("in_w"))
    return (
        nodes.join(ranks, "nk")
        .join(out_w, nodes.nk == out_w.src, "left")
        .join(in_w, nodes.nk == in_w.dst, "left")
        .select(
            "n_name",
            F.col("r").alias("pagerank"),
            F.coalesce(F.col("out_w"), F.lit(0)).cast("bigint").alias("out_weight"),
            F.coalesce(F.col("in_w"), F.lit(0)).cast("bigint").alias("in_weight"),
        )
        .orderBy(F.col("pagerank").desc(), "n_name")
    )


# --- q130: SCD Type-2 dimension history -----------------------------------

SCD_OPEN_END = "9999-12-31"  # classic open-ended effective_to sentinel

#: q130's history relation, shared verbatim with q168's oracle (the
#: point-in-time join must read the SAME dimension the build emits)
SCD2_HISTORY_SQL = f"""
    WITH o AS (
      SELECT o_custkey, cast(o_orderdate as date) AS od, o_orderpriority, o_orderkey
      FROM orders
    ),
    m AS (
      SELECT *, lag(o_orderpriority) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey) AS prev
      FROM o
    ),
    c AS (
      SELECT o_custkey, od, o_orderkey, o_orderpriority FROM m
      WHERE prev IS NULL OR prev <> o_orderpriority
    )
    SELECT o_custkey AS custkey,
           cast(row_number() OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey) as bigint) AS version,
           o_orderpriority AS priority,
           cast(od as varchar) AS eff_from,
           coalesce(cast(lead(od) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey) as varchar), '{SCD_OPEN_END}') AS eff_to,
           cast(CASE WHEN lead(od) OVER (PARTITION BY o_custkey ORDER BY od, o_orderkey) IS NULL THEN 1 ELSE 0 END as bigint) AS is_current
    FROM c
"""


@query(
    "q130_scd2_history",
    oracle=SCD2_HISTORY_SQL + "    ORDER BY custkey, version",
    doc="SCD Type-2 dimension build: per-customer order-priority change history as versioned (eff_from, eff_to] intervals — consecutive-duplicate collapse via lag, open-ended current row, deterministic (date, orderkey) ordering.",
    tags=("warehouse", "scd2", "window"),
)
def q130_scd2_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dimension-versioning operator every warehouse load runs:
    collapse a change stream into validity intervals. Gaps-and-islands
    via lag: a row opens a new version iff its value differs from the
    previous row in (od, o_orderkey) order; version numbers, interval
    ends, and the is_current flag come from a second window over the
    surviving change rows.

    Scale shape: both windows partition by the SAME key (o_custkey), so
    Catalyst reuses one hash exchange; per-customer state during the
    sort is the customer's own order history (bounded by entity
    activity, the standard SCD assumption — a pathological entity would
    need the q56 salting treatment). Only (custkey, date, priority,
    orderkey) ever shuffles. Dates are emitted as yyyy-MM-dd TEXT on
    both sides (DuckDB's pandas bridge renders DATE as midnight
    datetime64 under the driver canon), and eff_to uses the classic
    9999-12-31 open-end sentinel instead of NULL so no null-ordering
    or null-canon question arises."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        F.to_date("o_orderdate").alias("od"),
        "o_orderpriority",
        "o_orderkey",
    )
    w = Window.partitionBy("o_custkey").orderBy("od", "o_orderkey")
    changes = (
        o.withColumn("prev", F.lag("o_orderpriority").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("o_orderpriority")))
    )
    return changes.select(
        F.col("o_custkey").alias("custkey"),
        F.row_number().over(w).cast("bigint").alias("version"),
        F.col("o_orderpriority").alias("priority"),
        F.col("od").cast("string").alias("eff_from"),
        F.coalesce(F.lead("od").over(w).cast("string"), F.lit(SCD_OPEN_END)).alias("eff_to"),
        F.when(F.lead("od").over(w).isNull(), 1).otherwise(0).cast("bigint").alias("is_current"),
    ).orderBy("custkey", "version")


# --- q131: market-basket co-purchase affinity -----------------------------

MAX_BASKET = 20  # orders with more distinct parts are dropped (skew cap)
MIN_SUPPORT = 2
AFFINITY_TOPK = 100


@query(
    "q131_copurchase",
    bench=True,  # per-round signal for the basket self-join + cap
    oracle=f"""
    WITH items0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    items AS (
      SELECT ok, pk FROM (
        SELECT ok, pk, count(*) OVER (PARTITION BY ok) AS sz FROM items0
      ) WHERE sz <= {MAX_BASKET}
    ),
    n AS (SELECT cast(count(DISTINCT ok) as bigint) AS n_orders FROM items),
    pc AS (SELECT pk, cast(count(*) as bigint) AS n_pk FROM items GROUP BY pk),
    pairs AS (
      SELECT a.pk AS part_a, b.pk AS part_b, cast(count(*) as bigint) AS n_ab
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, n_ab, pa.n_pk AS n_a, pb.n_pk AS n_b,
           (cast(n_ab as double) * cast(n.n_orders as double))
             / (cast(pa.n_pk as double) * cast(pb.n_pk as double)) AS lift
    FROM pairs
    JOIN pc pa ON pairs.part_a = pa.pk
    JOIN pc pb ON pairs.part_b = pb.pk
    CROSS JOIN n
    WHERE n_ab >= {MIN_SUPPORT}
    ORDER BY n_ab DESC, lift DESC, part_a, part_b
    LIMIT {AFFINITY_TOPK}
    """,
    doc=f"Market-basket co-purchase affinity: part pairs bought in the same order, support ≥ {MIN_SUPPORT}, scored by lift = P(ab)/(P(a)P(b)) over orders (transcendental-free, q119's discipline); baskets capped at {MAX_BASKET} distinct parts (mirrored in the oracle), top {AFFINITY_TOPK}.",
    tags=("affinity", "basket", "analytics"),
)
def q131_copurchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-pair mining — the recommendation/affinity lane. The
    within-basket self-join is the quadratic hazard: one pathological
    basket with 10k items would emit 50M pairs from a single shuffle
    key, so baskets are capped at MAX_BASKET distinct parts BEFORE
    the join (cap mirrored in the oracle; at the fixture's max of 13
    the cap is inert, at 100 TB it is the load-bearing guard — the
    standard mining practice of dropping degenerate baskets). Pair
    expansion is then ≤ C(cap,2) per order and every shuffle carries
    only integer ids. Lift follows q119's transcendental-free
    discipline: exact integer counts, products in double (exact below
    2^53), one correctly-rounded division on both sides."""
    # r10 reshape (guide §2.3/§2.4, same as _basket_pairs): the sorted
    # distinct part set per order is built in ONE exchange (map-side
    # partial collect_set), and the a<b pairs explode from the array
    # map-side — the old distinct + count-window + self-join pipeline
    # paid four exchanges for the same frames. ok is unique in
    # baskets, so countDistinct(ok) over items == count(baskets).
    baskets = scoped_persist(_baskets(spark, sf_dir))
    items = baskets.select("ok", F.explode("ps").alias("pk"))
    n = baskets.agg(F.count(F.lit(1)).cast("bigint").alias("n_orders"))
    pc = items.groupBy("pk").agg(F.count(F.lit(1)).cast("bigint").alias("n_pk"))
    pairs = (
        baskets.select(F.explode(F.expr(_PAIR_EXPLODE)).alias("p"))
        .groupBy(F.col("p.a").alias("part_a"), F.col("p.b").alias("part_b"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .where(F.col("n_ab") >= MIN_SUPPORT)
    )
    pa = pc.select(F.col("pk").alias("part_a"), F.col("n_pk").alias("n_a"))
    pb = pc.select(F.col("pk").alias("part_b"), F.col("n_pk").alias("n_b"))
    return (
        pairs.join(pa, "part_a")
        .join(pb, "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "n_ab",
            "n_a",
            "n_b",
            (
                (F.col("n_ab").cast("double") * F.col("n_orders").cast("double"))
                / (F.col("n_a").cast("double") * F.col("n_b").cast("double"))
            ).alias("lift"),
        )
        .orderBy(F.col("n_ab").desc(), F.col("lift").desc(), "part_a", "part_b")
        .limit(AFFINITY_TOPK)
    )


# --- q132: declarative data-quality constraint audit ----------------------

ORDERSTATUS_DOMAIN = ("O", "F", "P")


@query(
    "q132_constraint_audit",
    oracle=f"""
    SELECT * FROM (
      SELECT 'c1_pk_orders_unique' AS constraint_name,
             cast(count(*) as bigint) AS n_checked,
             cast(count(*) - count(DISTINCT o_orderkey) as bigint) AS n_violations
      FROM orders
      UNION ALL
      SELECT 'c2_fk_orders_customer', cast(count(*) as bigint),
             cast(sum(CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END) as bigint)
      FROM orders o LEFT JOIN customer c ON o.o_custkey = c.c_custkey
      UNION ALL
      SELECT 'c3_fk_lineitem_orders', cast(count(*) as bigint),
             cast(sum(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) as bigint)
      FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
      UNION ALL
      SELECT 'c4_notnull_orderdate', cast(count(*) as bigint),
             cast(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) as bigint)
      FROM orders
      UNION ALL
      SELECT 'c5_domain_orderstatus', cast(count(*) as bigint),
             cast(sum(CASE WHEN o_orderstatus NOT IN {ORDERSTATUS_DOMAIN!r} THEN 1 ELSE 0 END) as bigint)
      FROM orders
      UNION ALL
      SELECT 'c6_range_discount', cast(count(*) as bigint),
             cast(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) as bigint)
      FROM lineitem
      UNION ALL
      SELECT 'c7_ship_after_order', cast(count(*) as bigint),
             cast(sum(CASE WHEN l.l_shipdate < o.o_orderdate THEN 1 ELSE 0 END) as bigint)
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    )
    ORDER BY constraint_name
    """,
    doc="Declarative data-quality audit (Deequ/dbt-test shape): PK uniqueness, two FK referential checks, not-null, value-domain, numeric-range, and a cross-table temporal rule — one row per constraint with checked/violation counts.",
    tags=("quality", "audit", "validation"),
)
def q132_constraint_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest-validation lane: every production pipeline gates
    loads on exactly these checks. Each constraint is a single-pass
    conditional aggregate (q128's discipline); the referential checks
    are LEFT joins counting unmatched probe rows — at scale Catalyst
    plans them as broadcast or shuffle hash joins on the key alone
    (only ids shuffle, never payloads), and the seven 1-row results
    union into a fixed-size report. No driver-side iteration; the
    whole audit is one job."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    cust = load_table(spark, sf_dir, "customer")

    def one(name: str, df: DataFrame, viol: F.Column) -> DataFrame:
        return df.agg(
            F.lit(name).alias("constraint_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_checked"),
            F.sum(viol).cast("bigint").alias("n_violations"),
        )

    c1 = o.agg(
        F.lit("c1_pk_orders_unique").alias("constraint_name"),
        F.count(F.lit(1)).cast("bigint").alias("n_checked"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).cast("bigint").alias("n_violations"),
    )
    c2 = one(
        "c2_fk_orders_customer",
        o.join(cust, o.o_custkey == cust.c_custkey, "left"),
        F.when(F.col("c_custkey").isNull(), 1).otherwise(0),
    )
    c3 = one(
        "c3_fk_lineitem_orders",
        li.join(o.select("o_orderkey"), li.l_orderkey == o.o_orderkey, "left"),
        F.when(F.col("o_orderkey").isNull(), 1).otherwise(0),
    )
    c4 = one("c4_notnull_orderdate", o, F.when(F.col("o_orderdate").isNull(), 1).otherwise(0))
    c5 = one(
        "c5_domain_orderstatus",
        o,
        F.when(~F.col("o_orderstatus").isin(*ORDERSTATUS_DOMAIN), 1).otherwise(0),
    )
    c6 = one(
        "c6_range_discount",
        li,
        F.when((F.col("l_discount") < 0) | (F.col("l_discount") > 1), 1).otherwise(0),
    )
    c7 = one(
        "c7_ship_after_order",
        li.join(o.select("o_orderkey", "o_orderdate"), li.l_orderkey == o.o_orderkey),
        F.when(F.col("l_shipdate") < F.col("o_orderdate"), 1).otherwise(0),
    )
    return (
        c1.unionAll(c2).unionAll(c3).unionAll(c4).unionAll(c5).unionAll(c6).unionAll(c7)
        .orderBy("constraint_name")
    )


# --- q133: robust (median/MAD) daily-volume outlier detection -------------

MAD_K = 3.0  # flag days with |count - median| > K * MAD


@query(
    "q133_robust_outliers",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, cast(ts as date) AS d, cast(count(*) as bigint) AS n
      FROM events GROUP BY 1, 2
    ),
    med AS (
      SELECT event_type, quantile_cont(n, 0.5) AS med FROM daily GROUP BY event_type
    ),
    dev AS (
      SELECT daily.event_type, daily.d, daily.n, med.med,
             abs(cast(daily.n as double) - med.med) AS dev
      FROM daily JOIN med ON daily.event_type = med.event_type
    ),
    mad AS (
      SELECT event_type, quantile_cont(dev, 0.5) AS mad FROM dev GROUP BY event_type
    ),
    scored AS (
      SELECT dev.*, mad.mad,
             CASE WHEN dev.dev > {MAD_K} * mad.mad THEN 1 ELSE 0 END AS is_out,
             row_number() OVER (PARTITION BY dev.event_type ORDER BY dev.dev DESC, dev.d) AS rn
      FROM dev JOIN mad ON dev.event_type = mad.event_type
    )
    SELECT event_type, cast(count(*) as bigint) AS n_days,
           min(med) AS med, min(mad) AS mad,
           cast(sum(is_out) as bigint) AS n_outlier_days,
           min(CASE WHEN rn = 1 THEN cast(d as varchar) END) AS worst_day,
           min(CASE WHEN rn = 1 THEN dev END) AS worst_dev
    FROM scored GROUP BY event_type ORDER BY event_type
    """,
    doc=f"Robust time-series outlier detection: per-event-type daily volumes scored by median/MAD — days with |n - median| > {MAD_K}·MAD flagged; exact dyadic-rational medians (avg of two integers / halves) make every compared double bitwise-reproducible without any transcendental.",
    tags=("timeseries", "outlier", "quality"),
)
def q133_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline-health anomaly flagging — the monitoring twin of
    q132's static audit. Median/MAD instead of mean/stddev on purpose:
    robust to the very outliers being hunted, AND exactly reproducible
    (the median of integers is an integer or a .5 half — a dyadic
    rational whose double is exact; MAD is a median of exact dyadic
    deviations; the K·MAD threshold product stays exact), where a
    stddev would drag in order-dependent float sums and sqrt.

    Scale shape: the daily rollup collapses event volume to
    (type, day) cells first — per-group percentile state is bounded by
    the calendar span (days per type), not the event count, so the
    exact-percentile aggregate is safe here (the unbounded-group
    at-scale path is q28's rank-selection operator). Argmax day via
    one windowed row_number over those same tiny cells."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.col("ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    med = daily.groupBy("event_type").agg(F.expr("percentile(n, 0.5)").alias("med"))
    dev = daily.join(med, "event_type").withColumn(
        "dev", F.abs(F.col("n").cast("double") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(F.expr("percentile(dev, 0.5)").alias("mad"))
    w = Window.partitionBy("event_type").orderBy(F.col("dev").desc(), "d")
    scored = (
        dev.join(mad, "event_type")
        .withColumn("is_out", F.when(F.col("dev") > F.lit(MAD_K) * F.col("mad"), 1).otherwise(0))
        .withColumn("rn", F.row_number().over(w))
    )
    return (
        scored.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.min("med").alias("med"),
            F.min("mad").alias("mad"),
            F.sum("is_out").cast("bigint").alias("n_outlier_days"),
            F.min(F.when(F.col("rn") == 1, F.col("d").cast("string"))).alias("worst_day"),
            F.min(F.when(F.col("rn") == 1, F.col("dev"))).alias("worst_dev"),
        )
        .orderBy("event_type")
    )


# --- q138: Pareto frontier (skyline) --------------------------------------

SKY_RANGES = 8  # range partitions for the distributed prefix-max


@query(
    "q138_skyline",
    oracle="""
    SELECT p.p_partkey, p.p_retailprice, p.p_size
    FROM part p
    WHERE NOT EXISTS (
      SELECT 1 FROM part q
      WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size)
    )
    ORDER BY p.p_retailprice, p.p_size, p.p_partkey
    """,
    doc="Pareto frontier (skyline) over part: minimize retail price, maximize size — non-dominated points via the distributed prefix-max (q100's range-partition pattern), no single-partition sort, no quadratic self-join; the oracle is the direct NOT-EXISTS dominance spec, so parity proves the distributed rewrite exact.",
    tags=("skyline", "pareto", "analytics"),
)
def q138_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-criteria optimization census: which parts are undominated
    on (price ↓, size ↑)? The textbook formulations both fail at scale
    — NOT EXISTS is a quadratic self-join, and a global sort + running
    max is a single-partition window. The 2-D skyline decomposes
    instead: a point is dominated iff (a) some STRICTLY cheaper price
    level reaches an equal-or-larger size — a prefix max over distinct
    price levels — or (b) its own price level has a strictly larger
    size — a per-level max. Both reduce to one groupBy(price) and a
    distributed prefix max: range-partition the price levels, running
    max within each range in parallel, one bounded driver collect (a
    row per range) seeds each range's base offset — q100's exact-rank
    machinery with max instead of count. The final dominance test
    joins the annotated price levels back to the part scan on the
    price key — unhinted (the level table is O(distinct prices), not
    bounded), so AQE picks broadcast vs shuffle by its actual size.
    Comparisons only, no float arithmetic — no rounding contract
    needed."""
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_retailprice", "p_size")
    levels = scoped_persist(
        p.groupBy(F.col("p_retailprice").alias("x"))
        .agg(F.max("p_size").alias("my"))
        .repartitionByRange(SKY_RANGES, "x")
        .withColumn("pid", F.spark_partition_id())
    )
    # bounded collect: one (pid, range-max, range-head) row per range
    per = sorted(
        levels.groupBy("pid").agg(F.max("my").alias("mx"), F.min("x").alias("head")).collect(),
        key=lambda r: r["head"],
    )
    base = F.lit(None).cast("int")
    acc = None
    for r in per:
        base = F.when(F.col("pid") == r["pid"], F.lit(acc).cast("int")).otherwise(base)
        acc = r["mx"] if acc is None else max(acc, r["mx"])
    w = Window.partitionBy("pid").orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    pm = F.greatest(F.coalesce(F.max("my").over(w), F.lit(-1)), F.coalesce(base, F.lit(-1)))
    lv = levels.select("x", "my", pm.alias("pm"))
    return (
        p.join(lv, p.p_retailprice == lv.x)
        .where((F.col("pm") < F.col("p_size")) & (F.col("my") <= F.col("p_size")))
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_retailprice", "p_size", "p_partkey")
    )


# --- q137: interval-overlap join (binned equi-join) -----------------------

ORG_MOD = 3  # user_id % ORG_MOD = the org an overlap must stay within
#: time-bin width for the equi-join rewrite; sessions at every shipped
#: fixture are <= 1.2 h (30-min-gap sessionization), so each interval
#: lands in at most 3 bins
BIN_US = 3_600 * 1_000_000

_SESSIONS_SQL = """
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS ns
      FROM events
    ),
    numbered AS (
      SELECT user_id, ts,
             cast(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) as bigint) AS sid
      FROM flagged
    ),
    iv AS (
      SELECT user_id, sid, user_id % {org_mod} AS org,
             epoch_us(min(ts)) AS s, epoch_us(max(ts)) AS e
      FROM numbered GROUP BY user_id, sid
    )
"""


@query(
    "q137_interval_join",
    oracle=f"""
    WITH {_SESSIONS_SQL.format(org_mod=ORG_MOD).strip()}
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           a.sid AS session_a, b.sid AS session_b,
           cast(least(a.e, b.e) - greatest(a.s, b.s) as bigint) AS overlap_us
    FROM iv a JOIN iv b
      ON a.org = b.org AND a.user_id < b.user_id AND a.s <= b.e AND b.s <= a.e
    ORDER BY user_a, user_b, session_a, session_b
    """,
    doc=f"Interval-overlap join: concurrent same-org user sessions (q12's 30-min-gap sessionization → [min_ts, max_ts] intervals, org = user_id % {ORG_MOD}) found via the binned equi-join rewrite — each interval expands to its 1-hour time bins, pairs equi-join on (org, bin) with the exact overlap predicate as a residual filter, DISTINCT collapses multi-bin hits; the oracle is the direct quadratic overlap join, so parity proves the rewrite lossless.",
    tags=("temporal", "interval-join", "sessionize"),
)
def q137_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join — the temporal twin of q44's
    point-in-range join. Spark has no native interval join; the naive
    formulation (non-equi θ-join) plans as a nested-loop cross product,
    which is quadratic in the org's session count. The standard rewrite
    makes it an EQUI-join: quantize time into fixed bins, expand each
    interval to the bins it touches (≤3 here; bounded by max session
    length / bin width), join on (org, bin), keep the exact overlap
    predicate as a residual filter, and DISTINCT away the multi-bin
    duplicates. Shuffle volume is O(intervals × bins-per-interval) rows
    of five integers; per-(org, bin) population is the org's session
    concurrency in that hour — the natural skew bound. The oracle runs
    the DIRECT quadratic join, so the value hash proves the rewrite
    exact, not just plausible. Overlap arithmetic is integer epoch
    micros end-to-end (no float, no timezone)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    us = F.unix_micros(F.col("ts"))
    flagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w).isNull()
            | (F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w)) > 1800 * 1_000_000),
            F.lit(1),
        )
        .otherwise(F.lit(0))
        .alias("ns"),
        us.alias("us"),
    )
    iv = scoped_persist(
        flagged.select(
            "user_id", "us", F.sum("ns").over(cum).cast("bigint").alias("sid")
        )
        .groupBy("user_id", "sid")
        .agg(F.min("us").alias("s"), F.max("us").alias("e"))
        .withColumn("org", F.col("user_id") % ORG_MOD)
    )
    binned = iv.withColumn(
        "bkt",
        F.explode(F.sequence(F.expr(f"s div {BIN_US}"), F.expr(f"e div {BIN_US}"))),
    )
    a = binned.select(
        F.col("org"),
        F.col("bkt"),
        F.col("user_id").alias("user_a"),
        F.col("sid").alias("session_a"),
        F.col("s").alias("s_a"),
        F.col("e").alias("e_a"),
    )
    b = binned.select(
        F.col("org"),
        F.col("bkt"),
        F.col("user_id").alias("user_b"),
        F.col("sid").alias("session_b"),
        F.col("s").alias("s_b"),
        F.col("e").alias("e_b"),
    )
    return (
        a.join(b, ["org", "bkt"])
        .where(
            (F.col("user_a") < F.col("user_b"))
            & (F.col("s_a") <= F.col("e_b"))
            & (F.col("s_b") <= F.col("e_a"))
        )
        .select(
            "user_a",
            "user_b",
            "session_a",
            "session_b",
            (F.least("e_a", "e_b") - F.greatest("s_a", "s_b")).cast("bigint").alias("overlap_us"),
        )
        .distinct()
        .orderBy("user_a", "user_b", "session_a", "session_b")
    )


# --- q136: triangle counting (degree-oriented wedge join) -----------------


def _wedge_shards_sql(shards: int = 16) -> str:
    """The q136 oracle's wedge join + closure count, sharded by the
    wedge HUB (`e1.src % shards`) into a UNION ALL of per-shard
    COUNTs summed by the caller — value-identical (each wedge has
    exactly one hub, so shards partition the wedge set) while
    bounding any one hash join's probe stream at ~1/shards of the
    ~4e8 sf1 wedges. One monolithic wedge join made DuckDB spill past
    the host disk at sf1 (the documented q136 SF1_PARITY exclusion —
    same fix as q166's sharded ranked window). e/deg/oe are
    MATERIALIZED so the branches share one edge orientation."""
    return "\n        UNION ALL\n".join(
        f"""
        SELECT cast(count(*) as bigint) AS tri_s
        FROM (
          SELECT e1.dst AS b, e2.dst AS c
          FROM oe e1 JOIN oe e2
            ON e1.src = e2.src
           AND ((e1.dd < e2.dd) OR (e1.dd = e2.dd AND e1.dst < e2.dst))
          WHERE e1.src % {shards} = {s}
        ) w JOIN oe ON oe.src = w.b AND oe.dst = w.c"""
        for s in range(shards)
    )


@query(
    "q136_triangle_count",
    bench=True,  # per-round signal for the edge-iterator triangle census
    oracle=f"""
    WITH items0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    items AS (
      SELECT ok, pk FROM (
        SELECT ok, pk, count(*) OVER (PARTITION BY ok) AS sz FROM items0
      ) WHERE sz <= {MAX_BASKET}
    ),
    e AS MATERIALIZED (
      SELECT DISTINCT a.pk AS u, b.pk AS v
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
    ),
    deg AS MATERIALIZED (
      SELECT node, cast(count(*) as bigint) AS d FROM (
        SELECT u AS node FROM e UNION ALL SELECT v FROM e
      ) GROUP BY node
    ),
    oe AS MATERIALIZED (
      SELECT CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v) THEN e.u ELSE e.v END AS src,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v) THEN e.v ELSE e.u END AS dst,
             CASE WHEN (du.d < dv.d) OR (du.d = dv.d AND e.u < e.v) THEN dv.d ELSE du.d END AS dd
      FROM e JOIN deg du ON e.u = du.node JOIN deg dv ON e.v = dv.node
    ),
    t AS (
      SELECT cast(sum(tri_s) as bigint) AS tri FROM (
        {_wedge_shards_sql()}
      )
    )
    SELECT (SELECT cast(count(*) as bigint) FROM deg) AS n_nodes,
           (SELECT cast(count(*) as bigint) FROM e) AS n_edges,
           t.tri AS n_triangles,
           (SELECT cast(sum(d * (d - 1)) / 2 as bigint) FROM deg) AS n_wedges,
           CASE WHEN (SELECT sum(d * (d - 1)) FROM deg) = 0 THEN cast(0 as double)
                ELSE cast(6 * t.tri as double) / cast((SELECT sum(d * (d - 1)) FROM deg) as double)
           END AS global_cc
    FROM t
    """,
    doc="Triangle counting over the co-purchase part graph via degree-oriented wedge join (each edge directed low-degree → high-degree, total order (deg, id)) — the orientation bounds wedge fan-out by graph degeneracy instead of max degree; plus global clustering coefficient 3·tri/wedges as one exact int/int division.",
    tags=("graph", "triangles", "analytics"),
)
def q136_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The third graph primitive (after q94 components, q129 rank):
    triangle / clustering-coefficient census. The naive wedge join
    fans out quadratically in the max degree — a celebrity node with
    degree 1M emits 5·10^11 wedges. Degree orientation is the standard
    fix: direct every edge toward its higher-(deg,id) endpoint and only
    join out-edges with out-edges; out-degree is then bounded by the
    graph's degeneracy (≈√m worst case), not the max degree, and every
    triangle is counted exactly once from its lowest-ordered corner.
    Baskets are capped at MAX_BASKET before pair expansion (q131's
    guard). Everything shuffles as integer id pairs; the census output
    is one bounded row."""
    # r10 reshape (guide §2.3/§2.4, same as _basket_pairs): pairs
    # explode map-side from each capped basket's sorted distinct part
    # array — one exchange to build baskets, one distinct, where the
    # old distinct + count-window + self-join paid four.
    e = scoped_persist(
        _baskets(spark, sf_dir)
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
    oe = (
        e.join(du, "u")
        .join(dv, "v")
        .select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("dd"),
        )
    )
    # Edge-iterator counting: tri = Σ over oriented edges (u,v) of
    # |N+(u) ∩ N+(v)| — each triangle counted exactly once, at the edge
    # between its two lowest-ordered corners. vs the materialized wedge
    # join (Σ outdeg² rows through a shuffle — 41M at sf0.1, measured
    # 8.8 s) this ships each adjacency array once (bounded by the
    # orientation's out-degree ≤ graph degeneracy) and the intersect
    # runs codegen'd per edge: 8.8 → 5.6 s at sf0.1 (the residue is
    # the edge-derivation distinct), and at 100 TB the shuffle is
    # O(edges · degeneracy) longs instead of O(wedges) rows.
    # r11 (guide §2.4): the oriented edge list is recoverable from the
    # adjacency table itself — exploding nbrs regenerates (u, v) WITH
    # u's neighbor array already attached, so the old oe⋈na join (and
    # its two exchanges: oe by u, na by u) disappears; only the nb
    # lookup still shuffles, keyed by v. oe is now read once (by adj),
    # so its persist is dropped too.
    adj = scoped_persist(
        oe.groupBy("src").agg(F.sort_array(F.collect_list("dst")).alias("nbrs"))
    )
    nb = adj.select(F.col("src").alias("v"), F.col("nbrs").alias("nb"))
    tri = (
        adj.select(F.col("nbrs").alias("na"), F.explode("nbrs").alias("v"))
        .join(nb, "v", "left")
        .select(
            F.size(
                F.array_intersect(F.col("na"), F.coalesce(F.col("nb"), F.array()))
            ).alias("t")
        )
        .agg(F.sum("t").cast("bigint").alias("tri"))
    )
    nn = deg.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
    ne = e.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    wd = deg.agg(F.sum(F.col("d") * (F.col("d") - 1)).alias("w2"))
    return (
        tri.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(wd))
        .select(
            "n_nodes",
            "n_edges",
            F.col("tri").alias("n_triangles"),
            (F.col("w2") / 2).cast("bigint").alias("n_wedges"),
            F.when(F.col("w2") == 0, F.lit(0).cast("double"))
            .otherwise((F.lit(6) * F.col("tri")).cast("double") / F.col("w2").cast("double"))
            .alias("global_cc"),
        )
    )


# --- q153: Benford first-digit audit ---------------------------------------

import math as _math

#: Benford expected proportions log10(1 + 1/d), PINNED to 12 dp at
#: import and injected as identical literals into BOTH engines' plans
#: — each engine parses the same decimal string to the same nearest
#: double, so no transcendental is ever evaluated inside a query (the
#: cross-engine libm 1-ulp hazard documented at plans/ml.py).
BENFORD_P = {d: round(_math.log10(1.0 + 1.0 / d), 12) for d in range(1, 10)}
_BENFORD_CASE = "CASE digit " + " ".join(
    f"WHEN {d} THEN cast({p:.12f} as double)" for d, p in BENFORD_P.items()
) + " END"


@query(
    "q153_benford_audit",
    oracle=f"""
    WITH amounts AS (
      SELECT cast(round(l_extendedprice * 100) as bigint) AS cents
      FROM lineitem WHERE l_extendedprice > 0
    ),
    digits AS (
      SELECT cast(substr(cast(cents as varchar), 1, 1) as bigint) AS digit,
             cast(count(*) as bigint) AS n
      FROM amounts GROUP BY 1
    ),
    tot AS (SELECT cast(sum(n) as bigint) AS total FROM digits)
    SELECT digit, n,
           cast(n as double) / cast(total as double) AS share,
           {_BENFORD_CASE} AS benford_p,
           (cast(n as double) / cast(total as double)) / ({_BENFORD_CASE}) AS excess,
           (cast(n as double) - cast(total as double) * ({_BENFORD_CASE}))
             * (cast(n as double) - cast(total as double) * ({_BENFORD_CASE}))
             / (cast(total as double) * ({_BENFORD_CASE})) AS chi2_term
    FROM digits, tot
    ORDER BY digit
    """,
    doc="Benford first-digit audit over line-item amounts — the classical fraud/data-fabrication screen: observed first-significant-digit counts vs the pinned Benford expectation log10(1+1/d), per-digit share, excess ratio, and chi-square contribution; digit extraction is exact string-of-integer-cents, counts are exact, the expectations are 12-dp literals identical in both engines, and every emitted double is IEEE arithmetic on those exact inputs.",
    tags=("quality", "audit", "benford"),
)
def q153_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality screen a 100 TB ingest pipeline runs on every
    monetary/measurement column: fabricated or truncated data departs
    from Benford's log distribution, and the chi-square terms localize
    WHICH digit bucket is inflated. Determinism: first digit comes
    from the decimal string of exact integer cents (no log10/floor
    float path — a value like 999.995 would round differently through
    a float log); the nine expected proportions are pinned 12-dp
    literals shared with the oracle, so no transcendental runs in
    either engine. Scale shape: map-side digit extraction folds into a
    9-key partial aggregate — the exchange carries ≤ 9 rows per input
    partition; the 1-row total attaches back by broadcast. Output is
    fixed at 9 rows regardless of scale."""
    li = load_table(spark, sf_dir, "lineitem")
    digits = (
        li.where(F.col("l_extendedprice") > 0)
        .select(
            F.substring(
                F.round(F.col("l_extendedprice") * 100, 0).cast("bigint").cast("string"),
                1,
                1,
            )
            .cast("bigint")
            .alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    tot = digits.agg(F.sum("n").cast("bigint").alias("total"))
    p = F.expr(_BENFORD_CASE)
    nd, td = F.col("n").cast("double"), F.col("total").cast("double")
    return (
        digits.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n",
            (nd / td).alias("share"),
            p.alias("benford_p"),
            ((nd / td) / p).alias("excess"),
            ((nd - td * p) * (nd - td * p) / (td * p)).alias("chi2_term"),
        )
        .orderBy("digit")
    )


# --- q159: contingency-table independence audit (R x C chi-square) --------


@query(
    "q159_independence_audit",
    oracle="""
    WITH cells AS (
      SELECT o_orderpriority AS prio, o_orderstatus AS status,
             cast(count(*) as bigint) AS n
      FROM orders GROUP BY 1, 2
    ),
    r AS (SELECT prio, cast(sum(n) as bigint) AS rn FROM cells GROUP BY prio),
    c AS (SELECT status, cast(sum(n) as bigint) AS cn FROM cells GROUP BY status),
    t AS (SELECT cast(sum(n) as bigint) AS total FROM cells)
    SELECT prio, status, n,
           cast(rn as double) * cast(cn as double) / cast(total as double) AS expected,
           (cast(n as double) - cast(rn as double) * cast(cn as double) / cast(total as double))
             * (cast(n as double) - cast(rn as double) * cast(cn as double) / cast(total as double))
             / (cast(rn as double) * cast(cn as double) / cast(total as double)) AS chi2_term,
           cast(n as double) * cast(total as double)
             / (cast(rn as double) * cast(cn as double)) AS lift
    FROM cells JOIN r USING (prio) JOIN c USING (status), t
    ORDER BY prio, status
    """,
    doc="R x C contingency independence audit (priority x status): per cell the observed count, independence-expected count r*c/N, chi-square contribution, and lift (observed/expected) — q146's 2x2 z-test generalized to full cross-tab screening; counts and margins are exact bigints, every emitted double is the SAME IEEE expression DAG on those integers in both engines (bigint->double casts are correctly rounded everywhere); margins and the 1-row total attach by broadcast, the exchange carries only (prio,status,count) cells.",
    tags=("stats", "chi-square", "audit"),
)
def q159_independence_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The categorical-association screen run across column pairs in
    data profiling: cells far from independence (high chi2_term, lift
    far from 1) reveal correlated dimensions — the input to join-order
    and materialization decisions, and the fraud screen's categorical
    sibling (q153 covers digits). Float contract: all inputs are exact
    bigint counts; expected/chi2/lift are pinned double expression
    DAGs evaluated identically by both engines (no decimal->double
    bridge anywhere — the q152 lesson). Scale: one (prio,status)
    partial-agg exchange (cells, not rows), margins derived from the
    cells and broadcast back; output is |R x C| rows at any scale."""
    o = load_table(spark, sf_dir, "orders")
    cells = scoped_persist(
        o.groupBy(
            F.col("o_orderpriority").alias("prio"),
            F.col("o_orderstatus").alias("status"),
        ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    r = cells.groupBy("prio").agg(F.sum("n").cast("bigint").alias("rn"))
    c = cells.groupBy("status").agg(F.sum("n").cast("bigint").alias("cn"))
    t = cells.agg(F.sum("n").cast("bigint").alias("total"))
    nd = F.col("n").cast("double")
    expected = (
        F.col("rn").cast("double")
        * F.col("cn").cast("double")
        / F.col("total").cast("double")
    )
    return (
        cells.join(F.broadcast(r), "prio")
        .join(F.broadcast(c), "status")
        .crossJoin(F.broadcast(t))
        .select(
            "prio",
            "status",
            "n",
            expected.alias("expected"),
            ((nd - expected) * (nd - expected) / expected).alias("chi2_term"),
            (
                nd
                * F.col("total").cast("double")
                / (F.col("rn").cast("double") * F.col("cn").cast("double"))
            ).alias("lift"),
        )
        .orderBy("prio", "status")
    )


# --- q160: bitmap-index audience overlap ----------------------------------


@query(
    "q160_audience_overlap",
    oracle="""
    WITH seg AS (SELECT DISTINCT event_type, user_id FROM events),
         sz AS (SELECT event_type, cast(count(*) as bigint) AS n FROM seg GROUP BY event_type)
    SELECT a.event_type AS seg_a, b.event_type AS seg_b,
           cast(count(*) as bigint) AS overlap_users,
           min(sa.n) AS users_a, min(sb.n) AS users_b,
           cast(count(*) as double)
             / cast(min(sa.n) + min(sb.n) - count(*) as double) AS jaccard
    FROM seg a
    JOIN seg b ON a.user_id = b.user_id AND a.event_type < b.event_type
    JOIN sz sa ON sa.event_type = a.event_type
    JOIN sz sb ON sb.event_type = b.event_type
    GROUP BY a.event_type, b.event_type
    ORDER BY seg_a, seg_b
    """,
    doc="Audience-overlap matrix via BITMAP INDEXES: each segment (event type) folds its distinct users into 64-bit bitmap words (word = user div 64, bit_or of 1<<user%64 — fixed 8 bytes per word regardless of how many users land in it), segment pairs intersect word-by-word with bitwise AND + bit_count — the roaring/bitmap-index technique as pure dataflow; the oracle is the DIRECT distinct-user intersection join, so parity proves the bitmap rewrite exact. Jaccard emitted as one pinned int/int-derived double.",
    tags=("warehouse", "bitmap", "segmentation"),
)
def q160_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The marketing/segmentation primitive at 100 TB: answering
    'how many users are in BOTH segments' for every segment pair
    without re-shuffling user ids per pair. The bitmap fold compresses
    each segment to |user_domain|/64 words (dense ids; sparse domains
    would dictionary-encode first — q96's vocab machinery); word-wise
    AND + POPCNT computes every intersection from the SAME compact
    relations, and adding a segment pair costs one more word-keyed
    join, not a pass over the fact table. All counts exact integers
    (bit_count of AND-ed bigint words summed); jaccard is the one
    pinned double division. Scale shape: one (type, word) exchange
    builds the bitmaps (block-aggregated like q53's two-level
    checksum); the pair join keys on the word index — |domain/64| rows
    per segment — and the fact table is read once. The oracle is the
    direct pairwise distinct join; hash parity proves the bitmap
    algebra (including that no bit collides: div/mod is a bijection
    on bigint user ids)."""
    ev = load_table(spark, sf_dir, "events")
    seg = ev.select("event_type", "user_id").distinct()
    # integer div, not `/` (double division would lose exactness for
    # ids beyond 2^53 — the div/mod bijection must hold on all bigints)
    words = seg.groupBy(
        "event_type", F.expr("user_id div 64").cast("bigint").alias("word")
    ).agg(
        F.expr(
            "bit_or(shiftleft(cast(1 as bigint), cast(pmod(user_id, 64) as int)))"
        ).alias("bits")
    )
    from pandamapreduce_spark.caching import scoped_persist

    words = scoped_persist(words)
    sz = words.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n")
    )
    a = words.select(
        F.col("event_type").alias("seg_a"), "word", F.col("bits").alias("ba")
    )
    b = words.select(
        F.col("event_type").alias("seg_b"), "word", F.col("bits").alias("bb")
    )
    inter = (
        a.join(b, "word")
        .where(F.col("seg_a") < F.col("seg_b"))
        .groupBy("seg_a", "seg_b")
        .agg(
            F.sum(F.bit_count(F.expr("ba & bb"))).cast("bigint").alias("overlap_users")
        )
    )
    sa = sz.select(F.col("event_type").alias("seg_a"), F.col("n").alias("users_a"))
    sb = sz.select(F.col("event_type").alias("seg_b"), F.col("n").alias("users_b"))
    return (
        inter.join(F.broadcast(sa), "seg_a")
        .join(F.broadcast(sb), "seg_b")
        .select(
            "seg_a",
            "seg_b",
            "overlap_users",
            "users_a",
            "users_b",
            (
                F.col("overlap_users").cast("double")
                / (
                    F.col("users_a") + F.col("users_b") - F.col("overlap_users")
                ).cast("double")
            ).alias("jaccard"),
        )
        .orderBy("seg_a", "seg_b")
    )


# --- q165: functional-dependency / uniqueness profiling --------------------

#: (table, determinant, dependent) candidates to profile. A pair is a
#: functional dependency iff no determinant value maps to two distinct
#: dependent values; `dependent = None` profiles key uniqueness.
FD_CANDIDATES = (
    ("customer", "c_custkey", "c_nationkey"),   # PK → anything: holds
    ("orders", "o_custkey", "o_orderpriority"),  # expected to FAIL
    ("lineitem", "l_orderkey", "l_suppkey"),     # multi-line orders: FAIL
    ("orders", "o_orderkey", None),              # uniqueness audit
)


def _fd_sql(tbl: str, det: str, dep: str | None) -> str:
    if dep is None:
        return f"""
    SELECT '{tbl}: {det} unique' AS candidate,
           cast(count(*) as bigint) AS n_det,
           cast(count(*) as bigint) AS n_pairs,
           cast(sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) as bigint) AS violating_keys,
           cast(max(cnt) as bigint) AS worst_fanout,
           sum(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM (SELECT {det}, cast(count(*) as bigint) AS cnt FROM {tbl} GROUP BY {det})
    """
    return f"""
    SELECT '{tbl}: {det} -> {dep}' AS candidate,
           cast(count(DISTINCT {det}) as bigint) AS n_det,
           cast(sum(fan) as bigint) AS n_pairs,
           cast(sum(CASE WHEN fan > 1 THEN 1 ELSE 0 END) as bigint) AS violating_keys,
           cast(max(fan) as bigint) AS worst_fanout,
           sum(CASE WHEN fan > 1 THEN 1 ELSE 0 END) = 0 AS holds
    FROM (
      SELECT {det}, cast(count(DISTINCT {dep}) as bigint) AS fan
      FROM {tbl} GROUP BY {det}
    ) sub({det}, fan)
    """


@query(
    "q165_fd_discovery",
    oracle="\n    UNION ALL\n".join(
        _fd_sql(*c) for c in FD_CANDIDATES
    )
    + "\n    ORDER BY candidate",
    doc="Functional-dependency / uniqueness profiling (schema discovery): per candidate (determinant → dependent), the distinct-determinant count, distinct (det, dep) pair count, number of determinants mapping to >1 dependent value, the worst fan-out, and whether the FD holds — plus PK-uniqueness audits as the dep=NULL degenerate case; the metadata-inference pass (dbt tests / Deequ isUnique / hasUniqueness) run before trusting join keys at 100 TB; exact integer counting only, nothing but (det, dep) pairs ever shuffles.",
    tags=("quality", "profiling", "fd"),
)
def q165_fd_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema semantics you can't read from types: which columns
    determine which, and which 'keys' are actually unique — wrong
    assumptions here turn 100 TB joins into fan-out explosions (q155
    forecasts the size; this explains WHY). Per candidate: group by
    the determinant counting DISTINCT dependents (fan), then reduce to
    the violation profile; uniqueness is the dep-less degenerate
    (fan = row count per key). All exact integer counting; `holds` is
    an integer comparison. Scale shape per candidate: one (det) or
    (det, dep) partial-agg exchange — distinct-pair rows, never wider
    — then a constant-size aggregate; candidates are independent and
    union into a fixed |candidates|-row report."""
    parts = []
    for tbl, det, dep in FD_CANDIDATES:
        t = load_table(spark, sf_dir, tbl)
        if dep is None:
            counts = t.groupBy(F.col(det).alias("k")).agg(
                F.count(F.lit(1)).cast("bigint").alias("fan")
            )
            label = f"{tbl}: {det} unique"
            n_det = F.count(F.lit(1)).cast("bigint")
            n_pairs = F.count(F.lit(1)).cast("bigint")
        else:
            counts = t.groupBy(F.col(det).alias("k")).agg(
                F.count_distinct(F.col(dep)).cast("bigint").alias("fan")
            )
            label = f"{tbl}: {det} -> {dep}"
            n_det = F.count(F.lit(1)).cast("bigint")
            n_pairs = F.sum("fan").cast("bigint")
        viol = F.sum(F.when(F.col("fan") > 1, 1).otherwise(0)).cast("bigint")
        parts.append(
            counts.agg(
                n_det.alias("n_det"),
                (n_pairs if dep is not None else n_det).alias("n_pairs"),
                viol.alias("violating_keys"),
                F.max("fan").cast("bigint").alias("worst_fanout"),
                (
                    F.sum(F.when(F.col("fan") > 1, 1).otherwise(0)) == 0
                ).alias("holds"),
            ).select(
                F.lit(label).alias("candidate"),
                "n_det",
                "n_pairs",
                "violating_keys",
                "worst_fanout",
                "holds",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out.orderBy("candidate")


# --- q168: SCD2 point-in-time (temporal) join -----------------------------


@query(
    "q168_scd2_pit_join",
    oracle=f"""
    WITH hist AS ({SCD2_HISTORY_SQL}),
    f AS (
      SELECT o_custkey AS custkey, cast(cast(l_shipdate as date) as varchar) AS sd,
             l_extendedprice, l_discount
      FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    )
    SELECT coalesce(h.priority, '(none)') AS priority_at_ship,
           cast(count(*) as bigint) AS n_items,
           cast(count(DISTINCT f.custkey) as bigint) AS n_customers,
           cast(round(sum(cast(l_extendedprice as decimal(18,6)) * cast((1 - l_discount) as decimal(18,6))), 2) as double) AS revenue
    FROM f LEFT JOIN hist h
      ON f.custkey = h.custkey AND h.eff_from <= f.sd AND f.sd < h.eff_to
    GROUP BY 1 ORDER BY 1
    """,
    doc="SCD2 point-in-time join: each lineitem LEFT-joins the q130 dimension version valid AT its ship date ([eff_from, eff_to) membership — at most one version per fact; the fixture's planted ship-before-order rows land in an explicit '(none)' bucket, so the fact count is preserved), then revenue rolls up by the priority the customer had WHEN the item shipped; the feature-store leakage guard (a join against is_current would read the future).",
    tags=("warehouse", "scd2", "temporal-join"),
)
def q168_scd2_pit_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The temporal companion of q130's dimension build: facts must
    join the dimension AS OF their own event time, never the current
    row — the point-in-time correctness rule every ML feature store
    enforces against label leakage, and what `FOR SYSTEM_TIME AS OF`
    does in temporal SQL. [eff_from, eff_to) intervals partition each
    customer's timeline from their first order date, so interval
    membership matches AT MOST ONE version per fact (no post-rank
    needed); facts dated BEFORE the dimension existed — the fixture's
    planted ship-before-order rows, the ones q132's c7 audit fires on
    — get an explicit '(none)' bucket via the left join rather than
    silently dropping, so the fact count is provably preserved
    (pytest-pinned).

    Scale shape: one equi-join on custkey with the interval predicates
    as join residuals — fan-out before filtering is the customer's
    version count (bounded by entity activity, the q130 SCD
    assumption), so no wedge blow-up; the rollup then shuffles only
    the 5-value priority domain. Dates compare as yyyy-MM-dd TEXT
    (lexicographic = chronological) on both engines; revenue rides the
    exact-decimal product/sum bridge. At 100 TB the same plan holds:
    dimension history is millions of rows against billions of facts —
    AQE broadcasts it when it fits, and the custkey hash join
    co-locates otherwise."""
    from pandamapreduce_spark.plans.numeric import dmul, dsum

    hist = q130_scd2_history(spark, sf_dir).select(
        F.col("custkey").alias("h_custkey"), "priority", "eff_from", "eff_to"
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        F.col("l_shipdate").cast("date").cast("string").alias("sd"),
        "l_extendedprice",
        "l_discount",
    )
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    facts = li.join(o, li["l_orderkey"] == o["o_orderkey"])
    return (
        facts.join(
            hist,
            (F.col("o_custkey") == F.col("h_custkey"))
            & (F.col("eff_from") <= F.col("sd"))
            & (F.col("sd") < F.col("eff_to")),
            "left",
        )
        .groupBy(F.coalesce(F.col("priority"), F.lit("(none)")).alias("priority_at_ship"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.count_distinct(F.col("o_custkey")).cast("bigint").alias("n_customers"),
            dsum(dmul("l_extendedprice", F.lit(1) - F.col("l_discount"))).alias("revenue"),
        )
        .orderBy("priority_at_ship")
    )


# --- q169: k-hop reachability (frontier BFS) -------------------------------

KHOP_MAX = 3  # fixed hop budget → unrolled-SQL oracle (q129/q54 precedent)
KHOP_SUPPORT = 2  # co-purchase edges need >= 2 distinct supporting orders

def _baskets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capped baskets ``(ok, ps)`` with ``ps`` = the sorted distinct
    part set of the order, baskets over MAX_BASKET distinct parts
    dropped. ONE exchange (groupBy ok with a map-side-partial
    collect_set) replaces the old distinct + count-window pipeline
    (two exchanges on different keys) — guide §2.4. The set is
    bounded per order (TPC-H orders hold ≤ 7 lineitems; the cap
    bounds it at MAX_BASKET anyway), so per-group state is O(cap)."""
    return (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
        .groupBy("ok")
        .agg(F.sort_array(F.collect_set("pk")).alias("ps"))
        .where(F.size("ps") <= MAX_BASKET)
    )


#: In-array ordered pair explode: for the sorted distinct array ps,
#: every (ps[i], ps[j]) with i < j — the basket's a<b pair set,
#: generated map-side by array HOFs instead of the old items⋈items
#: self-join (whose hash relation rebuilt the whole item set per
#: consumer and cost one more exchange). slice() is 1-based; length
#: clamps at the array end.
_PAIR_EXPLODE = (
    "flatten(transform(ps, (x, i) -> "
    "transform(slice(ps, i + 2, size(ps)), y -> struct(x AS a, y AS b))))"
)


def _basket_items(spark: SparkSession, sf_dir: str, baskets: DataFrame | None = None) -> DataFrame:
    """The capped basket item set ``(ok, pk)`` (distinct order-part
    pairs, baskets over MAX_BASKET distinct parts dropped) — persisted,
    because every consumer reads it at least twice (pair explode, or
    item counts alongside pairs)."""
    if baskets is None:
        baskets = _baskets(spark, sf_dir)
    return scoped_persist(baskets.select("ok", F.explode("ps").alias("pk")))


def _basket_pairs(
    spark: SparkSession, sf_dir: str, support: int, items: DataFrame | None = None
) -> DataFrame:
    """Support-filtered co-purchase pairs ``(a, b, n_ab)`` with a < b —
    the shared edge derivation of the basket/graph lanes (q169/q180/
    q184/q186/q187/q192; q131 keeps its own inline copy as the lane
    that DOCUMENTS the derivation). r10 reshape (guide §2.3/§2.4):
    pairs explode from each basket's sorted distinct part ARRAY
    map-side (``_PAIR_EXPLODE``) and flow straight into the (a, b)
    partial agg — two exchanges end-to-end (groupBy ok, groupBy (a,b))
    where the old items-self-join shape paid four (distinct,
    count-window, join, agg). Value-identical: ps is sorted+distinct,
    so (i < j) enumerates exactly the a < b distinct pairs the
    self-join produced, once per containing order. The pair counts are
    scoped-persisted: every caller reads the pair list at least twice
    (direction union, wedge walk, or rule relabel). Pass ``items`` to
    share an already-built item set — pairs then re-group its rows
    per order (one extra exchange, still fewer than the old join)."""
    if items is None:
        baskets = _baskets(spark, sf_dir)
    else:
        baskets = items.groupBy("ok").agg(F.sort_array(F.collect_set("pk")).alias("ps"))
    return scoped_persist(
        baskets.select(F.explode(F.expr(_PAIR_EXPLODE)).alias("p"))
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_ab"))
        .where(F.col("n_ab") >= support)
    )


def _basket_pairs_sql(support: int) -> str:
    """The oracle twin of ``_basket_pairs``: the items0/items/pairs CTE
    prefix (MATERIALIZED — the q169 DuckDB inlining lesson), emitting
    pairs(a, b, n_ab)."""
    return f"""items0 AS (SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
    items AS MATERIALIZED (
      SELECT ok, pk FROM (
        SELECT ok, pk, count(*) OVER (PARTITION BY ok) AS sz FROM items0
      ) WHERE sz <= {MAX_BASKET}
    ),
    pairs AS MATERIALIZED (
      SELECT a.pk AS a, b.pk AS b, cast(count(*) as bigint) AS n_ab
      FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
      GROUP BY 1, 2 HAVING count(*) >= {support}
    )"""



def _khop_oracle_sql() -> str:
    """Unrolled 3-hop BFS: seeds are the parts of the lexicographically
    first brand; edges are q131-style co-purchase pairs with support >=
    KHOP_SUPPORT over MAX_BASKET-capped baskets (both caps shared with
    q131 so the two lanes profile the same graph)."""
    return f"""
    -- MATERIALIZED: DuckDB otherwise inlines each CTE once per
    -- reference; edges (the self-join agg) is referenced three times
    -- and the visited sets twice each, so the un-hinted plan
    -- re-evaluates the expensive join tree exponentially and spills
    -- past the host's disk at sf1.
    WITH {_basket_pairs_sql(KHOP_SUPPORT)},
    edges AS MATERIALIZED (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
    seed_brand AS (SELECT min(p_brand) AS sb FROM part),
    d0 AS MATERIALIZED (SELECT p_partkey AS pk FROM part, seed_brand WHERE p_brand = sb),
    r1 AS MATERIALIZED (SELECT DISTINCT e.b AS pk FROM edges e JOIN d0 ON e.a = d0.pk),
    v1 AS MATERIALIZED (SELECT pk FROM d0 UNION SELECT pk FROM r1),
    r2 AS MATERIALIZED (SELECT DISTINCT e.b AS pk FROM edges e JOIN v1 ON e.a = v1.pk),
    v2 AS MATERIALIZED (SELECT pk FROM v1 UNION SELECT pk FROM r2),
    r3 AS MATERIALIZED (SELECT DISTINCT e.b AS pk FROM edges e JOIN v2 ON e.a = v2.pk),
    hops AS (
      SELECT pk, 0 AS hops FROM d0
      UNION ALL
      SELECT pk, 1 FROM r1 WHERE pk NOT IN (SELECT pk FROM d0)
      UNION ALL
      SELECT pk, 2 FROM r2 WHERE pk NOT IN (SELECT pk FROM v1)
      UNION ALL
      SELECT pk, 3 FROM r3 WHERE pk NOT IN (SELECT pk FROM v2)
    )
    SELECT cast(pk as bigint) AS p_partkey, cast(hops as int) AS hops
    FROM hops ORDER BY p_partkey
    """


@query(
    "q169_khop_reach",
    bench=True,  # per-round signal for the frontier-BFS join shape
    oracle=_khop_oracle_sql(),
    doc=f"{KHOP_MAX}-hop BFS reachability: seeds = parts of the lexicographically first brand; edges = co-purchase pairs with >= {KHOP_SUPPORT} supporting orders over {MAX_BASKET}-capped baskets (q131's graph); per-part minimum hop distance, frontier-expansion joins, unreached parts excluded.",
    tags=("graph", "bfs", "iterative"),
)
def q169_khop_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth BFS — the recall/blast-radius primitive (which
    SKUs sit within 3 affinity hops of this brand; which records are
    transitively linked to a flagged seed set). Unlike q94's
    run-to-fixpoint components, the hop budget is part of the QUERY
    (an exact answer, not a convergence state), so the oracle is the
    same {KHOP_MAX} frontier expansions unrolled in SQL — q129/q54's
    fixed-iteration discipline.

    Scale shape: the edge derivation is q131's capped-basket
    self-join (support >= {KHOP_SUPPORT} prunes the long noise tail —
    measured 1.2M -> 3.6k pairs at sf0.1); each BFS round is one
    equi-join of the CURRENT frontier against the edge list on the
    source vertex plus an anti-join against the visited set — shuffle
    volume is O(frontier x avg-degree) integer ids per round, never
    adjacency materialization. The loop state is the visited set alone
    (the frontier is its rows labelled in the previous round); it stays
    distributed (no driver collect) and ``caching.iterate`` checkpoints
    it each round and releases the round before, so lineage and pinned
    blocks stay one round deep. At 100 TB the same plan is GraphFrames'
    BFS shape: iterate k times, each a keyed join, AQE-broadcast when
    the frontier is small."""
    pairs = _basket_pairs(spark, sf_dir, KHOP_SUPPORT).select("a", "b")
    edges = scoped_persist(pairs.union(pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))))

    part = load_table(spark, sf_dir, "part")
    seed_brand = part.agg(F.min("p_brand").alias("sb"))
    seeds = scoped_persist(
        part.join(F.broadcast(seed_brand), part["p_brand"] == F.col("sb"))
        .select(F.col("p_partkey").alias("pk"))
        .withColumn("hops", F.lit(0))
    )

    # no explicit broadcast: a per-hop driver build measured slower at sf0.1 than AQE's own
    def step(visited: DataFrame, h: int) -> DataFrame:
        frontier = visited.where(F.col("hops") == h - 1).select("pk")  # reached last round
        reached = (
            edges.join(frontier, edges["a"] == F.col("pk"))
            .select(F.col("b").alias("pk"))
            .distinct()
        )
        new = reached.join(visited.select("pk"), "pk", "left_anti").withColumn("hops", F.lit(h))
        return visited.union(new)

    visited = iterate(seeds, step, KHOP_MAX)
    return visited.select(
        F.col("pk").cast("bigint").alias("p_partkey"), F.col("hops").cast("int").alias("hops")
    ).orderBy("p_partkey")


# --- q180: weighted bounded-hop shortest path (min-plus relaxation) ---------

SP_ROUNDS = 3  # Bellman-Ford relaxation rounds (= max path edges), unrolled


def _sp_oracle_sql() -> str:
    """Unrolled 3-round integer min-plus over q169's support-filtered
    co-purchase graph; edge distance = (max_support + 1 - support), so
    strong affinities are short hops — all exact integers."""
    return f"""
    WITH {_basket_pairs_sql(KHOP_SUPPORT)},
    mx AS (SELECT max(n_ab) AS m FROM pairs),
    edges AS MATERIALIZED (
      SELECT a, b, (mx.m + 1 - n_ab) AS w FROM pairs, mx
      UNION ALL
      SELECT b, a, (mx.m + 1 - n_ab) AS w FROM pairs, mx
    ),
    seed_brand AS (SELECT min(p_brand) AS sb FROM part),
    d0 AS MATERIALIZED (
      SELECT p_partkey AS pk, cast(0 as bigint) AS dist
      FROM part, seed_brand WHERE p_brand = sb
    ),
    d1 AS MATERIALIZED (
      SELECT pk, min(dist) AS dist FROM (
        SELECT pk, dist FROM d0
        UNION ALL
        SELECT e.b AS pk, d0.dist + e.w FROM edges e JOIN d0 ON e.a = d0.pk
      ) GROUP BY pk
    ),
    d2 AS MATERIALIZED (
      SELECT pk, min(dist) AS dist FROM (
        SELECT pk, dist FROM d1
        UNION ALL
        SELECT e.b AS pk, d1.dist + e.w FROM edges e JOIN d1 ON e.a = d1.pk
      ) GROUP BY pk
    ),
    d3 AS (
      SELECT pk, min(dist) AS dist FROM (
        SELECT pk, dist FROM d2
        UNION ALL
        SELECT e.b AS pk, d2.dist + e.w FROM edges e JOIN d2 ON e.a = d2.pk
      ) GROUP BY pk
    )
    SELECT cast(pk as bigint) AS p_partkey, cast(dist as bigint) AS dist
    FROM d3 ORDER BY p_partkey
    """


@query(
    "q180_shortest_path",
    oracle=_sp_oracle_sql(),
    doc=f"Weighted bounded-hop shortest path: {SP_ROUNDS} unrolled Bellman-Ford min-plus relaxations over q169's support-filtered co-purchase graph, edge distance = max_support + 1 - support (strong affinity = short hop) — EXACT integer arithmetic end to end; per-part minimum cost over all paths of <= {SP_ROUNDS} edges from the seed brand.",
    tags=("graph", "shortest-path", "iterative"),
)
def q180_shortest_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q169 answers CAN I reach it in k hops; this answers HOW CLOSE
    is it — min-plus (tropical) relaxation, the semiring Bellman-Ford
    step every distributed SSSP (Pregel/GraphX) iterates. The hop
    budget again makes the bounded answer exact and oracle-able
    (min cost over paths of <= {SP_ROUNDS} edges is a well-defined
    quantity, not a convergence state — q129/q54's discipline).

    Exactness: affinity inverts to an INTEGER distance
    (max_support + 1 - support), so every path cost is exact int64
    addition and the min is total-ordered — no float anywhere.

    Scale shape: each relaxation is one equi-join of the CURRENT
    distance frontier against the edge list plus a (pk, min) partial
    agg — min-plus matrix-vector in the tropical semiring, shuffling
    only (pk, dist) pairs; the edge derivation reuses q131's capped
    self-join. Rounds run through ``caching.iterate``: each distance
    frame is checkpointed and the one it supersedes released. At
    100 TB: identical to a Pregel superstep — and the support cap keeps
    degree bounded, so a round is O(frontier x avg-degree)."""
    pairs = _basket_pairs(spark, sf_dir, KHOP_SUPPORT)
    mx = pairs.agg(F.max("n_ab").alias("m"))
    weighted = pairs.crossJoin(F.broadcast(mx)).select(
        "a", "b", (F.col("m") + 1 - F.col("n_ab")).alias("w")
    )
    edges = scoped_persist(
        weighted.union(weighted.select(F.col("b").alias("a"), F.col("a").alias("b"), "w"))
    )
    part = load_table(spark, sf_dir, "part")
    seed_brand = part.agg(F.min("p_brand").alias("sb"))
    d = scoped_persist(
        part.join(F.broadcast(seed_brand), part["p_brand"] == F.col("sb"))
        .select(F.col("p_partkey").alias("pk"))
        .withColumn("dist", F.lit(0).cast("bigint"))
    )

    def step(d: DataFrame, _: int) -> DataFrame:
        relaxed = (
            edges.join(d, edges["a"] == d["pk"])
            .select(F.col("b").alias("pk"), (F.col("dist") + F.col("w")).alias("dist"))
        )
        return d.select("pk", "dist").union(relaxed).groupBy("pk").agg(F.min("dist").alias("dist"))

    d = iterate(d, step, SP_ROUNDS)
    return d.select(
        F.col("pk").cast("bigint").alias("p_partkey"), F.col("dist").cast("bigint").alias("dist")
    ).orderBy("p_partkey")


# --- q181: inclusion-dependency (foreign-key) discovery ---------------------

#: candidate (child table.column -> parent table.column) pairs.
#: events.user_id -> customer is a DISCOVERED positive (the fixture
#: draws user ids from custkeys — exactly what IND mining surfaces);
#: orders -> lineitem is the genuine negative: the reverse of a real
#: FK fails because some orders have no lineitems (~10% in the
#: fixture), so both verdicts are exercised.
IND_CANDIDATES = (
    ("lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders", "o_custkey", "customer", "c_custkey"),
    ("events", "user_id", "customer", "c_custkey"),
    ("orders", "o_orderkey", "lineitem", "l_orderkey"),
)


def _ind_oracle_sql() -> str:
    parts = []
    for ct, cc, pt, pc in IND_CANDIDATES:
        parts.append(f"""
    SELECT '{ct}.{cc} -> {pt}.{pc}' AS candidate,
           cast(count(*) as bigint) AS n_child_distinct,
           cast(count(p.k) as bigint) AS n_contained,
           cast(count(*) - count(p.k) as bigint) AS n_orphans,
           cast(count(p.k) as double) / cast(count(*) as double) AS containment,
           cast(CASE WHEN count(*) = count(p.k) THEN 1 ELSE 0 END as int) AS holds
    FROM (SELECT DISTINCT {cc} AS k FROM {ct}) c
    LEFT JOIN (SELECT DISTINCT {pc} AS k FROM {pt}) p USING (k)""")
        parts.append("UNION ALL")
    return "\n".join(parts[:-1]) + "\nORDER BY candidate"


@query(
    "q181_fk_discovery",
    oracle=_ind_oracle_sql(),
    doc="Inclusion-dependency (FK) discovery: for each candidate child->parent column pair, distinct child keys, how many exist in the parent, orphan count, exact containment ratio, and a holds flag — the cross-table sibling of q165's within-table FDs; candidates include a discovered positive (events.user_id IS drawn from custkeys) and a genuine negative (orders -> lineitem: childless orders), so both verdicts are exercised.",
    tags=("warehouse", "profiling", "constraints"),
)
def q181_fk_discovery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The other half of schema profiling: q165 discovers functional
    dependencies WITHIN a table; this validates referential structure
    ACROSS tables — the inclusion dependencies (Σ child ⊆ parent) that
    FK constraints assert and data-integration tools mine. Containment
    < 1 quantifies orphan volume (q132's c5/c6 audits count specific
    planted orphans; this is the discovery-mode generalization over a
    candidate catalog).

    Exactness: distinct/contained/orphan counts are exact integers
    from a distinct-key LEFT join per candidate; containment is ONE
    int/int IEEE division. Scale shape: per candidate, only DISTINCT
    KEYS shuffle (never fact rows) into one equi-join — each candidate
    is an independent partial-agg + join subtree unioned into a
    |candidates|-row report; at 100 TB the child-distinct pass is the
    dominant cost and is exactly the dedup-shuffle shape the engine
    uses everywhere."""
    out = None
    for ct, cc, pt, pc in IND_CANDIDATES:
        child = load_table(spark, sf_dir, ct).select(F.col(cc).alias("k")).distinct()
        parent = (
            load_table(spark, sf_dir, pt)
            .select(F.col(pc).alias("k"), F.lit(1).alias("hit"))
            .distinct()
        )
        row = (
            child.join(parent, "k", "left")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_child_distinct"),
                F.count("hit").cast("bigint").alias("n_contained"),
            )
            .select(
                F.lit(f"{ct}.{cc} -> {pt}.{pc}").alias("candidate"),
                "n_child_distinct",
                "n_contained",
                (F.col("n_child_distinct") - F.col("n_contained")).alias("n_orphans"),
                (
                    F.col("n_contained").cast("double")
                    / F.col("n_child_distinct").cast("double")
                ).alias("containment"),
                F.when(F.col("n_child_distinct") == F.col("n_contained"), 1)
                .otherwise(0)
                .cast("int")
                .alias("holds"),
            )
        )
        out = row if out is None else out.union(row)
    return out.orderBy("candidate")


# --- q184: community detection (fixed-round synchronous label propagation) --

LPA_ROUNDS = 3  # synchronous label-propagation rounds, unrolled in the oracle


def _lpa_oracle_sql() -> str:
    """Unrolled 3-round synchronous LPA over q169's support-filtered
    co-purchase graph: per round every node takes the MODE of its
    neighbors' labels (ties to the smallest label), starting from
    label = own id. Every reused CTE MATERIALIZED (the q169 lesson)."""
    rounds = []
    prev = "l0"
    for i in range(1, LPA_ROUNDS + 1):
        hint = "MATERIALIZED " if i < LPA_ROUNDS else ""
        rounds.append(f"""
    l{i} AS {hint}(
      SELECT pk, lbl FROM (
        SELECT e.a AS pk, l.lbl AS lbl,
               row_number() OVER (PARTITION BY e.a
                 ORDER BY count(*) DESC, l.lbl) AS rn
        FROM edges e JOIN {prev} l ON e.b = l.pk
        GROUP BY e.a, l.lbl
      ) WHERE rn = 1
    )""")
        prev = f"l{i}"
    return f"""
    WITH {_basket_pairs_sql(KHOP_SUPPORT)},
    edges AS MATERIALIZED (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
    l0 AS MATERIALIZED (SELECT DISTINCT a AS pk, a AS lbl FROM edges),
    {",".join(rounds)}
    SELECT cast(pk as bigint) AS p_partkey, cast(lbl as bigint) AS community
    FROM {prev} ORDER BY p_partkey
    """


@query(
    "q184_communities",
    bench=True,  # per-round signal for the iterative LPA superstep shape
    oracle=_lpa_oracle_sql(),
    doc=f"Community detection: {LPA_ROUNDS} unrolled rounds of synchronous label propagation (Raghavan et al. 2007) over q169's support-filtered co-purchase graph — per round each part adopts the MODE of its neighbors' labels, ties to the smallest label, init label = own id; per-part community assignment. Fixed rounds make the answer exact and oracle-able (q129/q169 discipline) — run-to-stationarity LPA is a convergence state, not a query.",
    tags=("graph", "communities", "iterative"),
)
def q184_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The last missing graph-analytics staple after reach (q169),
    distance (q180), rank (q129), triangles (q136), and components
    (q94): components answer CONNECTED, communities answer DENSELY
    connected — LPA's mode update follows the majority structure, so
    a bridge edge does not weld two dense clusters the way it does in
    connected components.

    Determinism: synchronous updates (every round reads only the
    previous round's labels) + the (count DESC, label ASC) total-order
    tie-break make every round a pure function of the edge set — no
    RNG, no visit-order dependence, identical in both engines.

    Scale shape: per round, one equi-join of the (node, label) frame
    against the edge list and one (node, label) count agg with a
    per-node top-1 window — shuffle volume O(edges) integer triples,
    the textbook Pregel LPA superstep. Rounds run through
    ``caching.iterate`` (eager localCheckpoint, superseded round
    released at once); the support cap bounds degree, so skew in the
    count agg is bounded by the same guard that bounds q131."""
    pairs = _basket_pairs(spark, sf_dir, KHOP_SUPPORT).select("a", "b")
    edges = scoped_persist(pairs.union(pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))))
    labels = edges.select(F.col("a").alias("pk")).distinct().withColumn("lbl", F.col("pk"))
    w = Window.partitionBy("a").orderBy(F.col("c").desc(), F.col("lbl"))

    # no explicit broadcast: a per-round driver build measured slower at sf0.1 than AQE's own
    def step(labels: DataFrame, _: int) -> DataFrame:
        return (
            edges.join(labels, edges["b"] == labels["pk"])
            .groupBy("a", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
            .withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select(F.col("a").alias("pk"), "lbl")
        )

    labels = iterate(labels, step, LPA_ROUNDS)
    return labels.select(
        F.col("pk").cast("bigint").alias("p_partkey"),
        F.col("lbl").cast("bigint").alias("community"),
    ).orderBy("p_partkey")


# --- q186: association rules (confidence / lift / leverage) -----------------

RULES_TOPK = 100


@query(
    "q186_association_rules",
    oracle=f"""
    WITH {_basket_pairs_sql(MIN_SUPPORT)},
    n AS (SELECT cast(count(DISTINCT ok) as bigint) AS n_orders FROM items),
    pc AS MATERIALIZED (SELECT pk, cast(count(*) as bigint) AS n_pk FROM items GROUP BY pk),
    rules AS (
      SELECT a AS antecedent, b AS consequent, n_ab FROM pairs
      UNION ALL
      SELECT b, a, n_ab FROM pairs
    )
    SELECT r.antecedent, r.consequent, r.n_ab,
           ca.n_pk AS n_ant, cc.n_pk AS n_con,
           cast(r.n_ab as double) / cast(n.n_orders as double) AS support,
           cast(r.n_ab as double) / cast(ca.n_pk as double) AS confidence,
           (cast(r.n_ab as double) * cast(n.n_orders as double))
             / (cast(ca.n_pk as double) * cast(cc.n_pk as double)) AS lift,
           cast(r.n_ab * n.n_orders - ca.n_pk * cc.n_pk as double)
             / cast(n.n_orders * n.n_orders as double) AS leverage
    FROM rules r
    JOIN pc ca ON r.antecedent = ca.pk
    JOIN pc cc ON r.consequent = cc.pk
    CROSS JOIN n
    ORDER BY confidence DESC, n_ab DESC, antecedent, consequent
    LIMIT {RULES_TOPK}
    """,
    doc=f"Association rules from the capped-basket pair counts: DIRECTED rules a=>b and b=>a with support, confidence = P(b|a), lift, and leverage (= support_ab - support_a*support_b, computed as ONE division of an exact integer numerator); support >= {MIN_SUPPORT}, top {RULES_TOPK} by confidence — the rule-mining layer over q131's undirected affinity (Agrawal-Srikant Apriori at pair depth).",
    tags=("affinity", "basket", "analytics"),
)
def q186_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q131 scores PAIRS (symmetric affinity); recommendations need
    RULES (directional: customers who bought a also bought b, priced
    by confidence) — the same pair counts read twice, once per
    direction, so the expensive basket self-join is not repeated.

    Exactness: every metric is exact-integer counts into one or two
    correctly-rounded double operations — leverage's subtraction
    happens in INT64 (n_ab*N - n_a*n_b, exact below 2^63) before its
    single division, so no float cancellation anywhere. The final
    ORDER BY confidence is a total order thanks to the (n_ab,
    antecedent, consequent) tie-break.

    Scale shape: identical to q131 (the cap bounds pair expansion,
    only integer ids shuffle) plus one UNION ALL relabel — rules are
    2x the pair rows, still ids+counts; the top-k is a
    TakeOrderedAndProject, never a global sort."""
    items = _basket_items(spark, sf_dir)
    n = items.agg(F.countDistinct("ok").cast("bigint").alias("n_orders"))
    pc = items.groupBy("pk").agg(F.count(F.lit(1)).cast("bigint").alias("n_pk"))
    pairs = _basket_pairs(spark, sf_dir, MIN_SUPPORT, items=items)
    rules = pairs.select(
        F.col("a").alias("antecedent"), F.col("b").alias("consequent"), "n_ab"
    ).union(
        pairs.select(F.col("b").alias("antecedent"), F.col("a").alias("consequent"), "n_ab")
    )
    ca = pc.select(F.col("pk").alias("antecedent"), F.col("n_pk").alias("n_ant"))
    cc = pc.select(F.col("pk").alias("consequent"), F.col("n_pk").alias("n_con"))
    return (
        rules.join(ca, "antecedent")
        .join(cc, "consequent")
        .crossJoin(F.broadcast(n))
        .select(
            "antecedent",
            "consequent",
            "n_ab",
            "n_ant",
            "n_con",
            (F.col("n_ab").cast("double") / F.col("n_orders").cast("double")).alias("support"),
            (F.col("n_ab").cast("double") / F.col("n_ant").cast("double")).alias("confidence"),
            (
                (F.col("n_ab").cast("double") * F.col("n_orders").cast("double"))
                / (F.col("n_ant").cast("double") * F.col("n_con").cast("double"))
            ).alias("lift"),
            (
                (F.col("n_ab") * F.col("n_orders") - F.col("n_ant") * F.col("n_con")).cast(
                    "double"
                )
                / (F.col("n_orders") * F.col("n_orders")).cast("double")
            ).alias("leverage"),
        )
        .orderBy(
            F.col("confidence").desc(), F.col("n_ab").desc(), "antecedent", "consequent"
        )
        .limit(RULES_TOPK)
    )


# --- q187: link prediction (common neighbors / Jaccard / resource alloc) ----

LINKPRED_TOPK = 100


@query(
    "q187_link_prediction",
    bench=True,  # per-round signal for the wedge-walk self-join
    oracle=f"""
    WITH {_basket_pairs_sql(KHOP_SUPPORT)},
    edges AS MATERIALIZED (SELECT a, b FROM pairs UNION ALL SELECT b, a FROM pairs),
    deg AS MATERIALIZED (SELECT a AS pk, cast(count(*) as bigint) AS deg FROM edges GROUP BY a),
    tri AS (
      SELECT e1.a AS u, e2.b AS w, e1.b AS v
      FROM edges e1 JOIN edges e2 ON e1.b = e2.a AND e1.a < e2.b
    ),
    nonedge AS (
      SELECT t.u, t.w, t.v FROM tri t
      LEFT JOIN pairs p ON t.u = p.a AND t.w = p.b
      WHERE p.a IS NULL
    ),
    scored AS (
      SELECT n.u, n.w,
             cast(count(*) as bigint) AS cn,
             sum(cast(round(1.0 / cast(d.deg as double), 9) as decimal(18,9))) AS ra_dec
      FROM nonedge n JOIN deg d ON n.v = d.pk
      GROUP BY n.u, n.w
    )
    SELECT s.u AS part_a, s.w AS part_b, s.cn,
           du.deg AS deg_a, dw.deg AS deg_b,
           cast(s.cn as double) / cast(du.deg + dw.deg - s.cn as double) AS nbr_jaccard,
           cast(s.ra_dec as double) AS resource_alloc
    FROM scored s
    JOIN deg du ON s.u = du.pk
    JOIN deg dw ON s.w = dw.pk
    ORDER BY cn DESC, resource_alloc DESC, part_a, part_b
    LIMIT {LINKPRED_TOPK}
    """,
    doc=f"Link prediction over the support-filtered co-purchase graph: for every NON-edge pair at distance 2, common-neighbor count, neighborhood Jaccard, and the resource-allocation index (sum of 1/deg over shared neighbors — Zhou et al. 2009, the strongest of the classical local indices); RA terms round to 9 decimals and sum exactly as decimal (q173's float contract), top {LINKPRED_TOPK} by (cn, RA).",
    tags=("graph", "link-prediction", "analytics"),
)
def q187_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The which-edge-forms-next primitive — recommendation backfill,
    knowledge-graph completion, churn-risk ties. Scores only DISTANCE-2
    non-edges (a pair with zero common neighbors scores zero in every
    local index, so the open-wedge walk IS the candidate generator —
    no quadratic candidate space).

    Exactness: cn and degrees are exact integers; neighborhood Jaccard
    is one int/int division; the RA index follows q173's float
    contract — each 1/deg term is one correctly-rounded division
    rounded to 9 decimals and cast to decimal(18,9), so the SUM is
    exact and partitioning-independent, with a single final cast to
    double.

    Scale shape: the wedge walk is one self-equi-join of the edge list
    on the middle vertex (O(sum deg^2) bounded by the support cap),
    the existing-edge exclusion is a left-anti join on canonical (u,w)
    pairs, and scoring is one (u,w) partial agg joined against the
    broadcast-able degree table. Top-k is TakeOrderedAndProject."""
    pairs = _basket_pairs(spark, sf_dir, KHOP_SUPPORT).select("a", "b")
    edges = scoped_persist(pairs.union(pairs.select(F.col("b").alias("a"), F.col("a").alias("b"))))
    deg = edges.groupBy(F.col("a").alias("pk")).agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
    # The edge list and the pair list grow with sf, so their joins are
    # left to the planner (AQE still broadcasts them while they are
    # small). Only the degree frames carry a broadcast hint: one row
    # per vertex, two integers wide.
    e1, e2 = edges.alias("e1"), edges.alias("e2")
    tri = e1.join(
        e2, (F.col("e1.b") == F.col("e2.a")) & (F.col("e1.a") < F.col("e2.b"))
    ).select(F.col("e1.a").alias("u"), F.col("e2.b").alias("w"), F.col("e1.b").alias("v"))
    nonedge = tri.join(pairs, (tri["u"] == pairs["a"]) & (tri["w"] == pairs["b"]), "left_anti")
    dv = deg.select(F.col("pk").alias("v"), F.col("deg").alias("deg_v"))
    ra_term = F.round(F.lit(1.0) / F.col("deg_v").cast("double"), 9).cast("decimal(18,9)")
    scored = (
        nonedge.join(F.broadcast(dv), "v")
        .groupBy("u", "w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cn"),
            F.sum(ra_term).alias("ra_dec"),
        )
    )
    du = deg.select(F.col("pk").alias("u"), F.col("deg").alias("deg_a"))
    dw = deg.select(F.col("pk").alias("w"), F.col("deg").alias("deg_b"))
    return (
        scored.join(F.broadcast(du), "u")
        .join(F.broadcast(dw), "w")
        .select(
            F.col("u").alias("part_a"),
            F.col("w").alias("part_b"),
            "cn",
            "deg_a",
            "deg_b",
            (
                F.col("cn").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn")).cast("double")
            ).alias("nbr_jaccard"),
            F.col("ra_dec").cast("double").alias("resource_alloc"),
        )
        .orderBy(F.col("cn").desc(), F.col("resource_alloc").desc(), "part_a", "part_b")
        .limit(LINKPRED_TOPK)
    )


# --- q192: per-customer recommendations (rule-scored, anti-joined) -----------

REC_CUSTS = 50  # bounded eval cohort: customers with custkey < this
REC_TOPN = 3


@query(
    "q192_recommendations",
    oracle=f"""
    WITH {_basket_pairs_sql(MIN_SUPPORT)},
    pc AS (SELECT pk, cast(count(*) as bigint) AS n_pk FROM items GROUP BY pk),
    rules AS MATERIALIZED (
      SELECT r.antecedent, r.consequent,
             cast(round(cast(r.n_ab as double) / cast(c.n_pk as double), 9)
                  as decimal(18,9)) AS conf
      FROM (
        SELECT a AS antecedent, b AS consequent, n_ab FROM pairs
        UNION ALL
        SELECT b, a, n_ab FROM pairs
      ) r JOIN pc c ON r.antecedent = c.pk
    ),
    owned AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS ck, l.l_partkey AS pk
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      WHERE o.o_custkey < {REC_CUSTS}
    ),
    scored AS (
      SELECT w.ck, r.consequent,
             sum(r.conf) AS score_dec,
             cast(count(*) as bigint) AS n_antecedents
      FROM owned w JOIN rules r ON w.pk = r.antecedent
      LEFT JOIN owned h ON h.ck = w.ck AND h.pk = r.consequent
      WHERE h.pk IS NULL
      GROUP BY w.ck, r.consequent
    )
    SELECT ck AS custkey, consequent AS rec_part,
           cast(score_dec as double) AS score, n_antecedents
    FROM (
      SELECT *, row_number() OVER (PARTITION BY ck
               ORDER BY score_dec DESC, consequent) AS rn
      FROM scored
    ) WHERE rn <= {REC_TOPN}
    ORDER BY custkey, score DESC, rec_part
    """,
    doc=f"Per-customer recommendations from the association rules: each owned part fires its a=>b rules, candidate consequents the customer does NOT own accumulate confidence (9-decimal-rounded terms, exact decimal sum — q173's contract), top {REC_TOPN} per customer over a bounded {REC_CUSTS}-customer eval cohort — the item-to-item collaborative filter (Linden et al. 2003, the Amazon recipe) composed entirely from shipped lanes.",
    tags=("affinity", "recommendation", "analytics"),
)
def q192_recommendations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The payoff lane for the basket stack: q131 mines pairs, q186
    prices rules, this SERVES them — score(candidate) = sum of
    confidence over the customer's owned antecedents, excluding
    already-owned parts (the anti-join every recommender needs so it
    never recommends what the cart already proved).

    Exactness: confidence terms round to 9 decimals and sum as
    decimal(18,9) — associativity-free, so the score is identical
    under any partitioning; ranking ties break on part id.

    Scale shape: rules are pair-count derived (the capped basket join,
    integer ids only); the serving join is owned x rules on the part
    key — at full scale per-customer fan-out is bounded by basket size
    x rule out-degree, the same bound the production item-to-item
    recommenders rely on; the top-N is a per-customer window over the
    already-reduced candidate scores. The eval cohort bound keeps THIS
    lane's output fixed; serving all customers is the same plan minus
    one filter."""
    items = _basket_items(spark, sf_dir)
    pc = items.groupBy("pk").agg(F.count(F.lit(1)).cast("bigint").alias("n_pk"))
    pairs = _basket_pairs(spark, sf_dir, MIN_SUPPORT, items=items)
    directed = pairs.select(
        F.col("a").alias("antecedent"), F.col("b").alias("consequent"), "n_ab"
    ).union(
        pairs.select(F.col("b").alias("antecedent"), F.col("a").alias("consequent"), "n_ab")
    )
    rules = directed.join(
        pc.select(F.col("pk").alias("antecedent"), "n_pk"), "antecedent"
    ).select(
        "antecedent",
        "consequent",
        F.round(F.col("n_ab").cast("double") / F.col("n_pk").cast("double"), 9)
        .cast("decimal(18,9)")
        .alias("conf"),
    )
    o = load_table(spark, sf_dir, "orders").where(F.col("o_custkey") < REC_CUSTS)
    owned = scoped_persist(
        o.join(
            load_table(spark, sf_dir, "lineitem"),
            o["o_orderkey"] == F.col("l_orderkey"),
        )
        .select(F.col("o_custkey").alias("ck"), F.col("l_partkey").alias("pk"))
        .distinct()
    )
    cand = owned.join(rules, owned["pk"] == rules["antecedent"]).select(
        "ck", "consequent", "conf"
    )
    held = owned.select("ck", F.col("pk").alias("consequent"))
    scored = (
        cand.join(held, ["ck", "consequent"], "left_anti")
        .groupBy("ck", "consequent")
        .agg(
            F.sum("conf").alias("score_dec"),
            F.count(F.lit(1)).cast("bigint").alias("n_antecedents"),
        )
    )
    w = Window.partitionBy("ck").orderBy(F.col("score_dec").desc(), "consequent")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= REC_TOPN)
        .select(
            F.col("ck").alias("custkey"),
            F.col("consequent").alias("rec_part"),
            F.col("score_dec").cast("double").alias("score"),
            "n_antecedents",
        )
        .orderBy("custkey", F.col("score").desc(), "rec_part")
    )
