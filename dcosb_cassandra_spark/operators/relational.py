"""Relational-analytics layer (SURVEY.md §2.B): joins in all flavors, set
ops, subqueries, pivot, sampling. Cassandra itself cannot join — clients and
the Spark connector do (BASELINE.json north star prescribes exactly this
division) — so these are Spark-idiomatic, oracle-checked supersets.

Scale notes: every join declares broadcast-vs-shuffle intent. Dim joins
(region/nation/supplier, literal band tables) broadcast; fact-fact joins
shuffle once on their equi-key. The as-of join deliberately avoids the
O(n·m) range join: it is the union+window sort-merge pattern, which scales
as one shuffle + one per-key ordered scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import register_views, table
from ..registry import query
from ..session import local_frame


@query(
    "b01_broadcast_join_dims",
    oracle="""
        SELECT r.r_name, count(*) AS n_suppliers, round(sum(s.s_acctbal), 2) AS total_bal
        FROM supplier s
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
    """,
    tags=("B1", "P0"),
)
def b01_broadcast_join_dims(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-schema dim chain, broadcast end-to-end: zero shuffles for the
    joins (only the final 5-group agg exchanges)."""
    s = table(spark, sf_dir, "supplier")
    n = table(spark, sf_dir, "nation")
    r = table(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_suppliers"), F.round(F.sum("s_acctbal"), 2).alias("total_bal"))
    )


@query(
    "b02_shuffle_join_facts",
    oracle="""
        SELECT o.o_orderstatus, count(*) AS n_lines,
               round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY o.o_orderstatus
    """,
    tags=("B2", "P0"),
)
def b02_shuffle_join_facts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact⋈fact: both sides shuffle once on orderkey (co-partitioned SMJ or
    AQE-switched broadcast at small SF). At 100 TB, bucketing both tables by
    orderkey would remove this exchange entirely — documented in SCALE.md."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    return (
        l.join(o, l.l_orderkey == o.o_orderkey)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
        )
    )


@query(
    "b03_left_outer_join",
    oracle="""
        SELECT c.c_custkey, c.c_name, count(o.o_orderkey) AS n_orders,
               round(coalesce(sum(o.o_totalprice), 0), 2) AS spend
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey, c.c_name
    """,
    tags=("B3", "P0"),
)
def b03_left_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER: customers kept with zero orders (count(col) skips nulls
    on both engines)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey", "c_name")
        .agg(
            F.count("o_orderkey").alias("n_orders"),
            F.round(F.coalesce(F.sum("o_totalprice"), F.lit(0.0)), 2).alias("spend"),
        )
    )


@query(
    "b03b_full_outer_join",
    oracle="""
        WITH s AS (SELECT s_nationkey AS nk, count(*) AS n_supp FROM supplier GROUP BY s_nationkey),
             c AS (SELECT c_nationkey AS nk, count(*) AS n_cust FROM customer GROUP BY c_nationkey)
        SELECT coalesce(s.nk, c.nk) AS nationkey,
               coalesce(s.n_supp, 0) AS n_supp, coalesce(c.n_cust, 0) AS n_cust
        FROM s FULL OUTER JOIN c ON s.nk = c.nk
    """,
    tags=("B3", "P1"),
)
def b03b_full_outer_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER over two pre-aggregated sides. Pre-aggregating before the
    outer join is the scale pattern: the join inputs shrink from |rows| to
    |keys| before any exchange."""
    s = (
        table(spark, sf_dir, "supplier")
        .groupBy(F.col("s_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_supp"))
    )
    c = (
        table(spark, sf_dir, "customer")
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(F.count(F.lit(1)).alias("n_cust"))
    )
    return (
        s.join(c, "nk", "full")
        .select(
            F.col("nk").alias("nationkey"),
            F.coalesce("n_supp", F.lit(0)).alias("n_supp"),
            F.coalesce("n_cust", F.lit(0)).alias("n_cust"),
        )
    )


@query(
    "b04_semi_join",
    oracle="""
        SELECT count(*) AS n FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("B4", "P0"),
)
def b04_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXISTS as left_semi (anti twin is headline antijoin_custs_no_orders)."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders").select("o_custkey")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").agg(F.count(F.lit(1)).alias("n"))


@query(
    "b05_range_band_join",
    oracle="""
        SELECT b.band, count(*) AS n, round(sum(l.l_extendedprice), 2) AS total
        FROM lineitem l
        JOIN (VALUES ('low', 0.0, 17.0), ('mid', 17.0, 34.0), ('high', 34.0, 51.0))
             AS b(band, lo, hi)
          ON l.l_quantity >= b.lo AND l.l_quantity < b.hi
        GROUP BY b.band
    """,
    tags=("B5", "P1"),
)
def b05_range_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta/range join against a literal band table. The band side is a
    3-row broadcast → plans as BroadcastNestedLoopJoin, which is the correct
    physical strategy when the inner side is tiny; never a shuffle."""
    l = table(spark, sf_dir, "lineitem")
    bands = local_frame(
        spark,
        [("low", 0.0, 17.0), ("mid", 17.0, 34.0), ("high", 34.0, 51.0)],
        "band STRING, lo DOUBLE, hi DOUBLE",
    )
    return (
        l.join(F.broadcast(bands), (l.l_quantity >= bands.lo) & (l.l_quantity < bands.hi))
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("l_extendedprice"), 2).alias("total"))
    )


@query(
    "b06_asof_join",
    oracle="""
        SELECT p.event_id, p.user_id, p.ts, c.ts AS last_click_ts
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND c.ts <= p.ts
    """,
    tags=("B6", "P1"),
)
def b06_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (latest click at-or-before each purchase, per user) via the
    union+window sort-merge idiom: tag both streams, union, per-user ordered
    scan carrying the last click ts forward. ONE shuffle on user_id and a
    per-key sort — O(n log n), vs the O(n·m) naive range join. This is the
    100 TB-safe as-of pattern (same plan shape Flink/kdb use).

    Tie semantics: clicks sort before purchases at equal ts (type_rank), so
    `c.ts <= p.ts` matches DuckDB ASOF exactly."""
    e = table(spark, sf_dir, "events")
    tagged = e.filter(F.col("event_type").isin("click", "purchase")).select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        F.when(F.col("event_type") == "click", 0).otherwise(1).alias("type_rank"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "type_rank", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    click_ts = F.last(F.when(F.col("type_rank") == 0, F.col("ts")), ignorenulls=True).over(w)
    return (
        tagged.withColumn("last_click_ts", click_ts)
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts", "last_click_ts")
    )


@query(
    "b07_cross_join",
    oracle="""
        SELECT r.r_name, n.n_name FROM region r CROSS JOIN nation n
    """,
    tags=("B7", "P1"),
)
def b07_cross_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit cross join (dim×dim only — the engine's rule: cross joins
    allowed only when one side is broadcast-small; all-pairs similarity goes
    through LSH instead, SURVEY D4)."""
    r = table(spark, sf_dir, "region")
    n = table(spark, sf_dir, "nation")
    return r.crossJoin(F.broadcast(n)).select("r_name", "n_name")


@query(
    "b08_self_join",
    oracle="""
        SELECT a.n_name AS nation_a, b.n_name AS nation_b, a.n_regionkey AS rk
        FROM nation a JOIN nation b
          ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
    tags=("B8", "P1"),
)
def b08_self_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join: unordered same-region nation pairs (the `a<b` dedup idiom
    every pairwise-similarity operator reuses)."""
    n = table(spark, sf_dir, "nation")
    a = n.alias("a")
    b = n.alias("b")
    return a.join(
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
    ).select(
        F.col("a.n_name").alias("nation_a"),
        F.col("b.n_name").alias("nation_b"),
        F.col("a.n_regionkey").alias("rk"),
    )


@query(
    "b11_approx_count_distinct",
    oracle="""
        SELECT event_type, count(DISTINCT user_id) AS exact_u,
               true AS within_5pct
        FROM events GROUP BY event_type
    """,
    tags=("B11", "P1"),
)
def b11_approx_count_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL approximate distinct. The sketch value is engine-specific, so
    the oracle checks the checkable contract instead: the exact distinct
    count (computed on both engines) plus the invariant that the HLL
    estimate (rsd=0.02) lands within 5% of it. At 100 TB the sketch is
    the only sane distinct-cardinality operator: mergeable, no shuffle of
    raw values — and this query proves its error bound, not just its
    shape."""
    e = table(spark, sf_dir, "events")
    return (
        e.groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("exact_u"),
            F.approx_count_distinct("user_id", 0.02).alias("approx_u"),
        )
        .select(
            "event_type",
            "exact_u",
            (F.abs(F.col("approx_u") - F.col("exact_u")) <= 0.05 * F.col("exact_u"))
            .alias("within_5pct"),
        )
    )


@query(
    "b12b_cube",
    oracle="""
        SELECT o_orderstatus, o_orderpriority, count(*) AS n,
               round(sum(o_totalprice), 2) AS total
        FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
    tags=("B12", "P1"),
)
def b12b_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE (rollup twin is headline cube_rollup). Catalyst Expand ×4
    grouping sets with partial aggregation — fact scanned once."""
    o = table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"), F.round(F.sum("o_totalprice"), 2).alias("total")
    )


@query(
    "b16_multi_col_sort",
    oracle="""
        SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate
        FROM orders
        ORDER BY o_orderstatus ASC, o_totalprice DESC, o_orderkey ASC
        LIMIT 50
    """,
    tags=("B16", "B17", "P0"),
)
def b16_multi_col_sort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column mixed-direction sort + limit → TakeOrderedAndProject
    (per-partition heaps, no global sort materialization)."""
    o = table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate")
        .orderBy(F.asc("o_orderstatus"), F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(50)
    )


@query(
    "b19_union_ops",
    oracle="""
        SELECT nk, count(*) AS n FROM (
            SELECT s_nationkey AS nk FROM supplier
            UNION ALL
            SELECT c_nationkey AS nk FROM customer
        ) GROUP BY nk
    """,
    tags=("B19", "P0"),
)
def b19_union_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL by name — no shuffle for the union itself (partition
    concatenation); only the downstream agg exchanges."""
    s = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk"))
    c = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk"))
    return s.unionByName(c).groupBy("nk").agg(F.count(F.lit(1)).alias("n"))


@query(
    "b20_intersect_except",
    oracle="""
        WITH supp_n AS (SELECT DISTINCT s_nationkey AS nk FROM supplier),
             cust_n AS (SELECT DISTINCT c_nationkey AS nk FROM customer)
        SELECT 'both' AS which, nk FROM (SELECT nk FROM supp_n INTERSECT SELECT nk FROM cust_n)
        UNION ALL
        SELECT 'cust_only' AS which, nk FROM (SELECT nk FROM cust_n EXCEPT SELECT nk FROM supp_n)
    """,
    tags=("B20", "P1"),
)
def b20_intersect_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT (distinct set semantics)."""
    supp_n = table(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nk")).distinct()
    cust_n = table(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nk")).distinct()
    both = supp_n.intersect(cust_n).select(F.lit("both").alias("which"), "nk")
    cust_only = cust_n.exceptAll(supp_n).select(F.lit("cust_only").alias("which"), "nk")
    return both.unionByName(cust_only)


@query(
    "b21_correlated_subquery",
    oracle="""
        SELECT c_nationkey, count(*) AS n_above
        FROM customer c1
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c1.c_nationkey)
        GROUP BY c_nationkey
    """,
    tags=("B21", "P1"),
)
def b21_correlated_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery via spark.sql — Catalyst decorrelates it
    into an aggregate+join (RewriteCorrelatedScalarSubquery), so the 100 TB
    plan is one shuffle on the correlation key, not a per-row subquery."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c_nationkey, count(*) AS n_above
        FROM customer c1
        WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer c2
                           WHERE c2.c_nationkey = c1.c_nationkey)
        GROUP BY c_nationkey
        """
    )


@query(
    "b22_explode_tokens",
    oracle="""
        SELECT token, count(*) AS n
        FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        GROUP BY token
        ORDER BY n DESC, token
        LIMIT 20
    """,
    tags=("B22", "D5", "P1"),
)
def b22_explode_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """explode (UDTF shape) → token frequency top-20. Explode multiplies
    rows ~15× before the agg; partial aggregation collapses it map-side, so
    the shuffle carries only distinct (token, partial-count) pairs."""
    d = table(spark, sf_dir, "documents")
    return (
        d.select(F.explode(F.split("text", " ")).alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("token"))
        .limit(20)
    )


@query(
    "b23_pivot",
    oracle="""
        SELECT lang,
               count(*) FILTER (WHERE source = 'src0') AS src0,
               count(*) FILTER (WHERE source = 'src1') AS src1,
               count(*) FILTER (WHERE source = 'src2') AS src2,
               count(*) FILTER (WHERE source = 'src3') AS src3,
               count(*) FILTER (WHERE source = 'src4') AS src4
        FROM documents GROUP BY lang
    """,
    tags=("B23", "P2"),
)
def b23_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot with an explicit value list (never the implicit distinct-scan
    form — at 100 TB the values pass would be a full extra job)."""
    d = table(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .pivot("source", ["src0", "src1", "src2", "src3", "src4"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["src0", "src1", "src2", "src3", "src4"])
    )


@query(
    "b24_sampling",
    oracle="""
        SELECT count(*) AS n_total,
               true AS fraction_within_2pct,
               true AS mean_within_5pct
        FROM lineitem
    """,
    tags=("B24", "P2"),
)
def b24_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded Bernoulli sample. Which rows land in the sample is
    engine-specific, so the oracle checks the statistical contract: the
    sampled fraction is within ±2 percentage points of the requested 10%,
    and the sample mean of l_quantity within 5% of the population mean —
    plus the exact population count on both engines."""
    l = table(spark, sf_dir, "lineitem")
    stats = l.agg(
        F.count(F.lit(1)).alias("n_total"), F.avg("l_quantity").alias("pop_avg")
    )
    samp = l.sample(fraction=0.1, seed=42).agg(
        F.count(F.lit(1)).alias("n_sampled"), F.avg("l_quantity").alias("samp_avg")
    )
    return stats.crossJoin(samp).select(
        "n_total",
        (F.abs(F.col("n_sampled") / F.col("n_total") - 0.1) <= 0.02)
        .alias("fraction_within_2pct"),
        (F.abs(F.col("samp_avg") - F.col("pop_avg")) <= 0.05 * F.col("pop_avg"))
        .alias("mean_within_5pct"),
    )


@query(
    "b09b_salted_aggregate",
    oracle="""
        SELECT event_type, count(*) AS n, round(sum(value), 4) AS total
        FROM events GROUP BY event_type
    """,
    tags=("B9", "P1", "skew"),
)
def b09b_salted_aggregate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salting recipe for skewed keys (SURVEY §2 scale rules): stage 1
    groups on (key, salt) — spreading one hot key over 16 reducers — then
    stage 2 merges the partials. Result is provably identical to the plain
    groupBy (the oracle IS the plain form); sums are re-rounded only at the
    final merge. event_type has only 5 values = maximal skew per key, the
    exact shape that melts a single reducer at 100 TB."""
    e = table(spark, sf_dir, "events")
    salted = e.withColumn("_salt", (F.col("event_id") % 16).cast("int"))
    partial = salted.groupBy("event_type", "_salt").agg(
        F.count(F.lit(1)).alias("pn"), F.sum("value").alias("pv")
    )
    return partial.groupBy("event_type").agg(
        F.sum("pn").alias("n"), F.round(F.sum("pv"), 4).alias("total")
    )


@query(
    "b16b_null_ordering",
    oracle="""
        SELECT c.c_custkey, max(o.o_orderdate) AS last_order
        FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_custkey
        ORDER BY last_order DESC NULLS LAST, c.c_custkey
        LIMIT 40
    """,
    tags=("B16", "P1"),
)
def b16b_null_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit NULLS LAST ordering under a LIMIT — engines default
    differently (FIXTURES.md gotcha), so null placement must be declared on
    both sides whenever nulls can reach a sort that feeds a limit."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.max("o_orderdate").alias("last_order"))
        .orderBy(F.desc_nulls_last("last_order"), F.asc("c_custkey"))
        .limit(40)
    )


@query(
    "b09c_having",
    oracle="""
        SELECT l_suppkey, count(*) AS n_lines, round(sum(l_quantity), 2) AS total_qty
        FROM lineitem
        GROUP BY l_suppkey
        HAVING count(*) > 620 AND sum(l_quantity) > 14000
    """,
    tags=("B9", "P1"),
)
def b09c_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING (post-aggregation filter) — Catalyst plans it as a filter above
    the final aggregate, so it never blocks partial aggregation."""
    l = table(spark, sf_dir, "lineitem")
    return (
        l.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("n_lines"), F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .filter((F.col("n_lines") > 620) & (F.col("total_qty") > 14000))
    )


@query(
    "b09d_count_histogram",
    oracle="""
        SELECT n_orders, count(*) AS n_customers FROM (
            SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
            FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
            GROUP BY c.c_custkey
        ) GROUP BY n_orders
    """,
    tags=("B9", "B3", "P1"),
)
def b09d_count_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of per-customer order counts (count of
    counts). Two cascaded aggregations — the second is tiny (distinct count
    values), so the heavy shuffle happens exactly once."""
    c = table(spark, sf_dir, "customer")
    o = table(spark, sf_dir, "orders")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))
    )
    return per_cust.groupBy("n_orders").agg(F.count(F.lit(1)).alias("n_customers"))


@query(
    "b14b_nth_value",
    oracle="""
        SELECT user_id,
               max(CASE WHEN rn = 2 THEN event_id END) AS second_event,
               max(CASE WHEN rn = 2 THEN ts END)       AS second_ts
        FROM (
            SELECT user_id, event_id, ts,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
            FROM events
        ) GROUP BY user_id
    """,
    tags=("B14", "P1"),
)
def b14b_nth_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nth_value (second event per user) — the 'onboarding second touch'
    query; expressed via nth_value over the full frame, reduced per key."""
    e = table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        e.select(
            "user_id",
            F.nth_value("event_id", 2).over(w).alias("second_event"),
            F.nth_value("ts", 2).over(w).alias("second_ts"),
        )
        .groupBy("user_id")
        .agg(
            F.max("second_event").alias("second_event"),
            F.max("second_ts").alias("second_ts"),
        )
    )


@query(
    "b02b_salted_join",
    oracle="""
        WITH dim AS (
            SELECT user_id, min(ts) AS first_seen FROM events GROUP BY user_id
        )
        SELECT e.user_id, count(*) AS n, round(sum(e.value), 4) AS total,
               min(d.first_seen) AS first_seen
        FROM events e JOIN dim d ON e.user_id = d.user_id
        GROUP BY e.user_id
    """,
    tags=("B2", "B9", "P1", "skew"),
)
def b02b_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted-join recipe for skewed keys (SURVEY §2 scale rules, the join
    sibling of b09b's salted aggregate): the fact side adds a deterministic
    salt in [0, N), the dim side replicates ×N with every salt, and the
    join key becomes (user_id, salt) — a hot user's rows now land on N
    reducers instead of one. The result is provably identical to the
    unsalted join (the oracle IS the plain join), which is the point: the
    recipe changes the partitioning, never the semantics. At 100 TB this
    is the manual fallback where AQE's skew-split can't help (e.g.
    skewed-key aggregation after the join needs the spread too)."""
    n_salts = 8
    e = table(spark, sf_dir, "events")
    dim = e.groupBy("user_id").agg(F.min("ts").alias("first_seen"))
    salted_fact = e.withColumn("salt", F.pmod(F.xxhash64("event_id"), F.lit(n_salts)))
    salted_dim = dim.withColumn(
        "salt", F.explode(F.array(*[F.lit(i).cast("long") for i in range(n_salts)]))
    )
    return (
        salted_fact.join(salted_dim, ["user_id", "salt"])
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 4).alias("total"),
            F.min("first_seen").alias("first_seen"),
        )
    )


@query(
    "b32_zorder_layout_eval",
    oracle="""
        -- Z-order (Morton) key: bit-interleave 16 bits of custkey with
        -- 16 bits of days-since-epoch-start; compare per-file key spans
        -- of a 32-file Z-ordered layout vs a hash layout. Integer-only
        -- math end to end (bit ops, `//` division, exact int avg).
        WITH base AS (
            SELECT o_orderkey,
                   CAST(o_custkey AS BIGINT) AS ck,
                   CAST(date_diff('day', DATE '1995-01-01',
                                  CAST(o_orderdate AS DATE)) AS BIGINT) AS dk
            FROM orders
        ),
        keyed AS (
            SELECT o_orderkey, ck, dk,
                   (((ck >> 0) & 1) << 0) | (((dk >> 0) & 1) << 1)
                 | (((ck >> 1) & 1) << 2) | (((dk >> 1) & 1) << 3)
                 | (((ck >> 2) & 1) << 4) | (((dk >> 2) & 1) << 5)
                 | (((ck >> 3) & 1) << 6) | (((dk >> 3) & 1) << 7)
                 | (((ck >> 4) & 1) << 8) | (((dk >> 4) & 1) << 9)
                 | (((ck >> 5) & 1) << 10) | (((dk >> 5) & 1) << 11)
                 | (((ck >> 6) & 1) << 12) | (((dk >> 6) & 1) << 13)
                 | (((ck >> 7) & 1) << 14) | (((dk >> 7) & 1) << 15)
                 | (((ck >> 8) & 1) << 16) | (((dk >> 8) & 1) << 17)
                 | (((ck >> 9) & 1) << 18) | (((dk >> 9) & 1) << 19)
                 | (((ck >> 10) & 1) << 20) | (((dk >> 10) & 1) << 21)
                 | (((ck >> 11) & 1) << 22) | (((dk >> 11) & 1) << 23)
                 | (((ck >> 12) & 1) << 24) | (((dk >> 12) & 1) << 25)
                 | (((ck >> 13) & 1) << 26) | (((dk >> 13) & 1) << 27)
                 | (((ck >> 14) & 1) << 28) | (((dk >> 14) & 1) << 29)
                 | (((ck >> 15) & 1) << 30) | (((dk >> 15) & 1) << 31)
                       AS zkey,
                   (instr('0123456789abcdef',
                          substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 1)) * 16
                    + instr('0123456789abcdef',
                            substr(md5(CAST(o_orderkey AS VARCHAR)), 2, 1))
                    - 17) % 32 AS hash_file
            FROM base
        ),
        zmax AS (SELECT max(zkey) AS zm FROM keyed),
        assigned AS (
            SELECT 'zorder' AS layout,
                   least(31, (zkey * 32) // (zm + 1)) AS file_id, ck, dk
            FROM keyed, zmax
            UNION ALL
            SELECT 'hash', hash_file, ck, dk FROM keyed
        ),
        spans AS (
            SELECT layout, file_id,
                   max(ck) - min(ck) AS ck_span,
                   max(dk) - min(dk) AS dk_span
            FROM assigned GROUP BY layout, file_id
        )
        SELECT layout, CAST(count(*) AS BIGINT) AS n_files,
               round(avg(ck_span), 6) AS avg_custkey_span,
               round(avg(dk_span), 6) AS avg_day_span
        FROM spans GROUP BY layout
    """,
    tags=("B32", "B16", "P1"),
)
def b32_zorder_layout_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-layout clustering evaluation: Z-order (Morton) interleave of
    (custkey, order-day) vs a hash layout, 32 files each, reporting the
    average per-file key span on BOTH dimensions. Z-ordering keeps both
    spans small simultaneously — the property that lets min/max file
    statistics prune scans on either predicate column; the hash layout's
    spans cover the whole domain (no pruning). This is the
    OPTIMIZE-ZORDER decision metric for laying out a 100 TB table.

    Scale: the Morton key is 64 codegen'd bit operations per row (no
    join); file assignment needs only the 1-row global max (bounded
    broadcast); span stats are one partial-aggregatable groupBy on
    (layout, file). Exact integer math end to end — both engines agree
    bit-for-bit."""
    from ..functions.zorder import morton_interleave

    o = table(spark, sf_dir, "orders")
    ck = F.col("o_custkey").cast("bigint")
    dk = F.datediff(
        F.to_date("o_orderdate"), F.lit("1995-01-01").cast("date")
    ).cast("bigint")
    zkey = morton_interleave(ck, dk, 16)
    hb = F.conv(F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 2), 16, 10)
    keyed = o.select(
        ck.alias("ck"),
        dk.alias("dk"),
        zkey.alias("zkey"),
        F.pmod(hb.cast("bigint"), F.lit(32)).alias("hash_file"),
    )
    zmax = keyed.agg(F.max("zkey").alias("zm"))
    zfiles = (
        keyed.crossJoin(F.broadcast(zmax))
        .select(
            F.lit("zorder").alias("layout"),
            F.least(F.lit(31), F.expr("(zkey * 32) div (zm + 1)")).alias("file_id"),
            "ck",
            "dk",
        )
    )
    hfiles = keyed.select(
        F.lit("hash").alias("layout"), F.col("hash_file").alias("file_id"), "ck", "dk"
    )
    spans = (
        zfiles.unionByName(hfiles)
        .groupBy("layout", "file_id")
        .agg(
            (F.max("ck") - F.min("ck")).alias("ck_span"),
            (F.max("dk") - F.min("dk")).alias("dk_span"),
        )
    )
    return spans.groupBy("layout").agg(
        F.count(F.lit(1)).alias("n_files"),
        F.round(F.avg("ck_span"), 6).alias("avg_custkey_span"),
        F.round(F.avg("dk_span"), 6).alias("avg_day_span"),
    )


@query(
    "b33_cohort_retention",
    oracle="""
        -- classic cohort-retention matrix: users grouped by first-seen
        -- ISO week; per (cohort, age-in-weeks) distinct-active share
        WITH first_seen AS (
            SELECT user_id,
                   CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS active_week
            FROM events
        ),
        cohort_sizes AS (
            SELECT cohort_week, count(*) AS cohort_size
            FROM first_seen GROUP BY cohort_week
        ),
        cells AS (
            SELECT f.cohort_week,
                   date_diff('day', f.cohort_week, a.active_week) // 7
                       AS age_weeks,
                   count(DISTINCT a.user_id) AS n_active
            FROM activity a JOIN first_seen f ON f.user_id = a.user_id
            GROUP BY 1, 2
        )
        SELECT c.cohort_week, CAST(c.age_weeks AS BIGINT) AS age_weeks,
               CAST(c.n_active AS BIGINT) AS n_active,
               CAST(s.cohort_size AS BIGINT) AS cohort_size,
               round(c.n_active * 1.0 / s.cohort_size, 6) AS retention
        FROM cells c JOIN cohort_sizes s ON s.cohort_week = c.cohort_week
    """,
    tags=("B33", "B10", "C1", "P1"),
)
def b33_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort-retention matrix: users bucketed by first-seen ISO week,
    each cell = the share of that cohort active N weeks later — the
    product-analytics workhorse the C-layer windows don't cover (it pivots
    on USER FIRST-SEEN, not event time alone).

    Scale: first-seen is one partial-aggregatable groupBy on user_id;
    activity dedup is a distinct on (user, week) — same shuffle key; the
    cells join is user-keyed (co-partitioned with both aggregates), and
    cohort sizes are a week-cardinality table joined at the end. Nothing
    shuffles event-cardinality data more than once."""
    e = table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    cohort_sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cells = (
        activity.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(active_week, cohort_week) div 7").alias("age_weeks"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    return cells.join(F.broadcast(cohort_sizes), "cohort_week").select(
        "cohort_week",
        "age_weeks",
        "n_active",
        "cohort_size",
        F.round(F.col("n_active") / F.col("cohort_size"), 6).alias("retention"),
    )


@query(
    "b35_touch_attribution",
    oracle="""
        -- first/last-touch attribution: each purchase credited to the
        -- earliest and latest click/view touch in its preceding 24h;
        -- deterministic channel pick via a zero-padded (epoch-us |
        -- channel) string key, lexicographically min/max on both engines
        WITH touches AS (
            SELECT user_id, ts, event_type AS channel FROM events
            WHERE event_type IN ('click', 'view')
        ),
        purchases AS (
            SELECT event_id, user_id, ts FROM events
            WHERE event_type = 'purchase'
        ),
        joined AS (
            SELECT p.event_id,
                   lpad(CAST(epoch_us(t.ts) AS VARCHAR), 20, '0')
                       || '|' || t.channel AS k
            FROM purchases p JOIN touches t
              ON t.user_id = p.user_id
             AND t.ts <= p.ts
             AND t.ts > p.ts - INTERVAL 24 HOURS
        ),
        attributed AS (
            SELECT event_id,
                   substr(min(k), 22) AS first_channel,
                   substr(max(k), 22) AS last_channel
            FROM joined GROUP BY event_id
        )
        SELECT first_channel, last_channel,
               CAST(count(*) AS BIGINT) AS n_purchases,
               round(count(*) * 1.0 / sum(count(*)) OVER (), 6) AS share
        FROM attributed GROUP BY first_channel, last_channel
    """,
    tags=("B35", "B5", "B13", "P1"),
)
def b35_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marketing-style touch attribution: every purchase is credited to
    the FIRST and LAST click/view touch in its preceding 24 hours; output
    is the (first-channel x last-channel) mix with shares. The channel
    pick rides a zero-padded (epoch-micros | channel) string key so min/
    max is lexicographic — bit-identical across engines even on timestamp
    ties.

    Scale: the purchase-touch pairing is a user-keyed range join (the B5
    shape) whose time bound caps pairs per purchase at touches-per-24h;
    attribution collapses pairs in ONE partial-aggregatable min/max
    groupBy on the purchase id; the final mix table is
    |channels|^2-bounded (the OVER () share runs on those few rows)."""
    e = table(spark, sf_dir, "events")
    touches = e.filter(F.col("event_type").isin("click", "view")).select(
        "user_id",
        F.col("ts").alias("t_ts"),
        F.col("event_type").alias("channel"),
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("p_ts")
    )
    k = F.concat(
        F.lpad(F.unix_micros(F.col("t_ts")).cast("string"), 20, "0"),
        F.lit("|"),
        F.col("channel"),
    )
    joined = purchases.join(
        touches,
        (touches.user_id == purchases.user_id)
        & (F.col("t_ts") <= F.col("p_ts"))
        & (F.col("t_ts") > F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
    ).select("event_id", k.alias("k"))
    attributed = joined.groupBy("event_id").agg(
        F.substring(F.min("k"), 22, 64).alias("first_channel"),
        F.substring(F.max("k"), 22, 64).alias("last_channel"),
    )
    mix = attributed.groupBy("first_channel", "last_channel").agg(
        F.count(F.lit(1)).alias("n_purchases")
    )
    # total via 1-row aggregate crossJoin, not a global window — an empty
    # Window.partitionBy() moves the (|channels|²-bounded, but still) mix
    # table to a single partition and trips the WindowExec warning
    total = mix.agg(F.sum("n_purchases").alias("_total"))
    return mix.crossJoin(F.broadcast(total)).select(
        "first_channel",
        "last_channel",
        "n_purchases",
        F.round(F.col("n_purchases") / F.col("_total"), 6).alias("share"),
    )


@query(
    "b36_rolling_dau",
    oracle="""
        -- exact 7-day rolling distinct active users: COUNT(DISTINCT) has
        -- no sliding-window form in any engine, so each (day, user) pair
        -- votes into the 7 windows that end on days d..d+6 (offset
        -- explode), and each window counts its distinct voters once.
        WITH pairs AS (
            SELECT DISTINCT
                   CAST(date_diff('day', DATE '2024-01-01',
                                  CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
                       AS day_num,
                   user_id
            FROM events
        ),
        bounds AS (SELECT max(day_num) AS max_day FROM pairs),
        votes AS (
            SELECT p.day_num + o.off AS window_end, p.user_id
            FROM pairs p
            CROSS JOIN (VALUES (0), (1), (2), (3), (4), (5), (6)) AS o(off)
        )
        SELECT v.window_end,
               CAST(count(DISTINCT v.user_id) AS BIGINT) AS dau7
        FROM votes v, bounds b
        WHERE v.window_end BETWEEN 6 AND b.max_day
        GROUP BY v.window_end
    """,
    tags=("B36", "B10", "C2", "P1"),
)
def b36_rolling_dau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 7-day rolling distinct active users. Sliding COUNT(DISTINCT)
    cannot be expressed as a window function (distinct state doesn't
    retract), so this uses the offset-explode recipe: daily-distinct
    (day, user) pairs each vote into the 7 windows that end on days
    d..d+6, then one distinct aggregate per window end. Windows are
    emitted only where a full 7-day history exists.

    Scale: the input collapses to daily-distinct pairs FIRST (one
    event-cardinality shuffle); the explode multiplies the already-reduced
    pair set by exactly 7; the final distinct agg shuffles on window_end.
    The max-day bound is a 1-row broadcast. This beats re-scanning events
    7 times (the naive form) by the full event:pair reduction ratio."""
    e = table(spark, sf_dir, "events")
    pairs = e.select(
        F.datediff(
            F.date_trunc("day", F.col("ts")).cast("date"),
            F.lit("2024-01-01").cast("date"),
        ).cast("bigint").alias("day_num"),
        "user_id",
    ).distinct()
    bounds = pairs.agg(F.max("day_num").alias("max_day"))
    votes = pairs.select(
        "day_num", "user_id", F.explode(F.array(*[F.lit(i) for i in range(7)])).alias("off")
    ).select((F.col("day_num") + F.col("off")).alias("window_end"), "user_id")
    return (
        votes.crossJoin(F.broadcast(bounds))
        .filter((F.col("window_end") >= 6) & (F.col("window_end") <= F.col("max_day")))
        .groupBy("window_end")
        .agg(F.count_distinct("user_id").alias("dau7"))
    )


def merge_daily_sketches(daily: DataFrame) -> DataFrame:
    """(window_end, dau7_approx): 7-day rolling HLL merge over a
    (day_num, sk) daily-sketch frame — shared by the batch pipeline
    (b36b) and the streamed sink (c13) so the two are identical BY
    CONSTRUCTION, not by parallel evolution. Each day's sketch votes
    into the 7 windows ending on days d..d+6; windows emit only with a
    full 7-day history (1-row max-day broadcast bound)."""
    bounds = daily.agg(F.max("day_num").alias("max_day"))
    votes = daily.select(
        "day_num", "sk", F.explode(F.array(*[F.lit(i) for i in range(7)])).alias("off")
    ).select((F.col("day_num") + F.col("off")).alias("window_end"), "sk")
    return (
        votes.crossJoin(F.broadcast(bounds))
        .filter((F.col("window_end") >= 6) & (F.col("window_end") <= F.col("max_day")))
        .groupBy("window_end")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("dau7_approx"))
    )


@query("b36b_rolling_dau_hll", oracle=None, tags=("B36", "B11", "P1", "rows-only"))
def b36b_rolling_dau_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch-merged 7-day rolling distinct actives — the 100 TB form of
    b36. The exact offset-explode recipe multiplies the daily-distinct
    pair set by the window length; with 90-day windows over billions of
    users that blow-up dominates. HLL sketches make distinct state
    MERGEABLE: one partial-aggregated pass builds a fixed-size sketch per
    day (O(days × sketch_bytes) state, independent of user cardinality),
    and each window merges 7 sketches with hll_union_agg — so widening
    the window touches |days| more sketches, not |users| more rows.

    No SQL oracle: the estimate depends on Spark's Apache DataSketches
    binary format, which DuckDB cannot replay (rows-only driver check,
    like the MLlib twins). Accuracy is pytest-gated instead: estimates
    must sit within 5% of the exact b36 counts at both test SFs, far
    inside the ±1.6% standard error of the default lgConfigK=12 sketch.
    Window alignment (day numbering, the >=6 full-history cut, the 1-row
    max-day broadcast) is IDENTICAL to b36 by construction."""
    e = table(spark, sf_dir, "events")
    daily = (
        e.select(
            F.datediff(
                F.date_trunc("day", F.col("ts")).cast("date"),
                F.lit("2024-01-01").cast("date"),
            ).cast("bigint").alias("day_num"),
            "user_id",
        )
        .groupBy("day_num")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )
    return merge_daily_sketches(daily)


@query(
    "b37_funnel_conversion",
    oracle="""
        -- ordered 3-step funnel with per-step 48h caps: signup ->
        -- first click within 48h -> first purchase within 48h of that
        -- click. Each step is a min-aggregate over a user-keyed range
        -- join, so step timestamps (and therefore the counts) are exact.
        WITH s AS (
            SELECT user_id, min(ts) AS s_ts FROM events
            WHERE event_type = 'signup' GROUP BY user_id
        ),
        c AS (
            SELECT s.user_id, s.s_ts, min(e.ts) AS c_ts
            FROM s JOIN events e
              ON e.user_id = s.user_id AND e.event_type = 'click'
             AND e.ts > s.s_ts AND e.ts <= s.s_ts + INTERVAL 48 HOURS
            GROUP BY s.user_id, s.s_ts
        ),
        p AS (
            SELECT c.user_id, min(e.ts) AS p_ts
            FROM c JOIN events e
              ON e.user_id = c.user_id AND e.event_type = 'purchase'
             AND e.ts > c.c_ts AND e.ts <= c.c_ts + INTERVAL 48 HOURS
            GROUP BY c.user_id
        )
        SELECT (SELECT count(*) FROM s) AS n_signup,
               (SELECT count(*) FROM c) AS n_clicked,
               (SELECT count(*) FROM p) AS n_purchased,
               round((SELECT count(*) FROM c) * 1.0
                     / (SELECT count(*) FROM s), 6) AS step2_rate,
               round((SELECT count(*) FROM p) * 1.0
                     / (SELECT count(*) FROM s), 6) AS full_conv_rate
    """,
    tags=("B37", "B5", "B21", "P1"),
)
def b37_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered multi-step conversion funnel with per-step time caps:
    signup → first click within 48 h → first purchase within 48 h of that
    click. Unlike the session funnel (c3b, gap-based) the steps here are
    ORDER- and DEADLINE-constrained, which is the product-funnel question
    ("of users who signed up, how many converted within the window?").

    Scale: each step is a user-keyed range join followed by a min
    aggregate — pairs per user are capped by events-per-48h; the three
    step tables shrink monotonically; final counts are single-row
    aggregates. No window over raw events, no cross join."""
    e = table(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("e_ts")
    )
    c = (
        s.join(
            clicks,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("e_ts") > F.col("s_ts"))
            & (F.col("e_ts") <= F.col("s_ts") + F.expr("INTERVAL 48 HOURS")),
        )
        .groupBy("user_id", "s_ts")
        .agg(F.min("e_ts").alias("c_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("e_ts")
    )
    p = (
        c.join(
            purchases,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("e_ts") > F.col("c_ts"))
            & (F.col("e_ts") <= F.col("c_ts") + F.expr("INTERVAL 48 HOURS")),
        )
        .groupBy("user_id")
        .agg(F.min("e_ts").alias("p_ts"))
    )
    ns = s.agg(F.count(F.lit(1)).alias("n_signup"))
    nc = c.agg(F.count(F.lit(1)).alias("n_clicked"))
    np_ = p.agg(F.count(F.lit(1)).alias("n_purchased"))
    return (
        ns.crossJoin(nc)
        .crossJoin(np_)
        .select(
            "n_signup",
            "n_clicked",
            "n_purchased",
            F.round(F.col("n_clicked") / F.col("n_signup"), 6).alias("step2_rate"),
            F.round(F.col("n_purchased") / F.col("n_signup"), 6).alias(
                "full_conv_rate"
            ),
        )
    )


@query(
    "b39_join_skew_report",
    oracle="""
        -- pre-join skew assessment: per candidate join key, the
        -- cardinality / heaviest-key / skew-factor numbers that decide
        -- between plain shuffle join, AQE skew split, and manual salting
        WITH per_key AS (
            SELECT 'orders.o_custkey' AS join_key, o_custkey AS k,
                   count(*) AS cnt
            FROM orders GROUP BY o_custkey
            UNION ALL
            SELECT 'lineitem.l_orderkey', l_orderkey, count(*)
            FROM lineitem GROUP BY l_orderkey
            UNION ALL
            SELECT 'events.user_id', user_id, count(*)
            FROM events GROUP BY user_id
        )
        SELECT join_key,
               CAST(count(*) AS BIGINT) AS n_keys,
               CAST(sum(cnt) AS BIGINT) AS n_rows,
               CAST(max(cnt) AS BIGINT) AS max_per_key,
               round(avg(cnt), 6) AS mean_per_key,
               round(max(cnt) / avg(cnt), 4) AS skew_factor
        FROM per_key GROUP BY join_key
    """,
    tags=("B39", "B2", "B9", "P1"),
)
def b39_join_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-skew assessment: per candidate join key, distinct-key count,
    heaviest key, and skew factor (max/mean per-key rows) — the numbers
    that pick between a plain shuffle join, AQE's skew split, and the
    manual salting recipe (b02b). Run this BEFORE committing a 100 TB
    join strategy; a skew factor in the hundreds means one task gets the
    whole hot key.

    Scale: each key profile is one partial-aggregatable groupBy followed
    by a k-row summary — the report costs one pass per table and shuffles
    only (key, count) pairs."""
    o = table(spark, sf_dir, "orders")
    l = table(spark, sf_dir, "lineitem")
    e = table(spark, sf_dir, "events")
    parts = [
        o.groupBy(F.col("o_custkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("orders.o_custkey").alias("join_key"), "k", "cnt"),
        l.groupBy(F.col("l_orderkey").alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("lineitem.l_orderkey").alias("join_key"), "k", "cnt"),
        e.groupBy(F.col("user_id").alias("k"))
        .agg(F.count(F.lit(1)).alias("cnt"))
        .select(F.lit("events.user_id").alias("join_key"), "k", "cnt"),
    ]
    per_key = parts[0].unionByName(parts[1]).unionByName(parts[2])
    return per_key.groupBy("join_key").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("cnt").alias("n_rows"),
        F.max("cnt").alias("max_per_key"),
        F.round(F.avg("cnt"), 6).alias("mean_per_key"),
        F.round(F.max("cnt") / F.avg("cnt"), 4).alias("skew_factor"),
    )


@query(
    "b40_retention_decay_fit",
    oracle="""
        -- per-cohort exponential decay fit: OLS slope of ln(retention) on
        -- age_weeks over the b33 matrix; half-life from the rounded slope
        WITH first_seen AS (
            SELECT user_id,
                   CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
            FROM events GROUP BY user_id
        ),
        activity AS (
            SELECT DISTINCT user_id,
                   CAST(date_trunc('week', ts) AS DATE) AS active_week
            FROM events
        ),
        cohort_sizes AS (
            SELECT cohort_week, count(*) AS cohort_size
            FROM first_seen GROUP BY cohort_week
        ),
        cells AS (
            SELECT f.cohort_week,
                   date_diff('day', f.cohort_week, a.active_week) // 7
                       AS age_weeks,
                   count(DISTINCT a.user_id) AS n_active
            FROM activity a JOIN first_seen f ON f.user_id = a.user_id
            GROUP BY 1, 2
        ),
        ret AS (
            SELECT c.cohort_week, c.age_weeks,
                   c.n_active * 1.0 / s.cohort_size AS r
            FROM cells c JOIN cohort_sizes s ON s.cohort_week = c.cohort_week
        ),
        fit AS (
            SELECT cohort_week, CAST(count(*) AS BIGINT) AS n_points,
                   round(covar_pop(age_weeks, ln(r))
                         / var_pop(age_weeks), 5) AS decay_slope
            FROM ret GROUP BY cohort_week HAVING count(*) >= 3
        )
        SELECT cohort_week, n_points, decay_slope,
               CASE WHEN decay_slope < 0
                    THEN round(-ln(2) / decay_slope, 4) END AS half_life_weeks
        FROM fit
    """,
    tags=("B40", "B33", "B9", "P1"),
)
def b40_retention_decay_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention decay-rate fit: per cohort, the OLS slope of
    ln(retention) on age-in-weeks over the b33 matrix — the one number
    ("are newer cohorts churning faster?") product teams track instead of
    eyeballing the matrix — plus the implied half-life in weeks. The
    half-life derives from the ALREADY-ROUNDED slope so the division is
    bit-identical across engines (float-fold posture, SURVEY §5.2(4)).

    Scale: everything reuses b33's shape (user-keyed aggregates, one
    event-cardinality shuffle); the regression is a covar_pop/var_pop
    aggregate over the |cohorts × weeks|-bounded matrix."""
    e = table(spark, sf_dir, "events")
    first_seen = e.groupBy("user_id").agg(
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    )
    activity = e.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("active_week")
    ).distinct()
    cohort_sizes = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    cells = (
        activity.join(first_seen, "user_id")
        .groupBy(
            "cohort_week",
            F.expr("datediff(active_week, cohort_week) div 7").alias("age_weeks"),
        )
        .agg(F.count_distinct("user_id").alias("n_active"))
    )
    ret = cells.join(F.broadcast(cohort_sizes), "cohort_week").select(
        "cohort_week",
        "age_weeks",
        (F.col("n_active") / F.col("cohort_size")).alias("r"),
    )
    fit = (
        ret.groupBy("cohort_week")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.round(
                F.covar_pop("age_weeks", F.log("r")) / F.var_pop("age_weeks"), 5
            ).alias("decay_slope"),
        )
        .filter(F.col("n_points") >= 3)
    )
    return fit.select(
        "cohort_week",
        "n_points",
        "decay_slope",
        F.when(
            F.col("decay_slope") < 0,
            F.round(-F.log(F.lit(2.0)) / F.col("decay_slope"), 4),
        ).alias("half_life_weeks"),
    )


@query(
    "b41_funnel_latency_percentiles",
    oracle="""
        -- time-to-convert distribution per funnel stage (b37's steps):
        -- exact integer microsecond delays, interpolated percentiles
        WITH s AS (
            SELECT user_id, min(ts) AS s_ts FROM events
            WHERE event_type = 'signup' GROUP BY user_id
        ),
        c AS (
            SELECT s.user_id, s.s_ts, min(e.ts) AS c_ts
            FROM s JOIN events e
              ON e.user_id = s.user_id AND e.event_type = 'click'
             AND e.ts > s.s_ts AND e.ts <= s.s_ts + INTERVAL 48 HOUR
            GROUP BY s.user_id, s.s_ts
        ),
        p AS (
            SELECT c.user_id, c.c_ts, min(e.ts) AS p_ts
            FROM c JOIN events e
              ON e.user_id = c.user_id AND e.event_type = 'purchase'
             AND e.ts > c.c_ts AND e.ts <= c.c_ts + INTERVAL 48 HOUR
            GROUP BY c.user_id, c.c_ts
        ),
        delays AS (
            SELECT 'signup_to_click' AS stage,
                   epoch_us(c_ts) - epoch_us(s_ts) AS d_us FROM c
            UNION ALL
            SELECT 'click_to_purchase',
                   epoch_us(p_ts) - epoch_us(c_ts) FROM p
        )
        SELECT stage, count(*) AS n_users,
               round(quantile_cont(d_us, 0.5) / 3600e6, 4) AS p50_hours,
               round(quantile_cont(d_us, 0.9) / 3600e6, 4) AS p90_hours,
               round(avg(d_us) / 3600e6, 4) AS mean_hours
        FROM delays GROUP BY stage
    """,
    tags=("B41", "B37", "B11", "P1"),
)
def b41_funnel_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel latency distribution: p50/p90/mean time-to-convert for each
    b37 stage — the 'how fast do users move' half of the funnel question
    (b37 answers 'how many'). Delays are exact integer microsecond
    differences, so the percentile interpolation arithmetic is identical
    on both engines (integer inputs < 2⁵³ interpolate exactly in
    doubles); the hour conversion happens once at output.

    Scale: b37's step joins unchanged (user-keyed range joins with
    48-hour caps bounding the pair fan-out); the percentile aggregate
    runs over the per-user step tables, which shrink monotonically down
    the funnel."""
    e = table(spark, sf_dir, "events")
    s = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min("ts").alias("s_ts"))
    )
    clicks = e.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("c_user"), F.col("ts").alias("e_ts")
    )
    c = (
        s.join(
            clicks,
            (F.col("c_user") == F.col("user_id"))
            & (F.col("e_ts") > F.col("s_ts"))
            & (F.col("e_ts") <= F.col("s_ts") + F.expr("INTERVAL 48 HOURS")),
        )
        .groupBy("user_id", "s_ts")
        .agg(F.min("e_ts").alias("c_ts"))
    )
    purchases = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("e_ts")
    )
    p = (
        c.join(
            purchases,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("e_ts") > F.col("c_ts"))
            & (F.col("e_ts") <= F.col("c_ts") + F.expr("INTERVAL 48 HOURS")),
        )
        .groupBy("user_id", "c_ts")
        .agg(F.min("e_ts").alias("p_ts"))
    )
    d1 = c.select(
        F.lit("signup_to_click").alias("stage"),
        (F.unix_micros("c_ts") - F.unix_micros("s_ts")).alias("d_us"),
    )
    d2 = p.select(
        F.lit("click_to_purchase").alias("stage"),
        (F.unix_micros("p_ts") - F.unix_micros("c_ts")).alias("d_us"),
    )
    hours = 3600e6
    return (
        d1.unionByName(d2)
        .groupBy("stage")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.round(F.percentile("d_us", F.lit(0.5)) / hours, 4).alias("p50_hours"),
            F.round(F.percentile("d_us", F.lit(0.9)) / hours, 4).alias("p90_hours"),
            F.round(F.avg("d_us") / hours, 4).alias("mean_hours"),
        )
    )


@query(
    "b42_rolling_series_correlation",
    oracle="""
        -- rolling 14-day Pearson correlation between the click and
        -- purchase daily-count series (the do-these-move-together monitor)
        WITH daily AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   count(*) FILTER (WHERE event_type = 'click') AS n_click,
                   count(*) FILTER (WHERE event_type = 'purchase') AS n_buy
            FROM events GROUP BY 1
        )
        SELECT day, CAST(n_click AS BIGINT) AS n_click,
               CAST(n_buy AS BIGINT) AS n_buy,
               round(corr(n_click, n_buy) OVER (
                   ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW
               ), 5) AS corr14
        FROM daily QUALIFY row_number() OVER (ORDER BY day) >= 14
    """,
    tags=("B42", "B15", "B34", "P1"),
)
def b42_rolling_series_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 14-day Pearson correlation between two daily event series
    (clicks vs purchases) — the co-movement monitor behind "did the
    funnel decouple this week?": correlation near 1 means purchases track
    clicks; a drop flags a conversion change that neither series' own
    anomaly score (b34) sees.

    Scale: the window input is the daily ROLLUP (one partial-aggregated
    shuffle over events, O(days) rows), never raw events — the same
    pre-aggregate-then-window rule as b34; corr runs as a frame aggregate
    over ≤14 rows per day. Windows emit only with full 14-day history,
    and the coefficient rounds at 5dp on both engines. A zero-variance
    window (a constant 14-day series) makes DuckDB's corr NULL but makes
    Spark 4's window corr THROW (ANSI divide-by-zero, and NaN pre-ANSI),
    so the coefficient is built from its co-moment parts —
    covar_samp/(stddev·stddev), the identical update algebra, (n-1)
    cancels — behind a stddev>0 guard that emits NULL like the oracle."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        F.date_trunc("day", F.col("ts")).cast("date").alias("day")
    ).agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("n_click"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_buy"),
    )
    w = Window.orderBy("day").rowsBetween(-13, 0)
    wn = Window.orderBy("day")
    cov = F.covar_samp("n_click", "n_buy").over(w)
    sx = F.stddev_samp("n_click").over(w)
    sy = F.stddev_samp("n_buy").over(w)
    c = F.when((sx > 0) & (sy > 0), cov / (sx * sy))
    return (
        daily.withColumn("corr14", F.round(c, 5))
        .withColumn("_rn", F.row_number().over(wn))
        .filter(F.col("_rn") >= 14)
        .select("day", "n_click", "n_buy", "corr14")
    )


@query(
    "b43_session_bounce_rate",
    oracle="""
        -- daily bounce rate: share of 30-min-gap sessions with exactly
        -- one event, keyed by the session's START day
        WITH flagged AS (
            SELECT user_id, ts,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_session
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), numbered AS (
            SELECT user_id, ts,
                   sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                          ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged
        ), sessions AS (
            SELECT user_id, session_id,
                   CAST(date_trunc('day', min(ts)) AS DATE) AS day,
                   count(*) AS n_events
            FROM numbered GROUP BY user_id, session_id
        )
        SELECT day, count(*) AS n_sessions,
               count(*) FILTER (WHERE n_events = 1) AS n_bounced,
               round(count(*) FILTER (WHERE n_events = 1) * 1.0
                     / count(*), 6) AS bounce_rate
        FROM sessions GROUP BY day
    """,
    tags=("B43", "C3", "B9", "P1"),
)
def b43_session_bounce_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily session bounce rate — the session-level KPI on top of the C3
    machinery: sessionize with the 30-minute-gap rule (gaps-and-islands,
    same semantics as c3/c3c), then per day-of-session-start report the
    share of single-event sessions. A rising bounce rate is the classic
    engagement regression signal that event-level counts hide.

    Scale: one user-keyed window pass over events (the C3 shape — state
    per user is a lag + running sum), session collapse is a
    partial-aggregatable groupBy on (user, session), and the daily rollup
    is O(days) rows."""
    e = table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts")
    # exact microseconds: a seconds cast truncates each endpoint, so a
    # 1799.7s gap straddling second boundaries would read as 1800
    gap = F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(wu)
    new_session = F.when(
        F.lag("ts").over(wu).isNull() | (gap >= 30 * 60 * 1_000_000), 1
    ).otherwise(0)
    numbered = e.select("user_id", "ts", new_session.alias("ns")).withColumn(
        "session_id",
        F.sum("ns").over(wu.rowsBetween(Window.unboundedPreceding, 0)),
    )
    sessions = numbered.groupBy("user_id", "session_id").agg(
        F.date_trunc("day", F.min("ts")).cast("date").alias("day"),
        F.count(F.lit(1)).alias("n_events"),
    )
    return sessions.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count(F.when(F.col("n_events") == 1, 1)).alias("n_bounced"),
        F.round(
            F.count(F.when(F.col("n_events") == 1, 1)) / F.count(F.lit(1)), 6
        ).alias("bounce_rate"),
    )
