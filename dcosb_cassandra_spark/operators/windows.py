"""Window-function operators (SURVEY.md §2 B13–B15). One shuffle on the
window partition key each; deterministic ORDER BY (unique tiebreakers) for
any row_number/ntile-based ranking, while rank/dense_rank/percent_rank keep
real ties (tie-stable by definition).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import table
from ..registry import query


@query(
    "b13_ranking_suite",
    oracle="""
        SELECT o_orderkey, o_orderstatus,
               rank()         OVER w AS rk,
               dense_rank()   OVER w AS drk,
               round(percent_rank() OVER w, 6) AS prk,
               ntile(4) OVER (PARTITION BY o_orderstatus
                              ORDER BY o_totalprice DESC, o_orderkey) AS quartile
        FROM orders
        WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_totalprice DESC)
    """,
    tags=("B13", "P0"),
)
def b13_ranking_suite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank/dense_rank/percent_rank over a tied ordering (tie-stable) +
    ntile over a unique ordering (tiebreaker required for determinism).

    TWO-PHASE: the requested partition key (o_orderstatus, 3 values) would
    funnel the whole table through 3 tasks at 100 TB, so ranks are computed
    within (status, price-bucket) — the bucket is floor(price/4096), ORDER-
    CONSISTENT with the price sort (ties share a bucket, so tie groups never
    span buckets) — and recovered globally from a broadcast (status, bucket)
    grid carrying cumulative row/distinct-value counts:

      rank        = rows_in_higher_buckets + local_rank
      dense_rank  = distinct_values_in_higher_buckets + local_dense_rank
      percent_rank= (rank - 1) / (n_status - 1)
      ntile(k)    = closed-form from the global row_number and n_status
                    (first n%k tiles get ceil(n/k) rows, the rest floor)

    The grid is bounded by the PRICE DOMAIN (~3 statuses × ~150 buckets),
    not the row count, so it broadcasts at any SF. Output is byte-identical
    to the single-window form (oracle unchanged; property-tested on random
    data in tests/test_lww_properties.py::test_two_phase_ranking_*)."""
    o = table(spark, sf_dir, "orders")
    out = two_phase_ranking(
        o,
        part_col="o_orderstatus",
        val_col="o_totalprice",
        id_col="o_orderkey",
        bucket=F.floor(F.col("o_totalprice") / F.lit(4096.0)),
        ntile_k=4,
    )
    return out.select(
        "o_orderkey",
        "o_orderstatus",
        "rk",
        "drk",
        F.round(F.col("prk_raw"), 6).alias("prk"),
        F.col("ntile").alias("quartile"),
    )


def two_phase_ranking(
    df,
    part_col: str,
    val_col: str,
    id_col: str,
    bucket,
    ntile_k: int,
) -> DataFrame:
    """rank / dense_rank / percent_rank (DESC on ``val_col``, ties kept)
    and ntile (DESC val, id tiebreak) over ``part_col`` WITHOUT a window
    partitioned on ``part_col`` alone — the two-phase recipe for
    low-cardinality partition keys (SCALE.md "two-phase rank").

    ``bucket`` must be an order-consistent function of ``val_col``
    (monotone, so ties never span buckets). Emits columns rk, drk,
    prk_raw (un-rounded double), ntile alongside the input columns.

    ntile closed form: with n rows and k tiles, the first n%k tiles carry
    ceil(n/k) rows — tile(rn) = ceil(rn/(q+1)) while rn ≤ (q+1)*(n%k),
    else (n%k) + ceil((rn - (q+1)*(n%k))/q), q = floor(n/k)."""
    b = df.withColumn("bkt", bucket)
    wb = Window.partitionBy(part_col, "bkt").orderBy(F.desc(val_col))
    wbt = Window.partitionBy(part_col, "bkt").orderBy(F.desc(val_col), F.asc(id_col))
    local = b.select(
        id_col,
        part_col,
        "bkt",
        F.rank().over(wb).cast("long").alias("lrk"),
        F.dense_rank().over(wb).cast("long").alias("ldrk"),
        F.row_number().over(wbt).cast("long").alias("lrn"),
    )
    # tiny grid: per-(part, bucket) row and distinct-value counts, with
    # cumulative offsets over HIGHER buckets (DESC order) and part totals
    grid = b.groupBy(part_col, "bkt").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.countDistinct(val_col).alias("dv"),
    )
    wg = (
        Window.partitionBy(part_col)
        .orderBy(F.desc("bkt"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = grid.select(
        part_col,
        "bkt",
        F.coalesce(F.sum("cnt").over(wg), F.lit(0)).alias("off"),
        F.coalesce(F.sum("dv").over(wg), F.lit(0)).alias("doff"),
        F.sum("cnt").over(Window.partitionBy(part_col)).alias("n"),
    )
    rn = F.col("off") + F.col("lrn")
    n, q, r = F.col("n"), F.floor(F.col("n") / ntile_k), F.col("n") % ntile_k
    return (
        local.join(F.broadcast(offsets), [part_col, "bkt"])
        .select(
            id_col,
            part_col,
            (F.col("off") + F.col("lrk")).alias("rk"),
            (F.col("doff") + F.col("ldrk")).alias("drk"),
            # n=1 partitions: percent_rank is DEFINED as 0.0 (Spark and SQL
            # standard) — guard the n-1 divisor (ANSI mode raises on /0)
            F.when(n > 1, (F.col("off") + F.col("lrk") - 1) / (n - 1))
            .otherwise(F.lit(0.0))
            .alias("prk_raw"),
            F.when(rn <= (q + 1) * r, F.ceil(rn / (q + 1)))
            .otherwise(r + F.ceil((rn - (q + 1) * r) / q))
            .cast("long")
            .alias("ntile"),
        )
    )


def top_k(df: DataFrame, by: list, order: list, k: int) -> DataFrame:
    """Rows whose ``row_number`` over ``by`` ordered by ``order`` is at
    most ``k``, the number kept as column ``rn``. ``order`` must end in a
    unique tiebreaker so the cut is deterministic."""
    w = Window.partitionBy(*by).orderBy(*order)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def two_phase_top_k(df: DataFrame, by: list, order: list, k: int) -> DataFrame:
    """`top_k` without a corpus-sized window on ``by`` alone (SCALE.md
    "two-phase rank"): `top_k` per (``by``, spark_partition_id) prunes
    each input partition to k rows per group, then `top_k` per ``by``
    ranks the ≤ k·P survivors. Same rows and ranks as the single window,
    because a row in the global top k is in its partition's top k. An
    empty ``by`` is one global ranking."""
    local = top_k(df.withColumn("_pid", F.spark_partition_id()), [*by, "_pid"], order, k)
    return top_k(local.drop("_pid", "rn"), by, order, k)


@query(
    "b14_lag_lead",
    oracle="""
        SELECT event_id, user_id,
               round(value, 4)                                  AS v,
               round(lag(value)  OVER w, 4)                     AS prev_v,
               round(lead(value) OVER w, 4)                     AS next_v,
               round(first_value(value) OVER w, 4)              AS first_v,
               lag(ts) OVER w                                   AS prev_ts
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
    tags=("B14", "P0"),
)
def b14_lag_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag/lead/first_value per user over event time — the building block of
    sessionization (C3) and as-of joins (B6)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return e.select(
        "event_id",
        "user_id",
        F.round("value", 4).alias("v"),
        F.round(F.lag("value").over(w), 4).alias("prev_v"),
        F.round(F.lead("value").over(w), 4).alias("next_v"),
        F.round(F.first("value").over(w), 4).alias("first_v"),
        F.lag("ts").over(w).alias("prev_ts"),
    )


@query(
    "b15_frame_windows",
    oracle="""
        SELECT event_id, user_id,
               round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS UNBOUNDED PRECEDING), 4)           AS running_sum,
               round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS moving_avg,
               count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)       AS frame_n
        FROM events
    """,
    tags=("B15", "P1"),
)
def b15_frame_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-spec windows: running sum + 4-row moving average. Accumulation
    order is the explicit ORDER BY on both engines, so double sums are
    bit-stable (rounded anyway)."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    frame = w.rowsBetween(-3, Window.currentRow)
    return e.select(
        "event_id",
        "user_id",
        F.round(F.sum("value").over(running), 4).alias("running_sum"),
        F.round(F.avg("value").over(frame), 6).alias("moving_avg"),
        F.count(F.lit(1)).over(frame).alias("frame_n"),
    )


@query(
    "b34_rolling_zscore_anomalies",
    oracle="""
        -- trailing-window z-score anomaly detection over the daily series:
        -- each day scored against the mean/stddev_pop of the PRECEDING
        -- 7 days (never itself — no self-masking); flag |z| > 2.
        -- z is rounded to 6dp and the flag derived FROM the rounded value
        -- so the threshold decision is identical on both engines.
        WITH daily AS (
            SELECT event_type,
                   CAST(date_diff('day', DATE '2024-01-01',
                                  CAST(date_trunc('day', ts) AS DATE)) AS BIGINT)
                       AS day_num,
                   round(sum(value), 6) AS day_total
            FROM events GROUP BY 1, 2
        ),
        scored AS (
            SELECT event_type, day_num, day_total,
                   count(*) OVER w AS n_hist,
                   avg(day_total) OVER w AS mu,
                   stddev_pop(day_total) OVER w AS sigma
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day_num
                         RANGE BETWEEN 7 PRECEDING AND 1 PRECEDING)
        )
        SELECT event_type, day_num, day_total,
               round((day_total - mu) / sigma, 6) AS zscore,
               (abs(round((day_total - mu) / sigma, 6)) > 2) AS is_anomaly
        FROM scored
        WHERE n_hist >= 3 AND sigma > 0
    """,
    tags=("B34", "B15", "C1", "P1"),
)
def b34_rolling_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series anomaly detection: each day's per-type total scored
    against the trailing 7-day mean/stddev (RANGE frame ending at the
    PRECEDING day, so a spike never masks itself), flagged at |z| > 2 —
    the monitoring shape (ingest-volume regression, corpus drift) that
    frame windows express natively.

    Scale: the daily rollup is one partial-aggregatable groupBy; the
    trailing stats are a RANGE window per (event_type) over
    days-cardinality rows — the window input is the ROLLUP, not the
    events, so the frame state is O(|types| x |days|) no matter how many
    raw events exist."""
    e = table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type",
        F.datediff(
            F.date_trunc("day", F.col("ts")).cast("date"),
            F.lit("2024-01-01").cast("date"),
        ).cast("bigint").alias("day_num"),
    ).agg(F.round(F.sum("value"), 6).alias("day_total"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day_num")
        .rangeBetween(-7, -1)
    )
    scored = daily.select(
        "event_type",
        "day_num",
        "day_total",
        F.count(F.lit(1)).over(w).alias("n_hist"),
        F.avg("day_total").over(w).alias("mu"),
        F.stddev_pop("day_total").over(w).alias("sigma"),
    )
    z = F.round((F.col("day_total") - F.col("mu")) / F.col("sigma"), 6)
    return (
        scored.filter((F.col("n_hist") >= 3) & (F.col("sigma") > 0))
        .select(
            "event_type",
            "day_num",
            "day_total",
            z.alias("zscore"),
            (F.abs(z) > 2).alias("is_anomaly"),
        )
    )


@query(
    "b38_path_transitions",
    oracle="""
        -- user-journey transition matrix: consecutive event-type bigrams
        -- per user (lag over the per-user timeline, microsecond-ordered
        -- with event_id tiebreak), with per-source-state probabilities
        WITH ordered AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        )
        SELECT prev_type, event_type AS next_type,
               CAST(count(*) AS BIGINT) AS n,
               round(count(*) * 1.0 / sum(count(*)) OVER (PARTITION BY prev_type), 6)
                   AS p_next
        FROM ordered WHERE prev_type IS NOT NULL
        GROUP BY prev_type, event_type
    """,
    tags=("B38", "B14", "P1"),
)
def b38_path_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey (Markov) transition matrix: consecutive event-type
    bigrams along each user's timeline with per-source-state transition
    probabilities — the path-analysis shape behind "what do users do after
    an error?". Event-id tiebreak makes equal-timestamp ordering
    engine-identical.

    Scale: ONE shuffle on user_id for the lag window (per-user ordered
    scan), then a |types|²-bounded aggregate; the probability OVER()
    partitions run on those few rows."""
    e = table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = e.select(
        "event_type", F.lag("event_type").over(w).alias("prev_type")
    ).filter(F.col("prev_type").isNotNull())
    counts = ordered.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wp = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n",
        F.round(F.col("n") / F.sum("n").over(wp), 6).alias("p_next"),
    )
