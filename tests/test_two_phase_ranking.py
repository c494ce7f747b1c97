"""Property check for the two-phase ranking rewrite (SCALE.md "two-phase
rank"): on randomized data — heavy ties, skewed partitions, n<k groups —
the bucketed form must be row-identical to the plain single-window form
for rank, dense_rank, percent_rank, and ntile; likewise `top_k` and
`two_phase_top_k` against one plain row_number window."""

from __future__ import annotations

import random

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dcosb_cassandra_spark.operators.windows import top_k, two_phase_ranking, two_phase_top_k


def _plain(df, part, val, idc, k):
    w = Window.partitionBy(part).orderBy(F.desc(val))
    wt = Window.partitionBy(part).orderBy(F.desc(val), F.asc(idc))
    return df.select(
        idc,
        part,
        F.rank().over(w).cast("long").alias("rk"),
        F.dense_rank().over(w).cast("long").alias("drk"),
        F.percent_rank().over(w).alias("prk_raw"),
        F.ntile(k).over(wt).cast("long").alias("ntile"),
    )


def test_two_phase_ranking_matches_plain_window(spark):
    rng = random.Random(7)
    for trial in range(3):
        n = rng.choice([5, 37, 400])
        rows = [
            (
                i,
                rng.choice(["a", "b", "c"]),
                # coarse values force cross-bucket tie groups
                float(rng.randrange(0, 40) * 500),
            )
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "id long, grp string, v double")
        got = two_phase_ranking(
            df,
            part_col="grp",
            val_col="v",
            id_col="id",
            bucket=F.floor(F.col("v") / 4096.0),
            ntile_k=4,
        ).select("id", "grp", "rk", "drk", F.round("prk_raw", 9).alias("p"), "ntile")
        want = _plain(df, "grp", "v", "id", 4).select(
            "id", "grp", "rk", "drk", F.round("prk_raw", 9).alias("p"), "ntile"
        )
        g = sorted(map(tuple, got.collect()))
        w = sorted(map(tuple, want.collect()))
        assert g == w, f"trial {trial}: two-phase diverged from plain window"


def test_two_phase_ranking_single_row_partitions(spark):
    """n=1 partitions: percent_rank divides by n-1=0 — Spark defines the
    plain-window result as 0.0; the two-phase form must agree, not NaN."""
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "id long, grp string, v double"
    )
    got = {
        r["id"]: (r["rk"], r["drk"], r["prk_raw"], r["ntile"])
        for r in two_phase_ranking(
            df, "grp", "v", "id", F.floor(F.col("v") / 7.0), 4
        ).collect()
    }
    want = {
        r["id"]: (r["rk"], r["drk"], r["prk_raw"], r["ntile"])
        for r in _plain(df, "grp", "v", "id", 4).collect()
    }
    assert got == want


def _plain_top_k(df, by, order, k):
    w = Window.partitionBy(*by).orderBy(*order)
    return df.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= k)


def test_top_k_matches_plain_window(spark):
    """`top_k` and `two_phase_top_k` keep exactly the rows (and ranks) of
    one plain row_number window: order keys heavily tied (a unique id
    breaks them), groups smaller than k, one global ranking (by=[]), and
    frames spread over several partitions, so the per-partition phase
    really prunes: round-robin, or hashed on the group so that one
    partition holds a group's whole top k."""
    rng = random.Random(11)
    order = [F.desc("v"), F.asc("id")]
    cases = [  # (rows, k, partitions, hash columns)
        (400, 1, 4, []),
        (400, 7, 4, []),
        (400, 7, 3, ["grp"]),
        (37, 10, 3, []),
        (5, 10, 2, []),
    ]
    for n, k, parts, hashed in cases:
        rows = [
            (i, rng.choice(["a", "b", "c", "d"]), float(rng.randrange(0, 6)))
            for i in range(n)
        ]
        df = spark.createDataFrame(rows, "id long, grp string, v double")
        df = df.repartition(parts, *hashed)
        assert df.rdd.getNumPartitions() == parts
        for by in (["grp"], []):
            want = sorted(map(tuple, _plain_top_k(df, by, order, k).collect()))
            for fn in (top_k, two_phase_top_k):
                got = fn(df, by, order, k)
                assert got.columns == ["id", "grp", "v", "rn"]
                assert sorted(map(tuple, got.collect())) == want, (fn.__name__, n, k, by)


def test_top_k_empty_frame(spark):
    df = spark.createDataFrame([], "id long, grp string, v double")
    for fn in (top_k, two_phase_top_k):
        for by in (["grp"], []):
            assert fn(df, by, [F.desc("v"), F.asc("id")], 3).collect() == []
