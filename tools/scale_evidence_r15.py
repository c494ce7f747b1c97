#!/usr/bin/env python3
"""r15 scale evidence (VERDICT r14 task #7): measured bytes/wall, not
prose, for the two r14 plan changes at 1x and 10x.

  - d16 window digests (md5 hex string -> xxhash64 long): shuffle-write
    BYTES of the digest-keyed exchange, old vs new form, same data.
  - d8g stored-codes PQ reconstruction (ArrowEvalPython -> JVM gather):
    probe wall at both scales + plan assertion that no Python node
    exists on the serving path.

Shuffle bytes come from the Spark UI REST API (total shuffle write
summed over completed stages, delta around each timed region — the same
numbers the Stages tab shows). Uses the 10x perturbed replica
(.tmp/sf1p, token-suffixed per copy so window/vocab shapes scale
realistically). Run on a QUIET host.

Usage: python tools/scale_evidence_r15.py [ONE_X_DIR] [TEN_X_DIR]
"""

from __future__ import annotations

import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402
from pyspark.sql.window import Window  # noqa: E402


def shuffle_write_bytes(spark) -> int:
    base = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{base}/api/v1/applications/{app}/stages?status=complete") as r:
        stages = json.load(r)
    return sum(s.get("shuffleWriteBytes", 0) for s in stages)


def noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    one_x = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    ten_x = sys.argv[2] if len(sys.argv) > 2 else ".tmp/sf1p"

    from pyspark.sql import SparkSession

    from dcosb_cassandra_spark.catalog import table
    from dcosb_cassandra_spark.registry import REGISTRY, load_all
    from dcosb_cassandra_spark.operators.llm_corpus import WINDOW_K
    from dcosb_cassandra_spark.plans.audit import plan_string

    # the engine session disables the UI; this probe NEEDS the REST API
    # (shuffle-write bytes), so it builds its own UI-enabled session
    spark = (
        SparkSession.builder.master(
            f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
        )
        .appName("scale-evidence-r15")
        .config("spark.ui.enabled", "true")
        .getOrCreate()
    )
    load_all()
    spark.conf.set("spark.sql.shuffle.partitions", "32")

    def d16_pipeline(sf_dir: str, digest: str):
        """d16's exact pipeline with the window digest parameterized:
        'xxhash64' = the current form; 'md5' = the pre-r14 32-char hex
        string form, reproduced for the byte comparison."""
        d = table(spark, sf_dir, "documents").select(
            "doc_id", "source", F.split("text", " ").alias("toks")
        )
        fn = (
            f"xxhash64(concat_ws(' ', slice(toks, i, {WINDOW_K})))"
            if digest == "xxhash64"
            else f"md5(concat_ws(' ', slice(toks, i, {WINDOW_K})))"
        )
        wins = F.expr(f"transform(sequence(1, size(toks) - {WINDOW_K} + 1), i -> {fn})")
        w = (
            d.filter(F.size("toks") >= WINDOW_K)
            .select("doc_id", "source", F.explode(wins).alias("whash"))
        )
        win = Window.partitionBy("whash")
        flagged = w.withColumn(
            "is_dup", F.min("doc_id").over(win) != F.max("doc_id").over(win)
        )
        return flagged.groupBy("source").agg(
            F.count(F.lit(1)).alias("total_windows"),
            F.count(F.when(F.col("is_dup"), 1)).alias("dup_windows"),
        )

    out: dict = {}
    for label, sf_dir in (("1x", one_x), ("10x", ten_x)):
        row: dict = {}
        for digest in ("md5", "xxhash64"):
            df = d16_pipeline(sf_dir, digest)
            noop(df)  # warm
            b0 = shuffle_write_bytes(spark)
            t0 = time.perf_counter()
            noop(df)
            wall = time.perf_counter() - t0
            row[f"d16_{digest}"] = {
                "wall_sec": round(wall, 3),
                "shuffle_write_bytes": shuffle_write_bytes(spark) - b0,
            }
        # d8g: the IVF-PQ serving probe (stored-codes JVM gather)
        name = "d8g_ivfpq_search"
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = plan_string(df)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (
            f"{name} at {label}: Python node reappeared on the serving path"
        )
        df.collect()  # warm (index build on first touch)
        runs = []
        for _ in range(3):
            t0 = time.perf_counter()
            REGISTRY[name].fn(spark, sf_dir).collect()
            runs.append(time.perf_counter() - t0)
        row["d8g_probe"] = {
            "wall_sec_median3": round(sorted(runs)[1], 3),
            "python_nodes_in_plan": 0,
        }
        out[label] = row
    print(json.dumps(out, indent=2))
    spark.stop()


if __name__ == "__main__":
    main()
