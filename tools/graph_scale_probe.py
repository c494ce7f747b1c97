#!/usr/bin/env python3
"""Graph-ANN build/serve scale probe (judge r11 tasks #2 + #7): measure
`knn_graph` BUILD wall and warm beam-search SERVE wall at 1×/10×/100× of
sf0.1, after the blocking became corpus-adaptive — confirming the build
is near-linear per decade (it grew ~4× per 10× under the fixed demo
widths, SCALE.md r11) and serving stays flat.

Replicas are EMBEDDINGS-ONLY (the graph build touches nothing else) and
PERTURBED: each copy's vectors get a deterministic per-(vec, dim) offset
of amplitude ±0.15 (components are ~±0.5, mean |x| ≈ 0.1, so many signs
flip per copy). An unperturbed replica would be a wrong scale probe
here for the same reason it was for dedup (r9): N identical copies of a
vector share every LSH signature by construction, so no signature width
can separate them and per-block sizes grow ~N regardless — a
100%-duplication stress test, not the natural-corpus regime. The label
column is preserved so the coarse quantizer keeps its 10 centroids.

Build timing is COLD (memo caches cleared, localCheckpoint storage
dropped); serve timing is warm median-of-3 over the memoized graph —
the same split SCALE.md's r11 table reports.

Usage: python tools/graph_scale_probe.py [N ...]   (default: 1 10 100)
"""

from __future__ import annotations

import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

BASE = "/root/testdata/sf0.1"


def replica_dir(spark, n: int) -> str:
    if n == 1:
        return BASE
    dst = f".tmp/emb{n}p"
    out = os.path.join(dst, "embeddings.parquet")
    if os.path.exists(os.path.join(out, "_SUCCESS")):
        return dst
    src = spark.read.parquet(os.path.join(BASE, "embeddings.parquet"))
    stride = src.agg(F.max("vec_id")).first()[0] + 1
    copies = []
    for i in range(n):
        c = src.withColumn("vec_id", F.col("vec_id") + F.lit(i * stride))
        if i > 0:
            # deterministic ±0.15 offset keyed on (shifted vec_id, dim):
            # enough to flip signs near zero without moving vectors off
            # their coarse-quantizer neighborhoods entirely
            c = c.withColumn(
                "embedding",
                F.transform(
                    "embedding",
                    lambda x, j: (
                        x
                        + 0.05
                        * (
                            F.pmod(
                                F.col("vec_id") * 31 + (j + 1) * 17, F.lit(7)
                            )
                            - 3
                        )
                    ).cast("float"),
                ),
            )
        copies.append(c)
    allc = copies[0]
    for c in copies[1:]:
        allc = allc.unionAll(c)
    allc.coalesce(max(1, n // 2)).write.mode("overwrite").parquet(out)
    return dst


def main() -> None:
    ns = [int(a) for a in sys.argv[1:]] or [1, 10, 100]
    from dcosb_cassandra_spark.operators import llm_similarity as sim
    from dcosb_cassandra_spark.session import get_spark, memo_evict

    spark = get_spark(
        "graph-scale-probe", cpus=os.environ.get("SPARK_GRAFT_CPUS", "32")
    )
    for n in ns:
        sf_dir = replica_dir(spark, n)
        rows = spark.read.parquet(
            os.path.join(sf_dir, "embeddings.parquet")
        ).filter(F.col("vec_id") >= 5).count()
        bits = sim.adaptive_lsh_bits(rows)
        bits2 = sim.adaptive_bucket_split_bits(rows)
        # cold build: clear every memo so the full pipeline runs
        for ns in ("knn_graph", "codebook"):  # evicted graphs unpersist
            memo_evict(ns, lambda k, v: True)
        t0 = time.perf_counter()
        und, entries = sim.knn_graph(spark, sf_dir)
        edge_rows = und.count()
        build = time.perf_counter() - t0
        # warm serve: median-of-3 full beam searches over the memoized graph
        sim._beam_search(spark, sf_dir)  # warm-up
        ts = []
        for _ in range(3):
            t0 = time.perf_counter()
            beam, _sc = sim._beam_search(spark, sf_dir)
            beam.collect()
            ts.append(time.perf_counter() - t0)
        print(
            f"N={n} corpus={rows} bits={bits} bits2={bits2} "
            f"edges={edge_rows} build={build:.1f}s "
            f"serve_med3={statistics.median(ts):.2f}s",
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
