#!/usr/bin/env python3
"""Capture ``explain("formatted")`` for a set of registered queries into
``plans/$PLANS_ROUND/<name>_<suffix>.txt`` (default r15) — the optimization round's before/after
plan evidence (the judge checks plan claims against these files).

Usage:
    python tools/capture_plans.py before [name ...]
    python tools/capture_plans.py after  [name ...]

With no names, captures the bench suite (HEADLINE + PIPELINE) plus the
r14 first-grading queries. Plans are built at $SPARK_GRAFT_SF_DIR
(default sf0.1) on the same warm-cache session bench.py uses, so the
captured shapes are the benched shapes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from dcosb_cassandra_spark.catalog import warm_cache  # noqa: E402
from dcosb_cassandra_spark.plans.audit import plan_string  # noqa: E402
from dcosb_cassandra_spark.registry import REGISTRY, load_all  # noqa: E402
from dcosb_cassandra_spark.session import get_spark  # noqa: E402

R14_NEW = [
    "d18_bm25_topk",
    "d18b_rrf_hybrid",
    "c18_text_index_replay",
    "v04_analyzed_match",
]


def main() -> None:
    suffix = sys.argv[1] if len(sys.argv) > 1 else "before"
    names = sys.argv[2:] or (bench.HEADLINE + bench.PIPELINE + R14_NEW)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("PLANS_ROUND", "r15"),
    )
    os.makedirs(out_dir, exist_ok=True)
    spark = get_spark("plan-capture", cpus=os.environ.get("SPARK_GRAFT_CPUS", "8"))
    load_all()
    warm_cache(spark, sf_dir)
    for name in names:
        if name not in REGISTRY:
            print(f"SKIP {name}: not registered")
            continue
        df = REGISTRY[name].fn(spark, sf_dir)
        plan = plan_string(df)
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.stop()


if __name__ == "__main__":
    main()
