"""Tests of the benchmark itself: ``python -m pytest perfbench -q``."""

from __future__ import annotations

import itertools
import json
import os
import sys
from pathlib import Path
from types import SimpleNamespace

import pyarrow.parquet as pq
import pytest

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import cql_stream, datagen, workloads  # noqa: E402
from perfbench.tracing import Span, Tracer  # noqa: E402

#: the engine's sf0.001 table sizes
TINY = {
    "region": 5, "nation": 25, "customer": 150, "supplier": 10, "part": 200,
    "orders": 1_500, "events": 1_000, "documents": 50, "embeddings": 50,
}


def _take(seed: int, n: int = 400) -> list:
    return list(itertools.islice(cql_stream.stream(seed), n))


def test_same_seed_same_stream():
    assert _take(7) == _take(7)


def test_different_seed_different_stream():
    a, b = _take(7), _take(8)
    assert [op.text for op in a] != [op.text for op in b]
    assert [op.params for op in a] != [op.params for op in b]


def test_every_round_has_the_same_mix():
    ops = _take(3, 5 * len(cql_stream.ROUND))
    for i in range(0, len(ops), len(cql_stream.ROUND)):
        names = sorted(op.name for op in ops[i : i + len(cql_stream.ROUND)])
        assert names == sorted(cql_stream.ROUND)


def test_tables_are_deterministic():
    a, b = datagen.build_tables(TINY), datagen.build_tables(TINY)
    assert all(a[t].equals(b[t]) for t in a)
    li = a["lineitem"].to_pandas()
    assert not li.duplicated(["l_orderkey", "l_linenumber"]).any()


def test_query_lists_are_disjoint_and_registered():
    from dcosb_cassandra_spark.registry import load_all

    workloads.check_registry(load_all())
    with pytest.raises(ValueError):
        workloads.check_registry({})


def test_self_time_subtracts_children():
    tr = Tracer(enabled=True)
    tr.spans = [Span(1, None, 1, "op", 0.0, 10.0), Span(2, 1, 1, "a", 1.0, 4.0),
                Span(3, 1, 1, "b", 3.0, 6.0)]
    assert tr.self_times() == {1: 5.0, 2: 3.0, 3: 3.0}


def test_percentile_counts_failures_as_slowest():
    assert workloads.percentile([1.0, 2.0, float("inf")], 50) == 2.0
    assert workloads.percentile([1.0, float("inf")], 90) == float("inf")


@pytest.fixture(scope="module")
def tiny_dir(tmp_path_factory):
    out = tmp_path_factory.mktemp("tiny")
    for name, tbl in datagen.build_tables(TINY).items():
        pq.write_table(tbl, os.path.join(out, f"{name}.parquet"))
    return str(out)


def test_shadow_model_agrees_with_a_live_session(tiny_dir):
    """Three rounds of the stream against a real session at sf0.001 size:
    every SELECT and LWT result must match the model."""
    from dcosb_cassandra_spark.session import get_spark

    spark = get_spark("perfbench-test", cpus="2")
    try:
        engine = workloads.CqlOltp.set_up(spark, tiny_dir, lambda _name, fn: fn())
        wl = workloads.CqlOltp("cql_oltp", spark, tiny_dir, 11, Tracer(enabled=False), engine)
        wl.ops = cql_stream.stream(11, rows=TINY)
        recs = [r for _ in range(3) for r in wl._unit()]
    finally:
        spark.stop()
    assert all(r.ok for r in recs), [r.name for r in recs if not r.ok]
    assert {r.kind for r in recs} == {"read", "write", "lwt"}
    assert any(r.rows for r in recs if r.kind == "read")


def test_metric_names_match_benchmark_json():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    e2e = workloads.end_to_end([], 1.0, 1.0, 1.0)
    assert {k: u for k, (_, u) in e2e.items()} == {
        m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = workloads.per_layer(SimpleNamespace(), [], [], {}, 0.0, 1.0)
    layers.update(workloads.client_view([], 1.0))
    assert {k: u for k, (_, u) in layers.items()} == {
        m["name"]: m["unit"] for m in spec["per_layer"]}
    assert [w["name"] for w in spec["workloads"]] == list(workloads.CLASSES)
