"""The two workloads: engine set-up, warm-up, a timed closed loop, checks.

Each workload runs in its own process on ``local[nproc]`` with one client:

- ``cql_oltp``: one client drives a ``CqlSession`` (one session object, not
  thread-safe) with the seeded statement stream of ``cql_stream``. Reads go
  through the parquet snapshot plus the memtable; there is no warm cache.
  Every SELECT and LWT result is compared with the shadow model.
- ``analytics``: one interactive client making seeded-order passes over
  ``ANALYTICS``, headline and LLM-pipeline queries, over ``warm_cache``.
  The headline queries return small results, so their time is mostly
  registry build, Catalyst planning and per-task overhead; the pipeline
  queries are compute- and shuffle-heavy.

An operation's latency covers building its DataFrame (or executing the CQL
statement), executing it and fetching the result. A failed or wrong
operation counts as an infinite latency. Analytics results are checked
after the timed window: ``compare.compare_query`` checks the first result
of each query against its DuckDB oracle, and every later result must equal
the result that check verified. Only the first result of each query is
kept until then; a later one is reduced to a digest as it arrives (and
compared in full only when the digests differ), so the client's memory
does not grow with the window.
"""

from __future__ import annotations

import math
import random
import statistics
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field
from typing import Any, Callable

from .cql_stream import PREPARED, ROUND, Op, ShadowModel, rows_match, stream
from .tracing import SparkCounters, Tracer

#: copied from bench.py, which stays the per-query harness
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier",
    "window_top2_per_cust",
    "distinct_users_per_type",
    "tumbling_window_events",
    "json_extract_props",
    "antijoin_custs_no_orders",
    "cube_rollup",
    "text_token_counts",
    "knn_top10_vs_query",
    "exact_dedup_docs",
]
PIPELINE = [
    "d2b_minhash_lsh_pairs",
    "d2h_semdedup",
    "d4d_ivf_probe_knn",
    "d16_substring_dedup",
    "d13_sequence_packing",
    "d_pipeline_end_to_end",
    "d5u_bigram_lm_quality",
    "d7m_gif_lzw_decode",
    "d8g_ivfpq_search",
]

#: ``operators.llm_quality`` has no query in bench.py's lists; this one
#: stands for it
EXTRA = ["d5z_quality_classifier"]

#: the analytics client's queries: four headline shapes (a three-way
#: join, a window, JSON extraction, a vector top-k) and one query from each
#: of ``llm_dedup``, ``llm_similarity``, ``llm_corpus``, ``llm_packing``,
#: ``llm_text``, ``llm_multimodal`` and ``llm_quality``, so a pass stays a
#: few seconds long (``llm_retrieval`` is not measured)
ANALYTICS = [
    "q3_shipping_priority",
    "window_top2_per_cust",
    "json_extract_props",
    "knn_top10_vs_query",
    "d2b_minhash_lsh_pairs",
    "d4d_ivf_probe_knn",
    "d16_substring_dedup",
    "d13_sequence_packing",
    "d_pipeline_end_to_end",
    "d7m_gif_lzw_decode",
    "d5z_quality_classifier",
]

Timed = Callable[[str, Callable[[], Any]], Any]


@dataclass
class OpRecord:
    op: int
    kind: str  # read | write | lwt (CQL) or query
    name: str
    start: float
    latency: float = math.inf  # seconds; inf until the op succeeds
    ok: bool = False
    rows: int = 0
    phases: dict[str, float] = field(default_factory=dict)  # traced only
    spark: dict | None = None  # traced only
    note: str = ""  # CQL: the read key's memtable state, or whether an LWT applied
    result: Any = None  # analytics: a query's first fetched frame, until checked
    same: bool = True  # analytics: equals the query's first result


def check_registry(registry: dict) -> None:
    """The two query lists must be disjoint and fully registered, and the
    analytics client must draw only from them and ``EXTRA``."""
    overlap = set(HEADLINE) & set(PIPELINE)
    if overlap:
        raise ValueError(f"HEADLINE and PIPELINE overlap: {sorted(overlap)}")
    stray = set(ANALYTICS) - set(HEADLINE + PIPELINE + EXTRA)
    if stray:
        raise ValueError(f"analytics queries outside HEADLINE, PIPELINE and EXTRA: {sorted(stray)}")
    missing = [n for n in HEADLINE + PIPELINE + EXTRA if n not in registry]
    if missing:
        raise ValueError(f"benchmark queries not registered: {missing}")


class Workload:
    """One run's client: the session, the tracer and the counters.

    ``set_up`` is the workload's part of the engine's set-up, which
    ``setup_s`` counts after ``get_spark`` and ``load_all``; the constructor
    does only the benchmark's own work."""

    def __init__(self, name: str, spark, data_dir: str, seed: int, tracer: Tracer, engine):
        self.name = name
        self.spark = spark
        self.data_dir = data_dir
        self.seed = seed
        self.tracer = tracer
        self.engine = engine
        self.counters = SparkCounters(spark)
        self.traced = False  # set per window
        self.checked: dict[str, dict] = {}  # oracle checks, by query
        self._op_ids = iter(range(1, 1 << 62))

    def _phase(self, rec: OpRecord, name: str, fn):
        """Run ``fn`` as one traced phase of ``rec``."""
        if not self.traced:
            return fn()
        t = time.perf_counter()
        with self.tracer.span(name, rec.op):
            out = fn()
        rec.phases[name] = time.perf_counter() - t
        return out

    def _spark_start(self, rec: OpRecord) -> None:
        if self.traced:
            self.counters.start(f"perfbench-{rec.op}")

    def _spark_read(self, rec: OpRecord) -> None:
        if self.traced:
            rec.spark = self.counters.read(f"perfbench-{rec.op}")

    def _unit(self) -> list[OpRecord]:
        """One round or pass: the unit every window is made of."""
        raise NotImplementedError

    #: untimed units before the timed window
    warmup_units = 1

    def warmup(self) -> list[OpRecord]:
        """Untimed units before the timed window: every kind of operation
        runs at least once, so each pays its first-run cost there."""
        return [r for _ in range(self.warmup_units) for r in self._unit()]

    def window(self, seconds: float) -> tuple[list[OpRecord], float]:
        """Whole units until ``seconds`` have passed, so every window has
        the same mix of operations."""
        out: list[OpRecord] = []
        t0 = time.perf_counter()
        deadline = t0 + seconds
        with self.tracer.span(f"workload.{self.name}"):
            while time.perf_counter() < deadline:
                out.extend(self._unit())
        return out, time.perf_counter() - t0

    def check(self, recs: list[OpRecord]) -> None:
        """Checks left for after the timed window; none by default."""


class CqlOltp(Workload):
    #: with a second warm-up round the window's CPU per operation fell by
    #: about a fifth (median of five seeds, 930 to 763 ms): one round runs
    #: each read kind only once or twice and leaves the JVM still warming up
    warmup_units = 2

    @staticmethod
    def set_up(spark, data_dir: str, timed: Timed):
        """Open a session, prepare the templates and read one row, so the
        first operation finds the session's lazy set-up done."""
        from dcosb_cassandra_spark.cql_session import CqlSession

        def _open():
            session = CqlSession(spark, data_dir)
            prepared = {n: session.prepare(t) for n, t in PREPARED.items()}
            session.execute("SELECT * FROM customer WHERE c_custkey = 0").collect()
            return session, prepared

        return timed("cql_session.open", _open)

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.session, self.prepared = self.engine
        self.ops = stream(self.seed)
        self.model = ShadowModel(self.data_dir)
        self.select_texts: list[str] = []
        self.bind_seconds: list[float] = []

    def run_op(self, op: Op) -> OpRecord:
        rec = OpRecord(next(self._op_ids), op.kind, op.name, time.perf_counter())
        stmt = self.prepared[op.name] if op.prepared else op.text
        if op.kind == "read":
            rec.note = self.model.state(op.table, op.key)
        if self.traced and op.prepared:
            t = time.perf_counter()
            stmt.bind(*op.params)
            self.bind_seconds.append(time.perf_counter() - t)
        rows = None
        try:
            with self.tracer.span("workload.op", rec.op):
                if op.kind != "write":
                    self._spark_start(rec)
                res = self._phase(
                    rec, "cql_session.execute",
                    lambda: self.session.execute(stmt, op.params) if op.prepared
                    else self.session.execute(stmt),
                )
                if op.kind != "write":
                    if self.traced:
                        self._phase(rec, "catalyst.plan",
                                    lambda: res._jdf.queryExecution().executedPlan())
                    rows = self._phase(rec, "spark.exec", res.collect)
            latency = time.perf_counter() - rec.start
            if op.kind != "write":
                self._spark_read(rec)
        except Exception:  # a failed statement is a counted failure, not a crash
            traceback.print_exc(file=sys.stderr)
            self._apply_expected(op)
            return rec
        if op.kind == "write":
            self.model.apply(op)
            rec.ok = res is None
        elif op.kind == "read":
            self.select_texts.append(op.text)
            got = [r.asDict() for r in rows]
            rec.rows = len(got)
            rec.ok = rows_match(got, self.model.select(op))
        else:
            applied = self.model.lwt(op)
            rec.rows, rec.note = len(rows), "applied" if applied else "not_applied"
            rec.ok = len(rows) == 1 and rows[0]["[applied]"] == applied
        if rec.ok:
            rec.latency = latency
        else:
            print(f"perfbench: wrong result for op {op.seq}: {op.text} {op.params}",
                  file=sys.stderr)
        return rec

    def _apply_expected(self, op: Op) -> None:
        """Keep the model on the stream after a statement raised."""
        if op.kind == "write":
            self.model.apply(op)
        elif op.kind == "lwt":
            self.model.lwt(op)

    def _unit(self) -> list[OpRecord]:
        return [self.run_op(next(self.ops)) for _ in range(len(ROUND))]


class Analytics(Workload):
    """A closed-loop client running registered queries over the warm cache,
    one seeded shuffle of every query per pass."""

    queries = ANALYTICS

    @staticmethod
    def set_up(spark, data_dir: str, timed: Timed):
        from dcosb_cassandra_spark import catalog

        return timed("catalog.warm_cache", lambda: catalog.warm_cache(spark, data_dir))

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.rng = random.Random(f"{self.seed}:{self.name}")
        #: each query's first result: (digest, frame, canonical rows or None)
        self.first: dict[str, list] = {}

    def run_query(self, name: str) -> OpRecord:
        from dcosb_cassandra_spark.registry import REGISTRY

        rec = OpRecord(next(self._op_ids), "query", name, time.perf_counter())
        try:
            with self.tracer.span("workload.op", rec.op):
                self._spark_start(rec)
                df = self._phase(rec, "registry.build",
                                 lambda: REGISTRY[name].fn(self.spark, self.data_dir))
                if self.traced:
                    self._phase(rec, "catalyst.plan",
                                lambda: df._jdf.queryExecution().executedPlan())
                pdf = self._phase(rec, "spark.exec", df.toPandas)
            rec.latency = time.perf_counter() - rec.start
            self._spark_read(rec)
        except Exception:  # a failed query is a counted failure, not a crash
            traceback.print_exc(file=sys.stderr)
            rec.latency = math.inf
            return rec
        rec.ok, rec.rows = True, len(pdf)
        first = self.first.get(name)
        if first is None:
            rec.result = pdf
            self.first[name] = [_digest(pdf), pdf, None]
        else:
            digest = _digest(pdf)
            if digest is None or digest != first[0]:
                if first[2] is None:
                    first[2] = _canon(first[1])
                rec.same = _rows_close(_canon(pdf), first[2])
        return rec

    def _unit(self) -> list[OpRecord]:
        order = list(self.queries)
        self.rng.shuffle(order)
        return [self.run_query(name) for name in order]

    def check(self, recs: list[OpRecord]) -> None:
        """Verify the first result of each query against its oracle, then
        require every other result of that query to equal it."""
        from dcosb_cassandra_spark import compare

        verified: dict[str, bool] = {}
        for rec in recs:
            if rec.result is None:
                continue
            pdf = rec.result
            try:
                # the fetched frame itself, as the rows the client received
                res = compare.compare_query(self.spark, rec.name, self.data_dir,
                                            sdf=_Fetched(pdf))
            except Exception:  # a check that raises fails the query
                traceback.print_exc(file=sys.stderr)
                res = {"ok": False, "why": "compare raised"}
            self.checked[rec.name] = res
            verified[rec.name] = res["ok"] and res.get("spark_rows", rec.rows) == rec.rows
            if not verified[rec.name]:
                print(f"perfbench: {rec.name} failed its oracle check: {res.get('why')}",
                      file=sys.stderr)
        for rec in recs:
            if rec.ok:
                rec.ok = verified.get(rec.name, False) and rec.same
                if not rec.ok:
                    rec.latency = math.inf
            rec.result = None
        self.first.clear()


class _Fetched:
    """A fetched pandas frame in the two parts of the DataFrame interface
    that ``compare.compare_query`` reads, so checking a result needs no
    second Spark job."""

    def __init__(self, pdf):
        self.columns = list(pdf.columns)
        self._rows = list(pdf.itertuples(index=False, name=None))

    def collect(self) -> list[tuple]:
        return self._rows


def _digest(pdf) -> tuple | None:
    """Order-insensitive digest of a fetched frame: its columns, its row
    count and the wrapped sum of its row hashes; None when a cell cannot be
    hashed."""
    import numpy as np
    import pandas as pd

    try:
        rows = pd.util.hash_pandas_object(pdf, index=False).to_numpy()
    except TypeError:
        return None
    return tuple(pdf.columns), len(pdf), int(rows.sum(dtype=np.uint64))


def _canon(pdf) -> list[tuple]:
    from dcosb_cassandra_spark.compare import canon_rows

    cols = list(pdf.columns)
    return canon_rows(list(pdf.itertuples(index=False, name=None)), len(cols), cols)


def _rows_close(a: list[tuple], b: list[tuple]) -> bool:
    from dcosb_cassandra_spark.compare import _cells_match

    return len(a) == len(b) and all(_cells_match(x, y) for x, y in zip(a, b))


CLASSES: dict[str, type[Workload]] = {"cql_oltp": CqlOltp, "analytics": Analytics}


# -- metrics ---------------------------------------------------------------


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile; infinite values (failures) sort last."""
    if not values:
        return math.inf
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q / 100 * len(s)) - 1))]


def reads(recs: list[OpRecord]) -> list[OpRecord]:
    """Read requests: CQL SELECTs and analytics queries."""
    return [r for r in recs if r.kind in ("read", "query")]


def read_medians_ms(recs: list[OpRecord]) -> dict[str, float]:
    """Median latency of each read kind (CQL read name or query name)."""
    by: dict[str, list[float]] = {}
    for r in reads(recs):
        by.setdefault(r.name, []).append(r.latency)
    return {k: statistics.median(v) * 1e3 for k, v in sorted(by.items())}


def end_to_end(recs: list[OpRecord], cpu_s: float, setup_s: float, memory_mb: float) -> dict:
    """``cpu_ms_per_op`` is the CPU the engine's processes used in the
    window per correct operation. CPU time leaves out the time other
    tenants of the host take from this one, which wall time does not."""
    done = sum(r.ok for r in recs)
    return {
        "setup_s": (setup_s, "s"),
        "cpu_ms_per_op": (cpu_s * 1e3 / done if done else math.inf, "ms"),
        "memory_mb": (memory_mb, "MB"),
    }


def key_shares(recs: list[OpRecord]) -> dict[str, float]:
    """Measured CQL mix: the share of reads whose key had written cells or
    a row tombstone in the memtable, and the share of LWTs that applied."""
    reads = Counter(r.note for r in recs if r.kind == "read")
    lwts = Counter(r.note for r in recs if r.kind == "lwt")
    n_reads, n_lwts = max(sum(reads.values()), 1), max(sum(lwts.values()), 1)
    return {
        "reads_on_written_keys": reads["written"] / n_reads,
        "reads_on_deleted_keys": reads["deleted"] / n_reads,
        "lwt_applied": lwts["applied"] / n_lwts,
    }


def late_over_early(recs: list[OpRecord]) -> float:
    """Read drift over a run: for each CQL read kind with at least two
    correct reads, the median latency of its last quarter of reads over
    that of its first quarter; the geometric mean over kinds, 0 if none."""
    by: dict[str, list[float]] = {}
    for r in recs:
        if r.kind == "read" and r.ok:
            by.setdefault(r.name, []).append(r.latency)
    ratios = []
    for lat in by.values():
        if len(lat) >= 2:
            q = max(len(lat) // 4, 1)
            ratios.append(statistics.median(lat[-q:]) / statistics.median(lat[:q]))
    return math.exp(_mean([math.log(x) for x in ratios])) if ratios else 0.0


def client_view(recs: list[OpRecord], wall: float) -> dict:
    """Wall-clock numbers as the client sees them. ``read_ms`` is the
    geometric mean over read kinds of each kind's median latency, so it
    weighs every kind equally whatever its count."""
    med = list(read_medians_ms(recs).values())
    return {
        "client.ops_per_s": (sum(r.ok for r in recs) / wall, "1/s"),
        "client.read_ms": (math.exp(sum(map(math.log, med)) / len(med)) if med else math.inf,
                           "ms"),
    }


def _p50(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def _mean(values: list[float]) -> float:
    return sum(values) / len(values) if values else 0.0


def per_layer(wl: Workload, recs: list[OpRecord], run_recs: list[OpRecord],
              setup: dict[str, float], overhead_pct: float, peak_rss_mb: float) -> dict:
    """Per-layer metrics of a traced window ``recs``; ``run_recs`` are both
    timed windows of the run, untraced then traced, in order. A layer the
    workload does not exercise reads 0."""
    ok = [r for r in recs if r.ok]
    m: dict[str, tuple[float, str]] = {"process.peak_rss_mb": (peak_rss_mb, "MB")}
    for phase in ("session.get_spark", "registry.load_all", "catalog.warm_cache",
                  "cql_session.open"):
        m[f"{phase}_s"] = (setup.get(phase, 0.0), "s")

    from dcosb_cassandra_spark import cql

    texts = getattr(wl, "select_texts", [])
    parse_s = []
    for t in texts:
        t0 = time.perf_counter()
        cql.parse(t)
        parse_s.append(time.perf_counter() - t0)
    cql_reads = [r for r in ok if r.kind == "read"]
    writes = [r.phases["cql_session.execute"] for r in ok if r.kind == "write"]
    lwts = [r.latency for r in ok if r.kind == "lwt"]
    exec_ms = [r.phases["spark.exec"] * 1e3 for r in cql_reads]
    # the session's own mutation buffer: a flush or compaction moves it
    session = getattr(wl, "session", None)
    memtable_cells = sum(map(len, getattr(session, "_cells", {}).values()))
    m.update({
        "cql.parse_us": (_p50(parse_s) * 1e6, "us"),
        "cql_session.bind_us": (_p50(getattr(wl, "bind_seconds", [])) * 1e6, "us"),
        "cql_session.write_us": (_p50(writes) * 1e6, "us"),
        "cql_session.write_p99_us": (
            percentile(writes, 99) * 1e6 if writes else 0.0, "us"),
        "cql_session.read_build_ms": (
            _p50([r.phases["cql_session.execute"] for r in cql_reads]) * 1e3, "ms"),
        "cql_session.read_exec_ms": (_p50(exec_ms), "ms"),
        "cql_session.lwt_ms": (_p50(lwts) * 1e3, "ms"),
        "cql_session.memtable_cells": (memtable_cells, "count"),
        "cql_session.read_exec_late_over_early": (late_over_early(run_recs), "ratio"),
    })

    queries = [r for r in ok if r.kind == "query"]
    m["registry.build_ms"] = (_p50([r.phases["registry.build"] for r in queries]) * 1e3, "ms")
    for name in ANALYTICS:
        mine = [r for r in queries if r.name == name]
        m[f"registry.build_ms.{name}"] = (
            _p50([r.phases["registry.build"] for r in mine]) * 1e3, "ms")
    spark_ops = [r for r in ok if r.spark is not None]
    m["catalyst.plan_ms"] = (_p50([r.phases["catalyst.plan"] for r in spark_ops
                                   if "catalyst.plan" in r.phases]) * 1e3, "ms")
    for name in ANALYTICS:
        mine = [r for r in queries if r.name == name]
        m[f"spark.exec_ms.{name}"] = (_p50([r.phases["spark.exec"] for r in mine]) * 1e3, "ms")

    def per_op(key: str, scale: float = 1.0) -> float:
        return _mean([r.spark[key] * scale for r in spark_ops])

    result_rows = sum(r.rows for r in spark_ops)
    m.update({
        "spark.jobs_per_op": (per_op("jobs"), "count"),
        "spark.stages_per_op": (per_op("stages"), "count"),
        "spark.tasks_per_op": (per_op("tasks"), "count"),
        "spark.task_time_ms_per_op": (per_op("task_time_ms"), "ms"),
        "spark.cpu_ms_per_op": (per_op("cpu_ns", 1e-6), "ms"),
        "spark.gc_ms_per_op": (per_op("gc_ms"), "ms"),
        "spark.shuffle_read_bytes_per_op": (per_op("shuffle_read_bytes"), "bytes"),
        "spark.shuffle_write_bytes_per_op": (per_op("shuffle_write_bytes"), "bytes"),
        "spark.spill_bytes_per_op": (
            _mean([r.spark["spill_memory_bytes"] + r.spark["spill_disk_bytes"]
                   for r in spark_ops]), "bytes"),
        "spark.peak_exec_mem_bytes": (
            max((r.spark["peak_exec_mem_bytes"] for r in spark_ops), default=0), "bytes"),
        "spark.input_rows_per_result_row": (
            sum(r.spark["input_rows"] for r in spark_ops) / max(result_rows, 1), "ratio"),
        "trace.overhead_pct": (overhead_pct, "%"),
    })
    return m
