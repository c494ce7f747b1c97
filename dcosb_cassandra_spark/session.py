"""SparkSession factory.

Scale posture (SURVEY.md §2 "100 TB design rules"): AQE on (runtime
join-strategy switch, skew-join splitting, partition coalescing), shuffle
partitions sized for the local harness via env, UTC session timezone so
timestamp semantics match the tz-naive parquet + DuckDB oracle.
On a real cluster the same code runs unchanged — only master/memory/shuffle
partitions change, and those are all injected here.
"""

from __future__ import annotations

import datetime as dt
import os
import threading
from functools import cached_property

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as ClassicDataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import DateType, StructType, TimestampType


def get_spark(app_name: str = "dcosb-cassandra-spark", cpus: str | None = None) -> SparkSession:
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS") or "*"
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
    )
    return ship_package(builder.getOrCreate())


def _package_zip() -> str:
    """Build (or reuse) a zip of this package for ``addPyFile`` shipping,
    rebuilt whenever any source file is newer than the cached zip. The zip
    roots the archive at ``dcosb_cassandra_spark/`` so it is importable
    directly off PYTHONPATH."""
    import tempfile
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    sources = []
    for dirpath, dirnames, filenames in os.walk(pkg_dir):
        dirnames[:] = [d for d in dirnames if d != "__pycache__"]
        sources.extend(
            os.path.join(dirpath, f) for f in filenames if f.endswith(".py")
        )
    newest = max(os.stat(s).st_mtime for s in sources)
    zip_path = os.path.join(
        tempfile.gettempdir(), "dcosb_cassandra_spark_pyfiles.zip"
    )
    if not (os.path.exists(zip_path) and os.stat(zip_path).st_mtime >= newest):
        fd, tmp = tempfile.mkstemp(suffix=".zip", dir=tempfile.gettempdir())
        os.close(fd)
        with zipfile.ZipFile(tmp, "w") as z:
            for s in sorted(sources):
                z.write(
                    s,
                    os.path.join(
                        "dcosb_cassandra_spark", os.path.relpath(s, pkg_dir)
                    ),
                )
        os.replace(tmp, zip_path)
    return zip_path


def ship_package(spark: SparkSession) -> SparkSession:
    """Make this package importable by EXECUTOR-spawned Python workers.

    ``local[*]`` forks Python workers from the driver, which inherits the
    repo's sys.path — so a pandas UDF that references a module-level helper
    (cloudpickle serializes it by module REFERENCE, not by value) imports
    fine. On any multi-JVM deployment (``local-cluster``, YARN, k8s) the
    executor spawns the worker and the package is NOT on its path: the
    import fails with ModuleNotFoundError before the first Arrow batch.
    Shipping the package zip via ``addPyFile`` closes that gap for every
    UDF at once, exactly like ``spark-submit --py-files`` on a real
    cluster. Idempotent per SparkContext."""
    sc = spark.sparkContext
    if not getattr(sc, "_dcosb_pkg_shipped", False):
        sc.addPyFile(_package_zip())
        sc._dcosb_pkg_shipped = True
    return spark


def local_frame(spark: SparkSession, rows: list[tuple], schema: StructType | str) -> DataFrame:
    """Driver-held rows as an Arrow-backed ``LocalRelation``: the one way
    rows held on the driver enter a plan.

    The rows travel inside the plan (``LocalTableScan``), so reading
    them starts no Spark job and no Python worker — unlike a frame made
    from a Python list, whose ``ExistingRDD`` runs a Python worker per
    partition. ``schema`` is a StructType or a DDL string.
    TIMESTAMP and DATE fields also take ISO-8601 text (CQL literals
    arrive as text) or Spark's internal integers (microseconds, days since
    the epoch); naive datetimes are read as UTC, the engine's pinned
    session time zone."""
    struct = schema if isinstance(schema, StructType) else StructType.fromDDL(schema)
    arrow = to_arrow_schema(struct)
    cols = list(zip(*rows)) if rows else [()] * len(struct.fields)
    arrays = []
    for values, field, af in zip(cols, struct.fields, arrow):
        if isinstance(field.dataType, (TimestampType, DateType)):
            iso = dt.datetime if isinstance(field.dataType, TimestampType) else dt.date
            values = [iso.fromisoformat(v) if isinstance(v, str) else v for v in values]
        arrays.append(pa.array(values, type=af.type))
    return spark.createDataFrame(pa.Table.from_arrays(arrays, schema=arrow), struct)


class HeldFrame(ClassicDataFrame):
    """A DataFrame of rows the driver already holds, served without the JVM.

    ``collect()`` returns the held rows and ``schema`` (hence ``columns``
    and ``dtypes``) is the given StructType, with no py4j call. Any other
    use builds the Spark frame on first need through `local_frame`, so
    that stays the one way driver rows enter a plan. ``rows`` hold Spark's
    internal values (``StructType.toInternal``: dates as days, timestamps
    as microseconds since the epoch), which ``collect()`` converts as
    Spark's own collect does, on any host time zone."""

    def __new__(cls, *args, **kwargs):
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, rows: list[tuple], schema: StructType):
        self._session = spark
        self._sc = spark._sc
        self.is_cached = False
        self._support_repr_html = False
        self._held = rows
        self.__dict__["schema"] = schema  # classic `schema` is a cached_property

    @cached_property
    def _jdf(self):
        return local_frame(self._session, self._held, self.schema)._jdf

    def collect(self) -> list:
        return [self.schema.fromInternal(r) for r in self._held]


#: entries kept per `plan_memo` namespace. Keys embed the generation
#: (appId, corpus mtime, frame identity), so eviction never serves a
#: stale value: an evicted live entry rebuilds on next use.
MEMO_CAP = 8


class _Memo:
    """One `plan_memo` namespace: key -> (pin, value) in insertion order
    (oldest first), the lock guarding it, the counters `memo_stats`
    reports, and the ``release`` called on every value it drops."""

    def __init__(self, release=None):
        self.entries: dict = {}
        self.lock = threading.Lock()
        self.release = release
        self.hits = self.misses = self.evictions = 0

    def _drop(self, values: list) -> None:
        if self.release is not None:
            for v in values:
                self.release(v)


def _unpersist(value: tuple) -> None:
    """Free the executor blocks (cache or local checkpoint) that a dropped
    serving structure's first element holds."""
    try:
        value[0].unpersist()
    except Exception:
        pass  # context already stopped: the blocks died with it


#: every memo namespace of the engine, listed by system_views.caches from
#: import on; the two that hold executor blocks release what they drop
_MEMOS = {
    ns: _Memo(_unpersist if ns in ("ivf_index_ram", "knn_graph") else None)
    for ns in (
        "bigram_map", "bigram_model", "bpe_merges", "chunk_dir", "codebook",
        "gif_store_dir", "index_epoch", "ivf_index_dirs", "ivf_index_ram",
        "knn_graph", "lsh_candidates", "nation_fold", "ordered_events_dir",
        "quality_model", "query_batch", "query_batch_df", "query_frame",
        "stream_dir", "vocab_hash_est",
    )
}


def plan_memo(namespace: str, key, build, pin=None):
    """The value memoized under ``key`` in ``namespace``, from ``build()``
    on a miss. Reuse holds only under an explicit validity key (appId,
    `generation`, frame id()); ``pin`` is kept with the entry and must be
    the same object at lookup, so a recycled id() or a replaced epoch
    misses. The lock covers the lookup and the insert, never ``build()``:
    when two builds of one key race, the first insert stays and the
    loser's value is released. Past `MEMO_CAP` the oldest entries go."""
    m = _MEMOS[namespace]
    with m.lock:
        hit = m.entries.get(key)
        if hit is not None and hit[0] is pin:
            m.hits += 1
            return hit[1]
        m.misses += 1
    value = build()
    with m.lock:
        hit = m.entries.get(key)
        if hit is not None and hit[0] is pin:
            value, dropped = hit[1], [value]
        else:
            dropped = [] if hit is None else [hit[1]]
            m.entries[key] = (pin, value)
            while len(m.entries) > MEMO_CAP:
                dropped.append(m.entries.pop(next(iter(m.entries)))[1])
            m.evictions += len(dropped)
    m._drop(dropped)
    return value


def memo_evict(namespace: str, match) -> int:
    """Drop (and release) every entry of ``namespace`` whose
    ``match(key, value)`` is true; returns how many went."""
    m = _MEMOS[namespace]
    with m.lock:
        keys = [k for k, (_, v) in m.entries.items() if match(k, v)]
        dropped = [m.entries.pop(k)[1] for k in keys]
        m.evictions += len(dropped)
    m._drop(dropped)
    return len(dropped)


def memo_stats() -> list[tuple[str, int, int, int, int]]:
    """(name, entry_count, hit_count, request_count, eviction_count) per
    namespace, sorted by name: the rows of system_views.caches."""
    rows = []
    for ns, m in sorted(_MEMOS.items()):
        with m.lock:
            rows.append((ns, len(m.entries), m.hits, m.hits + m.misses, m.evictions))
    return rows


def generation(sf_dir: str, *tables: str) -> tuple:
    """(path, mtime_ns) of each table's parquet file, flattened: the
    corpus-generation part of a memo key."""
    out: tuple = ()
    for t in tables:
        path = os.path.join(sf_dir, f"{t}.parquet")
        out += (path, os.stat(path).st_mtime_ns)
    return out


def spread_width(spark: SparkSession) -> int:
    """Partition count for pre-join round-robin spreads (the d2b/d2h
    pattern: the probe side arrives as one input split, so it is
    repartitioned BEFORE a pair-enumerating join to parallelize the pair
    stream). These stages are COMPUTE-bound (each probe row fans out into
    its bucket's pair stream), so the width must track cores, not the
    byte-sized ``spark.sql.shuffle.partitions`` — benchmarked on d2b at
    sf0.1: width 8 = 27 s, width 2×cores = 9.7 s on local[32]. The 2×
    oversubscription evens out per-bucket skew between tasks."""
    return max(
        2 * spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "32") or 32),
    )


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Pin the runtime-settable confs this engine's semantics depend on.

    Called by the catalog loader so queries behave identically even when the
    harness hands us a SparkSession we did not build (the driver does).
    UTC matters: parquet timestamps are tz-naive and the DuckDB oracle
    truncates/compares them naively (FIXTURES.md "Oracle-parity gotchas").
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    # Streaming micro-batches don't get AQE partition coalescing, so a
    # driver-built session's default 200 shuffle partitions means 200
    # state-store tasks per tiny micro-batch — pin to the engine default.
    spark.conf.set(
        "spark.sql.shuffle.partitions", os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32")
    )
    # events.ts is parquet TIMESTAMP(NANOS); Spark 4 only reads it via this
    # legacy flag (as a nanos long) — the catalog converts it to micros.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # State-store provider: pin the Spark default. c6e's transformWithState
    # path switches the SHARED session to RocksDB (_bootstrap_tws) and a
    # leaked RocksDB provider + temporary checkpoints intermittently loses
    # state files under load (the r13 c10c/c10d full-suite flake —
    # FileNotFoundException in the store maintenance thread; both pass in
    # isolation). Every query entry calls ensure_engine_conf first, so each
    # replay now starts from the provider its semantics were validated on;
    # c6e re-selects RocksDB after this, for its own run only.
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider",
    )
    # Driver-built sessions may target a real multi-executor cluster: ship
    # the package so module-referencing UDFs import on executor-side workers.
    return ship_package(spark)
