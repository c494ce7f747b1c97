"""Structured Streaming twins validated against their oracle-checked batch
counterparts (SURVEY.md §2.C strategy): replay the events parquet with an
availableNow trigger into a memory sink, then compare with the batch
result computed over the same file.
"""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from dcosb_cassandra_spark.catalog import table
from dcosb_cassandra_spark.streaming import streams
from dcosb_cassandra_spark.streaming.streams import await_stream

from .conftest import SMOKE_SF_DIR

STREAM_DIR = os.path.join(os.path.dirname(__file__), "..", ".tmp", "stream_events")


@pytest.fixture(scope="module")
def events_dir():
    """A directory containing ONLY the events parquet (the file-source
    stream needs a dedicated directory)."""
    os.makedirs(STREAM_DIR, exist_ok=True)
    dst = os.path.join(STREAM_DIR, "events.parquet")
    if not os.path.exists(dst):
        shutil.copyfile(os.path.join(SMOKE_SF_DIR, "events.parquet"), dst)
    yield STREAM_DIR


def _run_to_memory(spark, df, name, mode="update"):
    q = streams.c8_write_stream(df, name, mode)
    await_stream(q)
    return spark.sql(f"SELECT * FROM {name}")


def test_c1_tumbling_stream_matches_batch(spark, events_dir):
    stream = streams.read_events_stream(spark, events_dir)
    out = _run_to_memory(spark, streams.c1_tumbling_stream(stream), "c1_sink")
    got = {(r["h"], r["event_type"]): (r["c"], r["s"]) for r in out.collect()}

    e = table(spark, SMOKE_SF_DIR, "events")
    batch = (
        e.groupBy(F.date_trunc("hour", "ts").alias("h"), "event_type")
        .agg(F.count(F.lit(1)).alias("c"), F.round(F.sum("value"), 4).alias("s"))
    )
    want = {(r["h"], r["event_type"]): (r["c"], r["s"]) for r in batch.collect()}
    assert got == want


def test_c3_session_stream_matches_batch(spark, events_dir):
    stream = streams.read_events_stream(spark, events_dir)
    out = _run_to_memory(spark, streams.c3_session_stream(stream), "c3_sink", mode="complete")
    got = {(r["user_id"], r["session_start"]): r["n_events"] for r in out.collect()}

    e = table(spark, SMOKE_SF_DIR, "events")
    batch = (
        e.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )
    want = {(r["user_id"], r["session_start"]): r["n_events"] for r in batch.collect()}
    assert got == want


def test_c5_streaming_dedup_key_set(spark, events_dir):
    stream = streams.read_events_stream(spark, events_dir)
    out = _run_to_memory(spark, streams.c5_dedup_stream(stream), "c5_sink", mode="append")
    got_keys = {(r["user_id"], r["event_type"]) for r in out.collect()}

    e = table(spark, SMOKE_SF_DIR, "events")
    want_keys = {
        (r["user_id"], r["event_type"])
        for r in e.select("user_id", "event_type").distinct().collect()
    }
    assert got_keys == want_keys
    assert out.count() == len(want_keys)


def test_c7_stream_static_join(spark, events_dir):
    stream = streams.read_events_stream(spark, events_dir)
    cust = table(spark, SMOKE_SF_DIR, "customer")
    out = _run_to_memory(spark, streams.c7_stream_static_join(stream, cust), "c7_sink", mode="append")
    n_stream = out.count()
    n_batch = table(spark, SMOKE_SF_DIR, "events").count()
    assert n_stream == n_batch  # left join preserves every event


def test_c9_foreach_batch_view_maintenance(spark, events_dir):
    stream = streams.read_events_stream(spark, events_dir)
    state: dict = {}
    streams.c9_foreach_batch_view_maintenance(stream, state)

    e = table(spark, SMOKE_SF_DIR, "events")
    want = {
        r["event_type"]: r["n"]
        for r in e.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    got = {k: v[0] for k, v in state.items()}
    assert got == want


def test_parse_props_stream(spark, events_dir):
    stream = streams.read_events_stream(spark, events_dir)
    out = _run_to_memory(spark, streams.parse_props_stream(stream), "props_sink", mode="append")
    assert out.filter(F.col("k").isNull()).count() == 0


def test_c6_stateful_running_counts_across_batches(spark, events_dir):
    """Split the events into two files → two micro-batches; the stateful
    operator's final running counts must equal the batch groupBy."""
    two_batch_dir = os.path.join(os.path.dirname(events_dir), "stream_events_2batch")
    if not os.path.exists(two_batch_dir):
        e = table(spark, SMOKE_SF_DIR, "events")
        half = e.count() // 2
        e.filter(e.event_id < half).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(two_batch_dir, "b0")
        )
        e.filter(e.event_id >= half).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(two_batch_dir, "b1")
        )
    raw = (
        spark.readStream.schema(streams.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(two_batch_dir)
    )
    stream = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    out = _run_to_memory(spark, streams.c6_stateful_running_counts(stream), "c6_sink")
    # memory sink in update mode accumulates emissions; final per key = max
    rows = out.collect()
    final = {}
    for r in rows:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
    e = table(spark, SMOKE_SF_DIR, "events")
    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("tv"))
        .collect()
    }
    assert {k: v[0] for k, v in final.items()} == {k: v[0] for k, v in want.items()}


def test_c4_watermark_bounds_state(spark, events_dir):
    """Watermark contract under late data (measured, not assumed): batch 0
    (newest quarter) advances the watermark to max(ts)-10m; batch 1 replays
    events from weeks earlier. Spark aggregates the late rows but finalizes
    their windows immediately — the watermark's hard guarantee is BOUNDED
    STATE (eviction), not strict input dropping. The scale property is the
    state bound: after the late batch, the store holds only the open
    windows, not one per historical hour."""
    late_dir = os.path.join(os.path.dirname(events_dir), "stream_events_late")
    e = table(spark, SMOKE_SF_DIR, "events")
    max_id = e.agg(F.max("event_id")).head()[0]
    if not os.path.exists(late_dir):
        # batch 0: the NEWEST quarter of events (advances watermark far)
        e.filter(e.event_id >= 3 * max_id // 4).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(late_dir, "b0")
        )
        # batch 1: the OLDEST quarter (days earlier -> all late)
        e.filter(e.event_id < max_id // 4).coalesce(1).write.mode("overwrite").parquet(
            os.path.join(late_dir, "b1")
        )
    raw = (
        spark.readStream.schema(streams.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(late_dir)
    )
    stream = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    q = streams.c8_write_stream(streams.c1_tumbling_stream(stream), "c4_late_sink", "append")
    await_stream(q)
    out = spark.sql("SELECT * FROM c4_late_sink")
    assert out.count() > 0, "append-mode sink should contain finalized windows"

    progress = {p["batchId"]: p for p in q.recentProgress}
    assert len(progress) >= 2, "late file must arrive in a second micro-batch"
    first, last = progress[min(progress)], progress[max(progress)]
    # watermark advanced past the late data before the late batch ran
    assert last["eventTime"]["watermark"] > "2024-01-22"
    # state is bounded: late windows were finalized+evicted, not retained
    state_rows = last["stateOperators"][0]["numRowsTotal"]
    open_after_first = first["stateOperators"][0]["numRowsTotal"]
    assert state_rows < open_after_first / 10, (
        f"state not cleaned: {state_rows} rows retained vs {open_after_first} open earlier"
    )


def test_c2_sliding_stream_matches_batch(spark, events_dir):
    stream = streams.read_events_stream(spark, events_dir)
    out = _run_to_memory(spark, streams.c2_sliding_stream(stream), "c2_sink")
    got = {r["w_start"]: (r["n"], r["total"]) for r in out.collect()}

    e = table(spark, SMOKE_SF_DIR, "events")
    batch = (
        e.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("total"))
        .select(F.col("w.start").alias("w_start"), "n", "total")
    )
    want = {r["w_start"]: (r["n"], r["total"]) for r in batch.collect()}
    assert got == want


def test_c9b_incremental_lww_sink(spark, events_dir):
    """Replaying events in two micro-batches through the persisted LWW sink
    must produce exactly the batch lww_compact over the whole log."""
    import shutil

    from dcosb_cassandra_spark.functions.lww import lww_compact
    from dcosb_cassandra_spark.sources.mutations import upsert_log

    state_dir = os.path.join(os.path.dirname(events_dir), "lww_state")
    shutil.rmtree(state_dir, ignore_errors=True)
    os.makedirs(state_dir)
    two_batch_dir = os.path.join(os.path.dirname(events_dir), "stream_events_2batch")
    assert os.path.exists(two_batch_dir), "c6 test creates the 2-batch layout first"

    raw = (
        spark.readStream.schema(streams.EVENTS_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(two_batch_dir)
    )
    stream = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    streams.c9b_incremental_lww_sink(stream, state_dir)

    got = {
        (r["user_id"], r["event_type"]): (r["payload"], r["writetime"])
        for r in spark.read.parquet(os.path.join(state_dir, "current")).collect()
    }
    want_df = lww_compact(
        upsert_log(spark, SMOKE_SF_DIR), ["user_id", "event_type"], tiebreak_col="mutation_id"
    )
    want = {
        (r["user_id"], r["event_type"]): (r["payload"], r["writetime"])
        for r in want_df.collect()
    }
    assert got == want


def test_c10_stream_stream_join_matches_batch(spark, events_dir):
    stream = streams.read_events_stream(spark, events_dir)
    out = _run_to_memory(spark, streams.c10_stream_stream_join(stream), "c10_sink", mode="append")
    got = {(r["purchase_id"], r["click_id"]) for r in out.collect()}

    e = table(spark, SMOKE_SF_DIR, "events")
    clicks = e.filter(e.event_type == "click").select(
        F.col("user_id").alias("c_user"), F.col("event_id").alias("click_id"), F.col("ts").alias("click_ts")
    )
    purchases = e.filter(e.event_type == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("event_id").alias("purchase_id"), F.col("ts").alias("purchase_ts")
    )
    want = {
        (r["purchase_id"], r["click_id"])
        for r in purchases.join(
            clicks,
            (F.col("p_user") == F.col("c_user"))
            & (F.col("click_ts") <= F.col("purchase_ts"))
            & (F.col("click_ts") >= F.col("purchase_ts") - F.expr("INTERVAL 2 HOURS")),
        ).collect()
    }
    assert got == want
    assert len(got) > 0


DOCS_STREAM_DIR = os.path.join(os.path.dirname(__file__), "..", ".tmp", "stream_docs")


@pytest.fixture(scope="module")
def docs_dir():
    os.makedirs(DOCS_STREAM_DIR, exist_ok=True)
    dst = os.path.join(DOCS_STREAM_DIR, "documents.parquet")
    if not os.path.exists(dst):
        shutil.copyfile(os.path.join(SMOKE_SF_DIR, "documents.parquet"), dst)
    yield DOCS_STREAM_DIR


def test_c11_training_ingest_stream_matches_batch(spark, docs_dir):
    """The streaming training-data ingest (quality features + PII redaction
    + dedup fingerprint, stateless) replayed availableNow must equal the
    same expressions run as a batch over the same file — the
    lambda-unification contract for the D-layer's stateless prefix."""
    stream = streams.read_documents_stream(spark, docs_dir)
    out = _run_to_memory(spark, streams.c11_training_ingest_stream(stream), "c11_sink", mode="append")
    got = {r["doc_id"]: (r["n_tokens"], r["uniq_ratio"], r["fingerprint"], r["redacted"])
           for r in out.collect()}

    batch_src = spark.read.parquet(os.path.join(docs_dir, "documents.parquet"))
    toks = F.split(F.col("text"), " ")
    email_rx = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
    url_rx = "https?://[^ ]+"
    batch = batch_src.select(
        "doc_id",
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(F.size(F.array_distinct(toks)) / F.size(toks), 6).alias("uniq_ratio"),
        F.sha2(F.col("text"), 256).alias("fingerprint"),
        F.regexp_replace(
            F.regexp_replace(F.col("text"), email_rx, "<EMAIL>"), url_rx, "<URL>"
        ).alias("redacted"),
    ).filter((F.col("n_tokens") >= 5) & (F.col("uniq_ratio") > 0.2))
    want = {r["doc_id"]: (r["n_tokens"], r["uniq_ratio"], r["fingerprint"], r["redacted"])
            for r in batch.collect()}
    assert got == want and len(got) > 0


def _protobuf_ok() -> bool:
    """Native google.protobuf, else the host's vendored pure-Python copy
    through the alias (vendor/protobuf_alias.py; workers get it via the
    sitecustomize shim conftest puts on PYTHONPATH before the JVM starts)."""
    from dcosb_cassandra_spark.vendor import protobuf_alias

    if not protobuf_alias.enable():
        return False
    try:
        from pyspark.sql.streaming.proto import StateMessage_pb2

        StateMessage_pb2.StateRequest().SerializeToString()
        return True
    except Exception:
        return False


@pytest.mark.skipif(
    not _protobuf_ok(),
    reason="transformWithState's Python runner needs google.protobuf, "
    "absent in this container (operator gated per environment rules)",
)
def test_c6b_transform_with_state_matches_legacy(spark, events_dir):
    """The transformWithState form of C6 must agree with BOTH the
    applyInPandasWithState form and the batch groupBy — two independent
    state APIs, one semantics. Needs the RocksDB state store."""
    two_batch_dir = os.path.join(os.path.dirname(events_dir), "stream_events_2batch")
    assert os.path.exists(two_batch_dir), "c6 test creates the 2-batch layout first"
    prev = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        raw = (
            spark.readStream.schema(streams.EVENTS_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .option("recursiveFileLookup", True)
            .parquet(two_batch_dir)
        )
        stream = raw.withColumn("ts", F.col("ts").cast("timestamp"))
        out = _run_to_memory(
            spark, streams.c6b_stateful_running_counts_tws(stream), "c6b_sink"
        )
        final = {}
        for r in out.collect():
            cur = final.get(r["user_id"])
            if cur is None or r["n_events"] > cur[0]:
                final[r["user_id"]] = (r["n_events"], r["total_value"])
        e = table(spark, SMOKE_SF_DIR, "events")
        want = {
            r["user_id"]: (r["n"], r["tv"])
            for r in e.groupBy("user_id")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("tv"))
            .collect()
        }
        assert final == want
    finally:
        if prev is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", prev)


def test_checkpoint_recovery_exactly_once(spark, tmp_path):
    """Kill a checkpointed stream mid-replay, restart it, and the sink must
    hold every input row EXACTLY once — the fault-tolerance contract a
    100 TB ingest depends on (executor loss / deploys mid-stream). The
    parquet sink's _spark_metadata manifest is what excludes any files a
    killed batch half-wrote; reading the sink through Spark honors it."""
    import time

    src, sink, ckpt = str(tmp_path / "src"), str(tmp_path / "sink"), str(tmp_path / "ck")
    ev = table(spark, SMOKE_SF_DIR, "events").select("event_id", "user_id", "event_type")
    ev.repartition(8).write.parquet(src)

    schema = spark.read.parquet(src).schema
    feat = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def start(trigger_kwargs):
        return (
            feat.writeStream.format("parquet")
            .option("path", sink)
            .option("checkpointLocation", ckpt)
            .outputMode("append")
            .trigger(**trigger_kwargs)
            .start()
        )

    # phase 1: run a few micro-batches (1 file each), then kill mid-replay
    q = start({"processingTime": "50 milliseconds"})
    deadline = time.time() + 90
    while time.time() < deadline:
        p = q.lastProgress
        if p is not None and p["batchId"] >= 2:
            break
        time.sleep(0.2)
    q.stop()
    await_stream(q)

    # phase 2: restart from the SAME checkpoint to completion
    q2 = start({"availableNow": True})
    await_stream(q2)

    got = sorted(r[0] for r in spark.read.parquet(sink).select("event_id").collect())
    want = sorted(r[0] for r in ev.select("event_id").collect())
    assert got == want, (
        f"exactly-once violated: {len(got)} sink rows vs {len(want)} input rows"
    )


def test_c12b_state_store_respects_state_dir_env(spark, tmp_path, monkeypatch):
    """The CDC consumer's keyed state store must stage under
    SPARK_GRAFT_STATE_DIR (on a cluster this is the shared-storage root —
    see the c12b docstring), and the raw append store must be deleted
    after compaction."""
    import os

    from dcosb_cassandra_spark.registry import REGISTRY, load_all

    from .conftest import SMOKE_SF_DIR

    load_all()
    root = tmp_path / "state_root"
    root.mkdir()
    monkeypatch.setenv("SPARK_GRAFT_STATE_DIR", str(root))
    out = REGISTRY["c12b_cdc_stream_consumer"].fn(spark, SMOKE_SF_DIR)
    assert out.count() >= 0
    entries = os.listdir(root)
    # compacted store present (cleaned only at interpreter exit), raw
    # append store already removed
    assert any(e.endswith("_compacted") for e in entries), entries
    assert not any(
        e.startswith("c12b_keyed_state_") and not e.endswith("_compacted")
        for e in entries
    ), entries


def test_c6d_ttl_eviction_emits_fresh_sessions(spark):
    """The state-TTL semantics (r9): a key idle past the TTL has its state
    EVICTED (state.remove() on EventTimeTimeout) and re-emerges as a fresh
    session. The graded c6d replay already proves exact parity with the
    batch gaps-and-islands oracle at 3 SFs; this asserts the eviction
    behaviors directly: (a) some user produced MULTIPLE sessions (state
    was dropped and re-created, not accumulated), (b) session boundaries
    respect the strict >2h gap, (c) every event is in exactly one session
    (nothing double-emitted by closure + timeout)."""
    from dcosb_cassandra_spark.catalog import table
    from dcosb_cassandra_spark.registry import REGISTRY, load_all

    load_all()
    sf_dir = "/root/testdata/sf0.001"
    out = REGISTRY["c6d_state_ttl_replay"].fn(spark, sf_dir)
    rows = out.collect()
    per_user: dict = {}
    for r in rows:
        per_user.setdefault(r["user_id"], []).append(r)
    assert any(len(v) > 1 for v in per_user.values()), "no key was ever evicted"
    ttl_us = 2 * 3600 * 1_000_000
    for sessions in per_user.values():
        sessions.sort(key=lambda r: r["session_start"])
        for a, b in zip(sessions, sessions[1:]):
            gap = (b["session_start"] - a["session_last"]).total_seconds() * 1e6
            assert gap > ttl_us, "two sessions closer than the TTL boundary"
    n_events_total = sum(r["n_events"] for r in rows)
    assert n_events_total == table(spark, sf_dir, "events").count()


def test_c6e_tws_replay_matches_batch(spark):
    """The driver-graded transformWithState row (r10, closing the last r9
    'missing' item): the registered c6e replay must equal the plain batch
    aggregate exactly. The registration itself is gated on the vendored
    protobuf being on disk; where it is absent the row does not exist and
    this test skips — environment boundary, not a failure."""
    from dcosb_cassandra_spark.catalog import table
    from dcosb_cassandra_spark.registry import REGISTRY, load_all

    load_all()
    if "c6e_tws_replay" not in REGISTRY:
        pytest.skip("vendored protobuf absent: c6e not registered")
    sf_dir = "/root/testdata/sf0.001"
    out = REGISTRY["c6e_tws_replay"].fn(spark, sf_dir)
    got = {r["user_id"]: (r["n_events"], r["total_value"]) for r in out.collect()}
    e = table(spark, sf_dir, "events")
    want = {
        r["user_id"]: (r["n"], r["tv"])
        for r in e.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("tv"))
        .collect()
    }
    assert got == want and len(got) > 0


def test_state_store_provider_does_not_leak(spark):
    """The r13 full-suite c10c/c10d flake: c6e's _bootstrap_tws switches
    the SHARED session to the RocksDB state-store provider, and a leaked
    RocksDB provider + temporary checkpoints intermittently lost state
    files in later stream-stream joins (FileNotFoundException in the
    store maintenance thread; green in isolation). Every registered query
    calls ensure_engine_conf first — assert it re-pins the Spark-default
    provider, so the RocksDB selection is contained to the c6e run."""
    from dcosb_cassandra_spark.session import ensure_engine_conf

    key = "spark.sql.streaming.stateStore.providerClass"
    default = (
        "org.apache.spark.sql.execution.streaming.state."
        "HDFSBackedStateStoreProvider"
    )
    ensure_engine_conf(spark)
    assert spark.conf.get(key).endswith("HDFSBackedStateStoreProvider")
    # simulate the c6e leak, then the next query's conf pin
    spark.conf.set(
        key,
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )
    ensure_engine_conf(spark)
    assert spark.conf.get(key) == default


def test_await_stream_raises_on_timeout(spark, tmp_path):
    """await_stream must RAISE on a stream that cannot finish in time —
    returning silently handed graded replays a PARTIAL sink/index (the
    r13 c14 full-suite mismatch). A rate source never terminates, so a
    tiny timeout deterministically exercises the timeout path."""
    df = spark.readStream.format("rate").option("rowsPerSecond", "1").load()
    q = (
        df.writeStream.format("memory")
        .queryName("await_stream_timeout_sink")
        .outputMode("append")
        .start()
    )
    with pytest.raises(TimeoutError, match="partial"):
        await_stream(q, timeout_sec=2)
    assert not q.isActive
