"""CQL write-path semantics (SURVEY.md §2 A18–A26): upsert/LWW, tombstone
deletes, TTL, writetime, counters, collection mutations, batches, LWT,
materialized views — the distinctive Cassandra layer, all window/groupBy
compositions over the mutation log (sources/mutations.py + functions/lww.py).

[PK anchors: `db/Mutation.java`, `db/rows/Row.java` merge,
`db/DeletionInfo.java`, `cql3/Attributes.java` (TTL),
`db/counters/CounterContext.java`, `cql3/Operation.java` (collections),
`cql3/statements/BatchStatement.java`, `service/paxos/` (LWT), `db/view/`.]
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import table
from ..functions.lww import lww_compact
from ..registry import query
from ..streaming.streams import foreach_batch
from ..sources.mutations import row_mutation_log, upsert_log

#: deterministic "now" for TTL queries (oracle can't see a moving clock);
#: mid-range of the events ts span (2024-01-01 … 2024-01-30, FIXTURES.md)
TTL_NOW = "2024-01-20 00:00:00"

_LWW_CELL_ORACLE = """
    SELECT user_id, event_type, round(value, 4) AS latest_payload,
           epoch_us(ts) AS writetime
    FROM (
        SELECT user_id, event_type, value, ts,
               row_number() OVER (PARTITION BY user_id, event_type
                                  ORDER BY ts DESC, event_id DESC) AS rn
        FROM events
    ) WHERE rn = 1
"""


@query("a18_upsert_lww", oracle=_LWW_CELL_ORACLE, tags=("A18", "P0"))
def a18_upsert_lww(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INSERT/UPDATE-as-upsert: compact the cell mutation log, latest
    writetime wins per (partition key, clustering key)."""
    log = upsert_log(spark, sf_dir)
    live = lww_compact(
        log, ["user_id", "event_type"], tiebreak_col="mutation_id"
    )
    return live.select(
        "user_id",
        "event_type",
        F.round("payload", 4).alias("latest_payload"),
        "writetime",
    )


@query(
    "a19_delete_tombstones",
    oracle="""
        SELECT user_id, payload_type AS live_type, round(payload, 4) AS live_payload
        FROM (
            SELECT user_id, event_type AS payload_type, value AS payload,
                   event_type = 'error' AS tombstone,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1 AND NOT tombstone
    """,
    tags=("A19", "P1"),
)
def a19_delete_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETE via tombstones: a delete marker shadows all older writes for
    its key; a newer upsert resurrects the key. Users whose latest mutation
    is a tombstone vanish from the live view."""
    log = row_mutation_log(spark, sf_dir)
    live = lww_compact(log, ["user_id"], tiebreak_col="mutation_id")
    return live.select(
        "user_id",
        F.col("payload_type").alias("live_type"),
        F.round("payload", 4).alias("live_payload"),
    )


@query(
    "a20_ttl_expiry",
    oracle=f"""
        SELECT event_type,
               count(*) FILTER (WHERE ts + INTERVAL 7 DAY >  TIMESTAMP '{TTL_NOW}') AS n_live,
               count(*) FILTER (WHERE ts + INTERVAL 7 DAY <= TIMESTAMP '{TTL_NOW}') AS n_expired,
               max(CASE WHEN ts + INTERVAL 7 DAY > TIMESTAMP '{TTL_NOW}'
                        THEN (epoch_us(ts + INTERVAL 7 DAY) - epoch_us(TIMESTAMP '{TTL_NOW}')) // 1000000
                   END) AS max_ttl_remaining_s
        FROM events GROUP BY event_type
    """,
    tags=("A20", "P1"),
)
def a20_ttl_expiry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """USING TTL 7d + ttl() readback: expires_at = writetime + ttl; the read
    path filters expired cells (Cassandra purges them at compaction — here
    the filter IS the purge). Deterministic fixed 'now' so the oracle can
    replay. ttl() = seconds until expiry, floor — matching CQL's int ttl."""
    e = table(spark, sf_dir, "events")
    expires_at = F.col("ts") + F.expr("INTERVAL 7 DAY")
    now = F.lit(TTL_NOW).cast("timestamp")
    live = expires_at > now
    ttl_s = (F.unix_micros(expires_at) - F.unix_micros(now)) / F.lit(1_000_000)
    return e.groupBy("event_type").agg(
        F.count(F.when(live, 1)).alias("n_live"),
        F.count(F.when(~live, 1)).alias("n_expired"),
        F.max(F.when(live, F.floor(ttl_s))).alias("max_ttl_remaining_s"),
    )


@query(
    "a21_writetime_readback",
    oracle="""
        SELECT event_id, user_id, epoch_us(ts) AS writetime_us,
               make_timestamp(epoch_us(ts)) AS write_ts
        FROM events WHERE event_id <= 40
    """,
    tags=("A21", "P1"),
)
def a21_writetime_readback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WRITETIME(col): cell timestamps are explicit epoch-micros columns in
    the Spark mapping (SURVEY §1.2) — selecting them IS the function."""
    e = table(spark, sf_dir, "events")
    wt = F.unix_micros("ts")
    return e.filter(F.col("event_id") <= 40).select(
        "event_id",
        "user_id",
        wt.alias("writetime_us"),
        F.timestamp_micros(wt).alias("write_ts"),
    )


@query(
    "a22_counter_updates",
    oracle="""
        SELECT user_id, count(*) AS n_increments, round(sum(value), 4) AS counter_value
        FROM events GROUP BY user_id
    """,
    tags=("A22", "P1"),
)
def a22_counter_updates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Counter column: the only legal op is c = c ± delta, so the merged
    state is sum(delta) per key — commutative/associative, i.e. a partial
    aggregate. This is why counters scale: map-side combine does most of
    the merge before the single key shuffle."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_increments"),
        F.round(F.sum("value"), 4).alias("counter_value"),
    )


@query(
    "a23_collection_mutations",
    oracle="""
        SELECT user_id,
               array_to_string(list_sort(list_distinct(list(event_type))), '|') AS type_set,
               count(*) AS n_appends
        FROM events GROUP BY user_id
    """,
    tags=("A23", "P1"),
)
def a23_collection_mutations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection mutations: set<text> built by repeated `s = s + {v}`
    updates → distinct-accumulate per key; list append count alongside.
    Sorted, then serialized with array_join: no raw array column may reach
    the output projection (the driver's pandas canonicalizer crashes on
    unhashable list cells in sort_values)."""
    e = table(spark, sf_dir, "events")
    return e.groupBy("user_id").agg(
        F.array_join(F.array_sort(F.collect_set("event_type")), "|").alias("type_set"),
        F.count(F.lit(1)).alias("n_appends"),
    )


@query("a24_batch_write", oracle=_LWW_CELL_ORACLE, tags=("A24", "P2"))
def a24_batch_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BEGIN BATCH: two mutation batches (split by mutation id parity)
    unioned into one log, compacted once — batch atomicity degenerates to
    single-compaction visibility in a snapshot engine. Result must equal
    the unbatched upsert path (same oracle as a18), demonstrating
    commutativity of batch boundaries."""
    log = upsert_log(spark, sf_dir)
    batch1 = log.filter(F.col("mutation_id") % 2 == 0)
    batch2 = log.filter(F.col("mutation_id") % 2 == 1)
    merged = batch1.unionByName(batch2)
    live = lww_compact(merged, ["user_id", "event_type"], tiebreak_col="mutation_id")
    return live.select(
        "user_id",
        "event_type",
        F.round("payload", 4).alias("latest_payload"),
        "writetime",
    )


@query(
    "a25_lwt_insert_if_not_exists",
    oracle="""
        SELECT count(*) FILTER (WHERE NOT EXISTS
                  (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)) AS n_inserted,
               count(*) FILTER (WHERE EXISTS
                  (SELECT 1 FROM events e WHERE e.user_id = c.c_custkey)) AS n_rejected
        FROM customer c
    """,
    tags=("A25", "P2"),
)
def a25_lwt_insert_if_not_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LWT INSERT IF NOT EXISTS, batch-emulated: candidate keys (customer
    ids) conditionally insert into the user-state table — applied = anti
    join, rejected = semi join. (No Paxos needed in a single-engine
    snapshot; noted out-of-scope per SURVEY A35.)"""
    c = table(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))
    existing = table(spark, sf_dir, "events").select(F.col("user_id").alias("k")).distinct()
    inserted = c.join(existing, "k", "left_anti").agg(F.count(F.lit(1)).alias("n_inserted"))
    rejected = c.join(existing, "k", "left_semi").agg(F.count(F.lit(1)).alias("n_rejected"))
    return inserted.crossJoin(rejected)


@query(
    "a26_materialized_view",
    oracle="""
        SELECT event_type, count(*) AS n_keys, round(avg(value), 6) AS avg_payload
        FROM (
            SELECT user_id, event_type, value,
                   row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1
        GROUP BY event_type
    """,
    tags=("A26", "P1"),
)
def a26_materialized_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized view: the compacted base table re-keyed by a non-key
    column (event_type) — a derived DataFrame repartitioned on the new key.
    Incremental maintenance twin (foreachBatch) in streaming/streams.py."""
    log = upsert_log(spark, sf_dir)
    base = lww_compact(log, ["user_id", "event_type"], tiebreak_col="mutation_id")
    return (
        base.repartition("event_type")
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_keys"), F.round(F.avg("payload"), 6).alias("avg_payload"))
    )


@query(
    "a19b_range_tombstones",
    oracle="""
        WITH dels AS (
            SELECT DISTINCT user_id,
                   TIMESTAMP '2024-01-10 00:00:00' AS del_from,
                   TIMESTAMP '2024-01-15 00:00:00' AS del_to,
                   epoch_us(TIMESTAMP '2024-01-20 00:00:00') AS del_wt
            FROM events WHERE user_id % 3 = 0
        )
        SELECT e.user_id, count(*) AS n_live, round(sum(e.value), 4) AS live_value
        FROM events e LEFT JOIN dels d
          ON d.user_id = e.user_id
         AND e.ts >= d.del_from AND e.ts < d.del_to
         AND epoch_us(e.ts) < d.del_wt
        WHERE d.user_id IS NULL
        GROUP BY e.user_id
    """,
    tags=("A19", "P1"),
)
def a19b_range_tombstones(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range tombstones (SURVEY §7 hard part): a range delete shadows only
    cells inside the clustering range with OLDER writetime — NOT a plain
    window: it needs the interval join + writetime comparison. Fixture:
    every user_id % 3 == 0 gets a delete of clustering range
    [Jan 10, Jan 15) issued at Jan 20; all event cells predate the delete,
    so in-range cells vanish and out-of-range cells survive.

    Scale: no explicit broadcast hint on the delete set — it is derived
    from a scaling table (distinct user_ids, linear in SF), and an explicit
    hint cannot be demoted by AQE; AQE broadcasts it at runtime while it
    fits and falls back to a shuffle join when it no longer does."""
    e = table(spark, sf_dir, "events")
    dels = (
        e.filter(F.col("user_id") % 3 == 0)
        .select("user_id")
        .distinct()
        .select(
            F.col("user_id").alias("d_user"),
            F.lit("2024-01-10 00:00:00").cast("timestamp").alias("del_from"),
            F.lit("2024-01-15 00:00:00").cast("timestamp").alias("del_to"),
            F.unix_micros(F.lit("2024-01-20 00:00:00").cast("timestamp")).alias("del_wt"),
        )
    )
    shadowed = (
        (F.col("d_user") == F.col("user_id"))
        & (F.col("ts") >= F.col("del_from"))
        & (F.col("ts") < F.col("del_to"))
        & (F.unix_micros("ts") < F.col("del_wt"))
    )
    return (
        e.join(dels, shadowed, "left_anti")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_live"), F.round(F.sum("value"), 4).alias("live_value"))
    )


_CDC_T1, _CDC_T2 = "2024-01-10 00:00:00", "2024-01-20 00:00:00"


@query(
    "c12_cdc_change_feed",
    oracle=f"""
        WITH m AS (
            SELECT user_id, event_type AS payload_type, value AS payload,
                   epoch_us(ts) AS writetime, event_id AS mutation_id,
                   event_type = 'error' AS tombstone
            FROM events
        ),
        l1 AS (
            SELECT * FROM (
                SELECT m.*, row_number() OVER (PARTITION BY user_id
                            ORDER BY writetime DESC, mutation_id DESC) AS rn
                FROM m WHERE writetime <= epoch_us(TIMESTAMP '{_CDC_T1}')
            ) WHERE rn = 1
        ),
        l2 AS (
            SELECT * FROM (
                SELECT m.*, row_number() OVER (PARTITION BY user_id
                            ORDER BY writetime DESC, mutation_id DESC) AS rn
                FROM m WHERE writetime <= epoch_us(TIMESTAMP '{_CDC_T2}')
            ) WHERE rn = 1
        ),
        feed AS (
            SELECT l2.user_id,
                   NOT coalesce(l1.tombstone, TRUE) AS live1,
                   NOT l2.tombstone AS live2,
                   l1.payload_type AS old_type, l1.payload AS old_payload,
                   l2.payload_type AS new_type, l2.payload AS new_payload
            FROM l2 LEFT JOIN l1 USING (user_id)
        )
        SELECT user_id,
               CASE WHEN NOT live1 AND live2 THEN 'INSERT'
                    WHEN live1 AND NOT live2 THEN 'DELETE'
                    ELSE 'UPDATE' END AS op,
               CASE WHEN live1 THEN old_type END AS old_type,
               CASE WHEN live1 THEN round(old_payload, 4) END AS old_payload,
               CASE WHEN live2 THEN new_type END AS new_type,
               CASE WHEN live2 THEN round(new_payload, 4) END AS new_payload
        FROM feed
        WHERE (NOT live1 AND live2) OR (live1 AND NOT live2)
           OR (live1 AND live2 AND (old_payload != new_payload
                                    OR old_type != new_type))
    """,
    tags=("C8", "A18", "A19", "P1"),
)
def c12_cdc_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change feed [PK `cdc=true` table property, `db/commitlog/
    CommitLogReader.java`]: the per-key delta between the LWW states at two
    snapshot times t1 < t2 — op INSERT (dead/absent → live), DELETE
    (live → tombstoned), UPDATE (live → live with changed cell), with
    before/after images. Downstream consumers (search indexers, caches,
    replication targets) apply exactly this feed.

    Scale shape: ONE hash aggregate on the partition key — both snapshot
    states come from conditional struct-max aggregates (lexicographic
    (writetime, mutation_id) max = LWW order), which partial-aggregate
    map-side, so the log is scanned once and shuffled once; no self-join
    of the mutation log and no window. The log is append-only and t1 < t2,
    so the t2 state exists wherever the t1 state does (the LEFT JOIN in
    the oracle is the same containment)."""
    log = row_mutation_log(spark, sf_dir)

    def state_at(bound: str):
        cutoff = F.unix_micros(F.lit(bound).cast("timestamp"))
        return F.max(
            F.when(
                F.col("writetime") <= cutoff,
                F.struct("writetime", "mutation_id", "tombstone", "payload_type", "payload"),
            )
        )

    agg = log.groupBy("user_id").agg(
        state_at(_CDC_T1).alias("s1"), state_at(_CDC_T2).alias("s2")
    )
    live1 = F.col("s1").isNotNull() & ~F.col("s1.tombstone")
    live2 = F.col("s2").isNotNull() & ~F.col("s2.tombstone")
    changed = (F.col("s1.payload") != F.col("s2.payload")) | (
        F.col("s1.payload_type") != F.col("s2.payload_type")
    )
    op = (
        F.when(~live1 & live2, F.lit("INSERT"))
        .when(live1 & ~live2, F.lit("DELETE"))
        .when(live1 & live2 & changed, F.lit("UPDATE"))
    )
    return (
        agg.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            "user_id",
            "op",
            F.when(live1, F.col("s1.payload_type")).alias("old_type"),
            F.when(live1, F.round("s1.payload", 4)).alias("old_payload"),
            F.when(live2, F.col("s2.payload_type")).alias("new_type"),
            F.when(live2, F.round("s2.payload", 4)).alias("new_payload"),
        )
    )


@query(
    "c12b_cdc_stream_consumer",
    oracle=f"""
        WITH m AS (
            SELECT user_id, event_type AS payload_type, value AS payload,
                   epoch_us(ts) AS writetime, event_id AS mutation_id,
                   event_type = 'error' AS tombstone
            FROM events
        ),
        l1 AS (
            SELECT * FROM (
                SELECT m.*, row_number() OVER (PARTITION BY user_id
                            ORDER BY writetime DESC, mutation_id DESC) AS rn
                FROM m WHERE writetime <= epoch_us(TIMESTAMP '{_CDC_T1}')
            ) WHERE rn = 1
        ),
        l2 AS (
            SELECT * FROM (
                SELECT m.*, row_number() OVER (PARTITION BY user_id
                            ORDER BY writetime DESC, mutation_id DESC) AS rn
                FROM m WHERE writetime <= epoch_us(TIMESTAMP '{_CDC_T2}')
            ) WHERE rn = 1
        ),
        feed AS (
            SELECT l2.user_id,
                   NOT coalesce(l1.tombstone, TRUE) AS live1,
                   NOT l2.tombstone AS live2,
                   l1.payload_type AS old_type, l1.payload AS old_payload,
                   l2.payload_type AS new_type, l2.payload AS new_payload
            FROM l2 LEFT JOIN l1 USING (user_id)
        )
        SELECT user_id,
               CASE WHEN NOT live1 AND live2 THEN 'INSERT'
                    WHEN live1 AND NOT live2 THEN 'DELETE'
                    ELSE 'UPDATE' END AS op,
               CASE WHEN live1 THEN old_type END AS old_type,
               CASE WHEN live1 THEN round(old_payload, 4) END AS old_payload,
               CASE WHEN live2 THEN new_type END AS new_type,
               CASE WHEN live2 THEN round(new_payload, 4) END AS new_payload
        FROM feed
        WHERE (NOT live1 AND live2) OR (live1 AND NOT live2)
           OR (live1 AND live2 AND (old_payload != new_payload
                                    OR old_type != new_type))
    """,
    tags=("C12", "C9", "C8", "P1"),
)
def c12b_cdc_stream_consumer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C12's CDC feed produced by an ACTUAL streaming consumer: the
    mutation log replays availableNow and a foreachBatch loop maintains
    the two snapshot LWW states by merging each micro-batch's conditional
    struct-max winners (max by (writetime, mutation_id) is associative,
    so per-batch winners merge to the exact global winner regardless of
    batch boundaries). The final feed is computed from the merged states
    and graded against the SAME oracle as batch c12 — proving the
    changefeed a streaming consumer accumulates equals the batch delta.

    Scale: the state never touches the driver — each micro-batch APPENDS
    its per-key winner set (O(batch keys) rows, partial-aggregated
    map-side) to a keyed parquet state store, and the final states are a
    distributed struct-max groupBy over the store — the same associative
    merge, executed as one shuffle over O(keys x batches) winner rows.
    A production consumer would compact the store per batch (Delta MERGE
    or transformWithState); append-then-merge is the same algebra with
    the compaction deferred to read time. The store root comes from
    SPARK_GRAFT_STATE_DIR (default: the local tmpdir — fine on this
    single-host harness, but on a multi-node cluster it MUST be shared
    storage reachable by every executor, e.g. an HDFS/S3 checkpoint
    path, or each executor appends to its own local disk and the merge
    read misses data). The raw append store is deleted right after
    compaction and the compacted store at interpreter exit."""
    from ..session import ensure_engine_conf
    from ..streaming.streams import read_events_stream
    from .streaming_batch import _stage_stream_dir

    ensure_engine_conf(spark)
    stream = read_events_stream(spark, _stage_stream_dir(sf_dir, "events"))
    log = stream.select(
        "user_id",
        F.col("event_type").alias("payload_type"),
        F.col("value").alias("payload"),
        F.unix_micros("ts").alias("writetime"),
        F.col("event_id").alias("mutation_id"),
        (F.col("event_type") == "error").alias("tombstone"),
    )

    def state_at(bound: str):
        cutoff = F.unix_micros(F.lit(bound).cast("timestamp"))
        return F.max(
            F.when(
                F.col("writetime") <= cutoff,
                F.struct(
                    "writetime", "mutation_id", "tombstone", "payload_type", "payload"
                ),
            )
        )

    import atexit
    import os
    import shutil
    import tempfile

    state_root = os.environ.get("SPARK_GRAFT_STATE_DIR") or tempfile.gettempdir()
    state_dir = tempfile.mkdtemp(prefix="c12b_keyed_state_", dir=state_root)

    def merge(batch_df: DataFrame, _bid: int) -> None:
        # winner set per key for THIS batch only — O(batch keys) rows,
        # written distributed; nothing is collected to the driver.
        batch_df.groupBy("user_id").agg(
            state_at(_CDC_T1).alias("s1"), state_at(_CDC_T2).alias("s2")
        ).write.mode("append").parquet(state_dir)

    foreach_batch(log, merge)

    # Distributed compaction: struct max is lexicographic on (writetime,
    # mutation_id, ...) and (writetime, mutation_id) is unique, so the
    # max of per-batch winners IS the global LWW winner. The explicit
    # schema keeps a zero-micro-batch replay (empty events stream → no
    # parquet files under state_dir) an empty feed rather than a
    # schema-inference error.
    _winner = (
        "struct<writetime:bigint,mutation_id:bigint,"
        "tombstone:boolean,payload_type:string,payload:double>"
    )
    agg = (
        spark.read.schema(f"user_id bigint, s1 {_winner}, s2 {_winner}")
        .parquet(state_dir)
        .groupBy("user_id")
        .agg(F.max("s1").alias("s1"), F.max("s2").alias("s2"))
    )
    # Compact the append store (production: per-batch Delta MERGE), drop
    # the raw appends now, and the compacted store at exit — the returned
    # plan reads only the compacted store.
    compact_dir = state_dir + "_compacted"
    agg.write.mode("overwrite").parquet(compact_dir)
    shutil.rmtree(state_dir, ignore_errors=True)
    atexit.register(shutil.rmtree, compact_dir, ignore_errors=True)
    agg = spark.read.parquet(compact_dir)
    live1 = F.col("s1").isNotNull() & ~F.col("s1.tombstone")
    live2 = F.col("s2").isNotNull() & ~F.col("s2.tombstone")
    changed = (F.col("s1.payload") != F.col("s2.payload")) | (
        F.col("s1.payload_type") != F.col("s2.payload_type")
    )
    op = (
        F.when(~live1 & live2, F.lit("INSERT"))
        .when(live1 & ~live2, F.lit("DELETE"))
        .when(live1 & live2 & changed, F.lit("UPDATE"))
    )
    return (
        agg.withColumn("op", op)
        .filter(F.col("op").isNotNull())
        .select(
            "user_id",
            "op",
            F.when(live1, F.col("s1.payload_type")).alias("old_type"),
            F.when(live1, F.round("s1.payload", 4)).alias("old_payload"),
            F.when(live2, F.col("s2.payload_type")).alias("new_type"),
            F.when(live2, F.round("s2.payload", 4)).alias("new_payload"),
        )
    )
