"""CqlSession read path: the Arrow-backed local frames
(`session.local_frame`) that carry driver-held rows into plans, and the
fast path of key-pinned reads, which folds the named partitions in Python
(`CqlSession._pinned_fold`) and runs on a `LocalRelation` without an
Exchange; unpinned reads keep the Spark merge (`CqlSession.snapshot`), and
tests/test_cql_fold.py covers the fallback conditions. Each fast form is
checked against the form it replaces."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from dcosb_cassandra_spark.cql_session import CqlSession
from dcosb_cassandra_spark.operators.llm_quality import _QC_MODEL_SCHEMA
from dcosb_cassandra_spark.operators.llm_text import _BPE_VOCAB_SCHEMA
from dcosb_cassandra_spark.session import local_frame

from .conftest import SMOKE_SF_DIR


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


_TS = dt.datetime(2024, 1, 2, 3, 4, 5)

#: (rows, schema) for the frame shapes the engine builds: the CQL
#: session's, plus the operators' query batch, weights and model rows
LOCAL_SHAPES = {
    "events_memtable": (
        [
            (7, _TS, 99, "event_type", "click", 1_800_000_000_000_001, None, False),
            (7, _TS, 99, "__row__", "1", 1_800_000_000_000_001, 1_800_086_400_000_001, False),
            (8, _TS + dt.timedelta(seconds=1), 5, "*", None, 1_800_000_000_000_002, None, True),
        ],
        "user_id BIGINT, ts TIMESTAMP, event_id BIGINT, column STRING, value STRING, "
        "writetime LONG, expires_at LONG, tombstone BOOLEAN",
    ),
    "applied": ([(True,)], "`[applied]` BOOLEAN"),
    "n_rows": ([(40,)], "n_rows BIGINT"),
    "roles": ([("cassandra", True, True), ("reader", False, None)],
              "role STRING, super BOOLEAN, login BOOLEAN"),
    "types": ([("dcosb", "addr", ["street", "zip"], ["text", "int"])],
              "keyspace_name STRING, type_name STRING, "
              "field_names ARRAY<STRING>, field_types ARRAY<STRING>"),
    "triggers": ([("dcosb", "customer", "audit", {"class": "AuditTrigger"})],
                 "keyspace_name STRING, table_name STRING, "
                 "trigger_name STRING, options MAP<STRING, STRING>"),
    "empty": ([], "peer STRING, data_center STRING, release_version STRING"),
    "query_batch": ([(0, [0.25, -1.5], 1.52), (3, [2.0, 0.0], 2.0)],
                    "query_id long, qe array<double>, qnrm double"),
    "mix_weights": ([("src0", 0.35), ("src1", 0.25)], "source string, p double"),
    "bpe_vocab": ([(1, "t", "h", 812, 40_210), (2, "th", "e", 507, 39_703)],
                  _BPE_VOCAB_SCHEMA),
    "qc_model": ([("w", 0, -1_204), ("loss", 3, 693_147)], _QC_MODEL_SCHEMA),
    "empty_struct": ([], StructType([StructField("query_id", LongType()),
                                     StructField("sim", DoubleType())])),
}


@pytest.mark.parametrize("shape", sorted(LOCAL_SHAPES))
def test_local_frame_matches_list_frame(spark, shape):
    rows, schema = LOCAL_SHAPES[shape]
    got = local_frame(spark, rows, schema=schema)
    want = spark.createDataFrame(rows, schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = _plan(got)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_local_frame_reads_iso_text_timestamps(spark):
    """CQL literals arrive as text; a timestamp key written that way reads
    back as the datetime it names."""
    df = local_frame(
        spark,
        [("2024-01-02 03:04:05", "2024-01-02")], "ts TIMESTAMP, d DATE"
    )
    assert df.collect()[0] == (_TS, dt.date(2024, 1, 2))


@pytest.fixture(scope="module")
def mixed(spark):
    """A session whose memtable holds every cell kind the merge folds."""
    s = CqlSession(spark, SMOKE_SF_DIR)
    s.execute("UPDATE customer SET c_acctbal = 1.5 WHERE c_custkey = 1")
    s.execute("DELETE FROM customer WHERE c_custkey = 2")
    s.execute(
        "INSERT INTO customer (c_custkey, c_name, c_acctbal) "
        "VALUES (3, 'TTL CUST', 9.25) USING TTL 86400"
    )
    s.execute(
        "INSERT INTO customer (c_custkey, c_name, c_mktsegment) "
        "VALUES (900001, 'NEW CUST', 'BUILDING')"
    )
    s.execute(
        "INSERT INTO events (user_id, ts, event_id, event_type) "
        "VALUES (900002, '2024-01-02 03:04:05', 1, 'click')"
    )
    s.execute("CREATE TABLE kv (k int, c int, v text, PRIMARY KEY (k, c))")
    s.execute("INSERT INTO kv (k, c, v) VALUES (1, 1, 'gone')")
    s.execute("INSERT INTO kv (k, c, v) VALUES (2, 1, 'gone')")
    s.execute("TRUNCATE kv")
    s.execute("INSERT INTO kv (k, c, v) VALUES (1, 2, 'kept')")
    s.execute("UPDATE kv SET v = 'upd' WHERE k = 1 AND c = 3")
    return s


def _rows(df) -> list[tuple]:
    return sorted((tuple(r) for r in df.collect()), key=repr)


#: (statement, table, key filter, multi-partition projection or None for *)
PINNED = [
    ("SELECT * FROM customer WHERE c_custkey = 1", "customer",
     "c_custkey = 1", None),
    ("SELECT * FROM customer WHERE c_custkey IN (1, 2, 3, 4, 900001)", "customer",
     "c_custkey IN (1, 2, 3, 4, 900001)", None),
    ("SELECT c_custkey, c_acctbal, writetime(c_acctbal) AS wt, ttl(c_name) AS t "
     "FROM customer WHERE c_custkey IN (1, 3, 5)", "customer",
     "c_custkey IN (1, 3, 5)",
     ["c_custkey", "c_acctbal", "__wt_c_acctbal", "__ttl_c_name"]),
    ("SELECT * FROM events WHERE user_id = 900002", "events",
     "user_id = 900002", None),
    ("SELECT * FROM kv WHERE k IN (1, 2)", "kv", "k IN (1, 2)", None),
    ("SELECT v, writetime(v) AS wt FROM kv WHERE k = 1 AND c = 3", "kv",
     "k = 1 AND c = 3", ["v", "__wt_v"]),
]


@pytest.mark.parametrize("stmt,tbl,key,cols", PINNED, ids=[p[0][:60] for p in PINNED])
def test_pinned_select_matches_multi_partition_merge(mixed, stmt, tbl, key, cols):
    got = mixed.execute(stmt)
    assert "Exchange" not in _plan(got), _plan(got)
    full = mixed.snapshot(tbl, with_writetimes=cols is not None).filter(key)
    assert "Exchange hashpartitioning" in _plan(full)
    want = full.select(*cols) if cols else full
    assert _rows(got) == _rows(want)


@pytest.mark.parametrize(
    "tbl,key",
    [
        ("customer", {"c_custkey": 1}),
        ("customer", {"c_custkey": 2}),
        ("customer", {"c_custkey": 3}),
        ("customer", {"c_custkey": 900001}),
        ("customer", {"c_custkey": 123456789}),
        ("kv", {"k": 1, "c": 1}),
        ("kv", {"k": 1, "c": 2}),
        ("kv", {"k": 1, "c": 3}),
    ],
)
def test_row_exists_and_cell_value_match_multi_partition_merge(mixed, tbl, key):
    assert "Exchange" not in _plan(mixed._key_rows(tbl, key))
    full = mixed.snapshot(tbl)
    for k, v in key.items():
        full = full.filter(F.col(k) == v)
    col = "c_acctbal" if tbl == "customer" else "v"
    want = [r[0] for r in full.select(col).collect()]
    assert mixed._row_exists(tbl, key) == bool(want)
    assert mixed._cell_value(tbl, key, col) == (want[0] if want else None)


def test_unpinned_reads_keep_the_exchange(mixed):
    assert "Exchange hashpartitioning" in _plan(mixed.execute("SELECT * FROM customer"))
    # a clustering-only restriction does not name a partition
    slice_ = mixed.execute("SELECT * FROM kv WHERE c = 2 ALLOW FILTERING")
    assert "Exchange hashpartitioning" in _plan(slice_)
    assert _rows(slice_) == [(1, 2, "kept")]
