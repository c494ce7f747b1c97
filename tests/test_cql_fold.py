"""CqlSession's two read paths agree. A read that pins its partition key is
served by the Python fold of the named partitions (``_pinned_fold``); with
``FAST_READ_MAX_ROWS`` patched to 0 every read takes the Spark merge
(``snapshot``) instead. Over random statement sequences, and across the DDL
that rewrites the memtable, both paths return the same rows with the same
Spark types, and the LWT probes ``_row_exists`` / ``_cell_value`` give the
same answers."""

from __future__ import annotations

import contextlib

import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dcosb_cassandra_spark import cql_session
from dcosb_cassandra_spark.cql import InvalidRequest
from dcosb_cassandra_spark.cql_session import CqlSession

from .conftest import SMOKE_SF_DIR


@contextlib.contextmanager
def spark_merge():
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cql_session, "FAST_READ_MAX_ROWS", 0)
        yield


def _result(df, ordered: bool):
    rows = [tuple(r) for r in df.collect()]
    return df.dtypes, rows if ordered else sorted(rows, key=repr)


def assert_paths_agree(sess: CqlSession, stmt: str) -> list[tuple]:
    ordered = "ORDER BY" in stmt.upper()
    fast = _result(sess.execute(stmt), ordered)
    with spark_merge():
        slow = _result(sess.execute(stmt), ordered)
    assert fast == slow, stmt
    return fast[1]


def assert_probes_agree(sess: CqlSession, tbl: str, key: dict, col: str) -> None:
    fast = (sess._row_exists(tbl, key), sess._cell_value(tbl, key, col))
    with spark_merge():
        slow = (sess._row_exists(tbl, key), sess._cell_value(tbl, key, col))
    assert fast == slow, (tbl, key)


#: USING TIMESTAMP choices; "small"/"big" become distinct values per
#: statement so no two explicit writes tie (the Spark merge breaks a full
#: tie between equal values arbitrarily)
_TS = st.sampled_from([None, None, None, "zero", "neg", "small", "big"])
_TTL = st.sampled_from([None, None, 1, 60, 86400])


def _using(i: int, ts, ttl, used: set) -> str:
    wts = {"zero": 0, "neg": -1, "small": 5 + i, "big": 2 * 10**15 + i}.get(ts)
    if wts in used:
        wts = None
    used.add(wts)
    parts = ([f"TTL {ttl}"] if ttl else []) + ([f"TIMESTAMP {wts}"] if wts is not None else [])
    return " USING " + " AND ".join(parts) if parts else ""


CUST_KEYS = [1, 2, 3, 900001]


@st.composite
def customer_ops(draw):
    kind = draw(st.sampled_from(
        ["insert", "insert", "update", "update", "delete", "delete_cell", "truncate",
         "insert_ine", "update_if"]
    ))
    return kind, draw(st.sampled_from(CUST_KEYS)), draw(_TS), draw(_TTL), draw(
        st.sampled_from(["BUILDING", "MACHINERY", "AUTOMOBILE"]))


def _customer_stmt(i: int, op, used: set) -> str:
    kind, k, ts, ttl, seg = op
    if kind == "insert":
        return (f"INSERT INTO customer (c_custkey, c_name, c_acctbal, c_mktsegment) "
                f"VALUES ({k}, 'n{i}', {i}.5, '{seg}'){_using(i, ts, ttl, used)}")
    if kind == "update":
        return (f"UPDATE customer{_using(i, ts, ttl, used)} SET c_acctbal = {i}.25 "
                f"WHERE c_custkey = {k}")
    if kind == "delete":
        return f"DELETE FROM customer{_using(i, ts, None, used)} WHERE c_custkey = {k}"
    if kind == "delete_cell":
        return f"DELETE c_name FROM customer WHERE c_custkey = {k}"
    if kind == "truncate":
        return "TRUNCATE customer"
    if kind == "insert_ine":
        return (f"INSERT INTO customer (c_custkey, c_name, c_mktsegment) "
                f"VALUES ({k}, 'ine{i}', '{seg}') IF NOT EXISTS")
    return (f"UPDATE customer SET c_acctbal = {i}.75 WHERE c_custkey = {k} "
            f"IF c_mktsegment = '{seg}'")


def _run(sess: CqlSession, stmt: str) -> None:
    try:
        sess.execute(stmt)
    except InvalidRequest:
        pass  # e.g. a negative USING TIMESTAMP; both paths see the same session


@settings(max_examples=8, deadline=None)
@given(ops=st.lists(customer_ops(), min_size=1, max_size=8),
       advance_s=st.sampled_from([0, 61]))
def test_customer_paths_agree(spark, ops, advance_s):
    sess = CqlSession(spark, SMOKE_SF_DIR)
    used: set = set()
    for i, op in enumerate(ops):
        stmt = _customer_stmt(i, op, used)
        if " IF " in stmt:
            assert_probes_agree(sess, "customer", {"c_custkey": op[1]}, "c_mktsegment")
        _run(sess, stmt)
    sess.now_micros += advance_s * 1_000_000
    keys = ", ".join(map(str, CUST_KEYS))
    assert_paths_agree(sess, f"SELECT * FROM customer WHERE c_custkey IN ({keys})")
    assert_paths_agree(
        sess,
        f"SELECT c_custkey, c_name, writetime(c_acctbal) AS wt, ttl(c_acctbal) AS t "
        f"FROM customer WHERE c_custkey IN ({keys})",
    )
    assert_paths_agree(sess, f"SELECT * FROM customer WHERE c_custkey = {ops[0][1]}")
    for k in (ops[0][1], ops[-1][1]):
        assert_probes_agree(sess, "customer", {"c_custkey": k}, "c_acctbal")


KV_KEYS = [(1, 1), (1, 2), (2, 1)]


@st.composite
def kv_ops(draw):
    kind = draw(st.sampled_from(
        ["insert", "update", "delete", "delete_cell", "truncate", "insert_ine",
         "update_if", "add", "remove"]
    ))
    return kind, draw(st.sampled_from(KV_KEYS)), draw(_TS), draw(_TTL), draw(
        st.sampled_from(["a", "b"]))


def _kv_stmt(i: int, op, used: set) -> str:
    kind, (k, c), ts, ttl, tag = op
    where = f"WHERE k = {k} AND c = {c}"
    if kind == "insert":
        return (f"INSERT INTO kv (k, c, v, tags) VALUES ({k}, {c}, '{tag}', {{'{tag}'}})"
                f"{_using(i, ts, ttl, used)}")
    if kind == "update":
        return f"UPDATE kv{_using(i, ts, ttl, used)} SET v = '{tag}{i}' {where}"
    if kind == "delete":
        return f"DELETE FROM kv{_using(i, ts, None, used)} {where}"
    if kind == "delete_cell":
        return f"DELETE v FROM kv {where}"
    if kind == "truncate":
        return "TRUNCATE kv"
    if kind == "insert_ine":
        return f"INSERT INTO kv (k, c, v) VALUES ({k}, {c}, 'ine{i}') IF NOT EXISTS"
    if kind == "update_if":
        return f"UPDATE kv SET v = 'if{i}' {where} IF v = '{tag}'"
    op_ = "+" if kind == "add" else "-"
    return f"UPDATE kv SET tags = tags {op_} {{'{tag}'}} {where}"


@settings(max_examples=8, deadline=None)
@given(ops=st.lists(kv_ops(), min_size=1, max_size=8),
       advance_s=st.sampled_from([0, 61]))
def test_created_table_paths_agree(spark, ops, advance_s):
    sess = CqlSession(spark, SMOKE_SF_DIR)
    sess.execute("CREATE TABLE kv (k int, c int, v text, tags set<text>, PRIMARY KEY (k, c))")
    used: set = set()
    for i, op in enumerate(ops):
        stmt = _kv_stmt(i, op, used)
        if " IF " in stmt or "tags = tags" in stmt:
            k, c = op[1]
            assert_probes_agree(sess, "kv", {"k": k, "c": c}, "tags" if "tags" in stmt else "v")
        _run(sess, stmt)
    sess.now_micros += advance_s * 1_000_000
    assert_paths_agree(sess, "SELECT * FROM kv WHERE k IN (1, 2)")
    assert_paths_agree(sess, "SELECT * FROM kv WHERE k = 1 ORDER BY c DESC LIMIT 1")
    assert_paths_agree(
        sess, "SELECT k, c, writetime(v) AS wt, ttl(v) AS t FROM kv WHERE k = 1"
    )
    for k, c in KV_KEYS[:2]:
        assert_probes_agree(sess, "kv", {"k": k, "c": c}, "tags")


def test_iso_text_key_merges_onto_snapshot_row(spark):
    """A write whose timestamp key arrives as ISO text lands on the snapshot
    row it names, on both paths."""
    row = pq.read_table(f"{SMOKE_SF_DIR}/events.parquet").slice(0, 1).to_pylist()[0]
    user, ts, eid = row["user_id"], row["ts"], row["event_id"]
    sess = CqlSession(spark, SMOKE_SF_DIR)
    stmt = f"SELECT * FROM events WHERE user_id = {user}"
    before = assert_paths_agree(sess, stmt)
    sess.execute(
        f"UPDATE events SET event_type = 'iso' WHERE user_id = {user} "
        f"AND ts = '{ts.isoformat(sep=' ')}' AND event_id = {eid}"
    )
    after = assert_paths_agree(sess, stmt)
    assert len(after) == len(before)
    assert sess._pinned_fold("events", {"user_id": [user]}) is not None
    key = {"user_id": user, "ts": ts.isoformat(), "event_id": eid}
    assert sess._cell_value("events", key, "event_type") == "iso"
    assert_probes_agree(sess, "events", key, "event_type")


def test_memtable_index_follows_ddl(spark):
    """DROP TABLE, ALTER ... DROP and RENAME each rewrite the memtable; a
    pinned read after each (the index was built by the read before) equals
    the Spark merge."""
    sess = CqlSession(spark, SMOKE_SF_DIR)

    def check(stmt: str, want: list[tuple]) -> None:
        assert sess._pinned_fold("ix", {"k": [1, 2]}) is not None
        assert assert_paths_agree(sess, stmt) == sorted(want, key=repr)

    sess.execute("CREATE TABLE ix (k int, c int, v text, w text, PRIMARY KEY (k, c))")
    sess.execute("INSERT INTO ix (k, c, v, w) VALUES (1, 1, 'a', 'b')")
    sess.execute("UPDATE ix SET w = 'only' WHERE k = 1 AND c = 2")
    check("SELECT * FROM ix WHERE k = 1", [(1, 1, "a", "b"), (1, 2, None, "only")])

    # row (1, 2) lived through its w cell alone
    sess.execute("ALTER TABLE ix DROP w")
    check("SELECT * FROM ix WHERE k = 1", [(1, 1, "a")])

    sess.execute("ALTER TABLE ix RENAME c TO cc")
    sess.execute("INSERT INTO ix (k, cc, v) VALUES (1, 3, 'c')")
    check("SELECT * FROM ix WHERE k = 1", [(1, 1, "a"), (1, 3, "c")])

    sess.execute("DROP TABLE ix")
    sess.execute("CREATE TABLE ix (k int, c int, v text, PRIMARY KEY (k, c))")
    sess.execute("INSERT INTO ix (k, c, v) VALUES (2, 1, 'new')")
    check("SELECT * FROM ix WHERE k IN (1, 2)", [(2, 1, "new")])
