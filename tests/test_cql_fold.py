"""CqlSession's read paths agree. A read that pins its partition key is
served by the Python fold of the named partitions (``_pinned_fold``), its
texts typed on the driver and held in a ``HeldFrame``; with
``_held_value`` patched to type nothing the fold's texts take Spark's cast
(``_typed``) instead, and with ``FAST_READ_MAX_ROWS`` patched to 0 every
read takes the Spark merge (``snapshot``). Over random statement
sequences, and across the DDL that rewrites the memtable, the held and the
cast route return the same rows in the same order with the same schema,
the Spark merge the same rows and schema, and the LWT probes
``_row_exists`` / ``_cell_value`` give the same answers on all three."""

from __future__ import annotations

import contextlib
import datetime as dt
import decimal

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from dcosb_cassandra_spark import cql_session
from dcosb_cassandra_spark.cql import InvalidRequest
from dcosb_cassandra_spark.cql_session import CqlSession
from dcosb_cassandra_spark.session import HeldFrame

from .conftest import SMOKE_SF_DIR


@contextlib.contextmanager
def spark_merge():
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cql_session, "FAST_READ_MAX_ROWS", 0)
        yield


@contextlib.contextmanager
def cast_route():
    """The fold's texts go to Spark's cast, as when a text does not type
    on the driver."""
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(cql_session, "_held_value", lambda dtype: None)
        yield


def _result(sess: CqlSession, stmt: str, raises: bool):
    """(frame type, schema, rows in order); with ``raises``, the name of
    the error the statement raised instead (Spark's ANSI cast fails a text
    out of the column's range when the rows are collected)."""
    try:
        df = sess.execute(stmt)
        return type(df).__name__, df.schema, [tuple(r) for r in df.collect()]
    except Exception as e:
        if not raises:
            raise
        return type(e).__name__


def assert_paths_agree(sess: CqlSession, stmt: str, raises: bool = False) -> list[tuple]:
    """The statement's result on the three routes: the session's own
    (held, unless a text does not type) and the cast route agree row for
    row and on the schema; the Spark merge on the schema and the rows, in
    order when the statement has an ORDER BY. With ``raises``, a statement
    may fail, the same way on every route. Returns the rows, sorted unless
    ordered."""
    fast = _result(sess, stmt, raises)
    with cast_route():
        cast = _result(sess, stmt, raises)
    with spark_merge():
        slow = _result(sess, stmt, raises)
    if isinstance(fast, str) or isinstance(cast, str) or isinstance(slow, str):
        assert fast == cast == slow, stmt
        return []
    assert cast[0] != "HeldFrame", stmt
    assert fast[1:] == cast[1:], stmt
    ordered = "ORDER BY" in stmt.upper()
    rows = fast[2] if ordered else sorted(fast[2], key=repr)
    assert (fast[1], rows) == (slow[1], slow[2] if ordered else sorted(slow[2], key=repr)), stmt
    return rows


def assert_probes_agree(sess: CqlSession, tbl: str, key: dict, col: str) -> None:
    fast = (sess._row_exists(tbl, key), sess._cell_value(tbl, key, col))
    with cast_route():
        cast = (sess._row_exists(tbl, key), sess._cell_value(tbl, key, col))
    with spark_merge():
        slow = (sess._row_exists(tbl, key), sess._cell_value(tbl, key, col))
    assert fast == cast == slow, (tbl, key)


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
    assert_paths_agree(sess, "SELECT * FROM kv WHERE k IN (1, 2) ORDER BY c LIMIT 1")
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


def test_in_read_breaks_order_by_ties_by_partition(spark):
    """Rows of two partitions that tie on the ORDER BY column are cut by
    LIMIT in partition-key order, on both paths."""
    sess = CqlSession(spark, SMOKE_SF_DIR)
    sess.execute("CREATE TABLE kv (k int, c int, v text, PRIMARY KEY (k, c))")
    for k in (2, 1):
        sess.execute(f"INSERT INTO kv (k, c, v) VALUES ({k}, 1, 'v{k}')")
        sess.execute(f"INSERT INTO kv (k, c, v) VALUES ({k}, 2, 'w{k}')")
    assert assert_paths_agree(
        sess, "SELECT * FROM kv WHERE k IN (2, 1) ORDER BY c LIMIT 1") == [(1, 1, "v1")]
    assert assert_paths_agree(
        sess, "SELECT k, v FROM kv WHERE k IN (2, 1) ORDER BY c DESC LIMIT 3"
    ) == [(1, "w1"), (2, "w2"), (1, "v1")]


def _codegen_compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_pinned_reads_compile_no_code_per_key(spark):
    """A fold-path read filters no literal in Spark, so reading a new key
    compiles no class: Catalyst would compile a predicate over the
    ``LocalRelation`` for each distinct key literal."""
    sess = CqlSession(spark, SMOKE_SF_DIR)
    keys = [r["c_custkey"] for r in pq.read_table(
        f"{SMOKE_SF_DIR}/customer.parquet", columns=["c_custkey"]).slice(0, 6).to_pylist()]
    sess.execute(f"UPDATE customer SET c_acctbal = 1.5 WHERE c_custkey = {keys[1]}")
    sess.execute(f"SELECT * FROM customer WHERE c_custkey = {keys[0]}").collect()
    before = _codegen_compiles(spark)
    for k in keys[1:]:
        assert sess._pinned_fold("customer", {"c_custkey": [k]}) is not None
        assert len(sess.execute(f"SELECT * FROM customer WHERE c_custkey = {k}").collect()) == 1
    assert _codegen_compiles(spark) == before


def test_spark_merge_keeps_every_filter(spark):
    """The Spark merge applies no restriction itself, so a read that takes
    it still filters on the key, on other columns and on clustering
    ranges, and ``SELECT *`` keeps the columns, in order, that the fold
    path returns."""
    sess = CqlSession(spark, SMOKE_SF_DIR)
    first = pq.read_table(f"{SMOKE_SF_DIR}/customer.parquet").slice(0, 2).to_pylist()
    k0, k1 = (r["c_custkey"] for r in first)
    sess.execute(f"UPDATE customer SET c_name = 'renamed' WHERE c_custkey = {k1}")
    rows = assert_paths_agree(sess, f"SELECT * FROM customer WHERE c_custkey IN ({k0}, {k1})")
    assert len(rows) == 2
    name = first[0]["c_name"]
    assert len(assert_paths_agree(
        sess, f"SELECT * FROM customer WHERE c_custkey = {k0} AND c_name = '{name}' "
              "ALLOW FILTERING")) == 1
    assert assert_paths_agree(
        sess, f"SELECT * FROM customer WHERE c_custkey = {k1} AND c_name = '{name}' "
              "ALLOW FILTERING") == []

    sess.execute("CREATE TABLE kv (k int, c int, v text, PRIMARY KEY (k, c))")
    for c in range(1, 5):
        sess.execute(f"INSERT INTO kv (k, c, v) VALUES (1, {c}, 'v{c}') USING TTL 600")
    assert assert_paths_agree(
        sess, "SELECT c FROM kv WHERE k = 1 AND c > 1 AND c <= 3") == [(2,), (3,)]
    sess.execute("UPDATE kv SET v = 'ttl(v)' WHERE k = 1 AND c = 4")
    # the literal names ttl(), so the source carries the hidden writetime
    # and TTL columns that a lone `*` must not show
    hidden = "SELECT * FROM kv WHERE k = 1 AND v = 'ttl(v)' ALLOW FILTERING"
    for stmt, cols in (("SELECT * FROM kv WHERE k = 1", ["k", "c", "v"]),
                       (hidden, ["k", "c", "v"]),
                       ("SELECT *, writetime(v) AS wt, ttl(v) AS t FROM kv WHERE k = 1",
                        ["k", "c", "v", "wt", "t"])):
        assert sess.execute(stmt).columns == cols, stmt
        with spark_merge():
            assert sess.execute(stmt).columns == cols, stmt
        assert assert_paths_agree(sess, stmt)


#: a scalar column of every type the fold types on the driver:
#: (CQL type of a created table, arrow type of a snapshot column)
SCALARS = {
    "ti": ("tinyint", pa.int8()),
    "si": ("smallint", pa.int16()),
    "i": ("int", pa.int32()),
    "bi": ("bigint", pa.int64()),
    "f": ("float", pa.float32()),
    "d": ("double", pa.float64()),
    "dec": ("decimal", pa.decimal128(12, 2)),
    "t": ("text", pa.string()),
    "b": ("boolean", pa.bool_()),
    "day": ("date", pa.date32()),
    "ts": ("timestamp", pa.timestamp("us", tz="UTC")),
    "ntz": (None, pa.timestamp("us")),  # CQL has no timestamp_ntz type
}

#: (column, literal) spelled as the fold melts a value: typed on the driver
CANONICAL = [
    ("ti", "-128"), ("ti", "127"), ("si", "300"), ("i", "-7"),
    ("bi", "9223372036854775807"), ("f", "1.5"), ("d", "1234.5"), ("d", "0.1"),
    ("dec", "12.34"), ("t", "'it''s'"), ("b", "'true'"), ("day", "'2024-02-29'"),
    ("ts", "'2024-01-01 12:30:00'"), ("ts", "'1969-12-31 23:59:59.500000'"),
    ("ntz", "'1995-01-01 00:00:00'"),
]

#: other spellings and out-of-range values: Spark's cast types them, and
#: fails the tinyint and bigint ones
NON_CANONICAL = [
    ("d", "'1.50'"), ("i", "'+5'"), ("ti", "300"), ("bi", str(2**63)), ("b", "true"),
    ("b", "'True'"), ("ts", "'2024-01-01T00:00:00'"), ("f", "0.1"), ("dec", "'1e1'"),
    ("ntz", "'2024-01-01T00:00:00'"),
]


@pytest.fixture(scope="module")
def typed_snapshot(tmp_path_factory):
    """A snapshot directory whose ``orders`` table has one column of every
    scalar type, timestamp_ntz included, and two rows."""
    d = tmp_path_factory.mktemp("typed")
    values = {
        "ti": [-128, None], "si": [300, 7], "i": [-7, 0], "bi": [2**63 - 1, -(2**63)],
        "f": [0.1, 1.5], "d": [0.1, -0.0],
        "dec": [decimal.Decimal("12.34"), decimal.Decimal("-0.50")], "t": ["x", ""],
        "b": [True, False], "day": [dt.date(2024, 2, 29), dt.date(1900, 1, 1)],
        "ts": [dt.datetime(2024, 1, 1, 12, 30), dt.datetime(1969, 12, 31, 23, 59, 59, 500000)],
        "ntz": [dt.datetime(1995, 1, 1), None],
    }
    table = {"o_orderkey": pa.array([1, 2], pa.int64())}
    table.update({c: pa.array(values[c], SCALARS[c][1]) for c in SCALARS})
    pq.write_table(pa.table(table), d / "orders.parquet")
    return str(d)


@pytest.mark.parametrize("kind", ["created", "snapshot"])
def test_scalar_types_match_the_spark_merge(spark, typed_snapshot, kind):
    """Every scalar type reads the same on the held route, on the cast
    route and from the Spark merge: rows, row order and schema. Canonical
    texts are held; any other spelling sends the read to the cast route,
    and a value the column cannot take fails there as on the merge."""
    if kind == "created":
        sess = CqlSession(spark, SMOKE_SF_DIR)
        cols = ", ".join(f"{c} {t}" for c, (t, _) in SCALARS.items() if t)
        sess.execute(f"CREATE TABLE alltypes (k bigint, c int, {cols}, PRIMARY KEY (k, c))")
        tbl, base = "alltypes", []
    else:
        sess = CqlSession(spark, typed_snapshot)
        tbl, base = "orders", [1, 2]
    pk = "k" if kind == "created" else "o_orderkey"

    def write(k: int, col: str, lit: str) -> dict:
        key = {pk: k, "c": 0} if kind == "created" else {pk: k}
        where = " AND ".join(f"{c} = {v}" for c, v in key.items())
        sess.execute(f"UPDATE {tbl} SET {col} = {lit} WHERE {where}")
        return key

    def select(keys: list[int]) -> str:
        return f"SELECT * FROM {tbl} WHERE {pk} IN ({', '.join(map(str, keys))})"

    canonical = [(c, lit) for c, lit in CANONICAL if c in sess._schema(tbl).names]
    probes = [(write(10 + j, c, lit), c) for j, (c, lit) in enumerate(canonical)]
    keys = base + [10 + j for j in range(len(canonical))]
    assert isinstance(sess.execute(select(keys)), HeldFrame)
    assert len(assert_paths_agree(sess, select(keys))) == len(keys)
    for key, col in probes:
        assert_probes_agree(sess, tbl, key, col)

    for j, (col, lit) in enumerate(NON_CANONICAL):
        if col not in sess._schema(tbl).names:
            continue
        key = write(100 + j, col, lit)
        assert not isinstance(sess.execute(select([100 + j])), HeldFrame), lit
        if assert_paths_agree(sess, select([100 + j]), raises=True):
            assert_probes_agree(sess, tbl, key, col)
        # one text the driver does not type sends the whole read to the cast
        assert not isinstance(sess.execute(select([*keys, 100 + j])), HeldFrame), lit
