"""The CQL operation stream and the shadow model that checks it.

``stream(seed)`` is an infinite, seeded sequence of CQL statements over the
``customer``, ``orders``, ``events`` and ``lineitem`` tables: point reads,
partition slices, writes (half of them through ``prepare`` + bind) and
lightweight transactions. It is a pure function of the seed and the data
shape (``datagen.ROWS``). The engine only ever sees ``Op.text`` and
``Op.params``; the other fields tell the shadow model what the statement
means.

The stream is made of rounds of ``len(ROUND)`` operations. Every round holds
the same mix of kinds in a seeded order, so a run of any length has the same
mix and the read/write/LWT shares do not drift between seeds.

Where the parameters come from:

- Key skew, from YCSB (Cooper et al., "Benchmarking Cloud Serving Systems
  with YCSB", SoCC 2010): a key pick goes, with ``LATEST_SHARE``, to the
  keys the stream already wrote by YCSB's "latest" distribution (workload
  D: the most recently written keys are the most popular), and otherwise
  to the snapshot keys by a Zipf distribution with YCSB's zipfian constant,
  0.99, over a seeded permutation of the keys. So point reads, updates,
  deletes and LWTs land on fresh rows, on rows with memtable cells and on
  deleted rows as well as on untouched ones.
- Mix: the round gives mostly writes by count and mostly reads by time;
  half of the write templates go through ``prepare`` + bind.

Which read path runs depends on whether the key has memtable cells, so the
run reports the measured share of reads that hit a written or a deleted
key (``ShadowModel.state``) instead of assuming it.

``ShadowModel`` mirrors the session's cell model for the keys a run touches:
it starts from the parquet snapshot (read with pyarrow, not Spark), applies
writes in order with last-write-wins and row tombstones, and answers each
SELECT and LWT. Every statement gets a strictly later write time than the
previous one and TTLs are counted from the session's fixed ``now``, so a
TTL'd cell never expires within a run and order alone decides every
conflict.
"""

from __future__ import annotations

import bisect
import datetime as dt
import math
import os
from collections.abc import Iterator
from dataclasses import dataclass, replace
from itertools import accumulate
from typing import Any

import numpy as np
import pyarrow.parquet as pq

from .datagen import EVENTS_PER_USER, PRIORITIES, ROWS, SEGMENTS

#: first key handed to rows the stream creates, far above the snapshot keys
FRESH_KEY_BASE = 10_000_000

#: YCSB's zipfian constant
ZIPF_S = 0.99

#: share of key picks that go to keys the stream already wrote
LATEST_SHARE = 0.5

#: kinds of one round, shuffled per round: 14 writes, 5 reads, 1 LWT
ROUND = (
    ["update_customer"] * 4
    + ["update_orders"] * 3
    + ["insert_customer"] * 2
    + ["insert_orders"] * 2
    + ["delete_customer"] * 2
    + ["delete_orders"]
    + ["read_customer"] * 2
    + ["read_orders", "slice_events", "slice_lineitem"]
    + ["lwt"]
)

TABLE_KEYS = {
    "customer": ("c_custkey",),
    "orders": ("o_orderkey",),
    "events": ("user_id",),
    "lineitem": ("l_orderkey",),
}
CLUSTERING = {"events": ("ts", "event_id"), "lineitem": ("l_linenumber",)}
COLUMNS = {
    "customer": ("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
    "orders": (
        "o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority",
    ),
}

#: prepared templates; the session prepares each once
PREPARED = {
    "update_customer": "UPDATE customer SET c_acctbal = ? WHERE c_custkey = ?",
    "update_orders": "UPDATE orders SET o_orderstatus = ?, o_totalprice = ? WHERE o_orderkey = ?",
    "insert_customer": (
        "INSERT INTO customer (c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment) "
        "VALUES (?, ?, ?, ?, ?)"
    ),
    "insert_orders": (
        "INSERT INTO orders (o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
        "o_orderdate, o_orderpriority) VALUES (?, ?, ?, ?, ?, ?)"
    ),
    "delete_customer": "DELETE FROM customer WHERE c_custkey = ?",
    "delete_orders": "DELETE FROM orders WHERE o_orderkey = ?",
}


@dataclass(frozen=True)
class Op:
    """One generated statement plus its meaning for the shadow model."""

    seq: int
    kind: str  # "read" | "write" | "lwt"
    name: str  # the ROUND entry it came from
    table: str
    text: str  # the statement, or the prepared template when ``prepared``
    params: tuple = ()
    prepared: bool = False
    key: Any = None  # partition key value
    action: str = ""  # select | insert | update | delete | insert_ine | update_if
    values: tuple[tuple[str, Any], ...] = ()  # columns written
    cond: tuple[str, Any] | None = None  # (column, expected) for update_if


def _lit(v: Any) -> str:
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _zipf_cdf(n: int, s: float = ZIPF_S) -> list[float]:
    weights = [1.0 / (r ** s) for r in range(1, n + 1)]
    total = sum(weights)
    return list(accumulate(w / total for w in weights))


class _Keys:
    """Zipf-skewed picks over a seeded permutation of ``n`` snapshot keys."""

    def __init__(self, rng: np.random.Generator, n: int):
        self.rng = rng
        self.perm = rng.permutation(n)
        self.cdf = _zipf_cdf(n)

    def pick(self) -> int:
        r = bisect.bisect_left(self.cdf, float(self.rng.random()))
        return int(self.perm[min(r, len(self.perm) - 1)])


class _Latest:
    """YCSB's "latest" distribution: Zipf-skewed picks over the keys written
    so far, the most recently written first."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.keys: dict[int, None] = {}  # in write order, latest last
        self.cdf: list[float] = []

    def wrote(self, key: int) -> None:
        self.keys.pop(key, None)
        self.keys[key] = None

    def pick(self) -> int:
        n = len(self.keys)
        if len(self.cdf) != n:
            self.cdf = _zipf_cdf(n)
        r = bisect.bisect_left(self.cdf, float(self.rng.random()))
        return list(self.keys)[-1 - min(r, n - 1)]


def stream(seed: int, rows: dict[str, int] = ROWS) -> Iterator[Op]:
    """Infinite seeded statement stream over tables of ``rows`` rows; a pure
    function of its arguments."""
    rng = np.random.default_rng([seed, 0xC01])
    cust = _Keys(rng, rows["customer"])
    orders = _Keys(rng, rows["orders"])
    users = _Keys(rng, max(rows["events"] // EVENTS_PER_USER, 1))
    latest = {"customer": _Latest(rng), "orders": _Latest(rng)}
    next_fresh = FRESH_KEY_BASE
    seq = 0

    def money(lo: float, hi: float) -> float:
        return round(float(rng.uniform(lo, hi)), 2)

    def pick(tbl: str) -> int:
        if latest[tbl].keys and rng.random() < LATEST_SHARE:
            return latest[tbl].pick()
        return (cust if tbl == "customer" else orders).pick()

    def cust_key() -> int:
        return pick("customer")

    def order_key() -> int:
        return pick("orders")

    def customer_row(key: int) -> tuple[tuple[str, Any], ...]:
        return (
            ("c_custkey", key),
            ("c_name", f"Customer#F{key:09d}"),
            ("c_nationkey", int(rng.integers(0, rows["nation"]))),
            ("c_acctbal", money(-999.99, 9999.99)),
            ("c_mktsegment", SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]),
        )

    while True:
        for name in rng.permutation(ROUND):
            seq += 1
            prepared = name in PREPARED and bool(rng.random() < 0.5)
            if name == "update_customer":
                k, bal = cust_key(), money(-999.99, 9999.99)
                op = Op(seq, "write", name, "customer",
                        f"UPDATE customer SET c_acctbal = {_lit(bal)} WHERE c_custkey = {k}",
                        (bal, k), key=k, action="update", values=(("c_acctbal", bal),))
            elif name == "update_orders":
                k = order_key()
                status, price = "FOP"[int(rng.integers(0, 3))], money(1000.0, 500000.0)
                op = Op(seq, "write", name, "orders",
                        f"UPDATE orders SET o_orderstatus = {_lit(status)}, "
                        f"o_totalprice = {_lit(price)} WHERE o_orderkey = {k}",
                        (status, price, k), key=k, action="update",
                        values=(("o_orderstatus", status), ("o_totalprice", price)))
            elif name == "insert_customer":
                if rng.random() < 0.5:
                    k = next_fresh
                    next_fresh += 1
                else:
                    k = cust.pick()
                row = customer_row(k)
                ttl = " USING TTL 86400" if not prepared and rng.random() < 0.5 else ""
                op = Op(seq, "write", name, "customer",
                        f"INSERT INTO customer ({', '.join(c for c, _ in row)}) "
                        f"VALUES ({', '.join(_lit(v) for _, v in row)}){ttl}",
                        tuple(v for _, v in row), key=k, action="insert", values=row)
            elif name == "insert_orders":
                k = next_fresh
                next_fresh += 1
                day = dt.date(1995, 1, 1) + dt.timedelta(days=int(rng.integers(0, 2405)))
                row = (
                    ("o_orderkey", k),
                    ("o_custkey", cust.pick()),
                    ("o_orderstatus", "FOP"[int(rng.integers(0, 3))]),
                    ("o_totalprice", money(1000.0, 500000.0)),
                    ("o_orderdate", f"{day.isoformat()} 00:00:00"),
                    ("o_orderpriority", PRIORITIES[int(rng.integers(0, len(PRIORITIES)))]),
                )
                op = Op(seq, "write", name, "orders",
                        f"INSERT INTO orders ({', '.join(c for c, _ in row)}) "
                        f"VALUES ({', '.join(_lit(v) for _, v in row)})",
                        tuple(v for _, v in row), key=k, action="insert", values=row)
            elif name in ("delete_customer", "delete_orders"):
                tbl = "customer" if name == "delete_customer" else "orders"
                k = cust_key() if tbl == "customer" else order_key()
                op = Op(seq, "write", name, tbl,
                        f"DELETE FROM {tbl} WHERE {TABLE_KEYS[tbl][0]} = {k}",
                        (k,), key=k, action="delete")
            elif name in ("read_customer", "read_orders"):
                tbl = "customer" if name == "read_customer" else "orders"
                k = cust_key() if tbl == "customer" else order_key()
                op = Op(seq, "read", name, tbl,
                        f"SELECT * FROM {tbl} WHERE {TABLE_KEYS[tbl][0]} = {k}",
                        key=k, action="select")
            elif name == "slice_events":
                u = users.pick()
                op = Op(seq, "read", name, "events",
                        f"SELECT * FROM events WHERE user_id = {u}", key=u, action="select")
            elif name == "slice_lineitem":
                k = orders.pick()
                op = Op(seq, "read", name, "lineitem",
                        f"SELECT * FROM lineitem WHERE l_orderkey = {k}", key=k, action="select")
            elif rng.random() < 0.5:  # lwt: insert if not exists
                k = cust_key()
                row = customer_row(k)
                op = Op(seq, "lwt", name, "customer",
                        f"INSERT INTO customer ({', '.join(c for c, _ in row)}) "
                        f"VALUES ({', '.join(_lit(v) for _, v in row)}) IF NOT EXISTS",
                        key=k, action="insert_ine", values=row)
            else:  # lwt: conditional update
                k, bal = cust_key(), money(-999.99, 9999.99)
                seg = SEGMENTS[int(rng.integers(0, len(SEGMENTS)))]
                op = Op(seq, "lwt", name, "customer",
                        f"UPDATE customer SET c_acctbal = {_lit(bal)} WHERE c_custkey = {k} "
                        f"IF c_mktsegment = {_lit(seg)}",
                        key=k, action="update_if", values=(("c_acctbal", bal),),
                        cond=("c_mktsegment", seg))
            if op.kind == "write":
                latest[op.table].wrote(op.key)
            if prepared:
                yield replace(op, text=PREPARED[name], prepared=True)
            else:
                yield replace(op, params=())


def _norm(v: Any) -> Any:
    """Comparable form of one cell from pyarrow, Spark or the stream."""
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, str) and len(v) == 19 and v[4] == "-" and v[10] == " ":
        return dt.datetime.fromisoformat(v).isoformat(sep=" ")
    if isinstance(v, (np.integer,)):
        return int(v)
    if isinstance(v, (np.floating,)):
        return float(v)
    return v


def _same(a: Any, b: Any) -> bool:
    if isinstance(a, float) and isinstance(b, (int, float)):
        return math.isclose(a, float(b), rel_tol=1e-12, abs_tol=1e-9)
    return a == b


def rows_match(got: list[dict], want: list[dict]) -> bool:
    """Order-insensitive comparison of two row lists by column name."""
    if len(got) != len(want):
        return False

    def key(r: dict) -> tuple:
        return tuple(str(_norm(r[c])) for c in sorted(r))

    g = sorted(({c: _norm(v) for c, v in r.items()} for r in got), key=key)
    w = sorted(({c: _norm(v) for c, v in r.items()} for r in want), key=key)
    for a, b in zip(g, w):
        if sorted(a) != sorted(b) or not all(_same(a[c], b[c]) for c in a):
            return False
    return True


class ShadowModel:
    """Expected state of every key the stream touches.

    The snapshot stays in pyarrow columns sorted by partition key; a row is
    turned into Python values only when a statement asks for it."""

    def __init__(self, data_dir: str):
        self._tables: dict[str, tuple[np.ndarray, Any]] = {}
        for tbl in TABLE_KEYS:
            t = pq.read_table(os.path.join(data_dir, f"{tbl}.parquet"))
            t = t.sort_by(TABLE_KEYS[tbl][0])
            self._tables[tbl] = (t.column(TABLE_KEYS[tbl][0]).to_numpy(), t)
        #: (table, key) -> {column: (seq, value)} for written cells; the
        #: snapshot's cells are implicit at seq 0
        self._cells: dict[tuple[str, Any], dict[str, tuple[int, Any]]] = {}
        #: (table, key) -> seq of the latest row tombstone
        self._deleted: dict[tuple[str, Any], int] = {}

    def _snapshot(self, tbl: str, key: Any) -> list[dict]:
        """The snapshot rows of one partition."""
        keys, t = self._tables[tbl]
        lo, hi = np.searchsorted(keys, key, "left"), np.searchsorted(keys, key, "right")
        return t.slice(int(lo), int(hi - lo)).to_pylist()

    def _row(self, tbl: str, key: Any) -> dict | None:
        """The visible row for ``key``, or None if no live cell remains."""
        del_seq = self._deleted.get((tbl, key), -1)
        snap = self._snapshot(tbl, key) if del_seq < 0 else []
        written = {
            c: v for c, (s, v) in self._cells.get((tbl, key), {}).items() if s > del_seq
        }
        if not snap and not written:
            return None
        row = {c: None for c in COLUMNS[tbl]}
        if snap:
            row.update(snap[0])
        row.update((c, v) for c, v in written.items() if c != "__row__")
        row[TABLE_KEYS[tbl][0]] = key
        return row

    def state(self, tbl: str, key: Any) -> str:
        """How a read of ``key`` meets the memtable: ``written`` (written
        cells newer than any row tombstone), ``deleted`` (a row tombstone
        and nothing written after it) or ``snapshot`` (neither)."""
        del_seq = self._deleted.get((tbl, key), -1)
        if any(s > del_seq for s, _ in self._cells.get((tbl, key), {}).values()):
            return "written"
        return "deleted" if del_seq >= 0 else "snapshot"

    def _write(self, op: Op, marker: bool) -> None:
        cells = self._cells.setdefault((op.table, op.key), {})
        keycol = TABLE_KEYS[op.table][0]
        if marker:
            cells["__row__"] = (op.seq, 1)
        for c, v in op.values:
            if c != keycol:
                cells[c] = (op.seq, v)

    def apply(self, op: Op) -> None:
        """Apply a write."""
        if op.action == "insert":
            self._write(op, marker=True)
        elif op.action == "update":
            self._write(op, marker=False)
        elif op.action == "delete":
            self._deleted[(op.table, op.key)] = op.seq
        else:
            raise ValueError(f"not a write: {op.action}")

    def select(self, op: Op) -> list[dict]:
        """Expected rows of a SELECT."""
        if op.table in CLUSTERING:
            return self._snapshot(op.table, op.key)
        row = self._row(op.table, op.key)
        return [] if row is None else [row]

    def lwt(self, op: Op) -> bool:
        """Expected ``[applied]`` of an LWT; applies it when it succeeds."""
        row = self._row(op.table, op.key)
        if op.action == "insert_ine":
            applied = row is None
            if applied:
                self._write(op, marker=True)
        else:
            col, want = op.cond
            applied = row is not None and row[col] == want
            if applied:
                self._write(op, marker=False)
        return applied
