"""CQL write path: a session that accepts the statement surface a CQL user
actually drives — INSERT (VALUES and JSON forms), UPDATE (scalar sets,
collection mutations ``c = c + {...}`` / ``- {...}`` / list append/prepend
/ map put / key-remove, counter-style ``n = n + k``), DELETE, and the
schema DDL (CREATE/DROP/ALTER TABLE with ADD/DROP/RENAME, CREATE INDEX,
CREATE/DROP MATERIALIZED VIEW, CREATE/DROP FUNCTION and AGGREGATE,
CREATE/DROP TYPE, CREATE/DROP/USE KEYSPACE) — and serves SELECTs over
(parquet snapshot + in-session mutations), with Cassandra's real cell
model (SURVEY.md §1.1, §3.2):

- every written column is an independent **cell** carrying its own
  writetime and optional TTL [PK `db/rows/Cell.java`];
- UPDATE writes only the named cells — unnamed columns keep older values
  (cell-level, not row-level, last-write-wins);
- INSERT additionally writes a **row marker**, which is why an INSERT with
  only the primary key makes the row visible but an UPDATE does not;
- DELETE FROM t WHERE pk=… writes a row tombstone shadowing all older
  cells; DELETE col FROM t … writes a cell tombstone;
- reads compact cells per (key, column) by writetime (functions/lww.py
  semantics), fold tombstones/TTL, and pivot back to wide rows.

The mutation buffer is driver-side (mutations arrive through the API one
statement at a time — inherently small), indexed by partition. A read that
names its partitions (every partition-key column restricted by ``=``/``IN``)
folds just those partitions' memtable cells and snapshot rows in Python,
as Cassandra's single-partition read merges one partition's memtable and
SSTable cells (``fold_cells``), types the rows on the driver and hands them
back in a ``session.HeldFrame`` that needs no JVM call to collect. Every
other read is a DataFrame plan: melt snapshot → union mutation cells →
window compaction → pivot. At scale that plan runs over a persisted cell
log instead of the in-memory list (this is exactly an LSM memtable/SSTable
split: parquet snapshot = compacted SSTables, session buffer = memtable).
"""

from __future__ import annotations

import datetime as dt
import decimal
import functools
import itertools
import json
import math
import os
import re
import struct
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    ByteType,
    DateType,
    DecimalType,
    DoubleType,
    FloatType,
    FractionalType,
    IntegerType,
    IntegralType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)
from pyspark.sql.window import Window

from .catalog import table
from .cql import (
    AggregateDef,
    FunctionDef,
    InvalidRequest,
    SUPPORTED_ANALYZERS,
    Unauthorized,
    TABLE_KEYS,
    TableDef,
    _condition,
    _literal,
    cql,
    cql_type_to_spark,
    mask_column,
    normalize_mask_spec,
    parse,
    parse_create_table,
    split_top_level,
    translate_function_body,
)
from .session import HeldFrame, generation, local_frame, memo_stats

ROW_MARKER = "__row__"
ROW_TOMBSTONE = "*"

#: the one-column result of a lightweight transaction
_APPLIED = StructType([StructField("[applied]", BooleanType())])

#: memtable cell columns after the primary key (see CqlSession._emit)
_CELL_FIELDS = [
    StructField("column", StringType()),
    StructField("value", StringType()),
    StructField("writetime", LongType()),
    StructField("expires_at", LongType()),
    StructField("tombstone", BooleanType()),
]

#: the most partitions (the product of the partition key's ``=``/``IN``
#: lists) and the most snapshot rows a key-pinned read folds in Python
#: (``CqlSession._pinned_fold``); a larger read takes the Spark merge
FAST_READ_MAX_ROWS = 1024


def _complex(dtype: str) -> bool:
    """True for a collection or UDT column (``DataFrame.dtypes`` form)."""
    return dtype.startswith(("array", "map", "struct"))


#: Python types a key value of each scalar Spark type may arrive as
_KEY_TYPES = {
    IntegralType: (int,),
    FractionalType: (int, float, decimal.Decimal),
    StringType: (str,),
    BooleanType: (bool,),
}


def _key_norm(dtype):
    """How a primary-key value of Spark type ``dtype`` compares when memtable
    and snapshot rows are grouped: timestamps and dates as the naive-UTC
    datetime/date ``local_frame`` reads from ISO text, the other scalar types
    as written. A value the type does not take raises TypeError or
    ValueError, and the read takes the Spark merge."""
    if isinstance(dtype, (TimestampType, DateType)):
        iso = dt.datetime if isinstance(dtype, TimestampType) else dt.date

        def norm(v):
            v = iso.fromisoformat(v) if isinstance(v, str) else v
            if type(v) is not iso:
                raise TypeError(f"{v!r} is not a {dtype.simpleString()} key")
            if iso is dt.datetime and v.tzinfo is not None:
                v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
            return v

        return norm
    takes = next((t for base, t in _KEY_TYPES.items() if isinstance(dtype, base)), ())

    def norm(v):
        if not isinstance(v, takes) or (type(v) is bool) != (bool in takes):
            raise TypeError(f"{v!r} is not a {dtype.simpleString()} key")
        return v

    return norm


#: key column types on which the fold's ``=``/``IN`` test of a pinned value
#: is the test Spark's filter makes: no text parsed (dates, timestamps) and
#: no value rounded to the column type (float, decimal) on one side only
_EXACT_KEY_TYPES = (IntegralType, StringType, BooleanType, DoubleType)


#: arrow type -> the Spark type ``catalog.table`` reads it as
_ARROW_SPARK = {
    pa.int8(): "tinyint", pa.int16(): "smallint", pa.int32(): "int",
    pa.int64(): "bigint", pa.float32(): "float", pa.float64(): "double",
    pa.string(): "string", pa.large_string(): "string", pa.bool_(): "boolean",
    pa.date32(): "date",
}


def _reads_as(t: pa.DataType, spark_type: str) -> bool:
    """True when ``catalog.table`` reads an arrow column of type ``t`` as
    ``spark_type`` (``DataFrame.dtypes`` form); a timestamp may read as
    either timestamp type, as ``events.ts`` does."""
    if pa.types.is_timestamp(t):
        return spark_type in ("timestamp", "timestamp_ntz")
    if pa.types.is_decimal(t):
        return spark_type == f"decimal({t.precision},{t.scale})"
    return _ARROW_SPARK.get(t) == spark_type


def _may_hold(column_chunk, values) -> bool:
    """False when a row group's min/max statistics of a key column rule out
    every one of ``values``."""
    stats = column_chunk.statistics
    if stats is None or not stats.has_min_max:
        return True
    try:
        return any(stats.min <= v <= stats.max for v in values)
    except TypeError:
        return True


def _melt(dtype):
    """Text of one value of Spark type ``dtype``, as the Spark merge's
    ``CAST(col AS STRING)`` melts a snapshot value, up to spelling: the
    text is only ever cast back to the column type, never compared with
    another snapshot value (a partition holding a duplicate primary key or
    a memtable cell at writetime <= 0 takes the Spark merge)."""
    if isinstance(dtype, BooleanType):
        return lambda v: "true" if v else "false"
    if isinstance(dtype, (FloatType, DoubleType)):
        return repr
    if isinstance(dtype, DecimalType):
        return lambda v: format(v, "f")
    if isinstance(dtype, (TimestampType, TimestampNTZType)):
        return lambda v: v.isoformat(sep=" ")
    if isinstance(dtype, DateType):
        return dt.date.isoformat
    return str


_EPOCH = dt.datetime(1970, 1, 1)

#: what a text that does not type on the driver raises (see ``_held_value``)
_NOT_HELD = (ValueError, KeyError, ArithmeticError)


def _float32(s: str) -> float:
    return struct.unpack("f", struct.pack("f", float(s)))[0]


def _decimal(dtype: DecimalType):
    """A parsed decimal at ``dtype``'s scale, as Spark's cast stores it;
    raises where the cast would round or overflow."""
    exp = decimal.Decimal(1).scaleb(-dtype.scale)
    ctx = decimal.Context(prec=dtype.precision)

    def internal(v: decimal.Decimal) -> decimal.Decimal:
        if v.is_zero() and v.is_signed():
            raise ValueError(v)  # Spark has no negative zero decimal
        q = v.quantize(exp, context=ctx)  # raises past the precision
        if q != v:
            raise ValueError(v)
        return q

    return internal


def _timestamp(s: str) -> dt.datetime:
    v = dt.datetime.fromisoformat(s)
    if v.tzinfo is not None:
        raise ValueError(s)
    return v


def _held_value(dtype):
    """How a folded text of Spark type ``dtype`` becomes the value
    ``CAST(text AS type)`` gives, in Spark's internal form (dates as days,
    timestamps as microseconds since the epoch, naive text read as UTC, the
    engine's session time zone), or None for a type not typed on the
    driver (collections, UDTs, binary). Only a text that ``_melt`` of the
    value spells back is typed; another spelling (``'1.50'``, ``'True'``,
    ``'+5'``) or a value out of the type's range raises one of
    ``_NOT_HELD``, and the read takes Spark's cast (``_typed``)."""
    internal = None
    if isinstance(dtype, IntegralType):
        bound = 1 << (8 * {ByteType: 1, ShortType: 2, IntegerType: 4}.get(type(dtype), 8) - 1)

        def parse(s: str) -> int:
            v = int(s)
            if not -bound <= v < bound:
                raise ValueError(s)
            return v
    elif isinstance(dtype, BooleanType):
        parse = {"true": True, "false": False}.__getitem__
    elif isinstance(dtype, DoubleType):
        parse = float
    elif isinstance(dtype, FloatType):
        parse = _float32
    elif isinstance(dtype, DecimalType):
        parse, internal = decimal.Decimal, _decimal(dtype)
    elif isinstance(dtype, StringType):
        parse = str
    elif isinstance(dtype, DateType):
        parse, internal = dt.date.fromisoformat, DateType().toInternal
    elif isinstance(dtype, (TimestampType, TimestampNTZType)):
        parse = _timestamp

        def internal(v: dt.datetime) -> int:
            return (v - _EPOCH) // dt.timedelta(microseconds=1)
    else:
        return None
    melt = _melt(dtype)

    def held(s: str):
        v = parse(s)
        if melt(v) != s:
            raise ValueError(s)
        return v if internal is None else internal(v)

    return held


def _held_rows(schema: StructType, keys: list, payload: list, rows: dict) -> list | None:
    """The folded rows of a pinned read (``CqlSession._pinned_fold``) in
    Spark's internal form, key columns then payload columns, or None when
    a column or a text does not type on the driver (see ``_held_value``).
    Decimal keys are not held: a key keeps the Python value it was written
    as (an int, float or Decimal), which Arrow converts in its own way."""
    if any(isinstance(schema[k].dataType, DecimalType) for k in keys):
        return None
    cols = [*keys, *payload]
    held = [_held_value(schema[c].dataType) for c in cols]
    if None in held:
        return None
    key_text = [_melt(schema[k].dataType) for k in keys]
    out = []
    try:
        for key, row in rows.items():
            texts = [m(v) for m, v in zip(key_text, key)]
            texts += [row.get(c, (None,))[0] for c in payload]
            out.append(tuple(None if t is None else h(t) for h, t in zip(held, texts)))
    except _NOT_HELD:
        return None
    return out


def fold_cells(cells, now_micros: int, truncated: int | None = None) -> dict:
    """Cassandra's read-time reconcile of one read's cells, the rules
    ``CqlSession.snapshot`` runs as a Spark merge. ``cells`` yields
    ``(primary key, column, value, writetime, expires_at, tombstone)``;
    snapshot cells carry writetime 0. In order:

    - a TRUNCATE at writetime ``truncated`` drops every cell at or below it;
    - a row tombstone drops every cell of its row with a writetime at or
      below the tombstone's;
    - per (row, column) the cell with the highest (writetime, tombstone,
      value) wins [PK `db/rows/Cells.java reconcile`]: on equal writetimes
      a tombstone beats a live cell, then the greater value wins (a null
      value is the least);
    - a winner that is a tombstone, or whose TTL has expired at
      ``now_micros``, leaves no cell.

    Returns {primary key: {column: (value, writetime, expires_at)}} for the
    visible rows: those with any cell left, the row marker included."""
    kept, row_del = [], {}
    for cell in cells:
        key, column, _, wt, _, _ = cell
        if truncated is not None and wt <= truncated:
            continue
        kept.append(cell)
        if column == ROW_TOMBSTONE:
            row_del[key] = max(row_del.get(key, -1), wt)
    winners: dict = {}
    for key, column, value, wt, exp, tomb in kept:
        if column != ROW_TOMBSTONE and wt <= row_del.get(key, -1):
            continue
        rank = (wt, tomb, value is not None, value or "")
        won = winners.get((key, column))
        if won is None or rank > won[0]:
            winners[(key, column)] = (rank, value, wt, exp, tomb)
    rows: dict = {}
    for (key, column), (_, value, wt, exp, tomb) in winners.items():
        if tomb or (exp is not None and exp <= now_micros):
            continue
        rows.setdefault(key, {})[column] = (value, wt, exp)
    return rows


class _PartitionIndex:
    """The memtable cells of one table by partition: partition key ->
    [(primary key, cell)], with every key value normalized by ``_key_norm``
    so a memtable row and its snapshot row fold together."""

    def __init__(self, schema: StructType, pk: tuple, cc: tuple, cells: list[dict]):
        self.keys = (*pk, *cc)
        self.n_pk = len(pk)
        self.norms = {k: _key_norm(schema[k].dataType) for k in self.keys}
        self.parts: dict[tuple, list[tuple[tuple, dict]]] = {}
        for cell in cells:
            self.add(cell)

    def add(self, cell: dict) -> None:
        key = tuple(self.norms[k](cell["key"][k]) for k in self.keys)
        self.parts.setdefault(key[: self.n_pk], []).append((key, cell))


_USING = (
    r"(?:\s+USING\s+(?:TTL\s+(?P<ttl>\d+)(?:\s+AND\s+TIMESTAMP\s+(?P<wts>\d+))?"
    r"|TIMESTAMP\s+(?P<wts2>\d+)(?:\s+AND\s+TTL\s+(?P<ttl2>\d+))?))?"
)
_INSERT = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<table>\w+)\s*\((?P<cols>[^)]*)\)\s*"
    r"VALUES\s*\((?P<vals>.*?)\)" + _USING + r"\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_UPDATE = re.compile(
    r"^\s*UPDATE\s+(?P<table>\w+)" + _USING +
    r"\s+SET\s+(?P<sets>.*?)\s+WHERE\s+(?P<where>.*?)"
    r"(?:\s+IF\s+(?P<cond>(?!NOT\s+EXISTS).+?))?(?:\s+IF\s+(?P<ine>NOT\s+EXISTS))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)


def _using_of(m: re.Match) -> tuple[int | None, int | None]:
    """(ttl, explicit writetime micros) from the USING clause groups."""
    ttl = m.group("ttl") or m.group("ttl2")
    wts = m.group("wts") or m.group("wts2")
    return (int(ttl) if ttl else None), (int(wts) if wts else None)
_INSERT_INE = re.compile(r"\s+IF\s+NOT\s+EXISTS\s*;?\s*$", re.IGNORECASE)
_INSERT_JSON = re.compile(
    r"^\s*INSERT\s+INTO\s+(?P<table>\w+)\s+JSON\s+(?P<doc>'.*')\s*"
    r"(?:USING\s+TTL\s+(?P<ttl>\d+))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
#: plain 2i, collection-target (KEYS/VALUES/ENTRIES/FULL) and Cassandra 5
#: SAI forms: CREATE [CUSTOM] INDEX ... USING 'StorageAttachedIndex'
#: [WITH OPTIONS = {...}] [PK `index/sai/`; CEP-7]
_CREATE_INDEX = re.compile(
    r"^\s*CREATE\s+(?P<custom>CUSTOM\s+)?INDEX\s+(?:IF\s+NOT\s+EXISTS\s+)?"
    r"(?:(?P<iname>\w+)\s+)?ON\s+"
    r"(?P<table>\w+)\s*\(\s*(?:(?:KEYS|VALUES|ENTRIES|FULL)\s*\(\s*)?"
    r"(?P<col>\w+)\s*\)?\s*\)\s*"
    r"(?:USING\s+'(?P<impl>[^']+)'\s*)?"
    r"(?:WITH\s+OPTIONS\s*=\s*\{(?P<opts>[^}]*)\}\s*)?;?\s*$",
    re.IGNORECASE,
)
_DROP_TABLE = re.compile(
    r"^\s*DROP\s+TABLE\s+(?P<ine>IF\s+EXISTS\s+)?(?P<table>\w+)\s*;?\s*$", re.IGNORECASE
)
_ALTER_ADD = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>\w+)\s+ADD\s+(?P<col>\w+)\s+(?P<type>.+?)\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_DROP = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>\w+)\s+DROP\s+(?P<col>\w+)\s*;?\s*$", re.IGNORECASE
)
_ALTER_RENAME = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>\w+)\s+RENAME\s+(?P<old>\w+)\s+TO\s+(?P<new>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
#: CEP-20 attached-mask DDL [PK 5.0 `AlterTableStatement.java` MASK ops]:
#: ALTER TABLE t ALTER col MASKED WITH fn(args) / ALTER col DROP MASKED
_ALTER_SET_MASK = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>\w+)\s+ALTER\s+(?P<col>\w+)\s+"
    r"MASKED\s+WITH\s+(?P<spec>.+?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_DROP_MASK = re.compile(
    r"^\s*ALTER\s+TABLE\s+(?P<table>\w+)\s+ALTER\s+(?P<col>\w+)\s+"
    r"DROP\s+MASKED\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_MV = re.compile(
    r"^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?:\w+\.)?(?P<name>\w+)\s+AS\s+"
    r"SELECT\s+(?P<sel>.*?)\s+FROM\s+(?P<base>\w+)\s+"
    r"WHERE\s+(?P<where>.*?)\s+"
    r"PRIMARY\s+KEY\s*\(\s*(?P<pkspec>.*)\)\s*(?:WITH\s+.*)?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_MV = re.compile(
    r"^\s*DROP\s+MATERIALIZED\s+VIEW\s+(?P<ine>IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_FUNCTION = re.compile(
    r"^\s*CREATE\s+(?P<orr>OR\s+REPLACE\s+)?FUNCTION\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?:\w+\.)?(?P<name>\w+)\s*"
    r"\(\s*(?P<args>[^)]*)\)\s+"
    r"(?P<onnull>CALLED|RETURNS\s+NULL)\s+ON\s+NULL\s+INPUT\s+"
    r"RETURNS\s+(?P<rtype>.+?)\s+"
    r"LANGUAGE\s+(?P<lang>\w+)\s+"
    r"AS\s+(?P<body>'.*'|\$\$.*\$\$)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_CREATE_AGGREGATE = re.compile(
    r"^\s*CREATE\s+(?P<orr>OR\s+REPLACE\s+)?AGGREGATE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?:\w+\.)?(?P<name>\w+)\s*"
    r"\(\s*(?P<argtype>[^)]*)\)\s+"
    r"SFUNC\s+(?P<sfunc>\w+)\s+"
    r"STYPE\s+(?P<stype>.+?)\s*"
    r"(?:FINALFUNC\s+(?P<finalfunc>\w+)\s*)?"
    r"(?:INITCOND\s+(?P<init>.+?)\s*)?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_FUNCTION = re.compile(
    r"^\s*DROP\s+(?P<kind>FUNCTION|AGGREGATE)\s+(?P<ine>IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_IS_NOT_NULL = re.compile(r"^\s*(?P<col>\w+)\s+IS\s+NOT\s+NULL\s*$", re.IGNORECASE)
_CREATE_TYPE = re.compile(
    r"^\s*CREATE\s+TYPE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?:\w+\.)?(?P<name>\w+)\s*"
    r"\(\s*(?P<fields>.*)\)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_TYPE = re.compile(
    r"^\s*DROP\s+TYPE\s+(?P<ine>IF\s+EXISTS\s+)?(?:\w+\.)?(?P<name>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_TYPE_ADD = re.compile(
    r"^\s*ALTER\s+TYPE\s+(?:\w+\.)?(?P<name>\w+)\s+ADD\s+(?P<f>\w+)\s+(?P<t>.+?)\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_TYPE_RENAME = re.compile(
    r"^\s*ALTER\s+TYPE\s+(?:\w+\.)?(?P<name>\w+)\s+RENAME\s+(?P<old>\w+)\s+TO\s+(?P<new>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_CREATE_KEYSPACE = re.compile(
    r"^\s*CREATE\s+KEYSPACE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)"
    r"(?:\s+WITH\s+.*)?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_KEYSPACE = re.compile(
    r"^\s*DROP\s+KEYSPACE\s+(?P<ine>IF\s+EXISTS\s+)?(?P<name>\w+)\s*;?\s*$", re.IGNORECASE
)
_USE_KEYSPACE = re.compile(r"^\s*USE\s+(?P<name>\w+)\s*;?\s*$", re.IGNORECASE)
_COPY = re.compile(
    r"^\s*COPY\s+(?P<table>\w+)\s*(?:\((?P<cols>[^)]*)\))?\s+"
    r"(?P<dir>TO|FROM)\s+'(?P<path>[^']+)'\s*(?:WITH\s+.*)?;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_BATCH = re.compile(
    r"^\s*BEGIN\s+(?:UNLOGGED\s+|LOGGED\s+)?BATCH\b(?P<body>.*?)\bAPPLY\s+BATCH\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_TRUNCATE = re.compile(
    r"^\s*TRUNCATE\s+(?:TABLE\s+)?(?P<table>\w+)\s*;?\s*$", re.IGNORECASE
)
_DESCRIBE = re.compile(
    r"^\s*DESC(?:RIBE)?\s+(?:TABLE\s+)?(?:(?P<ks>\w+)\s*\.\s*)?"
    r"(?P<table>\w+)\s*;?\s*$",
    re.IGNORECASE,
)
_DELETE = re.compile(
    r"^\s*DELETE\s*(?P<cols>[\w,\s]*?)\s*FROM\s+(?P<table>\w+)"
    r"(?:\s+USING\s+TIMESTAMP\s+(?P<wts>\d+))?"
    r"\s+WHERE\s+(?P<where>.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_ALTER_KEYSPACE = re.compile(
    r"^\s*ALTER\s+KEYSPACE\s+(?P<name>\w+)\s+WITH\s+.*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
#: CQL triggers [PK `cql3/statements/CreateTriggerStatement.java`,
#: `DropTriggerStatement.java`]
_CREATE_TRIGGER = re.compile(
    r"^\s*CREATE\s+TRIGGER\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?P<name>\w+)"
    r"\s+ON\s+(?P<table>\w+)\s+USING\s+'(?P<cls>[^']+)'\s*;?\s*$",
    re.IGNORECASE,
)
_DROP_TRIGGER = re.compile(
    r"^\s*DROP\s+TRIGGER\s+(?P<ine>IF\s+EXISTS\s+)?(?P<name>\w+)"
    r"\s+ON\s+(?P<table>\w+)\s*;?\s*$",
    re.IGNORECASE,
)

#: Trigger "classes" resolvable by CREATE TRIGGER ... USING '<name>'
#: [PK `triggers/TriggerExecutor.java` — Cassandra loads an ITrigger
#: implementation by class name from a server-side jar; the Spark twin
#: resolves from this process-level registry]. A trigger is a callable
#: ``fn(session, table, op, data)`` invoked once per mutation statement
#: (op in {"INSERT", "UPDATE", "DELETE"}; data = the written row / SET
#: map / deleted key). Statements the trigger itself executes never
#: re-fire triggers, matching TriggerExecutor's augmented-mutation rule.
TRIGGER_CLASSES: dict = {}


def register_trigger_class(name: str):
    """Register a trigger implementation under a resolvable class name."""

    def deco(fn):
        TRIGGER_CLASSES[name] = fn
        return fn

    return deco


#: table -> erasure wiring the ErasureTrigger propagates DELETEs into
#: (tables without an entry are untouched). Two accepted value shapes:
#: a plain str = band-index dir, or a dict
#: {"band_index": dir?, "sf_dir": dir?, "rebuild": {artifact: dir}?} that
#: also covers the AGGREGATE artifacts via
#: ``maintenance.erasure_audit`` (audit always runs when sf_dir is
#: wired; retrains fire only for artifacts given a rebuild dir).
ERASURE_TARGETS: dict = {}


@register_trigger_class("dcosb.ErasureTrigger")
def _erasure_trigger(sess, tbl: str, op: str, data: dict) -> None:
    """DELETE propagation into the derived pipeline artifacts — the CQL
    face of right-to-be-forgotten (GDPR erasure must reach every index or
    the deleted row keeps influencing verdicts): a DELETE on a table wired
    in ``ERASURE_TARGETS`` forwards the deleted doc_id into
    ``maintenance.forget_documents``, which rewrites the dedup band index
    without it (row-set-identical to an index built with the doc never
    present — the maintenance layer's tested guarantee), and — with the
    dict wiring — into ``maintenance.erasure_audit``, which reports
    whether the deleted doc influenced the AGGREGATE artifacts (BPE
    vocab, quality model) and retrains any artifact wired with a rebuild
    dir as if the doc never existed. Non-DELETE mutations and unwired
    tables are no-ops, so the trigger costs nothing on the write path
    until an erasure actually happens."""
    if op != "DELETE":
        return
    target = ERASURE_TARGETS.get(tbl)
    if not target:
        return
    doc_id = data.get("doc_id")
    if doc_id is None:
        return
    from .sources.maintenance import erasure_audit, forget_documents

    if isinstance(target, str):
        forget_documents(sess.spark, target, [int(doc_id)])
        return
    if target.get("band_index"):
        forget_documents(sess.spark, target["band_index"], [int(doc_id)])
    if target.get("sf_dir"):
        erasure_audit(
            sess.spark,
            target["sf_dir"],
            [int(doc_id)],
            rebuild=target.get("rebuild"),
        ).collect()  # bounded: 2 artifact rows — the trigger is the consumer


@register_trigger_class("dcosb.AuditTrigger")
def _audit_trigger(sess, tbl: str, op: str, data: dict) -> None:
    """The canonical trigger example (Cassandra ships InvertedIndex; the
    equally classic audit-log shape is used here): every mutation on the
    subject table appends one row to the ``trigger_audit`` side table —
    sequence id, subject table, operation, and the mutation payload as
    JSON. The side table is created on first fire; if a user pre-created
    a table under that name with a DIFFERENT shape, the trigger raises a
    clear configuration error instead of mis-targeting the user's columns
    on every subsequent mutation."""
    if "trigger_audit" not in sess._created:
        sess.execute(
            "CREATE TABLE trigger_audit (seq bigint PRIMARY KEY, "
            "tbl text, op text, data text)"
        )
    else:
        have = set(sess._created["trigger_audit"].columns)
        if not {"seq", "tbl", "op", "data"} <= have:
            raise InvalidRequest(
                "dcosb.AuditTrigger needs table trigger_audit(seq, tbl, op, "
                f"data) but an existing table has columns {sorted(have)} — "
                "drop or rename it, or use a different trigger class"
            )
    sess._trigger_seq += 1
    payload = json.dumps(data, default=str, sort_keys=True).replace("'", "''")
    sess.execute(
        f"INSERT INTO trigger_audit (seq, tbl, op, data) VALUES "
        f"({sess._trigger_seq}, '{tbl}', '{op}', '{payload}')"
    )
#: role-auth DDL [PK `auth/CassandraRoleManager.java`,
#: `cql3/statements/*RoleStatement.java`, `*PermissionsStatement.java`]
_CREATE_ROLE = re.compile(
    r"^\s*CREATE\s+(?P<kind>ROLE|USER)\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?"
    r"(?P<q>'?)(?P<name>\w+)(?P=q)(?:\s+WITH\s+(?P<opts>.*?))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_DROP_ROLE = re.compile(
    r"^\s*DROP\s+(?:ROLE|USER)\s+(?P<ine>IF\s+EXISTS\s+)?"
    r"(?P<q>'?)(?P<name>\w+)(?P=q)\s*;?\s*$",
    re.IGNORECASE,
)
_ALTER_ROLE = re.compile(
    r"^\s*ALTER\s+(?:ROLE|USER)\s+(?P<q>'?)(?P<name>\w+)(?P=q)"
    r"\s+WITH\s+(?P<opts>.*?)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_GRANT_REVOKE = re.compile(
    r"^\s*(?P<verb>GRANT|REVOKE)\s+(?P<perm>ALL(?:\s+PERMISSIONS)?|SELECT_MASKED|"
    r"SELECT|MODIFY|CREATE|ALTER|DROP|AUTHORIZE|DESCRIBE|EXECUTE|UNMASK)"
    r"\s+ON\s+(?P<res>.+?)\s+"
    r"(?:TO|FROM)\s+(?P<q>'?)(?P<role>\w+)(?P=q)\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
_GRANT_ROLE = re.compile(
    r"^\s*(?P<verb>GRANT|REVOKE)\s+(?P<q1>'?)(?P<granted>\w+)(?P=q1)\s+"
    r"(?:TO|FROM)\s+(?P<q2>'?)(?P<role>\w+)(?P=q2)\s*;?\s*$",
    re.IGNORECASE,
)
_LIST_ROLES = re.compile(
    r"^\s*LIST\s+(?:ROLES|USERS)(?:\s+OF\s+(?P<q>'?)(?P<role>\w+)(?P=q))?\s*;?\s*$",
    re.IGNORECASE,
)
_LIST_PERMISSIONS = re.compile(
    r"^\s*LIST\s+(?P<perm>ALL|SELECT_MASKED|SELECT|MODIFY|CREATE|ALTER|DROP|"
    r"AUTHORIZE|DESCRIBE|EXECUTE|UNMASK)(?:\s+PERMISSIONS?)?"
    r"(?:\s+ON\s+(?P<res>.+?))?(?:\s+OF\s+(?P<q>'?)(?P<role>\w+)(?P=q))?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)
#: cqlsh catalog listings: DESCRIBE KEYSPACES/TABLES/TYPES/FUNCTIONS/
#: AGGREGATES/MATERIALIZED VIEWS — rendered from the same live metadata as
#: the system_schema virtual tables
_DESCRIBE_CATALOG = re.compile(
    r"^\s*DESC(?:RIBE)?\s+(?P<what>KEYSPACES|TABLES|TYPES|FUNCTIONS|"
    r"AGGREGATES|MATERIALIZED\s+VIEWS)\s*;?\s*$",
    re.IGNORECASE,
)


#: quote-aware comma split (tracks (), [], {} and <> depth) — shared with
#: the DDL/literal grammar so collection literals split identically here
_split_top_level = split_top_level


def _split_statements(body: str) -> list[str]:
    """Split a BATCH body on semicolons outside quoted strings."""
    out, cur, in_q = [], [], False
    for ch in body:
        if ch == "'":
            in_q = not in_q
        if ch == ";" and not in_q:
            stmt = "".join(cur).strip()
            if stmt:
                out.append(stmt)
            cur = []
        else:
            cur.append(ch)
    stmt = "".join(cur).strip()
    if stmt:
        out.append(stmt)
    return out


def _render_literal(v) -> str:
    """Render a Python value as a CQL literal (the inverse of _literal) —
    the bind-substitution step of prepared statements."""
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, float)):
        return repr(v)
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    if isinstance(v, (list, tuple, set)):
        return "[" + ", ".join(_render_literal(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ", ".join(
            f"{_render_literal(k)}: {_render_literal(x)}" for k, x in v.items()
        ) + "}"
    raise InvalidRequest(f"cannot bind value of type {type(v).__name__}")


@dataclass
class MvDef:
    """Parsed CREATE MATERIALIZED VIEW [PK `db/view/View.java`,
    `cql3/statements/CreateViewStatement.java`]: the view is a re-keyed
    projection of its base table, maintained here as a DERIVED PLAN over
    the live base snapshot (filter + project) rather than a second copy —
    the Spark-native MV posture (the write-path twin is the foreachBatch
    maintenance loop, streaming/streams.py c9). Cassandra's invariants are
    enforced at CREATE time: the view key must contain every base key
    column plus at most one regular column, and every view key column must
    be restricted IS NOT NULL."""

    name: str
    base: str
    selectors: tuple[str, ...]  # projected column names; ("*",) = all
    not_null: tuple[str, ...]
    conds: list  # (col, op, literal) extra WHERE restrictions
    partition_key: tuple[str, ...]
    clustering: tuple[str, ...]

    @property
    def keys(self) -> tuple[tuple[str, ...], tuple[str, ...]]:
        return (self.partition_key, self.clustering)


class Prepared:
    """A parsed-once statement template with ``?`` bind markers
    [PK `cql3/statements/ParsedStatement.java` prepare path]. Binding
    substitutes rendered literals for the markers (quote-aware, so a
    ``?`` inside a string literal is data, not a marker)."""

    def __init__(self, template: str):
        self.template = template
        self.n_params = self._marker_count(template)

    @staticmethod
    def _marker_count(s: str) -> int:
        n, in_q = 0, False
        for ch in s:
            if ch == "'":
                in_q = not in_q
            elif ch == "?" and not in_q:
                n += 1
        return n

    def bind(self, *args) -> str:
        if len(args) != self.n_params:
            raise InvalidRequest(
                f"prepared statement takes {self.n_params} parameters, got {len(args)}"
            )
        out, in_q, it = [], False, iter(args)
        for ch in self.template:
            if ch == "'":
                in_q = not in_q
                out.append(ch)
            elif ch == "?" and not in_q:
                out.append(_render_literal(next(it)))
            else:
                out.append(ch)
        return "".join(out)


class CqlSession:
    """Executes CQL statements against the parquet snapshot + a session
    mutation buffer. ``now_micros`` is injectable for deterministic TTL.

    ``SELECT writetime(col)`` reports the PER-CELL writetime: the winning
    cell's timestamp is pivoted alongside its value (snapshot-origin cells
    report 0 — "pre-session history"; the exported parquet does not carry
    the original cluster timestamps)."""

    def __init__(self, spark: SparkSession, sf_dir: str, now_micros: int = 1_800_000_000_000_000):
        self.spark = spark
        self.sf_dir = sf_dir
        self.now_micros = now_micros
        self._seq = 0
        #: table -> list of cell dicts (keys json, column, value str|None,
        #: writetime, expires_at micros|None, tombstone)
        self._cells: dict[str, list[dict]] = {}
        #: table -> its memtable cells by partition, built by the first
        #: key-pinned read and kept by ``_emit``; None when a key value does
        #: not normalize (every pinned read then takes the Spark merge).
        #: DROP TABLE, ALTER ... DROP and RENAME drop the entry.
        self._parts: dict[str, _PartitionIndex | None] = {}
        #: session-created tables (CREATE TABLE DDL) -> parsed TableDef;
        #: they start from an EMPTY snapshot and live in the cell buffer
        self._created: dict[str, TableDef] = {}
        #: session-created secondary indexes (CREATE INDEX): tbl -> cols
        self._indexed: dict[str, tuple[str, ...]] = {}
        #: SAI index options (CREATE CUSTOM INDEX ... WITH OPTIONS):
        #: "tbl.col" -> {option: value}; ANN ordering consults
        #: similarity_function here [PK CEP-30]
        self._index_options: dict[str, dict[str, str]] = {}
        #: index introspection rows (system_schema.indexes): name ->
        #: {table, col, kind, options}
        self._indexes: dict[str, dict] = {}
        #: session-created materialized views (CREATE MATERIALIZED VIEW)
        self._views: dict[str, MvDef] = {}
        #: session-created UDFs / UDAs (CREATE FUNCTION / AGGREGATE)
        self._functions: dict[str, FunctionDef] = {}
        self._aggregates: dict[str, AggregateDef] = {}
        #: session-created UDTs (CREATE TYPE): name -> {field: cql type}
        self._udts: dict[str, dict[str, str]] = {}
        #: session keyspaces (CREATE KEYSPACE) — single-engine, so a
        #: keyspace is a namespace, not a replication domain; `ks.tbl`
        #: qualification is stripped for known keyspaces
        self._keyspaces: set[str] = {"dcosb"}
        self._current_ks: str = "dcosb"
        #: role-auth catalog [PK `auth/`]: roles/grants are recorded AND
        #: ENFORCED on the data path — `login()` switches the session's
        #: principal, and SELECT needs the SELECT permission / writes need
        #: MODIFY on the target table (resource hierarchy: table ⊂ keyspace
        #: ⊂ ALL KEYSPACES; role grants inherit transitively; superusers
        #: bypass — Cassandra's CassandraAuthorizer model). Schema DDL and
        #: GRANT/REVOKE are gated too (_authorize_ddl: AUTHORIZE for
        #: grants, CREATE/ALTER/DROP for DDL); Cassandra ships the
        #: `cassandra` superuser as the default principal.
        self._roles: dict[str, dict] = {
            "cassandra": {"super": True, "login": True, "member_of": set()}
        }
        #: (role, permission, resource) grants
        self._grants: set[tuple[str, str, str]] = set()
        #: the authenticated role this session executes as
        self._principal: str = "cassandra"
        #: CQL triggers [PK `triggers/TriggerExecutor.java`]: table →
        #: {trigger_name: class_name}; class names resolve against the
        #: process-level TRIGGER_CLASSES registry (the Spark twin of
        #: Cassandra loading an ITrigger implementation from a jar).
        self._triggers: dict[str, dict[str, str]] = {}
        #: True while trigger-issued statements execute: augmented
        #: mutations never re-fire triggers (Cassandra applies them
        #: internally) and bypass client authorization
        self._in_trigger: bool = False
        #: monotonic id for trigger-maintained side-table rows (the batch
        #: pinned-writetime makes _next_writetime non-unique inside BATCH)
        self._trigger_seq: int = 0
        #: non-None while executing a BEGIN BATCH: the shared writetime
        self._pinned_wt: int | None = None
        #: system_views.clients state [PK `db/virtual/ClientsTable.java`]:
        #: every principal that has authenticated on this session, with its
        #: executed-statement count (the in-process analog of the native-
        #: protocol request count)
        self._request_counts: dict[str, int] = {"cassandra": 0}
        #: table -> writetime of its last TRUNCATE: every cell (incl. the
        #: melted snapshot, which carries writetime 0) at or below this
        #: writetime is shadowed — exactly Cassandra's truncate record
        self._truncated: dict[str, int] = {}
        #: the ``[applied]`` true and false results, built on first use
        self._lwt_frames: dict[bool, DataFrame] = {}
        #: table -> (schema key, StructType) for ``_schema``: the key is the
        #: snapshot file's ``generation`` or a created table's DDL
        self._schemas: dict[str, tuple[tuple | str, StructType]] = {}

    # -- write path ---------------------------------------------------------

    def _next_writetime(self) -> int:
        if self._pinned_wt is not None:
            # inside BEGIN BATCH: every statement shares the batch's
            # timestamp [PK `cql3/statements/BatchStatement.java` — one
            # default timestamp per batch], which is what makes a batch
            # atomic under LWW compaction
            return self._pinned_wt
        self._seq += 1
        return self.now_micros + self._seq

    def _keys(self, tbl: str) -> tuple[tuple[str, ...], tuple[str, ...]]:
        if tbl in self._views:
            return self._views[tbl].keys
        if tbl in self._created:
            return self._created[tbl].keys
        if tbl in TABLE_KEYS:
            return TABLE_KEYS[tbl]
        raise InvalidRequest(f"unknown table {tbl}")

    def _key_of(self, tbl: str, where: str) -> dict:
        pk, cc = self._keys(tbl)
        key: dict = {}
        for part in re.split(r"\bAND\b", where, flags=re.IGNORECASE):
            m = re.match(r"^\s*(\w+)\s*=\s*(.+?)\s*$", part)
            if not m:
                raise InvalidRequest(f"write WHERE must be key equality: {part!r}")
            key[m.group(1).lower()] = _literal(m.group(2))
        missing = [c for c in (*pk, *cc) if c not in key]
        if missing:
            raise InvalidRequest(f"write requires full primary key; missing {missing}")
        extra = set(key) - set(pk) - set(cc)
        if extra:
            raise InvalidRequest(f"non-key columns in write WHERE: {sorted(extra)}")
        return key

    def _emit(self, tbl: str, key: dict, column: str, value, wt: int, ttl: int | None, tombstone: bool) -> None:
        if isinstance(value, (list, dict)):
            if isinstance(value, list) and tbl in self._created:
                # the DECLARED column type governs collection semantics: a
                # list into a set<> column normalizes sorted-distinct; a
                # list into a tuple<> column becomes the positional struct
                # object (_1.._n) so from_json can map it onto the
                # struct-typed snapshot column
                ctype = self._created[tbl].columns.get(column, "")
                if re.match(r"(frozen\s*<\s*)?set\s*<", ctype):
                    uniq = {repr(x): x for x in value}
                    value = [uniq[k] for k in sorted(uniq)]
                elif re.match(r"(frozen\s*<\s*)?tuple\s*<", ctype):
                    value = {f"_{i + 1}": v for i, v in enumerate(value)}
            # collection cell (frozen semantics: whole-value replace): store
            # as JSON so the typed snapshot can from_json it back
            value = json.dumps(value, separators=(",", ":"), sort_keys=True)
        cell = {
            "key": key,
            "column": column,
            "value": None if value is None else str(value),
            "writetime": wt,
            "expires_at": (wt + ttl * 1_000_000) if ttl else None,
            "tombstone": tombstone,
        }
        self._cells.setdefault(tbl, []).append(cell)
        index = self._parts.get(tbl)
        if index is not None:
            try:
                index.add(cell)
            except (TypeError, ValueError):
                self._parts[tbl] = None

    def _apply_collection_op(
        self, tbl: str, col: str, current, operand, op: str, prepend: bool
    ):
        """Merge a collection mutation against the current merged value
        [PK `cql3/Operation.java`]: set add/remove keeps sorted-distinct
        order, list +/- appends/prepends/removes-all, map + puts entries,
        map - {keys} removes them, numeric +/- is the counter increment."""
        ctype = self._created[tbl].columns.get(col, "") if tbl in self._created else ""
        is_set = bool(re.match(r"(frozen\s*<\s*)?set\s*<", ctype))
        if isinstance(operand, dict):
            cur = dict(current or {})
            cur.update(operand)
            return cur
        if isinstance(current, dict) and isinstance(operand, list) and op == "-":
            return {k: v for k, v in current.items() if k not in operand}
        if isinstance(operand, list):
            cur = list(current or [])
            if op == "-":
                kept = [x for x in cur if x not in operand]
                return sorted(set(kept), key=repr) if is_set else kept
            if is_set:
                merged = {repr(x): x for x in [*cur, *operand]}
                return [merged[k] for k in sorted(merged)]
            return [*operand, *cur] if prepend else [*cur, *operand]
        if isinstance(operand, (int, float)) and not isinstance(operand, bool):
            base = current if current is not None else 0
            return base + operand if op == "+" else base - operand
        raise InvalidRequest(f"unsupported collection operation on {col!r}: {op} {operand!r}")

    def _insert_row(self, tbl: str, row: dict, ttl: int | None, wt: int | None = None) -> None:
        """Shared INSERT cell emission: row marker + one cell per non-key
        column (the marker is what makes a key-only INSERT visible).
        ``wt`` overrides the session writetime (USING TIMESTAMP)."""
        pk, cc = self._keys(tbl)
        key = {c: row[c] for c in (*pk, *cc) if c in row}
        if len(key) != len(pk) + len(cc):
            raise InvalidRequest("INSERT requires the full primary key")
        wt = wt if wt is not None else self._next_writetime()
        self._emit(tbl, key, ROW_MARKER, "1", wt, ttl, False)
        for c, v in row.items():
            if c not in key:
                self._emit(tbl, key, c, v, wt, ttl, False)
        self._fire_triggers(tbl, "INSERT", row)

    def _fire_triggers(self, tbl: str, op: str, data: dict) -> None:
        """Invoke every trigger registered on ``tbl`` with this mutation
        [PK `triggers/TriggerExecutor.java`]: fired once per mutation
        statement (BATCH sub-statements each fire — they route through
        execute), in trigger-name order. Statements a trigger itself
        executes run with ``_in_trigger`` set, so augmented mutations
        never re-fire triggers (TriggerExecutor's rule) and are applied
        internally, bypassing client authorization — exactly how
        Cassandra applies trigger-produced mutations server-side."""
        trig = self._triggers.get(tbl)
        if not trig or self._in_trigger:
            return
        self._in_trigger = True
        try:
            for name in sorted(trig):
                TRIGGER_CLASSES[trig[name]](self, tbl, op, dict(data))
        finally:
            self._in_trigger = False

    @staticmethod
    def _where_key(df: DataFrame, key: dict) -> DataFrame:
        for k, v in key.items():
            df = df.filter(F.col(k) == v)
        return df

    def _key_rows(self, tbl: str, key: dict) -> DataFrame:
        """The merged rows whose columns equal ``key``'s values."""
        df, applied = self._source(tbl, {k: [v] for k, v in key.items()})
        return self._where_key(df, {k: v for k, v in key.items() if k not in applied})

    def _row_exists(self, tbl: str, key: dict) -> bool:
        folded = self._pinned_fold(tbl, {k: [v] for k, v in key.items()})
        if folded is not None:
            return bool(folded[3])
        return self._where_key(self.snapshot(tbl), key).limit(1).count() > 0

    def _cell_value(self, tbl: str, key: dict, col: str):
        """The value of ``col`` in the row ``key`` names, or None. A scalar
        payload column is typed from the fold on the driver; other columns,
        and texts that do not type there, read through a Spark frame."""
        folded = self._pinned_fold(tbl, {k: [v] for k, v in key.items()})
        if folded is not None and col in folded[2]:
            dtype, rows = folded[0][col].dataType, folded[3]
            text = next(iter(rows.values()), {}).get(col, (None,))[0]
            held = _held_value(dtype)
            if text is None:
                return None
            if held is not None:
                try:
                    return dtype.fromInternal(held(text))
                except _NOT_HELD:
                    pass
        rows = self._key_rows(tbl, key).select(col).limit(1).collect()
        return rows[0][0] if rows else None

    def _applied(self, ok: bool) -> DataFrame:
        """The 1-row ``[applied]`` result of a lightweight transaction."""
        frame = self._lwt_frames.get(ok)
        if frame is None:
            frame = self._lwt_frames[ok] = HeldFrame(self.spark, [(ok,)], _APPLIED)
        return frame

    def prepare(self, statement: str) -> Prepared:
        """Parse-once prepared statement; execute with
        ``session.execute(prepared, (v1, v2, ...))``."""
        return Prepared(statement)

    # -- auth enforcement ---------------------------------------------------

    def login(self, role: str) -> None:
        """Authenticate the session as ``role`` (the driver `auth_provider`
        handshake): the role must exist and carry LOGIN=true
        [PK `auth/PasswordAuthenticator.java` semantics, password exchange
        out of scope for an embedded session]."""
        name = role.lower()
        if name not in self._roles:
            raise Unauthorized(f"unknown role {role}")
        if not self._roles[name]["login"]:
            raise Unauthorized(f"role {role} is not permitted to log in")
        self._principal = name
        self._request_counts.setdefault(name, 0)

    def _effective_roles(self) -> set[str]:
        """Transitive closure of the principal's role memberships."""
        seen: set[str] = set()
        todo = [self._principal]
        while todo:
            r = todo.pop()
            if r in seen or r not in self._roles:
                continue
            seen.add(r)
            todo.extend(self._roles[r]["member_of"])
        return seen

    #: statement kind → (required permission, regex extracting the
    #: possibly-keyspace-qualified table)
    _DATA_PERMS = (
        ("MODIFY", re.compile(r"^INSERT\s+INTO\s+((?:\w+\.)?\w+)", re.IGNORECASE)),
        ("MODIFY", re.compile(r"^UPDATE\s+((?:\w+\.)?\w+)", re.IGNORECASE)),
        ("MODIFY", re.compile(r"^DELETE\b.*?\bFROM\s+((?:\w+\.)?\w+)", re.IGNORECASE | re.DOTALL)),
        ("MODIFY", re.compile(r"^TRUNCATE\s+(?:TABLE\s+)?((?:\w+\.)?\w+)", re.IGNORECASE)),
    )

    def _is_super(self) -> bool:
        roles = self._effective_roles()
        return any(self._roles[r]["super"] for r in roles if r in self._roles)

    @staticmethod
    def _blank_literals(s: str) -> str:
        """Blank the CONTENTS of single-quoted literals and $$-quoted
        bodies (quotes stay, so clause shape survives) before the
        authorization regexes scan for clause keywords — a FROM or
        SUPERUSER inside string DATA must not read as statement structure
        (``WHERE note = 'from x'`` must not authorize table ``x``). One
        left-to-right scan; whichever quote style opens FIRST owns the
        literal until its own closer, so a ``$$`` inside a single-quoted
        literal (or a ``'`` inside a $$ body) is data, not a delimiter
        (two independent split passes would let
        ``'a$$from x$$b'`` re-expose string data as clause structure). A
        doubled '' escape reads as close-then-reopen — both parts blank,
        all four quotes survive, equally inert."""
        out: list[str] = []
        i, n = 0, len(s)
        while i < n:
            if s[i] == "'":
                out.append("'")
                i += 1
                while i < n and s[i] != "'":
                    i += 1
                if i < n:
                    out.append("'")
                    i += 1
            elif s.startswith("$$", i):
                out.append("$$")
                j = s.find("$$", i + 2)
                if j == -1:
                    i = n
                else:
                    out.append("$$")
                    i = j + 2
            else:
                out.append(s[i])
                i += 1
        return "".join(out)

    def _need_permission(self, perm: str, resources: set[str]) -> None:
        """Raise Unauthorized unless the principal (or an inherited role)
        holds ``perm`` (or ALL) on one of ``resources``."""
        roles = self._effective_roles()
        if not any(
            role in roles and p in (perm, "ALL") and res in resources
            for role, p, res in self._grants
        ):
            target = min(resources, key=len)
            raise Unauthorized(
                f"role {self._principal} has no {perm} permission on {target.lower()}"
            )

    def _holds_permission(self, perm: str, resources: set[str]) -> bool:
        """Non-raising `_need_permission` (superusers hold everything)."""
        if self._is_super():
            return True
        try:
            self._need_permission(perm, resources)
            return True
        except Unauthorized:
            return False

    def _apply_attached_masks(
        self, tbl: str, src: DataFrame, statement: str
    ) -> tuple[DataFrame, tuple[str, ...]]:
        """Attached-column-mask enforcement [PK CEP-20 / Cassandra 5.0
        "Dynamic Data Masking", `schema/ColumnMask.java` +
        `auth/Permission.java` UNMASK/SELECT_MASKED]: principals holding
        UNMASK on the table (or superusers) read clear text; everyone
        else reads the mask function's output, applied transparently —
        the SELECT text is unchanged.

        WHERE semantics follow Cassandra: masks never affect filtering,
        but RESTRICTING on a masked column requires SELECT_MASKED (else
        Unauthorized — a predicate's true/false answer would otherwise
        leak the clear value bit by bit). Masked columns NOT referenced
        in WHERE are rewritten at the SOURCE (every downstream
        expression, aggregate, or alias sees only masked values — the
        leak-proof direction); WHERE-referenced ones (SELECT_MASKED
        granted) stay clear ONLY through the filter: cql() re-masks them
        via ``post_filter_masks`` immediately after the WHERE loop, so
        selectors, aliases, and expressions see masked bytes exactly like
        the unrestricted case (re-masking output columns by name would
        leak clear text through an alias)."""
        td = self._created[tbl]
        if not td.masks or self._holds_permission(
            "UNMASK", self._table_chain(tbl)
        ):
            return src, ()
        blanked = self._blank_literals(statement)
        wm = re.search(
            r"\bWHERE\s+(?P<w>.*?)(?:\bGROUP\s+BY\b|\bORDER\s+BY\b|\bPER\s+"
            r"PARTITION\b|\bLIMIT\b|\bALLOW\s+FILTERING\b|$)",
            blanked,
            re.IGNORECASE | re.DOTALL,
        )
        where_text = wm.group("w") if wm else ""
        restricted = tuple(
            c for c in td.masks
            if re.search(rf"\b{re.escape(c)}\b", where_text, re.IGNORECASE)
        )
        if restricted and not self._holds_permission(
            "SELECT_MASKED", self._table_chain(tbl)
        ):
            raise Unauthorized(
                f"role {self._principal} has no SELECT_MASKED permission on "
                f"{tbl} and cannot restrict masked column(s) "
                f"{', '.join(restricted)}"
            )
        for c, spec in td.masks.items():
            if c not in restricted and c in src.columns:
                src = src.withColumn(c, mask_column(spec, F.col(c)))
        return src, restricted

    def _table_chain(self, raw: str) -> set[str]:
        """Resource hierarchy for a (possibly ``ks.``-qualified) table name
        per Cassandra: the table, its keyspace, and ALL KEYSPACES."""
        ks, _, tbl = raw.rpartition(".")
        ks = (ks or self._current_ks).upper()
        tbl = tbl.upper()
        return {f"TABLE {tbl}", tbl, f"KEYSPACE {ks}", "ALL KEYSPACES"}

    def _authorize_data(self, s: str) -> None:
        """Enforce SELECT/MODIFY on the statement's target table(s) for the
        logged-in principal. Resource hierarchy per Cassandra: a grant on
        the table, its keyspace, or ALL KEYSPACES satisfies; permission
        ALL satisfies any; superusers (direct or inherited) bypass. A
        BATCH authorizes MODIFY on EVERY table it touches, and a SELECT
        authorizes EVERY ``FROM`` reference, qualified names included."""
        if self._in_trigger:  # trigger-augmented mutations apply internally
            return
        s = self._blank_literals(s)
        targets: list[tuple[str, str]] = []  # (perm, possibly-qualified table)
        if re.match(r"^BEGIN\s+(?:UNLOGGED\s+|COUNTER\s+)?BATCH\b", s, re.IGNORECASE):
            targets = [
                ("MODIFY", t)
                for t in re.findall(
                    r"\b(?:INSERT\s+INTO|UPDATE|DELETE\s+FROM)\s+((?:\w+\.)?\w+)",
                    s,
                    re.IGNORECASE,
                )
            ]
        elif re.match(r"^SELECT\b", s, re.IGNORECASE):
            targets = [
                ("SELECT", t)
                for t in re.findall(r"\bFROM\s+((?:\w+\.)?\w+)", s, re.IGNORECASE)
            ]
        else:
            for perm, pat in self._DATA_PERMS:
                m = pat.match(s)
                if m:
                    targets = [(perm, m.group(1))]
                    break
        if not targets:
            return  # not a data statement — DDL/auth/introspection paths
        if self._is_super():
            return
        for perm, raw in targets:
            self._need_permission(perm, self._table_chain(raw))

    def _authorize_ddl(self, s: str) -> None:
        """Gate schema DDL and auth statements for the logged-in principal
        (were only data statements checked, any login-capable role could
        GRANT itself ALL). Per Cassandra's CassandraAuthorizer:

        - GRANT/REVOKE a permission requires AUTHORIZE on the resource
          (or an ancestor in the resource hierarchy);
        - GRANT/REVOKE role membership requires AUTHORIZE on the granted
          role (or ALL ROLES);
        - CREATE/ALTER/DROP ROLE|USER require that verb on ALL ROLES;
        - CREATE TABLE/TYPE/INDEX/MV/FUNCTION requires CREATE on the
          keyspace; ALTER/DROP require that verb on the object's chain;
        - superusers bypass everything. The default ``cassandra``
          principal is a superuser, so un-authenticated embedded use is
          unaffected."""
        if self._is_super() or self._in_trigger:
            return
        s = self._blank_literals(s)
        # trigger DDL is superuser-only in Cassandra (a trigger runs
        # arbitrary server-side code, so no verb grant can authorize it)
        if re.match(r"^\s*(?:CREATE|DROP)\s+TRIGGER\b", s, re.IGNORECASE):
            raise Unauthorized(
                f"role {self._principal} must be a superuser to manage triggers"
            )
        m = _GRANT_ROLE.match(s)
        if m:
            granted = m.group("granted").upper()
            self._need_permission("AUTHORIZE", {f"ROLE {granted}", "ALL ROLES"})
            return
        m = _GRANT_REVOKE.match(s)
        if m:
            res = re.sub(r"\s+", " ", m.group("res").strip().upper())
            if res.startswith("ROLE "):
                chain = {res, "ALL ROLES"}
            elif res in ("ALL KEYSPACES", "ALL ROLES"):
                chain = {res}
            elif res.startswith("KEYSPACE "):
                chain = {res, "ALL KEYSPACES"}
            else:
                chain = self._table_chain(res.removeprefix("TABLE ").strip().lower())
            self._need_permission("AUTHORIZE", chain)
            return
        m = re.match(r"^\s*(CREATE|ALTER|DROP)\s+(?:ROLE|USER)\b", s, re.IGNORECASE)
        if m:
            # Granting or REMOVING superuser STATUS requires an actual
            # superuser grantor in Cassandra — a verb grant on ALL ROLES
            # must not allow self-escalation. We only
            # reach here when _is_super() is false. But upstream only
            # restricts statements that CHANGE superuser status: an
            # explicit `SUPERUSER = false` on CREATE (or on ALTER of a
            # role that is not currently super) is a no-op shape a
            # CREATE/ALTER-on-ALL-ROLES holder may run.
            # Literals are already blanked, so a password containing
            # "superuser" cannot trip this.
            if re.search(r"\b(?:NO)?SUPERUSER\b", s, re.IGNORECASE):
                verb = m.group(1).upper()
                mval = re.search(r"\bSUPERUSER\s*=\s*(TRUE|FALSE)\b", s, re.IGNORECASE)
                if mval is not None:
                    wants_super = mval.group(1).upper() == "TRUE"
                else:  # legacy USER syntax: bare SUPERUSER / NOSUPERUSER
                    wants_super = not re.search(r"\bNOSUPERUSER\b", s, re.IGNORECASE)
                changes_status = True
                if not wants_super:
                    if verb == "CREATE":
                        changes_status = False  # new roles default non-super
                    elif verb == "ALTER":
                        rm = re.search(
                            r"^\s*ALTER\s+(?:ROLE|USER)\s+(?:IF\s+EXISTS\s+)?(\w+)",
                            s,
                            re.IGNORECASE,
                        )
                        target = rm.group(1).lower() if rm else None
                        changes_status = bool(
                            self._roles.get(target, {}).get("super", False)
                        )
                if changes_status:
                    raise Unauthorized(
                        f"role {self._principal} must be a superuser to set "
                        "SUPERUSER status"
                    )
            self._need_permission(m.group(1).upper(), {"ALL ROLES"})
            return
        m = re.match(
            r"^\s*(CREATE|ALTER|DROP)\s+(?:OR\s+REPLACE\s+)?(?:CUSTOM\s+)?"
            r"(TABLE|COLUMNFAMILY|INDEX|MATERIALIZED\s+VIEW|TYPE|FUNCTION|"
            r"AGGREGATE|KEYSPACE|TRIGGER)\b",
            s,
            re.IGNORECASE,
        )
        if m:
            verb = m.group(1).upper()
            kind = re.sub(r"\s+", " ", m.group(2).upper())
            if kind == "KEYSPACE":
                km = re.search(
                    r"KEYSPACE\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?(\w+)", s, re.IGNORECASE
                )
                if verb == "CREATE":
                    chain = {"ALL KEYSPACES"}
                else:
                    chain = {f"KEYSPACE {km.group(1).upper()}", "ALL KEYSPACES"} if km else {"ALL KEYSPACES"}
            elif verb == "CREATE":
                # CREATE INDEX/MV names a base table via ON; plain CREATEs
                # land in the current keyspace — either way the required
                # grant is CREATE on the keyspace chain.
                chain = {f"KEYSPACE {self._current_ks.upper()}", "ALL KEYSPACES"}
            else:
                tm = re.search(
                    rf"{kind}\s+(?:IF\s+(?:NOT\s+)?EXISTS\s+)?((?:\w+\.)?\w+)",
                    s,
                    re.IGNORECASE,
                )
                chain = (
                    self._table_chain(tm.group(1).lower())
                    if tm
                    else {f"KEYSPACE {self._current_ks.upper()}", "ALL KEYSPACES"}
                )
            self._need_permission(verb, chain)

    def execute(self, statement: str | Prepared, parameters: tuple = ()) -> DataFrame | None:
        """Execute a statement. A SELECT returns a DataFrame; writes and DDL
        return None. LWT forms (IF NOT EXISTS / IF col = v) return a 1-row
        DataFrame with an ``[applied]`` boolean, like Cassandra [PK
        `service/paxos/`; single-engine: the condition check is a point
        read, no consensus needed — SURVEY A25].

        A SELECT that restricts every partition-key column with ``=``/``IN``
        reads only those partitions (Cassandra's single-partition read). Its
        rows are typed on the driver and, for a lone ``*`` with no other
        clause that needs a Spark operator, it returns them as a
        ``session.HeldFrame``: ``collect()``, ``schema`` and ``columns``
        answer from the held rows with no JVM call, and any other use
        builds a ``LocalRelation`` of them on first need. The ``[applied]``
        results are HeldFrames as well. Other SELECTs return a Spark plan
        over the same rows, or over the Spark merge (``snapshot``)."""
        if isinstance(statement, Prepared):
            statement = statement.bind(*parameters)
        elif parameters:
            statement = Prepared(statement).bind(*parameters)
        s = statement.strip()
        if not self._in_trigger:  # trigger-issued statements are internal
            self._request_counts[self._principal] = (
                self._request_counts.get(self._principal, 0) + 1
            )
        # strip known-keyspace qualification (single-engine: a keyspace is a
        # namespace; replication settings are accepted and ignored) —
        # quote-aware: odd segments (single-quoted literals and $$-quoted
        # function bodies) pass through untouched
        def _strip_ks(text: str) -> str:
            for ks in self._keyspaces:
                pat = re.compile(
                    rf"\b(FROM|INTO|UPDATE|TABLE|VIEW|TRUNCATE|ON)\s+{ks}\.",
                    re.IGNORECASE,
                )
                text = pat.sub(r"\1 ", text)
            return text

        dollar_segs = s.split("$$")
        for di, dseg in enumerate(dollar_segs):
            if di % 2 == 1:
                continue  # inside a $$-quoted body
            q = dseg.split("'")
            dollar_segs[di] = "'".join(
                _strip_ks(seg) if i % 2 == 0 else seg for i, seg in enumerate(q)
            )
        s = "$$".join(dollar_segs)
        self._authorize_data(s)
        self._authorize_ddl(s)
        if re.match(r"^SELECT\b", s, re.IGNORECASE):
            return self._select(s)

        m = _USE_KEYSPACE.match(s)
        if m:
            name = m.group("name").lower()
            if name not in self._keyspaces:
                raise InvalidRequest(f"unknown keyspace {name}")
            self._current_ks = name
            return None

        m = _CREATE_KEYSPACE.match(s)
        if m:
            name = m.group("name").lower()
            if name in self._keyspaces and not m.group("ine"):
                raise InvalidRequest(f"keyspace {name} already exists")
            self._keyspaces.add(name)
            return None

        m = _DROP_KEYSPACE.match(s)
        if m:
            name = m.group("name").lower()
            if name == "dcosb":
                raise InvalidRequest("cannot drop the catalog keyspace")
            if name in self._keyspaces:
                self._keyspaces.discard(name)
                return None
            if m.group("ine"):
                return None
            raise InvalidRequest(f"unknown keyspace {name}")

        m = _CREATE_TYPE.match(s)
        if m:
            name = m.group("name").lower()
            if name in self._udts:
                if m.group("ine"):
                    return None
                raise InvalidRequest(f"type {name} already exists")
            fields: dict[str, str] = {}
            for part in split_top_level(m.group("fields")):
                part = part.strip()
                if not part:
                    continue
                fm = re.match(r"^(?P<f>\w+)\s+(?P<t>.+)$", part, re.DOTALL)
                if not fm:
                    raise InvalidRequest(f"unparseable type field: {part!r}")
                ftype = fm.group("t").strip().lower()
                cql_type_to_spark(ftype, self._udts)  # validate (no self-reference)
                fields[fm.group("f").lower()] = ftype
            if not fields:
                raise InvalidRequest("CREATE TYPE requires at least one field")
            self._udts[name] = fields
            return None

        m = _ALTER_TYPE_ADD.match(s)
        if m:
            # [PK cql3/statements/schema/AlterTypeStatement.java] — new
            # fields append with null values in existing data; renames are
            # metadata-only. Cassandra forbids dropping UDT fields.
            name = m.group("name").lower()
            if name not in self._udts:
                raise InvalidRequest(f"unknown type {name}")
            f = m.group("f").lower()
            if f in self._udts[name]:
                raise InvalidRequest(f"type {name} already has field {f}")
            ftype = m.group("t").strip().lower()
            cql_type_to_spark(ftype, self._udts)
            self._udts[name][f] = ftype
            return None

        m = _ALTER_TYPE_RENAME.match(s)
        if m:
            name = m.group("name").lower()
            if name not in self._udts:
                raise InvalidRequest(f"unknown type {name}")
            old, new = m.group("old").lower(), m.group("new").lower()
            if old not in self._udts[name]:
                raise InvalidRequest(f"type {name} has no field {old}")
            if new in self._udts[name]:
                raise InvalidRequest(f"type {name} already has field {new}")
            self._udts[name] = {
                (new if k == old else k): v for k, v in self._udts[name].items()
            }
            return None

        m = _DROP_TYPE.match(s)
        if m:
            name = m.group("name").lower()
            if name in self._udts:
                used = [
                    t.name
                    for t in self._created.values()
                    if any(
                        re.search(rf"\b{re.escape(name)}\b", ct)
                        for ct in t.columns.values()
                    )
                ]
                if used:
                    raise InvalidRequest(f"type {name} is in use by {used}")
                del self._udts[name]
                return None
            if m.group("ine"):
                return None
            raise InvalidRequest(f"unknown type {name}")

        m = _TRUNCATE.match(s)
        if m:
            tbl = m.group("table").lower()
            self._keys(tbl)
            self._truncated[tbl] = self._next_writetime()
            return None

        m = _DESCRIBE_CATALOG.match(s)
        if m:
            what = re.sub(r"\s+", " ", m.group("what").upper())
            sys_table = {
                "KEYSPACES": "keyspaces",
                "TABLES": "tables",
                "TYPES": "types",
                "FUNCTIONS": "functions",
                "AGGREGATES": "aggregates",
                "MATERIALIZED VIEWS": "views",
            }[what]
            return self._system_schema(sys_table)

        m = _DESCRIBE.match(s)
        if m:
            tbl = m.group("table").lower()
            dks = (m.group("ks") or "").lower()
            if dks in ("system", "system_schema", "system_views"):
                # DESCRIBE of a virtual table: render its schema from the
                # live DataFrame + the _SYSTEM_KEYS key metadata (the same
                # shape a real DESCRIBE returns for a data table)
                allowed = self._SYSTEM_NS.get(dks)
                if (
                    tbl not in self._SYSTEM_KEYS
                    or (allowed is not None and tbl not in allowed)
                    or (
                        allowed is None
                        and tbl
                        in (
                            self._SYSTEM_NS["system"]
                            | self._SYSTEM_NS["system_views"]
                        )
                    )
                ):
                    raise InvalidRequest(f"unknown table {dks}.{tbl}")
                vpk, vcc = self._SYSTEM_KEYS[tbl]
                rows = [
                    (
                        f.name,
                        f.dataType.simpleString(),
                        "partition_key"
                        if f.name in vpk
                        else "clustering" if f.name in vcc else "regular",
                    )
                    for f in self._system_schema(tbl).schema.fields
                ]
                return local_frame(
                    self.spark, rows, "column_name STRING, type STRING, kind STRING"
                )
            if dks and dks not in self._keyspaces:
                raise InvalidRequest(f"unknown keyspace {dks}")
            pk, cc = self._keys(tbl)
            if tbl in self._created:
                cols = list(self._created[tbl].columns.items())
                masks = self._created[tbl].masks
            else:
                cols = [
                    (f.name, f.dataType.simpleString())
                    for f in table(self.spark, self.sf_dir, tbl).schema.fields
                ]
                masks = {}
            rows = [
                (
                    c,
                    t,
                    "partition_key" if c in pk else "clustering" if c in cc else "regular",
                    masks.get(c),
                )
                for c, t in cols
            ]
            # the ``mask`` column renders the attached mask exactly as a
            # Cassandra 5 DESCRIBE renders ``MASKED WITH fn(args)``
            return local_frame(
                self.spark, rows, "column_name STRING, type STRING, kind STRING, mask STRING"
            )

        mb = _BATCH.match(s)
        if mb:
            stmts = _split_statements(mb.group("body"))
            if not stmts:
                return None
            self._pinned_wt = self._next_writetime()
            try:
                for sub in stmts:
                    if re.match(r"^\s*(SELECT|BEGIN|CREATE|DROP|ALTER|COPY)\b", sub, re.IGNORECASE):
                        raise InvalidRequest(f"only mutations allowed in BATCH: {sub!r}")
                    self.execute(sub)
            finally:
                self._pinned_wt = None
            return None

        m = _CREATE_TRIGGER.match(s)
        if m:
            tbl = m.group("table").lower()
            self._keys(tbl)  # unknown table raises
            cls = m.group("cls")
            if cls not in TRIGGER_CLASSES:
                raise InvalidRequest(
                    f"trigger class '{cls}' not found (register it via "
                    "register_trigger_class)"
                )
            name = m.group("name").lower()
            if name in self._triggers.get(tbl, {}) and not m.group("ine"):
                raise InvalidRequest(f"trigger {name} already exists on {tbl}")
            self._triggers.setdefault(tbl, {})[name] = cls
            return None
        m = _DROP_TRIGGER.match(s)
        if m:
            tbl = m.group("table").lower()
            name = m.group("name").lower()
            if name not in self._triggers.get(tbl, {}):
                if m.group("ine"):
                    return None
                raise InvalidRequest(f"unknown trigger {name} on {tbl}")
            del self._triggers[tbl][name]
            return None

        m = _CREATE_MV.match(s)
        if m:
            return self._create_mv(m)

        m = _DROP_MV.match(s)
        if m:
            name = m.group("name").lower()
            if name in self._views:
                del self._views[name]
                return None
            if m.group("ine"):
                return None
            raise InvalidRequest(f"unknown materialized view {name}")

        m = _CREATE_FUNCTION.match(s)
        if m:
            return self._create_function(m)

        m = _CREATE_AGGREGATE.match(s)
        if m:
            return self._create_aggregate(m)

        m = _DROP_FUNCTION.match(s)
        if m:
            name = m.group("name").lower()
            store = (
                self._functions if m.group("kind").upper() == "FUNCTION" else self._aggregates
            )
            if name in store:
                del store[name]
                return None
            if m.group("ine"):
                return None
            raise InvalidRequest(f"unknown {m.group('kind').lower()} {name}")

        if re.match(r"^CREATE\s+TABLE\b", s, re.IGNORECASE):
            td = parse_create_table(s, self._udts)
            if td.name in TABLE_KEYS or td.name in self._created:
                if td.if_not_exists:
                    return None
                raise InvalidRequest(f"table {td.name} already exists")
            self._created[td.name] = td
            return None

        m = _CREATE_INDEX.match(s)
        if m:
            tbl, col = m.group("table").lower(), m.group("col").lower()
            impl = (m.group("impl") or "").lower()
            # Cassandra 5 accepts the canonical short form USING 'sai'
            # (CEP-7's headline spelling) as well as the fully-qualified
            # StorageAttachedIndex class name and legacy SASI.
            if impl and impl != "sai" and "attachedindex" not in impl and "sasi" not in impl:
                raise InvalidRequest(f"unknown index implementation {m.group('impl')!r}")
            self._keys(tbl)  # validates the table exists
            # WITH OPTIONS = {'similarity_function': 'dot_product', ...} —
            # parsed and STORED so ANN ordering can consult the index's
            # declared function [PK CEP-30 / 5.0 SAI `IndexWriterConfig`:
            # the ORDER BY ... ANN OF ranking follows the INDEX's
            # similarity_function, default COSINE]. Unknown function names
            # are rejected at DDL time like a live cluster.
            opts: dict[str, str] = {}
            for om in re.finditer(
                r"'(?P<k>[^']+)'\s*:\s*'(?P<v>[^']*)'", m.group("opts") or ""
            ):
                opts[om.group("k").lower()] = om.group("v").lower()
            simfn = opts.get("similarity_function")
            if simfn is not None and simfn not in (
                "cosine",
                "euclidean",
                "dot_product",
            ):
                raise InvalidRequest(
                    f"similarity_function {simfn!r} not supported: expected "
                    "one of cosine, euclidean, dot_product"
                )
            # text analyzers [PK Cassandra 5.0 SAI, CASSANDRA-18715]:
            # the ':' match operator consults this at query time; unknown
            # analyzer configs are rejected at DDL time like a live
            # cluster rejects a bad analyzer class/JSON
            ana = opts.get("index_analyzer")
            if ana is not None and ana not in SUPPORTED_ANALYZERS:
                raise InvalidRequest(
                    f"index_analyzer {ana!r} not supported: expected one "
                    f"of {', '.join(SUPPORTED_ANALYZERS)}"
                )
            self._indexed[tbl] = (*self._indexed.get(tbl, ()), col)
            if opts:
                self._index_options[f"{tbl}.{col}"] = opts
            # introspection row [PK `schema/SchemaKeyspace.java` INDEXES]:
            # Cassandra names an anonymous index <table>_<col>_idx; kind
            # is CUSTOM for USING-class indexes, COMPOSITES otherwise
            iname = (m.group("iname") or f"{tbl}_{col}_idx").lower()
            self._indexes[iname] = {
                "table": tbl,
                "col": col,
                "kind": "CUSTOM" if (m.group("custom") or impl) else "COMPOSITES",
                "options": dict(opts),
            }
            return None

        m = _DROP_TABLE.match(s)
        if m:
            tbl = m.group("table").lower()
            if tbl in self._created:
                del self._created[tbl]
                self._cells.pop(tbl, None)
                self._parts.pop(tbl, None)
                self._indexed.pop(tbl, None)
                for k in [k for k in self._index_options if k.startswith(f"{tbl}.")]:
                    del self._index_options[k]
                for k in [
                    k for k, v in self._indexes.items() if v["table"] == tbl
                ]:
                    del self._indexes[k]
                self._triggers.pop(tbl, None)  # triggers drop with the table
                return None
            if tbl in TABLE_KEYS:
                raise InvalidRequest(f"cannot drop catalog table {tbl}")
            if m.group("ine"):
                return None
            raise InvalidRequest(f"unknown table {tbl}")

        m = _ALTER_SET_MASK.match(s)
        if m:
            # [PK CEP-20 / 5.0 `AlterTableStatement.java`]: attach or
            # replace a column mask; metadata-only, data untouched.
            tbl, col = m.group("table").lower(), m.group("col").lower()
            if tbl not in self._created:
                raise InvalidRequest(
                    f"ALTER TABLE supported only on session-created tables, not {tbl!r}"
                )
            td = self._created[tbl]
            if col not in td.columns:
                raise InvalidRequest(f"unknown column {col}")
            td.masks[col] = normalize_mask_spec(m.group("spec"))
            return None

        m = _ALTER_DROP_MASK.match(s)
        if m:
            tbl, col = m.group("table").lower(), m.group("col").lower()
            if tbl not in self._created:
                raise InvalidRequest(
                    f"ALTER TABLE supported only on session-created tables, not {tbl!r}"
                )
            td = self._created[tbl]
            if col not in td.columns:
                raise InvalidRequest(f"unknown column {col}")
            # dropping a mask that isn't there is a no-op, like Cassandra
            td.masks.pop(col, None)
            return None

        m = _ALTER_ADD.match(s)
        if m:
            tbl = m.group("table").lower()
            if tbl not in self._created:
                raise InvalidRequest(
                    f"ALTER TABLE supported only on session-created tables, not {tbl!r}"
                )
            td = self._created[tbl]
            col, ctype = m.group("col").lower(), m.group("type").strip().lower()
            if col in td.columns:
                raise InvalidRequest(f"column {col} already exists")
            # ALTER ... ADD col type MASKED WITH fn(args) attaches at add time
            mm = re.match(
                r"^(?P<t>.+?)\s+MASKED\s+WITH\s+(?P<spec>.+)$",
                ctype,
                re.IGNORECASE | re.DOTALL,
            )
            mask_spec = None
            if mm:
                ctype = mm.group("t").strip()
                mask_spec = normalize_mask_spec(mm.group("spec"))
            cql_type_to_spark(ctype, self._udts)  # validate
            td.columns[col] = ctype
            if mask_spec:
                td.masks[col] = mask_spec
            td.udts.update(self._udts)
            return None

        m = _ALTER_DROP.match(s)
        if m:
            tbl = m.group("table").lower()
            if tbl not in self._created:
                raise InvalidRequest(
                    f"ALTER TABLE supported only on session-created tables, not {tbl!r}"
                )
            td = self._created[tbl]
            col = m.group("col").lower()
            if col in (*td.partition_key, *td.clustering):
                # [PK `AlterTableStatement.java`]: primary-key columns are
                # immutable — Cassandra rejects DROP on them
                raise InvalidRequest(f"cannot drop PRIMARY KEY column {col}")
            if col not in td.columns:
                raise InvalidRequest(f"unknown column {col}")
            del td.columns[col]
            td.masks.pop(col, None)  # the mask drops with its column
            # shed the dropped column's buffered cells (Cassandra marks the
            # drop time and hides older cells; with session-scoped state the
            # effect is identical)
            self._cells[tbl] = [
                c for c in self._cells.get(tbl, []) if c["column"] != col
            ]
            self._parts.pop(tbl, None)
            return None

        m = _ALTER_RENAME.match(s)
        if m:
            tbl = m.group("table").lower()
            if tbl not in self._created:
                raise InvalidRequest(
                    f"ALTER TABLE supported only on session-created tables, not {tbl!r}"
                )
            td = self._created[tbl]
            old, new = m.group("old").lower(), m.group("new").lower()
            # [PK `AlterTableStatement.java` RENAME]: only clustering-key
            # columns may be renamed (their names live in metadata alone)
            if old not in td.clustering:
                raise InvalidRequest(
                    f"RENAME is only supported on clustering columns, got {old!r}"
                )
            if new in td.columns:
                raise InvalidRequest(f"column {new} already exists")
            td.columns = {new if c == old else c: t for c, t in td.columns.items()}
            td.clustering = tuple(new if c == old else c for c in td.clustering)
            if old in td.masks:
                td.masks[new] = td.masks.pop(old)
            for cell in self._cells.get(tbl, []):
                if old in cell["key"]:
                    cell["key"][new] = cell["key"].pop(old)
            self._parts.pop(tbl, None)
            return None

        m = _COPY.match(s)
        if m:
            return self._copy(m)

        m = _INSERT_JSON.match(s)
        if m:
            tbl = m.group("table").lower()
            self._keys(tbl)
            doc = m.group("doc")[1:-1].replace("''", "'")
            try:
                row = {k.lower(): v for k, v in json.loads(doc).items()}
            except (json.JSONDecodeError, AttributeError) as e:
                raise InvalidRequest(f"INSERT JSON: invalid document: {e}") from e
            self._insert_row(tbl, row, int(m.group("ttl")) if m.group("ttl") else None)
            return None

        ine = _INSERT_INE.search(s)
        if ine and re.match(r"^\s*INSERT\b", s, re.IGNORECASE):
            bare = s[: ine.start()]
            m = _INSERT.match(bare)
            if not m:
                raise InvalidRequest(f"unparseable statement: {statement!r}")
            tbl = m.group("table").lower()
            cols = [c.strip().lower() for c in m.group("cols").split(",")]
            vals = [_literal(v) for v in _split_top_level(m.group("vals"))]
            pk, cc = self._keys(tbl)
            row = dict(zip(cols, vals))
            key = {c: row[c] for c in (*pk, *cc) if c in row}
            if self._row_exists(tbl, key):
                return self._applied(False)
            self.execute(bare)
            return self._applied(True)

        m = _UPDATE.match(s)
        if m and m.group("cond"):
            cm = re.match(r"^\s*(\w+)\s*=\s*(.+?)\s*$", m.group("cond"))
            if not cm:
                raise InvalidRequest(f"unparseable IF condition: {m.group('cond')!r}")
            tbl = m.group("table").lower()
            key = self._key_of(tbl, m.group("where"))
            current = self._cell_value(tbl, key, cm.group(1).lower())
            if current != _literal(cm.group(2)):
                return self._applied(False)
            # Slice at the regex's cond span, not a textual ' IF ' search —
            # a quoted value may contain ' IF ' (e.g. SET note = 'as if new').
            bare = re.sub(r"\s+IF\s*$", "", s[: m.start("cond")], flags=re.IGNORECASE)
            self.execute(bare)
            return self._applied(True)

        m = _INSERT.match(s)
        if m:
            tbl = m.group("table").lower()
            if tbl not in TABLE_KEYS and tbl not in self._created:
                raise InvalidRequest(f"unknown table {tbl}")
            cols = [c.strip().lower() for c in m.group("cols").split(",")]
            vals = [_literal(v) for v in _split_top_level(m.group("vals"))]
            if len(cols) != len(vals):
                raise InvalidRequest("column/value count mismatch")
            ttl, wts = _using_of(m)
            self._insert_row(tbl, dict(zip(cols, vals)), ttl, wts)
            return None
        m = _UPDATE.match(s)
        if m:
            tbl = m.group("table").lower()
            ttl, wts = _using_of(m)
            if tbl not in TABLE_KEYS and tbl not in self._created:
                raise InvalidRequest(f"unknown table {tbl}")
            key = self._key_of(tbl, m.group("where"))
            wt = wts if wts is not None else self._next_writetime()
            written = dict(key)
            for part in _split_top_level(m.group("sets")):
                sm = re.match(r"^\s*(\w+)\s*=\s*(.+?)\s*$", part)
                if not sm:
                    raise InvalidRequest(f"unparseable SET clause: {part!r}")
                col = sm.group(1).lower()
                if col in dict.fromkeys(key):
                    raise InvalidRequest(f"cannot SET primary-key column {col}")
                rhs = sm.group(2).strip()
                # collection mutations [PK `cql3/Operation.java`]: SET c =
                # c + {...} / c - {...} / c + [...] / [...] + c — set add/
                # remove, list append/prepend, map put. Read-modify-write
                # against the merged view (frozen-cell model: the merged
                # collection is ONE new cell at this writetime).
                cm = re.match(
                    rf"^(?:(?P<self1>{col})\s*(?P<op>[+-])\s*(?P<operand>.+)"
                    rf"|(?P<prepend>.+?)\s*\+\s*(?P<self2>{col}))$",
                    rhs,
                    re.IGNORECASE,
                )
                if cm and (cm.group("self1") or cm.group("self2")):
                    operand = _literal(cm.group("operand") or cm.group("prepend"))
                    current = self._cell_value(tbl, key, col)
                    value = self._apply_collection_op(
                        tbl, col, current, operand, cm.group("op") or "+",
                        prepend=bool(cm.group("self2")),
                    )
                else:
                    value = _literal(rhs)
                # UPDATE writes cells only — deliberately NO row marker
                self._emit(tbl, key, col, value, wt, ttl, False)
                written[col] = value
            self._fire_triggers(tbl, "UPDATE", written)
            return None
        m = _DELETE.match(s)
        if m:
            tbl = m.group("table").lower()
            if tbl not in TABLE_KEYS and tbl not in self._created:
                raise InvalidRequest(f"unknown table {tbl}")
            key = self._key_of(tbl, m.group("where"))
            # USING TIMESTAMP on DELETE: the tombstone shadows only cells
            # with OLDER writetimes — a back-dated delete must not kill a
            # newer write (the anti-resurrection rule, [PK `db/DeletionTime.java`])
            wt = int(m.group("wts")) if m.group("wts") else self._next_writetime()
            cols = [c.strip().lower() for c in m.group("cols").split(",") if c.strip()]
            if cols:  # cell tombstones
                for c in cols:
                    self._emit(tbl, key, c, None, wt, None, True)
            else:  # row tombstone
                self._emit(tbl, key, ROW_TOMBSTONE, None, wt, None, True)
            self._fire_triggers(tbl, "DELETE", key)
            return None

        out = self._auth_ddl(s)
        if out is not NotImplemented:
            return out
        raise InvalidRequest(f"unparseable statement: {statement!r}")

    def _auth_ddl(self, s: str):
        """ALTER KEYSPACE + the role-auth statement family [PK `auth/`]:
        CREATE/ALTER/DROP ROLE|USER, GRANT/REVOKE permissions and role
        membership, LIST ROLES / LIST PERMISSIONS. Returns NotImplemented
        when the statement is not an auth statement (caller keeps parsing).

        The grants are recorded and fully introspectable (mirroring
        Cassandra's system_auth tables) AND enforced on the data path:
        `login()` sets the session principal and `_authorize_data` gates
        every SELECT/MODIFY/BATCH against the grant set."""
        m = _ALTER_KEYSPACE.match(s)
        if m:
            name = m.group("name").lower()
            if name not in self._keyspaces:
                raise InvalidRequest(f"unknown keyspace {name}")
            return None  # replication/durable_writes accepted and ignored
        m = _CREATE_ROLE.match(s)
        if m:
            name = m.group("name").lower()
            if name in self._roles:
                if m.group("ine"):
                    return None
                raise InvalidRequest(f"role {name} already exists")
            # blank literal contents first: a PASSWORD of 'superuser =
            # true' must not read as the SUPERUSER option (the same
            # literal-blanking the authorizer applies)
            opts = self._blank_literals(m.group("opts") or "").upper()
            # CREATE USER defaults LOGIN=true, CREATE ROLE defaults false
            # [PK `cql3/statements/CreateRoleStatement.java`]
            login = m.group("kind").upper() == "USER"
            if "LOGIN = TRUE" in opts:
                login = True
            if "LOGIN = FALSE" in opts:
                login = False
            # both forms: WITH SUPERUSER = true (role) and the legacy
            # trailing keyword (CREATE USER x WITH PASSWORD 'p' SUPERUSER)
            is_super = bool(
                "SUPERUSER = TRUE" in opts
                or re.search(r"\bSUPERUSER\b(?!\s*=)", opts)
            )
            self._roles[name] = {
                "super": is_super,
                "login": login,
                "member_of": set(),
            }
            return None
        m = _DROP_ROLE.match(s)
        if m:
            name = m.group("name").lower()
            if name not in self._roles:
                if m.group("ine"):
                    return None
                raise InvalidRequest(f"unknown role {name}")
            del self._roles[name]
            self._grants = {g for g in self._grants if g[0] != name}
            for r in self._roles.values():
                r["member_of"].discard(name)
            return None
        m = _ALTER_ROLE.match(s)
        if m:
            name = m.group("name").lower()
            if name not in self._roles:
                raise InvalidRequest(f"unknown role {name}")
            opts = self._blank_literals(m.group("opts")).upper()
            if "SUPERUSER = TRUE" in opts:
                self._roles[name]["super"] = True
            if "SUPERUSER = FALSE" in opts:
                self._roles[name]["super"] = False
            if "LOGIN = TRUE" in opts:
                self._roles[name]["login"] = True
            if "LOGIN = FALSE" in opts:
                self._roles[name]["login"] = False
            return None
        m = _GRANT_REVOKE.match(s)
        if m:
            role = m.group("role").lower()
            if role not in self._roles:
                raise InvalidRequest(f"unknown role {role}")
            perm = re.sub(r"\s+PERMISSIONS$", "", m.group("perm").upper())
            res = re.sub(r"\s+", " ", m.group("res").strip().upper())
            if m.group("verb").upper() == "GRANT":
                self._grants.add((role, perm, res))
            else:
                self._grants.discard((role, perm, res))
            return None
        m = _GRANT_ROLE.match(s)
        if m:
            granted, role = m.group("granted").lower(), m.group("role").lower()
            if granted not in self._roles or role not in self._roles:
                raise InvalidRequest(f"unknown role in {m.group('verb')}")
            if m.group("verb").upper() == "GRANT":
                self._roles[role]["member_of"].add(granted)
            else:
                self._roles[role]["member_of"].discard(granted)
            return None
        m = _LIST_ROLES.match(s)
        if m:
            of = m.group("role")
            if of and of.lower() not in self._roles:
                raise InvalidRequest(f"unknown role {of}")
            names = (
                sorted(self._roles)
                if not of
                else sorted(self._roles[of.lower()]["member_of"] | {of.lower()})
            )
            rows = [
                (n, self._roles[n]["super"], self._roles[n]["login"])
                for n in names
                if n in self._roles
            ]
            return local_frame(
                self.spark, rows, "role STRING, super BOOLEAN, login BOOLEAN"
            )
        m = _LIST_PERMISSIONS.match(s)
        if m:
            of = m.group("role")
            if of and of.lower() not in self._roles:
                raise InvalidRequest(f"unknown role {of}")
            want_perm = m.group("perm").upper()
            want_res = (
                re.sub(r"\s+", " ", m.group("res").strip().upper())
                if m.group("res")
                else None
            )
            rows = sorted(
                (r, res, p)
                for (r, p, res) in self._grants
                if (not of or r == of.lower())
                and (want_perm == "ALL" or p == want_perm)
                and (want_res is None or res == want_res)
            )
            return local_frame(
                self.spark, rows, "role STRING, resource STRING, permission STRING"
            )
        return NotImplemented

    # -- read path ----------------------------------------------------------

    def _schema(self, tbl: str) -> StructType:
        """The table's schema, kept per session while the snapshot file (a
        created table's DDL) stays the same: reading it from the catalog
        frame or the DDL costs py4j calls."""
        ddl = self._created[tbl].spark_schema if tbl in self._created else None
        key = ddl or generation(self.sf_dir, tbl)
        kept = self._schemas.get(tbl)
        if kept is None or kept[0] != key:
            schema = (StructType.fromDDL(ddl) if ddl
                      else table(self.spark, self.sf_dir, tbl).schema)
            kept = self._schemas[tbl] = (key, schema)
        return kept[1]

    def _pins(self, tbl: str, conds: list) -> dict | None:
        """Partition-key column -> the values a SELECT's ``=``/``IN``
        restrictions name, or None when a column is restricted twice."""
        pk = self._keys(tbl)[0]
        pins: dict = {}
        for col, op, lit in conds:
            if col in pk and op in ("=", "in"):
                if col in pins:
                    return None
                pins[col] = lit if op == "in" else [lit]
        return pins

    def _snapshot_cells(self, tbl: str, schema: StructType, keys: list, pk_want: dict):
        """The cells of the named partitions' snapshot rows, read with
        pyarrow from the file ``catalog.table`` reads: row groups whose
        statistics rule out every wanted key are skipped, the rest are read
        and filtered. None when the read must take the Spark merge."""
        path = os.path.join(self.sf_dir, f"{tbl}.parquet")
        if not os.path.isfile(path):
            return None
        try:
            pf = pq.ParquetFile(path)
            arrow = pf.schema_arrow
            if arrow.names != schema.names or not all(
                _reads_as(f.type, schema[f.name].dataType.simpleString()) for f in arrow
            ):
                return None
            groups = [
                g for g in range(pf.num_row_groups)
                if all(_may_hold(pf.metadata.row_group(g).column(arrow.get_field_index(c)), vs)
                       for c, vs in pk_want.items())
            ]
            got = pf.read_row_groups(groups) if groups else arrow.empty_table()
            got = got.filter(functools.reduce(pc.and_, (
                pc.is_in(got.column(c), value_set=pa.array(list(vs), arrow.field(c).type))
                for c, vs in pk_want.items()
            )))
        except (pa.ArrowException, OSError, TypeError, ValueError):
            return None
        if got.num_rows > FAST_READ_MAX_ROWS:
            return None
        cols = {}
        for f in arrow:
            col = got.column(f.name)
            if pa.types.is_timestamp(f.type):
                col = col.cast(pa.timestamp("us"), safe=False)
            cols[f.name] = col.to_pylist()
        row_keys = list(zip(*(cols[k] for k in keys)))
        if len(set(row_keys)) != len(row_keys):
            return None  # a duplicate primary key ties at writetime 0
        payload = [f for f in arrow if f.name not in keys]
        cells = [(key, ROW_MARKER, "1", 0, None, False) for key in row_keys]
        for f in payload:
            melt = _melt(schema[f.name].dataType)
            cells += [
                (key, f.name, None if v is None else melt(v), 0, None, False)
                for key, v in zip(row_keys, cols[f.name])
            ]
        return cells

    def _pinned_fold(self, tbl: str, pins: dict | None):
        """The fast path of a key-pinned read (Cassandra's single-partition
        read, ``SinglePartitionReadCommand``): the partitions ``pins`` names
        (key column -> candidate values, covering the partition key) are
        read alone — their memtable cells through the partition index,
        their snapshot rows through a pyarrow key filter — and folded in
        Python by ``fold_cells``. Returns ``(schema, keys, payload, rows)``,
        ``rows`` holding the visible rows whose key columns take the pinned
        values, or None when the read must take the Spark merge (see
        ``snapshot``)."""
        if pins is None or tbl in self._views:
            return None
        pk, cc = self._keys(tbl)
        if not set(pk) <= set(pins) or math.prod(len(pins[c]) for c in pk) > FAST_READ_MAX_ROWS:
            return None
        schema = self._schema(tbl)
        if tbl not in self._created and any(
            _complex(f.dataType.simpleString()) for f in schema.fields
        ):
            return None
        index = self._parts.get(tbl, False)
        if index is False:
            try:
                index = _PartitionIndex(schema, pk, cc, self._cells.get(tbl, []))
            except (TypeError, ValueError):
                index = None
            self._parts[tbl] = index
        if index is None:
            return None
        try:
            want = {c: {index.norms[c](v) for v in vs} for c, vs in pins.items()}
            parts = set(itertools.product(*(want[c] for c in pk)))
        except (TypeError, ValueError):
            return None
        mem = [cell for part in parts for cell in index.parts.get(part, ())]
        if any(cell["writetime"] <= 0 for _, cell in mem):
            return None  # could tie with the snapshot's writetime 0
        keys = list(index.keys)
        cells = []
        if tbl not in self._created:
            cells = self._snapshot_cells(tbl, schema, keys, {c: want[c] for c in pk})
            if cells is None:
                return None
        cells += [
            (key, c["column"], c["value"], c["writetime"], c["expires_at"], c["tombstone"])
            for key, c in mem
        ]
        at = [(keys.index(c), vs) for c, vs in want.items()]
        rows = {
            key: row
            for key, row in fold_cells(cells, self.now_micros, self._truncated.get(tbl)).items()
            if all(key[i] in vs for i, vs in at)
        }
        payload = [c for c in schema.names if c not in keys]
        return schema, keys, payload, rows

    def _source(
        self, tbl: str, pins: dict | None, with_writetimes: bool = False
    ) -> tuple[DataFrame, frozenset]:
        """The merged view a read restricted by ``pins`` runs on: the
        folded rows of the named partitions, typed on the driver and held in
        a ``HeldFrame`` (no JVM call until a Spark operator needs them); or,
        when a text does not type there or the read asks for writetimes, a
        ``LocalRelation`` of the texts typed by the Spark merge's own final
        select; or else the Spark merge. Also returns the pinned columns
        whose ``=``/``IN`` restriction the frame already applies (none for
        the Spark merge): a caller need not filter on them again, and should
        not, since Catalyst compiles a filter over a ``LocalRelation`` anew
        for each distinct literal."""
        folded = self._pinned_fold(tbl, pins)
        if folded is None:
            return self.snapshot(tbl, with_writetimes), frozenset()
        schema, keys, payload, rows = folded
        applied = frozenset(c for c in pins if isinstance(schema[c].dataType, _EXACT_KEY_TYPES))
        held = None if with_writetimes else _held_rows(schema, keys, payload, rows)
        if held is not None:
            fields = [schema[k] for k in keys] + [
                StructField(c, schema[c].dataType) for c in payload
            ]
            return HeldFrame(self.spark, held, StructType(fields)), applied
        names = [f"{c}_v" if with_writetimes else c for c in payload]
        fields = [schema[k] for k in keys] + [StructField(n, StringType()) for n in names]
        data = []
        for key, row in rows.items():
            cells = [row.get(c, (None, None, None)) for c in payload]
            data.append(key + tuple(
                cell[i] for i in ((0, 1, 2) if with_writetimes else (0,)) for cell in cells
            ))
        if with_writetimes:
            fields += [StructField(f"{c}_wt", LongType()) for c in payload]
            fields += [StructField(f"{c}_exp", LongType()) for c in payload]
        dtypes = {f.name: f.dataType.simpleString() for f in schema.fields}
        wide = local_frame(self.spark, data, StructType(fields))
        return self._typed(wide, keys, payload, dtypes, with_writetimes), applied

    def _typed(self, wide: DataFrame, keys: list, payload: list, dtypes: dict,
               with_writetimes: bool) -> DataFrame:
        """The merge's final select over the wide text rows: each payload
        column cast (or, for collections and UDTs, ``from_json``-parsed) to
        its type; with ``with_writetimes``, the winning cell's writetime as
        ``__wt_<col>`` and its remaining TTL as ``__ttl_<col>``."""

        def typed(c: str) -> str:
            v = f"`{c}_v`" if with_writetimes else f"`{c}`"
            t = dtypes[c]
            return (f"from_json({v}, '{t}')" if _complex(t) else f"CAST({v} AS {t})") + f" AS `{c}`"

        # one SQL select, so building it is one call into the JVM
        cols = [*(f"`{k}`" for k in keys), *map(typed, payload)]
        if with_writetimes:
            cols += [f"`{c}_wt` AS `__wt_{c}`" for c in payload]
            # TTL(col): whole seconds remaining until expiry, at the
            # session's injectable `now` [PK ExpirationDateOverflowHandling:
            # localDeletionTime - nowInSeconds]
            cols += [
                f"CAST(floor((`{c}_exp` - {self.now_micros}) / 1000000) AS INT) AS `__ttl_{c}`"
                for c in payload
            ]
        return wide.selectExpr(*cols)

    def snapshot(self, tbl: str, with_writetimes: bool = False) -> DataFrame:
        """The merged live view of a table as a Spark merge: snapshot +
        mutations, compacted cell-wise. The parquet snapshot is melted into
        cells inside the plan; the memtable (the session cell buffer,
        driver-held) enters it as a ``LocalRelation``
        (``session.local_frame``), unioned with those cells; two windows
        fold tombstones, TTL and last-write-wins, and a pivot makes the
        rows wide again.

        A read that pins every partition-key column with ``=``/``IN``
        (SELECT, ``_row_exists``, ``_cell_value``) does not come here: it
        reads only the named partitions and folds their cells in Python
        (``_pinned_fold``, ``fold_cells``). It comes here when:

        - the table is a materialized view;
        - the read names more than ``FAST_READ_MAX_ROWS`` partitions, or
          its partitions hold more snapshot rows than that;
        - the table's snapshot has a collection or UDT column, or its
          parquet schema differs from ``catalog.table``'s;
        - a named partition holds a memtable cell at writetime <= 0, which
          could tie with the snapshot's writetime 0, or a duplicate primary
          key in the snapshot;
        - a key value does not normalize to its column type."""
        if tbl in self._created:
            # DDL-created table: empty snapshot with the declared schema;
            # all rows live in the session cell buffer
            base = local_frame(self.spark, [], self._created[tbl].spark_schema)
        else:
            base = table(self.spark, self.sf_dir, tbl)
        pk, cc = self._keys(tbl)
        keys = [*pk, *cc]
        payload = [c for c in base.columns if c not in keys]
        dtypes = dict(base.dtypes)

        # melt the snapshot into cells (writetime 0 = pre-session history);
        # collection cells serialize as JSON (matching _emit), scalars as
        # plain string casts
        stack_cols = ", ".join(
            f"'{c}', to_json({c})" if _complex(dtypes[c]) else f"'{c}', CAST({c} AS STRING)"
            for c in payload
        )
        cells = base.selectExpr(
            *keys, f"stack({len(payload)}, {stack_cols}) AS (column, value)"
        ).select(
            *keys,
            "column",
            "value",
            F.lit(0).cast("long").alias("writetime"),
            F.lit(None).cast("long").alias("expires_at"),
            F.lit(False).alias("tombstone"),
        )
        marker = base.select(
            *keys,
            F.lit(ROW_MARKER).alias("column"),
            F.lit("1").alias("value"),
            F.lit(0).cast("long").alias("writetime"),
            F.lit(None).cast("long").alias("expires_at"),
            F.lit(False).alias("tombstone"),
        )
        cells = cells.unionByName(marker)

        muts = self._cells.get(tbl, [])
        if muts:
            rows = [
                tuple(m["key"][k] for k in keys)
                + (m["column"], m["value"], m["writetime"], m["expires_at"], m["tombstone"])
                for m in muts
            ]
            schema = StructType(
                [StructField(k, base.schema[k].dataType) for k in keys] + _CELL_FIELDS
            )
            cells = cells.unionByName(local_frame(self.spark, rows, schema))

        # TRUNCATE record: every cell at or below the truncate writetime is
        # gone — including the whole melted snapshot (writetime 0); only
        # post-truncate mutations survive
        if tbl in self._truncated:
            cells = cells.filter(F.col("writetime") > F.lit(self._truncated[tbl]))

        # row tombstones shadow all older cells of the key
        w_key = Window.partitionBy(*keys)
        row_del_wt = F.max(
            F.when(F.col("column") == ROW_TOMBSTONE, F.col("writetime"))
        ).over(w_key)
        cells = cells.withColumn("_row_del", F.coalesce(row_del_wt, F.lit(-1))).filter(
            (F.col("column") == ROW_TOMBSTONE) | (F.col("writetime") > F.col("_row_del"))
        )

        # cell-level LWW + tombstone/TTL fold
        # Cassandra's timestamp-tie rules [PK `db/rows/Cells.java reconcile`]:
        # equal writetimes (e.g. two statements in one BATCH) resolve
        # deterministically — a tombstone beats a live cell, then the
        # lexically greater value wins
        w_cell = Window.partitionBy(*keys, "column").orderBy(
            F.desc("writetime"), F.desc("tombstone"), F.desc("value")
        )
        live = (
            cells.withColumn("_rn", F.row_number().over(w_cell))
            .filter(F.col("_rn") == 1)
            .filter(~F.col("tombstone"))
            .filter(
                F.col("expires_at").isNull() | (F.col("expires_at") > F.lit(self.now_micros))
            )
            .filter(F.col("column") != ROW_TOMBSTONE)
        )

        # pivot back to wide; a row is visible if ANY live cell remains.
        # With writetimes the multi-agg pivot names columns <col>_v /
        # <col>_wt / <col>_exp; snapshot-origin cells carry writetime 0
        # ("pre-session history" — the original cluster timestamp is not in
        # the export) and no TTL
        aggs = (
            [F.first("value").alias("v"), F.max("writetime").alias("wt"),
             F.max("expires_at").alias("exp")]
            if with_writetimes
            else [F.first("value")]
        )
        wide = live.groupBy(*keys).pivot("column", [ROW_MARKER, *payload]).agg(*aggs)
        return self._typed(wide, keys, payload, dtypes, with_writetimes)

    def _copy(self, m: re.Match) -> DataFrame:
        """cqlsh COPY [PK `pylib/cqlshlib/copyutil.py`]: CSV export of the
        merged view / CSV import through the same cell emission as INSERT.
        Import is driver-side row-at-a-time (exactly cqlsh's posture — COPY
        is the small-data utility; the 100 TB ingest path is the parquet
        bulk load the snapshot itself models)."""
        from .sources.io import read_csv, write_csv

        tbl = m.group("table").lower()
        self._keys(tbl)
        df = self.snapshot(tbl)
        cols = (
            [c.strip().lower() for c in m.group("cols").split(",")]
            if m.group("cols")
            else df.columns
        )
        path = m.group("path")
        if m.group("dir").upper() == "TO":
            out = df.select(*cols)
            write_csv(out, path)
            n = out.count()
        else:
            schema = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                               for f in df.schema.fields if f.name in cols)
            rows = read_csv(self.spark, path, schema).collect()
            for r in rows:
                self._insert_row(tbl, {c: r[c] for c in cols}, None)
            n = len(rows)
        return local_frame(self.spark, [(n,)], "n_rows BIGINT")

    # -- schema DDL beyond tables -------------------------------------------

    def _create_mv(self, m: re.Match) -> None:
        name, base = m.group("name").lower(), m.group("base").lower()
        if name in self._views or name in TABLE_KEYS or name in self._created:
            if m.group("ine"):
                return None
            raise InvalidRequest(f"materialized view {name} already exists")
        base_pk, base_cc = self._keys(base)  # validates the base exists
        sels = tuple(c.strip().lower() for c in m.group("sel").split(","))
        not_null: list[str] = []
        conds: list = []
        for part in re.split(r"\bAND\b", m.group("where"), flags=re.IGNORECASE):
            nn = _IS_NOT_NULL.match(part)
            if nn:
                not_null.append(nn.group("col").lower())
                continue
            c = re.match(r"^\s*(?P<col>\w+)\s*(?P<op>=|!=|<=|>=|<|>)\s*(?P<lit>.+?)\s*$", part)
            if not c:
                raise InvalidRequest(f"unparseable view restriction: {part!r}")
            conds.append((c.group("col").lower(), c.group("op"), _literal(c.group("lit"))))
        comps = split_top_level(m.group("pkspec"))
        first = comps[0].strip()
        if first.startswith("("):
            pk = tuple(c.strip().lower() for c in split_top_level(first[1:-1]))
        else:
            pk = (first.lower(),)
        cc = tuple(c.strip().lower() for c in comps[1:])
        view_keys = (*pk, *cc)
        missing = [c for c in (*base_pk, *base_cc) if c not in view_keys]
        if missing:
            raise InvalidRequest(
                f"view PRIMARY KEY must include all base key columns, missing {missing}"
            )
        extra = [c for c in view_keys if c not in (*base_pk, *base_cc)]
        if len(extra) > 1:
            raise InvalidRequest(
                f"view key may include at most ONE non-key base column, got {extra}"
            )
        unrestricted = [c for c in view_keys if c not in not_null]
        if unrestricted:
            raise InvalidRequest(
                f"every view key column must be restricted IS NOT NULL: {unrestricted}"
            )
        self._views[name] = MvDef(name, base, sels, tuple(not_null), conds, pk, cc)
        return None

    def _create_function(self, m: re.Match) -> None:
        name = m.group("name").lower()
        if name in self._functions and not m.group("orr"):
            if m.group("ine"):
                return None
            raise InvalidRequest(f"function {name} already exists")
        args = []
        for part in split_top_level(m.group("args")):
            part = part.strip()
            if not part:
                continue
            am = re.match(r"^(?P<arg>\w+)\s+(?P<type>.+)$", part, re.DOTALL)
            if not am:
                raise InvalidRequest(f"unparseable function argument: {part!r}")
            cql_type_to_spark(am.group("type").strip().lower(), self._udts)  # validate
            args.append((am.group("arg").lower(), am.group("type").strip().lower()))
        rtype = m.group("rtype").strip().lower()
        cql_type_to_spark(rtype, self._udts)  # validate
        raw = m.group("body")
        body = raw[2:-2] if raw.startswith("$$") else raw[1:-1].replace("''", "'")
        self._functions[name] = FunctionDef(
            name=name,
            args=tuple(args),
            returns=rtype,
            body_sql=translate_function_body(m.group("lang"), body),
            called_on_null=m.group("onnull").upper() == "CALLED",
        )
        return None

    def _create_aggregate(self, m: re.Match) -> None:
        name = m.group("name").lower()
        if name in self._aggregates and not m.group("orr"):
            if m.group("ine"):
                return None
            raise InvalidRequest(f"aggregate {name} already exists")
        stype = m.group("stype").strip().lower()
        cql_type_to_spark(stype, self._udts)  # validate
        ad = AggregateDef(
            name=name,
            arg_type=m.group("argtype").strip().lower(),
            stype=stype,
            sfunc=m.group("sfunc").lower(),
            finalfunc=m.group("finalfunc").lower() if m.group("finalfunc") else None,
            initcond_sql=m.group("init").strip() if m.group("init") else None,
        )
        ad.expr_sql("NULL", self._functions)  # eager validation, Cassandra-style
        self._aggregates[name] = ad
        return None

    def _mv_source(self, mv: MvDef) -> DataFrame:
        """The view's derived plan: live base snapshot → key IS NOT NULL
        filters + view restrictions → declared projection."""
        df = self.snapshot(mv.base)
        for col in mv.not_null:
            df = df.filter(F.col(col).isNotNull())
        for col, op, lit in mv.conds:
            df = df.filter(_condition(col, op, lit))
        if mv.selectors != ("*",):
            keep = list(dict.fromkeys([*mv.partition_key, *mv.clustering, *mv.selectors]))
            df = df.select(*keep)
        return df

    #: key metadata for the system_schema/system virtual tables, mirroring
    #: Cassandra's layouts [PK `schema/SchemaKeyspace.java`,
    #: `db/SystemKeyspace.java`]: real drivers and tools introspect by
    #: SELECTing these on connect, so the session exposes them as queryable
    #: tables derived from its live catalog metadata.
    _SYSTEM_KEYS = {
        "keyspaces": (("keyspace_name",), ()),
        "tables": (("keyspace_name",), ("table_name",)),
        "columns": (("keyspace_name",), ("table_name", "column_name")),
        # Cassandra 5.0 attached-mask metadata [PK CEP-20 /
        # `schema/SchemaKeyspace.java` COLUMN_MASKS]
        "column_masks": (("keyspace_name",), ("table_name", "column_name")),
        # [PK `schema/SchemaKeyspace.java` INDEXES]; pairs with the SAI
        # similarity_function option wiring
        "indexes": (("keyspace_name",), ("table_name", "index_name")),
        "views": (("keyspace_name",), ("view_name",)),
        "types": (("keyspace_name",), ("type_name",)),
        "functions": (("keyspace_name",), ("function_name",)),
        "aggregates": (("keyspace_name",), ("aggregate_name",)),
        "local": (("key",), ()),
        "peers": (("peer",), ()),
        "triggers": (("keyspace_name",), ("table_name", "trigger_name")),
        # system_views.* virtual tables (Cassandra 4.0 [PK
        # `db/virtual/SystemViewsKeyspace.java`]) — rendered from LIVE
        # session/process state, which is the whole point of the keyspace
        "settings": (("name",), ()),
        "clients": (("username",), ()),
        "caches": (("name",), ()),
    }

    #: namespace → the virtual tables it serves (SELECT validity routing)
    _SYSTEM_NS = {
        "system": frozenset({"local", "peers"}),
        "system_views": frozenset({"settings", "clients", "caches"}),
    }

    def _all_tables(self) -> dict[str, list[tuple[str, str, tuple, tuple]]]:
        """(column, type, pk, cc) rows per table — parquet catalog tables
        plus session-created ones, the single source the system_schema
        virtual tables render from."""
        out: dict[str, list[tuple[str, str, tuple, tuple]]] = {}
        for tbl, (pk, cc) in TABLE_KEYS.items():
            cols = [
                (f.name, f.dataType.simpleString())
                for f in table(self.spark, self.sf_dir, tbl).schema.fields
            ]
            out[tbl] = [(c, t, pk, cc) for c, t in cols]
        for tbl, td in self._created.items():
            out[tbl] = [
                (c, t, td.partition_key, td.clustering) for c, t in td.columns.items()
            ]
        return out

    def _system_schema(self, which: str) -> DataFrame:
        """Render one system_schema/system virtual table from the session's
        live metadata. Single-engine: everything lives in the session's
        keyspaces; replication/topology columns carry the fixed values a
        single-node cluster would report."""
        ks = self._current_ks
        if which == "keyspaces":
            rows = [(k, True) for k in sorted(self._keyspaces)]
            return local_frame(
                self.spark, rows, "keyspace_name STRING, durable_writes BOOLEAN"
            )
        if which == "tables":
            rows = [(ks, t) for t in sorted(self._all_tables())]
            return local_frame(
                self.spark, rows, "keyspace_name STRING, table_name STRING"
            )
        if which == "columns":
            rows = []
            for tbl, cols in sorted(self._all_tables().items()):
                for c, t, pk, cc in cols:
                    kind = (
                        "partition_key"
                        if c in pk
                        else "clustering" if c in cc else "regular"
                    )
                    pos = pk.index(c) if c in pk else cc.index(c) if c in cc else -1
                    order = "asc" if c in cc else "none"
                    rows.append((ks, tbl, c, order, kind, pos, t))
            return local_frame(
                self.spark, rows,
                "keyspace_name STRING, table_name STRING, column_name STRING, "
                "clustering_order STRING, kind STRING, position INT, type STRING",
            )
        if which == "column_masks":
            # [PK 5.0 `schema/SchemaKeyspace.java` COLUMN_MASKS table]:
            # one row per masked column; the mask function split into
            # name + literal argument list (arguments rendered as text —
            # the driver-side shape tools introspect)
            rows = []
            for tbl, td in sorted(self._created.items()):
                for c, spec in sorted(td.masks.items()):
                    fn, _, argtext = spec.partition("(")
                    rows.append((ks, tbl, c, "system", fn, argtext.rstrip(")")))
            return local_frame(
                self.spark, rows,
                "keyspace_name STRING, table_name STRING, column_name STRING, "
                "function_keyspace_name STRING, function_name STRING, "
                "function_arguments STRING",
            )
        if which == "indexes":
            # [PK `schema/SchemaKeyspace.java` INDEXES; 5.0 SAI]: one row
            # per index; Cassandra's options map carries 'target' plus
            # the WITH OPTIONS pairs — rendered as deterministic JSON
            # text (sorted keys), the column_masks text-rendering shape
            import json as _json

            rows = []
            for iname, ix in sorted(self._indexes.items()):
                opts = {"target": ix["col"], **ix["options"]}
                rows.append(
                    (
                        ks,
                        ix["table"],
                        iname,
                        ix["kind"],
                        _json.dumps(opts, sort_keys=True),
                    )
                )
            return local_frame(
                self.spark, rows,
                "keyspace_name STRING, table_name STRING, index_name STRING, "
                "kind STRING, options STRING",
            )
        if which == "views":
            rows = [(ks, v.name, v.base) for v in self._views.values()]
            return local_frame(
                self.spark, rows,
                "keyspace_name STRING, view_name STRING, base_table_name STRING",
            )
        if which == "triggers":
            # Cassandra's layout: options is a frozen map carrying 'class'
            rows = [
                (ks, tbl, name, {"class": cls})
                for tbl, trig in sorted(self._triggers.items())
                for name, cls in sorted(trig.items())
            ]
            return local_frame(
                self.spark, rows,
                "keyspace_name STRING, table_name STRING, "
                "trigger_name STRING, options MAP<STRING, STRING>",
            )
        if which == "types":
            rows = [
                (ks, name, list(fields), [fields[f] for f in fields])
                for name, fields in sorted(self._udts.items())
            ]
            return local_frame(
                self.spark, rows,
                "keyspace_name STRING, type_name STRING, "
                "field_names ARRAY<STRING>, field_types ARRAY<STRING>",
            )
        if which == "functions":
            rows = [
                (ks, f.name, [t for _, t in f.args], f.returns, f.body_sql)
                for f in self._functions.values()
            ]
            return local_frame(
                self.spark, rows,
                "keyspace_name STRING, function_name STRING, "
                "argument_types ARRAY<STRING>, return_type STRING, body STRING",
            )
        if which == "aggregates":
            rows = [
                (ks, a.name, a.arg_type, a.stype, a.sfunc, a.finalfunc)
                for a in self._aggregates.values()
            ]
            return local_frame(
                self.spark, rows,
                "keyspace_name STRING, aggregate_name STRING, "
                "argument_type STRING, state_type STRING, state_func STRING, "
                "final_func STRING",
            )
        if which == "local":
            rows = [
                ("local", "dcosb", "3.4.7", "5.0.0",
                 "org.apache.spark.sql.catalyst.expressions.Murmur3Hash", ks)
            ]
            return local_frame(
                self.spark, rows,
                "key STRING, cluster_name STRING, cql_version STRING, "
                "release_version STRING, partitioner STRING, keyspace_name STRING",
            )
        if which == "peers":  # single-engine: no peers, schema only
            return local_frame(
                self.spark, [], "peer STRING, data_center STRING, release_version STRING"
            )
        if which == "settings":
            # [PK `db/virtual/SettingsTable.java`] — the engine's pinned
            # runtime confs (session.ensure_engine_conf), read LIVE so the
            # view reports what queries actually run under
            names = (
                "spark.sql.session.timeZone",
                "spark.sql.adaptive.enabled",
                "spark.sql.shuffle.partitions",
                "spark.sql.legacy.parquet.nanosAsLong",
            )
            rows = [(n, str(self.spark.conf.get(n, "<unset>"))) for n in names]
            return local_frame(self.spark, rows, "name STRING, value STRING")
        if which == "clients":
            # [PK `db/virtual/ClientsTable.java`] — every principal that
            # authenticated on this session with its statement count; the
            # current principal is the one in stage 'ready'
            rows = [
                (u, "ready" if u == self._principal else "authenticated", c)
                for u, c in sorted(self._request_counts.items())
            ]
            return local_frame(
                self.spark, rows,
                "username STRING, connection_stage STRING, request_count BIGINT",
            )
        if which == "caches":
            # [PK `db/virtual/CachesTable.java`] — one row per engine memo
            # namespace (session.plan_memo), counters read live
            return local_frame(
                self.spark, memo_stats(),
                "name STRING, entry_count BIGINT, hit_count BIGINT, "
                "request_count BIGINT, eviction_count BIGINT",
            )
        raise InvalidRequest(f"unknown system table {which}")

    def _select(self, statement: str) -> DataFrame:
        msys = re.search(
            r"\bFROM\s+(system_schema|system_views|system)\s*\.\s*(\w+)",
            statement,
            re.IGNORECASE,
        )
        if msys:
            which = msys.group(2).lower()
            ns = msys.group(1).lower()
            non_schema = self._SYSTEM_NS["system"] | self._SYSTEM_NS["system_views"]
            valid = (
                which in self._SYSTEM_NS[ns]
                if ns in self._SYSTEM_NS
                else which not in non_schema
            )
            if which not in self._SYSTEM_KEYS or not valid:
                raise InvalidRequest(f"unknown table {ns}.{which}")
            src = self._system_schema(which)
            stmt = re.sub(
                r"\b(system_schema|system_views|system)\s*\.\s*",
                "",
                statement,
                flags=re.IGNORECASE,
            )
            return cql(
                self.spark,
                self.sf_dir,
                stmt,
                source_df=src,
                extra_keys={which: self._SYSTEM_KEYS[which]},
                extra_indexed={which: tuple(src.columns)},
            )
        m = re.search(r"\bFROM\s+(\w+)", statement, re.IGNORECASE)
        if not m:
            raise InvalidRequest("SELECT needs FROM")
        tbl = m.group(1).lower()
        self._keys(tbl)  # raises InvalidRequest for unknown/dropped tables
        extra = {n: td.keys for n, td in self._created.items()}
        extra.update({n: v.keys for n, v in self._views.items()})
        with_wt = bool(
            re.search(r"\b(?:max)?(?:writetime|ttl)\s*\(", statement, re.IGNORECASE)
        )
        if tbl in self._views:
            src, applied = self._mv_source(self._views[tbl]), frozenset()
        else:
            src, applied = self._source(
                tbl, self._pins(tbl, parse(statement, extra).conds), with_wt
            )
        post_mask: tuple[str, ...] = ()
        if tbl in self._created and self._created[tbl].masks:
            src, post_mask = self._apply_attached_masks(tbl, src, statement)
        # a lone `*` whose every restriction the fold applied needs no Spark
        # operator: cql() checks the restrictions and hands a held source
        # back as it is, so the read is served without the JVM
        res = cql(
            self.spark,
            self.sf_dir,
            statement,
            source_df=src,
            extra_keys=extra,
            extra_indexed=self._indexed,
            extra_functions=self._functions,
            extra_aggregates=self._aggregates,
            extra_index_options=self._index_options,
            applied_keys=applied,
            # re-masked inside cql() immediately after the WHERE filter —
            # BEFORE selectors/aliases/expressions run (masking the
            # matching OUTPUT columns by name would leak clear text
            # through `SELECT ssn AS s ... WHERE ssn = ...`)
            post_filter_masks={
                c: self._created[tbl].masks[c] for c in post_mask
            },
        )
        return res
