"""Mini-CQL front-end (the reference's API surface, SURVEY.md §3.1).

Parses the restricted CQL SELECT grammar [PK `cql3/Cql.g`,
`cql3/statements/SelectStatement.java`] and compiles it to a Spark
DataFrame plan through the same operators as the registry queries:

    SELECT [JSON] [DISTINCT] selector[, ...] FROM table
      [WHERE cond AND ...]
      [GROUP BY col | floor(col, duration[, start])[, ...]]
      [ORDER BY col [ASC|DESC][, ...]]
      [PER PARTITION LIMIT n] [LIMIT n] [ALLOW FILTERING]

    selector := * | col | col AS alias | udt.field[.field] | count(*) |
                min|max|sum|avg|count(col) | writetime(col) |
                maxwritetime(col) | ttl(col) | token(col[, col...]) |
                cast(col AS type) | floor(col, duration[, start]) |
                toDate|toTimestamp|toUnixTimestamp(col) |
                currenttimestamp() | currentdate() | uuid() |
                mask_*(col, ...) | similarity_{cosine,euclidean,dot_product} |
                <session UDF/UDA>(args)   [all with optional AS alias]
    cond     := col (=|<|<=|>|>=|!=) literal | col IN (lit, ...)
              | col CONTAINS literal | token(pk[, pk...]) op literal

Faithful CQL restrictions, enforced like Cassandra's
StatementRestrictions [PK]:
- filtering on a non-key, non-indexed column without ALLOW FILTERING
  raises InvalidRequest (in Spark both paths are scans — the check keeps
  the *API contract*, because at 100 TB an unkeyed scan is a deliberate
  choice, not an accident);
- ORDER BY only on clustering columns, only when the partition key is
  equality/IN-restricted;
- CQL has no OR — only AND conjunctions parse.

WRITETIME maps to the mutation-log convention (unix micros of the row's
timestamp column) per SURVEY §1.2.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .catalog import TABLES, table


class InvalidRequest(Exception):
    """CQL-level rejection (Cassandra's InvalidRequestException)."""


class Unauthorized(Exception):
    """Permission denial (Cassandra's UnauthorizedException): the logged-in
    role lacks the required permission on the statement's resource
    [PK `auth/CassandraAuthorizer.java`]."""


#: Cassandra-style schema metadata: (partition key cols, clustering cols).
#: The TPC-H-ish tables are keyed by their natural PKs; events is the
#: wide-partition table (user_id partition, ts clustering) per SURVEY §1.2.
TABLE_KEYS: dict[str, tuple[tuple[str, ...], tuple[str, ...]]] = {
    "region": (("r_regionkey",), ()),
    "nation": (("n_nationkey",), ()),
    "supplier": (("s_suppkey",), ()),
    "part": (("p_partkey",), ()),
    "customer": (("c_custkey",), ()),
    "orders": (("o_orderkey",), ()),
    "lineitem": (("l_orderkey",), ("l_linenumber",)),
    "events": (("user_id",), ("ts", "event_id")),
    "documents": (("doc_id",), ()),
    "embeddings": (("vec_id",), ()),
}

#: columns with a "secondary index" (equality allowed without ALLOW
#: FILTERING, like a Cassandra 2i on a low-cardinality column)
INDEXED: dict[str, tuple[str, ...]] = {
    "events": ("event_type",),
    "customer": ("c_mktsegment",),
    "documents": ("lang",),
}

#: the timestamp column that carries writetime semantics per table
WRITETIME_COL = {"events": "ts", "orders": "o_orderdate", "lineitem": "l_shipdate"}

_AGGS = ("count", "min", "max", "sum", "avg")

_STMT = re.compile(
    r"^\s*SELECT\s+(?P<json>JSON\s+)?(?P<distinct>DISTINCT\s+)?(?P<sel>.*?)\s+"
    r"FROM\s+(?P<table>\w+)"
    r"(?:\s+WHERE\s+(?P<where>.*?))?"
    r"(?:\s+GROUP\s+BY\s+(?P<group>[\w,\s()':.-]*?))?"
    r"(?:\s+ORDER\s+BY\s+(?P<anncol>\w+)\s+ANN\s+OF\s+(?P<annvec>\[[^\]]*\])"
    r"|\s+ORDER\s+BY\s+(?P<order>[\w,\s]*?))?"
    r"(?:\s+PER\s+PARTITION\s+LIMIT\s+(?P<pplimit>\d+))?"
    r"(?:\s+LIMIT\s+(?P<limit>\d+))?"
    r"(?P<allow>\s+ALLOW\s+FILTERING)?\s*;?\s*$",
    re.IGNORECASE | re.DOTALL,
)

_COND = re.compile(
    r"^\s*(?P<col>token\(\s*\w+(?:\s*,\s*\w+)*\s*\)|\w+)\s*(?:(?P<op><=|>=|!=|=|<|>)\s*(?P<lit>.+?)"
    r"|:\s*(?P<mlit>.+?)"
    r"|IN\s*\((?P<inlist>.*?)\)"
    r"|CONTAINS\s+(?P<clit>.+?))\s*$",
    re.IGNORECASE,
)


#: SAI text analyzers implemented [PK Cassandra 5.0 SAI analyzers,
#: CASSANDRA-18715: 'standard' (lowercase + non-alphanumeric split, the
#: Lucene StandardAnalyzer shape) and 'whitespace' (verbatim tokens)].
#: Other analyzer configs are rejected at DDL time.
SUPPORTED_ANALYZERS = ("standard", "whitespace")


def _analyzer_tokens(analyzer: str, col):
    """The column's analyzed token array, as a JVM-side expression."""
    from pyspark.sql import functions as F

    if analyzer == "whitespace":
        return F.split(col, " ")
    # standard: lowercase, split on non-alphanumeric runs, drop empties
    return F.filter(
        F.split(F.lower(col), "[^a-z0-9]+"), lambda t: t != F.lit("")
    )


def _analyze_literal(analyzer: str, lit: str) -> list[str]:
    """The query literal run through the same analyzer, driver-side."""
    if analyzer == "whitespace":
        return [t for t in lit.split(" ") if t != ""]
    return [t for t in re.split(r"[^a-z0-9]+", lit.lower()) if t]


def split_top_level(s: str) -> list[str]:
    """Split on commas not inside quotes or brackets. Bracket depth is NOT
    tracked inside quoted strings — a quoted value may legally contain
    unbalanced '(' or '['."""
    out: list[str] = []
    depth, cur, in_q = 0, [], False
    for ch in s:
        if ch == "'":
            in_q = not in_q
            cur.append(ch)
            continue
        if in_q:
            cur.append(ch)
            continue
        if ch == "," and depth == 0:
            out.append("".join(cur))
            cur = []
            continue
        if ch in "([{<":
            depth += 1
        elif ch in ")]}>":
            depth -= 1
        cur.append(ch)
    if cur:
        out.append("".join(cur))
    return out


def _literal(tok: str):
    """Parse a CQL literal, including collection literals [PK `cql3/Cql.g`
    collection_literal]: ['a','b'] list, {'a','b'} set (normalized sorted —
    Cassandra sets are ordered), {'k': v} map (dict). Nested collections
    recurse (frozen<list<...>> etc.)."""
    tok = tok.strip()
    if tok.startswith("'") and tok.endswith("'"):
        return tok[1:-1].replace("''", "'")  # CQL escapes ' by doubling
    if tok.startswith("[") and tok.endswith("]"):
        inner = tok[1:-1].strip()
        return [] if not inner else [_literal(x) for x in split_top_level(inner)]
    if tok.startswith("{") and tok.endswith("}"):
        inner = tok[1:-1].strip()
        if not inner:
            return []  # {} is an empty set/map; CQL disambiguates by column type
        parts = split_top_level(inner)
        if any(_top_level_colon(p) for p in parts):
            entries = {}
            for p in parts:
                k, v = _split_map_entry(p)
                k = k.strip()
                if re.fullmatch(r"[A-Za-z_]\w*", k) and k.lower() not in (
                    "true",
                    "false",
                    "null",
                ):
                    # UDT literal [PK `cql3/Cql.g` usertype_literal]: bare
                    # identifier field names — {street: 'elm', zip: 5}
                    entries[k.lower()] = _literal(v)
                else:
                    entries[_literal(k)] = _literal(v)
            return entries
        return sorted((_literal(x) for x in parts), key=repr)
    if re.fullmatch(r"-?\d+", tok):
        return int(tok)
    if re.fullmatch(r"-?\d+\.\d*", tok):
        return float(tok)
    if tok.lower() in ("true", "false"):
        return tok.lower() == "true"
    if tok.lower() == "null":
        return None
    raise InvalidRequest(f"unparseable literal: {tok!r}")


def _top_level_colon(entry: str) -> bool:
    depth, in_q = 0, False
    for ch in entry:
        if ch == "'":
            in_q = not in_q
        elif not in_q:
            if ch in "([{":
                depth += 1
            elif ch in ")]}":
                depth -= 1
            elif ch == ":" and depth == 0:
                return True
    return False


def _split_map_entry(entry: str) -> tuple[str, str]:
    depth, in_q = 0, False
    for i, ch in enumerate(entry):
        if ch == "'":
            in_q = not in_q
        elif not in_q:
            if ch in "([{":
                depth += 1
            elif ch in ")]}":
                depth -= 1
            elif ch == ":" and depth == 0:
                return entry[:i], entry[i + 1 :]
    raise InvalidRequest(f"unparseable map entry: {entry!r}")


@dataclass
class _Select:
    json: bool
    distinct: bool
    selectors: list[tuple[str, str, str | None]]  # (kind, arg, alias)
    table: str
    conds: list[tuple[str, str, object]] = field(default_factory=list)
    group_by: list[str] = field(default_factory=list)
    order_by: list[tuple[str, bool]] = field(default_factory=list)
    ann: tuple[str, list[float]] | None = None  # ORDER BY col ANN OF [vec]
    per_partition_limit: int | None = None
    limit: int | None = None
    allow_filtering: bool = False


def _parse_selector(s: str) -> tuple[str, str, str | None]:
    s = s.strip()
    alias = None
    m = re.match(r"^(.*?)\s+AS\s+(\w+)$", s, re.IGNORECASE)
    if m:
        s, alias = m.group(1).strip(), m.group(2)
    if s == "*":
        return ("star", "*", None)
    m = re.match(
        r"^similarity_(?P<fn>cosine|euclidean|dot_product)\s*"
        r"\(\s*(?P<col>\w+)\s*,\s*(?P<vec>\[.*\])\s*\)$",
        s,
        re.IGNORECASE | re.DOTALL,
    )
    if m:
        # CQL 5.0 vector-search scoring selectors [PK Cassandra 5.0
        # `similarity_cosine(column, literal)` et al.] — arg packs
        # "col,[vec]" (the vector literal re-parses in cql()).
        return ("sim:" + m.group("fn").lower(), f"{m.group('col')},{m.group('vec')}", alias)
    m = re.match(r"^(\w+)\s*\(\s*(\*|\w+)\s*\)$", s)
    if m:
        fn, arg = m.group(1).lower(), m.group(2)
        if fn in _AGGS:
            return ("agg:" + fn, arg, alias)
        if fn == "ttl":
            # TTL(col) [PK `cql3/selection/Selectable.java` WritetimeOrTTL]:
            # remaining seconds until the winning cell expires, null when no
            # TTL is set — the read half of SURVEY A20.
            return ("ttl", arg, alias)
        if fn in ("writetime", "maxwritetime"):
            # maxwritetime [PK CQL 4.1]: max cell-writetime of the column.
            # Our snapshot model tracks one winning cell per scalar column,
            # so it projects the same source as writetime (documented
            # collapse — multi-cell collections carry a single row ts here).
            return ("writetime", arg, alias or (f"{fn}_{arg}" if fn == "maxwritetime" else None))
        if fn == "token":
            return ("token", arg, alias)
        # fall through: may be a session-created UDF/UDA (CREATE FUNCTION /
        # CREATE AGGREGATE) — resolved (or rejected) in cql()
    m = re.match(r"^(\w+)\s*\((.*)\)$", s, re.DOTALL)
    if m:
        return ("call:" + m.group(1).lower(), m.group(2).strip(), alias)
    if re.fullmatch(r"\w+", s):
        return ("col", s, alias)
    if re.fullmatch(r"\w+(\.\w+)+", s):
        # frozen UDT / tuple field navigation: profile.addr.seg — a
        # zero-cost struct projection in Catalyst [PK `cql3/selection/
        # Selectable.java` WithFieldSelection]
        return ("field", s, alias)
    raise InvalidRequest(f"unparseable selector: {s!r}")


def parse(statement: str, extra_keys: dict | None = None) -> _Select:
    """``extra_keys`` maps session-created table names (CREATE TABLE DDL)
    to their (partition_key, clustering) tuples — same shape as
    TABLE_KEYS — so SELECTs against them parse and restriction-check."""
    m = _STMT.match(statement)
    if not m:
        raise InvalidRequest(f"unparseable statement: {statement!r}")
    tbl = m.group("table").lower()
    if tbl not in TABLES and tbl not in (extra_keys or {}):
        raise InvalidRequest(f"unknown table {tbl}")
    if m.group("where") and re.search(r"\bOR\b", m.group("where"), re.IGNORECASE):
        raise InvalidRequest("CQL does not support OR predicates")
    sel = _Select(
        json=bool(m.group("json")),
        distinct=bool(m.group("distinct")),
        selectors=[_parse_selector(s) for s in split_top_level(m.group("sel"))],
        table=tbl,
        allow_filtering=bool(m.group("allow")),
    )
    if m.group("where"):
        for part in re.split(r"\bAND\b", m.group("where"), flags=re.IGNORECASE):
            c = _COND.match(part)
            if not c:
                raise InvalidRequest(f"unparseable condition: {part!r}")
            col = re.sub(r"\s+", "", c.group("col").lower())
            if c.group("inlist") is not None:
                sel.conds.append((col, "in", [_literal(x) for x in c.group("inlist").split(",")]))
            elif c.group("clit") is not None:
                sel.conds.append((col, "contains", _literal(c.group("clit"))))
            elif c.group("mlit") is not None:
                # the analyzed-match operator [PK Cassandra 5.0 SAI
                # analyzers, CASSANDRA-18715: `col : 'terms'` matches when
                # the column's ANALYZED tokens contain the analyzed query
                # terms; requires an SAI index with an index_analyzer]
                sel.conds.append((col, "match", _literal(c.group("mlit"))))
            else:
                sel.conds.append((col, c.group("op"), _literal(c.group("lit"))))
    if m.group("group"):
        sel.group_by = [
            g.strip().lower() for g in split_top_level(m.group("group")) if g.strip()
        ]
    if m.group("anncol"):
        # ORDER BY col ANN OF [v, ...] [PK Cassandra 5.0 SAI vector search]
        vec = _literal(m.group("annvec"))
        if not isinstance(vec, list) or not all(isinstance(x, (int, float)) for x in vec):
            raise InvalidRequest(f"ANN OF requires a numeric vector literal: {m.group('annvec')!r}")
        sel.ann = (m.group("anncol").lower(), [float(x) for x in vec])
    if m.group("order"):
        for part in m.group("order").split(","):
            toks = part.split()
            if not toks:
                continue
            sel.order_by.append((toks[0].lower(), len(toks) > 1 and toks[1].upper() == "DESC"))
    if m.group("pplimit"):
        sel.per_partition_limit = int(m.group("pplimit"))
    if m.group("limit"):
        sel.limit = int(m.group("limit"))
    return sel


def _check_restrictions(
    q: _Select, extra_keys: dict | None = None, extra_indexed: dict | None = None
) -> None:
    pk, cc = {**TABLE_KEYS, **(extra_keys or {})}[q.table]
    indexed = (*INDEXED.get(q.table, ()), *(extra_indexed or {}).get(q.table, ()))
    key_cols = set(pk) | set(cc)
    pk_restricted = {c for c, op, _ in q.conds if c in pk and op in ("=", "in")}
    for col, op, _ in q.conds:
        if col.startswith("token("):
            inner = tuple(col[6:-1].split(","))
            # [PK `cql3/restrictions/TokenRestriction.java`]: token() must
            # name the ENTIRE partition key, in declaration order
            if inner != pk:
                raise InvalidRequest(
                    f"token() restrictions must name the full partition key "
                    f"{pk}, got {inner}"
                )
            continue  # token ranges never need ALLOW FILTERING [PK TokenRelation]
        if op == "match" and col not in indexed:
            # Cassandra rejects ':' without an analyzed index even under
            # ALLOW FILTERING — there is no analyzer to apply [PK SAI
            # analyzers: "Column ... has no analyzer configured"]
            raise InvalidRequest(
                f"Column {col!r} has no analyzed index: the ':' operator "
                "requires an SAI index with an index_analyzer"
            )
        if col in key_cols:
            continue
        if col in indexed and op in ("=", "match"):
            continue
        if not q.allow_filtering:
            raise InvalidRequest(
                f"Cannot execute this query: filtering on non-key column {col!r} "
                "requires ALLOW FILTERING"
            )
    if q.ann is not None:
        # Cassandra 5.0's exact error contract: ANN ordering is a global
        # (SAI) index scan, legal without key restrictions, but unbounded
        # result sets are rejected [PK "ANN OF ... requires a LIMIT"].
        if q.limit is None:
            raise InvalidRequest("Use of ANN OF in an ORDER BY clause requires a LIMIT")
        if q.distinct or q.group_by:
            raise InvalidRequest("ANN ordering does not support DISTINCT or GROUP BY")
    if q.order_by:
        if set(pk) - pk_restricted:
            raise InvalidRequest("ORDER BY requires the partition key to be restricted by = or IN")
        for col, _ in q.order_by:
            if col not in cc:
                raise InvalidRequest(f"ORDER BY is only supported on clustering columns, got {col!r}")
    if q.group_by:
        # [PK `cql3/statements/SelectStatement.java` getGroupMaker]: GROUP BY
        # accepts primary-key columns in prefix order (equality-restricted
        # key columns may be skipped), plus at most a floor() time bucket on
        # a key column (CASSANDRA-11871). Documented relaxation for the
        # analytics engine: indexed or equality-restricted non-key columns
        # also group (Cassandra rejects them; this engine's scans support
        # them and a13/a14-style rollups rely on it).
        seq = (*pk, *cc)
        #: only strict equality lets a key column be omitted from the prefix
        #: (IN produces several groups, so the column must still be named)
        skippable = {c for c, op, _ in q.conds if op == "="}
        eq_restricted = {c for c, op, _ in q.conds if op in ("=", "in")}
        idx = 0
        for item in q.group_by:
            fm = _FLOOR_ITEM.match(item)
            col = _parse_floor(fm.group("args"))[0] if fm else item
            if fm and col not in seq:
                raise InvalidRequest(
                    f"floor() in GROUP BY is only supported on primary key "
                    f"columns, got {col!r}"
                )
            if col in seq:
                while idx < len(seq) and seq[idx] != col and seq[idx] in skippable:
                    idx += 1
                if idx >= len(seq) or seq[idx] != col:
                    raise InvalidRequest(
                        f"GROUP BY primary-key columns must follow declaration "
                        f"order {seq}, got {col!r}"
                    )
                idx += 1
            elif col not in indexed and col not in eq_restricted:
                raise InvalidRequest(
                    f"GROUP BY is only supported on primary key, indexed, or "
                    f"equality-restricted columns, got {col!r}"
                )
    if q.per_partition_limit is not None and not cc:
        raise InvalidRequest("PER PARTITION LIMIT requires clustering columns")


def _condition(col: str, op: str, lit) -> Column:
    return _apply_op(F.col(col), op, lit)


def _apply_op(c: Column, op: str, lit) -> Column:
    if op == "=":
        return c == lit
    if op == "!=":
        return c != lit
    if op == "<":
        return c < lit
    if op == "<=":
        return c <= lit
    if op == ">":
        return c > lit
    if op == ">=":
        return c >= lit
    if op == "in":
        return c.isin(lit)
    raise InvalidRequest(f"unknown operator {op}")


# -- floor(ts, duration[, start]) time-bucket grouping [PK CASSANDRA-11871,
# `cql3/functions/TimeFcts.java` FloorTimestampFunction] ---------------------

_DUR_COMPONENT = re.compile(r"(\d+)(ns|us|µs|ms|mo|s|m|h|d|w|y)", re.IGNORECASE)

#: fixed-width duration units in microseconds (calendar units rejected:
#: a floor() bucket must be constant-width, exactly Cassandra's rule)
_DUR_US = {
    "us": 1,
    "µs": 1,
    "ms": 1_000,
    "s": 1_000_000,
    "m": 60_000_000,
    "h": 3_600_000_000,
    "d": 86_400_000_000,
    "w": 7 * 86_400_000_000,
}


def parse_duration_micros(s: str) -> int:
    """CQL duration literal (`12h30m`, `90s`, `2w`) → microseconds
    [PK `cql3/Duration.java`]. Calendar-dependent components (y/mo) and
    sub-microsecond remainders raise InvalidRequest, matching Cassandra's
    "fixed-width durations only" restriction on floor()."""
    s = s.strip()
    pos, total = 0, 0
    for m in _DUR_COMPONENT.finditer(s):
        if m.start() != pos:
            break
        unit = m.group(2).lower()
        if unit in ("mo", "y"):
            raise InvalidRequest(
                f"floor() requires a fixed-width duration, got calendar unit {unit!r}"
            )
        if unit == "ns":
            ns = int(m.group(1))
            if ns % 1000:
                raise InvalidRequest("sub-microsecond durations are not representable")
            total += ns // 1000
        else:
            total += int(m.group(1)) * _DUR_US[unit]
        pos = m.end()
    if pos != len(s) or total <= 0:
        raise InvalidRequest(f"unparseable duration literal: {s!r}")
    return total


_FLOOR_ARGS = re.compile(
    r"^\s*(?P<col>\w+)\s*,\s*(?P<dur>[\w.µ]+)\s*(?:,\s*(?P<start>'[^']*')\s*)?$",
    re.IGNORECASE,
)


def _parse_floor(argstr: str) -> tuple[str, int, int]:
    """floor() argument pack → (column, bucket_micros, start_micros)."""
    m = _FLOOR_ARGS.match(argstr)
    if not m:
        raise InvalidRequest(f"unparseable floor() arguments: {argstr!r}")
    dur_us = parse_duration_micros(m.group("dur"))
    start_us = 0
    if m.group("start"):
        from datetime import datetime, timezone

        raw = m.group("start").strip("'")
        try:
            dt = datetime.fromisoformat(raw)
        except ValueError as e:
            raise InvalidRequest(f"unparseable floor() start time: {raw!r}") from e
        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=timezone.utc)
        start_us = int(dt.timestamp() * 1_000_000)
    return m.group("col").lower(), dur_us, start_us


def _floor_bucket(col: str, dur_us: int, start_us: int) -> Column:
    """Constant-width time bucket: start + floor((ts-start)/dur)*dur, all in
    epoch micros — stays in whole-stage codegen (no UDF, no window)."""
    us = F.unix_micros(F.col(col).cast("timestamp"))
    bucket = (
        F.lit(start_us)
        + F.floor((us - F.lit(start_us)) / F.lit(dur_us)).cast("long") * F.lit(dur_us)
    )
    return F.timestamp_micros(bucket.cast("long"))


_FLOOR_ITEM = re.compile(r"^floor\s*\((?P<args>.*)\)$", re.IGNORECASE | re.DOTALL)


#: CQL scalar built-ins resolvable in SELECT [PK `cql3/functions/
#: TimeFcts.java`, `UuidFcts.java`]: (arity, column builder over the raw
#: argument tokens — column names pass through F.col-compatible strings).
_BUILTIN_SCALARS: dict = {
    "todate": (1, lambda c: F.to_date(F.col(c))),
    "totimestamp": (1, lambda c: F.col(c).cast("timestamp")),
    # Cassandra returns epoch MILLIS for toUnixTimestamp
    "tounixtimestamp": (1, lambda c: F.unix_millis(F.col(c).cast("timestamp"))),
    "currenttimestamp": (0, lambda: F.current_timestamp()),
    "currentdate": (0, lambda: F.current_date()),
    "uuid": (0, lambda: F.expr("uuid()")),
}


def cql(
    spark: SparkSession,
    sf_dir: str,
    statement: str,
    source_df: DataFrame | None = None,
    extra_keys: dict | None = None,
    extra_indexed: dict | None = None,
    extra_functions: dict | None = None,
    extra_aggregates: dict | None = None,
    extra_index_options: dict | None = None,
    post_filter_masks: dict | None = None,
    applied_keys: frozenset = frozenset(),
) -> DataFrame:
    """Execute a CQL SELECT against the catalog (or an injected source —
    the CqlSession merged view); returns a DataFrame. ``extra_keys``
    carries session-created tables' key metadata (see parse);
    ``extra_indexed`` session-created secondary indexes (CREATE INDEX);
    ``extra_functions``/``extra_aggregates`` session-created UDFs/UDAs
    (CREATE FUNCTION / CREATE AGGREGATE — FunctionDef/AggregateDef);
    ``extra_index_options`` SAI index option maps keyed ``"table.col"``
    (CREATE CUSTOM INDEX ... WITH OPTIONS = {...}) — ANN ordering ranks
    by the index's declared ``similarity_function`` [PK CEP-30 / 5.0 SAI
    docs: the ORDER BY ... ANN OF ranking follows the INDEX's function,
    not an unconditional cosine]; ``post_filter_masks`` (col -> mask
    spec) re-masks WHERE-restricted attached-mask columns IMMEDIATELY
    after the filter loop [PK CEP-20: SELECT_MASKED lets a principal
    restrict on clear values but never read them] — applied here, before
    any selector/alias/expression/aggregate can observe the clear bytes,
    so ``SELECT ssn AS s ... WHERE ssn = '...'`` leaks nothing (a re-mask
    of output columns by name would miss aliases); ``applied_keys`` names
    the key columns whose ``=``/``IN`` restrictions ``source_df`` already
    applies (a pinned read's fold), which are checked but not filtered
    again."""
    q = parse(statement, extra_keys)
    _check_restrictions(q, extra_keys, extra_indexed)
    pk, cc = {**TABLE_KEYS, **(extra_keys or {})}[q.table]
    df = source_df if source_df is not None else table(spark, sf_dir, q.table)

    for col, op, lit in q.conds:
        if col in applied_keys and op in ("=", "in"):
            continue
        if col.startswith("token("):
            from .functions.murmur3 import token_murmur3

            parts = col[6:-1].split(",")
            if len(parts) == 1:
                tok = token_murmur3(F.col(parts[0]))
            else:
                from .functions.murmur3 import token_murmur3_composite

                tok = token_murmur3_composite(*parts)
            df = df.filter(_apply_op(tok, op, lit))
            continue
        if op == "match":
            # analyzed match [PK Cassandra 5.0 SAI analyzers,
            # CASSANDRA-18715]: both the column AND the query literal run
            # through the INDEX's declared analyzer; a multi-term literal
            # requires ALL its analyzed terms present (the match-AND
            # contract). The filter is a plain array_contains conjunction
            # — JVM-side, pushable ahead of every later step.
            opts = (extra_index_options or {}).get(f"{q.table}.{col}") or {}
            analyzer = opts.get("index_analyzer")
            if not analyzer:
                raise InvalidRequest(
                    f"Column {col!r} has no analyzed index: the ':' "
                    "operator requires an SAI index with an index_analyzer"
                )
            toks = _analyzer_tokens(analyzer, F.col(col))
            terms = _analyze_literal(analyzer, str(lit))
            if not terms:
                raise InvalidRequest(
                    f"the ':' literal analyzes to no terms: {lit!r}"
                )
            for t in terms:
                df = df.filter(F.array_contains(toks, t))
            continue
        if op == "contains":
            # CQL CONTAINS targets collection columns; a text column is
            # treated as its token list (the list<text> mapping, SURVEY §1.2)
            dtype = dict(df.dtypes).get(col, "")
            target = F.split(F.col(col), " ") if dtype == "string" else F.col(col)
            df = df.filter(F.array_contains(target, lit))
        else:
            df = df.filter(_condition(col, op, lit))

    # WHERE-restricted attached-mask columns: the filter above ran on
    # clear values (the SELECT_MASKED contract); everything FROM HERE ON
    # — aggregates, selectors, aliases, JSON packing — sees only masked
    # bytes, so no projection form can exfiltrate the clear value
    # (re-masking OUTPUT columns by name would let `SELECT ssn AS s`
    # through). KEY-like columns (pk/cc — Cassandra allows masks on key
    # columns — plus the ANN target) are DEFERRED past the row-selection
    # steps below: the PER PARTITION LIMIT window orders by clustering
    # columns and ANN ranks by the vector column, and Cassandra selects
    # those rows by CLEAR clustering/index order — masking first would
    # make the window pick different rows. Row selection
    # only chooses rows, it projects nothing, so the re-mask lands on
    # every selected row before anything user-visible runs.
    deferred_masks: dict = {}
    key_like = set(pk) | set(cc)
    if q.ann is not None:
        key_like.add(q.ann[0])
    for c, spec in (post_filter_masks or {}).items():
        if c not in df.columns:
            continue
        if c in key_like:
            deferred_masks[c] = spec
        else:
            df = df.withColumn(c, mask_column(spec, F.col(c)))

    if q.per_partition_limit is not None:
        w = Window.partitionBy(*pk).orderBy(*[F.asc(c) for c in cc])
        df = (
            df.withColumn("_pprn", F.row_number().over(w))
            .filter(F.col("_pprn") <= q.per_partition_limit)
            .drop("_pprn")
        )

    if q.ann is not None:
        from .functions.vectors import (
            as_double,
            cosine,
            dot,
            literal_vector,
            squared_l2_distance,
        )

        anncol, qv = q.ann
        if anncol not in df.columns:
            raise InvalidRequest(f"unknown column {anncol!r} in ANN ordering")
        # Applied BEFORE projection (the score needs the vector column even
        # when it isn't selected); sort+limit commute with the row-wise
        # projection below. Catalyst compiles this to TakeOrderedAndProject:
        # per-partition top-k map-side, k rows per partition to the merge —
        # the brute-force ANN baseline's correct 100 TB shape (the SAI
        # index itself is an IVF/graph structure; d4d_ivf_probe_knn is the
        # pruned-search equivalent). pk tiebreak keeps the cut deterministic.
        #
        # Ranking follows the vector INDEX's declared similarity_function
        # [PK CEP-30: `CREATE CUSTOM INDEX ... USING 'StorageAttachedIndex'
        # WITH OPTIONS = {'similarity_function': ...}`; default COSINE] —
        # a dot_product index must NOT return cosine-ranked neighbors.
        # Euclidean ranks by distance ASC (≡ Lucene's 1/(1+d²) DESC);
        # the sign flip keeps one DESC code path for all three.
        ann_fn = (
            ((extra_index_options or {}).get(f"{q.table}.{anncol}") or {})
            .get("similarity_function", "cosine")
            .lower()
        )
        qlit = literal_vector(qv)
        if ann_fn == "dot_product":
            score = dot(as_double(F.col(anncol)), qlit)
        elif ann_fn == "euclidean":
            score = -squared_l2_distance(F.col(anncol), qlit)
        else:
            score = cosine(F.col(anncol), qlit)
        df = df.orderBy(score.desc(), *[F.asc(c) for c in pk]).limit(q.limit)

    # deferred key-column re-mask: after the clear-ordered row selection
    # (window / ANN), before any selector, alias, aggregate or JSON
    # packing can observe the bytes
    for c, spec in deferred_masks.items():
        df = df.withColumn(c, mask_column(spec, F.col(c)))

    udfs = extra_functions or {}
    udas = extra_aggregates or {}
    aggs = [
        s
        for s in q.selectors
        if s[0].startswith("agg:")
        or (s[0].startswith("call:") and s[0].split(":", 1)[1] in udas)
    ]
    if aggs:
        exprs = []
        for kind, arg, alias in aggs:
            fn = kind.split(":", 1)[1]
            if kind.startswith("call:"):
                name = alias or f"{fn}_{re.sub(r'[^A-Za-z0-9_]+', '_', arg)}"
                exprs.append(F.expr(udas[fn].expr_sql(arg, udfs)).alias(name))
                continue
            name = alias or (f"{fn}_{arg}" if arg != "*" else fn)
            col = F.count(F.lit(1)) if arg == "*" else getattr(F, fn)(arg)
            if fn == "count" and arg != "*":
                col = F.count(arg)
            exprs.append(col.alias(name))
        if q.group_by:
            group_cols: list[Column] = []
            for item in q.group_by:
                fm = _FLOOR_ITEM.match(item)
                if fm:
                    col, dur_us, start_us = _parse_floor(fm.group("args"))
                    # the matching floor(...) selector's alias names the
                    # bucket column; default mirrors Cassandra's
                    # system-generated selector name shape
                    name = next(
                        (
                            alias
                            for kind, arg, alias in q.selectors
                            if alias
                            and kind == "call:floor"
                            and re.sub(r"\s+", "", arg).lower()
                            == re.sub(r"\s+", "", fm.group("args")).lower()
                        ),
                        f"floor_{col}",
                    )
                    group_cols.append(_floor_bucket(col, dur_us, start_us).alias(name))
                else:
                    group_cols.append(F.col(item))
            df = df.groupBy(*group_cols).agg(*exprs)
        else:
            df = df.agg(*exprs)
    elif [s[0] for s in q.selectors] == ["star"]:
        # a lone `*` is an identity unless the source carries the hidden
        # writetime/TTL columns
        hidden = [c for c in df.columns if c.startswith(("__wt_", "__ttl_"))]
        if hidden:
            df = df.drop(*hidden)
        if q.distinct:
            df = df.distinct()
    else:
        cols: list[Column] = []
        for kind, arg, alias in q.selectors:
            if kind == "star":
                cols.extend(
                    F.col(c)
                    for c in df.columns
                    if not c.startswith(("__wt_", "__ttl_"))
                )
            elif kind == "col":
                cols.append(F.col(arg).alias(alias) if alias else F.col(arg))
            elif kind == "field":
                cols.append(F.col(arg).alias(alias or arg.replace(".", "_")))
            elif kind.startswith("sim:"):
                from .functions.vectors import (
                    literal_vector,
                    similarity_cosine,
                    similarity_dot_product,
                    similarity_euclidean,
                )

                fname = kind.split(":", 1)[1]
                colname, vec_lit = arg.split(",", 1)
                qv = _literal(vec_lit)
                sim_fn = {
                    "cosine": similarity_cosine,
                    "euclidean": similarity_euclidean,
                    "dot_product": similarity_dot_product,
                }[fname]
                cols.append(
                    sim_fn(F.col(colname), literal_vector([float(x) for x in qv])).alias(
                        alias or f"similarity_{fname}_{colname}"
                    )
                )
            elif kind == "token":
                # real Murmur3Partitioner semantics (signed-tail quirk and
                # all) — SELECT token(pk) returns the ring position a live
                # Cassandra cluster would report [PK `dht/Murmur3Partitioner.java`]
                from .functions.murmur3 import token_murmur3

                cols.append(token_murmur3(F.col(arg)).alias(alias or f"token_{arg}"))
            elif kind.startswith("call:"):
                fn = kind.split(":", 1)[1]
                actual = [a.strip() for a in split_top_level(arg)] if arg else []
                name = alias or f"{fn}_{re.sub(r'[^A-Za-z0-9_]+', '_', arg)}"
                if fn == "token":
                    # composite partition key: token(pk1, pk2, ...) — the
                    # single-column form resolves via the dedicated selector
                    from .functions.murmur3 import token_murmur3_composite

                    cols.append(token_murmur3_composite(*actual).alias(name))
                    continue
                if fn == "cast":
                    # CAST(col AS cqltype) selector [PK CQL `castFunction`]
                    cm = re.match(r"^(\w+)\s+AS\s+(.+)$", arg, re.IGNORECASE | re.DOTALL)
                    if not cm:
                        raise InvalidRequest(f"unparseable CAST: {arg!r}")
                    cols.append(
                        F.col(cm.group(1))
                        .cast(cql_type_to_spark(cm.group(2).strip().lower()))
                        .alias(alias or f"cast_{cm.group(1)}")
                    )
                    continue
                if fn == "floor":
                    # floor(ts, duration[, start]) time bucket [PK
                    # CASSANDRA-11871 FloorTimestampFunction] — same
                    # compilation as the GROUP BY form
                    col, dur_us, start_us = _parse_floor(arg)
                    cols.append(
                        _floor_bucket(col, dur_us, start_us).alias(alias or f"floor_{col}")
                    )
                    continue
                if fn in _BUILTIN_SCALARS:
                    n_args, builder = _BUILTIN_SCALARS[fn]
                    if len(actual) != n_args:
                        raise InvalidRequest(f"{fn}() takes {n_args} argument(s)")
                    cols.append(builder(*actual).alias(name))
                    continue
                if fn.startswith("mask_"):
                    # CQL 5.0 dynamic-data-masking family [PK docs "Dynamic
                    # Data Masking"] — built-in scalar selectors
                    from .functions import masking

                    mask = getattr(masking, fn, None)
                    if mask is None:
                        raise InvalidRequest(f"unknown masking function {fn}()")
                    args = [F.col(actual[0]), *(_literal(x) for x in actual[1:])]
                    cols.append(mask(*args).alias(name))
                    continue
                fdef = udfs.get(fn)
                if fdef is None:
                    raise InvalidRequest(f"unknown function {fn}()")
                cols.append(F.expr(fdef.expr_sql(actual)).alias(name))
            elif kind == "ttl":
                if f"__ttl_{arg}" in df.columns:
                    cols.append(F.col(f"__ttl_{arg}").alias(alias or f"ttl_{arg}"))
                else:
                    # catalog snapshot rows carry no TTL — Cassandra reports
                    # null for cells written without one
                    cols.append(F.lit(None).cast("int").alias(alias or f"ttl_{arg}"))
            elif kind == "writetime":
                if f"__wt_{arg}" in df.columns:
                    # per-cell writetime threaded through CqlSession's
                    # snapshot pivot (the winning cell's own timestamp)
                    cols.append(F.col(f"__wt_{arg}").alias(alias or f"writetime_{arg}"))
                else:
                    # catalog path: one writetime source column per table
                    # (row-level; the exported snapshot has no per-cell ts)
                    src = WRITETIME_COL.get(q.table)
                    if src is None:
                        raise InvalidRequest(f"writetime unsupported on {q.table}")
                    cols.append(
                        F.unix_micros(F.col(src)).alias(alias or f"writetime_{arg}")
                    )
        df = df.select(*cols)
        if q.distinct:
            df = df.distinct()

    if q.order_by:
        # rows that tie on the ORDER BY columns follow partition order, then
        # the clustering order of the rest of the clustering columns (read
        # in the direction ORDER BY gives), so LIMIT always cuts at the same
        # rows; an aggregate or DISTINCT result can only sort by its outputs
        ordered = {c for c, _ in q.order_by}
        desc = q.order_by[0][1]
        ties = [(c, False) for c in pk] + [(c, desc) for c in cc if c not in ordered]
        if aggs or q.distinct:
            ties = [(c, d) for c, d in ties if c in df.columns]
        df = df.orderBy(*[F.desc(c) if d else F.asc(c) for c, d in [*q.order_by, *ties]])
    if q.limit is not None:
        df = df.limit(q.limit)
    if q.json:
        df = df.select(F.to_json(F.struct(*df.columns)).alias("[json]"))
    return df


# ---------------------------------------------------------------------------
# User-defined functions / aggregates (SURVEY §2 A33/A34 CQL front-end,
# [PK `cql3/functions/UDFunction.java`, `UDAggregate.java`])
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class FunctionDef:
    """Parsed CREATE FUNCTION. Bodies are EXPRESSION-ONLY: Cassandra runs
    arbitrary sandboxed Java; a Spark engine must stay declarative to keep
    the plan whole-stage-codegen'd, so we accept the expression-bodied
    subset (``return <expr>;`` for LANGUAGE java — Math.* maps to SQL
    functions — or a plain SQL expression for the engine-native LANGUAGE
    sql) and translate it to a Catalyst expression over the arguments."""

    name: str
    args: tuple[tuple[str, str], ...]  # (arg name, cql type)
    returns: str  # cql type
    body_sql: str  # SQL expression over the arg names
    called_on_null: bool = False

    def expr_sql(self, actual: list[str]) -> str:
        """The body with argument names substituted by the caller's column
        names/literals, null-input semantics applied, cast to the declared
        return type."""
        if len(actual) != len(self.args):
            raise InvalidRequest(
                f"{self.name}() takes {len(self.args)} arguments, got {len(actual)}"
            )
        # SIMULTANEOUS substitution: one pass over the body replacing every
        # formal at once — sequential re.sub corrupts calls whose actual
        # arguments name a later formal (e.g. f(b, a) for f(a int, b int),
        # or a state function whose second formal is literally "acc")
        subst = {formal: f"({act})" for (formal, _), act in zip(self.args, actual)}
        if subst:
            names = "|".join(re.escape(f) for f in subst)
            body = re.sub(rf"\b(?:{names})\b", lambda m: subst[m.group(0)], self.body_sql)
        else:
            body = self.body_sql
        out = f"CAST(({body}) AS {cql_type_to_spark(self.returns)})"
        if not self.called_on_null and self.args:
            null_any = " OR ".join(f"({a}) IS NULL" for a in actual)
            out = f"CASE WHEN {null_any} THEN NULL ELSE {out} END"
        return out


@dataclass(frozen=True)
class AggregateDef:
    """Parsed CREATE AGGREGATE: state fold semantics exactly as Cassandra
    defines them (state = SFUNC(state, value) per row, FINALFUNC(state) at
    the end), expressed as Catalyst's higher-order ``aggregate`` over a
    per-group ``collect_list`` — the fold itself stays JVM-side.

    Scale note: collect_list makes per-group memory O(group size), which
    mirrors Cassandra's own coordinator-side aggregation posture; UDAs
    with distributive folds should use the vectorized pandas UDA path
    (operators/llm_multimodal.py a34) at corpus scale."""

    name: str
    arg_type: str
    stype: str
    sfunc: str
    finalfunc: str | None
    initcond_sql: str | None

    def expr_sql(self, actual: str, functions: dict[str, FunctionDef]) -> str:
        sf = functions.get(self.sfunc)
        if sf is None or len(sf.args) != 2:
            raise InvalidRequest(
                f"aggregate {self.name}: state function {self.sfunc!r} "
                "must be a registered 2-argument function"
            )
        spark_stype = cql_type_to_spark(self.stype)
        init = self.initcond_sql if self.initcond_sql is not None else "NULL"
        step = sf.expr_sql(["acc", "v"])
        if self.finalfunc is not None:
            ff = functions.get(self.finalfunc)
            if ff is None or len(ff.args) != 1:
                raise InvalidRequest(
                    f"aggregate {self.name}: final function {self.finalfunc!r} "
                    "must be a registered 1-argument function"
                )
            final = ff.expr_sql(["acc"])
        else:
            final = "acc"
        return (
            f"aggregate(collect_list({actual}), CAST({init} AS {spark_stype}), "
            f"(acc, v) -> CAST(({step}) AS {spark_stype}), acc -> {final})"
        )


_JAVA_RETURN = re.compile(r"^\s*return\s+(?P<expr>.+?)\s*;?\s*$", re.DOTALL)


def translate_function_body(language: str, body: str) -> str:
    """CREATE FUNCTION body → SQL expression. LANGUAGE java accepts the
    expression-bodied subset (single ``return <expr>;`` — ``Math.f(x)``
    becomes ``f(x)``, ternaries become CASE via iif-style rewrite is NOT
    attempted: rejected); LANGUAGE sql takes the expression verbatim."""
    lang = language.lower()
    if lang == "sql":
        return body.strip()
    if lang == "java":
        m = _JAVA_RETURN.match(body)
        if not m or ";" in m.group("expr"):
            raise InvalidRequest(
                "only expression-bodied java UDFs are supported "
                "(single `return <expr>;`) — use LANGUAGE sql for anything richer"
            )
        return re.sub(r"\bMath\.(\w+)", r"\1", m.group("expr"))
    raise InvalidRequest(f"unsupported UDF language {language!r} (java or sql)")


# ---------------------------------------------------------------------------
# DDL: CREATE TABLE → schema (SURVEY §1.2 type lattice, [PK `cql3/Cql.g`
# createTableStatement, `schema/TableMetadata.java`])
# ---------------------------------------------------------------------------

#: CQL primitive → Spark SQL type string (SURVEY §1.2). Lossy edges are
#: deliberate and documented: uuid/timeuuid/inet keep their canonical
#: string form (comparable, groupable, joinable); time is nanos-since-
#: midnight as bigint; duration has no exact Spark scalar (months/days/
#: nanos triple) so it keeps its ISO-8601 string form.
_CQL_PRIMITIVES: dict[str, str] = {
    "ascii": "string", "text": "string", "varchar": "string",
    "tinyint": "tinyint", "smallint": "smallint", "int": "int",
    "bigint": "bigint", "counter": "bigint",
    "float": "float", "double": "double",
    "boolean": "boolean",
    "timestamp": "timestamp", "date": "date", "time": "bigint",
    "uuid": "string", "timeuuid": "string", "inet": "string",
    "blob": "binary",
    "decimal": "decimal(38,18)", "varint": "decimal(38,0)",
    "duration": "string",
}


def cql_type_to_spark(t: str, udts: dict[str, dict[str, str]] | None = None) -> str:
    """Map a CQL type (possibly nested: frozen<map<text, list<int>>>,
    tuple<int, text>, or a CREATE TYPE name) to a Spark SQL type string.
    set<T> maps to array<T> (stored sorted — Cassandra sets are ordered);
    frozen<> is the identity (every Spark value is immutable); tuple fields
    are positional _1.._n; a UDT name resolves through ``udts`` to a named
    struct [PK `cql3/statements/CreateTypeStatement.java` — UDT = named
    field tuple; SURVEY §1.2 maps it onto Spark's StructType]."""
    t = t.strip().lower()
    m = re.fullmatch(r"frozen\s*<(.*)>", t, re.DOTALL)
    if m:
        return cql_type_to_spark(m.group(1), udts)
    m = re.fullmatch(r"(list|set)\s*<(.*)>", t, re.DOTALL)
    if m:
        return f"array<{cql_type_to_spark(m.group(2), udts)}>"
    m = re.fullmatch(r"vector\s*<(.*)>", t, re.DOTALL)
    if m:
        # vector<float, n> [PK Cassandra 5.0 CQL vector type]: fixed-
        # dimension dense vector → array<elem> (the dimension is metadata,
        # enforced at write time by Cassandra; Spark arrays are unsized).
        parts = split_top_level(m.group(1))
        if len(parts) != 2 or not re.fullmatch(r"\s*\d+\s*", parts[1]):
            raise InvalidRequest(f"vector type needs <element_type, dimension>: {t!r}")
        return f"array<{cql_type_to_spark(parts[0], udts)}>"
    m = re.fullmatch(r"map\s*<(.*)>", t, re.DOTALL)
    if m:
        k, v = split_top_level(m.group(1))
        return f"map<{cql_type_to_spark(k, udts)},{cql_type_to_spark(v, udts)}>"
    m = re.fullmatch(r"tuple\s*<(.*)>", t, re.DOTALL)
    if m:
        fields = [cql_type_to_spark(x, udts) for x in split_top_level(m.group(1))]
        inner = ",".join(f"_{i + 1}:{f}" for i, f in enumerate(fields))
        return f"struct<{inner}>"
    if t in _CQL_PRIMITIVES:
        return _CQL_PRIMITIVES[t]
    if udts and t in udts:
        inner = ",".join(
            f"{f}:{cql_type_to_spark(ft, udts)}" for f, ft in udts[t].items()
        )
        return f"struct<{inner}>"
    raise InvalidRequest(f"unsupported CQL type: {t!r}")


@dataclass
class TableDef:
    """Parsed CREATE TABLE: column order preserved, keys split Cassandra-
    style into partition key and clustering columns. ``udts`` carries the
    session's CREATE TYPE definitions in effect at parse time so UDT-typed
    columns resolve to named structs."""
    name: str
    columns: dict[str, str]  # col -> CQL type (as written, lowercased)
    partition_key: tuple[str, ...]
    clustering: tuple[str, ...]
    if_not_exists: bool = False
    udts: dict[str, dict[str, str]] = field(default_factory=dict)
    #: attached column masks [PK CEP-20 / 5.0 `schema/ColumnMask.java`]:
    #: col -> normalized mask spec, e.g. "mask_inner(2, 2)". Applied
    #: transparently on SELECT for principals without UNMASK
    #: (CqlSession._apply_attached_masks).
    masks: dict[str, str] = field(default_factory=dict)

    @property
    def spark_schema(self) -> str:
        """Spark DDL schema string for createDataFrame/empty snapshots."""
        return ", ".join(
            f"{c} {cql_type_to_spark(t, self.udts)}" for c, t in self.columns.items()
        )

    @property
    def keys(self) -> tuple[tuple[str, ...], tuple[str, ...]]:
        return (self.partition_key, self.clustering)


_MASK_SPEC = re.compile(
    r"^(?:\w+\.)?(?P<fn>mask_\w+)\s*(?:\(\s*(?P<args>.*?)\s*\))?$",
    re.IGNORECASE | re.DOTALL,
)


def normalize_mask_spec(spec: str) -> str:
    """Validate and normalize an attached-mask spec [PK CEP-20 grammar:
    ``MASKED WITH DEFAULT`` | ``MASKED WITH [ks.]mask_fn(args)``] to the
    canonical ``mask_fn(arg, arg)`` text stored in TableDef.masks /
    rendered by DESCRIBE and system_schema.column_masks."""
    from .functions import masking

    s = spec.strip().rstrip(";").strip()
    if s.upper() == "DEFAULT":
        return "mask_default()"
    m = _MASK_SPEC.match(s)
    if not m:
        raise InvalidRequest(f"unparseable column mask: {spec!r}")
    fn = m.group("fn").lower()
    if getattr(masking, fn, None) is None:
        raise InvalidRequest(f"unknown masking function {fn}()")
    args = [a.strip() for a in split_top_level(m.group("args") or "") if a.strip()]
    for a in args:
        _literal(a)  # validate literal args eagerly
    return f"{fn}({', '.join(args)})"


def mask_column(spec: str, col: Column) -> Column:
    """Compile a normalized mask spec into the Spark Column applying it —
    the execution half of attached masks (the projection-function half
    lives in `cql()`'s ``mask_*`` selector branch; both call the same
    functions/masking implementations, so a mask attached in the schema
    and the same mask written in a projection are expression-identical)."""
    from .functions import masking

    m = _MASK_SPEC.match(spec)
    assert m, f"unnormalized mask spec {spec!r}"  # normalize_mask_spec upstream
    fn = getattr(masking, m.group("fn").lower())
    args = [a.strip() for a in split_top_level(m.group("args") or "") if a.strip()]
    return fn(col, *(_literal(a) for a in args))


_CREATE_HEAD = re.compile(
    r"^\s*CREATE\s+TABLE\s+(?P<ine>IF\s+NOT\s+EXISTS\s+)?(?:\w+\.)?(?P<name>\w+)\s*\(",
    re.IGNORECASE | re.DOTALL,
)
_PK_CLAUSE = re.compile(
    r"^\s*PRIMARY\s+KEY\s*\(\s*(?P<spec>.*)\)\s*$", re.IGNORECASE | re.DOTALL
)


def parse_create_table(
    statement: str, udts: dict[str, dict[str, str]] | None = None
) -> TableDef:
    """CREATE TABLE [IF NOT EXISTS] name (col type [PRIMARY KEY], ...,
    [PRIMARY KEY ((pk...), cc...)]) [WITH ...] — the composite-key grammar
    Cassandra uses: the first PRIMARY KEY component is the partition key
    (parenthesized when composite), the rest are clustering columns."""
    m = _CREATE_HEAD.match(statement)
    if not m:
        raise InvalidRequest(f"unparseable CREATE TABLE: {statement!r}")
    name = m.group("name").lower()
    # find the matching close paren of the column-list (quote-aware): the
    # greedy-regex alternative swallows the WITH clause's parens.
    depth, in_q, end = 1, False, -1
    for i in range(m.end(), len(statement)):
        ch = statement[i]
        if ch == "'":
            in_q = not in_q
        elif not in_q:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
                if depth == 0:
                    end = i
                    break
    if end < 0:
        raise InvalidRequest(f"unbalanced parens in CREATE TABLE: {statement!r}")
    tail = statement[end + 1 :].strip().rstrip(";").strip()
    if tail and not re.match(r"^WITH\s+", tail, re.IGNORECASE):
        raise InvalidRequest(f"unexpected trailing text after column list: {tail!r}")
    body = statement[m.end() : end]
    columns: dict[str, str] = {}
    masks: dict[str, str] = {}
    pk: tuple[str, ...] = ()
    cc: tuple[str, ...] = ()
    for part in split_top_level(body):
        part = part.strip()
        if not part:
            continue
        pkm = _PK_CLAUSE.match(part)
        if pkm:
            if pk:
                raise InvalidRequest("duplicate PRIMARY KEY clause")
            spec = pkm.group("spec").strip()
            comps = split_top_level(spec)
            first = comps[0].strip()
            if first.startswith("("):
                pk = tuple(c.strip().lower() for c in split_top_level(first[1:-1]))
            else:
                pk = (first.lower(),)
            cc = tuple(c.strip().lower() for c in comps[1:])
            continue
        cm = re.match(
            r"^(?P<col>\w+)\s+(?P<type>.+?)"
            r"(?:\s+MASKED\s+WITH\s+(?P<mask>.+?))?"
            r"(?P<inline_pk>\s+PRIMARY\s+KEY)?$",
            part,
            re.IGNORECASE | re.DOTALL,
        )
        if not cm:
            raise InvalidRequest(f"unparseable column definition: {part!r}")
        col = cm.group("col").lower()
        ctype = cm.group("type").strip().lower()
        cql_type_to_spark(ctype, udts)  # validate eagerly
        columns[col] = ctype
        if cm.group("mask"):
            masks[col] = normalize_mask_spec(cm.group("mask"))
        if cm.group("inline_pk"):
            if pk:
                raise InvalidRequest("duplicate PRIMARY KEY")
            pk = (col,)
    if not pk:
        raise InvalidRequest("CREATE TABLE requires a PRIMARY KEY")
    missing = [c for c in (*pk, *cc) if c not in columns]
    if missing:
        raise InvalidRequest(f"PRIMARY KEY names undeclared columns: {missing}")
    # masks on primary-key columns are allowed, matching Cassandra 5
    return TableDef(
        name, columns, pk, cc, bool(m.group("ine")), dict(udts or {}), masks
    )
