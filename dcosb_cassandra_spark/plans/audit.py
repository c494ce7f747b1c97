"""Physical-plan audits (SURVEY.md §4.2 "verify, don't build").

`Catalyst gives us pushdown/pruning/AQE for free *if* the plan is declared
right` — this module makes that checkable: capture the formatted plan and
assert scale-critical properties (filters reached the scan, dims broadcast,
no cartesian products, codegen engaged, column pruning happened).

Run as a module to dump an audit report for the headline queries:
    python -m dcosb_cassandra_spark.plans.audit
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

#: tables whose row count grows linearly with scale factor — an explicit
#: broadcast hint on (an unbounded subset of) one of these is a scale bug:
#: the hint cannot be demoted by AQE, so at 100× it OOMs the executors.
SCALING_TABLES = frozenset(
    {"customer", "supplier", "part", "orders", "lineitem", "events", "documents", "embeddings"}
)

#: fixed-cardinality dims (25 / 5 rows at every SF) — always safe to hint.
FIXED_DIMS = frozenset({"nation", "region"})

#: Columns whose cardinality does NOT grow with SF (enums / fixed dims): a
#: corpus-scale window partitioned ONLY by these funnels the corpus through
#: a constant number of tasks — the two-phase-rank rule's trigger set
#: (enforced by tests/test_plans.py::test_no_single_low_card_corpus_windows).
LOW_CARDINALITY_COLS = frozenset(
    {
        "source", "lang", "event_type", "label", "bkt",
        "l_returnflag", "l_linestatus", "o_orderstatus", "o_orderpriority",
        "c_mktsegment", "r_name", "n_name", "r_regionkey", "n_nationkey",
    }
)


def is_low_card_window(partition_cols: list[str]) -> bool:
    """True when a corpus window's partition key set is empty (global
    window) or a single low-cardinality column — the shapes the two-phase
    rank rewrite exists to avoid."""
    return not partition_cols or (
        len(partition_cols) < 2 and set(partition_cols) <= LOW_CARDINALITY_COLS
    )

#: most rows a broadcast-hinted LocalRelation (driver-held rows, see
#: `session.local_frame`) may hold and still count as a ``literal``. The
#: constant sides hinted today hold 3-10 rows (band table, weights,
#: lexicon, query batches); a larger local side needs an allowlist entry.
LOCAL_ROWS_BOUND = 64


def _local_relation_rows(df: DataFrame) -> dict[str, int]:
    """Row count of every LocalRelation in the analyzed plan (subqueries
    included), keyed by its first output attribute as plan text prints
    it (``name#id``)."""

    def each(seq):
        it = seq.iterator()
        while it.hasNext():
            yield it.next()

    analyzed = df._jdf.queryExecution().analyzed()
    rows = {}
    for p in (analyzed, *each(analyzed.subqueriesAll())):
        for leaf in each(p.collectLeaves()):
            if leaf.nodeName() == "LocalRelation" and leaf.output().nonEmpty():
                rows[leaf.output().head().toString()] = leaf.data().size()
    return rows


_COL_PREFIX_TO_TABLE = {
    "c_": "customer", "s_": "supplier", "n_": "nation", "r_": "region",
    "o_": "orders", "l_": "lineitem", "p_": "part",
}
_SPECIAL_COLS = {
    "event_id": "events", "ts": "events", "user_id": "events",
    "event_type": "events", "value": "events", "props": "events",
    "doc_id": "documents", "text": "documents", "lang": "documents",
    "id": "embeddings", "vec_id": "embeddings", "embedding": "embeddings",
    "label": "embeddings",
}


def _table_of_column(col: str) -> str:
    if col in _SPECIAL_COLS:
        return _SPECIAL_COLS[col]
    return _COL_PREFIX_TO_TABLE.get(col[:2], f"unknown({col})")


def broadcast_hint_tables(df: DataFrame) -> list[str]:
    """Source tables under an explicit broadcast hint (from the analyzed
    logical plan's ResolvedHint nodes — AQE-chosen broadcasts don't count;
    only hand-written hints, which AQE cannot demote, are a scale risk).

    Each entry is one of:
      ``literal``        — the hinted side is a Range, a OneRowRelation or
                           a LocalRelation of at most `LOCAL_ROWS_BOUND`
                           rows (safe);
      ``bounded:local_rows`` — a larger LocalRelation, or an RDD-backed
                           side (a ``localCheckpoint``ed frame): driver or
                           executor rows whose bound the caller documents;
      ``bounded:<tbl>``  — an Aggregate/Limit sits between the hint and the
                           scan, so the broadcast side's cardinality is
                           bounded by the group/limit, not the table (safe
                           when the group count is, e.g., 1 row or k
                           centroids — the caller documents which);
      ``<tbl>``          — an unbounded subset of <tbl> is hinted: a scale
                           bug whenever <tbl> grows with SF.
    """
    lines = plan_string(df, "extended").splitlines()
    tables: set[str] = set()
    local_rows = None  # read from the JVM plan on the first hinted LocalRelation
    for i, line in enumerate(lines):
        if "ResolvedHint" not in line or "broadcast" not in line.lower():
            continue
        bounded = False
        for j in range(i + 1, min(i + 25, len(lines))):
            lj = lines[j]
            if lj.startswith("== "):  # never walk past a plan-section boundary
                break
            if "LocalRelation" in lj:
                # the parsed and analyzed sections print the same
                # attribute ids; an unknown relation counts as large
                if local_rows is None:
                    local_rows = _local_relation_rows(df)
                m = re.search(r"LocalRelation (?:<empty>, )?\[([^,\]]+)", lj)
                n = local_rows.get(m.group(1) if m else None, LOCAL_ROWS_BOUND + 1)
                tables.add("literal" if n <= LOCAL_ROWS_BOUND else "bounded:local_rows")
                break
            if "OneRowRelation" in lj or re.search(r"\bRange \(", lj):
                tables.add("literal")
                break
            if "LogicalRDD" in lj:
                # RDD-backed rows (a localCheckpoint): hinting one needs an
                # allowlist entry documenting why the side stays small
                tables.add("bounded:local_rows")
                break
            if "Aggregate" in lj or "GlobalLimit" in lj:
                bounded = True
            m = re.search(r"Relation \[([A-Za-z0-9_]+)[#,\]]", lj)
            if m:
                t = _table_of_column(m.group(1))
                tables.add(f"bounded:{t}" if bounded else t)
                break
    return sorted(tables)


#: physical Window node: `Window [exprs], [partition cols], [order spec]`
_WINDOW_PARTS_RE = re.compile(r"Window .*\], \[([^\[\]]*)\], \[[^\[\]]*\]\s*$")
_PHYS_AGG_RE = re.compile(r"(HashAggregate|SortAggregate|ObjectHashAggregate)")
_PHYS_SCAN_RE = re.compile(r"(Scan parquet|FileScan|LocalTableScan|Scan ExistingRDD|\bRange \()")


#: explain-tree line prefix: any mix of "   " / ":  " indent units, then an
#: optional "+-"/":-" branch marker.  depth = number of indent units (+1 if a
#: marker is present); the root line has neither.
_TREE_PREFIX_RE = re.compile(r"^((?:   |:  )*)([+:]-\s?)?(.*)$")


def _tree_depth(line: str) -> tuple[int, str]:
    m = _TREE_PREFIX_RE.match(line)
    units = len(m.group(1)) // 3
    return (units + (1 if m.group(2) else 0), m.group(3))


def corpus_window_partitions(df: DataFrame) -> list[list[str]]:
    """Partition-column names of every physical Window node whose input is
    NOT bounded by an aggregate — i.e. windows that see corpus-scale rows.
    A corpus window partitioned on a single low-cardinality column (e.g.
    `source` with ~4 domains) funnels TBs through one task at 100 TB; the
    two-phase rank recipe (rank within (key, hash-bucket) + broadcast
    per-bucket offsets) avoids it, and this probe makes the avoidance
    assertable (tests/test_plans.py::test_no_single_low_card_corpus_windows).

    Tree-aware: a window is bounded only if EVERY scan in its own input
    subtree has an Aggregate on its ancestor path below the window —
    an aggregated sibling branch of a join does NOT bound the streamed
    branch. An empty partition list (global window) is reported as [] and
    callers must treat it as the worst case (single-task sort)."""
    parsed = [_tree_depth(ln) for ln in plan_string(df, "simple").splitlines()]
    out: list[list[str]] = []
    for i, (d0, text) in enumerate(parsed):
        m = _WINDOW_PARTS_RE.search(text)
        if not m:
            continue
        # walk the window's subtree; stack holds ancestor node texts (within
        # the subtree) for each scan encountered
        stack: list[tuple[int, str]] = []
        bounded = True
        for d, t in parsed[i + 1 :]:
            if d <= d0:
                break  # left the window's subtree
            while stack and stack[-1][0] >= d:
                stack.pop()
            if _PHYS_SCAN_RE.search(t):
                if not any(_PHYS_AGG_RE.search(anc) for _, anc in stack):
                    bounded = False
                    break
            stack.append((d, t))
        if not bounded:
            cols = [c.strip().split("#")[0] for c in m.group(1).split(",") if c.strip()]
            out.append(cols)
    return out


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    """Captured .explain() output (JVM-side prints are not capturable from
    Python, so go through the QueryExecution API directly)."""
    # private `_jdf`/`_jvm` handles: not available under Spark Connect
    jdf = df._jdf
    jvm = df.sparkSession._jvm
    explain_mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return jdf.queryExecution().explainString(explain_mode)


def executed_plan_string(df: DataFrame) -> str:
    """Final (post-AQE) physical plan — executes THIS plan (collect, not
    count — count would build a different plan), then re-reads the formatted
    explain, where AQE's final plan and `[codegen id : N]` spans appear."""
    df.collect()
    return plan_string(df, "formatted")


def audit(df: DataFrame) -> dict:
    """Scale-relevant features of a plan, as booleans/counts."""
    plan = plan_string(df)
    return {
        "has_pushed_filters": "PushedFilters: []" not in plan and "PushedFilters: [" in plan,
        "n_broadcast_joins": plan.count("BroadcastHashJoin") + plan.count("BroadcastNestedLoopJoin"),
        "n_shuffle_exchanges": plan.count("Exchange hashpartitioning")
        + plan.count("Exchange rangepartitioning"),
        "has_cartesian": "CartesianProduct" in plan,
        "has_partial_agg": "HashAggregate" in plan or "SortAggregate" in plan,
        "read_schemas": [
            line.split("ReadSchema:", 1)[1].strip()
            for line in plan.splitlines()
            if "ReadSchema:" in line
        ],
        "hinted_scaling_tables": [
            t
            for t in broadcast_hint_tables(df)
            if t in SCALING_TABLES
            or t.startswith("unknown(")
            # bounded-by-aggregate/limit is only safe when the grouping
            # cardinality is a CONSTANT (1-row max, k centroids) — that is
            # a per-query claim, so `bounded:` hits on scaling tables must
            # also be allowlisted with their documented bound. Same for
            # driver-held or checkpointed sides (bounded:local_rows).
            or (
                t.startswith("bounded:")
                and (t.removeprefix("bounded:") in SCALING_TABLES or t == "bounded:local_rows")
            )
        ],
    }


def main() -> None:  # pragma: no cover - reporting tool
    import json
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))
    from dcosb_cassandra_spark.registry import REGISTRY, load_all
    from dcosb_cassandra_spark.session import get_spark

    spark = get_spark("plan-audit")
    load_all()
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    for name in sorted(REGISTRY):
        df = REGISTRY[name].fn(spark, sf_dir)
        a = audit(df)
        a.pop("read_schemas")
        print(json.dumps({"query": name, **a}))


if __name__ == "__main__":
    main()
