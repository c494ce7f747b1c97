"""The scripts under tools/ import engine names, often inside functions,
where nothing in the suite executes them. Parse every script and check
that each `from dcosb_cassandra_spark… import name` (and each
`import dcosb_cassandra_spark…`) still resolves, so a rename in the
engine cannot silently break a tool. The same walk over the package
checks that driver-held rows enter plans one way and that store swaps
and bounded file streams each have one source. Spark-free: modules are
imported, no session is started."""

from __future__ import annotations

import ast
import importlib
import importlib.util
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
TOOLS = sorted((ROOT / "tools").glob("*.py"))
PACKAGE = ROOT / "dcosb_cassandra_spark"


def engine_imports(path: Path):
    """(module, name) for every engine import anywhere in ``path``;
    name is None for a plain ``import module``."""
    for node in ast.walk(ast.parse(path.read_text(), str(path))):
        if isinstance(node, ast.ImportFrom) and node.level == 0:
            if (node.module or "").split(".")[0] == "dcosb_cassandra_spark":
                yield from ((node.module, a.name) for a in node.names if a.name != "*")
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.split(".")[0] == "dcosb_cassandra_spark":
                    yield a.name, None


def test_tools_use_the_engine():
    assert any(list(engine_imports(p)) for p in TOOLS)


@pytest.mark.parametrize("path", TOOLS, ids=lambda p: p.name)
def test_tool_engine_imports_resolve(path):
    for module, name in engine_imports(path):
        mod = importlib.import_module(module)
        if name is None or hasattr(mod, name):
            continue
        try:  # `from package import submodule`
            importlib.import_module(f"{module}.{name}")
        except ModuleNotFoundError:
            pytest.fail(f"{path.name}: {module} has no {name}")


def call_sites(path: Path, attr: str, on: str | None = None):
    """(file, enclosing functions outermost first) of every
    ``.attr(...)`` call in ``path``, or only of ``on.attr(...)`` when
    ``on`` is given; the functions are () at module level."""
    tree = ast.parse(path.read_text(), str(path))
    owner: dict = {}
    for node in ast.walk(tree):  # breadth-first: parents before children
        for child in ast.iter_child_nodes(node):
            is_def = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            owner[child] = owner.get(node, ()) + ((node.name,) if is_def else ())
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == attr
            and (on is None or getattr(node.func.value, "id", None) == on)
        ):
            yield path.relative_to(PACKAGE).as_posix(), owner.get(node, ())


def code_strings(path: Path):
    """Every string constant in ``path`` outside docstrings, f-string
    pieces included."""
    tree = ast.parse(path.read_text(), str(path))
    docs = {
        id(n.body[0].value)
        for n in ast.walk(tree)
        if isinstance(n, (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef))
        and n.body
        and isinstance(n.body[0], ast.Expr)
        and isinstance(n.body[0].value, ast.Constant)
    }
    for node in ast.walk(tree):
        if isinstance(node, ast.Constant) and isinstance(node.value, str):
            if id(node) not in docs:
                yield node.value


MODULES = sorted(PACKAGE.rglob("*.py"))


def test_driver_rows_enter_plans_only_through_local_frame():
    sites = [s for p in MODULES for s in call_sites(p, "createDataFrame")]
    assert sites == [("session.py", ("local_frame",))]


def test_store_swaps_and_stream_replays_have_one_source():
    """Durable stores are replaced through ``maintenance.swap_store`` /
    ``promote`` and bounded file streams open through
    ``streams.file_stream``: each swap-sibling infix and
    ``maxFilesPerTrigger`` is spelled in one place, and only the swap
    primitives, the build-once ``artifact_dir`` and the ordered-events
    stager rename directories."""
    for literal in (".old.", ".forget.", ".next.", "maxFilesPerTrigger"):
        hits = [
            p.relative_to(PACKAGE).as_posix()
            for p in MODULES
            for v in code_strings(p)
            if literal in v
        ]
        assert len(hits) == 1, (literal, hits)
    renamers = {
        (path, funcs[0] if funcs else None)
        for p in MODULES
        for path, funcs in call_sites(p, "rename", on="os")
    }
    assert renamers == {
        ("sources/maintenance.py", "promote"),
        ("sources/maintenance.py", "_recover_store_swap"),
        ("sources/maintenance.py", "artifact_dir"),
        ("operators/streaming_batch.py", "_write_ordered_events"),
    }


def test_foreach_batch_replays_have_one_source():
    """Every bounded foreachBatch replay starts through
    ``streams.foreach_batch``, which blocks until the stream ends and
    raises on timeout, so no caller can return with a replay still
    running."""
    sites = [s for p in MODULES for s in call_sites(p, "foreachBatch")]
    assert sites == [("streaming/streams.py", ("foreach_batch",))]


def test_ab_report_counts_wins_per_pair():
    """tools/ab.py's report: per-arm median and quartiles, and the pairs
    in which the change beat the parent on a lower-is-better metric."""
    spec = importlib.util.spec_from_file_location("ab", ROOT / "tools" / "ab.py")
    ab = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(ab)

    def result(v):
        return {"correct": True, "failed": 0, "metrics": {"cpu_ms_per_op": {"value": v}}}

    metric = [{"name": "cpu_ms_per_op", "unit": "ms", "better": "lower", "bound": 0.25}]
    lines = ab.summarize(
        {"parent": [result(v) for v in (10, 12, 11)],
         "change": [result(v) for v in (5, 13, 4)]},
        metric,
    )
    assert "median     11.000" in lines[1] and "median      5.000" in lines[2]
    assert lines[3] == "  change beat parent in 2 of 3 pairs"
    assert ab.quartiles([1.0, 2.0, 3.0, 4.0, 5.0]) == (2.0, 3.0, 4.0)
