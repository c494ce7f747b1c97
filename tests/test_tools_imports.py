"""The scripts under tools/ import engine names, often inside functions,
where nothing in the suite executes them. Parse every script and check
that each `from dcosb_cassandra_spark… import name` (and each
`import dcosb_cassandra_spark…`) still resolves, so a rename in the
engine cannot silently break a tool. The same walk over the package
checks that driver-held rows enter plans one way. Spark-free: modules
are imported, no session is started."""

from __future__ import annotations

import ast
import importlib
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


def create_dataframe_sites(path: Path):
    """(file, enclosing function) of every ``.createDataFrame(...)`` call
    in ``path``; the function is None at module level."""
    tree = ast.parse(path.read_text(), str(path))
    owner: dict = {}
    for node in ast.walk(tree):  # breadth-first: parents before children
        for child in ast.iter_child_nodes(node):
            is_def = isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            owner[child] = node.name if is_def else owner.get(node)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "createDataFrame"
        ):
            yield path.relative_to(PACKAGE).as_posix(), owner.get(node)


def test_driver_rows_enter_plans_only_through_local_frame():
    sites = [s for p in sorted(PACKAGE.rglob("*.py")) for s in create_dataframe_sites(p)]
    assert sites == [("session.py", "local_frame")]
