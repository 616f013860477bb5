"""Anti-rot for test-only helpers: a public top-level function anywhere in
the package that no code outside ``tests/`` references is either a library
entry point kept on purpose (listed below with its reason) or dead code to
delete.  AST only: a reference is a name, attribute or import of the
function in the engine, ``tools/``, ``perfbench/``, ``bench.py`` or
``__spark_entry__.py``; docstrings and comments do not count.  A decorated
function counts as referenced: its decorator registers it (the corpus
plans, under ``@query``)."""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PACKAGE = ROOT / "steampipe_sqlite_spark"

# function -> why it stays with only test callers
TEST_ONLY_OK = {
    "json_replace": "SQLite json_replace column function, exported in __all__",
    "json_tree_udtf": "SQLite json_tree as a Python UDTF, exported in __all__",
    "stopword_hits": "naive per-language stopword counter that lang_id is pinned against",
}


def _public_functions() -> set[str]:
    names = set()
    for path in PACKAGE.rglob("*.py"):
        for node in ast.parse(path.read_text()).body:
            if (
                isinstance(node, ast.FunctionDef)
                and not node.name.startswith("_")
                and not node.decorator_list
            ):
                names.add(node.name)
    return names


def _referenced_names() -> set[str]:
    files = [
        *PACKAGE.rglob("*.py"),
        *(ROOT / "tools").rglob("*.py"),
        *(ROOT / "perfbench").rglob("*.py"),
        ROOT / "bench.py",
        ROOT / "__spark_entry__.py",
    ]
    names = set()
    for path in files:
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Name):
                names.add(node.id)
            elif isinstance(node, ast.Attribute):
                names.add(node.attr)
            elif isinstance(node, ast.alias):
                names.add(node.name.rsplit(".", 1)[-1])
    return names


def test_test_only_helpers_are_allowlisted():
    test_only = _public_functions() - _referenced_names()
    new = sorted(test_only - set(TEST_ONLY_OK))
    assert not new, f"public helpers referenced only by tests (delete or allowlist): {new}"
    stale = sorted(set(TEST_ONLY_OK) - test_only)
    assert not stale, f"allowlist entries now referenced outside tests/ or gone: {stale}"
