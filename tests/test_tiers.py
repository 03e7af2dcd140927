"""Tier and reachability fences over the sources, read with `ast`.

`pytest_collection_modifyitems` matches `SLOW_FILES` and `SLOW_TESTS`
against collected node ids, so an entry whose file or test was deleted
or misspelt is ignored without a word. A library module that no public
entry point imports is kept alive only by its own tests. These checks
need no Spark session."""

from __future__ import annotations

import ast
import os

from conftest import SLOW_FILES, SLOW_TESTS

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))
REPO_DIR = os.path.dirname(TESTS_DIR)
PACKAGE = "openset_spark"

# The entry points a caller of the library can reach: the query entry
# module, the bench, the engine, the Python worker daemon (named by a
# Spark setting, not imported), and every public stream and loader module.
REACH_ROOT_FILES = ("__spark_entry__.py", "bench.py")
REACH_ROOT_MODULES = ("openset_spark.engine", "openset_spark.worker_daemon")
REACH_ROOT_PACKAGES = ("openset_spark.streaming.", "openset_spark.sources.")

# Standalone codecs that only their own tests import, left for a later
# deletion (ROADMAP direction 1). The list may only shrink: a module
# that joins it is a new test-only tier, and one that leaves the tree
# must leave the list too.
TEST_ONLY_PENDING = (
    "openset_spark.pipeline.avi",
    "openset_spark.pipeline.gif",
    "openset_spark.pipeline.jpeg",
    "openset_spark.pipeline.jpeg_arith",
    "openset_spark.pipeline.vp8",
    "openset_spark.pipeline.webp",
)


def _top_level_tests(fname: str) -> set[str]:
    with open(os.path.join(TESTS_DIR, fname)) as f:
        tree = ast.parse(f.read(), filename=fname)
    return {
        node.name
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
        and node.name.startswith("test_")
    }


def test_slow_files_exist():
    missing = sorted(
        f for f in SLOW_FILES if not os.path.isfile(os.path.join(TESTS_DIR, f))
    )
    assert not missing, f"SLOW_FILES entries with no file under tests/: {missing}"


def test_slow_tests_name_top_level_tests():
    bad = []
    for entry in sorted(SLOW_TESTS):
        fname, _, name = entry.partition("::")
        path = os.path.join(TESTS_DIR, fname)
        if not os.path.isfile(path) or name not in _top_level_tests(fname):
            bad.append(entry)
    assert not bad, f"SLOW_TESTS entries naming no top-level test: {bad}"


def _package_modules() -> dict[str, str]:
    """Dotted module name -> source path, for every module of the package."""
    modules = {}
    for dirpath, _dirs, files in os.walk(os.path.join(REPO_DIR, PACKAGE)):
        for fname in files:
            if not fname.endswith(".py"):
                continue
            path = os.path.join(dirpath, fname)
            parts = os.path.relpath(path, REPO_DIR)[: -len(".py")].split(os.sep)
            if parts[-1] == "__init__":
                parts.pop()
            modules[".".join(parts)] = path
    return modules


def _imported_names(path: str) -> set[str]:
    """Every dotted name an import in the file may load (function-level
    imports included): the module of each import, and module.name for
    each `from module import name`, since the name may be a submodule.
    The package imports by absolute name only; a relative import is not
    resolved, so its target would be reported unreached."""
    with open(path) as f:
        tree = ast.parse(f.read(), filename=path)
    names = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            names.update(alias.name for alias in node.names)
        elif isinstance(node, ast.ImportFrom) and node.module:
            names.add(node.module)
            names.update(f"{node.module}.{alias.name}" for alias in node.names)
    return names


def test_every_library_module_is_reachable_from_an_entry_point():
    modules = _package_modules()
    reached = {
        m
        for m in modules
        if m in REACH_ROOT_MODULES or m.startswith(REACH_ROOT_PACKAGES)
    }
    todo = [os.path.join(REPO_DIR, f) for f in REACH_ROOT_FILES]
    todo += [modules[m] for m in reached]
    while todo:
        for name in _imported_names(todo.pop()):
            parts = name.split(".")
            # Importing a.b.c runs a/__init__ and a/b/__init__ as well.
            for i in range(1, len(parts) + 1):
                prefix = ".".join(parts[:i])
                if prefix in modules and prefix not in reached:
                    reached.add(prefix)
                    todo.append(modules[prefix])
    unreached = sorted(set(modules) - reached)
    assert unreached == sorted(TEST_ONLY_PENDING), (
        "library modules that no entry point imports (only tests keep them "
        f"alive; delete them or wire them in): {unreached}; "
        f"pending deletion: {sorted(TEST_ONLY_PENDING)}"
    )
