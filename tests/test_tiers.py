"""The slow-tier lists in conftest.py name real files and tests.

`pytest_collection_modifyitems` matches `SLOW_FILES` and `SLOW_TESTS`
against collected node ids, so an entry whose file or test was deleted
or misspelt is ignored without a word. These checks read the test
sources with `ast` and need no Spark session."""

from __future__ import annotations

import ast
import os

from conftest import SLOW_FILES, SLOW_TESTS

TESTS_DIR = os.path.dirname(os.path.abspath(__file__))


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
