"""Every ``SLOW_TESTS`` entry must name a test that exists: a stale entry
silently drops nothing from the fast tier and hides that the slow tier
lost a test. Spark-free: the test files are parsed, not imported."""

import ast
import functools
import os

from conftest import SLOW_TESTS

TESTS = os.path.dirname(os.path.abspath(__file__))


@functools.cache
def _test_functions(filename):
    path = os.path.join(TESTS, filename)
    if not os.path.exists(path):
        return frozenset()
    with open(path) as f:
        tree = ast.parse(f.read(), filename)
    return frozenset(
        s.name
        for s in tree.body
        if isinstance(s, ast.FunctionDef) and s.name.startswith("test_")
    )


def test_every_slow_entry_names_a_defined_test():
    stale = []
    for entry in sorted(SLOW_TESTS):
        filename, _, name = entry.partition("::")
        if name.split("[", 1)[0] not in _test_functions(filename):
            stale.append(entry)
    assert not stale, f"SLOW_TESTS entries with no such test: {stale}"
