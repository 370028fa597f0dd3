"""The slow tier is selected by NAME (``tests/conftest.py``
``_SLOW_TEST_NAMES``): an entry that no longer names a test is silent —
a renamed test drops out of the slow tier and lands in the default run
(or a deleted one leaves dead weight) without any failure.  Pin that
every entry names a ``def test_…`` somewhere under ``tests/``."""

import ast
import pathlib

from tests.conftest import _SLOW_TEST_NAMES


def _defined_test_names() -> set[str]:
    names = set()
    for path in pathlib.Path(__file__).parent.glob("*.py"):
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                if node.name.startswith("test_"):
                    names.add(node.name)
    return names


def test_every_slow_tier_name_is_a_defined_test():
    stale = sorted(_SLOW_TEST_NAMES - _defined_test_names())
    assert not stale, f"_SLOW_TEST_NAMES entries with no such test: {stale}"
