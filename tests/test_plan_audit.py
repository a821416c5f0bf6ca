"""Static checks on tools/plan_audit.py's CHECKS table.

A dict literal keeps only the last of two equal keys, so a second entry
for a query silently drops the first one's plan assertions.
"""

from __future__ import annotations

import ast
import collections
import pathlib

PLAN_AUDIT = pathlib.Path(__file__).resolve().parent.parent / "tools" / "plan_audit.py"


def _checks_literal() -> ast.Dict:
    for node in ast.parse(PLAN_AUDIT.read_text()).body:
        if isinstance(node, ast.Assign) and any(
            isinstance(t, ast.Name) and t.id == "CHECKS" for t in node.targets
        ):
            assert isinstance(node.value, ast.Dict), "CHECKS is no longer a dict literal"
            return node.value
    raise AssertionError("no CHECKS assignment in tools/plan_audit.py")


def test_checks_has_no_duplicate_keys():
    keys = [ast.literal_eval(k) for k in _checks_literal().keys]
    dupes = sorted(k for k, n in collections.Counter(keys).items() if n > 1)
    assert not dupes, f"CHECKS declares these queries more than once: {dupes}"
