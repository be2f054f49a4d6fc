"""The fan-out guard ("repartition when the scan has fewer splits than
slots") lives in one helper, ``operators/layout.fan_out``.  This test
walks the package source and fails if ``.getNumPartitions()`` is
called anywhere else, so a pasted copy of the guard cannot come back
unnoticed.  ``category_wtp_quantiles`` keeps its own guard: it reads
the split count off the scan but repartitions the joined frame above
it (its inline comment says why)."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / (
    "data_pipeline_for_e_commerce_shop_spark"
)
ALLOWED = {
    ("operators/layout.py", "fan_out"),
    ("queries.py", "category_wtp_quantiles"),
}


def _calls(path: Path) -> set[tuple[str, str]]:
    """(file, enclosing function) for every ``.getNumPartitions()``."""
    rel = path.relative_to(PKG).as_posix()
    found = set()

    def visit(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = scope + [node.name]
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr == "getNumPartitions"
        ):
            found.add((rel, ".".join(scope) or "<module>"))
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(ast.parse(path.read_text()), [])
    return found


def test_get_num_partitions_only_in_the_fan_out_helper():
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        found |= _calls(path)
    assert found == ALLOWED
