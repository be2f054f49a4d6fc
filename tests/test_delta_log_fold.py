"""The package reads the Delta log through one fold and commits to it
through one loop.  ``sources/delta_reader._snapshot`` is the only
function that opens a ``_delta_log`` commit or checkpoint file, and
``sources/delta_writer._commit`` is the only writer function that
publishes a version (``publish_once``).  This test walks the package
source and fails if a second replay of the log or a second
compare-and-swap loop comes back.

A module counts as reading the Delta log when its source names
``_delta_log``; in such a module every file read (``open`` in read
mode, a pyarrow parquet read) is a log read, whatever the path.  A
call to ``checkpoint_actions`` counts anywhere in the package."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / (
    "data_pipeline_for_e_commerce_shop_spark"
)
FOLD = {("sources/delta_reader.py", "_snapshot")}
COMMIT_LOOP = {("sources/delta_writer.py", "_commit")}
PARQUET_READS = {"read_table", "ParquetFile", "read_schema", "read_metadata"}


def _callee(node: ast.Call) -> str | None:
    f = node.func
    if isinstance(f, ast.Name):
        return f.id
    if isinstance(f, ast.Attribute):
        return f.attr
    return None


def _opens_for_reading(node: ast.Call) -> bool:
    mode = node.args[1] if len(node.args) > 1 else None
    for kw in node.keywords:
        if kw.arg == "mode":
            mode = kw.value
    if mode is None:
        return True
    if isinstance(mode, ast.Constant) and isinstance(mode.value, str):
        return not set(mode.value) & set("wax")
    return True  # a computed mode may read


def _names_delta_log(tree: ast.Module) -> bool:
    return any(
        isinstance(n, ast.Constant)
        and isinstance(n.value, str)
        and "_delta_log" in n.value
        for n in ast.walk(tree)
    )


def _calls(path: Path) -> tuple[set, set]:
    """(log readers, publish_once callers): (file, top-level function)
    pairs for each log read and each ``publish_once`` call."""
    tree = ast.parse(path.read_text())
    rel = path.relative_to(PKG).as_posix()
    log_module = _names_delta_log(tree)
    readers, publishers = set(), set()

    def visit(node, scope):
        if not scope and isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef)
        ):
            scope = node.name
        if isinstance(node, ast.Call):
            name = _callee(node)
            where = (rel, scope or "<module>")
            if name == "checkpoint_actions" or (
                log_module
                and (
                    (name == "open" and _opens_for_reading(node))
                    or name in PARQUET_READS
                )
            ):
                readers.add(where)
            if name == "publish_once":
                publishers.add(where)
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, None)
    return readers, publishers


def _scan():
    readers, publishers = set(), set()
    for path in sorted(PKG.rglob("*.py")):
        r, p = _calls(path)
        readers |= r
        publishers |= p
    return readers, publishers


def test_only_the_snapshot_fold_reads_the_delta_log():
    readers, _ = _scan()
    assert readers == FOLD


def test_only_the_commit_loop_publishes_a_delta_version():
    _, publishers = _scan()
    in_writer = {p for p in publishers if p[0] == "sources/delta_writer.py"}
    assert in_writer == COMMIT_LOOP
