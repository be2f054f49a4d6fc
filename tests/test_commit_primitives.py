"""The package commits tables through one os.link compare-and-swap
(``sources/delta_writer.publish_once``) and one rename-aside parquet
swap (``sources/sinks.swap_parquet``); the Delta checkpoint writer
renames a finished checkpoint file into place.  This test walks the
package source and fails if ``os.link`` or ``os.rename`` is called
anywhere else, so a second commit mechanism cannot come back
unnoticed."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / (
    "data_pipeline_for_e_commerce_shop_spark"
)
ALLOWED = {
    ("link", "sources/delta_writer.py", "publish_once"),
    ("rename", "sources/sinks.py", "swap_parquet"),
    ("rename", "sources/delta_writer.py", "_write_checkpoint"),
}
WATCHED = {"link", "rename"}


def _calls(path: Path) -> set[tuple[str, str, str]]:
    """(os function, file, enclosing function) for every watched call,
    through any ``import os as x`` / ``from os import f as g`` alias."""
    tree = ast.parse(path.read_text())
    os_names, fn_names = set(), {}
    for node in ast.walk(tree):
        if isinstance(node, ast.Import):
            os_names |= {a.asname or a.name for a in node.names if a.name == "os"}
        elif isinstance(node, ast.ImportFrom) and node.module == "os":
            for a in node.names:
                if a.name in WATCHED:
                    fn_names[a.asname or a.name] = a.name
    rel = path.relative_to(PKG).as_posix()
    found = set()

    def visit(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = scope + [node.name]
        if isinstance(node, ast.Call):
            f = node.func
            name = None
            if (
                isinstance(f, ast.Attribute)
                and isinstance(f.value, ast.Name)
                and f.value.id in os_names
                and f.attr in WATCHED
            ):
                name = f.attr
            elif isinstance(f, ast.Name) and f.id in fn_names:
                name = fn_names[f.id]
            if name:
                found.add((name, rel, ".".join(scope) or "<module>"))
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, [])
    return found


def test_link_and_rename_only_in_the_commit_primitives():
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        found |= _calls(path)
    assert found == ALLOWED
