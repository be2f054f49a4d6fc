"""Every top-level def in the package is reached from a live path.

The test builds a name graph over the package source: a top-level def
(function or class) has an edge to every package def its body, its
decorators, its defaults or its annotations name, through the
module's own defs and its imports (``from m import f as _f`` and
``import m`` included, at module level or inside a function).  The
walk starts from

- every module-level statement other than an import or a def, and
  every ``@register``-decorated query;
- the entry points: ``MedallionPipeline``, ``BatchStateTable``,
  ``run_until_drained``, ``debounce_batches``, ``get_spark`` and
  ``__main__.main``;
- every name that ``__spark_entry__.py`` and ``perfbench/*.py`` refer
  to, read only: their imports, and attribute names or strings that
  name a member of a package module they import (``Tracer.patch``
  looks its targets up by string).

A def that the walk does not reach fails the test unless ``ALLOWED``
names it with its reason, and an ``ALLOWED`` entry that is reached or
no longer exists fails it too, so the list cannot go stale.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG_NAME = "data_pipeline_for_e_commerce_shop_spark"
PKG = ROOT / PKG_NAME

ENTRY_POINTS = {
    ("pipeline", "MedallionPipeline"),
    ("streaming.runner", "BatchStateTable"),
    ("streaming.runner", "run_until_drained"),
    ("streaming.debounce", "debounce_batches"),
    ("session", "get_spark"),
    ("__main__", "main"),
}

# Unreached on purpose, each with the reason it stays.
ALLOWED = {
    ("sources.delta_writer", "rewrite_delta_table"):
        "ROADMAP directions 1 and 3 commit the validated zone and the "
        "KPIs through this optimistic read-modify-write loop",
    ("sources.delta_reader", "last_txn_versions"):
        "the SetTransaction watermark query (PROTOCOL.md) for a caller "
        "that drives its own foreachBatch; a projection of _snapshot, "
        "which the writer reads directly",
    ("sources.sinks", "write_alert"):
        "ROADMAP direction 2 wires it to failed batches (SURVEY S10/T10)",
}

Key = tuple[str, str]


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(PKG).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


def _absolute(module: str, is_pkg: bool, node: ast.ImportFrom) -> str | None:
    """The package-relative module an ``ImportFrom`` reads, or None
    when it reads from outside the package."""
    if node.level:
        base = module.split(".") if module else []
        if not is_pkg:
            base = base[:-1]
        base = base[: len(base) - (node.level - 1)]
        tail = node.module.split(".") if node.module else []
        return ".".join(base + tail)
    name = node.module or ""
    if name == PKG_NAME:
        return ""
    if name.startswith(PKG_NAME + "."):
        return name[len(PKG_NAME) + 1:]
    return None


class Graph:
    def __init__(self):
        self.modules: dict[str, ast.Module] = {}
        self.is_pkg: dict[str, bool] = {}
        self.defs: dict[Key, ast.AST] = {}
        for path in sorted(PKG.rglob("*.py")):
            mod = _module_name(path)
            tree = ast.parse(path.read_text())
            self.modules[mod] = tree
            self.is_pkg[mod] = path.name == "__init__.py"
            for node in tree.body:
                if isinstance(
                    node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
                ):
                    self.defs[(mod, node.name)] = node
        # module -> local name -> ("mod", m) | ("name", m, n)
        self.bindings: dict[str, dict[str, tuple]] = {
            mod: self._imports(mod, tree.body) for mod, tree in self.modules.items()
        }

    def _imports(self, mod: str, body) -> dict[str, tuple]:
        out: dict[str, tuple] = {}
        for stmt in body:
            for node in ast.walk(stmt):
                if isinstance(node, ast.Import):
                    for a in node.names:
                        if a.name.split(".")[0] != PKG_NAME:
                            continue
                        if a.asname:
                            out[a.asname] = ("mod", a.name[len(PKG_NAME) + 1:])
                        else:  # binds the package; attributes walk down
                            out[PKG_NAME] = ("mod", "")
                elif isinstance(node, ast.ImportFrom):
                    src = _absolute(mod, self.is_pkg.get(mod, False), node)
                    if src is None:
                        continue
                    for a in node.names:
                        sub = f"{src}.{a.name}" if src else a.name
                        if sub in self.modules:
                            out[a.asname or a.name] = ("mod", sub)
                        else:
                            out[a.asname or a.name] = ("name", src, a.name)
        return out

    def member(self, mod: str, name: str, seen=()) -> Key | str | None:
        """What ``mod.name`` is: a def key, a module name, or None."""
        if (mod, name) in self.defs:
            return (mod, name)
        sub = f"{mod}.{name}" if mod else name
        if sub in self.modules:
            return sub
        b = self.bindings.get(mod, {}).get(name)
        if b is None or (mod, name) in seen:
            return None
        if b[0] == "mod":
            return b[1]
        return self.member(b[1], b[2], seen + ((mod, name),))

    def refs(self, mod: str, nodes, extra: dict[str, tuple] | None = None) -> set[Key]:
        """Package defs that the names in ``nodes`` resolve to."""
        local = dict(self.bindings.get(mod, {}))
        local.update(extra or {})

        def lookup(name: str):
            if (mod, name) in self.defs:
                return (mod, name)
            b = local.get(name)
            if b is None:
                return None
            if b[0] == "mod":
                return b[1]
            return self.member(b[1], b[2])

        def resolve(node):
            if isinstance(node, ast.Name):
                return lookup(node.id)
            if isinstance(node, ast.Attribute):
                base = resolve(node.value)
                if isinstance(base, str):
                    return self.member(base, node.attr)
            return None

        out: set[Key] = set()
        for root in nodes:
            for node in ast.walk(root):
                if isinstance(node, (ast.Name, ast.Attribute)):
                    hit = resolve(node)
                    if isinstance(hit, tuple):
                        out.add(hit)
        return out

    def edges(self, key: Key) -> set[Key]:
        mod, _ = key
        node = self.defs[key]
        return self.refs(mod, [node], self._imports(mod, node.body))


def _is_register(dec: ast.expr) -> bool:
    target = dec.func if isinstance(dec, ast.Call) else dec
    return (isinstance(target, ast.Name) and target.id == "register") or (
        isinstance(target, ast.Attribute) and target.attr == "register"
    )


def _external_refs(g: Graph, path: Path) -> set[Key]:
    """Package defs a file outside the package imports or names: a
    name it uses through its imports, or an attribute name or string
    that names a member of a package module it imports."""
    tree = ast.parse(path.read_text())
    binds = g._imports("<external>", tree.body)
    out = g.refs("<external>", [tree], binds)
    words = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            words.add(node.attr)
        elif isinstance(node, ast.Constant) and isinstance(node.value, str):
            words.add(node.value)
    for b in binds.values():
        targets = [g.member(b[1], w) for w in words] if b[0] == "mod" else [
            g.member(b[1], b[2])
        ]
        out.update(t for t in targets if isinstance(t, tuple))
    return out


def _roots(g: Graph) -> set[Key]:
    roots = set(ENTRY_POINTS)
    for mod, tree in g.modules.items():
        stmts = [
            s for s in tree.body
            if not isinstance(
                s,
                (ast.Import, ast.ImportFrom, ast.FunctionDef,
                 ast.AsyncFunctionDef, ast.ClassDef),
            )
        ]
        roots |= g.refs(mod, stmts)
        for node in tree.body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and any(
                _is_register(d) for d in node.decorator_list
            ):
                roots.add((mod, node.name))
    externals = [ROOT / "__spark_entry__.py", *sorted((ROOT / "perfbench").glob("*.py"))]
    for path in externals:
        roots |= _external_refs(g, path)
    return roots


def unreached(g: Graph) -> set[Key]:
    seen: set[Key] = set()
    todo = [k for k in _roots(g) if k in g.defs]
    while todo:
        key = todo.pop()
        if key in seen:
            continue
        seen.add(key)
        todo.extend(k for k in g.edges(key) if k not in seen)
    return set(g.defs) - seen


def test_entry_points_exist():
    g = Graph()
    assert ENTRY_POINTS <= set(g.defs)


def test_every_top_level_def_is_reached():
    g = Graph()
    dead = unreached(g)
    assert sorted(dead - set(ALLOWED)) == []
    assert sorted(k for k in ALLOWED if k not in g.defs) == []
    assert sorted(k for k in ALLOWED if k not in dead) == []


def _patch_table() -> tuple[dict, list[ast.Tuple]]:
    """The names ``perfbench/run.install_tracing`` binds (its imports
    and ``M = ...`` aliases, resolved for real) and the tuples of the
    ``for owner, attr, ... in [...]`` loop it hands to ``Tracer.patch``."""
    tree = ast.parse((ROOT / "perfbench" / "run.py").read_text())
    fn = next(
        n for n in tree.body
        if isinstance(n, ast.FunctionDef) and n.name == "install_tracing"
    )
    ns: dict = {}
    rows: list[ast.Tuple] = []
    for stmt in fn.body:
        if isinstance(stmt, (ast.Import, ast.ImportFrom)):
            exec(compile(ast.Module([stmt], []), "run.py", "exec"), ns)
        elif isinstance(stmt, ast.Assign) and isinstance(
            stmt.value, (ast.Name, ast.Attribute)
        ):
            # aliases of what was imported; ``counts = tracer.counts``
            # names a parameter and is skipped
            root = stmt.value
            while isinstance(root, ast.Attribute):
                root = root.value
            if root.id in ns:
                (target,) = stmt.targets
                ns[target.id] = _lookup(ns, stmt.value)
        elif isinstance(stmt, ast.For) and isinstance(stmt.iter, ast.List):
            rows = [e for e in stmt.iter.elts if isinstance(e, ast.Tuple)]
    return ns, rows


def _lookup(ns: dict, node: ast.expr):
    if isinstance(node, ast.Name):
        return ns[node.id]
    return getattr(_lookup(ns, node.value), node.attr)


def test_perfbench_patch_targets_resolve():
    """``Tracer.patch`` looks each target up with ``getattr``, so a
    name that moves or goes (say, ``pipeline``'s ``ri_violations``
    import, which only the tracer uses) crashes every ``--trace 1``
    run."""
    ns, rows = _patch_table()
    assert len(rows) >= 10
    missing = []
    for row in rows:
        owner, attr = row.elts[0], row.elts[1]
        assert isinstance(attr, ast.Constant), ast.dump(row)
        target = getattr(_lookup(ns, owner), attr.value, None)
        if not callable(target):
            missing.append(f"{ast.unparse(owner)}.{attr.value}")
    assert missing == []
