"""Every defaulted parameter in the package is set by some call.

A parameter with a default that no call sets is an option no caller
uses: its value is a constant, and any code only another value would
reach never runs.  This test collects every function in the package
(top level, methods and nested defs) and the parameters it defaults,
then walks the calls in the package, ``perfbench/``,
``__spark_entry__.py`` and ``tests/``.  A call sets a parameter

- by keyword, or ``**`` forwarding (which may set any of them);
- by position (``*`` forwarding sets every parameter from there on);
- through ``functools.partial(f, ...)``.

Calls are matched to defs by name, the callee's last attribute or its
bare name, so a call reaches every package def of that name (a class
name reaches its ``__init__``).  A name bound by ``for f in (a, b)`` or
by ``f = a`` calls what it is bound to.  The match is loose on
purpose: a false match can only hide an unset option, never invent
one.

A defaulted parameter no call sets fails the test unless ``ALLOWED``
names it with its reason, and an ``ALLOWED`` entry that a call sets or
that no longer exists fails it too, so the list cannot go stale.  A
second test fails on a call in the package, ``perfbench/`` or
``__spark_entry__.py`` that passes a parameter its own default
literal: such an argument says nothing, and a parameter whose every
caller passes its default is a constant in disguise.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = ROOT / "data_pipeline_for_e_commerce_shop_spark"

# Defaulted on purpose with no caller setting them, each with its reason.
ALLOWED = {
    ("session", "get_spark", "master"):
        "a deployment setting: a cluster passes its master URL, and "
        "local runs take SPARK_MASTER or local[SPARK_GRAFT_CPUS]",
    ("sources.delta_writer", "rewrite_delta_table", "txn"):
        "the SetTransaction of a caller that drives its own "
        "foreachBatch; the def is kept for ROADMAP directions 1 and 3 "
        "(test_reachability.ALLOWED)",
}

Key = tuple[str, str, str]  # (module, qualified def name, parameter)


def _module_name(path: Path) -> str:
    parts = list(path.relative_to(PKG).with_suffix("").parts)
    if parts[-1] == "__init__":
        parts.pop()
    return ".".join(parts)


class Def:
    def __init__(self, mod: str, qual: str, node: ast.FunctionDef, method: bool):
        self.mod, self.qual, self.node = mod, qual, node
        a = node.args
        pos = a.posonlyargs + a.args
        self.positional = [x.arg for x in pos]
        if method and self.positional and self.positional[0] in ("self", "cls"):
            self.positional = self.positional[1:]
        self.defaults: dict[str, ast.expr] = dict(
            zip([x.arg for x in pos[len(pos) - len(a.defaults):]], a.defaults)
        )
        self.defaults.update(
            (x.arg, d) for x, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None
        )

    def key(self, param: str) -> Key:
        return (self.mod, self.qual, param)


def package_defs() -> dict[str, list[Def]]:
    """Every package function by the names a call may use for it."""
    by_name: dict[str, list[Def]] = {}

    def visit(mod, body, prefix, cls):
        for node in body:
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
                d = Def(mod, prefix + node.name, node, cls is not None)
                by_name.setdefault(node.name, []).append(d)
                if node.name == "__init__" and cls is not None:
                    by_name.setdefault(cls, []).append(d)
                visit(mod, node.body, f"{prefix}{node.name}.", None)
            elif isinstance(node, ast.ClassDef):
                visit(mod, node.body, f"{prefix}{node.name}.", node.name)

    for path in sorted(PKG.rglob("*.py")):
        visit(_module_name(path), ast.parse(path.read_text()).body, "", None)
    return by_name


def _name(node: ast.expr) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _aliases(tree: ast.Module) -> dict[str, set[str]]:
    """Local names bound to callables: ``for f in (a, b)`` and ``f = a``."""
    out: dict[str, set[str]] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.For) and isinstance(node.target, ast.Name):
            if isinstance(node.iter, (ast.Tuple, ast.List)):
                names = {_name(e) for e in node.iter.elts} - {None}
                out.setdefault(node.target.id, set()).update(names)
        elif (
            isinstance(node, ast.Assign)
            and len(node.targets) == 1
            and isinstance(node.targets[0], ast.Name)
            and isinstance(node.value, (ast.Name, ast.Attribute))
        ):
            out.setdefault(node.targets[0].id, set()).add(_name(node.value))
    return out


def call_sites() -> list[tuple[Path, bool]]:
    """(file, live): the package, perfbench and the entry are live."""
    live = [*sorted(PKG.rglob("*.py")), ROOT / "__spark_entry__.py"]
    live += sorted((ROOT / "perfbench").rglob("*.py"))
    return [(p, True) for p in live] + [
        (p, False) for p in sorted((ROOT / "tests").glob("*.py"))
    ]


def calls(by_name: dict[str, list[Def]]):
    """Yield (def, parameter, argument or None, live) for each
    parameter a call sets; the argument is None when a ``*``/``**``
    forward sets it."""
    for path, live in call_sites():
        tree = ast.parse(path.read_text())
        aliases = _aliases(tree)
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            callee, args = _name(call.func), list(call.args)
            if callee == "partial" and args:
                callee, args = _name(args[0]), args[1:]
            names = {callee} | aliases.get(callee, set())
            for d in (d for n in names for d in by_name.get(n, [])):
                for i, arg in enumerate(args):
                    if isinstance(arg, ast.Starred):
                        for p in d.positional[i:]:
                            yield d, p, None, live
                        break
                    if i < len(d.positional):
                        yield d, d.positional[i], arg, live
                for kw in call.keywords:
                    if kw.arg is None:
                        for p in d.defaults:
                            yield d, p, None, live
                    else:
                        yield d, kw.arg, kw.value, live


def unset_options() -> tuple[set[Key], set[Key]]:
    """(defaulted parameters no call sets, every defaulted parameter)."""
    by_name = package_defs()
    defaulted = {
        d.key(p) for ds in by_name.values() for d in ds for p in d.defaults
    }
    set_ = {d.key(p) for d, p, _, _ in calls(by_name)}
    return defaulted - set_, defaulted


def test_every_defaulted_parameter_is_set_by_a_call():
    unset, defaulted = unset_options()
    assert sorted(unset - set(ALLOWED)) == []
    assert sorted(k for k in ALLOWED if k not in defaulted) == []
    assert sorted(k for k in ALLOWED if k not in unset) == []


def test_no_live_call_passes_a_parameter_its_default():
    by_name = package_defs()
    redundant = sorted(
        f"{d.mod}.{d.qual}({p}={ast.unparse(arg)})"
        for d, p, arg, live in calls(by_name)
        if live
        and arg is not None
        and p in d.defaults
        and ast.dump(arg) == ast.dump(d.defaults[p])
    )
    assert redundant == []
