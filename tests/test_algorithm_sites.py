"""Each operator algorithm below has one implementation in the package.
This test walks the package source for a marker of each algorithm and
fails if a marker appears outside that algorithm's one def, so a
pasted second copy cannot come back unnoticed.  A marker is found by
the top-level def that holds it (nested helpers count as their outer
def).  The DuckDB oracles in ``queries.py`` are SQL strings, which the
markers do not match: they are reference implementations, kept apart
on purpose.

- the range-bucket rank and prefix walk: a read of ``RANK_BUCKETS``,
  or the text of its bucket law (``div (((_bwhi - _bwlo) div``);
- the positional boundary walk: the SQL that pairs each target rank
  with its neighbour rank (``named_struct('rr', r + 1``);
- the IVF centroid sample: ``.limit`` of an ``IVF_*`` constant (every
  IVF tier assigns against the one-row model this def builds);
- the integer Lloyd loop: numpy's ``.argmin``;
- the argmin over a shipped model: the strict ``s["d"] < acc["d"]``
  comparison;
- the HLL register law: the call ``F.bin``;
- the HLL fold from registers to an estimate: the scaled harmonic
  term ``shiftleft(CAST(1 AS BIGINT), {rho_max} - m_reg)``.
"""

from __future__ import annotations

import ast
from collections.abc import Callable
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / (
    "data_pipeline_for_e_commerce_shop_spark"
)


def _name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Name):
        return node.id
    if isinstance(node, ast.Attribute):
        return node.attr
    return None


def _text(node: ast.AST) -> str | None:
    """A string literal's text; an f-string's with ``{}`` holes."""
    if isinstance(node, ast.Constant) and isinstance(node.value, str):
        return node.value
    if isinstance(node, ast.JoinedStr):
        return "".join(
            v.value if isinstance(v, ast.Constant) else "{}"
            for v in node.values
        )
    return None


def _rank_buckets(node: ast.AST) -> bool:
    if isinstance(node, (ast.Name, ast.Attribute)):
        return _name(node) == "RANK_BUCKETS" and isinstance(node.ctx, ast.Load)
    text = _text(node)
    return text is not None and "div (((_bwhi - _bwlo) div" in text


def _neighbour_rank(node: ast.AST) -> bool:
    text = _text(node)
    return text is not None and "named_struct('rr', r + 1" in text


def _ivf_sample(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "limit"
        and any((_name(a) or "").startswith("IVF_") for a in node.args)
    )


def _np_argmin(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "argmin"
    )


def _d_field(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Subscript)
        and isinstance(node.slice, ast.Constant)
        and node.slice.value == "d"
    )


def _strict_d_less(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Compare)
        and len(node.ops) == 1
        and isinstance(node.ops[0], ast.Lt)
        and _d_field(node.left)
        and _d_field(node.comparators[0])
    )


def _f_bin(node: ast.AST) -> bool:
    return (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == "bin"
        and _name(node.func.value) == "F"
    )


def _hll_term(node: ast.AST) -> bool:
    # an f-string's constant parts are separate nodes too; match only
    # the whole JoinedStr, or a plain literal
    text = _text(node)
    return (
        text is not None
        and "shiftleft(CAST(1 AS BIGINT), " in text
        and " - m_reg)" in text
    )


MARKERS: dict[str, tuple[Callable[[ast.AST], bool], tuple[str, str]]] = {
    "range-bucket walk": (
        _rank_buckets, ("operators/windows.py", "bucketed_rank_running_sum")
    ),
    "boundary walk": (
        _neighbour_rank, ("operators/windows.py", "positional_boundary_structs")
    ),
    "IVF centroid sample": (
        _ivf_sample, ("operators/similarity.py", "_centroid_model")
    ),
    "integer Lloyd loop": (_np_argmin, ("operators/similarity.py", "_lloyd_np")),
    "model argmin": (_strict_d_less, ("operators/similarity.py", "_argmin")),
    "HLL register law": (_f_bin, ("operators/sketch.py", "_hll_registers")),
    "HLL estimate fold": (_hll_term, ("operators/sketch.py", "_hll_fold")),
}


# Sites that write an algorithm's law again on purpose, with the reason.
VARIANTS: dict[str, dict[tuple[str, str], str]] = {
    "range-bucket walk": {
        ("queries.py", "layout_zorder_pruning_audit"): (
            "stacked variant: both layouts' leads are bucketed in one "
            "pass, per layout, against a two-row bounds table"
        ),
        ("queries.py", "revenue_theil_sen"): (
            "positional-pick variant: the bucket counts' prefix finds the "
            "bucket holding the median slope, and only that bucket is sorted"
        ),
    },
}


def _sites(path: Path) -> dict[str, set[tuple[str, str]]]:
    """Marker -> {(file, top-level def or "<module>")} in one file."""
    rel = path.relative_to(PKG).as_posix()
    found: dict[str, set[tuple[str, str]]] = {m: set() for m in MARKERS}

    def visit(node: ast.AST, scope: str, in_fstring: bool) -> None:
        if (
            isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
            and scope == "<module>"
        ):
            scope = node.name
        if not (in_fstring and isinstance(node, ast.Constant)):
            for marker, (match, _) in MARKERS.items():
                if match(node):
                    found[marker].add((rel, scope))
        in_fstring = in_fstring or isinstance(node, ast.JoinedStr)
        for child in ast.iter_child_nodes(node):
            visit(child, scope, in_fstring)

    visit(ast.parse(path.read_text()), "<module>", False)
    return found


def test_each_algorithm_has_one_implementation():
    found: dict[str, set[tuple[str, str]]] = {m: set() for m in MARKERS}
    for path in sorted(PKG.rglob("*.py")):
        for marker, sites in _sites(path).items():
            found[marker] |= sites
    assert found == {
        m: {site, *VARIANTS.get(m, {})} for m, (_, site) in MARKERS.items()
    }
