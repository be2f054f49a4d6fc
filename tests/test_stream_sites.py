"""The package opens a stream and drains one in one place each.
``streaming/windowed.events_stream`` is the only events file stream
and ``streaming/windowed.drained`` the only drain: it yields the
drained result as a DataFrame and deletes its output and checkpoint
directories when the caller's block ends.  The two other stream
sites are the exactly-once Delta sink's own ``foreachBatch`` drain
and the custom tick source's self-contained drains.  This test walks
the package source and fails if a second stream site comes back, if
a streaming op hands its result over through a named query or a temp
view again, or if the ``events.ts`` canonicalisation is written a
second time outside ``schemas.canonical_ts``."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / (
    "data_pipeline_for_e_commerce_shop_spark"
)
READ_STREAM = {
    ("streaming/windowed.py", "events_stream"),
    ("sources/generator.py", "stream_generator_kpis"),
}
WRITE_STREAM = {
    ("streaming/windowed.py", "drained"),
    ("streaming/delta_sink.py", "stream_events_to_delta"),
    ("sources/generator.py", "stream_generator_kpis"),
}
NAMED_HAND_OFF = {"createOrReplaceTempView", "dropTempView", "table", "queryName"}
TS_CANON = "timestamp_micros(ts div 1000)"


def _sites(path: Path) -> dict[str, set]:
    """(file, top-level def) pairs for each ``.readStream`` and
    ``.writeStream`` access, each named hand-off call and each string
    holding the ``ts`` canonicalisation."""
    tree = ast.parse(path.read_text())
    rel = path.relative_to(PKG).as_posix()
    found = {"readStream": set(), "writeStream": set(), "hand_off": set(), "ts": set()}

    def visit(node, scope):
        if not scope and isinstance(
            node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            scope = node.name
        where = (rel, scope or "<module>")
        if isinstance(node, ast.Attribute) and node.attr in ("readStream", "writeStream"):
            found[node.attr].add(where)
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in NAMED_HAND_OFF
        ):
            found["hand_off"].add(where + (node.func.attr,))
        if (
            isinstance(node, ast.Constant)
            and isinstance(node.value, str)
            and TS_CANON in node.value
        ):
            found["ts"].add(where)
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(tree, None)
    return found


def _scan() -> dict[str, set]:
    total: dict[str, set] = {}
    for path in sorted(PKG.rglob("*.py")):
        for kind, sites in _sites(path).items():
            total.setdefault(kind, set()).update(sites)
    return total


def test_only_events_stream_and_the_tick_source_open_a_stream():
    assert _scan()["readStream"] == READ_STREAM


def test_only_the_drain_the_delta_sink_and_the_tick_source_start_a_query():
    assert _scan()["writeStream"] == WRITE_STREAM


def test_streaming_ops_hand_no_result_over_by_name():
    hand_offs = {
        s for s in _scan()["hand_off"] if s[0].startswith("streaming/")
    }
    assert hand_offs == set()


def test_events_ts_is_canonicalised_in_one_place():
    assert _scan()["ts"] == {("schemas.py", "canonical_ts")}
