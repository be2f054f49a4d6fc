"""The footer memo in ``schemas.py``: each parquet table's schema is
inferred once per file version, a table rewritten in place is read
again, and a second build of a query runs no Spark job."""

from __future__ import annotations

import ast
import uuid
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from data_pipeline_for_e_commerce_shop_spark.queries import QUERIES
from data_pipeline_for_e_commerce_shop_spark.schemas import load_table, table_rowcount

PKG = Path(__file__).resolve().parent.parent / "data_pipeline_for_e_commerce_shop_spark"


def test_rewritten_table_is_read_again(spark, tmp_path):
    """A rewrite at the same path with one more column and more rows is
    seen by both the schema and the footer row count."""
    sf_dir, path = str(tmp_path), tmp_path / "t.parquet"
    pq.write_table(pa.table({"a": [1, 2, 3]}), path)
    assert load_table(spark, sf_dir, "t").columns == ["a"]
    assert table_rowcount(sf_dir, "t") == 3

    pq.write_table(pa.table({"a": [1, 2, 3, 4, 5], "b": ["v"] * 5}), path)
    df = load_table(spark, sf_dir, "t")
    assert df.columns == ["a", "b"]
    assert df.where("b = 'v'").count() == 5
    assert table_rowcount(sf_dir, "t") == 5


def test_directory_table_sees_an_added_file(spark, tmp_path):
    sf_dir, table = str(tmp_path), tmp_path / "d.parquet"
    table.mkdir()
    pq.write_table(pa.table({"a": [1, 2]}), table / "part-0.parquet")
    assert table_rowcount(sf_dir, "d") == 2
    assert load_table(spark, sf_dir, "d").count() == 2

    pq.write_table(pa.table({"a": [3]}), table / "part-1.parquet")
    assert table_rowcount(sf_dir, "d") == 3
    assert load_table(spark, sf_dir, "d").count() == 3


def test_two_loads_of_one_table_self_join(spark, sf_dir):
    """The memo holds schemas, not DataFrames: two loads are two
    relations, so a self-join on them is not ambiguous."""
    a, b = load_table(spark, sf_dir, "region"), load_table(spark, sf_dir, "region")
    joined = a.join(b, a["r_regionkey"] == b["r_regionkey"] + 1)
    assert joined.count() == a.count() - 1


@pytest.mark.parametrize(
    "name",
    ["tpch_q3_unshipped_topk", "category_kpis", "dedup_minhash_lsh", "text_lang_id"],
)
def test_second_build_runs_no_spark_job(spark, sf_dir, name):
    sc = spark.sparkContext
    QUERIES[name](spark, sf_dir)  # the first build may infer schemas
    group = f"build-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        QUERIES[name](spark, sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []


def _schema_reads(path: Path) -> set[tuple[str, str]]:
    """(file, enclosing function) for every ``<x>.read.parquet(...).schema``."""
    rel = path.relative_to(PKG).as_posix()
    found = set()

    def visit(node, scope):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            scope = scope + [node.name]
        if (
            isinstance(node, ast.Attribute)
            and node.attr == "schema"
            and isinstance(node.value, ast.Call)
            and isinstance(node.value.func, ast.Attribute)
            and node.value.func.attr == "parquet"
            and isinstance(node.value.func.value, ast.Attribute)
            and node.value.func.value.attr == "read"
        ):
            found.add((rel, ".".join(scope) or "<module>"))
        for child in ast.iter_child_nodes(node):
            visit(child, scope)

    visit(ast.parse(path.read_text()), [])
    return found


def test_schema_inference_only_in_the_memo():
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        found |= _schema_reads(path)
    assert found == {("schemas.py", "parquet_schema")}
