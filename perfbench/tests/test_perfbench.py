"""Tests of the benchmark itself (not of the program it measures).

    python3 -m pytest perfbench/tests -q -p no:cacheprovider

The smoke tests start Spark once per workload at sf0.001 and take about
a minute each.
"""

from __future__ import annotations

import filecmp
import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)
sys.path.insert(0, ROOT)

import datagen  # noqa: E402
import measure  # noqa: E402
import oracle  # noqa: E402
import run  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_digest_ignores_row_order():
    cols = ["b", "a"]
    rows = [(1, "x"), (2, "y"), (3, None)]
    assert oracle.digest(cols, rows) == oracle.digest(cols, rows[::-1])
    assert oracle.digest(cols, rows) == oracle.digest(["a", "b"], [(r[1], r[0]) for r in rows])
    assert oracle.digest(cols, rows) != oracle.digest(cols, [(1, "x"), (2, "y"), (4, None)])


def test_tail_rule_keeps_ten_samples_above():
    value, pct, n = measure.tail([float(x) for x in range(200, 0, -1)])
    assert (value, pct, n) == (190.0, 95.0, 200)
    assert sum(1 for x in range(1, 201) if x > value) == 10


def test_tail_rule_never_falls_below_p90():
    assert measure.tail([float(x) for x in range(40, 0, -1)]) == (36.0, 90.0, 40)
    assert measure.tail([float(x) for x in range(1, 101)]) == (90.0, 90.0, 100)
    # ten samples of five ops, or fifteen: the tail stays on the slowest op
    two = [1.0, 2.0, 3.0, 4.0, 9.0] * 2
    assert measure.tail(two)[0] == measure.tail(two + [1.0, 2.0, 3.0, 4.0, 9.5])[0] == 9.0
    assert measure.tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)
    with pytest.raises(ValueError):
        measure.tail([])


def test_unstolen_takes_out_the_stolen_share():
    assert measure.unstolen(10.0, 300, 100) == 7.5
    assert measure.unstolen(10.0, 300, 0) == 10.0
    assert measure.unstolen(10.0, 0, 0) == 10.0  # shorter than a clock tick
    wall, unstolen = measure.Clock().read()
    assert 0.0 <= unstolen <= wall


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs
    )


def _generate(root: str, seed: int) -> None:
    datagen.write_tables(root, seed, 0.001)
    datagen.write_medallion_batch(root, os.path.join(root, "raw"), seed)


def test_generator_is_deterministic(tmp_path):
    a, b, c = (str(tmp_path / x) for x in "abc")
    _generate(a, 7)
    _generate(b, 7)
    assert _same_tree(a, b)
    _generate(c, 8)
    assert not _same_tree(a, c)


def test_ingest_batch_shape(tmp_path):
    """One order day plus late rows on the two days before it, a fixed
    number of defects whatever the seed, and KPI history that the late
    days overlap."""
    import csv

    import pyarrow.parquet as pq

    shapes = []
    for seed in (1, 2):
        raw = str(tmp_path / str(seed) / "raw")
        _generate(os.path.dirname(raw), seed)
        with open(datagen.batch_files(raw)["orders"]) as f:
            rows = list(csv.DictReader(f))
        days = sorted({r["created_at"][:10] for r in rows if r["created_at"][:4].isdigit()})
        history = pq.read_table(os.path.join(raw, "kpis", "order")).column("order_date")
        kept = {d.isoformat() for d in history.to_pylist()}
        shapes.append((len(rows), len(days), sum(not r["user_id"] for r in rows),
                       sum(r["created_at"] == "not-a-date" for r in rows)))
        assert len(kept) == datagen.HISTORY_DAYS
        assert days[:2] == sorted(kept)[-2:] and days[2] not in kept
    assert shapes[0] == shapes[1]
    assert shapes[0][1] == 3 and shapes[0][2] >= 1 and shapes[0][3] >= 1


def test_generator_sizes_do_not_depend_on_seed(tmp_path):
    import pyarrow.parquet as pq

    counts = []
    for seed in (1, 2):
        out = str(tmp_path / str(seed))
        datagen.write_tables(out, seed, 0.001)
        counts.append({t: pq.read_metadata(f"{out}/{t}.parquet").num_rows
                       for t in datagen.TABLES})
    assert counts[0] == counts[1]


def test_metric_names_are_well_formed():
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    names += [w["name"] for w in spec["workloads"]]
    assert all(NAME.match(n) for n in names), [n for n in names if not NAME.match(n)]
    assert len(names) == len(set(names))
    assert sorted(m["name"] for m in spec["end_to_end"]) == sorted(run.END_TO_END)
    assert sorted(w["name"] for w in spec["workloads"]) == sorted(run.WORKLOADS)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", ".out", "__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def _smoke(workload: str, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", "1", "--seconds", "0", "--trace", str(trace), "--sf", "0.001"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
def test_smoke_each_workload(workload):
    result = _smoke(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, result
    spec = {m["name"]: m["unit"] for m in _spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == spec
    assert all(v["value"] > 0 for v in result["metrics"].values())


def test_smoke_traced_run_reports_every_layer_metric():
    result = _smoke("medallion_ingest", 1)
    assert result["correct"], result
    spec = {m["name"]: m["unit"] for m in _spec()["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == spec
    m = {k: v["value"] for k, v in result["metrics"].items()}
    assert m["pipeline.batch_s"] > 0 and m["runner.claim_s"] > 0
    assert m["merge.upsert_s"] > 0 and m["sinks.files_written"] > 0
    # timed batches merge into the KPI tables the warm-up batch wrote
    assert m["merge.rows_rewritten"] > 0 and m["merge.rewrite_ratio"] > 0
    assert m["quality.rows_quarantined"] > 0
