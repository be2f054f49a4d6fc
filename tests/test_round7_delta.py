"""Round-7 Delta protocol invariant (the ADVICE r6 high finding):
checkpoints assert REAL partitionValues — the old ``[]`` rows made
every post-checkpoint read of a partitioned table silently DROP the
partition columns, and corrupted stock readers' partition metadata.
"""

from __future__ import annotations

import json
import os

from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
    read_delta_table,
)
from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
    _write_checkpoint,
    vacuum_delta_table,
)

from tests.test_round6_invariants import _stage_one_file


def _mk_partitioned(spark, t: str) -> list:
    """Hand-built 2-partition Delta table (cat=a / cat=b, 3 files
    each), hive-style layout, partitionColumns in metaData."""
    os.makedirs(f"{t}/_delta_log", exist_ok=True)
    adds = []
    for cat in ("a", "b"):
        for i in range(3):
            lo = (100 if cat == "b" else 0) + 10 * i
            rel = f"cat={cat}/part-{cat}{i}.snappy.parquet"
            _stage_one_file(spark, t, rel, lo, lo + 4)
            adds.append((rel, {"cat": cat}))
    schema = {"type": "struct", "fields": [
        {"name": "x", "type": "long", "nullable": True, "metadata": {}},
        {"name": "cat", "type": "string", "nullable": True,
         "metadata": {}}]}
    actions = [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "m-p7",
                      "format": {"provider": "parquet", "options": {}},
                      "schemaString": json.dumps(schema),
                      "partitionColumns": ["cat"], "configuration": {},
                      "createdTime": 0}},
    ] + [
        {"add": {"path": rel, "partitionValues": pv,
                 "size": os.path.getsize(f"{t}/{rel}"),
                 "modificationTime": 0, "dataChange": True}}
        for rel, pv in adds
    ]
    with open(f"{t}/_delta_log/{0:020d}.json", "w") as f:
        for a in actions:
            f.write(json.dumps(a) + "\n")
    return adds


def test_checkpoint_preserves_partition_values(spark, tmp_path):
    """ADVICE r6 high: checkpoint a partitioned table, vacuum the JSON
    it replaces, and the checkpoint-seeded read must STILL reconstruct
    the partition column — and the checkpoint's add rows must assert
    the same partitionValues the JSON did."""
    import pyarrow.parquet as pq

    t = str(tmp_path / "pcp")
    _mk_partitioned(spark, t)
    before = sorted(
        (r["x"], r["cat"]) for r in read_delta_table(spark, t).collect()
    )
    assert {c for _, c in before} == {"a", "b"}
    _write_checkpoint(t, 0)
    # stock-reader shape: every add row carries its hive partition pair
    cp = pq.read_table(f"{t}/_delta_log/{0:020d}.checkpoint.parquet")
    cp_adds = [r["add"] for r in cp.to_pylist() if r["add"] is not None]
    assert len(cp_adds) == 6
    for a in cp_adds:
        pv = dict(a["partitionValues"])
        assert pv == {"cat": a["path"].split("/")[0].split("=")[1]}
    # drop the JSON the checkpoint replaces; the seed-only read must
    # keep the partition column (the bug read succeeded but silently
    # returned rows WITHOUT `cat`)
    stats = vacuum_delta_table(t, retention_ms=0)
    assert stats["log_commits_deleted"] == 1
    after = sorted(
        (r["x"], r["cat"]) for r in read_delta_table(spark, t).collect()
    )
    assert after == before
