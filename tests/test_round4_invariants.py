"""Round-4 invariants: bucket-walk window replacements (VERDICT r3
item 2 — the seven row-scale global windows), the boundary-tie guard
(ADVICE r3 medium), and the multi-writer CAS commit (VERDICT r3 item
4).  Each bucket-walk helper is asserted bit-identical to the global
Window form it replaces, on data with duplicates in the value column
(tie-broken by key) and with descending (negated-lead) orderings."""

from __future__ import annotations

import pytest
from pyspark.sql import Window
from pyspark.sql import functions as F


def _synth(spark, n=501):
    """Deterministic skewed synthetic: duplicate-heavy value column,
    unique key, a weight column for running sums."""
    return spark.range(n).select(
        F.col("id").alias("k"),
        ((F.col("id") * 37) % 53).alias("v"),  # many duplicate values
        ((F.col("id") * 17) % 997 + 1).alias("w"),
    )


def test_bucketed_global_rank_matches_window_asc_and_desc(spark):
    """The rank walk (``bucketed_rank_running_sum`` with no sums)."""
    from data_pipeline_for_e_commerce_shop_spark.operators.windows import (
        bucketed_rank_running_sum,
    )

    df = _synth(spark)
    got = bucketed_rank_running_sum(
        df, [], "v", ["v", "k"], rank_col="rn_asc", n_col="n"
    )
    got = bucketed_rank_running_sum(
        got, [], "-v", [F.desc("v"), "k"], rank_col="rn_desc"
    )
    ref = df.select(
        "k",
        F.row_number().over(Window.orderBy("v", "k")).alias("e_asc"),
        F.row_number()
        .over(Window.orderBy(F.desc("v"), "k"))
        .alias("e_desc"),
    )
    j = got.join(ref, "k")
    assert (
        j.where(
            (F.col("rn_asc") != F.col("e_asc"))
            | (F.col("rn_desc") != F.col("e_desc"))
        ).count()
        == 0
    )
    assert got.select(F.max("n")).first()[0] == df.count()


def test_bucketed_global_rank_tiny_and_constant_lead(spark):
    """Degenerate shapes of the rank walk: fewer rows than buckets, and
    a constant lead key (all rows one bucket — the documented worst
    case, still correct)."""
    from data_pipeline_for_e_commerce_shop_spark.operators.windows import (
        bucketed_rank_running_sum,
    )

    tiny = _synth(spark, n=3)
    got = bucketed_rank_running_sum(tiny, [], "v", ["v", "k"], rank_col="rn")
    assert sorted(r["rn"] for r in got.collect()) == [1, 2, 3]

    const = tiny.withColumn("v", F.lit(7))
    got2 = bucketed_rank_running_sum(
        const, [], "v", ["v", "k"], rank_col="rn"
    )
    ref2 = {
        r["k"]: r["rn"]
        for r in const.select(
            "k", F.row_number().over(Window.orderBy("v", "k")).alias("rn")
        ).collect()
    }
    assert {r["k"]: r["rn"] for r in got2.collect()} == ref2


def test_bucketed_running_sum_matches_window(spark):
    """The prefix-sum walk (``bucketed_rank_running_sum`` read for its
    sum alone)."""
    from data_pipeline_for_e_commerce_shop_spark.operators.windows import (
        bucketed_rank_running_sum,
    )

    df = _synth(spark)
    got = bucketed_rank_running_sum(
        df, ["w"], "-v", [F.desc("v"), "k"], cum_cols=["cum"]
    )
    ref = df.select(
        "k",
        F.sum("w")
        .over(
            Window.orderBy(F.desc("v"), "k").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .alias("e_cum"),
    )
    assert (
        got.join(ref, "k").where(F.col("cum") != F.col("e_cum")).count()
        == 0
    )


@pytest.mark.parametrize("n,k", [(7, 5), (100, 4), (103, 10), (4, 10)])
def test_ntile_from_rank_matches_ntile(spark, n, k):
    from data_pipeline_for_e_commerce_shop_spark.operators.windows import (
        ntile_from_rank,
    )

    df = spark.range(1, n + 1).select(
        F.col("id").alias("rn"), F.lit(n).alias("n")
    )
    got = df.select(
        "rn",
        ntile_from_rank("rn", "n", k).alias("t_formula"),
        F.ntile(k).over(Window.orderBy("rn")).alias("t_ntile"),
    )
    assert (
        got.where(F.col("t_formula") != F.col("t_ntile")).count() == 0
    )
    # type parity with F.ntile (driver hashes int32 vs int64 apart)
    schema = {f.name: f.dataType.simpleString() for f in got.schema}
    assert schema["t_formula"] == schema["t_ntile"] == "int"


def test_positional_boundary_structs_raises_on_boundary_tie(spark):
    """ADVICE r3 (medium): a duplicate (value, *tiebreak) tuple run
    straddling an ntile boundary must raise in-plan (raise_error), not
    silently bin the whole run below the boundary."""
    from data_pipeline_for_e_commerce_shop_spark.operators.windows import (
        positional_boundary_structs,
    )

    # 10 rows, quintile boundaries at ranks 2,4,6,8; rows at ranks
    # 4 and 5 share the full tuple (v=2, tb=0) -> boundary 4 ties.
    rows = [(1, 0), (1, 1), (2, 0), (2, 0), (2, 0), (3, 0), (3, 1),
            (4, 0), (4, 1), (5, 0)]
    df = spark.createDataFrame(rows, "v long, tb long")
    ranks = (
        "transform(sequence(1, 4),"
        " i -> i * (n div 5) + least(CAST(i AS BIGINT), n % 5))"
    )
    b = positional_boundary_structs(df, [("bounds", "v", ["tb"], 2)], ranks)
    with pytest.raises(Exception, match="straddles a boundary"):
        b.collect()


def test_positional_boundary_structs_clean_when_ties_off_boundary(spark):
    """Duplicate tuples that do NOT straddle a boundary stay legal:
    same data shifted so the run sits inside one quintile."""
    from data_pipeline_for_e_commerce_shop_spark.operators.windows import (
        positional_boundary_structs,
    )

    # boundaries at ranks 2,4,6,8; the (3,0) run occupies ranks 5-6…
    # use a run at ranks 5,6? rank 6 IS a boundary.  Place the run at
    # ranks 4,5?  4 is a boundary.  10 rows: boundaries 2,4,6,8 — any
    # 2-run must sit at (intra-tile) ranks {1,2}… impossible for n=10,
    # k=5 (every tile has 2 rows, runs of 2 always end ON a boundary
    # legally: a run ENDING at a boundary is fine — only r==r+1
    # equality trips).  Run at ranks 3-4 ends AT boundary 4: legal.
    rows = [(1, 0), (1, 1), (2, 0), (2, 0), (3, 0), (3, 1), (4, 0),
            (4, 1), (5, 0), (5, 1)]
    df = spark.createDataFrame(rows, "v long, tb long")
    ranks = (
        "transform(sequence(1, 4),"
        " i -> i * (n div 5) + least(CAST(i AS BIGINT), n % 5))"
    )
    b = positional_boundary_structs(df, [("bounds", "v", ["tb"], 2)], ranks)
    bounds = b.first()["bounds"]
    assert len(bounds) == 4  # all four quintile boundaries resolved


def test_versioned_cas_two_writers_exactly_one_wins(spark, tmp_path):
    """VERDICT r3 item 4, on the Delta log: two writers that both read
    version 0 race their commits — exactly one wins version 1, the
    loser's commit raises ConcurrentWriteError WITHOUT publishing (no
    log entry, no staged file left), and the retry path
    (rewrite_delta_table with a coalescing_merge fold) re-reads and
    re-folds after a lost race: no lost update."""
    import glob

    from data_pipeline_for_e_commerce_shop_spark.operators.merge import (
        coalescing_merge,
    )
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
        delta_log_versions,
        read_delta_table,
    )
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
        ConcurrentWriteError,
        rewrite_delta_table,
        write_delta_commit,
    )

    path = str(tmp_path / "kpi")

    def _df(rows):
        return spark.createDataFrame(
            rows, "k string, a long, b double, data_sources array<string>"
        )

    def upsert(rows, before_first_commit=None):
        """rewrite_delta_table with a coalescing_merge fold; returns the
        committed version and how many times the fold ran."""
        src = _df(rows)
        folds = 0

        def fold(current):
            nonlocal folds
            folds += 1
            if current is None:
                return src
            merged = coalescing_merge(current, src, ["k"], ["a", "b"])
            if before_first_commit is not None and folds == 1:
                before_first_commit()
            return merged

        return rewrite_delta_table(spark, path, fold), folds

    assert upsert([("k0", 1, 1.0, ["base"])]) == (0, 1)

    # interleaved read phase: both writers snapshot version 0
    cur = delta_log_versions(path)[-1]
    snap = read_delta_table(spark, path, cur).localCheckpoint(eager=True)
    a_merged = coalescing_merge(
        snap, _df([("kA", 2, None, ["wa"])]), ["k"], ["a", "b"]
    ).localCheckpoint(eager=True)
    b_merged = coalescing_merge(
        snap, _df([("kB", 3, None, ["wb"])]), ["k"], ["a", "b"]
    ).localCheckpoint(eager=True)

    assert write_delta_commit(
        a_merged, path, mode="overwrite", expected_version=cur
    ) == 1
    files_before = set(glob.glob(f"{path}/*.parquet"))
    with pytest.raises(ConcurrentWriteError):
        write_delta_commit(
            b_merged, path, mode="overwrite", expected_version=cur
        )
    # loser's data was NOT published, and its staged files are gone
    assert delta_log_versions(path) == [0, 1]
    assert set(glob.glob(f"{path}/*.parquet")) == files_before
    keys_v1 = {r["k"] for r in read_delta_table(spark, path).collect()}
    assert keys_v1 == {"k0", "kA"}

    # the loser retries through the optimistic-concurrency loop; a
    # third writer commits kC after the loop's read, so the loop's
    # first commit loses too and it must re-read and re-fold
    def third_writer():
        assert upsert([("kC", 4, None, ["wc"])]) == (2, 1)

    assert upsert([("kB", 3, None, ["wb"])], third_writer) == (3, 2)
    assert delta_log_versions(path) == [0, 1, 2, 3]
    final = {r["k"] for r in read_delta_table(spark, path).collect()}
    assert final == {"k0", "kA", "kB", "kC"}  # nothing lost


def test_versioned_blind_writer_retries_next_version(
    spark, tmp_path, monkeypatch
):
    """A blind Delta writer (no expected_version) that loses the
    os.link race transparently re-claims the next number instead of
    failing."""
    import os as _os

    from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
        delta_log_versions,
        read_delta_table,
    )
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
        write_delta_commit,
    )

    path = str(tmp_path / "t")
    df = spark.range(3).select(F.col("id").alias("x"))
    assert write_delta_commit(df, path, mode="overwrite") == 0

    real_link = _os.link
    fails = {"left": 1}

    def flaky_link(src, dst):
        if fails["left"] > 0 and "_delta_log" in dst:
            fails["left"] -= 1
            raise FileExistsError(dst)
        return real_link(src, dst)

    monkeypatch.setattr("os.link", flaky_link)
    assert write_delta_commit(df, path, mode="overwrite") == 1
    assert fails["left"] == 0  # the lost race really happened
    assert delta_log_versions(path) == [0, 1]
    assert read_delta_table(spark, path).count() == 3


def test_diff_query_seeded_fault_produces_readable_diff(spark, sf_dir):
    """VERDICT r3 item 5: mutating one oracle constant must yield an
    inspectable typed row diff (and an unmutated oracle must yield
    None) — the evidence driver_sim persists to SELFCHECK_diffs/."""
    from data_pipeline_for_e_commerce_shop_spark.queries import (
        ORACLES,
        QUERIES,
    )
    from tests.oracle_utils import diff_query

    name = "revenue_gini"
    assert diff_query(spark, QUERIES[name], ORACLES[name], sf_dir) is None

    seeded = ORACLES[name].replace("CAST(2 AS DOUBLE)", "CAST(3 AS DOUBLE)")
    assert seeded != ORACLES[name]
    d = diff_query(spark, QUERIES[name], seeded, sf_dir)
    assert d is not None and d["kind"] == "values"
    assert d["spark_rows"] == d["oracle_rows"] == 1
    assert len(d["first_mismatches"]) == 1
    m = d["first_mismatches"][0]
    assert m["spark"] != m["oracle"]  # both sides shown, typed reprs


def _stage_parquet_file(spark, df, dest: str) -> None:
    """Write df as ONE parquet file at exactly `dest`."""
    import glob
    import shutil
    import tempfile

    tmp = tempfile.mkdtemp()
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    part = glob.glob(f"{tmp}/part-*.parquet")[0]
    shutil.copy(part, dest)
    shutil.rmtree(tmp)


def _write_commit(table: str, version: int, actions: list[dict]) -> None:
    import json as _json
    import os as _os

    log = _os.path.join(table, "_delta_log")
    _os.makedirs(log, exist_ok=True)
    with open(_os.path.join(log, f"{version:020d}.json"), "w") as f:
        for a in actions:
            f.write(_json.dumps(a) + "\n")


def test_delta_log_reader_replays_adds_and_removes(spark, tmp_path):
    """The open-protocol Delta reader must see exactly the log's live
    file set: removed files and uncommitted stragglers in the
    directory are invisible (a raw parquet scan of the same dir reads
    all three — the wrong answer this reader exists to avoid), and
    version pinning time-travels."""
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
        delta_log_versions,
        read_delta_table,
    )

    table = str(tmp_path / "dtable")
    import os as _os

    _os.makedirs(table)
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr("id AS x")
    _stage_parquet_file(spark, mk(0, 3), f"{table}/fileA.parquet")
    _stage_parquet_file(spark, mk(10, 12), f"{table}/fileB.parquet")
    _stage_parquet_file(spark, mk(100, 105), f"{table}/orphan.parquet")

    _write_commit(table, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "t", "format": {"provider": "parquet"}}},
        {"add": {"path": "fileA.parquet", "dataChange": True}},
    ])
    _write_commit(table, 1, [
        {"remove": {"path": "fileA.parquet", "dataChange": True}},
        {"add": {"path": "fileB.parquet", "dataChange": True}},
    ])

    assert delta_log_versions(table) == [0, 1]
    latest = {r["x"] for r in read_delta_table(spark, table).collect()}
    assert latest == {10, 11}  # fileB only
    v0 = {r["x"] for r in read_delta_table(spark, table, 0).collect()}
    assert v0 == {0, 1, 2}  # time travel to fileA
    # raw directory scan reads removed + orphan files — 10 rows
    assert spark.read.parquet(table).count() == 10


def test_delta_log_reader_refuses_lossy_reads(spark, tmp_path):
    """Reader-protocol features this reader does not implement must
    raise on read, never silently misread, and an append to such a
    table must raise before it stages a file or claims a version.
    Checkpointed logs it cannot reconstruct must raise too."""
    import json as _json
    import os as _os
    import uuid as _uuid

    import pytest as _pytest

    from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
        read_delta_table,
    )
    from data_pipeline_for_e_commerce_shop_spark.sources.delta_writer import (
        write_delta_commit,
    )

    def v3(feature):
        return {"protocol": {"minReaderVersion": 3, "minWriterVersion": 7,
                             "readerFeatures": [feature],
                             "writerFeatures": [feature]}}

    v1 = {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}}
    meta = {"metaData": {"id": "t", "format": {"provider": "parquet"},
                         "partitionColumns": [], "configuration": {}}}
    mapped_meta = {"metaData": {
        "id": "t", "format": {"provider": "parquet"},
        "partitionColumns": [],
        "configuration": {"delta.columnMapping.mode": "name"}}}
    add = {"add": {"path": "f.parquet", "partitionValues": {},
                   "dataChange": True}}
    # the descriptor shape of PROTOCOL.md's deletion-vector example
    dv_add = {"add": dict(add["add"], deletionVector={
        "storageType": "u", "pathOrInlineDv": "ab^-aqEH.-t@S}K{vb[*k^",
        "offset": 4, "sizeInBytes": 40, "cardinality": 6})}
    cases = {
        "column_mapped_v2": [
            {"protocol": {"minReaderVersion": 2, "minWriterVersion": 5}},
            mapped_meta, add,
        ],
        "deletion_vectors_v3": [v3("deletionVectors"), meta, dv_add],
        "v2_checkpoint_v3": [v3("v2Checkpoint"), meta, add],
        "dv_descriptor_on_v1": [v1, meta, dv_add],
        "reader_v4": [
            {"protocol": {"minReaderVersion": 4, "minWriterVersion": 7,
                          "readerFeatures": ["columnMapping"]}},
            add,
        ],
    }
    for name, actions in cases.items():
        table = str(tmp_path / name)
        _os.makedirs(table)
        _stage_parquet_file(
            spark, spark.range(3).selectExpr("id AS x"), f"{table}/f.parquet"
        )
        _write_commit(table, 0, actions)
        if name == "v2_checkpoint_v3":
            # the UUID-named V2 checkpoint is all that is left of the log
            log = f"{table}/_delta_log"
            with open(f"{log}/{0:020d}.checkpoint.{_uuid.uuid4()}.json",
                      "w") as f:
                f.write(_json.dumps({"checkpointMetadata": {"version": 0}})
                        + "\n")
                for a in actions:
                    f.write(_json.dumps(a) + "\n")
            _os.unlink(f"{log}/{0:020d}.json")

        def listing():
            return sorted(_os.listdir(table)), sorted(
                _os.listdir(f"{table}/_delta_log")
            )

        before = listing()
        with _pytest.raises(NotImplementedError):
            read_delta_table(spark, table)
        with _pytest.raises(NotImplementedError):
            write_delta_commit(spark.range(2).selectExpr("id AS x"), table)
        assert listing() == before, name  # nothing staged, no version

    # Since r5 checkpoints are READ, a _last_checkpoint HINT with no
    # actual checkpoint file and a contiguous JSON log must not block
    # the read (PROTOCOL.md: the hint is advisory; the listing is
    # authoritative) ...
    table2 = str(tmp_path / "dt3")
    _os.makedirs(table2)
    _stage_parquet_file(
        spark, spark.range(3).selectExpr("id AS x"), f"{table2}/f.parquet"
    )
    _write_commit(table2, 0, [
        {"add": {"path": "f.parquet", "dataChange": True}},
    ])
    with open(f"{table2}/_delta_log/_last_checkpoint", "w") as f:
        f.write('{"version": 0, "size": 1}')
    assert read_delta_table(spark, table2).count() == 3
    # ... while VACUUMED JSON with no checkpoint to seed from still
    # refuses rather than resolving a wrong file set.
    _write_commit(table2, 1, [
        {"add": {"path": "f.parquet", "dataChange": True}},
    ])
    _os.unlink(f"{table2}/_delta_log/{0:020d}.json")
    with _pytest.raises(NotImplementedError, match="vacuumed|missing"):
        read_delta_table(spark, table2)


def test_delta_log_reader_partitioned_table(spark, tmp_path):
    """Partitioned Delta tables keep their partition columns: the
    values live in directory paths (add.partitionValues), so the
    reader must basePath-scan — a plain multi-path read silently drops
    the column."""
    import os as _os

    from data_pipeline_for_e_commerce_shop_spark.sources.delta_reader import (
        read_delta_table,
    )

    table = str(tmp_path / "dpt")
    _os.makedirs(f"{table}/ds=2024-01-01")
    _os.makedirs(f"{table}/ds=2024-01-02")
    mk = lambda lo, hi: spark.range(lo, hi).selectExpr("id AS x")
    _stage_parquet_file(spark, mk(0, 2), f"{table}/ds=2024-01-01/f1.parquet")
    _stage_parquet_file(spark, mk(5, 8), f"{table}/ds=2024-01-02/f2.parquet")
    _write_commit(table, 0, [
        {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
        {"metaData": {"id": "t", "partitionColumns": ["ds"]}},
        {"add": {"path": "ds=2024-01-01/f1.parquet", "dataChange": True,
                 "partitionValues": {"ds": "2024-01-01"}}},
        {"add": {"path": "ds=2024-01-02/f2.parquet", "dataChange": True,
                 "partitionValues": {"ds": "2024-01-02"}}},
    ])
    _write_commit(table, 1, [
        {"remove": {"path": "ds=2024-01-01/f1.parquet",
                    "dataChange": True}},
    ])
    df = read_delta_table(spark, table)
    assert set(df.columns) == {"x", "ds"}  # partition column present
    rows = {(r["x"], str(r["ds"])) for r in df.collect()}
    assert rows == {(5, "2024-01-02"), (6, "2024-01-02"),
                    (7, "2024-01-02")}
    both = read_delta_table(spark, table, 0)
    assert both.count() == 5
    assert both.select("ds").distinct().count() == 2


def test_basket_lift_staged_multiplier_past_old_bound(spark):
    """VERDICT r3 item 6: the staged lift expression must stay exact
    10x past the old direct-product ceiling (n_ab*n_baskets <= 9.2e12)
    where the unstaged form overflows int64 loudly (ANSI)."""
    import pytest as _pytest

    # 10x past the old bound: n_ab * n_baskets = 1e19 > int64 max
    row = (
        "SELECT CAST(1000000 AS BIGINT) AS n_ab,"
        " CAST(2000000 AS BIGINT) AS n_ante,"
        " CAST(500000 AS BIGINT) AS n_cons,"
        " CAST(10000000000000 AS BIGINT) AS n_baskets"
    )
    staged = spark.sql(
        f"SELECT (n_ab * 1000000 div n_ante) * n_baskets div n_cons"
        f" AS lift FROM ({row})"
    ).first()["lift"]
    # exact reference in unbounded Python ints (same staged floors)
    exp = (1000000 * 1000000 // 2000000) * 10000000000000 // 500000
    assert staged == exp
    # the OLD direct product overflows loudly, never silently
    with _pytest.raises(Exception, match="(?i)overflow"):
        spark.sql(
            f"SELECT n_ab * n_baskets * 1000000"
            f" div (n_ante * n_cons) AS lift FROM ({row})"
        ).first()


def test_policy_snips_ess_guard_raises_past_bound(spark):
    """ADVICE r3: the ESS ppm expression must raise loudly (its own
    raise_error, independent of ANSI) once Sum(w)/8 exceeds the
    int64-exact bound, and stay exact just below it."""
    import pytest as _pytest

    guard = (
        "CASE WHEN (den div 8) > 3000000L"
        " THEN raise_error('policy_snips ess_ppm: overflow bound')"
        " ELSE (den div 8) * (den div 8) * 1000000"
        " div (n * (sww div 64)) END"
    )
    ok = spark.sql(
        f"SELECT {guard} AS ess FROM (SELECT CAST(24000000 AS BIGINT)"
        " AS den, CAST(1000 AS BIGINT) AS n,"
        " CAST(576000000 AS BIGINT) AS sww)"
    ).first()["ess"]
    assert ok == (24000000 // 8) ** 2 * 1000000 // (1000 * (576000000 // 64))
    with _pytest.raises(Exception, match="overflow bound"):
        spark.sql(
            f"SELECT {guard} AS ess FROM (SELECT"
            " CAST(24000008 AS BIGINT) * 1001 AS den,"
            " CAST(1000 AS BIGINT) AS n,"
            " CAST(576000000 AS BIGINT) AS sww)"
        ).first()


def test_knuth_order_huge_ids_no_overflow(spark):
    """knuth_order's split multiply must (a) equal the direct
    (id * 2654435761) mod 2^32 reference for any id, (b) not overflow
    int64 for ids past ~3.46e9 — the 10x scale-rehearsal regression
    (BASELINE.md round 4: ann_ivf_topk failed with
    SparkArithmeticException on offset vec_ids)."""
    from data_pipeline_for_e_commerce_shop_spark.operators.similarity import (
        knuth_order,
    )

    ids = [0, 1, 4999, 3_461_211_600, 2**32 - 1, 2**32,
           9_000_000_004_999, 2**62]
    df = spark.createDataFrame([(i,) for i in ids], "vec_id long")
    got = {
        r["vec_id"]: r["_h"]
        for r in knuth_order(df).select("vec_id", "_h").collect()
    }
    for i in ids:
        assert got[i] == (i * 2654435761) % 4294967296, i
