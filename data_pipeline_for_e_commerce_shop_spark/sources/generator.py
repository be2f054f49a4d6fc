"""Custom Python DataSource (Spark 4 ``pyspark.sql.datasource`` API):
a deterministic partitioned synthetic-row generator — the dbgen/dsdgen
shape, "scan 100 TB without storing 100 TB".

Why it belongs in the engine: benchmark and soak data should be a
SOURCE, not a staged copy; a generator source parallelizes like any
scan (each input partition generates its own id range on its executor,
zero data movement) and its rows are a pure function of row_id, so any
slice is reproducible anywhere — including inside DuckDB, which makes
a generator-backed query value-hash checkable like every other query
here (both engines derive columns from md5(row_id)).

The reference stages fixture CSVs by hand (data/*.csv committed to the
repo); this is that fixture surface as an executable contract.
"""

from __future__ import annotations

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)

GEN_ROWS = 10_000  # default row count
GEN_PARTITIONS = 8  # default parallelism
GEN_CATEGORIES = 8
GEN_CENTS_MOD = 100_000


def _gen_row(i: int) -> tuple:
    """THE row formula — one definition shared by the batch reader,
    the stream reader, and its replay path, so the three can never
    drift from each other or from the interpolated DuckDB oracles."""
    import hashlib

    h = hashlib.md5(f"gen-{i}".encode()).hexdigest()
    return (
        i,
        f"cat{int(h[:8], 16) % GEN_CATEGORIES}",
        int(h[8:16], 16) % GEN_CENTS_MOD,
    )


class _RangePartition(InputPartition):
    def __init__(self, lo: int, hi: int):
        self.lo = lo
        self.hi = hi


class SyntheticGenReader(DataSourceReader):
    def __init__(self, options: dict):
        self.n = int(options.get("n", GEN_ROWS))
        self.parts = int(options.get("partitions", GEN_PARTITIONS))
        self.lo = 0  # [lo, hi) after filter pushdown
        self.hi = self.n

    def pushFilters(self, filters):  # noqa: D102 — API contract
        """Absorb row_id range predicates by narrowing the generation
        range — pushdown that PREVENTS work instead of discarding
        rows (the generator analogue of parquet row-group pruning).
        Non-range / non-row_id filters are returned for Spark to
        evaluate post-scan."""
        for f in filters:
            attr = getattr(f, "attribute", None)
            if attr == ("row_id",):
                if isinstance(f, LessThan):
                    self.hi = min(self.hi, int(f.value))
                    continue
                if isinstance(f, LessThanOrEqual):
                    self.hi = min(self.hi, int(f.value) + 1)
                    continue
                if isinstance(f, GreaterThan):
                    self.lo = max(self.lo, int(f.value) + 1)
                    continue
                if isinstance(f, GreaterThanOrEqual):
                    self.lo = max(self.lo, int(f.value))
                    continue
                if isinstance(f, EqualTo):
                    self.lo = max(self.lo, int(f.value))
                    self.hi = min(self.hi, int(f.value) + 1)
                    continue
            yield f  # unsupported -> Spark re-checks it post-scan

    def partitions(self):  # noqa: D102 — API contract
        span = max(0, self.hi - self.lo)
        if span == 0:
            return [_RangePartition(0, 0)]
        parts = min(self.parts, span)
        step = -(-span // parts)  # ceil division
        return [
            _RangePartition(lo, min(lo + step, self.hi))
            for lo in range(self.lo, self.hi, step)
        ]

    def read(self, partition: _RangePartition):  # noqa: D102
        for i in range(partition.lo, partition.hi):
            yield _gen_row(i)


class SyntheticGenSource(DataSource):
    """``spark.read.format("syntheticgen").option("n", ...).load()``."""

    @classmethod
    def name(cls) -> str:
        return "syntheticgen"

    def schema(self) -> str:
        return "row_id bigint, category string, value_cents bigint"

    def reader(self, schema) -> SyntheticGenReader:
        return SyntheticGenReader(self.options)


def register_generator(spark) -> None:
    """Idempotently register the source on the session.

    Python-source filter pushdown is opt-in
    (spark.sql.python.filterPushdown.enabled, default false); a reader
    that implements pushFilters() FAILS under the default, so the
    registration that ships the reader also flips the switch."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    spark.dataSource.register(SyntheticGenSource)


# ---------------------------------------------------------------------
# Custom Python STREAMING DataSource: a deterministic offset-tracked
# event stream.  Each micro-batch generates the next STREAM_BATCH ids
# from the same md5 row formula as the batch generator; the offset
# ({"i": next_id}) lives in the streaming checkpoint, so a restarted
# query resumes exactly where it stopped — exactly-once for a CUSTOM
# source, demonstrated without any broker infrastructure.  (The
# simple-reader API needs no protobuf state server, unlike
# transformWithState — verified in this container.)

from pyspark.sql.datasource import SimpleDataSourceStreamReader

STREAM_BATCH = 200  # rows per micro-batch


class TickStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, options: dict):
        self.batch = int(options.get("batch", STREAM_BATCH))

    def initialOffset(self):  # noqa: D102 — API contract
        return {"i": 0}

    def read(self, start):  # noqa: D102
        i = start["i"]
        rows = [_gen_row(j) for j in range(i, i + self.batch)]
        return iter(rows), {"i": i + self.batch}

    def readBetweenOffsets(self, start, end):  # noqa: D102 — replay
        for j in range(start["i"], end["i"]):
            yield _gen_row(j)


class TickStreamSource(DataSource):
    """``spark.readStream.format("tickstream").load()``."""

    @classmethod
    def name(cls) -> str:
        return "tickstream"

    def schema(self) -> str:
        return "row_id bigint, category string, value_cents bigint"

    def simpleStreamReader(self, schema) -> TickStreamReader:
        return TickStreamReader(self.options)


def register_tick_stream(spark) -> None:
    """Idempotently register the streaming source on the session."""
    spark.dataSource.register(TickStreamSource)


STREAM_DRAINS = 3  # availableNow runs per query call -> 600 rows


def stream_generator_kpis(spark, sf_dir: str):
    """Drain the custom streaming source STREAM_DRAINS times through
    ONE checkpoint (each drain resumes from the persisted offset —
    the restart-resume exactly-once contract), then aggregate the
    union per category.  Deterministic rows make even this
    stream-of-restarts value-hash checkable against generate_series.
    sf_dir is unused: the source is the data."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    register_tick_stream(spark)
    work = tempfile.mkdtemp(prefix="tickstream_")
    out = f"{work}/out"
    try:
        for _ in range(STREAM_DRAINS):
            q = (
                spark.readStream.format("tickstream")
                .option("batch", STREAM_BATCH)
                .load()
                .writeStream.format("parquet")
                .option("path", out)
                .option("checkpointLocation", f"{work}/ckpt")
                .trigger(availableNow=True)
                .start()
            )
            q.awaitTermination()
        got = (
            spark.read.parquet(out)
            .groupBy("category")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum("value_cents").alias("total_cents"),
                F.min("row_id").alias("first_row"),
                F.max("row_id").alias("last_row"),
            )
            .orderBy("category")
        )
        return got.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)
