#!/usr/bin/env python3
"""Benchmark harness: one workload, one seed, one process.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Closed loop, one client, ``SPARK_GRAFT_CPUS`` = the CPUs this process may
use.  The run generates its inputs from ``--seed`` under a private work
directory inside ``perfbench/``, starts a Spark session, runs the
workload's untimed warm-up passes (the first is the cold pass), then
timed warm passes until ``--seconds`` have passed (at least one),
checks every output, stops every process it started and prints one JSON
line last: ``{"correct", "attempted", "failed", "metrics"}``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones, measured by wrapping the program's public
functions (timed passes alternate untraced and traced; the difference
of their medians is reported as the tracing overhead).  The spans and
counters of a traced run are written to ``perfbench/.out/``.

An op is one registry call ``QUERIES[name](spark, sf_dir)`` materialised
through the ``noop`` sink (``query_mix``), or one batch from
``claim_next`` to ``finish`` (``medallion_ingest``).  A ``query_mix``
pass runs every op once, in a fixed order; a ``medallion_ingest`` pass
ingests the batch into fresh zones whose KPI tables hold the generated
history.  The seed drives the data, which ``prepare.py`` generates in a
child process.

Every reported time (set-up, ops, passes) is wall time with the
hypervisor's steal taken out (:class:`measure.Clock`); the pass time as
measured is printed on a ``#`` line.
"""

from __future__ import annotations

import argparse
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "data_pipeline_for_e_commerce_shop_spark"
sys.path.insert(0, HERE)

import datagen  # noqa: E402
import measure  # noqa: E402

SCALE = 0.01          # data scale factor of both workloads
DRIVER_MEM = "2g"     # SPARK_GRAFT_DRIVER_MEM for the run

# Star joins and aggregations, LLM-corpus dedup/text operators and a
# Structured Streaming drain: each family drives the query and engine
# layers differently (shuffles; Arrow/pandas and py4j plan building;
# state stores and the write-ahead log).  The order is fixed: the op
# that runs first in a fresh session pays most of the JIT warm-up, and
# a seeded order made the cold pass vary by a quarter across seeds.
QUERY_MIX = [
    "tpch_q3_unshipped_topk",
    "category_kpis",
    "dedup_minhash_lsh",
    "text_lang_id",
    "events_stream_sessionize",
]

# The cold pass (first pass in a fresh session) is logged, not reported:
# one sample per run, its spread across seeds reached 0.29, above the
# largest bound a metric may have.
END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "peak_rss_mb": "MB",
}


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench {time.perf_counter() - T0:6.1f} s: {msg}", file=sys.stderr, flush=True)


# ------------------------------------------------------------ session


def prepare_env(work: str) -> None:
    """Point every scratch location of Spark and Python into ``work``
    and make the package importable by the driver and its workers."""
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    for d in ("local", "tmp", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    # every JVM (the spark-submit launcher too): no /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    tempfile.tempdir = None
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + old if old else "")
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str):
    """``get_spark`` plus the first completed job; returns (spark,
    seconds in get_spark, seconds of the first job), both with steal
    taken out."""
    from data_pipeline_for_e_commerce_shop_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    clock = measure.Clock()
    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={tmp}",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    wall1, start = clock.read()
    clock = measure.Clock()
    spark.range(1).collect()
    wall2, first_job = clock.read()
    log(f"set-up {start + first_job:.2f} s, {wall1 + wall2:.2f} s wall")
    return spark, start, first_job


def stop_session(spark) -> None:
    """Stop Spark, shut the JVM down and wait for every child process."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        rest = measure.process_tree()[1:]
        if not rest:
            return
        time.sleep(0.2)
    for pid in measure.process_tree()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def isolate(spark) -> None:
    """Between ops, outside every timed region: drop cached tables and
    persisted RDDs, stop idle Python workers, run a JVM GC (which also
    lets the ContextCleaner delete dead shuffle files)."""
    spark.catalog.clearCache()
    sc = spark.sparkContext
    for jrdd in sc._jsc.getPersistentRDDs().values():
        jrdd.unpersist(False)
    try:  # no public API lists idle workers; degrade to a warning
        gw, jvm = sc._gateway, sc._jvm
        no_cls = gw.new_array(jvm.java.lang.Class, 0)
        no_arg = gw.new_array(jvm.java.lang.Object, 0)
        env = jvm.org.apache.spark.SparkEnv.get()
        m = env.getClass().getDeclaredMethod("pythonWorkers", no_cls)
        m.setAccessible(True)
        factories = m.invoke(env, no_arg).valuesIterator()
        while factories.hasNext():
            fac = factories.next()
            qm = fac.getClass().getDeclaredMethod("idleWorkers", no_cls)
            qm.setAccessible(True)
            idle = qm.invoke(fac, no_arg)
            while not idle.isEmpty():
                fac.stopWorker(idle.dequeue())
    except Exception as exc:  # py4j reflection into Spark internals
        log(f"worker reap skipped: {exc}")
    sc._jvm.System.gc()


# ----------------------------------------------------------- workloads


class Pass:
    """Op and pass times, with steal taken out (``ops``, ``wall``) and
    as measured (``raw_ops``, ``raw_wall``)."""

    def __init__(self):
        self.ops: list[float] = []
        self.raw_ops: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.wall = self.raw_wall = 0.0

    def add_op(self, clock: measure.Clock) -> None:
        wall, unstolen = clock.read()
        self.ops.append(unstolen)
        self.raw_ops.append(wall)

    def describe(self) -> str:
        return (f"{self.wall:.2f} s ({self.raw_wall:.2f} s wall), "
                f"ops {[round(x, 2) for x in self.ops]}")


class QueryMix:
    """Registry ops over the generated analytics tables."""

    # The cold pass collects every op's rows for the check.  At least
    # three timed passes (a pass takes 6-8 s, so --seconds 10 makes
    # three): the JIT is still compiling, the first timed pass is 10-20%
    # slower than the next, and the median of three passes is the
    # steadier one.  A second untimed pass would cost as much run time.
    WARMUP = 1
    MIN_TIMED = 3

    def __init__(self, spark, data: str, seed: int, tracer, peak):
        from data_pipeline_for_e_commerce_shop_spark.queries import QUERIES

        self.spark, self.data, self.tracer, self.peak = spark, data, tracer, peak
        self.fns = {n: QUERIES[n] for n in QUERY_MIX}
        self.rows_dir = os.path.join(data, "collected")
        os.makedirs(self.rows_dir)

    @staticmethod
    def prepare_args() -> list[str]:
        return ["--oracles", ",".join(QUERY_MIX)]

    def run_pass(self, verify: bool = False) -> Pass:
        p = Pass()
        tr = self.tracer
        for name in QUERY_MIX:
            p.attempted += 1
            tr.op_id = name
            try:
                with tr.span(f"op.{name}"):
                    clock = measure.Clock()
                    with tr.span("queries.build"), tr.counted("queries"):
                        df = self.fns[name](self.spark, self.data)
                    with tr.span("engine.exec"), tr.counted("engine"):
                        if verify:  # the checking (untimed) pass collects instead
                            rows = [tuple(r) for r in df.collect()]
                        else:
                            df.write.format("noop").mode("overwrite").save()
                    p.add_op(clock)
                if verify:  # compared in check(), after the last memory sample
                    with open(os.path.join(self.rows_dir, f"{name}.pkl"), "wb") as f:
                        pickle.dump((df.columns, rows), f)
                    del rows
            except Exception:
                log(f"{name} failed:\n{traceback.format_exc()}")
                p.failed += 1
            self.peak.sample()
            isolate(self.spark)
        p.wall, p.raw_wall = sum(p.ops), sum(p.raw_ops)
        return p

    def check(self) -> int:
        import oracle

        with open(os.path.join(self.data, "expected.json")) as f:
            expected = json.load(f)
        bad = 0
        for name in QUERY_MIX:
            path = os.path.join(self.rows_dir, f"{name}.pkl")
            if not os.path.exists(path):
                continue  # the op raised; already counted
            with open(path, "rb") as f:
                cols, rows = pickle.load(f)
            if oracle.digest(cols, rows) != expected[name]:
                log(f"{name}: output differs from its oracle")
                bad += 1
        return bad


class MedallionIngest:
    """The raw CSV batch through debounce -> batch-state table -> drain,
    processed by ``MedallionPipeline.run_batch``.

    Every pass starts from the same state: an empty batch-state table,
    empty validated and rejected zones, and serving KPI tables that
    already hold the generated history, so every batch, the warm-up one
    too, runs the KPI merge into existing tables, and the passes do the
    same work.  The zones of the last pass are checked.
    """

    # Passes after the cold one are flat.  One timed batch: a second
    # would not fit the run-time budget.
    WARMUP = 1
    MIN_TIMED = 1

    def __init__(self, spark, data: str, seed: int, tracer, peak):
        self.spark, self.tracer, self.peak = spark, tracer, peak
        self.raw = os.path.join(data, "raw")
        self.root = os.path.join(data, "ingest")
        self.passes = 0
        self.zones = ""

    @staticmethod
    def prepare_args() -> list[str]:
        return ["--ingest"]

    def run_pass(self, verify: bool = False) -> Pass:
        from data_pipeline_for_e_commerce_shop_spark.pipeline import MedallionPipeline
        from data_pipeline_for_e_commerce_shop_spark.streaming.debounce import (
            debounce_batches,
        )
        from data_pipeline_for_e_commerce_shop_spark.streaming.runner import (
            BatchStateTable,
            run_until_drained,
        )

        base = os.path.join(self.root, f"pass{self.passes:03d}")
        self.passes += 1
        self.zones = os.path.join(base, "zones")
        shutil.copytree(os.path.join(self.raw, "kpis"), os.path.join(self.zones, "kpis"))
        pipe = MedallionPipeline(self.spark, self.zones)
        table = BatchStateTable(self.spark, os.path.join(base, "state"))
        tr, p = self.tracer, Pass()
        claimed: list[measure.Clock] = []
        claim, finish = table.claim_next, table.finish

        def timed_claim():
            clock = measure.Clock()
            row = claim()
            if row is not None:
                claimed.append(clock)
                tr.op_id = row["batch_id"]
                p.attempted += 1
                if tr.enabled and row["attempts"] > 1:
                    tr.counts["runner.retries"] += 1
            return row

        def timed_finish(batch_id, status, error=None):
            finish(batch_id, status, error)
            p.add_op(claimed[-1])
            if status != "done":
                log(f"batch {batch_id} {status}: {error}")
                p.failed += 1
            self.peak.sample()

        def process(row):
            paths: dict[str, list[str]] = {}
            for path in row["file_paths"]:
                paths.setdefault(os.path.basename(path)[:-4], []).append(path)
            pipe.run_batch(paths)

        table.claim_next, table.finish = timed_claim, timed_finish
        before = parquet_files(base)
        clock = measure.Clock()
        with tr.span("runner.pass"):
            with tr.span("debounce.build"):
                events = self.spark.createDataFrame(
                    datagen.arrival_events(self.raw),
                    "event_ts timestamp, group_key string, file_path string",
                )
                batches = debounce_batches(events, watermark=None)
            table.enqueue(batches)
            with tr.span("runner.drain"):
                stats = run_until_drained(table, process)
        p.raw_wall, p.wall = clock.read()
        if tr.enabled:
            tr.flush_deferred()
            tr.counts["debounce.batches"] += stats["done"] + stats["failed"]
            new = parquet_files(base) - before
            rejected = os.path.join(self.zones, "rejected") + os.sep
            tr.counts["quality.rows_quarantined"] += sum(
                parquet_rows(f) for f in new if f.startswith(rejected))
            tr.counts["sinks.files_written"] += len(new)
            tr.counts["sinks.mb_written"] += sum(map(os.path.getsize, new)) / 2.0**20
        if stats["done"] != 1:
            log(f"drain ended with {stats}")
            p.attempted, p.failed = max(1, p.attempted), max(1, p.failed)
        isolate(self.spark)
        return p

    def check(self) -> int:
        import oracle

        bad = oracle.check_ingest(
            self.zones, datagen.batch_files(self.raw), os.path.join(self.raw, "kpis"))
        for name in bad:
            log(f"kpis/{name} differs from the DuckDB replay")
        return len(bad)


WORKLOADS = {"query_mix": QueryMix, "medallion_ingest": MedallionIngest}


class Peak:
    """Running maximum of the process tree's summed VmHWM."""

    def __init__(self):
        self.mb = 0.0

    def sample(self) -> None:
        self.mb = max(self.mb, measure.tree_hwm_mb())


# ------------------------------------------------------------- tracing


def install_tracing(tracer, spark, kind: str, listener) -> None:
    from data_pipeline_for_e_commerce_shop_spark import pipeline as pl
    from data_pipeline_for_e_commerce_shop_spark.streaming import runner, windowed

    for s in (spark, windowed.drain_session(spark)):
        s.streams.addListener(listener)
    if kind != "medallion_ingest":
        return
    counts = tracer.counts

    def merged(result, args, kwargs):
        # counted after the pass, outside every span: the source frame
        # re-runs the KPI aggregate; the table is not touched again
        # within the batch
        def count():
            counts["merge.source_rows"] += args[2].count()
            counts["merge.rows_rewritten"] += parquet_rows(args[1])
        tracer.defer(count)

    M = pl.MedallionPipeline
    for owner, attr, name, after in [
        (M, "run_batch", "pipeline.batch", None),
        (M, "validate_and_load", "pipeline.validate", None),
        (M, "enforce_referential_integrity", "pipeline.ri", None),
        (M, "write_validated", "pipeline.write_validated", None),
        (M, "upsert_kpis", "pipeline.upsert_kpis", None),
        (pl, "null_violation_counts", "quality.null_counts", None),
        (pl, "ri_violations", "quality.ri_violations", None),
        (pl, "write_partitioned", "sinks.write_partitioned", None),
        (pl, "write_quarantine", "sinks.write_quarantine", None),
        (pl, "upsert_parquet_table", "merge.upsert", merged),
        (runner.BatchStateTable, "enqueue", "runner.enqueue", None),
        (runner.BatchStateTable, "claim_next", "runner.claim", None),
        (runner.BatchStateTable, "finish", "runner.finish", None),
    ]:
        tracer.patch(owner, attr, name, after)


def layer_metrics(traced, names, self_time, counts, stream) -> dict:
    """Per-layer metrics, each the mean per traced warm pass."""
    n = max(1, len(traced))

    def t(name):
        return names.get(name, 0.0) / n

    def c(name):
        return counts.get(name, 0.0) / n

    m = {}
    build, exe = t("queries.build"), t("engine.exec")
    m["queries.build_s"] = build
    m["queries.build_jobs"] = c("queries.jobs")
    m["queries.build_share"] = build / (build + exe) if build + exe else 0.0
    m["engine.exec_s"] = exe
    for k in ("jobs", "stages", "tasks", "task_busy_s", "gc_s", "input_mb",
              "shuffle_read_mb", "shuffle_write_mb", "failed_tasks"):
        m[f"engine.{k}"] = c(f"engine.{k}")
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    m["engine.core_util"] = m["engine.task_busy_s"] / (exe * cores) if exe else 0.0
    for name in QUERY_MIX:
        m[f"op.{name}.s"] = t(f"op.{name}")
    for k in ("batch", "validate", "ri", "write_validated", "upsert_kpis"):
        m[f"pipeline.{k}_s"] = t(f"pipeline.{k}")
    m["quality.null_counts_s"] = t("quality.null_counts")
    m["quality.ri_violations_s"] = t("quality.ri_violations")
    m["quality.rows_quarantined"] = c("quality.rows_quarantined")
    m["sinks.write_partitioned_s"] = t("sinks.write_partitioned")
    m["sinks.write_quarantine_s"] = t("sinks.write_quarantine")
    m["sinks.files_written"] = c("sinks.files_written")
    m["sinks.mb_written"] = c("sinks.mb_written")
    m["merge.upsert_s"] = t("merge.upsert")
    m["merge.rows_rewritten"] = c("merge.rows_rewritten")
    src = counts.get("merge.source_rows", 0.0)
    m["merge.rewrite_ratio"] = counts.get("merge.rows_rewritten", 0.0) / src if src else 0.0
    control = t("runner.enqueue") + t("runner.claim") + t("runner.finish")
    m["runner.enqueue_s"] = t("runner.enqueue")
    m["runner.claim_s"] = t("runner.claim")
    m["runner.finish_s"] = t("runner.finish")
    m["runner.control_share"] = control / t("runner.pass") if t("runner.pass") else 0.0
    m["runner.retries"] = c("runner.retries")
    m["debounce.batches"] = c("debounce.batches")
    for k in ("micro_batches", "input_rows", "trigger_s", "add_batch_s",
              "wal_commit_s", "planning_s", "state_rows", "state_mb"):
        m[f"streaming.{k}"] = stream.get(k, 0.0) / n
    for layer in ("queries", "engine", "pipeline", "quality", "sinks", "merge", "runner"):
        m[f"self.{layer}_s"] = self_time.get(layer, 0.0) / n
    return m


def parquet_rows(path: str) -> int:
    """Rows of a parquet file, or of every one under a directory, from
    the footers."""
    import pyarrow.dataset as ds

    if not os.path.exists(path):
        return 0
    return ds.dataset(path, format="parquet", partitioning="hive").count_rows()


def parquet_files(root: str) -> set[str]:
    """Paths of the parquet files under ``root``.  Spark names every
    file it writes uniquely, so the files a batch wrote are the paths
    that were not there before it."""
    return {
        os.path.join(d, f)
        for d, _, names in os.walk(root)
        for f in names if f.endswith(".parquet")
    }


# ---------------------------------------------------------------- main


def run(args, work: str) -> dict:
    prepare_env(work)
    stamp = measure.MachineStamp(len(os.sched_getaffinity(0)))
    kind = WORKLOADS[args.workload]
    data = os.path.join(work, "data")
    subprocess.run(
        [sys.executable, os.path.join(HERE, "prepare.py"), "--out", data,
         "--seed", str(args.seed), "--sf", str(args.sf or SCALE), *kind.prepare_args()],
        check=True, stdout=sys.stderr,
    )

    from spans import ProgressListener, Tracer

    spark, start_s, first_job_s = start_session(work)
    tracer = Tracer(spark if args.trace else None)
    try:
        peak = Peak()
        workload = kind(spark, data, args.seed, tracer, peak)
        listener = ProgressListener()
        if args.trace:
            install_tracing(tracer, spark, args.workload, listener)

        attempted = failed = 0
        warmup = []
        for i in range(workload.WARMUP):
            p = workload.run_pass(verify=i == workload.WARMUP - 1)
            log(f"warm-up pass {p.describe()}")
            attempted += p.attempted
            failed += p.failed
            warmup.append(p)
        listener.drain()
        warm, traced, untraced = [], [], []
        stream_tot: dict[str, float] = {}
        span_names: dict[str, float] = {}
        self_time: dict[str, float] = {}
        # A traced run alternates untraced and traced timed passes.
        min_timed = max(2 if args.trace else 1, workload.MIN_TIMED)
        deadline = time.perf_counter() + args.seconds
        while len(warm) < min_timed or time.perf_counter() < deadline:
            trace_this = bool(args.trace) and len(warm) % 2 == 1
            tracer.enabled = trace_this
            mark = tracer.mark()
            p = workload.run_pass()
            tracer.enabled = False
            warm.append(p)
            log(f"warm pass {p.describe()}")
            attempted += p.attempted
            failed += p.failed
            if not args.trace:
                continue
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            progress = listener.drain()
            if not trace_this:
                untraced.append(p)
                continue
            traced.append(p)
            names, selft = tracer.totals(mark)
            for d, src in ((stream_tot, progress), (span_names, names), (self_time, selft)):
                for k, v in src.items():
                    d[k] = d.get(k, 0.0) + v
        peak.sample()  # before the check, which is the benchmark's own work
        failed += workload.check()
    finally:
        tracer.close()
        stop_session(spark)
    machine = stamp.finish()

    ops = [x for p in warm for x in p.ops]
    if not ops:
        raise RuntimeError("no op completed")
    tail, pct, n = measure.tail(ops)
    raw_pass = statistics.median([p.raw_wall for p in warm])
    print(f"# op_tail_s is p{pct:.1f} of {n} warm op samples; {len(warm)} warm "
          f"passes; cold pass {warmup[0].wall:.3f} s; pass_s with steal "
          f"{raw_pass:.3f} s; failed {failed} of {attempted} ops", flush=True)
    print(f"# machine {json.dumps(machine)}", flush=True)

    if not args.trace:
        values = {
            "setup_s": start_s + first_job_s,
            "pass_s": statistics.median([p.wall for p in warm]),
            "op_p50_s": statistics.median(ops),
            "op_tail_s": tail,
            "peak_rss_mb": peak.mb,
        }
        metrics = {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}
    else:
        metrics_v = layer_metrics(traced, span_names, self_time, tracer.counts, stream_tot)
        metrics_v["session.start_s"] = start_s
        metrics_v["session.first_job_s"] = first_job_s
        metrics_v["trace.overhead_s"] = (statistics.median([p.wall for p in traced])
                                         - statistics.median([p.wall for p in untraced]))
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in sorted(metrics_v.items())}
        out_dir = os.path.join(HERE, ".out")
        os.makedirs(out_dir, exist_ok=True)
        tracer.dump(
            os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json"),
            {"counts": dict(tracer.counts), "metrics": metrics_v, "machine": machine},
        )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": metrics,
    }


def unit_of(name: str) -> str:
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith(("_mb", ".mb_written")):
        return "MB"
    if name.endswith(("_share", "_ratio", "_util")):
        return "1"
    return "count"


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--sf", type=float, default=None,
                   help=f"data scale factor (default {SCALE}); smoke tests use less")
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "session.py")):
        log(f"{PACKAGE} not found next to {HERE}; run from a full checkout")
        return 2
    os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-",
                            dir=os.path.join(HERE, ".work"))
    try:
        result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
