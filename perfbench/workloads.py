"""The benchmark workloads.

The batch workload is a closed loop with one sequential client: it
builds each query through the engine's ``queries()`` registry and issues
the next one only when the previous query's checksum row has returned.
The stream workload drains a pre-written backlog through
``streaming_ctr_windows``.  Every workload runs as *passes* over a fixed
unit of work; ``pass_cpu_s`` is the CPU cost of one pass.

A workload object owns its inputs and its correctness state and knows
three steps: ``warm`` (the first pass, part of set-up), ``verify`` (the
correctness check against an independent reference, outside every
timing) and ``run_pass``.  A traced pass also fills a ``PassTrace``, and
``layer_metrics`` turns it into the per-layer figures by one rule for
every workload: a layer the workload bypasses reads 0 because nothing
was counted there, not because a default was filled in.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
import time
from dataclasses import dataclass, field

import duckdb
import pandas as pd
from pyspark.sql import functions as F

# The engine is imported up front: a checkout without it fails here, and
# the tracer indexes the functions of every module loaded at this point.
import __spark_entry__
from flink_ad_analytics_spark.fixtures import VIRTUAL_START_MS, generate
from flink_ad_analytics_spark.operators.ctr import ctr_windows
from flink_ad_analytics_spark.streaming.jobs import streaming_ctr_windows
from flink_ad_analytics_spark.streaming.sources import file_event_stream
from perfbench import datagen
from perfbench.tracer import SparkCounters, Tracer, job_stats


@dataclass
class Ctx:
    spark: object
    tracer: Tracer
    counters: SparkCounters


#: the operators modules with a ``operators.<module>.query_s`` figure
MODULES = ("ctr", "clustering", "dedup", "multimodal")


@dataclass
class PassResult:
    wall_s: float = 0.0
    ops_s: list[float] = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    cpu_s: float = 0.0
    jit_s: float = 0.0
    gc_s: float = 0.0
    per_op: dict[str, float] = field(default_factory=dict)
    layer: dict[str, float] = field(default_factory=dict)


@dataclass
class PassTrace:
    """What a traced pass saw, for ``layer_metrics``."""

    #: job groups (prefixes) of every Spark job the pass ran
    groups: tuple[str, ...] = ()
    #: job group of the jobs the construction calls launched
    build_group: str = ""
    build_s: float = 0.0
    #: Catalyst phase durations, summed over the pass's executions
    phases: dict[str, float] = field(default_factory=dict)
    #: operators module -> seconds spent in its queries
    module_s: dict[str, float] = field(default_factory=dict)
    #: ``StreamingQueryProgress`` of every micro-batch the pass ran
    progress: list = field(default_factory=list)


def _median(values) -> float:
    """Median of ``values``; 0 when there are none (no micro-batch ran)."""
    values = list(values)
    return float(statistics.median(values)) if values else 0.0


def _state(p, key: str) -> float:
    return float(sum(getattr(op, key) for op in p.stateOperators))


def layer_metrics(ctx: Ctx, wall_s: float, pt: PassTrace) -> dict[str, float]:
    """The per-layer figures of one traced pass (the ``session.*`` and
    ``fitstore.*`` ones belong to the run, see ``run.py``)."""
    jobs, stages = ctx.counters.jobs_and_stages()
    every = job_stats(jobs, stages, pt.groups)
    build = job_stats(jobs, stages, (pt.build_group,))
    # Spark jobs become spans under the pass (JVM epoch -> perf clock)
    offset = time.time() - time.perf_counter()
    for s, e in every["intervals"]:
        ctx.tracer.record("spark:job", s - offset, e - offset)
    cores = int(ctx.spark.sparkContext.defaultParallelism)
    data = [p for p in pt.progress if p.numInputRows > 0]
    out = {
        "queries.driver_s": wall_s - every["job_s"],
        "queries.build_s": pt.build_s,
        "queries.build_jobs": float(build["jobs"]),
        "plans.analysis_ms": pt.phases.get("analysis", 0.0),
        "plans.optimization_ms": pt.phases.get("optimization", 0.0),
        "plans.planning_ms": pt.phases.get("planning", 0.0),
        "operators.job_s": every["job_s"],
        "operators.exec_cpu_s": every["exec_cpu_s"],
        "operators.exec_run_s": every["exec_run_s"],
        "operators.cpu_util": (
            every["exec_cpu_s"] / (every["job_s"] * cores) if every["job_s"] else 0.0
        ),
        "operators.shuffle_read_mb": every["shuffle_read_mb"],
        "operators.shuffle_write_mb": every["shuffle_write_mb"],
        "operators.spill_mb": every["spill_mb"],
        "operators.stages": float(every["stages"]),
        "operators.tasks": float(every["tasks"]),
        "sources.input_rows": float(every["input_rows"]),
        **{f"operators.{m}.query_s": pt.module_s.get(m, 0.0) for m in MODULES},
        "streaming.batches": float(len(pt.progress)),
        "streaming.trigger_ms_p50": _median(
            p.durationMs.get("triggerExecution", 0) for p in pt.progress),
        "streaming.add_batch_ms": _median(p.durationMs.get("addBatch", 0) for p in pt.progress),
        "streaming.query_planning_ms": _median(
            p.durationMs.get("queryPlanning", 0) for p in pt.progress),
        "streaming.wal_commit_ms": _median(p.durationMs.get("walCommit", 0) for p in pt.progress),
        "streaming.commit_offsets_ms": _median(
            p.durationMs.get("commitOffsets", 0) for p in pt.progress),
        "streaming.state_commit_ms": _median(_state(p, "commitTimeMs") for p in pt.progress),
        # as the sources report it: a source that feeds two branches of
        # the plan counts each of its rows once per branch
        "streaming.events_per_batch": _median(
            sum(src.numInputRows for src in p.sources) for p in data),
        "streaming.state_rows_max": max(
            (_state(p, "numRowsTotal") for p in pt.progress), default=0.0),
        "streaming.state_mem_mb_max": max(
            (_state(p, "memoryUsedBytes") for p in pt.progress), default=0.0
        ) / (1024.0 * 1024.0),
    }
    return out


def log(msg: str) -> None:
    print(f"[perfbench] {msg}"[:500], file=sys.stderr)


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Column-name-sorted, dtype-canonical, row-sorted frame, so two
    engines' results compare exactly and order-insensitively."""
    df = df.reindex(sorted(df.columns), axis=1)
    for col in df.columns:
        s = df[col]
        if pd.api.types.is_datetime64_any_dtype(s):
            df[col] = pd.to_datetime(s).astype("datetime64[us]")
        elif pd.api.types.is_integer_dtype(s):
            df[col] = s.astype("Int64")
        elif pd.api.types.is_float_dtype(s):
            df[col] = s.astype("float64")
    return df.sort_values(by=list(df.columns), ignore_index=True, na_position="first")


def frames_equal(actual: pd.DataFrame, expected: pd.DataFrame) -> bool:
    a, e = normalize(actual), normalize(expected)
    if list(a.columns) != list(e.columns) or len(a) != len(e):
        return False
    try:
        pd.testing.assert_frame_equal(a, e, check_dtype=False, check_exact=True)
    except AssertionError:
        return False
    return True


class BatchWorkload:
    """A fixed list of declared queries over seeded input tables.

    ``queries`` maps each query name to the operators module it
    exercises; ``rows`` maps each input table to its row count.
    """

    #: the engine's default (``build_session``), as ``bench.py`` runs it
    shuffle_partitions = None
    min_passes = 2

    def __init__(self, queries: dict[str, str], rows: dict[str, int]):
        self.queries = queries
        self.rows = rows
        self.registry = __spark_entry__.queries()
        self.pinned: dict[str, int] = {}
        self.data = ""
        self.rows_per_pass = 0

    def make_inputs(self, work: str, seed: int) -> None:
        self.data = os.path.join(work, "data")
        datagen.write_tables(self.data, seed, self.rows)

    def _tables_of(self, df) -> set[str]:
        return {os.path.basename(p).rsplit(".", 1)[0] for p in df.inputFiles()}

    def _run_query(self, ctx: Ctx, name: str, tag: str, traced: bool):
        """Build and execute one query; returns (checksum, latency,
        build seconds, planning phases).  Raises what the engine raises."""
        sc = ctx.spark.sparkContext
        t0 = time.perf_counter()
        with ctx.tracer.span("query", query=name):
            with ctx.tracer.span("build"):
                if traced:
                    sc.setJobGroup(f"{tag}:build:{name}", name)
                df = self.registry[name](ctx.spark, self.data)
            t1 = time.perf_counter()
            with ctx.tracer.span("execute"):
                if traced:
                    sc.setJobGroup(f"{tag}:exec:{name}", name)
                cdf = df.select(F.bit_xor(F.xxhash64(*df.columns)).alias("h"))
                checksum = cdf.collect()[0][0]
        t2 = time.perf_counter()
        phases = SparkCounters.planning_ms(cdf._jdf.queryExecution()) if traced else {}
        return checksum, t2 - t0, t1 - t0, phases

    def warm(self, ctx: Ctx) -> PassResult:
        """First pass at the measured input.  It fetches every query's
        full result, which ``verify`` then compares with the oracle."""
        res = PassResult()
        self._results: dict[str, pd.DataFrame] = {}
        t0 = time.perf_counter()
        for name in self.queries:
            res.attempted += 1
            t = time.perf_counter()
            try:
                df = self.registry[name](ctx.spark, self.data)
                self._results[name] = df.toPandas()
            except Exception as exc:  # noqa: BLE001 -- counted; the run goes on
                log(f"{name} failed in the warm pass: {exc!r}")
                res.failed += 1
                continue
            res.per_op[name] = time.perf_counter() - t
            self.rows_per_pass += sum(
                self.rows.get(t, 0) for t in self._tables_of(df)
            )
        res.wall_s = time.perf_counter() - t0
        return res

    def verify(self, ctx: Ctx) -> PassResult:
        """Compare each warm-pass result with the query's DuckDB oracle
        SQL on the same files, exactly and order-insensitively."""
        oracle = __spark_entry__.oracle_sql()
        res = PassResult()
        con = duckdb.connect()
        try:
            for table in self.rows:
                path = os.path.join(self.data, f"{table}.parquet")
                con.execute(f"CREATE VIEW {table} AS SELECT * FROM '{path}'")
            for name, actual in self._results.items():
                res.attempted += 1
                if not frames_equal(actual, con.execute(oracle[name]).fetchdf()):
                    log(f"{name}: result differs from the oracle")
                    res.failed += 1
        finally:
            con.close()
        self._results.clear()
        return res

    def run_pass(self, ctx: Ctx, index: int, traced: bool) -> PassResult:
        res = PassResult()
        tag = f"p{index}"
        pt = PassTrace(groups=(f"{tag}:",), build_group=f"{tag}:build:")
        with ctx.tracer.span("pass", index=index, traced=traced):
            t0 = time.perf_counter()
            for name in self.queries:
                res.attempted += 1
                try:
                    checksum, lat, b, ph = self._run_query(ctx, name, tag, traced)
                except Exception as exc:  # noqa: BLE001
                    log(f"{name} failed: {exc!r}")
                    res.failed += 1
                    continue
                # the first timed execution pins the checksum (at the
                # fixed core count); every later one must reproduce it
                if self.pinned.setdefault(name, checksum) != checksum:
                    log(f"{name}: checksum {checksum} != pinned {self.pinned[name]}")
                    res.failed += 1
                res.ops_s.append(lat)
                res.per_op[name] = lat
                module = self.queries[name]
                pt.module_s[module] = pt.module_s.get(module, 0.0) + lat
                pt.build_s += b
                for k, v in ph.items():
                    pt.phases[k] = pt.phases.get(k, 0.0) + v
            res.wall_s = time.perf_counter() - t0
            if traced:
                ctx.spark.sparkContext.setJobGroup("idle", "idle")
                res.layer = layer_metrics(ctx, res.wall_s, pt)
        return res


class StreamDrainWorkload:
    """``streaming_ctr_windows`` draining a pre-written backlog of the
    reference fixture (``fixtures.generate(seed)``).

    The backlog is one parquet file per side plus a far-future sentinel
    event that closes every window, so append-mode output is complete
    and must equal batch ``ctr_windows`` on the same fixture.  Each pass
    starts a new query with a fresh checkpoint over the same files and
    runs until the backlog is drained: one trigger that reads every file
    and a no-data trigger that emits the closed windows.
    """

    #: the stateful operators' partitions as the repo's streaming bench
    #: (``bench_streaming.py``) and test session set them:
    #: max(8, cores // 2).  At the engine's batch default of 32, one
    #: drain takes about a minute on four cores, so a run's three drains
    #: would not fit in the 180 s a run may take.
    shuffle_partitions = 8
    min_passes = 2

    def __init__(self, duration_sec: int):
        self.duration_sec = duration_sec
        self.expected: pd.DataFrame | None = None
        self.rows_per_pass = 0
        self.schemas: dict = {}

    def make_inputs(self, work: str, seed: int) -> None:
        self.work = work
        self.fixture = generate(duration_sec=self.duration_sec, seed=seed)
        sentinel_ms = VIRTUAL_START_MS + (self.duration_sec + 3 * 3600) * 1000
        imp, clk = self.fixture.impressions, self.fixture.clicks
        sides = {
            "imp": (imp, imp.iloc[:1].assign(
                impression_id="imp-sentinel", campaign_id="camp-sentinel",
                event_timestamp=sentinel_ms)),
            "clk": (clk, clk.iloc[:1].assign(
                click_id="clk-sentinel", impression_id="imp-sentinel",
                event_timestamp=sentinel_ms)),
        }
        self.dirs: dict[str, str] = {}
        self.files: set[str] = set()
        for side, (df, sentinel) in sides.items():
            d = os.path.join(work, "stream", side)
            os.makedirs(d)
            for part, frame in (("events", df), ("sentinel", sentinel)):
                path = os.path.join(d, f"{part}.parquet")
                frame.to_parquet(path, index=False)
                self.files.add(os.path.realpath(path))
            self.dirs[side] = d
        self.rows_per_pass = len(imp) + len(clk) + 2

    def _build(self, spark):
        """The streaming DataFrame: the pipeline's construction calls."""
        if not self.schemas:
            self.schemas = {k: spark.read.parquet(d).schema for k, d in self.dirs.items()}
        imp = file_event_stream(
            spark, self.dirs["imp"], self.schemas["imp"],
            watermark="5 seconds", max_files_per_trigger=None,
        )
        clk = (
            file_event_stream(
                spark, self.dirs["clk"], self.schemas["clk"],
                watermark=None, max_files_per_trigger=None,
                event_time_col="click_time",
            )
            .drop("event_timestamp")
            .withWatermark("click_time", "5 seconds")
        )
        return streaming_ctr_windows(imp, clk, window="1 minute", band="10 minutes")

    def _files_read(self, sink: str) -> list[str]:
        """Every file the query's sources logged, once per logging (the
        checkpoint's ``sources/<n>/<batchId>`` file log)."""
        out = []
        for log_file in glob.glob(os.path.join(self.work, "ckpt", sink, "sources", "*", "*")):
            with open(log_file) as f:
                for line in f:
                    if line.startswith("{"):
                        path = json.loads(line)["path"].removeprefix("file://")
                        out.append(os.path.realpath(path))
        return out

    def _drain(self, ctx: Ctx, sink: str, pt: PassTrace | None = None):
        """Drain the backlog into the memory sink ``sink``; returns the
        pass result and the output (None if the drain failed).  With a
        ``pt``, the pass's job groups, build time, planning phases and
        progress go into it."""
        sc = ctx.spark.sparkContext
        res = PassResult(attempted=1)
        t0 = time.perf_counter()
        try:
            if pt is not None:
                sc.setJobGroup(pt.build_group, sink)
            with ctx.tracer.span("build"):
                result = self._build(ctx.spark)
            build_s = time.perf_counter() - t0
            q = (
                result.writeStream.format("memory")
                .queryName(sink)
                .outputMode("append")
                .option("checkpointLocation", os.path.join(self.work, "ckpt", sink))
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            res.wall_s = time.perf_counter() - t0
            if pt is not None:
                sc.setJobGroup("check", "check")
            got = (
                ctx.spark.table(sink)
                .filter(F.col("campaign_id") != "camp-sentinel")
                .toPandas()
            )
        except Exception as exc:  # noqa: BLE001 -- counted; the run goes on
            log(f"{sink} failed: {exc!r}")
            res.failed = 1
            return res, None
        ctx.spark.catalog.dropTempView(sink)
        progress = list(q.recentProgress)
        res.ops_s = [p.durationMs.get("triggerExecution", 0) / 1000.0 for p in progress]
        res.per_op = {f"trigger{p.batchId}": t for p, t in zip(progress, res.ops_s)}
        if pt is not None:
            # the micro-batches' jobs carry the run id as their job group
            pt.groups = (pt.build_group, str(q.runId))
            pt.build_s = build_s
            pt.progress = progress
            # analysis runs when the streaming DataFrame is built;
            # each micro-batch plans again, and the last one's
            # tracker is still readable after the query stopped
            executions = [result._jdf.queryExecution()]
            last = q._jsq.streamingQuery().lastExecution()
            if last is not None:
                executions.append(last)
            for qe in executions:
                for k, v in SparkCounters.planning_ms(qe).items():
                    pt.phases[k] = pt.phases.get(k, 0.0) + v
        read = self._files_read(sink)
        if sorted(read) != sorted(self.files):
            log(f"{sink}: files read {sorted(read)} != written {sorted(self.files)}")
            res.failed = 1
        elif self.expected is not None and not frames_equal(got, self.expected):
            log(f"{sink}: output differs from batch ctr_windows")
            res.failed = 1
        return res, got

    def warm(self, ctx: Ctx) -> PassResult:
        res, self._warm_output = self._drain(ctx, "drain_warm")
        return res

    def verify(self, ctx: Ctx) -> PassResult:
        """Batch ``ctr_windows`` is the semantic spec: the warm drain's
        output must equal it (later drains are checked as they run)."""
        spark = ctx.spark
        imp = spark.createDataFrame(self.fixture.impressions).withColumn(
            "event_time", F.timestamp_millis(F.col("event_timestamp"))
        )
        clk = spark.createDataFrame(self.fixture.clicks).withColumn(
            "click_time", F.timestamp_millis(F.col("event_timestamp"))
        ).drop("event_timestamp")
        self.expected = ctr_windows(
            imp, clk, window="1 minute", band="10 minutes"
        ).toPandas()
        ok = self._warm_output is not None and frames_equal(self._warm_output, self.expected)
        if not ok:
            log("drain_warm: output differs from batch ctr_windows")
        return PassResult(attempted=1, failed=int(not ok))

    def run_pass(self, ctx: Ctx, index: int, traced: bool) -> PassResult:
        pt = PassTrace(build_group=f"p{index}:build") if traced else None
        with ctx.tracer.span("pass", index=index, traced=traced):
            res, _ = self._drain(ctx, f"drain_{index}", pt)
            if pt is not None:
                ctx.spark.sparkContext.setJobGroup("idle", "idle")
                # micro-batches become spans under the pass (epoch -> perf clock)
                offset = time.time() - time.perf_counter()
                for p in pt.progress:
                    dur = p.durationMs.get("triggerExecution", 0) / 1000.0
                    begin = pd.Timestamp(p.timestamp).timestamp() - offset
                    ctx.tracer.record("streaming:micro-batch", begin, begin + dur,
                                      batch=p.batchId, rows=p.numInputRows)
                res.layer = layer_metrics(ctx, res.wall_s, pt)
        return res


#: name -> factory.  Sizes are chosen so one run (JVM start, set-up and
#: the measured passes) takes about a minute on four cores.
WORKLOADS = {
    "batch": lambda: BatchWorkload(
        {
            "ctr_hourly": "ctr",
            "kmeans_clusters": "clustering",
            "dedup_minhash_lsh": "dedup",
            "multimodal_phash": "multimodal",
        },
        {"events": 100_000, "documents": 1_000, "embeddings": 1_000},
    ),
    "stream_drain": lambda: StreamDrainWorkload(duration_sec=1200),
}
