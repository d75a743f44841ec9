"""Outside-in tracing: spans recorded around the calls into the
engine's layers, plus Spark's own counters read from the outside.

Nothing here edits the engine.  Three sources feed the trace:

* ``Tracer.span`` -- spans the benchmark opens around its own calls
  (run, setup, pass, query, build, execute, micro-batch).
* a profile hook (``sys.setprofile``) that opens a span for every call
  into a public function of the engine's layer modules, parented to the
  innermost open span.  It is installed only while tracing is on.
* ``SparkCounters`` -- job and stage records from the ``AppStatusStore``
  (serialised in one JVM call), ``QueryPlanningTracker`` phases and the
  driver JVM's peak resident memory.

Spans stay in memory and are written out once, when the run ends.
"""

from __future__ import annotations

import inspect
import itertools
import json
import os
import sys
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

PACKAGE = "flink_ad_analytics_spark"

#: the engine's top-level modules that are layers.  ``functions`` runs
#: inside operators and ``sql`` is reached only from tests, so neither is
#: a layer of its own.
LAYERS = ("session", "queries", "plans", "operators", "sources", "fitstore", "streaming")


def layer_of(module: str) -> str | None:
    """The layer an engine module belongs to (``queries_ext`` and
    ``queries_pipeline`` are part of ``queries``), or None."""
    if not module.startswith(PACKAGE + "."):
        return None
    top = module[len(PACKAGE) + 1:].split(".")[0]
    if top.startswith("queries_"):
        top = "queries"
    return top if top in LAYERS else None


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float
    end: float = 0.0
    attrs: dict = field(default_factory=dict)


class Tracer:
    """In-memory span recorder.  ``start`` and ``stop`` switch the
    profile hook on and off between passes, so one run can alternate
    traced and untraced passes and report the difference as tracing
    overhead."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._stack: list[Span] = []
        self._codes: dict = {}

    # -- benchmark-level spans ------------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        s = self.open(name, **attrs)
        try:
            yield s
        finally:
            self.close(s)

    def open(self, name: str, **attrs) -> Span:
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), parent, name, time.perf_counter(), attrs=attrs)
        self.spans.append(s)
        self._stack.append(s)
        return s

    def close(self, s: Span) -> None:
        s.end = time.perf_counter()
        # pop s and anything left open above it (a raising callee)
        while self._stack:
            if self._stack.pop() is s:
                break

    def record(self, name: str, start: float, end: float, **attrs) -> Span:
        """A closed span reconstructed from timestamps (Spark jobs,
        micro-batches), parented to the innermost open span."""
        parent = self._stack[-1].id if self._stack else None
        s = Span(next(self._ids), parent, name, start, end, attrs)
        self.spans.append(s)
        return s

    # -- engine-function spans ------------------------------------------
    def _index_engine_functions(self) -> None:
        for modname, mod in list(sys.modules.items()):
            layer = layer_of(modname)
            if layer is None or mod is None:
                continue
            for name, obj in vars(mod).items():
                if (
                    inspect.isfunction(obj)
                    and obj.__module__ == modname
                    and not name.startswith("_")
                ):
                    short = modname[len(PACKAGE) + 1:]
                    self._codes[obj.__code__] = f"{layer}:{short}.{name}"

    def _hook(self, frame, event, _arg):
        if event == "call":
            name = self._codes.get(frame.f_code)
            if name is not None:
                s = self.open(name)
                s.attrs["frame"] = id(frame)
        elif event == "return" and self._stack:
            top = self._stack[-1]
            if top.attrs.get("frame") == id(frame):
                del top.attrs["frame"]
                self.close(top)

    def start(self) -> None:
        """Turn tracing on: index the engine's public functions (modules
        imported since the last call included) and install the hook."""
        self._index_engine_functions()
        sys.setprofile(self._hook)

    def stop(self) -> None:
        sys.setprofile(None)

    # -- analysis --------------------------------------------------------
    def layer_totals(self) -> dict[str, dict[str, float]]:
        """Per layer: calls, total and self seconds over engine-function
        spans.  Self time is a span's duration minus its children's."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s.parent is not None and s.end:
                child_time[s.parent] = child_time.get(s.parent, 0.0) + (s.end - s.start)
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            if ":" not in s.name or not s.end:
                continue
            layer = s.name.split(":", 1)[0]
            agg = out.setdefault(layer, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
            dur = s.end - s.start
            agg["calls"] += 1
            agg["total_s"] += dur
            agg["self_s"] += dur - child_time.get(s.id, 0.0)
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    **extra,
                    "layers": self.layer_totals(),
                    "spans": [
                        [s.id, s.parent, s.name, round(s.start, 6),
                         round(s.end, 6), s.attrs]
                        for s in self.spans
                    ],
                },
                f,
            )


class SparkCounters:
    """Reads Spark's own accounting without touching the engine."""

    def __init__(self, spark) -> None:
        jvm = spark._jvm
        self._store = spark.sparkContext._jsc.sc().statusStore()
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala, "MODULE$"))
        self._no_quantiles = spark.sparkContext._gateway.new_array(jvm.double, 0)
        self.jvm_pid = int(jvm.ProcessHandle.current().pid())

    def jobs_and_stages(self) -> tuple[list[dict], dict[tuple[int, int], dict]]:
        jobs = json.loads(self._mapper.writeValueAsString(self._store.jobsList(None)))
        stages = json.loads(
            self._mapper.writeValueAsString(
                self._store.stageList(None, False, False, self._no_quantiles, None)
            )
        )
        return jobs, {(s["stageId"], s["attemptId"]): s for s in stages}

    @staticmethod
    def planning_ms(query_execution) -> dict[str, float]:
        """Catalyst phase durations recorded by a JVM ``QueryExecution``
        (``df._jdf.queryExecution()``, or a streaming query's
        ``lastExecution``)."""
        phases = query_execution.tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            if phases.contains(name):
                out[name] = float(phases.apply(name).durationMs())
        return out

    def jvm_rss_peak_mb(self) -> float:
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        return 0.0


#: HotSpot's service threads, by the start of their ``comm`` (which the
#: kernel cuts to 15 characters): JIT compilation and garbage collection
SERVICE_THREADS = {
    "jit": ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread"),
    "gc": ("GC Thread", "G1 "),
}


def _stat_fields(path: str) -> list[str] | None:
    """The fields of a ``/proc`` stat file after the ``(comm)`` one."""
    try:
        with open(path) as f:
            return f.read().rsplit(")", 1)[1].split()
    except OSError:
        return None  # the process or thread ended while we looked


class CpuMeter:
    """User + system CPU seconds of a process and every process below
    it (reaped children included), read from ``/proc``, with the JVM's
    JIT-compiler and garbage-collector threads split out.

    Both run in bursts that do not follow the work of a pass: the JIT
    keeps compiling for several passes after set-up, and a concurrent
    marking cycle (2-5 CPU seconds on four cores) lands in one pass or
    another depending on how the heap has grown.  So a pass counts the
    CPU of the threads that do its work -- the driver, Spark's task and
    scheduler threads, the Python workers -- and the two service shares
    are reported beside it.  A service thread's last reading is kept, so
    a thread the JVM retires still counts as service time."""

    def __init__(self, root_pid: int) -> None:
        self.root_pid = root_pid
        self._service: dict[tuple[int, int], tuple[str, int]] = {}

    def read(self) -> dict[str, float]:
        """CPU seconds so far: ``work``, ``jit`` and ``gc``."""
        tick = os.sysconf("SC_CLK_TCK")
        parent: dict[int, int] = {}
        cpu: dict[int, int] = {}
        for entry in os.listdir("/proc"):
            if entry.isdigit() and (fields := _stat_fields(f"/proc/{entry}/stat")):
                parent[int(entry)] = int(fields[1])
                # utime, stime, cutime, cstime
                cpu[int(entry)] = sum(int(x) for x in fields[11:15])
        total, todo = 0, [self.root_pid]
        while todo:
            pid = todo.pop()
            total += cpu.get(pid, 0)
            todo.extend(child for child, ppid in parent.items() if ppid == pid)
            self._read_service_threads(pid)
        out = {"jit": 0, "gc": 0}
        for kind, ticks in self._service.values():
            out[kind] += ticks
        out["work"] = total - out["jit"] - out["gc"]
        return {k: v / tick for k, v in out.items()}

    def _read_service_threads(self, pid: int) -> None:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            return
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/comm") as f:
                    comm = f.read()
            except OSError:
                continue
            kind = next(
                (k for k, names in SERVICE_THREADS.items() if comm.startswith(names)), None
            )
            if kind and (fields := _stat_fields(f"/proc/{pid}/task/{tid}/stat")):
                self._service[(pid, int(tid))] = (kind, int(fields[11]) + int(fields[12]))


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of [start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def job_stats(jobs: list[dict], stages: dict, groups: tuple[str, ...]) -> dict:
    """Aggregate the jobs whose job group starts with one of ``groups``
    and the stages they ran (skipped stages excluded; a stage shared by
    two jobs counted once)."""
    sel = [j for j in jobs if (j.get("jobGroup") or "").startswith(groups)]
    intervals = [
        (j["submissionTime"] / 1000.0, j["completionTime"] / 1000.0)
        for j in sel
        if j.get("submissionTime") and j.get("completionTime")
    ]
    wanted = {sid for j in sel for sid in j.get("stageIds", ())}
    st = [
        s for (sid, _attempt), s in stages.items()
        if sid in wanted and s.get("status") == "COMPLETE"
    ]
    mb = 1024.0 * 1024.0
    return {
        "jobs": len(sel),
        "job_s": union_seconds(intervals),
        "intervals": intervals,
        "stages": len(st),
        "tasks": sum(s.get("numTasks", 0) for s in st),
        "exec_cpu_s": sum(s.get("executorCpuTime", 0) for s in st) / 1e9,
        "exec_run_s": sum(s.get("executorRunTime", 0) for s in st) / 1e3,
        "input_rows": sum(s.get("inputRecords", 0) for s in st),
        "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in st) / mb,
        "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in st) / mb,
        "spill_mb": sum(
            s.get("memoryBytesSpilled", 0) + s.get("diskBytesSpilled", 0) for s in st
        ) / mb,
    }
