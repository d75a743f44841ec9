#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload batch --seed 1 --seconds 5 --trace 0

Runs one workload on ``local[4]`` from the root of a checkout and prints,
as the last line of standard output, one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``.  With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1``
they are the per-layer ones (see ``perfbench/README.md``).  The line
before it carries the run conditions, the wall-clock figures and the
sample counts.

Everything the run writes -- inputs, warehouse, checkpoints, Spark
scratch, temp files -- lives under ``.perfbench_work/`` in the checkout
and is removed at exit; the trace of a ``--trace 1`` run is kept in
``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
#: fixed core count: the pinned checksums and every timing assume it
CORES = 4


def declared_metrics() -> tuple[dict[str, str], dict[str, str]]:
    """(end-to-end, per-layer) metric name -> unit, as ``BENCHMARK.json``
    declares them: the one table of metric names and units."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return tuple({m["name"]: m["unit"] for m in spec[k]} for k in ("end_to_end", "per_layer"))


def conditions() -> dict:
    load = os.getloadavg()
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {"load_1m": round(load[0], 2), "load_5m": round(load[1], 2), "ticks": ticks}


def steal_pct(before: dict, after: dict) -> float:
    """Share of CPU time the hypervisor gave to other guests between the
    two readings (the ``steal`` column of ``/proc/stat``)."""
    delta = [b - a for a, b in zip(before["ticks"], after["ticks"])]
    return round(100.0 * delta[7] / max(sum(delta), 1), 2)


def hermetic_env(work: str) -> dict[str, str]:
    """Point every scratch location of Python, the JVM and Spark into
    ``work``; returns the Spark confs that do the same."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # Python workers started by the JVM import the engine from here too
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        ),
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
        "spark.sql.streaming.numRecentProgressUpdates": "1000",
    }


def stop_spark(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait()


def measure(args, wl, tracer, work: str) -> dict:
    """Set up, verify and run the measured passes; returns the raw
    figures the result is made from."""
    from flink_ad_analytics_spark import fitstore
    from flink_ad_analytics_spark.session import build_session
    from perfbench.tracer import CpuMeter, SparkCounters
    from perfbench.workloads import Ctx

    confs = hermetic_env(work)
    t = time.perf_counter()
    wl.make_inputs(work, args.seed)
    out = {"input_s": time.perf_counter() - t}
    meter = CpuMeter(os.getpid())
    spark = None
    try:
        if args.trace:
            tracer.start()
        with tracer.span("run", workload=args.workload, seed=args.seed):
            # set-up: session start plus one warm pass at the measured input
            t0 = time.perf_counter()
            cpu0 = meter.read()
            with tracer.span("setup"):
                spark = build_session(
                    app_name=f"perfbench-{args.workload}", cpus=CORES,
                    shuffle_partitions=wl.shuffle_partitions, extra_conf=confs,
                )
                spark.sparkContext.setLogLevel("ERROR")
                out["session_s"] = time.perf_counter() - t0
                ctx = Ctx(spark, tracer, SparkCounters(spark))
                out["warm"] = wl.warm(ctx)
            out["setup_wall_s"] = time.perf_counter() - t0
            # set-up counts every thread: warming the JIT and growing the
            # heap are part of what set-up is for
            cpu1 = meter.read()
            out["setup_cpu_s"] = sum(cpu1.values()) - sum(cpu0.values())
            out["fits_setup"] = list(fitstore.FIT_EVENTS)
            tracer.stop()

            t = time.perf_counter()
            with tracer.span("verify"):
                out["check"] = wl.verify(ctx)
            out["verify_s"] = time.perf_counter() - t

            # A traced run interleaves untraced, traced, untraced, ...
            # passes: the traced ones give the per-layer figures, and
            # their difference from the untraced ones on both sides is
            # the tracing overhead.
            passes = []
            t_measure = time.perf_counter()
            while (
                time.perf_counter() - t_measure < args.seconds
                or len(passes) < wl.min_passes + args.trace
            ):
                traced = bool(args.trace) and len(passes) % 2 == 1
                if traced:
                    tracer.start()
                cpu0 = meter.read()
                res = wl.run_pass(ctx, len(passes), traced)
                cpu1 = meter.read()
                res.cpu_s = cpu1["work"] - cpu0["work"]
                res.jit_s = cpu1["jit"] - cpu0["jit"]
                res.gc_s = cpu1["gc"] - cpu0["gc"]
                tracer.stop()
                passes.append((traced, res))
            out["passes"] = passes
            out["fits_timed"] = len(fitstore.FIT_EVENTS) - len(out["fits_setup"])
        out["rss_mb"] = ctx.counters.jvm_rss_peak_mb()
        out["java"] = spark._jvm.System.getProperty("java.version")
    finally:
        tracer.stop()
        if spark is not None:
            stop_spark(spark)
    return out


def run(args) -> dict:
    # the engine must come from the checkout; without it the run fails
    sys.path.insert(0, ROOT)
    import pyspark

    from perfbench.tracer import Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}")
    wl = WORKLOADS[args.workload]()
    before = conditions()
    scratch = os.path.join(ROOT, ".perfbench_work")
    work = os.path.join(scratch, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tracer = Tracer()
    try:
        m = measure(args, wl, tracer, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    after = conditions()

    passes = m["passes"]
    warm, check = m["warm"], m["check"]
    # a fit paid inside a measured pass would make its CPU a set-up
    # cost: the fit-store check is one more operation of every run
    fits_ok = m["fits_timed"] == 0
    if not fits_ok:
        print(f"[perfbench] {m['fits_timed']} fits ran in measured passes", file=sys.stderr)
    attempted = 1 + warm.attempted + check.attempted + sum(r.attempted for _, r in passes)
    failed = int(not fits_ok) + warm.failed + check.failed + sum(r.failed for _, r in passes)
    untraced = [r for t, r in passes if not t]
    walls = [r.wall_s for r in untraced]
    ops = [x for r in untraced for x in r.ops_s]
    detail = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": os.cpu_count(), "cores_used": CORES,
        "load_before": {k: v for k, v in before.items() if k != "ticks"},
        "load_after": {k: v for k, v in after.items() if k != "ticks"},
        "steal_pct": steal_pct(before, after),
        "loaded": (
            before["load_1m"] > 0.5 * (os.cpu_count() or 1)
            or steal_pct(before, after) > 5.0
        ),
        "versions": {
            "spark": pyspark.__version__, "java": m["java"],
            "python": platform.python_version(),
        },
        "input_s": round(m["input_s"], 3), "session_s": round(m["session_s"], 3),
        "warm_s": round(warm.wall_s, 3), "setup_wall_s": round(m["setup_wall_s"], 3),
        "warm_ops_s": {k: round(v, 3) for k, v in warm.per_op.items()},
        "verify_s": round(m["verify_s"], 3),
        "fits_timed": m["fits_timed"],
        "pass_wall_median_s": round(statistics.median(walls), 3),
        "op_wall_p50_s": round(statistics.median(ops), 3),
        "rows_per_pass": wl.rows_per_pass,
        "pass_samples": len(walls), "op_samples": len(ops),
        "pass_walls_s": [round(r.wall_s, 3) for _, r in passes],
        "pass_cpu_s": [round(r.cpu_s, 3) for _, r in passes],
        "pass_jit_cpu_s": [round(r.jit_s, 3) for _, r in passes],
        "pass_gc_cpu_s": [round(r.gc_s, 3) for _, r in passes],
        "pass_traced": [t for t, _ in passes],
        "pass_ops_s": [{k: round(v, 3) for k, v in r.per_op.items()} for _, r in passes],
    }

    end_to_end, per_layer = declared_metrics()
    if not args.trace:
        units = end_to_end
        metrics = {
            "setup_s": m["setup_cpu_s"],
            # the mean, not the median: every run makes the same passes,
            # and a mean keeps the work of each of them
            "pass_cpu_s": statistics.fmean(r.cpu_s for r in untraced),
        }
    else:
        units = per_layer
        traced = [r for t, r in passes if t]
        metrics = {
            name: statistics.median(r.layer[name] for r in traced)
            for name in traced[0].layer
        }
        traced_wall = statistics.median(r.wall_s for r in traced)
        metrics.update({
            "session.start_s": m["session_s"],
            "session.jvm_rss_peak_mb": m["rss_mb"],
            "session.jvm_jit_cpu_s": statistics.median(r.jit_s for r in traced),
            "session.jvm_gc_cpu_s": statistics.median(r.gc_s for r in traced),
            "fitstore.fits_setup": float(len(m["fits_setup"])),
            "fitstore.fit_s_setup": sum((s for _, _, s in m["fits_setup"]), 0.0),
            "bench.trace_overhead_pct": 100.0 * (traced_wall / statistics.median(walls) - 1.0),
        })
        traces = os.path.join(scratch, "traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(
            os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
            {"detail": detail, "metrics": metrics},
        )
    if set(metrics) != set(units):
        raise SystemExit(
            f"measured {sorted(metrics)} but BENCHMARK.json declares {sorted(units)}"
        )
    print(json.dumps({"detail": detail}))
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    result = run(p.parse_args())
    print(json.dumps(result))


if __name__ == "__main__":
    main()
