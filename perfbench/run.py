"""Benchmark CLI: one workload, one process, one client, ``local[<cpus>]``.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 15 --trace 0

Run from the repository root. Prints a human-readable summary, then as its
last line one JSON object ``{"correct", "attempted", "failed", "metrics"}``:
with ``--trace 0`` the end-to-end metrics of BENCHMARK.json, with
``--trace 1`` the per-layer metrics (an untraced, then a traced phase of
``--seconds`` each; traced minus untraced is the tracing overhead).
Everything the run writes goes under ``.perfbench_work/`` in the root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.getcwd()
PKG = "high_volume_market_data_pipeline_spark"
SETUP_REPS = 5
DRIVER_MEM = "3g"


def _cpu_stat() -> list[int]:
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def _host_load(before: list[int], after: list[int]) -> tuple[float, float]:
    """(steal %, busy %) of all cores between two /proc/stat samples."""
    d = [a - b for a, b in zip(after, before)]
    tot = max(1, sum(d))
    steal = 100.0 * d[7] / tot if len(d) > 7 else 0.0
    return steal, 100.0 * (d[0] + d[2]) / tot


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def _pin_environment(work: str) -> dict[str, str]:
    """Env the session factory reads, plus scratch dirs inside the work dir;
    returns the extra Spark conf that keeps the JVM's files there too."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # spark-submit's launcher JVM
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp
    # -XX:-UsePerfData: no hsperfdata file in /tmp
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData"
        # C1 only: the JIT settles within the warm-up instead of
        # recompiling through the timed units; compiler threads stay alive
        # so their CPU time can be left out of cpu_s
        " -XX:TieredStopAtLevel=1 -XX:-UseDynamicNumberOfCompilerThreads"
    )
    return {
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        # a fixed-size heap: heap resizing made early timings noisier
        "spark.driver.extraJavaOptions": f"{java_opts} -Xms{DRIVER_MEM}",
        "spark.executor.extraJavaOptions": java_opts,
    }


def _stop(spark) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def _live_heap_mb(jvm) -> float:
    """Driver heap still in use after full collections: what caches, pins
    and leaks hold, independent of how far the collector let the heap grow.
    Python proxies are collected first so they release their JVM objects,
    and each JVM collection is followed by a pause for Spark's
    ContextCleaner to drop what became unreachable."""
    import gc

    gc.collect()
    runtime = jvm.java.lang.Runtime.getRuntime()
    used = []
    for _ in range(3):
        jvm.java.lang.System.gc()
        time.sleep(0.3)
        used.append(runtime.totalMemory() - runtime.freeMemory())
    return min(used) / 2**20


def _quantile(values: list[float], q: int) -> float:
    """q-th percentile (inclusive method); the single value if only one."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def main(argv: list[str] | None = None) -> int:
    t_start = time.perf_counter()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true", help="self-test sizes")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PKG)):
        print(f"{PKG}/ not found under {ROOT}: run from the repo root", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

    from perfbench.tracer import Tracer

    tracer = Tracer()
    if args.trace:
        tracer.install()  # before anything imports the queries modules

    from perfbench.workloads import WORKLOADS, dir_usage

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    conf = _pin_environment(work)
    wl = WORKLOADS[args.workload](
        work, args.seed, args.seconds, tiny=args.tiny, trace=bool(args.trace)
    )

    from high_volume_market_data_pipeline_spark.session import build_session

    if args.trace:
        from high_volume_market_data_pipeline_spark.queries import QUERIES

        tracer.wrap_queries(QUERIES)

    setup = []
    spark = None
    try:
        for _ in range(SETUP_REPS):
            if spark is not None:
                spark.stop()  # tearing down is not set-up
            t0 = time.perf_counter()
            spark = build_session(app_name=f"perfbench-{args.workload}", extra_conf=conf)
            wl.prepare(spark)
            setup.append(time.perf_counter() - t0)
        t_setup = time.perf_counter()
        wl.before(spark)
        if args.trace:
            tracer.attach(spark)
        t_before = time.perf_counter()
        cpu0 = _cpu_stat()
        phase = wl.measure(spark, args.seconds)
        steal, busy = _host_load(cpu0, _cpu_stat())
        traced = None
        if args.trace:
            tracer.harvest(record=False)
            tracer.enable()
            t0 = time.perf_counter()
            traced = wl.measure(spark, args.seconds, tracer)
            traced_wall = time.perf_counter() - t0
            tracer.enabled = False
            time.sleep(0.5)  # let the last streaming progress events land
        jvm = spark.sparkContext._jvm
        rss = _vm_hwm_mb(jvm.java.lang.ProcessHandle.current().pid()) + _vm_hwm_mb("self")
        heap = _live_heap_mb(jvm)
        t_measure = time.perf_counter()
    finally:
        if spark is not None:
            _stop(spark)
    t_end = time.perf_counter()

    runs = [phase] + ([traced] if traced else [])
    attempted = sum(p.attempted for p in runs)
    failed = sum(p.failed for p in runs)
    e2e = {
        "setup_s": (statistics.median(setup), "s"),
        "cpu_s": (statistics.median(phase.cpu), "s"),
        "heap_live_mb": (heap, "MB"),
    }
    summary = {
        "workload": args.workload,
        "seed": args.seed,
        "cpus": int(os.environ["SPARK_GRAFT_CPUS"]),
        "units": len(phase.units),
        "wall_s": round(statistics.median(phase.units), 4),
        "latency_samples": len(phase.latencies),
        "latency_p50_s": round(statistics.median(phase.latencies), 4),
        "latency_p90_s": round(_quantile(phase.latencies, 90), 4),
        "rows_per_s": round(phase.rows / phase.busy_s, 1),
        "peak_rss_mb": round(rss, 1),
        "setup_runs_s": [round(s, 4) for s in setup],
        "run_split_s": {
            "start": round(t_setup - t_start - sum(setup), 2),
            "setup": round(sum(setup), 2),
            "before": round(t_before - t_setup, 2),
            "measure": round(t_measure - t_before, 2),
            "stop": round(t_end - t_measure, 2),
        },
        "host_steal_pct": round(steal, 2),
        "host_busy_pct": round(busy, 1),
        "fail_ratio": failed / attempted if attempted else 1.0,
        "unit_cpu_s": [round(c, 3) for c in phase.cpu],
        "unit_wall_s": [round(u, 3) for u in phase.units],
        **phase.notes,
    }
    for name, (value, unit) in e2e.items():
        print(f"{name} = {value:.6g} {unit}")
    print("summary " + json.dumps(summary))

    if args.trace:
        layer = tracer.report(traced_wall)
        layer.update({"dedup.admit_ratio": 0.0, "similarity.mean_recall": 0.0, **wl.extra})
        files, size = dir_usage(wl.sink_roots())
        src = wl.source_bytes()
        layer["sinks.bytes_written_mb"] = size / 1e6
        layer["sinks.files_written"] = files
        layer["sinks.write_amp"] = size / src if src else 0.0
        layer["trace.overhead_s"] = (
            statistics.median(traced.units) - statistics.median(phase.units)
        )
        metrics = {k: {"value": v, "unit": _unit(k)} for k, v in layer.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": metrics,
            }
        )
    )
    return 0


def _unit(metric: str) -> str:
    suffix = metric.rsplit(".", 1)[1]
    if suffix.endswith("_s"):
        return "s"
    if suffix.endswith("_mb"):
        return "MB"
    if suffix in ("admit_ratio", "mean_recall", "write_amp"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
