"""Benchmark harness: run registered queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE
JSON line with per-query wall-clock seconds.

Usage: python bench.py [--plans DIR] [query ...]

With no query names every registered query runs. Each row is the median of
3 runs through the `noop` sink, so the full plan runs distributed
(scan → shuffle → agg) without driver-collect overhead distorting timings.
Everything else a row reports is read, outside the timed region, from what
Spark records for the session anyway (the UI may be off):

- ``jobs``: Spark jobs per run, as ``session.job_mark`` deltas;
- ``stream_stats``: micro-batches per run and input rows of every stream
  the query ran, from a StreamingQueryListener on the session;
- ``--plans DIR``: ``DIR/<query>.txt`` holds, for the query's last run, the
  description, call site and final formatted physical plan of every SQL
  execution newer than the run's watermark in the SQL status store.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from high_volume_market_data_pipeline_spark.queries import QUERIES  # noqa: E402
from high_volume_market_data_pipeline_spark.session import (  # noqa: E402
    build_session,
    job_mark,
)

RUNS = 3


class StreamProgress:
    """Input rows of every micro-batch any stream on ``spark`` reports."""

    def __init__(self, spark):
        from pyspark.sql.streaming import StreamingQueryListener

        self.spark = spark
        self.batches: list[int] = []
        batches = self.batches

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                batches.append(event.progress.numInputRows)

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        spark.streams.addListener(self._listener)

    def close(self) -> None:
        self.spark.streams.removeListener(self._listener)


def _executions(spark):
    """The SQL status store's executions, oldest first."""
    return spark._jsparkSession.sharedState().statusStore().executionsList()


def _newest_execution(spark) -> int:
    execs = _executions(spark)
    n = execs.size()
    return execs.apply(n - 1).executionId() if n else -1


def _plans_since(spark, mark: int) -> list[str]:
    """Description, call site and final formatted physical plan of every
    SQL execution with an id above ``mark``, oldest first."""
    execs = _executions(spark)
    out = []
    for i in range(execs.size() - 1, -1, -1):
        e = execs.apply(i)
        if e.executionId() <= mark:
            break
        call = (e.details() or "").split("\n", 1)[0]
        out.append(
            f"== execution {e.executionId()}: {e.description()} ==\n"
            f"-- {call}\n{e.physicalPlanDescription()}"
        )
    return out[::-1]


def _cpu_stat() -> list[int]:
    # (user nice system idle iowait irq softirq steal ...) jiffies
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def measure(
    spark, progress: StreamProgress, name: str, sf_dir: str,
    plans: bool = False,
) -> dict:
    """Run query ``name`` ``RUNS`` times through the noop sink. Returns
    per-run ``secs``, ``jobs``, host ``steal`` and ``busy`` percent and, when
    any stream ran, ``micro_batches`` per run and the last run's
    ``input_rows``; with ``plans``, the last run's SQL ``plans`` as text."""
    row: dict = {"secs": [], "jobs": [], "steal": [], "busy": []}
    for i in range(RUNS):
        j0 = job_mark(spark)  # drains the listener bus
        del progress.batches[:]
        last = i == RUNS - 1
        sql_mark = _newest_execution(spark) if plans and last else None
        # Label the run so its jobs and plans can be attributed to it.
        spark.sparkContext.setJobDescription(f"bench:{name} run {i + 1}")
        cpu0 = _cpu_stat()
        start = time.perf_counter()
        QUERIES[name](spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        row["secs"].append(time.perf_counter() - start)
        cpu1 = _cpu_stat()
        spark.sparkContext.setJobDescription(None)
        row["jobs"].append(job_mark(spark) - j0)
        d = [a - b for a, b in zip(cpu1, cpu0)]
        tot = max(1, sum(d))
        # steal is field 8 of /proc/stat's cpu line; sandboxed or older
        # /proc implementations may expose fewer fields — telemetry
        # degradation must never fail the benchmark
        steal = 100.0 * d[7] / tot if len(d) > 7 else 0.0
        row["steal"].append(round(steal, 2))
        row["busy"].append(round(100.0 * (d[0] + d[2]) / tot, 1))
        if progress.batches:
            row.setdefault("micro_batches", []).append(len(progress.batches))
            row["input_rows"] = int(sum(progress.batches))
        if sql_mark is not None:
            row["plans"] = _plans_since(spark, sql_mark)
    return row


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("queries", nargs="*", metavar="query",
                    help="registered query names (default: all)")
    ap.add_argument("--plans", metavar="DIR",
                    help="write DIR/<query>.txt with the last run's SQL plans")
    args = ap.parse_args()
    unknown = sorted(set(args.queries) - set(QUERIES))
    if unknown:
        ap.error(f"unknown queries: {', '.join(unknown)}")
    names = args.queries or sorted(QUERIES)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else -1.0
    spark = build_session(app_name="hvmdp-bench")
    try:
        # JVM/codegen warmup on the smallest query so per-query numbers
        # reflect steady state, not first-job session setup.
        QUERIES["distinct_order_priorities"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        # The Python DataSource path pays a separate one-time bootstrap
        # (~10 s: Python runner + plan-side source pickling). Warm it with
        # a one-page read so paged_feed_rollup reports steady state
        # (measured 11.6 s cold vs 1.2 s warm, identical plans).
        from high_volume_market_data_pipeline_spark.sources.api_datasource import (
            register_paged_feed,
        )

        register_paged_feed(spark)
        spark.read.format("paged_feed").option("pages", 1).option(
            "page_size", 1
        ).load().write.format("noop").mode("overwrite").save()
        # EVERY row is median-of-3 — no duration cutoff. The micro-batch
        # engine's trigger scheduling gives ±2x run-to-run variance on
        # second-scale wall-clocks, and the expensive lifecycle queries
        # (index ingest, incremental dedup) were the only single-run rows
        # left, i.e. exactly the ones where a one-off stall is least
        # distinguishable from a regression. stream_* rows additionally
        # record micro-batch counts + rows/sec, which make churn (same
        # work, different batching) and regression (same batching, more
        # seconds) separable in the artifact. Per-run host steal%/busy%
        # make ambient interference windows visible in the artifact.
        progress = StreamProgress(spark)
        timings: dict[str, float] = {}
        run_log: dict[str, list[float]] = {}
        jobs: dict[str, list[int]] = {}
        steal_log: dict[str, list[float]] = {}
        busy_log: dict[str, list[float]] = {}
        stream_stats: dict[str, dict] = {}
        for name in names:
            row = measure(
                spark, progress, name, sf_dir, plans=bool(args.plans)
            )
            t = sorted(row["secs"])[len(row["secs"]) // 2]  # median
            timings[name] = round(t, 3)
            run_log[name] = [round(r, 3) for r in row["secs"]]
            jobs[name] = row["jobs"]
            steal_log[name] = row["steal"]
            busy_log[name] = row["busy"]
            if name.startswith("stream_"):
                entry: dict = {"runs": run_log[name]}
                if "micro_batches" in row:
                    entry["micro_batches"] = row["micro_batches"]
                    entry["input_rows"] = row["input_rows"]
                    if t > 0:
                        entry["rows_per_sec"] = round(row["input_rows"] / t, 1)
                stream_stats[name] = entry
            if args.plans:
                os.makedirs(args.plans, exist_ok=True)
                with open(os.path.join(args.plans, f"{name}.txt"), "w") as fh:
                    fh.write("\n\n".join(row["plans"]))
        total = round(sum(timings.values()), 3)
        # headline keys LAST: the driver records only the TAIL of stdout
        # (2000 chars), so the summary must sit at the end of the line to
        # survive truncation of the 142-entry per-query sections
        print(
            json.dumps(
                {
                    "queries": timings,
                    "runs": run_log,
                    "jobs": jobs,
                    "host_steal_pct": steal_log,
                    "host_busy_pct": busy_log,
                    "stream_stats": stream_stats,
                    "metric": "total_query_seconds",
                    "value": total,
                    "unit": "sec",
                    "sf": sf,
                }
            )
        )
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
