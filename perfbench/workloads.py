"""The three benchmark workloads.

Each workload has
* ``prepare(spark)`` — input generation plus warm-up; run several times
  per benchmark run so set-up time is a median;
* ``before(spark)`` — one-off work after set-up and before timing
  (``query_mix`` checks every query's output here);
* ``measure(spark, seconds, tracer)`` — the timed loop, returning a
  ``Phase``; outputs of timed operations are checked outside the timed
  region and a wrong or raising operation counts as failed.
"""

from __future__ import annotations

import contextlib
import glob
import math
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from perfbench import datagen

# query_mix: a fixed slice of the registry covering the batch layers, each
# query well under a second when warm. The slow tail (ANN with recall, the versioned-table
# stream, incremental dedup admission: 3-11 s each cold) is not timed: it
# would double the per-run cost. Traced runs check it and run it once under
# the tracer, so similarity.mean_recall, dedup.admit_ratio and streaming.*
# are still measured. The stream row is stream_table_appends because the
# events-stream rows stage their input under /tmp, outside the run's
# directory.
QUERY_MIX = (
    "top10_orders_by_price",
    "pricing_summary",
    "gold_daily_topk_stats",
    "dedup_keep_latest_events",
    "event_funnel_stages",
    "exact_dedup_documents",
    "knn_bruteforce_cosine",
)
TRACE_EXTRAS = (
    "knn_lsh_bucketed",
    "stream_table_appends",
    "incremental_dedup_admission",
)
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
INGEST = "2024-07-01 00:00:00"  # fixed _ingested_at so reruns are identical


@dataclass
class Phase:
    """What one timed phase did."""

    units: list[float] = field(default_factory=list)  # wall seconds per unit
    cpu: list[float] = field(default_factory=list)  # CPU seconds per unit
    latencies: list[float] = field(default_factory=list)  # per operation
    rows: int = 0
    busy_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    notes: dict = field(default_factory=dict)


def dir_usage(paths) -> tuple[int, int]:
    """(files, bytes) under ``paths``."""
    files = size = 0
    for p in paths:
        for dirpath, _, names in os.walk(p):
            for n in names:
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


_TICK_S = 1.0 / os.sysconf("SC_CLK_TCK")
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # comm is cut at 15


def tree_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children's) of this
    process and every live descendant, the driver JVM and its Python
    workers, less the JVM's JIT compiler threads: compilation comes in
    bursts that would swamp a small unit of work."""
    parent, cpu = {}, {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                f = fh.read().rsplit(")", 1)[1].split()
        except OSError:  # exited meanwhile
            continue
        parent[int(entry)] = int(f[1])
        cpu[int(entry)] = sum(int(x) for x in f[11:15])
    tree, frontier = set(), {os.getpid()}
    while frontier:
        tree |= frontier
        frontier = {p for p, pp in parent.items() if pp in frontier} - tree
    ticks = sum(cpu.get(p, 0) for p in tree)
    for pid in tree:
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/stat") as fh:
                    head, _, tail = fh.read().rpartition(")")
            except OSError:
                continue
            if head.partition("(")[2].startswith(_JIT_THREADS):
                f = tail.split()
                ticks -= int(f[11]) + int(f[12])
    return ticks * _TICK_S


def _timed_units(seconds: float):
    """Yield once per unit of work until ``seconds`` have passed since the
    first unit started (at least one unit), so a run's length does not
    grow with a slower host or commit; metrics are medians over units."""
    end = time.perf_counter() + seconds
    yield
    while time.perf_counter() < end:
        yield


def _failed(what: str) -> None:
    """Report a failed operation with its traceback; the run goes on and
    counts it."""
    print(f"{what} failed:", file=sys.stderr)
    traceback.print_exc()


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _spans(tracer):
    """``tracer.span``, or a no-op stand-in when not tracing."""
    if tracer is None:
        return lambda layer, name: contextlib.nullcontext()
    return tracer.span


# ---------------------------------------------------------------------------
class QueryMix:
    """Closed loop, one client: passes over ``QUERY_MIX`` in a seeded
    order, each query through the ``noop`` sink."""

    name = "query_mix"

    def __init__(self, work, seed, seconds, tiny=False, trace=False):
        self.work, self.seed = work, seed
        self.sf_dir = os.path.join(work, "tables")
        self.queries = QUERY_MIX[:2] + QUERY_MIX[-2:] if tiny else QUERY_MIX
        self.extras = TRACE_EXTRAS if trace else ()
        self.bad: set[str] = set()
        self.extra: dict[str, float] = {}

    def prepare(self, spark) -> None:
        from high_volume_market_data_pipeline_spark.queries import QUERIES

        self.rows = datagen.write_tables(self.sf_dir, self.seed)
        _noop(QUERIES["distinct_order_priorities"](spark, self.sf_dir))

    def before(self, spark) -> None:
        """Check every timed query once; this pass also warms their plans."""
        self.bad = self._check(spark, self.queries)

    def _check(self, spark, names, tracer=None) -> set[str]:
        """Run each query once to pandas and compare it with its DuckDB
        oracle (or the bounded check for approximate rows) at this run's
        inputs; returns the queries that raised or differed."""
        import duckdb
        from verify_correctness import BOUNDED_CHECKS, canon

        from high_volume_market_data_pipeline_spark.queries import (
            ORACLE_SQL,
            QUERIES,
        )

        span = _spans(tracer)
        con = duckdb.connect()
        for t in TABLES:
            path = os.path.join(self.sf_dir, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        bad, recalls = set(), []
        for name in names:
            try:
                df = QUERIES[name](spark, self.sf_dir)
                with span("queries", "execute"):
                    got = df.toPandas()
                if name in ORACLE_SQL:
                    ok = canon(got) == canon(con.execute(ORACLE_SQL[name]).df())
                elif name in BOUNDED_CHECKS:
                    ok = BOUNDED_CHECKS[name](con, got)["ok"]
                else:
                    ok = len(got) > 0
                if name.startswith("knn_") and "recall_at_k" in got:
                    recalls.extend(got["recall_at_k"].astype(float))
                if name == "incremental_dedup_admission":
                    self.extra["dedup.admit_ratio"] = float(
                        (got["decision"] == "admitted").mean()
                    )
            except Exception:  # noqa: BLE001 - counted, reported
                _failed(f"check of {name}")
                bad.add(name)
                continue
            if not ok:
                print(f"check of {name}: output differs", file=sys.stderr)
                bad.add(name)
        con.close()
        if recalls:
            self.extra["similarity.mean_recall"] = sum(recalls) / len(recalls)
        return bad

    def measure(self, spark, seconds: float, tracer=None) -> Phase:
        from high_volume_market_data_pipeline_spark.queries import QUERIES

        span = _spans(tracer)
        rng = random.Random(self.seed)
        phase = Phase()
        per_query: dict[str, list[float]] = {}
        for _ in _timed_units(seconds):
            order = list(self.queries)
            rng.shuffle(order)
            t_pass, c_pass = time.perf_counter(), tree_cpu_s()
            for name in order:
                t0 = time.perf_counter()
                try:
                    df = QUERIES[name](spark, self.sf_dir)
                    with span("queries", "execute"):
                        _noop(df)
                    failed = name in self.bad
                except Exception:  # noqa: BLE001
                    _failed(name)
                    failed = True
                phase.latencies.append(time.perf_counter() - t0)
                per_query.setdefault(name, []).append(phase.latencies[-1])
                phase.attempted += 1
                phase.failed += failed
            phase.units.append(time.perf_counter() - t_pass)
            phase.cpu.append(tree_cpu_s() - c_pass)
            if tracer is not None:
                tracer.harvest()
        if tracer is not None:
            # the untimed tail, checked and traced once
            phase.attempted += len(self.extras)
            phase.failed += len(self._check(spark, self.extras, tracer))
            tracer.harvest()
        phase.busy_s = sum(phase.units)
        phase.rows = sum(self.rows.values()) * len(phase.units)
        phase.notes["query_median_s"] = {
            n: round(statistics.median(v), 4) for n, v in sorted(per_query.items())
        }
        return phase

    def sink_roots(self) -> list[str]:
        return [os.path.join(self.work, "tmp")]

    def source_bytes(self) -> int:
        return dir_usage([self.sf_dir])[1]


# ---------------------------------------------------------------------------
class MedallionBackfill:
    """One batch job at a time: generate → bronze → silver merge → Z-order
    → gold + CSV, each backfill into a fresh lake root."""

    name = "medallion_backfill"

    def __init__(self, work, seed, seconds, tiny=False, trace=False):
        self.work, self.seed = work, seed
        self.n_coins, self.days = (20, 2) if tiny else (100, 12)
        self.lakes: list[str] = []
        self.extra: dict[str, float] = {}

    def _source(self, spark, n_coins: int, days: int):
        from high_volume_market_data_pipeline_spark.sources.generator import (
            generate_market_data,
        )

        return generate_market_data(spark, n_coins=n_coins, days=days, seed=self.seed)

    def _backfill(self, spark, root: str) -> dict:
        from pyspark.sql import functions as F

        from high_volume_market_data_pipeline_spark.plans.medallion import (
            run_medallion,
        )

        return run_medallion(
            spark,
            self._source(spark, self.n_coins, self.days),
            root,
            ingestion_time=F.to_timestamp(F.lit(INGEST)),
        )

    def prepare(self, spark) -> None:
        _noop(self._source(spark, 20, 2))

    def before(self, spark) -> None:
        """One untimed backfill: the first one runs slower while the JIT
        compiles the plan's code paths."""
        root = os.path.join(self.work, "warm")
        self._backfill(spark, root)
        shutil.rmtree(root, ignore_errors=True)

    def measure(self, spark, seconds: float, tracer=None) -> Phase:
        phase = Phase()
        stage_s: dict[str, list[float]] = {}
        for lake in self.lakes:  # keep only the last phase's output on disk
            shutil.rmtree(lake, ignore_errors=True)
        self.lakes = []
        rows = self.n_coins * self.days * 24
        for _ in _timed_units(seconds):
            root = os.path.join(self.work, f"lake-{len(self.lakes)}")
            shutil.rmtree(root, ignore_errors=True)
            self.lakes.append(root)
            c0, t0 = tree_cpu_s(), time.perf_counter()
            try:
                stages = self._backfill(spark, root)
            except Exception:  # noqa: BLE001
                _failed("backfill")
                stages = None
            elapsed, cpu = time.perf_counter() - t0, tree_cpu_s() - c0
            try:
                ok = stages is not None and check_lake(
                    root, os.path.join(root, "bronze", "**", "*.parquet")
                )
            except Exception:  # noqa: BLE001
                _failed("check of backfill")
                ok = False
            phase.units.append(elapsed)
            phase.latencies.append(elapsed)
            phase.cpu.append(cpu)
            for stage, t in (stages or {}).items():
                stage_s.setdefault(stage, []).append(t)
            phase.busy_s += elapsed
            phase.rows += rows
            phase.attempted += 1
            phase.failed += not ok
            if tracer is not None:
                tracer.harvest()
        phase.notes["source_rows"] = rows
        phase.notes["stage_median_s"] = {
            k: round(statistics.median(v), 4) for k, v in stage_s.items()
        }
        return phase

    def sink_roots(self) -> list[str]:
        return list(self.lakes)

    def source_bytes(self) -> int:
        return sum(
            dir_usage([os.path.join(lake, "bronze")])[1] for lake in self.lakes
        )


def check_lake(root: str, source: str) -> bool:
    """A medallion lake against DuckDB over its source rows (``source`` is
    a parquet glob in the raw schema): silver holds each distinct source
    row once under unique keys, and the gold table and CSV report equal a
    top-10-by-volume-per-day recomputation."""
    import duckdb

    from high_volume_market_data_pipeline_spark.plans.medallion import (
        MedallionPaths,
    )

    paths = MedallionPaths(root)
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    lake = lambda p: f"read_parquet('{p}/**/*.parquet', hive_partitioning=1)"  # noqa: E731
    typed = """SELECT DISTINCT id, CAST(last_updated AS TIMESTAMP) AS lu,
                 total_volume, CAST(market_cap AS DECIMAL(20,2)) AS mc,
                 CAST(current_price AS DOUBLE) AS price FROM {}"""
    con.execute(f"CREATE VIEW src AS {typed.format(f'read_parquet({source!r})')}")
    con.execute(f"CREATE VIEW silver AS {typed.format(lake(paths.silver))}")
    n_src, n_keys = con.execute(
        "SELECT COUNT(*), COUNT(DISTINCT (id, lu)) FROM src").fetchone()
    n_silver, n_silver_keys = con.execute(
        f"SELECT COUNT(*), COUNT(DISTINCT (id, last_updated)) FROM {lake(paths.silver)}"
    ).fetchone()
    # silver holds the price as decimal(18,8); the engines may round a
    # double's last decimal place differently, hence the tolerance
    (n_same,) = con.execute(
        "SELECT COUNT(*) FROM src JOIN silver USING (id, lu, total_volume, mc)"
        " WHERE abs(src.price - silver.price) <= 1e-8"
    ).fetchone()
    want = con.execute(
        """SELECT d, CAST(SUM(mc) AS DOUBLE),
                  CAST(AVG(CAST(price AS DECIMAL(18,8))) AS DOUBLE) FROM (
             SELECT *, CAST(lu AS DATE) AS d, rank() OVER (
               PARTITION BY CAST(lu AS DATE) ORDER BY total_volume DESC) AS rk
             FROM src) WHERE rk <= 10 GROUP BY d ORDER BY d"""
    ).fetchall()
    cols = ("SELECT CAST(partition_date AS DATE), CAST(total_market_cap AS DOUBLE),"
            " CAST(avg_price AS DOUBLE) FROM {} ORDER BY 1")
    gold = con.execute(cols.format(lake(paths.gold))).fetchall()
    csv = con.execute(cols.format(f"read_csv_auto('{paths.report_csv}')")).fetchall()
    con.close()

    def same(a, b) -> bool:
        return len(a) == len(b) and all(
            x[0] == y[0]
            and abs(x[1] - y[1]) <= 1e-9 * abs(x[1])
            and abs(x[2] - y[2]) <= 1e-9 * abs(x[2])
            for x, y in zip(a, b)
        )

    return (
        n_src == n_keys == n_silver == n_silver_keys == n_same > 0
        and same(want, gold)
        and same(want, csv)
    )


# ---------------------------------------------------------------------------
class MarketFeed:
    """Open loop: a generator thread moves one tick file into the raw
    directory every ``INTERVAL_S`` seconds (atomic rename); the consumer
    runs ``run_streaming_medallion`` whenever unsynced ticks exist."""

    name = "market_feed"
    INTERVAL_S = 4.5  # ~1.2x the slowest sync seen on 4 cores (3.8 s)

    def __init__(self, work, seed, seconds, tiny=False, trace=False):
        self.work, self.seed = work, seed
        self.n_coins = 10 if tiny else 100
        self.n_ticks = max(3, math.ceil(seconds / self.INTERVAL_S))
        self.ticks_dir = os.path.join(work, "ticks")
        self.phases = 0
        self.extra: dict[str, float] = {}

    def prepare(self, spark) -> None:
        shutil.rmtree(self.ticks_dir, ignore_errors=True)
        datagen.write_ticks(self.ticks_dir, self.seed, self.n_ticks, self.n_coins)
        warm = os.path.join(self.work, "warm")
        shutil.rmtree(warm, ignore_errors=True)
        raw = os.path.join(warm, "raw")
        datagen.write_ticks(raw, self.seed, 2, 5)
        self._sync(spark, raw, os.path.join(warm, "lake"))

    def before(self, spark) -> None:
        pass

    def _sync(self, spark, raw: str, root: str) -> None:
        from pyspark.sql.types import StructType

        from high_volume_market_data_pipeline_spark.plans.streaming_medallion import (
            run_streaming_medallion,
        )

        schema = StructType.fromDDL(
            "id string, symbol string, name string, current_price double,"
            " market_cap bigint, total_volume bigint, last_updated string"
        )
        run_streaming_medallion(spark, raw, schema, root)

    def measure(self, spark, seconds: float, tracer=None) -> Phase:
        n_ticks = self.n_ticks
        base = os.path.join(self.work, f"feed-{self.phases}")
        self.phases += 1
        shutil.rmtree(base, ignore_errors=True)
        shutil.copytree(self.ticks_dir, os.path.join(base, "staged"))
        staged = sorted(glob.glob(os.path.join(base, "staged", "*.parquet")))
        raw, lake = os.path.join(base, "raw"), os.path.join(base, "lake")
        os.makedirs(raw)

        phase = Phase(rows=sum(_parquet_rows(p) for p in staged))
        arrived: list[float | None] = [None] * n_ticks
        t_start = time.perf_counter() + 0.05
        due = [t_start + i * self.INTERVAL_S for i in range(n_ticks)]

        def feed() -> None:
            for i, path in enumerate(staged):
                time.sleep(max(0.0, due[i] - time.perf_counter()))
                os.rename(path, os.path.join(raw, os.path.basename(path)))
                arrived[i] = time.perf_counter()

        gen = threading.Thread(target=feed, name="tick-generator")
        gen.start()
        fresh: list[float | None] = [None] * n_ticks
        backlog_max = 0
        deadline = t_start + n_ticks * self.INTERVAL_S + 120
        try:
            while None in fresh and time.perf_counter() < deadline:
                pending = [
                    i for i in range(n_ticks)
                    if arrived[i] is not None and fresh[i] is None
                ]
                if not pending:
                    time.sleep(0.01)
                    continue
                backlog_max = max(backlog_max, len(pending))
                c0, t0 = tree_cpu_s(), time.perf_counter()
                try:
                    self._sync(spark, raw, lake)
                    ok = True
                except Exception:  # noqa: BLE001
                    _failed("sync")
                    ok = False
                t1 = time.perf_counter()
                phase.units.append(t1 - t0)
                phase.cpu.append(tree_cpu_s() - c0)
                phase.busy_s += t1 - t0
                if ok:
                    for i in pending:
                        fresh[i] = t1 - due[i]
        finally:
            gen.join()
        if tracer is not None:
            tracer.harvest()
        phase.latencies = [f for f in fresh if f is not None]
        phase.attempted = n_ticks
        phase.failed = fresh.count(None)
        lateness = [a - d for a, d in zip(arrived, due) if a is not None]
        phase.notes.update(
            backlog_max_ticks=backlog_max,
            ticks=n_ticks,
            interval_s=self.INTERVAL_S,
            generator_late_max_s=round(max(lateness, default=0.0), 4),
        )
        if not phase.failed and not check_lake(lake, raw + "/*.parquet"):
            phase.failed = n_ticks
        return phase

    def sink_roots(self) -> list[str]:
        return [os.path.join(self.work, f"feed-{self.phases - 1}", "lake")]

    def source_bytes(self) -> int:
        return dir_usage([os.path.join(self.work, f"feed-{self.phases - 1}", "raw")])[1]


def _parquet_rows(path: str) -> int:
    import pyarrow.parquet as pq

    return pq.ParquetFile(path).metadata.num_rows


WORKLOADS = {w.name: w for w in (QueryMix, MedallionBackfill, MarketFeed)}
