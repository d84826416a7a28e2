"""Session factory — the engine's tuned SparkSession builder.

Re-expresses the reference's session profile (reference
``src/config/spark_manager.py:119-285``): AQE on with partition coalescing and
skew-join handling, shuffle partitions sized to cores with a clamp, raised
broadcast threshold, UTC session timezone, Arrow enabled for the pandas
boundary. Scale rationale: on a real cluster these same knobs govern shuffle
fan-out and join strategy; locally they keep plans representative of what a
1000-executor run would produce (AQE re-plans per-stage from runtime stats).
"""

from __future__ import annotations

import os
import threading
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Reference clamps shuffle partitions to [8, 512] via cores × multiplier
# (spark_manager.py:43-68). We keep the same shape.
_SHUFFLE_MIN = 8
_SHUFFLE_MAX = 512
_SHUFFLE_MULTIPLIER = 3

# AQE advisory partition 128MB / min coalesce 64MB, broadcast 64MB — the
# reference's sizing constants (spark_manager.py:50,174-181,192).
_ADVISORY_PARTITION_BYTES = str(128 * 1024 * 1024)
_MIN_COALESCED_BYTES = str(64 * 1024 * 1024)
_BROADCAST_THRESHOLD = str(64 * 1024 * 1024)


def shuffle_partitions_for(cores: int, multiplier: int = _SHUFFLE_MULTIPLIER) -> int:
    """cores × multiplier clamped to [8, 512] (spark_manager.py:55-68)."""
    return max(_SHUFFLE_MIN, min(_SHUFFLE_MAX, cores * multiplier))


def build_session(
    app_name: str = "high-volume-market-data-pipeline-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build the engine SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32) so
    the same entry points run under the driver harness and on a cluster
    (where ``master`` is supplied by spark-submit and should be passed None
    with an already-set master, or explicitly).
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = shuffle_partitions_for(cpus)

    # In local mode the driver JVM IS the cluster; Spark's 1g default heap
    # is sized for a thin cluster driver, not for 32 executor threads plus
    # 64MB-threshold AQE broadcast builds (a broadcast hash relation costs
    # several times its on-wire size to build — at 10x data the default
    # heap dies in BroadcastExchangeExec before any real limit is hit).
    # Only effective when this process launches the JVM; on a real cluster
    # spark-submit owns the sizing and this conf is ignored.
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.driver.memory", driver_mem)
        .config("spark.driver.maxResultSize", "4g")
        # --- Adaptive execution (spark_manager.py:170-181) ---
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            _ADVISORY_PARTITION_BYTES,
        )
        .config(
            "spark.sql.adaptive.coalescePartitions.minPartitionSize",
            _MIN_COALESCED_BYTES,
        )
        # --- Shuffle / join sizing (spark_manager.py:43-68,192) ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.autoBroadcastJoinThreshold", _BROADCAST_THRESHOLD)
        # --- Determinism: UTC everywhere (data_generator.py:223-233 pins
        # the session TZ; we make it engine-wide per SURVEY §7.3) ---
        .config("spark.sql.session.timeZone", "UTC")
        # --- Arrow for the pandas boundary (pandas UDFs, toPandas) ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet scans: allow pruning+pushdown to do their job at scale.
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.files.maxPartitionBytes", _ADVISORY_PARTITION_BYTES)
        # TIMESTAMP(NANOS) parquet reads as long nanos (the vectorized
        # reader rejects it); catalog.normalize_event_ts truncates to micros.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Recursive-CTE guards stay at engine defaults: a blanket raise would
        # disarm the runaway backstop for EVERY recursion in the session.
        # Input-proportional recursions state their own bounds in the query
        # text (session_chains_recursive).
        # Quieter driver
        .config("spark.ui.enabled", "false")
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


_scope_lock = threading.Lock()
# (session, key) -> (value before the first live scope, [(scope, value)])
_live_scopes: dict = {}


@contextmanager
def scoped_conf(spark: SparkSession, settings: dict[str, str]) -> Iterator[None]:
    """Set ``settings`` in the session conf for the body, then put back what
    was there; a key with no explicit setting before is unset again.

    The package's only writer of ``spark.conf``. Scopes nest and may
    interleave across threads (``foreachBatch`` handlers run on callback
    threads): the newest live scope's value is in effect, and the last
    scope on a key to leave restores its baseline. Conf is session-wide,
    so a concurrent query plans under the newest scope. The lock covers
    only this bookkeeping and the conf writes, never a Spark action."""
    conf, jsession, token = spark.conf, spark._jsparkSession, object()
    try:
        with _scope_lock:
            for key, value in settings.items():
                baseline = conf.get(key, None)
                conf.set(key, value)
                live = _live_scopes.setdefault((jsession, key), (baseline, []))
                live[1].append((token, value))
        yield
    finally:
        with _scope_lock:
            for key in settings:
                if (jsession, key) not in _live_scopes:
                    continue  # entry failed at or before this key
                baseline, frames = _live_scopes[(jsession, key)]
                frames[:] = [f for f in frames if f[0] is not token]
                if frames:
                    conf.set(key, frames[-1][1])
                    continue
                del _live_scopes[(jsession, key)]
                if baseline is None:
                    conf.unset(key)
                else:
                    conf.set(key, baseline)


def build_metastore_session(
    metastore_root: str,
    app_name: str = "hvmdp-metastore",
    master: str | None = None,
) -> SparkSession:
    """K6 — session backed by a PERSISTENT Hive metastore (Derby).

    The reference registers external tables in Hive-on-Postgres
    (main_pipeline.py:189-218, spark_manager.py:214-240); Postgres is not
    available here, but Spark ships Hive support with an embedded Derby
    metastore, which gives the same observable contract: tables registered
    in one session are visible to LATER sessions pointing at the same
    ``metastore_root``. On a cluster, swap the Derby JDBC URL for the
    shared metastore service — the calling code does not change.
    """
    wh = os.path.join(metastore_root, "warehouse")
    db = os.path.join(metastore_root, "metastore_db")
    return build_session(
        app_name=app_name,
        master=master,
        extra_conf={
            "spark.sql.catalogImplementation": "hive",
            "spark.sql.warehouse.dir": wh,
            "javax.jdo.option.ConnectionURL": (
                f"jdbc:derby:;databaseName={db};create=true"
            ),
        },
    )


def job_mark(spark: SparkSession) -> int:
    """Id of the newest Spark job the driver has recorded, -1 before any.

    Count jobs as the difference of two marks, never as the size of the
    status store: the store keeps only ``spark.ui.retainedJobs`` jobs and
    trims the oldest in batches, so once a session has run that many its
    size stops growing. Job ids only grow. The listener bus is drained
    first, so the jobs (and stream progress) of an action that has just
    returned are already recorded."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def stop_session(spark: SparkSession) -> None:
    """Stop the session (reference force_stop, spark_manager.py:304-326)."""
    try:
        spark.stop()
    except Exception:
        pass
