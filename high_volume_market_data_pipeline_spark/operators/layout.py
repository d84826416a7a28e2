"""Physical-layout operators (SURVEY.md §2.8 L1–L3).

Parity targets: repartition("partition_date") so window + groupBy share one
exchange (silver_to_gold_crypto_stats.py:67-69); coalesce(1) on tiny outputs
(:145-146); cache+count lineage barrier (main_pipeline.py:273-274).
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from high_volume_market_data_pipeline_spark.session import scoped_conf


def copartition_by(df: DataFrame, columns: Sequence[str], n: int | None = None) -> DataFrame:
    """L1: hash-repartition on columns so subsequent window+agg on the same
    key run partition-local off one shuffle (Catalyst reuses the exchange)."""
    cols = [F.col(c) for c in columns]
    return df.repartition(n, *cols) if n else df.repartition(*cols)


def compact_output(df: DataFrame, n: int = 1) -> DataFrame:
    """L2: coalesce small final outputs to limit file count. Only for
    known-small results — coalesce(1) on a big result serializes the write."""
    return df.coalesce(n)


def materialize(df: DataFrame) -> DataFrame:
    """L3: cache + count barrier — break lineage so downstream stages don't
    recompute upstream (the reference's Silver pin, main_pipeline.py:273-274)."""
    df = df.cache()
    df.count()
    return df


@contextmanager
def data_scoped_shuffle(spark, input_partitions: int) -> Iterator[int]:
    """L4: size shuffle partitions to the DATA for an eager region below
    session scale; yields the partition count in effect.

    The target is ``max(8, min(session, input_partitions))``. Only when it
    is below the session's count are shuffle partitions lowered to it and
    AQE turned off, through ``session.scoped_conf``: with floor-sized
    shuffles nothing can skew, but under AQE every exchange runs as its
    own Spark job, and at micro-batch or model scale the per-job driver
    round-trip is the cost (the r13 lifecycle rows: 77→42 and 35→16 jobs
    per run). ``input_partitions`` is the input's own scan layout, so an
    input with session-scale splits leaves the conf untouched. Only wrap
    code that MATERIALIZES inside the region: a lazily returned frame
    plans under whatever conf its consumer runs with."""
    session = int(spark.conf.get("spark.sql.shuffle.partitions"))
    target = max(8, min(session, input_partitions))
    if target >= session:
        yield session
        return
    with scoped_conf(
        spark,
        {
            "spark.sql.shuffle.partitions": str(target),
            "spark.sql.adaptive.enabled": "false",
        },
    ):
        yield target


def ensure_parallelism(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Fan a narrow input out to at least ``min_partitions`` (default: the
    cluster's defaultParallelism) before CPU-dense per-row work.

    At scale this is a no-op — a 100 TB scan already yields thousands of
    input splits — but a small/single-file input otherwise pins an expensive
    expression stage (md5 shingling, feature extraction) to one core.
    """
    target = min_partitions or df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
