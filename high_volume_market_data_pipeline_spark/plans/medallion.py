"""Medallion pipeline assembly: Bronze → Silver → Gold.

Re-expresses the reference's production path (main_pipeline.py:248-320) as a
composition of the engine's named operators:

  Bronze (run_ingestion → extract_crypto_data.py:250-281):
      source rows → P3 enrichment → K2 partition-scoped overwrite
  Silver (run_bronze_to_silver → bronze_to_silver_crypto.py:121-150):
      P1 typed casts → W1 dedup keep-latest → K3 merge upsert
  Gold (run_silver_to_gold → silver_to_gold_crypto_stats.py:114-149):
      re-read silver from disk → L1 copartition → W2 rank top-K →
      P4 filter → A1 sum/avg → O1 sort → L2 compact → K1 write + CSV report

Differences from the reference, on purpose:
- partition-scoped overwrite uses dynamic partition-overwrite (no driver
  collect of the partition set, K2 note in sinks/writers.py);
- the maintenance step (compaction + clustering) is parquet-native
  (sinks/maintenance.py) since Delta is optional;
- every stage returns its DataFrame so tests can assert intermediate state;
- silver is not pinned in memory: the reference cached it to collect its
  partition set (main_pipeline.py:278-281), which this plan never needs,
  and Z-order and gold both re-read silver from disk, so a cache would
  only recompute the dedup pipeline to fill blocks nobody reads.
"""

from __future__ import annotations

import functools
import os
import time
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from high_volume_market_data_pipeline_spark.operators.aggregates import grouped_agg
from high_volume_market_data_pipeline_spark.operators.dedup import dedup_keep_latest
from high_volume_market_data_pipeline_spark.operators.layout import (
    compact_output,
    copartition_by,
)
from high_volume_market_data_pipeline_spark.operators.projection import (
    enrich_ingestion,
    project_cast,
)
from high_volume_market_data_pipeline_spark.operators.ranking import (
    rank_top_k_per_group,
)
from high_volume_market_data_pipeline_spark.sinks.maintenance import zorder_cluster
from high_volume_market_data_pipeline_spark.sinks.merge import merge_upsert
from high_volume_market_data_pipeline_spark.sinks.writers import (
    write_partition_scoped_overwrite,
    write_single_csv,
)

SILVER_CASTS = {
    # bronze_to_silver_crypto.py:68-70 type contract
    "last_updated": "timestamp",
    "current_price": "decimal(18,8)",
    "market_cap": "decimal(20,2)",
}


def retry(attempts: int = 3, backoff_s: float = 5.0) -> Callable:
    """M6: retry transient failures in table-service operations (reference
    main_pipeline.py:89-118 — concurrent-writer conflicts resolve on rerun).
    Re-raises the last error once attempts are exhausted."""

    def deco(fn: Callable) -> Callable:
        @functools.wraps(fn)
        def wrapped(*args, **kwargs):
            last: Exception | None = None
            for attempt in range(attempts):
                try:
                    return fn(*args, **kwargs)
                except Exception as e:  # noqa: BLE001 - rethrown after retries
                    last = e
                    if attempt < attempts - 1:
                        time.sleep(backoff_s)
            raise last  # type: ignore[misc]

        return wrapped

    return deco


@dataclass
class MedallionPaths:
    root: str

    @property
    def bronze(self) -> str:
        return os.path.join(self.root, "bronze", "market_snapshots")

    @property
    def silver(self) -> str:
        return os.path.join(self.root, "silver", "market_snapshots")

    @property
    def gold(self) -> str:
        return os.path.join(self.root, "gold", "market_stats")

    @property
    def report_csv(self) -> str:
        return os.path.join(self.root, "final_report.csv")


def run_bronze(
    source_df: DataFrame,
    paths: MedallionPaths,
    ingestion_time=None,
) -> DataFrame:
    """Enrich raw rows (P3) and land them partition-scoped (K2)."""
    enriched = enrich_ingestion(source_df, ingestion_time=ingestion_time)
    write_partition_scoped_overwrite(enriched, paths.bronze, "partition_date")
    return enriched


def run_silver(
    spark: SparkSession, paths: MedallionPaths, bronze_df: DataFrame | None = None
) -> DataFrame:
    """Typed projection (P1) → dedup keep-latest (W1) → merge upsert (K3).

    Like the reference (main_pipeline.py:266,272), the in-memory bronze
    DataFrame is reused when given; standalone runs re-read from disk."""
    bronze = (
        bronze_df
        if bronze_df is not None
        else spark.read.parquet(paths.bronze)
    )
    typed = project_cast(bronze, SILVER_CASTS)
    deduped = dedup_keep_latest(
        typed,
        ["id", "last_updated"],
        [F.desc("_ingested_at"), F.desc("symbol")],
    )
    merge_upsert(
        deduped,
        paths.silver,
        keys=["id", "last_updated"],
        order_col="_ingested_at",
        partition_by="partition_date",
    )
    return deduped


def _gold_stats(silver: DataFrame, top_k: int) -> DataFrame:
    """Per-day top-K-by-volume stats (W2+P4+A1+O1) — shared by the full
    and incremental gold paths, so both produce identical per-date rows."""
    co = copartition_by(silver, ["partition_date"])
    top = rank_top_k_per_group(
        co, ["partition_date"], [F.desc("total_volume")], k=top_k
    )
    return grouped_agg(
        top,
        ["partition_date"],
        [
            F.sum("market_cap").alias("total_market_cap"),
            F.avg("current_price").alias("avg_price"),
        ],
    ).orderBy("partition_date")


def _export_report(
    spark: SparkSession, paths: MedallionPaths, schema: StructType
) -> None:
    """CSV report of the WHOLE gold table, sorted by date. The re-read
    takes the schema the gold frame already has, so no footer job runs to
    infer it; the sort + bounded take is a single job (write_single_csv)."""
    write_single_csv(
        spark.read.schema(schema).parquet(paths.gold).orderBy("partition_date"),
        paths.report_csv,
    )


def run_gold(
    spark: SparkSession, paths: MedallionPaths, top_k: int = 10
) -> DataFrame:
    """Full gold rebuild → partitioned gold table + CSV report.

    Reads Silver FROM DISK (reference main_pipeline.py:291-294: gold
    benefits from the just-compacted files, not the pre-compaction cache).
    Gold is partitioned by partition_date so the incremental path
    (run_gold_incremental) can replace exactly the touched dates."""
    silver = spark.read.parquet(paths.silver)
    if silver.isEmpty():
        # P7 empty-input guard (silver_to_gold_crypto_stats.py:64-65):
        # empty-schema passthrough instead of a failing window/agg chain.
        empty = silver.select(
            F.col("partition_date"),
            F.lit(None).cast("decimal(38,2)").alias("total_market_cap"),
            F.lit(None).cast("double").alias("avg_price"),
        ).limit(0)
        empty.write.mode("overwrite").parquet(paths.gold)
        return empty
    gold = _gold_stats(silver, top_k)
    compact_output(gold).write.mode("overwrite").partitionBy(
        "partition_date"
    ).parquet(paths.gold)
    _export_report(spark, paths, gold.schema)
    return gold


def run_gold_incremental(
    spark: SparkSession,
    paths: MedallionPaths,
    dates: list,
    top_k: int = 10,
) -> DataFrame:
    """Partition-scoped gold refresh: recompute ONLY the given
    partition_dates and dynamic-partition-overwrite them in the gold
    table; untouched dates keep their existing files byte-for-byte.

    This is the scale upgrade over the reference, which rebuilds all of
    gold every run (silver_to_gold_crypto_stats.py:88-101): a daily sync
    touching 1 of 10,000 dates does 1/10,000th of the work — the silver
    read prunes to the touched partitions (isin filter on the partition
    column reaches the file listing), the window/agg run on that slice,
    and the write replaces only those directories. The CSV report still
    reflects the WHOLE table (one small re-read)."""
    if not dates:
        return spark.read.parquet(paths.gold).limit(0)
    silver = spark.read.parquet(paths.silver).filter(
        F.col("partition_date").isin(list(dates))
    )
    gold = _gold_stats(silver, top_k)
    write_partition_scoped_overwrite(
        compact_output(gold), paths.gold, "partition_date"
    )
    _export_report(spark, paths, gold.schema)
    return gold


def run_medallion(
    spark: SparkSession,
    source_df: DataFrame,
    root: str,
    optimize_silver: bool = True,
    ingestion_time=None,
) -> dict[str, float]:
    """Full pipeline with per-stage wall-clock (reference stage_timer,
    main_pipeline.py:63-83). Returns {stage: seconds}."""
    paths = MedallionPaths(root)
    timings: dict[str, float] = {}

    t0 = time.perf_counter()
    bronze = run_bronze(source_df, paths, ingestion_time=ingestion_time)
    timings["bronze"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    run_silver(spark, paths, bronze_df=bronze)
    timings["silver"] = time.perf_counter() - t0

    if optimize_silver:
        t0 = time.perf_counter()
        # M1 equivalent: cluster silver by the reference's Z-ORDER columns;
        # retried (M6) — table services are where concurrent-writer
        # conflicts surface, and they are safe to rerun.
        retry(attempts=3, backoff_s=1.0)(zorder_cluster)(
            spark,
            paths.silver,
            ["symbol", "current_price", "market_cap"],
            partition_by="partition_date",
        )
        timings["optimize"] = time.perf_counter() - t0

    t0 = time.perf_counter()
    run_gold(spark, paths)
    timings["gold"] = time.perf_counter() - t0
    return timings
