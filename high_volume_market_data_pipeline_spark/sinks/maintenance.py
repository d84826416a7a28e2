"""Table-maintenance operators (M1–M4) — parquet-native equivalents.

Reference targets: incremental OPTIMIZE + Z-ORDER (main_pipeline.py:124-183),
full-table compaction (delta_vacuum.py:48-75), VACUUM (delta_vacuum.py:27).

With Delta absent, the observable effects are reproduced on parquet:
- OPTIMIZE/compaction → rewrite with AQE-coalesced partitions (~128 MB
  targets, matching the reference's maxFileSize alignment)
- Z-ORDER → repartitionByRange + sortWithinPartitions on the cluster
  columns: parquet row-group min/max stats then give the same data-skipping
  effect for range predicates on those columns
- VACUUM → removal of orphaned temp dirs (parquet has no versioned
  files to expire; the swap-based rewrites — OPTIMIZE, Z-ORDER and the
  sinks.merge MERGE — leave only `__opt_*` temps and `__old_*` parked
  copies)
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def _swap_rewrite(
    spark: SparkSession, path: str, transform, partition_by: str | None = None
) -> None:
    df = spark.read.parquet(path)
    tmp = f"{path}__opt_{uuid.uuid4().hex[:8]}"
    writer = transform(df).write.mode("overwrite")
    if partition_by:
        writer = writer.partitionBy(partition_by)
    writer.parquet(tmp)
    # Crash-safe swap: park the old table aside BEFORE promoting the new
    # one and delete it only after the promotion rename succeeded. A crash
    # at any point leaves either the old table in place or the old copy in
    # ``__old_*`` — never a state where the ``__opt_*`` temp is the only
    # surviving copy (which vacuum_orphans would then delete: data loss).
    old = f"{path}__old_{uuid.uuid4().hex[:8]}"
    os.rename(path, old)
    try:
        os.rename(tmp, path)
    except OSError:
        os.rename(old, path)
        raise
    shutil.rmtree(old)


def compact_table(
    spark: SparkSession, path: str, partition_by: str | None = None
) -> None:
    """M3 equivalent: bin-pack small files (AQE coalesces the rewrite to
    ~advisory-size partitions; we just avoid introducing a shuffle key)."""
    _swap_rewrite(
        spark,
        path,
        lambda df: df.coalesce(max(1, _n_target(path))),
        partition_by,
    )


def zorder_cluster(
    spark: SparkSession,
    path: str,
    columns: list[str],
    partition_by: str | None = None,
    strategy: str = "zvalue",
    n_files: int | None = None,
) -> None:
    """M1/M2 equivalent: cluster data so row-group/file min-max stats skip
    for predicates on ``columns``. ``n_files`` pins the range-partition
    count (the OPTIMIZE file-size target); default lets AQE coalesce to
    advisory-size partitions — which at small volumes collapses to one
    file, correct for compaction but useless for measuring skipping.

    ``strategy="zvalue"`` (default for 2+ columns): range-cluster on the
    Morton interleave of the columns' bucket bits (functions/zorder), so
    EVERY clustered column gets file-level skipping — a lexicographic sort
    gives the trailing columns none (each file spans their full range; the
    test pins the difference). ``strategy="linear"`` keeps the plain
    range-partition + sort (equivalent for a single column, and what you
    want when one column dominates the predicates). Hive partitioning of
    the table (``partition_by``) is preserved; clustering applies within
    each hive partition."""
    use_z = strategy == "zvalue" and len(columns) > 1
    nf = [n_files] if n_files else []

    def transform(df):
        lead = [F.col(partition_by)] if partition_by else []
        if use_z:
            from high_volume_market_data_pipeline_spark.functions.zorder import (
                with_z_value,
            )

            z = with_z_value(df, columns)
            return z.repartitionByRange(*nf, *lead, F.col("__z")).sortWithinPartitions(
                *([partition_by] if partition_by else []), "__z"
            ).drop("__z")
        return df.repartitionByRange(
            *nf, *lead, *[F.col(c) for c in columns]
        ).sortWithinPartitions(*([partition_by] if partition_by else []), *columns)

    _swap_rewrite(spark, path, transform, partition_by)


def vacuum_orphans(path: str) -> int:
    """M4 equivalent: delete leftover temp dirs from interrupted
    merges/optimizes. Returns count removed.

    Safety: refuses to remove anything while the target table itself is
    missing — in that state a temp/parked dir may be the only surviving
    copy (interrupted swap) and deleting it would be data loss."""
    if not os.path.exists(path):
        return 0
    removed = 0
    for d in glob.glob(f"{path}__opt_*") + glob.glob(f"{path}__old_*"):
        shutil.rmtree(d, ignore_errors=True)
        removed += 1
    return removed


def _n_target(path: str, target_bytes: int = 128 * 1024 * 1024) -> int:
    total = sum(
        os.path.getsize(os.path.join(root, f))
        for root, _, files in os.walk(path)
        for f in files
    )
    return max(1, total // target_bytes)
