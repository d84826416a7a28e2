"""MERGE upsert (K3), parquet-native.

Reference semantics (bronze_to_silver_crypto.py:96-108): Delta MERGE ON a
composite key, whenMatchedUpdateAll + whenNotMatchedInsertAll — i.e. the
source row wins for existing keys, new keys are inserted.

The merge algorithm is engine-native: union(target, source) → keep-latest
window dedup (source preferred via a precedence column, then ``order_col``
desc) → rewrite. That IS how a MERGE executes physically (a join/dedup
between target and source followed by a file rewrite); Delta's added value
is the transactional commit, which this package provides through the
manifest-log table (sinks/history.VersionedParquetTable — snapshot dirs +
atomic manifest rename, crash-safe by construction):

- ``merge_upsert_versioned`` — the PRIMARY transactional path: commits the
  merged state as the table's next version (operation="MERGE"), so history,
  time travel, restore, and vacuum all see the upsert like any other commit
  and a crashed merge can never corrupt the current version.
- ``merge_upsert`` — plain-directory variant for bare parquet paths, using
  the maintenance operators' park-then-promote double-rename swap (crash
  leaves either the old table or a recoverable ``__old_*`` copy, never a
  vacuum-able temp as the only copy).

``delta-spark`` is not installable in this environment (install attempts
are environment-prohibited; recorded in NOTES.md); a Delta MERGE branch
would be permanently-dead untestable code, so none is carried.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from high_volume_market_data_pipeline_spark.operators.dedup import dedup_keep_latest
from high_volume_market_data_pipeline_spark.sinks.history import (
    VersionedParquetTable,
)
from high_volume_market_data_pipeline_spark.sinks.maintenance import _swap_rewrite

_PRECEDENCE = "_merge_precedence"


def merged_state(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    order_col: str,
) -> DataFrame:
    """The MERGE result as a DataFrame: source wins on key collisions
    (whenMatchedUpdateAll), unmatched source rows append
    (whenNotMatchedInsertAll), unmatched target rows survive."""
    return dedup_keep_latest(
        target.withColumn(_PRECEDENCE, F.lit(0)).unionByName(
            source.withColumn(_PRECEDENCE, F.lit(1))
        ),
        keys,
        [F.desc(_PRECEDENCE), F.desc(order_col)],
    ).select(*source.columns)


def merge_upsert_versioned(
    source: DataFrame,
    table: VersionedParquetTable,
    keys: list[str],
    order_col: str,
    partition_by: str | None = None,
) -> int:
    """Transactional MERGE: commit the upserted state as ``table``'s next
    version; returns the committed version number. Readers keep seeing the
    previous version until the manifest rename lands (atomic), so a crashed
    merge leaves at worst an orphan snapshot dir for vacuum."""
    spark = source.sparkSession
    if not table.exists():
        return table.write(
            source, "MERGE", {"keys": keys, "initial": True}, partition_by
        )
    merged = merged_state(table.read(spark), source, keys, order_col)
    return table.write(merged, "MERGE", {"keys": keys}, partition_by)


def merge_upsert(
    source: DataFrame,
    target_path: str,
    keys: list[str],
    order_col: str,
    partition_by: str | None = None,
) -> None:
    """Upsert ``source`` into the plain parquet table at ``target_path`` on
    ``keys`` (``maintenance._swap_rewrite``'s crash-safe directory swap;
    for versioned history use ``merge_upsert_versioned``)."""
    if not os.path.exists(target_path):
        writer = source.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(target_path)
        return
    _swap_rewrite(
        source.sparkSession,
        target_path,
        lambda target: merged_state(target, source, keys, order_col),
        partition_by,
    )
