"""Batch writers (K1/K2/K4/K5).

Parity targets in the reference:
- K1 full overwrite + partitionBy: extract_crypto_data.py:215-224
- K2 partition-scoped overwrite (replaceWhere): extract_crypto_data.py:226-241
- K4 single-file CSV via pandas: silver_to_gold_crypto_stats.py:104-111
- K5 single-file CSV via coalesce+rename: fast_pipeline.py:46-52
"""

from __future__ import annotations

import glob
import os
import shutil

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_partitioned_overwrite(
    df: DataFrame, path: str, partition_by: str | list[str], fmt: str = "parquet"
) -> None:
    """K1: full-table overwrite, hive-style partition layout. Partition
    column choice is the scale lever — partition by a date-like column of
    O(days) cardinality, never by high-cardinality keys (small-file
    explosion; reference partitions only by partition_date, README.md:147)."""
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    df.write.mode("overwrite").partitionBy(*cols).format(fmt).save(path)


def write_partition_scoped_overwrite(
    df: DataFrame, path: str, partition_by: str | list[str], fmt: str = "parquet"
) -> None:
    """K2 (replaceWhere equivalent): overwrite ONLY the partitions present
    in ``df``; other partitions untouched, so the table accumulates history
    across runs. Implemented with Spark's dynamic partition-overwrite —
    unlike the reference's replaceWhere, no driver-side collect of the
    partition set is needed (extract_crypto_data.py:226-229's
    distinct().collect() round-trip disappears)."""
    cols = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*cols)
        .format(fmt)
        .save(path)
    )


def write_single_csv(
    df: DataFrame, path: str, via_pandas_max_rows: int = 100_000
) -> None:
    """K4/K5: single CSV file with header.

    Small results (≤ via_pandas_max_rows) go through Arrow → pandas (K4);
    larger ones use coalesce(1).write.csv + rename (K5) so the data never
    materializes on the driver. Both are final-report paths — a single
    file is inherently single-writer and only sane for small outputs.

    One bounded take, ``limit(n+1).toPandas()``, both sizes the input and
    collects it: at most n+1 rows reach the driver, and on a sorted input
    it plans as a single top-n job (TakeOrderedAndProject), with no range
    sample for the sort. Only when it comes back with more than n rows is
    the input computed again, by the K5 write."""
    head = df.limit(via_pandas_max_rows + 1).toPandas()
    if len(head) <= via_pandas_max_rows:
        head.to_csv(path, index=False)
        return
    tmp = path + "_tmpdir"
    df.coalesce(1).write.mode("overwrite").option("header", "true").csv(tmp)
    part = glob.glob(os.path.join(tmp, "part-*.csv"))[0]
    shutil.copy(part, path)
    shutil.rmtree(tmp)


def write_training_shards(
    df: DataFrame,
    path: str,
    key: str,
    n_shards: int,
    order_within_shard: str | None = None,
    max_records_per_file: int | None = None,
    fmt: str = "parquet",
) -> None:
    """Deterministic shard export for training data: rows land in shard
    ``pmod(hash(key), n_shards)`` regardless of input partitioning, so a
    re-run (or a resumed job) produces byte-stable shard membership — the
    property a data-loader checkpoint depends on.

    Plan shape: one hash repartition on the shard id (`repartition(n, col)`
    — rows with equal shard id colocate, one output task per shard), an
    optional within-partition sort (NOT a global orderBy: sortWithinPartitions
    adds no exchange, and loaders that stream a shard sequentially get
    locality e.g. by source or doc length), and ``maxRecordsPerFile`` to
    bound individual file sizes without another shuffle. At 100 TB the same
    call with n_shards ~ tens of thousands yields loader-sized files with
    no driver-side involvement."""
    shard = F.pmod(F.hash(F.col(key)), F.lit(n_shards)).alias("shard")
    out = df.withColumn("shard", shard).repartition(n_shards, "shard")
    if order_within_shard is not None:
        out = out.sortWithinPartitions(order_within_shard)
    writer = out.write.mode("overwrite").partitionBy("shard").format(fmt)
    if max_records_per_file is not None:
        writer = writer.option("maxRecordsPerFile", max_records_per_file)
    writer.save(path)
