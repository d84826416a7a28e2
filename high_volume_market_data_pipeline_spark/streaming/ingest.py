"""Streaming sources + the run-to-completion harness.

File-based `readStream` is the production pattern for replayable ingestion
(each micro-batch picks up newly-arrived files; `maxFilesPerTrigger`
throttles). `availableNow` processes the current backlog then stops —
giving deterministic end-state runs for the correctness gate.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from high_volume_market_data_pipeline_spark.session import scoped_conf

# State-store instances per stateful query: each partition pays a store
# open/commit/snapshot EVERY micro-batch, so state partitioning tracks
# STATE SIZE, not cluster cores (measured here: 96 partitions = 7.4 s,
# 8 partitions = 1.3 s for the same tiny aggregation). It is fixed at the
# first checkpoint for the life of the query.
_STATE_PARTITIONS = 8


def read_parquet_stream(
    spark: SparkSession,
    path: str,
    schema: StructType,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """File-stream over a parquet directory (streams require an explicit
    schema — no inference job at stream start)."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def run_to_memory_sink(
    sdf: DataFrame,
    output_mode: str = "complete",
    query_name: str | None = None,
) -> DataFrame:
    """Run a streaming DataFrame to completion (availableNow) into a memory
    sink; return the materialized result as a batch DataFrame. State runs
    on ``_STATE_PARTITIONS`` shuffle partitions, scoped to the run.

    Memory sink is a test/verification surface only — production sinks are
    foreachBatch/parquet (streaming/sink.py). The unique query name keeps
    repeated runs in one session from colliding.
    """
    spark = sdf.sparkSession
    name = query_name or f"q_{uuid.uuid4().hex[:12]}"
    with scoped_conf(
        spark, {"spark.sql.shuffle.partitions": str(_STATE_PARTITIONS)}
    ):
        q = (
            sdf.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return spark.table(name)


def read_socket_json_stream(
    spark: SparkSession,
    host: str,
    port: int,
    schema: StructType,
) -> DataFrame:
    """Socket source (SURVEY §2.10's third source variant): newline-
    delimited JSON over TCP, parsed to typed columns with ``from_json``.

    The socket source is a dev/debug tap — it is NOT replayable (a lost
    connection loses data) and runs single-receiver, so it never appears
    in a production path; file streams (replayable, parallel) and the
    custom paged_feed DataSource (offset-tracked) are the real ingestion
    tiers. It exists because a live tcpdump-style tap into a running
    query is genuinely useful at a terminal."""
    from pyspark.sql import functions as F

    raw = (
        spark.readStream.format("socket")
        .option("host", host)
        .option("port", port)
        .load()
    )
    return raw.select(
        F.from_json(F.col("value"), schema).alias("j")
    ).select("j.*")
