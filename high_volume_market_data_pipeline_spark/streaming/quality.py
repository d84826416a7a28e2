"""Streaming data-quality monitoring: the batch expectation operator
(operators/quality.check_expectations) applied per micro-batch through
foreachBatch, committing a violation ledger a dashboard or circuit-breaker
tails.

One batch function serves both worlds (the streaming/sink.py pattern): the
per-batch report is a handful of rows (one per rule), so the ledger commit
costs nothing next to the stream itself; gating logic (kill the stream or
quarantine a batch when a rule fails) belongs in the caller's handler via
``on_violation``. The ledger is a ``sinks/history.VersionedParquetTable``
committed once per batch id (``streaming/sink.append_batch``): a batch
whose hook failed the stream after its report committed replays on
restart without a second copy of its rows.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from high_volume_market_data_pipeline_spark.operators.quality import (
    check_expectations,
)
from high_volume_market_data_pipeline_spark.sinks.history import (
    VersionedParquetTable,
)
from high_volume_market_data_pipeline_spark.streaming.sink import (
    append_batch,
    foreach_batch_apply,
)


def monitor_expectations(
    sdf: DataFrame,
    rules: Mapping[str, Column],
    log_path: str,
    checkpoint: str,
    on_violation: Callable[[DataFrame, int], None] | None = None,
    trigger: Mapping[str, object] | None = None,
) -> StreamingQuery:
    """Evaluate ``rules`` on every micro-batch and commit one row per rule
    to the versioned ledger table at ``log_path`` (rule, n_rows,
    n_violations, passed, batch_id); read it with
    ``VersionedParquetTable(log_path).read(spark)``. ``on_violation`` (if
    given) is called with the failing rules frame and the batch id —
    raise there to fail the stream, or divert the batch to quarantine.

    ``trigger`` passes through to ``writeStream.trigger(**trigger)``:
    default ``{"availableNow": True}`` drains what's there and stops (the
    testable batch-equivalence mode); pass
    ``{"processingTime": "30 seconds"}`` to run as a long-lived continuous
    monitor."""
    ledger = VersionedParquetTable(log_path)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        # long, not the literal's int: an append rejects a retyped
        # column, and batch ids can outgrow int
        report = check_expectations(batch_df, rules).withColumn(
            "batch_id", F.lit(batch_id).cast("long")
        )
        report.persist()
        try:
            append_batch(ledger, report, batch_id, "EXPECTATIONS")
            if on_violation is not None:
                failing = report.filter(~F.col("passed"))
                if failing.limit(1).count() > 0:
                    on_violation(failing, batch_id)
        finally:
            report.unpersist()

    return foreach_batch_apply(sdf, handle, checkpoint, trigger)
