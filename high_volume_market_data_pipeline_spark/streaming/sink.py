"""Streaming sinks: foreachBatch upsert — the streaming analogue of the
reference's partition-scoped overwrite / MERGE (K2/K3,
extract_crypto_data.py:226-241, bronze_to_silver_crypto.py:96-108).

foreachBatch hands each micro-batch to a batch function, so the batch
sink library (sinks/) is reused verbatim — one upsert implementation for
both batch and streaming paths. ``foreach_batch_apply`` is the package's
one foreachBatch starter; ``append_batch`` is its one exactly-once
ledger commit.
"""

from __future__ import annotations

from collections.abc import Callable, Mapping, Sequence

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from high_volume_market_data_pipeline_spark.sinks import history


# The local property Spark sets on a streaming query's thread to the
# query's id (StreamExecution.QUERY_ID_KEY). In PySpark's default
# pinned-thread mode a foreachBatch function's calls into the JVM run on
# that thread, so the function reads the id there.
_QUERY_ID = "sql.streaming.queryId"


def append_batch(
    table: history.VersionedParquetTable,
    df: DataFrame,
    batch_id: int,
    operation: str,
) -> int | None:
    """Commit micro-batch ``batch_id`` of the running stream to ``table``
    exactly once; returns the committed version, or None for a replay.
    Call it from a foreachBatch function.

    The commit is a transaction of the stream's query id
    (``table.append``'s ``txn``, Delta's ``txnAppId``/``txnVersion``).
    The id is kept in the checkpoint: a restart on the same checkpoint
    replays a batch that committed before the stream failed to record
    it, and that replay commits nothing. A fresh checkpoint is a new
    query whose batch ids restart at 0, and all its batches commit. The
    fold is tiered at ``history.MAX_CHAIN``: a ledger is appended every
    batch and read rarely."""
    query_id = df.sparkSession.sparkContext.getLocalProperty(_QUERY_ID)
    if query_id is None:
        raise RuntimeError(
            "append_batch needs a running streaming query: call it from "
            "a foreachBatch function"
        )
    return table.append(
        df,
        operation,
        {"batch_id": batch_id},
        max_chain=history.MAX_CHAIN,
        tiered=True,
        txn=(query_id, batch_id),
    )


def foreach_batch_upsert(
    sdf: DataFrame,
    target_path: str,
    keys: Sequence[str],
    order_col: str,
    checkpoint: str,
    partition_by: str | None = None,
) -> StreamingQuery:
    """Upsert each micro-batch into a parquet target: latest row per key
    wins (merge_upsert's union+dedup+rewrite — the same observable
    semantics as a Delta MERGE; see sinks/merge.py)."""
    from high_volume_market_data_pipeline_spark.sinks.merge import merge_upsert

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        merge_upsert(
            batch_df,
            target_path,
            keys=list(keys),
            order_col=order_col,
            partition_by=partition_by,
        )

    return foreach_batch_apply(sdf, handle, checkpoint)


def foreach_batch_apply(
    sdf: DataFrame,
    fn: Callable[[DataFrame, int], None],
    checkpoint: str,
    trigger: Mapping[str, object] | None = None,
) -> StreamingQuery:
    """Start ``sdf`` with ``fn`` as its foreachBatch function; returns the
    started query. ``trigger`` passes through to
    ``writeStream.trigger(**trigger)``: the default
    ``{"availableNow": True}`` drains what is there and stops; pass
    ``{"processingTime": "30 seconds"}`` to run continuously."""
    return (
        sdf.writeStream.foreachBatch(fn)
        .option("checkpointLocation", checkpoint)
        .trigger(**(trigger or {"availableNow": True}))
        .start()
    )
