"""Streaming vector-store ingestion: arriving embeddings are encoded with
the STORED model (PQ codebooks, IVF centroids, or both) and appended to
the persisted index — the continuous-ingest shape of a production vector
store (train once, add() forever, re-train offline when drift demands
it). All three persisted families (pq / ivf / ivf_pq) share one bridge.

foreachBatch bridges to ``index_store.append_to_*_index`` exactly the
way streaming dedup bridges to the batch SignatureStore: per-batch cost
is the batch path's (one encode pass over the batch + one id anti-join
against the coded table), state is the versioned parquet index itself —
corpus-scale state survives restarts and is shared with batch readers,
and every append is an atomic versioned commit (a searcher pinned to
version N never sees a half-written batch).

Replay safety: ``skip_existing_ids`` makes a replayed batch a no-op at
the id level, so at-least-once delivery converges — the ledger-style
batch_id partitioning is unnecessary here because the id set IS the
dedup key. Concurrent appenders are safe: ``append_to_pq_index``
CAS-commits at an explicit version derived from the coded head, so an
interleaved writer loses the commit race LOUDLY and the retry
re-derives its union from the winner's head (no lost update — pinned
by the interleaved-append test in tests/test_index_store.py). Only a
concurrent RE-TRAIN (save_pq_index) requires quiescing this stream
first — the FAISS offline-retrain contract.

No reference counterpart (beyond-reference ANN surface); composes the
reference's checkpointed incremental-pull discipline
(src/ingestion/extract_crypto_data.py) with the PQ index lifecycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from high_volume_market_data_pipeline_spark.similarity.index_store import (
    append_to_ivf_index,
    append_to_ivf_pq_index,
    append_to_pq_index,
    load_ivf_index,
    load_ivf_pq_index,
    load_pq_index,
)

# family -> (fail-fast loader, per-batch appender). One streaming bridge
# serves all three persisted-index families: the appenders already share
# the CAS/replay/absorption contract (index_store._commit_append), so the
# stream layer differs only in which encode rule each batch runs.
_FAMILIES = {
    "pq": (load_pq_index, append_to_pq_index),
    "ivf": (load_ivf_index, append_to_ivf_index),
    "ivf_pq": (load_ivf_pq_index, append_to_ivf_pq_index),
}


def stream_append_index(
    sdf: DataFrame,
    index_root: str,
    checkpoint: str,
    family: str = "pq",
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Append an embedding stream to the persisted index at ``index_root``;
    returns the started query. ``family`` picks the encode rule: ``pq``
    (codebook encode), ``ivf`` (nearest stored-centroid cell assignment —
    the storage-pruned family), ``ivf_pq`` (cell assignment + residual PQ).
    The index must exist (``build_*_index`` + ``save_*_index`` first) —
    requiring an explicit trained index beats silently fitting models on
    whatever batch arrives first, which would quantize/partition the whole
    corpus against a non-representative sample."""
    try:
        loader, appender = _FAMILIES[family]
    except KeyError:
        raise ValueError(
            f"unknown index family {family!r}; one of {sorted(_FAMILIES)}"
        ) from None
    spark = sdf.sparkSession
    # fail fast, not at first batch: loading validates both tables exist
    loader(spark, index_root)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        from high_volume_market_data_pipeline_spark.operators.layout import (
            data_scoped_shuffle,
        )

        # Batch-scope shuffle sizing + AQE for the append's encode + id
        # anti-join, as streaming/incremental.py's bridge does.
        with data_scoped_shuffle(spark, batch_df.rdd.getNumPartitions()):
            appender(
                spark,
                index_root,
                batch_df,
                vec_col=vec_col,
                id_col=id_col,
                skip_existing_ids=True,
            )

    trigger_kwargs = dict(trigger) if trigger else {"availableNow": True}
    return (
        sdf.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(**trigger_kwargs)
        .start()
    )


def stream_append_pq_index(
    sdf: DataFrame,
    index_root: str,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    trigger: dict | None = None,
) -> StreamingQuery:
    """PQ-family shorthand for ``stream_append_index`` (kept as the
    established call site name)."""
    return stream_append_index(
        sdf,
        index_root,
        checkpoint,
        family="pq",
        vec_col=vec_col,
        id_col=id_col,
        trigger=trigger,
    )
