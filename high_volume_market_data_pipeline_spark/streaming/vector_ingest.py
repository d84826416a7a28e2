"""Streaming vector-store ingestion: arriving embeddings are encoded with
the STORED model (PQ codebooks, IVF centroids, or both) and appended to
the persisted index — the continuous-ingest shape of a production vector
store (train once, add() forever, re-train offline when drift demands
it). The family comes from the stored model (``index_store``), so one
bridge serves pq, ivf and ivf_pq indexes.

foreachBatch bridges to ``index_store.append_to_index`` exactly the
way streaming dedup bridges to the batch SignatureStore: per-batch cost
is the batch path's (one encode pass over the batch + one id anti-join
against the coded table), state is the versioned parquet index itself —
corpus-scale state survives restarts and is shared with batch readers,
and every append is an atomic versioned commit (a searcher pinned to
version N never sees a half-written batch).

Replay safety: ``skip_existing_ids`` makes a replayed batch a no-op at
the id level, so at-least-once delivery converges — the ledgers'
once-per-batch-id commit (``streaming/sink.append_batch``) is
unnecessary here because the id set IS the dedup key. Concurrent
appenders are safe: ``append_to_index`` CAS-commits at an explicit
version derived from the coded head, so an interleaved writer loses the
commit race LOUDLY and the retry re-derives its union from the winner's
head (no lost update — pinned by the interleaved-append test in
tests/test_index_store.py). Only a concurrent RE-TRAIN (save_index)
requires quiescing this stream first — the FAISS offline-retrain
contract.

No reference counterpart (beyond-reference ANN surface); composes the
reference's checkpointed incremental-pull discipline
(src/ingestion/extract_crypto_data.py) with the PQ index lifecycle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from high_volume_market_data_pipeline_spark.similarity.index_store import (
    append_to_index,
    load_index,
)
from high_volume_market_data_pipeline_spark.streaming.sink import (
    foreach_batch_apply,
)


def stream_append_index(
    sdf: DataFrame,
    index_root: str,
    checkpoint: str,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    trigger: dict | None = None,
) -> StreamingQuery:
    """Append an embedding stream to the persisted index at ``index_root``;
    returns the started query. Each batch is encoded with the rule the
    stored model makes (``index_store.append_to_index``). The index must
    exist (``build_*_index`` + ``save_index`` first) — requiring an
    explicit trained index beats silently fitting models on whatever
    batch arrives first, which would quantize/partition the whole corpus
    against a non-representative sample."""
    spark = sdf.sparkSession
    # fail fast, not at first batch: loading validates both tables exist
    load_index(spark, index_root)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        from high_volume_market_data_pipeline_spark.operators.layout import (
            data_scoped_shuffle,
        )

        # Batch-scope shuffle sizing + AQE for the append's encode + id
        # anti-join, as streaming/incremental.py's bridge does.
        with data_scoped_shuffle(spark, batch_df.rdd.getNumPartitions()):
            append_to_index(
                spark,
                index_root,
                batch_df,
                vec_col=vec_col,
                id_col=id_col,
                skip_existing_ids=True,
            )

    return foreach_batch_apply(sdf, handle, checkpoint, trigger)
