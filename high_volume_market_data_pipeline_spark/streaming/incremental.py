"""Streaming incremental near-dup admission — continuous-ingest corpus
dedup against the persisted SignatureStore.

The batch `dedup/incremental.py` path dedups one increment; a living
corpus ARRIVES as a stream. foreachBatch bridges the two: each
micro-batch runs the same admission (within-batch pairs → store probe →
signature append), and the admitted/rejected ledgers are
``sinks/history.VersionedParquetTable`` tables committed through
``streaming/sink.append_batch`` — the paged-feed exactly-once pattern: a
replayed batch recomputes the SAME decision set (dedup_increment with
``skip_existing_ids=True`` is a pure function of (store, batch):
self-pairs are excluded and signature appends are id-deduped, so
at-least-once delivery converges), and its ledger commit is skipped
because the ledger already records that batch id for the stream's query
id. A run on a fresh checkpoint is a new query: its batches all commit,
so a replay of old arrivals adds a second copy of their decisions.

At 100 TB the per-batch cost is exactly the batch path's: signature
compute ∝ batch size, one band-key equi-join against the store shipping
(key, sig) rows only — historical text is never re-read. State is the
store's versioned table (``sinks/history.VersionedParquetTable``), not
Spark state-store memory: each micro-batch's admitted signatures land as
one INCREMENT commit, so a batch that dies before its commit leaves the
store at the previous version and its replay starts from there.
Corpus-scale state survives restarts and is shared with the batch path.

No reference counterpart (beyond-reference extension): composes the
reference's streaming ingest discipline (extract_crypto_data.py's
checkpointed incremental pulls) with MinHash dedup.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from high_volume_market_data_pipeline_spark.dedup.incremental import (
    SignatureStore,
)
from high_volume_market_data_pipeline_spark.sinks.history import (
    VersionedParquetTable,
)
from high_volume_market_data_pipeline_spark.streaming.sink import (
    append_batch,
    foreach_batch_apply,
)

# Ledger micro-batches write at most this many files per batch.
# BENCH_CHAIN_r08 measured head-read cost LINEAR in file count (~2× at
# parallelism-width vs coalesced deltas) — the same trade index_store
# makes for its delta appends: batches are micro-batch-scale by
# contract, so capping the final write stage at 4 tasks costs nothing
# while each commit's dir stays ~4 files instead of shuffle-partition-
# many.
_LEDGER_MAX_FILES_PER_BATCH = 4


def read_ledger(spark: SparkSession, out_root: str, leaf: str) -> DataFrame:
    """Read an admission-ledger leaf (``admitted`` | ``rejected``). The
    schema comes from the table's manifest, so a leaf that never
    received a row still reads."""
    return VersionedParquetTable(f"{out_root}/{leaf}").read(spark)


def stream_incremental_dedup(
    sdf: DataFrame,
    store: SignatureStore,
    out_root: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    trigger: dict | None = None,
) -> StreamingQuery:
    """Admit a document stream against ``store``; returns the started
    query. Ledgers land as versioned tables at ``{out_root}/admitted``
    (full admitted rows) and ``{out_root}/rejected`` (doc_id,
    matched_id, est_jaccard, reason), both with a ``batch_id`` column
    and one commit per micro-batch; read them with ``read_ledger``.

    The store must exist (``bootstrap`` it first, possibly from an empty
    frame for a cold start); requiring that explicitly beats silently
    bootstrapping from whatever batch happens to arrive first."""
    spark = sdf.sparkSession
    if not store.exists(spark):
        raise ValueError(
            f"SignatureStore at {store.path} does not exist; bootstrap() "
            "it first (an empty corpus is a valid bootstrap)"
        )
    ledgers = {
        leaf: VersionedParquetTable(f"{out_root}/{leaf}")
        for leaf in ("admitted", "rejected")
    }

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        from high_volume_market_data_pipeline_spark.operators.layout import (
            data_scoped_shuffle,
        )

        # Batch-scope the shuffle sizing for the LEDGER WRITES too, with
        # the same data-sized rule dedup_increment applies internally
        # (guide §2.2): the admitted write anti-joins the micro-batch
        # against the checkpointed decision ledger, and planning it under
        # the session's cores×3 shuffle partitions pays ~30 empty task
        # launches per micro-batch for micro-batch-sized rows.
        with data_scoped_shuffle(spark, batch_df.rdd.getNumPartitions()):
            admitted, rejected = store.dedup_increment(
                batch_df,
                text_col=text_col,
                id_col=id_col,
                threshold=threshold,
                skip_existing_ids=True,
            )
            for df, leaf in ((admitted, "admitted"), (rejected, "rejected")):
                out = df.withColumn("batch_id", F.lit(batch_id).cast("long"))
                append_batch(
                    ledgers[leaf],
                    out.coalesce(_LEDGER_MAX_FILES_PER_BATCH),
                    batch_id,
                    leaf.upper(),
                )

    return foreach_batch_apply(sdf, handle, checkpoint, trigger)
