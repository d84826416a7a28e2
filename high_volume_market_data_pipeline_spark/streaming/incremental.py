"""Streaming incremental near-dup admission — continuous-ingest corpus
dedup against the persisted SignatureStore.

The batch `dedup/incremental.py` path dedups one increment; a living
corpus ARRIVES as a stream. foreachBatch bridges the two: each
micro-batch runs the same admission (within-batch pairs → store probe →
signature append), and the admitted/rejected ledgers land partitioned by
``batch_id`` with dynamic partition overwrite — the paged-feed
exactly-once pattern: a replayed batch recomputes the SAME decision set
(dedup_increment with ``skip_existing_ids=True`` is a pure function of
(store, batch): self-pairs are excluded and signature appends are
id-deduped, so at-least-once delivery converges) and overwrites its own
partition instead of double-appending.

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

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

from high_volume_market_data_pipeline_spark.dedup.incremental import (
    SignatureStore,
)

_SCHEMA_MARKER = "_ledger_schema.json"

# Ledger micro-batches write at most this many files per batch_id
# partition. BENCH_CHAIN_r08 measured head-read cost LINEAR in file
# count (~2× at parallelism-width vs coalesced deltas) — the same
# trade index_store makes for its delta appends: batches are
# micro-batch-scale by contract, so capping the final write stage at 4
# tasks costs nothing while a week of 30s batches (~20k partitions)
# stays ~4 files each instead of shuffle-partition-many.
_LEDGER_MAX_FILES_PER_BATCH = 4


def _hadoop_fs(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` through Spark's Hadoop conf — the
    marker must live on the SAME filesystem the ledger parquet lands on
    (s3a://, hdfs://, file://); driver-local ``os`` calls would write a
    literal 's3a:/...' directory on the driver's disk and every other
    reader would miss it."""
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs, hpath


def _ensure_schema_marker(df: DataFrame, leaf_dir: str) -> None:
    """Persist the leaf's schema once, so a leaf whose every micro-batch
    wrote zero rows (e.g. no rejections all run) is still readable —
    an all-empty partitioned parquet dir has no schema-bearing files and
    a plain ``spark.read.parquet`` fails with 'unable to infer schema'.
    Underscore-prefixed, so Spark's parquet scan ignores it."""
    spark = df.sparkSession
    fs, marker = _hadoop_fs(spark, f"{leaf_dir}/{_SCHEMA_MARKER}")
    if fs.exists(marker):
        return
    fs.mkdirs(marker.getParent())
    try:
        out = fs.create(marker, False)  # create-if-absent
    except Exception:
        if fs.exists(marker):  # lost a (harmless) race: same content
            return
        raise
    try:
        out.write(bytearray(df.schema.json().encode("utf-8")))
    finally:
        out.close()


def read_ledger(spark: SparkSession, out_root: str, leaf: str) -> DataFrame:
    """Read an admission-ledger leaf (``admitted`` | ``rejected``),
    tolerating a leaf that never received a row: schema comes from the
    marker the first micro-batch wrote."""
    path = f"{out_root}/{leaf}"
    fs, marker = _hadoop_fs(spark, f"{path}/{_SCHEMA_MARKER}")
    if fs.exists(marker):
        stream = fs.open(marker)
        try:
            raw = spark._jvm.org.apache.commons.io.IOUtils.toString(
                stream, "UTF-8"
            )
        finally:
            stream.close()
        schema = StructType.fromJson(json.loads(raw))
        return spark.read.schema(schema).parquet(path)
    return spark.read.parquet(path)


# Auto-compaction cadence for the admission ledgers: every this-many
# micro-batches the foreachBatch sink folds old batch_id partitions to
# one file each (compact_ledger below). 16 comes from the BENCH_CHAIN
# ledger curve: at ≤4 files/batch, 16 batches ≈ 64 files of read cost —
# past the point where the linear file-count penalty dominates — while a
# keep_last_batches=16 horizon keeps live/replayable partitions disjoint
# from the fold.
_LEDGER_COMPACT_EVERY = 16


def stream_incremental_dedup(
    sdf: DataFrame,
    store: SignatureStore,
    out_root: str,
    checkpoint: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    trigger: dict | None = None,
    compact_every_batches: int | None = _LEDGER_COMPACT_EVERY,
) -> StreamingQuery:
    """Admit a document stream against ``store``; returns the started
    query. Ledgers land at ``{out_root}/admitted`` (full admitted rows)
    and ``{out_root}/rejected`` (doc_id, matched_id, est_jaccard,
    reason), both partitioned by ``batch_id``.

    Every ``compact_every_batches`` micro-batches the sink ALSO folds
    ledger partitions older than that horizon to one file each
    (``compact_ledger``), so a long-lived stream never needs an operator
    to schedule ledger maintenance — running it inside foreachBatch is
    sequential with batch processing, and the horizon equals the cadence
    so a replayed batch can never target a partition mid-fold. Pass
    ``None`` to manage compaction externally.

    The store must exist (``bootstrap`` it first, possibly from an empty
    frame for a cold start); requiring that explicitly beats silently
    bootstrapping from whatever batch happens to arrive first."""
    spark = sdf.sparkSession
    if not store.exists(spark):
        raise ValueError(
            f"SignatureStore at {store.path} does not exist; bootstrap() "
            "it first (an empty corpus is a valid bootstrap)"
        )
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
                out = out.coalesce(_LEDGER_MAX_FILES_PER_BATCH)
                _ensure_schema_marker(out, f"{out_root}/{leaf}")
                # dynamic mode per-write: a replayed batch overwrites ONLY
                # its own batch_id partition (exactly-once ledger), without
                # flipping the session-wide overwrite default
                out.write.mode("overwrite").option(
                    "partitionOverwriteMode", "dynamic"
                ).partitionBy("batch_id").parquet(f"{out_root}/{leaf}")
                if (
                    compact_every_batches
                    and batch_id > 0
                    and batch_id % compact_every_batches == 0
                ):
                    compact_ledger(
                        spark,
                        out_root,
                        leaf,
                        keep_last_batches=compact_every_batches,
                    )

    trigger_kwargs = dict(trigger) if trigger else {"availableNow": True}
    return (
        sdf.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint)
        .trigger(**trigger_kwargs)
        .start()
    )


def compact_ledger(
    spark: SparkSession,
    out_root: str,
    leaf: str,
    keep_last_batches: int = 8,
) -> dict:
    """File-compact old ledger partitions to ONE file each — the ledger's
    absorption bound. Every micro-batch adds a ``batch_id=N`` partition
    (up to ``_LEDGER_MAX_FILES_PER_BATCH`` files), so a long-lived stream
    grows the ledger's file count without limit and read cost is linear
    in files (BENCH_CHAIN); this folds everything older than the newest
    ``keep_last_batches`` partitions down to one file per partition,
    IN PLACE (partition values unchanged — a replayed batch still
    overwrites exactly its own partition, so exactly-once ledger
    semantics survive compaction).

    Crash-safe: dynamic partition overwrite publishes at job commit, so
    an aborted compaction leaves the original files; a partially applied
    one (some partitions swapped) is content-identical and a rerun
    converges. The rewrite reads only the target partitions (pushed
    PartitionFilters) through localCheckpoint — Spark refuses to
    overwrite a path it is concurrently reading, and old ledger
    partitions are micro-batch-sized by construction. Run it from
    maintenance, not concurrently with a stream that may still REPLAY
    one of the target partitions — the keep_last_batches horizon exists
    to keep live and compacted partitions disjoint.

    Returns {"compacted_partitions", "files_before", "files_after"}."""
    path = f"{out_root}/{leaf}"
    fs, root = _hadoop_fs(spark, path)
    stats = {"compacted_partitions": 0, "files_before": 0, "files_after": 0}
    if not fs.exists(root):
        return stats

    def parquet_files(p) -> int:
        return sum(
            1
            for st in fs.listStatus(p)
            if st.getPath().getName().endswith(".parquet")
        )

    part_files: dict[int, int] = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if st.isDirectory() and name.startswith("batch_id="):
            part_files[int(name.split("=", 1)[1])] = parquet_files(st.getPath())
    horizon = set(sorted(part_files)[-keep_last_batches:]) if part_files else set()
    targets = sorted(
        b for b, n in part_files.items() if b not in horizon and n > 1
    )
    if not targets:
        return stats
    stats["files_before"] = sum(part_files[b] for b in targets)
    df = (
        read_ledger(spark, out_root, leaf)
        .filter(F.col("batch_id").isin(targets))
        .localCheckpoint(eager=True)  # cut lineage: source == sink path
    )
    (
        df.repartition("batch_id")  # one task per value → one file per dir
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(path)
    )
    stats["compacted_partitions"] = len(targets)
    stats["files_after"] = sum(
        parquet_files(_hadoop_fs(spark, f"{path}/batch_id={b}")[1])
        for b in targets
    )
    return stats
