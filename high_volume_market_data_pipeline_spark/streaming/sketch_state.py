"""Streaming mergeable-sketch state: fold a stream into a persisted HLL
sketch table, one committed version per micro-batch.

This is the streaming twin of ``operators/sketches.py`` and the canonical
"live distinct-users dashboard" shape at 100 TB: the raw stream is never
retained — each micro-batch is rolled up to one HLL sketch per group and
UNIONED into a state table whose size is (groups × ~1.6 kB), regardless of
stream volume. Any later re-slice (daily → monthly, per-source → global)
is a union over the sketch table, never a replay of the stream.

Why foreachBatch + the versioned table, not a built-in streaming agg:
``hll_sketch_agg`` under ``update`` output mode would keep the sketch in
the state store, but the state is then private to one query and one
checkpoint — a separate dashboard query can't union it, and state-store
compaction owns its lifecycle. Persisting the sketch as a TABLE makes the
state a first-class queryable asset with history (sinks/history.py) —
the same "state you keep" argument as the batch sketch table.

Delivery semantics: HLL union is idempotent (a register keeps the MAX
rank seen — union(s, s) = s), so at-least-once redelivery of a batch
CANNOT corrupt the state: replaying the same data converges to the same
registers. That is exactly-once *effect* from at-least-once *delivery*,
for free, because the state is a join-semilattice — the property a
commutative/idempotent CRDT gives a distributed counter. Pinned in
tests/test_streaming.py by re-running a drained stream against the same
table and asserting identical estimates.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from high_volume_market_data_pipeline_spark.operators.sketches import (
    DEFAULT_LGK,
    hll_merge,
    hll_rollup,
)
from high_volume_market_data_pipeline_spark.sinks.history import (
    ConcurrentCommitError,
    VersionedParquetTable,
)
from high_volume_market_data_pipeline_spark.streaming.sink import (
    foreach_batch_apply,
)


def merge_commit_sketches(
    table: VersionedParquetTable,
    batch_sketches: DataFrame,
    group_cols: list[str],
    operation: str = "SKETCH_MERGE",
    parameters: dict | None = None,
    max_retries: int = 5,
) -> int:
    """Commit ``state ∪ batch_sketches`` as the table's next version,
    retrying on commit collision.

    The manifest commit is create-if-absent (history.py), so two writers
    sharing a table_root cannot silently drop each other's merge — the
    loser raises ConcurrentCommitError. HLL union makes that retryable
    with no coordination: re-read the NEW head (which already contains
    the winner's registers), re-union this batch, commit again. Because
    union is idempotent and commutative, any interleaving converges to
    the same registers — the retry loop turns the single-writer
    assumption into a liveness concern only (bounded by ``max_retries``),
    never a correctness one."""
    for attempt in range(max_retries + 1):
        spark = batch_sketches.sparkSession
        if table.exists():
            merged = hll_merge(
                table.read(spark).unionByName(batch_sketches), group_cols
            )
        else:
            merged = batch_sketches
        try:
            return table.write(
                merged, operation=operation, parameters=parameters
            )
        except ConcurrentCommitError:
            if attempt == max_retries:
                raise
    raise AssertionError("unreachable")


def stream_hll_state(
    sdf: DataFrame,
    group_cols: list[str],
    item_col: str,
    table_root: str,
    checkpoint: str,
    lgk: int = DEFAULT_LGK,
    trigger: dict | None = None,
    vacuum_keep: int | None = 8,
) -> StreamingQuery:
    """Fold ``sdf`` into the HLL sketch table at ``table_root``: per
    micro-batch, roll the batch up to one sketch per ``group_cols`` and
    commit state ∪ batch as the table's next version.

    The union reads the PREVIOUS version's files and writes a NEW version
    directory (manifest-log commit), so there is no read-modify-overwrite
    hazard on the path; a crash between write and manifest link leaves
    the previous version current — the classic log-then-data ordering.
    Two streams (or a stream plus maintenance) sharing a table_root are
    ALSO safe: the manifest commit is create-if-absent, so racing writers
    cannot silently drop each other's merge — the loser re-reads the new
    head and re-unions (merge_commit_sketches retry loop; sound because
    HLL union is idempotent/commutative).
    Shuffle per batch is sketch-sized: batch rows shuffle once for the
    rollup, the state side contributes |groups| rows.

    A commit per micro-batch means the version history grows with stream
    lifetime, so each commit also vacuums versions older than the newest
    ``vacuum_keep`` (sketch tables are tiny, but a per-30s-batch stream
    is ~2.9k versions/day of manifest + directory litter). Pass ``None``
    to keep every version (audit mode — the history IS the per-batch
    ledger then)."""
    table = VersionedParquetTable(table_root)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        batch_sketches = hll_rollup(batch_df, group_cols, item_col, lgk=lgk)
        merge_commit_sketches(
            table,
            batch_sketches,
            group_cols,
            parameters={"batch_id": batch_id, "item_col": item_col},
        )
        if vacuum_keep is not None:
            table.vacuum(keep_last=vacuum_keep)

    return foreach_batch_apply(sdf, handle, checkpoint, trigger)
