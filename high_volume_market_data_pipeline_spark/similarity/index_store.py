"""Persist / reload ANN indexes through the versioned table store.

The build functions in ``similarity.knn`` return in-session indexes: the
driver-side model arrays (centroids / codebooks) live in the NamedTuple
and the coded corpus table is a localCheckpoint — both die with the
SparkSession. The 100 TB contract is FAISS's: train/encode ONCE, search
from any number of later sessions. This module writes each index as two
(or three) ``VersionedParquetTable``s under one root —

    {root}/model   — the driver-side arrays flattened to rows
                     (cell, centroid) and/or (subspace, code, vec)
    {root}/coded   — the full coded corpus table, unchanged schema

— so an index update is a new VERSION (history/time-travel/vacuum apply
verbatim: a nightly re-encode commits atomically while readers keep the
old version), and ``load_index`` rebuilds the exact NamedTuple in a
fresh session. Model tables are a few thousand rows (n_cells + m·k) —
collect is metadata-scale by construction; the coded table is never
collected, it is read as parquet like any corpus.

The family is never named by a caller: ``save_index``, ``load_index``
and ``append_to_index`` read it from which model arrays exist
(``_family``) — centroids alone are IVF (coded table partitioned by
cell), codebooks alone are PQ, both are IVF-PQ — so a caller cannot
append with a rule that disagrees with the stored model.

No reference counterpart (beyond-reference ANN surface); the versioned
commit machinery is sinks/history.py's Delta-emulation layer.
"""

from __future__ import annotations

import os

import numpy as np

from pyspark.sql import DataFrame, SparkSession

from high_volume_market_data_pipeline_spark.similarity.knn import (
    IVFIndex,
    IVFPQIndex,
    PQIndex,
    _corpus,
    _encode,
)
from high_volume_market_data_pipeline_spark.sinks.history import (
    MAX_CHAIN,
    ConcurrentCommitError,
    VersionedParquetTable,
)
from high_volume_market_data_pipeline_spark.sinks.table_format import (
    parquet_files,
)


def _save_model_arrays(
    spark: SparkSession,
    root: str,
    operation: str,
    parameters: dict,
    centroids: "np.ndarray | None" = None,
    codebooks: "np.ndarray | None" = None,
    version: int | None = None,
) -> int:
    """One model table holds both array kinds, discriminated by ``part``:
    centroid rows are (part='centroid', i=cell, j=0, vec), codebook rows
    are (part='codebook', i=subspace, j=code, vec)."""
    rows = []
    if centroids is not None:
        rows += [
            ("centroid", int(i), 0, [float(x) for x in centroids[i]])
            for i in range(len(centroids))
        ]
    if codebooks is not None:
        m, n_codes, _ = codebooks.shape
        rows += [
            ("codebook", j, c, [float(x) for x in codebooks[j, c]])
            for j in range(m)
            for c in range(n_codes)
        ]
    df = spark.createDataFrame(
        rows, "part string, i int, j int, vec array<double>"
    )
    return VersionedParquetTable(os.path.join(root, "model")).write(
        df, operation, parameters, version=version
    )


def _load_model_arrays(
    spark: SparkSession, root: str, version: int | None = None
) -> tuple["np.ndarray | None", "np.ndarray | None"]:
    """Model arrays are metadata-scale BY CONTRACT (n_cells + m·k rows —
    see module docstring), so read them on the DRIVER with pyarrow
    straight from the manifest's data dirs instead of running a Spark
    read + collect job: the append path calls this once per micro-batch,
    and the Spark job it replaces was pure orchestration overhead (~0.3 s
    per append locally; a scheduler round-trip per batch on a cluster —
    guide §1.2, remove work outright). Byte-identical result: the same
    parquet files the Spark scan would read, no filter, no projection
    beyond the four columns."""
    import pyarrow.parquet as pq

    t = VersionedParquetTable(os.path.join(root, "model"))
    m = t._resolve(version, None)
    rows: list[dict] = []
    for d in m["data_dirs"]:
        for f in parquet_files(d):
            rows.extend(
                pq.read_table(f, columns=["part", "i", "j", "vec"]).to_pylist()
            )
    cent_rows = sorted(
        ((r["i"], r["vec"]) for r in rows if r["part"] == "centroid")
    )
    cb_rows = sorted(
        ((r["i"], r["j"], r["vec"]) for r in rows if r["part"] == "codebook")
    )
    centroids = (
        np.asarray([v for _, v in cent_rows], dtype=np.float64)
        if cent_rows
        else None
    )
    codebooks = None
    if cb_rows:
        m = cb_rows[-1][0] + 1
        n_codes = cb_rows[-1][1] + 1
        dsub = len(cb_rows[0][2])
        codebooks = np.empty((m, n_codes, dsub), dtype=np.float64)
        for i, j, v in cb_rows:
            codebooks[i, j] = v
    return centroids, codebooks


def _load_coded(spark: SparkSession, root: str, version: int | None = None):
    """The coded corpus at ``version`` MINUS tombstoned ids (see
    ``delete_from_index``): every loader/search and the append-side
    ``skip_existing_ids`` anti-join observe deletions through this one
    choke point, so a deleted id can neither surface as a neighbor nor
    block its own re-insertion."""
    coded = VersionedParquetTable(os.path.join(root, "coded")).read(
        spark, version=version
    )
    dead = _active_tombstones(spark, root)
    if dead is not None:
        coded = coded.join(dead, "neighbor_id", "left_anti")
    return coded


def _tombstone_table(root: str) -> VersionedParquetTable:
    return VersionedParquetTable(os.path.join(root, "tombstones"))


def _active_tombstones(spark: SparkSession, root: str):
    """Currently-deleted ids as a (neighbor_id) DataFrame, or None when
    the index has never seen a delete OR every delete has been purged.
    The tombstone table holds each deleted id once, so its ``row_count``
    (the head manifest's ``n_rows``) is the active-tombstone count, and
    the empty case — a long-lived index after purge_deleted — is a
    metadata probe, not a read + anti-join on every search forever."""
    t = _tombstone_table(root)
    if not t.exists() or t.row_count(spark) == 0:
        return None
    return t.read(spark)


_TOMBSTONE_RETRIES = 5


def delete_from_index(spark: SparkSession, root: str, ids) -> int:
    """FAISS ``remove_ids`` for the persisted index, tombstone-style: the
    ids land in a small versioned ``{root}/tombstones`` table and every
    load/search anti-joins them out (``_load_coded``), so a delete is
    O(deleted ids) — never a rewrite of a 100M-vector corpus. The rows
    stay physically present until ``purge_deleted`` (compaction-time
    filter, matching the chain-absorption design); re-appending a
    tombstoned id clears its tombstone (``append_to_index``).

    ``ids``: a DataFrame whose FIRST column is the id, or an iterable of
    ints. Returns the committed tombstone-table version.

    Re-insertion: a tombstoned id whose rows are still physical is
    treated as EXISTING by skip_existing_ids appends (appending it is a
    no-op and it stays deleted) — run ``purge_deleted`` first to make it
    re-insertable; a tombstone naming an id with NO physical rows clears
    automatically when that id commits.

    Scope note: tombstones are a property of the INDEX HEAD — a reader
    pinned to an old coded version still sees current deletions, and a
    purge resets the table, so version-pinned time travel across a purge
    can resurrect; FAISS offers no time travel at all, and the versioned
    store here exists for atomic updates, not deletion history."""
    from pyspark.sql import functions as F

    if isinstance(ids, DataFrame):
        dead = ids.select(
            F.col(ids.columns[0]).cast("long").alias("neighbor_id")
        ).distinct()
    else:
        dead = spark.createDataFrame(
            [(int(i),) for i in ids], "neighbor_id long"
        ).distinct()
    t = _tombstone_table(root)
    # CAS-pinned read-modify-append: every tombstone mutation (delete /
    # revive / purge-reset) derives from an explicit head version and
    # commits at head+1, so a racer — an append's _clear_tombstones_for
    # rewriting the set concurrently — raises ConcurrentCommitError here
    # instead of being silently overwritten by a version recomputed
    # after its commit (the lost-delete race).
    for _ in range(_TOMBSTONE_RETRIES):
        if not t.exists():
            try:
                return t.write(dead, "DELETE_IDS", version=0)
            except ConcurrentCommitError:
                continue
        head_v = t.latest_version()
        # id-dedup against the current set: repeated deletes idempotent,
        # and the table keeps one row per deleted id
        fresh = dead.join(
            t.read(spark, version=head_v), "neighbor_id", "left_anti"
        )
        try:
            return t.append(
                fresh,
                "DELETE_IDS",
                version=head_v + 1,
                parent_version=head_v,
                max_chain=MAX_CHAIN,
            )
        except ConcurrentCommitError:
            continue
    raise ConcurrentCommitError(
        f"delete_from_index at {root} lost {_TOMBSTONE_RETRIES} "
        "consecutive tombstone commit races"
    )


def purge_deleted(spark: SparkSession, root: str) -> int | None:
    """Physically drop tombstoned rows: commit coded-minus-tombstones as
    a new full snapshot (hive layout preserved), re-pair the model at the
    same version, and reset the tombstone table to an empty snapshot —
    ``_active_tombstones`` short-circuits on its zero ``row_count``, so
    searches after a purge pay a metadata probe, not a read + anti-join
    against an empty table. Returns the new paired version, or None if
    the index has no active tombstones. Like a re-train, a purge must not
    run concurrently with appenders (it is a maintenance-window
    operation; the same quiescing contract as save_index) — the append
    path's auto-purge honors that by running purge post-commit and
    treating a lost commit race as "skip, retry at a later append" (see
    ``_maybe_auto_purge``)."""
    t = _tombstone_table(root)
    if not t.exists():
        return None
    tomb_v = t.latest_version()
    if t.row_count(spark, version=tomb_v) == 0:
        return None
    dead = t.read(spark, version=tomb_v)
    model_v, coded_head, target = _paired_versions(root)
    coded_t = VersionedParquetTable(os.path.join(root, "coded"))
    head_m = coded_t._resolve(coded_head, None)
    kept = coded_t.read(spark, version=coded_head).join(
        dead, "neighbor_id", "left_anti"
    )
    coded_t.write(
        kept,
        "PURGE_DELETED",
        {"purged_from": coded_head},
        partition_by=head_m["partition_by"],
        version=target,
    )
    # Model arrays are unchanged by a purge: re-pair with a manifest-only
    # commit referencing the paired version's files (pre-r12 this was a
    # collect + re-write round trip of identical content).
    VersionedParquetTable(os.path.join(root, "model")).commit_ref(
        "PURGE_DELETED", {}, version=target, parent_version=model_v
    )
    # Reset the tombstone table. The purged coded snapshot is ALREADY
    # committed above, so losing this CAS to a concurrent
    # delete_from_index must not leave the purged ids counted (an
    # inflated tombstone count would re-fire auto-purge's O(corpus)
    # rewrite on every later append until a reset finally landed):
    # re-derive the reset against the NEW tombstone head as (new head ids
    # minus the just-purged set) — the racer's fresh deletes survive, the
    # purged ids retire — and retry the CAS.
    remaining = dead.limit(0)
    reset_v = tomb_v + 1
    for _ in range(_TOMBSTONE_RETRIES):
        try:
            t.write(remaining, "PURGE_RESET", version=reset_v)
            return target
        except ConcurrentCommitError:
            head_v = t.latest_version()
            remaining = t.read(spark, version=head_v).join(
                dead, "neighbor_id", "left_anti"
            )
            reset_v = head_v + 1
    raise ConcurrentCommitError(
        f"purge_deleted at {root}: the purged coded snapshot committed "
        f"at version {target} but the tombstone reset lost "
        f"{_TOMBSTONE_RETRIES} consecutive commit races; re-run "
        "purge_deleted (or any append) to retire the stale tombstones"
    )


# Auto-purge threshold: when active tombstones exceed this fraction of
# the physical coded corpus, the append path triggers purge_deleted
# post-commit (the ledger-auto-compaction template: maintenance amortized
# into the write path so a long-lived index never pays the search-time
# anti-join forever, and purge cost stays O(corpus) at a bounded
# dead-fraction). The check is METADATA-ONLY: tombstone count and corpus
# size are both ``row_count``s, the head manifests' ``n_rows`` (recorded
# from parquet footers at commit time) — no Spark scan on the hot append
# path.
_AUTO_PURGE_TOMBSTONE_FRACTION = 0.1


def _maybe_auto_purge(spark: SparkSession, root: str) -> "int | None":
    """Run ``purge_deleted`` when the active-tombstone fraction crosses
    ``_AUTO_PURGE_TOMBSTONE_FRACTION``. Called from the append commit
    path AFTER the append landed, so the purge races only the NEXT
    commit: a lost CAS means another appender advanced the index first —
    skip, and the threshold fires again on a later append."""
    t = _tombstone_table(root)
    if not t.exists():
        return None
    n_dead = t.row_count(spark)
    if n_dead == 0:
        return None
    _, coded_head, _ = _paired_versions(root)
    n_corpus = VersionedParquetTable(os.path.join(root, "coded")).row_count(
        spark, version=coded_head
    )
    if n_dead < _AUTO_PURGE_TOMBSTONE_FRACTION * max(n_corpus, 1):
        return None
    try:
        return purge_deleted(spark, root)
    except ConcurrentCommitError:
        return None  # a rival commit owns the next version; retry later


def _clear_tombstones_for(spark: SparkSession, root: str, delta) -> None:
    """Ids that actually COMMITTED in ``delta`` must not stay hidden by a
    stale tombstone (a tombstone can name an id with no physical rows —
    deleted-then-purged, or never present). With skip_existing_ids the
    delta already excludes tombstoned-but-still-physical ids, so this
    never resurrects an old row next to a new one. No-op (one metadata
    probe) when the index has never seen a delete; when it has, one
    semi-join decides whether a rewrite is needed — tombstone tables are
    deleted-id-sized, appends micro-batch-sized. The rewrite is
    CAS-pinned to the snapshot it was derived from: a concurrent
    delete_from_index landing first forces a re-derive here, so its ids
    can never be dropped by a stale filtered set committed after it."""
    t = _tombstone_table(root)
    if not t.exists():
        return
    ids = delta.select("neighbor_id").distinct()
    for _ in range(_TOMBSTONE_RETRIES):
        head_v = t.latest_version()
        cur = t.read(spark, version=head_v)
        if cur.join(ids, "neighbor_id", "left_semi").limit(1).count() == 0:
            return
        kept = cur.join(ids, "neighbor_id", "left_anti")
        try:
            t.write(kept, "REVIVE_IDS", version=head_v + 1)
            return
        except ConcurrentCommitError:
            continue
    raise ConcurrentCommitError(
        f"tombstone revive at {root} lost {_TOMBSTONE_RETRIES} "
        "consecutive commit races"
    )


_APPEND_RETRIES = 5


def _paired_versions(root: str) -> tuple[int, int, int]:
    """(newest paired version, coded head, version past both heads): the
    version readers pin to, and an append's model version, merge base
    and CAS target.

    The paired version is the NEWEST VERSION PRESENT IN BOTH TABLES: the
    model and coded commits of a save or an append are not one
    transaction, so a crash or lost commit race between them can leave
    the tables diverged — and a head-of-each load would then pair NEW
    model arrays with the OLD coded table (for a rebuild, codes decoded
    against the wrong codebooks: silently wrong neighbors, not an
    error). The set intersection, not min(heads), because crash
    sequences can leave HOLES: a crashed re-train (model head = N+1)
    followed by an append that died between its coded and model commits
    leaves coded versions {…, N, N+2} — min(heads) = N+1 names a coded
    version that never existed: every head load would raise until the
    next successful append, and an append would encode its delta with
    the orphan model and re-commit it as paired, silently.

    The merge base for an append is the CODED HEAD — never the paired
    version — because the coded chain is what two appenders race on:
    deriving from anything older silently drops the other writer's rows
    at commit time (the classic lost update). The CAS target sits past
    BOTH heads so a crashed re-train's orphan model version can never
    collide with an append's pairing commit."""
    mv = set(VersionedParquetTable(os.path.join(root, "model")).versions())
    cv = set(VersionedParquetTable(os.path.join(root, "coded")).versions())
    if not mv or not cv:
        raise FileNotFoundError(f"no persisted index at {root}")
    paired = mv & cv
    if not paired:
        # both tables exist but share no version — loading head-of-each
        # would pair codes with the wrong model, silently
        raise FileNotFoundError(
            f"no paired (model, coded) version at {root}: "
            f"model has {sorted(mv)}, coded has {sorted(cv)}"
        )
    return max(paired), max(cv), max(mv | cv) + 1


_DELTA_FILES = 4


def _append_coded(
    delta, root: str, operation: str, parameters: dict, version: int,
    parent_version: int, partition_by: str | None = None,
) -> int:
    """CAS-commit ONLY the delta rows on top of ``parent_version`` — the
    manifest references the parent's files plus one new delta dir, so a
    2k-vector micro-batch append against a 100M-vector index writes 2k
    rows, never the corpus (measured flat per-batch in BENCH_ANN_TIER).

    The delta is coalesced to ``_DELTA_FILES`` partitions first: an
    append is micro-batch-scale by contract (bulk loads go through the
    save_index full snapshots, which keep natural parallelism), but a
    parallelism-width write turns a 500-row delta into 32 files and every
    LATER READ of the chain pays scan-task fan-out per delta dir —
    BENCH_CHAIN_r08 measures the one-file curve at ~4x less per-dir read
    cost than the 32-file curve. A handful of files (not one) keeps the
    encode pipeline parallel-ish and bounds single-file hotspots."""
    return VersionedParquetTable(os.path.join(root, "coded")).append(
        delta.coalesce(_DELTA_FILES), operation, parameters, version=version,
        parent_version=parent_version, max_chain=MAX_CHAIN,
        partition_by=partition_by,
    )


def _family(
    centroids: "np.ndarray | None", codebooks: "np.ndarray | None"
) -> tuple[str, dict]:
    """(operation prefix, model parameters) of the family the model
    arrays make: centroids alone are IVF, codebooks alone PQ, both
    IVF-PQ. The prefix names every commit (``_MODEL``, ``_CODED``,
    ``_APPEND``)."""
    params = {}
    if centroids is not None:
        params["n_cells"] = len(centroids)
    if codebooks is not None:
        m, n_codes, _ = codebooks.shape
        params.update(m_subspaces=m, n_codes=n_codes)
    if codebooks is None:
        return "IVF", params
    return ("PQ" if centroids is None else "IVF_PQ"), params


def save_index(index: "IVFIndex | PQIndex | IVFPQIndex", root: str) -> int:
    """Commit a built index (model arrays, then the coded table) as a new
    paired version under ``root``; returns the committed coded-table
    version. A re-train is just another save: readers pinned to an old
    version keep it, but appenders must be quiesced first (the FAISS
    offline-retrain contract).

    The IVF families' coded tables are written PARTITIONED BY cell — the
    disk layout the IVF argument rests on: a search probes n_probe cells,
    and with cells as hive partitions the probe equi-join prunes
    unprobed partitions at the scan (the "cells map to prunable storage
    units" regime where growing n_cells actually pays — see ivf_knn's
    sizing rule; pruning pinned in tests/test_index_store.py)."""
    centroids = getattr(index, "centroids", None)
    codebooks = getattr(index, "codebooks", None)
    family, params = _family(centroids, codebooks)
    _save_model_arrays(
        index.coded.sparkSession, root, f"{family}_MODEL", params,
        centroids=centroids, codebooks=codebooks,
    )
    return VersionedParquetTable(os.path.join(root, "coded")).write(
        index.coded,
        f"{family}_CODED",
        {},
        partition_by="cell" if centroids is not None else None,
    )


def load_index(
    spark: SparkSession, root: str, version: int | None = None
) -> "IVFIndex | PQIndex | IVFPQIndex":
    """The index at ``version`` (default: the newest paired version) as
    the NamedTuple its stored model arrays make, with the coded table in
    the build's column order — partitioned reads surface ``cell`` LAST,
    so loaded and live indexes are one schema."""
    if version is None:
        version = _paired_versions(root)[0]
    centroids, codebooks = _load_model_arrays(spark, root, version)
    coded = _load_coded(spark, root, version)
    if codebooks is None:
        return IVFIndex(centroids, coded.select("neighbor_id", "cv", "cell"))
    if centroids is None:
        return PQIndex(codebooks, coded)
    return IVFPQIndex(
        centroids, codebooks, coded.select("neighbor_id", "cell", "pq_codes")
    )


def append_to_index(
    spark: SparkSession,
    root: str,
    new_vectors,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    skip_existing_ids: bool = True,
) -> int:
    """FAISS ``add()``: encode NEW vectors with the STORED model (no
    refit — the whole point of train/add separation; the same
    ``knn._encode`` rule a build runs) and commit them as a new paired
    (model, coded) version. Returns the new coded-table version. Readers
    pinned to an old version are untouched; model CONTENT never changes
    on append, so appended codes are comparable to existing ones by
    construction. Quantization error and cell balance drift only if the
    corpus distribution drifts from the training sample; a periodic full
    build + ``save_index`` is the re-train, committed as just another
    version.

    ``skip_existing_ids`` drops arrivals whose id is already coded (one
    id-only anti-join) — at-least-once ingest converges instead of
    double-coding, and it is also what makes a commit-race retry
    idempotent.

    Optimistic concurrency (the Delta commit-loop shape):

    1. read (model arrays at the paired version, coded table at its head)
    2. encode the delta, anti-joined against the coded head
    3. CAS-append the delta at max(heads)+1 — an explicit version, so a
       racer that landed first raises ConcurrentCommitError here; the
       commit writes O(delta) bytes (parent files are referenced, not
       rewritten)
    4. re-commit the unchanged model at the same number (pairing)

    A lost CAS re-reads the new head and re-derives (already-appended ids
    drop out), so concurrent appenders serialize and no appender's rows
    are ever dropped; a concurrent RE-TRAIN (``save_index``) still
    requires quiescing appenders. Commit order is coded-then-model:
    between the two commits readers' head loads resolve to the old
    paired snapshot, so no reader ever pairs new codes with absent model
    rows."""
    for _ in range(_APPEND_RETRIES):
        model_v, coded_head, target = _paired_versions(root)
        centroids, codebooks = _load_model_arrays(spark, root, model_v)
        family, params = _family(centroids, codebooks)
        delta = _encode(
            _corpus(new_vectors, id_col, vec_col), centroids, codebooks
        )
        if skip_existing_ids:
            # the RAW coded table (tombstoned rows included): the
            # anti-join must treat a tombstoned-but-still-physical id as
            # EXISTING, or re-appending it would commit a second physical
            # row for the same id (revive below then makes both visible —
            # a duplicate). A deleted id becomes re-insertable after
            # purge_deleted removes its rows.
            coded = VersionedParquetTable(os.path.join(root, "coded")).read(
                spark, version=coded_head
            )
            delta = delta.join(
                coded.select("neighbor_id"), "neighbor_id", "left_anti"
            )
        params = {**params, "parent_version": coded_head}
        operation = f"{family}_APPEND"
        try:
            _append_coded(
                delta, root, operation, params, version=target,
                parent_version=coded_head,
                partition_by="cell" if centroids is not None else None,
            )
        except ConcurrentCommitError:
            continue  # another appender won this version; re-derive on head
        # Pairing commit: the model content is UNCHANGED on an append, so
        # re-pair via a manifest-only commit referencing the paired
        # version's files — a full rewrite of the identical arrays would
        # be one pure-overhead Spark job per streaming micro-batch.
        VersionedParquetTable(os.path.join(root, "model")).commit_ref(
            operation, params, version=target, parent_version=model_v
        )
        _clear_tombstones_for(spark, root, delta)
        _maybe_auto_purge(spark, root)
        return target
    raise ConcurrentCommitError(
        f"append at {root} lost {_APPEND_RETRIES} consecutive commit "
        "races; contention is too high for optimistic retry"
    )
