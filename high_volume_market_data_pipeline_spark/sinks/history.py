"""S8 — table history + time travel, parquet-native.

Reference surface: ``view_delta_history.py:44-72`` (``DeltaTable.forPath(
...).history()`` → version/timestamp/operation DataFrame, newest first) and
the README's time-travel claims. ``delta-spark`` is not installable in this
environment, so the same observable API is provided over plain parquet with
a JSON manifest log — the layout Delta itself uses (data files + ordered
commit log), minus transactions we cannot express without a JVM extension:

    <root>/_log/<version>.json          one manifest per committed version
    <root>/_data/v<version>_<attempt>/  immutable parquet dir (unique per
                                        write attempt; manifests point at it)

The file names, the manifest keys, the format check, the checkpoint
chain and the rules for reading the log live in ``sinks/table_format``,
which the table_stream source (``sources/table_datasource``) reads the
log through as well.

The ``_data`` parent keeps snapshots out of a raw ``spark.read.parquet
(root)`` (Spark skips ``_``-prefixed names), while the snapshot dir's own
name does not start with ``_``: Spark ignores a READ PATH whose leaf is
hidden and warns "All paths were ignored" on every such read.

A ``write`` manifest references ONE full-snapshot dir; an ``append``
manifest references its parent's dirs plus one new delta dir (the Delta
add-files shape), so appending a micro-batch to a 100 TB table writes
only the batch. Compaction (sinks/maintenance) folds an append chain
back into a single snapshot via ``write``.

Commit protocol, the one path every commit takes: write the snapshot dir
first, then write the manifest to a temp file, fsync it, and publish it by
a create-if-absent hard link to its version name (os.link fails with
EEXIST — a rename would silently replace a concurrent winner's manifest).
The link publishes a complete, durable file or nothing, so readers never
meet a partly written manifest, and any unparseable one is damage that
fails the read. A filesystem without hard links cannot hold the log: the
commit raises, naming the root and the errno. A crashed or commit-losing
writer leaves an orphan snapshot dir (cleaned by ``vacuum``) but can never
corrupt the current version — readers only follow manifests, and snapshot
dirs are per-attempt so racers never overwrite each other's data. This
also makes MERGE/OPTIMIZE through the table crash-safe: the previous
snapshot is untouched until vacuum retires it.

At cluster scale the manifest write is a single small driver-side file per
commit (same as a Delta commit json); snapshots are whatever Spark wrote —
partitioned, distributed parquet.
"""

from __future__ import annotations

import errno
import json
import os
import time
import uuid
import warnings

from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from high_volume_market_data_pipeline_spark.sinks.table_format import (
    CHECKPOINT_RE,
    DATA,
    LAST_CHECKPOINT,
    checkpoint_name,
    chunks,
    footer_rows,
    local_log_dir,
    manifest_name,
    manifests_since,
    new_manifest,
    parquet_files,
    read_last_checkpoint,
    tail_manifests,
)


# Append-chain bound the package's streaming-ingest tables (the ANN
# coded table, the MinHash signature store, the streaming ledgers) pass as
# ``append(max_chain=...)``: at this many dirs a commit absorbs the chain
# into one snapshot, so a stream of micro-batch appends never leaves every
# later read opening an unbounded number of tiny delta dirs. MEASURED
# (BENCH_CHAIN_r08, sf1-tier table, coalesced one-file deltas): head-read
# cost is linear in chain length at ~0.07 s/dir — each delta dir is its
# own scan stage in the read union — so chain 64 costs ~5 s per read vs
# ~1.4 s at 16 against a 0.14 s compact snapshot. 16 keeps the read
# penalty ~10x under chain 64 while amortized absorb cost stays ≤ ~8
# rewritten rows per appended row at the 2k-batch / 200k-corpus tier;
# both tables are probed on every batch, so the trade favors readers.
# The ledgers, which no batch reads, fold ``tiered`` (see ``append``).
MAX_CHAIN = 16


def _with_txn(base: dict | None, txn: tuple[str, int] | None) -> dict | None:
    """The transactions manifest ``base`` records (none for a new table),
    plus ``txn``; None when ``txn`` is a replay — its writer already
    committed that batch id or a later one."""
    txns = dict((base or {}).get("txns") or {})
    if txn is not None:
        writer, batch_id = txn
        if txns.get(writer, -1) >= batch_id:
            return None
        txns[writer] = batch_id
    return txns


def _kept_prefix(dirs: list[str], max_chain: int) -> int:
    """How many leading ``dirs`` a tiered fold keeps (``append``): the
    longest run of dirs each holding at least as many parquet bytes as
    all the dirs after it, capped at ``max_chain // 2 - 1`` so the fold
    leaves room for ``max_chain // 2`` appends before the next one."""
    sizes = [
        sum(os.path.getsize(f) for f in parquet_files(d)) for d in dirs
    ]
    keep = 0
    while keep < max_chain // 2 - 1 and sizes[keep] >= sum(sizes[keep + 1:]):
        keep += 1
    return keep


class VacuumResult(NamedTuple):
    """vacuum() outcome. ``retired``: versions whose manifest was deleted
    (no longer time-travelable). ``removed_dirs``: snapshot dir names
    removed, including manifest-less orphans from losing commit attempts
    (their parsed version number can match a kept snapshot's, so they are
    NOT reported as retired versions)."""

    retired: list
    removed_dirs: list


class ConcurrentCommitError(RuntimeError):
    """Another writer committed this version first (manifest already
    exists). The losing writer's snapshot dir is orphaned (vacuum cleans
    it); the table head is whatever the winner wrote. Callers that can
    re-derive their write from the new head should retry (see
    streaming/sketch_state.py — HLL merge is the canonical retryable
    case)."""


class VersionedParquetTable:
    """Versioned snapshots of a parquet table with Delta-like history()."""

    # A consolidated checkpoint manifest is written every this-many commits
    # (Delta writes parquet checkpoints every 10 commits for the same
    # reason): without one, every read replays the WHOLE commit log —
    # O(total commits) driver-side file opens, the next bottleneck for a
    # continuous-ingest table that keeps thousands of manifests for time
    # travel. With it, a read opens ≤ pointer + checkpoint +
    # checkpoint_interval tail manifests, regardless of table age.
    checkpoint_interval = 10

    def __init__(self, root: str) -> None:
        self.root = root
        self.log_dir = local_log_dir(root)
        # observability for tests/benches: log files opened by the most
        # recent log read (the checkpointing contract is that a head read
        # stays bounded by a constant as the table ages)
        self.last_log_files_opened = 0

    # -- log plumbing -------------------------------------------------------

    def _opened(self, n: int) -> None:
        self.last_log_files_opened += n

    def _since(self, min_version: int) -> dict[int, dict]:
        """``table_format.manifests_since`` over this table's log,
        counting the files it opens into ``last_log_files_opened``."""
        self.last_log_files_opened = 0
        return manifests_since(self.log_dir, min_version, self._opened)

    def _manifests(self, limit: int | None = None) -> list[dict]:
        """Committed manifests, ascending; with ``limit`` only the newest
        ``limit``, and the chunk walk stops as soon as it has them."""
        self.last_log_files_opened = 0
        by_version: dict[int, dict] = {}
        for _, chunk in chunks(self.log_dir, self._opened):
            for m in chunk:
                by_version.setdefault(m["version"], m)
            if limit is not None and len(by_version) >= limit:
                break
        versions = sorted(by_version)
        if limit is not None:
            versions = versions[-limit:]
        return [by_version[v] for v in versions]

    def checkpoint(self) -> str | None:
        """FOLD the whole manifest log into ONE full checkpoint and
        repoint ``_last_checkpoint`` at it (Delta's checkpoint-parquet +
        ``_last_checkpoint`` pattern, as JSON), deleting the superseded
        chain. Head reads then open pointer + checkpoint + loose tail
        only. Safe to call anytime; vacuum() calls it over the kept
        manifests so retired versions never resurrect. Auto-checkpoints
        (every ``checkpoint_interval`` commits) are INCREMENTAL instead —
        see ``_maybe_checkpoint`` — so a continuously-ingesting table's
        cumulative checkpoint write volume stays O(commits), not
        O(commits²/interval); an explicit fold is the way to collapse a
        long chain when full-history scans (``history()``/``versions()``)
        matter more than fold cost. Returns the checkpoint file name, or
        None on an empty log. Both files publish via tmp + atomic rename —
        a checkpoint is never contended for correctness (racers write
        supersets of the same log; the pointer's last writer wins, and a
        stale or orphaned chain only costs extra reads — any damage falls
        back to full manifest replay, never wrong results)."""
        return self._write_checkpoint(self._manifests())

    def _write_checkpoint(
        self,
        ms: list[dict],
        parent: str | None = None,
        floor: int = -1,
    ) -> str | None:
        """Publish ``ms`` as a checkpoint. With ``parent`` set the file is
        an incremental link (covers only versions in (floor, head]); bare
        it is a full fold and every other checkpoint file is a superseded
        cache, reclaimed here."""
        if not ms:
            return None
        head = ms[-1]["version"]
        name = checkpoint_name(head)
        body = {"version": head, "manifests": ms}
        if parent is not None:
            body["parent"] = parent
            body["floor"] = floor
        cp_tmp = os.path.join(self.log_dir, f".cptmp_{uuid.uuid4().hex[:8]}")
        with open(cp_tmp, "w") as fh:
            json.dump(body, fh)
        os.replace(cp_tmp, os.path.join(self.log_dir, name))
        ptr_tmp = os.path.join(self.log_dir, f".ptmp_{uuid.uuid4().hex[:8]}")
        with open(ptr_tmp, "w") as fh:
            json.dump({"checkpoint": name}, fh)
        os.replace(ptr_tmp, os.path.join(self.log_dir, LAST_CHECKPOINT))
        if parent is None:
            # a full fold supersedes the whole chain — reclaim it now
            for f in os.listdir(self.log_dir):
                m = CHECKPOINT_RE.match(f)
                if m and f != name:
                    try:
                        os.unlink(os.path.join(self.log_dir, f))
                    except OSError:
                        pass
        return name

    def _head(self) -> dict | None:
        """The head manifest, or None for a table with no versions. Opens
        pointer + latest checkpoint + loose tail only —
        O(checkpoint_interval) bytes regardless of table age (the chunk
        walk stops at the first non-empty chunk)."""
        ms = self._since(1 << 62)
        return ms[max(ms)] if ms else None

    def latest_version(self) -> int | None:
        """Head version (one ``_head`` walk)."""
        head = self._head()
        return None if head is None else head["version"]

    def versions(self) -> list[int]:
        """Every committed version number, ascending."""
        return [m["version"] for m in self._manifests()]

    def exists(self) -> bool:
        """M5 — table existence probe (DeltaTable.isDeltaTable analogue)."""
        return self.latest_version() is not None

    # -- write path ---------------------------------------------------------

    def write(
        self,
        df: DataFrame,
        operation: str = "WRITE",
        parameters: dict | None = None,
        partition_by: str | None = None,
        version: int | None = None,
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        """Commit ``df`` as the next version; returns the version number,
        or None when ``txn`` (see ``append``) is a replay.

        An explicit ``version`` turns the commit into a compare-and-swap:
        the create-if-absent manifest gate raises ConcurrentCommitError
        when that version already exists, so a caller that derived its
        write from version N can commit at N+1 and KNOW no other commit
        landed in between (the optimistic-concurrency pattern Delta uses;
        see similarity/index_store.append_to_index).

        A full write keeps the head's recorded transactions, as a Delta
        overwrite keeps its SetTransaction actions: a compacted or
        restored ledger still knows which batches it holds."""
        head = self._head()
        txns = _with_txn(head, txn)
        if txns is None:
            return None
        if version is None:
            version = 0 if head is None else self.latest_version() + 1
        # The snapshot dir carries a per-attempt suffix: two writers racing
        # for the same version must not overwrite each other's DATA either —
        # the commit-losing attempt leaves an orphan dir (vacuum reclaims
        # it), never clobbers the winner's snapshot. Readers follow the
        # manifest's data_dirs, so the name is free to be unique.
        data_dir = self._new_data_dir(version)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(data_dir)
        # n_rows from the just-written footers (metadata-only): row_count
        # and the ANN auto-purge fraction read it instead of a count();
        # partition_by lets compact/restore keep the hive layout; schema
        # is what append() validates evolution against
        manifest = new_manifest(
            version,
            operation,
            parameters or {},
            data_dirs=[data_dir],
            fresh_dirs=[],
            n_rows=footer_rows(parquet_files(data_dir)),
            partition_by=partition_by,
            schema=df.schema.jsonValue(),
            txns=txns,
        )
        self._commit_manifest(manifest, version)
        return version

    def append(
        self,
        df: DataFrame,
        operation: str = "APPEND",
        parameters: dict | None = None,
        partition_by: str | None = None,
        version: int | None = None,
        parent_version: int | None = None,
        max_chain: int | None = None,
        merge_schema: bool = False,
        tiered: bool = False,
        txn: tuple[str, int] | None = None,
    ) -> int | None:
        """Commit ``df`` as NEW FILES ONLY on top of an existing version —
        the Delta append shape: the manifest lists the parent's data dirs
        plus one fresh delta dir, so commit cost is O(appended rows), not
        O(table). A full ``write`` stays the compaction/overwrite path
        (``sinks.maintenance.compact`` folds a long append chain back to
        one snapshot). Readers of any version are untouched; time travel
        and vacuum apply unchanged (vacuum keys on every dir a kept
        manifest references, so a shared parent dir survives until no
        kept version needs it).

        ``version`` makes the commit a CAS exactly like ``write``;
        ``parent_version`` pins which committed version the delta extends
        (default: the current head) — pass it together with ``version``
        when the caller must KNOW no other append slipped in between
        (see similarity/index_store.append_to_index).

        ``max_chain`` bounds read fan-in for continuous ingest: when the
        parent already references that many dirs, THIS commit absorbs
        chain + delta into one full snapshot instead (same version
        number, same CAS) — log-structured compaction, so a stream of
        10,000 micro-batches never leaves a reader opening more than
        ``max_chain`` dirs. That fold rewrites the whole table, once per
        ~``max_chain`` commits: right for the tables a stream also READS
        every batch (the ANN coded table, the MinHash store), whose
        per-batch read is O(table) anyway.

        ``tiered=True`` folds size-tiered instead, for append-mostly
        tables a stream never reads (the streaming ledgers): a leading
        dir holding at least as many bytes as all later dirs together
        stays in place, up to ``max_chain // 2 - 1`` of them, and only
        the dirs after them fold. Rows are then rewritten a number of
        times that grows with log(table / batch), not once per fold
        (simulated at ``MAX_CHAIN`` with equal batches: 4.5 rewrites per
        row after 1,024 batches and 7.8 after 20,160, against 34 and 672
        for the whole-chain fold), and a read still opens at most
        ``max_chain`` dirs.

        ``txn=(writer_id, batch_id)`` makes the commit exactly-once per
        writer — Delta's ``txnAppId``/``txnVersion``: the manifest
        records each writer's last committed batch id and carries the
        record forward; a batch id at or below the one recorded for its
        writer is a replay, and the call returns None without writing
        anything. With a ``txn``, the first commit to a table that does
        not exist yet creates it (as ``write``).

        ``merge_schema=False`` (default) REJECTS a delta whose column set
        differs from the parent's — Delta's posture: silent schema drift
        is usually a bug (a misspelled column would otherwise become a
        new all-null column forever). ``merge_schema=True`` is the
        ``mergeSchema`` analogue: the delta may ADD columns (old rows
        read back null there) or OMIT columns (delta rows read back
        null); a column present on both sides must keep its exact type —
        reads union the chain by name with missing columns allowed, and
        a type conflict would poison every later read of the table."""
        from pyspark.sql.types import StructType

        if parent_version is not None:
            parent = self._resolve(parent_version, None)
        else:
            parent = self._head()
            if parent is None:
                if txn is None:
                    raise FileNotFoundError(f"no versions at {self.root}")
                return self.write(df, operation, parameters, partition_by,
                                  version, txn=txn)
        txns = _with_txn(parent, txn)
        if txns is None:
            return None
        if version is None:
            version = (
                parent["version"]
                if parent_version is None
                else self.latest_version()
            ) + 1
        parent_dirs = parent["data_dirs"]
        spark = df.sparkSession
        # Evolution check against the parent's RECORDED schema (Delta's
        # metaData action) — metadata-only
        pschema = StructType.fromJson(parent["schema"])
        pnames = {f.name for f in pschema}
        if {f.name for f in df.schema} != pnames and not merge_schema:
            raise ValueError(
                f"append schema {sorted(df.columns)} does not match "
                f"table schema {sorted(pnames)} at "
                f"{self.root}; pass merge_schema=True to evolve "
                "(added columns read back null on old rows)"
            )
        common = {f.name: f.dataType for f in pschema}
        # The hive partition column is exempt from the type check: its
        # on-disk form is only a dir-name string and read() types it from
        # the recorded schema, so a delta that types it int where the
        # table records long (``F.lit(3)``) reads back exactly.
        part_col = partition_by or parent["partition_by"]
        for f in df.schema:
            if (
                f.name in common
                and f.name != part_col
                and f.dataType != common[f.name]
            ):
                raise ValueError(
                    f"append column '{f.name}' has type "
                    f"{f.dataType.simpleString()} but the table has "
                    f"{common[f.name].simpleString()} at {self.root}; "
                    "schema evolution never retypes a column (cast the "
                    "delta, or rewrite the table via write())"
                )
        merged_schema = StructType(
            list(pschema.fields)
            + [f for f in df.schema.fields if f.name not in pnames]
        )
        delta_dir = self._new_data_dir(version)
        writer = df.write.mode("overwrite")
        if partition_by:
            writer = writer.partitionBy(partition_by)
        writer.parquet(delta_dir)
        # An EMPTY partitioned write creates no partition dirs and no
        # part files (only _SUCCESS) — referencing it would make every
        # later read fail schema inference on that dir. An empty delta
        # (e.g. a fully-deduped replay) commits as a manifest pointing at
        # the parent's files only; the version still advances.
        delta_files = parquet_files(delta_dir)
        has_files = bool(delta_files)
        parameters = dict(parameters or {})
        if max_chain is not None and len(parent_dirs) >= max_chain:
            # Absorb the PARENT CHAIN (after any dirs a tiered fold keeps)
            # into one folded snapshot dir while the fresh delta keeps ITS
            # OWN dir: the manifest then references [kept.., folded,
            # delta] and fresh_dirs names exactly the new rows, so the
            # table_stream source can emit the delta and skip the rewrite.
            # read() unions the chain ONE SCAN PER DIR — a single
            # multi-root read crashes with CONFLICTING_DIRECTORY_STRUCTURES
            # when the dirs are hive-partitioned (the cell-partitioned
            # index tables are exactly that) — so the fold costs one read
            # + write of the folded dirs, and a full fold leaves later
            # reads opening ≤ 2 dirs.
            keep = _kept_prefix(parent_dirs, max_chain) if tiered else 0
            folded_dir = self._new_data_dir(version)
            fw = self._read_dirs(spark, parent_dirs[keep:], parent).write.mode(
                "overwrite"
            )
            if partition_by:
                fw = fw.partitionBy(partition_by)
            fw.parquet(folded_dir)
            parameters["absorbed_chain"] = len(parent_dirs) - keep
            dirs = parent_dirs[:keep] + [folded_dir]
        else:
            dirs = parent_dirs
        dirs = dirs + ([delta_dir] if has_files else [])
        # a fold rewrites the parent's rows, so the count is unchanged
        n_rows = parent["n_rows"] + footer_rows(delta_files)
        # fresh_dirs (the stream's exactly-once signal) is [] on an empty
        # delta; so is its schema contribution — its columns would exist
        # in no data dir, phantom columns later appends validate against
        manifest = new_manifest(
            version,
            operation,
            parameters,
            data_dirs=dirs,
            fresh_dirs=[delta_dir] if has_files else [],
            n_rows=n_rows,
            partition_by=partition_by,
            schema=(merged_schema if has_files else pschema).jsonValue(),
            txns=txns,
        )
        self._commit_manifest(manifest, version)
        return version

    def commit_ref(
        self,
        operation: str,
        parameters: dict | None = None,
        version: int | None = None,
        parent_version: int | None = None,
    ) -> int:
        """Commit a new version whose DATA is byte-identical to
        ``parent_version`` — a manifest-only commit referencing the
        parent's data dirs (zero rows written, no Spark job). The CAS
        semantics of ``version`` match ``write``/``append``.

        This is the Delta-style metadata commit for lifecycle steps that
        advance a version number without changing table content — e.g.
        the ANN store's model re-pair on every coded append (the model
        arrays are unchanged by construction; pre-r12 each append re-ran
        createDataFrame + a parquet write of the identical model, one
        full Spark job per micro-batch on the streaming-ingest hot path —
        guide §1.2: remove work outright before tuning it). Readers of
        the new version get exactly the parent's files; ``fresh_dirs`` is
        empty so the table_stream source correctly sees no new rows;
        vacuum already reference-counts shared dirs across manifests."""
        parent = self._resolve(parent_version, None)
        if version is None:
            version = (self.latest_version() or 0) + 1
        manifest = new_manifest(
            version,
            operation,
            parameters or {},
            data_dirs=parent["data_dirs"],
            fresh_dirs=[],
            n_rows=parent["n_rows"],
            partition_by=parent["partition_by"],
            schema=parent["schema"],
            txns=_with_txn(parent, None),
        )
        self._commit_manifest(manifest, version)
        return version

    def row_count(self, spark: SparkSession, version: int | None = None) -> int:
        """Physical row count of the snapshot at ``version`` from the
        manifest's ``n_rows`` (summed from parquet footers at commit
        time — a metadata probe, no Spark job, no data scan). Equal to
        ``read(version).count()`` by construction: both count exactly the
        files the manifest references."""
        return int(self._resolve(version, None)["n_rows"])

    def verify_row_counts(self) -> list[dict]:
        """Maintenance fsck for the ``n_rows`` trust chain (r13): since
        r12 the declared ingest queries read per-version cardinalities
        from the manifest's ``n_rows`` instead of counting data, so a
        manifest written by a buggy or hand-edited writer would silently
        change a declared output. This recomputes every kept version's
        physical row count from the parquet FOOTERS of the dirs the
        manifest references (metadata-only, no Spark job) and returns one
        dict per MISMATCH ({version, recorded, actual}) — empty means the
        chain is sound."""
        bad = []
        for m in self._manifests():
            n = int(m["n_rows"])
            actual = sum(
                footer_rows(parquet_files(d)) for d in m["data_dirs"]
            )
            if n != actual:
                bad.append(
                    {"version": int(m["version"]), "recorded": n, "actual": actual}
                )
        return bad

    def _new_data_dir(self, version: int) -> str:
        """A fresh snapshot dir for one write attempt at ``version`` (see
        the module docstring for the layout)."""
        return os.path.join(
            self.root, DATA, f"v{version:08d}_{uuid.uuid4().hex[:8]}"
        )

    def _commit_manifest(self, manifest: dict, version: int) -> None:
        """Publish ``manifest`` as ``version``: write a temp file, fsync
        it, then hard-link it to the version's name. Version allocation
        is read-then-increment, so two writers can both pick N+1; the
        link is create-if-absent (EEXIST — a rename would silently
        replace the winner's manifest), and the loser gets
        ConcurrentCommitError and can re-derive against the new head.
        The link publishes only complete, durable bytes, so every file
        under a version name is a whole manifest. Any other link failure
        raises OSError naming the root and the errno; the head is
        unchanged either way and the loser's snapshot dir is an orphan
        until vacuum."""
        os.makedirs(self.log_dir, exist_ok=True)
        tmp = os.path.join(self.log_dir, f".tmp_{uuid.uuid4().hex[:8]}")
        final = os.path.join(self.log_dir, manifest_name(version))
        try:
            with open(tmp, "w") as fh:
                json.dump(manifest, fh)
                fh.flush()
                os.fsync(fh.fileno())
            try:
                os.link(tmp, final)
            except FileExistsError:
                raise ConcurrentCommitError(
                    f"version {version} at {self.root} was committed by "
                    "another writer; re-read the head and retry"
                ) from None
            except OSError as exc:
                name = errno.errorcode.get(exc.errno, exc.errno)
                raise OSError(
                    exc.errno,
                    f"cannot commit version {version} at {self.root}: "
                    f"link(2) of the manifest failed with {name} (the "
                    "manifest log needs a filesystem with hard links)",
                ) from exc
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass
        self._maybe_checkpoint(version)

    def _maybe_checkpoint(self, version: int) -> None:
        """Auto-checkpoint every ``checkpoint_interval`` commits. The
        auto path writes an INCREMENTAL checkpoint — only the manifests
        above the previous checkpoint's floor, plus a pointer to it — so
        checkpoint bytes per write are O(interval) and cumulative write
        volume O(commits), independent of table age (a full-state fold
        per interval re-wrote the entire kept log every time:
        O(commits²/interval) cumulative on a continuous-ingest ledger).
        Head reads still stop at the first chunk; only full-history scans
        walk the chain, and vacuum()/checkpoint() fold it back to one
        file. Best effort: the commit above is already durable, so a
        checkpoint failure must not make the caller believe the commit
        failed (it would re-commit and hit ConcurrentCommitError on its
        own version) — warn and move on; the next commit retries. The
        probe's opens go uncounted: ``last_log_files_opened`` describes
        the most recent read, not this write-path probe."""
        try:
            cp = read_last_checkpoint(self.log_dir)
            floor = cp["version"] if cp else -1
            if version - floor >= self.checkpoint_interval:
                chunk = tail_manifests(self.log_dir, floor)
                if chunk:
                    self._write_checkpoint(
                        chunk,
                        parent=cp["_name"] if cp else None,
                        floor=floor,
                    )
        except Exception as exc:  # noqa: BLE001 — cache maintenance only
            warnings.warn(
                f"checkpoint after version {version} at {self.root} "
                f"failed ({exc}); reads fall back to log replay",
                stacklevel=2,
            )

    # -- read path ----------------------------------------------------------

    def _resolve(self, version: int | None, as_of_ts: float | None) -> dict:
        """The manifest of ``version``, of the newest version at or before
        ``as_of_ts``, or of the head. The head and an explicit version
        stop at the chunk that holds them (``table_format.manifests_since``
        — a CAS pin on a recent version costs what the head costs); time
        travel by timestamp walks the whole chain."""
        if version is not None:
            min_version = version
        else:
            min_version = 0 if as_of_ts is not None else 1 << 62
        by_version = self._since(min_version)
        if not by_version:
            raise FileNotFoundError(f"no versions at {self.root}")
        if version is not None:
            if version not in by_version:
                raise ValueError(f"version {version} not found at {self.root}")
            return by_version[version]
        if as_of_ts is not None:
            eligible = [
                v for v, m in by_version.items() if m["timestamp"] <= as_of_ts
            ]
            if not eligible:
                raise ValueError(f"no version at or before ts={as_of_ts}")
            return by_version[max(eligible)]
        return by_version[max(by_version)]

    def read(
        self,
        spark: SparkSession,
        version: int | None = None,
        as_of_ts: float | None = None,
    ) -> DataFrame:
        """Current snapshot, or time travel by version / timestamp
        (``VERSION AS OF`` / ``TIMESTAMP AS OF`` analogue). Append-chain
        dirs are read ONE SCAN EACH and unioned by name: a single
        multi-path read cannot mix hive-partitioned snapshot layouts
        (CONFLICTING_DIRECTORY_STRUCTURES without a common basePath), and
        per-dir scans keep partition pruning independent per snapshot.
        Chain length — and so the union width — is bounded
        by ``append(max_chain=...)``."""
        m = self._resolve(version, as_of_ts)
        return self._read_dirs(spark, m["data_dirs"], m)

    @staticmethod
    def _read_dirs(spark: SparkSession, dirs: list[str], m: dict) -> DataFrame:
        """One scan per dir of (a subset of) manifest ``m``'s data dirs,
        unioned by name (see ``read``). Every scan is given the schema
        ``m`` records (Delta's metaData action), so building the read
        runs no schema-inference job, a dir without parquet files (an
        all-empty write) still reads, and Spark types the hive partition
        column as recorded rather than from its dir-name strings. A
        partition column comes last, after any merge-schema additions.
        An empty subset (``changes`` on shared dirs) still needs the
        schema for the diff join: it reads one of ``m``'s dirs under
        limit(0), which Catalyst collapses to an empty relation."""
        from pyspark.sql.types import StructType

        reader = spark.read.schema(StructType.fromJson(m["schema"]))
        if not dirs:
            return reader.parquet(m["data_dirs"][0]).limit(0)
        out = reader.parquet(dirs[0])
        for d in dirs[1:]:
            # every scan carries the same recorded schema (merge-schema
            # columns a dir lacks read null), so the union is by name
            out = out.unionByName(reader.parquet(d))
        return out

    def _touched_partitions(self, pre_m: dict, post_m: dict) -> list:
        """Partition VALUES whose parquet file sets differ between two
        manifests — a pure file-listing computation (the manifests name
        whole dirs; shared dirs contribute identical file sets by
        construction, so only partitions reached by an exclusive dir can
        differ). Hive dir names decode via unquote; the null-partition
        sentinel maps to None."""
        from urllib.parse import unquote

        def inventory(m: dict) -> dict:
            inv: dict[str, set] = {}
            for d in m["data_dirs"]:
                for f in parquet_files(d):
                    rel = os.path.relpath(os.path.dirname(f), d)
                    inv.setdefault(rel, set()).add(f)
            return inv

        a, b = inventory(pre_m), inventory(post_m)
        out = []
        for rel in set(a) | set(b):
            if a.get(rel) == b.get(rel):
                continue
            val = rel.split("=", 1)[1] if "=" in rel else rel
            out.append(
                None if val == "__HIVE_DEFAULT_PARTITION__" else unquote(val)
            )
        return sorted(out, key=lambda v: (v is None, str(v)))

    def history(self, spark: SparkSession, limit: int | None = None) -> DataFrame:
        """(version, timestamp, operation, parameters) — newest first, like
        ``DeltaTable.history()`` (view_delta_history.py:57-59). ``limit``
        is Delta's ``history(N)``: only the newest N commits, and — with
        the incremental checkpoint chain — the log walk STOPS as soon as
        it has them (``history(1)`` on a 100k-commit table parses one
        chunk, not the chain). A ``limit`` below 1 raises ValueError."""
        if limit is not None and limit < 1:
            raise ValueError(f"history limit must be >= 1, got {limit}")
        rows = [
            (
                m["version"],
                float(m["timestamp"]),
                m["operation"],
                json.dumps(m["parameters"], sort_keys=True),
            )
            for m in reversed(self._manifests(limit))
        ]
        return spark.createDataFrame(
            rows, "version BIGINT, timestamp DOUBLE, operation STRING, parameters STRING"
        )

    def changes(
        self,
        spark: SparkSession,
        v_from: int,
        v_to: int,
        key_cols: list[str],
    ) -> DataFrame:
        """Change-data-feed analogue: the row-level diff between two
        committed versions, keyed by ``key_cols`` — one row per
        insert/delete, two rows (update_preimage, update_postimage) per
        key whose non-key columns changed. Delta's table_changes() records
        changes at write time; over snapshot logs the changelog is
        RECONSTRUCTED as a keyed diff (the Iceberg changelog-scan
        approach), which stays correct for any pair of versions including
        non-adjacent ones.

        Plan shape: one full-outer equi-join on the key (both snapshots
        shuffle once on the same key — co-partitioned, no broadcast of a
        data-sized side), null-safe column compares JVM-side, then a
        two-element array explode for updates. Linear in |v_from|+|v_to|
        at any scale.

        ``key_cols`` must uniquely identify rows within each snapshot
        (the same precondition Delta MERGE enforces); duplicate keys fan
        the diff join out and the classification is undefined.

        Pruning: the two manifests usually SHARE data dirs (append commits
        inherit the parent's dirs), and a shared dir contributes byte-
        identical rows to both snapshots — under the unique-key
        precondition those rows can never produce a diff row (a key living
        in a shared dir on one side and a changed dir on the other would
        be a duplicate key within a snapshot). Each side therefore scans
        only its EXCLUSIVE dirs — metadata-sized for an append lineage
        instead of two full-table scans — and on a hive-partitioned table
        the partitions actually present in those exclusive dirs are pushed
        as PartitionFilters on both scans, keeping the job bounded by the
        touched data even if a future commit shape shares dirs across
        partition rewrites. Version pairs with no shared dirs (full
        rewrites) fall back to the full keyed diff — with rewritten file
        names there is no metadata signal for which partitions changed."""
        pre_m = self._resolve(v_from, None)
        post_m = self._resolve(v_to, None)
        pre_dirs, post_dirs = pre_m["data_dirs"], post_m["data_dirs"]
        shared = set(pre_dirs) & set(post_dirs)
        pre = self._read_dirs(
            spark, [d for d in pre_dirs if d not in shared], pre_m
        )
        post = self._read_dirs(
            spark, [d for d in post_dirs if d not in shared], post_m
        )
        part_by = pre_m["partition_by"]
        if shared and part_by and part_by == post_m["partition_by"]:
            touched = self._touched_partitions(pre_m, post_m)
            # Literals are cast to the PARTITION COLUMN's type: a mixed-
            # type IN would coerce the column to string and the predicate
            # would no longer push as a PartitionFilter.
            dt = pre.schema[part_by].dataType
            cond = F.lit(False)
            for v in touched:
                term = (
                    F.col(part_by).isNull()
                    if v is None
                    else F.col(part_by) == F.lit(v).cast(dt)
                )
                cond = cond | term
            pre, post = pre.filter(cond), post.filter(cond)
        # Schema evolution (append(merge_schema=True)) lets the two
        # versions differ by ADDED/OMITTED columns; diff over the union
        # of columns with the missing side null-filled — Delta CDF's
        # semantics (a column added between v_from and v_to shows up as
        # null→value updates). Retyped columns cannot exist (the write
        # path rejects them); raise if an out-of-band rewrite made one.
        missing_keys = [
            k
            for k in key_cols
            if k not in pre.columns or k not in post.columns
        ]
        if missing_keys:
            raise ValueError(
                f"changes() key columns {missing_keys} missing from one "
                f"side: {pre.columns} vs {post.columns}"
            )
        types: dict[str, object] = {}
        for side in (pre, post):
            for f in side.schema:
                if f.name in types and types[f.name] != f.dataType:
                    raise ValueError(
                        f"changes() column '{f.name}' has conflicting "
                        f"types across versions ({types[f.name].simpleString()}"
                        f" vs {f.dataType.simpleString()}); schema "
                        "evolution never retypes a column"
                    )
                types.setdefault(f.name, f.dataType)
        all_cols = pre.columns + [
            c for c in post.columns if c not in pre.columns
        ]

        def with_all(df: DataFrame) -> DataFrame:
            return df.select(
                *[
                    F.col(c)
                    if c in df.columns
                    else F.lit(None).cast(types[c]).alias(c)
                    for c in all_cols
                ]
            )

        pre, post = with_all(pre), with_all(post)
        data_cols = [c for c in all_cols if c not in key_cols]

        def tagged(df: DataFrame, tag: str) -> DataFrame:
            renamed = df.select(
                *[F.col(k) for k in key_cols],
                *[F.col(c).alias(f"{tag}_{c}") for c in data_cols],
                F.lit(1).alias(f"{tag}_present"),
            )
            return renamed

        j = tagged(pre, "a").join(tagged(post, "b"), on=key_cols, how="full_outer")
        a_absent = F.col("a_present").isNull()
        b_absent = F.col("b_present").isNull()
        differs = None
        for c in data_cols:
            d = ~F.col(f"a_{c}").eqNullSafe(F.col(f"b_{c}"))
            differs = d if differs is None else (differs | d)
        if differs is None:  # key-only table: presence IS the row identity
            differs = F.lit(False)

        def img(tag: str, change: str) -> Column:
            return F.struct(
                *[F.col(f"{tag}_{c}").alias(c) for c in data_cols],
                F.lit(change).alias("_change_type"),
            )

        # Unchanged keys drop BEFORE the explode so every CASE branch yields
        # a same-typed non-empty array (and the explode input stays small).
        j = j.filter(a_absent | b_absent | differs)
        rows = (
            F.when(b_absent, F.array(img("a", "delete")))
            .when(a_absent, F.array(img("b", "insert")))
            .otherwise(
                F.array(img("a", "update_preimage"), img("b", "update_postimage"))
            )
        )
        out = j.select(*key_cols, F.explode(rows).alias("_chg"))
        return out.select(
            *key_cols,
            *[F.col(f"_chg.{c}").alias(c) for c in data_cols],
            F.col("_chg._change_type").alias("_change_type"),
        )

    def compact(self, spark: SparkSession) -> int:
        """Fold the head's file set — possibly a long append chain — back
        into ONE full snapshot (OPTIMIZE for the manifest log): reading a
        table that took 10,000 micro-batch appends should not open 10,000
        delta dirs forever. The head's recorded hive partitioning is
        PRESERVED — a compaction that silently flattened a cell-
        partitioned index table would destroy its partition pruning with
        no error. Old versions stay time-travelable until vacuum retires
        them."""
        head = self._resolve(None, None)
        return self.write(
            self.read(spark),
            "COMPACT",
            {"compacted_from": head["version"]},
            partition_by=head["partition_by"],
        )

    def restore(self, spark: SparkSession, version: int) -> int:
        """RESTORE TABLE ... TO VERSION AS OF: re-commit an old snapshot as
        the new head (Delta-parity; keeps the log linear, preserves the
        source version's hive partitioning)."""
        src = self._resolve(version, None)
        df = self.read(spark, version=version)
        return self.write(
            df,
            "RESTORE",
            {"restored_version": version},
            partition_by=src["partition_by"],
        )

    # -- maintenance --------------------------------------------------------

    def vacuum(
        self,
        keep_last: int = 2,
        orphan_grace_seconds: float = 3600.0,
        retain_hours: float | None = None,
    ) -> "VacuumResult":
        """Retire snapshot dirs older than the newest ``keep_last`` versions
        (and stale orphan snapshot dirs in ``_data/`` with no manifest).
        Time travel below the horizon stops working — same contract as
        Delta VACUUM.

        ``retain_hours`` is the Delta ``RETAIN N HOURS`` form: every
        version committed within the window is ALSO kept (the horizon is
        the union of the newest ``keep_last`` and the time window), so a
        scheduled vacuum can promise "time travel covers the last N
        hours" regardless of commit rate.

        Orphan dirs (referenced by NO manifest) are reclaimed only when
        their newest file is older than ``orphan_grace_seconds`` (default
        1 h): an append writes its delta dir BEFORE its manifest commits,
        so a young orphan may be an in-flight write —
        deleting it would let the manifest commit referencing a missing
        dir, and because append manifests inherit parent dirs the hole
        poisons every descendant version. Delta VACUUM's retention-window
        rule; like Delta, vacuum still must not run concurrently with a
        writer that can stall longer than the grace. Dirs referenced by a
        manifest being RETIRED are committed history and reclaim
        immediately.

        Retiring manifests also folds the log: a fresh checkpoint over the
        kept manifests is written first, so the checkpoint never resurrects
        a retired version whose files are gone.

        Returns ``VacuumResult(retired, removed_dirs)``: ``retired`` lists
        only versions whose MANIFEST was deleted (time travel to them is
        gone); ``removed_dirs`` lists every snapshot dir removed, including
        commit-losing orphan attempt dirs whose parsed version number may
        match a kept, still-readable snapshot — conflating those two was a
        false 'version retired' signal. A ``keep_last`` below 1 raises
        ValueError (vacuum never retires the head)."""
        import shutil

        if keep_last < 1:
            raise ValueError(f"vacuum keep_last must be >= 1, got {keep_last}")
        ms = self._manifests()
        kept = ms[-keep_last:] if ms else []
        if retain_hours is not None and ms:
            cutoff_ts = time.time() - retain_hours * 3600.0
            kept_v = {m["version"] for m in kept}
            kept = [
                m
                for m in ms
                if m["version"] in kept_v or m["timestamp"] >= cutoff_ts
            ]
        keep_dirs = {
            os.path.basename(d) for m in kept for d in m["data_dirs"]
        }
        keep_versions = {m["version"] for m in kept}
        retiring = [m for m in ms if m["version"] not in keep_versions]
        # Dirs owned by retired history reclaim immediately; keyed on the
        # dirs manifests actually reference, not parsed version numbers —
        # a commit-losing writer's orphan dir can share a version number
        # with the winner's kept snapshot.
        retired_dirs = {
            os.path.basename(d) for m in retiring for d in m["data_dirs"]
        } - keep_dirs
        removed_dirs: list[str] = []
        retired: list[int] = []
        if not os.path.isdir(self.root):
            return VacuumResult(retired, removed_dirs)
        # Fold the log BEFORE deleting anything: if this crashes mid-way,
        # reads already resolve from the kept-only checkpoint and the
        # leftover retired manifests/dirs are below its floor — consistent,
        # and the next vacuum finishes the reclaim.
        if retiring and kept:
            self._write_checkpoint(kept)
        for m in retiring:
            mf = os.path.join(self.log_dir, manifest_name(m["version"]))
            if os.path.exists(mf):
                os.remove(mf)
                retired.append(m["version"])
        cutoff = time.time() - orphan_grace_seconds
        data = os.path.join(self.root, DATA)
        for d in os.listdir(data) if os.path.isdir(data) else []:
            path = os.path.join(data, d)
            if d in keep_dirs:
                continue
            if d not in retired_dirs and self._newest_mtime(path) > cutoff:
                continue  # young orphan — possibly an in-flight append
            shutil.rmtree(path, ignore_errors=True)
            removed_dirs.append(d)
        return VacuumResult(retired, removed_dirs)

    @staticmethod
    def _newest_mtime(path: str) -> float:
        try:
            newest = os.path.getmtime(path)
        except OSError:
            return 0.0
        for dirpath, _, files in os.walk(path):
            for f in files:
                try:
                    newest = max(
                        newest, os.path.getmtime(os.path.join(dirpath, f))
                    )
                except OSError:
                    pass
        return newest
