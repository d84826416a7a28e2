"""Versioned table as a STREAMING SOURCE — ``readStream`` over the
manifest-log table (Delta streaming-source parity; the reference has no
streaming at all, and Delta itself is absent from this environment).

``spark.readStream.format("table_stream").option("root", ...)`` turns a
``VersionedParquetTable`` into an append stream: offsets are committed
VERSION numbers, and each micro-batch emits the rows of the data dirs a
version NEWLY references. Structural rules (no reliance on free-text
operation names):

- every manifest records ``fresh_dirs``, the dirs holding rows new at
  that version (``sinks/table_format``), and a batch emits exactly
  those: an APPEND's delta, a FOLD commit's delta (an append hitting
  ``max_chain`` rewrites the parent chain into one dir but keeps its
  delta apart), nothing for a full write or a manifest-only commit;
- a commit that DROPS dirs of its parent (overwrite / COMPACT /
  RESTORE / fold) rewrites data the stream already emitted → its
  rewrite is skipped when ``skip_change_commits`` is true (the default;
  Delta's ``skipChangeCommits``), otherwise the stream raises —
  silently re-emitting a whole snapshot would duplicate every row
  downstream;
- the starting snapshot (``starting_version``, default 0, or
  ``starting_timestamp`` — first version committed at/after it) is
  emitted in full as the first batch — the Delta "initial snapshot then
  tail the log" contract.

Options beyond the start point: ``max_versions_per_batch`` /
``max_files_per_batch`` / ``max_bytes_per_trigger`` bound catch-up
micro-batches (Delta ``maxFilesPerTrigger`` / ``maxBytesPerTrigger``
parity; see latestOffset for the admission-state design the 4-call
Python reader protocol forces), and ``with_commit_version`` appends
Delta-CDF-style ``_commit_version`` / ``_commit_timestamp`` /
``_change_type`` metadata columns.

Exactly-once under rate limits requires the returned offsets to NEVER
regress below the engine's committed offset — Spark durably logs
whatever latestOffset returns, so a below-committed return survives the
reader instance and re-emits rows after a second restart. The engine
only reveals its committed offset through initialOffset (fresh start),
partitions(start, end) (batch re-run / next batch), or commit(end) —
and on a restart whose last batch fully committed, the FIRST call is
latestOffset, before any of those. Two modes close that hole:

- ``admission_dir`` (recommended whenever a rate limit is set): a
  directory — pair it 1:1 with the query's checkpointLocation — where
  partitions() atomically persists the highest PLANNED offset before
  the batch can possibly commit (plan-time persistence means the file
  is never behind the commit log, the ordering that matters). Restarts
  seed the admission window from it: bounded catch-up batches from the
  first trigger, fresh starts included. Like checkpointLocation itself,
  it must accompany the query from its first run.
- without ``admission_dir``: the first latestOffset after a restart
  returns the HEAD unbounded (the only offset provably at-or-above an
  unknown committed point); every later window is bounded. Safe, but
  the cold-restart catch-up lands as one batch — use admission_dir to
  bound it.

``drain()`` (module function) emulates ``Trigger.AvailableNow`` WITH
rate limits honored: Spark's Python stream sources fall back to a
single batch under availableNow, so drain runs a short processing-time
query until the stream has committed everything at-or-past the table
head observed at call time, then stops — bounded catch-up for the
cold-start/backfill case the limits exist for.

Scale shape: this is a FULL ``DataSourceStreamReader`` — planning only
lists manifests (metadata-sized; the checkpointed log keeps that O(1) in
table age) and emits one InputPartition PER PARQUET FILE; executors read
their own files with pyarrow and yield Arrow record batches zero-copy
into Spark. Nothing data-sized ever crosses the planning process.

The manifest log is read through ``sinks/table_format`` — the module
that owns the on-disk format and that ``VersionedParquetTable`` itself
reads through — so the source and the table cannot disagree on what is
committed, and a manifest in any other format fails there, at schema
resolution and at batch planning alike. Spark runs the plan-time methods
in a fresh python process that cannot import this package;
``register_table_stream`` ships both modules by value, so neither may
import any other repo module.

Vacuum interacts like Delta: computing version v's new dirs needs
manifest v-1, so the table's vacuum horizon must cover the stream's lag
(a retired manifest raises with the vacuum hint rather than silently
re-emitting shared dirs).

Reference: extract_crypto_data.py:226-241 writes versioned snapshots the
batch way; this module is the beyond-reference streaming consumption of
the same table (SURVEY §2.10 mandate).
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from high_volume_market_data_pipeline_spark.sinks.table_format import (
    local_log_dir,
    manifests_since,
    parquet_files,
)

_PARTITIONING = "hive"
_HIGH_WATER = "high_water.json"


def _resolve_starting_version(root: str, options: dict) -> int:
    """``starting_version`` (a version number) or ``starting_timestamp``
    (epoch seconds — resolves to the FIRST version committed at or after
    it, Delta's ``startingTimestamp`` contract). Mutually exclusive;
    default version 0. Timestamp resolution parses the log once at
    reader construction — the resolved version is what offsets are
    relative to, so it must not drift as the table grows."""
    sv = options.get("starting_version")
    st = options.get("starting_timestamp")
    if sv is not None and st is not None:
        raise ValueError(
            "table_stream accepts starting_version OR starting_timestamp, "
            "not both"
        )
    if st is None:
        return int(sv) if sv is not None else 0
    ts = float(st)
    ms = manifests_since(local_log_dir(root), 0)
    eligible = [v for v, m in ms.items() if float(m["timestamp"]) >= ts]
    if not eligible:
        raise ValueError(
            f"starting_timestamp {ts} is after the newest commit at "
            f"{root}; no version starts at or after it"
        )
    return min(eligible)


_META_FIELDS = (
    ("_commit_version", "long"),
    ("_commit_timestamp", "double"),
    ("_change_type", "string"),
)


class TableFilesPartition(InputPartition):
    """One parquet file plus the dir root it is hive-relative to; when
    the stream was opened ``with_commit_version``, also the commit
    version/timestamp its rows carry."""

    def __init__(
        self,
        file: str,
        base_dir: str,
        version: "int | None" = None,
        timestamp: "float | None" = None,
    ):
        self.file = file
        self.base_dir = base_dir
        self.version = version
        self.timestamp = timestamp


class TableStreamReader(DataSourceStreamReader):
    def __init__(self, options: dict, schema=None):
        self.root = options.get("root")
        if not self.root:
            raise ValueError("table_stream requires option 'root'")
        self.log_dir = local_log_dir(self.root)
        self.starting_version = _resolve_starting_version(self.root, options)
        self.skip_change_commits = str(
            options.get("skip_change_commits", "true")
        ).lower() in ("1", "true", "yes")
        mvb = options.get("max_versions_per_batch")
        self.max_versions_per_batch = None if mvb is None else int(mvb)
        if self.max_versions_per_batch is not None and (
            self.max_versions_per_batch < 1
        ):
            raise ValueError("max_versions_per_batch must be >= 1")
        mfb = options.get("max_files_per_batch")
        self.max_files_per_batch = None if mfb is None else int(mfb)
        if self.max_files_per_batch is not None and (
            self.max_files_per_batch < 1
        ):
            raise ValueError("max_files_per_batch must be >= 1")
        mbt = options.get("max_bytes_per_trigger")
        self.max_bytes_per_trigger = None if mbt is None else int(mbt)
        if self.max_bytes_per_trigger is not None and (
            self.max_bytes_per_trigger < 1
        ):
            raise ValueError("max_bytes_per_trigger must be >= 1")
        self.with_commit_version = str(
            options.get("with_commit_version", "false")
        ).lower() in ("1", "true", "yes")
        self._spark_schema = schema
        # Rate-limit state (see latestOffset and the module docstring).
        # Spark's offset LOG is the durable truth; these are per-runner
        # admission hints:
        #   _cursor   — newest offset this runner has planned or committed
        #   _probe    — newest offset latestOffset has RETURNED (keeps the
        #               window monotonic across triggers)
        #   _floor    — highest START of a non-empty range the engine has
        #               handed to partitions(); everything at or below it
        #               is known emitted, so a replayed range never
        #               re-emits those versions within this runner's
        #               lifetime
        #   _revealed — highest offset the ENGINE has revealed (via
        #               initialOffset / partitions / commit, or the
        #               admission_dir file persisted by a prior runner).
        #               None means the committed offset is UNKNOWN: a
        #               rate-limited latestOffset must then return the
        #               head (never a bounded guess — a guess below the
        #               committed offset would be durably logged and
        #               re-emit rows after the next restart).
        self._cursor = self.starting_version - 1
        self._probe = self.starting_version - 1
        self._floor = self.starting_version - 1
        self.admission_dir = options.get("admission_dir")
        self._revealed: "int | None" = None
        if self.admission_dir:
            os.makedirs(self.admission_dir, exist_ok=True)
            hw = self._load_high_water()
            if hw is not None:
                # A correctly paired admission_dir can NEVER be ahead of
                # the manifest log: the high-water is persisted at
                # partitions() time for versions latestOffset admitted,
                # and admissions never exceed the head of a monotonic
                # table. A high-water above the head therefore means the
                # dir is STALE — reused across a recreated table, or
                # mispaired with this checkpoint. Seeding _revealed from
                # it would make latestOffset return past-the-head
                # offsets, the engine would durably log them, and
                # partitions() would plan empty batches for versions
                # that never existed — the real rows up to the stale
                # high-water silently skipped. Fail loudly instead.
                ms = manifests_since(self.log_dir, min_version=1 << 62)
                head = max(ms) if ms else None
                if head is None or hw > head:
                    raise ValueError(
                        f"admission_dir {self.admission_dir} records a "
                        f"planned high-water of version {hw}, but the "
                        f"table at {self.root} has "
                        + (
                            f"head version {head}"
                            if head is not None
                            else "no committed versions"
                        )
                        + "; the admission dir belongs to a different "
                        "(or recreated) table — pair it 1:1 with the "
                        "query's checkpointLocation and never reuse it"
                    )
            # file present -> a prior run planned through hw (plan-time
            # persistence: always >= anything the engine committed);
            # absent -> fresh query, the floor below the starting
            # snapshot is the engine's initialOffset
            self._revealed = (
                hw if hw is not None else self.starting_version - 1
            )

    # -- admission high-water persistence (admission_dir) -------------------

    def _load_high_water(self) -> "int | None":
        try:
            with open(os.path.join(self.admission_dir, _HIGH_WATER)) as fh:
                return int(json.load(fh)["version"])
        except (OSError, ValueError, KeyError):
            return None

    def _persist_high_water(self, v: int) -> None:
        """Atomically raise the persisted planned high-water. Called from
        partitions() BEFORE the batch is constructed, so the file can
        never lag the engine's commit log (a batch cannot commit before
        its partitions() call returned). A write failure raises — an
        unpersisted plan must fail the batch, or a later restart could
        seed the window below a committed offset."""
        cur = self._load_high_water()
        if cur is not None and cur >= v:
            return
        _write_high_water(self.admission_dir, v)

    def _reveal(self, v: int) -> None:
        self._revealed = v if self._revealed is None else max(
            self._revealed, v
        )

    # -- offsets (plan runner, metadata-sized) -----------------------------

    def initialOffset(self) -> dict:
        # One version BELOW the starting snapshot: the first batch then
        # covers (start-1, start], i.e. the snapshot itself. Called only
        # on a FRESH start (no checkpoint) — which reveals that nothing
        # is committed yet, so bounded windows from the seed are safe.
        self._reveal(self.starting_version - 1)
        return {"version": self.starting_version - 1}

    def _rate_limited(self) -> bool:
        return (
            self.max_versions_per_batch is not None
            or self.max_files_per_batch is not None
            or self.max_bytes_per_trigger is not None
        )

    def latestOffset(self) -> dict:
        """The head — or, with a rate limit set, a bounded step past the
        admission base (Delta's ``maxFilesPerTrigger`` shape: a lagging
        or freshly-started stream over a long table emits bounded
        micro-batches instead of the whole backlog in one).

        Never returns an offset below anything previously returned or
        revealed: Spark durably logs every returned offset and treats
        any value != committed as a new batch, so a below-committed
        return would poison the offset log and re-emit rows after a
        second restart. While the committed offset is still UNKNOWN
        (``_revealed is None`` — a restart without ``admission_dir``,
        before the engine's first partitions/commit call) the only
        provably-safe return is the head, unbounded. With
        ``admission_dir`` the window is seeded from the persisted
        planned high-water and stays bounded from the first trigger.
        Under Trigger.AvailableNow (single-batch fallback for Python
        sources) one run drains at most one window — use ``drain()``
        for bounded catch-up."""
        # head discovery needs only the newest chunk — a huge min_version
        # stops the chain walk right after it
        ms = manifests_since(self.log_dir, min_version=1 << 62)
        # the monotonic floor: never return below a prior return or a
        # revealed engine offset, even on a transient empty log read
        known = max(
            self._cursor,
            self._probe,
            self._revealed if self._revealed is not None else (
                self.starting_version - 1
            ),
        )
        if not ms:
            return {"version": known}
        head = max(ms)
        if not self._rate_limited():
            out = max(head, known)
            self._probe = max(self._probe, out)
            return {"version": out}
        if self._revealed is None:
            # committed offset unknown: the head is the only offset
            # provably at-or-above it (every committed offset was once a
            # returned offset, and returns never exceed the head of a
            # monotonic table)
            out = max(head, known)
            self._probe = max(self._probe, out)
            return {"version": out}
        base = max(known, self._revealed)
        out = head
        if self.max_versions_per_batch is not None:
            out = min(out, base + self.max_versions_per_batch)
        if out > base and (
            self.max_files_per_batch is not None
            or self.max_bytes_per_trigger is not None
        ):
            # Delta maxFilesPerTrigger/maxBytesPerTrigger semantics:
            # admit versions until the file/byte budget is spent (a
            # version is never split across batches — offsets are
            # versions — and the first version is always admitted so an
            # oversized commit cannot stall the stream). Metadata-only:
            # lists + stats the candidate versions' new dirs, O(lag)
            # like partitions() itself.
            ms_full = manifests_since(
                self.log_dir, min_version=max(0, base)
            )
            f_budget = self.max_files_per_batch or (1 << 62)
            b_budget = self.max_bytes_per_trigger or (1 << 62)
            spent_f, spent_b, end = 0, 0, base
            for v in range(base + 1, out + 1):
                files = [
                    f
                    for d in self._new_dirs(v, ms_full, base)
                    for f in parquet_files(d)
                ]
                n, b = len(files), sum(os.path.getsize(f) for f in files)
                if end > base and (
                    spent_f + n > f_budget or spent_b + b > b_budget
                ):
                    break
                spent_f += n
                spent_b += b
                end = v
                if spent_f >= f_budget or spent_b >= b_budget:
                    break
            out = end
        out = max(out, base)
        self._probe = max(self._probe, out)
        return {"version": out}

    def commit(self, end: dict) -> None:
        # offsets resolve from the persistent manifest log; track the
        # committed end as the rate-limit admission floor
        v = int(end["version"])
        self._cursor = max(self._cursor, v)
        self._reveal(v)

    # -- batch planning (plan runner) ---------------------------------------

    def _new_dirs(
        self, v: int, ms: dict[int, dict], batch_start: int
    ) -> list[str]:
        if v not in ms:
            raise ValueError(
                f"version {v} of {self.root} is no longer in the manifest "
                "log (vacuumed?); the table's vacuum horizon must cover "
                "the stream's lag"
            )
        dirs = ms[v]["data_dirs"]
        if v == self.starting_version and batch_start == v - 1:
            # the initial snapshot is emitted in full — but ONLY for the
            # batch that actually starts at it: a timestamp-resolved
            # starting_version can re-resolve differently after a vacuum
            # + restart, and re-emitting a mid-stream version as a full
            # snapshot would duplicate rows (the delta path below then
            # either works or fails loudly on the vacuumed parent)
            return dirs
        if v - 1 not in ms:
            raise ValueError(
                f"version {v - 1} of {self.root} is no longer in the "
                "manifest log (vacuumed?); cannot derive version "
                f"{v}'s delta"
            )
        # dirs dropped (overwrite / compact / restore / chain fold): the
        # commit rewrites data the stream already emitted
        dropped = set(ms[v - 1]["data_dirs"]) - set(dirs)
        if dropped and not self.skip_change_commits:
            raise ValueError(
                f"version {v} of {self.root} rewrites existing data "
                "(overwrite/compact/restore); set "
                "skip_change_commits=true to tail only appends"
            )
        return ms[v]["fresh_dirs"]

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[TableFilesPartition]:
        v_start, v_end = int(start["version"]), int(end["version"])
        # rate-limit bookkeeping: the engine only hands out logged
        # offsets, so end is a safe admission cursor even when this batch
        # is a restart replay (the emitted-floor is tracked below)
        self._cursor = max(self._cursor, v_start, v_end)
        self._reveal(max(v_start, v_end))
        if self.admission_dir:
            # plan-time persistence: durable BEFORE the batch can commit,
            # so a restart's admission seed is never below the commit log
            self._persist_high_water(max(v_start, v_end))
        lo = max(v_start, self._floor)
        if v_end > v_start:
            # Only a non-empty range proves its start committed. A restart
            # whose last logged batch never planned first probes the
            # degenerate range (end, end), then replays (start, end);
            # raising the floor to that probe's start would plan the
            # replay empty and drop its versions for good.
            self._floor = max(self._floor, v_start)
        ms = manifests_since(self.log_dir, min_version=max(0, lo))
        out: list[TableFilesPartition] = []
        for v in range(lo + 1, v_end + 1):
            meta: tuple = (None, None)
            if self.with_commit_version:
                meta = (v, float(ms[v]["timestamp"]) if v in ms else None)
            for d in self._new_dirs(v, ms, v_start):
                out.extend(
                    TableFilesPartition(f, d, *meta)
                    for f in parquet_files(d)
                )
        if not out:
            # Spark requires ≥1 partition per batch; an empty sentinel
            # yields no record batches in read().
            out.append(TableFilesPartition("", ""))
        return out

    # -- execution (executor, pyarrow) ------------------------------------

    def read(self, partition: TableFilesPartition) -> Iterator:
        if not partition.file:
            return
        import pyarrow as pa
        import pyarrow.dataset as ds

        # Scan AGAINST THE PLANNED SCHEMA: pyarrow projects/casts each
        # file (and fills hive partition columns) to it, so every batch
        # matches the declared stream schema in names, order, and types
        # no matter which snapshot generation wrote the file. The commit
        # metadata columns (with_commit_version) are constants of the
        # PARTITION, appended after the scan — they exist in no file.
        target = full = None
        if self._spark_schema is not None:
            from pyspark.sql.pandas.types import to_arrow_schema

            target = full = to_arrow_schema(self._spark_schema)
            if self.with_commit_version:
                keep = [
                    f
                    for f in target
                    if f.name not in {n for n, _ in _META_FIELDS}
                ]
                target = pa.schema(keep)
        dataset = ds.dataset(
            partition.file,
            format="parquet",
            partitioning=_PARTITIONING,
            partition_base_dir=partition.base_dir,
            schema=target,
        )
        if not self.with_commit_version:
            yield from dataset.to_batches()
            return
        for batch in dataset.to_batches():
            n = batch.num_rows
            arrays = list(batch.columns) + [
                pa.array([partition.version] * n, pa.int64()),
                pa.array([partition.timestamp] * n, pa.float64()),
                # this source tails APPENDS: every emitted row is an
                # insert (the initial snapshot included — Delta CDF's
                # convention for rows read at the starting version)
                pa.array(["insert"] * n, pa.string()),
            ]
            yield pa.RecordBatch.from_arrays(arrays, schema=full)


def _write_high_water(admission_dir: str, v: int) -> None:
    """Publish ``v`` as the admission high-water: fsync'd, then renamed
    into place. A torn file reads as "no high-water", and a reader that
    finds none on a checkpoint with committed offsets seeds its window
    from the starting version — the below-committed offset that re-emits
    rows (module docstring)."""
    path = os.path.join(admission_dir, _HIGH_WATER)
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump({"version": v}, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.replace(tmp, path)


class TableStreamDataSource(DataSource):
    @classmethod
    def name(cls):
        return "table_stream"

    def schema(self):
        # Resolved from the HEAD version: the head is the table's
        # authoritative schema, and a resumed stream must be plannable
        # even after its starting snapshot was vacuumed away (only the
        # versions the resume actually READS need to be retained).
        # The manifest-RECORDED schema (Delta's metaData action), not
        # pyarrow hive inference: inference types a partition column
        # from its dir-name strings (long written as ``p=3`` reads back
        # int32), so stream and batch reads of the same table would
        # disagree on column types. The partition column moves to the
        # END to match the batch read's hive column order.
        root = self.options.get("root")
        if not root:
            raise ValueError("table_stream requires option 'root'")
        # validate start options HERE (schema() runs at load() time) so a
        # conflicting pair fails fast instead of at the first trigger
        _resolve_starting_version(root, self.options)
        ms = manifests_since(local_log_dir(root), min_version=1 << 62)
        if not ms:
            raise ValueError(f"no committed versions at {root}")
        from pyspark.sql.types import StructType

        head = ms[max(ms)]
        st = StructType.fromJson(head["schema"])
        part = head["partition_by"]
        if part and part in st.fieldNames():
            st = StructType(
                [f for f in st.fields if f.name != part] + [st[part]]
            )
        if str(
            self.options.get("with_commit_version", "false")
        ).lower() in ("1", "true", "yes"):
            # Delta CDF's metadata columns: which commit each row arrived
            # in, when, and how (appends-only source ⇒ always 'insert')
            from pyspark.sql.types import (
                DoubleType,
                LongType,
                StringType,
                StructField,
            )

            meta_types = {
                "long": LongType(),
                "double": DoubleType(),
                "string": StringType(),
            }
            st = StructType(
                list(st.fields)
                + [StructField(n, meta_types[t]) for n, t in _META_FIELDS]
            )
        return st

    def streamReader(self, schema):
        return TableStreamReader(self.options, schema=schema)


def register_table_stream(spark) -> None:
    """Idempotent registration: after this,
    ``spark.readStream.format("table_stream").option("root", path)``
    tails the versioned table at ``path``.

    This module and the log-format module it reads through
    (``sinks/table_format``) register for BY-VALUE pickling first: the
    plan-time methods run in a python process and ``read`` in Python
    workers, both of which inherit the driver's cwd, and by-reference
    pickling would require them to re-import the package (the NOTES
    cwd-portability rule). Neither module imports any other repo module
    at runtime."""
    from pyspark import cloudpickle

    import high_volume_market_data_pipeline_spark.sinks.table_format as fmt
    import high_volume_market_data_pipeline_spark.sources.table_datasource as m

    cloudpickle.register_pickle_by_value(fmt)
    cloudpickle.register_pickle_by_value(m)
    spark.dataSource.register(TableStreamDataSource)


def _offset_version(offset) -> "int | None":
    """Version number out of a progress report's start/endOffset field.
    Be liberal: the engine reports a Python source's offset dict back as
    a string — observed as the dict's PYTHON REPR (single quotes) in the
    progress JSON and as real JSON in the checkpoint offsets log — and
    None / dict also appear."""
    if offset is None:
        return None
    if isinstance(offset, str):
        try:
            offset = json.loads(offset)
        except ValueError:
            import ast

            try:
                offset = ast.literal_eval(offset)
            except (ValueError, SyntaxError):
                return None
    if isinstance(offset, dict) and "version" in offset:
        return int(offset["version"])
    return None


def _checkpoint_planned_offset(checkpoint: str) -> "int | None":
    """Newest planned offset version in a streaming checkpoint's offsets
    log, or None when the checkpoint is fresh/unreadable. Used to migrate
    pre-admission checkpoints: the newest offsets-log entry is the last
    PLANNED batch end — always at-or-above the committed offset, so it is
    a safe admission seed. Format: one file per batch id; lines are a
    version header, a metadata JSON, then one offset JSON per source."""
    d = os.path.join(checkpoint, "offsets")
    try:
        ids = [int(f) for f in os.listdir(d) if f.isdigit()]
    except OSError:
        return None
    for bid in sorted(ids, reverse=True):
        v = _offsets_log_version(os.path.join(d, str(bid)))
        if v is not None:
            return v
    return None


def _offsets_log_version(path: str) -> "int | None":
    try:
        with open(path) as fh:
            lines = fh.read().splitlines()
    except OSError:
        return None
    for line in reversed(lines):
        v = _offset_version(line.strip())
        if v is not None:
            return v
    return None


def _checkpoint_committed_offset(checkpoint: str) -> "int | None":
    """Newest COMMITTED offset version in a streaming checkpoint: the
    highest batch id with a commits-log entry, resolved to that batch's
    planned end offset in the offsets log. None when nothing has
    committed (fresh/unreadable checkpoint). Unlike the planned offset
    this is safe to treat as 'already in the sink' — drain() uses it to
    short-circuit a no-op call instead of waiting for Spark's idle
    no-data progress event (~10 s) on an already-drained checkpoint."""
    cd = os.path.join(checkpoint, "commits")
    try:
        ids = [int(f) for f in os.listdir(cd) if f.isdigit()]
    except OSError:
        return None
    for bid in sorted(ids, reverse=True):
        v = _offsets_log_version(os.path.join(checkpoint, "offsets", str(bid)))
        if v is not None:
            return v
    return None


def _admission_dir(checkpoint: str) -> str:
    """The admission_dir drain() pairs with ``checkpoint``. A checkpoint
    that predates admission tracking (offsets exist, no high-water file)
    is migrated by seeding the high-water from the checkpoint's own
    offsets log — the newest planned offset is by construction
    at-or-above the committed one."""
    admission_dir = os.path.join(checkpoint, "_admission")
    planned = _checkpoint_planned_offset(checkpoint)
    if planned is not None and not os.path.exists(
        os.path.join(admission_dir, _HIGH_WATER)
    ):
        os.makedirs(admission_dir, exist_ok=True)
        _write_high_water(admission_dir, planned)
    return admission_dir


def drain(
    spark,
    root: str,
    sink,
    checkpoint: str,
    *,
    options: "dict | None" = None,
    trigger_ms: int = 50,
    timeout: float = 600.0,
) -> int:
    """Bounded catch-up to the CURRENT head — ``Trigger.AvailableNow``
    semantics with the rate limits honored. Spark's Python stream
    sources fall back to a single batch under availableNow, so a
    cold-started stream with ``max_files_per_batch`` would drain its
    whole backlog in one batch the availableNow way; drain() instead
    runs a short processing-time query until a completed micro-batch's
    committed end offset reaches the table head observed at call time,
    then stops. Returns the number of completed micro-batches.

    ``sink`` is a foreachBatch callable ``(batch_df, batch_id)``;
    ``checkpoint`` the query's checkpointLocation (reused across drain
    calls for exactly-once); ``options`` extra reader options
    (``max_versions_per_batch`` etc.). An ``admission_dir`` inside the
    checkpoint is supplied automatically so restarted drains stay
    bounded (``_admission_dir`` migrates a checkpoint that predates
    admission tracking).

    The target head is pinned AT CALL TIME: versions committed by a
    concurrent writer while the drain runs may or may not be emitted
    before the query stops (whatever the last micro-batches happened to
    admit), always exactly-once, and anything still short of the live
    head is picked up by the next drain() or streaming run — callers
    needing "drain then read a complete result" must quiesce writers
    first, exactly like Trigger.AvailableNow. A call whose checkpoint
    has already committed the observed head returns 0 immediately
    (no query start, no ~10 s idle-progress stall)."""
    import time

    ms = manifests_since(local_log_dir(root), min_version=1 << 62)
    if not ms:
        return 0
    target = max(ms)
    done = _checkpoint_committed_offset(checkpoint)
    if done is not None and done >= target:
        return 0  # nothing to drain: the sink already has every version

    opts = dict(options or {})
    opts["root"] = root
    if "admission_dir" not in opts:
        opts["admission_dir"] = _admission_dir(checkpoint)

    reader = spark.readStream.format("table_stream")
    for k, v in opts.items():
        reader = reader.option(k, v)
    batches: set[int] = set()

    def _sink(batch_df, batch_id):
        sink(batch_df, batch_id)
        batches.add(batch_id)

    q = (
        reader.load()
        .writeStream.foreachBatch(_sink)
        .option("checkpointLocation", checkpoint)
        .trigger(processingTime=f"{trigger_ms} milliseconds")
        .start()
    )
    try:
        deadline = time.time() + timeout
        while time.time() < deadline:
            p = q.lastProgress
            if p and p.get("sources"):
                v = _offset_version(p["sources"][0].get("endOffset"))
                if v is not None and v >= target:
                    break
            if q.exception() is not None:
                raise q.exception()
            time.sleep(min(0.2, trigger_ms / 1000.0))
        else:
            raise TimeoutError(
                f"drain of {root} did not reach version {target} within "
                f"{timeout}s"
            )
    finally:
        q.stop()
    return len(batches)
