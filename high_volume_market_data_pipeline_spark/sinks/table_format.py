"""On-disk format of the versioned parquet table — the one module that
knows it. ``sinks/history.VersionedParquetTable`` writes and reads the
table through it, and ``sources/table_datasource`` (the table's streaming
source) reads the same log through it:

    <root>/_log/<version>.json             one manifest per committed version
    <root>/_log/<version>.checkpoint.json  a checkpoint chunk of manifests
    <root>/_log/_last_checkpoint           pointer to the newest checkpoint
    <root>/_data/v<version>_<attempt>/     parquet dirs the manifests name

Every manifest is built by ``new_manifest`` and has exactly these keys:

    format        ``FORMAT``, the one manifest format (Delta's ``protocol``
                  action, as one integer)
    version       the committed version number
    timestamp     commit time, epoch seconds
    operation     WRITE / APPEND / COMPACT / RESTORE / ... (free text)
    parameters    the caller's dict, free form
    data_dirs     every data dir the version reads (parent chain + delta
                  for an append, one dir for a full write)
    fresh_dirs    the dirs holding rows NEW at this version: the delta of
                  an append or fold, [] for a full write, a manifest-only
                  commit and an empty delta
    n_rows        physical row count over ``data_dirs``, summed from the
                  parquet footers at commit time
    partition_by  the hive partition column, or None
    schema        the version's logical schema (``StructType.jsonValue``)
    txns          {writer id: last batch id it committed} for every writer
                  that commits with ``append(txn=...)`` (Delta's
                  SetTransaction actions); each later commit carries it
                  forward. A manifest written before the key existed reads
                  as {}.

The format rule: a manifest whose ``format`` is not ``FORMAT`` (or that
has none) raises ``ManifestFormatError``, naming the file and the format
found. The check runs where manifests are parsed, in ``tail_manifests``
and in ``chunks``' checkpoint walk, so every reader of the log meets it.
It is a ``RuntimeError``, so the checkpoint replay fallback (on
``ValueError``) cannot swallow it.

The parse rule: a manifest file that does not parse raises
``RuntimeError`` naming the file, wherever it sits in the log. The writer
publishes a manifest by hard-linking a complete, fsync'd temp file, so an
unparseable one is damage, never a commit still in flight.

The root rule: the log is kept with ``os`` calls, so ``local_log_dir``
raises ``ValueError`` for a root with a URI scheme. The table and the
stream source take their log dir from it, and read the log through one
walk, ``manifests_since``.

Stdlib-only, with pyarrow imported inside the one function that needs it:
Spark runs the stream source's plan-time methods in a fresh python process
that inherits the driver's cwd and so cannot import this package.
``register_table_stream`` therefore ships this module BY VALUE next to the
source, which only works while nothing here imports another repo module
(NOTES, the plan-runner rule).
"""

from __future__ import annotations

import json
import os
import re
import time
from collections.abc import Callable, Iterator
from urllib.parse import urlparse

FORMAT = 1
LOG = "_log"
DATA = "_data"
LAST_CHECKPOINT = "_last_checkpoint"
MANIFEST_RE = re.compile(r"^(\d{8})\.json$")
CHECKPOINT_RE = re.compile(r"^(\d{8})\.checkpoint\.json$")


def manifest_name(version: int) -> str:
    return f"{version:08d}.json"


def checkpoint_name(version: int) -> str:
    return f"{version:08d}.checkpoint.json"


class ManifestFormatError(RuntimeError):
    """A manifest in a format other than ``FORMAT``."""


def new_manifest(
    version: int,
    operation: str,
    parameters: dict,
    *,
    data_dirs: list[str],
    fresh_dirs: list[str],
    n_rows: int,
    partition_by: str | None,
    schema: dict,
    txns: dict | None = None,
    timestamp: float | None = None,
) -> dict:
    """A manifest in the one current shape (module docstring)."""
    return {
        "format": FORMAT,
        "version": version,
        "timestamp": time.time() if timestamp is None else timestamp,
        "operation": operation,
        "parameters": parameters,
        "data_dirs": data_dirs,
        "fresh_dirs": fresh_dirs,
        "n_rows": n_rows,
        "partition_by": partition_by,
        "schema": schema,
        "txns": txns or {},
    }


def _checked(m, where: str) -> dict:
    found = m.get("format") if isinstance(m, dict) else None
    if found != FORMAT:
        raise ManifestFormatError(
            f"manifest {where} has format {found!r}; this reader reads "
            f"manifest format {FORMAT} only (rebuild the table with the "
            "current writer)"
        )
    return m


def _uncounted(n: int) -> None:
    pass


def read_last_checkpoint(
    log_dir: str, opened: Callable[[int], None] = _uncounted
) -> dict | None:
    """The checkpoint the ``_last_checkpoint`` pointer names (with its
    file name injected as ``_name``), or None. Any failure (missing /
    torn pointer or checkpoint — both are rename-published, so torn
    means external damage) falls back to a full log replay: the
    checkpoint is a CACHE of the manifest log, never the source of
    truth. ``opened`` is told how many log files each step opened."""
    try:
        with open(os.path.join(log_dir, LAST_CHECKPOINT)) as fh:
            name = json.load(fh)["checkpoint"]
        with open(os.path.join(log_dir, name)) as fh:
            cp = json.load(fh)
        cp["_name"] = name
        opened(2)
        return cp
    except (OSError, ValueError, KeyError):
        return None


def tail_manifests(
    log_dir: str, floor: int, opened: Callable[[int], None] = _uncounted
) -> list[dict]:
    """Parse the loose manifest files with version > ``floor``,
    ascending. A file that does not parse raises (the parse rule in the
    module docstring)."""
    names = sorted(
        f
        for f in os.listdir(log_dir)
        if MANIFEST_RE.match(f) and int(f[:8]) > floor
    )
    out: list[dict] = []
    for f in names:
        path = os.path.join(log_dir, f)
        try:
            with open(path) as fh:
                m = json.load(fh)
        except ValueError as exc:
            raise RuntimeError(
                f"unparseable manifest {path}; the commit log is damaged"
            ) from exc
        opened(1)
        out.append(_checked(m, path))
    return out


def chunks(
    log_dir: str, opened: Callable[[int], None] = _uncounted
) -> Iterator[tuple[int, list[dict]]]:
    """Yield the log as (floor, manifests-ascending) chunks, NEWEST
    FIRST: the loose tail above the latest checkpoint, then each
    checkpoint chunk down the parent chain; a chunk holds versions above
    its floor only. Auto-checkpoints are INCREMENTAL (they embed only the
    manifests above their parent's floor plus a pointer to it —
    Delta-style full-state checkpoints measured O(commits²/interval)
    cumulative write volume on a continuously-ingesting table), so head
    reads stop after the first chunk while history/time travel and the
    stream's catch-up walk as deep as they need. Any damage in the chain
    (missing parent, cycle, garbage) falls back to replaying every loose
    manifest file — checkpoints are caches; the manifest files stay the
    source of truth — so a consumer keeps the first (newest) occurrence
    of each version."""
    if not os.path.isdir(log_dir):
        return
    try:
        cp = read_last_checkpoint(log_dir, opened)
        floor = cp["version"] if cp else -1
        yield floor, tail_manifests(log_dir, floor, opened)
        name = cp["_name"] if cp else None
        seen_floors = set()
        while cp is not None:
            pfloor = cp.get("floor", -1)
            if pfloor in seen_floors or pfloor >= cp["version"]:
                raise ValueError("checkpoint chain cycle")
            seen_floors.add(pfloor)
            where = os.path.join(log_dir, name)
            yield pfloor, [_checked(m, where) for m in cp["manifests"]]
            parent = cp.get("parent")
            if parent is None:
                return
            name = parent
            with open(os.path.join(log_dir, name)) as fh:
                cp = json.load(fh)
            opened(1)
    except RuntimeError:
        raise  # an unparseable manifest or another format: a replay
        # would meet it too
    except (OSError, ValueError, KeyError):
        yield -1, tail_manifests(log_dir, -1, opened)


def manifests_since(
    log_dir: str, min_version: int, opened: Callable[[int], None] = _uncounted
) -> dict[int, dict]:
    """Manifests with version >= ``min_version``, and at least the head
    (older ones may also be returned — callers filter). A chunk holds
    versions above its floor only, so the newest-first walk stops at the
    first chunk whose floor is below ``min_version``: a head or recent
    version parses O(lag) metadata, not the table's whole history;
    ``min_version`` 0 walks every chunk."""
    out: dict[int, dict] = {}
    for floor, chunk in chunks(log_dir, opened):
        for m in chunk:
            out.setdefault(m["version"], m)
        if floor < min_version and out:
            break
    return out


def local_log_dir(root: str) -> str:
    """The manifest log dir of the table at ``root``. The log is read and
    written with ``os`` calls, so a root with a URI scheme (file://,
    s3a://, hdfs://) raises ValueError: ``os`` would write the log to a
    relative dir named after the scheme while Spark writes the data
    where the URI points, and the two would never meet."""
    if urlparse(root).scheme:
        raise ValueError(
            f"versioned table root {root!r} has a URI scheme; the manifest "
            "log is kept with local file calls, so pass a local path"
        )
    return os.path.join(root, LOG)


def parquet_files(d: str) -> list[str]:
    """Every parquet file under ``d``, hive partition dirs included,
    sorted."""
    return sorted(
        os.path.join(dirpath, f)
        for dirpath, _, files in os.walk(d)
        for f in files
        if f.endswith(".parquet")
    )


def footer_rows(files: list[str]) -> int:
    """Row count of ``files`` summed from their parquet FOOTERS (pyarrow
    metadata reads — no data scan, no Spark job)."""
    import pyarrow.parquet as pq

    return sum(pq.ParquetFile(f).metadata.num_rows for f in files)
