"""On-disk format of the versioned parquet table — the one module that
knows it. ``sinks/history.VersionedParquetTable`` writes and reads the
table through it, and ``sources/table_datasource`` (the table's streaming
source) reads the same log through it:

    <root>/_log/<version>.json             one manifest per committed version
    <root>/_log/<version>.checkpoint.json  a checkpoint chunk of manifests
    <root>/_log/_last_checkpoint           pointer to the newest checkpoint
    <root>/_data/v<version>_<attempt>/     parquet dirs the manifests name

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
from collections.abc import Callable, Iterator

LOG = "_log"
DATA = "_data"
LAST_CHECKPOINT = "_last_checkpoint"
MANIFEST_RE = re.compile(r"^(\d{8})\.json$")
CHECKPOINT_RE = re.compile(r"^(\d{8})\.checkpoint\.json$")


def manifest_name(version: int) -> str:
    return f"{version:08d}.json"


def checkpoint_name(version: int) -> str:
    return f"{version:08d}.checkpoint.json"


def data_dirs(manifest: dict) -> list[str]:
    """Every data dir a manifest references: append commits carry
    ``data_dirs`` (parent chain + delta), full snapshots ``data_dir``."""
    return list(manifest.get("data_dirs") or [manifest["data_dir"]])


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
    ascending. A torn TRAILING manifest is a crashed commit on a
    filesystem without hard links (the O_EXCL fallback makes the file
    visible before its single write lands) — treated as never
    committed so one torn commit cannot brick every later read of the
    table. A torn manifest in the MIDDLE of the log means real
    corruption: fail loudly."""
    names = sorted(
        f
        for f in os.listdir(log_dir)
        if MANIFEST_RE.match(f) and int(f[:8]) > floor
    )
    out: list[dict] = []
    for i, f in enumerate(names):
        try:
            with open(os.path.join(log_dir, f)) as fh:
                out.append(json.load(fh))
            opened(1)
        except (json.JSONDecodeError, ValueError) as exc:
            if i == len(names) - 1:
                continue
            raise RuntimeError(
                f"corrupt non-trailing manifest {f} at {log_dir}; "
                "the commit log is damaged beyond a torn tail"
            ) from exc
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
        seen_floors = set()
        while cp is not None:
            pfloor = cp.get("floor", -1)
            if pfloor in seen_floors or pfloor >= cp["version"]:
                raise ValueError("checkpoint chain cycle")
            seen_floors.add(pfloor)
            yield pfloor, list(cp["manifests"])
            parent = cp.get("parent")
            if parent is None:
                return
            with open(os.path.join(log_dir, parent)) as fh:
                cp = json.load(fh)
            opened(1)
    except RuntimeError:
        raise  # non-trailing corruption: a replay would hit it too
    except (OSError, ValueError, KeyError):
        yield -1, tail_manifests(log_dir, -1, opened)


def parquet_files(d: str) -> list[str]:
    """Every parquet file under ``d``, hive partition dirs included,
    sorted. A path with a URI scheme (s3a://, hdfs://) lists nothing."""
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
