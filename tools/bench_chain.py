"""Read latency vs append-chain length — the measurement behind the
``max_chain`` absorption bound (``sinks/history.MAX_CHAIN``).

A delta-file append commits O(batch) but adds one more directory every
reader must open; absorption folds the chain back to one snapshot at a
cost of one full rewrite. The right bound is where chain-induced read
overhead stops being noise: this sweep builds a PQ-coded-shaped table at
the sf1 tier (20k base rows + 500-row deltas, the streaming-ingest
shape), extends the chain WITHOUT absorption, and records the head
read+count time at increasing chain lengths. Run SOLO (NOTES.md: host
drifts under load).

The ledger curves commit ``--ledger-batches`` micro-batches each and
record per-commit cost, so they measure what a fold costs the writer.

Usage: python tools/bench_chain.py [--out FILE] [--runs 3]
       [--ledger-batches 1024]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from high_volume_market_data_pipeline_spark.session import build_session  # noqa: E402
from high_volume_market_data_pipeline_spark.sinks.history import (  # noqa: E402
    VersionedParquetTable,
)
from high_volume_market_data_pipeline_spark.sinks.table_format import (  # noqa: E402
    new_manifest,
)

PROBE_LENGTHS = [1, 2, 4, 8, 16, 32, 64, 96, 128]
BASE_ROWS = 20_000
DELTA_ROWS = 500


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default=None)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--ledger-batches", type=int, default=1024)
    args = ap.parse_args()

    spark = build_session(app_name="hvmdp-bench-chain")
    scratch = tempfile.mkdtemp(prefix="hvmdp_chain_")
    curves: dict[str, dict] = {}
    try:
        def fake_coded(n: int, start: int):
            return spark.range(start, start + n).select(
                F.col("id").alias("neighbor_id"),
                F.transform(
                    F.sequence(F.lit(0), F.lit(7)),
                    lambda j: ((F.col("id") + j) % 32).cast("int"),
                ).alias("pq_codes"),
            )

        def read_count_sec(table: VersionedParquetTable) -> tuple[float, int]:
            secs = []
            for _ in range(args.runs):
                t0 = time.perf_counter()
                n = table.read(spark).count()
                secs.append(time.perf_counter() - t0)
            return round(statistics.median(secs), 3), n

        def head_dirs(table: VersionedParquetTable) -> int:
            return len(table._resolve(None, None)["data_dirs"])

        # Two curves: deltas written at the session's default parallelism
        # (32 files per 500-row delta — what a naive caller gets) and
        # coalesced to one file (what index_store now does for
        # micro-batch appends). The gap decomposes the per-dir cost into
        # scan-task fan-out vs the irreducible per-dir open.
        for tag, n_files in (("default_files", None), ("one_file", 1)):
            rows: dict[str, dict] = {}
            table = VersionedParquetTable(os.path.join(scratch, tag))
            table.write(fake_coded(BASE_ROWS, 0), "PQ_CODED")
            chain = 1
            for target in PROBE_LENGTHS:
                while chain < target:
                    delta = fake_coded(
                        DELTA_ROWS, BASE_ROWS + chain * DELTA_ROWS
                    )
                    if n_files is not None:
                        delta = delta.coalesce(n_files)
                    table.append(
                        delta,
                        "PQ_APPEND",
                        max_chain=None,  # never absorb: measuring the chain
                    )
                    chain += 1
                sec, n = read_count_sec(table)
                rows[str(target)] = {
                    "read_count_sec": sec,
                    "n_rows": n,
                    "n_dirs": head_dirs(table),
                }
                print(f"# {tag} chain={target}: {rows[str(target)]}",
                      file=sys.stderr)
            curves[tag] = rows

        # Ledger curves: the streaming ledgers commit each micro-batch
        # (≤ _LEDGER_MAX_FILES_PER_BATCH files) as append_batch does —
        # a txn'd append folded at MAX_CHAIN — and nothing reads them
        # between batches, so the fold's rewrite is their whole
        # maintenance cost. "tiered" is append_batch's fold, "full_fold"
        # the whole-chain fold the read-every-batch tables use. Per
        # probe window: commit seconds (mean, max), rows rewritten by
        # folds so far, the head's dir count and a read's cost.
        from high_volume_market_data_pipeline_spark.sinks.history import (
            MAX_CHAIN,
        )
        from high_volume_market_data_pipeline_spark.sinks.table_format import (
            footer_rows,
            parquet_files,
        )
        from high_volume_market_data_pipeline_spark.streaming.incremental import (
            _LEDGER_MAX_FILES_PER_BATCH,
        )

        probes = [p for p in (16, 64, 256, 1024, 4096)
                  if p < args.ledger_batches] + [args.ledger_batches]
        for tag, tiered in (
            ("ledger_tiered", True),
            ("ledger_full_fold", False),
        ):
            ledger = VersionedParquetTable(os.path.join(scratch, tag))
            ledger_rows: dict[str, dict] = {}
            built, rewritten = 0, 0
            for target in probes:
                secs = []
                while built < target:
                    batch = fake_coded(200, built * 200).withColumn(
                        "batch_id", F.lit(built).cast("long")
                    )
                    t0 = time.perf_counter()
                    v = ledger.append(
                        batch.coalesce(_LEDGER_MAX_FILES_PER_BATCH),
                        "ADMITTED",
                        {"batch_id": built},
                        max_chain=MAX_CHAIN,
                        tiered=tiered,
                        txn=("bench", built),
                    )
                    secs.append(time.perf_counter() - t0)
                    m = ledger._resolve(v, None)
                    if "absorbed_chain" in m["parameters"]:
                        folded = m["data_dirs"][-1 - len(m["fresh_dirs"])]
                        rewritten += footer_rows(parquet_files(folded))
                    built += 1
                sec, n = read_count_sec(ledger)
                ledger_rows[str(target)] = {
                    "commit_sec_mean": round(statistics.mean(secs), 4),
                    "commit_sec_max": round(max(secs), 3),
                    "rows_rewritten": rewritten,
                    "read_count_sec": sec,
                    "n_rows": n,
                    "n_dirs": head_dirs(ledger),
                }
                print(f"# {tag} batches={target}: {ledger_rows[str(target)]}",
                      file=sys.stderr)
            curves[tag] = ledger_rows

        # Checkpoint-chain curve (no Spark jobs — pure log layer): commit
        # N fabricated manifests and record, per probe point, the HEAD
        # read cost (file opens + bytes parsed: pointer + newest
        # checkpoint + loose tail) and the CUMULATIVE checkpoint bytes
        # written. "incremental" is the r10 auto-checkpoint chain;
        # "full_fold_baseline" emulates the pre-r10 scheme (a full-state
        # fold every interval). The claim under test: incremental head
        # bytes stay O(interval) and cumulative bytes O(commits), while
        # the baseline's head bytes grow O(commits) and cumulative bytes
        # O(commits²/interval).
        import re as _re

        def fab(v: int) -> dict:
            return new_manifest(
                v, "WRITE", {}, data_dirs=[f"/nope/v{v:08d}_x"],
                fresh_dirs=[], n_rows=0, partition_by=None,
                schema={"type": "struct", "fields": []}, timestamp=float(v),
            )

        def head_read_cost(t: VersionedParquetTable) -> tuple[int, int]:
            t.latest_version()
            opens = t.last_log_files_opened
            nbytes = 0
            ptr = os.path.join(t.log_dir, "_last_checkpoint")
            try:
                nbytes += os.path.getsize(ptr)
                name = json.load(open(ptr))["checkpoint"]
                cp_path = os.path.join(t.log_dir, name)
                nbytes += os.path.getsize(cp_path)
                floor = json.load(open(cp_path))["version"]
            except OSError:
                floor = -1
            for f in os.listdir(t.log_dir):
                m = _re.match(r"^(\d{8})\.json$", f)
                if m and int(m.group(1)) > floor:
                    nbytes += os.path.getsize(os.path.join(t.log_dir, f))
            return opens, nbytes

        cp_probe = [100, 300, 1000, 3000]
        cp_rows: dict[str, dict] = {}
        inc = VersionedParquetTable(os.path.join(scratch, "cp_incremental"))
        base = VersionedParquetTable(os.path.join(scratch, "cp_fold"))
        os.makedirs(inc.log_dir)
        os.makedirs(base.log_dir)
        base_cum = 0
        v = 0
        for target in cp_probe:
            while v < target:
                inc._commit_manifest(fab(v), v)
                base._commit_manifest(fab(v), v)
                # emulate pre-r10: replace the auto-incremental with a
                # full fold every interval and track its write cost
                if v % base.checkpoint_interval == base.checkpoint_interval - 1:
                    name = base.checkpoint()
                    base_cum += os.path.getsize(
                        os.path.join(base.log_dir, name)
                    )
                v += 1
            inc_opens, inc_bytes = head_read_cost(inc)
            b_opens, b_bytes = head_read_cost(base)
            inc_cum = sum(
                os.path.getsize(os.path.join(inc.log_dir, f))
                for f in os.listdir(inc.log_dir)
                if f.endswith(".checkpoint.json")
            )
            cp_rows[str(target)] = {
                "incremental": {
                    "head_opens": inc_opens,
                    "head_bytes": inc_bytes,
                    "cum_checkpoint_bytes": inc_cum,
                },
                "full_fold_baseline": {
                    "head_opens": b_opens,
                    "head_bytes": b_bytes,
                    "cum_checkpoint_bytes": base_cum,
                },
            }
            print(f"# checkpoint commits={target}: {cp_rows[str(target)]}",
                  file=sys.stderr)
        curves["checkpoint_chain"] = cp_rows
    finally:
        spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)

    doc = {
        "metric": "chain_read_curve",
        "unit": "sec",
        "base_rows": BASE_ROWS,
        "delta_rows": DELTA_ROWS,
        "runs_per_point": args.runs,
        "curves": curves,
    }
    line = json.dumps(doc)
    print(line)
    if args.out:
        with open(args.out, "w") as f:
            f.write(line + "\n")


if __name__ == "__main__":
    main()
