"""ANN family shoot-out at one corpus tier: seconds + recall@k for all
four families (sign-LSH OR-construction, IVF, PQ-ADC, IVF-PQ) against the
brute-force floor, on the SAME query set.

The point at the 200k-vector tier (.scale/sf10) is the 100 TB claim the
PQ families make: candidate scoring that reads 8-byte code words instead
of 64-double vectors must keep latency flat-ish as the corpus grows,
while brute force and wide-probe IVF pay the full vector-read cost.
Each family runs twice: with the REGISTERED default knobs (what the
correctness-gated queries ship) and with the documented tier-scaled
knobs (cells ~ sqrt(n), planes ~ log2(n/target)) — recall is reported
next to every time so no row can quietly trade quality for speed.

Timing = median of ``--runs`` solo executions of the ANN path only (the
exact twin is computed once, outside the clock). Run SOLO (NOTES.md:
host drifts +-45% under load).

Usage: python tools/bench_ann_tier.py [--sf-dir .scale/sf10] [--runs 3]
       [--n-queries 40] [--out FILE]
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from high_volume_market_data_pipeline_spark.catalog import load_table  # noqa: E402
from high_volume_market_data_pipeline_spark.session import build_session  # noqa: E402
from high_volume_market_data_pipeline_spark.similarity.knn import (  # noqa: E402
    auto_planes,
    brute_force_knn,
    ivf_knn,
    ivf_pq_knn,
    lsh_bucketed_knn,
    pq_knn,
)

K = 5


def _time_median(fn, runs: int) -> float:
    return round(statistics.median(
        _time_once(fn) for _ in range(runs)
    ), 3)


def _time_once(fn) -> float:
    start = time.perf_counter()
    fn().write.format("noop").mode("overwrite").save()
    return time.perf_counter() - start


def _mean_recall(ann, exact) -> float:
    from high_volume_market_data_pipeline_spark.similarity.knn import (
        with_recall_at_k,
    )

    row = (
        with_recall_at_k(ann, exact)
        .select("query_id", "recall_at_k")
        .distinct()
        .agg(F.avg("recall_at_k").alias("r"))
        .first()
    )
    return round(float(row["r"]), 3)


def _cold_session_persisted_search(
    index_root: str, sf_dir: str, n_queries: int
) -> dict:
    """Load + search timings from a FRESH python process / JVM (reported
    separately from session startup, which a long-lived searcher
    amortizes). The SECOND search in the same fresh session decomposes
    the cold gap: if search2 ≈ the builder session's warm time, the
    first-search premium is session warmup (JIT, Python-worker daemon
    fork, first-job codegen), NOT storage layout — and coalescing the
    coded table on save would buy nothing. Returns an 'error' key on
    failure rather than killing the whole shoot-out."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys, time
sys.path.insert(0, {repo!r})
from high_volume_market_data_pipeline_spark.catalog import load_table
from high_volume_market_data_pipeline_spark.session import build_session
from high_volume_market_data_pipeline_spark.similarity import load_index, pq_knn
from pyspark.sql import functions as F
spark = build_session(app_name="ann-cold-search")
emb = load_table(spark, {sf_dir!r}, "embeddings")
q = emb.filter(F.col("vec_id") < {n_queries})
t0 = time.perf_counter(); idx = load_index(spark, {index_root!r})
t1 = time.perf_counter()
pq_knn(q, emb, k=5, index=idx).write.format("noop").mode("overwrite").save()
t2 = time.perf_counter()
pq_knn(q, emb, k=5, index=idx).write.format("noop").mode("overwrite").save()
t3 = time.perf_counter()
print("COLD", round(t1-t0, 3), round(t2-t1, 3), round(t3-t2, 3))
spark.stop()
"""
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=900,
    )
    for line in proc.stdout.splitlines():
        if line.startswith("COLD"):
            _, load_s, search_s, search2_s = line.split()
            return {
                "cold_session_load_sec": float(load_s),
                "cold_session_search_sec": float(search_s),
                "cold_session_second_search_sec": float(search2_s),
            }
    return {"error": (proc.stderr or "no COLD line").splitlines()[-1][:200]}


def _dir_stats(path: str) -> tuple[int, int]:
    """(n_parquet_files, total_bytes) under one snapshot dir."""
    files = bytes_ = 0
    for dirpath, _, names in os.walk(path):
        for f in names:
            if f.endswith(".parquet"):
                files += 1
                bytes_ += os.path.getsize(os.path.join(dirpath, f))
    return files, bytes_


def _cold_pruned_ivf_search(
    part_root: str, flat_root: str, sf_dir: str, n_queries: int = 1
) -> dict:
    """The bytes-not-read proof for the cell-partitioned IVF store: a
    FRESH process loads the index and searches with probe 4/16 — on the
    hive-partitioned coded table the driver-known probed-cell set becomes
    a PartitionFilter (pinned in tests/test_plan_properties.py), so the
    scan should READ ≈ probed/total of the files; the identically-coded
    FLAT twin scans everything. One query keeps the probed union at
    n_probe cells (a batch of queries probes the union of their cells,
    which approaches all cells and hides the effect). Bytes are reported
    from the filesystem layout: what lives under the probed partitions
    IS what the pruned scan opens."""
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out: dict = {}
    # ONE subprocess PER root: a shared process would hand whichever root
    # runs second a warmed JVM/JIT/Python-daemon (the ~4 s first-search
    # premium decomposed in the r7 cold-session row), burying the layout
    # effect under warmup ordering. Each root also runs a SECOND search in
    # its own process so the steady-state (post-warmup) numbers are the
    # comparable pair.
    for tag, root in (("part", part_root), ("flat", flat_root)):
        script = f"""
import sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from high_volume_market_data_pipeline_spark.catalog import load_table
from high_volume_market_data_pipeline_spark.session import build_session
from high_volume_market_data_pipeline_spark.similarity import ivf_knn, load_index
spark = build_session(app_name="ann-cold-pruned")
emb = load_table(spark, {sf_dir!r}, "embeddings")
q = emb.filter(F.col("vec_id") < {n_queries})
t0 = time.perf_counter(); idx = load_index(spark, {root!r})
t1 = time.perf_counter()
ivf_knn(q, emb, k=5, n_probe=4, index=idx).write.format("noop").mode("overwrite").save()
t2 = time.perf_counter()
ivf_knn(q, emb, k=5, n_probe=4, index=idx).write.format("noop").mode("overwrite").save()
t3 = time.perf_counter()
print("ROW", round(t1-t0, 3), round(t2-t1, 3), round(t3-t2, 3))
spark.stop()
"""
        proc = subprocess.run(
            [sys.executable, "-c", script],
            capture_output=True,
            text=True,
            timeout=900,
        )
        for line in proc.stdout.splitlines():
            if line.startswith("ROW"):
                _, load_s, search_s, search2_s = line.split()
                out[tag] = {
                    "cold_load_sec": float(load_s),
                    "cold_search_sec": float(search_s),
                    "cold_second_search_sec": float(search2_s),
                }
    if len(out) < 2:
        return {
            "error": (proc.stderr or "no ROW line").splitlines()[-1][:200],
            **out,
        }
    return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=".scale/sf10")
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--n-queries", type=int, default=40)
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    spark = build_session(app_name="hvmdp-bench-ann-tier")
    try:
        emb = load_table(spark, args.sf_dir, "embeddings")
        n = emb.count()
        q = emb.filter(F.col("vec_id") < args.n_queries)
        # tier-scaled knobs (the documented rules, spelled out here so the
        # artifact records what was measured)
        # cells ~ sqrt(n); probe holds a ~25% scan fraction — on RANDOM
        # vectors (no cluster structure) lower fractions crater recall
        # (measured 0.475 at 11% vs 0.7 at 25%, sf0.1). Clustered real
        # embeddings sustain far lower fractions; the artifact records
        # recall next to every time so the trade is visible.
        cells = max(16, int(math.sqrt(n)))
        probe = max(4, cells // 4)
        planes = auto_planes(n, target_bucket_rows=1024, max_planes=12)

        # exact twin once, outside every clock; also times the floor
        t_exact = _time_median(
            lambda: brute_force_knn(q, emb, k=K, vectorized=True), args.runs
        )
        exact = brute_force_knn(q, emb, k=K, vectorized=True).localCheckpoint(
            eager=True
        )

        # FAISS-style build/search split: each indexed family reports its
        # one-time BUILD cost (fit + encode, amortized over every query
        # batch in production) separately from the per-batch SEARCH cost.
        from high_volume_market_data_pipeline_spark.similarity.knn import (
            build_ivf_index,
            build_ivf_pq_index,
            build_pq_index,
        )

        def timed_build(fn):
            start = time.perf_counter()
            idx = fn()
            return idx, round(time.perf_counter() - start, 3)

        ivf_idx, ivf_b = timed_build(lambda: build_ivf_index(emb))
        ivf_s_idx, ivf_s_b = timed_build(
            lambda: build_ivf_index(emb, n_cells=cells, fit_fraction=0.1)
        )
        pq_idx, pq_b = timed_build(lambda: build_pq_index(emb))
        ivfpq_idx, ivfpq_b = timed_build(lambda: build_ivf_pq_index(emb))

        # persisted-index search: the build-once/search-many deployment —
        # the coded table comes back as versioned PARQUET (what a fresh
        # session on another node reads), not this session's
        # localCheckpoint; save/load costs are recorded next to it
        import shutil
        import tempfile

        from high_volume_market_data_pipeline_spark.similarity.index_store import (
            load_index,
            save_index,
        )

        idx_scratch = tempfile.mkdtemp(prefix="hvmdp_annidx_")
        t0 = time.perf_counter()
        save_index(pq_idx, os.path.join(idx_scratch, "pq"))
        pq_save_sec = round(time.perf_counter() - t0, 3)
        t0 = time.perf_counter()
        pq_loaded = load_index(spark, os.path.join(idx_scratch, "pq"))
        pq_load_sec = round(time.perf_counter() - t0, 3)

        # the honest cross-node number: a SEPARATE process (fresh JVM, no
        # shared page-cache-warm localCheckpoint blocks, no reused stages)
        # loads the committed index and searches — what a searcher node
        # actually pays after the build node committed
        cold = _cold_session_persisted_search(
            os.path.join(idx_scratch, "pq"), args.sf_dir, args.n_queries
        )

        # continuous-ingest tier measurement: per-batch FAISS add()
        # latency against the persisted index must stay ~flat across
        # batches — each commit writes O(batch) delta files (the append
        # manifest references the parent's files), and the only
        # corpus-proportional term is the one-column id anti-join.
        from high_volume_market_data_pipeline_spark.similarity.index_store import (
            append_to_index,
        )

        n_held = min(20_000, max(10, n // 10))
        batch_sz = max(1, n_held // 10)
        append_root = os.path.join(idx_scratch, "pq_append")
        base = emb.filter(F.col("vec_id") >= n_held)
        t0 = time.perf_counter()
        save_index(build_pq_index(base), append_root)
        append_base_build_sec = round(time.perf_counter() - t0, 3)
        batch_secs = []
        for b in range(10):
            batch = emb.filter(
                (F.col("vec_id") >= b * batch_sz)
                & (F.col("vec_id") < (b + 1) * batch_sz)
            )
            t0 = time.perf_counter()
            append_to_index(spark, append_root, batch)
            batch_secs.append(round(time.perf_counter() - t0, 3))
        # post-append freshness: queries drawn from the APPENDED ids must
        # search the updated head immediately
        idx_after = load_index(spark, append_root)
        t0 = time.perf_counter()
        fresh = pq_knn(q, emb, k=K, index=idx_after)
        fresh.write.format("noop").mode("overwrite").save()
        fresh_sec = round(time.perf_counter() - t0, 3)
        append_row = {
            "knobs": f"10 micro-batches x {batch_sz} vectors appended to a "
            f"{n - n_held}-vector persisted index (delta-file commits)",
            "base_build_sec": append_base_build_sec,
            "batch_secs": batch_secs,
            "batch_sec_median": round(statistics.median(batch_secs), 3),
            "post_append_search_sec": fresh_sec,
            "post_append_recall": _mean_recall(fresh, exact),
        }

        # delete lifecycle at the same tier: tombstone commit is
        # O(deleted ids); the search-side overhead is the anti-join
        # against the tombstone table (measured as with-tombstones vs the
        # fresh_sec above); purge rewrites the corpus once and removes
        # the overhead again.
        from high_volume_market_data_pipeline_spark.similarity.index_store import (
            delete_from_index,
            purge_deleted,
        )

        dead_ids = emb.filter(
            (F.col("vec_id") % 20 == 0) & (F.col("vec_id") < n_held)
        ).select("vec_id")
        n_dead = dead_ids.count()
        t0 = time.perf_counter()
        delete_from_index(spark, append_root, dead_ids)
        delete_sec = round(time.perf_counter() - t0, 3)
        idx_deleted = load_index(spark, append_root)
        t0 = time.perf_counter()
        sdel = pq_knn(q, emb, k=K, index=idx_deleted)
        sdel.write.format("noop").mode("overwrite").save()
        search_tombstoned_sec = round(time.perf_counter() - t0, 3)
        leaked = (
            sdel.join(dead_ids, sdel.neighbor_id == dead_ids.vec_id, "inner")
            .count()
        )
        t0 = time.perf_counter()
        purge_deleted(spark, append_root)
        purge_sec = round(time.perf_counter() - t0, 3)
        idx_purged = load_index(spark, append_root)
        t0 = time.perf_counter()
        pq_knn(q, emb, k=K, index=idx_purged).write.format("noop").mode(
            "overwrite"
        ).save()
        search_purged_sec = round(time.perf_counter() - t0, 3)
        delete_row = {
            "knobs": f"{n_dead} ids (vec_id % 20 == 0, < {n_held}) "
            "tombstoned on the appended persisted index; purge rewrites "
            "once",
            "delete_sec": delete_sec,
            "search_with_tombstones_sec": search_tombstoned_sec,
            "deleted_ids_leaked_into_results": leaked,
            "purge_sec": purge_sec,
            "search_after_purge_sec": search_purged_sec,
        }
        print(f"# pq_delete_lifecycle: {delete_row}", file=sys.stderr)

        # cell-pruned persisted IVF vs an unpartitioned twin of the SAME
        # coded rows, both searched from fresh processes — the artifact
        # the partitioned layout exists for: probe 4/16 must read ~4/16
        # of the files, and the flat twin pays the full scan.
        from high_volume_market_data_pipeline_spark.similarity.index_store import (
            _save_model_arrays,
        )
        from high_volume_market_data_pipeline_spark.sinks.history import (
            VersionedParquetTable,
        )

        part_root = os.path.join(idx_scratch, "ivf_part")
        flat_root = os.path.join(idx_scratch, "ivf_flat")
        save_index(ivf_idx, part_root)
        _save_model_arrays(
            spark,
            flat_root,
            "IVF_MODEL",
            {"n_cells": len(ivf_idx.centroids)},
            centroids=ivf_idx.centroids,
        )
        VersionedParquetTable(os.path.join(flat_root, "coded")).write(
            ivf_idx.coded.select("neighbor_id", "cv", "cell"), "IVF_CODED"
        )
        # the probed-cell set for the subprocess's single query (vec_id 0),
        # replicated driver-side: nearest n_probe centroids of the
        # normalized query under the same lexsort tie rule ivf_knn uses
        import numpy as np

        q0 = np.asarray(
            emb.filter(F.col("vec_id") == 0).select("embedding").first()[0],
            dtype=np.float64,
        )
        q0 = q0 / max(np.linalg.norm(q0), 1e-12)
        d2 = ((q0[None, :] - ivf_idx.centroids) ** 2).sum(axis=1)
        cells_ix = np.arange(len(ivf_idx.centroids))
        probed = sorted(int(c) for c in np.lexsort((cells_ix, d2))[:4])
        vt = VersionedParquetTable(os.path.join(part_root, "coded"))
        part_dir = vt._resolve(None, None)["data_dirs"][0]
        files_total, bytes_total = _dir_stats(part_dir)
        files_probed = bytes_probed = 0
        for c in probed:
            fp, bp = _dir_stats(os.path.join(part_dir, f"cell={c}"))
            files_probed += fp
            bytes_probed += bp
        pruned_cold = _cold_pruned_ivf_search(
            part_root, flat_root, args.sf_dir, n_queries=1
        )
        pruned_row = {
            "knobs": "cells=16, probe=4, ONE query (probed union = 4 cells); "
            "partitioned store vs flat twin, each from a fresh process",
            "probed_cells": probed,
            "files_probed": files_probed,
            "files_total": files_total,
            "bytes_probed": bytes_probed,
            "bytes_total": bytes_total,
            "scan_fraction": round(bytes_probed / max(bytes_total, 1), 4),
            **pruned_cold,
        }

        families = {
            "brute_force": (None, {"sec": t_exact, "recall": 1.0}),
            "pq_append_stream": (None, append_row),
            "pq_delete_lifecycle": (None, delete_row),
            "ivf_persisted_pruned": (None, pruned_row),
            "lsh_fixed4": (
                lambda: lsh_bucketed_knn(q, emb, k=K, n_planes=4),
                {"knobs": "planes=4 (old fixed default), tables=4"},
            ),
            "lsh_auto": (
                lambda: lsh_bucketed_knn(q, emb, k=K),
                {"knobs": f"planes=auto({planes}), tables=4, multi-probe"},
            ),
            "ivf_default": (
                lambda: ivf_knn(q, emb, k=K, index=ivf_idx),
                {"knobs": "cells=16, probe=4, fit=auto(256/cell)", "build_sec": ivf_b},
            ),
            "ivf_scaled": (
                lambda: ivf_knn(q, emb, k=K, n_probe=probe, index=ivf_s_idx),
                {
                    "knobs": f"cells={cells}, probe={probe}, fit_fraction=0.1",
                    "build_sec": ivf_s_b,
                    "note": "ANTI-PATTERN row (kept measured, like "
                    "lsh_fixed4): cells~sqrt(n) at a held scan fraction "
                    "only pays when cells map to prunable storage units; "
                    "in-RAM every extra probed cell is pure orchestration "
                    "— see ivf_knn docstring sizing rule",
                },
            ),
            "pq_adc": (
                lambda: pq_knn(q, emb, k=K, index=pq_idx),
                {"knobs": "m=8, codes=32, refine=256, fit=auto(256/code)", "build_sec": pq_b},
            ),
            "pq_adc_persisted": (
                lambda: pq_knn(q, emb, k=K, index=pq_loaded),
                {
                    "knobs": "m=8, codes=32, refine=256, "
                    "index reloaded from versioned store",
                    "save_sec": pq_save_sec,
                    "load_sec": pq_load_sec,
                    **cold,
                },
            ),
            "ivf_pq": (
                lambda: ivf_pq_knn(q, emb, k=K, index=ivfpq_idx),
                {
                    "knobs": "cells=16, probe=4, m=8, codes=32, refine=256, fit=auto",
                    "build_sec": ivfpq_b,
                },
            ),
        }
        rows: dict[str, dict] = {}
        for name, (fn, meta) in families.items():
            if fn is None:
                rows[name] = meta
                print(f"# {name}: {meta}", file=sys.stderr)
                continue
            try:
                sec = _time_median(fn, args.runs)
                rec = _mean_recall(fn(), exact)
                rows[name] = {**meta, "sec": sec, "recall": rec}
            except Exception as exc:
                rows[name] = {**meta, "error": str(exc).splitlines()[0][:200]}
            print(f"# {name}: {rows[name]}", file=sys.stderr)
        doc = {
            "metric": "ann_tier_shootout",
            "unit": "sec",
            "sf_dir": args.sf_dir,
            "n_vectors": n,
            "n_queries": args.n_queries,
            "k": K,
            "runs_per_point": args.runs,
            "families": rows,
        }
        line = json.dumps(doc)
        print(line)
        if args.out:
            with open(args.out, "w") as f:
                f.write(line + "\n")
        shutil.rmtree(idx_scratch, ignore_errors=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    main()
