"""Scale evidence for the incremental-dedup store path (r13, VERDICT
item 5): at sf0.1 the bench's store (~1k banded rows) never crosses
``scope_store_min_rows``, so the scoped branch — the O(store)-avoidance
the module exists for — is never the branch being measured. This probe
bootstraps stores of growing size from the sf1 tier
(tools/make_scale_data.py), then runs ONE fixed micro-batch increment
(replay-safe mode, the streaming bridge's configuration) against each
store twice per variant:

  scoped = production thresholds (store ≥ 200k banded rows probes via a
           broadcast semi-join on the batch's band keys)
  full   = scope_store_min_rows forced to infinity (the pre-r12 shape:
           every increment aggregates the WHOLE store)

The claim under test: per-batch wall time stays ~flat as the store grows
in the scoped branch, and grows with the store in the full branch.

Run SOLO; results to stdout as one JSON line and --out.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from high_volume_market_data_pipeline_spark.catalog import load_table  # noqa: E402
from high_volume_market_data_pipeline_spark.dedup.incremental import (  # noqa: E402
    SignatureStore,
)
from high_volume_market_data_pipeline_spark.session import build_session  # noqa: E402
from high_volume_market_data_pipeline_spark.sinks.history import (  # noqa: E402
    VersionedParquetTable,
)

SF1 = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), ".scale", "sf1"
)
# sf1 ids are 10 stride-shifted copies of the sf0.1 ids (i*1e6 + 0..4999),
# so "first n docs" = n//10 per copy via doc_id % stride. Banded rows =
# 4x docs. The base store (200k rows) sits AT scope_store_min_rows; the
# bigger tiers are id-shifted copies of the base store's signature rows
# (byte-faithful to what a duplicated corpus would persist) so the probe
# can grow the store 25x without recomputing 25x the text signatures.
STRIDE = 1_000_000
BASE_DOCS = 50_000
STORE_COPIES = [1, 5, 25]  # banded rows 200k / 1M / 5M
BATCH_DOCS = 500
RUNS = 2


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--out", default="BENCH_INCR_SCALE_r13.json")
    args = ap.parse_args()
    spark = build_session(app_name="hvmdp-incr-scale")
    docs = load_table(spark, SF1, "documents").select("doc_id", "text")
    # fixed batch: 500 fresh ids guaranteed outside every store slice.
    # Their texts DUPLICATE stored docs (the sf1 copies share text), so
    # every batch doc is a vs_store rejection: the store never grows
    # between runs and the probe join is exercised with real matches.
    batch = (
        docs.filter(F.col("doc_id") < BATCH_DOCS)
        .select((F.col("doc_id") + 900_000_000).alias("doc_id"), "text")
        .localCheckpoint(eager=True)
    )
    result: dict = {"store_copies": STORE_COPIES, "base_docs": BASE_DOCS,
                    "batch_docs": BATCH_DOCS, "variants": {}}
    scratch = tempfile.mkdtemp(prefix="hvmdp_incr_scale_")
    try:
        base_dir = os.path.join(scratch, "store_base")
        base = SignatureStore(base_dir)
        t0 = time.perf_counter()
        base.bootstrap(
            docs.filter(F.col("doc_id") % STRIDE < BASE_DOCS // 10)
        )
        boot = time.perf_counter() - t0
        base_df = base.read(spark)
        for copies in STORE_COPIES:
            store_dir = os.path.join(scratch, f"store_x{copies}")
            tier = base_df
            for i in range(1, copies):
                tier = tier.unionByName(
                    base_df.withColumn(
                        "doc_id", F.col("doc_id") + i * 1_000_000_000
                    )
                )
            table = VersionedParquetTable(store_dir)
            table.write(tier, "BOOTSTRAP")
            banded_rows = table.row_count(spark)
            for variant in ("scoped", "full"):
                s = SignatureStore(store_dir)
                if variant == "full":
                    s.scope_store_min_rows = 1 << 62
                runs = []
                for r in range(RUNS):
                    t0 = time.perf_counter()
                    admitted, rejected = s.dedup_increment(
                        batch, threshold=0.9, skip_existing_ids=True
                    )
                    n_adm = admitted.count()
                    runs.append(round(time.perf_counter() - t0, 3))
                entry = result["variants"].setdefault(variant, {})
                entry[str(copies)] = {
                    "banded_rows": banded_rows,
                    "bootstrap_s": round(boot, 2),
                    "runs": runs,
                    "admitted": n_adm,
                    "scoped_branch": banded_rows >= s.scope_store_min_rows,
                }
                print(variant, copies, entry[str(copies)], flush=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        spark.stop()
    with open(args.out, "w") as fh:
        json.dump(result, fh, indent=1)
    print(json.dumps({"metric": "incr_scale", **result}))


if __name__ == "__main__":
    main()
