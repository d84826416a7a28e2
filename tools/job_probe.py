"""Deterministic Spark-job-count probe for the lifecycle queries.

The ANN-append / incremental-dedup rows are job-count bound, not data
bound (r12 §1): wall-clock varies ±20% with host noise, but the number
of Spark jobs an operator schedules per run is exact and reproducible.
This probe runs each target query N times through the noop sink and
records per-run wall seconds plus the job-count delta from the driver's
AppStatusStore — the primary before/after evidence for orchestration
optimizations whose work never appears in a query plan.

Usage: python tools/job_probe.py out.json [query ...]
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from high_volume_market_data_pipeline_spark.queries import QUERIES  # noqa: E402
from high_volume_market_data_pipeline_spark.session import build_session  # noqa: E402

DEFAULT_TARGETS = [
    "stream_pq_index_ingest",
    "stream_ivf_index_ingest",
    "stream_incremental_dedup_admission",
    "incremental_dedup_admission",
    "knn_pq_persisted",
]


def _job_mark(spark) -> int:
    """Id of the newest recorded Spark job (-1 before any); counts are mark
    deltas, as in tests/conftest.py ``spark_job_mark``. The status store's
    size stops growing once ``spark.ui.retainedJobs`` jobs have run, so a
    size delta undercounts in a long session; job ids only grow."""
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    jobs = sc.statusStore().jobsList(None)  # newest first
    return jobs.apply(0).jobId() if jobs.size() else -1


def main() -> None:
    out_path = sys.argv[1]
    targets = sys.argv[2:] or DEFAULT_TARGETS
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = build_session(app_name="hvmdp-job-probe")
    result: dict = {"sf_dir": sf_dir, "queries": {}}
    try:
        # session warm-up so run 1 is not dominated by first-job setup
        QUERIES["distinct_order_priorities"](spark, sf_dir).write.format(
            "noop"
        ).mode("overwrite").save()
        for name in targets:
            runs, jobs = [], []
            for i in range(3):
                spark.sparkContext.setJobDescription(f"probe:{name} run {i+1}")
                j0 = _job_mark(spark)
                t0 = time.perf_counter()
                QUERIES[name](spark, sf_dir).write.format("noop").mode(
                    "overwrite"
                ).save()
                runs.append(round(time.perf_counter() - t0, 3))
                jobs.append(_job_mark(spark) - j0)
                spark.sparkContext.setJobDescription(None)
            result["queries"][name] = {
                "runs": runs,
                "median": sorted(runs)[1],
                "jobs": jobs,
            }
            print(name, result["queries"][name], flush=True)
    finally:
        spark.stop()
    with open(out_path, "w") as fh:
        json.dump(result, fh, indent=1)
    print("wrote", out_path)


if __name__ == "__main__":
    main()
