"""bench.py's per-query measurement: jobs, stream progress and SQL plans,
all read from what Spark records for the session."""

from __future__ import annotations

from pyspark.sql.streaming.readwriter import DataStreamWriter

import bench
from tests.conftest import SF_DIR


def test_bench_measures_jobs_stream_progress_and_plans(spark, monkeypatch):
    started = []
    start = DataStreamWriter.start

    def recording_start(self, *args, **kwargs):
        q = start(self, *args, **kwargs)
        started.append(q)
        return q

    monkeypatch.setattr(DataStreamWriter, "start", recording_start)
    progress = bench.StreamProgress(spark)
    try:
        row = bench.measure(
            spark, progress, "stream_distinct_sketch_state", SF_DIR,
            plans=True,
        )
    finally:
        progress.close()

    runs = bench.RUNS
    assert len(row["jobs"]) == runs and min(row["jobs"]) >= 1
    # every run starts the same streams; each query's own progress log is
    # what the listener must have seen
    assert started and len(started) % runs == 0
    per_run = len(started) // runs
    own = [
        [p for q in started[i:i + per_run] for p in q.recentProgress]
        for i in range(0, len(started), per_run)
    ]
    assert row["micro_batches"] == [len(o) for o in own]
    assert row["input_rows"] == sum(p.numInputRows for p in own[-1])
    assert any("== Physical Plan ==" in plan for plan in row["plans"])
