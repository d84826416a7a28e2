"""Streaming behavior tests beyond the end-state oracle: multi-batch
arrival, streaming dedup across batches, foreachBatch upsert sink."""

from __future__ import annotations
import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from high_volume_market_data_pipeline_spark.session import scoped_conf
from high_volume_market_data_pipeline_spark.sinks.history import (
    VersionedParquetTable,
)
from high_volume_market_data_pipeline_spark.streaming import (
    read_parquet_stream,
    run_to_memory_sink,
    streaming_dedup,
    tumbling_window_agg,
)
from high_volume_market_data_pipeline_spark.streaming.sink import (
    foreach_batch_upsert,
)

SCHEMA = StructType(
    [
        StructField("k", LongType()),
        StructField("seq", LongType()),
        StructField("ts", TimestampType()),
    ]
)


def _write_batch(spark, path, rows):
    spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(
        path
    )


def _ts(spark, s):
    return spark.sql(f"SELECT timestamp'{s}' t").collect()[0].t


def test_streaming_dedup_across_batches(spark, tmp_path):
    src = str(tmp_path / "src")
    t1 = _ts(spark, "2024-01-01 10:00:00")
    _write_batch(spark, src, [(1, 1, t1), (1, 2, t1), (2, 1, t1)])
    sdf = read_parquet_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    deduped = streaming_dedup(sdf, ["k", "ts"], "ts", "1 hour")
    out = run_to_memory_sink(deduped, output_mode="append")
    rows = out.collect()
    # one row per (k, ts): first arrival wins
    assert {r.k for r in rows} == {1, 2}
    assert len(rows) == 2


def test_tumbling_window_multi_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    t1 = _ts(spark, "2024-01-01 10:15:00")
    t2 = _ts(spark, "2024-01-01 11:45:00")
    _write_batch(spark, src, [(1, 1, t1), (2, 2, t1)])
    _write_batch(spark, src, [(3, 3, t2)])
    sdf = read_parquet_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    agg = tumbling_window_agg(
        sdf, "ts", "1 hour", [], [F.count(F.lit(1)).alias("n")]
    )
    out = run_to_memory_sink(agg, output_mode="complete")
    got = {
        (r["window"].start.isoformat(), r.n) for r in out.collect()
    }
    assert got == {("2024-01-01T10:00:00", 2), ("2024-01-01T11:00:00", 1)}


def test_foreach_batch_upsert_sink(spark, tmp_path):
    src = str(tmp_path / "src")
    target = str(tmp_path / "target")
    ckpt = str(tmp_path / "ckpt")
    t1 = _ts(spark, "2024-01-01 10:00:00")
    t2 = _ts(spark, "2024-01-01 10:30:00")
    _write_batch(spark, src, [(1, 1, t1), (2, 1, t1)])
    _write_batch(spark, src, [(1, 2, t2)])  # upsert k=1 with newer seq
    sdf = read_parquet_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    q = foreach_batch_upsert(sdf, target, keys=["k"], order_col="seq", checkpoint=ckpt)
    q.awaitTermination()
    rows = {(r.k, r.seq) for r in spark.read.parquet(target).collect()}
    assert rows == {(1, 2), (2, 1)}


def test_custom_state_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState: state must persist across micro-batches —
    two files fed one per trigger yield two snapshots per touched user,
    and the final snapshot equals the batch groupBy totals."""
    import pyspark.sql.functions as F

    from high_volume_market_data_pipeline_spark.catalog import load_table
    from high_volume_market_data_pipeline_spark.streaming.custom_state import (
        running_user_totals,
    )
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select("user_id", "ts", "value")
    stream_dir = str(tmp_path / "stream_in")
    # two files → two micro-batches with maxFilesPerTrigger=1
    ev.filter(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(
        stream_dir + "/f0.parquet"
    )
    ev.filter(F.col("user_id") % 2 == 1).coalesce(1).write.parquet(
        stream_dir + "/f1.parquet"
    )
    sdf = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stream_dir + "/*")
    )
    out = run_to_memory_sink(
        running_user_totals(sdf), output_mode="append"
    ).collect()
    # final snapshot per user (largest n_events) ≡ batch totals
    final = {}
    for r in out:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
    batch = {
        r["user_id"]: (r["n"], r["s"])
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(final) == set(batch)
    for uid, (n, total) in batch.items():
        assert final[uid][0] == n, (uid, final[uid], n)
        assert abs(final[uid][1] - total) < 1e-6 * max(1.0, abs(total))


def test_dedup_within_watermark_collapses_resent_records(spark, tmp_path):
    """dropDuplicatesWithinWatermark: the same logical key re-sent with a
    DIFFERENT timestamp within the delay must collapse to one row."""
    from datetime import datetime

    from high_volume_market_data_pipeline_spark.streaming import (
        run_to_memory_sink,
        streaming_dedup,
    )

    rows = [
        (1, 100, datetime(2024, 1, 1, 10, 0, 0)),
        (1, 101, datetime(2024, 1, 1, 10, 5, 0)),  # retry, new ts, same key
        (2, 200, datetime(2024, 1, 1, 10, 1, 0)),
    ]
    src = str(tmp_path / "dd_in")
    spark.createDataFrame(rows, SCHEMA).write.parquet(src)
    sdf = spark.readStream.schema(SCHEMA).parquet(src)
    out = run_to_memory_sink(
        streaming_dedup(sdf, ["k"], "ts", "30 minutes", within_watermark=True),
        output_mode="append",
    ).collect()
    ks = sorted(r["k"] for r in out)
    assert ks == [1, 2], out


def test_rate_source_synthetic_ticks(spark):
    """Rate source → synthetic tick stream (SURVEY §2.10: the streaming
    analogue of the S4 range source; the S1 HTTP poll plugs into the same
    shape via foreachBatch)."""
    from high_volume_market_data_pipeline_spark.streaming import (
        run_to_memory_sink,
    )

    ticks = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 50)
        .load()
        .select(
            F.col("timestamp").alias("ts"),
            (F.col("value") % 5).alias("coin_id"),
            (100.0 + (F.col("value") % 17)).alias("price"),
        )
    )
    name = "rate_ticks_test"
    q = (
        ticks.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .start()
    )
    try:
        import time

        deadline = time.time() + 20
        n = 0
        while time.time() < deadline:
            n = spark.table(name).count()
            if n >= 10:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert n >= 10, f"rate source produced only {n} rows"
    row = spark.table(name).first()
    assert set(spark.table(name).columns) == {"ts", "coin_id", "price"}
    assert 0 <= row["coin_id"] < 5


def test_transform_with_state_matches_legacy_api(spark, tmp_path):
    """transformWithStateInPandas (Spark 4 successor API) must produce the
    same final per-key totals as applyInPandasWithState and the batch
    groupBy — same two-file, one-file-per-trigger harness. Needs the
    RocksDB state-store provider (production config for this API) and
    google.protobuf (absent in this container → skip)."""
    pytest.importorskip("google.protobuf")
    import pyspark.sql.functions as F

    from high_volume_market_data_pipeline_spark.catalog import load_table
    from high_volume_market_data_pipeline_spark.streaming.custom_state import (
        running_user_totals_tws,
    )
    from tests.conftest import SF_DIR

    ev = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "ts", "value")
        .filter(F.col("user_id") < 50)
    )
    stream_dir = str(tmp_path / "stream_in")
    ev.filter(F.col("user_id") % 2 == 0).coalesce(1).write.parquet(
        stream_dir + "/f0.parquet"
    )
    ev.filter(F.col("user_id") % 2 == 1).coalesce(1).write.parquet(
        stream_dir + "/f1.parquet"
    )
    with scoped_conf(
        spark,
        {
            "spark.sql.streaming.stateStore.providerClass": "org.apache.spark."
            "sql.execution.streaming.state.RocksDBStateStoreProvider",
        },
    ):
        sdf = (
            spark.readStream.schema(ev.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(stream_dir + "/*")
        )
        out = run_to_memory_sink(
            running_user_totals_tws(sdf), output_mode="append"
        ).collect()
    final = {}
    for r in out:
        cur = final.get(r["user_id"])
        if cur is None or r["n_events"] > cur[0]:
            final[r["user_id"]] = (r["n_events"], r["total_value"])
    batch = {
        r["user_id"]: (r["n"], r["s"])
        for r in ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"))
        .collect()
    }
    assert set(final) == set(batch)
    for uid, (n, total) in batch.items():
        assert final[uid][0] == n
        assert abs(final[uid][1] - total) < 1e-6


def test_checkpoint_recovery_processes_each_file_once(spark, tmp_path):
    """Restarting an availableNow query against the SAME checkpoint must
    process only files that arrived after the first run — the source
    offset log survives the restart (exactly-once per input file)."""
    import pyspark.sql.functions as F

    from high_volume_market_data_pipeline_spark.streaming.sink import (
        foreach_batch_apply,
    )

    src = str(tmp_path / "arrivals")
    log = str(tmp_path / "processed_log")
    ckpt = str(tmp_path / "ckpt")

    def append_to_log(batch_df, batch_id):
        if not batch_df.isEmpty():
            batch_df.write.mode("append").parquet(log)

    def run_once():
        sdf = spark.readStream.schema("k long, v long").parquet(src + "/*")
        q = foreach_batch_apply(sdf, append_to_log, ckpt)
        q.awaitTermination()

    spark.range(5).select(F.col("id").alias("k"), F.lit(1).alias("v")).coalesce(
        1
    ).write.parquet(src + "/f0.parquet")
    run_once()
    assert spark.read.parquet(log).count() == 5

    spark.range(3).select((F.col("id") + 100).alias("k"), F.lit(2).alias("v")).coalesce(
        1
    ).write.parquet(src + "/f1.parquet")
    run_once()
    out = spark.read.parquet(log)
    # 5 + 3, not 5 + 8: file f0 was NOT reprocessed on restart.
    assert out.count() == 8
    assert out.filter(F.col("v") == 1).count() == 5
    assert out.filter(F.col("v") == 2).count() == 3


def test_late_events_beyond_watermark_are_dropped(spark, tmp_path):
    """Append-mode watermark semantics: an event arriving after its
    window was finalized (watermark passed window end) must NOT reopen
    the window — the emitted count excludes it. This is the documented
    late-data contract (SURVEY §2.10): batch MERGE is the reconciliation
    path for anything later than the watermark."""
    src = str(tmp_path / "src")
    # Micro-batch boundaries matter: the watermark that FILTERS input
    # lags one batch behind the one that evicts state (measured on this
    # Spark: a late row arriving in the batch immediately after the
    # watermark-advancing event is still merged). So put the advancing
    # event (12:59) two batches before the late arrival, with a spacer
    # batch in between — then the drop is deterministic
    # (numRowsDroppedByWatermark=1).
    _write_batch(
        spark,
        src,
        [
            (1, 1, _ts(spark, "2024-01-01 10:15:00")),
            (2, 2, _ts(spark, "2024-01-01 10:20:00")),
        ],
    )
    _write_batch(spark, src, [(3, 3, _ts(spark, "2024-01-01 12:59:00"))])
    _write_batch(spark, src, [(6, 6, _ts(spark, "2024-01-01 12:59:30"))])
    # Final batch: one event 2.5 h late into the finalized 10:00 window
    # (dropped), one at 13:30 advancing the watermark past 13:00 so the
    # 12:00 window finalizes and emits.
    _write_batch(
        spark,
        src,
        [
            (4, 4, _ts(spark, "2024-01-01 10:30:00")),
            (5, 5, _ts(spark, "2024-01-01 13:30:00")),
        ],
    )
    sdf = read_parquet_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    agg = tumbling_window_agg(
        sdf, "ts", "1 hour", [], [F.count(F.lit(1)).alias("n")]
    )
    out = run_to_memory_sink(agg, output_mode="append")
    got = {(r["window"].start.isoformat(), r.n) for r in out.collect()}
    assert ("2024-01-01T10:00:00", 2) in got      # late event NOT counted
    assert ("2024-01-01T10:00:00", 3) not in got
    assert ("2024-01-01T12:00:00", 2) in got


def test_streaming_medallion_matches_batch_end_state(spark, tmp_path):
    """Two incremental syncs (second delivers new days PLUS re-delivered
    duplicates of old rows) must converge to the same silver/gold state as
    one batch medallion over the full input, and the second sync must not
    double-publish bronze rows."""
    from high_volume_market_data_pipeline_spark.plans.medallion import (
        run_medallion,
    )
    from high_volume_market_data_pipeline_spark.plans.streaming_medallion import (
        run_streaming_medallion,
    )
    from high_volume_market_data_pipeline_spark.sources.generator import (
        generate_market_data,
    )

    full_path = str(tmp_path / "full")
    generate_market_data(spark, n_coins=6, days=4).write.parquet(full_path)
    full = spark.read.parquet(full_path)
    cut = "2024-01-03"  # generator's hourly grid spans fixed dates
    days = sorted(r[0] for r in full.select(
        F.to_date(F.col("last_updated")).alias("d")).distinct().collect())
    cut = str(days[len(days) // 2])
    chunk1 = full.filter(F.to_date("last_updated") < F.lit(cut))
    chunk2 = full.filter(F.to_date("last_updated") >= F.lit(cut))
    dupes = chunk1.limit(17)  # re-delivered rows, identical payload

    ingest = F.to_timestamp(F.lit("2024-06-01 00:00:00"))
    raw_dir = str(tmp_path / "raw")
    stream_root = str(tmp_path / "stream_root")
    batch_root = str(tmp_path / "batch_root")

    chunk1.write.mode("append").parquet(raw_dir)
    t1 = run_streaming_medallion(
        spark, raw_dir, full.schema, stream_root, ingestion_time=ingest
    )
    assert set(t1) == {"bronze", "silver", "gold"}
    bronze_after_1 = spark.read.parquet(stream_root + "/bronze/market_snapshots").count()
    assert bronze_after_1 == chunk1.count()

    chunk2.unionByName(dupes).write.mode("append").parquet(raw_dir)
    run_streaming_medallion(
        spark, raw_dir, full.schema, stream_root, ingestion_time=ingest
    )

    # Bronze appended only the new files' rows (checkpoint skips chunk1).
    bronze_rows = spark.read.parquet(
        stream_root + "/bronze/market_snapshots"
    ).count()
    assert bronze_rows == full.count() + dupes.count()

    run_medallion(spark, full, batch_root, ingestion_time=ingest)

    s_stream = spark.read.parquet(stream_root + "/silver/market_snapshots")
    s_batch = spark.read.parquet(batch_root + "/silver/market_snapshots")
    key = ["id", "last_updated"]
    assert s_stream.count() == s_batch.count()  # dups collapsed
    assert s_stream.select(*key).subtract(s_batch.select(*key)).count() == 0

    g_stream = spark.read.parquet(stream_root + "/gold/market_stats")
    g_batch = spark.read.parquet(batch_root + "/gold/market_stats")
    rows_s = sorted(map(tuple, g_stream.collect()))
    rows_b = sorted(map(tuple, g_batch.collect()))
    assert rows_s == rows_b


def test_monitor_expectations_per_batch_ledger(spark, tmp_path):
    """Per-micro-batch DQ: each batch appends one ledger row per rule;
    totals across batches equal the batch-mode report; the violation hook
    fires only for failing batches."""
    from high_volume_market_data_pipeline_spark.operators.quality import (
        check_expectations,
    )
    from high_volume_market_data_pipeline_spark.streaming import (
        monitor_expectations,
    )

    src = str(tmp_path / "src")
    _write_batch(spark, src, [(1, 5, _ts(spark, "2024-01-01 00:00:00"))])
    _write_batch(spark, src, [(2, -3, _ts(spark, "2024-01-01 01:00:00")),
                              (3, 9, _ts(spark, "2024-01-01 02:00:00"))])

    rules = {"seq_positive": F.col("seq") > 0}
    hits = []
    sdf = (
        spark.readStream.schema(SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = monitor_expectations(
        sdf, rules,
        log_path=str(tmp_path / "ledger"),
        checkpoint=str(tmp_path / "ckpt"),
        on_violation=lambda failing, bid: hits.append(bid),
    )
    q.awaitTermination()

    ledger = VersionedParquetTable(str(tmp_path / "ledger")).read(spark)
    rows = ledger.orderBy("batch_id").collect()
    assert len(rows) == 2  # one rule x two micro-batches
    assert sum(r["n_violations"] for r in rows) == 1
    assert len(hits) == 1  # only the batch containing seq=-3

    batch_report = check_expectations(spark.read.parquet(src), rules)
    want = batch_report.collect()[0]
    assert want["n_violations"] == 1
    assert sum(r["n_rows"] for r in rows) == want["n_rows"]


def test_monitor_expectations_replayed_batch_commits_once(spark, tmp_path):
    """A batch whose violation hook fails the stream has already
    committed its report; the restart on the same checkpoint replays the
    batch, and the ledger must still hold one row per (batch_id, rule) —
    the ledger records the batch id under the stream's query id, which
    the checkpoint keeps, so the replay's commit is a no-op. A new
    monitor run on a fresh checkpoint is a new query: reusing the ledger,
    its batch 0 still commits."""
    from collections import Counter

    from pyspark.errors import StreamingQueryException

    from high_volume_market_data_pipeline_spark.streaming import (
        monitor_expectations,
    )

    src = str(tmp_path / "src")
    _write_batch(spark, src, [(1, -5, _ts(spark, "2024-01-01 00:00:00"))])
    _write_batch(spark, src, [(2, 3, _ts(spark, "2024-01-01 01:00:00"))])
    rules = {
        "seq_positive": F.col("seq") > 0,
        "k_set": F.col("k").isNotNull(),
    }

    def run(on_violation=None):
        sdf = (
            spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        return monitor_expectations(
            sdf, rules,
            log_path=str(tmp_path / "ledger"),
            checkpoint=str(tmp_path / "ckpt"),
            on_violation=on_violation,
        )

    def fail_batch_0(failing, batch_id):
        if batch_id == 0:
            raise RuntimeError("quarantine batch 0")

    q = run(fail_batch_0)
    with pytest.raises(StreamingQueryException):
        q.awaitTermination()
    run().awaitTermination()

    ledger = VersionedParquetTable(str(tmp_path / "ledger"))
    rows = ledger.read(spark).collect()
    assert Counter((r["batch_id"], r["rule"]) for r in rows) == {
        (0, "seq_positive"): 1,
        (0, "k_set"): 1,
        (1, "seq_positive"): 1,
        (1, "k_set"): 1,
    }

    src2 = str(tmp_path / "src2")
    _write_batch(spark, src2, [(3, 7, _ts(spark, "2024-01-01 02:00:00"))])
    monitor_expectations(
        spark.readStream.schema(SCHEMA).parquet(src2), rules,
        log_path=str(tmp_path / "ledger"),
        checkpoint=str(tmp_path / "ckpt2"),
    ).awaitTermination()
    rows = ledger.read(spark).collect()
    assert Counter((r["batch_id"], r["rule"]) for r in rows) == {
        (0, "seq_positive"): 2,
        (0, "k_set"): 2,
        (1, "seq_positive"): 1,
        (1, "k_set"): 1,
    }


def test_stream_quality_ledger_flags_seeded_violations(spark, tmp_path):
    """End-to-end gate: seeded bad rows must surface as failed rules in the
    folded ledger (the registered query's oracle only sees clean data)."""
    import datetime as dt

    from high_volume_market_data_pipeline_spark.queries_streaming import (
        stream_quality_ledger,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (1, base, 5, "click", 1.0, "{}"),
        (2, base, -3, "click", 2.0, "{}"),       # user_id_positive fails
        (3, base, 6, "mystery", 3.0, "{}"),      # event_type_known fails
        (4, base, 7, "view", -0.5, "{}"),        # value_nonnegative fails
    ]
    import pyarrow as pa
    import pyarrow.parquet as pq

    # single parquet FILE (like the testdata layout): the file-stream stage
    # symlinks sf_dir/events.parquet and does not recurse into a directory.
    tbl = pa.table(
        {
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], pa.timestamp("us")),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": pa.array([r[3] for r in rows], pa.string()),
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": pa.array([r[5] for r in rows], pa.string()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "events.parquet"))
    out = {r["rule"]: r for r in stream_quality_ledger(spark, str(tmp_path)).collect()}
    assert out["ts_not_null"]["passed"] is True
    assert out["user_id_positive"]["n_violations"] == 1
    assert out["event_type_known"]["n_violations"] == 1
    assert out["value_nonnegative"]["n_violations"] == 1
    assert all(r["n_rows"] == 4 for r in out.values())


def test_rate_micro_batch_source_drives_tumbling_windows(spark):
    """SURVEY §2.10's rate-source demo: Spark's deterministic
    rate-micro-batch source (fixed rows per batch, fixed event-time
    advance per batch) feeds the same tumbling-window operator the file
    stream uses. Every completed 1-minute window must hold exactly one
    batch's rows."""
    import time
    import uuid

    from pyspark.sql import functions as F

    from high_volume_market_data_pipeline_spark.streaming import (
        tumbling_window_agg,
    )

    sdf = (
        spark.readStream.format("rate-micro-batch")
        .option("rowsPerBatch", 10)
        .option("numPartitions", 1)
        .option("startTimestamp", 0)
        .option("advanceMillisPerBatch", 60000)
        .load()
    )
    agg = tumbling_window_agg(
        sdf, "timestamp", "1 minute", [],
        [F.count(F.lit(1)).alias("n"), F.sum("value").alias("sum_v")],
    )
    name = f"rate_{uuid.uuid4().hex[:8]}"
    with scoped_conf(spark, {"spark.sql.shuffle.partitions": "4"}):
        q = (
            agg.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
            .trigger(processingTime="0 seconds")
            .start()
        )
        try:
            deadline = time.time() + 60
            rows = []
            while time.time() < deadline:
                rows = spark.sql(f"SELECT * FROM {name}").collect()
                if len(rows) >= 3:
                    break
                time.sleep(0.5)
        finally:
            q.stop()
    assert len(rows) >= 3
    # batch k rows are values [10k, 10k+10) stamped at minute k:
    # each window holds exactly its batch, sum = 10*(100k+...)= arithmetic
    by_start = {r["window"].start.minute + 60 * r["window"].start.hour: r for r in rows}
    for k in (0, 1):  # earliest windows are certainly complete
        assert by_start[k]["n"] == 10
        assert by_start[k]["sum_v"] == sum(range(10 * k, 10 * k + 10))


def test_interval_join_left_outer_emits_unmatched_after_eviction(
    spark, tmp_path
):
    """leftOuter stream-stream join: a left row with no match inside the
    time bound must emit ONCE, null-padded, after the watermark passes its
    bound (state eviction) — and matched rows must never also emit a
    null-padded twin. This is the capability inner joins don't exercise:
    outer results only exist because bounded state is evicted."""
    from pyspark.sql.types import StructField, StructType, TimestampType

    from high_volume_market_data_pipeline_spark.streaming.joins import (
        interval_join_streams,
    )

    c_schema = StructType(
        [
            StructField("click_id", LongType()),
            StructField("user_id", LongType()),
            StructField("click_ts", TimestampType()),
        ]
    )
    p_schema = StructType(
        [
            StructField("purchase_id", LongType()),
            StructField("user_id", LongType()),
            StructField("purchase_ts", TimestampType()),
        ]
    )
    cdir, pdir = str(tmp_path / "clicks"), str(tmp_path / "purchases")
    t10 = _ts(spark, "2024-01-01 10:00:00")
    t1030 = _ts(spark, "2024-01-01 10:30:00")
    t20 = _ts(spark, "2024-01-01 20:00:00")
    # wave 1: c1 never matches; c2 matches p2 within the 2 h bound
    spark.createDataFrame(
        [(1, 1, t10), (2, 2, t10)], c_schema
    ).coalesce(1).write.mode("append").parquet(cdir)
    spark.createDataFrame([(102, 2, t1030)], p_schema).coalesce(1).write.mode(
        "append"
    ).parquet(pdir)
    # wave 2: far-future rows push BOTH watermarks past c1's eviction bound
    spark.createDataFrame([(9, 9, t20)], c_schema).coalesce(1).write.mode(
        "append"
    ).parquet(cdir)
    spark.createDataFrame([(109, 9, t20)], p_schema).coalesce(1).write.mode(
        "append"
    ).parquet(pdir)

    clicks = read_parquet_stream(spark, cdir, c_schema, max_files_per_trigger=1)
    purchases = read_parquet_stream(
        spark, pdir, p_schema, max_files_per_trigger=1
    )
    joined = interval_join_streams(
        clicks,
        purchases,
        key="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        max_gap="2 hours",
        watermark="1 hour",
        how="leftOuter",
    ).select(
        "click_id", F.col("l.user_id").alias("user_id"), "purchase_id"
    )
    out = run_to_memory_sink(joined, output_mode="append")
    rows = {(r.click_id, r.purchase_id) for r in out.collect()}
    # c2 matched; c1 evicted unmatched -> exactly one null-padded row;
    # c9/p9 are a match too (same user, same instant fails ts> bound -> no
    # match, but 20:00+2h eviction never passes, so c9 must NOT emit).
    assert (2, 102) in rows
    assert (1, None) in rows
    assert not any(cid == 9 for cid, _ in rows)
    assert not any(cid == 2 and pid is None for cid, pid in rows)


def test_timeout_sessions_close_only_after_watermark_eviction(
    spark, tmp_path
):
    """Event-time-timeout sessionization: sessions emit exactly once, only
    when the watermark passes last-event + gap; still-active keys emit
    nothing. (The hasTimedOut branch is the ONLY emission path.)"""
    from high_volume_market_data_pipeline_spark.streaming.custom_state import (
        timeout_sessions,
    )

    src = str(tmp_path / "src")
    t0 = _ts(spark, "2024-01-01 10:00:00")
    t10 = _ts(spark, "2024-01-01 10:10:00")
    t05 = _ts(spark, "2024-01-01 10:05:00")
    t45 = _ts(spark, "2024-01-01 10:45:00")
    t20 = _ts(spark, "2024-01-01 20:00:00")
    # wave 1: users 1/2 in-gap sessions; user 3's two events straddle the
    # 30-min gap INSIDE one batch -> must split into two sessions.
    # wave 2: far-future event evicts everything buffered.
    _write_batch(
        spark,
        src,
        [(1, 1, t0), (1, 2, t10), (2, 1, t05), (3, 1, t0), (3, 2, t45)],
    )
    _write_batch(spark, src, [(9, 1, t20)])

    sdf = read_parquet_stream(spark, src, SCHEMA, max_files_per_trigger=1)
    sdf = sdf.withColumnRenamed("k", "user_id")
    out = run_to_memory_sink(
        timeout_sessions(sdf, key="user_id", ts_col="ts", gap_seconds=1800),
        output_mode="append",
    )
    rows = {
        (r.user_id, str(r.session_start), str(r.session_end), r.n_events)
        for r in out.collect()
    }
    assert (1, "2024-01-01 10:00:00", "2024-01-01 10:10:00", 2) in rows
    assert (2, "2024-01-01 10:05:00", "2024-01-01 10:05:00", 1) in rows
    # gap split: two single-event sessions, not one merged 45-minute one
    assert (3, "2024-01-01 10:00:00", "2024-01-01 10:00:00", 1) in rows
    assert (3, "2024-01-01 10:45:00", "2024-01-01 10:45:00", 1) in rows
    assert not any(u == 9 for u, *_ in rows)
    assert len(rows) == 4


def test_socket_json_stream_parses_typed_rows(spark):
    """Socket source (dev tap): newline-delimited JSON over TCP parses to
    typed rows end-to-end. Served from a local ephemeral-port thread."""
    import json
    import socket
    import threading
    import time

    from pyspark.sql.types import DoubleType, StringType

    from high_volume_market_data_pipeline_spark.streaming import (
        read_socket_json_stream,
    )

    payload = [
        {"sym": "btc", "price": 101.5},
        {"sym": "eth", "price": 7.25},
        {"sym": "btc", "price": 99.0},
    ]
    server = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    server.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    server.bind(("127.0.0.1", 0))
    port = server.getsockname()[1]
    server.listen(1)
    done = threading.Event()

    def serve():
        conn, _ = server.accept()
        with conn:
            data = "".join(json.dumps(p) + "\n" for p in payload)
            conn.sendall(data.encode())
            done.wait(timeout=60)  # keep the connection open until read

    t = threading.Thread(target=serve, daemon=True)
    t.start()

    schema = StructType(
        [StructField("sym", StringType()), StructField("price", DoubleType())]
    )
    sdf = read_socket_json_stream(spark, "127.0.0.1", port, schema)
    name = "socket_json_stream"
    q = (
        sdf.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .trigger(processingTime="0 seconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline:
            if spark.table(name).count() >= len(payload):
                break
            time.sleep(0.5)
        rows = {(r.sym, r.price) for r in spark.table(name).collect()}
    finally:
        done.set()
        q.stop()
        server.close()
    assert rows == {("btc", 101.5), ("eth", 7.25), ("btc", 99.0)}


def test_paged_feed_stream_checkpoint_recovery_exactly_once(spark, tmp_path):
    """The custom Python DataSource's streaming offsets survive a query
    restart: run one micro-batch, stop, restart against the SAME
    checkpoint with more pages available — every page lands exactly once
    (the page-number offset log is the recovery contract)."""
    import pyspark.sql.functions as F

    from high_volume_market_data_pipeline_spark.sources.api_datasource import (
        register_paged_feed,
    )

    register_paged_feed(spark)
    log = str(tmp_path / "feed_log")
    ckpt = str(tmp_path / "feed_ckpt")

    def run(pages: int, max_batches: int):
        sdf = (
            spark.readStream.format("paged_feed")
            .option("pages", pages)
            .option("page_size", 10)
            .load()
        )

        def sink(batch_df, batch_id):
            if not batch_df.isEmpty():
                batch_df.write.mode("append").parquet(log)

        q = (
            sdf.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="0 seconds")
            .start()
        )
        import time

        deadline = time.time() + 60
        try:
            while time.time() < deadline:
                try:
                    if (
                        spark.read.parquet(log)
                        .select("page")
                        .distinct()
                        .count()
                        >= max_batches
                    ):
                        break
                except Exception:
                    pass  # log dir not created yet
                time.sleep(0.5)
        finally:
            q.stop()

    run(pages=2, max_batches=2)   # first run drains pages 1-2, then stop
    run(pages=5, max_batches=5)   # restart: must resume at page 3

    out = spark.read.parquet(log)
    counts = {
        r.page: r.n
        for r in out.groupBy("page").agg(F.count("*").alias("n")).collect()
    }
    # exactly once per page: pages 1-5 each with 10 rows, no replays
    assert counts == {1: 10, 2: 10, 3: 10, 4: 10, 5: 10}, counts


def test_stream_hll_state_matches_direct_sketch_and_replay_converges(
    spark, tmp_path
):
    """The streamed sketch state must have IDENTICAL estimates to a direct
    batch sketch over the same rows (HLL union exactness: max-per-register
    is associative), one table version per micro-batch; and replaying the
    whole input with a fresh checkpoint against the SAME state table must
    change nothing (union idempotence — at-least-once delivery converges)."""
    import datetime

    from high_volume_market_data_pipeline_spark.operators.sketches import (
        hll_estimate,
        hll_rollup,
    )
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )
    from high_volume_market_data_pipeline_spark.streaming.sketch_state import (
        stream_hll_state,
    )

    src = str(tmp_path / "src")
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)
    # two files -> two micro-batches (maxFilesPerTrigger=1); overlapping
    # users across batches so the union actually merges registers
    _write_batch(
        spark,
        src,
        [(u, s, base + datetime.timedelta(hours=s)) for u in (1, 2, 3) for s in (0, 1)],
    )
    _write_batch(
        spark,
        src,
        [(u, s, base + datetime.timedelta(hours=s)) for u in (2, 3, 4, 5) for s in (2, 3)],
    )

    def run(checkpoint: str) -> None:
        sdf = read_parquet_stream(
            spark, src, SCHEMA, max_files_per_trigger=1
        ).withColumn("day", F.to_date("ts"))
        q = stream_hll_state(
            sdf,
            ["day"],
            "k",
            table_root=str(tmp_path / "state"),
            checkpoint=checkpoint,
        )
        q.awaitTermination()

    run(str(tmp_path / "ckpt1"))
    table = VersionedParquetTable(str(tmp_path / "state"))
    assert table.latest_version() == 1  # one committed version per batch

    def estimates() -> dict:
        return {
            str(r["day"]): r["est"]
            for r in table.read(spark)
            .select("day", hll_estimate(F.col("sketch")).alias("est"))
            .collect()
        }

    got = estimates()
    batch = spark.read.parquet(src).withColumn("day", F.to_date("ts"))
    want = {
        str(r["day"]): r["est"]
        for r in hll_rollup(batch, ["day"], "k")
        .select("day", hll_estimate(F.col("sketch")).alias("est"))
        .collect()
    }
    assert got == want  # union exactness, not approximate agreement
    # exact small-cardinality sanity: 5 distinct users on day one
    assert got[str(datetime.date(2024, 1, 1))] == 5

    # replay the same input against the same table, fresh checkpoint
    run(str(tmp_path / "ckpt2"))
    assert table.latest_version() == 3  # two more commits...
    assert estimates() == want  # ...but the state did not move


def test_stream_hll_state_restart_recovery(spark, tmp_path):
    """Restart-recovery for the sketch-state fold, the paged-feed
    exactly-once pattern applied to state: a stream that stops after
    processing part of the input and RESTARTS FROM THE SAME CHECKPOINT
    must (a) process only the unseen files — one state version per new
    micro-batch, none for replayed ones — and (b) land on the identical
    end state as a single uninterrupted run (direct batch sketch over
    everything)."""
    import datetime

    from high_volume_market_data_pipeline_spark.operators.sketches import (
        hll_estimate,
        hll_rollup,
    )
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )
    from high_volume_market_data_pipeline_spark.streaming.sketch_state import (
        stream_hll_state,
    )

    src = str(tmp_path / "src")
    ckpt = str(tmp_path / "ckpt")  # ONE checkpoint across both runs
    base = datetime.datetime(2024, 1, 1, 0, 0, 0)

    def run() -> None:
        sdf = read_parquet_stream(
            spark, src, SCHEMA, max_files_per_trigger=1
        ).withColumn("day", F.to_date("ts"))
        q = stream_hll_state(
            sdf,
            ["day"],
            "k",
            table_root=str(tmp_path / "state"),
            checkpoint=ckpt,
        )
        q.awaitTermination()

    # run 1: one file, then the "crash" (availableNow drains and stops)
    _write_batch(spark, src, [(u, 0, base) for u in (1, 2, 3)])
    run()
    table = VersionedParquetTable(str(tmp_path / "state"))
    assert table.latest_version() == 0  # one batch -> one version

    # two more files arrive while down; restart from the same checkpoint
    _write_batch(spark, src, [(u, 1, base) for u in (3, 4)])
    _write_batch(
        spark,
        src,
        [(u, 2, base + datetime.timedelta(days=1)) for u in (5, 6)],
    )
    run()
    # exactly the two NEW files became batches: versions 1 and 2, no
    # re-processing of file one (that would have minted a third version)
    assert table.latest_version() == 2

    got = {
        str(r["day"]): r["est"]
        for r in table.read(spark)
        .select("day", hll_estimate(F.col("sketch")).alias("est"))
        .collect()
    }
    batch = spark.read.parquet(src).withColumn("day", F.to_date("ts"))
    want = {
        str(r["day"]): r["est"]
        for r in hll_rollup(batch, ["day"], "k")
        .select("day", hll_estimate(F.col("sketch")).alias("est"))
        .collect()
    }
    assert got == want
    assert got[str(datetime.date(2024, 1, 1))] == 4  # users 1,2,3,4
    assert got[str(datetime.date(2024, 1, 2))] == 2  # users 5,6


def test_stream_incremental_dedup_restart_and_replay(spark, tmp_path):
    """Continuous-ingest dedup admission: (1) restart from the same
    checkpoint processes only unseen arrival files, and decisions match
    the batch path (a copy of a doc admitted in an EARLIER batch is
    rejected vs_store — its signatures landed); (2) a full replay with a
    fresh checkpoint against the SAME store converges: the replay (a new
    query, so its ledger commits all land) decides exactly the first
    runs' sets, and the store is UNCHANGED (self-pairs excluded,
    id-deduped appends) — at-least-once delivery is safe."""
    from high_volume_market_data_pipeline_spark.dedup.incremental import (
        SignatureStore,
    )
    from high_volume_market_data_pipeline_spark.streaming.incremental import (
        read_ledger,
        stream_incremental_dedup,
    )

    t = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "lorem ipsum dolor sit amet consectetur adipiscing elit sed do",
        "one two three four five six seven eight nine ten",
        "red orange yellow green blue indigo violet cyan magenta white",
        "north south east west up down left right front back",
    ]
    store = SignatureStore(str(tmp_path / "sigs"))
    store.bootstrap(
        spark.createDataFrame(
            [(0, t[0]), (1, t[1])], "doc_id long, text string"
        )
    )
    arrivals = str(tmp_path / "arrivals")
    ckpt = str(tmp_path / "ckpt")
    ledger = str(tmp_path / "ledger")

    def land(rows):
        spark.createDataFrame(
            rows, "doc_id long, text string"
        ).coalesce(1).write.mode("append").parquet(arrivals)

    def run(checkpoint):
        sdf = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(arrivals)
        )
        q = stream_incremental_dedup(
            sdf, store, out_root=ledger, checkpoint=checkpoint, threshold=0.9
        )
        q.awaitTermination()

    def decisions(since=None):
        """Decision sets in the ledger; with ``since`` (leaf -> version),
        only the rows committed after that version."""
        def rows(leaf):
            df = read_ledger(spark, ledger, leaf)
            if since is not None:
                df = df.exceptAll(
                    VersionedParquetTable(f"{ledger}/{leaf}").read(
                        spark, version=since[leaf]
                    )
                )
            return df.collect()

        adm = {r["doc_id"] for r in rows("admitted")}
        rej = {
            (r["doc_id"], r["matched_id"], r["reason"])
            for r in rows("rejected")
        }
        return adm, rej

    # batch 1: one fresh doc + one copy of a bootstrapped doc
    land([(10, t[2]), (11, t[0])])
    run(ckpt)
    adm, rej = decisions()
    assert adm == {10}
    assert rej == {(11, 0, "vs_store")}

    # two more files arrive while down; SAME checkpoint -> only they run
    land([(12, t[3]), (13, t[2])])  # 13 copies doc 10 (admitted batch 1)
    land([(14, t[4]), (15, t[4])])  # 15 copies 14 within the same batch
    run(ckpt)
    adm, rej = decisions()
    assert adm == {10, 12, 14}
    assert rej == {
        (11, 0, "vs_store"),
        (13, 10, "vs_store"),  # proves batch-1 signatures landed
        (15, 14, "within_batch"),
    }
    store_rows = store.read(spark).count()
    # 2 bootstrapped + 3 admitted docs, one row per (doc, band)
    assert store_rows == 5 * store.bands

    # full replay, fresh checkpoint, same store: decisions converge and
    # the store does not grow (no self-matches, no double-append)
    before = {
        leaf: VersionedParquetTable(f"{ledger}/{leaf}").latest_version()
        for leaf in ("admitted", "rejected")
    }
    run(str(tmp_path / "ckpt2"))
    assert decisions(since=before) == (adm, rej)
    assert store.read(spark).count() == store_rows


def test_stream_incremental_dedup_empty_leaf_readable(spark, tmp_path):
    """A run where NO document is rejected must still leave a readable
    rejected leaf: every micro-batch commits zero rows there, and
    read_ledger takes the schema from the leaf table's manifest rather
    than from data files. A bare spark.read.parquet of the leaf root
    finds no data files (the table keeps them under ``_data``)."""
    from pyspark.errors import AnalysisException

    from high_volume_market_data_pipeline_spark.dedup.incremental import (
        SignatureStore,
    )
    from high_volume_market_data_pipeline_spark.streaming.incremental import (
        read_ledger,
        stream_incremental_dedup,
    )

    store = SignatureStore(str(tmp_path / "sigs"))
    store.bootstrap(spark.createDataFrame([], "doc_id long, text string"))
    arrivals = str(tmp_path / "arrivals")
    spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "one two three four five six seven eight nine"),
        ],
        "doc_id long, text string",
    ).coalesce(1).write.parquet(arrivals)
    sdf = spark.readStream.schema("doc_id long, text string").parquet(arrivals)
    q = stream_incremental_dedup(
        sdf,
        store,
        out_root=str(tmp_path / "ledger"),
        checkpoint=str(tmp_path / "ckpt"),
        threshold=0.9,
    )
    q.awaitTermination()

    rej = read_ledger(spark, str(tmp_path / "ledger"), "rejected")
    assert rej.count() == 0
    assert "matched_id" in rej.columns and "batch_id" in rej.columns
    adm = read_ledger(spark, str(tmp_path / "ledger"), "admitted")
    assert {r["doc_id"] for r in adm.collect()} == {1, 2}
    # the leaf is a table: only read_ledger reads it
    with pytest.raises(AnalysisException):
        spark.read.parquet(str(tmp_path / "ledger" / "rejected")).collect()


def test_append_batch_commits_each_batch_id_once(spark, tmp_path):
    """The ledgers' exactly-once rule: inside a foreachBatch function,
    re-committing the batch's id, or a lower one, is a replay that
    leaves the table at its version; the ledger records the batch id
    under the query's id. Outside a stream there is no query to key a
    commit on, so append_batch refuses."""
    from high_volume_market_data_pipeline_spark.streaming.sink import (
        append_batch,
        foreach_batch_apply,
    )

    table = VersionedParquetTable(str(tmp_path / "ledger"))
    src = str(tmp_path / "src")
    for b in range(3):
        spark.createDataFrame(
            [(b * 10 + i,) for i in range(3)], "doc_id long"
        ).coalesce(1).write.mode("append").parquet(src)
    got = []

    def handle(df, batch_id):
        out = df.withColumn("batch_id", F.lit(batch_id).cast("long"))
        got.append(append_batch(table, out, batch_id, "LEDGER"))
        for b in (batch_id, batch_id - 1):
            got.append(append_batch(table, out, b, "LEDGER"))

    q = foreach_batch_apply(
        spark.readStream.schema("doc_id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src),
        handle,
        str(tmp_path / "ckpt"),
    )
    q.awaitTermination()
    assert got == [0, None, None, 1, None, None, 2, None, None]
    assert table._resolve(None, None)["txns"] == {str(q.id): 2}
    rows = sorted(tuple(r) for r in table.read(spark).collect())
    assert rows == [(b * 10 + i, b) for b in range(3) for i in range(3)]
    with pytest.raises(RuntimeError, match="foreachBatch"):
        append_batch(table, spark.range(1), 3, "LEDGER")
    assert table.latest_version() == 2


def test_stream_incremental_dedup_fresh_checkpoint_keeps_admissions(
    spark, tmp_path
):
    """A fresh checkpoint restarts batch ids at 0 against a ledger that
    already holds batches 0..2. The new run is a new query, so its
    batch 0 commits: every doc it admits into the store is also in the
    admitted ledger, although it batches the arrivals differently."""
    from high_volume_market_data_pipeline_spark.dedup.incremental import (
        SignatureStore,
    )
    from high_volume_market_data_pipeline_spark.streaming.incremental import (
        read_ledger,
        stream_incremental_dedup,
    )

    store = SignatureStore(str(tmp_path / "sigs"))
    store.bootstrap(spark.createDataFrame([], "doc_id long, text string"))
    arrivals = str(tmp_path / "arrivals")
    ledger = str(tmp_path / "ledger")

    def land(first):
        # token sets disjoint across docs: every doc is admitted
        rows = [
            (d, " ".join(f"w{d}x{j}" for j in range(10)))
            for d in range(first, first + 4)
        ]
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(arrivals)

    for first in (0, 10, 20):
        land(first)
    sdf = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(arrivals)
    )
    stream_incremental_dedup(
        sdf, store, out_root=ledger, checkpoint=str(tmp_path / "ckpt"),
        threshold=0.95,
    ).awaitTermination()
    assert VersionedParquetTable(f"{ledger}/admitted").latest_version() == 2

    land(100)
    # no maxFilesPerTrigger: all four files form the new run's batch 0
    sdf = spark.readStream.schema("doc_id long, text string").parquet(
        arrivals
    )
    stream_incremental_dedup(
        sdf, store, out_root=ledger, checkpoint=str(tmp_path / "ckpt2"),
        threshold=0.95,
    ).awaitTermination()
    in_store = {r["doc_id"] for r in store.read(spark).collect()}
    admitted = {
        r["doc_id"] for r in read_ledger(spark, ledger, "admitted").collect()
    }
    assert {100, 101, 102, 103} <= in_store
    assert admitted == in_store


def test_stream_ledger_chain_stays_bounded(spark, tmp_path, monkeypatch):
    """A long-lived admission stream commits one ledger version per
    micro-batch, and the MAX_CHAIN fold bounds the dirs the head
    references: with the bound at 2, six batches leave a head of at
    most 2 dirs that still records its batch id and reads back every
    batch's rows."""
    from high_volume_market_data_pipeline_spark.dedup.incremental import (
        SignatureStore,
    )
    from high_volume_market_data_pipeline_spark.sinks import history
    from high_volume_market_data_pipeline_spark.streaming.incremental import (
        read_ledger,
        stream_incremental_dedup,
    )

    monkeypatch.setattr(history, "MAX_CHAIN", 2)
    store = SignatureStore(str(tmp_path / "sigs"))
    store.bootstrap(spark.createDataFrame([], "doc_id long, text string"))
    arrivals = str(tmp_path / "arrivals")
    ledger = str(tmp_path / "ledger")
    for b in range(6):
        # token sets fully DISJOINT across docs: true pairwise Jaccard 0,
        # so minhash-estimate noise can never reject one (this test is
        # about the ledger chain, not admission decisions)
        rows = [
            (d, " ".join(f"w{d}x{j}" for j in range(10)))
            for d in range(b * 8, b * 8 + 8)
        ]
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(arrivals)
    sdf = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(arrivals)
    )
    stream_incremental_dedup(
        sdf, store, out_root=ledger, checkpoint=str(tmp_path / "ckpt"),
        threshold=0.95,
    ).awaitTermination()

    table = VersionedParquetTable(f"{ledger}/admitted")
    head = table._resolve(None, None)
    assert head["version"] == 5
    assert len(head["data_dirs"]) <= 2
    assert head["parameters"]["batch_id"] == 5
    got = {
        (r["doc_id"], r["batch_id"])
        for r in read_ledger(spark, ledger, "admitted").collect()
    }
    assert got == {(d, d // 8) for d in range(48)}


def test_events_stream_stages_under_tempdir(spark, tmp_path, monkeypatch):
    """The events stream stages its symlink under tempfile.gettempdir()
    (so TMPDIR is honored), replaces a stage link that points elsewhere,
    and removes stages whose link dangles."""
    import os
    import tempfile

    from high_volume_market_data_pipeline_spark.queries_streaming import (
        _events_stream,
    )
    from tests.conftest import SF_DIR

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    stale = tmp_path / "hvmdp_stream_stale"
    stale.mkdir()
    os.symlink(str(tmp_path / "gone" / "events.parquet"),
               str(stale / "events.parquet"))
    target = os.path.abspath(os.path.join(SF_DIR, "events.parquet"))
    sdf = _events_stream(spark, SF_DIR)
    assert sdf.isStreaming
    stages = sorted(p.name for p in tmp_path.iterdir())
    assert len(stages) == 1 and stages[0].startswith("hvmdp_stream_")
    link = tmp_path / stages[0] / "events.parquet"
    assert os.readlink(str(link)) == target

    # a link retargeted at another (existing) file is replaced, not reused
    other = tmp_path / "elsewhere.parquet"
    other.write_bytes(b"")
    os.unlink(str(link))
    os.symlink(str(other), str(link))
    _events_stream(spark, SF_DIR)
    assert os.readlink(str(link)) == target
    assert os.listdir(str(tmp_path / stages[0])) == ["events.parquet"]
