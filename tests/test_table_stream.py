"""Streaming over the versioned table (sources/table_datasource.py):
snapshot-then-tail semantics, structural change-commit skipping, restart
from checkpoint, hive-partitioned deltas, and the vacuum-horizon error.

The source reads the manifest log through sinks/table_format, shipped by
value into Spark's python plan-runner process (which cannot import this
package — see the module docstring); every fixture is written by
sinks/history.py and read back by the DataSource in that process.
"""

from __future__ import annotations

import os

import pytest

from high_volume_market_data_pipeline_spark.sinks.history import (
    VersionedParquetTable,
)
from high_volume_market_data_pipeline_spark.sources.table_datasource import (
    register_table_stream,
)
from tests.conftest import rewrite_in_older_format


def _drain_to_parquet(spark, root: str, out: str, ckpt: str) -> list:
    sdf = spark.readStream.format("table_stream").option("root", root).load()
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return sorted(tuple(r) for r in spark.read.parquet(out).collect())


def test_snapshot_then_appends_skipping_change_commits(spark, tmp_path):
    """The initial snapshot streams in full, each append streams exactly
    its delta, a COMPACT in the middle is skipped (its rows were already
    emitted), and a restart from the same checkpoint emits only commits
    newer than the last drained offset."""
    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "tbl"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"))
    t.append(spark.createDataFrame([(3, "c")], "id long, s string"))
    t.compact(spark)
    t.append(spark.createDataFrame([(4, "d")], "id long, s string"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    rows = _drain_to_parquet(spark, t.root, out, ckpt)
    assert rows == [(1, "a"), (2, "b"), (3, "c"), (4, "d")]

    t.append(spark.createDataFrame([(5, "e")], "id long, s string"))
    rows = _drain_to_parquet(spark, t.root, out, ckpt)
    assert rows == [(1, "a"), (2, "b"), (3, "c"), (4, "d"), (5, "e")]


def test_partitioned_deltas_fill_partition_columns(spark, tmp_path):
    """Hive-partitioned delta files carry their partition value in the
    DIR NAME, not the file; the pyarrow scan must fill it back per the
    planned schema — and the planned schema comes from the manifest's
    RECORDED (logical) schema, so the partition column keeps its written
    type (long), not the int32 hive inference would produce."""
    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "ptbl"))
    t.write(
        spark.createDataFrame(
            [(1, "a", 0), (2, "b", 1)], "id long, s string, p long"
        ),
        partition_by="p",
    )
    t.append(
        spark.createDataFrame([(3, "c", 1)], "id long, s string, p long"),
        partition_by="p",
    )
    sdf = spark.readStream.format("table_stream").option("root", t.root).load()
    # stream and batch reads agree on types AND hive column order
    assert sdf.schema == t.read(spark).schema
    rows = _drain_to_parquet(
        spark, t.root, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    assert rows == [(1, "a", 0), (2, "b", 1), (3, "c", 1)]


def test_change_commit_raises_unless_skipped(spark, tmp_path):
    """skip_change_commits=false turns an overwrite into a stream error
    (Delta's default posture): re-emitting a rewritten snapshot would
    duplicate every row downstream."""
    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "ctbl"))
    t.write(spark.createDataFrame([(1, "a")], "id long, s string"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"))
    sdf = (
        spark.readStream.format("table_stream")
        .option("root", t.root)
        .option("skip_change_commits", "false")
        .load()
    )
    q = (
        sdf.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="rewrites existing"):
        q.awaitTermination()


def test_vacuumed_parent_raises_with_hint(spark, tmp_path):
    """A stream lagging behind the vacuum horizon must fail loudly on
    resume (deriving version v's delta needs manifest v-1), never
    silently re-emit shared dirs."""
    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "vtbl"))
    t.write(spark.createDataFrame([(1, "a")], "id long, s string"))
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    assert _drain_to_parquet(spark, t.root, out, ckpt) == [(1, "a")]

    # the stream sleeps while the table advances past its vacuum horizon
    t.append(spark.createDataFrame([(2, "b")], "id long, s string"))
    t.append(spark.createDataFrame([(3, "c")], "id long, s string"))
    t.vacuum(keep_last=1, orphan_grace_seconds=0.0)  # retires v0 and v1

    sdf = spark.readStream.format("table_stream").option("root", t.root).load()
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="vacuum"):
        q.awaitTermination()


def test_starting_version_tails_from_later_snapshot(spark, tmp_path):
    """starting_version=N emits N's full state first, then only commits
    after N — the Delta startingVersion contract."""
    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "stbl"))
    t.write(spark.createDataFrame([(1, "a")], "id long, s string"))
    t.append(spark.createDataFrame([(2, "b")], "id long, s string"))
    t.append(spark.createDataFrame([(3, "c")], "id long, s string"))
    sdf = (
        spark.readStream.format("table_stream")
        .option("root", t.root)
        .option("starting_version", "1")
        .load()
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    # version 1 = snapshot {1,2} (emitted in full), version 2 adds 3
    assert rows == [(1, "a"), (2, "b"), (3, "c")]


def test_schema_evolution_null_fills_via_head_schema(spark, tmp_path):
    """A merge-schema append adds a column; the stream plans against the
    HEAD schema, so rows from pre-evolution files come back with the new
    column null (pyarrow casts each file to the planned schema)."""
    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "etbl"))
    t.write(spark.createDataFrame([(1, "a")], "id long, s string"))
    t.append(
        spark.createDataFrame([(2, "b", 0.5)], "id long, s string, q double"),
        merge_schema=True,
    )
    rows = _drain_to_parquet(
        spark, t.root, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    assert rows == [(1, "a", None), (2, "b", 0.5)]


def test_fold_commit_emits_exactly_the_new_rows(spark, tmp_path):
    """An append that hits max_chain folds the parent chain into one dir
    WHILE its fresh delta keeps its own dir (manifest ``fresh_dirs``):
    the stream must emit exactly the fold's new rows and skip the
    rewrite — pre-r10 the fold was classified as a pure change commit
    and its new rows were silently dropped (permanent data loss)."""
    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "ftbl"))
    t.write(spark.createDataFrame([(0, "s")], "id long, s string"))
    for i in range(1, 6):
        # max_chain=3 ⇒ versions 3 and 5 are fold commits
        t.append(
            spark.createDataFrame([(i, f"d{i}")], "id long, s string"),
            max_chain=3,
        )
    assert t._resolve(3, None)["parameters"]["absorbed_chain"] == 3

    rows = _drain_to_parquet(
        spark, t.root, str(tmp_path / "out"), str(tmp_path / "ckpt")
    )
    # every row exactly once — the fold versions' deltas included
    assert rows == [(i, "s" if i == 0 else f"d{i}") for i in range(6)]


def test_older_format_fails_stream_schema(spark, tmp_path):
    """The stream's schema comes from the head manifest: a head in
    another format fails load() with the format error, never an
    inferred schema."""
    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "otbl"))
    t.write(spark.createDataFrame([(0, "s")], "id long, s string"))
    name = rewrite_in_older_format(t, 0, "loose_tail", "no_format")
    with pytest.raises(Exception, match=f"{name} has format None"):
        spark.readStream.format("table_stream").option("root", t.root).load()


@pytest.mark.parametrize("where", ["loose_tail", "checkpoint"])
def test_older_format_fails_stream_planning(spark, tmp_path, where):
    """A manifest in another format that lands after the stream was
    loaded fails the stream at planning, whether it is the trailing loose
    file or inside a checkpoint chunk (which does not fall back to a
    replay)."""
    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "ptbl"))
    t.write(spark.createDataFrame([(0, "s")], "id long, s string"))
    sdf = spark.readStream.format("table_stream").option("root", t.root).load()
    t.append(spark.createDataFrame([(1, "d1")], "id long, s string"))
    name = rewrite_in_older_format(t, 1, where, "format_0")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    from pyspark.errors.exceptions.captured import StreamingQueryException

    with pytest.raises(StreamingQueryException, match=f"{name} has format"):
        q.awaitTermination()


def test_max_versions_per_batch_bounds_catchup(spark, tmp_path):
    """``max_versions_per_batch`` (Delta ``maxFilesPerTrigger`` parity):
    a fresh start against a long table emits the backlog as MULTIPLE
    bounded micro-batches — exactly-once union, >1 batch — instead of
    one batch holding the entire history. (Python stream sources fall
    back to single-batch under Trigger.AvailableNow, so the bound is
    exercised with a processing-time trigger — the long-lived-stream
    shape the option exists for.) ``admission_dir`` pairs with the
    checkpoint: without it a rate-limited stream cannot prove its first
    window is at-or-above a restarted query's committed offset, so it
    falls back to one unbounded head batch (separate test)."""
    import time

    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "rtbl"))
    t.write(spark.createDataFrame([(0, "s")], "id long, s string"))
    for i in range(1, 9):
        t.append(spark.createDataFrame([(i, f"d{i}")], "id long, s string"))

    sdf = (
        spark.readStream.format("table_stream")
        .option("root", t.root)
        .option("max_versions_per_batch", "2")
        .option("admission_dir", str(tmp_path / "adm"))
        .load()
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    os.makedirs(out)
    batch_sizes = []

    def sink(batch_df, batch_id):
        rows = batch_df.collect()
        if rows:
            batch_df.sparkSession.createDataFrame(
                rows, batch_df.schema
            ).write.mode("append").parquet(out)
        # record AFTER the write: the poll loop below keys on this
        batch_sizes.append(len(rows))

    q = (
        sdf.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while sum(batch_sizes) < 9 and time.time() < deadline:
            time.sleep(0.25)
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    assert got == [(i, "s" if i == 0 else f"d{i}") for i in range(9)]
    # 9 versions at ≤2 versions per batch ⇒ at least 5 non-empty batches,
    # each bounded: the backlog never lands as one giant batch
    assert len([b for b in batch_sizes if b > 0]) >= 5
    assert max(batch_sizes) <= 2


def test_max_versions_per_batch_restart_catchup_exact_once(spark, tmp_path):
    """A RESTARTED rate-limited stream whose committed offset is far
    ahead of the admission seed must neither duplicate already-emitted
    versions nor regress the offset log: with ``admission_dir`` the
    window is seeded from the persisted planned high-water (never below
    the committed offset — plan-time persistence), so the restart drains
    the backlog in bounded steps, exactly once."""
    import time

    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "rstbl"))
    t.write(spark.createDataFrame([(0, "s")], "id long, s string"))
    for i in range(1, 5):
        t.append(spark.createDataFrame([(i, f"d{i}")], "id long, s string"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    adm = str(tmp_path / "adm")
    # first run: drain versions 0..4 (unbounded), committed offset = 4;
    # admission_dir records the planned high-water as batches plan
    sdf0 = (
        spark.readStream.format("table_stream")
        .option("root", t.root)
        .option("admission_dir", adm)
        .load()
    )
    q0 = (
        sdf0.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q0.awaitTermination()
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == [
        (i, "s" if i == 0 else f"d{i}") for i in range(5)
    ]
    # the restarted run appends to its OWN dir: the first run's
    # FileStreamSink left a _spark_metadata log in `out`, which would
    # hide plain parquet appends from readers
    out2 = str(tmp_path / "out2")
    os.makedirs(out2)

    # the table advances while the stream is down
    for i in range(5, 11):
        t.append(spark.createDataFrame([(i, f"d{i}")], "id long, s string"))

    sdf = (
        spark.readStream.format("table_stream")
        .option("root", t.root)
        .option("max_versions_per_batch", "2")
        .option("admission_dir", adm)
        .load()
    )
    batch_sizes = []

    def sink(batch_df, batch_id):
        rows = batch_df.collect()
        if rows:
            batch_df.sparkSession.createDataFrame(
                rows, batch_df.schema
            ).write.mode("append").parquet(out2)
        batch_sizes.append(len(rows))

    q = (
        sdf.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while sum(batch_sizes) < 6 and time.time() < deadline:
            time.sleep(0.25)
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.read.parquet(out2).collect())
    # versions 5..10 exactly once — no re-emission of the first run's 0..4
    assert got == [(i, f"d{i}") for i in range(5, 11)]
    assert max(batch_sizes) <= 2


def test_starting_timestamp_resolves_first_version_at_or_after(
    spark, tmp_path
):
    """starting_timestamp resolves to the FIRST version committed at or
    after it (Delta startingTimestamp): that version's snapshot streams
    in full, later commits tail as deltas, earlier history is skipped."""
    import json
    import os

    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "tstbl"))
    t.write(spark.createDataFrame([(1, "a")], "id long, s string"))
    t.append(spark.createDataFrame([(2, "b")], "id long, s string"))
    t.append(spark.createDataFrame([(3, "c")], "id long, s string"))
    # pin deterministic commit timestamps: v0=100, v1=200, v2=300
    for v, ts in enumerate((100.0, 200.0, 300.0)):
        p = os.path.join(t.log_dir, f"{v:08d}.json")
        with open(p) as fh:
            m = json.load(fh)
        m["timestamp"] = ts
        with open(p, "w") as fh:
            json.dump(m, fh)

    sdf = (
        spark.readStream.format("table_stream")
        .option("root", t.root)
        .option("starting_timestamp", "150")
        .load()
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    # v1 (first commit at/after ts=150) streams as the FULL snapshot
    # {1,2}; v2 adds 3; v0's standalone history is not re-emitted
    assert rows == [(1, "a"), (2, "b"), (3, "c")]

    with pytest.raises(Exception, match="starting_version OR starting_timestamp"):
        (
            spark.readStream.format("table_stream")
            .option("root", t.root)
            .option("starting_version", "1")
            .option("starting_timestamp", "150")
            .load()
        )


def test_max_files_per_batch_bounds_by_file_count(spark, tmp_path):
    """max_files_per_batch (Delta maxFilesPerTrigger): versions are
    admitted until the FILE budget is spent — 2-file deltas under a
    4-file budget pack two versions per batch; a version is never split
    and the first is always admitted."""
    import time

    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "fbtbl"))
    t.write(spark.createDataFrame([(0, "s")], "id long, s string").coalesce(1))
    for i in range(1, 9):
        t.append(
            spark.createDataFrame(
                [(10 * i, f"d{i}a"), (10 * i + 1, f"d{i}b")],
                "id long, s string",
            ).repartition(2)
        )

    sdf = (
        spark.readStream.format("table_stream")
        .option("root", t.root)
        .option("max_files_per_batch", "4")
        .option("admission_dir", str(tmp_path / "adm"))
        .load()
    )
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    os.makedirs(out)
    batch_rows = []

    def sink(batch_df, batch_id):
        rows = batch_df.collect()
        if rows:
            batch_df.sparkSession.createDataFrame(
                rows, batch_df.schema
            ).write.mode("append").parquet(out)
        batch_rows.append(len(rows))

    q = (
        sdf.writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 120
        while sum(batch_rows) < 17 and time.time() < deadline:
            time.sleep(0.25)
    finally:
        q.stop()
    got = sorted(tuple(r) for r in spark.read.parquet(out).collect())
    expect = [(0, "s")] + sorted(
        (10 * i + j, f"d{i}{'ab'[j]}") for i in range(1, 9) for j in (0, 1)
    )
    assert got == sorted(expect)
    # 2-file deltas, 4-file budget -> at most 2 versions (4 rows) a batch
    assert max(batch_rows) <= 4
    assert len([b for b in batch_rows if b > 0]) >= 4


def test_with_commit_version_metadata_columns(spark, tmp_path):
    """with_commit_version adds Delta-CDF-style metadata columns: each
    row carries the version (and commit timestamp) it arrived in, with
    _change_type 'insert' (appends-only source; the initial snapshot is
    stamped with the starting version)."""
    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "mtbl"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"))
    t.append(spark.createDataFrame([(3, "c")], "id long, s string"))
    t.append(spark.createDataFrame([(4, "d")], "id long, s string"))

    sdf = (
        spark.readStream.format("table_stream")
        .option("root", t.root)
        .option("with_commit_version", "true")
        .load()
    )
    assert sdf.columns == [
        "id", "s", "_commit_version", "_commit_timestamp", "_change_type"
    ]
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    q = (
        sdf.writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    rows = {
        r["id"]: (r["_commit_version"], r["_change_type"])
        for r in spark.read.parquet(out).collect()
    }
    assert rows == {
        1: (0, "insert"),
        2: (0, "insert"),
        3: (1, "insert"),
        4: (2, "insert"),
    }
    ts = {
        r["_commit_version"]: r["_commit_timestamp"]
        for r in spark.read.parquet(out).collect()
    }
    assert ts[0] <= ts[1] <= ts[2]


def test_reader_lifecycle_soak_mixed_commits_and_restarts(spark, tmp_path):
    """Seeded soak over the RAW reader lifecycle (the exact call protocol
    Spark's engine drives): 20 commits mixing appends, empty deltas,
    compactions, and chain folds; the consumer alternates rate limits and
    restarts (fresh reader resuming from the committed offset) at every
    step. Every appended row must come out exactly once, in any batching
    — the union/multiset is the invariant, not the batch boundaries."""
    import random

    from high_volume_market_data_pipeline_spark.sources.table_datasource import (
        TableStreamReader,
    )

    rng = random.Random(20260816)
    t = VersionedParquetTable(str(tmp_path / "soak"))
    next_id = [0]
    expected: list[int] = []

    def rows(n):
        out = [(next_id[0] + k, f"r{next_id[0] + k}") for k in range(n)]
        next_id[0] += n
        expected.extend(i for i, _ in out)
        return spark.createDataFrame(out, "id long, s string")

    t.write(rows(3))
    for _ in range(19):
        op = rng.random()
        if op < 0.5:
            t.append(rows(rng.randint(1, 4)).coalesce(1))
        elif op < 0.65:
            # empty partitioned delta: version advances, no rows
            t.append(
                spark.createDataFrame([], "id long, s string, p int").filter(
                    "1=0"
                ),
                merge_schema=True,
                partition_by="p",
            )
        elif op < 0.8:
            t.compact(spark)  # change commit: must be skipped
        else:
            # fold: parent chain absorbed + fresh delta in one commit
            t.append(rows(rng.randint(1, 3)).coalesce(1), max_chain=2)

    def fresh_reader():
        opts = {"root": t.root}
        mode = rng.random()
        if mode < 0.4:
            opts["max_versions_per_batch"] = str(rng.randint(1, 3))
        elif mode < 0.7:
            opts["max_files_per_batch"] = str(rng.randint(1, 5))
        return TableStreamReader(opts)

    reader = fresh_reader()
    committed = reader.initialOffset()
    emitted: list[int] = []
    idle, last_seen = 0, None
    while idle < 3:
        end = reader.latestOffset()
        if end["version"] <= committed["version"]:
            # below the committed offset the engine plans nothing; the
            # probe walks the admission window forward each trigger, so
            # "idle" is only a RETURN that stopped moving (true head)
            idle = idle + 1 if end["version"] == last_seen else 0
            last_seen = end["version"]
            continue
        idle, last_seen = 0, end["version"]
        for p in reader.partitions(committed, end):
            for batch in reader.read(p):
                emitted.extend(batch.column(0).to_pylist())
        reader.commit(end)
        committed = end
        if rng.random() < 0.5:  # crash/restart between any two batches
            reader = fresh_reader()

    assert sorted(emitted) == sorted(expected)
    assert len(emitted) == len(set(emitted))  # exactly once, no dupes


def test_restart_probe_range_does_not_drop_the_replay(spark, tmp_path):
    """A query stopped after logging batch N's offset but before planning
    it restarts with the call sequence partitions(end, end) then the
    replay partitions(start, end). The degenerate probe must not raise
    the emitted-floor: the replay still emits version N exactly once."""
    from high_volume_market_data_pipeline_spark.sources.table_datasource import (
        TableStreamReader,
    )

    t = VersionedParquetTable(str(tmp_path / "probe"))
    t.write(spark.createDataFrame([(0, "d0")], "id long, s string"))
    for i in range(1, 7):
        t.append(spark.createDataFrame([(i, f"d{i}")], "id long, s string"))

    def emit(reader, start, end):
        return [
            i
            for p in reader.partitions({"version": start}, {"version": end})
            for batch in reader.read(p)
            for i in batch.column(0).to_pylist()
        ]

    adm = str(tmp_path / "adm")
    first = TableStreamReader(
        {"root": t.root, "max_versions_per_batch": "1", "admission_dir": adm}
    )
    assert emit(first, 4, 5) == [5]
    # restart: the logged-but-unplanned batch (5, 6] is probed, then replayed
    restarted = TableStreamReader(
        {"root": t.root, "max_versions_per_batch": "1", "admission_dir": adm}
    )
    assert emit(restarted, 6, 6) == []
    assert emit(restarted, 5, 6) == [6]


def _run_bounded(
    spark, root, out, ckpt, opts, landed, stop_rows, max_batches=None,
    timeout=120,
):
    """Run a rate-limited table_stream with a foreachBatch parquet sink
    until ``landed`` holds ``stop_rows`` rows (or ``max_batches`` non-empty
    batches landed in this run — the mid-catch-up crash point).

    ``landed`` maps batch id to rows and is shared by every run of one
    stream. The sink is idempotent: batch N overwrites
    ``out/batch_id=N``, so a stop that lands mid-write, and the replay of
    batch N after a restart, leave it once and count it once, while a
    version re-emitted under a NEW batch id still lands twice. Readers
    drop the ``batch_id`` partition column."""
    import time

    reader = spark.readStream.format("table_stream").option("root", root)
    for k, v in opts.items():
        reader = reader.option(k, v)
    this_run = []

    def sink(batch_df, batch_id):
        rows = batch_df.collect()
        if rows:
            batch_df.sparkSession.createDataFrame(
                rows, batch_df.schema
            ).write.mode("overwrite").parquet(f"{out}/batch_id={batch_id}")
            landed[batch_id] = len(rows)
            this_run.append(batch_id)

    q = (
        reader.load()
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="50 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + timeout
        while time.time() < deadline:
            if sum(landed.values()) >= stop_rows:
                break
            if max_batches is not None and len(this_run) >= max_batches:
                break
            time.sleep(0.1)
    finally:
        q.stop()


def test_double_restart_mid_catchup_exactly_once(spark, tmp_path):
    """The offset-regression hazard: a rate-limited restart that guesses
    an admission window BELOW the committed offset would durably log the
    regressed offset, and a SECOND restart mid-catch-up would re-emit
    every version in between. With admission_dir the window is seeded
    from the persisted planned high-water, so two crash/restart cycles
    in the middle of a long catch-up emit every version exactly once —
    and every batch stays bounded."""
    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "dtbl"))
    t.write(spark.createDataFrame([(0, "d0")], "id long, s string"))
    for i in range(1, 12):
        t.append(spark.createDataFrame([(i, f"d{i}")], "id long, s string"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    adm = str(tmp_path / "adm")
    os.makedirs(out)
    opts = {"max_versions_per_batch": "1", "admission_dir": adm}
    landed = {}
    # run 1: crash after ~3 bounded batches; runs 2-3: restart mid-backlog
    _run_bounded(spark, t.root, out, ckpt, opts, landed, 12, 3)
    _run_bounded(spark, t.root, out, ckpt, opts, landed, 12, 3)
    _run_bounded(spark, t.root, out, ckpt, opts, landed, 12)
    got = sorted(
        tuple(r) for r in spark.read.parquet(out).drop("batch_id").collect()
    )
    assert got == [(i, f"d{i}") for i in range(12)]  # exactly once
    assert max(landed.values()) <= 1  # every batch bounded, restarts too


def test_restart_without_admission_dir_is_unbounded_but_safe(
    spark, tmp_path
):
    """Without admission_dir a restarted rate-limited stream cannot know
    the committed offset at its first latestOffset call, so it returns
    the HEAD (the only provably at-or-above value): the first batch is
    unbounded, later ones bounded — and the union stays exactly-once (no
    offset-log regression, no duplicates)."""
    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "utbl"))
    t.write(spark.createDataFrame([(0, "d0")], "id long, s string"))
    for i in range(1, 5):
        t.append(spark.createDataFrame([(i, f"d{i}")], "id long, s string"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    os.makedirs(out)
    opts = {"max_versions_per_batch": "2"}
    landed = {}
    _run_bounded(spark, t.root, out, ckpt, opts, landed, 5)
    for i in range(5, 11):
        t.append(spark.createDataFrame([(i, f"d{i}")], "id long, s string"))
    _run_bounded(spark, t.root, out, ckpt, opts, landed, 11)
    got = sorted(
        tuple(r) for r in spark.read.parquet(out).drop("batch_id").collect()
    )
    assert got == [(i, f"d{i}") for i in range(11)]  # exactly once
    # safe fallback shape: one head catch-up batch, nothing duplicated
    assert sum(landed.values()) == 11


def test_max_bytes_per_trigger_bounds_by_size(spark, tmp_path):
    """max_bytes_per_trigger (Delta maxBytesPerTrigger): versions are
    admitted until the BYTE budget is spent; a version is never split
    and the first is always admitted, so an oversized commit cannot
    stall the stream."""
    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "btbl"))
    t.write(spark.createDataFrame([(0, "d0")], "id long, s string"))
    for i in range(1, 9):
        t.append(
            spark.createDataFrame(
                [(i, f"d{i}")], "id long, s string"
            ).coalesce(1)
        )
    # measure one delta's footprint to set a ~2-version budget
    import glob

    delta_files = [
        f
        for f in glob.glob(os.path.join(t.root, "**", "*.parquet"),
                           recursive=True)
    ]
    one = max(os.path.getsize(f) for f in delta_files)

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    os.makedirs(out)
    opts = {
        "max_bytes_per_trigger": str(int(2.5 * one)),
        "admission_dir": str(tmp_path / "adm"),
    }
    landed = {}
    _run_bounded(spark, t.root, out, ckpt, opts, landed, 9)
    got = sorted(
        tuple(r) for r in spark.read.parquet(out).drop("batch_id").collect()
    )
    assert got == [(i, f"d{i}") for i in range(9)]  # exactly once
    assert max(landed.values()) <= 2  # ~2 versions per byte budget
    assert len(landed) >= 4


def test_drain_bounded_catchup_and_incremental_reuse(spark, tmp_path):
    """drain() — availableNow semantics WITH rate limits honored: a cold
    start over a long table catches up in >1 bounded micro-batches and
    stops at the head observed at call time; a second drain over the
    same checkpoint picks up only the versions committed in between,
    still bounded. (Python sources fall back to single-batch under
    Trigger.AvailableNow, so this helper is the supported bounded-drain
    path.)"""
    from high_volume_market_data_pipeline_spark.sources.table_datasource import (
        drain,
    )

    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "dr"))
    t.write(spark.createDataFrame([(0, "d0")], "id long, s string"))
    for i in range(1, 8):
        t.append(spark.createDataFrame([(i, f"d{i}")], "id long, s string"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    os.makedirs(out)
    sizes = []

    def sink(batch_df, batch_id):
        rows = batch_df.collect()
        if rows:
            batch_df.sparkSession.createDataFrame(
                rows, batch_df.schema
            ).write.mode("append").parquet(out)
            sizes.append(len(rows))

    n1 = drain(
        spark, t.root, sink, ckpt,
        options={"max_versions_per_batch": "2"},
    )
    assert n1 >= 4  # 8 versions at <=2/batch: bounded catch-up, not one
    assert max(sizes) <= 2
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == [
        (i, f"d{i}") for i in range(8)
    ]

    for i in range(8, 11):
        t.append(spark.createDataFrame([(i, f"d{i}")], "id long, s string"))
    sizes.clear()
    drain(
        spark, t.root, sink, ckpt,
        options={"max_versions_per_batch": "2"},
    )
    assert max(sizes) <= 2
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == [
        (i, f"d{i}") for i in range(11)
    ]  # exactly once across drains


def test_drain_migrates_pre_admission_checkpoint(spark, tmp_path,
                                                  monkeypatch):
    """A checkpoint with committed offsets but no admission high-water
    (written before drain() kept one) is seeded from its own offsets log
    before the query starts: the seed is the newest planned offset, the
    catch-up stays bounded, and no version is emitted twice."""
    import json

    from high_volume_market_data_pipeline_spark.sources import (
        table_datasource as td,
    )

    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "mig"))
    t.write(spark.createDataFrame([(0, "d0")], "id long, s string"))
    for i in range(1, 6):
        t.append(spark.createDataFrame([(i, f"d{i}")], "id long, s string"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    os.makedirs(out)
    sizes = []

    def sink(batch_df, batch_id):
        rows = batch_df.collect()
        if rows:
            batch_df.sparkSession.createDataFrame(
                rows, batch_df.schema
            ).write.mode("append").parquet(out)
            sizes.append(len(rows))

    opts = {"max_versions_per_batch": "2"}
    td.drain(spark, t.root, sink, ckpt, options=opts)
    hw = os.path.join(ckpt, "_admission", "high_water.json")
    os.unlink(hw)  # the pre-admission layout: offsets, no high-water
    planned = td._checkpoint_planned_offset(ckpt)
    assert planned == 5
    for i in range(6, 10):
        t.append(spark.createDataFrame([(i, f"d{i}")], "id long, s string"))

    seeds = []
    migrate = td._admission_dir

    def seeding(checkpoint):
        adm = migrate(checkpoint)
        with open(hw) as fh:
            seeds.append(json.load(fh)["version"])
        return adm

    sizes.clear()
    monkeypatch.setattr(td, "_admission_dir", seeding)
    td.drain(spark, t.root, sink, ckpt, options=opts)
    assert seeds == [planned]
    assert sizes and max(sizes) <= 2
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == [
        (i, f"d{i}") for i in range(10)
    ]  # exactly once across the migration


def test_stale_admission_dir_fails_loudly(spark, tmp_path):
    """A correctly paired admission_dir can never be ahead of the
    manifest log (the high-water is persisted for admitted versions, and
    admissions never exceed the head). One that IS ahead — reused across
    a recreated table, or mispaired with the checkpoint — must fail at
    reader construction instead of silently planning empty batches for
    versions that never existed (which skips the real rows up to the
    stale high-water)."""
    import json

    from high_volume_market_data_pipeline_spark.sources.table_datasource import (
        TableStreamReader,
    )

    t = VersionedParquetTable(str(tmp_path / "stale"))
    t.write(spark.createDataFrame([(0, "d0")], "id long, s string"))
    for i in range(1, 4):
        t.append(spark.createDataFrame([(i, f"d{i}")], "id long, s string"))

    adm = tmp_path / "adm"
    adm.mkdir()
    (adm / "high_water.json").write_text(json.dumps({"version": 99}))
    with pytest.raises(ValueError, match="admission"):
        TableStreamReader(
            {
                "root": t.root,
                "max_versions_per_batch": "1",
                "admission_dir": str(adm),
            }
        )
    # at-the-head is the legitimate fully-caught-up state — no error
    (adm / "high_water.json").write_text(json.dumps({"version": 3}))
    TableStreamReader(
        {
            "root": t.root,
            "max_versions_per_batch": "1",
            "admission_dir": str(adm),
        }
    )


def test_drain_noop_short_circuits(spark, tmp_path):
    """A drain() whose checkpoint already committed the observed head
    returns 0 WITHOUT starting a query — previously it blocked on
    Spark's idle no-data progress event (~10 s) before noticing there
    was nothing to do."""
    import time

    from high_volume_market_data_pipeline_spark.sources.table_datasource import (
        drain,
    )

    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "noop"))
    t.write(spark.createDataFrame([(0, "d0")], "id long, s string"))
    for i in range(1, 4):
        t.append(spark.createDataFrame([(i, f"d{i}")], "id long, s string"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    os.makedirs(out)
    calls = []

    def sink(batch_df, batch_id):
        rows = batch_df.collect()
        if rows:
            batch_df.sparkSession.createDataFrame(
                rows, batch_df.schema
            ).write.mode("append").parquet(out)
        calls.append(batch_id)

    drain(spark, t.root, sink, ckpt,
          options={"max_versions_per_batch": "2"})
    assert sorted(tuple(r) for r in spark.read.parquet(out).collect()) == [
        (i, f"d{i}") for i in range(4)
    ]

    calls.clear()
    start = time.perf_counter()
    n = drain(spark, t.root, sink, ckpt,
              options={"max_versions_per_batch": "2"})
    elapsed = time.perf_counter() - start
    assert n == 0
    assert calls == []  # no query started, sink never invoked
    assert elapsed < 5.0  # metadata probe, not an idle-event wait


def test_drain_live_writer_exactly_once(spark, tmp_path):
    """drain() pins its target head AT CALL TIME: versions committed by
    a concurrent writer during the drain are emitted exactly-once-or-
    not-yet — never duplicated — and a second drain() picks up exactly
    the remainder. (The writer here commits from inside the foreachBatch
    sink, which is deterministic mid-drain timing.)"""
    from high_volume_market_data_pipeline_spark.sources.table_datasource import (
        drain,
    )

    register_table_stream(spark)
    t = VersionedParquetTable(str(tmp_path / "live"))
    t.write(spark.createDataFrame([(0, "d0")], "id long, s string"))
    for i in range(1, 6):
        t.append(spark.createDataFrame([(i, f"d{i}")], "id long, s string"))

    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    os.makedirs(out)
    state = {"written": False}

    # Idempotent per-batch-id sink (the production foreachBatch shape):
    # drain's q.stop() can interrupt a batch the live writer triggered
    # AFTER the sink ran but BEFORE its checkpoint commit; the replay
    # re-emits the same deterministic range (it is read back from the
    # offsets log), so overwrite-by-batch-id makes the union exactly-once.
    def sink(batch_df, batch_id):
        rows = batch_df.collect()
        if rows:
            batch_df.sparkSession.createDataFrame(
                rows, batch_df.schema
            ).write.mode("overwrite").parquet(
                os.path.join(out, f"b{batch_id}")
            )
        if not state["written"]:
            state["written"] = True
            # a live writer lands three commits mid-drain, PAST the
            # call-time head the drain is targeting
            for i in range(6, 9):
                t.append(
                    spark.createDataFrame(
                        [(i, f"d{i}")], "id long, s string"
                    )
                )

    def emitted():
        import glob

        dirs = sorted(glob.glob(os.path.join(out, "b*")))
        return sorted(tuple(r) for r in spark.read.parquet(*dirs).collect())

    drain(spark, t.root, sink, ckpt,
          options={"max_versions_per_batch": "1"})
    assert state["written"]
    got = emitted()
    # termination at (or past) the call-time head, and EXACTLY-ONCE for
    # everything emitted: no row may appear twice whatever the overlap
    # between the drain loop and the live writer
    assert len(got) == len(set(got))
    assert [(i, f"d{i}") for i in range(6)] == [g for g in got if g[0] < 6]

    # the second drain picks up exactly the remainder
    drain(spark, t.root, sink, ckpt,
          options={"max_versions_per_batch": "1"})
    assert emitted() == [(i, f"d{i}") for i in range(9)]
