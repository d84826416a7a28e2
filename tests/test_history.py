"""S8 — versioned parquet table: history, time travel, restore, vacuum.

Reference parity: view_delta_history.py:44-72 (history DataFrame, newest
first), README time-travel claims; M5 existence probe.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from high_volume_market_data_pipeline_spark.sinks.history import (
    VersionedParquetTable,
)
from high_volume_market_data_pipeline_spark.sinks.table_format import (
    new_manifest,
)
from tests.conftest import rewrite_in_older_format


@pytest.fixture()
def table(tmp_path):
    return VersionedParquetTable(str(tmp_path / "tbl"))


def _fake_manifest(v: int, data_dir: str | None = None, parameters=None):
    """A current-shape manifest for log-layer tests: its data dir is not
    written, so only log reads (versions, history, resolve) use it."""
    return new_manifest(
        v,
        "WRITE",
        parameters or {},
        data_dirs=[data_dir or f"/nope/v{v:08d}_x"],
        fresh_dirs=[],
        n_rows=0,
        partition_by=None,
        schema={"type": "struct", "fields": []},
        timestamp=float(v),
    )


def _df(spark, n, tag):
    return spark.range(n).select(
        F.col("id"), F.lit(tag).alias("tag")
    )


def test_versions_and_time_travel(spark, table):
    assert not table.exists()
    v0 = table.write(_df(spark, 5, "a"), "WRITE")
    v1 = table.write(_df(spark, 8, "b"), "MERGE")
    assert (v0, v1) == (0, 1)
    assert table.exists()

    assert table.read(spark).count() == 8
    assert table.read(spark, version=0).count() == 5
    assert table.read(spark, version=0).select("tag").distinct().collect()[0][0] == "a"

    ts0 = table._manifests()[0]["timestamp"]
    assert table.read(spark, as_of_ts=ts0).count() == 5


def test_history_newest_first(spark, table):
    table.write(_df(spark, 3, "a"), "WRITE", {"mode": "overwrite"})
    table.write(_df(spark, 4, "b"), "OPTIMIZE")
    hist = table.history(spark).collect()
    assert [r["version"] for r in hist] == [1, 0]
    assert [r["operation"] for r in hist] == ["OPTIMIZE", "WRITE"]


def test_restore_recommits_old_snapshot(spark, table):
    table.write(_df(spark, 5, "a"), "WRITE")
    table.write(_df(spark, 9, "b"), "WRITE")
    v2 = table.restore(spark, 0)
    assert v2 == 2
    assert table.read(spark).count() == 5
    assert table.history(spark).collect()[0]["operation"] == "RESTORE"


def test_vacuum_retires_below_horizon(spark, table):
    for i in range(4):
        table.write(_df(spark, i + 1, f"t{i}"), "WRITE")
    result = table.vacuum(keep_last=2)
    assert sorted(result.retired) == [0, 1]
    assert len(result.removed_dirs) == 2
    assert table.read(spark).count() == 4
    assert table.read(spark, version=2).count() == 3
    with pytest.raises((ValueError, FileNotFoundError)):
        table.read(spark, version=0)


def test_merge_upsert_versioned_transactional(spark, table):
    """K3 through the manifest log: MERGE commits a new version — source
    wins on key collisions, unmatched rows survive, and the pre-merge
    state stays time-travelable (the transactional behavior the reference
    gets from Delta MERGE, bronze_to_silver_crypto.py:96-108)."""
    from high_volume_market_data_pipeline_spark.sinks.merge import (
        merge_upsert_versioned,
    )

    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 10)], "id int, val string, seq int"
    )
    v0 = merge_upsert_versioned(base, table, keys=["id"], order_col="seq")
    update = spark.createDataFrame(
        [(2, "B2", 20), (3, "c", 20)], "id int, val string, seq int"
    )
    v1 = merge_upsert_versioned(update, table, keys=["id"], order_col="seq")
    assert (v0, v1) == (0, 1)

    now = {(r["id"], r["val"]) for r in table.read(spark).collect()}
    assert now == {(1, "a"), (2, "B2"), (3, "c")}
    before = {(r["id"], r["val"]) for r in table.read(spark, version=0).collect()}
    assert before == {(1, "a"), (2, "b")}
    assert table.history(spark).collect()[0]["operation"] == "MERGE"


def test_crashed_writer_leaves_current_version_intact(spark, table):
    table.write(_df(spark, 5, "a"), "WRITE")
    # Simulate a writer that died after the snapshot dir, before the
    # manifest: readers must still see v0; vacuum cleans the orphan.
    orphan = os.path.join(table.root, "_data", "v00000042_x")
    _df(spark, 2, "zz").write.parquet(orphan)
    assert table.latest_version() == 0
    assert table.read(spark).count() == 5
    # A YOUNG orphan could be an in-flight append whose manifest is about
    # to commit (data dirs land before manifests) — the default vacuum
    # grace must leave it alone, or the commit would reference a deleted
    # dir and poison every descendant version.
    result = table.vacuum(keep_last=1)
    assert "v00000042_x" not in result.removed_dirs
    assert os.path.exists(orphan)
    # Past the grace window (forced to 0 here) the orphan is a crashed
    # writer's leftovers: removed, but NOT reported as a retired version —
    # its parsed number could collide with a kept snapshot's.
    result = table.vacuum(keep_last=1, orphan_grace_seconds=0.0)
    assert "v00000042_x" in result.removed_dirs
    assert 42 not in result.retired
    assert not os.path.exists(orphan)


def test_snapshot_dirs_have_no_hidden_leaf(spark, table):
    """Snapshot dirs (full writes, append deltas and chain folds) live
    under the hidden ``_data`` parent, but their own names do not start
    with ``_``: Spark skips a read path whose leaf is hidden and warns
    "All paths were ignored" on each read of one. The parent still keeps
    the snapshots out of a raw read of the table root."""
    from pyspark.errors import AnalysisException

    table.write(_df(spark, 5, "a"), "WRITE")
    table.append(_df(spark, 3, "b"), "APPEND")
    table.append(_df(spark, 2, "c"), "APPEND", max_chain=1)  # folds
    dirs = {d for m in table._manifests() for d in m["data_dirs"]}
    assert len(dirs) == 4
    for d in dirs:
        assert os.path.dirname(d) == os.path.join(table.root, "_data")
        assert not os.path.basename(d).startswith(("_", "."))
    assert table.read(spark).count() == 10
    with pytest.raises(AnalysisException):
        spark.read.parquet(table.root).collect()


def test_changes_classifies_insert_delete_update(spark, tmp_path):
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )

    t = VersionedParquetTable(str(tmp_path / "cdf"))
    v0 = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)],
        "id long, s string, v double",
    )
    v1 = spark.createDataFrame(
        [(2, "b", 20.0), (3, "c", 99.0), (4, "d", 40.0)],
        "id long, s string, v double",
    )
    t.write(v0)
    t.write(v1)
    got = {
        (r["id"], r["_change_type"]): (r["s"], r["v"])
        for r in t.changes(spark, 0, 1, key_cols=["id"]).collect()
    }
    assert got == {
        (1, "delete"): ("a", 10.0),
        (3, "update_preimage"): ("c", 30.0),
        (3, "update_postimage"): ("c", 99.0),
        (4, "insert"): ("d", 40.0),
    }  # id=2 unchanged: no row


def test_changes_null_safe_and_non_adjacent(spark, tmp_path):
    """NULL→value counts as a change (eqNullSafe, not =), and the diff
    works across non-adjacent versions."""
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )

    t = VersionedParquetTable(str(tmp_path / "cdf2"))
    t.write(spark.createDataFrame([(1, None)], "id long, v string"))
    t.write(spark.createDataFrame([(1, "mid")], "id long, v string"))
    t.write(spark.createDataFrame([(1, "x")], "id long, v string"))
    got = sorted(
        (r["_change_type"], r["v"])
        for r in t.changes(spark, 0, 2, key_cols=["id"]).collect()
    )
    assert got == [("update_postimage", "x"), ("update_preimage", None)]


def test_changes_plan_is_single_equi_join(spark, tmp_path):
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )

    t = VersionedParquetTable(str(tmp_path / "cdf3"))
    df = spark.createDataFrame([(1, 1.0)], "id long, v double")
    t.write(df)
    t.write(df)
    plan = (
        t.changes(spark, 0, 1, key_cols=["id"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "FullOuter" in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan


def test_changes_append_lineage_prunes_to_exclusive_dirs(spark, tmp_path):
    """CDF between an append child and its parent must be metadata-sized:
    shared dirs contribute byte-identical rows to both snapshots, so the
    diff scans only the EXCLUSIVE dirs — on a partitioned table the plan
    carries real PartitionFilters for the touched partition, and the
    parent snapshot is never re-scanned (its side collapses to an empty
    relation)."""
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )

    t = VersionedParquetTable(str(tmp_path / "cdf_prune"))
    base = spark.createDataFrame(
        [(1, 1, "a"), (2, 2, "b"), (3, 3, "c"), (4, 1, "d")],
        "id long, p int, s string",
    )
    t.write(base, partition_by="p")
    delta = spark.createDataFrame([(10, 3, "x"), (11, 3, "y")],
                                  "id long, p int, s string")
    t.append(delta, partition_by="p")

    diff = t.changes(spark, 0, 1, key_cols=["id"])
    got = sorted((r["id"], r["_change_type"]) for r in diff.collect())
    assert got == [(10, "insert"), (11, "insert")]

    plan = diff._jdf.queryExecution().executedPlan().toString()
    # only the touched partition is admitted, as a pushed partition filter
    import re

    assert "PartitionFilters" in plan
    assert "PartitionFilters: []" not in plan
    assert re.search(r"PartitionFilters: \[[^\]]*p#\d+L? = 3", plan), plan
    # the parent's full-snapshot dir must not be scanned: v0's dir appears
    # in no FileScan (the pre side is an empty relation after limit(0))
    import json, os

    with open(os.path.join(t.log_dir, "00000000.json")) as fh:
        v0_dir = json.load(fh)["data_dirs"][0]
    assert os.path.basename(v0_dir) not in plan


def test_changes_reverse_append_diff_is_deletes_only(spark, tmp_path):
    """Diffing DOWN an append lineage (v_from newer) emits the delta rows
    as deletes — same exclusive-dir reduction, opposite side."""
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )

    t = VersionedParquetTable(str(tmp_path / "cdf_rev"))
    t.write(spark.createDataFrame([(1, "a")], "id long, s string"))
    t.append(spark.createDataFrame([(2, "b")], "id long, s string"))
    got = sorted(
        (r["id"], r["_change_type"])
        for r in t.changes(spark, 1, 0, key_cols=["id"]).collect()
    )
    assert got == [(2, "delete")]
    # identical versions: every dir shared, diff is empty
    assert t.changes(spark, 1, 1, key_cols=["id"]).count() == 0


def test_concurrent_commit_is_create_if_absent(spark, table):
    """Version allocation is read-then-increment, so two writers can both
    pick the same next version; the manifest commit must then FAIL for the
    loser (create-if-absent), never silently replace the winner's manifest
    (which would drop its commit and leave readers on the loser's data)."""
    from high_volume_market_data_pipeline_spark.sinks.history import (
        ConcurrentCommitError,
    )

    import json as _json

    table.write(_df(spark, 3, "a"), "WRITE")
    winner_df = _df(spark, 4, "winner")
    table.write(winner_df, "WRITE")  # v1 — the racer that committed first
    winner = os.path.join(table.log_dir, "00000001.json")

    # Simulate the loser's stale read: it chose its version BEFORE the
    # winner's manifest appeared, so it also picks v1.
    real_latest = table.latest_version
    table.latest_version = lambda: 0
    try:
        with pytest.raises(ConcurrentCommitError):
            table.write(_df(spark, 9, "loser"), "WRITE")
    finally:
        table.latest_version = real_latest

    # The winner's manifest is untouched and no temp litter remains.
    with open(winner) as fh:
        assert _json.load(fh)["version"] == 1
    assert table.read(spark, version=1).select("tag").distinct().collect()[
        0
    ][0] == "winner"
    assert not [f for f in os.listdir(table.log_dir) if f.startswith(".tmp")]


def test_sketch_merge_commit_retries_on_collision(spark, tmp_path):
    """merge_commit_sketches must survive a commit collision by re-reading
    the new head and re-unioning (sound because HLL union is idempotent):
    after a forced collision, the final state must still include BOTH
    writers' items."""
    from high_volume_market_data_pipeline_spark.operators.sketches import (
        hll_estimate, hll_rollup,
    )
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )
    from high_volume_market_data_pipeline_spark.streaming.sketch_state import (
        merge_commit_sketches,
    )

    t = VersionedParquetTable(str(tmp_path / "sk"))
    mk = lambda lo, hi: hll_rollup(  # noqa: E731
        spark.range(lo, hi).select(
            F.lit("g").alias("grp"), F.col("id").alias("item")
        ),
        ["grp"],
        "item",
    )
    merge_commit_sketches(t, mk(0, 100), ["grp"])

    # Interpose: the first write attempt collides (another writer grabbed
    # the version between our read and our commit), forcing the retry
    # path to re-read the NEW head — racer included — and re-merge.
    from high_volume_market_data_pipeline_spark.sinks.history import (
        ConcurrentCommitError,
    )

    real_write = t.write
    state = {"failed": False}

    from high_volume_market_data_pipeline_spark.operators.sketches import (
        hll_merge,
    )

    def racing_write(df, operation="WRITE", parameters=None, partition_by=None):
        if not state["failed"]:
            state["failed"] = True
            racer = hll_merge(
                t.read(spark).unionByName(mk(100, 200)), ["grp"]
            )
            real_write(racer, operation="RACER")
            raise ConcurrentCommitError("simulated race")
        return real_write(df, operation, parameters, partition_by)

    t.write = racing_write
    merge_commit_sketches(t, mk(200, 300), ["grp"])
    t.write = real_write

    est = (
        t.read(spark)
        .select(hll_estimate(F.col("sketch")).alias("est"))
        .collect()[0]["est"]
    )
    direct = (
        hll_rollup(
            spark.range(0, 300).select(
                F.lit("g").alias("grp"), F.col("id").alias("item")
            ),
            ["grp"],
            "item",
        )
        .select(hll_estimate(F.col("sketch")).alias("est"))
        .collect()[0]["est"]
    )
    assert est == direct  # union exactness: nobody's items were dropped


def test_commit_fsyncs_manifest_before_link(table, monkeypatch):
    """The manifest's bytes are durable before its version name exists:
    the temp file is fsync'd, then hard-linked to the version name —
    never linked first, which could leave an empty file under a
    committed version after a power loss."""
    table._commit_manifest(_fake_manifest(0), 0)
    events = []
    real_fsync, real_link = os.fsync, os.link

    def fsync(fd):
        events.append(("fsync", os.fstat(fd).st_ino))
        return real_fsync(fd)

    def link(src, dst, *a, **k):
        events.append(("link", os.stat(src).st_ino))
        return real_link(src, dst, *a, **k)

    monkeypatch.setattr(os, "fsync", fsync)
    monkeypatch.setattr(os, "link", link)
    assert table.commit_ref("REF") == 1
    links = [e for e in events if e[0] == "link"]
    assert len(links) == 1
    assert ("fsync", links[0][1]) in events[: events.index(links[0])]


def test_commit_link_failure_names_root_and_keeps_head(table, monkeypatch):
    """A manifest link that fails for any reason but EEXIST (here a
    filesystem refusing hard links) raises, naming the root and the
    errno; the head is unchanged and no temp manifest is left behind."""
    import errno

    table._commit_manifest(_fake_manifest(0), 0)

    def refuse(*_a, **_k):
        raise OSError(errno.EPERM, "Operation not permitted")

    monkeypatch.setattr(os, "link", refuse)
    with pytest.raises(OSError, match=re.escape(table.root)) as err:
        table.commit_ref("REF")
    assert err.value.errno == errno.EPERM and "EPERM" in str(err.value)
    assert table.latest_version() == 0
    assert not [f for f in os.listdir(table.log_dir) if f.startswith(".tmp_")]


@pytest.mark.parametrize("where", ["trailing", "mid_log", "past_checkpoint"])
def test_unparseable_manifest_raises(spark, table, where):
    """Every manifest is published complete, so one that does not parse
    is damage wherever it sits: the head, a read and the stream's log
    walk all raise, naming the file — a trailing one is not skipped as
    an uncommitted write."""
    from high_volume_market_data_pipeline_spark.sinks.table_format import (
        manifests_since,
    )

    for v in range(3):
        table._commit_manifest(_fake_manifest(v), v)
    if where == "past_checkpoint":
        table.checkpoint()
        table._commit_manifest(_fake_manifest(3), 3)
    v = {"trailing": 2, "mid_log": 1, "past_checkpoint": 3}[where]
    bad = os.path.join(table.log_dir, f"{v:08d}.json")
    with open(bad, "w") as fh:
        fh.write(f'{{"version": {v}, "timestamp"')
    for read in (
        table.latest_version,
        lambda: table.read(spark),
        lambda: manifests_since(table.log_dir, 0),
    ):
        with pytest.raises(RuntimeError, match=f"unparseable.*{re.escape(bad)}"):
            read()


def test_append_commits_delta_files_only(spark, table):
    """append() must reference the parent's data dirs plus ONE new delta
    dir — commit cost O(appended rows) — while read/time-travel behave
    exactly as if the table had been fully rewritten."""
    table.write(_df(spark, 5, "a"))
    v1 = table.append(_df(spark, 3, "b"))
    assert v1 == 1
    assert table.read(spark).count() == 8
    assert table.read(spark, version=0).count() == 5

    dirs_v1 = table._resolve(1, None)["data_dirs"]
    v0_dir = table._resolve(0, None)["data_dirs"][0]
    assert len(dirs_v1) == 2 and v0_dir in dirs_v1  # parent referenced

    table.append(_df(spark, 2, "c"))
    assert len(table._resolve(2, None)["data_dirs"]) == 3
    tags = {
        r["tag"] for r in table.read(spark).select("tag").distinct().collect()
    }
    assert tags == {"a", "b", "c"} and table.read(spark).count() == 10

    # compaction folds the chain back to one snapshot, same rows
    v3 = table.compact(spark)
    assert len(table._resolve(v3, None)["data_dirs"]) == 1
    assert table.read(spark).count() == 10


def test_vacuum_keeps_shared_parent_dirs(spark, table):
    """Retiring an old version must NOT delete a data dir that a kept
    append manifest still references — append chains share files."""
    table.write(_df(spark, 5, "a"))
    table.append(_df(spark, 3, "b"))
    table.append(_df(spark, 2, "c"))
    res = table.vacuum(keep_last=2)
    assert res.retired == [0]  # v0's manifest is gone (no time travel)
    # ...but v0's DATA survives: kept v1/v2 manifests reference its dir
    assert table.read(spark).count() == 10
    assert table.read(spark, version=1).count() == 8


def test_append_max_chain_absorbs_into_snapshot(spark, table):
    """Continuous ingest must not grow read fan-in without bound:
    append(max_chain=k) folds the PARENT CHAIN into one snapshot dir once
    it reaches k dirs, while the fresh delta keeps its own dir (so the
    streaming source can emit exactly the new rows — see
    test_table_stream) — same version numbering, same rows, and every
    later read opens at most k dirs."""
    table.write(_df(spark, 4, "a"))
    for i in range(5):
        table.append(_df(spark, 1, f"d{i}"), max_chain=3)

    # chain lengths per version: v0=1, v1=2, v2=3, v3 folds the 3-dir
    # parent + keeps its delta = 2, v4=3, v5 folds again = 2 — never
    # above the bound
    lens = [
        len(table._resolve(v, None)["data_dirs"]) for v in range(6)
    ]
    assert lens == [1, 2, 3, 2, 3, 2]
    fold = table._resolve(3, None)
    assert fold["parameters"]["absorbed_chain"] == 3
    # the fold's fresh_dirs names exactly the delta dir — the one dir the
    # parent chain's fold did not rewrite
    assert len(fold["fresh_dirs"]) == 1
    assert fold["fresh_dirs"][0] in fold["data_dirs"]
    assert set(table._resolve(2, None)["data_dirs"]).isdisjoint(
        fold["fresh_dirs"]
    )
    assert table.read(spark).count() == 9
    # absorption is invisible to readers: every version's content is the
    # prefix-sum of appends
    assert [table.read(spark, version=v).count() for v in range(6)] == [
        4, 5, 6, 7, 8, 9
    ]


def test_append_tiered_fold_keeps_big_dirs_in_place(spark, table):
    """append(max_chain=k, tiered=True) folds size-tiered: a leading dir
    holding at least the bytes of all later dirs stays in place (up to
    k // 2 - 1 of them) and only the small dirs after it fold, so a big
    table is not rewritten every k appends. Reads see the same rows at
    every version."""
    table.write(_df(spark, 5000, "big").coalesce(1))
    big = table._resolve(0, None)["data_dirs"][0]
    for i in range(6):
        table.append(
            _df(spark, 1, f"d{i}").coalesce(1), max_chain=4, tiered=True
        )
    lens = [len(table._resolve(v, None)["data_dirs"]) for v in range(7)]
    # v4 and v6 fold the three dirs after the big one: [big, folded, delta]
    assert lens == [1, 2, 3, 4, 3, 4, 3]
    for v in (4, 6):
        fold = table._resolve(v, None)
        assert fold["data_dirs"][0] == big
        assert fold["parameters"]["absorbed_chain"] == 3
        assert fold["fresh_dirs"] == fold["data_dirs"][-1:]
    assert [table.read(spark, version=v).count() for v in range(7)] == [
        5000 + v for v in range(7)
    ]
    assert table.row_count(spark) == 5006


def test_append_txn_commits_each_batch_id_once_per_writer(
    spark, table, tmp_path
):
    """append(txn=(writer, batch_id)) is Delta's txnAppId/txnVersion: the
    first commit creates the table; a batch id at or below the one
    recorded for ITS writer is a replay that commits and writes nothing;
    another writer's batch ids are its own; and the record survives
    other writers' commits, a fold and a compaction."""
    assert table.append(_df(spark, 2, "a0"), txn=("a", 0)) == 0
    assert table.append(_df(spark, 2, "a1"), txn=("a", 1)) == 1
    data_root = os.path.join(table.root, "_data")
    dirs = sorted(os.listdir(data_root))
    for b in (1, 0):
        assert table.append(_df(spark, 2, "x"), txn=("a", b)) is None
    assert table.latest_version() == 1
    assert sorted(os.listdir(data_root)) == dirs
    # a new writer (a fresh checkpoint: batch ids restart at 0) commits
    assert table.append(_df(spark, 2, "b0"), txn=("b", 0)) == 2
    assert table.append(_df(spark, 2, "x"), txn=("a", 1)) is None
    assert table.compact(spark) == 3
    assert table.append(_df(spark, 2, "x"), txn=("b", 0)) is None
    assert table.append(_df(spark, 2, "a2"), txn=("a", 2), max_chain=1) == 4
    assert table._resolve(4, None)["parameters"]["absorbed_chain"] == 1
    assert table.append(_df(spark, 2, "x"), txn=("a", 2)) is None
    assert table._resolve(None, None)["txns"] == {"a": 2, "b": 0}
    tags = sorted(r["tag"] for r in table.read(spark).collect())
    assert tags == ["a0", "a0", "a1", "a1", "a2", "a2", "b0", "b0"]
    # without a txn, appending to a table that does not exist still fails
    with pytest.raises(FileNotFoundError):
        VersionedParquetTable(str(tmp_path / "absent")).append(
            _df(spark, 1, "x")
        )


def test_partitioned_append_chain_absorbs_and_compacts(spark, table):
    """The absorb and compact rewrites must work on HIVE-PARTITIONED
    chains and preserve the partition layout: a single multi-root read
    of partitioned dirs crashes (CONFLICTING_DIRECTORY_STRUCTURES), and
    a compaction that silently flattened the layout would destroy
    partition pruning with no error."""
    table.write(_df(spark, 4, "a").withColumn("p", F.col("id") % 2),
                partition_by="p")
    for i in range(4):
        # the 3rd append hits max_chain and must absorb, not crash
        table.append(
            _df(spark, 1, f"d{i}").withColumn("p", F.lit(i % 2)),
            partition_by="p",
            max_chain=3,
        )
    assert table.read(spark).count() == 8

    v = table.compact(spark)
    compacted = table._resolve(v, None)
    assert compacted.get("partition_by") == "p"  # layout preserved
    ddir = compacted["data_dirs"][0]
    assert {d for d in os.listdir(ddir) if d.startswith("p=")} == {
        "p=0", "p=1"
    }
    assert table.read(spark).count() == 8
    # restore of a partitioned version keeps its layout too
    rv = table.restore(spark, 0)
    assert table._resolve(rv, None).get("partition_by") == "p"
    assert table.read(spark).count() == 4


def test_checkpoint_bounds_log_opens_and_preserves_reads(spark, table):
    """Every ``checkpoint_interval`` commits the log auto-writes an
    INCREMENTAL checkpoint (chunk above the previous floor + parent
    pointer — Delta's ``_last_checkpoint`` pattern with O(commits)
    cumulative write volume instead of a full-state rewrite per fold): a
    HEAD read opens pointer + newest checkpoint + at most ``interval``
    tail manifests, NOT O(total commits) — and history()/time-travel are
    byte-for-byte unchanged, including versions below the newest floor
    (they resolve down the chain)."""
    for i in range(25):
        table.write(_df(spark, i + 1, f"t{i}"), "WRITE")
    names = os.listdir(table.log_dir)
    assert "_last_checkpoint" in names
    # two auto-checkpoints landed (v9 full, v19 incremental chained to it)
    cps = sorted(n for n in names if n.endswith(".checkpoint.json"))
    assert cps == ["00000009.checkpoint.json", "00000019.checkpoint.json"]
    import json as _json

    with open(os.path.join(table.log_dir, cps[1])) as fh:
        inc = _json.load(fh)
    assert inc["parent"] == cps[0] and inc["floor"] == 9
    assert [m["version"] for m in inc["manifests"]] == list(range(10, 20))

    assert table.latest_version() == 24
    assert table.last_log_files_opened <= table.checkpoint_interval + 2
    # time travel below the newest floor resolves down the chain
    assert table.read(spark, version=3).count() == 4
    hist = table.history(spark).collect()
    assert [r["version"] for r in hist] == list(range(24, -1, -1))
    # an explicit checkpoint() FOLDS the chain back to one full file
    table.checkpoint()
    names = os.listdir(table.log_dir)
    assert sum(1 for n in names if n.endswith(".checkpoint.json")) == 1
    assert [r["version"] for r in table.history(spark).collect()] == list(
        range(24, -1, -1)
    )


def test_checkpoint_thousand_commit_log_constant_opens(spark, table):
    """A 1,000-commit table reads its log in a CONSTANT number of file
    opens once checkpointed — the continuous-ingest scale contract.
    Manifests are fabricated directly (this exercises only the log
    layer; data-path reads are covered above)."""
    import json as _json

    os.makedirs(table.log_dir)
    for v in range(1000):
        with open(os.path.join(table.log_dir, f"{v:08d}.json"), "w") as fh:
            _json.dump(_fake_manifest(v), fh)
    assert table.versions() == list(range(1000))
    assert table.last_log_files_opened == 1000  # pre-checkpoint: full replay
    table.checkpoint()
    assert table.versions() == list(range(1000))
    assert table.last_log_files_opened <= 3
    # an unparseable manifest past the checkpoint raises, naming the file
    bad = os.path.join(table.log_dir, "00001000.json")
    with open(bad, "w") as fh:
        fh.write('{"version": 1000, "time')
    with pytest.raises(RuntimeError, match=re.escape(bad)):
        table.latest_version()
    os.unlink(bad)

    # 100 MORE commits on top: every auto-checkpoint is INCREMENTAL —
    # each embeds exactly one interval's manifests (bounded bytes per
    # checkpoint, O(commits) cumulative write volume), never the whole
    # 1,000-commit history again; head reads stay constant-opens and the
    # full log is still exact down the chain.
    for v in range(1000, 1100):
        table._commit_manifest(_fake_manifest(v), v)
    cps = sorted(
        n for n in os.listdir(table.log_dir) if n.endswith(".checkpoint.json")
    )
    assert len(cps) == 11  # the v999 fold + 10 incrementals
    sizes = []
    for n in cps[1:]:
        with open(os.path.join(table.log_dir, n)) as fh:
            cp = _json.load(fh)
        assert len(cp["manifests"]) == table.checkpoint_interval
        assert "parent" in cp
        sizes.append(os.path.getsize(os.path.join(table.log_dir, n)))
    # bounded: every incremental within 2x of the smallest, and an order
    # of magnitude below the full fold
    assert max(sizes) <= 2 * min(sizes)
    assert max(sizes) < os.path.getsize(os.path.join(table.log_dir, cps[0])) / 10
    assert table.latest_version() == 1099
    assert table.last_log_files_opened <= 3
    assert table.versions() == list(range(1100))


def test_head_resolve_stops_at_first_chunk(table):
    """The head that read()/append()/commit_ref()/row_count()/compact()
    resolve costs what latest_version() costs, not a walk down a
    1,000-commit incremental checkpoint chain; time travel still reaches
    the bottom of the chain."""
    for v in range(1000):
        table._commit_manifest(_fake_manifest(v), v)
    assert table._resolve(None, None)["version"] == 999
    head_opens = table.last_log_files_opened
    assert table.latest_version() == 999
    assert head_opens == table.last_log_files_opened
    assert table._resolve(3, None)["version"] == 3
    assert table.last_log_files_opened > 10 * head_opens
    assert table._resolve(None, 500.0)["version"] == 500


def test_explicit_version_resolve_stops_at_its_chunk(spark, table):
    """A pinned recent version (the CAS paths pin one on every call)
    costs what the head costs, not a walk down a 1,000-commit
    incremental checkpoint chain; an old version is still reachable."""
    table.write(spark.range(3))
    for _ in range(999):
        table.commit_ref("REF")
    assert table._resolve(None, None)["version"] == 999
    head_opens = table.last_log_files_opened
    assert table._resolve(999, None)["version"] == 999
    assert table.last_log_files_opened == head_opens
    assert table.row_count(spark, version=995) == 3
    assert table.last_log_files_opened == head_opens
    assert table.read(spark, version=0).count() == 3


def test_uri_root_fails_loudly(tmp_path, monkeypatch):
    """The log is kept with ``os`` calls, so a root with a URI scheme
    raises, naming the root, before anything is written: committing it
    would land the log in a relative ``file:`` dir under the cwd while
    Spark wrote the data where the URI points. The table_stream source
    reads the log the same way and raises too."""
    from high_volume_market_data_pipeline_spark.dedup import SignatureStore
    from high_volume_market_data_pipeline_spark.sources.table_datasource import (
        TableStreamReader,
    )

    monkeypatch.chdir(tmp_path)
    root = f"file://{tmp_path}/t"
    with pytest.raises(ValueError, match=re.escape(root)):
        VersionedParquetTable(root)
    with pytest.raises(ValueError, match="s3a://bucket/sigs"):
        SignatureStore("s3a://bucket/sigs")
    with pytest.raises(ValueError, match=re.escape(root)):
        TableStreamReader({"root": root})
    assert os.listdir(tmp_path) == []


def test_vacuum_folds_checkpoint_and_never_resurrects(spark, table):
    """vacuum() rewrites the checkpoint over the KEPT manifests before
    deleting anything: a stale checkpoint must never resurrect a retired
    version whose files are gone."""
    for i in range(12):  # crosses the auto-checkpoint at v9
        table.write(_df(spark, i + 1, f"t{i}"), "WRITE")
    res = table.vacuum(keep_last=2, orphan_grace_seconds=0.0)
    assert res.retired == list(range(10))
    assert table.versions() == [10, 11]
    assert table.read(spark, version=10).count() == 11
    with pytest.raises(ValueError):
        table.read(spark, version=5)
    # exactly one checkpoint file remains and it covers only kept versions
    cps = [
        n for n in os.listdir(table.log_dir) if n.endswith(".checkpoint.json")
    ]
    assert len(cps) == 1
    import json as _json

    with open(os.path.join(table.log_dir, cps[0])) as fh:
        cp = _json.load(fh)
    assert [m["version"] for m in cp["manifests"]] == [10, 11]


def test_append_schema_evolution(spark, tmp_path):
    """merge_schema=False rejects column drift (a typo must not become an
    all-null column); merge_schema=True evolves: added columns read back
    null on old rows, omitted columns null on delta rows, and a retyped
    column is always rejected."""
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )

    t = VersionedParquetTable(str(tmp_path / "evo"))
    t.write(spark.createDataFrame([(1, "a")], "id long, s string"))

    extra = spark.createDataFrame([(2, "b", 0.5)], "id long, s string, q double")
    with pytest.raises(ValueError, match="merge_schema"):
        t.append(extra)
    t.append(extra, merge_schema=True)
    rows = {r["id"]: (r["s"], r["q"]) for r in t.read(spark).collect()}
    assert rows == {1: ("a", None), 2: ("b", 0.5)}

    # delta OMITTING a column also evolves (null on the delta rows)
    t.append(spark.createDataFrame([(3,)], "id long"), merge_schema=True)
    rows = {r["id"]: (r["s"], r["q"]) for r in t.read(spark).collect()}
    assert rows[3] == (None, None)

    # same name, different type: never allowed, even with merge_schema
    retyped = spark.createDataFrame([(4, 9, 1.0)], "id long, s int, q double")
    with pytest.raises(ValueError, match="never retypes"):
        t.append(retyped, merge_schema=True)

    # time travel still sees each version's own column set semantics
    assert set(t.read(spark, version=0).columns) == {"id", "s"}

    # absorb path unions with missing columns allowed
    t.append(
        spark.createDataFrame([(5, "e", 2.5)], "id long, s string, q double"),
        merge_schema=True,
        max_chain=2,
    )
    rows = {r["id"]: (r["s"], r["q"]) for r in t.read(spark).collect()}
    assert rows == {1: ("a", None), 2: ("b", 0.5), 3: (None, None), 5: ("e", 2.5)}


def test_changes_across_schema_evolution(spark, tmp_path):
    """changes() across a merge_schema append boundary diffs over the
    UNION of columns with the missing side null-filled (Delta CDF
    semantics): pre-evolution rows whose new column stays null are
    unchanged; a row that gains a value shows as a null→value update."""
    t = VersionedParquetTable(str(tmp_path / "cevo"))
    t.write(spark.createDataFrame([(1, "a"), (2, "b")], "id long, s string"))
    # v1 adds column q and a new row
    t.append(
        spark.createDataFrame([(3, "c", 1.5)], "id long, s string, q double"),
        merge_schema=True,
    )
    ch = {
        (r["id"], r["_change_type"]): (r["s"], r["q"])
        for r in t.changes(spark, 0, 1, ["id"]).collect()
    }
    # rows 1/2: q is null-filled on the v0 side and null in v1 ⇒ unchanged
    assert ch == {(3, "insert"): ("c", 1.5)}

    # v2 rewrites row 1 giving q a value: null→value update across the
    # evolution boundary, diffed against v0 (non-adjacent pair)
    v1 = t.read(spark)
    t.write(
        v1.replace(  # noqa: PD010 — DataFrame.replace not pandas pivot
            to_replace=float("nan"), value=None
        ).selectExpr(
            "id", "s", "case when id = 1 then 9.9 else q end as q"
        )
    )
    rows = t.changes(spark, 0, 2, ["id"]).collect()
    byid = {(r["id"], r["_change_type"]): (r["s"], r["q"]) for r in rows}
    assert byid[(1, "update_preimage")] == ("a", None)
    assert byid[(1, "update_postimage")] == ("a", 9.9)
    assert byid[(3, "insert")] == ("c", 1.5)
    assert (2, "update_preimage") not in byid


def test_empty_merge_schema_append_records_parent_schema(spark, tmp_path):
    """An EMPTY delta with merge_schema=True must not evolve the recorded
    schema: its columns exist in no data dir, so recording them would
    declare phantom columns that read() lacks and later appends would
    validate against."""
    from pyspark.sql.types import StructType

    t = VersionedParquetTable(str(tmp_path / "phantom"))
    t.write(
        spark.createDataFrame([(1, "a", 0)], "id long, s string, p int"),
        partition_by="p",
    )
    # an empty PARTITIONED write creates no partition dirs and no part
    # files — the has_files=False commit path
    empty = spark.createDataFrame(
        [], "id long, s string, p int, q double"
    ).filter("1=0")
    v = t.append(empty, merge_schema=True, partition_by="p")
    rec = StructType.fromJson(t._resolve(v, None)["schema"])
    assert {f.name for f in rec} == {"id", "s", "p"}  # no phantom q
    assert set(t.read(spark).columns) == {"id", "s", "p"}
    # a later append matching the REAL table schema still validates
    t.append(
        spark.createDataFrame([(2, "b", 1)], "id long, s string, p int"),
        partition_by="p",
    )
    assert t.read(spark).count() == 2


def test_history_limit_stops_at_first_chunks(spark, table):
    """history(limit=N) returns the newest N commits AND stops the log
    walk early (Delta's history(N)): with the incremental checkpoint
    chain, history(1) on a deep table parses pointer + newest chunk, not
    the whole chain."""
    for v in range(35):
        table._commit_manifest(_fake_manifest(v), v)
    got = table.history(spark, limit=3).collect()
    assert [r["version"] for r in got] == [34, 33, 32]
    # the walk stopped at the loose tail: pointer + cp + tail(5) opens,
    # never the chain below the newest checkpoint
    assert table.last_log_files_opened <= table.checkpoint_interval + 2
    full = table.history(spark).collect()
    assert [r["version"] for r in full] == list(range(34, -1, -1))


def test_checkpoint_chain_damage_falls_back_to_replay(spark, table):
    """Checkpoints are CACHES: deleting a mid-chain checkpoint file (or
    the pointer target) must degrade reads to a full manifest replay with
    identical results, never an error or a truncated history — and the
    stream source, reading through the same walk, agrees."""
    import json as _json

    for v in range(25):
        table._commit_manifest(_fake_manifest(v), v)
    cps = sorted(
        n for n in os.listdir(table.log_dir) if n.endswith(".checkpoint.json")
    )
    assert len(cps) == 2  # v9 full + v19 incremental
    # destroy the PARENT of the newest checkpoint: the chain is broken
    os.unlink(os.path.join(table.log_dir, cps[0]))
    assert table.versions() == list(range(25))
    assert table.latest_version() == 24
    # the walk the stream source reads through agrees
    from high_volume_market_data_pipeline_spark.sinks.table_format import (
        manifests_since,
    )

    assert sorted(manifests_since(table.log_dir, 0)) == list(range(25))

    # now garble the pointer itself: same degradation
    with open(os.path.join(table.log_dir, "_last_checkpoint"), "w") as fh:
        fh.write("{not json")
    assert table.versions() == list(range(25))
    assert sorted(manifests_since(table.log_dir, 0)) == list(range(25))

    # a cycle (checkpoint naming itself as parent) must not loop forever
    name = cps[1]
    p = os.path.join(table.log_dir, name)
    with open(p) as fh:
        cp = _json.load(fh)
    cp["parent"] = name
    with open(p, "w") as fh:
        _json.dump(cp, fh)
    with open(os.path.join(table.log_dir, "_last_checkpoint"), "w") as fh:
        _json.dump({"checkpoint": name}, fh)
    assert table.versions() == list(range(25))
    assert sorted(manifests_since(table.log_dir, 0)) == list(range(25))

    # an unparseable trailing manifest is damage, not a fallback case:
    # both raise, naming the file
    bad = os.path.join(table.log_dir, "00000025.json")
    with open(bad, "w") as fh:
        fh.write('{"version": 25, "time')
    with pytest.raises(RuntimeError, match=re.escape(bad)):
        table.versions()
    with pytest.raises(RuntimeError, match=re.escape(bad)):
        manifests_since(table.log_dir, 1 << 62)


def test_vacuum_rejects_non_positive_keep_last(spark, table):
    """keep_last=0 used to keep EVERY version (``ms[-0:]`` is the whole
    list) and a negative value retired from the oldest end; both raise
    before anything is deleted."""
    for i in range(3):
        table.write(_df(spark, i + 1, f"t{i}"), "WRITE")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="keep_last"):
            table.vacuum(keep_last=bad, orphan_grace_seconds=0.0)
    assert table.versions() == [0, 1, 2]


def test_history_rejects_non_positive_limit(spark, table):
    """history(limit=0) used to return one row off a non-empty loose tail
    and none right after a checkpoint; a limit below 1 now raises."""
    for i in range(3):
        table.write(_df(spark, i + 1, f"t{i}"), "WRITE")
    for bad in (0, -2):
        with pytest.raises(ValueError, match="limit"):
            table.history(spark, limit=bad)
    assert [r["version"] for r in table.history(spark, limit=2).collect()] == [
        2,
        1,
    ]


def test_vacuum_retain_hours_keeps_time_window(spark, table):
    """vacuum(retain_hours=N) — Delta RETAIN N HOURS: versions committed
    within the window survive even beyond keep_last, so time travel over
    the promised wall-clock horizon holds regardless of commit rate."""
    import json as _json
    import time as _time

    for i in range(6):
        table.write(_df(spark, i + 1, f"t{i}"), "WRITE")
    # age versions 0..2 to "three hours ago"; 3..5 stay fresh
    old = _time.time() - 3 * 3600
    for v in range(3):
        p = os.path.join(table.log_dir, f"{v:08d}.json")
        with open(p) as fh:
            m = _json.load(fh)
        m["timestamp"] = old
        with open(p, "w") as fh:
            _json.dump(m, fh)
    table.checkpoint()  # fold so the edited timestamps are authoritative

    res = table.vacuum(keep_last=1, retain_hours=1.0)
    # keep_last=1 alone would retire 0..4; the 1h window saves 3 and 4
    assert sorted(res.retired) == [0, 1, 2]
    for v in (3, 4, 5):
        assert table.read(spark, version=v).count() == v + 1


def test_concurrent_writers_with_incremental_checkpoints(spark, table):
    """Eight threads race 10 commits each through the CAS retry loop
    while auto-checkpoints (incremental chain) fire concurrently: the
    log must come out contiguous with every writer's payloads exactly
    once, and reads must resolve through whatever chain/pointer state
    the races left behind (checkpoints are caches — racing pointers can
    orphan a chunk file, never lose a manifest)."""
    import threading

    from high_volume_market_data_pipeline_spark.sinks.history import (
        ConcurrentCommitError,
    )

    table.checkpoint_interval = 5  # force frequent chain activity
    n_threads, per_thread = 8, 10
    errors: list = []

    def writer(tid: int) -> None:
        try:
            for i in range(per_thread):
                for _ in range(200):  # CAS retry loop
                    target = (table.latest_version() or 0) + 1 if table.exists() else 0
                    try:
                        table._commit_manifest(
                            _fake_manifest(
                                target,
                                f"/nope/t{tid}_{i}",
                                {"tid": tid, "i": i},
                            ),
                            target,
                        )
                        break
                    except ConcurrentCommitError:
                        continue
                else:
                    raise RuntimeError("retries exhausted")
        except Exception as exc:  # noqa: BLE001 — surfaced to the assert
            errors.append(exc)

    threads = [
        threading.Thread(target=writer, args=(t,)) for t in range(n_threads)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert errors == []

    total = n_threads * per_thread
    ms = table._manifests()
    assert [m["version"] for m in ms] == list(range(total))
    payloads = {(m["parameters"]["tid"], m["parameters"]["i"]) for m in ms}
    assert payloads == {
        (t, i) for t in range(n_threads) for i in range(per_thread)
    }  # every commit exactly once, none lost to a race
    # head reads resolve through the racing-chain state in bounded opens
    # (a racing pointer can be a few intervals stale — bounded by the
    # race width, never O(total commits))
    assert table.latest_version() == total - 1
    assert table.last_log_files_opened <= 4 * table.checkpoint_interval + 2
    assert table.history(spark, limit=5).count() == 5


def test_maybe_checkpoint_restores_counter_on_failure(spark, table,
                                                      monkeypatch):
    """last_log_files_opened is documented as 'files opened by the most
    recent log-read call'; a failing checkpoint write must restore it on
    the warn path too, not leave the probe's count behind."""
    for i in range(9):
        table.write(_df(spark, 1, f"t{i}"), "WRITE")

    def boom(*a, **k):
        raise OSError("disk full")

    monkeypatch.setattr(table, "_write_checkpoint", boom)
    table.read(spark)  # sets the counter to this read's file count
    before = table.last_log_files_opened
    import warnings as _w

    with _w.catch_warnings():
        _w.simplefilter("ignore")
        # crossing the interval triggers the (failing) checkpoint
        table.write(_df(spark, 1, "t9"), "WRITE")
    assert table.last_log_files_opened == before


def test_commit_ref_metadata_only(spark, table, tmp_path):
    """r12 optimization contract: commit_ref advances a version with a
    manifest-only commit — the new version reads the PARENT'S files
    byte-identically, no new data dir is written, n_rows/row_count carry
    over, fresh_dirs is empty, and the explicit-version form keeps CAS
    semantics. Vacuum's dir reference-counting must keep the shared dirs
    alive while any referencing version is kept."""
    from high_volume_market_data_pipeline_spark.sinks.history import (
        ConcurrentCommitError,
    )

    table.write(_df(spark, 5, "a"), "WRITE")
    table.append(_df(spark, 3, "b"), "APPEND")

    def dirs():
        return set(os.listdir(os.path.join(table.root, "_data")))

    before = dirs()
    v2 = table.commit_ref("REPAIR", {"k": 1}, version=2, parent_version=1)
    assert v2 == 2
    assert dirs() == before  # no data written
    assert table.row_count(spark, version=2) == 8
    assert sorted(
        tuple(r) for r in table.read(spark, version=2).collect()
    ) == sorted(tuple(r) for r in table.read(spark, version=1).collect())
    m = table._resolve(2, None)
    assert m["fresh_dirs"] == [] and m["n_rows"] == 8
    assert m["operation"] == "REPAIR" and m["parameters"] == {"k": 1}
    # CAS: the version is occupied now
    with pytest.raises(ConcurrentCommitError):
        table.commit_ref("REPAIR", version=2, parent_version=1)
    # appends on top of a ref commit extend the same chain
    table.append(_df(spark, 2, "c"), "APPEND")
    assert table.read(spark).count() == 10
    # vacuum to the newest 2 (v2 ref + v3): the dirs shared with retired
    # v0/v1 must survive because kept manifests still reference them
    table.vacuum(keep_last=2, orphan_grace_seconds=0.0)
    assert table.read(spark).count() == 10
    assert table.row_count(spark) == 10


def test_row_count_fsck_detects_corrupt_manifest(spark, tmp_path):
    """r13 hardening (VERDICT r12): the ingest queries' commit-trail
    counts read the manifest's ``n_rows`` instead of counting data, so a
    buggy or hand-edited writer could silently change a declared output.
    ``verify_row_counts()`` must (a) pass a healthy chain whose
    ``n_rows`` equals ``read().count()`` at every version, and (b)
    DETECT a manifest whose recorded count no longer matches the
    referenced files' parquet footers."""
    import json

    t = VersionedParquetTable(str(tmp_path / "tbl"))
    t.write(spark.createDataFrame([(i, f"r{i}") for i in range(10)],
                                  "id long, s string"))
    t.append(spark.createDataFrame([(10, "r10"), (11, "r11")],
                                   "id long, s string"))
    # healthy chain: fsck clean, and the metadata count equals the data
    # count at every version (the by-construction invariant)
    assert t.verify_row_counts() == []
    for v in (0, 1):
        assert t.row_count(spark, version=v) == t.read(spark, version=v).count()

    mpath = os.path.join(t.log_dir, "00000001.json")
    with open(mpath) as fh:
        m = json.load(fh)
    m["n_rows"] = int(m["n_rows"]) + 7
    with open(mpath, "w") as fh:
        json.dump(m, fh)
    bad = t.verify_row_counts()
    assert [b["version"] for b in bad] == [1]
    assert bad[0]["recorded"] == bad[0]["actual"] + 7


_MANIFEST_KEYS = {
    "format",
    "version",
    "timestamp",
    "operation",
    "parameters",
    "data_dirs",
    "fresh_dirs",
    "n_rows",
    "partition_by",
    "schema",
    "txns",
}

_WRITERS = {
    "write": lambda spark, t: t.write(_df(spark, 2, "w")),
    "append": lambda spark, t: t.append(_df(spark, 2, "a")),
    "append_fold": lambda spark, t: t.append(_df(spark, 2, "f"), max_chain=1),
    "empty_append": lambda spark, t: t.append(_df(spark, 0, "e")),
    "commit_ref": lambda spark, t: t.commit_ref("REF"),
    "compact": lambda spark, t: t.compact(spark),
    "restore": lambda spark, t: t.restore(spark, 0),
}


@pytest.mark.parametrize("writer", sorted(_WRITERS))
def test_every_writer_commits_the_one_manifest_shape(spark, table, writer):
    """Every commit path writes exactly the current manifest keys, with
    ``format`` equal to the one format constant, and its row_count is a
    manifest read (no Spark job) equal to the data's count."""
    from high_volume_market_data_pipeline_spark.session import job_mark
    from high_volume_market_data_pipeline_spark.sinks.table_format import (
        FORMAT,
    )

    table.write(_df(spark, 3, "base"))
    v = _WRITERS[writer](spark, table)
    for m in (table._resolve(0, None), table._resolve(v, None)):
        assert set(m) == _MANIFEST_KEYS
        assert m["format"] == FORMAT
    j0 = job_mark(spark)
    n = table.row_count(spark, version=v)
    assert job_mark(spark) == j0
    assert n == table.read(spark, version=v).count()


_READERS = {
    "read": lambda spark, t: t.read(spark),
    "row_count": lambda spark, t: t.row_count(spark),
    "history": lambda spark, t: t.history(spark),
    "append": lambda spark, t: t.append(_df(spark, 1, "x")),
}


@pytest.mark.parametrize("where", ["loose_tail", "checkpoint"])
@pytest.mark.parametrize("shape", ["no_format", "format_0"])
@pytest.mark.parametrize("reader", sorted(_READERS))
def test_older_format_raises(spark, table, reader, shape, where):
    """A manifest in any other format raises the one format error, naming
    the file and the format found, whether it is the trailing loose file
    or inside a checkpoint chunk (which does not fall back to a replay of
    the current-format loose files)."""
    from high_volume_market_data_pipeline_spark.sinks.table_format import (
        ManifestFormatError,
    )

    table.write(_df(spark, 3, "a"))
    table.commit_ref("REF")
    name = rewrite_in_older_format(table, 1, where, shape)
    found = "None" if shape == "no_format" else "0"
    with pytest.raises(ManifestFormatError, match=f"{name} has format {found}"):
        _READERS[reader](spark, table)
    # append resolves its parent before writing any data
    assert len(os.listdir(os.path.join(table.root, "_data"))) == 1

