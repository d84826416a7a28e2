"""ANN index persistence: build once, search from the stored copy.

The in-session round-trips assert byte-identical model arrays, identical
coded tables, and identical SEARCH RESULTS between a live-built index and
its saved+loaded twin — the loaded side reads everything from parquet
(model table + versioned coded table), nothing from session state, which
is what makes the cold-session test below work. The subprocess test is
the actual FAISS contract: a completely fresh JVM/session loads the index
and reproduces the exact search output committed by the builder session.
"""

from __future__ import annotations

import os
import subprocess
import sys

import numpy as np
import pytest

from high_volume_market_data_pipeline_spark.catalog import load_table
from high_volume_market_data_pipeline_spark.session import job_mark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_ivf_index_roundtrip_identical_search(spark, tmp_path):
    from high_volume_market_data_pipeline_spark.similarity import (
        build_ivf_index,
        ivf_knn,
        load_index,
        save_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter("vec_id < 5")
    idx = build_ivf_index(emb, n_cells=8)
    save_index(idx, str(tmp_path / "ivf"))
    loaded = load_index(spark, str(tmp_path / "ivf"))
    np.testing.assert_array_equal(idx.centroids, loaded.centroids)
    assert _rows(idx.coded) == _rows(loaded.coded)
    live = ivf_knn(q, emb, k=3, n_cells=8, index=idx)
    cold = ivf_knn(q, emb, k=3, n_cells=8, index=loaded)
    assert _rows(live) == _rows(cold)


def test_pq_index_roundtrip_identical_search(spark, tmp_path):
    from high_volume_market_data_pipeline_spark.similarity import (
        build_pq_index,
        load_index,
        pq_knn,
        save_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter("vec_id < 5")
    idx = build_pq_index(emb, m_subspaces=8, n_codes=16)
    save_index(idx, str(tmp_path / "pq"))
    loaded = load_index(spark, str(tmp_path / "pq"))
    np.testing.assert_array_equal(idx.codebooks, loaded.codebooks)
    assert _rows(idx.coded) == _rows(loaded.coded)
    live = pq_knn(q, emb, k=3, m_subspaces=8, n_codes=16, index=idx)
    cold = pq_knn(q, emb, k=3, m_subspaces=8, n_codes=16, index=loaded)
    assert _rows(live) == _rows(cold)


def test_ivf_pq_index_roundtrip_identical_search(spark, tmp_path):
    from high_volume_market_data_pipeline_spark.similarity import (
        build_ivf_pq_index,
        ivf_pq_knn,
        load_index,
        save_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter("vec_id < 5")
    idx = build_ivf_pq_index(emb, n_cells=8, m_subspaces=8, n_codes=16)
    save_index(idx, str(tmp_path / "ivfpq"))
    loaded = load_index(spark, str(tmp_path / "ivfpq"))
    np.testing.assert_array_equal(idx.centroids, loaded.centroids)
    np.testing.assert_array_equal(idx.codebooks, loaded.codebooks)
    assert _rows(idx.coded) == _rows(loaded.coded)
    live = ivf_pq_knn(q, emb, k=3, n_cells=8, m_subspaces=8, n_codes=16, index=idx)
    cold = ivf_pq_knn(q, emb, k=3, n_cells=8, m_subspaces=8, n_codes=16, index=loaded)
    assert _rows(live) == _rows(cold)


@pytest.mark.parametrize(
    "family, prefix, model_keys, part, columns, index_type",
    [
        ("ivf", "IVF", ["n_cells"], "cell",
         ["neighbor_id", "cv", "cell"], "IVFIndex"),
        ("pq", "PQ", ["m_subspaces", "n_codes"], None,
         ["neighbor_id", "pq_codes"], "PQIndex"),
        ("ivf_pq", "IVF_PQ", ["n_cells", "m_subspaces", "n_codes"], "cell",
         ["neighbor_id", "cell", "pq_codes"], "IVFPQIndex"),
    ],
)
def test_family_comes_from_the_stored_model(
    spark, tmp_path, family, prefix, model_keys, part, columns, index_type
):
    """save → append → load names no family: each step reads it from the
    model arrays, and the persisted format is the one every earlier
    release wrote — operation names, parameter keys (in order),
    partitioning and the loaded coded column order."""
    from high_volume_market_data_pipeline_spark import similarity
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    build = {
        "ivf": lambda d: similarity.build_ivf_index(d, n_cells=4),
        "pq": lambda d: similarity.build_pq_index(d, m_subspaces=8, n_codes=8),
        "ivf_pq": lambda d: similarity.build_ivf_pq_index(
            d, n_cells=4, m_subspaces=8, n_codes=8
        ),
    }[family]
    root = str(tmp_path / family)
    similarity.save_index(build(emb.filter("vec_id % 2 = 0")), root)
    similarity.append_to_index(spark, root, emb.filter("vec_id % 2 = 1"))
    loaded = similarity.load_index(spark, root)

    assert type(loaded).__name__ == index_type
    assert loaded.coded.columns == columns
    assert loaded.coded.count() == emb.count()
    trail = {
        t: [
            (m["operation"], list(m["parameters"]), m["partition_by"])
            for m in VersionedParquetTable(os.path.join(root, t))._manifests()
        ]
        for t in ("model", "coded")
    }
    append_keys = model_keys + ["parent_version"]
    assert trail == {
        "model": [
            (f"{prefix}_MODEL", model_keys, None),
            (f"{prefix}_APPEND", append_keys, None),
        ],
        "coded": [
            (f"{prefix}_CODED", [], part),
            (f"{prefix}_APPEND", append_keys, part),
        ],
    }


def test_index_update_is_a_new_version(spark, tmp_path):
    """Re-encoding commits a new VERSION of the coded table; readers on
    the old version keep their snapshot (the atomic-nightly-rebuild
    contract the versioned store exists for)."""
    from high_volume_market_data_pipeline_spark.similarity import (
        build_pq_index,
        load_index,
        save_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    idx_v0 = build_pq_index(emb.filter("vec_id < 200"), m_subspaces=8, n_codes=16)
    save_index(idx_v0, str(tmp_path / "pq"))
    idx_v1 = build_pq_index(emb, m_subspaces=8, n_codes=16)
    v1 = save_index(idx_v1, str(tmp_path / "pq"))
    assert v1 == 1
    old = load_index(spark, str(tmp_path / "pq"), version=0)
    new = load_index(spark, str(tmp_path / "pq"), version=None)
    assert old.coded.count() == 200
    assert new.coded.count() == emb.count()


def test_pq_search_from_fresh_session_subprocess(spark, tmp_path):
    """The cold-session proof: this session builds+saves+searches; a
    SEPARATE python process (its own JVM, no shared state) loads the
    index and must emit the identical result set."""
    from high_volume_market_data_pipeline_spark.similarity import (
        build_pq_index,
        pq_knn,
        save_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter("vec_id < 5")
    idx = build_pq_index(emb, m_subspaces=8, n_codes=16)
    root = str(tmp_path / "pq")
    save_index(idx, root)
    expected = _rows(
        pq_knn(q, emb, k=3, m_subspaces=8, n_codes=16, index=idx).select(
            "query_id", "neighbor_id", "knn_rank"
        )
    )
    script = f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
from high_volume_market_data_pipeline_spark.catalog import load_table
from high_volume_market_data_pipeline_spark.similarity import load_index, pq_knn
spark = (SparkSession.builder.master("local[4]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "8").getOrCreate())
emb = load_table(spark, {SF_DIR!r}, "embeddings")
q = emb.filter("vec_id < 5")
idx = load_index(spark, {root!r})
out = pq_knn(q, emb, k=3, m_subspaces=8, n_codes=16, index=idx)
for r in out.select("query_id", "neighbor_id", "knn_rank").collect():
    print("ROW", r["query_id"], r["neighbor_id"], r["knn_rank"])
spark.stop()
"""
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = sorted(
        tuple(int(x) for x in line.split()[1:])
        for line in proc.stdout.splitlines()
        if line.startswith("ROW")
    )
    assert got == expected


@pytest.mark.parametrize("bad", ["model", "coded"])
def test_load_missing_piece_raises(spark, tmp_path, bad):
    from high_volume_market_data_pipeline_spark.similarity import (
        build_pq_index,
        load_index,
        save_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings").limit(50)
    idx = build_pq_index(emb, m_subspaces=8, n_codes=16)
    root = str(tmp_path / "pq")
    save_index(idx, root)
    import shutil

    shutil.rmtree(os.path.join(root, bad))
    with pytest.raises(FileNotFoundError):
        load_index(spark, root).coded.count()


def test_pq_index_append_without_refit(spark, tmp_path):
    """FAISS add(): new vectors are encoded with the STORED codebooks and
    committed as a new version — the old version keeps its snapshot, the
    new one is searchable and finds the appended vectors, and a replayed
    append (same ids) converges instead of double-coding."""
    from high_volume_market_data_pipeline_spark.similarity import (
        append_to_index,
        build_pq_index,
        load_index,
        pq_knn,
        save_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    n_total = emb.count()
    first = emb.filter("vec_id % 2 = 0")
    rest = emb.filter("vec_id % 2 = 1")
    root = str(tmp_path / "pq")
    save_index(build_pq_index(first, m_subspaces=8, n_codes=16), root)

    v1 = append_to_index(spark, root, rest)
    assert v1 == 1
    old, new = load_index(spark, root, 0), load_index(spark, root)
    np.testing.assert_array_equal(old.codebooks, new.codebooks)
    assert old.coded.count() == first.count()
    assert new.coded.count() == n_total

    # appended ids are actually searchable: queries drawn FROM the
    # appended half must find themselves (cosine 1.0 self-hit is excluded,
    # but their true near neighbors in the full corpus now rank)
    q = rest.filter("vec_id < 20")
    hits = pq_knn(
        q, emb, k=3, m_subspaces=8, n_codes=16, index=new
    )
    ids_in_results = {
        r["neighbor_id"] for r in hits.select("neighbor_id").collect()
    }
    assert ids_in_results & {r["vec_id"] for r in rest.collect()}

    # replay: same arrivals again — id anti-join drops them all
    v2 = append_to_index(spark, root, rest)
    assert v2 == 2
    assert load_index(spark, root).coded.count() == n_total


def test_stream_append_pq_converges_on_replay(spark, tmp_path):
    """Streaming vector-store ingest: arriving embeddings are encoded with
    the stored codebooks and appended as versioned commits; a full replay
    with a fresh checkpoint converges (id anti-join) instead of
    double-coding; appended vectors are searchable."""
    from high_volume_market_data_pipeline_spark.similarity import (
        build_pq_index,
        load_index,
        pq_knn,
        save_index,
    )
    from high_volume_market_data_pipeline_spark.streaming.vector_ingest import (
        stream_append_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    seed = emb.filter("vec_id < 300")
    arriving = emb.filter("vec_id >= 300")
    n_total = emb.count()
    root = str(tmp_path / "pq")
    save_index(build_pq_index(seed, m_subspaces=8, n_codes=16), root)

    arrivals = str(tmp_path / "arrivals")
    arriving.repartition(2).write.parquet(arrivals)

    def run(ckpt):
        sdf = (
            spark.readStream.schema(arriving.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(arrivals)
        )
        q = stream_append_index(
            sdf, root, checkpoint=str(tmp_path / ckpt)
        )
        q.awaitTermination()

    run("ckpt1")
    idx = load_index(spark, root)
    assert idx.coded.count() == n_total
    assert idx.coded.select("neighbor_id").distinct().count() == n_total

    # replay from scratch: same arrivals, fresh checkpoint — converges
    run("ckpt2")
    assert load_index(spark, root).coded.count() == n_total

    # an appended vector's neighborhood is searchable
    q5 = emb.filter("vec_id >= 300 and vec_id < 305")
    out = pq_knn(q5, emb, k=3, m_subspaces=8, n_codes=16, index=load_index(spark, root))
    assert out.count() == 5 * 3


def test_stream_append_requires_trained_index(spark, tmp_path):
    from high_volume_market_data_pipeline_spark.streaming.vector_ingest import (
        stream_append_index,
    )

    from pyspark.errors import AnalysisException

    emb = load_table(spark, SF_DIR, "embeddings")
    arrivals = tmp_path / "arrivals"
    arrivals.mkdir()
    sdf = spark.readStream.schema(emb.schema).parquet(str(arrivals))
    # fail-fast at start(), not at first batch; the exact exception type
    # depends on which piece is probed first (manifest log vs parquet dir)
    with pytest.raises((FileNotFoundError, AnalysisException)):
        stream_append_index(
            sdf, str(tmp_path / "missing_idx"), checkpoint=str(tmp_path / "c")
        )


def test_ivf_index_append_assigns_stored_centroids(spark, tmp_path):
    """IVF add(): appended vectors go to their nearest STORED centroid
    (model unchanged, paired version bump), the grown lists are
    searchable, and a replay converges."""
    from high_volume_market_data_pipeline_spark.similarity import (
        append_to_index,
        build_ivf_index,
        ivf_knn,
        load_index,
        save_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    n_total = emb.count()
    first = emb.filter("vec_id % 2 = 0")
    rest = emb.filter("vec_id % 2 = 1")
    root = str(tmp_path / "ivf")
    save_index(build_ivf_index(first, n_cells=8), root)

    v1 = append_to_index(spark, root, rest)
    assert v1 == 1
    old, new = load_index(spark, root, 0), load_index(spark, root)
    np.testing.assert_array_equal(old.centroids, new.centroids)
    assert new.coded.count() == n_total
    # every appended row landed in a valid stored cell
    cells = {r["cell"] for r in new.coded.select("cell").distinct().collect()}
    assert cells <= set(range(8))
    out = ivf_knn(
        rest.filter("vec_id < 20"), emb, k=3, n_cells=8, index=new
    )
    assert out.count() > 0
    # replay converges
    assert append_to_index(spark, root, rest) == 2
    assert load_index(spark, root).coded.count() == n_total
    # build/append identity: re-appending the BUILD vectors (id skip off)
    # must place every one in exactly the cell the build gave it
    append_to_index(spark, root, first, skip_existing_ids=False)
    _assert_reappend_matches_build(load_index(spark, root).coded, first, "cell")


def test_ivf_pq_index_append_residual_encode(spark, tmp_path):
    """IVF-PQ add(): appended vectors are residual-encoded with the
    STORED codebooks against their assigned stored centroid — the
    (cell, code) a fresh append produces for a vector must EQUAL what the
    build gave it under the same model (build and append run the same
    assignment + encode kernels); asserted per id by re-appending the
    build vectors."""
    from high_volume_market_data_pipeline_spark.similarity import (
        append_to_index,
        build_ivf_pq_index,
        ivf_pq_knn,
        load_index,
        save_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    n_total = emb.count()
    first = emb.filter("vec_id % 2 = 0")
    rest = emb.filter("vec_id % 2 = 1")
    root = str(tmp_path / "ivfpq")
    idx0 = build_ivf_pq_index(first, n_cells=8, m_subspaces=8, n_codes=16)
    save_index(idx0, root)

    v1 = append_to_index(spark, root, rest)
    assert v1 == 1
    new = load_index(spark, root)
    assert new.coded.count() == n_total
    np.testing.assert_array_equal(idx0.codebooks, new.codebooks)
    out = ivf_pq_knn(
        rest.filter("vec_id < 20"),
        emb,
        k=3,
        n_cells=8,
        m_subspaces=8,
        n_codes=16,
        index=new,
    )
    assert out.count() > 0
    append_to_index(spark, root, first, skip_existing_ids=False)
    _assert_reappend_matches_build(
        load_index(spark, root).coded, first, "cell", "pq_codes"
    )


def _assert_reappend_matches_build(coded, build_vectors, *cols):
    """Every build vector now has two rows — its build row and its
    re-appended row — and they carry identical ``cols``."""
    ids = build_vectors.select(build_vectors["vec_id"].alias("neighbor_id"))
    by_id: dict = {}
    for r in coded.join(ids, "neighbor_id").collect():
        by_id.setdefault(r["neighbor_id"], []).append(
            tuple(tuple(r[c]) if isinstance(r[c], list) else r[c] for c in cols)
        )
    assert len(by_id) == build_vectors.count()
    for nid, got in by_id.items():
        assert len(got) == 2 and got[0] == got[1], (nid, got)


def test_head_load_pins_to_newest_paired_snapshot(spark, tmp_path):
    """save/append commit model and coded as two separate versioned
    writes — not one transaction. If a writer dies (or loses a commit
    race) BETWEEN the two, the table heads diverge, and a head-of-each
    load would pair NEW codebooks with the OLD coded table: codes
    decoded against the wrong model, silently wrong neighbors. Head
    loads must pin to min(model head, coded head) — the newest PAIRED
    snapshot."""
    from high_volume_market_data_pipeline_spark.similarity import (
        build_pq_index,
        load_index,
        save_index,
    )
    from high_volume_market_data_pipeline_spark.similarity.index_store import (
        _save_model_arrays,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    idx = build_pq_index(emb.limit(100), m_subspaces=8, n_codes=16)
    root = str(tmp_path / "pq")
    save_index(idx, root)

    # simulate a rebuild that committed its model, then died before the
    # coded commit: model head advances to v1, coded head stays v0
    other = build_pq_index(emb.limit(100), m_subspaces=8, n_codes=16, seed=7)
    _save_model_arrays(
        spark,
        root,
        "PQ_MODEL",
        {"m_subspaces": 8, "n_codes": 16},
        codebooks=other.codebooks,
    )

    loaded = load_index(spark, root)  # head load
    # must be the PAIRED v0 snapshot — the crashed writer's v1 codebooks
    # would decode v0's codes into garbage
    np.testing.assert_array_equal(loaded.codebooks, idx.codebooks)
    assert loaded.coded.count() == 100


def test_interleaved_appends_do_not_lose_updates(spark, tmp_path, monkeypatch):
    """Two appenders that both loaded coded head v0 and commit interleaved
    must NOT silently drop the first writer's rows (the classic lost
    update). append_* CAS-commits at an explicit version derived from the
    coded head, so the second writer's stale commit raises internally and
    the retry re-derives its union from the winner's head — the final
    table carries BOTH appends."""
    import high_volume_market_data_pipeline_spark.similarity.index_store as ist
    from high_volume_market_data_pipeline_spark.similarity import (
        build_pq_index,
        load_index,
        save_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    base = emb.filter("vec_id % 3 = 0")
    a_rows = emb.filter("vec_id % 3 = 1")
    b_rows = emb.filter("vec_id % 3 = 2")
    root = str(tmp_path / "pq")
    save_index(build_pq_index(base, m_subspaces=8, n_codes=16), root)

    real_append = ist._append_coded
    state = {"injected": False, "collisions": 0}

    def racy_append(df, root_, op, parameters, version, parent_version,
                    **kw):
        # Writer B reached its commit point with a delta derived from v0;
        # writer A's whole append lands NOW — the exact interleaving that
        # lost A's rows before the CAS commit.
        if not state["injected"]:
            state["injected"] = True
            ist.append_to_index(spark, root, a_rows)
        try:
            return real_append(
                df, root_, op, parameters, version, parent_version, **kw
            )
        except ist.ConcurrentCommitError:
            state["collisions"] += 1
            raise

    monkeypatch.setattr(ist, "_append_coded", racy_append)
    ist.append_to_index(spark, root, b_rows)  # writer B

    assert state["collisions"] == 1  # B really did lose the race once
    final = load_index(spark, root)
    assert final.coded.count() == emb.count()  # nobody's rows dropped
    ids = {r["neighbor_id"] for r in final.coded.select("neighbor_id").collect()}
    assert {r["vec_id"] for r in a_rows.select("vec_id").collect()} <= ids
    assert {r["vec_id"] for r in b_rows.select("vec_id").collect()} <= ids
    # every surviving version is paired and records its parent
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )

    coded_t = VersionedParquetTable(os.path.join(root, "coded"))
    manifests = coded_t._manifests()
    assert [m["version"] for m in manifests] == [0, 1, 2]
    assert [m["parameters"].get("parent_version") for m in manifests[1:]] == [0, 1]


def test_persisted_ivf_search_prunes_cell_partitions(spark, tmp_path):
    """The persisted IVF coded table is hive-partitioned by cell, and the
    search pushes its driver-side probed-cell set as a STATIC IN-filter —
    so a search over the loaded index must show a cell PartitionFilter at
    the parquet scan (unprobed cells never read: the storage regime where
    growing n_cells pays), and return exactly the live index's rows."""
    from high_volume_market_data_pipeline_spark.similarity import (
        build_ivf_index,
        ivf_knn,
        load_index,
        save_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    q = emb.filter("vec_id < 3")
    live = build_ivf_index(emb, n_cells=8)
    save_index(live, str(tmp_path / "ivf"))
    loaded = load_index(spark, str(tmp_path / "ivf"))

    res = ivf_knn(q, emb, k=3, n_probe=2, index=loaded)
    plan = res._sc._jvm.PythonSQLUtils.explainString(
        res._jdf.queryExecution(), "formatted"
    )
    part_lines = [
        ln for ln in plan.splitlines() if "PartitionFilters" in ln
    ]
    assert part_lines, "coded scan lost its hive partitioning"
    assert any(
        "cell" in ln and " IN " in ln for ln in part_lines
    ), part_lines
    assert _rows(res) == _rows(ivf_knn(q, emb, k=3, n_probe=2, index=live))


def test_head_load_survives_version_holes(spark, tmp_path):
    """Crash sequences can leave HOLES in one table's version chain
    (e.g. a crashed re-train puts the model a version ahead, then an
    append dies between its coded and model commits). Head loads must
    pin to the newest version present in BOTH tables — min(heads) would
    name a version the coded table never committed and brick every
    default-version load."""
    from high_volume_market_data_pipeline_spark.similarity import (
        build_pq_index,
        load_index,
        save_index,
    )
    from high_volume_market_data_pipeline_spark.similarity.index_store import (
        _save_model_arrays,
    )
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    idx = build_pq_index(emb.limit(100), m_subspaces=8, n_codes=16)
    root = str(tmp_path / "pq")
    save_index(idx, root)  # paired v0

    # crashed re-train: model v1 committed, coded v1 never lands
    _save_model_arrays(
        spark, root, "PQ_MODEL", {"m_subspaces": 8, "n_codes": 16},
        codebooks=idx.codebooks,
    )
    # append that died between its coded commit (v2) and model pairing
    VersionedParquetTable(os.path.join(root, "coded")).append(
        spark.createDataFrame(
            [(999999, [0] * 8)], "neighbor_id long, pq_codes array<int>"
        ),
        "PQ_APPEND",
        version=2,
        parent_version=0,
    )
    # model versions {0,1}, coded versions {0,2}: newest PAIRED is 0
    loaded = load_index(spark, root)
    np.testing.assert_array_equal(loaded.codebooks, idx.codebooks)
    assert loaded.coded.count() == 100


def test_append_loads_paired_model_not_orphan(spark, tmp_path):
    """The APPENDER must resolve its model the way readers do — newest
    PAIRED version — never min(heads). In the version-hole state (crashed
    re-train leaves orphan model v1; crashed append leaves coded {0, 2}),
    min(heads)=1 selects the orphan: the append would encode its delta
    with codebooks never paired with the existing chain AND re-commit
    them as the paired model, silently corrupting every pre-existing
    code's decode from then on."""
    from high_volume_market_data_pipeline_spark.similarity import (
        append_to_index,
        build_pq_index,
        load_index,
        save_index,
    )
    from high_volume_market_data_pipeline_spark.similarity.index_store import (
        _paired_versions,
        _save_model_arrays,
    )
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    idx = build_pq_index(emb.filter("vec_id < 100"), m_subspaces=8, n_codes=16)
    root = str(tmp_path / "pq")
    save_index(idx, root)  # paired v0

    # crashed re-train: DIFFERENT codebooks at model v1, never paired
    orphan = np.roll(idx.codebooks, 1, axis=1)
    _save_model_arrays(
        spark, root, "PQ_MODEL", {"m_subspaces": 8, "n_codes": 16},
        codebooks=orphan,
    )
    # crashed append: coded v2 committed, its model pairing never landed
    VersionedParquetTable(os.path.join(root, "coded")).append(
        spark.createDataFrame(
            [(999999, [0] * 8)], "neighbor_id long, pq_codes array<int>"
        ),
        "PQ_APPEND",
        version=2,
        parent_version=0,
    )
    # model {0,1}, coded {0,2}: model loads at paired 0, merge base is the
    # coded head 2, CAS target clears both heads
    assert _paired_versions(root) == (0, 2, 3)

    append_to_index(
        spark, root,
        emb.filter("vec_id >= 100 and vec_id < 120"),
    )
    loaded = load_index(spark, root)
    # the orphan codebooks were never promoted to paired
    np.testing.assert_array_equal(loaded.codebooks, idx.codebooks)
    assert loaded.coded.count() == 121  # 100 base + crashed row + 20 new


@pytest.mark.parametrize("family", ["ivf", "ivf_pq"])
def test_stream_append_ivf_families_converge_on_replay(spark, tmp_path, family):
    """Streaming append parity for the IVF-partitioned families (the
    storage-pruned ones): arriving vectors are assigned to STORED
    centroids (residual-PQ-encoded for ivf_pq), committed as versioned
    CAS appends, and a full replay with a fresh checkpoint converges on
    the id anti-join — the same contract the PQ stream pins."""
    from high_volume_market_data_pipeline_spark.similarity import (
        build_ivf_index,
        build_ivf_pq_index,
        ivf_knn,
        ivf_pq_knn,
        load_index,
        save_index,
    )
    from high_volume_market_data_pipeline_spark.streaming.vector_ingest import (
        stream_append_index,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    seed = emb.filter("vec_id < 300")
    arriving = emb.filter("vec_id >= 300")
    n_total = emb.count()
    root = str(tmp_path / family)
    if family == "ivf":
        save_index(build_ivf_index(seed, n_cells=8), root)
    else:
        save_index(
            build_ivf_pq_index(seed, n_cells=8, m_subspaces=8, n_codes=16),
            root,
        )

    arrivals = str(tmp_path / "arrivals")
    arriving.repartition(2).write.parquet(arrivals)

    def run(ckpt):
        sdf = (
            spark.readStream.schema(arriving.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(arrivals)
        )
        stream_append_index(
            sdf, root, checkpoint=str(tmp_path / ckpt)
        ).awaitTermination()

    run("ckpt1")
    idx = load_index(spark, root)
    assert idx.coded.count() == n_total
    assert idx.coded.select("neighbor_id").distinct().count() == n_total
    # appended rows landed in stored cells only (no refit)
    cells = {r["cell"] for r in idx.coded.select("cell").distinct().collect()}
    assert cells <= set(range(8))

    run("ckpt2")  # replay from scratch: converges, no double-coding
    assert load_index(spark, root).coded.count() == n_total

    q5 = emb.filter("vec_id >= 300 and vec_id < 305")
    if family == "ivf":
        out = ivf_knn(q5, emb, k=3, n_cells=8, index=idx)
    else:
        out = ivf_pq_knn(
            q5, emb, k=3, n_cells=8, m_subspaces=8, n_codes=16, index=idx
        )
    assert out.count() == 5 * 3


def test_delete_lifecycle_tombstone_search_purge(spark, tmp_path):
    """FAISS remove_ids parity over the persisted store: delete → every
    search/load excludes the id (tombstone anti-join, O(deleted), no
    corpus rewrite) → purge_deleted physically drops the rows, preserves
    the hive layout, and resets the tombstones → re-appending a deleted
    id revives it."""
    from high_volume_market_data_pipeline_spark.similarity import (
        append_to_index,
        build_ivf_index,
        delete_from_index,
        load_index,
        purge_deleted,
    )
    from high_volume_market_data_pipeline_spark.similarity.index_store import (
        _tombstone_table,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    root = str(tmp_path / "ivf")
    idx = build_ivf_index(emb.filter("vec_id < 150"), n_cells=4)
    from high_volume_market_data_pipeline_spark.similarity import (
        save_index,
    )

    save_index(idx, root)
    n0 = load_index(spark, root).coded.count()

    # delete: loads exclude exactly those ids, rows stay on disk
    delete_from_index(spark, root, [3, 7, 11])
    loaded = load_index(spark, root)
    assert loaded.coded.count() == n0 - 3
    assert loaded.coded.filter("neighbor_id in (3, 7, 11)").count() == 0
    # repeat-delete is idempotent (id-deduped tombstones)
    delete_from_index(spark, root, [7, 11])
    assert _tombstone_table(root).read(spark).count() == 3

    # purge: rows physically dropped, partition layout preserved,
    # tombstones reset, model/coded still paired
    v = purge_deleted(spark, root)
    assert v is not None
    assert _tombstone_table(root).read(spark).count() == 0
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )

    coded_t = VersionedParquetTable(os.path.join(root, "coded"))
    head = coded_t._resolve(None, None)
    assert head.get("partition_by") == "cell"  # layout survived the purge
    raw = coded_t.read(spark)  # tombstone-free raw read
    assert raw.count() == n0 - 3
    assert raw.filter("neighbor_id in (3, 7, 11)").count() == 0
    loaded = load_index(spark, root)
    assert loaded.coded.count() == n0 - 3

    # delete again, then RE-APPEND one of the deleted ids while its rows
    # are still physical: the append is a no-op (the id counts as
    # existing — committing a second physical row would duplicate it on
    # revive) and the id stays deleted until a purge
    delete_from_index(spark, root, [5, 9])
    append_to_index(
        spark, root, emb.filter("vec_id = 5"), skip_existing_ids=True
    )
    loaded = load_index(spark, root)
    assert loaded.coded.filter("neighbor_id in (5, 9)").count() == 0
    assert _tombstone_table(root).read(spark).count() == 2

    # after a purge the id is re-insertable; its stale-free tombstone set
    # lets the new row surface exactly once
    purge_deleted(spark, root)
    append_to_index(
        spark, root, emb.filter("vec_id = 5"), skip_existing_ids=True
    )
    loaded = load_index(spark, root)
    assert loaded.coded.filter("neighbor_id = 5").count() == 1
    assert loaded.coded.filter("neighbor_id = 9").count() == 0

    # a tombstone naming an id with NO physical rows (never present in
    # the index) clears automatically when that id finally commits —
    # otherwise the fresh row would stay hidden forever
    delete_from_index(spark, root, [200])  # id 200 not in the index yet
    append_to_index(
        spark, root, emb.filter("vec_id = 200"), skip_existing_ids=True
    )
    assert _tombstone_table(root).read(spark).count() == 0
    loaded = load_index(spark, root)
    assert loaded.coded.filter("neighbor_id = 200").count() == 1

    # search path: a deleted id can never be returned as a neighbor
    from high_volume_market_data_pipeline_spark.similarity import ivf_knn

    q = emb.filter("vec_id < 3")
    res = ivf_knn(q, emb, k=5, n_cells=4, index=loaded)
    assert res.filter("neighbor_id = 9").count() == 0


def test_auto_purge_fires_on_tombstone_fraction(spark, tmp_path):
    """Tombstone maintenance amortized into the write path: when active
    tombstones cross _AUTO_PURGE_TOMBSTONE_FRACTION of the physical
    corpus, the NEXT append triggers purge_deleted automatically — the
    rows are physically dropped, the tombstone table's row_count is 0,
    and _active_tombstones short-circuits to None (no read + anti-join
    on every later search)."""
    from high_volume_market_data_pipeline_spark.similarity import (
        append_to_index,
        build_ivf_index,
        delete_from_index,
        load_index,
        save_index,
    )
    from high_volume_market_data_pipeline_spark.similarity.index_store import (
        _active_tombstones,
        _tombstone_table,
    )
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    root = str(tmp_path / "ap")
    save_index(build_ivf_index(emb.filter("vec_id < 40"), n_cells=4), root)

    dead_ids = list(range(10))  # 10/40 = 25% > 10% threshold
    delete_from_index(spark, root, dead_ids)
    assert _active_tombstones(spark, root) is not None

    # the next append crosses the threshold check and fires the purge
    append_to_index(
        spark, root, emb.filter("vec_id >= 40 and vec_id < 45"),
        skip_existing_ids=True,
    )
    n = _tombstone_table(root).row_count(spark)
    assert n == 0
    assert _active_tombstones(spark, root) is None  # metadata short-circuit
    raw = VersionedParquetTable(os.path.join(root, "coded")).read(spark)
    assert raw.filter("neighbor_id < 10").count() == 0  # physically gone
    loaded = load_index(spark, root)
    assert loaded.coded.count() == 35  # 40 - 10 deleted + 5 appended
    # deleted ids are re-insertable now (purged, tombstones cleared)
    append_to_index(
        spark, root, emb.filter("vec_id = 3"), skip_existing_ids=True
    )
    assert load_index(spark, root).coded.filter(
        "neighbor_id = 3"
    ).count() == 1


def test_small_tombstone_fraction_does_not_auto_purge(spark, tmp_path):
    """Below the threshold the append path leaves tombstones alone — the
    delete stays O(deleted ids) and no corpus rewrite sneaks into the
    hot append path."""
    from high_volume_market_data_pipeline_spark.similarity import (
        append_to_index,
        build_ivf_index,
        delete_from_index,
        save_index,
    )
    from high_volume_market_data_pipeline_spark.similarity.index_store import (
        _tombstone_table,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    root = str(tmp_path / "np")
    save_index(
        build_ivf_index(emb.filter("vec_id < 150"), n_cells=4), root
    )
    delete_from_index(spark, root, [1, 2])  # 2/150 ~ 1.3% < 10%
    append_to_index(
        spark, root, emb.filter("vec_id >= 150 and vec_id < 155"),
        skip_existing_ids=True,
    )
    n = _tombstone_table(root).row_count(spark)
    assert n == 2  # untouched


def test_concurrent_delete_survives_revive_rewrite(spark, tmp_path,
                                                   monkeypatch):
    """The lost-delete race: _clear_tombstones_for reads the tombstone
    set, and a concurrent delete_from_index commits before the REVIVE
    rewrite lands. The rewrite is CAS-pinned to the version it derived
    from, so the stale filtered set loses the race, re-derives against
    the new head, and the concurrent delete survives."""
    from high_volume_market_data_pipeline_spark.similarity import (
        append_to_index,
        build_ivf_index,
        delete_from_index,
        load_index,
        save_index,
    )
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    root = str(tmp_path / "race")
    save_index(
        build_ivf_index(emb.filter("vec_id < 150"), n_cells=4), root
    )
    # a tombstone for an id with NO physical rows: appending id 300 must
    # revive it (rewrite the tombstone set)
    delete_from_index(spark, root, [300])

    real_write = VersionedParquetTable.write
    state = {"injected": False}

    def hooked(self, df, operation="WRITE", parameters=None, **kw):
        if operation == "REVIVE_IDS" and not state["injected"]:
            state["injected"] = True
            # the concurrent delete wins the next version number
            delete_from_index(spark, root, [999])
        return real_write(self, df, operation, parameters, **kw)

    monkeypatch.setattr(VersionedParquetTable, "write", hooked)
    append_to_index(
        spark, root, emb.filter("vec_id = 300"), skip_existing_ids=True
    )
    monkeypatch.undo()

    assert state["injected"]
    from high_volume_market_data_pipeline_spark.similarity.index_store import (
        _active_tombstones,
    )

    alive = {r["neighbor_id"] for r in _active_tombstones(spark, root).collect()}
    assert 999 in alive  # the concurrent delete was NOT silently lost
    assert 300 not in alive  # the revive still landed
    assert load_index(spark, root).coded.filter(
        "neighbor_id = 300"
    ).count() == 1


def test_auto_purge_probe_is_metadata_only(spark, tmp_path, monkeypatch):
    """The threshold check on the hot append path must not scan the
    corpus: with tombstones active but below the fraction, a
    _maybe_auto_purge probe reads ZERO tables — tombstone count from the
    tombstone head manifest, corpus size from the coded head manifest's
    n_rows (recorded from parquet footers at commit time)."""
    from high_volume_market_data_pipeline_spark.similarity import (
        append_to_index,
        build_ivf_index,
        delete_from_index,
        save_index,
    )
    from high_volume_market_data_pipeline_spark.similarity.index_store import (
        _maybe_auto_purge,
    )
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    root = str(tmp_path / "meta")
    save_index(
        build_ivf_index(emb.filter("vec_id < 150"), n_cells=4), root
    )
    # every commit path records n_rows: the full save, then an append
    append_to_index(
        spark, root, emb.filter("vec_id >= 150 and vec_id < 160"),
        skip_existing_ids=True,
    )
    coded_t = VersionedParquetTable(os.path.join(root, "coded"))
    head = coded_t._resolve(None, None)
    assert head.get("n_rows") == coded_t.read(spark).count() == 160

    delete_from_index(spark, root, [1, 2])  # 2/160 ~ 1.3% < 10%

    reads: list[str] = []
    real_read = VersionedParquetTable.read

    def spying(self, *a, **kw):
        reads.append(self.root)
        return real_read(self, *a, **kw)

    monkeypatch.setattr(VersionedParquetTable, "read", spying)
    assert _maybe_auto_purge(spark, root) is None
    monkeypatch.undo()
    assert reads == []  # no Spark scan job — manifest probes only


def test_purge_reset_race_retries_against_new_head(spark, tmp_path,
                                                   monkeypatch):
    """purge_deleted's two commits are not one transaction: the purged
    coded snapshot can land and then the PURGE_RESET tombstone write lose
    its CAS to a concurrent delete_from_index. The reset must re-derive
    against the new head — (new head ids minus the just-purged set) with
    a corrected row count — so the already-purged ids stop counting
    (no auto-purge re-fire loop) while the racer's fresh delete
    survives."""
    from high_volume_market_data_pipeline_spark.similarity import (
        append_to_index,
        build_ivf_index,
        delete_from_index,
        load_index,
        purge_deleted,
        save_index,
    )
    from high_volume_market_data_pipeline_spark.similarity.index_store import (
        _active_tombstones,
        _tombstone_table,
    )
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    root = str(tmp_path / "resetrace")
    save_index(
        build_ivf_index(emb.filter("vec_id < 150"), n_cells=4), root
    )
    delete_from_index(spark, root, [3, 7, 11])

    real_write = VersionedParquetTable.write
    state = {"injected": False}

    def hooked(self, df, operation="WRITE", parameters=None, **kw):
        if operation == "PURGE_RESET" and not state["injected"]:
            state["injected"] = True
            # the concurrent delete commits first and takes the version
            # number the reset derived (tomb head + 1)
            delete_from_index(spark, root, [999])
        return real_write(self, df, operation, parameters, **kw)

    monkeypatch.setattr(VersionedParquetTable, "write", hooked)
    v = purge_deleted(spark, root)
    monkeypatch.undo()
    assert state["injected"]
    assert v is not None

    # corrected count: ONLY the racer's id remains tombstoned
    n = _tombstone_table(root).row_count(spark)
    assert n == 1
    alive = {
        r["neighbor_id"] for r in _active_tombstones(spark, root).collect()
    }
    assert alive == {999}
    # the purged ids are physically gone AND re-insertable (not hidden by
    # stale tombstones that would also re-fire auto-purge rewrites)
    raw = VersionedParquetTable(os.path.join(root, "coded")).read(spark)
    assert raw.filter("neighbor_id in (3, 7, 11)").count() == 0
    append_to_index(
        spark, root, emb.filter("vec_id = 3"), skip_existing_ids=True
    )
    assert load_index(spark, root).coded.filter(
        "neighbor_id = 3"
    ).count() == 1


def test_append_model_pairing_and_load_are_metadata_only(spark, tmp_path):
    """r12 optimization contract for the append hot path: (a) the model
    pairing commit is a manifest-only commit_ref — the paired model
    version references the SAME data dirs as the trained model, nothing
    is rewritten; (b) _load_model_arrays reads those parquet files with
    driver-side pyarrow — zero Spark jobs — and returns arrays identical
    to a Spark read of the same table."""
    import numpy as np

    from high_volume_market_data_pipeline_spark.similarity import (
        build_pq_index,
        save_index,
        append_to_index,
    )
    from high_volume_market_data_pipeline_spark.similarity.index_store import (
        _load_model_arrays,
    )
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )
    emb = load_table(spark, SF_DIR, "embeddings")
    root = str(tmp_path / "pairing")
    save_index(build_pq_index(emb.filter("vec_id < 150"), n_codes=8), root)
    v = append_to_index(
        spark, root, emb.filter("vec_id >= 150 and vec_id < 170")
    )
    model_t = VersionedParquetTable(os.path.join(root, "model"))
    m0 = model_t._resolve(0, None)
    mv = model_t._resolve(v, None)
    # (a) pairing commit references the trained model's files verbatim
    assert mv["data_dirs"] == m0["data_dirs"]
    assert mv["operation"] == "PQ_APPEND"

    # (b) pyarrow load: no Spark job, content identical to the Spark read
    j0 = job_mark(spark)
    _, codebooks = _load_model_arrays(spark, root, v)
    assert job_mark(spark) == j0  # driver-side metadata/footer reads only
    rows = model_t.read(spark, version=v).collect()
    cb_rows = sorted(
        ((r["i"], r["j"], r["vec"]) for r in rows if r["part"] == "codebook")
    )
    want = np.empty_like(codebooks)
    for i, j, vec in cb_rows:
        want[i, j] = vec
    assert np.array_equal(codebooks, want)
    # the loaded pair still searches: coded head has both slices
    coded = VersionedParquetTable(os.path.join(root, "coded"))
    assert coded.row_count(spark) == 170


def test_tombstone_row_count_tracks_every_mutation(spark, tmp_path):
    """The tombstone table holds each deleted id once, so its row_count
    (the manifest's n_rows, no Spark job) is the active-tombstone count
    after a delete, a repeated delete, a revive and a purge-reset — and
    no tombstone commit records the count a second time."""
    from high_volume_market_data_pipeline_spark.similarity import (
        append_to_index,
        build_ivf_index,
        delete_from_index,
        purge_deleted,
        save_index,
    )
    from high_volume_market_data_pipeline_spark.similarity.index_store import (
        _tombstone_table,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    root = str(tmp_path / "tc")
    save_index(build_ivf_index(emb.filter("vec_id < 150"), n_cells=4), root)
    t = _tombstone_table(root)

    def check(expected: int) -> None:
        j0 = job_mark(spark)
        n = t.row_count(spark)
        assert job_mark(spark) == j0
        assert n == t.read(spark).count() == expected

    delete_from_index(spark, root, [3, 7, 11, 200])
    check(4)
    delete_from_index(spark, root, [7, 11, 12])  # repeated ids dedup
    check(5)
    # revive: id 200 has no physical rows, so its commit clears it
    append_to_index(
        spark, root, emb.filter("vec_id = 200"), skip_existing_ids=True
    )
    check(4)
    purge_deleted(spark, root)  # PURGE_RESET
    check(0)
    assert all(
        "n_tombstones" not in r["parameters"] for r in t.history(spark).collect()
    )
