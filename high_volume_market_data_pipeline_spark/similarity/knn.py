"""Exact and approximate nearest-neighbor search over an embedding column.

Every search runs ONE pipeline (``_search``): collect the query batch on
the driver (ids + row-normalized matrix, model-scale like the codebooks
and centroids), let the family's CANDIDATE STAGE emit scored
(query_id, neighbor_id, _score) rows, and rank the global top-k
(``_rank_topk``). Candidate rows ship one query-id long, never a query
vector: the query matrix rides the task closure of the shared scorers —

- ``_scan_topr``: one Arrow scan over the index, scoring every query
  against each batch and keeping only the batch's top-r per query;
- ``_qid_score``: a per-row pandas UDF that looks each row's query up by
  id (exact cosine via ``_exact_cosine``, or the IVF-PQ ADC score).

The families differ only in their candidate stage:

- ``brute_force_knn``: every corpus row (dense scan), or the SQL-exact
  expression crossJoin whose cosines the oracle hashes;
- ``lsh_bucketed_knn``: sign-LSH buckets, multi-probe, OR over tables;
- ``ivf_knn``: the probed k-means cells (``_cell_candidates``);
- ``pq_knn``: an ADC scan over PQ codes, then ``_rerank`` (shortlist →
  exact cosine on full vectors);
- ``ivf_pq_knn``: probed cells scored by residual ADC, then ``_rerank``.

Index builds share the one Lloyd loop (``_lloyd``) and the one encode
rule (``_encode``: nearest-centroid cell, PQ code, or both on the cell
residual), also run by the index_store append so build and append place
and code a vector identically.
Unit vectors have one rule, numpy ``_normalize_rows``, on every fit,
build, append and query path: the Spark-expression form measured no
faster on the builds, and as the input of the assignment pandas UDF on
the append path it does not plan at all (Spark 4.1 INTERNAL_ERROR).
Hyperplanes are derived deterministically from md5 (seeded), so results
are reproducible run-to-run and testable without a stored model.
"""

from __future__ import annotations

import hashlib

from typing import NamedTuple

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from high_volume_market_data_pipeline_spark.functions.vectors import (
    as_double,
    cosine_similarity,
)


_MAX_CLOSURE_QUERIES = 100_000
# Bound on any single in-flight (query-chunk × corpus-batch) float64 score
# matrix inside a closure kernel. The scans chunk the query matrix so that
# nq_chunk · batch_rows · 8 bytes never exceeds this, whatever the admitted
# query count — without it, 100k queries × a 10k-row Arrow batch would
# materialize an ~8 GB matrix per in-flight task.
_CLOSURE_BUDGET_BYTES = 128 << 20


def _build_vector_kernels():
    """The numpy helpers every executor-shipped kernel in this family
    calls, built as <locals> closures so cloudpickle ships their BODIES
    into the UDF, Arrow-scan and grouped-map closures (the NOTES
    cwd-portability rule: a module-level def pickles by reference and
    Python workers — which inherit the driver cwd — would have to
    re-import this repo package). They may reference only numpy/pandas
    and closure constants."""
    budget_default = _CLOSURE_BUDGET_BYTES

    def _normalize_rows(X: np.ndarray) -> np.ndarray:
        n = np.linalg.norm(X, axis=1, keepdims=True)
        n[n == 0.0] = 1.0
        return X / n

    def _query_chunks(nq: int, batch_rows: int, budget: int | None = None):
        """Yield (start, stop) query-row slices sized so a (chunk,
        batch_rows) float64 matrix stays under the byte budget (default
        _CLOSURE_BUDGET_BYTES, frozen into the closure at import).
        ``budget`` is an explicit parameter so a caller-chosen value
        rides the closure to the workers (the chunk-identity test
        relies on this)."""
        if budget is None:
            budget = budget_default
        chunk = max(1, budget // (max(1, batch_rows) * 8))
        for s in range(0, nq, chunk):
            yield s, min(nq, s + chunk)

    def _per_batch_topr(
        qids: "np.ndarray",
        ids: "np.ndarray",
        S: "np.ndarray",
        r: int,
    ):
        """Deterministic per-batch top-r per query from a (nq, B) score
        matrix: order by (-score, neighbor_id) — the same tie rule as the
        global rank window, so the batch-level cut can never drop a row
        the global cut would have kept. -inf scores (masked self-pairs)
        never emit. Returns (query_id, neighbor_id, score) flat arrays.

        One vectorized argpartition prunes each row to its top-r score
        tier (plus every boundary tie, so the id tie rule stays exact);
        the per-query lexsort then runs over ~r candidates, not the full
        batch — the old full-row lexsort loop was O(nq · B log B) and
        dominated at large query counts."""
        r = min(r, S.shape[1])
        n, B = S.shape
        kth = min(r - 1, B - 1)
        part = np.argpartition(-S, kth, axis=1)[:, : kth + 1]
        thresh = S[np.arange(n)[:, None], part].min(axis=1)
        qs, ns, cs = [], [], []
        for qi in range(n):
            t = thresh[qi]
            if np.isfinite(t):
                cand = np.nonzero(S[qi] >= t)[0]
            else:  # fewer than r finite scores in the row
                cand = np.nonzero(np.isfinite(S[qi]))[0]
            sel = cand[np.lexsort((ids[cand], -S[qi][cand]))][:r]
            qs.append(np.full(len(sel), qids[qi], dtype=np.int64))
            ns.append(ids[sel])
            cs.append(S[qi][sel])
        return np.concatenate(qs), np.concatenate(ns), np.concatenate(cs)

    def _lloyd(X: np.ndarray, init: np.ndarray, iters: int) -> np.ndarray:
        """Lloyd k-means from the caller's initial centers — the one loop
        behind the IVF coarse quantizer (driver) and every PQ subspace
        (executor). Cross-term distances: ‖x‖² is loop-invariant, so each
        iteration is one (n, k) matrix — the naive (X[:,None]−cent)²
        broadcast materializes (n, k, d). The clusters an assignment
        leaves empty are reseeded farthest-first to DISTINCT points (a
        stable argsort over each point's distance to its nearest
        center), so two empty clusters never collapse onto one point."""
        cent = init.copy()
        x2 = (X**2).sum(axis=1)
        for _ in range(iters):
            d2 = x2[:, None] + (cent**2).sum(axis=1)[None, :] - 2.0 * (X @ cent.T)
            assign = d2.argmin(axis=1)
            empty = []
            for ci in range(len(cent)):
                members = X[assign == ci]
                if len(members):
                    cent[ci] = members.mean(axis=0)
                else:
                    empty.append(ci)
            if empty:
                far = np.argsort(-d2.min(axis=1), kind="stable")
                cent[empty] = X[far[: len(empty)]]
        return cent

    return _normalize_rows, _query_chunks, _per_batch_topr, _lloyd


_normalize_rows, _query_chunks, _per_batch_topr, _lloyd = _build_vector_kernels()


def _corpus(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """The (neighbor_id, cv double[]) frame every index and scan reads."""
    return df.select(
        F.col(id_col).alias("neighbor_id"), as_double(F.col(vec_col)).alias("cv")
    )


def _query_matrix(q: DataFrame) -> tuple["np.ndarray", "np.ndarray"]:
    """Collect a (id, vector) query BATCH to the driver as (ids,
    row-normalized float64 matrix) — model-scale metadata, exactly like
    the ANN codebooks and k-means centroids the index builds already
    collect. The payoff of the closure kernels: a candidate row ships ONE
    int64 query id instead of a 64-double query vector (the crossJoin
    form measured ~4 GB of duplicated qv at the 200k×40 tier). Guarded
    so nobody points it at a query TABLE.

    Requires an INTEGRAL, UNIQUE id column: every closure path keys
    scores by int64 query id (``searchsorted`` lookups and int equality
    against corpus ids), so string/float ids and duplicate ids — which
    the old crossJoin forms tolerated — are rejected here with a clear
    error instead of silently truncating or collapsing."""
    rows = q.collect()
    if len(rows) > _MAX_CLOSURE_QUERIES:
        raise ValueError(
            f"{len(rows)} queries exceed the closure-kernel bound "
            f"({_MAX_CLOSURE_QUERIES}); run the query set in batches"
        )
    raw_ids = [r[0] for r in rows]
    for v in raw_ids:
        if not isinstance(v, (int, np.integer)):
            raise TypeError(
                "closure-kernel kNN requires an integral id column; got "
                f"{type(v).__name__} ({v!r}). Cast ids to long (or use the "
                "non-vectorized crossJoin path, which accepts any id type)."
            )
    qids = np.asarray(raw_ids, dtype=np.int64)
    if len(np.unique(qids)) != len(qids):
        raise ValueError(
            "duplicate query ids in closure-kernel kNN: id-keyed score "
            "lookup would silently collapse duplicates to one vector; "
            "deduplicate the query set first"
        )
    mat = np.asarray([r[1] for r in rows], dtype=np.float64)
    return qids, _normalize_rows(mat)


def _rank_topk(cand: DataFrame, k: int) -> DataFrame:
    """Global (query_id, -_score, neighbor_id) rank over a candidate frame
    that is already pruned per batch or per probe — rows entering the
    shuffle are O(candidates), never corpus × queries. Also the PQ
    families' ADC shortlist cut (same tie rule)."""
    w = Window.partitionBy("query_id").orderBy(F.desc("_score"), "neighbor_id")
    return (
        cand.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("_score"), 6).alias("cosine"),
            "knn_rank",
        )
    )


def _search(queries: DataFrame, k: int, id_col: str, vec_col: str, candidates):
    """The one search pipeline: driver query batch → the family's
    ``candidates(qids, Q)`` stage (scored (query_id, neighbor_id, _score)
    rows) → global top-k. An empty batch returns the empty result
    without planning the candidate stage."""
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    qids, Q = _query_matrix(q)
    if len(qids) == 0:
        return q.sparkSession.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, knn_rank int"
        )
    return _rank_topk(candidates(qids, Q), k)


def _scan_topr(
    index: DataFrame,
    qids: "np.ndarray",
    r: int,
    batch_scorer,
    live_matrices: int = 1,
    budget_bytes: int | None = None,
) -> DataFrame:
    """The scan scorer: one Arrow pass over ``index`` (neighbor_id +
    payload columns) that scores EVERY query against each Arrow batch and
    emits only the batch's top-``r`` per query, so nothing corpus ×
    queries is materialized or shuffled. ``batch_scorer(pdf)`` returns
    ``score(s, e)`` → the (e−s, B) score matrix of query rows s:e.
    Queries are chunked so each in-flight matrix stays under the byte
    budget; ``live_matrices`` is how many (chunk, B) matrices the
    scorer holds live at once."""
    import pyarrow as pa

    def scan(batches):
        for b in batches:
            pdf = b.to_pandas()
            if not len(pdf):
                continue
            ids = pdf["neighbor_id"].to_numpy().astype(np.int64)
            score = batch_scorer(pdf)
            rows = live_matrices * len(ids)
            for s, e in _query_chunks(len(qids), rows, budget_bytes):
                S = score(s, e)
                S[qids[s:e, None] == ids[None, :]] = -np.inf  # self-pairs
                qa, na, ca = _per_batch_topr(qids[s:e], ids, S, r)
                yield pa.RecordBatch.from_pydict(
                    {"query_id": qa, "neighbor_id": na, "_score": ca}
                )

    # ids declared NOT NULL (the scan never emits a null): otherwise a
    # join above infers null-guard filters on one use of a search frame
    # and not on another (result vs its recall twin), and the two copies
    # stop sharing one reused exchange — two extra Spark jobs per query.
    return index.mapInArrow(
        scan, "query_id long not null, neighbor_id long not null, _score double"
    )


def _qid_score(qids: "np.ndarray", score, *cols) -> F.Column:
    """The row scorer: a pandas UDF over (query_id, *cols) that maps each
    row's query id to its row in the driver batch (one searchsorted per
    Arrow batch) and returns ``score(idx, *col_series)``."""
    from pyspark.sql.functions import pandas_udf

    order = np.argsort(qids)
    sorted_ids = qids[order]

    @pandas_udf("double")
    def _by_qid(qid: pd.Series, *vals: pd.Series) -> pd.Series:
        idx = order[np.searchsorted(sorted_ids, qid.to_numpy().astype(np.int64))]
        return pd.Series(score(idx, *vals))

    return _by_qid(F.col("query_id"), *cols)


def _exact_cosine(qids: "np.ndarray", Q: "np.ndarray") -> F.Column:
    """Exact cosine of each row's ``cv`` against its query (float64 sum
    order differs from the expression fold only in last-ulp digits —
    ranking-safe; only brute_force_knn's default path is hash-gated)."""
    return _qid_score(
        qids,
        lambda idx, cv: np.einsum(
            "bd,bd->b",
            Q[idx],
            _normalize_rows(np.asarray(cv.tolist(), dtype=np.float64)),
        ),
        F.col("cv"),
    )


def _probe_join(
    index: DataFrame, probes: DataFrame, keys, score: F.Column
) -> DataFrame:
    """Candidate pairs of a probe-table family: the index rows sharing a
    key with the driver-built (broadcast) probe rows, self-pairs dropped,
    scored by ``score``."""
    return (
        index.join(F.broadcast(probes), keys)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id", score.alias("_score"))
    )


def _cell_candidates(
    coded: DataFrame,
    qids: "np.ndarray",
    Q: "np.ndarray",
    centroids: "np.ndarray",
    n_probe: int,
    score: F.Column,
) -> DataFrame:
    """The IVF families' candidate stage: probe each query's ``n_probe``
    nearest cells on the DRIVER (deterministic (d2, cell) order), then
    join the cell-keyed index to the probe rows. A vector lives in
    exactly ONE cell, so the (query, neighbor) pairs are unique.

    The probed-cell set is known driver-side, so it is also pushed as a
    STATIC IN-filter ahead of the join: on a persisted index (coded table
    hive-partitioned by cell — index_store.save_index) this becomes a
    PartitionFilter at the scan and unprobed cells are never read — the
    storage regime where growing n_cells genuinely pays (see ivf_knn's
    sizing rule). Logically redundant with the equi-join; harmless on an
    in-RAM localCheckpoint. (Spark's dynamic partition pruning does NOT
    fire here: the probe side is a local relation with no selective scan
    predicate, so we prune statically.)"""
    d2 = ((Q[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    cells_ix = np.arange(centroids.shape[0])
    probe_rows = [
        (int(qids[qi]), int(cell))
        for qi in range(len(qids))
        for cell in np.lexsort((cells_ix, d2[qi]))[:n_probe]
    ]
    probed = coded.sparkSession.createDataFrame(
        probe_rows, "query_id long, cell int"
    )
    coded = coded.filter(F.col("cell").isin(sorted({c for _, c in probe_rows})))
    return _probe_join(coded, probed, "cell", score)


def _rerank(
    adc: DataFrame,
    refine: int,
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    qids: "np.ndarray",
    Q: "np.ndarray",
) -> DataFrame:
    """The PQ families' shared tail: cut each query's ADC candidates to a
    ``refine`` shortlist, then re-score it exactly against the full
    vectors — only refine·|queries| full-vector rows are read."""
    shortlist = _rank_topk(adc, refine).select("query_id", "neighbor_id")
    return shortlist.join(_corpus(corpus, id_col, vec_col), "neighbor_id").select(
        "query_id", "neighbor_id", _exact_cosine(qids, Q).alias("_score")
    )


def brute_force_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    vectorized: bool = False,
    budget_bytes: int | None = None,
) -> DataFrame:
    """Exact top-k: (query_id, neighbor_id, cosine, knn_rank), excluding
    self-matches; rank ties broken by neighbor id (deterministic).

    ``vectorized=True`` makes the candidate stage a dense ``_scan_topr``
    over the CORPUS ONLY with the normalized query matrix as a task
    closure: one (nq, B) matmul per Arrow batch, per-batch top-k, then a
    global rank over nq·k·n_batches rows. Nothing corpus×queries is ever
    materialized — the crossJoin form shipped every candidate row with
    its 64-double query vector (~4 GB duplicated at 200k×40) and shuffled
    the full score table into the rank window. Much faster, but numpy's
    float64 sum order differs from the expression fold in last-ulp
    digits, so use it ONLY where cosine VALUES are not driver-hashed (the
    recall twins inside the ANN queries); the default expression scorer
    stays bit-identical to the SQL oracle."""
    c = _corpus(corpus, id_col, vec_col)
    if vectorized:

        def candidates(qids, Q):
            def dense(pdf):
                Xt = _normalize_rows(
                    np.asarray(pdf["cv"].tolist(), dtype=np.float64)
                ).T
                return lambda s, e: Q[s:e] @ Xt  # cosine of normalized rows

            return _scan_topr(c, qids, k, dense, budget_bytes=budget_bytes)

        return _search(queries, k, id_col, vec_col, candidates)
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double(F.col(vec_col)).alias("qv")
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine_similarity(F.col("qv"), F.col("cv")).alias("_score"),
        )
    )
    return _rank_topk(scored, k)


def _hyperplane(dim: int, plane: int, seed: int = 42) -> list[float]:
    """Deterministic pseudo-random unit-ish hyperplane from md5 bytes."""
    vals: list[float] = []
    i = 0
    while len(vals) < dim:
        h = hashlib.md5(f"{seed}:{plane}:{i}".encode()).digest()
        for byte in h:
            vals.append((byte - 127.5) / 127.5)
            if len(vals) == dim:
                break
        i += 1
    return vals


def random_hyperplane_buckets(
    df: DataFrame,
    vec_col: str = "embedding",
    n_planes: int = 8,
    dim: int | None = 64,
    seed: int = 42,
    out_col: str = "bucket",
) -> DataFrame:
    """Append a sign-LSH bucket key: bit p = 1 iff v·hyperplane_p ≥ 0.

    ``dim`` must match the vector length: hyperplanes are fixed-length
    literal arrays, and a mismatch makes every zip_with dot product NULL —
    which would silently collapse all rows into bucket 0 and turn the
    downstream block join into an all-pairs quadratic. Pass ``dim=None``
    to probe the first row's vector length (one cheap job), and any row
    whose vector length differs from ``dim`` fails loudly at runtime
    instead of mis-bucketing."""
    if dim is None:
        head = df.select(F.size(F.col(vec_col)).alias("d")).first()
        if head is None or head["d"] is None:
            dim = 1  # empty input: any plane length works, no rows to bucket
        else:
            dim = int(head["d"])
    v = as_double(F.col(vec_col))
    bits = []
    for p in range(n_planes):
        plane = F.array(*[F.lit(x) for x in _hyperplane(dim, p, seed)])
        d = F.aggregate(
            F.zip_with(v, plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bits.append(F.when(d >= 0, F.lit(1 << p)).otherwise(F.lit(0)))
    # n_planes=0 (auto_planes on a corpus under target) = one bucket: the
    # blocked join degrades to the honest small-corpus quadratic.
    key = F.lit(0)
    for b in bits:
        key = key + b
    guarded = F.when(F.size(F.col(vec_col)) == dim, key.cast("int")).otherwise(
        F.raise_error(
            F.format_string(
                "sign-LSH dim mismatch: hyperplanes are %d-dim but vector has "
                "%d elements", F.lit(dim), F.size(F.col(vec_col)),
            )
        ).cast("int")
    )
    return df.withColumn(out_col, guarded)


def auto_planes(
    n: int, target_bucket_rows: int = 64, max_planes: int = 12
) -> int:
    """Sign-LSH plane count sized from the corpus: the smallest p with
    target_bucket_rows · 2^p ≥ n (capped at ``max_planes``), so expected
    bucket occupancy n/2^p stays ≤ target as the corpus grows — each
    extra plane halves it, keeping the per-bucket quadratic flat instead
    of letting a fixed plane count go n² (measured 15.4× on 10× data at
    planes=2, BASELINE.md). Pure integer shifts — no log2 floats whose
    last-ULP could make a SQL-oracle twin disagree at tier boundaries;
    the oracle computes the identical rule as MIN(p) over a range scan.
    The recall trade is the standard single-table sign-LSH one (a
    true-pair survives with P(agree)^p); recover recall at high p with
    the OR-construction (lsh_bucketed_knn's n_tables), not fewer planes."""
    p = 0
    while p < max_planes and (target_bucket_rows << p) < n:
        p += 1
    return p


def random_projection(
    df: DataFrame,
    vec_col: str = "embedding",
    out_dim: int = 8,
    dim: int = 64,
    seed: int = 101,
    prefix: str = "p",
    quantize: float = 1e6,
) -> DataFrame:
    """Johnson–Lindenstrauss-style random projection: append ``out_dim``
    scalar columns ``p0..p{out_dim-1}``, component j = v · plane_j over
    md5-derived deterministic planes (the dense cousin of the sign-LSH
    bucketing above — keep the magnitudes instead of the sign bits). The
    standard cheap dimensionality reduction before ANN indexing or
    clustering: distances are preserved within (1±ε) w.h.p., and an 8-d
    float row is ~8× less shuffle than the 64-d original.

    Components are emitted as SCALAR columns, not an array — the driver
    hash forbids array cells (registry.assert_driver_safe_schema) — and
    floor-quantized at ``quantize`` (pure IEEE ops, bit-identical across
    engines). The dot product is the sequential expression fold, NOT a
    numpy batch: its summation order matches the SQL oracle term by term
    (the vectorized path's pairwise sums differ in last-ulp digits; see
    the scorer note in lsh_bucketed_knn)."""
    v = as_double(F.col(vec_col))
    out = df
    for j in range(out_dim):
        plane = F.array(*[F.lit(x) for x in _hyperplane(dim, j, seed)])
        d = F.aggregate(
            F.zip_with(v, plane, lambda x, y: x * y),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        out = out.withColumn(
            f"{prefix}{j}", F.floor(d * quantize) / quantize
        )
    return out


def lsh_bucketed_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_planes: int | None = None,
    dim: int = 64,
    seed: int = 42,
    multi_probe: bool = True,
    n_tables: int = 4,
) -> DataFrame:
    """Approximate top-k: score only candidates sharing an LSH bucket.

    Two standard recall mechanisms compose here:

    - Multi-probe: each query also probes every 1-bit-flip neighbor bucket
      within a table, trading (n_planes+1)× candidate fan-out for boundary
      misses — without touching the corpus-side layout.
    - OR-construction (``n_tables`` independent hash tables, each with its
      own hyperplane set): a true neighbor is missed only if EVERY table
      separates it, so P(miss) drops exponentially in n_tables — the
      banding trick MinHash-LSH uses, applied to sign-LSH.

    Measured on unstructured random vectors (the worst case — no cluster
    structure for the hyperplanes to exploit): recall@5 ≈ 0.43 with one
    table, 0.70 with two, 0.95 with the default four
    (test_dedup_similarity.py pins a ≥0.8 floor). Clustered real embeddings do
    much better. Cost model per query: candidates ≈
    n_tables · (n_planes+1) · n/2^n_planes — raise n_planes as the corpus
    grows (keeping per-bucket lists small) and spend the savings on tables.
    Each table is one bucket-keyed equi-join; only (query_id, neighbor_id,
    score) triples cross the dedup shuffle, never the vectors.
    """
    if n_planes is None:
        # default = the scale-safe rule, not a constant: one plane per
        # corpus doubling past 1024 rows/bucket. At 200k vectors the old
        # fixed 4-plane default produced 12.5k-row buckets and ran SLOWER
        # than brute force (56s vs 41s, BENCH_ANN_TIER); auto-planes (8)
        # ran it in 9s at equal recall. Small corpora resolve to 1 plane
        # — with multi-probe both buckets are probed, so the degenerate
        # config is the honest full scan (floor 1, not 0: the bucketing
        # matmul needs at least one hyperplane row).
        n_planes = max(
            1,
            auto_planes(corpus.count(), target_bucket_rows=1024, max_planes=12),
        )
    # All tables resolve in ONE pass: every row gets its per-table bucket
    # (distinct hyperplane sets via shifted seeds), the (table, bucket)
    # pairs explode into a composite join key, and a single bucket-keyed
    # equi-join replaces the old per-table join+union — one corpus scan
    # and one join instead of n_tables of each (measured 2x+ on the
    # registered query), with the identical candidate set.
    tables = max(1, n_tables)
    # All tables' buckets come from ONE Arrow-vectorized matmul per batch:
    # sign-LSH is a dense (n, dim) x (dim, tables*planes) product, which
    # interpreted HOF lambdas evaluate element-by-element (~16x64 tree
    # walks PER ROW — Spark never codegens lambda bodies; measured ~6 s on
    # 20k x 64 at 4 tables) and numpy does in microseconds. Sign ties at
    # exactly 0.0 could differ from the fold-order expression form, but
    # md5-derived planes dotted with real data hit 0.0 with measure-zero
    # probability, and this path is recall-graded, not hash-gated (the
    # hash-gated embedding_near_dup keeps the expression/oracle pair in
    # random_hyperplane_buckets).
    from pyspark.sql.functions import pandas_udf

    planes_m = np.array(
        [
            _hyperplane(dim, p, seed + 7919 * t)
            for t in range(tables)
            for p in range(n_planes)
        ],
        dtype=np.float64,
    )  # (tables*planes, dim)
    weights = (1 << np.arange(n_planes)).astype(np.int64)

    @pandas_udf("array<int>")
    def _all_buckets(v: pd.Series) -> pd.Series:
        a = np.asarray(v.tolist(), dtype=np.float64)
        if a.ndim != 2 or a.shape[1] != dim:
            raise ValueError(
                f"sign-LSH dim mismatch: hyperplanes are {dim}-dim but got "
                f"vectors of shape {a.shape}"
            )
        bits = (a @ planes_m.T) >= 0  # (n, tables*planes)
        buckets = bits.reshape(len(a), tables, n_planes) @ weights
        return pd.Series(buckets.astype(np.int32).tolist())

    def candidates(qids, Q):
        c = _corpus(corpus, id_col, vec_col).withColumn(
            "_bkts", _all_buckets(F.col("cv"))
        )
        c_keys = [
            F.struct(F.lit(t).alias("tbl"), F.col("_bkts")[t].alias("bucket"))
            for t in range(tables)
        ]
        c = c.select(
            "neighbor_id", "cv", F.explode(F.array(*c_keys)).alias("_tb")
        ).select("neighbor_id", "cv", "_tb.tbl", "_tb.bucket")
        q_keys = []
        for t in range(tables):
            base = F.col("_bkts")[t]
            q_keys.append(F.struct(F.lit(t).alias("tbl"), base.alias("bucket")))
            if multi_probe:
                q_keys += [
                    F.struct(
                        F.lit(t).alias("tbl"),
                        base.bitwiseXOR(F.lit(1 << p)).alias("bucket"),
                    )
                    for p in range(n_planes)
                ]
        q = queries.select(
            F.col(id_col).alias("query_id"),
            _all_buckets(as_double(F.col(vec_col))).alias("_bkts"),
        ).select("query_id", F.explode(F.array(*q_keys)).alias("_tb"))
        q = q.select("query_id", "_tb.tbl", "_tb.bucket")
        # Score BEFORE deduping: a duplicate candidate costs one extra
        # vectorized dot map-side, but deduping first would push the
        # vectors themselves through the dropDuplicates shuffle — only
        # (query_id, neighbor_id, _score) triples may cross it.
        return _probe_join(
            c, q, ["tbl", "bucket"], _exact_cosine(qids, Q)
        ).dropDuplicates(["query_id", "neighbor_id"])

    return _search(queries, k, id_col, vec_col, candidates)


class IVFIndex(NamedTuple):
    """A built IVF index: unit-space cell centroids plus the materialized
    inverted lists (neighbor_id, cv, cell). Build ONCE, search many."""

    centroids: "np.ndarray"
    coded: DataFrame


def _fit_sample(
    df: DataFrame,
    id_col: str,
    fit_fraction: float | None,
    auto_target: int | None,
    n_rows: int | None = None,
    probe_empty: bool = True,
) -> DataFrame:
    """Training input for a quantizer fit — the one sampling discipline
    every index builder shares (FAISS ``max_points_per_centroid``). An
    explicit ``fit_fraction`` wins; otherwise sample down to
    ~``auto_target`` rows (``None`` disables auto-sampling; the count is
    one column-pruned pass, negligible next to the Lloyd iterations it
    saves). Deterministic md5-bucket sample so fits are reproducible
    across runs and appends; a sample that comes back EMPTY (tiny
    corpus) falls back to the full input, because an empty training set
    would silently fit an all-zero model. ``n_rows`` — the caller's known
    row count — skips the sizing count() when provided (r12: a composed
    builder like build_ivf_pq_index derives several 1:1 frames from one
    corpus and was paying one count job per fit; the fraction decision is
    identical as long as the count is). ``probe_empty=False`` skips the
    one-job empty-sample probe — pass it when the CALLER materializes
    the sample anyway (a driver-side fit collects it) and can apply the
    empty-fallback itself (r13: the probe was ~0.15 s per fit)."""
    if fit_fraction is None and auto_target is not None:
        n = df.count() if n_rows is None else n_rows
        if n > auto_target:
            fit_fraction = auto_target / n
    if fit_fraction is not None and 0.0 < fit_fraction < 1.0:
        from high_volume_market_data_pipeline_spark.operators.sampling import (
            hash_bucket,
        )

        n_buckets = 10_000
        bound = max(1, int(round(fit_fraction * n_buckets)))
        sampled = df.filter(
            hash_bucket(F.col(id_col).cast("string"), n_buckets) < bound
        )
        if probe_empty and sampled.limit(1).count() == 0:
            return df
        return sampled
    return df


def _fit_coarse(
    c: DataFrame,
    n_cells: int,
    seed: int,
    fit_fraction: float | None,
    points_per_cell: int | None,
    n_rows: int | None = None,
) -> "np.ndarray":
    """The coarse quantizer of both IVF builds, fitted on the DRIVER: the
    ``_fit_sample`` of the (neighbor_id, cv) corpus ``c`` is collected as
    an id-ordered, row-normalized matrix (ordered so the matrix — hence
    the seeded init — is independent of Spark's collect order), seeded by
    k-means++ (``_kmeanspp``) and refined by 15 iterations of the shared
    ``_lloyd`` loop. Cells only need rough balance (FAISS uses 10-25
    iterations on samples; recall is governed by n_probe, not centroid
    polish) — the recall-floor tests pin the contract. Measured against
    exact top-5 on the random sf0.01 embeddings (ANN's worst case):
    k-means++ @ 15 iterations reads recall 0.725 (full fit) / 0.65
    (0.3-sampled fit) vs 0.50-0.60 for uniform or farthest-first inits —
    the sweep is recorded in OPTIMIZATION_r13.md §2.

    The collect is bounded like the query batch: at most
    ``_MAX_CLOSURE_QUERIES`` + 1 rows ever reach the driver (one top-n
    job — each task keeps only its lowest ids), and a sample over the
    bound raises instead of pulling a corpus-sized ``fit_fraction`` or
    ``points_per_cell=None`` fit into driver memory. An empty sample
    (tiny corpus) falls back to the full corpus, mirroring _fit_sample's
    guard without its probe job."""
    sample = _fit_sample(
        c,
        "neighbor_id",
        fit_fraction,
        points_per_cell * n_cells if points_per_cell is not None else None,
        n_rows=n_rows,
        probe_empty=False,
    )

    def take(df):
        rows = (
            df.select("neighbor_id", "cv")
            .orderBy("neighbor_id")
            .limit(_MAX_CLOSURE_QUERIES + 1)
            .collect()
        )
        if len(rows) > _MAX_CLOSURE_QUERIES:
            raise ValueError(
                f"quantizer fit sample exceeds the driver-collect bound "
                f"({_MAX_CLOSURE_QUERIES} rows); lower fit_fraction or "
                "points_per_cell"
            )
        return rows

    rows = take(sample)
    if not rows and sample is not c:
        rows = take(c)
    if not rows:
        raise ValueError("cannot fit a coarse quantizer on an empty corpus")
    X = _normalize_rows(np.asarray([r[1] for r in rows], dtype=np.float64))
    return _lloyd(X, X[_kmeanspp(X, min(n_cells, len(X)), seed)], iters=15)


def _kmeanspp(X: "np.ndarray", k: int, seed: int) -> list[int]:
    """k DISTINCT row indices of ``X``, D²-weighted (k-means++) after a
    seeded uniform first pick. A picked row's weight is pinned to exactly
    zero (the cross-term distance to itself can round above zero), and
    when every remaining row coincides with a center (weights sum to
    zero) the pick is uniform over the rows not yet picked."""
    rng = np.random.RandomState(seed)
    x2 = (X**2).sum(axis=1)
    chosen = [int(rng.randint(len(X)))]
    d2min = np.full(len(X), np.inf)
    while True:
        last = chosen[-1]
        d2min = np.minimum(
            d2min, np.maximum(x2 + x2[last] - 2.0 * (X @ X[last]), 0.0)
        )
        d2min[chosen] = 0.0
        if len(chosen) == k:
            return chosen
        tot = d2min.sum()
        if tot <= 0:
            free = np.setdiff1d(np.arange(len(X)), chosen)
            chosen.append(int(free[rng.randint(len(free))]))
        else:
            chosen.append(int(rng.choice(len(X), p=d2min / tot)))


def _assign_cells(
    df: DataFrame, centroids: "np.ndarray", residual: bool = False
) -> DataFrame:
    """Append ``cell`` = index of the centroid nearest to the unit vector
    of ``cv`` (the assignment inside ``_encode``). With
    ``residual``, also append ``resid`` = unit vector − its centroid (what
    IVF-PQ quantizes). One Arrow batch matmul per task; the centroid
    matrix rides the closure (model-scale)."""
    from pyspark.sql.functions import pandas_udf

    c2 = (centroids**2).sum(axis=1)

    @pandas_udf("cell int, resid array<double>")
    def _nearest(vs: pd.Series) -> pd.DataFrame:
        X = _normalize_rows(np.asarray(vs.tolist(), dtype=np.float64))
        # argmin ‖x−c‖² = argmin ‖c‖² − 2x·c (‖x‖² is a per-row constant)
        cell = (c2[None, :] - 2.0 * (X @ centroids.T)).argmin(axis=1)
        return pd.DataFrame(
            {
                "cell": cell.astype(np.int32),
                "resid": list(X - centroids[cell]) if residual else None,
            }
        )

    out = df.withColumn("_near", _nearest(F.col("cv")))
    extra = ["_near.cell", "_near.resid"] if residual else ["_near.cell"]
    return out.select(*df.columns, *extra)


def build_ivf_index(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    seed: int = 42,
    fit_fraction: float | None = None,
    points_per_cell: int | None = 256,
) -> IVFIndex:
    """K-means coarse quantizer fit + cell assignment of every vector;
    the inverted lists are localCheckpoint-materialized. Training cost is
    one k-means fit; ``fit_fraction`` fits on a deterministic md5 sample
    (FAISS trains IVF quantizers on ~30-250 vectors/cell — fitting the
    full corpus at 100 TB is waste, and an RNG-free sample keeps the
    centroids, hence the cell assignment, reproducible across runs and
    appends). When ``fit_fraction`` is not given the fit auto-samples to
    ``points_per_cell · n_cells`` vectors (same FAISS
    max_points_per_centroid discipline as fit_pq_codebooks; None forces
    the full fit). Every vector is still ASSIGNED; only the Lloyd
    iterations read the sample.

    The fit is the driver-side deterministic numpy k-means
    (``_fit_coarse``) over the collected sample — driver-sized BY DESIGN
    (points_per_cell · n_cells ≈ thousands of rows, and bounded).
    Assignment of the FULL corpus stays distributed (``_encode``, the
    same rule the append path runs)."""
    # Persisted: the sample collect reads the corpus once and the
    # inverted-list assignment once more.
    c = _corpus(corpus, id_col, vec_col).persist()
    cent_np = _fit_coarse(c, n_cells, seed, fit_fraction, points_per_cell)
    inverted = _encode(c, cent_np, None).localCheckpoint(eager=True)
    c.unpersist()
    return IVFIndex(cent_np, inverted)


def ivf_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    fit_fraction: float | None = None,
    index: IVFIndex | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate top-k: k-means coarse quantizer →
    per-cell inverted lists → queries probe their ``n_probe`` nearest cells.

    The second ANN family next to sign-LSH: cells ADAPT to the data
    distribution (learned centroids) where LSH buckets are data-oblivious —
    on clustered real embeddings IVF probes far fewer candidates at equal
    recall. Vectors are L2-normalized before clustering so euclidean cell
    assignment orders like cosine. Candidate fan-out per query ≈
    n/n_cells · n_probe.

    Sizing — measured, not folklore: the classic "n_cells ~ √n" rule only
    pays when PER-CELL READS dominate, i.e. when probing fewer rows means
    reading fewer bytes (corpus on disk/object store, cells are parquet
    partitions and probing prunes them). On an in-RAM corpus it measures
    WORSE: at 200k vectors, cells=447/probe=111 searched 17.5 s vs
    cells=16/probe=4 at 9.5 s, identical recall and identical 25% scan
    fraction (BENCH_ANN_TIER_r06) — every extra probed cell adds
    orchestration (probe rows, join fan-in) while saving zero I/O. Rule:
    hold the scan fraction (n_probe/n_cells) at your recall target, and
    grow n_cells only when cells map to prunable storage units; otherwise
    keep n_cells small. ``tools/bench_ann_tier.py`` keeps the √n preset
    as a labeled anti-pattern row next to the default.

    The candidate stage is ``_cell_candidates`` (driver-side cell probe,
    static cell pruning) scored by the exact closure cosine. Pass a
    prebuilt ``index`` (build_ivf_index) to amortize the k-means fit
    across query batches."""
    if index is None:
        index = build_ivf_index(
            corpus,
            vec_col=vec_col,
            id_col=id_col,
            n_cells=n_cells,
            seed=seed,
            fit_fraction=fit_fraction,
        )

    def candidates(qids, Q):
        return _cell_candidates(
            index.coded, qids, Q, index.centroids, n_probe, _exact_cosine(qids, Q)
        )

    return _search(queries, k, id_col, vec_col, candidates)


def fit_pq_codebooks(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m_subspaces: int = 8,
    n_codes: int = 16,
    dim: int = 64,
    seed: int = 42,
    iters: int = 10,
    fit_fraction: float | None = None,
    normalize: bool = True,
    points_per_code: int | None = 256,
    n_rows: int | None = None,
) -> np.ndarray:
    """Fit product-quantization codebooks: split each (L2-normalized when
    ``normalize``; residual inputs pass ``normalize=False``) vector into
    ``m_subspaces`` contiguous subvectors and k-means each subspace
    independently to ``n_codes`` centroids.

    Training is SAMPLED by default: when ``fit_fraction`` is not given,
    the fit reads ``points_per_code · n_codes`` vectors (an md5-bucket
    sample — FAISS's ``max_points_per_centroid`` discipline, default 256
    points per centroid ⇒ 8,192 vectors for 32 codes), because k-means
    quality saturates at a few hundred points per centroid while fit cost
    keeps growing linearly: at the 200k tier the full-corpus fit was
    89–100 s against a 3 s search — the one-time build dominated the
    lifecycle, and at 100M vectors it would be hours. Corpora at or under
    the target fit in full (the sample fraction clamps to 1). Pass
    ``points_per_code=None`` (and no ``fit_fraction``) to force the
    full-corpus fit. Encoding always covers every vector.

    Returns a ``(m_subspaces, n_codes, dim // m_subspaces)`` numpy array —
    model-scale metadata (m·k rows), the one thing an ANN index build DOES
    collect to the driver (ivf_knn collects its k-means centers the same
    way). The fit itself is distributed: one posexplode fans every sampled
    vector into its m subvectors, and ``applyInPandas`` over the subspace
    key runs the m independent Lloyd loops (``_lloyd``) in parallel — one
    shuffle of the (sampled) training set, no per-iteration Spark round
    trips.

    Determinism: the per-group frame is sorted by vector id before a
    seeded ``RandomState`` picks the initial centers (uniform, without
    replacement), because Spark gives no row-order guarantee inside a
    group. ``fit_fraction`` trains on an md5-bucket sample (FAISS-style
    ~thousands of vectors per subspace suffice) while encoding still
    covers every vector."""
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by m={m_subspaces}")
    dsub = dim // m_subspaces
    from pyspark.sql.functions import pandas_udf

    from high_volume_market_data_pipeline_spark.operators.layout import (
        data_scoped_shuffle,
    )

    v = as_double(F.col(vec_col))
    if normalize:

        @pandas_udf("array<double>")
        def _unit(vs: pd.Series) -> pd.Series:
            X = np.asarray(vs.tolist(), dtype=np.float64)
            return pd.Series(list(_normalize_rows(X)))

        v = _unit(v)
    c = corpus.select(F.col(id_col).alias("_id"), v.alias("v"))
    c = _fit_sample(
        c,
        "_id",
        fit_fraction,
        points_per_code * n_codes if points_per_code is not None else None,
        n_rows=n_rows,
    )
    subs = c.select(
        "_id",
        F.posexplode(
            F.array(*[F.slice("v", j * dsub + 1, dsub) for j in range(m_subspaces)])
        ).alias("sub_id", "subvec"),
    )

    def _fit_one(pdf: pd.DataFrame) -> pd.DataFrame:
        sub_id = int(pdf["sub_id"].iloc[0])
        X = np.asarray(
            pdf.sort_values("_id")["subvec"].tolist(), dtype=np.float64
        )
        rng = np.random.RandomState(seed + sub_id)
        k = min(n_codes, len(X))
        cent = _lloyd(X, X[rng.choice(len(X), size=k, replace=False)], iters)
        return pd.DataFrame(
            {
                "sub_id": sub_id,
                "code": np.arange(k, dtype=np.int32),
                "centroid": list(cent),
            }
        )

    fitted = subs.groupBy("sub_id").applyInPandas(
        _fit_one, "sub_id int, code int, centroid array<double>"
    )
    cb = np.zeros((m_subspaces, n_codes, dsub), dtype=np.float64)
    filled = np.zeros(m_subspaces, dtype=np.int64)
    # The fit's ONE shuffle moves a model-scale training set into m groups:
    # size it to the corpus' scan layout, not cores×3 mostly empty tasks.
    with data_scoped_shuffle(corpus.sparkSession, corpus.rdd.getNumPartitions()):
        rows = fitted.collect()  # m·k rows: the model, not data
    for row in rows:
        cb[row["sub_id"], row["code"]] = row["centroid"]
        filled[row["sub_id"]] = max(filled[row["sub_id"]], row["code"] + 1)
    # A corpus smaller than n_codes leaves trailing codebook rows at
    # zero, and the encoder's argmin could pick such a phantom "origin"
    # centroid. Pad with the FIRST real centroid instead: a duplicate
    # ties with its original and argmin resolves to the lower index, so
    # padded rows are never emitted as codes.
    for j in range(m_subspaces):
        if 0 < filled[j] < n_codes:
            cb[j, filled[j]:] = cb[j, 0]
    return cb


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
    normalize: bool = True,
) -> DataFrame:
    """Append the PQ code word: ``array<int>`` of ``m`` centroid indices
    (one byte each in a real store — 64 float32 → 8 codes is the 32×
    compression that lets a 100 TB corpus's search structure fit a
    cluster's RAM; parquet dictionary-encodes the int column to ~1 B).

    Arrow-batched numpy (one einsum per batch): dist²(x, c) = ‖c‖² − 2x·c
    up to the per-row constant ‖x‖², so argmin over codes needs only the
    cross term. Vectors are L2-normalized first when ``normalize`` (PQ for
    cosine quantizes the unit sphere)."""
    from pyspark.sql.functions import pandas_udf

    m, _, dsub = codebooks.shape
    c2 = (codebooks**2).sum(axis=2)  # (m, k)

    @pandas_udf("array<int>")
    def _enc(vs: pd.Series) -> pd.Series:
        X = np.asarray(vs.tolist(), dtype=np.float64)
        if normalize:
            X = _normalize_rows(X)
        Xs = X.reshape(len(X), m, dsub)
        dots = np.einsum("bjd,jkd->bjk", Xs, codebooks)
        codes = (c2[None, :, :] - 2.0 * dots).argmin(axis=2)
        return pd.Series(list(codes.astype(np.int32)))

    return df.withColumn(out_col, _enc(as_double(F.col(vec_col))))


def _encode(
    c: DataFrame, centroids: "np.ndarray | None", codebooks: "np.ndarray | None"
) -> DataFrame:
    """The coded rows an index stores for the (neighbor_id, cv) frame
    ``c`` under its model — the one encode rule every build and the
    index_store append run, so an appended vector gets exactly the row a
    build would give it. Centroids alone: IVF inverted-list rows
    (neighbor_id, cv, cell). Codebooks alone: PQ codes of the unit vector
    (neighbor_id, pq_codes). Both: IVF-PQ, PQ codes of the cell residual
    (neighbor_id, cell, pq_codes); a frame that already carries ``cell``
    and ``resid`` (the IVF-PQ build's persisted residual frame) is not
    assigned a second time."""
    if codebooks is None:
        return _assign_cells(c, centroids)
    if centroids is None:
        return pq_encode(c, codebooks, vec_col="cv").select(
            "neighbor_id", "pq_codes"
        )
    if "resid" not in c.columns:
        c = _assign_cells(c, centroids, residual=True)
    return pq_encode(c, codebooks, vec_col="resid", normalize=False).select(
        "neighbor_id", "cell", "pq_codes"
    )


class PQIndex(NamedTuple):
    """A built PQ index: the driver-side codebooks plus the materialized
    code table (neighbor_id, pq_codes). Build ONCE, search many — the
    FAISS train/add vs search split: the fit + encode cost amortizes over
    every query batch, and a persisted deployment writes ``coded`` as a
    parquet table whose m-int code column is the only thing the ADC scan
    ever reads."""

    codebooks: "np.ndarray"
    coded: DataFrame


def build_pq_index(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m_subspaces: int = 8,
    n_codes: int = 32,
    dim: int = 64,
    seed: int = 42,
    fit_fraction: float | None = None,
) -> PQIndex:
    """Fit codebooks (distributed, see fit_pq_codebooks) and encode every
    corpus vector; the code table is localCheckpoint-materialized so
    searches never re-pay the encode einsum."""
    cb = fit_pq_codebooks(
        corpus,
        vec_col=vec_col,
        id_col=id_col,
        m_subspaces=m_subspaces,
        n_codes=n_codes,
        dim=dim,
        seed=seed,
        fit_fraction=fit_fraction,
    )
    coded = _encode(_corpus(corpus, id_col, vec_col), None, cb)
    return PQIndex(cb, coded.localCheckpoint(eager=True))


def pq_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    m_subspaces: int = 8,
    n_codes: int = 32,
    dim: int = 64,
    seed: int = 42,
    refine: int = 256,
    fit_fraction: float | None = None,
    index: PQIndex | None = None,
) -> DataFrame:
    """Product-quantization ANN with exact re-rank — the compressed-domain
    third family next to sign-LSH (data-oblivious buckets) and IVF
    (learned cells): candidates are scored against the 8-byte PQ codes,
    and only the top ``refine`` per query touch full vectors again.

    Scale story: the scan that scores 100 TB of embeddings reads the code
    column (m ints, dictionary-encoded) instead of the float array — 32×
    less I/O — and the exact re-rank reads full vectors for ``refine``
    rows per query via an id equi-join (``_rerank``). The candidate stage
    is the production ADC kernel on the shared ``_scan_topr``: the
    per-query lookup table LUT[q,j,code] = q_subⱼ·c[j,code] is one einsum
    over the driver-collected query batch, shipped to tasks as a closure;
    each Arrow batch then scores ALL queries with one gather+sum and
    emits only its top ``refine`` — no corpus×queries materialization, no
    per-row Python, and the rank shuffle sees n_batches·nq·refine rows,
    not |corpus|·nq. Pass a prebuilt ``index`` (build_pq_index) to
    amortize fit+encode across query batches — the default fits per call
    for API compatibility. Approximate ⇒ register rows-only, with recall
    asserted in tests like the other families."""
    if index is None:
        index = build_pq_index(
            corpus,
            vec_col=vec_col,
            id_col=id_col,
            m_subspaces=m_subspaces,
            n_codes=n_codes,
            dim=dim,
            seed=seed,
            fit_fraction=fit_fraction,
        )
    cb = index.codebooks
    m, _, dsub = cb.shape

    def candidates(qids, Q):
        # (nq, m, n_codes): the classic ADC LUT, one per query
        lut = np.einsum("qjd,jkd->qjk", Q.reshape(len(Q), m, dsub), cb)

        def adc(pdf):
            C = np.asarray(pdf["pq_codes"].tolist(), dtype=np.int64)  # (B,m)

            def score(s, e):
                # S[q,b] = Σⱼ LUT[q, j, C[b,j]], accumulated PER SUBSPACE:
                # one fancy-index lut[s:e, arange(m), C] would materialize a
                # (chunk, B, m) intermediate — m× the budget — before its
                # sum. At most TWO (chunk, B) matrices are ever live (the
                # accumulator + one gather temp), hence live_matrices=2.
                S = lut[s:e, 0, C[:, 0]]  # fancy index ⇒ already a fresh array
                for j in range(1, m):
                    S += lut[s:e, j, C[:, j]]
                return S

            return score

        shortlist = _scan_topr(index.coded, qids, refine, adc, live_matrices=2)
        return _rerank(shortlist, refine, corpus, id_col, vec_col, qids, Q)

    return _search(queries, k, id_col, vec_col, candidates)


class IVFPQIndex(NamedTuple):
    """A built IVF-PQ index: unit-space cell centroids, residual PQ
    codebooks, and the materialized code table (neighbor_id, cell,
    pq_codes). Build ONCE, search many (FAISS train/add vs search)."""

    centroids: "np.ndarray"
    codebooks: "np.ndarray"
    coded: DataFrame


def build_ivf_pq_index(
    corpus: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    m_subspaces: int = 8,
    n_codes: int = 32,
    dim: int = 64,
    seed: int = 42,
    fit_fraction: float | None = None,
    points_per_cell: int | None = 256,
) -> IVFPQIndex:
    """Coarse k-means cells + PQ codebooks fitted on the CELL RESIDUALS,
    every vector encoded; the code table is localCheckpoint-materialized.
    Residuals (x − cell_centroid) concentrate near the origin, so the
    same code budget quantizes them with far less error than raw
    vectors — that is why the residual step exists. Both fits auto-sample
    when ``fit_fraction`` is not given (points_per_cell · n_cells for the
    coarse quantizer here; fit_pq_codebooks applies its own
    points_per_code target to the residual codebooks).

    The coarse fit is the driver-side deterministic numpy Lloyd on the
    collected (driver-sized by design) sample — see build_ivf_index;
    corpus-scale work (assignment, residuals, encode) stays distributed
    in ``_encode``, the rule the append path runs too."""
    c = _corpus(corpus, id_col, vec_col).persist()
    # One corpus count serves BOTH sampled fits: the residual frame below
    # is a 1:1 transform of c, so its row count is c's.
    n_corpus = c.count() if fit_fraction is None else None
    cent_np = _fit_coarse(
        c, n_cells, seed, fit_fraction, points_per_cell, n_rows=n_corpus
    )
    # residual encode: PQ codebooks fitted on (x − centroid), not raw x.
    # Persisted: three consumers (the codebook fit's sample scan, its
    # Lloyd input, and the final encode) would otherwise each re-run the
    # cell assignment.
    resid = (
        _assign_cells(c, cent_np, residual=True)
        .select("neighbor_id", "cell", "resid")
        .persist()
    )
    cb = fit_pq_codebooks(
        resid,
        vec_col="resid",
        id_col="neighbor_id",
        m_subspaces=m_subspaces,
        n_codes=n_codes,
        dim=dim,
        seed=seed,
        fit_fraction=fit_fraction,
        normalize=False,
        n_rows=n_corpus,
    )
    coded = _encode(resid, cent_np, cb).localCheckpoint(eager=True)
    resid.unpersist()
    c.unpersist()
    return IVFPQIndex(cent_np, cb, coded)


def ivf_pq_knn(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    n_cells: int = 16,
    n_probe: int = 4,
    m_subspaces: int = 8,
    n_codes: int = 32,
    dim: int = 64,
    seed: int = 42,
    refine: int = 256,
    fit_fraction: float | None = None,
    index: IVFPQIndex | None = None,
) -> DataFrame:
    """IVF-PQ: coarse k-means cells + product quantization of the CELL
    RESIDUALS — the composition both pieces exist for, and the standard
    production ANN layout (FAISS IVFPQ): the cell prunes which candidates
    are scored, the residual codes shrink what scoring reads.

    At 100 TB: candidate I/O = (probed cells' share of the corpus) ×
    (m code-ints per row) — both factors independently tunable
    (n_cells ~ √n, code budget m·log2(n_codes) bits) — then ``refine``
    full-vector reads per query for the exact re-rank. The candidate
    stage is IVF's ``_cell_candidates`` with the ADC score as the row
    scorer: candidate rows ship (query_id, cell, codes) — never a query
    or centroid VECTOR — and the score is a per-batch LUT gather plus the
    closure's q·centroid table:
    cos(q, centroid + decode(codes)) = q·centroid + Σⱼ LUT[q,j,codeⱼ].
    Pass a prebuilt ``index`` (build_ivf_pq_index) to amortize the fit
    across query batches."""
    if index is None:
        index = build_ivf_pq_index(
            corpus,
            vec_col=vec_col,
            id_col=id_col,
            n_cells=n_cells,
            m_subspaces=m_subspaces,
            n_codes=n_codes,
            dim=dim,
            seed=seed,
            fit_fraction=fit_fraction,
        )
    cent_np, cb = index.centroids, index.codebooks
    m, _, dsub = cb.shape
    subspaces = np.arange(m)[None, :]

    def candidates(qids, Q):
        # per-query residual LUT + q·centroid table (model-scale closures)
        lut = np.einsum("qjd,jkd->qjk", Q.reshape(len(Q), m, dsub), cb)
        qdotc = Q @ cent_np.T

        def adc(idx, cell, codes):
            C = np.asarray(codes.tolist(), dtype=np.int64)  # (B, m)
            S = lut[idx[:, None], subspaces, C].sum(axis=1)
            return S + qdotc[idx, cell.to_numpy()]

        score = _qid_score(qids, adc, F.col("cell"), F.col("pq_codes"))
        shortlist = _cell_candidates(index.coded, qids, Q, cent_np, n_probe, score)
        return _rerank(shortlist, refine, corpus, id_col, vec_col, qids, Q)

    return _search(queries, k, id_col, vec_col, candidates)


def with_recall_at_k(ann: DataFrame, exact: DataFrame) -> DataFrame:
    """Append per-query ``recall_at_k`` to an ANN result: |ann ∩ exact| /
    |exact| over neighbor sets (both inputs shaped (query_id, neighbor_id,
    ...)).

    Grading the approximate result against the exact one is the standard
    ANN quality gate; at real scale run it over a query SAMPLE (brute force
    on the sample costs one broadcast pass over the corpus). Queries whose
    ANN result is empty keep recall 0 via the left join + fill."""
    hits = (
        ann.select("query_id", "neighbor_id")
        .join(
            exact.select("query_id", "neighbor_id"),
            ["query_id", "neighbor_id"],
            "leftsemi",
        )
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_hits"))
    )
    totals = exact.groupBy("query_id").agg(F.count(F.lit(1)).alias("_total"))
    rec = hits.join(totals, "query_id").select(
        "query_id",
        F.round(F.col("_hits") / F.col("_total"), 4).alias("recall_at_k"),
    )
    return (
        ann.join(F.broadcast(rec), "query_id", "left")
        .na.fill({"recall_at_k": 0.0})
    )
