"""Similarity-search queries over `embeddings`.

Brute-force cosine top-k is fully oracle-checked (both engines do the same
sequential double fold over the 64-dim vectors). The LSH-bucketed ANN
variant is approximate by design → rows-only check (the driver records the
weaker gate; its recall is asserted against brute force in tests/).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from high_volume_market_data_pipeline_spark.catalog import load_table
from high_volume_market_data_pipeline_spark.dedup import embedding_near_dup_pairs
from high_volume_market_data_pipeline_spark.functions.vectors import as_double
from high_volume_market_data_pipeline_spark.registry import query
from high_volume_market_data_pipeline_spark.similarity import (
    brute_force_knn,
    lsh_bucketed_knn,
    with_recall_at_k,
)

_N_QUERIES = 8
_K = 5

_COS_SQL = (
    "list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*cv[i]))"
    " / (sqrt(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i]*qv[i])))"
    " * sqrt(list_sum(list_transform(range(1, len(cv)+1), i -> cv[i]*cv[i]))))"
)


@query(
    "knn_bruteforce_cosine",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
      FROM embeddings WHERE vec_id < {_N_QUERIES}
    ), c AS (
      SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv FROM embeddings
    ), scored AS (
      SELECT query_id, neighbor_id, {_COS_SQL} AS cos
      FROM c CROSS JOIN q
      WHERE query_id <> neighbor_id
    ), ranked AS (
      SELECT query_id, neighbor_id, cos,
             ROW_NUMBER() OVER (
               PARTITION BY query_id ORDER BY cos DESC, neighbor_id
             ) AS knn_rank
      FROM scored
    )
    SELECT query_id, neighbor_id, ROUND(cos, 6) AS cosine, knn_rank
    FROM ranked WHERE knn_rank <= {_K}
    ORDER BY query_id, knn_rank
    """,
)
def knn_bruteforce_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine top-k: corpus never shuffles (query side broadcast);
    per-query top-k via window prunes before any collect."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _N_QUERIES)
    return brute_force_knn(q, emb, k=_K).orderBy("query_id", "knn_rank")


@query("knn_lsh_bucketed")
def knn_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate ANN via sign-LSH buckets + multi-probe — the scale path
    (per-bucket quadratic instead of global). Approximate ⇒ rows-only gate,
    but the result carries a self-grading ``recall_at_k`` column (vs brute
    force), so a recall regression is visible in the recorded values; the
    ≥ threshold assertion lives in tests/test_dedup_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _N_QUERIES)
    ann = lsh_bucketed_knn(q, emb, k=_K)
    # recall twin: ranking-only, so the Arrow scorer is safe (values not hashed)
    exact = brute_force_knn(q, emb, k=_K, vectorized=True)
    return with_recall_at_k(ann, exact).orderBy("query_id", "knn_rank")


def _rp_component_sql(j: int, dim: int = 64, seed: int = 101) -> str:
    """DuckDB twin of one random-projection component: literal md5 plane,
    sequential fold, floor-quantize 1e-6 (pure IEEE — bit-identical)."""
    from high_volume_market_data_pipeline_spark.similarity.knn import _hyperplane

    lit = "[" + ",".join(repr(x) for x in _hyperplane(dim, j, seed)) + "]"
    return (
        f"floor(list_sum(list_transform(range(1, {dim}+1),"
        f" i -> v[i] * ({lit}::DOUBLE[])[i])) * 1000000.0) / 1000000.0"
    )


_RP_DIM = 8


@query(
    "embedding_random_projection",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
    )
    SELECT vec_id, label,
           {", ".join(f"{_rp_component_sql(j)} AS p{j}" for j in range(_RP_DIM))}
    FROM e ORDER BY vec_id
    """,
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random projection 64-d → 8-d (similarity.random_projection): the
    standard cheap dimensionality reduction before ANN indexing or
    clustering — one deterministic md5-plane dot per output component,
    scalar columns (driver-safe), floor-quantized 1e-6. Fully
    oracle-backed: the sequential expression fold matches the SQL twin
    term by term, like the sign-LSH bucket dots."""
    from high_volume_market_data_pipeline_spark.similarity.knn import (
        random_projection,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        random_projection(emb, out_dim=_RP_DIM)
        .select("vec_id", "label", *[f"p{j}" for j in range(_RP_DIM)])
        .orderBy("vec_id")
    )


def _nd_plane_dot_sql(plane: int, dim: int = 64) -> str:
    """DuckDB twin of the sign-LSH hyperplane dot product: the hyperplane is
    a deterministic md5-derived constant (similarity/knn._hyperplane), so it
    embeds verbatim as a literal DOUBLE list — the oracle replicates the
    bucketing bit-exactly."""
    from high_volume_market_data_pipeline_spark.similarity.knn import _hyperplane

    lit = "[" + ",".join(repr(x) for x in _hyperplane(dim, plane)) + "]"
    return (
        f"list_sum(list_transform(range(1, {dim}+1),"
        f" i -> v[i] * ({lit}::DOUBLE[])[i]))"
    )


_ND_TARGET = 64  # auto-planes: expected rows per sign-LSH bucket
_ND_MAX_PLANES = 12

# Dynamic bucket: all max_planes plane-dots embed as literals; plane p
# contributes its 2^p bit only while p < n_planes, and n_planes itself is
# computed FROM THE DATA by the same integer rule as knn.auto_planes —
# so one static SQL string stays exact at every corpus size.
_ND_BUCKET_SQL = " + ".join(
    f"(CASE WHEN {p} < np.n_planes AND {_nd_plane_dot_sql(p)} >= 0"
    f" THEN {1 << p} ELSE 0 END)"
    for p in range(_ND_MAX_PLANES)
)


@query(
    "embedding_near_dup",
    oracle=f"""
    WITH e0 AS (
      SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), np AS (
      SELECT MIN(p) AS n_planes FROM range(0, {_ND_MAX_PLANES + 1}) t(p)
      WHERE {_ND_TARGET} * (1 << p) >= (SELECT COUNT(*) FROM e0)
         OR p = {_ND_MAX_PLANES}
    ), e AS (
      SELECT vec_id, v, {_ND_BUCKET_SQL} AS bucket FROM e0, np
    ), pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             ROUND(
               list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*b.v[i]))
               / (sqrt(list_sum(list_transform(range(1, len(a.v)+1), i -> a.v[i]*a.v[i])))
                * sqrt(list_sum(list_transform(range(1, len(b.v)+1), i -> b.v[i]*b.v[i])))),
             6) AS cosine
      FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    )
    SELECT id_a, id_b, cosine FROM pairs
    WHERE cosine >= 0.3
    ORDER BY id_a, id_b
    """,
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs over the FULL corpus, sign-LSH
    blocked with an AUTO-SIZED plane count: n_planes = auto_planes(n)
    grows one plane per corpus doubling past ``_ND_TARGET`` rows, holding
    expected bucket occupancy ≤ target — the registered config IS the
    scale-safe one (a fixed plane count measured 15.4× on 10× data;
    BASELINE.md scale table tracks this query directly now). The join is
    an equi-join on the bucket key — per-bucket quadratic, never a cross
    join (asserted in tests/test_plan_properties.py). One count job on
    the driver picks n_planes; the oracle recomputes the identical
    integer rule in SQL and masks the unused plane bits, so the static
    SQL twin matches at every scale factor. Threshold 0.3 (testdata's
    random vectors top out ≈0.48); recall at high plane counts is the
    OR-construction's job (knn_lsh_bucketed), not fewer planes."""
    from high_volume_market_data_pipeline_spark.similarity.knn import (
        auto_planes,
        random_hyperplane_buckets,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    n_planes = auto_planes(
        emb.count(), target_bucket_rows=_ND_TARGET, max_planes=_ND_MAX_PLANES
    )
    emb = random_hyperplane_buckets(emb, n_planes=n_planes, dim=64)
    # arrow_prefilter: numpy screen at threshold-ε, exact fold (the value
    # the oracle hashes) only on survivors — the fold cost tracks OUTPUT
    # size, not candidate volume (round-5 constant-factor regression fix)
    return embedding_near_dup_pairs(
        emb, block_col="bucket", threshold=0.3, arrow_prefilter=True
    ).orderBy("id_a", "id_b")


@query("knn_ivf_cells")
def knn_ivf_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate ANN: k-means coarse quantizer → inverted cell lists
    → multi-cell probing (similarity/knn.py ivf_knn). The data-adaptive
    counterpart to sign-LSH. Approximate ⇒ rows-only gate; recall vs brute
    force is asserted in tests/test_dedup_similarity.py."""
    from high_volume_market_data_pipeline_spark.similarity import ivf_knn

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _N_QUERIES)
    ann = ivf_knn(q, emb, k=_K)
    # recall twin: ranking-only, so the Arrow scorer is safe (values not hashed)
    exact = brute_force_knn(q, emb, k=_K, vectorized=True)
    return with_recall_at_k(ann, exact).orderBy("query_id", "knn_rank")


@query("knn_pq_adc")
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN (similarity/knn.pq_knn): per-subspace
    k-means codebooks → 8-byte code words → asymmetric-distance shortlist
    → exact re-rank of the top ``refine`` per query. The compressed-domain
    third ANN family (sign-LSH = data-oblivious buckets, IVF = learned
    cells, PQ = learned compression): at 100 TB the candidate scan reads
    32× fewer bytes than the float vectors. Approximate ⇒ rows-only gate;
    the self-grading recall column + the ≥0.8 assertion in
    tests/test_dedup_similarity.py are the quality contract."""
    from high_volume_market_data_pipeline_spark.similarity import pq_knn

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _N_QUERIES)
    ann = pq_knn(q, emb, k=_K)
    # recall twin: ranking-only, so the Arrow scorer is safe (values not hashed)
    exact = brute_force_knn(q, emb, k=_K, vectorized=True)
    return with_recall_at_k(ann, exact).orderBy("query_id", "knn_rank")


@query("knn_ivf_pq")
def knn_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (similarity/knn.ivf_pq_knn): coarse k-means cells prune the
    candidate set, PQ codes of the CELL RESIDUALS shrink what candidate
    scoring reads — the FAISS-style composition of the two learned ANN
    structures and the layout a production 100 TB vector store actually
    ships. Approximate ⇒ rows-only gate; recall asserted in
    tests/test_dedup_similarity.py, self-graded here."""
    from high_volume_market_data_pipeline_spark.similarity import ivf_pq_knn

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _N_QUERIES)
    ann = ivf_pq_knn(q, emb, k=_K)
    # recall twin: ranking-only, so the Arrow scorer is safe (values not hashed)
    exact = brute_force_knn(q, emb, k=_K, vectorized=True)
    return with_recall_at_k(ann, exact).orderBy("query_id", "knn_rank")


@query("knn_pq_persisted")
def knn_pq_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FAISS build-once/search-many lifecycle end to end: build a PQ
    index, COMMIT it through the versioned table store
    (similarity/index_store.py — model arrays + coded corpus as
    VersionedParquetTables), reload it from disk, and search with the
    LOADED copy. The loaded index reads everything from parquet — nothing
    from session state — so this is the search path a fresh session on
    another node runs at 100 TB (the subprocess test in
    tests/test_index_store.py pins actual cross-session identity; this
    registered query keeps the lifecycle under the driver's rows gate).
    Approximate ⇒ rows-only; the recall twin self-grades like the other
    knn_* queries."""
    import shutil
    import tempfile

    from high_volume_market_data_pipeline_spark.similarity import (
        build_pq_index,
        load_index,
        pq_knn,
        save_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < _N_QUERIES)
    scratch = tempfile.mkdtemp(prefix="hvmdp_pq_index_")
    try:
        save_index(build_pq_index(emb), os.path.join(scratch, "pq"))
        loaded = load_index(spark, os.path.join(scratch, "pq"))
        ann = pq_knn(q, emb, k=_K, index=loaded)
        # recall twin: ranking-only, the Arrow scorer is safe (not hashed)
        exact = brute_force_knn(q, emb, k=_K, vectorized=True)
        out = with_recall_at_k(ann, exact).orderBy("query_id", "knn_rank")
        # materialize before the scratch dir disappears: the loaded
        # index's coded table is lazy parquet under `scratch`
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@query(
    "embedding_quantize_stats",
    oracle="""
    WITH e AS (
      SELECT vec_id, embedding::DOUBLE[] AS v, len(embedding) AS dim
      FROM embeddings
    ), m AS (
      SELECT vec_id, dim, v,
             127.0 / list_max(list_transform(v, x -> abs(x))) AS scale
      FROM e
    ), q AS (
      SELECT vec_id, dim, v,
             list_transform(v, x -> CAST(floor(x * scale) AS INT)) AS qv
      FROM m
    )
    SELECT vec_id, dim,
           ROUND(sqrt(list_sum(list_transform(v, x -> x * x))), 6) AS l2_norm,
           CAST(list_sum(qv) AS BIGINT) AS q_sum,
           list_min(qv) AS q_min,
           list_max(qv) AS q_max,
           len(list_filter(qv, x -> x = 0)) AS n_zero
    FROM q ORDER BY vec_id
    """,
)
def embedding_quantize_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization audit: max-abs scaling to [-127, 127]
    (floor, not round — floor of a bit-identical double has no rounding
    mode, so the quantized ints match across engines exactly), plus the
    L2 norm and zero-bucket count a vector-store ingest job reports before
    committing a quantized shard.

    Entirely per-row array math inside codegen: no shuffle, no Python; the
    ``scale`` denominator is bound once per row (functions/expr.bind_once)
    so the O(dim) transform doesn't re-evaluate the O(dim) max — without
    the binding the quantize step is O(dim²) per row."""
    from high_volume_market_data_pipeline_spark.functions.expr import bind_once
    from high_volume_market_data_pipeline_spark.functions.vectors import norm

    emb = load_table(spark, sf_dir, "embeddings")
    v = as_double(F.col("embedding"))

    def stats(scale: F.Column) -> F.Column:
        q = F.transform(v, lambda x: F.floor(x * scale).cast("int"))
        return F.struct(
            F.aggregate(
                q, F.lit(0).cast("long"), lambda acc, x: acc + x
            ).alias("q_sum"),
            F.array_min(q).alias("q_min"),
            F.array_max(q).alias("q_max"),
            F.size(F.filter(q, lambda x: x == 0)).alias("n_zero"),
        )

    scale = F.lit(127.0) / F.array_max(F.transform(v, F.abs))
    return (
        emb.withColumn("s", bind_once(scale, stats))
        .select(
            "vec_id",
            F.size("embedding").alias("dim"),
            F.round(norm(v), 6).alias("l2_norm"),
            "s.q_sum",
            "s.q_min",
            "s.q_max",
            "s.n_zero",
        )
        .orderBy("vec_id")
    )


def label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-wise vector centroid: element-wise mean embedding per label —
    the class-prototype reduce behind nearest-centroid classification,
    IVF seeding, and per-domain drift monitoring. Library operator: emits
    the centroid as ``array<double>`` (columns label, n_vecs, centroid).

    posexplode → (label, pos) partial+final aggregation → one re-group to
    reassemble the array. Shuffle volume is |labels|·dim per map partition
    after partial agg (tiny); the dim-fold never touches Python.

    Determinism: elements are floor-quantized to 1e-7 BEFORE the sum, so
    the cross-row aggregation is exact integer math (summation-order
    independent) — registry.dsum's decimal trick does not transfer here
    because float32-derived doubles don't round-trip a DECIMAL(38,s) cast
    identically across engines (observed 1-ulp scale-12 divergence), while
    floor of the bit-identical product v*1e7 has no rounding mode at all.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label", F.posexplode(as_double(F.col("embedding"))).alias("pos", "v")
    )
    per = e.groupBy("label", "pos").agg(
        (
            F.sum(F.floor(F.col("v") * 10000000.0)).cast("double")
            / F.count("*")
            / F.lit(10000000.0)
        ).alias("m"),
        F.count("*").alias("cnt"),
    )
    return (
        per.groupBy("label")
        .agg(
            F.max("cnt").alias("n_vecs"),
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "m"))),
                lambda s: s.m,
            ).alias("centroid"),
        )
        .orderBy("label")
    )


@query(
    "label_centroid_embeddings",
    oracle="""
    WITH e AS (
      SELECT label,
             unnest(embedding::DOUBLE[]) AS v,
             generate_subscripts(embedding, 1) AS pos
      FROM embeddings
    ), p AS (
      SELECT label, pos,
             CAST(floor(
               CAST(SUM(CAST(floor(v * 10000000.0) AS BIGINT)) AS DOUBLE)
               / COUNT(*)
             ) AS BIGINT) AS mq,
             COUNT(*) AS cnt
      FROM e GROUP BY label, pos
    )
    SELECT label,
           MAX(cnt) AS n_vecs,
           string_agg(CAST(mq AS VARCHAR), ',' ORDER BY pos) AS centroid_q7
    FROM p GROUP BY label ORDER BY label
    """,
)
def label_centroid_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-hashed twin of :func:`label_centroids`.

    The driver's correctness canonicalizer pandas-sorts raw output cells and
    crashes on list values (``TypeError: unhashable type: 'list'`` —
    CORRECTNESS_r03.json), so hashed outputs must not contain array/map
    cells. This registration stringifies the centroid at the output
    boundary: each element is the per-position mean in integer 1e-7
    micro-units (``floor(sum_q / cnt)`` — a single IEEE divide of two
    exactly-representable integers, then floor: bit-identical in both
    engines, and BIGINT→string rendering is trivially cross-engine stable,
    unlike double→string shortest-round-trip formatting). Library users who
    want the ``array<double>`` form call :func:`label_centroids`.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label", F.posexplode(as_double(F.col("embedding"))).alias("pos", "v")
    )
    per = e.groupBy("label", "pos").agg(
        F.floor(
            F.sum(F.floor(F.col("v") * 10000000.0)).cast("double")
            / F.count("*")
        )
        .cast("long")
        .alias("mq"),
        F.count("*").alias("cnt"),
    )
    return (
        per.groupBy("label")
        .agg(
            F.max("cnt").alias("n_vecs"),
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "mq"))),
                    lambda s: s.mq.cast("string"),
                ),
            ).alias("centroid_q7"),
        )
        .orderBy("label")
    )
