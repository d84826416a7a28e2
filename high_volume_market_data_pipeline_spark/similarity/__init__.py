"""Similarity search over embedding columns (driver north-star extension)."""

from high_volume_market_data_pipeline_spark.similarity.index_store import (
    append_to_index,
    delete_from_index,
    load_index,
    purge_deleted,
    save_index,
)
from high_volume_market_data_pipeline_spark.similarity.knn import (
    IVFIndex,
    IVFPQIndex,
    PQIndex,
    brute_force_knn,
    build_ivf_index,
    build_ivf_pq_index,
    build_pq_index,
    fit_pq_codebooks,
    ivf_knn,
    ivf_pq_knn,
    lsh_bucketed_knn,
    pq_encode,
    pq_knn,
    random_hyperplane_buckets,
    with_recall_at_k,
)

__all__ = [
    "append_to_index",
    "IVFIndex",
    "IVFPQIndex",
    "PQIndex",
    "brute_force_knn",
    "build_ivf_index",
    "build_ivf_pq_index",
    "build_pq_index",
    "delete_from_index",
    "fit_pq_codebooks",
    "ivf_knn",
    "ivf_pq_knn",
    "load_index",
    "lsh_bucketed_knn",
    "pq_encode",
    "pq_knn",
    "purge_deleted",
    "random_hyperplane_buckets",
    "save_index",
    "with_recall_at_k",
]
