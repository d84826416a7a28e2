"""Structured Streaming surface (SURVEY.md §2.10 — driver north-star).

The reference is batch-only; this package supplies the mandated streaming
path: file/rate/socket ingestion → watermark → tumbling/sliding/session windows →
streaming dedup → foreachBatch upsert sink. Correctness strategy: run with
``trigger(availableNow=True)`` over a finite input and compare the end state
against the batch-equivalent query (SURVEY §7.3: per-microbatch states have
no batch oracle; end-state equivalence does).
"""

from high_volume_market_data_pipeline_spark.streaming.ingest import (
    read_parquet_stream,
    read_socket_json_stream,
    run_to_memory_sink,
)
from high_volume_market_data_pipeline_spark.streaming.windows import (
    session_window_agg,
    sliding_window_agg,
    tumbling_window_agg,
)
from high_volume_market_data_pipeline_spark.streaming.dedup import (
    streaming_dedup,
)
from high_volume_market_data_pipeline_spark.streaming.joins import (
    interval_join_streams,
)
from high_volume_market_data_pipeline_spark.streaming.quality import (
    monitor_expectations,
)
from high_volume_market_data_pipeline_spark.streaming.sketch_state import (
    stream_hll_state,
)
from high_volume_market_data_pipeline_spark.streaming.incremental import (
    read_ledger,
    stream_incremental_dedup,
)
from high_volume_market_data_pipeline_spark.streaming.custom_state import (
    running_user_totals,
    running_user_totals_tws,
    timeout_sessions,
)

__all__ = [
    "interval_join_streams",
    "monitor_expectations",
    "read_parquet_stream",
    "read_socket_json_stream",
    "running_user_totals",
    "timeout_sessions",
    "running_user_totals_tws",
    "read_ledger",
    "run_to_memory_sink",
    "session_window_agg",
    "sliding_window_agg",
    "stream_hll_state",
    "stream_incremental_dedup",
    "streaming_dedup",
    "tumbling_window_agg",
]
