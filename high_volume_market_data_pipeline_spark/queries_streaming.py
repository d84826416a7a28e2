"""Structured Streaming queries over `events`, oracle-checked by end-state
equivalence: the stream runs to completion (availableNow) over the finite
input and must equal the batch-SQL answer (SURVEY §7.3: per-microbatch state
has no batch oracle; the end state does).

The memory-sink surface is verification-only; production uses the
foreachBatch sinks in streaming/sink.py (exercised in tests/).
"""

from __future__ import annotations

import glob
import hashlib
import os
import tempfile
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from high_volume_market_data_pipeline_spark.catalog import normalize_event_ts
from high_volume_market_data_pipeline_spark.registry import query
from high_volume_market_data_pipeline_spark.sources.readers import read_parquet
from high_volume_market_data_pipeline_spark.streaming import (
    interval_join_streams,
    run_to_memory_sink,
    session_window_agg,
    sliding_window_agg,
    streaming_dedup,
    tumbling_window_agg,
)

_DEC = "decimal(18,4)"


def _events_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-stream over the events table (``ts`` normalized as in
    catalog.load_table; streams need the explicit schema up front).

    The file-stream source requires a DIRECTORY; the testdata table is a
    single parquet file, so it is staged via symlink into a scratch dir
    under ``tempfile.gettempdir()`` (a real deployment streams from an
    arrival directory anyway). A stage link that points anywhere else —
    dangling, or at another file — is replaced, and stages whose link
    dangles (their table is gone) are removed."""
    path = os.path.abspath(os.path.join(sf_dir, "events.parquet"))
    tmp = tempfile.gettempdir()
    for old in glob.glob(os.path.join(tmp, "hvmdp_stream_*", "events.parquet")):
        if os.path.lexists(old) and not os.path.exists(old):
            try:
                os.unlink(old)
                os.rmdir(os.path.dirname(old))
            except OSError:
                pass
    # Stable digest (not builtin hash(): str hashes are salted per process,
    # which would mint a fresh staging dir every run).
    digest = hashlib.md5(os.path.dirname(path).encode()).hexdigest()[:12]
    stage = os.path.join(tmp, f"hvmdp_stream_{digest}")
    os.makedirs(stage, exist_ok=True)
    link = os.path.join(stage, "events.parquet")
    try:
        current = os.readlink(link)
    except OSError:  # absent, or not a link
        current = None
    if current != path:
        # publish by rename: the hidden temp name is invisible to a file
        # stream already listing the stage
        tmp_link = os.path.join(stage, f".events.{uuid.uuid4().hex[:8]}")
        os.symlink(path, tmp_link)
        os.replace(tmp_link, link)
    raw_schema = read_parquet(spark, path).schema
    return normalize_event_ts(spark.readStream.schema(raw_schema).parquet(stage))


@query(
    "stream_tumbling_hourly",
    oracle="""
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def stream_tumbling_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour event-time windows per event_type with a 10-minute
    watermark; end state ≡ batch GROUP BY time bucket."""
    sdf = _events_stream(spark, sf_dir)
    agg = tumbling_window_agg(
        sdf,
        "ts",
        "1 hour",
        ["event_type"],
        [
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(_DEC)).cast("double").alias(
                "total_value"
            ),
        ],
    )
    out = run_to_memory_sink(agg, output_mode="complete")
    return out.select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "n_events",
        "total_value",
    ).orderBy("window_start", "event_type")


@query(
    "stream_sliding_counts",
    oracle="""
    WITH expanded AS (
      SELECT unnest([
               time_bucket(INTERVAL '30 minutes', ts),
               time_bucket(INTERVAL '30 minutes', ts) - INTERVAL '30 minutes'
             ]) AS window_start,
             event_type
      FROM events
    )
    SELECT window_start, event_type, COUNT(*) AS n_events
    FROM expanded
    GROUP BY window_start, event_type
    ORDER BY window_start, event_type
    """,
)
def stream_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (1 h length, 30 min slide): each event lands in two
    windows; oracle expands both buckets per event."""
    sdf = _events_stream(spark, sf_dir)
    agg = sliding_window_agg(
        sdf,
        "ts",
        "1 hour",
        "30 minutes",
        ["event_type"],
        [F.count(F.lit(1)).alias("n_events")],
    )
    out = run_to_memory_sink(agg, output_mode="complete")
    return out.select(
        F.col("window.start").alias("window_start"),
        "event_type",
        "n_events",
    ).orderBy("window_start", "event_type")


@query(
    "stream_session_windows",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL '2 hours'
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows (2 h inactivity gap) per user; oracle is
    the classic gaps-and-islands rewrite — same chaining rule (a row at
    exactly start+gap begins a NEW session; session windows are
    half-open)."""
    sdf = _events_stream(spark, sf_dir)
    agg = session_window_agg(
        sdf,
        "ts",
        "2 hours",
        ["user_id"],
        [F.count(F.lit(1)).alias("n_events")],
    )
    out = run_to_memory_sink(agg, output_mode="complete")
    return out.select(
        "user_id",
        F.col("session_window.start").alias("session_start"),
        "n_events",
    ).orderBy("user_id", "session_start")


@query(
    "stream_dedup_events",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value, props FROM events
    """,
)
def stream_dedup_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup on (user_id, event_type, ts) with a 1 h watermark —
    streaming analogue of W1. The testdata has no duplicate keys, so the
    end state equals the input (duplicates would be collapsed
    first-arrival-wins; the batch MERGE path reconciles late ones)."""
    sdf = _events_stream(spark, sf_dir)
    deduped = streaming_dedup(sdf, ["user_id", "event_type", "ts"], "ts", "1 hour")
    out = run_to_memory_sink(deduped, output_mode="append")
    return out.select("event_id", "ts", "user_id", "event_type", "value", "props")


@query(
    "stream_click_attribution",
    oracle="""
    SELECT c.event_id AS click_id,
           c.user_id,
           c.ts AS click_ts,
           p.event_id AS purchase_id,
           p.ts AS purchase_ts,
           p.value AS purchase_value
    FROM events c
    JOIN events p
      ON p.user_id = c.user_id
     AND p.ts > c.ts
     AND p.ts <= c.ts + INTERVAL 2 HOUR
    WHERE c.event_type = 'click' AND p.event_type = 'purchase'
    ORDER BY click_id, purchase_id
    """,
)
def stream_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join: clicks ⋈ purchases by user within a
    2-hour attribution window, watermarked on both sides so join state is
    bounded (streaming/joins.py). Inner joins emit on match, so the
    availableNow end state equals the batch join oracle exactly."""
    clicks = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "click"
    ).select(
        F.col("event_id").alias("click_id"),
        "user_id",
        F.col("ts").alias("click_ts"),
    )
    purchases = _events_stream(spark, sf_dir).filter(
        F.col("event_type") == "purchase"
    ).select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    joined = interval_join_streams(
        clicks,
        purchases,
        key="user_id",
        left_ts="click_ts",
        right_ts="purchase_ts",
        max_gap="2 hours",
        watermark="1 hour",
    )
    projected = joined.select(
        "click_id",
        F.col("l.user_id").alias("user_id"),
        "click_ts",
        "purchase_id",
        "purchase_ts",
        "purchase_value",
    )
    out = run_to_memory_sink(projected, output_mode="append")
    return out.orderBy("click_id", "purchase_id")


@query(
    "stream_static_nation_counts",
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', e.ts) AS day_start,
           n.n_name,
           COUNT(*) AS n_events
    FROM events e
    JOIN nation n ON n.n_nationkey = e.user_id % 25
    GROUP BY day_start, n_name
    ORDER BY day_start, n_name
    """,
)
def stream_static_nation_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC join: the event stream enriches against a batch dim
    (nation) joined per micro-batch as a broadcast hash join — no state,
    no watermark interaction (unlike stream-stream joins) — then a daily
    tumbling count per nation. This is the canonical streaming enrichment
    shape: at scale the dim is broadcast once per batch, the stream never
    shuffles for the join."""
    from high_volume_market_data_pipeline_spark.catalog import load_table

    sdf = _events_stream(spark, sf_dir).withColumn(
        "n_nationkey", F.pmod(F.col("user_id"), F.lit(25)).cast("long")
    )
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    enriched = sdf.join(F.broadcast(nation), "n_nationkey")
    agg = tumbling_window_agg(
        enriched,
        "ts",
        "1 day",
        ["n_name"],
        [F.count(F.lit(1)).alias("n_events")],
    )
    out = run_to_memory_sink(agg, output_mode="complete")
    return out.select(
        F.col("window.start").alias("day_start"), "n_name", "n_events"
    ).orderBy("day_start", "n_name")


@query(
    "stream_quality_ledger",
    oracle="""
    WITH v AS (
      SELECT
        CAST(SUM(CASE WHEN NOT COALESCE(
              event_type IN ('click','view','purchase','signup','error'),
              FALSE) THEN 1 ELSE 0 END) AS BIGINT) AS event_type_known,
        CAST(SUM(CASE WHEN NOT COALESCE(ts IS NOT NULL, FALSE)
              THEN 1 ELSE 0 END) AS BIGINT) AS ts_not_null,
        CAST(SUM(CASE WHEN NOT COALESCE(user_id > 0, FALSE)
              THEN 1 ELSE 0 END) AS BIGINT) AS user_id_positive,
        CAST(SUM(CASE WHEN NOT COALESCE(value >= 0, FALSE)
              THEN 1 ELSE 0 END) AS BIGINT) AS value_nonnegative,
        COUNT(*) AS n
      FROM events
    )
    SELECT rule, n AS n_rows, n_violations, n_violations = 0 AS passed
    FROM (
      SELECT 'event_type_known' AS rule, n, event_type_known
               AS n_violations FROM v
      UNION ALL
      SELECT 'ts_not_null', n, ts_not_null FROM v
      UNION ALL
      SELECT 'user_id_positive', n, user_id_positive FROM v
      UNION ALL
      SELECT 'value_nonnegative', n, value_nonnegative FROM v
    )
    ORDER BY rule
    """,
)
def stream_quality_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming data-quality gate, end-state-checked: the events stream
    runs through streaming/quality.monitor_expectations (foreachBatch →
    check_expectations per micro-batch → one ledger-table commit per batch
    id), then the
    ledger is folded over batches into one row per rule — which must equal
    the batch expectation report DuckDB computes over the full table.

    This is the composition the module docstrings promise (batch DQ
    operator reused verbatim per micro-batch); registering it makes the
    gate itself an oracle-checked query rather than pytest-only. The
    per-batch report is rule-count-sized, so the ledger fold costs nothing
    at any stream rate; violation counts are integers — no float risk."""
    import tempfile

    rules = {
        "event_type_known": F.col("event_type").isin(
            "click", "view", "purchase", "signup", "error"
        ),
        "ts_not_null": F.col("ts").isNotNull(),
        "user_id_positive": F.col("user_id") > 0,
        "value_nonnegative": F.col("value") >= 0,
    }
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )
    from high_volume_market_data_pipeline_spark.streaming.quality import (
        monitor_expectations,
    )

    sdf = _events_stream(spark, sf_dir)
    scratch = tempfile.mkdtemp(prefix="hvmdp_dq_ledger_")
    ledger_path = os.path.join(scratch, "ledger")
    q = monitor_expectations(
        sdf,
        rules,
        log_path=ledger_path,
        checkpoint=os.path.join(scratch, "ckpt"),
    )
    q.awaitTermination()
    ledger = VersionedParquetTable(ledger_path).read(spark)
    return (
        ledger.groupBy("rule")
        .agg(
            F.sum("n_rows").alias("n_rows"),
            F.sum("n_violations").alias("n_violations"),
        )
        .withColumn("passed", F.col("n_violations") == 0)
        .orderBy("rule")
    )


@query("stream_distinct_sketch_state")
def stream_distinct_sketch_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming mergeable-sketch state, end-state-checked: the events
    stream folds into a persisted (event_type, day) HLL sketch table via
    streaming/sketch_state.stream_hll_state (foreachBatch → per-batch
    rollup → union with state → versioned commit), then the DAILY state is
    re-sliced to per-event_type distinct-user estimates by sketch union
    alone — the stream is never replayed, which is the whole point of
    keeping sketch state instead of a number.

    Estimates are DataSketches-impl-specific ⇒ rows-only gate; pytest pins
    the strong properties: end-state estimate ≡ the direct batch sketch
    over the same rows (union exactness) and replay idempotence (HLL union
    is a join-semilattice — at-least-once delivery converges)."""
    import shutil
    import tempfile

    from high_volume_market_data_pipeline_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
    )
    from high_volume_market_data_pipeline_spark.streaming.sketch_state import (
        stream_hll_state,
    )

    sdf = _events_stream(spark, sf_dir).withColumn("day", F.to_date("ts"))
    scratch = tempfile.mkdtemp(prefix="hvmdp_sketch_state_")
    try:
        q = stream_hll_state(
            sdf,
            ["event_type", "day"],
            "user_id",
            table_root=os.path.join(scratch, "state"),
            checkpoint=os.path.join(scratch, "ckpt"),
        )
        q.awaitTermination()
        from high_volume_market_data_pipeline_spark.sinks.history import (
            VersionedParquetTable,
        )

        state = VersionedParquetTable(os.path.join(scratch, "state")).read(
            spark
        )
        out = (
            hll_merge(state, ["event_type"])
            .select(
                "event_type", hll_estimate(F.col("sketch")).alias("approx_users")
            )
            .orderBy("event_type")
        )
        # materialize before the scratch dir (state files) disappears
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


def _stream_admission_oracle() -> str:
    """DuckDB twin of the TWO-increment streaming admission: batch 1 is
    the fresh docs at or below the exact median id, batch 2 the rest
    plus the three re-sends; batch 2 probes a store GROWN by batch 1's
    admissions. Each increment replays the same relational rules as the
    batch-path oracle (queries_dedup._admission_oracle): within-batch
    pair-loser under the batch bucket cap, then a store band probe under
    the store bucket cap, max-est/min-id report rows, admit the rest —
    all md5-deterministic, so the decision LEDGER (not just its shape)
    hash-checks. The rollup mirrors the query's per-decision summary."""
    from high_volume_market_data_pipeline_spark.queries_dedup import (
        _BANDS_SQL,
        _SIG_SQL,
        shingles_cte,
    )

    def increment(tag: str, batch_pred: str, store_ids: str) -> str:
        return f"""
    n{tag} AS (
      SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_key) AS bn
        FROM banded WHERE {batch_pred}
      ) WHERE bn <= 1000
    ), bscored{tag} AS (
      SELECT id_a, id_b,
             ROUND(len(list_filter(range(1, 9), i -> sa.sig[i] = sb.sig[i]))
                   / 8.0, 6) AS est_jaccard
      FROM (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM n{tag} a JOIN n{tag} b USING (band_key)
        WHERE a.doc_id < b.doc_id
      )
      JOIN sig sa ON sa.doc_id = id_a
      JOIN sig sb ON sb.doc_id = id_b
    ), batch_loser{tag} AS (
      SELECT doc_id, matched_id, est_jaccard FROM (
        SELECT id_b AS doc_id, id_a AS matched_id, est_jaccard,
               ROW_NUMBER() OVER (
                 PARTITION BY id_b ORDER BY est_jaccard DESC, id_a
               ) AS rn
        FROM bscored{tag} WHERE est_jaccard >= 0.9
      ) WHERE rn = 1
    ), s{tag} AS (
      SELECT * FROM (
        SELECT *, COUNT(*) OVER (PARTITION BY band_key) AS bn
        FROM banded WHERE doc_id IN ({store_ids})
      ) WHERE bn <= 1000
    ), pscored{tag} AS (
      SELECT p.doc_id, p.matched_id,
             ROUND(len(list_filter(range(1, 9), i -> sa.sig[i] = sb2.sig[i]))
                   / 8.0, 6) AS est_jaccard
      FROM (
        SELECT DISTINCT n.doc_id AS doc_id, s.doc_id AS matched_id
        FROM banded n JOIN s{tag} s USING (band_key)
        WHERE ({batch_pred.replace('doc_id', 'n.doc_id')})
          AND n.doc_id NOT IN (SELECT doc_id FROM batch_loser{tag})
      ) p
      JOIN sig sa ON sa.doc_id = p.doc_id
      JOIN sig sb2 ON sb2.doc_id = p.matched_id
    ), store_loser{tag} AS (
      SELECT doc_id, matched_id, est_jaccard FROM (
        SELECT doc_id, matched_id, est_jaccard,
               ROW_NUMBER() OVER (
                 PARTITION BY doc_id ORDER BY est_jaccard DESC, matched_id
               ) AS rn
        FROM pscored{tag} WHERE est_jaccard >= 0.9
      ) WHERE rn = 1
    ), admitted{tag} AS (
      SELECT doc_id FROM all_src
      WHERE ({batch_pred})
        AND doc_id NOT IN (SELECT doc_id FROM batch_loser{tag})
        AND doc_id NOT IN (SELECT doc_id FROM store_loser{tag})
    )"""

    b1 = (
        "doc_id >= 250 AND doc_id < 1000000 "
        "AND doc_id <= (SELECT m FROM mid)"
    )
    b2 = (
        "(doc_id >= 250 AND doc_id < 1000000 "
        "AND doc_id > (SELECT m FROM mid)) OR doc_id >= 1000000"
    )
    return f"""
    WITH all_src AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, text FROM documents WHERE doc_id < 3
    ),
    {shingles_cte("all_src")},
    sig AS (
      SELECT doc_id, {_SIG_SQL} AS sig FROM sh
    ), banded AS (
      SELECT doc_id, sig, unnest({_BANDS_SQL}) AS band_key FROM sig
    ), mid AS (
      SELECT quantile_cont(doc_id, 0.5) AS m
      FROM documents WHERE doc_id >= 250
    ),
    {increment("1", b1, "SELECT doc_id FROM all_src WHERE doc_id < 250")},
    {increment(
        "2",
        b2,
        "SELECT doc_id FROM all_src WHERE doc_id < 250 "
        "UNION ALL SELECT doc_id FROM admitted1",
    )}
    SELECT decision,
           COUNT(*) AS n_docs,
           MIN(doc_id) AS min_doc_id,
           MAX(doc_id) AS max_doc_id
    FROM (
      SELECT doc_id, 'admitted' AS decision FROM admitted1
      UNION ALL SELECT doc_id, 'admitted' FROM admitted2
      UNION ALL SELECT doc_id, 'within_batch' FROM batch_loser1
      UNION ALL SELECT doc_id, 'within_batch' FROM batch_loser2
      UNION ALL SELECT doc_id, 'vs_store' FROM store_loser1
      UNION ALL SELECT doc_id, 'vs_store' FROM store_loser2
    )
    GROUP BY decision
    ORDER BY decision
    """


@query(
    "stream_incremental_dedup_admission",
    oracle=_stream_admission_oracle(),
)
def stream_incremental_dedup_admission(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Continuous-ingest near-dup admission
    (streaming/incremental.stream_incremental_dedup): bootstrap the
    SignatureStore from the first half of the documents corpus, stream
    the second half (staged as two arrival files → two micro-batches,
    maxFilesPerTrigger=1) plus three exact re-sends of stored docs, and
    return the decision ledger rolled up per decision — the re-sends
    must land as vs_store rejections at est 1.0, and every fresh doc's
    decision must equal what the BATCH path decides for the same input
    (the foreachBatch bridge reuses dedup_increment verbatim).

    FULL-ORACLE since r10 (was rows-only): both increments' decision
    sets are md5-deterministic, so the oracle replays them relationally
    — batch 2 probing a store GROWN by batch 1's admissions — and the
    driver hash pins the rolled-up ledger end to end through the
    streaming bridge. The replay/restart contract (same checkpoint →
    only unseen files; a replayed batch's ledger commit skipped by its
    query id and batch id) is pinned in tests/test_streaming.py."""
    import shutil
    import tempfile

    from high_volume_market_data_pipeline_spark.catalog import load_table
    from high_volume_market_data_pipeline_spark.dedup.incremental import (
        SignatureStore,
    )
    from high_volume_market_data_pipeline_spark.streaming.incremental import (
        stream_incremental_dedup,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    half = 250
    base = docs.filter(F.col("doc_id") < half)
    fresh = docs.filter(F.col("doc_id") >= half)
    resends = base.filter(F.col("doc_id") < 3).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    scratch = tempfile.mkdtemp(prefix="hvmdp_stream_dedup_")
    try:
        store = SignatureStore(os.path.join(scratch, "sigs"))
        store.bootstrap(base)
        # stage two arrival files -> two micro-batches
        arrivals = os.path.join(scratch, "arrivals")
        mid = fresh.select(F.expr("percentile(doc_id, 0.5)")).first()[0]
        fresh.filter(F.col("doc_id") <= mid).coalesce(1).write.mode(
            "append"
        ).parquet(arrivals)
        fresh.filter(F.col("doc_id") > mid).unionByName(resends).coalesce(
            1
        ).write.mode("append").parquet(arrivals)
        sdf = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", "1")
            .parquet(arrivals)
        )
        q = stream_incremental_dedup(
            sdf,
            store,
            out_root=os.path.join(scratch, "ledger"),
            checkpoint=os.path.join(scratch, "ckpt"),
            threshold=0.9,
        )
        q.awaitTermination()
        from high_volume_market_data_pipeline_spark.streaming.incremental import (
            read_ledger,
        )

        rejected = read_ledger(spark, os.path.join(scratch, "ledger"), "rejected")
        admitted = read_ledger(spark, os.path.join(scratch, "ledger"), "admitted")
        out = (
            admitted.select("doc_id", F.lit("admitted").alias("decision"))
            .unionByName(rejected.select("doc_id", F.col("reason").alias("decision")))
            .groupBy("decision")
            .agg(
                F.count(F.lit(1)).alias("n_docs"),
                F.min("doc_id").alias("min_doc_id"),
                F.max("doc_id").alias("max_doc_id"),
            )
            .orderBy("decision")
        )
        # materialize before the scratch dir (ledger files) disappears
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


_INGEST_ORACLE = """
    WITH seed AS (
        SELECT count(*) AS n FROM embeddings WHERE vec_id < 300
    ),
    arr AS (
        SELECT vec_id,
               substr(md5(CAST(vec_id AS VARCHAR)), 1, 1) <= '7' AS b0
        FROM embeddings WHERE vec_id >= 300
    )
    SELECT CAST(-1 AS BIGINT) AS version,
           'SEARCHED_ROWS' AS operation,
           CAST(3 * least(5, (SELECT count(*) FROM arr)) AS BIGINT)
               AS n_rows
    UNION ALL
    SELECT 0, '{build_op}', (SELECT n FROM seed)
    UNION ALL
    SELECT 1, '{append_op}',
           (SELECT n FROM seed)
           + (SELECT count(*) FROM arr WHERE b0)
    UNION ALL
    SELECT 2, '{append_op}',
           (SELECT n FROM seed) + (SELECT count(*) FROM arr)
    ORDER BY version
"""


def _two_batch_arrivals(arriving: DataFrame, scratch: str) -> str:
    """Stage ``arriving`` as TWO parquet files whose micro-batch
    membership is an md5 bucket of the id — deterministic and
    SQL-replayable (the same move that oracle-ized the incremental-dedup
    admission queries), unlike a ``repartition(2)`` file split. File
    order is pinned by both mtime and path so ``maxFilesPerTrigger=1``
    always streams bucket 0 first."""
    import shutil
    import time

    key = F.substring(F.md5(F.col("vec_id").cast("string")), 1, 1)
    arrivals = os.path.join(scratch, "arrivals")
    os.makedirs(arrivals)
    now = time.time()
    for i, part in enumerate(
        (arriving.filter(key <= "7"), arriving.filter(key > "7"))
    ):
        stage = os.path.join(scratch, f"stage{i}")
        part.coalesce(1).write.parquet(stage)
        src = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
        dst = os.path.join(arrivals, f"batch{i}.parquet")
        shutil.copyfile(os.path.join(stage, src), dst)
        os.utime(dst, (now - 120 + 60 * i, now - 120 + 60 * i))
    return arrivals


def _index_ingest(spark: SparkSession, sf_dir: str, build, search) -> DataFrame:
    """The body of the ``stream_*_index_ingest`` rows: train + persist
    ``build(seed)`` on the first 300 embeddings, stream the rest in two
    micro-batches through ``vector_ingest.stream_append_index`` (each an
    atomic versioned append encoded with the STORED model — FAISS
    train/add separation), then ``search(queries, corpus, index)`` the
    final loaded index. Returns one row per index version (operation +
    coded-table cardinality at that version) plus a searched-rows
    summary row — the commit trail IS the contract: v0 build, one append
    per micro-batch, monotone coded counts, replay converging on the id
    anti-join (pinned in tests/test_index_store.py).

    Full oracle: micro-batch membership is an md5 bucket of vec_id
    (``_two_batch_arrivals``), so DuckDB replays the whole commit trail —
    per-version cardinalities and the searched-rows count — relationally."""
    import shutil
    import tempfile

    from high_volume_market_data_pipeline_spark.catalog import load_table
    from high_volume_market_data_pipeline_spark.similarity import (
        load_index,
        save_index,
    )
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )
    from high_volume_market_data_pipeline_spark.streaming.vector_ingest import (
        stream_append_index,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    seed = emb.filter(F.col("vec_id") < 300)
    arriving = emb.filter(F.col("vec_id") >= 300)
    scratch = tempfile.mkdtemp(prefix="hvmdp_index_ingest_")
    try:
        root = os.path.join(scratch, "index")
        save_index(build(seed), root)
        arrivals = _two_batch_arrivals(arriving, scratch)
        sdf = (
            spark.readStream.schema(arriving.schema)
            .option("maxFilesPerTrigger", "1")
            .parquet(arrivals)
        )
        q = stream_append_index(
            sdf, root, checkpoint=os.path.join(scratch, "ckpt")
        )
        q.awaitTermination()

        coded_tbl = VersionedParquetTable(os.path.join(root, "coded"))
        # Per-version cardinality from the manifest's n_rows (parquet
        # footers summed at commit time) — one metadata probe per version
        # instead of a chain-union read + count() Spark job per version
        # (3 jobs here; equal values by construction, see row_count).
        versions = [
            (
                int(r["version"]),
                r["operation"],
                coded_tbl.row_count(spark, version=int(r["version"])),
            )
            for r in coded_tbl.history(spark).collect()
        ]
        searched = search(
            emb.filter(F.col("vec_id") >= 300).limit(5),
            emb,
            load_index(spark, root),
        ).count()
        out = spark.createDataFrame(
            [(v, op, n) for v, op, n in versions]
            + [(-1, "SEARCHED_ROWS", searched)],
            "version long, operation string, n_rows long",
        ).orderBy("version")
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)


@query(
    "stream_pq_index_ingest",
    oracle=_INGEST_ORACLE.format(build_op="PQ_CODED", append_op="PQ_APPEND"),
)
def stream_pq_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous vector-store ingestion into a PQ index: each micro-batch
    is encoded with the STORED codebooks (``_index_ingest``)."""
    from high_volume_market_data_pipeline_spark.similarity import (
        build_pq_index,
        pq_knn,
    )

    return _index_ingest(
        spark,
        sf_dir,
        lambda seed: build_pq_index(seed, n_codes=16),
        lambda q, emb, idx: pq_knn(q, emb, k=3, n_codes=16, index=idx),
    )


@query(
    "stream_ivf_index_ingest",
    oracle=_INGEST_ORACLE.format(
        build_op="IVF_CODED", append_op="IVF_APPEND"
    ),
)
def stream_ivf_index_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous ingestion into the CELL-PARTITIONED IVF index: each
    micro-batch is assigned to STORED centroids (no refit) and
    CAS-committed as a hive-partitioned delta onto the coded table, so
    the storage-pruned search family keeps its layout through continuous
    ingest (``_index_ingest``)."""
    from high_volume_market_data_pipeline_spark.similarity import (
        build_ivf_index,
        ivf_knn,
    )

    return _index_ingest(
        spark,
        sf_dir,
        lambda seed: build_ivf_index(seed, n_cells=8),
        lambda q, emb, idx: ivf_knn(q, emb, k=3, n_cells=8, index=idx),
    )


@query(
    "stream_table_appends",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderkey % 100 = 0
    ORDER BY o_orderkey
    """,
)
def stream_table_appends(spark: SparkSession, sf_dir: str) -> DataFrame:
    """readStream over the VERSIONED TABLE (sources/table_datasource.py) —
    Delta streaming-source parity on the manifest log: the initial
    snapshot is emitted in full, each append emits exactly its delta
    dirs' rows (executor-side pyarrow reads, offsets = version numbers),
    the COMPACT in the middle is structurally detected as a change
    commit and skipped, and the final append triggers a CHAIN FOLD
    (max_chain) — a commit that rewrites the parent chain AND carries new
    rows; the stream must emit exactly its ``fresh_dirs``. The fixture
    splits a deterministic orders slice into snapshot + appends around a
    compaction and a fold, so the availableNow end state equals the whole
    slice exactly once — double-emission of rewritten rows, a missed
    delta, or a dropped fold delta all break the driver hash."""
    import shutil
    import tempfile

    from high_volume_market_data_pipeline_spark.catalog import load_table
    from high_volume_market_data_pipeline_spark.sinks.history import (
        VersionedParquetTable,
    )
    from high_volume_market_data_pipeline_spark.sources.table_datasource import (
        register_table_stream,
    )

    root = os.path.join(tempfile.gettempdir(), "hvmdp_table_stream_demo")
    shutil.rmtree(root, ignore_errors=True)
    table = VersionedParquetTable(root)
    base = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") % 100 == 0)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    table.write(base.filter(F.col("o_orderkey") % 3 == 0), "WRITE")
    table.append(base.filter(F.col("o_orderkey") % 3 == 1), "APPEND")
    table.compact(spark)  # change commit: rewrites rows already streamed
    table.append(base.filter(F.col("o_orderkey") % 9 == 2), "APPEND")
    # parent now references 2 dirs -> max_chain=2 makes this a FOLD
    # commit: [folded parent, fresh delta] with fresh_dirs recorded
    table.append(
        base.filter(
            (F.col("o_orderkey") % 9 == 5) | (F.col("o_orderkey") % 9 == 8)
        ),
        "APPEND",
        max_chain=2,
    )

    register_table_stream(spark)
    sdf = spark.readStream.format("table_stream").option("root", root).load()
    out = run_to_memory_sink(sdf, output_mode="append")
    return out.orderBy("o_orderkey")
