"""Incremental near-dup: dedup NEW batches against a persisted signature
store — the production shape of corpus dedup.

`lsh_candidate_pairs` (dedup/minhash.py) is the right tool the FIRST time
a corpus is deduped; but a living corpus ingests daily increments, and
recomputing shingles+signatures for 100 TB of already-admitted text per
batch is the canonical accidental-quadratic of data pipelines. The fix is
the same one every production dedup service uses: signatures are computed
ONCE per document and persisted banded (id, sig, band_key); an increment

1. computes signatures only for the NEW batch,
2. resolves within-batch near-dups (standard banded pair path, keep min
   id), then
3. equi-joins the survivors' band keys against the STORE (the store side
   never recomputes text — it is keys + k-component signatures only, a
   few hundred bytes per document regardless of document size), and
4. appends the admitted documents' signatures back to the store.

At scale the store is written partitioned by a band_key prefix so the
increment join prunes to matching partitions; the text of the historical
corpus is never read again. Determinism: signatures are md5-derived
(engine-exact), keep-decisions are min-id, and admission is a pure
function of (store state, batch) — re-running an increment admits the
same set.
"""

from __future__ import annotations

import json
import os
import warnings
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from high_volume_market_data_pipeline_spark.dedup.minhash import (
    DEFAULT_BANDS,
    DEFAULT_K,
    DEFAULT_SHINGLE,
    band_keys_column,
    lsh_candidate_pairs,
    minhash_signature,
)
from high_volume_market_data_pipeline_spark.sinks.table_format import (
    footer_rows,
    parquet_files,
)

# Spark's parquet reader ignores underscore-prefixed files, so the sidecar
# can live inside the store directory without affecting reads.
_ROW_COUNT_SIDECAR = "_store_rows.json"


class SignatureStore:
    """Persisted banded MinHash signatures: (doc_id, sig, band_key), one
    row per (doc, band). ``bootstrap`` seeds it from an initial corpus;
    ``dedup_increment`` admits a new batch against it."""

    # Scope the per-increment STORE passes (degenerate-bucket guard, probe,
    # replay-hygiene id set) to the batch's keys only once the store is at
    # least this many physical rows. Below it, a full-store pass is cheaper
    # than building the batch-key broadcast the scoping needs (the guard
    # agg on a 1k-row store costs less than one broadcast-build job); above
    # it, the unscoped guard is an O(store) aggregation shuffle on EVERY
    # micro-batch — the accidental per-batch full pass this module exists
    # to avoid. The threshold compares store size against the fixed cost
    # of one broadcast build, so it is scale-adaptive, not tuned to local
    # core count; the store size is read from a sidecar row count the
    # writers maintain (no job, no footer walk).
    scope_store_min_rows = 200_000

    # The scoped branch force-broadcasts the batch's band keys (and the
    # admitted-id set); a broadcast only makes sense for batches that are
    # micro-batch-scale relative to the store. Above this many batch DOCS
    # (~4x as many band keys) the increment falls back to the full-store
    # pass: a batch this large amortizes the O(store) guard aggregation,
    # while forcing a multi-GB broadcast would risk driver memory and
    # Spark's 8 GB broadcast cap (r13, ADVICE). The batch row count is
    # known for free — the signature cache is materialized by an eager
    # count that every consumer needs anyway.
    scope_batch_max_docs = 500_000

    # Target banded-signature rows per store file for increment appends
    # (~100 B/row ⇒ ~100 MB files, guide §6's output sizing band).
    _STORE_ROWS_PER_FILE = 1_000_000

    def __init__(
        self,
        path: str,
        k: int = DEFAULT_K,
        bands: int = DEFAULT_BANDS,
        shingle: int = DEFAULT_SHINGLE,
    ):
        if k % bands != 0:
            raise ValueError("k must be divisible by bands")
        if urlparse(path).scheme:
            # os.walk lists nothing under s3a://, hdfs://, ...: the row
            # count reads 0, so every increment takes the full-store pass
            warnings.warn(
                f"SignatureStore {path}: a path with a URI scheme cannot "
                "be listed locally, so every increment takes the "
                "full-store pass",
                stacklevel=2,
            )
        self.path = path
        self.k = k
        self.bands = bands
        self.shingle = shingle

    # -- store row count (sidecar, no Spark job) ---------------------------

    def _sidecar_path(self) -> str:
        return os.path.join(self.path, _ROW_COUNT_SIDECAR)

    def _write_sidecar(self, rows: int, files: int) -> None:
        tmp = self._sidecar_path() + ".tmp"
        with open(tmp, "w") as fh:
            json.dump({"rows": int(rows), "files": int(files)}, fh)
        os.replace(tmp, self._sidecar_path())

    def _physical_rows(self, files: list[str] | None = None) -> int:
        """Store row count for the scope-vs-full decision, from the sidecar
        bootstrap and appends maintain (one json read, no Spark job, no
        footer walk). ``files`` is a listing of the store the caller
        already took. The sidecar records the file count it describes;
        when the live count differs (an external writer, an append that
        landed without bumping the sidecar) or the sidecar is missing,
        ONE footer walk reseeds it. The count only gates which of two
        result-identical branches runs, so a stale count costs
        performance, never correctness."""
        if files is None:
            files = parquet_files(self.path)
        try:
            with open(self._sidecar_path()) as fh:
                side = json.load(fh)
            if int(side["files"]) == len(files):
                return int(side["rows"])
        except (OSError, ValueError, KeyError, TypeError):
            pass
        rows = footer_rows(files)
        try:
            self._write_sidecar(rows, len(files))
        except OSError:
            pass  # read-only store: fall back to walking next time
        return rows

    def _banded_signatures(
        self, docs: DataFrame, text_col: str, id_col: str
    ) -> DataFrame:
        sig = minhash_signature(docs, text_col, id_col, self.k, self.shingle)
        return sig.select(
            F.col(id_col).alias("doc_id"),
            "sig",
            F.explode(band_keys_column(self.k, self.bands)).alias("band_key"),
        )

    def exists(self, spark: SparkSession) -> bool:
        from pyspark.errors import AnalysisException

        try:
            spark.read.parquet(self.path).limit(1).collect()
            return True
        except AnalysisException:
            # path-not-found / empty-dir: the store genuinely isn't there.
            # Anything else (IO, permissions, executor loss) must PROPAGATE:
            # returning False tells callers to bootstrap(), and bootstrap
            # overwrites — a transient error must never be converted into
            # an instruction to destroy the corpus signature history.
            return False

    def read(self, spark: SparkSession) -> DataFrame:
        return spark.read.parquet(self.path)

    def bootstrap(
        self, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
    ) -> None:
        """Seed the store from an initial (already-deduped) corpus. The
        one full-corpus signature computation ever run."""
        banded = self._banded_signatures(docs, text_col, id_col)
        # Size the store's FILE COUNT to the corpus' own scan layout
        # (guide §6): without this the banded frame inherits the
        # signature compute's session-parallelism fan-out, so a
        # metadata-scale seed corpus lands as ~cores near-empty files
        # that EVERY subsequent probe scan, guard aggregation, and
        # footer walk then pays per increment. A 100 TB corpus has
        # thousands of input splits and keeps thousands of store files.
        banded = banded.repartition(max(1, docs.rdd.getNumPartitions()))
        banded.write.mode("overwrite").parquet(self.path)
        # seed the row-count sidecar: one footer pass over the files just
        # written (bootstrap-only; increments maintain it incrementally)
        files = parquet_files(self.path)
        self._write_sidecar(footer_rows(files), len(files))

    def dedup_increment(
        self,
        new_docs: DataFrame,
        text_col: str = "text",
        id_col: str = "doc_id",
        threshold: float = 0.5,
        max_bucket: int = 1000,
        skip_existing_ids: bool = False,
    ) -> tuple[DataFrame, DataFrame]:
        """Admit a new batch: returns ``(admitted, rejected)`` where
        ``admitted`` is the subset of ``new_docs`` that near-duplicates
        neither the store nor a smaller-id doc of the same batch (the
        same deterministic pair-loser rule as exact_dedup: a doc is kept
        iff it has no near-dup partner with a smaller id — for transitive
        cluster semantics, run dedup/clustering on the batch first), and
        ``rejected`` is (doc_id, matched_id, est_jaccard, reason) for the
        rest. Admitted signatures are appended to the store as a side
        effect.

        Cost model: signature compute is batch-sized; the store join is a
        band-key equi-join shipping (key, sig) only — historical TEXT is
        never re-read, which is the whole point at 100 TB.

        Every admission DECISION is pinned in one eagerly-materialized
        ledger before the signature append (r13): ``rejected`` is a
        filter of that ledger and ``admitted`` a lazy anti-join of
        ``new_docs`` against it, so neither output ever re-reads the
        store files after the append (callers may even delete the store;
        the decisions cannot drift). Because ``admitted`` is lazy, each
        action over it re-evaluates ``new_docs`` — pass a materialized
        (cached/checkpointed) frame if that input is expensive or
        non-deterministic.

        ``skip_existing_ids=True`` makes the increment REPLAYABLE (the
        streaming path's at-least-once contract): a doc whose id is
        already in the store never matches ITSELF (self-pairs are always
        excluded), its signatures are not appended twice, and because
        store-probe and within-batch estimates share the same signature
        arithmetic, a replayed batch admits exactly the set the first
        run admitted. Costs one (doc_id)-projection semi-join against
        the store per batch — skip it for the pure-batch path where ids
        are disjoint by construction."""
        from high_volume_market_data_pipeline_spark.operators.layout import (
            data_scoped_shuffle,
        )

        spark = new_docs.sparkSession
        caches: list[DataFrame] = []
        # Size every post-signature shuffle to the BATCH, not the session:
        # the increment runs ~a dozen shuffle stages over micro-batch-sized
        # key/signature rows (measured ~30 jobs per increment under AQE vs
        # ~10 static). The signature md5 compute is scan-side and unaffected.
        try:
            with data_scoped_shuffle(
                spark, new_docs.rdd.getNumPartitions()
            ):
                return self._dedup_increment(
                    spark, new_docs, text_col, id_col, threshold,
                    max_bucket, caches, skip_existing_ids,
                )
        finally:
            # The decision ledger is localCheckpoint-pinned and the store
            # append completed before we get here, so dropping the
            # signature/pair caches cannot trigger recompute of anything
            # store-dependent; a long-lived ingest driver calling this per
            # batch must not accumulate cached blocks without bound.
            for c in caches:
                c.unpersist()

    def _dedup_increment(
        self,
        spark: SparkSession,
        new_docs: DataFrame,
        text_col: str,
        id_col: str,
        threshold: float,
        max_bucket: int,
        caches: list[DataFrame],
        skip_existing_ids: bool = False,
    ) -> tuple[DataFrame, DataFrame]:
        from pyspark import StorageLevel

        from high_volume_market_data_pipeline_spark.operators.layout import (
            ensure_parallelism,
        )

        # The batch signatures feed THREE consumers (the within-batch pair
        # path, the store probe, and the admitted-signature append), so
        # compute them ONCE here and hand them to lsh_candidate_pairs
        # explicitly — re-deriving from text per consumer would triple the
        # most expensive step (~3 s each at the 10x tier). Compute WIDE
        # (md5 shingling is the CPU-dense step; ensure_parallelism fans a
        # narrow input out to the cluster) but CACHE COMPACT: half a
        # dozen later stages re-scan this cache for metadata-scale work
        # (survivor anti-join, band explode, append projection, id sets)
        # and each re-scan costs one task launch per cached partition, so
        # the cache partition count follows the input's own scan layout
        # (data-sized — thousands of splits at 100 TB, a handful on a
        # micro-batch), not the session's parallelism.
        cache_parts = max(8, new_docs.rdd.getNumPartitions())
        batch_sig = (
            minhash_signature(
                ensure_parallelism(new_docs), text_col, id_col, self.k,
                self.shingle,
            )
            .repartition(cache_parts)
            .persist(StorageLevel.MEMORY_AND_DISK)
        )
        caches.append(batch_sig)

        # 1. within-batch near-dups: a doc is a loser iff it near-dups any
        # smaller-id batch doc. The report keeps ONE row per loser (the
        # admission contract is one decision row per incoming doc): same
        # deterministic best-match rule as the store path — max est_jaccard,
        # then min matched_id. Without this a doc near-duping two smaller-id
        # partners emitted two rejected rows.
        batch_pairs = lsh_candidate_pairs(
            new_docs, text_col, id_col, self.k, self.bands, self.shingle,
            max_bucket, cache_registry=caches, signatures=batch_sig,
        ).filter(F.col("est_jaccard") >= threshold)
        wb = Window.partitionBy("doc_id").orderBy(
            F.col("est_jaccard").desc(), F.col("matched_id")
        )
        batch_loser = (
            batch_pairs.select(
                F.col("id_b").alias("doc_id"),
                F.col("id_a").alias("matched_id"),
                "est_jaccard",
                F.lit("within_batch").alias("reason"),
            )
            .withColumn("_rn", F.row_number().over(wb))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
            # The FIRST of the increment's two eager barriers (the second
            # is the admission ledger below): the pair-join subtree feeds
            # two ledger branches (its own loser rows AND the survivor
            # anti-join under the store probe), and measured without a
            # barrier the single ledger job re-evaluated it concurrently
            # before any cache could fill — 3.7 s vs 1.0 s for the ledger
            # materialization at sf0.1. Checkpoint (not persist) also
            # truncates the pair lineage, keeping the downstream AQE plan
            # small.
            .localCheckpoint(eager=True)
        )
        # The batch-size gate below reads the row count from the signature
        # cache the pair job just materialized — metadata-speed, and the
        # one place the increment learns the batch's scale without an
        # extra cold job.
        n_batch_docs = batch_sig.count()

        # 2. store probe: band-key equi-join, est_jaccard from signatures.
        # Survivor signatures = batch signatures minus within-batch losers
        # (no pass over new_docs — the probe needs ids + sigs only).
        surv_sig = batch_sig.join(
            batch_loser.select(F.col("doc_id").alias(id_col)),
            id_col,
            "left_anti",
        )
        new_banded = surv_sig.select(
            F.col(id_col).alias("doc_id"),
            "sig",
            F.explode(band_keys_column(self.k, self.bands)).alias("band_key"),
        )
        store = self.read(spark)
        # Scope the store-side passes to the BATCH'S band keys once the
        # store is big enough for those passes to matter (sidecar row
        # count — no job) AND the batch is micro-batch-scale (the exact
        # count above — a forced broadcast of a store-scale batch's keys
        # would risk driver memory; such a batch amortizes the full-store
        # guard instead). Pre-r12 the degenerate-bucket guard below
        # ALWAYS aggregated the WHOLE store — an O(corpus) groupBy
        # shuffle on every micro-batch of a continuous-ingest stream, the
        # accidental per-batch full pass this module's own docstring
        # warns about (guide §2.3: aggregate/shuffle only the bytes the
        # decision needs). A broadcast semi-join on the batch's
        # (micro-batch-sized) key set keeps every store row of those
        # keys, so per-key bucket counts — and therefore the candidate
        # set and replay convergence — are byte-identical in both
        # branches (pinned by
        # tests/test_dedup_similarity.py::test_scoped_store_probe_equivalence).
        files_before = parquet_files(self.path)
        store_rows = self._physical_rows(files_before)
        scope_store = (
            store_rows >= self.scope_store_min_rows
            and n_batch_docs <= self.scope_batch_max_docs
        )
        if scope_store:
            batch_keys = new_banded.select("band_key").distinct()
            probe_base = store.join(
                F.broadcast(batch_keys), "band_key", "leftsemi"
            )
        else:
            probe_base = store
        # SYMMETRIC degenerate-bucket guard: the within-batch path drops
        # buckets over max_bucket before pair expansion; the store probe
        # must apply the SAME cap. Without it (a) a boilerplate band key
        # whose store bucket only GROWS over batches eventually recreates
        # the junk-pair blowup the within-batch guard exists for, and
        # (b) replay convergence breaks: docs admitted on the first run
        # because their oversized bucket was dropped within-batch would
        # match each other THROUGH THE STORE on replay and flip to
        # rejected.
        oversized = (
            probe_base.groupBy("band_key")
            .count()
            .filter(F.col("count") > max_bucket)
            .select("band_key")
        )
        # the guard applies to the PROBE only — the replay-hygiene id
        # semi-join below must still see every stored id, or a doc whose
        # band keys are all oversized would re-append on replay
        probe_store = probe_base.join(oversized, "band_key", "left_anti")
        cand = new_banded.alias("n").join(probe_store.alias("s"), "band_key")
        if skip_existing_ids:
            # replay-safe mode: a replayed doc's own signatures are in the
            # store; matching itself (est 1.0) would flip an admitted doc
            # to rejected on replay. In the batch mode the self-match IS
            # the dup signal for a re-sent id, so the filter is gated.
            cand = cand.filter(F.col("n.doc_id") != F.col("s.doc_id"))
        cand = cand.select(
            F.col("n.doc_id").alias("doc_id"),
            F.col("s.doc_id").alias("matched_id"),
            F.col("n.sig").alias("sig_n"),
            F.col("s.sig").alias("sig_s"),
        ).dropDuplicates(["doc_id", "matched_id"])
        eq = F.size(
            F.filter(
                F.zip_with(F.col("sig_n"), F.col("sig_s"), lambda x, y: x == y),
                lambda v: v,
            )
        )
        scored = cand.select(
            "doc_id",
            "matched_id",
            F.round(eq / F.lit(float(self.k)), 6).alias("est_jaccard"),
        ).filter(F.col("est_jaccard") >= threshold)
        # deterministic report row: best match (max jaccard, min id) wins
        w = Window.partitionBy("doc_id").orderBy(
            F.col("est_jaccard").desc(), F.col("matched_id")
        )
        store_loser = (
            scored.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                "doc_id",
                "matched_id",
                "est_jaccard",
                F.lit("vs_store").alias("reason"),
            )
        )

        # THE admission ledger: every decision that reads the store —
        # within-batch losers (for completeness of the rejected report),
        # store losers, and (replay mode) the already-stored id set — is
        # materialized ONCE, eagerly, BEFORE the append below. Pre-r13
        # the increment pinned five frames with separate eager
        # localCheckpoints (batch_loser, survivors, store_loser, admitted,
        # to_append), i.e. five driver round-trips and two full
        # materializations of the batch's text rows per micro-batch; now
        # the pair barrier above plus this ledger-sized checkpoint pin the
        # same decisions (guide §5: materialize once, serve every
        # consumer). persist() would NOT be a safe pin — Spark's
        # CacheManager recaches-by-path when a write lands on a path a
        # cached plan reads, so the "cached" pre-append probe would
        # silently recompute against the grown store; localCheckpoint
        # truncates lineage to materialized partitions, which no path
        # refresh can touch.
        ledger_parts = [
            batch_loser.withColumn("_src", F.lit("batch")),
            store_loser.withColumn("_src", F.lit("store")),
        ]
        if skip_existing_ids:
            # replay hygiene: ids already in the store keep their original
            # rows (appending again would double them). to_append's ids
            # are batch ids, so (store ids ∩ batch ids) blocks exactly
            # the rows the full store-id set would; the store scan is
            # id-column-pruned and — in the scoped branch — broadcast-
            # filtered by the batch's (bounded) id set.
            existing_ids = store.select("doc_id")
            batch_ids = batch_sig.select(F.col(id_col).alias("doc_id"))
            if scope_store:
                existing_ids = existing_ids.join(
                    F.broadcast(batch_ids), "doc_id", "leftsemi"
                )
            else:
                existing_ids = existing_ids.join(
                    batch_ids, "doc_id", "leftsemi"
                )
            id_type = dict(batch_loser.dtypes)["matched_id"]
            ledger_parts.append(
                existing_ids.select(
                    "doc_id",
                    F.lit(None).cast(id_type).alias("matched_id"),
                    F.lit(None).cast("double").alias("est_jaccard"),
                    F.lit(None).cast("string").alias("reason"),
                ).withColumn("_src", F.lit("existing"))
            )
        ledger = ledger_parts[0]
        for part in ledger_parts[1:]:
            ledger = ledger.unionByName(part)
        ledger = ledger.localCheckpoint(eager=True)

        loser_ids = (
            ledger.filter(F.col("_src") != "existing").select("doc_id")
        )
        # 3. append admitted signatures (reusing the cached batch
        # signatures — admitted ids = batch ids minus ledger losers; the
        # write must complete before the finally-block unpersists the
        # cache). No store-reading subtree survives in this plan (the
        # ledger is checkpointed), so the append can evaluate it while
        # writing to the store path without a pin.
        to_append = new_banded.join(
            ledger.filter(F.col("_src") == "store").select("doc_id"),
            "doc_id",
            "left_anti",
        )
        if skip_existing_ids:
            to_append = to_append.join(
                ledger.filter(F.col("_src") == "existing").select("doc_id"),
                "doc_id",
                "left_anti",
            )
        # Size the delta's FILE COUNT to the batch (guide §6): the
        # anti-join otherwise inherits the cache's partitioning and a
        # micro-batch append lands as many near-empty files, growing the
        # store's file count — and every later probe scan and footer
        # walk — per increment. Row target ≈ 100 MB files at ~100 B per
        # banded signature row; the exact batch count is already known.
        n_files = max(
            1, -(-n_batch_docs * self.bands // self._STORE_ROWS_PER_FILE)
        )
        to_append = to_append.repartition(n_files)
        to_append.write.mode("append").parquet(self.path)
        # maintain the row-count sidecar: footer-read ONLY the files this
        # append created (guide §6 — metadata instead of data I/O; the
        # listing is one os.walk, the footers are O(files just written))
        before = set(files_before)
        new_files = [f for f in parquet_files(self.path) if f not in before]
        try:
            self._write_sidecar(
                store_rows + footer_rows(new_files),
                len(files_before) + len(new_files),
            )
        except OSError:
            pass

        admitted = new_docs.join(
            loser_ids.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
        )
        rejected = ledger.filter(F.col("_src") != "existing").drop("_src")
        return admitted, rejected
