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
4. commits the admitted documents' signatures back to the store.

The store is a ``sinks/history.VersionedParquetTable``: ``bootstrap`` is
a full write (operation BOOTSTRAP) and each increment is one append
commit (operation INCREMENT) of a fresh delta dir, folded into one
snapshot every ``MAX_CHAIN`` dirs. A crashed increment leaves the head
untouched, the row count the scope decision reads is the manifest's
``n_rows``, and the table's ``history`` lists every increment. The text of the historical corpus is never read again.
Determinism: signatures are md5-derived (engine-exact), keep-decisions
are min-id, and admission is a pure function of (store state, batch) —
re-running an increment admits the same set.
"""

from __future__ import annotations

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
from high_volume_market_data_pipeline_spark.sinks.history import (
    MAX_CHAIN,
    VersionedParquetTable,
)


class SignatureStore:
    """Persisted banded MinHash signatures: (doc_id, sig, band_key), one
    row per (doc, band), kept as a ``VersionedParquetTable`` at ``path``.
    ``bootstrap`` seeds it from an initial corpus (a full write);
    ``dedup_increment`` admits a new batch against it and commits the
    admitted signatures as an append."""

    # Scope the per-increment STORE passes (degenerate-bucket guard, probe,
    # replay-hygiene id set) to the batch's keys only once the store is at
    # least this many physical rows. Below it, a full-store pass is cheaper
    # than building the batch-key broadcast the scoping needs (the guard
    # agg on a 1k-row store costs less than one broadcast-build job); above
    # it, the unscoped guard is an O(store) aggregation shuffle on EVERY
    # micro-batch — the accidental per-batch full pass this module exists
    # to avoid. The threshold compares store size against the fixed cost
    # of one broadcast build, so it is scale-adaptive, not tuned to local
    # core count; the store size is the table manifest's ``n_rows`` (no
    # job, no footer walk).
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
        self.table = VersionedParquetTable(path)
        self.path = path
        self.k = k
        self.bands = bands
        self.shingle = shingle

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
        """Whether a version is committed (a log read, no Spark job)."""
        return self.table.exists()

    def read(self, spark: SparkSession) -> DataFrame:
        return self.table.read(spark)

    def bootstrap(
        self, docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
    ) -> None:
        """Seed the store from an initial (already-deduped) corpus. The
        one full-corpus signature computation ever run. Committed as a
        full version, so a second bootstrap replaces the store's
        contents."""
        banded = self._banded_signatures(docs, text_col, id_col)
        # Size the store's FILE COUNT to the corpus' own scan layout
        # (guide §6): without this the banded frame inherits the
        # signature compute's session-parallelism fan-out, so a
        # metadata-scale seed corpus lands as ~cores near-empty files
        # that EVERY subsequent probe scan and guard aggregation then
        # pays per increment. A 100 TB corpus has thousands of input
        # splits and keeps thousands of store files.
        banded = banded.repartition(max(1, docs.rdd.getNumPartitions()))
        self.table.write(banded, "BOOTSTRAP")

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
        # store is big enough for those passes to matter (manifest row
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
        scope_store = (
            self.table.row_count(spark) >= self.scope_store_min_rows
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
        # consumer). The append below writes a fresh data dir that the
        # probe plan never references, but the decisions must not be
        # recomputed after it either: the admitted/rejected frames the
        # caller consumes later would re-probe a store that by then holds
        # this batch's own signatures. localCheckpoint truncates lineage
        # to materialized partitions, so no later read can change them.
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
        # commit must complete before the finally-block unpersists the
        # cache). No store-reading subtree survives in this plan (the
        # ledger is checkpointed).
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
        # store's file count — and every later probe scan — per
        # increment. Row target ≈ 100 MB files at ~100 B per banded
        # signature row; the exact batch count is already known.
        n_files = max(
            1, -(-n_batch_docs * self.bands // self._STORE_ROWS_PER_FILE)
        )
        self.table.append(
            to_append.repartition(n_files), "INCREMENT", max_chain=MAX_CHAIN
        )

        admitted = new_docs.join(
            loser_ids.withColumnRenamed("doc_id", id_col), id_col, "left_anti"
        )
        rejected = ledger.filter(F.col("_src") != "existing").drop("_src")
        return admitted, rejected
