"""Connected components over near-duplicate pair graphs → dedup clusters.

After LSH candidate generation, near-dup pairs form an undirected graph;
keeping one document per CONNECTED COMPONENT (not per pair) is what a
training-data pipeline actually needs — pairwise keep-one decisions double-
drop chains like A~B, B~C.

Algorithm: iterative min-label propagation WITH PATH HALVING. Every
vertex starts labeled with itself; each round takes the min of its own
and its neighbors' labels, then pointer-jumps (relabels by the label's
own label). Neighbor-min alone needs component-diameter rounds — and
paraphrase/boilerplate chains measured DEEPER than 20 hops on real
corpora, where a fixed budget silently under-merged; the jump collapses
chain length geometrically, so convergence is O(log diameter) (the same
idea as Kiveris et al.'s large-star/small-star) while staying two
self-joins per round. Non-convergence within the budget RAISES — a
keep-one-per-component consumer must never act on split components.

Scale notes:
- each round is one shuffle (groupBy dst) + one broadcast-able join back;
  the label frame is 2 longs per vertex — tiny relative to the corpus;
- ``localCheckpoint`` per round truncates the exponentially-growing lineage
  (standard practice for iterative DataFrame algorithms);
- the convergence probe is a ``limit(1).count()`` — it short-circuits at the
  first changed label instead of counting all of them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from high_volume_market_data_pipeline_spark.operators.layout import (
    data_scoped_shuffle,
)


def _stat_barrier(df: DataFrame) -> DataFrame:
    """Lineage AND statistics barrier for iterative DataFrame loops.

    ``Dataset.localCheckpoint`` truncates lineage but STAMPS the new
    LogicalRDD with the old plan's estimated statistics
    (``LogicalRDD.rewriteStatsAndConstraints``). In a loop whose round
    self-joins the previous round's output (path halving), the stamped
    ``sizeInBytes`` therefore SQUARES every round — its digit count
    doubles, and by round ~18 the stats value is a million-digit
    BigInteger whose single multiply inside
    ``SizeInBytesOnlyStatsPlanVisitor`` runs for the better part of an
    hour (observed live: a 50-minute Toom-Cook multiply planning the
    sf0.01 curation funnel; the checkpoint call itself pays the walk).

    Rebuilding the frame from its JavaRDD severs the stats chain — a
    LogicalRDD created via ``createDataFrame(rdd, schema)`` has no origin
    dataset and falls back to ``spark.sql.defaultSizeInBytes`` — so every
    round's plan carries constant-size statistics, and the
    localCheckpoint over the rebuilt (leaf) plan truncates RDD lineage at
    ordinary cost. The Row round-trip is JVM-side only and the frames
    this guards are label tables (a few longs per row)."""
    spark = df.sparkSession
    jdf = df._jdf
    fresh = DataFrame(
        spark._jsparkSession.createDataFrame(jdf.javaRDD(), jdf.schema()),
        spark,
    )
    return fresh.localCheckpoint(eager=False)


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iterations: int = 256,
) -> DataFrame:
    """(id, component): component = min vertex id reachable from ``id``
    through the undirected pair graph.

    ``max_iterations`` is a runaway BACKSTOP, not a tuning knob: the loop
    exits on convergence, each round is two shuffles over the tiny label
    frame (2 longs/vertex), and rounds needed ≈ component diameter / 2
    (the jump is a constant-factor compression of min-label spread, not
    exponential — measured 21 rounds on a 252-vertex paraphrase chain).
    The old default of 20 silently returned SPLIT components on exactly
    such chains; 256 covers diameters into the hundreds and anything
    deeper raises loudly below."""
    spark = pairs.sparkSession
    # Materialize the pair frame first: the two union branches below are two
    # CONSUMERS — without a barrier an expensive upstream (the LSH pipeline)
    # would run once per branch.
    pairs = pairs.persist(StorageLevel.MEMORY_AND_DISK)
    n_pairs = pairs.count()
    # Size every graph shuffle to the GRAPH, not the session: each round
    # pays per-partition task overhead on a frame of |V| rows, so a small
    # pair graph on a 96-partition session wastes ~all its time on empty
    # tasks. ~250k pairs per partition; below session scale the scope also
    # turns AQE off, whose per-exchange jobs dominate an iterative loop.
    try:
        with data_scoped_shuffle(spark, n_pairs // 250_000 + 1) as target:
            # No .distinct() here: min-label propagation is idempotent under
            # duplicate edges (min of a multiset), callers pass deduped pairs
            # (lsh_candidate_pairs dropDuplicates), and id_a < id_b rules out
            # self-loops — a distinct would add a full edge-set shuffle for
            # nothing.
            src, dst = F.col(src_col), F.col(dst_col)
            edges = (
                pairs.select(src.alias("src"), dst.alias("dst"))
                .union(pairs.select(dst.alias("src"), src.alias("dst")))
                # cache COMPACT: the union inherits the pair pipeline's
                # parallelism (~2x its cache partitions), and every loop round
                # re-scans this cache — one task per cached partition per
                # round. Graph-sized partitioning caps that at the same
                # target the shuffles use.
                .repartition(target)
                .persist(StorageLevel.MEMORY_AND_DISK)
            )
            # Round 1 fused into seeding: with identity labels, the propagated
            # label is just least(self, min neighbor) — one shuffle, no join.
            labels = edges.groupBy("src").agg(
                F.least(F.first("src"), F.min("dst")).alias("component")
            ).withColumnRenamed("src", "id")
            labels = _stat_barrier(labels)
            for _ in range(max_iterations):
                nbr_min = (
                    edges.join(labels, edges.dst == labels.id)
                    .groupBy("src")
                    .agg(F.min("component").alias("nbr_component"))
                )
                proposed = labels.join(
                    nbr_min, labels.id == nbr_min.src, "left"
                ).select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce("nbr_component", "component"),
                    ).alias("component"),
                    F.col("component").alias("_old"),
                )
                # Path halving: relabel by the label's own label. Labels are
                # always vertex ids inside the same component and only ever
                # decrease, so the jump is safe — and it is what turns a
                # depth-d chain into O(log d) rounds.
                parent = proposed.select(
                    F.col("id").alias("component"),
                    F.col("component").alias("_plabel"),
                )
                proposed = proposed.join(parent, "component", "left").select(
                    "id",
                    F.least(
                        F.col("component"),
                        F.coalesce("_plabel", "component"),
                    ).alias("component"),
                    "_old",
                )
                # Lazy barrier: the convergence count below is the action
                # that materializes it — one job per round, not two; the
                # barrier also resets plan statistics (see _stat_barrier).
                proposed = _stat_barrier(proposed)
                moved = proposed.filter(F.col("component") != F.col("_old"))
                changed = moved.limit(1).count()
                labels = proposed.drop("_old")
                if changed == 0:
                    break
            else:
                # Exhausting the budget without a fixed point means some
                # component still carries ≥2 labels — a keep-one-per-component
                # consumer would then keep multiple copies of the same dup
                # cluster with no signal. Diameters over max_iterations are
                # real on chain-shaped near-dup graphs; fail loudly so the
                # caller raises the budget instead of silently under-deduping.
                edges.unpersist()
                raise RuntimeError(
                    f"connected_components did not converge within "
                    f"{max_iterations} iterations; raise max_iterations "
                    "(component diameter exceeds the label-propagation budget)"
                )
            edges.unpersist()
    finally:
        pairs.unpersist()
    return labels
