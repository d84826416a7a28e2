"""Plan-shape regression tests: pin the physical-plan invariants that make
each query viable at scale, so a refactor that silently introduces an extra
shuffle, loses pushdown, or drops a broadcast fails CI — not production.

(PLANS.md is the human-readable snapshot; these are the enforced subset.)
"""

from __future__ import annotations

import json
import os
import re

import pytest

from high_volume_market_data_pipeline_spark.queries import QUERIES
from high_volume_market_data_pipeline_spark.session import job_mark
from tests.conftest import SF_DIR


def _plan(spark, name: str) -> str:
    return QUERIES[name](spark, SF_DIR)._jdf.queryExecution().executedPlan().toString()


def _shuffles(plan: str) -> int:
    return plan.count("Exchange") - plan.count("BroadcastExchange")


def test_scan_stage_query_has_zero_shuffles(spark):
    """Pure projection/cast/enrichment must ride inside the scan stage."""
    assert _shuffles(_plan(spark, "events_typed_enrichment")) == 0


def test_unpivot_is_expand_no_join(spark):
    """Unpivot = Expand node; a union-of-selects rewrite would rescan the
    table once per metric column."""
    plan = _plan(spark, "part_metrics_unpivot")
    assert "Expand" in plan
    assert plan.count("Scan parquet") + plan.count("FileScan parquet") <= 2


def test_salted_agg_is_two_phase(spark):
    """Salted aggregation must keep exactly two aggregate shuffles (salt
    phase + final phase) — plus the presentation sort."""
    assert _shuffles(_plan(spark, "salted_event_value_agg")) <= 3


def test_pricing_summary_partial_aggregates(spark):
    """TPC-H Q1 must partial-aggregate map-side (partial_* functions in the
    plan) so the shuffle carries group partials, not raw rows."""
    plan = _plan(spark, "pricing_summary")
    assert re.search(r"partial_(sum|count)", plan), plan


def test_dim_joins_broadcast_no_fact_shuffle(spark):
    """Fact⋈dim⋈dim must broadcast both dims: the only shuffles allowed are
    the aggregation + presentation sort, never a join exchange."""
    plan = _plan(spark, "broadcast_dim_join")
    assert plan.count("BroadcastHashJoin") == 2
    assert _shuffles(plan) <= 2


def test_filters_reach_parquet_scan_q3(spark):
    """Q3's three filters must appear as PushedFilters on their scans."""
    plan = _plan(spark, "shipping_priority_q3")
    pushed = " ".join(re.findall(r"PushedFilters: \[([^\]]*)\]", plan))
    for frag in ("l_shipdate", "o_orderdate", "c_mktsegment"):
        assert frag in pushed, (frag, pushed)


@pytest.mark.parametrize("name", ["top1_order_by_price", "shipping_priority_q3"])
def test_global_topk_never_full_sorts(spark, name):
    assert "TakeOrderedAndProject" in _plan(spark, name)


def test_q6_pushes_all_predicates(spark):
    """Q6's conjunctive filter must reach the parquet scan in full.
    (Regex runs to end-of-line: toString truncates long filter lists.)"""
    plan = _plan(spark, "forecast_revenue_q6")
    pushed = " ".join(re.findall(r"PushedFilters: \[(.*)", plan))
    for frag in ("l_shipdate", "l_discount", "l_quantity"):
        assert frag in pushed, (frag, pushed)
    assert _shuffles(plan) <= 1  # single partial/final agg exchange


def test_q4_plans_semi_join(spark):
    """EXISTS must plan as a semi join (right columns never materialize)."""
    plan = _plan(spark, "priority_count_q4")
    assert "LeftSemi" in plan, plan


def test_embedding_near_dup_never_cross_joins(spark):
    """The near-dup query must equi-join on the LSH bucket key — a quadratic
    cross join would not survive a 100× corpus."""
    plan = _plan(spark, "embedding_near_dup")
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_embedding_near_dup_bucket_screen_shape(spark):
    """The Arrow prefilter's scale contract: the quadratic screening runs
    INSIDE a grouped-pandas stage keyed on the bucket (vectors cross
    Arrow once per bucket, never once per pair), and the exact-fold
    re-score joins the output-sized survivor set back to the vectors as
    the BROADCAST side — survivors, not the corpus, fit in memory."""
    plan = _plan(spark, "embedding_near_dup")
    assert "FlatMapGroupsInPandas" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    # the fold runs post-screen: no per-pair Python stage (the screen is
    # the only pandas stage; a per-pair pandas_udf would add ArrowEvalPython)
    assert "ArrowEvalPython" not in plan, plan


def test_q16_anti_join_broadcasts_small_side(spark):
    """NOT IN (negative-balance suppliers) must plan as a broadcast anti
    join — the tiny exclusion set never forces a fact shuffle."""
    plan = _plan(spark, "supplier_diversity_q16")
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan


def test_q20_semi_join_after_having(spark):
    """The qualifying-supplier set must reach supplier as a semi join;
    part dim broadcasts into the lineitem scan side."""
    plan = _plan(spark, "bulk_part_suppliers_q20")
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan


def test_q15_scalar_max_broadcasts_one_row(spark):
    """The max-of-aggregate probe must reach the join-back as a broadcast
    (BroadcastNestedLoopJoin over ONE row is fine; a shuffled join or a
    per-row subquery rescan is not)."""
    plan = _plan(spark, "top_supplier_q15")
    assert "BroadcastExchange" in plan, plan


def test_q13_left_outer_two_phase(spark):
    """Q13's histogram must keep the outer join and both aggregations
    inside three shuffles (join + per-customer agg + count-of-counts)."""
    plan = _plan(spark, "customer_order_distribution_q13")
    assert "LeftOuter" in plan or "RightOuter" in plan, plan
    assert _shuffles(plan) <= 4


def test_q9_broadcasts_all_dims(spark):
    """Q9 profit: part (LIKE-filtered), supplier, nation all broadcast —
    the fact shuffles only for the orders join + aggregation + sort; no
    nested-loop joins anywhere."""
    plan = _plan(spark, "product_type_profit_q9")
    assert plan.count("BroadcastHashJoin") >= 3
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_window_reuses_join_partitioning(spark):
    """Q21 waiting-supplier: the per-order window must reuse the
    lineitem⋈orders join's hash partitioning on the order key — one fact
    shuffle feeds both, never a second Exchange between join and window."""
    plan = _plan(spark, "waiting_supplier_q21")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # join (≤2 exchanges) + s_name agg + top-K; a join→window re-shuffle
    # would push this past 4.
    assert _shuffles(plan) <= 4


def test_contamination_broadcasts_benchmark_side(spark):
    """Contamination screen: the benchmark shingle set must broadcast —
    the training corpus never shuffles for the probe join (only the
    benchmark-side distinct and the final per-doc count exchange)."""
    plan = _plan(spark, "benchmark_contamination")
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_column_stats_single_scan(spark):
    """Profiling N columns must read the input once: one parquet scan in
    the executed plan regardless of column count (the naive per-column
    loop would scan N times — the oracle SQL deliberately does, and the
    operator must not)."""
    from high_volume_market_data_pipeline_spark.catalog import load_table
    from high_volume_market_data_pipeline_spark.operators import column_stats
    from tests.conftest import SF_DIR

    orders = load_table(spark, SF_DIR, "orders")
    prof = column_stats(orders, ["o_custkey", "o_orderkey", "o_totalprice"])
    plan = prof._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1


def test_check_expectations_single_scan_no_shuffle_input(spark):
    """All expectation counters evaluate inside one aggregation over one
    scan; the only exchange is the single-partition final agg."""
    from high_volume_market_data_pipeline_spark.catalog import load_table
    from high_volume_market_data_pipeline_spark.operators import (
        check_expectations,
    )
    from tests.conftest import SF_DIR
    import pyspark.sql.functions as F

    orders = load_table(spark, SF_DIR, "orders")
    rep = check_expectations(
        orders,
        {"pos": F.col("o_totalprice") > 0, "nn": F.col("o_orderdate").isNotNull()},
    )
    plan = rep._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1


def test_incremental_gold_prunes_silver_partitions(spark, tmp_path):
    """The isin date filter must reach the silver scan as a partition
    filter — the incremental refresh reads only the touched directories,
    which is the entire point at 10,000 dates."""
    from pyspark.sql import functions as F

    from high_volume_market_data_pipeline_spark.plans.medallion import (
        MedallionPaths,
        run_medallion,
    )
    from high_volume_market_data_pipeline_spark.sources.generator import (
        generate_market_data,
    )

    root = str(tmp_path / "mroot")
    data = generate_market_data(spark, n_coins=3, days=3)
    run_medallion(spark, data, root, optimize_silver=False,
                  ingestion_time=F.to_timestamp(F.lit("2024-06-01 00:00:00")))
    paths = MedallionPaths(root)
    days = sorted(
        r[0] for r in spark.read.parquet(paths.silver)
        .select("partition_date").distinct().collect()
    )
    pruned = spark.read.parquet(paths.silver).filter(
        F.col("partition_date").isin([str(days[0])])
    )
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    # the scan's partition filter carries the isin predicate
    import re
    pf = re.search(r"PartitionFilters: \[([^\]]*)\]", plan).group(1)
    assert "partition_date" in pf and pf.strip() != ""


def test_ngram_jaccard_blocked_never_cartesian(spark):
    """The blocked pair generation must plan as an equi-join on the block
    key — a cross join here is quadratic over the whole corpus."""
    from high_volume_market_data_pipeline_spark.queries_dedup import (
        ngram_jaccard_blocked,
    )
    from tests.conftest import SF_DIR

    plan = (
        ngram_jaccard_blocked(spark, SF_DIR)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_dynamic_partition_pruning_fires_on_partitioned_fact(spark, tmp_path):
    """At 100 TB the fact table is hive-partitioned and joins against
    filtered dims MUST prune partitions at runtime (DPP), not scan-all.
    Pin that the engine's write layout + a selective dim join produces a
    dynamicpruning partition filter in the physical plan."""
    from pyspark.sql import functions as F

    from high_volume_market_data_pipeline_spark.catalog import load_table
    from high_volume_market_data_pipeline_spark.sinks.writers import (
        write_partitioned_overwrite,
    )
    from tests.conftest import SF_DIR

    orders = load_table(spark, SF_DIR, "orders")
    path = str(tmp_path / "orders_part")
    write_partitioned_overwrite(orders, path, "o_orderstatus")
    fact = spark.read.parquet(path)
    dim = spark.createDataFrame(
        [("F", "finished"), ("O", "open"), ("P", "pending")],
        "status string, label string",
    ).filter(F.col("label") == "open")
    j = fact.join(dim, fact.o_orderstatus == dim.status).groupBy(
        "label"
    ).agg(F.count(F.lit(1)).alias("n"))
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    # and the answer is right: only 'O' rows counted
    expect = orders.filter(F.col("o_orderstatus") == "O").count()
    got = {r.label: r.n for r in j.collect()}
    assert got == {"open": expect}


def test_runtime_bloom_filter_prunes_selective_join(spark):
    """Spark's runtime bloom-filter injection is the engine-native
    semi-join reduction for fact⋈filtered-dim SHUFFLE joins (the case
    broadcast + DPP don't cover): the fact side is pre-filtered by
    might_contain(bloom_filter_agg(dim keys)) BEFORE its exchange, so at
    100 TB the shuffle carries only rows that can match. Results stay
    EXACT — a bloom only prunes. Toy inputs sit below the production
    thresholds, so the test lowers the application-side floor and
    disables auto-broadcast to expose the shuffle-join shape, and pins
    that the injection actually fires."""
    from pyspark.sql import functions as F

    from high_volume_market_data_pipeline_spark.catalog import load_table
    from high_volume_market_data_pipeline_spark.session import scoped_conf

    with scoped_conf(
        spark,
        {
            "spark.sql.optimizer.runtime.bloomFilter."
            "applicationSideScanSizeThreshold": "1KB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        },
    ):
        cust = load_table(spark, SF_DIR, "customer").filter(
            F.col("c_mktsegment") == "BUILDING"
        )
        orders = load_table(spark, SF_DIR, "orders")
        j = orders.join(cust, orders.o_custkey == cust.c_custkey)
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        assert "bloom_filter_agg" in plan, plan[:2000]
        pruned_count = j.count()
    # exactness: the bloom-pruned join returns exactly the plain join rows
    cust = load_table(spark, SF_DIR, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, SF_DIR, "orders")
    assert pruned_count == orders.join(
        cust, orders.o_custkey == cust.c_custkey
    ).count()


# Spark job counts are exact and repeatable for a fixed plan, so they gate
# orchestration regressions that a wall-clock bench only blurs. Budgets are
# counts measured in this suite's session shape (8 shuffle partitions):
# knn_tier1.json after the ANN search pipeline was unified
# (SPARK_GRAFT_CPUS=2 SPARK_GRAFT_SF_DIR=<sf0.001> python bench.py <queries>
# reproduces the shape and prints each row's per-run "jobs"),
# conf_scoped_tier1.json before session conf was scoped through
# session.scoped_conf, stream_tier1.json over 7 runs (stream rows can vary
# by one job between runs).
_JOB_BUDGETS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "plans", "job_budget",
)


def _budget(name: str) -> dict:
    with open(os.path.join(_JOB_BUDGETS, name)) as fh:
        return json.load(fh)


_QUERY_BUDGETS = {
    **_budget("knn_tier1.json")["queries"],
    **_budget("conf_scoped_tier1.json")["queries"],
    **_budget("stream_tier1.json")["queries"],
}


@pytest.mark.parametrize("name", list(_QUERY_BUDGETS))
def test_knn_job_count_within_budget(spark, name):
    budget = max(_QUERY_BUDGETS[name]["jobs"])

    j0 = job_mark(spark)
    QUERIES[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
    jobs = job_mark(spark) - j0
    assert jobs <= budget, f"{name}: {jobs} Spark jobs, budget {budget}"


def test_medallion_job_count_within_budget(spark, tmp_path):
    """One small backfill (bronze, silver merge, Z-order, gold, CSV) runs
    no more Spark jobs than plans/job_budget/medallion_tier1.json allows:
    no silver cache pin, no gold schema inference, a one-job CSV take."""
    from pyspark.sql import functions as F

    from high_volume_market_data_pipeline_spark.plans.medallion import (
        run_medallion,
    )
    from high_volume_market_data_pipeline_spark.sources.generator import (
        generate_market_data,
    )

    budget = _budget("medallion_tier1.json")["jobs"]
    source = generate_market_data(spark, n_coins=20, days=2, seed=1)
    j0 = job_mark(spark)
    run_medallion(
        spark, source, str(tmp_path / "lake"),
        ingestion_time=F.to_timestamp(F.lit("2024-06-01 00:00:00")),
    )
    jobs = job_mark(spark) - j0
    assert jobs <= budget, f"run_medallion: {jobs} Spark jobs, budget {budget}"
