"""Skew-salting and bucketing: result-equality with the plain forms plus
the physical-plan properties that make them worth using at scale."""

from __future__ import annotations

from pyspark.sql import functions as F

from high_volume_market_data_pipeline_spark.catalog import load_table
from high_volume_market_data_pipeline_spark.operators.skew import (
    salted_grouped_agg,
    salted_join,
)
from high_volume_market_data_pipeline_spark.session import scoped_conf
from high_volume_market_data_pipeline_spark.sinks.bucketed import (
    drop_table,
    read_table,
    write_bucketed_table,
)
from tests.conftest import SF_DIR


def test_salted_agg_equals_plain_agg(spark):
    ev = load_table(spark, SF_DIR, "events")
    plain = {
        (r["event_type"]): (r["n"], r["total"])
        for r in ev.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("total"),
        )
        .collect()
    }
    salted = {
        (r["event_type"]): (r["n"], r["total"])
        for r in salted_grouped_agg(
            ev,
            ["event_type"],
            partial_aggs=[
                F.count(F.lit(1)).alias("pn"),
                F.sum(F.col("value").cast("decimal(18,4)")).alias("ps"),
            ],
            final_aggs=[
                F.sum("pn").alias("n"),
                F.sum("ps").alias("total"),
            ],
            salt_from="event_id",
            n_salts=8,
        ).collect()
    }
    assert salted == plain


def test_salted_join_equals_plain_join(spark):
    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "user_id", "event_type"
    )
    users = (
        ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("user_events"))
    )
    plain = sorted(
        (r["event_id"], r["user_events"])
        for r in ev.join(users, "user_id").collect()
    )
    salted = sorted(
        (r["event_id"], r["user_events"])
        for r in salted_join(
            ev, users, key="user_id", salt_from="event_id", n_salts=4
        ).collect()
    )
    assert salted == plain


def test_salted_agg_spreads_hot_key(spark):
    """The hot key's rows must occupy >1 partition after the salted shuffle."""
    hot = spark.range(10_000).select(
        F.lit("hot").alias("k"), F.col("id").alias("uid"), F.lit(1.0).alias("v")
    )
    salted = salted_grouped_agg(
        hot,
        ["k"],
        partial_aggs=[F.count(F.lit(1)).alias("pn")],
        final_aggs=[F.sum("pn").alias("n")],
        salt_from="uid",
        n_salts=8,
    )
    assert salted.collect()[0]["n"] == 10_000
    # partial stage: distinct (k, salt) keys > 1 ⇒ spreadable across reducers
    from high_volume_market_data_pipeline_spark.operators.skew import (
        _deterministic_salt,
    )

    n_subkeys = (
        hot.select(_deterministic_salt("uid", 8).alias("s")).distinct().count()
    )
    assert n_subkeys == 8


def test_bucketed_join_has_no_exchange(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    join with zero Exchange operators — the entire point of bucketing."""
    orders = load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    ta, tb = "t_bucket_orders", "t_bucket_lineitem"
    # Disable broadcast: at test scale Catalyst would broadcast the tiny
    # tables and skip the bucketed path entirely; at real scale both
    # sides exceed any broadcast threshold and bucketing is what's left.
    try:
        with scoped_conf(spark, {"spark.sql.autoBroadcastJoinThreshold": "-1"}):
            write_bucketed_table(orders, ta, ["o_orderkey"], 4, sort_cols=["o_orderkey"])
            write_bucketed_table(li, tb, ["l_orderkey"], 4, sort_cols=["l_orderkey"])
            joined = read_table(spark, ta).join(
                read_table(spark, tb),
                F.col("o_orderkey") == F.col("l_orderkey"),
            )
            plan = joined._jdf.queryExecution().executedPlan().toString()
            assert "Exchange" not in plan, plan
            assert "Bucketed: true" in plan, plan
            # sanity: join actually returns rows
            assert joined.limit(5).count() > 0
    finally:
        drop_table(spark, ta)
        drop_table(spark, tb)
