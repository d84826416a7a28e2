"""Extended analytics queries — multi-join TPC-H shapes, pivot/unpivot,
set ops, sessionization, range-frame windows, percentiles, arg-max.

These widen the verified operator surface beyond the reference's own usage
(SURVEY §2.4 note: the reference delegates all join planning to Catalyst;
§2.6 note: no analytic functions in the reference) — each query here is an
operator class a user of a general analytics engine expects, each with a
bit-identical DuckDB oracle.

Determinism: money math through dsum/davg (exact decimal), event-time gaps
compared in integer MICROSECONDS (unix_micros ≡ epoch_us) — never float
seconds or truncated unix_timestamp, which diverge across engines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from high_volume_market_data_pipeline_spark.catalog import load_table
from high_volume_market_data_pipeline_spark.operators import (
    anti_join,
    broadcast_join,
    equi_join,
    global_sort,
    grouped_agg,
    semi_join,
    top_k_global,
    union_all,
)
from high_volume_market_data_pipeline_spark.operators.aggregates import (
    cube_agg,
    pivot_agg,
    unpivot,
)
from high_volume_market_data_pipeline_spark.registry import (
    _DEC,
    davg,
    davg_sql,
    dsum,
    dsum_sql,
    query,
)

# ---------------------------------------------------------------------------
# Multi-join TPC-H shapes (join-order / broadcast planning showcase)
# ---------------------------------------------------------------------------


@query(
    "shipping_priority_q3",
    oracle=f"""
    SELECT l.l_orderkey,
           {dsum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           o.o_orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def shipping_priority_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: filtered fact⋈fact⋈dim chain → grouped revenue →
    global top-10. Filters sit directly on the scans (predicate pushdown);
    the orders⋈lineitem shuffle carries only post-filter rows; top-K plans
    as TakeOrderedAndProject, never a full sort."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.to_timestamp(F.lit("1998-06-01"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.to_timestamp(F.lit("1998-06-01"))
    )
    joined = equi_join(
        equi_join(li, orders, li.l_orderkey == orders.o_orderkey),
        cust,
        F.col("o_custkey") == cust.c_custkey,
    )
    grouped = grouped_agg(
        joined,
        ["l_orderkey", "o_orderdate", "o_orderpriority"],
        [dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")],
    ).select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    return top_k_global(grouped, 10, F.desc("revenue"), "l_orderkey")


@query(
    "revenue_by_nation_q5",
    oracle=f"""
    SELECT n.n_name,
           {dsum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
)
def revenue_by_nation_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-table join — local-supplier revenue per nation.
    nation/region broadcast (tiny dims); customer/supplier hash-join the
    facts; the extra s_nationkey = c_nationkey condition rides on the
    supplier join, not a separate shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    li = load_table(spark, sf_dir, "lineitem")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    j = equi_join(li, orders, li.l_orderkey == orders.o_orderkey)
    j = equi_join(j, cust, F.col("o_custkey") == cust.c_custkey)
    j = equi_join(
        j,
        supp,
        (F.col("l_suppkey") == supp.s_suppkey)
        & (F.col("c_nationkey") == supp.s_nationkey),
    )
    j = broadcast_join(j, nation, F.col("s_nationkey") == nation.n_nationkey)
    j = broadcast_join(j, region, F.col("n_regionkey") == region.r_regionkey)
    out = grouped_agg(
        j,
        ["n_name"],
        [dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")],
    )
    return out.orderBy(F.desc("revenue"), "n_name")


# ---------------------------------------------------------------------------
# Pivot / unpivot / cube
# ---------------------------------------------------------------------------


@query(
    "order_counts_pivot",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
           COUNT(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
           COUNT(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def order_counts_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: status → columns. Explicit pivot values (no distinct-scan
    planning job); empty cells coalesced to 0 to match SQL FILTER counts."""
    orders = load_table(spark, sf_dir, "orders")
    piv = pivot_agg(
        orders, ["o_orderpriority"], "o_orderstatus", ["F", "O", "P"], F.count(F.lit(1))
    )
    out = piv.select(
        "o_orderpriority",
        *[
            F.coalesce(F.col(s), F.lit(0)).alias(f"n_{s.lower()}")
            for s in ("F", "O", "P")
        ],
    )
    return out.orderBy("o_orderpriority")


@query(
    "part_metrics_unpivot",
    oracle="""
    SELECT p_partkey, 'p_retailprice' AS metric, p_retailprice AS value FROM part
    UNION ALL
    SELECT p_partkey, 'p_size' AS metric, CAST(p_size AS DOUBLE) AS value FROM part
    ORDER BY p_partkey, metric
    """,
)
def part_metrics_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot/melt wide → long (Expand node, zero shuffles)."""
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_retailprice",
        F.col("p_size").cast("double").alias("p_size"),
    )
    out = unpivot(part, ["p_partkey"], ["p_retailprice", "p_size"])
    return out.orderBy("p_partkey", "metric")


@query(
    "cube_event_stats",
    oracle=f"""
    SELECT event_type,
           CAST(ts AS DATE) AS event_date,
           COUNT(*) AS n_events,
           {dsum_sql("value")} AS total_value
    FROM events
    GROUP BY CUBE (event_type, event_date)
    ORDER BY event_type NULLS FIRST, event_date NULLS FIRST
    """,
)
def cube_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all four granularities (type×date, type, date, total) in one
    shuffle via the Expand operator."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.to_date("ts").alias("event_date"), "value"
    )
    out = cube_agg(
        ev,
        ["event_type", "event_date"],
        [
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        ],
    )
    return out.orderBy(
        F.col("event_type").asc_nulls_first(), F.col("event_date").asc_nulls_first()
    )


# ---------------------------------------------------------------------------
# Set operations
# ---------------------------------------------------------------------------


@query(
    "event_type_audiences",
    oracle="""
    SELECT user_id, 'click_and_purchase' AS cohort FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'purchase'
    )
    UNION ALL
    SELECT user_id, 'click_only' AS cohort FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'purchase'
    )
    ORDER BY cohort, user_id
    """,
)
def event_type_audiences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT audience sets (set-semantic: distinct), tagged and
    concatenated — the missing set-op coverage from SURVEY §2.7 note."""
    ev = load_table(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    both = clickers.intersect(buyers).select(
        "user_id", F.lit("click_and_purchase").alias("cohort")
    )
    only = clickers.subtract(buyers).select(
        "user_id", F.lit("click_only").alias("cohort")
    )
    return union_all(both, only).orderBy("cohort", "user_id")


# ---------------------------------------------------------------------------
# Sessionization (batch twin of the streaming session windows) & range frames
# ---------------------------------------------------------------------------


@query(
    "segment_mode_median",
    oracle="""
    WITH j AS (
      SELECT c.c_mktsegment AS segment, o.o_orderpriority AS pri,
             CAST(o.o_totalprice AS DOUBLE) AS price
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    ), counted AS (
      SELECT segment, pri, COUNT(*) AS cnt FROM j GROUP BY segment, pri
    ), md AS (
      SELECT segment, pri AS mode_priority,
             ROW_NUMBER() OVER (
               PARTITION BY segment ORDER BY cnt DESC, pri
             ) AS rn
      FROM counted
    ), ranked AS (
      SELECT segment, price,
             ROW_NUMBER() OVER (PARTITION BY segment ORDER BY price) AS prn,
             COUNT(*) OVER (PARTITION BY segment) AS n
      FROM j
    ), med AS (
      SELECT segment, (MIN(price) + MAX(price)) / 2.0 AS median_price
      FROM ranked
      WHERE prn = (n + 1) // 2 OR prn = (n + 2) // 2
      GROUP BY segment
    ), base AS (
      SELECT j.segment, md.mode_priority, COUNT(*) AS n_orders
      FROM j JOIN md ON md.segment = j.segment AND md.rn = 1
      GROUP BY j.segment, md.mode_priority
    )
    SELECT base.segment, base.mode_priority, med.median_price, base.n_orders
    FROM base JOIN med ON med.segment = base.segment
    ORDER BY base.segment
    """,
)
def segment_mode_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment modal order priority + exact median order value — the
    two order-statistics aggregates the surface lacked. ``mode`` runs with
    ``deterministic=True`` (lowest value on count ties — the oracle
    replicates that rule as count-desc-then-value rank, because an
    arbitrary-tie mode can never be hash-checked). The median does NOT
    use the engines' built-in MEDIAN: even-count interpolation is an
    implementation choice ((a+b)/2 vs a+(b-a)*0.5) that can differ in the
    last ULP across engines — a latent cross-engine hash hazard even
    while green on today's data. Instead BOTH engines pick the two middle
    order statistics by row_number (pure selection, zero arithmetic, so
    the doubles are bit-identical from parquet) and combine them with the
    SAME spelled-out expression (lo+hi)/2.0 — one IEEE add plus an exact
    power-of-two scale, deterministic by IEEE semantics. Money is cast to
    double BEFORE any arithmetic on both sides (NOTES.md rule 1). Plan:
    one broadcast dim join (fact never shuffles for it), one per-segment
    sort for the rank — the same materialize-the-group cost class any
    exact median pays — and a 5-row median frame joined back broadcast."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    j = orders.join(
        F.broadcast(cust), orders.o_custkey == cust.c_custkey
    ).select(
        F.col("c_mktsegment").alias("segment"),
        F.col("o_orderpriority").alias("pri"),
        F.col("o_totalprice").cast("double").alias("price"),
    )
    ranked = j.select(
        "segment",
        "price",
        F.row_number()
        .over(Window.partitionBy("segment").orderBy("price"))
        .alias("prn"),
        F.count(F.lit(1)).over(Window.partitionBy("segment")).alias("n"),
    )
    med = (
        ranked.filter("prn = (n + 1) div 2 OR prn = (n + 2) div 2")
        .groupBy("segment")
        .agg(
            ((F.min("price") + F.max("price")) / F.lit(2.0)).alias(
                "median_price"
            )
        )
    )
    base = j.groupBy("segment").agg(
        F.mode("pri", True).alias("mode_priority"),
        F.count(F.lit(1)).alias("n_orders"),
    )
    return (
        base.join(F.broadcast(med), "segment")
        .select("segment", "mode_priority", "median_price", "n_orders")
        .orderBy("segment")
    )


_CHAIN_GAP_US = 7_200_000_000  # same 2 h session-gap rule as sessionize


@query(
    "session_chains_recursive",
    oracle=f"""
    WITH RECURSIVE marked AS (
      SELECT user_id, event_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER w)
                       >= {_CHAIN_GAP_US}
                  THEN 1 ELSE 0 END AS is_root,
             LEAD(event_id) OVER w AS next_id,
             epoch_us(LEAD(ts) OVER w) - epoch_us(ts) AS gap_next
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), edges AS (
      SELECT event_id AS src, next_id AS dst FROM marked
      WHERE next_id IS NOT NULL AND gap_next < {_CHAIN_GAP_US}
    ), chain(user_id, root_id, event_id, depth) AS (
      SELECT user_id, event_id, event_id, 1 FROM marked WHERE is_root = 1
      UNION ALL
      SELECT c.user_id, c.root_id, e.dst, c.depth + 1
      FROM chain c JOIN edges e ON e.src = c.event_id
    )
    SELECT user_id, root_id AS session_start_event_id, event_id,
           CAST(depth AS BIGINT) AS chain_pos
    FROM chain ORDER BY user_id, session_start_event_id, chain_pos
    """,
)
def session_chains_recursive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event session lineage via a RECURSIVE CTE (Spark 4's
    ``WITH RECURSIVE``): session roots (gap ≥ 2 h, same rule as
    sessionize_events_batch) anchor the recursion, and each step follows
    the event's UNIQUE next-event edge inside the gap — assigning every
    event its session-start event id and chain position. The declarative
    fixpoint twin of the gaps-and-islands running sum: same session
    boundaries, but the output is the event→root LINEAGE (which
    gaps-and-islands can also derive via min-over-partition — the point
    here is exercising Catalyst's recursion operator on a shape where it
    terminates BY CONSTRUCTION: edges advance strictly in (ts, event_id)
    order and each node has at most one successor, so the recursion is
    linear — total rows ≡ |events|, depth ≡ longest session).

    Spark's recursive CTEs support only UNION ALL (probed:
    UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), so CYCLIC closures like the
    near-dup component walk stay on the iterative min-label operator
    (dedup/clustering.py) — that recursion would need set semantics to
    terminate. This query is the acyclic case the feature handles today;
    both engines run the same recursion, so it is fully oracle-backed."""
    # Both recursion guards are reachable by the data, so the query text
    # sizes them from the input and the session's guards stay as they are:
    # depth = the longest session's event count (MAX RECURSION LEVEL), rows
    # = one per event (the LIMIT, which replaces the session row limit).
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts"
    )
    sizes = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.sum("n").alias("total"), F.max("n").alias("longest"))
        .first()
    )
    total, longest = int(sizes["total"] or 0), int(sizes["longest"] or 0)
    row_need = max(1_000_000, 2 * total)
    level_need = max(100, longest + 8)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_prev = F.unix_micros(F.col("ts")) - F.unix_micros(
        F.lag("ts").over(w)
    )
    gap_next = F.unix_micros(F.lead("ts").over(w)) - F.unix_micros(
        F.col("ts")
    )
    marked = ev.select(
        "user_id",
        "event_id",
        (gap_prev.isNull() | (gap_prev >= _CHAIN_GAP_US)).alias("is_root"),
        F.lead("event_id").over(w).alias("next_id"),
        gap_next.alias("gap_next"),
    )
    roots = marked.filter("is_root").select("user_id", "event_id")
    edges = marked.filter(
        F.col("next_id").isNotNull() & (F.col("gap_next") < _CHAIN_GAP_US)
    ).select(F.col("event_id").alias("src"), F.col("next_id").alias("dst"))
    # DataFrame templating instead of temp views: no session-global name
    # to collide with, the frames stay plan-scoped to this query
    return spark.sql(
        f"""
        WITH RECURSIVE chain(user_id, root_id, event_id, depth)
        MAX RECURSION LEVEL {level_need} AS (
          SELECT user_id, event_id, event_id, 1 FROM {{roots}}
          UNION ALL
          SELECT c.user_id, c.root_id, e.dst, c.depth + 1
          FROM chain c JOIN {{edges}} e ON e.src = c.event_id
        )
        SELECT user_id, root_id AS session_start_event_id, event_id,
               CAST(depth AS BIGINT) AS chain_pos
        FROM (SELECT * FROM chain LIMIT {row_need})
        ORDER BY user_id, session_start_event_id, chain_pos
        """,
        roots=roots,
        edges=edges,
    )


@query(
    "sessionize_events_batch",
    oracle="""
    WITH marked AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR epoch_us(ts) - epoch_us(LAG(ts) OVER w) >= 7200000000
                  THEN 1 ELSE 0 END AS new_session
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), numbered AS (
      SELECT user_id, ts,
             SUM(new_session) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS session_id
      FROM marked
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    ORDER BY user_id, session_start
    """,
)
def sessionize_events_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch sessionization (gaps-and-islands): lag → new-session flag →
    running sum = session id → per-session agg. Gap compared in integer
    microseconds (unix_micros ≡ epoch_us) — float/truncated seconds would
    diverge across engines. Same 2 h gap rule as stream_session_windows."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_us = F.unix_micros(F.col("ts")) - F.unix_micros(F.lag("ts").over(w))
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(gap_us.isNull() | (gap_us >= 7_200_000_000), 1)
        .otherwise(0)
        .alias("new_session"),
    )
    numbered = marked.select(
        "user_id",
        "ts",
        F.sum("new_session")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("session_id"),
    )
    out = grouped_agg(
        numbered,
        ["user_id", "session_id"],
        [
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
        ],
    ).drop("session_id")
    return out.orderBy("user_id", "session_start")


@query(
    "trailing_hour_user_stats",
    oracle="""
    SELECT event_id, user_id, ts,
           COUNT(*) OVER w AS n_trailing,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) OVER w AS DOUBLE)
                 / COUNT(*) OVER w, 6) AS trailing_avg
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
    )
    ORDER BY event_id
    """,
)
def trailing_hour_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time RANGE frame: per-user trailing-1-hour count and average
    (rangeBetween over integer microseconds — frame specs the reference
    never uses, SURVEY §2.6). One shuffle on user_id."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    n = F.count(F.lit(1)).over(w)
    s = F.sum(F.col("value").cast(_DEC)).over(w)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        n.alias("n_trailing"),
        F.round(s.cast("double") / n, 6).alias("trailing_avg"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Percentiles, arg-max, window-derived filters
# ---------------------------------------------------------------------------


@query(
    "order_value_percentiles",
    oracle="""
    SELECT o_orderpriority,
           ROUND(quantile_cont(o_totalprice, 0.25), 6) AS p25,
           ROUND(quantile_cont(o_totalprice, 0.50), 6) AS p50,
           ROUND(quantile_cont(o_totalprice, 0.75), 6) AS p75,
           ROUND(MAX(o_totalprice), 6) AS p_max
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def order_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolation percentiles per group (Spark `percentile`
    ≡ DuckDB `quantile_cont`) — selection-based, so no summation-order
    nondeterminism. The approx_percentile swap-in is the 100 TB path."""
    orders = load_table(spark, sf_dir, "orders")
    pct = F.expr("percentile(o_totalprice, array(0.25, 0.5, 0.75))")
    out = grouped_agg(
        orders,
        ["o_orderpriority"],
        [pct.alias("pct"), F.max("o_totalprice").alias("mx")],
    ).select(
        "o_orderpriority",
        F.round(F.col("pct")[0], 6).alias("p25"),
        F.round(F.col("pct")[1], 6).alias("p50"),
        F.round(F.col("pct")[2], 6).alias("p75"),
        F.round(F.col("mx"), 6).alias("p_max"),
    )
    return out.orderBy("o_orderpriority")


@query("approx_distinct_users")
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ distinct users per event type — the scale path for
    wide-key distinct (sketch merge, no value shuffle). Approximate ⇒
    rows-only gate; relative error vs exact is asserted in
    tests/test_analytics.py."""
    ev = load_table(spark, sf_dir, "events")
    out = grouped_agg(
        ev,
        ["event_type"],
        [F.approx_count_distinct("user_id", 0.02).alias("approx_users")],
    )
    return out.orderBy("event_type")


@query("hll_incremental_distinct")
def hll_incremental_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-sketch incremental distinct: persistable per-(day,
    event_type) HLL sketches of user_id (operators/sketches.hll_rollup)
    are UNIONED up to per-event_type totals (hll_merge) without touching
    the fact table again — the incremental twin of approx_distinct_users.
    ``approx_count_distinct`` yields an unmergeable number; the sketch
    table is state you keep, so any coarser slice is a union over
    sketch-sized rows (at 100 TB: a quarter of distinct-users queries
    against ~90 rows/group instead of a quarter-scan).

    Approximate + sketch-impl-specific ⇒ rows-only gate; pytest pins (a)
    union-exactness — merged daily sketches estimate EXACTLY equal to a
    direct all-days sketch (same register state) — and (b) ≤5% relative
    error vs exact distinct."""
    from high_volume_market_data_pipeline_spark.operators.sketches import (
        hll_estimate,
        hll_merge,
        hll_rollup,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = hll_rollup(ev, ["event_type", "day"], "user_id")
    totals = hll_merge(daily, ["event_type"])
    return totals.select(
        "event_type",
        hll_estimate(F.col("sketch")).alias("approx_users"),
    ).orderBy("event_type")


_HH_TRACKED = 10_000  # sketch counter budget; exact while |users/type| ≤ this
_HH_K = 5


@query(
    "heavy_hitter_users",
    oracle=f"""
    WITH counted AS (
      SELECT event_type, user_id, COUNT(*) AS cnt
      FROM events GROUP BY event_type, user_id
    ), ranked AS (
      SELECT event_type, user_id, cnt,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY cnt DESC, user_id
             ) AS hh_rank
      FROM counted
    )
    SELECT event_type, user_id, cnt, hh_rank
    FROM ranked WHERE hh_rank <= {_HH_K}
    ORDER BY event_type, hh_rank
    """,
)
def heavy_hitter_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters per group via the ``approx_top_k`` frequency sketch
    (Spark 4): top-{_HH_K} users by event count within each event type.

    The sketch is the 100 TB shape for "top items by frequency": counters
    are MERGEABLE, so map-side partial aggregation ships ≤ maxItemsTracked
    counters per (partition, group) instead of shuffling one row per
    (group, user) — the exact groupBy twin's shuffle grows with distinct
    pairs, the sketch's with its fixed counter budget. Below the budget
    (``maxItemsTracked=10000``; testdata has ≤1500 users/type at sf0.1,
    bound asserted in tests/test_analytics.py) every count is EXACT, which
    is what makes this registration fully oracle-backed; past it the same
    query degrades gracefully to approximate counts. The sketch's own
    top-k boundary breaks count ties arbitrarily, so we request the whole
    counter table (k = maxItemsTracked) and apply the deterministic
    (count desc, user_id) rank ourselves — the sketch does the heavy
    lifting, the window runs over ≤ maxItemsTracked rows per group."""
    ev = load_table(spark, sf_dir, "events")
    sk = ev.groupBy("event_type").agg(
        F.expr(
            f"approx_top_k(user_id, {_HH_TRACKED}, {_HH_TRACKED})"
        ).alias("tk")
    )
    exploded = sk.select(
        "event_type", F.explode("tk").alias("e")
    ).select(
        "event_type",
        F.col("e.item").alias("user_id"),
        F.col("e.count").alias("cnt"),
    )
    w = Window.partitionBy("event_type").orderBy(F.desc("cnt"), "user_id")
    return (
        exploded.withColumn("hh_rank", F.row_number().over(w))
        .filter(F.col("hh_rank") <= _HH_K)
        .orderBy("event_type", "hh_rank")
    )


@query(
    "heavy_hitter_daily_rollup",
    oracle=f"""
    WITH counted AS (
      SELECT event_type, user_id, COUNT(*) AS cnt
      FROM events GROUP BY event_type, user_id
    ), ranked AS (
      SELECT event_type, user_id, cnt,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY cnt DESC, user_id
             ) AS hh_rank
      FROM counted
    )
    SELECT event_type, user_id, cnt, hh_rank
    FROM ranked WHERE hh_rank <= {_HH_K}
    ORDER BY event_type, hh_rank
    """,
)
def heavy_hitter_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters FROM MERGEABLE STATE: per-(event_type, day)
    ``approx_top_k`` sketches (operators/sketches.topk_rollup — the state
    an ingest job persists daily) are COMBINED up to per-event_type and
    ranked — the fact table is read once at the daily grain, the monthly
    question is answered from sketch-sized rows, the frequency twin of
    hll_incremental_distinct. Same oracle as heavy_hitter_users: combine
    SUMS exact per-item counters, so under the tracked budget the state
    path must reproduce the direct answer BIT-EXACTLY, which upgrades
    this from a rows-only sketch demo to a full hash-oracle query —
    merge-then-query ≡ query-direct is checked by the driver itself."""
    from high_volume_market_data_pipeline_spark.operators.sketches import (
        topk_estimate_rows,
        topk_merge,
        topk_rollup,
    )

    ev = load_table(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts")
    )
    daily = topk_rollup(ev, ["event_type", "day"], "user_id",
                        max_tracked=_HH_TRACKED)
    merged = topk_merge(daily, ["event_type"], max_tracked=_HH_TRACKED)
    exploded = topk_estimate_rows(
        merged, k=_HH_TRACKED, item_alias="user_id", count_alias="cnt"
    ).select("event_type", "user_id", "cnt")
    w = Window.partitionBy("event_type").orderBy(F.desc("cnt"), "user_id")
    return (
        exploded.withColumn("hh_rank", F.row_number().over(w))
        .filter(F.col("hh_rank") <= _HH_K)
        .orderBy("event_type", "hh_rank")
    )


@query(
    "user_peak_event",
    oracle="""
    WITH ranked AS (
      SELECT user_id, value, event_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY value DESC, event_id DESC
             ) AS rn
      FROM events
    )
    SELECT user_id, value AS peak_value, event_id AS peak_event_id,
           event_type AS peak_event_type
    FROM ranked WHERE rn = 1
    ORDER BY user_id
    """,
)
def user_peak_event(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arg-max per group via max(struct(...)) — one hash aggregate, no
    window shuffle-and-rank; the (value, event_id) tuple makes ties
    deterministic."""
    ev = load_table(spark, sf_dir, "events")
    peak = F.max(F.struct("value", "event_id", "event_type")).alias("m")
    out = grouped_agg(ev, ["user_id"], [peak]).select(
        "user_id",
        F.col("m.value").alias("peak_value"),
        F.col("m.event_id").alias("peak_event_id"),
        F.col("m.event_type").alias("peak_event_type"),
    )
    return out.orderBy("user_id")


@query(
    "orders_above_customer_avg",
    oracle="""
    WITH stats AS (
      SELECT o_orderkey, o_custkey, o_totalprice,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
                   / COUNT(*) OVER w, 6) AS cust_avg
      FROM orders
      WINDOW w AS (PARTITION BY o_custkey)
    )
    SELECT o_orderkey, o_custkey, o_totalprice, cust_avg
    FROM stats WHERE o_totalprice > cust_avg
    ORDER BY o_orderkey
    """,
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery shape (orders above their customer's average)
    rewritten as a whole-partition window — one shuffle instead of a
    self-join; exact-decimal running sum keeps both engines bit-equal."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey")
    cavg = F.round(
        F.sum(F.col("o_totalprice").cast(_DEC)).over(w).cast("double")
        / F.count(F.lit(1)).over(w),
        6,
    )
    out = orders.select(
        "o_orderkey", "o_custkey", "o_totalprice", cavg.alias("cust_avg")
    ).filter(F.col("o_totalprice") > F.col("cust_avg"))
    return out.orderBy("o_orderkey")


# ---------------------------------------------------------------------------
# Scalar-function surfaces (string + datetime)
# ---------------------------------------------------------------------------


@query(
    "parts_catalog_labels",
    oracle="""
    SELECT p_partkey,
           upper(p_brand) AS brand_u,
           substr(p_name, 1, 8) AS name_prefix,
           length(p_name) AS name_len,
           replace(p_type, ' ', '_') AS type_slug,
           p_brand || ':' || p_type AS brand_type
    FROM part
    WHERE p_name LIKE '%a%'
    ORDER BY p_partkey
    """,
)
def parts_catalog_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface (upper/substr/length/replace/concat/LIKE) —
    all JVM builtins inside the scan stage, no shuffle."""
    part = load_table(spark, sf_dir, "part")
    out = part.filter(F.col("p_name").like("%a%")).select(
        "p_partkey",
        F.upper("p_brand").alias("brand_u"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").alias("name_len"),
        F.replace(F.col("p_type"), F.lit(" "), F.lit("_")).alias("type_slug"),
        F.concat_ws(":", "p_brand", "p_type").alias("brand_type"),
    )
    return out.orderBy("p_partkey")


@query(
    "daily_event_profile",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS event_date,
           extract(hour FROM ts) AS event_hour,
           extract(dow FROM ts) AS day_of_week,
           COUNT(*) AS n_events,
           {davg_sql("value")} AS avg_value
    FROM events
    GROUP BY event_date, event_hour, day_of_week
    ORDER BY event_date, event_hour
    """,
)
def daily_event_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Datetime-function surface: to_date/hour/dayofweek bucketing + agg.
    (Spark dayofweek is 1-based Sunday; DuckDB dow is 0-based Sunday —
    normalized here.)"""
    ev = load_table(spark, sf_dir, "events")
    keyed = ev.select(
        F.to_date("ts").alias("event_date"),
        F.hour("ts").cast("long").alias("event_hour"),
        (F.dayofweek("ts") - 1).cast("long").alias("day_of_week"),
        "value",
    )
    out = grouped_agg(
        keyed,
        ["event_date", "event_hour", "day_of_week"],
        [F.count(F.lit(1)).alias("n_events"), davg(F.col("value")).alias("avg_value")],
    )
    return out.orderBy("event_date", "event_hour")


@query(
    "salted_event_value_agg",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n_events,
           {dsum_sql("value")} AS total_value
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def salted_event_value_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe two-phase aggregation on a 5-value (hot) grouping key:
    salt → partial agg → final agg (operators/skew.py). Result-identical to
    the plain GROUP BY oracle; only the shuffle distribution differs."""
    from high_volume_market_data_pipeline_spark.operators.skew import (
        salted_grouped_agg,
    )

    ev = load_table(spark, sf_dir, "events")
    out = salted_grouped_agg(
        ev,
        ["event_type"],
        partial_aggs=[
            F.count(F.lit(1)).alias("pn"),
            F.sum(F.col("value").cast(_DEC)).alias("ps"),
        ],
        final_aggs=[
            F.sum("pn").alias("n_events"),
            F.sum("ps").cast("double").alias("total_value"),
        ],
        salt_from="event_id",
        n_salts=16,
    )
    return out.orderBy("event_type")


@query(
    "json_props_profile",
    oracle=f"""
    SELECT event_type,
           COUNT(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
           {davg_sql("CAST(json_extract_string(props, '$.k') AS BIGINT)")} AS avg_k,
           MIN(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
)
def json_props_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema-declared JSON parsing (from_json → struct, not per-field
    get_json_object re-parses) + aggregation over the extracted field —
    the semi-structured-column surface. One parse per row regardless of
    how many fields are extracted."""
    ev = load_table(spark, sf_dir, "events")
    parsed = ev.select(
        "event_type",
        F.from_json("props", "k BIGINT").alias("p"),
    ).select("event_type", F.col("p.k").alias("k"))
    out = grouped_agg(
        parsed,
        ["event_type"],
        [
            F.count("k").alias("n_with_k"),
            davg(F.col("k")).alias("avg_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        ],
    )
    return out.orderBy("event_type")


@query(
    "variant_props_buckets",
    oracle="""
    SELECT event_type,
           CAST(json_extract_string(props, '$.k') AS BIGINT) // 10 AS k_decile,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k
    FROM events
    GROUP BY event_type, k_decile
    ORDER BY event_type, k_decile
    """,
)
def variant_props_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured data: parse_json encodes
    props ONCE into the binary variant form, then typed field reads
    (try_variant_get) are offset lookups, not string re-parses — the
    OPEN-schema counterpart of json_props_profile's from_json (which needs
    the schema declared up front). Integer decile buckets keep the oracle
    engine-exact."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type", F.parse_json("props").alias("v")
    ).select(
        "event_type",
        F.try_variant_get("v", "$.k", "bigint").alias("k"),
    )
    return (
        v.groupBy(
            "event_type", F.floor(F.col("k") / 10).alias("k_decile")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
        )
        .orderBy("event_type", "k_decile")
    )


@query(
    "stats_quantity_price",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(24,4))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(28,4))) AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(26,4))) AS DOUBLE) AS sxy
      FROM lineitem
      GROUP BY l_returnflag
    )
    SELECT l_returnflag,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6) AS corr_qty_price,
           ROUND(sqrt((n * sxx - sx * sx) / (CAST(n AS DOUBLE) * (n - 1))), 6) AS stddev_qty,
           ROUND(sqrt((n * syy - sy * sy) / (CAST(n AS DOUBLE) * (n - 1))), 6) AS stddev_price
    FROM m
    ORDER BY l_returnflag
    """,
)
def stats_quantity_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (Pearson corr, sample stddev) built from
    EXACT-DECIMAL moment sums, then one double evaluation — unlike the
    built-in corr/stddev (streaming co-moments, summation-order dependent),
    this is bit-reproducible across engines, partitionings, and reruns.
    Same single-shuffle partial+final hash-agg plan."""
    li = load_table(spark, sf_dir, "lineitem")
    q, p = F.col("l_quantity"), F.col("l_extendedprice")
    m = grouped_agg(
        li,
        ["l_returnflag"],
        [
            F.count(F.lit(1)).alias("n"),
            F.sum(q.cast("decimal(18,4)")).cast("double").alias("sx"),
            F.sum(p.cast("decimal(18,4)")).cast("double").alias("sy"),
            F.sum((q * q).cast("decimal(24,4)")).cast("double").alias("sxx"),
            F.sum((p * p).cast("decimal(28,4)")).cast("double").alias("syy"),
            F.sum((q * p).cast("decimal(26,4)")).cast("double").alias("sxy"),
        ],
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    out = m.select(
        "l_returnflag",
        F.round(
            (n * sxy - sx * sy)
            / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy)),
            6,
        ).alias("corr_qty_price"),
        F.round(
            F.sqrt((n * sxx - sx * sx) / (n.cast("double") * (n - 1))), 6
        ).alias("stddev_qty"),
        F.round(
            F.sqrt((n * syy - sy * sy) / (n.cast("double") * (n - 1))), 6
        ).alias("stddev_price"),
    )
    return out.orderBy("l_returnflag")


@query(
    "hypertable_rollup",
    oracle=f"""
    SELECT CAST(ts AS DATE) AS bucket_day,
           extract(hour FROM ts) AS bucket_hour,
           COUNT(*) AS n_events,
           {dsum_sql("value")} AS total_value
    FROM events
    GROUP BY ROLLUP (bucket_day, bucket_hour)
    ORDER BY bucket_day NULLS FIRST, bucket_hour NULLS FIRST
    """,
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hour→day→total hierarchy in
    ONE pass (ROLLUP/Expand — no per-granularity rescans). The incremental
    refresh analogue is the streaming tumbling window over the same
    bucketing (stream_tumbling_hourly)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("bucket_day"),
        F.hour("ts").cast("long").alias("bucket_hour"),
        "value",
    )
    from high_volume_market_data_pipeline_spark.operators.aggregates import (
        rollup_agg,
    )

    out = rollup_agg(
        ev,
        ["bucket_day", "bucket_hour"],
        [
            F.count(F.lit(1)).alias("n_events"),
            dsum(F.col("value")).alias("total_value"),
        ],
    )
    return out.orderBy(
        F.col("bucket_day").asc_nulls_first(),
        F.col("bucket_hour").asc_nulls_first(),
    )


@query("approx_value_percentiles")
def approx_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_percentile (sketch-merged quantiles) per event type — the
    100 TB path where exact percentile's full-sort-per-group is infeasible.
    Approximate ⇒ rows-only gate; accuracy vs exact is asserted in
    tests/test_analytics.py."""
    ev = load_table(spark, sf_dir, "events")
    pct = F.expr(
        "approx_percentile(value, array(0.5, 0.95, 0.99), 10000)"
    ).alias("pct")
    out = grouped_agg(ev, ["event_type"], [pct]).select(
        "event_type",
        F.col("pct")[0].alias("p50"),
        F.col("pct")[1].alias("p95"),
        F.col("pct")[2].alias("p99"),
    )
    return out.orderBy("event_type")


@query(
    "user_event_type_sets",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), ',')
             AS event_types,
           COUNT(DISTINCT event_type) AS n_types
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
)
def user_event_type_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collection aggregation: per-user DISTINCT set of event types as a
    sorted, comma-joined string (sort pins the cross-engine comparison —
    set order is undefined in both engines; the join-to-string is the
    driver-hash boundary rule: the driver's canonicalizer pandas-sorts raw
    cells and crashes on array values, so hashed outputs must be scalar.
    Library users wanting the array form use ``F.sort_array(
    F.collect_set(...))`` directly via operators.aggregates.grouped_agg)."""
    ev = load_table(spark, sf_dir, "events")
    out = grouped_agg(
        ev,
        ["user_id"],
        [
            F.concat_ws(
                ",", F.sort_array(F.collect_set("event_type"))
            ).alias("event_types"),
            F.countDistinct("event_type").alias("n_types"),
        ],
    )
    return out.orderBy("user_id")


@query(
    "order_value_quartiles_ntile",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           NTILE(4) OVER (
             PARTITION BY o_orderpriority
             ORDER BY o_totalprice, o_orderkey
           ) AS quartile
    FROM orders
    ORDER BY o_orderkey
    """,
)
def order_value_quartiles_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NTILE bucketing per group (balanced quartile assignment — the
    window-analytic family member not covered elsewhere); tiebreak on
    orderkey keeps both engines' bucket boundaries identical."""
    ev = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice", "o_orderkey")
    return ev.select(
        "o_orderkey",
        "o_orderpriority",
        F.ntile(4).over(w).alias("quartile"),
    ).orderBy("o_orderkey")


@query(
    "cheapest_supplier_per_part",
    oracle="""
    WITH offers AS (
      SELECT l_partkey, l_suppkey,
             floor(l_extendedprice * 1000000.0 / l_quantity) / 1000000.0
               AS unit_price
      FROM lineitem WHERE l_quantity > 0
    ), ranked AS (
      SELECT l_partkey, l_suppkey, unit_price,
             ROW_NUMBER() OVER (
               PARTITION BY l_partkey ORDER BY unit_price, l_suppkey
             ) AS rn
      FROM offers
    )
    SELECT r.l_partkey AS part_key,
           p.p_name,
           r.l_suppkey AS best_suppkey,
           s.s_name AS best_supplier,
           r.unit_price AS best_unit_price
    FROM ranked r
    JOIN part p ON p.p_partkey = r.l_partkey
    JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.rn = 1
    ORDER BY part_key
    """,
)
def cheapest_supplier_per_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (correlated min + join-back): cheapest observed unit
    price per part across suppliers — min-per-group via ranking window,
    then broadcast-joined to both dimension tables. The correlated
    subquery a SQL user would write becomes ONE window pass instead of a
    per-row rescan.

    Unit price is truncated to micro-units with floor(x*1e6/q)/1e6 — pure
    IEEE double ops, bit-identical across engines. ROUND(x, 6) is NOT: the
    engines resolve half-way doubles differently (found at sf0.1:
    64.0746875 → 64.074688 in Spark, 64.074687 in DuckDB), which flips
    row_number winners on near-tie prices."""
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_quantity") > 0)
    offers = li.select(
        "l_partkey",
        "l_suppkey",
        (
            F.floor(F.col("l_extendedprice") * F.lit(1000000.0) / F.col("l_quantity"))
            / F.lit(1000000.0)
        ).alias("unit_price"),
    )
    w = Window.partitionBy("l_partkey").orderBy("unit_price", "l_suppkey")
    best = (
        offers.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    part = load_table(spark, sf_dir, "part")
    supp = load_table(spark, sf_dir, "supplier")
    out = (
        broadcast_join(best, part, F.col("l_partkey") == part.p_partkey)
        .join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .select(
            F.col("l_partkey").alias("part_key"),
            "p_name",
            F.col("l_suppkey").alias("best_suppkey"),
            F.col("s_name").alias("best_supplier"),
            F.col("unit_price").alias("best_unit_price"),
        )
    )
    return out.orderBy("part_key")


@query(
    "parts_sales_coverage",
    oracle="""
    SELECT p.p_partkey,
           COUNT(l.l_orderkey) AS n_sold,
           (COUNT(l.l_orderkey) = 0) AS never_sold
    FROM part p
    LEFT JOIN lineitem l ON l.l_partkey = p.p_partkey
    GROUP BY p.p_partkey
    ORDER BY p.p_partkey
    """,
)
def parts_sales_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER join + null-aware counting: per-part sales with unsold
    parts retained (COUNT over the nullable right side = 0 for no match) —
    the outer-join member of the join matrix (inner/semi/anti/cross/asof/
    range covered elsewhere)."""
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_orderkey")
    joined = part.join(li, part.p_partkey == li.l_partkey, "left")
    out = grouped_agg(
        joined,
        ["p_partkey"],
        [F.count("l_orderkey").alias("n_sold")],
    ).withColumn("never_sold", F.col("n_sold") == 0)
    return out.orderBy("p_partkey")


@query(
    "forecast_revenue_q6",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,4)))
                AS DOUBLE) AS promo_revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate < TIMESTAMP '1997-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def forecast_revenue_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: highly selective conjunctive filter + scalar agg —
    the pure predicate-pushdown showcase (every predicate reaches the
    parquet scan; asserted in tests/test_plan_properties.py). Zero
    shuffles beyond the single partial/final agg exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    filtered = li.filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return filtered.agg(
        dsum(F.col("l_extendedprice") * F.col("l_discount")).alias(
            "promo_revenue"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


@query(
    "priority_count_q4",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS n_orders
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-07-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
      )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
)
def priority_count_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS with a correlated inequality — planned as a
    left-semi join carrying the extra condition, so the lineitem columns
    never reach the aggregate."""
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-07-01")))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    semi = orders.join(
        li,
        (orders.o_orderkey == li.l_orderkey)
        & (li.l_shipdate > orders.o_orderdate),
        "left_semi",
    )
    out = grouped_agg(
        semi, ["o_orderpriority"], [F.count(F.lit(1)).alias("n_orders")]
    )
    return out.orderBy("o_orderpriority")


@query(
    "returned_top_customers_q10",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           {dsum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue,
           n.n_name
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1996-04-01'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def returned_top_customers_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, global top-20.
    Filters push to both fact scans; nation broadcasts; top-K never
    full-sorts."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    )
    nation = load_table(spark, sf_dir, "nation")
    j = equi_join(li, orders, li.l_orderkey == orders.o_orderkey)
    j = equi_join(j, cust, F.col("o_custkey") == cust.c_custkey)
    j = broadcast_join(j, nation, F.col("c_nationkey") == nation.n_nationkey)
    grouped = grouped_agg(
        j,
        ["c_custkey", "c_name", "n_name"],
        [dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("revenue")],
    ).select("c_custkey", "c_name", "revenue", "n_name")
    return top_k_global(grouped, 20, F.desc("revenue"), "c_custkey")


@query(
    "supplier_diversity_q16",
    oracle="""
    SELECT p.p_brand, p.p_type,
           COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
    FROM part p
    JOIN lineitem l ON l.l_partkey = p.p_partkey
    WHERE p.p_brand <> 'Brand#1'
      AND p.p_type <> 'ECONOMY'
      AND l.l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p.p_brand, p.p_type
    ORDER BY supplier_cnt DESC, p_brand, p_type
    LIMIT 20
    """,
)
def supplier_diversity_q16(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape (partsupp routed through lineitem): how many
    distinct suppliers ship each surviving (brand, type) — an anti-join
    (NOT IN, null-safe here because s_suppkey is non-null) feeding a
    distinct-count aggregation. The anti side (negative-balance suppliers)
    broadcasts; part is a broadcast dim; only the distinct-agg shuffles."""
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#1") & (F.col("p_type") != "ECONOMY")
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("l_suppkey"))
    )
    survivors = anti_join(li, bad, "l_suppkey")
    j = broadcast_join(
        survivors, part, F.col("l_partkey") == part.p_partkey
    )
    grouped = grouped_agg(
        j,
        ["p_brand", "p_type"],
        [F.countDistinct("l_suppkey").alias("supplier_cnt")],
    )
    return top_k_global(
        grouped, 20, F.desc("supplier_cnt"), "p_brand", "p_type"
    )


@query(
    "bulk_part_suppliers_q20",
    oracle="""
    SELECT s.s_name, s.s_acctbal
    FROM supplier s
    WHERE s.s_suppkey IN (
      SELECT l.l_suppkey
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      WHERE p.p_name LIKE '%red%'
        AND l.l_shipdate >= TIMESTAMP '1996-01-01'
        AND l.l_shipdate < TIMESTAMP '1997-01-01'
      GROUP BY l.l_suppkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 300
    )
    ORDER BY s_name
    """,
)
def bulk_part_suppliers_q20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: suppliers that moved > 300 units of red parts in
    1996 — a HAVING-filtered aggregation feeding a left-semi join. Date +
    name predicates push to the scans; the semi join keeps supplier
    columns out of the shuffle until the tiny qualifying set is known."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    )
    qualifying = (
        grouped_agg(
            broadcast_join(li, part, li.l_partkey == part.p_partkey),
            ["l_suppkey"],
            [F.sum(F.col("l_quantity").cast(_DEC)).alias("_qty")],
        )
        .filter(F.col("_qty") > 300)
        .select(F.col("l_suppkey").alias("s_suppkey"))
    )
    supp = load_table(spark, sf_dir, "supplier")
    return global_sort(
        semi_join(supp, qualifying, "s_suppkey").select("s_name", "s_acctbal"),
        "s_name",
    )


@query(
    "priority_shipping_modes_q12",
    oracle="""
    SELECT l.l_returnflag,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_returnflag
    ORDER BY l_returnflag
    """,
)
def priority_shipping_modes_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation (CASE inside SUM) after an
    equi-join — one pass computes both priority classes instead of two
    filtered scans; the date predicate pushes to the lineitem scan."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1997-01-01")))
    )
    orders = load_table(spark, sf_dir, "orders")
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    j = equi_join(li, orders, li.l_orderkey == orders.o_orderkey)
    out = grouped_agg(
        j,
        ["l_returnflag"],
        [
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        ],
    )
    return global_sort(out, "l_returnflag")


@query(
    "discounted_bulk_revenue_q19",
    oracle="""
    SELECT CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                         AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND p.p_size BETWEEN 1 AND 5
           AND l.l_quantity >= 1 AND l.l_quantity <= 11)
       OR (p.p_brand = 'Brand#23' AND p.p_size BETWEEN 1 AND 10
           AND l.l_quantity >= 10 AND l.l_quantity <= 20)
       OR (p.p_brand = 'Brand#34' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity >= 20 AND l.l_quantity <= 30)
    """,
)
def discounted_bulk_revenue_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-conjunctions predicate spanning both join
    sides. Expressed as a join FILTER (not three unioned scans): Catalyst
    pushes the derivable single-side conjuncts (p_size ≥ 1, quantity
    bounds) below the join and evaluates the residual disjunction once —
    the part dim broadcasts."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    j = broadcast_join(li, part, li.l_partkey == part.p_partkey)
    cond = (
        (F.col("p_brand") == "Brand#12")
        & F.col("p_size").between(1, 5)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#23")
        & F.col("p_size").between(1, 10)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#34")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(20, 30)
    )
    return grouped_agg(
        j.filter(cond),
        [],
        [
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            ),
            F.count(F.lit(1)).alias("n_lines"),
        ],
    )


@query(
    "nation_trade_volume_q7",
    oracle=f"""
    SELECT n1.n_name AS supp_nation,
           n2.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS BIGINT) AS l_year,
           {dsum_sql("l.l_extendedprice * (1 - l.l_discount)")} AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n1 ON n1.n_nationkey = s.s_nationkey
    JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
    WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
        OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def nation_trade_volume_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bidirectional nation-pair trade volume by ship year.
    The two tiny nation dims broadcast (aliased twice — supplier side and
    customer side); the cross-pair disjunction is evaluated after both
    broadcasts, so the fact shuffles only for the orders/customer joins."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    j = equi_join(li, supp, li.l_suppkey == supp.s_suppkey)
    j = equi_join(j, orders, F.col("l_orderkey") == orders.o_orderkey)
    j = equi_join(j, cust, F.col("o_custkey") == cust.c_custkey)
    j = broadcast_join(j, n1, F.col("s_nationkey") == F.col("n1_key"))
    j = broadcast_join(j, n2, F.col("c_nationkey") == F.col("n2_key"))
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | (
        (F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1")
    )
    out = grouped_agg(
        j.filter(pair).withColumn(
            "l_year", F.year("l_shipdate").cast("long")
        ),
        ["supp_nation", "cust_nation", "l_year"],
        [
            dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        ],
    )
    return global_sort(out, "supp_nation", "cust_nation", "l_year")


@query(
    "market_share_q8",
    oracle="""
    WITH vol AS (
      SELECT CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
             CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,4)) AS volume,
             n2.n_name AS supp_nation
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n1 ON n1.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n1.n_regionkey
      JOIN nation n2 ON n2.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA'
        AND p.p_type = 'PROMO'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           ROUND(
             CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                           ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM vol
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def market_share_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: NATION_3's share of PROMO-part revenue sold into
    ASIA customers, per order year — a conditional-sum ratio over one
    8-table join pass (never two scans). Exact-decimal numerator and
    denominator, one double division at the end keeps both engines
    bit-equal."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_type") == "PROMO")
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("o_orderdate") < F.to_timestamp(F.lit("1998-01-01")))
    )
    cust = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n_cust = nation.select(
        F.col("n_nationkey").alias("nc_key"), F.col("n_regionkey").alias("nc_region")
    )
    n_supp = nation.select(
        F.col("n_nationkey").alias("ns_key"), F.col("n_name").alias("supp_nation")
    )
    j = broadcast_join(li, part, li.l_partkey == part.p_partkey)
    j = equi_join(j, supp, F.col("l_suppkey") == supp.s_suppkey)
    j = equi_join(j, orders, F.col("l_orderkey") == orders.o_orderkey)
    j = equi_join(j, cust, F.col("o_custkey") == cust.c_custkey)
    j = broadcast_join(j, n_cust, F.col("c_nationkey") == F.col("nc_key"))
    j = broadcast_join(j, region, F.col("nc_region") == region.r_regionkey)
    j = broadcast_join(j, n_supp, F.col("s_nationkey") == F.col("ns_key"))
    vol = j.select(
        F.year("o_orderdate").cast("long").alias("o_year"),
        (F.col("l_extendedprice") * (1 - F.col("l_discount")))
        .cast(_DEC)
        .alias("volume"),
        "supp_nation",
    )
    zero = F.lit(0).cast(_DEC)
    out = grouped_agg(
        vol,
        ["o_year"],
        [
            F.round(
                F.sum(
                    F.when(F.col("supp_nation") == "NATION_3", F.col("volume"))
                    .otherwise(zero)
                ).cast("double")
                / F.sum(F.col("volume")).cast("double"),
                6,
            ).alias("mkt_share")
        ],
    )
    return global_sort(out, "o_year")


@query(
    "important_part_stock_q11",
    oracle=f"""
    WITH part_value AS (
      SELECT l_partkey,
             {dsum_sql("l_extendedprice")} AS part_revenue
      FROM lineitem
      GROUP BY l_partkey
    ), total AS (
      SELECT CAST(SUM(CAST(part_revenue AS DECIMAL(18,4))) AS DOUBLE) AS total_revenue
      FROM part_value
    )
    SELECT pv.l_partkey AS part_key, pv.part_revenue
    FROM part_value pv, total t
    WHERE pv.part_revenue > t.total_revenue * 0.0005
    ORDER BY part_revenue DESC, part_key
    """,
)
def important_part_stock_q11(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: parts whose revenue exceeds a FRACTION OF THE
    GLOBAL TOTAL — a scalar aggregate joined back as a broadcast threshold
    (one row), never a per-row subquery re-scan. The grouped frame is
    computed once and reused for both the per-part values and the total
    (persist barrier keeps it single-execution)."""
    li = load_table(spark, sf_dir, "lineitem")
    # persist() with no matching unpersist: the returned frame is LAZY, so
    # unpersisting here (before any action) would silently recompute the
    # grouped frame once per consumer; the cache instead ages out via LRU.
    part_value = grouped_agg(
        li,
        ["l_partkey"],
        [dsum(F.col("l_extendedprice")).alias("part_revenue")],
    ).persist()
    total = grouped_agg(
        part_value,
        [],
        [dsum(F.col("part_revenue")).alias("total_revenue")],
    )
    out = (
        part_value.crossJoin(F.broadcast(total))
        .filter(F.col("part_revenue") > F.col("total_revenue") * 0.0005)
        .select(F.col("l_partkey").alias("part_key"), "part_revenue")
    )
    return out.orderBy(F.desc("part_revenue"), "part_key")


@query(
    "small_quantity_orders_q17",
    oracle="""
    WITH li AS (
      SELECT l_partkey, l_quantity, l_extendedprice,
             AVG(l_quantity) OVER (PARTITION BY l_partkey) AS avg_qty
      FROM lineitem
    )
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0
             AS avg_yearly,
           COUNT(*) AS n_small
    FROM li
    WHERE l_quantity < 0.2 * avg_qty
    """,
)
def small_quantity_orders_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: rows below 20% of their part's average quantity —
    the correlated AVG becomes ONE window pass over the partkey partition
    (no join-back, no per-part rescan); then a scalar aggregate.

    avg_qty is AVG over BIGINT quantities: sum of exact integers / count,
    one double division per part — cross-engine deterministic (no decimal
    needed). The final money sum goes through exact decimal as usual."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_partkey")
    small = li.select(
        "l_extendedprice",
        "l_quantity",
        F.avg("l_quantity").over(w).alias("avg_qty"),
    ).filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    return grouped_agg(
        small,
        [],
        [
            (
                F.sum(F.col("l_extendedprice").cast(_DEC)).cast("double") / 7.0
            ).alias("avg_yearly"),
            F.count(F.lit(1)).alias("n_small"),
        ],
    )


@query(
    "large_volume_customers_q18",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey
      FROM lineitem
      GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 300
    )
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate,
           o.o_totalprice,
           {dsum_sql("l.l_quantity")} AS total_qty
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderkey IN (SELECT l_orderkey FROM big)
    GROUP BY c.c_custkey, c.c_name, o.o_orderkey, o.o_orderdate, o.o_totalprice
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 100
    """,
)
def large_volume_customers_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds 300 — grouped
    HAVING feeds a semi join on the fact, then the detail re-aggregates
    per (customer, order) and global top-100 plans as
    TakeOrderedAndProject."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    big = (
        grouped_agg(
            li,
            ["l_orderkey"],
            [F.sum(F.col("l_quantity").cast(_DEC)).alias("_qty")],
        )
        .filter(F.col("_qty") > 300)
        .select("l_orderkey")
    )
    j = equi_join(
        semi_join(
            orders.withColumnRenamed("o_orderkey", "l_orderkey"), big, "l_orderkey"
        ),
        cust,
        F.col("o_custkey") == cust.c_custkey,
    )
    j = equi_join(j, li, "l_orderkey")
    grouped = grouped_agg(
        j.withColumnRenamed("l_orderkey", "o_orderkey"),
        ["c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice"],
        [dsum(F.col("l_quantity")).alias("total_qty")],
    ).select(
        "c_custkey", "c_name", "o_orderkey", "o_orderdate", "o_totalprice",
        "total_qty",
    )
    return top_k_global(grouped, 100, F.desc("o_totalprice"), "o_orderkey")


@query(
    "dormant_rich_customers_q22",
    oracle="""
    WITH positive AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*) AS avg_bal
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_custkey, c.c_acctbal
    FROM customer c, positive p
    WHERE c.c_acctbal > p.avg_bal
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-01-01'
      )
    ORDER BY c_custkey
    """,
)
def dormant_rich_customers_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average-balance customers with no RECENT
    orders (dormant since 2000) — a broadcast scalar threshold
    (exact-decimal avg) composed with an anti join. The date predicate
    pushes to the orders scan, which then projects to one column before
    shuffling."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") >= F.to_timestamp(F.lit("2000-01-01"))
    ).select(F.col("o_custkey").alias("c_custkey"))
    positive = grouped_agg(
        cust.filter(F.col("c_acctbal") > 0.0),
        [],
        [
            (
                F.sum(F.col("c_acctbal").cast(_DEC)).cast("double")
                / F.count(F.lit(1))
            ).alias("avg_bal")
        ],
    )
    rich = cust.crossJoin(F.broadcast(positive)).filter(
        F.col("c_acctbal") > F.col("avg_bal")
    )
    return global_sort(
        anti_join(rich, orders, "c_custkey").select("c_custkey", "c_acctbal"),
        "c_custkey",
    )


@query(
    "customer_order_distribution_q13",
    oracle="""
    WITH per_customer AS (
      SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
      FROM customer c
      LEFT OUTER JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_custkey
    )
    SELECT c_count, COUNT(*) AS custdist
    FROM per_customer
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def customer_order_distribution_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: histogram of per-customer order counts — a LEFT
    OUTER join (zero-order customers count as 0: COUNT(col) skips the
    nulls the outer join manufactures) followed by a second, much smaller
    aggregation over the counts."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    per_customer = grouped_agg(
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left"),
        ["c_custkey"],
        [F.count("o_orderkey").alias("c_count")],
    )
    dist = grouped_agg(
        per_customer, ["c_count"], [F.count(F.lit(1)).alias("custdist")]
    )
    return dist.orderBy(F.desc("custdist"), F.desc("c_count"))


@query(
    "top_supplier_q15",
    oracle=f"""
    WITH supplier_revenue AS (
      SELECT l_suppkey AS supplier_no,
             {dsum_sql("l_extendedprice * (1 - l_discount)")} AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate < TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s
    JOIN supplier_revenue r ON r.supplier_no = s.s_suppkey
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM supplier_revenue)
    ORDER BY s_suppkey
    """,
)
def top_supplier_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: supplier(s) achieving the MAXIMUM quarterly
    revenue — max-of-aggregate as a one-row broadcast joined back by
    EQUALITY (ties all surface, unlike LIMIT 1). The revenue view is
    persisted so the max probe and the join-back share one computation."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-01-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-04-01")))
    )
    supplier_revenue = grouped_agg(
        li,
        [F.col("l_suppkey").alias("supplier_no")],
        [dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
            "total_revenue"
        )],
    ).persist()
    peak = grouped_agg(
        supplier_revenue, [], [F.max("total_revenue").alias("_peak")]
    )
    winners = supplier_revenue.crossJoin(F.broadcast(peak)).filter(
        F.col("total_revenue") == F.col("_peak")
    )
    supp = load_table(spark, sf_dir, "supplier")
    out = equi_join(
        supp, winners, supp.s_suppkey == F.col("supplier_no")
    ).select("s_suppkey", "s_name", "total_revenue")
    return global_sort(out, "s_suppkey")


@query(
    "promo_revenue_share_q14",
    oracle="""
    SELECT ROUND(
             100.0 * CAST(SUM(CASE WHEN p.p_type = 'PROMO'
                        THEN CAST(l.l_extendedprice * (1 - l.l_discount)
                                  AS DECIMAL(18,4))
                        ELSE CAST(0 AS DECIMAL(18,4)) END) AS DOUBLE)
             / CAST(SUM(CAST(l.l_extendedprice * (1 - l.l_discount)
                             AS DECIMAL(18,4))) AS DOUBLE), 6) AS promo_share,
           COUNT(*) AS n_lines
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1996-09-01'
      AND l.l_shipdate < TIMESTAMP '1996-10-01'
    """,
)
def promo_revenue_share_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: PROMO revenue share for one month — conditional
    CASE-sum over the part broadcast join, exact-decimal numerator and
    denominator in ONE aggregation pass, one double division."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.to_timestamp(F.lit("1996-09-01")))
        & (F.col("l_shipdate") < F.to_timestamp(F.lit("1996-10-01")))
    )
    part = load_table(spark, sf_dir, "part")
    j = broadcast_join(li, part, li.l_partkey == part.p_partkey)
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(_DEC)
    zero = F.lit(0).cast(_DEC)
    return grouped_agg(
        j,
        [],
        [
            F.round(
                100.0
                * F.sum(
                    F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)
                ).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("promo_share"),
            F.count(F.lit(1)).alias("n_lines"),
        ],
    )


@query(
    "product_type_profit_q9",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS BIGINT) AS o_year,
           {dsum_sql(
               "l.l_extendedprice * (1 - l.l_discount)"
               " - p.p_retailprice * 0.6 * l.l_quantity"
           )} AS profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%red%'
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """,
)
def product_type_profit_q9(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: product-line profit by supplier nation and order
    year. The testdata has no partsupp table, so supply cost is a
    deterministic stand-in (60% of p_retailprice) — the plan shape is the
    real Q9: fact ⋈ two broadcast dims (part filtered by LIKE before the
    join, supplier), fact ⋈ fact on orderkey, nation broadcast, then a
    two-term profit expression aggregated per (nation, year). The LIKE
    filter prunes part BEFORE the join so only matching partkeys reach the
    shuffle. Profit subtraction happens per-row in double (same
    parenthesization as the oracle — IEEE ops are order-deterministic),
    summed exactly in decimal via dsum."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%red%")
    )
    supp = load_table(spark, sf_dir, "supplier")
    orders = load_table(spark, sf_dir, "orders")
    nation = load_table(spark, sf_dir, "nation")
    j = broadcast_join(li, part, li.l_partkey == part.p_partkey)
    j = broadcast_join(j, supp, F.col("l_suppkey") == supp.s_suppkey)
    j = equi_join(j, orders, F.col("l_orderkey") == orders.o_orderkey)
    j = broadcast_join(j, nation, F.col("s_nationkey") == nation.n_nationkey)
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.col(
        "p_retailprice"
    ) * F.lit(0.6) * F.col("l_quantity")
    out = grouped_agg(
        j.select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            profit.alias("profit_line"),
        ),
        ["nation", "o_year"],
        [dsum(F.col("profit_line")).alias("profit")],
    )
    return global_sort(out, "nation", F.desc("o_year"))


@query(
    "waiting_supplier_q21",
    oracle="""
    WITH flagged AS (
      SELECT l.l_orderkey, l.l_suppkey,
             CASE WHEN l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
                  THEN l.l_suppkey END AS late_supp
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F'
    ),
    per_order AS (
      SELECT l_orderkey,
             COUNT(DISTINCT l_suppkey) AS n_supp,
             COUNT(DISTINCT late_supp) AS n_late_supp
      FROM flagged GROUP BY l_orderkey
    )
    SELECT s.s_name AS s_name, COUNT(*) AS numwait
    FROM flagged f
    JOIN per_order po ON po.l_orderkey = f.l_orderkey
    JOIN supplier s ON s.s_suppkey = f.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    WHERE f.late_supp IS NOT NULL
      AND po.n_supp >= 2 AND po.n_late_supp = 1
      AND n.n_name = 'NATION_1'
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 10
    """,
)
def waiting_supplier_q21(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: suppliers who were the ONLY late supplier on a
    multi-supplier finalized order ("late" derived: shipped >60 days after
    order date — the testdata has no commit/receipt dates). The classic
    formulation is EXISTS(other supplier) AND NOT EXISTS(other late
    supplier) — two correlated fact self-scans. Spark-first reformulation:
    ONE shuffle on l_orderkey, then window collect_set counts of distinct
    suppliers / distinct late suppliers per order replace both correlated
    subqueries (a supplier qualifies iff n_supp>=2, n_late_supp==1, and it
    is late). Order groups are tiny (lines per order), so the per-partition
    window buffering is bounded; supplier and nation broadcast."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_1"
    )
    j = equi_join(li, orders, li.l_orderkey == orders.o_orderkey)
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr(
        "INTERVAL 60 DAYS"
    )
    flagged = j.select(
        "l_orderkey",
        "l_suppkey",
        F.when(late, F.col("l_suppkey")).alias("late_supp"),
    )
    w = Window.partitionBy("l_orderkey")
    per_order = flagged.withColumn(
        "n_supp", F.size(F.collect_set("l_suppkey").over(w))
    ).withColumn("n_late_supp", F.size(F.collect_set("late_supp").over(w)))
    cand = per_order.filter(
        F.col("late_supp").isNotNull()
        & (F.col("n_supp") >= 2)
        & (F.col("n_late_supp") == 1)
    )
    cand = broadcast_join(cand, supp, cand.l_suppkey == supp.s_suppkey)
    cand = broadcast_join(
        cand, nation, F.col("s_nationkey") == nation.n_nationkey
    )
    grouped = grouped_agg(
        cand, ["s_name"], [F.count(F.lit(1)).alias("numwait")]
    )
    return top_k_global(grouped, 10, F.desc("numwait"), "s_name")


@query(
    "user_event_run_features",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type, ts, event_id,
             CASE WHEN LAG(event_type) OVER (
                    PARTITION BY user_id ORDER BY ts, event_id
                  ) IS DISTINCT FROM event_type THEN 1 ELSE 0 END AS sw
      FROM events
    ), g AS (
      SELECT user_id,
             SUM(sw) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS UNBOUNDED PRECEDING
             ) AS run_id
      FROM o
    ), runs AS (
      SELECT user_id, run_id, COUNT(*) AS run_len FROM g GROUP BY 1, 2
    )
    SELECT user_id,
           CAST(SUM(run_len) AS BIGINT) AS n_events,
           COUNT(*) AS n_runs,
           CAST(MAX(run_len) AS BIGINT) AS max_run
    FROM runs GROUP BY user_id ORDER BY user_id
    """,
)
def user_event_run_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map featurization via applyInPandas with BUCKETED groups:
    grouping directly by user_id costs one Python round-trip per user
    (~10 ms each — measured 14 s over 1.5k users at sf0.1), so the group
    key is pmod(user_id, 64): each Arrow frame carries ~1/64th of the
    users and the per-user run-length features (event count, number of
    same-type runs, longest run) compute vectorized inside the frame.
    Same answer, 64 Python calls instead of 1,500 — the pattern that makes
    grouped-map viable when groups are small. Integer outputs make the
    path exactly checkable against a gaps-and-islands SQL twin — the
    strongest parity statement available for the Arrow grouped-map API.

    Scale shape: one shuffle on the bucket, embarrassingly parallel after;
    bucket count trades per-call amortization against parallelism (use
    ~4x your executor-core count)."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )

    def features(pdf: pd.DataFrame) -> pd.DataFrame:
        s = pdf.sort_values(["user_id", "ts", "event_id"])
        new_run = s["event_type"].ne(s["event_type"].shift()) | s[
            "user_id"
        ].ne(s["user_id"].shift())
        runs = (
            s.assign(run_id=new_run.cumsum())
            .groupby(["user_id", "run_id"], sort=False)
            .size()
            .rename("run_len")
            .reset_index()
        )
        agg = (
            runs.groupby("user_id", sort=True)
            .agg(
                n_events=("run_len", "sum"),
                n_runs=("run_len", "size"),
                max_run=("run_len", "max"),
            )
            .reset_index()
        )
        return agg

    return (
        ev.withColumn("bucket", F.pmod(F.col("user_id"), F.lit(64)))
        .groupBy("bucket")
        .applyInPandas(
            lambda pdf: features(pdf.drop(columns=["bucket"])),
            schema="user_id long, n_events long, n_runs long, max_run long",
        )
        .orderBy("user_id")
    )


@query(
    "order_price_rank_metrics",
    oracle="""
    WITH r AS (
      SELECT o_orderkey, o_orderpriority,
             PERCENT_RANK() OVER w AS price_percent_rank,
             CUME_DIST() OVER w AS price_cume_dist
      FROM orders
      WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice)
    )
    SELECT o_orderkey, o_orderpriority,
           price_percent_rank, price_cume_dist
    FROM r WHERE o_orderkey % 199 = 0
    ORDER BY o_orderkey
    """,
)
def order_price_rank_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing window functions: percent_rank and cume_dist of
    each order's price within its priority class (the normalized-rank
    features a scoring pipeline feeds downstream). Both are defined as
    exact integer ratios — (rank-1)/(n-1) and peers_at_or_below/n — so the
    doubles are bit-identical across engines with no rounding needed. The
    deterministic keyspace sample keeps the verified output small; the
    window itself runs over the full table (one shuffle on the priority
    key)."""
    from pyspark.sql import Window

    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy("o_totalprice")
    return (
        orders.select(
            "o_orderkey",
            "o_orderpriority",
            F.percent_rank().over(w).alias("price_percent_rank"),
            F.cume_dist().over(w).alias("price_cume_dist"),
        )
        .filter(F.col("o_orderkey") % 199 == 0)
        .orderBy("o_orderkey")
    )


@query(
    "exact_percentiles_order_price",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             COUNT(*) OVER (PARTITION BY o_orderpriority) AS cnt
      FROM orders
    )
    SELECT o_orderpriority,
           MAX(CASE WHEN rn = (cnt + 3) // 4 THEN o_totalprice END) AS p25,
           MAX(CASE WHEN rn = (cnt + 1) // 2 THEN o_totalprice END) AS p50,
           MAX(CASE WHEN rn = (3 * cnt + 3) // 4 THEN o_totalprice END) AS p75,
           CAST(MAX(cnt) AS BIGINT) AS n_orders
    FROM r
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def exact_percentiles_order_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT discrete percentiles (p25/p50/p75, percentile_disc semantics:
    the element at rank ceil(q·n), never an interpolated midpoint) of
    order price per priority — the hash-checked exact twin of
    approx_value_percentiles (whose sketch is rows-only by contract).

    One window pass ranks within each group and a conditional-aggregate
    GROUP BY on the same key picks the three rank positions — the window
    and the aggregate share one Exchange. Picking an ACTUAL element keeps
    the result bit-exact in both engines (interpolation would average two
    doubles — safe, but percentile_CONT halfway cases are the kind of
    cross-engine risk NOTES.md rule 4 bans); ties rank deterministically
    by (price, orderkey). Exact per-group sort is the honest cost model at
    scale; the sketch query is the 100 TB path, same as the dedup pair."""
    orders = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        "o_totalprice", "o_orderkey"
    )
    wc = Window.partitionBy("o_orderpriority")
    r = orders.select(
        "o_orderpriority",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )

    def pick(expr):
        return F.max(F.when(F.col("rn") == expr, F.col("o_totalprice")))

    cnt = F.col("cnt")
    return (
        r.groupBy("o_orderpriority")
        .agg(
            pick(F.floor((cnt + 3) / 4)).alias("_x25"),
            pick(F.floor((cnt + 1) / 2)).alias("_x50"),
            pick(F.floor((3 * cnt + 3) / 4)).alias("_x75"),
            F.max("cnt").alias("n_orders"),
        )
        .select(
            "o_orderpriority",
            F.col("_x25").alias("p25"),
            F.col("_x50").alias("p50"),
            F.col("_x75").alias("p75"),
            "n_orders",
        )
        .orderBy("o_orderpriority")
    )


@query(
    "winsorized_value_stats",
    oracle="""
    WITH r AS (
      SELECT event_type, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS cnt
      FROM events
    ), th AS (
      SELECT event_type,
             MAX(CASE WHEN rn = (cnt + 99) // 100 THEN value END) AS p01,
             MAX(CASE WHEN rn = (99 * cnt + 99) // 100 THEN value END)
               AS p99
      FROM r GROUP BY event_type
    ), c AS (
      SELECT e.event_type, e.value, t.p01, t.p99,
             least(greatest(e.value, t.p01), t.p99) AS w
      FROM events e JOIN th t USING (event_type)
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN value < p01 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_low,
           CAST(SUM(CASE WHEN value > p99 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_clipped_high,
           MAX(p01) AS p01,
           MAX(p99) AS p99,
           floor(CAST(SUM(CAST(floor(w * 1000.0) AS BIGINT)) AS DOUBLE)
                 / COUNT(*) / 1000.0 * 1000000.0) / 1000000.0
             AS winsorized_mean
    FROM c GROUP BY event_type ORDER BY event_type
    """,
)
def winsorized_value_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (outlier-clipped) robust mean per event type: exact
    p01/p99 thresholds by rank-pick (percentile_disc semantics — actual
    elements, the cross-engine-safe exact percentile; same pattern as
    exact_percentiles_order_price), values clipped into [p01, p99], and
    the clipped mean computed on 1e-3-quantized integers (summation-order
    independent). Robust preprocessing is what a feature pipeline does
    before normalizing heavy-tailed metrics; the clip counts are the
    audit trail. One rank window + a broadcast threshold join-back (the
    per-group threshold table is |event_type| rows)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    wc = Window.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wc).alias("cnt"),
    )
    th = r.groupBy("event_type").agg(
        F.max(
            F.when(
                F.col("rn") == F.floor((F.col("cnt") + 99) / 100),
                F.col("value"),
            )
        ).alias("p01"),
        F.max(
            F.when(
                F.col("rn") == F.floor((99 * F.col("cnt") + 99) / 100),
                F.col("value"),
            )
        ).alias("p99"),
    )
    c = ev.select("event_type", "value").join(F.broadcast(th), "event_type")
    wv = F.least(F.greatest(F.col("value"), F.col("p01")), F.col("p99"))
    return (
        c.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("value") < F.col("p01")).cast("int"))
            .cast("long")
            .alias("n_clipped_low"),
            F.sum((F.col("value") > F.col("p99")).cast("int"))
            .cast("long")
            .alias("n_clipped_high"),
            F.max("p01").alias("p01"),
            F.max("p99").alias("p99"),
            (
                F.floor(
                    F.sum(F.floor(wv * 1000.0)).cast("double")
                    / F.count(F.lit(1))
                    / 1000.0
                    * 1000000.0
                )
                / 1000000.0
            ).alias("winsorized_mean"),
        )
        .orderBy("event_type")
    )
