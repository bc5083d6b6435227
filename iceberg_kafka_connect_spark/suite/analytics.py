"""Analytical queries over the ingested tables.

The reference is an ingestion engine (SURVEY.md §2.5: it has no relational
operators), but its *output* is an analytics lakehouse — these queries are
the read-side workload a user of the connector runs on the tables it lands,
and they are the headline benchmark queries for this engine.

Scale notes (100 TB design):
- lineitem/orders/events are the scaling facts; every query keeps them in
  scan→partial-agg→shuffle-on-group-keys form (map-side combine is free).
- region/nation/customer/supplier/part are broadcast (core.dim) so no fact
  table ever shuffles for a dimension join.
- All filters are plain column predicates → parquet pushdown + pruning.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import register
from ..functions import local_df
from ..session import few_state_partitions
from .core import davg, dim, dsum, sql_davg, sql_dsum, table


# --------------------------------------------------------------------------
# Q1: pricing summary (TPC-H Q1 shape). Scan + group-by-2-low-card-keys:
# at 100 TB this is one pass, partial aggregation reduces each task to ~6 rows.
# --------------------------------------------------------------------------
@register(
    "tpch_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity', 2)} AS sum_qty,
           {sql_dsum('l_extendedprice', 2)} AS sum_base_price,
           {sql_dsum('l_extendedprice * (1 - l_discount)', 4)} AS sum_disc_price,
           {sql_dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)', 6)} AS sum_charge,
           {sql_davg('l_quantity', 2)} AS avg_qty,
           {sql_davg('l_extendedprice', 2)} AS avg_price,
           {sql_davg('l_discount', 2)} AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("analytics", "bench"),
)
def tpch_q1(spark, sf_dir):
    l = table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        l.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(F.col("l_quantity"), 2, "sum_qty"),
            dsum(F.col("l_extendedprice"), 2, "sum_base_price"),
            dsum(disc_price, 4, "sum_disc_price"),
            dsum(charge, 6, "sum_charge"),
            davg(F.col("l_quantity"), 2, "avg_qty"),
            davg(F.col("l_extendedprice"), 2, "avg_price"),
            davg(F.col("l_discount"), 2, "avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# --------------------------------------------------------------------------
# Q3: shipping priority (TPC-H Q3 shape). customer is broadcast; orders⋈lineitem
# shuffles on o_orderkey only. Top-10 via global sort on the tiny aggregate.
# --------------------------------------------------------------------------
@register(
    "tpch_q3",
    oracle=f"""
    SELECT o.o_orderkey,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-03-15'
      AND l.l_shipdate > TIMESTAMP '1998-03-15'
    GROUP BY o.o_orderkey, orderdate, o.o_orderpriority
    ORDER BY revenue DESC, o.o_orderkey
    LIMIT 10
    """,
    tags=("analytics", "bench"),
)
def tpch_q3(spark, sf_dir):
    c = dim(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1998-03-15").cast("timestamp")
    )
    l = table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1998-03-15").cast("timestamp")
    )
    return (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(l, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy(
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "revenue", "orderdate", "o_orderpriority")
    )


# --------------------------------------------------------------------------
# Q5: local-supplier revenue by nation (TPC-H Q5 shape). All dims broadcast;
# the only shuffle is lineitem⋈orders on orderkey.
# --------------------------------------------------------------------------
@register(
    "tpch_q5",
    oracle=f"""
    SELECT n.n_name AS nation,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, nation
    """,
    tags=("analytics", "bench"),
)
def tpch_q5(spark, sf_dir):
    # fan=False: r10 fan A/B, nofan/fan=0.78x — the scan fan-out
    # exchange costs more than the trivial map side it parallelizes
    # (interleaved best-of-3; see OPTIMIZATION_r10.md fan study)
    c = dim(spark, sf_dir, "customer")
    s = dim(spark, sf_dir, "supplier")
    n = dim(spark, sf_dir, "nation")
    r = dim(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    o = table(spark, sf_dir, "orders", fan=False).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    l = table(spark, sf_dir, "lineitem", fan=False)
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("s_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy(F.col("n_name").alias("nation"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("nation"))
    )


# --------------------------------------------------------------------------
# Q6: forecast revenue change (TPC-H Q6 shape). Pure pushed-down scan+filter
# into a single global aggregate — the cheapest possible plan at any scale.
# --------------------------------------------------------------------------
@register(
    "tpch_q6",
    oracle=f"""
    SELECT {sql_dsum('l_extendedprice * l_discount', 6)} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= 0.02 AND l_discount <= 0.04
      AND l_quantity < 24
    """,
    tags=("analytics", "bench"),
)
def tpch_q6(spark, sf_dir):
    # fan=False: 4-column pruned scan + fully-pushed filter + one global
    # agg — the fan-out exchange would cost more than the single-task map
    # side here AND widen ReadSchema with the fan key (pinned in
    # tests/test_plans.py::test_column_pruning_reaches_scan)
    l = table(spark, sf_dir, "lineitem", fan=False)
    return (
        l.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_discount") >= 0.02)
            & (F.col("l_discount") <= 0.04)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            dsum(F.col("l_extendedprice") * F.col("l_discount"), 6, "revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Order-priority check (TPC-H Q4 shape, adapted to available columns):
# semi-join orders→lineitem. Spark plans a LEFT SEMI shuffle join; at scale
# the lineitem side pre-aggregates to distinct orderkeys.
# --------------------------------------------------------------------------
@register(
    "order_priority_count",
    oracle="""
    SELECT o.o_orderpriority, COUNT(*) AS order_count
    FROM orders o
    WHERE EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
    )
    GROUP BY o.o_orderpriority
    ORDER BY o.o_orderpriority
    """,
    tags=("analytics", "bench"),
)
def order_priority_count(spark, sf_dir):
    # fan=False: r10 fan A/B, nofan/fan=0.79x — the scan fan-out
    # exchange costs more than the trivial map side it parallelizes
    # (interleaved best-of-3; see OPTIMIZATION_r10.md fan study)
    o = table(spark, sf_dir, "orders", fan=False)
    l = table(spark, sf_dir, "lineitem", fan=False)
    matched = o.join(
        l,
        (F.col("l_orderkey") == F.col("o_orderkey"))
        & (F.col("l_shipdate") > F.col("o_orderdate")),
        "left_semi",
    )
    return (
        matched.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


# --------------------------------------------------------------------------
# Window function: top-3 customers by revenue within each nation.
# Shuffles once on custkey for the agg, once on nationkey for the window —
# both keys low-skew; AQE coalesces the tiny window stage.
# --------------------------------------------------------------------------
@register(
    "top_customers_per_nation",
    oracle=f"""
    WITH rev AS (
        SELECT c.c_nationkey, c.c_custkey, c.c_name,
               {sql_dsum('o.o_totalprice', 2)} AS revenue
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY c.c_nationkey, c.c_custkey, c.c_name
    )
    SELECT n.n_name AS nation, c_name AS customer, revenue, rnk
    FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY c_nationkey ORDER BY revenue DESC, c_custkey
        ) AS rnk
        FROM rev
    ) t JOIN nation n ON t.c_nationkey = n.n_nationkey
    WHERE rnk <= 3
    ORDER BY nation, rnk
    """,
    tags=("analytics", "bench"),
)
def top_customers_per_nation(spark, sf_dir):
    # fan=False: r10 fan A/B, nofan/fan=0.81x — the scan fan-out
    # exchange costs more than the trivial map side it parallelizes
    # (interleaved best-of-3; see OPTIMIZATION_r10.md fan study)
    c = dim(spark, sf_dir, "customer")
    n = dim(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders", fan=False)
    rev = (
        o.join(c, F.col("o_custkey") == F.col("c_custkey"))
        .groupBy("c_nationkey", "c_custkey", "c_name")
        .agg(dsum(F.col("o_totalprice"), 2, "revenue"))
    )
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("revenue").desc(), F.col("c_custkey")
    )
    return (
        rev.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.col("c_name").alias("customer"),
            "revenue",
            "rnk",
        )
        .orderBy("nation", "rnk")
    )


# --------------------------------------------------------------------------
# Q10 shape: top returned-revenue customers. customer/nation broadcast;
# orders⋈lineitem shuffles once on orderkey; top-20 on the small aggregate.
# --------------------------------------------------------------------------
@register(
    "tpch_q10",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name AS nation,
           {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 4)} AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY c.c_custkey, c.c_name, nation
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
    tags=("analytics", "bench"),
)
def tpch_q10(spark, sf_dir):
    # fan=False: r10 fan A/B, nofan/fan=0.23x — the scan fan-out
    # exchange costs more than the trivial map side it parallelizes
    # (interleaved best-of-3; see OPTIMIZATION_r10.md fan study)
    c = dim(spark, sf_dir, "customer")
    n = dim(spark, sf_dir, "nation")
    o = table(spark, sf_dir, "orders", fan=False).filter(
        F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp")
    )
    l = table(spark, sf_dir, "lineitem", fan=False).filter(F.col("l_returnflag") == "R")
    return (
        l.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(c, F.col("o_custkey") == F.col("c_custkey"))
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount")), 4, "revenue"))
        .orderBy(F.col("revenue").desc(), F.col("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "nation", "revenue")
    )


# --------------------------------------------------------------------------
# Q14 shape: promo revenue share — conditional aggregation over one join.
# --------------------------------------------------------------------------
@register(
    "tpch_q14",
    oracle=f"""
    SELECT
      (100.0 * {sql_dsum("CASE WHEN p.p_type = 'ECONOMY' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END", 4)}
       / {sql_dsum('l.l_extendedprice * (1 - l.l_discount)', 4)}) AS promo_revenue_pct,
      COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate <  TIMESTAMP '1997-04-01'
    """,
    tags=("analytics", "bench"),
)
def tpch_q14(spark, sf_dir):
    p = dim(spark, sf_dir, "part")
    l = table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "ECONOMY", rev).otherwise(F.lit(0.0))
    return (
        l.join(p, F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            (
                F.lit(100.0)
                * F.sum(promo.cast("decimal(27,4)")).cast("double")
                / F.sum(rev.cast("decimal(27,4)")).cast("double")
            ).alias("promo_revenue_pct"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


# --------------------------------------------------------------------------
# Exact percentiles per group (not approx): Spark `percentile` and DuckDB
# `quantile_cont` both use linear interpolation over the sorted values.
# --------------------------------------------------------------------------
@register(
    "events_value_percentiles",
    oracle="""
    SELECT event_type,
           quantile_cont(value, 0.5)  AS p50,
           quantile_cont(value, 0.95) AS p95,
           COUNT(*) AS n
    FROM events
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("analytics", "bench"),
)
def events_value_percentiles(spark, sf_dir):
    # fan=False: lean scan->small agg; the fan exchange costs more than
    # the single-task map side and pins 32 partitions AQE would coalesce
    e = table(spark, sf_dir, "events", fan=False)
    return (
        e.groupBy("event_type")
        .agg(
            F.percentile("value", F.lit(0.5)).alias("p50"),
            F.percentile("value", F.lit(0.95)).alias("p95"),
            F.count(F.lit(1)).alias("n"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Streaming-style rollup in batch form: per-type hourly event aggregates.
# This is the canonical "hypertable rollup" a user runs on the events table
# the connector lands. Group keys are (hour, type): ~3.6k groups — partial
# agg collapses each task to nearly nothing before the shuffle.
# --------------------------------------------------------------------------
@register(
    "events_hourly_rollup",
    oracle=f"""
    SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
           event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           {sql_dsum('value', 2)} AS sum_value,
           {sql_davg('value', 2)} AS avg_value
    FROM events
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("analytics", "bench"),
)
def events_hourly_rollup(spark, sf_dir):
    # fan=False: lean scan->small agg (see events_value_percentiles)
    e = table(spark, sf_dir, "events", fan=False)
    return (
        e.groupBy(
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias(
                "hour"
            ),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            dsum(F.col("value"), 2, "sum_value"),
            davg(F.col("value"), 2, "avg_value"),
        )
        .orderBy("hour", "event_type")
    )


# --------------------------------------------------------------------------
# Sessionization: gap-based sessions (30 min) per user via lag() window.
# Scale path: shuffle on user_id once; all session logic is a single window
# pass (no self-join). Skewed users are bounded by per-user event counts.
# --------------------------------------------------------------------------
@register(
    "events_sessionize",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - epoch_us(
                        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    ) > 1800000000
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM marked
    GROUP BY user_id
    ORDER BY user_id
    """,
    tags=("analytics", "bench"),
)
def events_sessionize(spark, sf_dir):
    # fan=False: the lag-window's own user_id exchange parallelizes the
    # heavy side already; the fan exchange just adds a pinned-width stage
    e = table(spark, sf_dir, "events", fan=False)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_ts = F.lag("ts").over(w)
    new_session = F.when(
        prev_ts.isNull()
        | ((F.unix_micros("ts") - F.unix_micros(prev_ts)) > 1_800_000_000),
        F.lit(1),
    ).otherwise(F.lit(0))
    return (
        e.withColumn("new_session", new_session)
        .groupBy("user_id")
        .agg(
            F.sum("new_session").cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Hourly volume anomaly detection: per-hour event counts vs the trailing
# 24-hour mean/std (ROWS window), flagging z > 3 spikes — the monitoring
# rollup a pipeline owner runs over the landed events table. Counts are
# integers, so mean/variance over the trailing window are exact rationals;
# rendered at 6 dp. One shuffle (the hourly groupBy); the window runs over
# the tiny hourly series.
# --------------------------------------------------------------------------
@register(
    "events_hourly_anomaly",
    oracle="""
    WITH hourly AS (
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:00:00') AS hour,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY 1
    ),
    w AS (
        SELECT hour, n,
               CAST(SUM(n) OVER win AS BIGINT) AS s,
               CAST(SUM(n * n) OVER win AS BIGINT) AS ss,
               CAST(COUNT(*) OVER win AS BIGINT) AS k
        FROM hourly
        WINDOW win AS (
            ORDER BY hour ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING
        )
    )
    SELECT hour, n,
           ROUND(CAST(s AS DOUBLE) / CAST(k AS DOUBLE), 6) AS trail_mean,
           (k >= 6 AND
            CAST(ss AS DOUBLE) / k - (CAST(s AS DOUBLE) / k) ** 2 > 0 AND
            (CAST(n AS DOUBLE) - CAST(s AS DOUBLE) / k)
              / sqrt(CAST(ss AS DOUBLE) / k - (CAST(s AS DOUBLE) / k) ** 2)
              > 3.0) AS is_spike
    FROM w WHERE k > 0
    ORDER BY hour
    """,
    tags=("analytics",),
)
def events_hourly_anomaly(spark, sf_dir):
    # fan=False: r10 fan A/B, nofan/fan=0.60x — the scan fan-out
    # exchange costs more than the trivial map side it parallelizes
    # (interleaved best-of-3; see OPTIMIZATION_r10.md fan study)
    from pyspark.sql.window import Window

    e = table(spark, sf_dir, "events", fan=False)
    hourly = e.groupBy(
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:00:00").alias(
            "hour"
        )
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    win = Window.orderBy("hour").rowsBetween(-24, -1)
    s = F.sum("n").over(win).cast("bigint")
    ss = F.sum(F.col("n") * F.col("n")).over(win).cast("bigint")
    k = F.count(F.lit(1)).over(win).cast("bigint")
    mean = s.cast("double") / k.cast("double")
    var = ss.cast("double") / k.cast("double") - mean * mean
    return (
        hourly.select(
            "hour",
            "n",
            F.round(mean, 6).alias("trail_mean"),
            (
                (k >= 6)
                & (var > 0)
                & ((F.col("n").cast("double") - mean) / F.sqrt(var) > 3.0)
            ).alias("is_spike"),
            k.alias("__k"),
        )
        .filter(F.col("__k") > 0)
        .drop("__k")
        .orderBy("hour")
    )


# --------------------------------------------------------------------------
# X104: ordered window funnel (ClickHouse windowFunnel semantics): deepest
# view -> click -> purchase chain per user, each step strictly after the
# previous step's earliest completion and within 7 days of the first view.
# Layered running-min windows over ONE per-user partitioning — no k-way
# self-join fan-out, no UDF; the oracle states the identical layered
# windows in SQL.
# --------------------------------------------------------------------------
@register(
    "events_session_funnel",
    oracle="""
    WITH l1 AS (
        SELECT user_id, ts, event_id, event_type,
               MIN(CASE WHEN event_type = 'view' THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS t1p
        FROM events
    ),
    l2 AS (
        SELECT *,
               MIN(CASE WHEN event_type = 'click' AND t1p IS NOT NULL
                         AND epoch_us(ts) <= epoch_us(t1p) + 604800000000
                        THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS t2p
        FROM l1
    ),
    l3 AS (
        SELECT user_id,
               CASE WHEN event_type = 'purchase' AND t2p IS NOT NULL
                         AND epoch_us(ts) <= epoch_us(t1p) + 604800000000
                    THEN 3
                    WHEN event_type = 'click' AND t1p IS NOT NULL
                         AND epoch_us(ts) <= epoch_us(t1p) + 604800000000
                    THEN 2
                    WHEN event_type = 'view' THEN 1
                    ELSE 0 END AS hit
        FROM l2
    ),
    d AS (SELECT user_id, MAX(hit) AS depth FROM l3 GROUP BY user_id)
    SELECT CAST(depth AS INT) AS depth, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM d GROUP BY depth
    """,
    tags=("analytics", "events"),
)
def events_session_funnel(spark, sf_dir):
    from ..operators.relational import window_funnel

    e = table(spark, sf_dir, "events")
    per_user = window_funnel(
        e,
        [F.col("event_type") == s for s in ("view", "click", "purchase")],
        within_us=7 * 86400 * 1_000_000,
    )
    return per_user.groupBy("depth").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


# --------------------------------------------------------------------------
# X107: cohort retention matrix — users grouped by signup week, counted in
# each later week they were active: the standard product-analytics rollup
# over the landed events table. Two shuffles (per-user signup min + the
# cohort-cell distinct/count); week arithmetic is exact integer day-diffs
# on date_trunc boundaries, identical in both engines.
# --------------------------------------------------------------------------
@register(
    "events_retention_cohorts",
    oracle="""
    WITH signup AS (
        SELECT user_id, date_trunc('week', MIN(ts)) AS w0
        FROM events WHERE event_type = 'signup' GROUP BY user_id
    ),
    activity AS (
        SELECT DISTINCT e.user_id, s.w0,
               CAST(date_diff('day', s.w0, date_trunc('week', e.ts)) // 7
                    AS INT) AS week_offset
        FROM events e JOIN signup s USING (user_id)
        WHERE e.ts >= s.w0
    )
    SELECT strftime(w0, '%Y-%m-%d') AS cohort_week, week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM activity GROUP BY 1, 2
    """,
    tags=("analytics", "events"),
)
def events_retention_cohorts(spark, sf_dir):
    # fan=False: r10 fan A/B, nofan/fan=0.80x — the scan fan-out
    # exchange costs more than the trivial map side it parallelizes
    # (interleaved best-of-3; see OPTIMIZATION_r10.md fan study)
    e = table(spark, sf_dir, "events", fan=False)
    signup = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.date_trunc("week", F.min("ts")).alias("w0"))
    )
    activity = (
        e.join(signup, "user_id")
        .filter(F.col("ts") >= F.col("w0"))
        .select(
            "user_id",
            "w0",
            (
                F.datediff(F.date_trunc("week", F.col("ts")), F.col("w0"))
                / 7
            )
            .cast("int")
            .alias("week_offset"),
        )
        .distinct()
    )
    return activity.groupBy(
        F.date_format("w0", "yyyy-MM-dd").alias("cohort_week"),
        "week_offset",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_users"))


# --------------------------------------------------------------------------
# X114: streaming funnel replay — the value-level gate for X109
# (funnel_stream, applyInPandasWithState): the events table replayed in
# three chronological micro-batch runs over ONE checkpoint (each run a
# fresh query resuming the stored per-user state — the kill/restart
# shape), final per-user depths rolled into the SAME depth histogram the
# batch operator (events_session_funnel) computes, against the SAME
# layered-window oracle. Exactness holds because the testdata has no
# per-user equal-timestamp pairs (verified), where stream-vs-batch tie
# semantics could differ; state is one row of k timestamps per user.
# --------------------------------------------------------------------------
@register(
    "funnel_stream_replay",
    oracle="""
    WITH l1 AS (
        SELECT user_id, ts, event_id, event_type,
               MIN(CASE WHEN event_type = 'view' THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS t1p
        FROM events
    ),
    l2 AS (
        SELECT *,
               MIN(CASE WHEN event_type = 'click' AND t1p IS NOT NULL
                         AND epoch_us(ts) <= epoch_us(t1p) + 604800000000
                        THEN ts END) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ) AS t2p
        FROM l1
    ),
    l3 AS (
        SELECT user_id,
               CASE WHEN event_type = 'purchase' AND t2p IS NOT NULL
                         AND epoch_us(ts) <= epoch_us(t1p) + 604800000000
                    THEN 3
                    WHEN event_type = 'click' AND t1p IS NOT NULL
                         AND epoch_us(ts) <= epoch_us(t1p) + 604800000000
                    THEN 2
                    WHEN event_type = 'view' THEN 1
                    ELSE 0 END AS hit
        FROM l2
    ),
    d AS (SELECT user_id, MAX(hit) AS depth FROM l3 GROUP BY user_id)
    SELECT CAST(depth AS INT) AS depth, CAST(COUNT(*) AS BIGINT) AS n_users
    FROM d GROUP BY depth
    """,
    tags=("analytics", "events", "streaming"),
)
def funnel_stream_replay(spark, sf_dir):
    import tempfile

    from ..streaming.stateful import funnel_stream

    # fan=False: the gate's slice writes are coalesce(1) — with the scan
    # fan-out they pull the 32-way exchange back into one task; un-fanned
    # the scan->filter->write chain is a single task with no exchange
    # (r10 interleaved A/B: replay gates 0.79-0.92x, see
    # OPTIMIZATION_r10.md replay study)
    e = table(spark, sf_dir, "events", fan=False).select(
        "user_id", F.col("ts").alias("timestamp"), "event_type"
    )
    lo, hi = e.agg(
        F.min("timestamp"), F.max("timestamp")
    ).collect()[0]
    span = hi - lo
    cuts = [lo + span / 3, lo + 2 * span / 3]
    base = tempfile.mkdtemp(prefix="funnel_replay_")
    src, ck = f"{base}/src", f"{base}/ck"
    slices = [
        e.filter(F.col("timestamp") < F.lit(cuts[0])),
        e.filter(
            (F.col("timestamp") >= F.lit(cuts[0]))
            & (F.col("timestamp") < F.lit(cuts[1]))
        ),
        e.filter(F.col("timestamp") >= F.lit(cuts[1])),
    ]
    depths: dict = {}

    def sink(batch, _bid):
        for r in batch.collect():
            depths[r.user_id] = r.depth

    with few_state_partitions(spark):
        for i, sl in enumerate(slices):
            # chronological arrival: each run sees exactly one new slice and
            # resumes the per-user step state from the shared checkpoint
            sl.coalesce(1).write.mode("append").parquet(src)
            stream = spark.readStream.schema(
                "user_id long, timestamp timestamp, event_type string"
            ).parquet(src)
            q = (
                funnel_stream(
                    stream,
                    ["view", "click", "purchase"],
                    within_us=7 * 86400 * 1_000_000,
                )
                .writeStream.foreachBatch(sink)
                .outputMode("update")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError(
                    "replay micro-batch run did not finish in 600s"
                )
    out = local_df(spark, 
        [(int(d),) for d in depths.values()], "depth int"
    )
    return out.groupBy("depth").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )


# --------------------------------------------------------------------------
# X118: stream-stream interval join replay — click→purchase attribution
# (purchase strictly after the click, within 1 hour, same user) as a
# watermarked Structured Streaming self-join, replayed over the events
# table in two chronological micro-batch runs sharing one checkpoint:
# the second run's purchases join click STATE stored by the first — the
# cross-run join-state restore is exactly what's gated. Append mode
# emits each matched pair exactly once (checkpoint-idempotent), so the
# accumulated pairs equal the batch interval join the oracle states.
# The test watermark is generous (nothing drops — exactness); a
# production deployment sets it to the real lateness bound to cap
# join-state size.
# --------------------------------------------------------------------------
@register(
    "stream_interval_join_replay",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(c.event_id + p.event_id) AS BIGINT) AS sum_ids
    FROM events c JOIN events p
      ON c.user_id = p.user_id
     AND c.event_type = 'click' AND p.event_type = 'purchase'
     AND p.ts > c.ts
     AND epoch_us(p.ts) <= epoch_us(c.ts) + 3600000000
    """,
    tags=("analytics", "events", "streaming"),
)
def stream_interval_join_replay(spark, sf_dir):
    import tempfile

    # fan=False: the gate's slice writes are coalesce(1) — with the scan
    # fan-out they pull the 32-way exchange back into one task; un-fanned
    # the scan->filter->write chain is a single task with no exchange
    # (r10 interleaved A/B: replay gates 0.79-0.92x, see
    # OPTIMIZATION_r10.md replay study)
    e = table(spark, sf_dir, "events", fan=False).select(
        "event_id", "user_id", F.col("ts").alias("timestamp"), "event_type"
    )
    lo, hi = e.agg(F.min("timestamp"), F.max("timestamp")).collect()[0]
    cut = lo + (hi - lo) / 2
    base = tempfile.mkdtemp(prefix="sj_replay_")
    src, ck = f"{base}/src", f"{base}/ck"
    acc = [0, 0]  # n_pairs, sum_ids

    def sink(batch, _bid):
        r = batch.agg(
            F.count(F.lit(1)), F.sum(F.col("c_id") + F.col("p_id"))
        ).collect()[0]
        acc[0] += r[0] or 0
        acc[1] += r[1] or 0

    with few_state_partitions(spark):
        for sl in (
            e.filter(F.col("timestamp") < F.lit(cut)),
            e.filter(F.col("timestamp") >= F.lit(cut)),
        ):
            sl.coalesce(1).write.mode("append").parquet(src)
            stream = spark.readStream.schema(
                "event_id long, user_id long, timestamp timestamp, "
                "event_type string"
            ).parquet(src)
            clicks = (
                stream.filter("event_type = 'click'")
                .withWatermark("timestamp", "365 days")
                .select(
                    F.col("event_id").alias("c_id"),
                    F.col("user_id").alias("c_user"),
                    F.col("timestamp").alias("c_ts"),
                )
            )
            purchases = (
                stream.filter("event_type = 'purchase'")
                .withWatermark("timestamp", "365 days")
                .select(
                    F.col("event_id").alias("p_id"),
                    F.col("user_id").alias("p_user"),
                    F.col("timestamp").alias("p_ts"),
                )
            )
            joined = clicks.join(
                purchases,
                F.expr(
                    "c_user = p_user AND p_ts > c_ts "
                    "AND p_ts <= c_ts + INTERVAL 1 HOUR"
                ),
            )
            q = (
                joined.writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError(
                    "replay micro-batch run did not finish in 600s"
                )
    return local_df(spark, 
        [(int(acc[0]), int(acc[1]))], "n_pairs bigint, sum_ids bigint"
    )


# --------------------------------------------------------------------------
# X122: streaming session-window replay — the batch 30-minute-gap
# sessionization (events_sessionize) recomputed as a Structured
# Streaming `session_window` aggregation, replayed over the events
# table in two chronological micro-batch runs sharing one checkpoint:
# sessions OPEN at the end of run 1 must merge with run 2's events
# through restored session state — the cross-run merge is what's gated.
# A third sentinel run (one far-future dummy event, filtered from the
# results) advances the watermark past every real session end so
# append mode emits the final open sessions; the accumulated session
# rows then equal the batch lag/gap sessionization the oracle states.
# Exact because the testdata has no per-user gap of exactly 30 minutes
# (where session_window's half-open boundary and the batch `>` rule
# could disagree) — verified at sf0.001/0.01 before registration.
# --------------------------------------------------------------------------
@register(
    "session_stream_replay",
    oracle="""
    WITH marked AS (
        SELECT user_id, ts,
               CASE WHEN epoch_us(ts) - epoch_us(
                        lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                    ) > 1800000000
                    OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           COUNT(*) AS n_events
    FROM marked
    GROUP BY user_id
    """,
    tags=("analytics", "events", "streaming"),
)
def session_stream_replay(spark, sf_dir):
    import tempfile

    # fan=False: the gate's slice writes are coalesce(1) — with the scan
    # fan-out they pull the 32-way exchange back into one task; un-fanned
    # the scan->filter->write chain is a single task with no exchange
    # (r10 interleaved A/B: replay gates 0.79-0.92x, see
    # OPTIMIZATION_r10.md replay study)
    e = table(spark, sf_dir, "events", fan=False).select(
        "user_id", F.col("ts").alias("timestamp")
    )
    lo, hi = e.agg(F.min("timestamp"), F.max("timestamp")).collect()[0]
    cut = lo + (hi - lo) / 2
    base = tempfile.mkdtemp(prefix="sess_replay_")
    src, ck = f"{base}/src", f"{base}/ck"
    sessions: list[tuple[int, int]] = []  # (user_id, n_events)

    def sink(batch, _bid):
        sessions.extend(
            (r.user_id, r.n) for r in batch.collect() if r.user_id >= 0
        )

    import datetime as dt

    sentinel = local_df(spark, 
        [(-1, hi + dt.timedelta(hours=2))], "user_id long, timestamp timestamp"
    )
    with few_state_partitions(spark):
        for sl in (
            e.filter(F.col("timestamp") < F.lit(cut)),
            e.filter(F.col("timestamp") >= F.lit(cut)),
            sentinel,
        ):
            sl.coalesce(1).write.mode("append").parquet(src)
            stream = spark.readStream.schema(
                "user_id long, timestamp timestamp"
            ).parquet(src)
            agg = (
                stream.withWatermark("timestamp", "0 seconds")
                .groupBy(
                    F.session_window("timestamp", "30 minutes"), "user_id"
                )
                .agg(F.count(F.lit(1)).alias("n"))
                .select("user_id", "n")
            )
            q = (
                agg.writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError(
                    "replay micro-batch run did not finish in 600s"
                )
    out = local_df(spark, 
        [(int(u), int(n)) for u, n in sessions], "user_id long, n bigint"
    )
    return out.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum("n").alias("n_events"),
    )


# --------------------------------------------------------------------------
# X123: streaming exact-dedup replay — streaming_dedup (watermarked
# dropDuplicates, X: one state entry per key inside the horizon) gated
# value-level: the events table streamed with SYNTHESIZED re-deliveries
# (a deterministic quarter of run 1's keys re-sent in run 2 — the
# cross-run redelivery only restored dedup STATE can drop — plus
# in-run duplicates), over one checkpoint in two availableNow runs.
# Every key must land exactly once, so the accumulated (count, sum of
# ids) equals the plain distinct table the oracle states. The test
# watermark is generous (nothing ages out — exactness); production
# sets the horizon to the real redelivery bound to cap state.
# --------------------------------------------------------------------------
@register(
    "dedup_stream_replay",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(event_id) AS BIGINT) AS sum_ids
    FROM events
    """,
    tags=("analytics", "events", "streaming", "dedup"),
)
def dedup_stream_replay(spark, sf_dir):
    import tempfile

    from ..streaming.dedup import streaming_dedup

    # fan=False: the gate's slice writes are coalesce(1) — with the scan
    # fan-out they pull the 32-way exchange back into one task; un-fanned
    # the scan->filter->write chain is a single task with no exchange
    # (r10 interleaved A/B: replay gates 0.79-0.92x, see
    # OPTIMIZATION_r10.md replay study)
    e = table(spark, sf_dir, "events", fan=False).select(
        "event_id", F.col("ts").alias("timestamp")
    )
    lo, hi = e.agg(F.min("timestamp"), F.max("timestamp")).collect()[0]
    cut = lo + (hi - lo) / 2
    first = e.filter(F.col("timestamp") < F.lit(cut))
    second = e.filter(F.col("timestamp") >= F.lit(cut))
    # run-2 payload: the second half, PLUS re-deliveries — a quarter of
    # run 1's keys (cross-run: only restored state can drop them) and a
    # quarter of its own (in-run)
    redelivered = second.unionAll(
        first.filter(F.col("event_id") % 4 == 0)
    ).unionAll(second.filter(F.col("event_id") % 4 == 1))
    base = tempfile.mkdtemp(prefix="dedup_replay_")
    src, ck = f"{base}/src", f"{base}/ck"
    acc = [0, 0]

    def sink(batch, _bid):
        r = batch.agg(F.count(F.lit(1)), F.sum("event_id")).collect()[0]
        acc[0] += r[0] or 0
        acc[1] += r[1] or 0

    with few_state_partitions(spark):
        for sl in (first, redelivered):
            sl.coalesce(1).write.mode("append").parquet(src)
            stream = spark.readStream.schema(
                "event_id long, timestamp timestamp"
            ).parquet(src)
            deduped = streaming_dedup(
                stream, ["event_id"], ts_col="timestamp", watermark="365 days"
            )
            q = (
                deduped.writeStream.foreachBatch(sink)
                .outputMode("append")
                .option("checkpointLocation", ck)
                .trigger(availableNow=True)
                .start()
            )
            if not q.awaitTermination(600):
                q.stop()
                raise RuntimeError(
                    "replay micro-batch run did not finish in 600s"
                )
    return local_df(spark, 
        [(int(acc[0]), int(acc[1]))], "n_events bigint, sum_ids bigint"
    )
