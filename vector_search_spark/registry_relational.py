"""Registry entries: relational spine (joins/aggs/windows/set-ops, 2-D
skyline) on the TPC-H-style fixture tables — the §2.6 categories the
reference lacks."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import artifact, register
from .functions.scalar import _CENTS, round4
from .operators import relational as R
from .sources.partsupp import PARTSUPP_SQL, synth_partsupp
from .sources.tables import load_table as _t


def _cents(x: str) -> str:
    return _CENTS.format(x=x)


@register(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           sum({_cents('l_extendedprice')})::BIGINT AS sum_base_price_cents,
           sum({_cents('l_extendedprice * (1.0 - l_discount)')})::BIGINT AS sum_disc_price_cents,
           count(*)::BIGINT AS count_order
    FROM lineitem
    WHERE l_shipdate::DATE <= DATE '1998-09-01'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.pricing_summary(_t(spark, sf_dir, "lineitem"))


@register(
    "revenue_by_nation",
    oracle=f"""
    SELECT n_name,
           sum({_cents('l_extendedprice * (1.0 - l_discount)')})::BIGINT AS revenue_cents,
           count(*)::BIGINT AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY n_name ORDER BY n_name
    """,
)
def q_revenue_by_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.revenue_by_nation(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
    )


@register(
    "top_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rank::INTEGER AS rank FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rank
      FROM orders)
    WHERE rank <= 3
    """,
)
def q_top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.top_orders_per_customer(_t(spark, sf_dir, "orders"), k=3)


@register(
    "order_priority_counts",
    oracle="""
    SELECT o_orderpriority, count(*)::BIGINT AS n_orders
    FROM orders
    WHERE o_orderdate::DATE >= DATE '1996-01-01' AND o_orderdate::DATE <= DATE '1996-12-31'
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q_order_priority_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.order_priority_counts(_t(spark, sf_dir, "orders"))


@register(
    "sales_rollup",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
           coalesce(l_linestatus, 'ALL') AS l_linestatus,
           count(*)::BIGINT AS n_items,
           sum(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    ORDER BY 1, 2
    """,
)
def q_sales_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.sales_rollup(_t(spark, sf_dir, "lineitem"))


@register(
    "sales_cube",
    oracle=f"""
    SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
           coalesce(l_linestatus, 'ALL') AS l_linestatus,
           count(*)::BIGINT AS n_items,
           sum({_cents('l_extendedprice')})::BIGINT AS base_price_cents
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    ORDER BY 1, 2
    """,
)
def q_sales_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.sales_cube(_t(spark, sf_dir, "lineitem"))


@register(
    "user_running_value",
    oracle=f"""
    SELECT user_id, event_id, epoch_ns(ts) // 1000 AS ts_us,
           {_cents('value')} AS value_cents,
           sum({_cents('value')}) OVER (PARTITION BY user_id
               ORDER BY epoch_ns(ts), event_id
               ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_value_cents,
           sum({_cents('value')}) OVER (PARTITION BY user_id
               ORDER BY epoch_ns(ts), event_id
               ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)::BIGINT AS mov_value_cents
    FROM events
    """,
)
def q_user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running/moving ROWS-frame windows (cumulative + trailing-3 sums)."""
    return R.user_running_value(_t(spark, sf_dir, "events"), mov_n=3)


@register(
    "customers_without_recent_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate::DATE >= DATE '2001-01-01')
    ORDER BY c_custkey
    """,
)
def q_customers_without_recent_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.customers_without_recent_orders(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@register(
    "market_segment_stats",
    oracle=f"""
    SELECT c_mktsegment, count(*)::BIGINT AS n_customers,
           sum({_cents('c_acctbal')})::BIGINT AS acctbal_cents,
           count(DISTINCT n_name)::BIGINT AS n_nations
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
)
def q_market_segment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.market_segment_stats(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "nation")
    )


@register(
    "events_tumbling_counts",
    oracle=f"""
    SELECT (floor(epoch(ts) / 3600) * 3600)::BIGINT AS window_start,
           event_type,
           count(*)::BIGINT AS n_events,
           sum({_cents('value')})::BIGINT AS value_cents
    FROM events
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_events_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.events_tumbling_counts(_t(spark, sf_dir, "events"))


@register(
    "events_sliding_counts",
    oracle=f"""
    WITH w AS (
      SELECT event_type, value,
             unnest(ARRAY[(floor(epoch(ts) / 3600) * 3600)::BIGINT,
                          (floor(epoch(ts) / 3600) * 3600)::BIGINT - 3600])
               AS window_start
      FROM events)
    SELECT window_start, event_type, count(*)::BIGINT AS n_events,
           sum({_cents('value')})::BIGINT AS value_cents
    FROM w GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_events_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding 2h-window / 1h-hop event counts (every event in exactly two
    windows) — the moving-aggregate view dashboards read; streaming twin
    drained to parity in tests/test_streaming_advanced.py."""
    return R.events_sliding_counts(_t(spark, sf_dir, "events"))


@register(
    "latest_event_per_user_type",
    oracle=f"""
    SELECT user_id, event_type, event_id, {_cents('value')} AS value_cents FROM (
      SELECT *, row_number() OVER (PARTITION BY user_id, event_type
                                   ORDER BY ts DESC, event_id DESC) AS rn
      FROM events)
    WHERE rn = 1
    """,
)
def q_latest_event_per_user_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.latest_event_per_user_type(_t(spark, sf_dir, "events"))


@register(
    "user_sessions",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS us, {_cents('value')} AS vc
      FROM events),
    s AS ({R.sessions_gap_at_least_sql("e", ["us"])})
    SELECT user_id, min(us) AS session_start_us,
           count(*)::BIGINT AS n_events, sum(vc)::BIGINT AS value_cents
    FROM s GROUP BY user_id, sid
    """,
)
def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """session_window sessionization; oracle = gaps-and-islands SQL (lag +
    running sum, `sessions_gap_at_least_sql`).  A gap exactly == 10 min
    starts a new session on both sides (Spark session end is exclusive)."""
    return R.user_sessions(_t(spark, sf_dir, "events"), gap_minutes=10)


@register(
    "purchase_asof_click",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
             {_cents('value')} AS value_cents, event_type
      FROM events),
    p AS (SELECT event_id, user_id, ts_us, value_cents FROM e
          WHERE event_type = 'purchase'),
    c0 AS (SELECT user_id, ts_us, value_cents,
                  row_number() OVER (PARTITION BY user_id, ts_us
                                     ORDER BY event_id DESC) AS rn
           FROM e WHERE event_type = 'click'),
    c AS (SELECT user_id, ts_us, value_cents FROM c0 WHERE rn = 1)
    SELECT p.event_id, p.user_id, p.ts_us, p.value_cents,
           coalesce(c.ts_us, -1) AS asof_click_ts_us,
           coalesce(c.value_cents, -1) AS asof_click_value_cents
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
    ORDER BY p.event_id
    """,
)
def q_purchase_asof_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each purchase gets the user's most recent click at or
    before it (point-in-time feature attachment).  Spark side is the
    union+window merge (operators/asof.py); DuckDB oracle is its native
    ASOF LEFT JOIN — two entirely different formulations, bit-identical."""
    from pyspark.sql import Window

    from .operators.asof import asof_join_backward

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.expr("ts_ns DIV 1000").alias("ts_us"),
        R.cents("value").alias("value_cents"),
        "event_type",
    )
    purchases = ev.filter(F.col("event_type") == "purchase").drop("event_type")
    clicks_w = Window.partitionBy("user_id", "ts_us").orderBy(F.desc("event_id"))
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .withColumn("__rn", F.row_number().over(clicks_w))
        .filter(F.col("__rn") == 1)
        .select("user_id", "ts_us", "value_cents", F.col("ts_us").alias("click_ts_us"))
    )
    out = asof_join_backward(
        purchases,
        clicks.select("user_id", "ts_us", "value_cents", "click_ts_us"),
        key="user_id", ts="ts_us",
        right_payloads=["click_ts_us", "value_cents"],
    )
    # no-match → -1 sentinel (NULL-free numeric outputs survive naive
    # row-sorting comparators; same convention as the rollup sentinel)
    return out.select(
        "event_id", "user_id", "ts_us", "value_cents",
        F.coalesce("asof_click_ts_us", F.lit(-1)).alias("asof_click_ts_us"),
        F.coalesce("asof_value_cents", F.lit(-1)).alias("asof_click_value_cents"),
    ).orderBy("event_id")


@register(
    "purchase_attribution_window",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
             {_cents('value')} AS value_cents, event_type
      FROM events),
    p AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts_us, value_cents FROM e WHERE event_type = 'click')
    SELECT p.event_id, p.user_id, p.ts_us,
           count(c.ts_us)::BIGINT AS n_clicks,
           coalesce(sum(c.value_cents), 0)::BIGINT AS click_value_cents
    FROM p LEFT JOIN c
      ON p.user_id = c.user_id
     AND c.ts_us >= p.ts_us AND c.ts_us <= p.ts_us + 300000000
    GROUP BY p.event_id, p.user_id, p.ts_us
    ORDER BY p.event_id
    """,
)
def q_purchase_attribution_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution-window range join: clicks within 5 minutes AFTER each
    purchase (same user), counted + summed per purchase.  Spark side is the
    bucketed interval join (operators/rangejoin.py — equi-join on
    (user, time-bucket), exact BETWEEN filter); the oracle is the naive
    BETWEEN theta-join DuckDB can afford at sf0.01."""
    from .operators.rangejoin import interval_join

    window_us = 5 * 60 * 1_000_000
    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.expr("ts_ns DIV 1000").alias("ts_us"),
        R.cents("value").alias("value_cents"),
        "event_type",
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_event_id"), "user_id",
        F.col("ts_us").alias("p_ts_us"),
        (F.col("ts_us") + window_us).alias("p_end_us"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", "ts_us", "value_cents"
    )
    hits = interval_join(
        clicks, purchases, key="user_id", point_ts="ts_us",
        start="p_ts_us", end="p_end_us", bucket_width=window_us,
    )
    per_purchase = hits.groupBy("p_event_id").agg(
        F.count(F.lit(1)).alias("n_clicks"),
        F.sum("value_cents").alias("click_value_cents"),
    )
    return (
        purchases.join(per_purchase, "p_event_id", "left")
        .select(
            F.col("p_event_id").alias("event_id"),
            "user_id",
            F.col("p_ts_us").alias("ts_us"),
            F.coalesce("n_clicks", F.lit(0)).alias("n_clicks"),
            F.coalesce("click_value_cents", F.lit(0)).alias("click_value_cents"),
        )
        .orderBy("event_id")
    )


@register(
    "purchase_days_without_errors",
    oracle="""
    SELECT DISTINCT user_id, ts::DATE AS day FROM events WHERE event_type = 'purchase'
    EXCEPT
    SELECT DISTINCT user_id, ts::DATE AS day FROM events WHERE event_type = 'error'
    ORDER BY user_id, day
    """,
)
def q_purchase_days_without_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.purchase_days_without_errors(_t(spark, sf_dir, "events"))


@register(
    "shipping_priority",
    oracle=f"""
    SELECT l_orderkey,
           sum({_cents('l_extendedprice * (1.0 - l_discount)')})::BIGINT AS revenue_cents,
           o_orderdate::DATE AS orderdate,
           o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate::DATE < DATE '1998-01-01'
      AND l_shipdate::DATE > DATE '1998-01-01'
    GROUP BY l_orderkey, o_orderdate::DATE, o_orderpriority
    ORDER BY revenue_cents DESC, l_orderkey
    LIMIT 10
    """,
)
def q_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape (join chain + agg + ordered limit)."""
    return R.shipping_priority(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
    )


@register(
    "local_supplier_volume",
    oracle=f"""
    SELECT n_name,
           sum({_cents('l_extendedprice * (1.0 - l_discount)')})::BIGINT AS revenue_cents,
           count(*)::BIGINT AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
    GROUP BY n_name ORDER BY n_name
    """,
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: the full 6-table join tree incl. region/supplier dims."""
    return R.local_supplier_volume(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@register(
    "part_type_revenue",
    oracle=f"""
    WITH agg AS (
      SELECT p_type,
             sum({_cents('l_extendedprice * (1.0 - l_discount)')})::BIGINT AS revenue_cents,
             count(*)::BIGINT AS n_items
      FROM lineitem JOIN part ON l_partkey = p_partkey
      GROUP BY p_type)
    SELECT p_type, revenue_cents, n_items,
           floor((revenue_cents * CAST(1.0 AS DOUBLE) / sum(revenue_cents) OVER ())*10000 + 0.5)/10000.0
             AS revenue_share
    FROM agg ORDER BY p_type
    """,
)
def q_part_type_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 flavor: revenue share per part type (window over agg)."""
    out = R.part_type_revenue(_t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part"))
    return out.select(
        "p_type", "revenue_cents", "n_items",
        round4("revenue_share").alias("revenue_share"),
    )


@register(
    "nation_pair_volume",
    oracle=f"""
    SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
           year(l_shipdate)::INTEGER AS ship_year,
           sum({_cents('l_extendedprice * (1.0 - l_discount)')})::BIGINT AS revenue_cents,
           count(*)::BIGINT AS n_items
    FROM lineitem
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation n1 ON s_nationkey = n1.n_nationkey
    JOIN nation n2 ON c_nationkey = n2.n_nationkey
    WHERE n1.n_name IN ('NATION_1', 'NATION_2')
      AND n2.n_name IN ('NATION_1', 'NATION_2')
      AND n1.n_name != n2.n_name
      AND l_shipdate::DATE BETWEEN DATE '1995-01-01' AND DATE '1996-12-31'
    GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
    """,
)
def q_nation_pair_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral nation-pair volume by ship year."""
    return R.nation_pair_volume(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


@register(
    "brand_supplier_stats",
    oracle="""
    SELECT p_brand,
           count(DISTINCT s_suppkey)::BIGINT AS n_suppliers,
           count(DISTINCT p_partkey)::BIGINT AS n_parts,
           count(*)::BIGINT AS n_items
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY p_brand ORDER BY p_brand
    """,
)
def q_brand_supplier_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 flavor: distinct suppliers/parts per brand via the
    lineitem bridge (fixture schema has no partsupp)."""
    return R.brand_supplier_stats(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
    )


@register(
    "event_value_percentiles",
    oracle="""
    SELECT event_type,
           floor((quantile_cont(value::DOUBLE, 0.25))*10000 + 0.5)/10000.0 AS p25,
           floor((quantile_cont(value::DOUBLE, 0.5))*10000 + 0.5)/10000.0 AS p50,
           floor((quantile_cont(value::DOUBLE, 0.75))*10000 + 0.5)/10000.0 AS p75,
           count(*)::BIGINT AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_event_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact linear-interpolated percentiles (both engines use the same
    continuous-quantile convention on DOUBLE input)."""
    ev = _t(spark, sf_dir, "events")
    pct = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.25)).alias("__p25"),
        F.percentile("value", F.lit(0.5)).alias("__p50"),
        F.percentile("value", F.lit(0.75)).alias("__p75"),
        F.count(F.lit(1)).alias("n"),
    )
    return pct.select(
        "event_type",
        round4("__p25").alias("p25"),
        round4("__p50").alias("p50"),
        round4("__p75").alias("p75"),
        "n",
    ).orderBy("event_type")


@register(
    "purchase_and_click_days",
    oracle="""
    SELECT DISTINCT user_id, ts::DATE AS day FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT DISTINCT user_id, ts::DATE AS day FROM events WHERE event_type = 'click'
    ORDER BY user_id, day
    """,
)
def q_purchase_and_click_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    return R.purchase_and_click_days(_t(spark, sf_dir, "events"))


@register(
    "customer_order_distribution",
    oracle="""
    SELECT n_orders, count(*)::BIGINT AS n_customers
    FROM (SELECT c_custkey, count(o_orderkey)::BIGINT AS n_orders
          FROM customer LEFT JOIN orders ON c_custkey = o_custkey
          GROUP BY c_custkey)
    GROUP BY n_orders ORDER BY n_customers DESC, n_orders DESC
    """,
)
def q_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape: distribution of customers by order count."""
    return R.customer_order_distribution(
        _t(spark, sf_dir, "customer"), _t(spark, sf_dir, "orders")
    )


@register(
    "small_quantity_revenue",
    oracle=f"""
    WITH avg_q AS (
      SELECT l_partkey, sum(l_quantity) / count(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey)
    SELECT p_brand,
           sum({_cents('l_extendedprice')})::BIGINT AS revenue_cents,
           count(*)::BIGINT AS n_items
    FROM lineitem
    JOIN avg_q USING (l_partkey)
    JOIN part ON l_partkey = p_partkey
    WHERE l_quantity < 0.2 * avg_qty
    GROUP BY p_brand ORDER BY p_brand
    """,
)
def q_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: small-quantity revenue vs per-part average.
    Oracle mirrors the exact-integer-sum/count average (not avg()) so the
    threshold decision is reduction-order-independent on both engines."""
    return R.small_quantity_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


@register(
    "large_volume_orders",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey, sum(l_quantity) AS sum_qty
      FROM lineitem GROUP BY l_orderkey HAVING sum(l_quantity) > 300)
    SELECT c_custkey, c_name, o_orderkey AS orderkey,
           o_orderdate::DATE AS orderdate,
           {_cents('o_totalprice')}::BIGINT AS total_cents,
           sum_qty
    FROM big
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    ORDER BY total_cents DESC, orderkey
    """,
)
def q_large_volume_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: orders with total quantity above 300."""
    return R.large_volume_orders(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
    )


@register(
    "disjunctive_part_revenue",
    oracle=f"""
    SELECT p_brand,
           sum({_cents('l_extendedprice')})::BIGINT AS revenue_cents,
           count(*)::BIGINT AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50
           AND l_quantity BETWEEN 20 AND 40)
    GROUP BY p_brand ORDER BY p_brand
    """,
)
def q_disjunctive_part_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: OR-of-ANDs predicate kept out of the join condition."""
    return R.disjunctive_part_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "part")
    )


@register(
    "idle_rich_customers",
    oracle=f"""
    WITH tot AS (
      SELECT sum({_cents('c_acctbal')})::BIGINT AS total_cents,
             count(*)::BIGINT AS n_pos
      FROM customer WHERE c_acctbal > 0),
    rich AS (
      SELECT c_custkey, c_nationkey, {_cents('c_acctbal')}::BIGINT AS bal_cents
      FROM customer, tot
      WHERE {_cents('c_acctbal')}::BIGINT * tot.n_pos > tot.total_cents),
    recent AS (
      SELECT DISTINCT o_custkey FROM orders
      WHERE o_orderdate::DATE >= DATE '2000-01-01')
    SELECT n_name, count(*)::BIGINT AS n_customers,
           sum(bal_cents)::BIGINT AS acctbal_cents
    FROM rich
    JOIN nation ON c_nationkey = n_nationkey
    WHERE c_custkey NOT IN (SELECT o_custkey FROM recent)
    GROUP BY n_name ORDER BY n_name
    """,
)
def q_idle_rich_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: above-average balance, no recent orders, per nation.
    Above-average test is integer cross-multiplication — see operator."""
    return R.idle_rich_customers(
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "nation"),
    )


@register(
    "props_json_stats",
    oracle="""
    SELECT event_type, count(*)::BIGINT AS n_events,
           sum(k)::BIGINT AS sum_k, max(k)::BIGINT AS max_k,
           floor((sum(k) * CAST(1.0 AS DOUBLE) / count(*)) * 10000 + 0.5) / 10000.0 AS avg_k
    FROM (SELECT event_type, json_extract(props, '$.k')::BIGINT AS k FROM events)
    GROUP BY event_type ORDER BY event_type
    """,
)
def q_props_json_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured extraction: parse the JSON ``props`` column and
    aggregate the numeric field per event type.

    Scale: ``get_json_object`` is a JVM-side expression inside whole-stage
    codegen (no Python in the path); the aggregate is partial-combined so
    the exchange is O(event types).  The mean is emitted as
    round4(integer_sum / count) — one division after exact BIGINT sums, so
    it cannot drift with partitioning.
    """
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .select(
            "event_type",
            "n_events",
            "sum_k",
            "max_k",
            round4(F.col("sum_k") / F.col("n_events")).alias("avg_k"),
        )
        .orderBy("event_type")
    )


@register(
    "forecast_revenue_change",
    oracle=f"""
    SELECT sum({_cents('l_extendedprice * l_discount')})::BIGINT AS revenue_increase_cents,
           count(*)::BIGINT AS n_items
    FROM lineitem
    WHERE l_shipdate::DATE >= DATE '1997-01-01' AND l_shipdate::DATE < DATE '1998-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def q_forecast_revenue_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: single-scan predicate-pushdown aggregate."""
    return R.forecast_revenue_change(_t(spark, sf_dir, "lineitem"))


@register(
    "returned_items_revenue",
    oracle=f"""
    SELECT c_custkey, c_name, n_name, revenue_cents
    FROM (
      SELECT o_custkey, sum({_cents('l_extendedprice * (1.0 - l_discount)')})::BIGINT
               AS revenue_cents
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      WHERE l_returnflag = 'R'
        AND o_orderdate::DATE >= DATE '1996-01-01'
        AND o_orderdate::DATE < DATE '1996-04-01'
      GROUP BY o_custkey)
    JOIN customer ON o_custkey = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    ORDER BY revenue_cents DESC, c_custkey
    LIMIT 20
    """,
)
def q_returned_items_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: returned-item revenue per customer, quarterly."""
    return R.returned_items_revenue(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "nation"),
    )


@register(
    "top_supplier_revenue",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey, sum({_cents('l_extendedprice * (1.0 - l_discount)')})::BIGINT
               AS total_cents
      FROM lineitem
      WHERE l_shipdate::DATE >= DATE '1996-01-01'
        AND l_shipdate::DATE < DATE '1996-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_cents
    FROM rev JOIN supplier ON l_suppkey = s_suppkey
    WHERE total_cents = (SELECT max(total_cents) FROM rev)
    ORDER BY s_suppkey
    """,
)
def q_top_supplier_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape: max-revenue supplier(s) via 1-row max re-join."""
    return R.top_supplier_revenue(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    )


@register(
    "market_share",
    oracle=f"""
    WITH j AS (
      SELECT year(o_orderdate)::INTEGER AS o_year,
             {_cents('l_extendedprice * (1.0 - l_discount)')} AS rev_cents,
             (sn.n_name = 'NATION_3') AS is_target
      FROM lineitem
      JOIN part     ON l_partkey = p_partkey AND p_type = 'PROMO'
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation cn ON c_nationkey = cn.n_nationkey
      JOIN region   ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
      JOIN supplier ON l_suppkey = s_suppkey
      JOIN nation sn ON s_nationkey = sn.n_nationkey)
    SELECT o_year,
           sum(CASE WHEN is_target THEN rev_cents ELSE 0 END)::BIGINT AS target_cents,
           sum(rev_cents)::BIGINT AS total_cents,
           floor((sum(CASE WHEN is_target THEN rev_cents ELSE 0 END) * 1.0
                  / sum(rev_cents)) * 10000 + 0.5) / 10000.0 AS mkt_share
    FROM j GROUP BY o_year ORDER BY o_year
    """,
)
def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's revenue share in a region, per year."""
    return R.market_share(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "customer"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@register(
    "product_profit",
    oracle=f"""
    SELECT n_name AS supp_nation, year(o_orderdate)::INTEGER AS o_year,
           sum({_cents('(l_extendedprice * (1.0 - l_discount) - 0.6 * p_retailprice * l_quantity)')})::BIGINT
             AS profit_cents,
           count(*)::BIGINT AS n_items
    FROM lineitem
    JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%widget%'
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN orders   ON l_orderkey = o_orderkey
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def q_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape (cost modeled from p_retailprice; no partsupp)."""
    return R.product_profit(
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "orders"),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


@register(
    "late_shipment_priority",
    oracle="""
    SELECT year(l_shipdate)::INTEGER AS ship_year,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 1 ELSE 0 END)::BIGINT AS high_line_count,
           sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                    THEN 0 ELSE 1 END)::BIGINT AS low_line_count
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE date_diff('day', o_orderdate::DATE, l_shipdate::DATE) > 60
    GROUP BY 1 ORDER BY 1
    """,
)
def q_late_shipment_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape (late = shipped >60 d after order; no shipmode col)."""
    return R.late_shipment_priority(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "orders")
    )


@register(
    "bottleneck_suppliers",
    oracle="""
    WITH per_supp AS (
      SELECT l_orderkey, l_suppkey, max(l_shipdate::DATE) AS supp_last
      FROM lineitem GROUP BY 1, 2),
    flagged AS (
      SELECT l_orderkey, l_suppkey, supp_last,
             max(supp_last) OVER (PARTITION BY l_orderkey) AS order_last,
             count(*) OVER (PARTITION BY l_orderkey) AS n_supp
      FROM per_supp),
    flagged2 AS (
      SELECT *, sum(CASE WHEN supp_last = order_last THEN 1 ELSE 0 END)
                  OVER (PARTITION BY l_orderkey) AS n_at_max
      FROM flagged)
    SELECT s_suppkey, s_name, count(*)::BIGINT AS numwait
    FROM flagged2 JOIN supplier ON l_suppkey = s_suppkey
    WHERE n_supp >= 2 AND n_at_max = 1 AND supp_last = order_last
    GROUP BY 1, 2 ORDER BY numwait DESC, s_suppkey LIMIT 20
    """,
)
def q_bottleneck_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: sole latest shipper of multi-supplier orders."""
    return R.bottleneck_suppliers(
        _t(spark, sf_dir, "lineitem"), _t(spark, sf_dir, "supplier")
    )


@register(
    "click_asof_next_purchase",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us,
             {_cents('value')} AS value_cents, event_type
      FROM events),
    c AS (SELECT event_id, user_id, ts_us, value_cents FROM e
          WHERE event_type = 'click'),
    p0 AS (SELECT user_id, ts_us, value_cents,
                  row_number() OVER (PARTITION BY user_id, ts_us
                                     ORDER BY event_id DESC) AS rn
           FROM e WHERE event_type = 'purchase'),
    p AS (SELECT user_id, ts_us, value_cents FROM p0 WHERE rn = 1)
    SELECT c.event_id, c.user_id, c.ts_us, c.value_cents,
           coalesce(p.ts_us, -1) AS next_purchase_ts_us,
           coalesce(p.value_cents, -1) AS next_purchase_value_cents
    FROM c ASOF LEFT JOIN p
      ON c.user_id = p.user_id AND c.ts_us <= p.ts_us
    ORDER BY c.event_id
    """,
)
def q_click_asof_next_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join: each click gets the user's next purchase at or
    after it (time-to-convert attribution).  Spark side is the backward
    union+window merge run on NEGATED timestamps (operators/asof.py);
    DuckDB oracle is the native ASOF LEFT JOIN with the <= inequality —
    different formulations, bit-identical including tie handling (right
    side pre-deduped to one row per (user, ts))."""
    from pyspark.sql import Window

    from .operators.asof import asof_join_forward

    ev = _t(spark, sf_dir, "events").select(
        "event_id", "user_id",
        F.expr("ts_ns DIV 1000").alias("ts_us"),
        R.cents("value").alias("value_cents"),
        "event_type",
    )
    clicks = ev.filter(F.col("event_type") == "click").drop("event_type")
    pw = Window.partitionBy("user_id", "ts_us").orderBy(F.desc("event_id"))
    purchases = (
        ev.filter(F.col("event_type") == "purchase")
        .withColumn("__rn", F.row_number().over(pw))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id", "ts_us", "value_cents",
            F.col("ts_us").alias("purchase_ts_us"),
        )
    )
    out = asof_join_forward(
        clicks,
        purchases.select("user_id", "ts_us", "value_cents", "purchase_ts_us"),
        key="user_id", ts="ts_us",
        right_payloads=["purchase_ts_us", "value_cents"],
    )
    return out.select(
        "event_id", "user_id", "ts_us", "value_cents",
        F.coalesce(F.col("asof_purchase_ts_us"), F.lit(-1)).cast("long")
        .alias("next_purchase_ts_us"),
        F.coalesce(F.col("asof_value_cents"), F.lit(-1)).cast("long")
        .alias("next_purchase_value_cents"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# TPC-H Q2/Q11/Q20 shapes over the synthesized partsupp (sources/partsupp.py
# — deterministic md5 derivation, bit-identical across engines; VERDICT r2
# item 5).  The oracle CTE is generated from the same constants the Spark
# synthesis uses, so neither side can drift.
# ---------------------------------------------------------------------------
# Session-shared synthesized partsupp — the "materialize the dim once"
# model every other shared artifact follows (a real deployment would write
# it bucketed by ps_partkey next to the other dims, not re-derive it per
# query).
@artifact()
def _ps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return synth_partsupp(_t(spark, sf_dir, "part"), _t(spark, sf_dir, "supplier"))


@register(
    "min_cost_supplier",
    oracle=f"""
    WITH {PARTSUPP_SQL},
    eu AS (
      SELECT s_suppkey, s_name, {_cents('s_acctbal')} AS acctbal_cents, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
    cand AS (
      SELECT p.p_partkey, ps.ps_supplycost_cents, eu.s_name, eu.n_name,
             eu.acctbal_cents
      FROM partsupp ps JOIN part p ON ps.ps_partkey = p.p_partkey
      JOIN eu ON ps.ps_suppkey = eu.s_suppkey
      WHERE p.p_type = 'LARGE' AND p.p_size <= 15),
    mn AS (SELECT p_partkey, min(ps_supplycost_cents) AS mc
           FROM cand GROUP BY 1)
    SELECT c.p_partkey::BIGINT AS p_partkey,
           c.ps_supplycost_cents::BIGINT AS ps_supplycost_cents,
           c.s_name, c.n_name, c.acctbal_cents::BIGINT AS acctbal_cents
    FROM cand c JOIN mn ON c.p_partkey = mn.p_partkey
                       AND c.ps_supplycost_cents = mn.mc
    ORDER BY acctbal_cents DESC, n_name, s_name, p_partkey LIMIT 100
    """,
)
def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape (min-cost regional supplier per part); see
    operators.relational.min_cost_supplier for the scale notes."""
    return R.min_cost_supplier(
        _t(spark, sf_dir, "part"),
        _ps(spark, sf_dir),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
        _t(spark, sf_dir, "region"),
    )


@register(
    "important_stock",
    oracle=f"""
    WITH {PARTSUPP_SQL},
    ns AS (
      SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_3'),
    st AS (
      SELECT ps_partkey,
             sum(ps_supplycost_cents::HUGEINT * ps_availqty) AS v
      FROM partsupp JOIN ns ON ps_suppkey = s_suppkey
      GROUP BY 1),
    tot AS (SELECT sum(v) AS t FROM st)
    SELECT ps_partkey::BIGINT AS ps_partkey, v::BIGINT AS value_cents
    FROM st, tot WHERE v * 500 > t
    ORDER BY value_cents DESC, ps_partkey
    """,
)
def q_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape (stock-value concentration per nation); see
    operators.relational.important_stock for the scale notes."""
    return R.important_stock(
        _ps(spark, sf_dir),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


@register(
    "excess_stock_suppliers",
    oracle=f"""
    WITH {PARTSUPP_SQL},
    sp AS (SELECT p_partkey FROM part WHERE p_name LIKE 'small%'),
    shipped AS (
      SELECT l_partkey, l_suppkey, sum({_cents('l_quantity')}) AS qty_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1997-01-01'
      GROUP BY 1, 2),
    excess AS (
      SELECT DISTINCT ps.ps_suppkey
      FROM partsupp ps
      JOIN sp ON ps.ps_partkey = sp.p_partkey
      JOIN shipped sh ON ps.ps_partkey = sh.l_partkey
                     AND ps.ps_suppkey = sh.l_suppkey
      WHERE ps.ps_availqty * 200 > sh.qty_cents)
    SELECT e.ps_suppkey::BIGINT AS s_suppkey, s.s_name, n.n_name
    FROM excess e JOIN supplier s ON e.ps_suppkey = s.s_suppkey
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    ORDER BY s_suppkey
    """,
)
def q_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape (excess-stock suppliers); see
    operators.relational.excess_stock_suppliers for the scale notes."""
    return R.excess_stock_suppliers(
        _ps(spark, sf_dir),
        _t(spark, sf_dir, "part"),
        _t(spark, sf_dir, "lineitem"),
        _t(spark, sf_dir, "supplier"),
        _t(spark, sf_dir, "nation"),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS: independent subtotal dimensions in one pass (§2.6 grouping
# surface beyond rollup/cube — arbitrary set lists).
# ---------------------------------------------------------------------------
@register(
    "revenue_grouping_sets",
    oracle=f"""
    SELECT coalesce(n_name, 'ALL') AS nation,
           coalesce(o_orderpriority, 'ALL') AS priority,
           sum({_cents('l_extendedprice * (1.0 - l_discount)')})::BIGINT
             AS revenue_cents,
           count(*)::BIGINT AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    GROUP BY GROUPING SETS ((n_name), (o_orderpriority), ())
    ORDER BY nation, priority
    """,
)
def q_revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue by nation AND by priority AND grand total via GROUPING SETS
    — one fact-scan, one Expand (3 grouping copies combined map-side)
    instead of three scans+unions; the arbitrary-set sibling of
    rollup/cube.  NULL grouping keys → 'ALL' sentinel (NULL-free
    contract); the join chain is the Q5 shape (orderkey exchange, dims
    broadcast)."""
    li = _t(spark, sf_dir, "lineitem")
    from .operators.relational import cents

    rev = li.select(
        "l_orderkey",
        cents(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).alias("rev_cents"),
    )
    joined = (
        rev.join(
            _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority"),
            rev.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(_t(spark, sf_dir, "nation").select("n_nationkey", "n_name")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
    )
    return (
        joined.groupingSets(
            [["n_name"], ["o_orderpriority"], []], "n_name", "o_orderpriority"
        )
        .agg(
            F.sum("rev_cents").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .select(
            F.coalesce("n_name", F.lit("ALL")).alias("nation"),
            F.coalesce("o_orderpriority", F.lit("ALL")).alias("priority"),
            "revenue_cents",
            "n_items",
        )
        .orderBy("nation", "priority")
    )


# ---------------------------------------------------------------------------
# Window distribution functions: ntile / percent_rank / cume_dist (§2.6
# window surface beyond row_number/rank aggregates).
# ---------------------------------------------------------------------------
@register(
    "order_value_distribution",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey, o_orderpriority,
             {_cents('o_totalprice')} AS total_cents
      FROM orders
      WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1996-02-01')
    SELECT o_orderkey, o_orderpriority, total_cents,
           ntile(4) OVER w AS quartile,
           floor((percent_rank() OVER w) * 10000 + 0.5) / 10000.0 AS pct_rank,
           floor((cume_dist() OVER w) * 10000 + 0.5) / 10000.0 AS cume
    FROM o
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY total_cents, o_orderkey)
    ORDER BY o_orderpriority, total_cents, o_orderkey
    """,
)
def q_order_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-position windows over one month of orders: quartile
    (ntile), percent_rank and cume_dist of each order's value within its
    priority class — the ranking trio the §2.6 window checklist lists
    beyond plain row_number, used for percentile-band features.

    Scale: one exchange on the (priority) partition key serves all three
    functions; the order-by is integer cents with the orderkey tie-break,
    so every position — and therefore every emitted fraction — is
    deterministic (peer-group-free).  The month predicate pushes to the
    scan."""
    from pyspark.sql import Window
    from .operators.relational import cents

    o = (
        _t(spark, sf_dir, "orders")
        .filter(
            (F.col("o_orderdate") >= F.to_timestamp(F.lit("1996-01-01")))
            & (F.col("o_orderdate") < F.to_timestamp(F.lit("1996-02-01")))
        )
        .select(
            "o_orderkey",
            "o_orderpriority",
            cents("o_totalprice").alias("total_cents"),
        )
    )
    w = Window.partitionBy("o_orderpriority").orderBy("total_cents", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        "total_cents",
        F.ntile(4).over(w).alias("quartile"),
        round4(F.percent_rank().over(w)).alias("pct_rank"),
        round4(F.cume_dist().over(w)).alias("cume"),
    ).orderBy("o_orderpriority", "total_cents", "o_orderkey")


# ---------------------------------------------------------------------------
# EXCEPT set op: engaged-but-never-converted users (§2.6 set-op surface
# beyond the INTERSECT in purchase_and_click_days).
# ---------------------------------------------------------------------------
@register(
    "click_days_without_purchase",
    oracle="""
    SELECT user_id, epoch_ns(ts) // 86400000000000 AS day
    FROM events WHERE event_type = 'click'
    EXCEPT
    SELECT user_id, epoch_ns(ts) // 86400000000000 AS day
    FROM events WHERE event_type = 'purchase'
    ORDER BY user_id, day
    """,
)
def q_click_days_without_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(user, day) pairs with a click but no purchase that day — EXCEPT
    (distinct set difference), the §2.6 set-op leg INTERSECT
    (purchase_and_click_days) doesn't cover.  Catalyst plans EXCEPT
    DISTINCT as aggregate + left-anti join: both sides partial-agg to
    distinct (user, day) keys before the single exchange, so the shuffle
    is O(distinct pairs), not O(events); day is integer epoch-day from
    the exact nanos column."""
    ev = _t(spark, sf_dir, "events")
    day = F.expr("ts_ns DIV 86400000000000").alias("day")
    clicked = ev.filter(F.col("event_type") == "click").select("user_id", day)
    purchased = ev.filter(F.col("event_type") == "purchase").select("user_id", day)
    return clicked.subtract(purchased).orderBy("user_id", "day")


# ---------------------------------------------------------------------------
# Data-quality audit: dbt-style constraint checks as one relational query.
# ---------------------------------------------------------------------------
@register(
    "data_quality_audit",
    oracle="""
    SELECT 'orders_custkey_referential' AS check_name,
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))::BIGINT
             AS violations
    UNION ALL
    SELECT 'lineitem_orderkey_referential',
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))::BIGINT
    UNION ALL
    SELECT 'orders_pk_unique',
           (SELECT count(*) FROM (
              SELECT o_orderkey FROM orders
              GROUP BY o_orderkey HAVING count(*) > 1))::BIGINT
    UNION ALL
    SELECT 'customer_name_not_null',
           (SELECT count(*) FROM customer WHERE c_name IS NULL)::BIGINT
    UNION ALL
    SELECT 'lineitem_discount_range',
           (SELECT count(*) FROM lineitem
            WHERE l_discount < 0.0 OR l_discount > 1.0)::BIGINT
    UNION ALL
    SELECT 'events_value_non_negative',
           (SELECT count(*) FROM events WHERE value < 0.0)::BIGINT
    ORDER BY check_name
    """,
)
def q_data_quality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Constraint audit over the warehouse — the dbt-test surface as one
    engine query: referential integrity (fact keys resolve against their
    dims), primary-key uniqueness, NOT NULL, and domain-range checks, each
    emitting its violation count (all-zeros = clean fixture, and any
    future fixture regression trips the hash gate).

    Scale: each referential check is a left-anti join (the same
    O(distinct-key) economics as the incremental-download anti-join);
    uniqueness is a partial-agg'd HAVING; null/range checks are pushed-down
    scan predicates counted map-side.  The six 1-row results union into a
    6-row report — no check ever materializes violating rows unless asked.
    """
    orders = _t(spark, sf_dir, "orders")
    customer = _t(spark, sf_dir, "customer")
    lineitem = _t(spark, sf_dir, "lineitem")
    events = _t(spark, sf_dir, "events")

    def one(name: str, df_count: DataFrame) -> DataFrame:
        return df_count.select(
            F.lit(name).alias("check_name"),
            F.col("violations").cast("long").alias("violations"),
        )

    checks = [
        one(
            "orders_custkey_referential",
            orders.join(
                customer.select("c_custkey"),
                orders.o_custkey == F.col("c_custkey"),
                "left_anti",
            ).agg(F.count(F.lit(1)).alias("violations")),
        ),
        one(
            "lineitem_orderkey_referential",
            lineitem.join(
                orders.select(F.col("o_orderkey").alias("__ok")),
                lineitem.l_orderkey == F.col("__ok"),
                "left_anti",
            ).agg(F.count(F.lit(1)).alias("violations")),
        ),
        one(
            "orders_pk_unique",
            orders.groupBy("o_orderkey")
            .agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") > 1)
            .agg(F.count(F.lit(1)).alias("violations")),
        ),
        one(
            "customer_name_not_null",
            customer.filter(F.col("c_name").isNull()).agg(
                F.count(F.lit(1)).alias("violations")
            ),
        ),
        one(
            "lineitem_discount_range",
            lineitem.filter(
                (F.col("l_discount") < 0.0) | (F.col("l_discount") > 1.0)
            ).agg(F.count(F.lit(1)).alias("violations")),
        ),
        one(
            "events_value_non_negative",
            events.filter(F.col("value") < 0.0).agg(
                F.count(F.lit(1)).alias("violations")
            ),
        ),
    ]
    out = checks[0]
    for c in checks[1:]:
        out = out.unionByName(c)
    return out.orderBy("check_name")


# ---------------------------------------------------------------------------
# Native PIVOT: order counts + revenue by month x status (wide matrix).
# ---------------------------------------------------------------------------
@register(
    "order_status_pivot",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS month,
           sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS cnt_f,
           sum(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END)::BIGINT AS cnt_o,
           sum(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END)::BIGINT AS cnt_p,
           sum(CASE WHEN o_orderstatus = 'F'
                    THEN floor(o_totalprice * 100 + 0.5)::BIGINT ELSE 0 END)::BIGINT
             AS rev_f_cents,
           sum(CASE WHEN o_orderstatus = 'O'
                    THEN floor(o_totalprice * 100 + 0.5)::BIGINT ELSE 0 END)::BIGINT
             AS rev_o_cents,
           sum(CASE WHEN o_orderstatus = 'P'
                    THEN floor(o_totalprice * 100 + 0.5)::BIGINT ELSE 0 END)::BIGINT
             AS rev_p_cents
    FROM orders
    GROUP BY 1 ORDER BY 1
    """,
)
def q_order_status_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide month × order-status matrix via Spark's native `pivot` with an
    EXPLICIT value list — counts and integer-cents revenue per status.
    Long→wide is the inverse of `corpus_metrics_long`'s unpivot; together
    they close the reshape pair.

    Scale: pivoting with declared values ('F','O','P') compiles to ONE
    partial-agg'd hash aggregate of conditional sums (no second
    values-discovery scan, no per-status shuffle — the same plan the
    oracle's CASE formulation states).  Revenue is summed in exact integer
    cents; outputs are NULL-free by construction (absent cells aggregate
    zero rows → coalesced to 0).
    """
    o = _t(spark, sf_dir, "orders").select(
        F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        "o_orderstatus",
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    wide = (
        o.groupBy("month")
        .pivot("o_orderstatus", ["F", "O", "P"])
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum("cents").alias("rev"),
        )
    )
    z = lambda c: F.coalesce(F.col(c), F.lit(0)).cast("long")  # noqa: E731
    return wide.select(
        "month",
        z("F_cnt").alias("cnt_f"),
        z("O_cnt").alias("cnt_o"),
        z("P_cnt").alias("cnt_p"),
        z("F_rev").alias("rev_f_cents"),
        z("O_rev").alias("rev_o_cents"),
        z("P_rev").alias("rev_p_cents"),
    ).orderBy("month")


# ---------------------------------------------------------------------------
# Z-order (Morton) cell map: the 2-D clustering key, oracle-verified.
# ---------------------------------------------------------------------------
ZORDER_BITS = 4


def _zorder_oracle() -> str:
    from .plans.maintenance import morton_sql_duckdb

    xb = "(o_custkey % 16)"
    yb = "(((year(o_orderdate) * 12) + month(o_orderdate)) % 16)"
    code = morton_sql_duckdb(xb, yb, ZORDER_BITS)
    return f"""
    WITH o AS (
      SELECT {xb} AS xb, {yb} AS yb,
             {code}::BIGINT AS morton,
             floor(o_totalprice * 100 + 0.5)::BIGINT AS cents
      FROM orders)
    SELECT morton, xb, yb,
           count(*)::BIGINT AS n_orders, sum(cents)::BIGINT AS rev_cents
    FROM o GROUP BY 1, 2, 3 ORDER BY morton
    """


@register("zorder_cells", oracle=_zorder_oracle())
def q_zorder_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Morton (Z-order) cell statistics for orders bucketed by (custkey %
    16, order month % 16): the interleaved code `zorder_rewrite` clusters
    files on, emitted per cell with order counts and integer-cents revenue
    so the clustering key itself is value-verified cross-engine.

    Scale: the code is pure codegen'd bit arithmetic on two bucket ints —
    no UDF, no shuffle beyond the final per-cell aggregate (256 cells at
    any data size: the exchange is O(cells), map-side combined).  The
    locality property (file-level 2-D pruning) is exercised by
    `tests/test_maintenance.py::test_zorder_rewrite_bounds_both_dims`."""
    from .plans.maintenance import morton_sql

    o = _t(spark, sf_dir, "orders").select(
        (F.col("o_custkey") % 16).alias("xb"),
        ((F.year("o_orderdate") * 12 + F.month("o_orderdate")) % 16).alias("yb"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    code = F.expr(morton_sql("xb", "yb", ZORDER_BITS)).cast("long")
    return (
        o.withColumn("morton", code)
        .groupBy("morton", "xb", "yb")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum("cents").cast("long").alias("rev_cents"),
        )
        .orderBy("morton")
    )


# ---------------------------------------------------------------------------
# Data profiling (deequ/dbt-docs style): per-column stats in one pass.
# ---------------------------------------------------------------------------
_PROFILE_COLS = [
    ("event_id", "CAST(event_id AS VARCHAR)"),
    ("user_id", "CAST(user_id AS VARCHAR)"),
    ("event_type", "event_type"),
    ("props", "props"),
]


@register(
    "table_profile_events",
    oracle=f"""
    WITH long AS (
      {" UNION ALL ".join(
          f"SELECT '{name}' AS column_name, {expr} AS val FROM events"
          for name, expr in _PROFILE_COLS
      )}),
    vc AS (
      SELECT column_name, val, count(*)::BIGINT AS cnt
      FROM long WHERE val IS NOT NULL GROUP BY 1, 2),
    per AS (
      SELECT column_name,
             sum(cnt)::BIGINT AS n_filled,
             count(*)::BIGINT AS n_distinct
      FROM vc GROUP BY 1),
    tops AS (
      SELECT column_name, val AS top_value, cnt AS top_count FROM (
        SELECT *, row_number() OVER (PARTITION BY column_name
                                     ORDER BY cnt DESC, val) AS rn
        FROM vc)
      WHERE rn = 1),
    nr AS (SELECT count(*)::BIGINT AS n_rows FROM events)
    SELECT p.column_name,
           (SELECT n_rows FROM nr) AS n_rows,
           ((SELECT n_rows FROM nr) - p.n_filled)::BIGINT AS n_null,
           p.n_distinct,
           t.top_value, t.top_count
    FROM per p JOIN tops t USING (column_name)
    ORDER BY p.column_name
    """,
)
def q_table_profile_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass data profile of the `events` table (deequ/dbt-docs shape):
    per column — row count, null count, exact distinct count, and the
    most frequent value (ties broken lexicographically).  The report a
    catalog publishes next to every dataset, produced by the engine
    itself.

    Scale: the table unpivots to (column, value) via one `stack` pass (no
    per-column rescans), value counts partial-agg on (column, value), and
    the per-column fold + top-1 (WindowGroupLimit keyed by column) run on
    the already-aggregated value-count table — the only corpus-sized work
    is the single scan.  Exact distinct via grouping, not sketches, so
    the oracle matches bit-for-bit; the HLL family covers the approximate
    path where exactness can be traded."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    stack_args = ", ".join(
        f"'{name}', CAST({name} AS STRING)" for name, _ in _PROFILE_COLS
    )
    long = ev.select(
        F.expr(f"stack({len(_PROFILE_COLS)}, {stack_args}) AS (column_name, val)")
    )
    vc = (
        long.filter(F.col("val").isNotNull())
        .groupBy("column_name", "val")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    per = vc.groupBy("column_name").agg(
        F.sum("cnt").cast("long").alias("n_filled"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
    )
    w = Window.partitionBy("column_name").orderBy(F.desc("cnt"), F.asc("val"))
    tops = (
        vc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("column_name", F.col("val").alias("top_value"), F.col("cnt").alias("top_count"))
    )
    nr = ev.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    return (
        per.join(tops, "column_name")
        .crossJoin(F.broadcast(nr))
        .select(
            "column_name",
            "n_rows",
            (F.col("n_rows") - F.col("n_filled")).cast("long").alias("n_null"),
            "n_distinct",
            "top_value",
            "top_count",
        )
        .orderBy("column_name")
    )


# ---------------------------------------------------------------------------
# 2-D skyline (Pareto frontier) via distributed prefix-min.
# ---------------------------------------------------------------------------
@register(
    "skyline_orders",
    oracle="""
    WITH pts AS (
      SELECT o_orderkey, floor(o_totalprice*100 + 0.5)::BIGINT AS cents,
             o_orderdate AS d
      FROM orders),
    mins AS (
      SELECT o_orderkey, cents, d,
             min(d) OVER (ORDER BY cents DESC, d ASC, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS pm
      FROM pts)
    SELECT o_orderkey,
           floor((cents / 100.0) * 10000 + 0.5) / 10000.0 AS price,
           d AS o_orderdate
    FROM mins WHERE pm IS NULL OR pm > d
    ORDER BY o_orderdate, o_orderkey
    """,
)
def q_skyline_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-frontier) operator: orders not dominated by any
    other order on (totalprice max, orderdate min) — "no earlier order was
    also worth more".  A classic OLAP operator the reference lacks
    entirely (SURVEY.md §2.6: no joins/aggregates at all); Spark has no
    built-in skyline, so this is the canonical 2-D reduction: sort by
    dim-1 DESC and a point is in the skyline iff the running MIN of dim-2
    over all strictly-better dim-1 points exceeds its own.

    Scale: the running min uses partitioning.global_prefix_min — a range
    exchange + per-range window + a 32-row broadcast prefix table — NEVER
    a partition-less window (the one-task sort trap).  Dominance math is
    on exact integer cents; (cents, date, orderkey) is a total order so
    the prefix min is partitioning-invariant (covered by the invariance
    suite).
    """
    from .partitioning import global_prefix_min

    orders = _t(spark, sf_dir, "orders")
    pts = orders.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("long").alias("cents"),
        F.col("o_orderdate").alias("d"),
    )
    g = global_prefix_min(
        pts,
        [F.col("cents").desc(), F.col("d").asc(), F.col("o_orderkey").asc()],
        "d",
    )
    return (
        g.filter(F.col("__prior_min").isNull() | (F.col("__prior_min") > F.col("d")))
        .select(
            "o_orderkey",
            round4(F.col("cents") / 100.0).alias("price"),
            F.col("d").alias("o_orderdate"),
        )
        .orderBy("o_orderdate", "o_orderkey")
    )
