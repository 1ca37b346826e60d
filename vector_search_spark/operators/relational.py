"""Relational operators over the TPC-H-style fixture tables.

The reference has no joins/aggregations/windows (SURVEY.md §2.6) — these are
the engine's relational spine, exercised on the driver's star schema.  Every
operator is a plain Catalyst plan; the scale notes are in each docstring.

Determinism pattern for money aggregates: ``cents(x) = floor(x*100 + 0.5)``
per row, then BIGINT sums — integer addition is order-independent, so a
1000-executor shuffle and a single-threaded oracle agree bit-for-bit
(double sums would differ in the last ulps by reduction order).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def cents(x: Column | str) -> Column:
    """Deterministic money→integer-cents conversion (see module docstring)."""
    x = F.col(x) if isinstance(x, str) else x
    return F.floor(x.cast("double") * 100.0 + F.lit(0.5)).cast("long")


def pricing_summary(lineitem: DataFrame, cutoff: str = "1998-09-01") -> DataFrame:
    """TPC-H Q1-shaped pricing summary.

    Scale: partial aggregation (map-side combine) collapses each scan
    partition to ≤ |flag×status| rows before the shuffle — the exchange is
    O(groups), not O(rows).  The date predicate pushes to the parquet scan.
    """
    li = lineitem.filter(F.col("l_shipdate").cast("date") <= F.lit(cutoff))
    disc_price = F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity")).alias("sum_qty"),
            F.sum(cents("l_extendedprice")).alias("sum_base_price_cents"),
            F.sum(cents(disc_price)).alias("sum_disc_price_cents"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def revenue_by_nation(
    lineitem: DataFrame, orders: DataFrame, customer: DataFrame, nation: DataFrame
) -> DataFrame:
    """Revenue per customer nation (TPC-H Q5 shape, no region cut).

    Scale: orders⋈lineitem is the big shuffle (co-partition on orderkey;
    with bucketed tables it's shuffle-free); customer is joined on custkey;
    nation (25 rows) broadcasts — Catalyst picks that automatically, kept
    explicit here as documentation of intent.
    """
    rev = lineitem.select(
        "l_orderkey", cents(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).alias("rev_cents")
    )
    return (
        rev.join(orders.select("o_orderkey", "o_custkey"), rev.l_orderkey == F.col("o_orderkey"))
        .join(customer.select("c_custkey", "c_nationkey"), F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(nation.select("n_nationkey", "n_name")), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("rev_cents").alias("revenue_cents"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("n_name")
    )


def top_orders_per_customer(orders: DataFrame, k: int = 3) -> DataFrame:
    """Per-customer top-k orders by totalprice (window row_number).

    Scale: Spark 4 plans rank-limit as WindowGroupLimit on both sides of
    the exchange — map-side top-k per customer before the shuffle.
    """
    w = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        orders.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rank")
    )


def order_priority_counts(
    orders: DataFrame, from_date: str = "1996-01-01", to_date: str = "1996-12-31"
) -> DataFrame:
    """Order counts per priority in a date range (TPC-H Q4 shape);
    predicate pushes to the scan, aggregation is partial-combined."""
    return (
        orders.filter(
            (F.col("o_orderdate").cast("date") >= F.lit(from_date))
            & (F.col("o_orderdate").cast("date") <= F.lit(to_date))
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy("o_orderpriority")
    )


def sales_rollup(lineitem: DataFrame) -> DataFrame:
    """ROLLUP (returnflag, linestatus): subtotals + grand total in one pass.

    Grouping NULLs are replaced with an explicit 'ALL' sentinel — clearer
    output, and NULL-free rows survive naive row-sorting comparators.
    """
    return (
        lineitem.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum("l_quantity").alias("sum_qty"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n_items",
            "sum_qty",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def sales_cube(lineitem: DataFrame) -> DataFrame:
    """CUBE (returnflag, linestatus): all 2² grouping combinations in one
    pass (rollup's superset — §2.6 grouping-surface coverage).  Same
    partial-agg economics as rollup: the expand operator emits 4 grouping
    copies map-side, each combined before the single exchange.  NULL
    grouping keys → 'ALL' sentinel, as in sales_rollup."""
    return (
        lineitem.cube("l_returnflag", "l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            F.sum(cents("l_extendedprice")).alias("base_price_cents"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("l_returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("l_linestatus"),
            "n_items",
            "base_price_cents",
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def user_running_value(events: DataFrame, mov_n: int = 3) -> DataFrame:
    """Running + moving window frames per user: cumulative value and a
    ``mov_n``-event trailing moving sum, ordered by time.

    ROWS-frame windows are single-pass per partition after one exchange on
    user_id; state is O(frame) — the canonical sessionless feature-
    engineering shape (lag features for training data).
    """
    w = Window.partitionBy("user_id").orderBy("ts_ns", "event_id")
    cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    mov = w.rowsBetween(-(mov_n - 1), Window.currentRow)
    vc = cents("value")
    return events.select(
        "user_id",
        "event_id",
        F.expr("ts_ns DIV 1000").alias("ts_us"),
        vc.alias("value_cents"),
        F.sum(vc).over(cum).alias("cum_value_cents"),
        F.sum(vc).over(mov).alias("mov_value_cents"),
    )


def daily_purchase_cents(events: DataFrame) -> DataFrame:
    """Daily purchase revenue: one row per UTC day with ``cents`` = the
    BIGINT sum of per-purchase cents.  Lazy — each caller decides whether
    to checkpoint it.  DuckDB twin: ``WITH {DAILY_PURCHASE_CENTS_SQL}``."""
    return (
        events.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )


DAILY_PURCHASE_CENTS_SQL = """daily AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(floor(value*100 + 0.5)::BIGINT)::BIGINT AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1)"""


def customers_without_recent_orders(
    customer: DataFrame, orders: DataFrame, since: str = "2001-01-01"
) -> DataFrame:
    """Left-anti join (the reference's incremental-download semantics,
    SURVEY.md S2: 'skip what already exists' = anti join on the key):
    customers with no order on/after ``since``."""
    recent = orders.filter(F.col("o_orderdate").cast("date") >= F.lit(since)).select(
        "o_custkey"
    )
    return (
        customer.join(recent, customer.c_custkey == F.col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    )


def market_segment_stats(customer: DataFrame, nation: DataFrame) -> DataFrame:
    """Per-segment stats incl. a distinct-count and a broadcast dim join."""
    return (
        customer.join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum(cents("c_acctbal")).alias("acctbal_cents"),
            F.countDistinct("n_name").alias("n_nations"),
        )
        .orderBy("c_mktsegment")
    )


def events_tumbling_counts(events: DataFrame, window_sec: int = 3600) -> DataFrame:
    """Tumbling-window event aggregate (batch form of the streaming op).

    Window start is emitted as epoch seconds (BIGINT): timestamps round-trip
    differently across engines/timezones, epochs don't.  Bucketing uses the
    exact long-nanos column with integer division (no double in the path).
    """
    bucket = F.expr(
        f"((ts_ns DIV 1000000000) DIV {window_sec}) * {window_sec}"
    ).alias("window_start")
    return (
        events.groupBy(bucket, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_cents"),
        )
        .orderBy("window_start", "event_type")
    )


def events_sliding_counts(
    events: DataFrame, window_sec: int = 7200, slide_sec: int = 3600
) -> DataFrame:
    """Sliding (hopping) window event aggregate — batch twin of
    ``streaming.events.streaming_sliding_counts``; each event lands in
    window_sec/slide_sec overlapping windows (2 here), exactly Spark's
    ``window(ts, '2 hours', '1 hour')`` semantics.

    Scale: the explode multiplies rows by the overlap factor BEFORE the
    partial aggregate, but the map-side combine collapses them to
    O(windows x types) immediately — the shuffle stays tiny.  Window
    starts are epoch-second BIGINTs computed from the exact nanos column
    with integer division (no float in the bucketing path).
    """
    overlap = window_sec // slide_sec
    base = F.expr(f"((ts_ns DIV 1000000000) DIV {slide_sec}) * {slide_sec}")
    starts = F.array(*[base - F.lit(i * slide_sec) for i in range(overlap)])
    return (
        events.select(
            F.explode(starts).alias("window_start"), "event_type", "value"
        )
        .groupBy("window_start", "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_cents"),
        )
        .orderBy("window_start", "event_type")
    )


def latest_event_per_user_type(events: DataFrame) -> DataFrame:
    """Streaming-style dedup: keep the latest event per (user, type).

    row_number over a full ordering (ts desc, event_id desc) — deterministic
    unlike dropDuplicates, and WindowGroupLimit bounds the shuffle.
    """
    w = Window.partitionBy("user_id", "event_type").orderBy(
        F.desc("ts_ns"), F.desc("event_id")
    )
    return (
        events.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_type", "event_id", cents("value").alias("value_cents"))
    )


def shipping_priority(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    segment: str = "BUILDING",
    cutoff: str = "1998-01-01",
    top_n: int = 10,
) -> DataFrame:
    """TPC-H Q3 shape: top unshipped-revenue orders for one market segment.

    Scale: the segment predicate prunes customer before the join chain;
    orders⋈lineitem is the only big shuffle; the final ordered limit is a
    TakeOrderedAndProject over the aggregated (small) result.
    """
    c = customer.filter(F.col("c_mktsegment") == segment).select("c_custkey")
    o = orders.filter(F.col("o_orderdate").cast("date") < F.lit(cutoff)).select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    li = lineitem.filter(F.col("l_shipdate").cast("date") > F.lit(cutoff)).select(
        "l_orderkey",
        cents(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).alias("rev_cents"),
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", F.col("o_orderdate").cast("date").alias("orderdate"), "o_orderpriority")
        .agg(F.sum("rev_cents").alias("revenue_cents"))
        .orderBy(F.desc("revenue_cents"), F.asc("l_orderkey"))
        .limit(top_n)
        .select("l_orderkey", "revenue_cents", "orderdate", "o_orderpriority")
    )


def local_supplier_volume(
    customer: DataFrame,
    orders: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "ASIA",
) -> DataFrame:
    """TPC-H Q5 shape: revenue per nation where customer and supplier share
    the nation, restricted to one region.

    Scale: region (5 rows) and nation (25) broadcast and prune BEFORE the
    fact joins (Catalyst pushes the region filter through to the nation
    build side); orders⋈lineitem is the one big shuffle; supplier (small)
    broadcasts.  The c_nationkey = s_nationkey equality rides the supplier
    join condition — no extra exchange.
    """
    n = nation.join(
        F.broadcast(region.filter(F.col("r_name") == region_name)),
        nation.n_regionkey == F.col("r_regionkey"),
    ).select("n_nationkey", "n_name")
    li = lineitem.select(
        "l_orderkey",
        "l_suppkey",
        cents(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).alias("rev_cents"),
    )
    return (
        li.join(orders.select("o_orderkey", "o_custkey"), li.l_orderkey == F.col("o_orderkey"))
        .join(
            customer.select("c_custkey", "c_nationkey"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .join(
            F.broadcast(supplier.select("s_suppkey", "s_nationkey")),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(F.sum("rev_cents").alias("revenue_cents"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("n_name")
    )


def part_type_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q14 flavor: revenue per part type with each type's share of
    total revenue.

    Scale: lineitem⋈part shuffles on partkey (or broadcasts part while it
    fits); the share is a window over the |types|-row aggregate — trivially
    small after the partial-combined groupBy.
    """
    li = lineitem.select(
        "l_partkey",
        cents(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).alias("rev_cents"),
    )
    agg = (
        li.join(part.select("p_partkey", "p_type"), li.l_partkey == F.col("p_partkey"))
        .groupBy("p_type")
        .agg(F.sum("rev_cents").alias("revenue_cents"), F.count(F.lit(1)).alias("n_items"))
    )
    total = Window.partitionBy()
    return (
        agg.withColumn(
            "revenue_share",
            (F.col("revenue_cents").cast("double") / F.sum("revenue_cents").over(total)),
        )
        .select("p_type", "revenue_cents", "n_items", "revenue_share")
        .orderBy("p_type")
    )


def brand_supplier_stats(lineitem: DataFrame, part: DataFrame, supplier: DataFrame) -> DataFrame:
    """TPC-H Q16 flavor: distinct suppliers + parts per brand (lineitem as
    the part↔supplier bridge — the fixture schema has no partsupp table).

    Scale: two countDistincts expand to one extra exchange each; the narrow
    (brand, suppkey/partkey) projections keep them cheap.
    """
    return (
        lineitem.select("l_partkey", "l_suppkey")
        .join(part.select("p_partkey", "p_brand"), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            F.broadcast(supplier.select("s_suppkey")),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.countDistinct("s_suppkey").alias("n_suppliers"),
            F.countDistinct("p_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


def user_sessions(events: DataFrame, gap_minutes: int = 10) -> DataFrame:
    """Sessionize events per user with Spark's native ``session_window``
    (merge events whose gap < ``gap_minutes``; a gap == the threshold starts
    a NEW session — window end is exclusive).

    Works identically in batch and Structured Streaming (with a watermark).
    Output: (user_id, session_start_us, n_events, value_cents) where
    session_start_us is the first event's epoch micros — timestamps are
    emitted as integers for engine-portable comparison.
    """
    gap = f"{gap_minutes} minutes"
    return (
        events.groupBy(
            F.col("user_id"), F.session_window(F.col("ts"), gap).alias("w")
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents("value")).alias("value_cents"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("w.start")).alias("session_start_us"),
            "n_events",
            "value_cents",
        )
    )


# Gaps-and-islands sessions per user_id.  The engine has two gap rules and
# keeps both; each is one Spark function and one DuckDB twin.
SESSION_GAP_US = 600_000_000  # 10 minutes


def sessions_gap_at_least(events: DataFrame, order: Sequence[str]) -> DataFrame:
    """Add ``new_s`` and ``sid`` to ``events`` (``user_id``, ``us`` in
    epoch micros, the ``order`` columns).  Rule: in ``order`` per user, a
    gap to the previous event of AT LEAST 10 minutes starts a new session
    (``new_s`` = 1; a user's first event has ``new_s`` = 0), and ``sid`` is
    the running sum of ``new_s``, so sessions number from 0.  The rule of
    ``user_sessions``' ``session_window`` (window end exclusive).  DuckDB
    twin: `sessions_gap_at_least_sql`."""
    wo = Window.partitionBy("user_id").orderBy(*order)
    new_s = F.when(
        (F.col("us") - F.lag("us").over(wo)) >= SESSION_GAP_US, F.lit(1)
    ).otherwise(F.lit(0))
    return events.withColumn("new_s", new_s).withColumn(
        "sid", F.sum("new_s").over(wo.rowsBetween(Window.unboundedPreceding, 0))
    )


def sessions_gap_at_least_sql(src: str, order: Sequence[str]) -> str:
    """SELECT over the relation ``src`` with `sessions_gap_at_least`'s
    columns and rows."""
    o = ", ".join(order)
    return f"""SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY {o}
                                 ROWS UNBOUNDED PRECEDING) AS sid
      FROM (
        SELECT *, CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY {o})
                            >= {SESSION_GAP_US} THEN 1 ELSE 0 END AS new_s
        FROM {src}) m"""


def sessions_gap_over(events: DataFrame, order: Sequence[str]) -> DataFrame:
    """Add ``brk`` and ``sess`` to ``events`` (``user_id``, ``ts_us`` in
    epoch micros, the ``order`` columns).  Rule: in ``order`` per user, a
    user's first event and any event MORE than 10 minutes after the
    previous one start a session (``brk`` = 1), and ``sess`` is the running
    sum of ``brk``, so sessions number from 1 and an exactly-10-minute gap
    stays in the session.  DuckDB twin: `sessions_gap_over_sql`."""
    w = Window.partitionBy("user_id").orderBy(*order)
    brk = F.when(
        F.lag("ts_us").over(w).isNull()
        | ((F.col("ts_us") - F.lag("ts_us").over(w)) > SESSION_GAP_US),
        F.lit(1),
    ).otherwise(F.lit(0))
    return events.withColumn("brk", brk).withColumn(
        "sess", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )


def sessions_gap_over_sql(src: str, order: Sequence[str]) -> str:
    """SELECT over the relation ``src`` with `sessions_gap_over`'s columns
    and rows."""
    o = ", ".join(order)
    return f"""SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY {o}
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS sess
      FROM (
        SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                            OR ts_us - lag(ts_us) OVER w > {SESSION_GAP_US}
                       THEN 1 ELSE 0 END AS brk
        FROM {src} WINDOW w AS (PARTITION BY user_id ORDER BY {o})) l"""


def truncate_at_first_purchase(sessions: DataFrame) -> DataFrame:
    """Cut each session of ``sessions`` (``user_id``, ``sess``, ordered by
    ``ts_us``, ``event_id``; the output of `sessions_gap_over`) after its
    first purchase.  Adds ``cp``, the purchases strictly before the row in
    its session (0 on every kept row), and ``rn``, the row's 1-based place
    in its session.  DuckDB twin: `truncate_at_first_purchase_sql`."""
    ws = Window.partitionBy("user_id", "sess").orderBy("ts_us", "event_id")
    return (
        sessions.withColumn(
            "cp",
            F.coalesce(
                F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                ).over(ws.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            ),
        )
        .withColumn("rn", F.row_number().over(ws))
        .filter(F.col("cp") == 0)
    )


def truncate_at_first_purchase_sql(src: str) -> str:
    """SELECT over the relation ``src`` with `truncate_at_first_purchase`'s
    rows and its columns ``user_id, sess, ts_us, event_id, event_type, cp,
    rn``."""
    return f"""SELECT * FROM (
        SELECT user_id, sess, ts_us, event_id, event_type,
               COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id, sess ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cp,
               row_number() OVER (PARTITION BY user_id, sess
                                  ORDER BY ts_us, event_id) AS rn
        FROM {src})
      WHERE cp = 0"""


def purchase_and_click_days(events: DataFrame) -> DataFrame:
    """Set op: (user, day) pairs with BOTH a purchase and a click that day
    — INTERSECT over a composite key."""
    day = F.to_date(F.col("ts")).alias("day")
    purchases = (
        events.filter(F.col("event_type") == "purchase").select("user_id", day).distinct()
    )
    clicks = events.filter(F.col("event_type") == "click").select("user_id", day).distinct()
    return purchases.intersect(clicks).orderBy("user_id", "day")


def purchase_days_without_errors(events: DataFrame) -> DataFrame:
    """Set op: (user, day) pairs with a purchase EXCEPT pairs with an error
    event the same day — EXCEPT over a composite key."""
    day = F.to_date(F.col("ts")).alias("day")
    purchases = (
        events.filter(F.col("event_type") == "purchase").select("user_id", day).distinct()
    )
    errors = events.filter(F.col("event_type") == "error").select("user_id", day).distinct()
    return purchases.exceptAll(errors).orderBy("user_id", "day")


def nation_pair_volume(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_a: str = "NATION_1",
    nation_b: str = "NATION_2",
    from_date: str = "1995-01-01",
    to_date: str = "1996-12-31",
) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume per (supplier nation, customer
    nation, ship year) for one nation pair, both directions.

    Scale: the two nation lookups broadcast and prune supplier/customer to
    the pair BEFORE the fact joins, so the big orders⋈lineitem shuffle only
    carries pair-relevant rows; the shipdate range pushes down to the
    parquet scan.  The pair disjunction is applied after the per-side
    nation tags are attached — one filter, no join-condition OR (which
    would block hash-join planning).
    """
    n2 = F.broadcast(
        nation.filter(F.col("n_name").isin(nation_a, nation_b)).select(
            "n_nationkey", "n_name"
        )
    )
    supp = F.broadcast(
        supplier.join(n2, supplier.s_nationkey == n2.n_nationkey).select(
            "s_suppkey", F.col("n_name").alias("supp_nation")
        )
    )
    cust = customer.join(n2, customer.c_nationkey == n2.n_nationkey).select(
        "c_custkey", F.col("n_name").alias("cust_nation")
    )
    li = lineitem.filter(
        (F.col("l_shipdate").cast("date") >= F.lit(from_date))
        & (F.col("l_shipdate").cast("date") <= F.lit(to_date))
    ).select(
        "l_orderkey",
        "l_suppkey",
        F.year("l_shipdate").alias("ship_year"),
        cents(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).alias("rev_cents"),
    )
    return (
        li.join(supp, F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders.select("o_orderkey", "o_custkey"), F.col("l_orderkey") == F.col("o_orderkey"))
        .join(cust, F.col("o_custkey") == F.col("c_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy("supp_nation", "cust_nation", "ship_year")
        .agg(F.sum("rev_cents").alias("revenue_cents"), F.count(F.lit(1)).alias("n_items"))
        .orderBy("supp_nation", "cust_nation", "ship_year")
    )


def customer_order_distribution(customer: DataFrame, orders: DataFrame) -> DataFrame:
    """TPC-H Q13 shape: how many customers placed exactly N orders (N >= 0).

    Scale: the left join and the per-customer count shuffle on the same key
    (custkey), so the count's partial aggregation runs on the join output
    without an extra exchange; the distribution agg's exchange is
    O(distinct counts) — a few hundred rows regardless of corpus size.
    The left join (not inner) is the point of Q13: zero-order customers
    must appear in the N=0 bucket.
    """
    per_cust = (
        customer.select("c_custkey")
        .join(
            orders.select("o_custkey", "o_orderkey"),
            customer.c_custkey == F.col("o_custkey"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("n_orders"))  # count() skips NULLs -> 0
    )
    return (
        per_cust.groupBy("n_orders")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy(F.desc("n_customers"), F.desc("n_orders"))
    )


def small_quantity_revenue(lineitem: DataFrame, part: DataFrame) -> DataFrame:
    """TPC-H Q17 shape: revenue from lineitems whose quantity is below 20%
    of the part's average quantity, per brand.

    Scale: the per-part average is a partial-combined agg to |part| rows,
    joined back to lineitem on partkey — co-partitioned with the fact
    scan's natural join key, and AQE broadcasts it when it fits.  The
    average is computed as exact-integer sum / count (l_quantity is
    integer-valued): one IEEE division per part, bit-identical across
    engines and partitionings — never a running-mean accumulator, whose
    result depends on reduction order.
    """
    avg_q = lineitem.groupBy("l_partkey").agg(
        (F.sum("l_quantity") / F.count(F.lit(1))).alias("avg_qty")
    )
    small = (
        lineitem.select("l_partkey", "l_quantity", "l_extendedprice")
        .join(avg_q, "l_partkey")
        .filter(F.col("l_quantity") < 0.2 * F.col("avg_qty"))
    )
    return (
        small.join(
            part.select("p_partkey", "p_brand"),
            small.l_partkey == F.col("p_partkey"),
        )
        .groupBy("p_brand")
        .agg(
            F.sum(cents("l_extendedprice")).alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


def large_volume_orders(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    min_qty: float = 300.0,
) -> DataFrame:
    """TPC-H Q18 shape: orders whose total quantity exceeds ``min_qty``,
    with their customer.

    Scale: the groupBy(orderkey) HAVING filter collapses lineitem to the
    few hot orders BEFORE any join — the order/customer joins see only the
    survivors (broadcastable by construction; AQE picks that up).  Sum of
    integer-valued quantities is exact, so the HAVING threshold cannot
    flip across engines.
    """
    big = (
        lineitem.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > min_qty)
    )
    return (
        big.join(
            orders.select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice"),
            big.l_orderkey == F.col("o_orderkey"),
        )
        .join(
            customer.select("c_custkey", "c_name"),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(
            "c_custkey",
            "c_name",
            F.col("o_orderkey").alias("orderkey"),
            F.col("o_orderdate").cast("date").alias("orderdate"),
            cents("o_totalprice").alias("total_cents"),
            "sum_qty",
        )
        .orderBy(F.desc("total_cents"), "orderkey")
    )


def disjunctive_part_revenue(
    lineitem: DataFrame,
    part: DataFrame,
    specs: list[tuple[str, int, int, float, float]] | None = None,
) -> DataFrame:
    """TPC-H Q19 shape: revenue under an OR-of-ANDs predicate over
    (brand, size range, quantity range), per brand.

    Scale: the classic Q19 trap is writing the disjunction into the join
    condition, which blocks hash-join planning (only nested-loop can
    evaluate a disjunctive equi+range mix).  Here the join stays a pure
    partkey equijoin; the disjunction is a post-join filter, and the
    implied single-side prefilters (brand IN ..., quantity/size covering
    ranges) are pushed onto each scan so the join input is already pruned.
    """
    if specs is None:
        specs = [
            ("Brand#1", 1, 15, 1.0, 20.0),
            ("Brand#2", 10, 30, 10.0, 30.0),
            ("Brand#3", 20, 50, 20.0, 40.0),
        ]
    brands = [s[0] for s in specs]
    qmin, qmax = min(s[3] for s in specs), max(s[4] for s in specs)
    smin, smax = min(s[1] for s in specs), max(s[2] for s in specs)
    li = lineitem.filter(F.col("l_quantity").between(qmin, qmax)).select(
        "l_partkey", "l_quantity", cents("l_extendedprice").alias("price_cents")
    )
    pt = part.filter(
        F.col("p_brand").isin(brands) & F.col("p_size").between(smin, smax)
    ).select("p_partkey", "p_brand", "p_size")
    disj = None
    for brand, s_lo, s_hi, q_lo, q_hi in specs:
        arm = (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(s_lo, s_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )
        disj = arm if disj is None else (disj | arm)
    return (
        li.join(pt, li.l_partkey == F.col("p_partkey"))
        .filter(disj)
        .groupBy("p_brand")
        .agg(
            F.sum("price_cents").alias("revenue_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("p_brand")
    )


def idle_rich_customers(
    customer: DataFrame,
    orders: DataFrame,
    nation: DataFrame,
    since: str = "2000-01-01",
) -> DataFrame:
    """TPC-H Q22 shape: customers with above-average (positive) balance and
    no recent orders, aggregated per nation.

    Scale: the global average is a 1-row aggregate broadcast back over the
    scan (no driver collect); the anti-join shuffles on custkey only.  The
    above-average test uses integer cross-multiplication —
    ``cents(bal) * n_total > total_cents`` — instead of comparing against
    a floating-point mean, so the threshold decision is bit-identical on
    any engine and any partitioning (a double mean differs in the last ulp
    by reduction order, and one ulp can flip a customer).
    """
    pos = customer.filter(F.col("c_acctbal") > 0)
    tot = pos.agg(
        F.sum(cents("c_acctbal")).alias("__total_cents"),
        F.count(F.lit(1)).alias("__n_pos"),
    )
    rich = (
        customer.select("c_custkey", "c_nationkey", cents("c_acctbal").alias("bal_cents"))
        .crossJoin(F.broadcast(tot))
        .filter(F.col("bal_cents") * F.col("__n_pos") > F.col("__total_cents"))
    )
    recent = orders.filter(F.col("o_orderdate").cast("date") >= F.lit(since)).select(
        "o_custkey"
    )
    idle = rich.join(recent, rich.c_custkey == F.col("o_custkey"), "left_anti")
    return (
        idle.join(
            F.broadcast(nation.select("n_nationkey", "n_name")),
            idle.c_nationkey == F.col("n_nationkey"),
        )
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            F.sum("bal_cents").alias("acctbal_cents"),
        )
        .orderBy("n_name")
    )


def forecast_revenue_change(
    lineitem: DataFrame,
    year_start: str = "1997-01-01",
    year_end: str = "1998-01-01",
    min_discount: float = 0.05,
    max_discount: float = 0.07,
    max_quantity: float = 24.0,
) -> DataFrame:
    """TPC-H Q6 shape: revenue increase if small-quantity discounts were
    dropped — sum(extendedprice·discount) over a narrow predicate.

    Scale: the whole query is one scan with every predicate pushed to
    parquet (date, discount range, quantity — all scan-level filters) and
    a single partial-combined global sum: the exchange carries exactly one
    row per scan partition.  The discount bounds compare the SAME double
    literals on both engines, so the boundary rows are decided
    identically."""
    sd = F.col("l_shipdate").cast("date")
    li = lineitem.filter(
        (sd >= F.lit(year_start))
        & (sd < F.lit(year_end))
        & (F.col("l_discount") >= min_discount)
        & (F.col("l_discount") <= max_discount)
        & (F.col("l_quantity") < max_quantity)
    )
    return li.agg(
        F.sum(cents(F.col("l_extendedprice") * F.col("l_discount"))).alias(
            "revenue_increase_cents"
        ),
        F.count(F.lit(1)).alias("n_items"),
    )


def returned_items_revenue(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    nation: DataFrame,
    from_date: str = "1996-01-01",
    to_date: str = "1996-04-01",
    k: int = 20,
) -> DataFrame:
    """TPC-H Q10 shape: top customers by revenue lost to returned items in
    one quarter.

    Scale: the returnflag + order-date predicates prune both fact inputs
    before the orderkey shuffle join; the per-customer aggregate is
    partial-combined (exchange = O(customers with returns)); nation (25
    rows) broadcasts; the final top-k is TakeOrderedAndProject on integer
    cents — no global sort, ties broken by custkey."""
    od = F.col("o_orderdate").cast("date")
    o = orders.filter((od >= F.lit(from_date)) & (od < F.lit(to_date))).select(
        "o_orderkey", "o_custkey"
    )
    li = lineitem.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey",
        cents(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).alias("rev_cents"),
    )
    per_cust = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("o_custkey")
        .agg(F.sum("rev_cents").alias("revenue_cents"))
    )
    return (
        per_cust.join(customer, per_cust.o_custkey == customer.c_custkey)
        .join(F.broadcast(nation), customer.c_nationkey == nation.n_nationkey)
        .select("c_custkey", "c_name", "n_name", "revenue_cents")
        .orderBy(F.desc("revenue_cents"), F.asc("c_custkey"))
        .limit(k)
    )


def top_supplier_revenue(
    lineitem: DataFrame,
    supplier: DataFrame,
    from_date: str = "1996-01-01",
    to_date: str = "1996-04-01",
) -> DataFrame:
    """TPC-H Q15 shape: the supplier(s) achieving the maximum revenue in a
    quarter (ties all returned, ordered by suppkey).

    Scale: per-supplier revenue is one partial-combined aggregate over the
    pruned scan; the max is a 1-row aggregate of that small result,
    re-joined by cross-broadcast — the pattern that replaces TPC-H's
    correlated view without recomputing revenue.  All comparisons are on
    exact integer cents."""
    sd = F.col("l_shipdate").cast("date")
    rev = (
        lineitem.filter((sd >= F.lit(from_date)) & (sd < F.lit(to_date)))
        .groupBy("l_suppkey")
        .agg(
            F.sum(
                cents(F.col("l_extendedprice") * (1.0 - F.col("l_discount")))
            ).alias("total_cents")
        )
    )
    best = rev.agg(F.max("total_cents").alias("__max_cents"))
    return (
        rev.crossJoin(F.broadcast(best))
        .filter(F.col("total_cents") == F.col("__max_cents"))
        .join(supplier, rev.l_suppkey == supplier.s_suppkey)
        .select("s_suppkey", "s_name", "total_cents")
        .orderBy("s_suppkey")
    )


def market_share(
    lineitem: DataFrame,
    orders: DataFrame,
    customer: DataFrame,
    supplier: DataFrame,
    part: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    target_nation: str = "NATION_3",
    region_name: str = "ASIA",
    part_type: str = "PROMO",
) -> DataFrame:
    """TPC-H Q8 shape: the target supplier-nation's share of one region's
    revenue for one part type, per order year.

    Scale: part-type and region predicates prune via broadcast dim joins
    BEFORE the orderkey shuffle, so the lineitem⋈orders exchange carries
    only region+type-relevant rows; both numerator and denominator come
    from ONE aggregate (conditional sum), not two scans.  Share division
    happens once per year-group on exact integer cents."""
    p = F.broadcast(part.filter(F.col("p_type") == part_type).select("p_partkey"))
    rnat = F.broadcast(
        nation.join(
            region.filter(F.col("r_name") == region_name),
            nation.n_regionkey == region.r_regionkey,
        ).select("n_nationkey")
    )
    cust = customer.join(rnat, customer.c_nationkey == rnat.n_nationkey).select(
        "c_custkey"
    )
    snat = F.broadcast(
        supplier.join(
            nation.filter(F.col("n_name") == target_nation).select("n_nationkey"),
            supplier.s_nationkey == F.col("n_nationkey"),
        ).select("s_suppkey")
    )
    li = (
        lineitem.join(p, lineitem.l_partkey == p.p_partkey)
        .join(snat, lineitem.l_suppkey == snat.s_suppkey, "left")
        .select(
            "l_orderkey",
            cents(F.col("l_extendedprice") * (1.0 - F.col("l_discount"))).alias(
                "rev_cents"
            ),
            snat.s_suppkey.isNotNull().alias("is_target"),
        )
    )
    o = orders.select("o_orderkey", "o_custkey", F.year("o_orderdate").alias("o_year"))
    joined = li.join(o, li.l_orderkey == o.o_orderkey).join(
        cust, o.o_custkey == cust.c_custkey
    )
    agg = joined.groupBy("o_year").agg(
        F.sum(F.when(F.col("is_target"), F.col("rev_cents")).otherwise(F.lit(0))).alias(
            "target_cents"
        ),
        F.sum("rev_cents").alias("total_cents"),
    )
    share = F.floor(
        (F.col("target_cents") / F.col("total_cents")) * 10000.0 + F.lit(0.5)
    ) / F.lit(10000.0)
    return agg.select(
        "o_year", "target_cents", "total_cents", share.alias("mkt_share")
    ).orderBy("o_year")


def product_profit(
    lineitem: DataFrame,
    orders: DataFrame,
    part: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_like: str = "widget",
    cost_factor: float = 0.6,
) -> DataFrame:
    """TPC-H Q9 shape, adapted: profit per (supplier nation, order year)
    for parts whose name contains ``name_like``.  The fixture has no
    partsupp/supplycost, so unit cost is modeled as
    ``cost_factor × p_retailprice`` — the join tree and aggregation
    (the part Q9 actually stresses) are unchanged.

    Scale: the name filter prunes part before broadcast; per-row profit is
    floored to integer cents ONCE (sum of exact longs is reduction-order-
    independent); the only big shuffle is lineitem⋈orders on orderkey,
    and the nation dim broadcasts onto the small per-group result."""
    p = F.broadcast(
        part.filter(F.col("p_name").contains(name_like)).select(
            "p_partkey", "p_retailprice"
        )
    )
    s = F.broadcast(
        supplier.join(nation, supplier.s_nationkey == nation.n_nationkey).select(
            "s_suppkey", F.col("n_name").alias("supp_nation")
        )
    )
    li = (
        lineitem.join(p, lineitem.l_partkey == p.p_partkey)
        .join(s, lineitem.l_suppkey == s.s_suppkey)
        .select(
            "l_orderkey",
            "supp_nation",
            cents(
                F.col("l_extendedprice") * (1.0 - F.col("l_discount"))
                - F.lit(cost_factor) * F.col("p_retailprice") * F.col("l_quantity")
            ).alias("profit_cents"),
        )
    )
    o = orders.select("o_orderkey", F.year("o_orderdate").alias("o_year"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("supp_nation", "o_year")
        .agg(
            F.sum("profit_cents").alias("profit_cents"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("supp_nation", "o_year")
    )


def late_shipment_priority(
    lineitem: DataFrame, orders: DataFrame, late_days: int = 60
) -> DataFrame:
    """TPC-H Q12 shape, adapted: the fixture lacks shipmode/commit/receipt
    dates, so "late" = shipped more than ``late_days`` after the order
    date, grouped by ship year; the CASE-bucketed high/low priority
    counts are Q12's aggregation verbatim.

    Scale: one orderkey shuffle join, then a partial-combined aggregate of
    two conditional counts — the exchange after the join is O(years)."""
    li = lineitem.select(
        "l_orderkey", F.col("l_shipdate").cast("date").alias("ship_d")
    )
    o = orders.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_d"),
        "o_orderpriority",
    )
    late = li.join(o, li.l_orderkey == o.o_orderkey).filter(
        F.datediff("ship_d", "order_d") > late_days
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        late.groupBy(F.year("ship_d").alias("ship_year"))
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(high, 0).otherwise(1)).alias("low_line_count"),
        )
        .orderBy("ship_year")
    )


def bottleneck_suppliers(
    lineitem: DataFrame, supplier: DataFrame, k: int = 20
) -> DataFrame:
    """TPC-H Q21 shape, adapted: suppliers who were the SOLE latest shipper
    of a multi-supplier order (every other supplier finished earlier) —
    the reference query's exists/not-exists pair re-expressed as one
    grouped pass + a window, with "late" = latest ship date (the fixture
    lacks commit/receipt dates).

    Scale: ONE orderkey exchange serves both the per-(order, supplier) max
    and the window — hash partitioning on l_orderkey satisfies the
    aggregate's ClusteredDistribution(l_orderkey, l_suppkey) because its
    keys are a subset, so Catalyst inserts no second shuffle for the
    window.  (The explicit repartition trades away map-side combine, a
    good trade here: per-(order, supplier) cardinality is near the row
    count, so partial aggregation barely shrinks the shuffle.)  No
    self-joins, no EXISTS subquery re-scans; top-k is
    TakeOrderedAndProject."""
    per_supp = (
        lineitem.select(
            "l_orderkey", "l_suppkey", F.col("l_shipdate").cast("date").alias("ship_d")
        )
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("ship_d").alias("supp_last"))
    )
    w = Window.partitionBy("l_orderkey")
    flagged = per_supp.select(
        "l_orderkey",
        "l_suppkey",
        "supp_last",
        F.max("supp_last").over(w).alias("order_last"),
        F.count(F.lit(1)).over(w).alias("n_supp"),
    ).withColumn(
        "n_at_max",
        F.sum(F.when(F.col("supp_last") == F.col("order_last"), 1).otherwise(0)).over(w),
    )
    waiting = flagged.filter(
        (F.col("n_supp") >= 2)
        & (F.col("n_at_max") == 1)
        & (F.col("supp_last") == F.col("order_last"))
    )
    return (
        waiting.groupBy("l_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))
        .join(F.broadcast(supplier.select("s_suppkey", "s_name")),
              F.col("l_suppkey") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.desc("numwait"), F.asc("s_suppkey"))
        .limit(k)
    )


# ---------------------------------------------------------------------------
# TPC-H Q2/Q11/Q20 shapes over the SYNTHESIZED partsupp (sources/partsupp.py;
# the fixture set ships no partsupp — VERDICT r2 item 5).
# ---------------------------------------------------------------------------
def min_cost_supplier(
    part: DataFrame,
    partsupp: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    region: DataFrame,
    region_name: str = "EUROPE",
    p_type: str = "LARGE",
    max_size: int = 15,
    k: int = 100,
) -> DataFrame:
    """TPC-H Q2 shape: for each qualifying part, the in-region supplier(s)
    offering the minimum supply cost (ties kept, as the classic query
    does).

    Scale: supplier⋈nation⋈region is a dim-side chain (broadcast, ~1e4
    rows at any SF); partsupp⋈part prunes on the pushed-down type/size
    predicate before any exchange; the min-cost resolution is a partial-
    agg'd groupBy(partkey) + an equi-join back on (partkey, cost) — two
    narrow shuffles on the filtered candidate set, never on raw partsupp.
    """
    eu = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), F.col("n_regionkey") == region.r_regionkey)
        .filter(F.col("r_name") == region_name)
        .select(
            "s_suppkey",
            "s_name",
            cents("s_acctbal").alias("acctbal_cents"),
            "n_name",
        )
    )
    parts = part.filter(
        (F.col("p_type") == p_type) & (F.col("p_size") <= max_size)
    ).select("p_partkey")
    cand = (
        partsupp.join(parts, partsupp.ps_partkey == parts.p_partkey)
        .join(F.broadcast(eu), partsupp.ps_suppkey == F.col("s_suppkey"))
        .select("p_partkey", "ps_supplycost_cents", "s_name", "n_name", "acctbal_cents")
    )
    mn = cand.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("ps_supplycost_cents").alias("mc")
    )
    return (
        cand.join(
            mn,
            (cand.p_partkey == mn.mk) & (cand.ps_supplycost_cents == mn.mc),
        )
        .select("p_partkey", "ps_supplycost_cents", "s_name", "n_name", "acctbal_cents")
        .orderBy(F.desc("acctbal_cents"), "n_name", "s_name", "p_partkey")
        .limit(k)
    )


def important_stock(
    partsupp: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    nation_name: str = "NATION_3",
    frac_denom: int = 500,
) -> DataFrame:
    """TPC-H Q11 shape: parts whose stock value held by one nation's
    suppliers exceeds 1/frac_denom of that nation's total stock value.

    Scale: the per-part value fold is integer cents·qty accumulated in
    DECIMAL(38,0) (exact at 1e10-row partsupp; the oracle's HUGEINT sum
    is the same 128-bit headroom); the grand total is the SAME aggregate
    reduced once more — a 1-row broadcast, not a second scan of partsupp.
    The threshold compare is integer-exact (v·denom > total), no float
    ever enters.
    """
    ns = (
        supplier.join(F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey)
        .filter(F.col("n_name") == nation_name)
        .select("s_suppkey")
    )
    st = (
        partsupp.join(F.broadcast(ns), partsupp.ps_suppkey == F.col("s_suppkey"))
        .groupBy("ps_partkey")
        .agg(
            F.sum(
                F.col("ps_supplycost_cents").cast("decimal(19,0)")
                * F.col("ps_availqty").cast("decimal(19,0)")
            ).alias("v")
        )
    )
    tot = st.agg(F.sum("v").alias("t"))
    return (
        st.crossJoin(F.broadcast(tot))
        .filter(F.col("v") * frac_denom > F.col("t"))
        .select("ps_partkey", F.col("v").cast("long").alias("value_cents"))
        .orderBy(F.desc("value_cents"), "ps_partkey")
    )


def excess_stock_suppliers(
    partsupp: DataFrame,
    part: DataFrame,
    lineitem: DataFrame,
    supplier: DataFrame,
    nation: DataFrame,
    name_prefix: str = "small",
    year_start: str = "1996-01-01",
    year_end: str = "1997-01-01",
) -> DataFrame:
    """TPC-H Q20 shape: suppliers holding "excess stock" — a partsupp row
    for a name-matched part whose availqty exceeds half the quantity that
    (part, supplier) actually shipped in the target year.

    Scale: lineitem (the 100 TB fact) is touched ONCE, with the shipdate
    range pushed to the scan, and collapsed by partial aggregation to
    O(|part×supp| in-window) before its only shuffle; partsupp joins that
    aggregate on the (partkey, suppkey) pair key; the part-name prune
    broadcasts.  The availqty comparison is integer cents (availqty·200 >
    qty_cents ⟺ availqty > 0.5·qty) — exact, and identical in the oracle.
    """
    sp = part.filter(F.col("p_name").startswith(name_prefix)).select("p_partkey")
    shipped = (
        lineitem.filter(
            (F.col("l_shipdate") >= F.to_timestamp(F.lit(year_start)))
            & (F.col("l_shipdate") < F.to_timestamp(F.lit(year_end)))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(cents("l_quantity")).alias("qty_cents"))
    )
    excess = (
        partsupp.join(F.broadcast(sp), partsupp.ps_partkey == F.col("p_partkey"))
        .join(
            shipped,
            (partsupp.ps_partkey == shipped.l_partkey)
            & (partsupp.ps_suppkey == shipped.l_suppkey),
        )
        .filter(F.col("ps_availqty") * 200 > F.col("qty_cents"))
        .select("ps_suppkey")
        .distinct()
    )
    return (
        excess.join(
            F.broadcast(
                supplier.join(
                    F.broadcast(nation), supplier.s_nationkey == nation.n_nationkey
                ).select("s_suppkey", "s_name", "n_name")
            ),
            excess.ps_suppkey == F.col("s_suppkey"),
        )
        .select("s_suppkey", "s_name", "n_name")
        .orderBy("s_suppkey")
    )
