"""Registry entries: product/behavioral analytics + vector-quality ops.

Capabilities a training-data/analytics platform runs at 100 TB:
sketches (HLL, count-min, HDR quantiles, KMV distinct overlap, Bloom
false-positive audit, differentially private counts), ordered conversion
funnels over sessions, cohort revenue (LTV) matrices, Markov-style
status-transition counts, basket affinity pairs, per-group embedding
centroids with outlier distances, and multi-vector MaxSim (ColBERT-style
late interaction) retrieval.  Every query has a bit-exact DuckDB oracle.

Determinism rules follow memory/HANDOFF invariants: integer sums (cents /
scaled register terms / 1e4-scaled scores), round4 only at the end, dot
products via the proven fold idiom (Spark ``aggregate``+``zip_with`` ≡
DuckDB ``list_dot_product``), ties broken on id columns.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import register
from .functions.scalar import _CENTS, round4, salted_hash, salted_hash_sql
from .functions.vector import dot_product
from .operators import relational as R
from .operators.relational import sessions_gap_at_least, sessions_gap_at_least_sql
from .operators.sketches import (
    _ALPHA_EXPR as _HLL_ALPHA,
    _REST_BITS as _HLL_REST,
    HLL_M as _HLL_M,
    cms_counters,
    cms_estimate,
    cms_oracle_sql,
    hdr_quantile_sketch,
    hll_distinct,
    hll_estimate,
    hll_oracle_sql,
    hll_registers,
)
from .sources.tables import load_table as _t

_HLL_MASK = (1 << _HLL_REST) - 1
_HLL_EMPTY = 1 << (_HLL_REST + 1)


# ---------------------------------------------------------------------------
# Sketch distinct: HLL distinct users per event type.
# At 100 TB the shuffle is O(groups × 512) register rows — constant-size
# regardless of row count; exact countDistinct is included for reference
# (it shuffles O(distinct) and is the thing the sketch replaces at scale).
# ---------------------------------------------------------------------------
@register(
    "hll_distinct_users",
    oracle=f"""
    WITH est AS (
      {hll_oracle_sql("SELECT event_type, user_id FROM events",
                      "event_type", "user_id")}
    ),
    ex AS (
      SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
      FROM events GROUP BY event_type)
    SELECT ex.event_type, ex.exact_distinct,
           floor(est.hll_raw*10000 + 0.5)/10000.0 AS hll_est
    FROM ex JOIN est ON ex.event_type = est.event_type
    ORDER BY ex.event_type
    """,
)
def q_hll_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct users per event type, cross-engine-exact (the
    whole sketch is md5 + integer register math — see operators/sketches)."""
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    est = hll_distinct(ev, "event_type", "user_id")
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_distinct")
    )
    return (
        exact.join(est, "event_type")
        .select("event_type", "exact_distinct", round4("hll_raw").alias("hll_est"))
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# HLL register-merge rollup: the mergeability proof behind every sketch
# claim here — the 'ALL' row is estimated from the per-type registers
# MERGED (max per bucket), never from a recount of the raw rows.
# ---------------------------------------------------------------------------
@register(
    "hll_rollup_users",
    oracle=f"""
    WITH hashed AS (
      SELECT event_type,
             {salted_hash_sql("hll:", "user_id", digits=15)} AS h
      FROM events),
    regs AS (
      SELECT event_type, h >> {_HLL_REST} AS bucket,
             max(CASE WHEN (h & {_HLL_MASK}) = 0 THEN {_HLL_REST + 1}
                      ELSE {_HLL_REST + 1} - length(bin(h & {_HLL_MASK})) END)
               AS m_reg
      FROM hashed GROUP BY event_type, bucket),
    all_regs AS (
      SELECT 'ALL' AS event_type, bucket, max(m_reg) AS m_reg
      FROM regs GROUP BY bucket),
    u AS (SELECT * FROM regs UNION ALL SELECT * FROM all_regs),
    folded AS (
      SELECT event_type, count(*) AS n_seen,
             sum((2.0 ** ({_HLL_REST + 1} - m_reg))::BIGINT)::BIGINT AS harm_scaled
      FROM u GROUP BY event_type),
    est AS (
      SELECT event_type,
             CASE WHEN ({_HLL_ALPHA} * {_HLL_EMPTY}.0
                        / (harm_scaled
                           + ({_HLL_M} - n_seen) * {_HLL_EMPTY})::DOUBLE)
                       <= {2.5 * _HLL_M}
                   AND ({_HLL_M} - n_seen) > 0
                  THEN {_HLL_M}.0 * ln({_HLL_M}.0 / ({_HLL_M} - n_seen)::DOUBLE)
                  ELSE {_HLL_ALPHA} * {_HLL_EMPTY}.0
                       / (harm_scaled
                          + ({_HLL_M} - n_seen) * {_HLL_EMPTY})::DOUBLE
             END AS hll_raw
      FROM folded),
    ex AS (
      SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_distinct
      FROM events GROUP BY event_type
      UNION ALL
      SELECT 'ALL', count(DISTINCT user_id)::BIGINT FROM events)
    SELECT ex.event_type, ex.exact_distinct,
           floor(est.hll_raw*10000 + 0.5)/10000.0 AS hll_est
    FROM ex JOIN est ON ex.event_type = est.event_type
    ORDER BY ex.event_type
    """,
)
def q_hll_rollup_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchy rollup of the HLL user sketch: per-type distinct-user
    estimates PLUS an 'ALL' row whose estimate comes from MERGING the
    per-type register tables (max per bucket) — never re-scanning rows.
    Register max-merge is exactly set union for HLL, which is what makes
    the sketch a rollup/streaming state: a day×type register table can be
    folded upward along any hierarchy (type → ALL here) for the cost of a
    {_HLL_M}-row-per-group aggregate.  The exact distinct count rides
    alongside as the quality readout (same per-type registers as
    `hll_distinct_users`; the merged estimate inherits the same error
    bound because merged registers ≡ the registers of the union stream).

    Exactness: registers are md5 + integer bit math; the merge is an
    integer max; the fold is the scaled-integer harmonic sum — the whole
    pipeline (including the 'ALL' row) hash-matches DuckDB bit for bit.

    Scale: one corpus scan to (type, bucket) registers ({_HLL_M} per
    group), a {_HLL_M}-row merge, constant-size folds.  The exact
    column is the demo-only cost (countDistinct shuffles user ids); the
    100 TB deployment ships registers alone.
    """
    ev = _t(spark, sf_dir, "events").select("event_type", "user_id")
    regs = hll_registers(ev, "event_type", "user_id").localCheckpoint(eager=True)
    merged = (
        regs.groupBy("bucket")
        .agg(F.max("m_reg").alias("m_reg"))
        .select(F.lit("ALL").alias("event_type"), "bucket", "m_reg")
    )
    est = hll_estimate(regs.unionByName(merged), "event_type")
    exact = (
        ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
        .unionByName(
            ev.agg(
                F.lit("ALL").alias("event_type"),
                F.countDistinct("user_id").alias("exact_distinct"),
            ).select("event_type", "exact_distinct")
        )
    )
    return (
        exact.join(est, "event_type")
        .select("event_type", "exact_distinct", round4("hll_raw").alias("hll_est"))
        .orderBy("event_type")
    )


@register(
    "hll_cube_users",
    oracle=f"""
    WITH hashed AS (
      SELECT CAST(ts AS DATE)::VARCHAR AS day, event_type,
             {salted_hash_sql("hll:", "user_id", digits=15)} AS h
      FROM events),
    cellregs AS MATERIALIZED (
      SELECT day, event_type, h >> {_HLL_REST} AS bucket,
             max(CASE WHEN (h & {_HLL_MASK}) = 0 THEN {_HLL_REST + 1}
                      ELSE {_HLL_REST + 1} - length(bin(h & {_HLL_MASK})) END)
               AS m_reg
      FROM hashed GROUP BY day, event_type, bucket),
    u AS (
      SELECT day, event_type, bucket, m_reg FROM cellregs
      UNION ALL
      SELECT day, 'ALL', bucket, max(m_reg) FROM cellregs GROUP BY day, bucket
      UNION ALL
      SELECT 'ALL', 'ALL', bucket, max(m_reg) FROM cellregs GROUP BY bucket),
    folded AS (
      SELECT day, event_type, count(*) AS n_seen,
             sum((2.0 ** ({_HLL_REST + 1} - m_reg))::BIGINT)::BIGINT AS harm_scaled
      FROM u GROUP BY day, event_type),
    est AS (
      SELECT day, event_type,
             CASE WHEN ({_HLL_ALPHA} * {_HLL_EMPTY}.0
                        / (harm_scaled
                           + ({_HLL_M} - n_seen) * {_HLL_EMPTY})::DOUBLE)
                       <= {2.5 * _HLL_M}
                   AND ({_HLL_M} - n_seen) > 0
                  THEN {_HLL_M}.0 * ln({_HLL_M}.0 / ({_HLL_M} - n_seen)::DOUBLE)
                  ELSE {_HLL_ALPHA} * {_HLL_EMPTY}.0
                       / (harm_scaled
                          + ({_HLL_M} - n_seen) * {_HLL_EMPTY})::DOUBLE
             END AS hll_raw
      FROM folded),
    ex AS (
      SELECT COALESCE(day, 'ALL') AS day,
             COALESCE(event_type, 'ALL') AS event_type,
             count(DISTINCT user_id)::BIGINT AS exact_distinct
      FROM (SELECT CAST(ts AS DATE)::VARCHAR AS day, event_type, user_id
            FROM events)
      GROUP BY ROLLUP(day, event_type))
    SELECT ex.day, ex.event_type, ex.exact_distinct,
           floor(est.hll_raw*10000 + 0.5)/10000.0 AS hll_est
    FROM ex JOIN est ON ex.day = est.day AND ex.event_type = est.event_type
    ORDER BY ex.day, ex.event_type
    """,
)
def q_hll_cube_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-level HLL hierarchy (`hll_rollup_users` deepened per
    VERDICT-r6 #5): day×type cells are sketched ONCE, then the day level
    and the grand total are both register MERGES of those cells — the
    datacube form of the mergeability property.  At 100 TB this is the
    whole point of sketch state: a daily pipeline appends one
    (day, type, bucket) register partition per day and every coarser
    distinct-count — day, type, month, ALL — folds from stored registers
    without ever re-touching the event log.

    The exact three-level baseline rides along from ONE pass
    (``rollup(day, event_type)`` + countDistinct — Spark's GROUPING SETS
    expansion) with NULL grouping keys coalesced to the 'ALL' sentinel
    (NULL-free output contract).

    Exactness: registers are md5 + integer bit math, merges are integer
    max, folds are the scaled-integer harmonic sum — all three levels
    hash-match DuckDB bit for bit.

    Scale: one corpus scan to (day, type, bucket) registers (≤ {_HLL_M}
    rows per cell), two constant-size merge aggregates, constant-size
    folds; the countDistinct baseline is the demo-only cost (it shuffles
    user ids; the 100 TB deployment ships registers alone).
    """
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").cast("string").alias("day"),
        "event_type",
        "user_id",
    )
    # Composite grouping keys go to hll_registers DIRECTLY (ADVICE r7:
    # the old concat_ws('|')/split round-trip silently corrupted on a
    # delimiter-bearing event_type, and concat_ws drops NULL keys
    # entirely — both fixed by composite keys).  The rollup levels still
    # inject an 'ALL' sentinel, so a GENUINE event_type literally named
    # 'ALL' would merge with the rollup level — deliberately matching
    # the oracle's COALESCE(..., 'ALL') semantics (ADVICE r8: a sentinel
    # convention shared by both engines, not a corruption fix).
    cellr = hll_registers(ev, ["day", "event_type"], "user_id").localCheckpoint(
        eager=True
    )
    dayr = (
        cellr.groupBy("day", "bucket")
        .agg(F.max("m_reg").alias("m_reg"))
        .select("day", F.lit("ALL").alias("event_type"), "bucket", "m_reg")
    )
    allr = (
        cellr.groupBy("bucket")
        .agg(F.max("m_reg").alias("m_reg"))
        .select(
            F.lit("ALL").alias("day"),
            F.lit("ALL").alias("event_type"),
            "bucket",
            "m_reg",
        )
    )
    u = cellr.unionByName(dayr).unionByName(allr)
    est = hll_estimate(u, ["day", "event_type"])
    exact = (
        ev.rollup("day", "event_type")
        .agg(F.countDistinct("user_id").alias("exact_distinct"))
        .select(
            F.coalesce("day", F.lit("ALL")).alias("day"),
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            "exact_distinct",
        )
    )
    return (
        exact.join(est, ["day", "event_type"])
        .select("day", "event_type", "exact_distinct", round4("hll_raw").alias("hll_est"))
        .orderBy("day", "event_type")
    )


# ---------------------------------------------------------------------------
# Ordered conversion funnel over 10-minute sessions:
# view → first click strictly after the first view → first purchase
# strictly after that click.  One exchange on user_id serves both the
# session assignment (lag + running sum) and the three window mins.
# ---------------------------------------------------------------------------
@register(
    "event_funnel",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type
      FROM events),
    s AS ({sessions_gap_at_least_sql("e", ["us", "event_id"])}),
    v1 AS (
      SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
                  OVER (PARTITION BY user_id, sid) AS v_us
      FROM s),
    v2 AS (
      SELECT *, min(CASE WHEN event_type = 'click' AND us > v_us THEN us END)
                  OVER (PARTITION BY user_id, sid) AS c_us
      FROM v1),
    v3 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND us > c_us THEN us END)
                  OVER (PARTITION BY user_id, sid) AS p_us
      FROM v2),
    sess AS (
      SELECT user_id, sid, max(v_us) AS v, max(c_us) AS c, max(p_us) AS p
      FROM v3 GROUP BY user_id, sid)
    SELECT count(*)::BIGINT AS n_sessions,
           count(v)::BIGINT AS n_view,
           count(c)::BIGINT AS n_view_click,
           count(p)::BIGINT AS n_full_funnel,
           floor((count(c)::DOUBLE / count(v)::DOUBLE)*10000 + 0.5)/10000.0
             AS click_through,
           floor((count(p)::DOUBLE / count(c)::DOUBLE)*10000 + 0.5)/10000.0
             AS purchase_through
    FROM sess
    """,
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order session funnel.  Gaps-and-islands sessionization
    (`operators.relational.sessions_gap_at_least`, the 10-min rule of
    ``user_sessions``) and the three stage timestamps are all windows over
    the SAME (user_id[, sid]) partitioning — Catalyst plans one
    Exchange + one sort, then chained Window operators; the final global
    fold aggregates ~sessions rows.  No joins, no second scan."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("ts_ns DIV 1000").alias("us"), "event_type"
    )
    sess = sessions_gap_at_least(ev, ["us", "event_id"])
    ws = Window.partitionBy("user_id", "sid")
    staged = (
        sess.withColumn(
            "v_us",
            F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(ws),
        )
        .withColumn(
            "c_us",
            F.min(
                F.when(
                    (F.col("event_type") == "click") & (F.col("us") > F.col("v_us")),
                    F.col("us"),
                )
            ).over(ws),
        )
        .withColumn(
            "p_us",
            F.min(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (F.col("us") > F.col("c_us")),
                    F.col("us"),
                )
            ).over(ws),
        )
    )
    per_session = staged.groupBy("user_id", "sid").agg(
        F.max("v_us").alias("v"), F.max("c_us").alias("c"), F.max("p_us").alias("p")
    )
    return per_session.agg(
        F.count(F.lit(1)).alias("n_sessions"),
        F.count("v").alias("n_view"),
        F.count("c").alias("n_view_click"),
        F.count("p").alias("n_full_funnel"),
        round4(
            F.count("c").cast("double") / F.count("v").cast("double")
        ).alias("click_through"),
        round4(
            F.count("p").cast("double") / F.count("c").cast("double")
        ).alias("purchase_through"),
    )


# ---------------------------------------------------------------------------
# Cohort LTV: customers bucketed by first-order month; revenue per
# (cohort month, order month).  The first-order derivation and the re-join
# share the o_custkey hash partitioning (one shuffle reused), then one
# partial-agg'd group on the (small) month pair.
# ---------------------------------------------------------------------------
@register(
    "cohort_ltv",
    oracle=f"""
    WITH firsts AS (
      SELECT o_custkey, strftime(min(o_orderdate), '%Y-%m') AS cohort_month
      FROM orders GROUP BY o_custkey)
    SELECT f.cohort_month, strftime(o.o_orderdate, '%Y-%m') AS order_month,
           count(DISTINCT o.o_custkey)::BIGINT AS n_customers,
           count(*)::BIGINT AS n_orders,
           sum({_CENTS.format(x='o.o_totalprice')})::BIGINT AS revenue_cents
    FROM orders o JOIN firsts f ON o.o_custkey = f.o_custkey
    GROUP BY f.cohort_month, order_month
    ORDER BY f.cohort_month, order_month
    """,
)
def q_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-revenue matrix (customer lifetime value by acquisition
    month) — the retention/LTV query every events warehouse runs."""
    orders = _t(spark, sf_dir, "orders")
    firsts = orders.groupBy("o_custkey").agg(
        F.date_format(F.min(F.col("o_orderdate").cast("timestamp")), "yyyy-MM").alias(
            "cohort_month"
        )
    )
    return (
        orders.join(firsts, "o_custkey")
        .groupBy(
            "cohort_month",
            F.date_format(F.col("o_orderdate").cast("timestamp"), "yyyy-MM").alias(
                "order_month"
            ),
        )
        .agg(
            F.countDistinct("o_custkey").alias("n_customers"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(R.cents("o_totalprice")).alias("revenue_cents"),
        )
        .orderBy("cohort_month", "order_month")
    )


# ---------------------------------------------------------------------------
# Status-transition counts (Markov chain over each customer's order
# history): lag over one exchange on o_custkey, then a tiny group.
# ---------------------------------------------------------------------------
@register(
    "order_status_transitions",
    oracle="""
    WITH seq AS (
      SELECT o_custkey, o_orderstatus AS status,
             lag(o_orderstatus) OVER (PARTITION BY o_custkey
                                      ORDER BY o_orderdate, o_orderkey)
               AS prev_status
      FROM orders)
    SELECT prev_status, status, count(*)::BIGINT AS n_transitions
    FROM seq WHERE prev_status IS NOT NULL
    GROUP BY prev_status, status
    ORDER BY prev_status, status
    """,
)
def q_order_status_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-status transition matrix per customer timeline (lag + count):
    the state-machine audit a pipeline runs to find anomalous flows."""
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return (
        _t(spark, sf_dir, "orders")
        .select(
            F.col("o_orderstatus").alias("status"),
            F.lag("o_orderstatus").over(w).alias("prev_status"),
        )
        .filter(F.col("prev_status").isNotNull())
        .groupBy("prev_status", "status")
        .agg(F.count(F.lit(1)).alias("n_transitions"))
        .orderBy("prev_status", "status")
    )


# ---------------------------------------------------------------------------
# Embedding QC: per-label centroid, then each vector's squared L2 distance
# to its own centroid; top-3 outliers per label.  Centroid components are
# aggregated as SCALED INTEGERS (1e6) so the sum is order-free; distances
# use the proven dot-product fold (dist² = x·x − 2·x·c + c·c).
# ---------------------------------------------------------------------------
@register(
    "label_centroid_outliers",
    oracle="""
    WITH expl AS (
      SELECT label, vec_id, u.val, u.pos
      FROM embeddings,
           LATERAL (SELECT unnest(embedding::DOUBLE[]) AS val,
                           generate_subscripts(embedding, 1) AS pos) u),
    comp AS (
      SELECT label, pos,
             sum(floor(val*1000000 + 0.5)::BIGINT)::BIGINT AS sq,
             count(*)::BIGINT AS n
      FROM expl GROUP BY label, pos),
    cent AS (
      SELECT label,
             list(sq::DOUBLE / (1000000.0 * n) ORDER BY pos) AS centroid
      FROM comp GROUP BY label),
    scored AS (
      SELECT e.label, e.vec_id,
             list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])
               - 2.0 * list_dot_product(e.embedding::DOUBLE[], c.centroid)
               + list_dot_product(c.centroid, c.centroid) AS d2
      FROM embeddings e JOIN cent c ON e.label = c.label),
    ranked AS (
      SELECT label, vec_id, d2,
             row_number() OVER (PARTITION BY label
                                ORDER BY d2 DESC, vec_id) AS rn
      FROM scored)
    SELECT label, vec_id, floor(d2*10000 + 0.5)/10000.0 AS dist2
    FROM ranked WHERE rn <= 3
    ORDER BY label, dist2 DESC, vec_id
    """,
)
def q_label_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid + farthest-member outliers (embedding-space QC:
    mislabeled or corrupt vectors surface as centroid outliers).

    Scale shape: posexplode → partial-agg'd integer component sums (shuffle
    is O(labels × dim), not O(rows × dim)); the centroid table (labels
    rows) broadcasts back; distance is a codegen'd fold per row; top-3 via
    WindowGroupLimit.  Vectors themselves never enter an Exchange."""
    emb = _t(spark, sf_dir, "embeddings")
    expl = emb.select(
        "label", F.posexplode(F.col("embedding").cast("array<double>"))
    ).select("label", F.col("pos"), F.col("col").alias("val"))
    comp = expl.groupBy("label", "pos").agg(
        F.sum(F.floor(F.col("val") * 1_000_000 + F.lit(0.5)).cast("long")).alias("sq"),
        F.count(F.lit(1)).alias("n"),
    )
    cent = (
        comp.select(
            "label",
            F.struct(
                "pos",
                (F.col("sq").cast("double") / (F.lit(1_000_000.0) * F.col("n"))).alias(
                    "c"
                ),
            ).alias("pc"),
        )
        .groupBy("label")
        .agg(
            F.transform(F.array_sort(F.collect_list("pc")), lambda s: s.c).alias(
                "centroid"
            )
        )
    )
    x = F.col("embedding").cast("array<double>")
    scored = emb.join(F.broadcast(cent), "label").select(
        "label",
        "vec_id",
        (
            dot_product(x, x)
            - F.lit(2.0) * dot_product(x, F.col("centroid"))
            + dot_product("centroid", "centroid")
        ).alias("d2"),
    )
    w = Window.partitionBy("label").orderBy(F.desc("d2"), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("label", "vec_id", round4("d2").alias("dist2"))
        .orderBy("label", F.desc("dist2"), "vec_id")
    )


# ---------------------------------------------------------------------------
# Multi-vector MaxSim (ColBERT-style late interaction): queries = the
# 4 vectors vec_id < 4; documents = label groups.  score(doc) =
# Σ_q max_{v∈doc} q·v, summed as 1e4-scaled integers (order-free).
# ---------------------------------------------------------------------------
@register(
    "maxsim_multivector",
    oracle="""
    WITH q AS (SELECT vec_id AS qid, embedding AS qe FROM embeddings
               WHERE vec_id < 4),
    m AS (
      SELECT e.label, q.qid,
             max(list_dot_product(e.embedding::DOUBLE[], q.qe::DOUBLE[])) AS md
      FROM embeddings e CROSS JOIN q
      GROUP BY e.label, q.qid)
    SELECT label,
           (sum(floor(md*10000 + 0.5)::BIGINT)::BIGINT)::DOUBLE / 10000.0
             AS maxsim
    FROM m GROUP BY label
    ORDER BY maxsim DESC, label
    """,
)
def q_maxsim_multivector(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-interaction retrieval: each document is a BAG of vectors (label
    groups stand in for token embeddings); score = sum over query vectors
    of the best-matching document vector.

    Scale shape: the query bag broadcasts; document vectors are scanned
    once with a codegen'd dot per (vector, query); ``max`` partial-aggs
    map-side so the shuffle carries O(docs × |Q|) rows, never vectors."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qe")
    )
    per_q = (
        emb.join(F.broadcast(q))
        .select(
            "label", "qid", dot_product("embedding", "qe").alias("s")
        )
        .groupBy("label", "qid")
        .agg(F.max("s").alias("md"))
    )
    scaled = F.floor(F.col("md") * 10_000 + F.lit(0.5)).cast("long")
    return (
        per_q.groupBy("label")
        .agg((F.sum(scaled).cast("double") / 10_000.0).alias("maxsim"))
        .orderBy(F.desc("maxsim"), "label")
    )


# ---------------------------------------------------------------------------
# Tokenizer vocab build: top-1000 whitespace tokens with cumulative corpus
# coverage.  Token counts partial-agg map-side (shuffle is O(distinct
# tokens)); the coverage cumsum runs over the already-top-1000 rows only,
# so the unpartitioned window is bounded, never corpus-sized.
# ---------------------------------------------------------------------------
@register(
    "vocab_coverage",
    oracle="""
    WITH toks AS (
      SELECT unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS token
      FROM documents),
    c AS (SELECT token, count(*)::BIGINT AS n FROM toks
          WHERE token <> '' GROUP BY token),
    tot AS (SELECT sum(n)::BIGINT AS total FROM c),
    top AS (
      SELECT token, n, row_number() OVER (ORDER BY n DESC, token) AS rank
      FROM c ORDER BY n DESC, token LIMIT 1000)
    SELECT rank::INTEGER AS rank, token, n,
           floor((sum(n) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING)::DOUBLE
                  / total::DOUBLE)*10000 + 0.5)/10000.0 AS cum_coverage
    FROM top, tot
    ORDER BY rank
    """,
)
def q_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary construction (the BPE-precursor step): most frequent
    tokens and the cumulative fraction of the corpus they cover — the curve
    a tokenizer team reads to pick vocab size."""
    docs = _t(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("n"))
    total = counts.agg(F.sum("n").alias("total"))
    top = (
        counts.orderBy(F.desc("n"), "token")
        .limit(1000)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.desc("n"), "token")).cast("int"),
        )
    )
    cum = Window.orderBy("rank").rowsBetween(Window.unboundedPreceding, 0)
    return (
        top.crossJoin(F.broadcast(total))
        .select(
            "rank",
            "token",
            "n",
            round4(
                F.sum("n").over(cum).cast("double") / F.col("total").cast("double")
            ).alias("cum_coverage"),
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Overlapping context-window chunking: 512-token windows, stride 448
# (64-token overlap) — the pre-training text → sample mapping.  Pure
# sequence/explode arithmetic; positive-operand integer division only, so
# Spark DIV (truncate) and DuckDB // (floor) agree.
# ---------------------------------------------------------------------------
@register(
    "token_window_chunks",
    oracle="""
    WITH d AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+'))
             END AS n
      FROM documents),
    b AS (
      SELECT doc_id, n,
             CASE WHEN n <= 512 THEN 0 ELSE (n - 512 + 447) // 448 END AS i_max
      FROM d WHERE n > 0)
    SELECT doc_id, u.i::INTEGER AS chunk_idx, (u.i * 448)::BIGINT AS start_tok,
           least(512, n - u.i * 448)::BIGINT AS n_chunk_tokens
    FROM b, LATERAL (SELECT unnest(generate_series(0, i_max)) AS i) u
    ORDER BY doc_id, chunk_idx
    """,
)
def q_token_window_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunk plan per document (512-token windows, 64-token
    overlap): which (doc, offset) slices become training samples.  The
    sibling of ``packing_plan`` for architectures that want overlap instead
    of packing."""
    from .functions.text import token_count_ws

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws("text").cast("long").alias("n")
    ).filter(F.col("n") > 0)
    i_max = F.when(F.col("n") <= 512, F.lit(0).cast("long")).otherwise(
        F.expr("(n - 512 + 447) DIV 448")
    )
    return (
        docs.withColumn("chunk_idx", F.explode(F.sequence(F.lit(0).cast("long"), i_max)))
        .select(
            "doc_id",
            F.col("chunk_idx").cast("int").alias("chunk_idx"),
            (F.col("chunk_idx") * 448).cast("long").alias("start_tok"),
            F.least(F.lit(512).cast("long"), F.col("n") - F.col("chunk_idx") * 448)
            .alias("n_chunk_tokens"),
        )
        .orderBy("doc_id", "chunk_idx")
    )


# ---------------------------------------------------------------------------
# Time-series gap fill (LOCF): complete daily grid per user over the span
# of their purchase days, forward-filled from the last actual day — the
# feature-table densification step before windowed model features.
# Spark side reuses the as-of backward join (one exchange on user_id,
# no range explosion); the oracle is DuckDB's native ASOF JOIN.
# ---------------------------------------------------------------------------
@register(
    "daily_value_gap_fill",
    oracle=f"""
    WITH p AS (
      SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
             sum({_CENTS.format(x='value')})::BIGINT AS vc
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, day),
    span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM p GROUP BY user_id),
    grid AS (
      SELECT span.user_id, u.day
      FROM span, LATERAL (SELECT unnest(generate_series(d0, d1)) AS day) u)
    SELECT g.user_id, g.day, p.vc AS value_cents,
           (CASE WHEN p.day = g.day THEN 1 ELSE 0 END)::INTEGER AS is_actual
    FROM grid g ASOF LEFT JOIN p
      ON g.user_id = p.user_id AND g.day >= p.day
    ORDER BY g.user_id, g.day
    """,
)
def q_daily_value_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase-value series per user on a gap-free grid with
    last-observation-carried-forward fill."""
    from .operators.asof import asof_join_backward

    ev = _t(spark, sf_dir, "events").filter(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        "user_id", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(F.sum(R.cents("value")).alias("vc"))
    grid = (
        daily.groupBy("user_id")
        .agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
        .select("user_id", F.explode(F.sequence("d0", "d1")).alias("day"))
    )
    filled = asof_join_backward(
        grid,
        daily.select("user_id", "day", "vc", F.col("day").alias("src_day")),
        key="user_id",
        ts="day",
        right_payloads=["vc", "src_day"],
    )
    return filled.select(
        "user_id",
        "day",
        F.col("asof_vc").alias("value_cents"),
        (F.col("asof_src_day") == F.col("day")).cast("int").alias("is_actual"),
    ).orderBy("user_id", "day")


# ---------------------------------------------------------------------------
# Rolling anomaly detection: per event type, daily counts vs the trailing
# 7-observation mean/std, z-scored.  All window inputs are INTEGER sums
# (n, n², count), so the mean/var/σ floats are a fixed scalar expression on
# exact ints — identical across engines; one round4 at the end.
# ---------------------------------------------------------------------------
@register(
    "daily_count_anomalies",
    oracle="""
    WITH c AS (
      SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
             count(*)::BIGINT AS n
      FROM events GROUP BY event_type, day),
    w AS (
      SELECT event_type, day, n,
             sum(n)   OVER tw AS s1,
             sum(n*n) OVER tw AS s2,
             count(*) OVER tw AS cnt
      FROM c
      WINDOW tw AS (PARTITION BY event_type ORDER BY day
                    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)),
    z AS (
      SELECT event_type, day, n,
             CASE WHEN ((s2::DOUBLE - s1::DOUBLE*s1::DOUBLE/cnt::DOUBLE)/cnt::DOUBLE) < 0.0
                  THEN 0.0
                  ELSE sqrt((s2::DOUBLE - s1::DOUBLE*s1::DOUBLE/cnt::DOUBLE)/cnt::DOUBLE)
             END AS sd,
             s1::DOUBLE/cnt::DOUBLE AS mean
      FROM w)
    SELECT event_type, day, n,
           floor((CASE WHEN sd = 0.0 THEN 0.0
                       ELSE (n::DOUBLE - mean)/sd END)*10000 + 0.5)/10000.0 AS zscore,
           (CASE WHEN sd <> 0.0
                  AND abs((n::DOUBLE - mean)/sd) >= 2.0 THEN 1 ELSE 0 END)::INTEGER
             AS is_anomaly
    FROM z ORDER BY event_type, day
    """,
)
def q_daily_count_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window z-score anomaly flags on daily event counts (the
    volume-drop/spike monitor every ingestion pipeline runs)."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy(
        "event_type", F.expr("ts_ns DIV 86400000000000").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    tw = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-6, 0)
    )
    w = c.select(
        "event_type",
        "day",
        "n",
        F.sum("n").over(tw).alias("s1"),
        F.sum(F.col("n") * F.col("n")).over(tw).alias("s2"),
        F.count(F.lit(1)).over(tw).alias("cnt"),
    )
    var = (
        F.col("s2").cast("double")
        - F.col("s1").cast("double") * F.col("s1").cast("double")
        / F.col("cnt").cast("double")
    ) / F.col("cnt").cast("double")
    sd = F.when(var < 0.0, F.lit(0.0)).otherwise(F.sqrt(var))
    mean = F.col("s1").cast("double") / F.col("cnt").cast("double")
    z = F.when(sd == 0.0, F.lit(0.0)).otherwise(
        (F.col("n").cast("double") - mean) / sd
    )
    return w.select(
        "event_type",
        "day",
        "n",
        round4(z).alias("zscore"),
        ((sd != 0.0) & (F.abs((F.col("n").cast("double") - mean) / sd) >= 2.0))
        .cast("int")
        .alias("is_anomaly"),
    ).orderBy("event_type", "day")


# ---------------------------------------------------------------------------
# Full outer join (the one join type the relational spine lacked): daily
# purchase vs click value per (user, day), -1 sentinels for absent sides
# (NULL-free numeric outputs per the driver-contract convention).
# ---------------------------------------------------------------------------
@register(
    "purchase_click_daily_outer",
    oracle=f"""
    WITH p AS (
      SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
             sum({_CENTS.format(x='value')})::BIGINT AS pc
      FROM events WHERE event_type = 'purchase' GROUP BY user_id, day),
    c AS (
      SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
             sum({_CENTS.format(x='value')})::BIGINT AS cc
      FROM events WHERE event_type = 'click' GROUP BY user_id, day)
    SELECT coalesce(p.user_id, c.user_id) AS user_id,
           coalesce(p.day, c.day) AS day,
           coalesce(p.pc, -1) AS purchase_cents,
           coalesce(c.cc, -1) AS click_cents
    FROM p FULL OUTER JOIN c ON p.user_id = c.user_id AND p.day = c.day
    ORDER BY user_id, day
    """,
)
def q_purchase_click_daily_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily purchase/click value alignment via FULL OUTER join — both
    pre-aggregated sides arrive hash-partitioned on the same key, so the
    join reuses the aggregation exchange (no extra shuffle at scale)."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("ts_ns DIV 86400000000000").alias("day"),
        "event_type",
        R.cents("value").alias("vc"),
    )
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "day")
        .agg(F.sum("vc").alias("pc"))
    )
    c = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "day")
        .agg(F.sum("vc").alias("cc"))
    )
    return (
        p.join(c, ["user_id", "day"], "full")  # join-on-list coalesces keys
        .select(
            "user_id",
            "day",
            F.coalesce("pc", F.lit(-1)).alias("purchase_cents"),
            F.coalesce("cc", F.lit(-1)).alias("click_cents"),
        )
        .orderBy("user_id", "day")
    )


# ---------------------------------------------------------------------------
# Unpivot (wide → long): per-language corpus metrics melted to
# (lang, metric, value) rows — the normalization step before generic
# metric stores.  Integer-valued metrics only; Spark's native unpivot
# (stack) ≡ SQL UNION ALL.
# ---------------------------------------------------------------------------
@register(
    "corpus_metrics_long",
    oracle="""
    WITH m AS (
      SELECT lang, count(*)::BIGINT AS n_docs,
             sum(length(text))::BIGINT AS total_chars,
             sum(CASE WHEN trim(text) = '' THEN 0
                      ELSE len(regexp_split_to_array(trim(text), '\\s+'))
                 END)::BIGINT AS total_tokens
      FROM documents GROUP BY lang)
    SELECT lang, metric, value FROM (
      SELECT lang, 'n_docs' AS metric, n_docs AS value FROM m
      UNION ALL SELECT lang, 'total_chars', total_chars FROM m
      UNION ALL SELECT lang, 'total_tokens', total_tokens FROM m)
    ORDER BY lang, metric
    """,
)
def q_corpus_metrics_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot of per-language corpus metrics (stack — the
    inverse of source_lang_pivot's pivot)."""
    from .functions.text import token_count_ws

    m = (
        _t(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.length("text")).alias("total_chars"),
            F.sum(token_count_ws("text").cast("long")).alias("total_tokens"),
        )
    )
    return m.select(
        "lang",
        F.expr(
            "stack(3, 'n_docs', n_docs, 'total_chars', total_chars,"
            " 'total_tokens', total_tokens) AS (metric, value)"
        ),
    ).orderBy("lang", "metric")


# ---------------------------------------------------------------------------
# CMS heavy hitters: sketch-estimated frequencies vs exact, top users.
# ---------------------------------------------------------------------------
@register(
    "cms_heavy_hitters",
    oracle=f"""
    WITH est AS (
      {cms_oracle_sql("SELECT user_id FROM events", "user_id")}
    ),
    ex AS (
      SELECT user_id, count(*)::BIGINT AS exact_cnt
      FROM events GROUP BY user_id)
    SELECT ex.user_id, ex.exact_cnt, est.cms_est,
           (est.cms_est - ex.exact_cnt)::BIGINT AS overcount
    FROM ex JOIN est ON ex.user_id = est.value
    ORDER BY ex.exact_cnt DESC, ex.user_id
    LIMIT 20
    """,
)
def q_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min-sketch frequency estimates for the heaviest event
    producers, with the exact count and the sketch's (always >= 0)
    overcount — the abuse/hot-key detector a pipeline runs when exact
    per-key counts would shuffle O(distinct keys).

    Scale: the sketch shuffle is depth x width = 1,024 integer rows no
    matter the input (map-side combined); point queries join the counter
    table broadcast.  Exact counts are included for the quality report —
    at 100 TB you'd keep only the sketch side.  Everything is integer
    math on md5-derived buckets: bit-exact across engines, runs, and
    partitionings.
    """
    ev = _t(spark, sf_dir, "events").select("user_id")
    counters = cms_counters(ev, "user_id")
    est = cms_estimate(counters, ev.distinct(), "user_id")
    exact = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("exact_cnt"))
    return (
        exact.join(est, "user_id")
        .select(
            "user_id",
            "exact_cnt",
            "cms_est",
            (F.col("cms_est") - F.col("exact_cnt")).cast("long").alias("overcount"),
        )
        .orderBy(F.desc("exact_cnt"), "user_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Cohort retention matrix: weekly cohorts x weeks-since-first-seen.
# ---------------------------------------------------------------------------
@register(
    "user_retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, date_trunc('week', min(ts)::DATE) AS cohort_week
      FROM events GROUP BY user_id),
    activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts::DATE) AS active_week
      FROM events),
    mat AS (
      SELECT f.cohort_week,
             (date_diff('day', f.cohort_week, a.active_week) // 7)::INT AS week_offset,
             count(DISTINCT a.user_id)::BIGINT AS n_active
      FROM activity a JOIN first_seen f USING (user_id)
      GROUP BY 1, 2),
    base AS (
      SELECT cohort_week, count(*)::BIGINT AS cohort_size
      FROM first_seen GROUP BY 1)
    SELECT m.cohort_week::DATE AS cohort_week, m.week_offset, m.n_active,
           b.cohort_size,
           floor((m.n_active * CAST(1.0 AS DOUBLE) / b.cohort_size) * 10000 + 0.5) / 10000.0
             AS retention_frac
    FROM mat m JOIN base b USING (cohort_week)
    ORDER BY cohort_week, week_offset
    """,
)
def q_user_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic weekly retention triangle: users grouped by first-seen week,
    tracked by distinct activity in each subsequent week, as a fraction of
    the cohort — the engagement report every analytics platform computes
    over raw event logs.

    Scale: one shuffle keyed by user_id produces BOTH per-user first-seen
    and the distinct (user, week) activity set (Catalyst shares the scan);
    the matrix aggregate then shuffles O(users x active-weeks) narrow rows,
    and the cohort-size join is on the tiny per-week table (broadcast).
    Weeks are ISO date_trunc boundaries — identical in Spark and DuckDB —
    and offsets are exact integer day arithmetic divided by 7.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.col("ts").cast("date").alias("d")
    )
    first_seen = ev.groupBy("user_id").agg(
        F.date_trunc("week", F.min("d")).cast("date").alias("cohort_week")
    )
    activity = ev.select(
        "user_id", F.date_trunc("week", F.col("d")).cast("date").alias("active_week")
    ).distinct()
    mat = (
        activity.join(first_seen, "user_id")
        .select(
            "cohort_week",
            F.floor(
                F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
            ).cast("int").alias("week_offset"),
            "user_id",
        )
        .groupBy("cohort_week", "week_offset")
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    base = first_seen.groupBy("cohort_week").agg(
        F.count(F.lit(1)).alias("cohort_size")
    )
    return (
        mat.join(base, "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            "n_active",
            "cohort_size",
            round4(F.col("n_active") * 1.0 / F.col("cohort_size")).alias(
                "retention_frac"
            ),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# Equi-width histogram: the distribution profile a pipeline QC report plots.
# ---------------------------------------------------------------------------
@register(
    "event_value_histogram",
    oracle="""
    WITH rng AS (
      SELECT min(value) AS minv, max(value) AS maxv FROM events),
    b AS (
      SELECT CASE WHEN value >= (SELECT maxv FROM rng) THEN 19
                  ELSE floor((value - (SELECT minv FROM rng))
                             / (((SELECT maxv FROM rng) - (SELECT minv FROM rng)) / 20.0))::INT
             END AS bucket,
             value
      FROM events)
    SELECT bucket,
           count(*)::BIGINT AS n_events,
           floor(((SELECT minv FROM rng)
                  + bucket * (((SELECT maxv FROM rng) - (SELECT minv FROM rng)) / 20.0))
                 * 10000 + 0.5) / 10000.0 AS bucket_lo,
           floor(((SELECT minv FROM rng)
                  + (bucket + 1) * (((SELECT maxv FROM rng) - (SELECT minv FROM rng)) / 20.0))
                 * 10000 + 0.5) / 10000.0 AS bucket_hi
    FROM b GROUP BY bucket ORDER BY bucket
    """,
)
def q_event_value_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """20-bucket equi-width histogram of event values — the distribution
    profile that backs data-quality dashboards and drift monitors.

    Scale: the min/max pass partial-aggregates to one row, rides back in
    on a broadcast (1-row cross join), and the bucketing pass is one
    codegen'd expression per row feeding a partial-combined 20-group
    aggregate — two scans total, no sort, no wide shuffle.  Bucket edges
    are the same double expression on both engines (identical operand
    order), so assignment is bit-deterministic; the top edge closes the
    last bucket (max lands in bucket 19, standard histogram convention).
    """
    ev = _t(spark, sf_dir, "events").select("value")
    rng = ev.agg(F.min("value").alias("minv"), F.max("value").alias("maxv"))
    width = (F.col("maxv") - F.col("minv")) / 20.0
    bucket = (
        F.when(F.col("value") >= F.col("maxv"), F.lit(19))
        .otherwise(F.floor((F.col("value") - F.col("minv")) / width).cast("int"))
        .alias("bucket")
    )
    return (
        ev.crossJoin(rng)
        .select(bucket, "minv", "maxv")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.first("minv").alias("minv"),
            F.first("maxv").alias("maxv"),
        )
        .select(
            "bucket",
            "n_events",
            round4(
                F.col("minv") + F.col("bucket") * ((F.col("maxv") - F.col("minv")) / 20.0)
            ).alias("bucket_lo"),
            round4(
                F.col("minv")
                + (F.col("bucket") + 1) * ((F.col("maxv") - F.col("minv")) / 20.0)
            ).alias("bucket_hi"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Exact distributed correlation: integer moment sums, one float at the end.
# ---------------------------------------------------------------------------
@register(
    "value_hour_correlation",
    oracle=f"""
    WITH m AS (
      -- moment sums stay in DuckDB's native HUGEINT (sum(BIGINT) widens
      -- automatically; per-element products forced ::HUGEINT) — the exact
      -- 128-bit twin of the Spark side's DECIMAL(38,0) accumulators, so
      -- neither engine overflows at 1e10-row scale.  n stays ::BIGINT
      -- because it is emitted (pandas float64 trap).
      SELECT event_type,
             count(*)::BIGINT AS n,
             sum({_CENTS.format(x='value')}) AS sx,
             sum(hour(ts)::BIGINT) AS sy,
             sum(({_CENTS.format(x='value')})::HUGEINT * ({_CENTS.format(x='value')})) AS sxx,
             sum((hour(ts)::BIGINT)::HUGEINT * hour(ts)::BIGINT) AS syy,
             sum(({_CENTS.format(x='value')})::HUGEINT * hour(ts)::BIGINT) AS sxy
      FROM events GROUP BY event_type)
    SELECT event_type, n,
           CASE WHEN (n*sxx - sx*sx) = 0 OR (n*syy - sy*sy) = 0 THEN 0.0
                ELSE floor(((n*sxy - sx*sy)
                            / (sqrt((n*sxx - sx*sx)) * sqrt((n*syy - sy*sy))))
                           * 10000 + 0.5) / 10000.0
           END AS pearson_r
    FROM m ORDER BY event_type
    """,
)
def q_value_hour_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation between event value and hour-of-day per event
    type — the seasonality screen, computed the way a 1000-executor
    cluster must: all five moment sums are exact BIGINTs (value in integer
    cents, hour as an integer), combined map-side in one partial-agg pass,
    with the only float arithmetic being the final per-group expression.
    Spark's built-in `corr` accumulates doubles and is reduction-order-
    dependent; this form is bit-stable under any partitioning (covered by
    the partitioning-invariance suite's pattern).

    Accumulators are DECIMAL(38,0) (`functions.moments`): BIGINT Σx² with
    cents-scale values overflows near 1e9-1e10 rows, well inside the
    100 TB envelope; decimal sums are exact to ~1e38, and the oracle's
    HUGEINT twin gives DuckDB identical headroom.  Zero-variance groups
    emit 0.0 (sentinel, NULL-free contract).
    """
    from .functions.moments import moment_sums, pearson_from_moments

    ev = _t(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("value").cast("double") * 100.0 + F.lit(0.5)).cast("long").alias("x"),
        F.hour("ts").cast("long").alias("y"),
    )
    m = moment_sums(ev, "event_type", "x", "y")
    return pearson_from_moments(m, round4).orderBy("event_type")


# ---------------------------------------------------------------------------
# HDR quantile sketch vs exact order statistics.
# ---------------------------------------------------------------------------
@register(
    "value_quantile_sketch",
    oracle="""
    WITH c AS (
      SELECT event_type, floor(value*100 + 0.5)::BIGINT AS c FROM events),
    b AS (
      SELECT event_type, c,
             greatest(length(bin(c)) - 5, 0) AS s
      FROM c),
    lbt AS (SELECT event_type, ((c >> s) << s)::BIGINT AS lb FROM b),
    sk AS (SELECT event_type, lb, count(*)::BIGINT AS cnt
           FROM lbt GROUP BY 1, 2),
    n AS (SELECT event_type, sum(cnt)::BIGINT AS n FROM sk GROUP BY 1),
    cum AS (
      SELECT sk.event_type, sk.lb, n.n,
             sum(sk.cnt) OVER (PARTITION BY sk.event_type ORDER BY sk.lb)::BIGINT
               AS cum
      FROM sk JOIN n USING (event_type)),
    ps AS (SELECT * FROM (VALUES (50), (95), (99)) AS t(p)),
    est AS (
      SELECT event_type, p, min(lb)::BIGINT AS est_cents
      FROM cum CROSS JOIN ps
      WHERE cum >= (n * p + 99) // 100
      GROUP BY 1, 2),
    ranked AS (
      SELECT event_type, c,
             row_number() OVER (PARTITION BY event_type ORDER BY c) AS rn
      FROM c),
    ex AS (
      SELECT r.event_type, p.p, min(r.c)::BIGINT AS exact_cents
      FROM ranked r JOIN n USING (event_type) CROSS JOIN ps p
      WHERE r.rn = (n.n * p.p + 99) // 100
      GROUP BY 1, 2)
    SELECT e.event_type, 'p' || e.p::VARCHAR AS quantile, n.n,
           floor((x.exact_cents / 100.0) * 10000 + 0.5) / 10000.0 AS exact_value,
           floor((e.est_cents / 100.0) * 10000 + 0.5) / 10000.0 AS sketch_value
    FROM est e
    JOIN ex x ON e.event_type = x.event_type AND e.p = x.p
    JOIN n ON e.event_type = n.event_type
    ORDER BY e.event_type, quantile
    """,
)
def q_value_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """p50/p95/p99 of event value per type from the HDR-style bucket
    sketch, with the exact order statistic alongside — the latency-
    percentile machinery (HdrHistogram) applied to value distributions.

    Scale: the sketch path shuffles O(groups x ~1000) integer bucket
    counters however large the input (and the counters MERGE, so it
    works as a streaming/rollup state too); the exact column exists for
    the quality report and is the one full per-group sort here — at
    100 TB you ship only the sketch.  Bucketing is integer bit math
    (exact MSB via length(bin), shift to keep 5 significant bits →
    relative error < 2^-4), so sketch AND estimate are bit-identical
    across engines and partitionings.
    """
    # the narrow (type, cents) projection feeds the sketch build, the
    # exact-rank window and the group counts — checkpoint it once or each
    # consumer replays the events scan (plan audit showed x4).  The
    # materialization is quality-report-only cost: the 100 TB deployment
    # ships just the sketch path, which is a single scan by itself.
    ev = (
        _t(spark, sf_dir, "events")
        .select(
            "event_type",
            F.floor(F.col("value").cast("double") * 100.0 + F.lit(0.5))
            .cast("long")
            .alias("c"),
        )
        .localCheckpoint(eager=True)
    )
    est = hdr_quantile_sketch(ev, "event_type", "c", ps=[50, 95, 99])
    w = Window.partitionBy("event_type").orderBy("c")
    ranked = ev.withColumn("rn", F.row_number().over(w))
    n = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    exact = (
        ranked.join(n, "event_type")
        .withColumn("p", F.explode(F.array(F.lit(50), F.lit(95), F.lit(99))))
        .filter(F.col("rn") == F.expr("(n * p + 99) DIV 100"))
        .groupBy("event_type", "p")
        .agg(F.min("c").alias("exact_cents"))
    )
    return (
        est.join(exact, ["event_type", "p"])
        .select(
            "event_type",
            F.concat(F.lit("p"), F.col("p").cast("string")).alias("quantile"),
            "n",
            round4(F.col("exact_cents") / 100.0).alias("exact_value"),
            round4(F.col("est_cents") / 100.0).alias("sketch_value"),
        )
        .orderBy("event_type", "quantile")
    )


# ---------------------------------------------------------------------------
# Embedding norm QC: drift/anomaly screen over the vector index.
# ---------------------------------------------------------------------------
@register(
    "embedding_norm_qc",
    oracle="""
    WITH per_vec AS (
      SELECT label,
             list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n2
      FROM embeddings),
    q AS (
      SELECT label, n2,
             floor(n2 * 100000000 + 0.5)::BIGINT AS n2_scaled
      FROM per_vec)
    SELECT label,
           count(*)::BIGINT AS n_vectors,
           floor(min(n2) * 10000 + 0.5) / 10000.0 AS min_norm2,
           floor(max(n2) * 10000 + 0.5) / 10000.0 AS max_norm2,
           floor(((sum(n2_scaled) / 100000000.0) / count(*))
                 * 10000 + 0.5) / 10000.0 AS mean_norm2
    FROM q GROUP BY label ORDER BY label
    """,
)
def q_embedding_norm_qc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label squared-norm statistics over the embedding index — the
    vector-quality screen that catches an un-normalized encoder batch,
    a drifted model version, or zeroed vectors before they poison
    similarity search (unit-norm corpora should show ~1.0 across the
    board).

    Scale: norm² is the codegen'd zip_with/aggregate fold (fixed
    within-row order, identical to DuckDB list_dot_product — the idiom
    every KNN oracle here already proves bit-exact); min/max are
    order-free as-is, and the MEAN goes through per-row 1e8 integer
    quantization so the sum is partitioning-independent — accumulated in
    DECIMAL(38,0) (1e8-scaled norms × 1e10 rows ≈ 1e18 flirts with BIGINT;
    decimal is exact to ~1e38, HUGEINT on the DuckDB side).  One scan, one
    tiny per-label aggregate; vectors never shuffle.
    """
    emb = _t(spark, sf_dir, "embeddings")
    n2 = dot_product("embedding", "embedding")
    q = emb.select(
        "label",
        n2.alias("n2"),
        F.floor(n2 * 100000000 + F.lit(0.5)).cast("long").alias("n2_scaled"),
    )
    return (
        q.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            round4(F.min("n2")).alias("min_norm2"),
            round4(F.max("n2")).alias("max_norm2"),
            round4(
                (F.sum(F.col("n2_scaled").cast("decimal(38,0)")).cast("double")
                 / 100000000.0) / F.count(F.lit(1))
            ).alias("mean_norm2"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# SCD type-2: validity intervals from an event log.
# ---------------------------------------------------------------------------
@register(
    "user_status_scd2",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, event_id, epoch_us(ts)::BIGINT AS ts_us,
             lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events),
    changes AS (
      SELECT user_id, event_type, ts_us, event_id
      FROM ordered
      WHERE prev_type IS NULL OR event_type != prev_type),
    intervals AS (
      SELECT user_id, event_type, ts_us AS valid_from_us,
             coalesce(lead(ts_us) OVER (PARTITION BY user_id
                                        ORDER BY ts_us, event_id),
                      -1)::BIGINT AS valid_to_us
      FROM changes)
    SELECT user_id, event_type, valid_from_us, valid_to_us
    FROM intervals
    ORDER BY user_id, valid_from_us
    """,
)
def q_user_status_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension type-2 build: collapse each user's event
    stream into validity intervals of their "current status" (consecutive
    equal types merge; each row is [valid_from, valid_to) with -1 for the
    open current period) — the classic warehouse history table, and the
    right-side input an as-of join enriches against.

    Scale: both windows (the change-detection lag and the interval-closing
    lead) partition by user_id, so the whole build is ONE user-keyed
    exchange; output size is O(status changes), not O(events).  Timestamps
    are integer epoch-micros end to end; ties broken by event_id.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_type", F.expr("ts_ns DIV 1000").alias("ts_us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNull() | (F.col("event_type") != F.col("prev_type")))
    )
    w2 = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    return (
        changes.select(
            "user_id",
            "event_type",
            F.col("ts_us").alias("valid_from_us"),
            F.coalesce(F.lead("ts_us").over(w2), F.lit(-1)).cast("long").alias("valid_to_us"),
        )
        .orderBy("user_id", "valid_from_us")
    )


# ---------------------------------------------------------------------------
# A/B experiment readout: two-proportion z-test on an md5 user split.
# ---------------------------------------------------------------------------
# The z expression is built from ONE shared string so the Spark side and the
# DuckDB oracle evaluate the identical float operand order (a*(b/c) != (a*b)/c
# in the last ulp — HANDOFF invariant).  All inputs are exact BIGINT counts.
_Z_EXPR = (
    "((conv_a * CAST(1.0 AS DOUBLE) / n_a) - (conv_b * CAST(1.0 AS DOUBLE) / n_b)) / "
    "sqrt(((conv_a + conv_b) * CAST(1.0 AS DOUBLE) / (n_a + n_b)) "
    "* (1.0 - (conv_a + conv_b) * CAST(1.0 AS DOUBLE) / (n_a + n_b)) "
    "* ((CAST(1.0 AS DOUBLE) / n_a) + (CAST(1.0 AS DOUBLE) / n_b)))"
)


@register(
    "ab_test_zscore",
    oracle=f"""
    WITH per_user AS (
      SELECT user_id,
             {salted_hash_sql("ab:", "user_id")} % 2
               AS variant,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id),
    stats AS (
      SELECT sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END)::BIGINT AS n_a,
             sum(CASE WHEN variant = 0 THEN conv ELSE 0 END)::BIGINT AS conv_a,
             sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END)::BIGINT AS n_b,
             sum(CASE WHEN variant = 1 THEN conv ELSE 0 END)::BIGINT AS conv_b
      FROM per_user)
    SELECT n_a, conv_a, n_b, conv_b,
           CASE WHEN n_a = 0 OR n_b = 0 OR (conv_a + conv_b) = 0
                     OR (conv_a + conv_b) = (n_a + n_b) THEN 0.0
                ELSE floor(({_Z_EXPR}) * 10000 + 0.5) / 10000.0
           END AS z_score
    FROM stats
    """,
)
def q_ab_test_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment significance: users are hash-assigned to two
    variants (md5 split — the same deterministic bucketing production
    experiment systems use), conversion = "user ever purchased", and the
    readout is the two-proportion z-score — the stats primitive behind
    every experimentation platform's significance column.

    Scale: ONE user-keyed partial-agg'd exchange builds per-user
    conversion flags; the variant rollup is a 4-counter global fold (a
    single combine-reduced row).  Every accumulator is an exact BIGINT;
    the z formula is evaluated once, driver-free, from one shared
    expression string on both engines.  Degenerate splits (empty arm,
    all/none converted) emit the 0.0 sentinel (NULL-free contract).
    """
    ev = _t(spark, sf_dir, "events")
    per_user = (
        ev.groupBy("user_id")
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .select(
            (salted_hash("ab:", "user_id") % 2).alias("variant"),
            "conv",
        )
    )
    stats = per_user.agg(
        F.sum(F.when(F.col("variant") == 0, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(F.col("variant") == 0, F.col("conv")).otherwise(0)).cast("long").alias("conv_a"),
        F.sum(F.when(F.col("variant") == 1, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(F.col("variant") == 1, F.col("conv")).otherwise(0)).cast("long").alias("conv_b"),
    )
    degenerate = (
        (F.col("n_a") == 0)
        | (F.col("n_b") == 0)
        | ((F.col("conv_a") + F.col("conv_b")) == 0)
        | ((F.col("conv_a") + F.col("conv_b")) == (F.col("n_a") + F.col("n_b")))
    )
    return stats.select(
        "n_a",
        "conv_a",
        "n_b",
        "conv_b",
        F.when(degenerate, F.lit(0.0))
        .otherwise(round4(F.expr(_Z_EXPR)))
        .alias("z_score"),
    )


# ---------------------------------------------------------------------------
# Incremental view maintenance, oracle-verified: merged slice rollups must
# equal the from-scratch aggregate.
# ---------------------------------------------------------------------------
@register(
    "incremental_daily_rollup",
    oracle=f"""
    SELECT epoch_ns(ts) // 86400000000000 AS day, event_type,
           count(*)::BIGINT AS n_events,
           sum({_CENTS.format(x='value')})::BIGINT AS value_cents
    FROM events
    GROUP BY 1, 2 ORDER BY day, event_type
    """,
)
def q_incremental_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance, verified against the from-scratch
    answer: the fact stream is split into three ingest slices, each slice
    is rolled up independently, and the materialized view is maintained by
    MERGING rollups (`plans/incremental.merge_rollup`) — the oracle is the
    full re-aggregate, so the driver's hash check proves
    agg(full) == merge(agg(s1), agg(s2), agg(s3)) bit-for-bit.

    Scale: this is the nightly contract at 100 TB — history is never
    rescanned; each merge unions O(groups) rollup rows with the new
    slice's rollup and re-aggregates map-side.  All measures are
    merge-safe by construction (counts + integer-cent sums)."""
    from .plans.incremental import daily_type_rollup, merge_rollup

    ev = _t(spark, sf_dir, "events")
    slices = [ev.filter(F.col("event_id") % 3 == i) for i in range(3)]
    acc = daily_type_rollup(slices[0])
    for s in slices[1:]:
        acc = merge_rollup(acc, daily_type_rollup(s))
    return acc.orderBy("day", "event_type")


# ---------------------------------------------------------------------------
# Rolling 7-day distinct users — the classic hard-at-scale window distinct.
# ---------------------------------------------------------------------------
@register(
    "rolling_7d_distinct_users",
    oracle="""
    WITH g AS (SELECT DISTINCT CAST(ts AS DATE) AS day FROM events),
    p AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events),
    dc AS (SELECT CAST(ts AS DATE) AS day, count(*)::BIGINT AS n FROM events GROUP BY 1)
    SELECT g.day,
           (SELECT count(DISTINCT p.user_id) FROM p
             WHERE p.day <= g.day AND p.day >= g.day - 6)::BIGINT AS users_7d,
           (SELECT sum(dc.n) FROM dc
             WHERE dc.day <= g.day AND dc.day >= g.day - 6)::BIGINT AS events_7d
    FROM g ORDER BY g.day
    """,
)
def q_rolling_7d_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-7-day distinct active users (plus event volume) per day —
    the rolling-window COUNT DISTINCT no engine's window operator can do
    without materializing per-window sets.

    Scale contract: never a range/theta join of days × events.  Events are
    first deduped to (day, user) pairs (one partial-agg'd distinct — the
    only corpus-sized shuffle), then each pair is expanded to the ≤ 7
    window-END days it contributes to (`explode(sequence(day, day+6))` —
    a LINEAR ×7 fanout of the already-tiny daily-distinct table, the
    window/slide ratio, not the data), and a second distinct-count keyed
    by window day finishes.  Rolling event counts ride the same shape over
    the per-day count table.  The DuckDB twin states the same semantics
    as correlated range subqueries.
    """
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"), "user_id"
    )
    days = ev.select("day").distinct()
    pairs = ev.distinct()
    expanded = pairs.select(
        F.explode(F.expr("sequence(day, date_add(day, 6))")).alias("wday"), "user_id"
    )
    users = (
        expanded.groupBy("wday")
        .agg(F.countDistinct("user_id").cast("long").alias("users_7d"))
    )
    daily = ev.groupBy("day").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ev7 = (
        daily.select(
            F.explode(F.expr("sequence(day, date_add(day, 6))")).alias("wday"), "n"
        )
        .groupBy("wday")
        .agg(F.sum("n").cast("long").alias("events_7d"))
    )
    return (
        days.join(users, days.day == users.wday)
        .drop("wday")
        .join(ev7, days.day == ev7.wday)
        .select("day", "users_7d", "events_7d")
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Join-key skew audit: the distribution diagnostic behind salting decisions.
# ---------------------------------------------------------------------------
_GINI_EXPR = "(2.0 * s_rc) / (n_keys * 1.0 * total) - (n_keys + 1.0) / n_keys"


@register(
    "join_key_skew_audit",
    oracle=f"""
    WITH kc AS (SELECT user_id, count(*)::BIGINT AS cnt FROM events GROUP BY 1),
    rk AS (SELECT user_id, cnt,
                  row_number() OVER (ORDER BY cnt, user_id) AS r FROM kc),
    agg AS (SELECT count(*)::BIGINT AS n_keys, sum(cnt)::BIGINT AS total,
                   max(cnt)::BIGINT AS max_cnt, sum(r * cnt)::BIGINT AS s_rc
            FROM rk)
    SELECT a.n_keys, a.total AS total_events, a.max_cnt,
           r50.cnt AS p50_cnt, r99.cnt AS p99_cnt,
           floor((a.max_cnt * CAST(1.0 AS DOUBLE) / a.total) * 10000 + 0.5) / 10000.0 AS top1_share,
           floor(({_GINI_EXPR.replace('s_rc', 'a.s_rc').replace('n_keys', 'a.n_keys').replace('total', 'a.total')})
                 * 10000 + 0.5) / 10000.0 AS gini
    FROM agg a
    JOIN rk r50 ON r50.r = (50 * a.n_keys + 99) // 100
    JOIN rk r99 ON r99.r = (99 * a.n_keys + 99) // 100
    """,
)
def q_join_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key distribution audit for `events.user_id`: key count, hottest
    key's share, p50/p99 per-key counts, and the Gini coefficient of the
    key-frequency distribution — the report that decides whether a join
    needs salting/AQE skew handling BEFORE it runs at 100 TB.

    Gini uses the rank identity G = 2·Σ(r·c_r)/(n·Σc) − (n+1)/n over
    counts ranked ascending.  The global rank comes from
    `partitioning.global_order_stats` (range repartition → per-range
    row_number → broadcast offsets) — NO single-partition window anywhere,
    demonstrating the distributed total-order primitive as a first-class
    registry operator.  Σ(r·c) is an exact BIGINT fold; exactly two float
    expressions, both in the final 1-row projection.  The percentile rows
    are filtered from the ranked table by the same ceil(q·n/100) rank
    formula in both engines.
    """
    from .partitioning import global_order_stats

    kc = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    # the ranked key table fans out to the stats fold and both percentile
    # probes — checkpoint it so the corpus scan and the ranking pass run
    # ONCE (plan_audit measured 20 lineage replays before)
    rk = global_order_stats(kc, ["cnt", "user_id"]).select(
        "user_id", "cnt", F.col("__rank").alias("r")
    ).localCheckpoint(eager=True)
    agg = rk.agg(
        F.count(F.lit(1)).cast("long").alias("n_keys"),
        F.sum("cnt").cast("long").alias("total"),
        F.max("cnt").cast("long").alias("max_cnt"),
        F.sum(F.col("r") * F.col("cnt")).cast("long").alias("s_rc"),
    )
    p50 = (
        rk.crossJoin(F.broadcast(agg.select("n_keys")))
        .filter(F.col("r") == F.expr("(50 * n_keys + 99) DIV 100"))
        .select(F.col("cnt").alias("p50_cnt"))
    )
    p99 = (
        rk.crossJoin(F.broadcast(agg.select(F.col("n_keys").alias("__n99"))))
        .filter(F.col("r") == F.expr("(99 * __n99 + 99) DIV 100"))
        .select(F.col("cnt").alias("p99_cnt"))
    )
    gini = (F.lit(2.0) * F.col("s_rc")) / (F.col("n_keys") * 1.0 * F.col("total")) - (
        F.col("n_keys") + 1.0
    ) / F.col("n_keys")
    return (
        agg.crossJoin(F.broadcast(p50))
        .crossJoin(F.broadcast(p99))
        .select(
            "n_keys",
            F.col("total").alias("total_events"),
            "max_cnt",
            "p50_cnt",
            "p99_cnt",
            round4(F.col("max_cnt") * 1.0 / F.col("total")).alias("top1_share"),
            round4(gini).alias("gini"),
        )
    )


# ---------------------------------------------------------------------------
# Hard-negative mining for contrastive/metric learning.
# ---------------------------------------------------------------------------
@register(
    "hard_negative_mining",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, label AS q_label, embedding
               FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.query_id, e.vec_id AS neg_id,
             list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS raw
      FROM embeddings e CROSS JOIN q
      WHERE e.label != q.q_label)
    SELECT query_id, neg_id,
           floor(raw * 10000 + 0.5) / 10000.0 AS score,
           rank::INTEGER AS rank
    FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                       ORDER BY raw DESC, neg_id) AS rank
          FROM scored)
    WHERE rank <= 5
    ORDER BY query_id, rank
    """,
)
def q_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: for each anchor (vec_id < 10), the top-5 most
    similar vectors with a DIFFERENT label — the pairs a contrastive /
    metric-learning trainer wants, because random negatives are too easy
    to teach a margin.

    Scale: identical shape to batched KNN (broadcast anchors, one scan of
    the vector table, WindowGroupLimit top-5 — vectors never shuffle); the
    label-mismatch predicate is applied during the scan, before any
    ranking state.  Scores use the same ordered dot-product fold as exact
    KNN, so ranks are bit-reproducible (ties by neg_id)."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("q_label"),
        F.col("embedding").alias("query_vec"),
    )
    scored = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("label") != F.col("q_label"))
        .select(
            "query_id",
            F.col("vec_id").alias("neg_id"),
            dot_product("embedding", "query_vec").alias("raw"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("raw"), F.asc("neg_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 5)
        .select("query_id", "neg_id", round4("raw").alias("score"), "rank")
        .orderBy("query_id", "rank")
    )


# ---------------------------------------------------------------------------
# Exponentially time-decayed daily value: the feature-store freshness op.
# ---------------------------------------------------------------------------
DECAY_LAMBDA = 0.9
DECAY_HORIZON = 30  # days of lookback (weight < 5% beyond)
# Per-offset weights quantized ONCE to integer micro-units; both engines
# consume the identical literals, so the whole fold is exact BIGINT math.
DECAY_W_MICRO = [int(DECAY_LAMBDA**d * 1000000 + 0.5) for d in range(DECAY_HORIZON)]

_SQL_DECAY_VALUES = ", ".join(f"({d}, {w})" for d, w in enumerate(DECAY_W_MICRO))


@register(
    "exp_decay_daily_value",
    oracle=f"""
    WITH dc AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(floor(value * 100 + 0.5)::BIGINT)::BIGINT AS cents
      FROM events GROUP BY 1),
    decay(d, w) AS (VALUES {_SQL_DECAY_VALUES}),
    g AS (SELECT DISTINCT day FROM dc)
    SELECT g.day,
           sum(dc.cents * dec.w)::BIGINT AS decayed_micro_cents,
           floor((sum(dc.cents * dec.w) / 100000000.0) * 10000 + 0.5) / 10000.0
             AS decayed_value
    FROM g
    JOIN dc ON dc.day <= g.day AND dc.day >= g.day - {DECAY_HORIZON - 1}
    JOIN decay dec ON dec.d = g.day - dc.day
    GROUP BY g.day ORDER BY g.day
    """,
)
def q_exp_decay_daily_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed event value per day (λ=0.9/day, 30-day
    horizon) — the recency-weighted rolling feature every feature store
    serves ("decayed spend", "decayed engagement").

    Determinism contract: λ^d is quantized ONCE per offset into the
    DECAY_W_MICRO integer literal list — both engines consume the same 30
    constants, so the decayed sum is an exact BIGINT inner product
    (micro-weight × integer cents), addition-order-free; one float per
    output row.  Scale: same bounded-fanout shape as the rolling-distinct
    query — each DAILY total (already one partial-agg'd row per day)
    explodes to its ≤30 contribution days; never a theta-join of events ×
    days, and the horizon bounds state exactly like a stream's watermark
    would."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("day"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
    )
    dc = ev.groupBy("day").agg(F.sum("cents").cast("long").alias("cents"))
    wlit = F.array(*[F.lit(w) for w in DECAY_W_MICRO])
    contrib = dc.select(
        F.posexplode(F.expr(f"sequence(day, date_add(day, {DECAY_HORIZON - 1}))")).alias(
            "d", "wday"
        ),
        (F.col("cents") * F.element_at(wlit, F.col("d") + 1)).alias("wcents"),
    )
    days = dc.select(F.col("day").alias("wday"))
    return (
        contrib.join(days, "wday")
        .groupBy("wday")
        .agg(F.sum("wcents").cast("long").alias("decayed_micro_cents"))
        .select(
            F.col("wday").alias("day"),
            "decayed_micro_cents",
            round4(F.col("decayed_micro_cents") / 100000000.0).alias("decayed_value"),
        )
        .orderBy("day")
    )


# ---------------------------------------------------------------------------
# Clickstream path mining: top 3-step event paths within sessions.
# ---------------------------------------------------------------------------
@register(
    "top_event_paths",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type
      FROM events),
    s AS ({sessions_gap_at_least_sql("e", ["us", "event_id"])}),
    tri AS (
      SELECT event_type || '>' ||
             lead(event_type, 1) OVER w || '>' ||
             lead(event_type, 2) OVER w AS path
      FROM s
      WINDOW w AS (PARTITION BY user_id, sid ORDER BY us, event_id)),
    pc AS (SELECT path, count(*)::BIGINT AS n FROM tri
           WHERE path IS NOT NULL GROUP BY 1)
    SELECT path, n, row_number() OVER (ORDER BY n DESC, path)::INTEGER AS rank
    FROM pc ORDER BY n DESC, path LIMIT 10
    """,
)
def q_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 three-step event-type paths WITHIN sessions (the funnel
    family's sessions, `operators.relational.sessions_gap_at_least`) — the
    clickstream-mining query behind "what do users actually do", with
    paths never crossing a session boundary.

    Scale: sessionization + both lead() steps share ONE (user_id)-keyed
    exchange (chained window operators over the same sort); path counting
    is a partial-agg'd groupBy over tiny (path, n) state; top-10 is
    TakeOrderedAndProject.  The final rank window runs on 10 rows."""
    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("ts_ns DIV 1000").alias("us"), "event_type"
    )
    sess = sessions_gap_at_least(ev, ["us", "event_id"])
    ws = Window.partitionBy("user_id", "sid").orderBy("us", "event_id")
    tri = sess.select(
        F.concat_ws(
            ">",
            F.col("event_type"),
            F.lead("event_type", 1).over(ws),
            F.lead("event_type", 2).over(ws),
        ).alias("path"),
        F.lead("event_type", 2).over(ws).alias("__ok"),
    ).filter(F.col("__ok").isNotNull())
    pc = tri.groupBy("path").agg(F.count(F.lit(1)).cast("long").alias("n"))
    top = pc.orderBy(F.desc("n"), F.asc("path")).limit(10)
    wr = Window.orderBy(F.desc("n"), F.asc("path"))
    return top.withColumn("rank", F.row_number().over(wr).cast("int")).orderBy(
        F.desc("n"), F.asc("path")
    )


# ---------------------------------------------------------------------------
# RFM customer segmentation: quintile scores via distributed global rank.
# ---------------------------------------------------------------------------
@register(
    "customer_rfm_segments",
    oracle="""
    WITH anchor AS (SELECT max(o_orderdate) AS mx FROM orders),
    per AS (
      SELECT o_custkey AS custkey,
             date_diff('day', max(o_orderdate), (SELECT mx FROM anchor))::BIGINT
               AS days_since,
             count(*)::BIGINT AS n_orders,
             sum(floor(o_totalprice * 100 + 0.5)::BIGINT)::BIGINT AS cents
      FROM orders GROUP BY 1),
    scored AS (
      SELECT custkey, days_since, n_orders, cents,
             6 - ntile(5) OVER (ORDER BY days_since, custkey) AS r_score,
             ntile(5) OVER (ORDER BY n_orders, custkey) AS f_score,
             ntile(5) OVER (ORDER BY cents, custkey) AS m_score
      FROM per)
    SELECT custkey, days_since, n_orders, cents,
           r_score::INTEGER AS r_score, f_score::INTEGER AS f_score,
           m_score::INTEGER AS m_score,
           r_score::VARCHAR || f_score::VARCHAR || m_score::VARCHAR AS segment
    FROM scored ORDER BY custkey
    """,
)
def q_customer_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency (days since last order, vs
    the corpus-max anchor date), frequency, and integer-cents monetary
    value, each scored into quintiles (5 = best) and concatenated into
    the classic 'rfm' segment label.

    Scale: the three quintile ranks come from
    `partitioning.global_order_stats` + `ntile_from_rank` — three range
    exchanges over the ALREADY-AGGREGATED per-customer table (never the
    orders fact), no single-partition window anywhere; the anchor date is
    a 1-row broadcast.  ntile_from_rank implements SQL ntile's exact
    bucket arithmetic, so quintile boundaries are bit-identical to the
    oracle's ntile(5) under the same (metric, custkey) total order."""
    from .partitioning import global_order_stats, ntile_from_rank

    o = _t(spark, sf_dir, "orders")
    anchor = o.agg(F.max("o_orderdate").alias("mx"))
    per = (
        o.groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("n_orders"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents"),
        )
        .crossJoin(F.broadcast(anchor))
        .select(
            "custkey",
            F.datediff(F.col("mx"), F.col("last_order")).cast("long").alias("days_since"),
            "n_orders",
            "cents",
        )
    )
    total = per.agg(F.count(F.lit(1)).cast("long").alias("__n_total"))
    # Materialize the per-customer feature table once (eager localCheckpoint)
    # so the three range-repartition passes — each of which runs a SAMPLING
    # job over its input — never re-execute the orders aggregate or one
    # another's exchanges.  This is the RFM feature-table materialization a
    # production pipeline does anyway before scoring.
    per = per.crossJoin(F.broadcast(total)).localCheckpoint(eager=True)

    # The three quintile passes run INDEPENDENTLY off the checkpointed
    # feature table, each as a narrow (custkey, metric, total) range
    # exchange, and join back on custkey.  (The previous chained design
    # needed an eager checkpoint between passes — each range-repartition
    # samples its input, re-executing the prior pass's exchange — which
    # tripled the materialization cost and doubled warm time at fixture
    # scale.)
    def quintile(metric: str, out: str):
        ranked = global_order_stats(
            per.select("custkey", metric, "__n_total"), [metric, "custkey"]
        )
        return ranked.select(
            "custkey", ntile_from_rank("__rank", F.col("__n_total"), 5).alias(out)
        )

    scored = (
        per.join(quintile("days_since", "__r_tile"), "custkey")
        .join(quintile("n_orders", "f_score"), "custkey")
        .join(quintile("cents", "m_score"), "custkey")
        .withColumn("r_score", (F.lit(6) - F.col("__r_tile")).cast("int"))
    )
    return scored.select(
        "custkey",
        "days_since",
        "n_orders",
        "cents",
        "r_score",
        F.col("f_score").cast("int").alias("f_score"),
        F.col("m_score").cast("int").alias("m_score"),
        F.concat(
            F.col("r_score").cast("string"),
            F.col("f_score").cast("string"),
            F.col("m_score").cast("string"),
        ).alias("segment"),
    ).orderBy("custkey")


# ---------------------------------------------------------------------------
# Seasonal-naive forecast backtest: the baseline every forecaster must beat.
# ---------------------------------------------------------------------------
BACKTEST_DAYS = 14


@register(
    "seasonal_naive_backtest",
    oracle=f"""
    WITH dc AS (
      SELECT event_type, CAST(ts AS DATE) AS day, count(*)::BIGINT AS n
      FROM events GROUP BY 1, 2),
    anchor AS (SELECT max(day) AS mx FROM dc),
    paired AS (
      SELECT a.event_type, a.day, a.n AS actual, p.n AS predicted
      FROM dc a
      JOIN dc p ON a.event_type = p.event_type AND p.day = a.day - 7
      WHERE a.day > (SELECT mx FROM anchor) - {BACKTEST_DAYS})
    SELECT event_type,
           count(*)::BIGINT AS n_days,
           sum(abs(actual - predicted))::BIGINT AS abs_err_sum,
           floor((sum(abs(actual - predicted)) * CAST(1.0 AS DOUBLE) / count(*)) * 10000 + 0.5)
             / 10000.0 AS mae,
           floor((sum(abs(actual - predicted)) * CAST(1.0 AS DOUBLE) / sum(actual)) * 10000 + 0.5)
             / 10000.0 AS wape
    FROM paired GROUP BY event_type ORDER BY event_type
    """,
)
def q_seasonal_naive_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backtest of the seasonal-naive forecaster (predict day d with day
    d−7) over the last {BACKTEST_DAYS} days, per event type: MAE and WAPE
    — the baseline any demand/traffic forecasting model must beat, and
    the shape of every batch backtest harness (join actuals to lagged
    predictions, never a model server in the loop).

    Scale: daily counts are one partial-agg'd groupBy; the
    actual-vs-prediction pairing is a self equi-join on (type, day−7) —
    keyed, never a range scan; the anchor date is a 1-row broadcast.
    Errors are exact BIGINT sums; two float expressions per output row.
    """
    ev = _t(spark, sf_dir, "events").select(
        "event_type", F.col("ts").cast("date").alias("day")
    )
    dc = ev.groupBy("event_type", "day").agg(F.count(F.lit(1)).cast("long").alias("n"))
    anchor = dc.agg(F.max("day").alias("mx"))
    a = dc.select("event_type", "day", F.col("n").alias("actual"))
    p = dc.select(
        "event_type", F.date_add("day", 7).alias("day"), F.col("n").alias("predicted")
    )
    paired = (
        a.join(p, ["event_type", "day"])
        .crossJoin(F.broadcast(anchor))
        .filter(F.col("day") > F.date_sub(F.col("mx"), BACKTEST_DAYS))
    )
    err = F.abs(F.col("actual") - F.col("predicted"))
    return (
        paired.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            F.sum(err).cast("long").alias("abs_err_sum"),
            F.sum("actual").cast("long").alias("__act"),
        )
        .select(
            "event_type",
            "n_days",
            "abs_err_sum",
            round4(F.col("abs_err_sum") * 1.0 / F.col("n_days")).alias("mae"),
            round4(F.col("abs_err_sum") * 1.0 / F.col("__act")).alias("wape"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Deterministic synthetic data: inverse-CDF sampling from a fitted histogram.
# ---------------------------------------------------------------------------
SYNTH_BUCKETS = 20
SYNTH_N = 1000


@register(
    "synthetic_value_sampler",
    oracle=f"""
    WITH mm AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
    b AS (
      SELECT least({SYNTH_BUCKETS - 1},
                   floor((value - mm.mn) / ((mm.mx - mm.mn) / {SYNTH_BUCKETS})))::BIGINT
               AS bucket
      FROM events, mm),
    hist AS (SELECT bucket, count(*)::BIGINT AS cnt FROM b GROUP BY 1),
    cdf AS (
      SELECT bucket, cnt,
             (sum(cnt) OVER (ORDER BY bucket) - cnt)::BIGINT AS cum_lo,
             sum(cnt) OVER (ORDER BY bucket)::BIGINT AS cum_hi
      FROM hist),
    tot AS (SELECT sum(cnt)::BIGINT AS n FROM hist),
    draws AS (
      SELECT i,
             {salted_hash_sql("syn:", "i", digits=15)}
               % (SELECT n FROM tot) AS target
      FROM (SELECT unnest(range({SYNTH_N})) AS i)),
    assigned AS (
      SELECT d.i, c.bucket
      FROM draws d JOIN cdf c ON d.target >= c.cum_lo AND d.target < c.cum_hi),
    synth AS (SELECT bucket, count(*)::BIGINT AS synth_cnt FROM assigned GROUP BY 1)
    SELECT c.bucket, c.cnt AS orig_cnt,
           coalesce(s.synth_cnt, 0)::BIGINT AS synth_cnt,
           floor((c.cnt * CAST(1.0 AS DOUBLE) / (SELECT n FROM tot)) * 10000 + 0.5) / 10000.0
             AS orig_frac,
           floor((coalesce(s.synth_cnt, 0) * CAST(1.0 AS DOUBLE) / {SYNTH_N}) * 10000 + 0.5) / 10000.0
             AS synth_frac
    FROM cdf c LEFT JOIN synth s ON c.bucket = s.bucket
    ORDER BY c.bucket
    """,
)
def q_synthetic_value_sampler(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic SYNTHETIC DATA generation: fit an equi-width
    {SYNTH_BUCKETS}-bucket histogram over `events.value`, then draw
    {SYNTH_N} samples by inverse-CDF lookup of md5-derived uniforms —
    distribution-faithful synthetic rows with NO RNG, so every run,
    engine, and worker generates the identical dataset (the property that
    makes synthetic test fixtures and privacy-preserving shareable
    samples reproducible).  Emits original-vs-synthetic bucket fractions
    so the fidelity is visible in the result.

    Scale: the fit is one min/max broadcast + one bucket groupBy (the
    histogram pattern `event_value_histogram` proves); the CDF window
    runs over {SYNTH_BUCKETS} rows; generation is a pure `sequence`
    explode joined to the ≤{SYNTH_BUCKETS}-row broadcast CDF on a range
    predicate — a nested-loop over a tiny broadcast side, never a
    corpus-sized join.  All draw math is integer md5 mod total."""
    ev = _t(spark, sf_dir, "events")
    mm = ev.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    b = ev.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.lit(SYNTH_BUCKETS - 1),
            F.floor(
                (F.col("value") - F.col("mn"))
                / ((F.col("mx") - F.col("mn")) / SYNTH_BUCKETS)
            ),
        )
        .cast("long")
        .alias("bucket")
    )
    # the bucket histogram fans out to the CDF, totals and the fidelity
    # join — checkpoint the tiny cells so the corpus is scanned once
    hist = b.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).localCheckpoint(eager=True)
    wc = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, 0)
    cdf = hist.select(
        "bucket",
        "cnt",
        (F.sum("cnt").over(wc) - F.col("cnt")).cast("long").alias("cum_lo"),
        F.sum("cnt").over(wc).cast("long").alias("cum_hi"),
    )
    tot = hist.agg(F.sum("cnt").cast("long").alias("n"))
    draws = (
        spark.range(SYNTH_N)
        .select(F.col("id").alias("i"))
        .crossJoin(F.broadcast(tot))
        .select(
            "i",
            (salted_hash("syn:", "i", digits=15) % F.col("n")).alias("target"),
        )
    )
    assigned = draws.join(
        F.broadcast(cdf),
        (F.col("target") >= F.col("cum_lo")) & (F.col("target") < F.col("cum_hi")),
    )
    synth = assigned.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("synth_cnt")
    )
    return (
        cdf.join(synth, "bucket", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.col("cnt").alias("orig_cnt"),
            F.coalesce(F.col("synth_cnt"), F.lit(0)).cast("long").alias("synth_cnt"),
            round4(F.col("cnt") * 1.0 / F.col("n")).alias("orig_frac"),
            round4(
                F.coalesce(F.col("synth_cnt"), F.lit(0)) * 1.0 / SYNTH_N
            ).alias("synth_frac"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# Quantile normalization across sources (batch-effect correction).
# ---------------------------------------------------------------------------
@register(
    "quantile_normalize_scores",
    oracle="""
    WITH per AS (
      SELECT doc_id, source, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS src_rank,
             count(*) OVER (PARTITION BY source) AS n_src
      FROM documents),
    g AS (
      SELECT n_chars AS norm_value,
             row_number() OVER (ORDER BY n_chars, doc_id) AS g_rank
      FROM documents),
    tot AS (SELECT count(*)::BIGINT AS n FROM documents),
    mapped AS (
      SELECT p.doc_id, p.source, p.n_chars, p.src_rank, p.n_src,
             CASE WHEN p.n_src = 1 THEN 1
                  ELSE (2 * (p.src_rank - 1) * ((SELECT n FROM tot) - 1)
                        + (p.n_src - 1)) // (2 * (p.n_src - 1)) + 1
             END AS target_rank
      FROM per p)
    SELECT m.doc_id, m.source, m.n_chars,
           m.src_rank::BIGINT AS src_rank,
           g.norm_value::BIGINT AS norm_value
    FROM mapped m JOIN g ON m.target_rank = g.g_rank
    ORDER BY m.doc_id
    """,
)
def q_quantile_normalize_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of a per-document feature (n_chars) ACROSS
    sources — each doc's within-source quantile is mapped onto the
    corpus-wide distribution, so every source ends up with the same
    normalized-feature distribution (the batch-effect correction a
    mixture pipeline applies before comparing quality scores from
    heterogeneous feeds).

    The rank mapping is EXACT integer math: target_rank =
    round((src_rank−1)·(N−1)/(n_src−1)) + 1 computed as
    (2ab + c) DIV 2c — no float quantiles, so the normalized values are
    bit-stable under any partitioning.  Scale: within-source ranks are
    windows PARTITIONED by source (a natural, bounded partition key);
    the global rank comes from `partitioning.global_order_stats` (range
    repartition, no single-partition window); the final lookup is an
    equi-join on the target rank."""
    from .partitioning import global_order_stats

    # the within-source ranks, the global-rank pass (which consumes its
    # input twice) and the count each replay the documents scan (plan
    # audit showed x4) — materialize the narrow 3-column base once
    docs = (
        _t(spark, sf_dir, "documents")
        .select("doc_id", "source", "n_chars")
        .localCheckpoint(eager=True)
    )
    wsrc = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    per = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.row_number().over(wsrc).alias("src_rank"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n_src"),
    )
    g = global_order_stats(
        docs.select("doc_id", "n_chars"), ["n_chars", "doc_id"]
    ).select(F.col("n_chars").alias("norm_value"), F.col("__rank").alias("g_rank"))
    tot = docs.agg(F.count(F.lit(1)).cast("long").alias("n"))
    mapped = per.crossJoin(F.broadcast(tot)).select(
        "doc_id",
        "source",
        "n_chars",
        "src_rank",
        F.when(F.col("n_src") == 1, F.lit(1))
        .otherwise(
            F.expr(
                "(2 * (src_rank - 1) * (n - 1) + (n_src - 1)) DIV (2 * (n_src - 1)) + 1"
            )
        )
        .alias("target_rank"),
    )
    return (
        mapped.join(g, mapped.target_rank == g.g_rank)
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.col("src_rank").cast("long").alias("src_rank"),
            F.col("norm_value").cast("long").alias("norm_value"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# Conversion-latency percentiles: exact distributed order statistics.
# ---------------------------------------------------------------------------
@register(
    "conversion_latency_percentiles",
    oracle=f"""
    WITH e AS (
      SELECT user_id, event_id, epoch_ns(ts) // 1000 AS us, event_type
      FROM events),
    s AS ({sessions_gap_at_least_sql("e", ["us", "event_id"])}),
    v1 AS (
      SELECT *, min(CASE WHEN event_type = 'view' THEN us END)
                  OVER (PARTITION BY user_id, sid) AS v_us
      FROM s),
    v2 AS (
      SELECT *, min(CASE WHEN event_type = 'purchase' AND us > v_us THEN us END)
                  OVER (PARTITION BY user_id, sid) AS p_us
      FROM v1),
    lat AS (
      SELECT user_id, sid, max(p_us) - max(v_us) AS delta_us
      FROM v2 GROUP BY user_id, sid
      HAVING max(p_us) IS NOT NULL AND max(v_us) IS NOT NULL),
    rk AS (
      SELECT delta_us, row_number() OVER (ORDER BY delta_us, user_id, sid) AS r
      FROM lat),
    tot AS (SELECT count(*)::BIGINT AS n FROM rk)
    SELECT (SELECT n FROM tot) AS n_conversions,
           r50.delta_us::BIGINT AS p50_us,
           r90.delta_us::BIGINT AS p90_us,
           r99.delta_us::BIGINT AS p99_us
    FROM (SELECT delta_us FROM rk WHERE r = (50 * (SELECT n FROM tot) + 99) // 100) r50,
         (SELECT delta_us FROM rk WHERE r = (90 * (SELECT n FROM tot) + 99) // 100) r90,
         (SELECT delta_us FROM rk WHERE r = (99 * (SELECT n FROM tot) + 99) // 100) r99
    """,
)
def q_conversion_latency_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT p50/p90/p99 of view→purchase conversion latency per session
    (the funnel's `sessions_gap_at_least` sessions and strict-order stage
    times) — the latency-distribution readout product teams watch, with
    exact order statistics instead of an approx sketch (the HDR family
    covers the mergeable/approximate path; this is the exact one).

    Scale: stage times ride the funnel's ONE user-keyed exchange; the
    latency table is O(converting sessions); its global rank comes from
    `partitioning.global_order_stats` (range repartition, never a
    single-partition window), and each percentile row is filtered by the
    same ceil(q·n/100) rank formula in both engines.  All integers."""
    from .partitioning import global_order_stats

    ev = _t(spark, sf_dir, "events").select(
        "user_id", "event_id", F.expr("ts_ns DIV 1000").alias("us"), "event_type"
    )
    sess = sessions_gap_at_least(ev, ["us", "event_id"])
    ws = Window.partitionBy("user_id", "sid")
    staged = sess.withColumn(
        "v_us", F.min(F.when(F.col("event_type") == "view", F.col("us"))).over(ws)
    )
    staged = staged.withColumn(
        "p_us",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("us") > F.col("v_us")),
                F.col("us"),
            )
        ).over(ws),
    )
    lat = (
        staged.groupBy("user_id", "sid")
        .agg(F.max("p_us").alias("p"), F.max("v_us").alias("v"))
        .filter(F.col("p").isNotNull() & F.col("v").isNotNull())
        .select("user_id", "sid", (F.col("p") - F.col("v")).alias("delta_us"))
    )
    # The ranked latency table is consumed four times (count + three
    # percentile probes); materialize it once (it is O(conversions) narrow
    # rows) so the funnel windows don't re-execute per probe.
    rk = (
        global_order_stats(lat, ["delta_us", "user_id", "sid"])
        .select("delta_us", F.col("__rank").alias("r"))
        .localCheckpoint(eager=True)
    )
    tot = rk.agg(F.count(F.lit(1)).cast("long").alias("n"))

    def at_q(q: int, out: str):
        return (
            rk.crossJoin(F.broadcast(tot))
            .filter(F.col("r") == F.expr(f"({q} * n + 99) DIV 100"))
            .select(F.col("delta_us").cast("long").alias(out))
        )

    return (
        tot.select(F.col("n").alias("n_conversions"))
        .crossJoin(F.broadcast(at_q(50, "p50_us")))
        .crossJoin(F.broadcast(at_q(90, "p90_us")))
        .crossJoin(F.broadcast(at_q(99, "p99_us")))
    )


# ---------------------------------------------------------------------------
# Data drift: population stability index between time windows.
# ---------------------------------------------------------------------------
PSI_BUCKETS = 10
PSI_SPLIT_DAYS = 15
# Shared term expression (identical string both engines): add-1 smoothed
# fractions, one float expression per bucket row.
# ln of the smoothed odds ratio, quantized ONCE to integer micro-nats (the
# repo's proven ln pattern); (p - q) stays an exact integer rational
# (num/den), so each term is pure non-negative integer arithmetic:
# term_micro = num * L_micro DIV den  (num and L always share sign).
_PSI_LN = (
    "ln(((c_ref + 1.0) * (n_cur + {b}.0)) / ((c_cur + 1.0) * (n_ref + {b}.0)))"
).format(b=PSI_BUCKETS)


@register(
    "value_drift_psi",
    oracle=f"""
    WITH mm AS (SELECT min(value) AS mn, max(value) AS mx,
                       min(CAST(ts AS DATE)) AS d0 FROM events),
    tagged AS (
      SELECT least({PSI_BUCKETS - 1},
                   floor((value - mm.mn) / ((mm.mx - mm.mn) / {PSI_BUCKETS})))::BIGINT
               AS bucket,
             CASE WHEN CAST(ts AS DATE) < mm.d0 + {PSI_SPLIT_DAYS}
                  THEN 'ref' ELSE 'cur' END AS win
      FROM events, mm),
    spine AS (SELECT unnest(range({PSI_BUCKETS})) AS bucket),
    cnt AS (
      SELECT s.bucket,
             coalesce(sum(CASE WHEN t.win = 'ref' THEN 1 END), 0)::BIGINT AS c_ref,
             coalesce(sum(CASE WHEN t.win = 'cur' THEN 1 END), 0)::BIGINT AS c_cur
      FROM spine s LEFT JOIN tagged t ON s.bucket = t.bucket
      GROUP BY s.bucket),
    tot AS (SELECT sum(c_ref)::BIGINT AS n_ref, sum(c_cur)::BIGINT AS n_cur FROM cnt),
    terms AS (
      SELECT bucket, c_ref, c_cur,
             (((c_ref + 1) * (n_cur + {PSI_BUCKETS}) - (c_cur + 1) * (n_ref + {PSI_BUCKETS}))
              * floor(({_PSI_LN}) * 1000000 + 0.5)::BIGINT)
               // ((n_ref + {PSI_BUCKETS}) * (n_cur + {PSI_BUCKETS})) AS term_micro
      FROM cnt, tot)
    SELECT bucket, c_ref, c_cur, term_micro::BIGINT AS term_micro,
           floor((term_micro / 1000000.0) * 10000 + 0.5) / 10000.0 AS psi_term
    FROM terms
    UNION ALL
    SELECT -1 AS bucket, (SELECT n_ref FROM tot), (SELECT n_cur FROM tot),
           (SELECT sum(term_micro) FROM terms)::BIGINT,
           floor(((SELECT sum(term_micro) FROM terms) / 1000000.0) * 10000 + 0.5)
             / 10000.0
    ORDER BY bucket
    """,
)
def q_value_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index of `events.value` between the first
    {PSI_SPLIT_DAYS} days (reference window) and the rest (current
    window), over {PSI_BUCKETS} equi-width buckets — the ML-ops drift
    alarm every serving pipeline computes before trusting a model's
    inputs (PSI > 0.2 ⇒ investigate).  Per-bucket terms plus a bucket=-1
    TOTAL row.

    Determinism contract: each bucket's add-1-smoothed (p−q)·ln(p/q) term
    is exactly ONE float expression from exact BIGINT counts, quantized
    via a micro-nat-quantized ln times an exact integer rational
    (p−q = num/den); the total PSI is a SUM OF INTEGERS — so the
    headline number is addition-order-free under any partitioning, unlike
    a naive float sum of terms.  Scale: one min/max/min-day broadcast,
    one bucket×window partial-agg'd count ({PSI_BUCKETS}×2 cells at any
    data size), and a {PSI_BUCKETS}-row spine join for zero-count
    buckets."""
    ev = _t(spark, sf_dir, "events")
    mm = ev.agg(
        F.min("value").alias("mn"),
        F.max("value").alias("mx"),
        F.min(F.col("ts").cast("date")).alias("d0"),
    )
    tagged = ev.crossJoin(F.broadcast(mm)).select(
        F.least(
            F.lit(PSI_BUCKETS - 1),
            F.floor(
                (F.col("value") - F.col("mn")) / ((F.col("mx") - F.col("mn")) / PSI_BUCKETS)
            ),
        )
        .cast("long")
        .alias("bucket"),
        F.when(
            F.col("ts").cast("date") < F.date_add(F.col("d0"), PSI_SPLIT_DAYS), "ref"
        )
        .otherwise("cur")
        .alias("win"),
    )
    spine = spark.range(PSI_BUCKETS).select(F.col("id").alias("bucket"))
    cnt = (
        spine.join(tagged, "bucket", "left")
        .groupBy("bucket")
        .agg(
            F.coalesce(F.sum(F.when(F.col("win") == "ref", 1)), F.lit(0))
            .cast("long")
            .alias("c_ref"),
            F.coalesce(F.sum(F.when(F.col("win") == "cur", 1)), F.lit(0))
            .cast("long")
            .alias("c_cur"),
        )
    )
    # the 20-cell bucket table fans out to totals, per-bucket terms and the
    # TOTAL row union — checkpoint it so the corpus scan happens once, not
    # once per consumer (plan_audit measured 20 scans before)
    cnt = cnt.localCheckpoint(eager=True)
    tot = cnt.agg(
        F.sum("c_ref").cast("long").alias("n_ref"),
        F.sum("c_cur").cast("long").alias("n_cur"),
    )
    l_micro = F.floor(F.expr(_PSI_LN) * 1000000 + 0.5).cast("long")
    num = (F.col("c_ref") + 1) * (F.col("n_cur") + PSI_BUCKETS) - (
        F.col("c_cur") + 1
    ) * (F.col("n_ref") + PSI_BUCKETS)
    den = (F.col("n_ref") + PSI_BUCKETS) * (F.col("n_cur") + PSI_BUCKETS)
    terms = cnt.crossJoin(F.broadcast(tot)).select(
        "bucket",
        "c_ref",
        "c_cur",
        F.expr(
            f"(((c_ref + 1) * (n_cur + {PSI_BUCKETS}) - (c_cur + 1) * (n_ref + {PSI_BUCKETS}))"
            f" * (floor(({_PSI_LN}) * 1000000 + 0.5)))"
            f" DIV ((n_ref + {PSI_BUCKETS}) * (n_cur + {PSI_BUCKETS}))"
        ).cast("long").alias("term_micro"),
    )
    total = terms.crossJoin(F.broadcast(tot)).agg(
        F.lit(-1).cast("long").alias("bucket"),
        F.max("n_ref").alias("c_ref"),
        F.max("n_cur").alias("c_cur"),
        F.sum("term_micro").cast("long").alias("term_micro"),
    )
    out = terms.unionAll(total)
    return out.select(
        "bucket",
        "c_ref",
        "c_cur",
        "term_micro",
        round4(F.col("term_micro") / 1000000.0).alias("psi_term"),
    ).orderBy("bucket")


# ---------------------------------------------------------------------------
# KMV (theta) sketch: per-type distinct estimates + pairwise overlap.
# ---------------------------------------------------------------------------
_KMV_K = 128
_KMV_H = 16**15  # hash domain size: 60-bit md5 prefix


@register(
    "kmv_distinct_overlap",
    oracle=f"""
    WITH uh AS (
      SELECT DISTINCT event_type,
             {salted_hash_sql("kmv:", "user_id", digits=15)} AS h
      FROM events),
    ranked AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
      FROM uh),
    sk AS (SELECT event_type, h, rk FROM ranked WHERE rk <= {_KMV_K}),
    theta AS (
      SELECT event_type,
             CASE WHEN max(rk) < {_KMV_K} THEN {_KMV_H}::BIGINT
                  ELSE max(h) END AS theta,
             count(*)::BIGINT AS sk_n
      FROM sk GROUP BY 1),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             least(a.theta, b.theta) AS th
      FROM theta a JOIN theta b ON a.event_type < b.event_type),
    pa AS (
      SELECT p.type_a, p.type_b, p.th, s.h
      FROM pairs p JOIN sk s ON s.event_type = p.type_a AND s.h < p.th),
    pb AS (
      SELECT p.type_a, p.type_b, p.th, s.h
      FROM pairs p JOIN sk s ON s.event_type = p.type_b AND s.h < p.th),
    inter AS (
      SELECT pa.type_a, pa.type_b, count(*)::BIGINT AS n_inter
      FROM pa JOIN pb ON pa.type_a = pb.type_a AND pa.type_b = pb.type_b
                     AND pa.h = pb.h
      GROUP BY 1, 2),
    uni AS (
      SELECT type_a, type_b, count(DISTINCT h)::BIGINT AS n_union FROM (
        SELECT type_a, type_b, h FROM pa
        UNION ALL SELECT type_a, type_b, h FROM pb)
      GROUP BY 1, 2),
    exact AS (
      SELECT x.event_type AS type_a, y.event_type AS type_b,
             count(*)::BIGINT AS exact_inter
      FROM (SELECT DISTINCT event_type, user_id FROM events) x
      JOIN (SELECT DISTINCT event_type, user_id FROM events) y
        ON x.user_id = y.user_id AND x.event_type < y.event_type
      GROUP BY 1, 2)
    SELECT p.type_a, p.type_b,
           coalesce(e.exact_inter, 0)::BIGINT AS exact_inter,
           floor((coalesce(i.n_inter, 0) * ({_KMV_H}::DOUBLE / p.th))
                 * 10000 + 0.5) / 10000.0 AS est_inter,
           floor((coalesce(i.n_inter, 0)::DOUBLE
                  / CASE WHEN coalesce(u.n_union, 0) = 0 THEN 1
                         ELSE u.n_union END) * 10000 + 0.5) / 10000.0
             AS est_jaccard
    FROM pairs p
    LEFT JOIN inter i ON i.type_a = p.type_a AND i.type_b = p.type_b
    LEFT JOIN uni u ON u.type_a = p.type_a AND u.type_b = p.type_b
    LEFT JOIN exact e ON e.type_a = p.type_a AND e.type_b = p.type_b
    ORDER BY p.type_a, p.type_b
    """,
)
def q_kmv_distinct_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-minimum-values (theta) sketches over distinct users per event
    type, then PAIRWISE intersection and Jaccard estimates from the
    sketches alone — the set-operation sketch family (Theta sketches) that
    HLL cannot provide (HLL unions but never intersects; see
    operators/sketches.py for the HLL leg).  The exact intersection rides
    along as the audit column.

    Mergeability/scale: a KMV sketch is the K smallest 60-bit md5 values —
    per-type state is bounded at K=128 rows, built with one
    partial-agg'd distinct + per-type bounded window (5 types × ≤128
    rows); every pairwise estimate then runs on the ≤640-row sketch table
    (driver-broadcast-size).  The exact audit uses a per-user type-set
    groupBy (≤5 types per user, never a pair explosion over users).
    est_inter = |A∩B below θ| · (H/θ), θ = min(θ_A, θ_B) — one float
    multiply per pair row, round4 at the end.
    """
    ev = _t(spark, sf_dir, "events")
    uh = ev.select(
        "event_type", salted_hash("kmv:", "user_id", digits=15).alias("h")
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("h")
    sk = uh.withColumn("rk", F.row_number().over(w)).filter(F.col("rk") <= _KMV_K)
    sk = sk.persist()
    theta = sk.groupBy("event_type").agg(
        F.when(F.max("rk") < _KMV_K, F.lit(_KMV_H).cast("long"))
        .otherwise(F.max("h"))
        .alias("theta"),
    )
    pairs = (
        theta.alias("a")
        .join(theta.alias("b"), F.col("a.event_type") < F.col("b.event_type"))
        .select(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
            F.least(F.col("a.theta"), F.col("b.theta")).alias("th"),
        )
    )
    pa = pairs.join(
        sk.select(F.col("event_type").alias("type_a"), "h"), "type_a"
    ).filter(F.col("h") < F.col("th"))
    pb = pairs.join(
        sk.select(F.col("event_type").alias("type_b"), "h"), "type_b"
    ).filter(F.col("h") < F.col("th"))
    inter = (
        pa.select("type_a", "type_b", "h")
        .join(pb.select("type_a", "type_b", "h"), ["type_a", "type_b", "h"])
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_inter"))
    )
    uni = (
        pa.select("type_a", "type_b", "h")
        .unionByName(pb.select("type_a", "type_b", "h"))
        .distinct()
        .groupBy("type_a", "type_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_union"))
    )
    # exact audit: per-user sorted type set -> unordered type pairs
    per_user = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("types")
    )
    upairs = per_user.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("types"),
                        lambda x: F.transform(
                            F.col("types"), lambda y: F.struct(x.alias("ta"), y.alias("tb"))
                        ),
                    )
                ),
                lambda s: s.ta < s.tb,
            )
        ).alias("p")
    )
    exact = upairs.groupBy(
        F.col("p.ta").alias("type_a"), F.col("p.tb").alias("type_b")
    ).agg(F.count(F.lit(1)).cast("long").alias("exact_inter"))
    out = (
        pairs.join(inter, ["type_a", "type_b"], "left")
        .join(uni, ["type_a", "type_b"], "left")
        .join(exact, ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            F.coalesce(F.col("exact_inter"), F.lit(0)).cast("long").alias("exact_inter"),
            round4(
                F.coalesce(F.col("n_inter"), F.lit(0))
                * (F.lit(float(_KMV_H)) / F.col("th"))
            ).alias("est_inter"),
            round4(
                F.coalesce(F.col("n_inter"), F.lit(0)).cast("double")
                / F.when(F.coalesce(F.col("n_union"), F.lit(0)) == 0, F.lit(1))
                .otherwise(F.col("n_union"))
            ).alias("est_jaccard"),
        )
        .orderBy("type_a", "type_b")
    )
    return out


# ---------------------------------------------------------------------------
# Bloom-filter membership probe with exact false-positive audit.
# ---------------------------------------------------------------------------
_BLOOM_M = 8192
_BLOOM_K = 3


def _bloom_pos_sql(expr: str) -> str:
    return " UNION ALL ".join(
        f"SELECT uid, {salted_hash_sql(f'bf{j}:', 'uid', digits=15)} % {_BLOOM_M} AS pos"
        f" FROM {expr}"
        for j in range(_BLOOM_K)
    )


@register(
    "bloom_fp_audit",
    oracle=f"""
    WITH members AS (
      SELECT DISTINCT user_id AS uid FROM events WHERE event_type = 'purchase'),
    probes AS (
      SELECT DISTINCT user_id AS uid FROM events WHERE event_type = 'click'
      UNION
      SELECT DISTINCT user_id + 5000000 AS uid FROM events
      WHERE event_type = 'click'),
    bits AS (
      SELECT DISTINCT pos FROM ({_bloom_pos_sql('members')})),
    probe_pos AS ({_bloom_pos_sql('probes')}),
    hits AS (
      SELECT p.uid, count(DISTINCT p.pos)::BIGINT AS set_pos,
             sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS hit
      FROM (SELECT DISTINCT uid, pos FROM probe_pos) p
      LEFT JOIN bits b ON p.pos = b.pos
      GROUP BY 1),
    verdicts AS (
      SELECT h.uid, CASE WHEN h.hit = h.set_pos THEN 1 ELSE 0 END AS positive,
             CASE WHEN m.uid IS NOT NULL THEN 1 ELSE 0 END AS is_member
      FROM hits h LEFT JOIN members m ON h.uid = m.uid)
    SELECT (SELECT count(*) FROM members)::BIGINT AS n_members,
           count(*)::BIGINT AS n_probes,
           (SELECT count(*) FROM bits)::BIGINT AS n_bits_set,
           sum(positive)::BIGINT AS n_positive,
           sum(is_member)::BIGINT AS n_true_members,
           sum(CASE WHEN positive = 1 AND is_member = 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_false_pos,
           CASE WHEN count(*) - sum(is_member) = 0 THEN 0.0 ELSE
             floor((sum(CASE WHEN positive = 1 AND is_member = 0 THEN 1 ELSE 0 END)::DOUBLE
                    / (count(*) - sum(is_member))) * 10000 + 0.5) / 10000.0
           END AS fp_rate,
           floor(pow((SELECT count(*) FROM bits)::DOUBLE / {_BLOOM_M}, {_BLOOM_K})
                 * 10000 + 0.5) / 10000.0 AS predicted_fp_rate
    FROM verdicts
    """,
)
def q_bloom_fp_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic Bloom filter (m=8192 bits, k=3 md5-derived
    hash functions) built over purchase users and probed with click users
    plus an id-shifted synthetic cohort of guaranteed non-members (so the
    false-positive denominator is never empty),
    with EXACT false-positive accounting and the analytic (bits/m)^k
    prediction side by side — the membership-pruning primitive behind
    runtime bloom joins (plan-gated in test_plan_quality.py) expressed as
    an auditable query (sketch-family extension; no reference
    counterpart).

    Scale: member side folds to ≤m distinct bit positions (one
    partial-agg'd distinct on an integer key — the filter itself is m/8
    bytes and broadcastable); probes explode to k=3 integer positions and
    probe via a broadcast join on the bits table.  No user×user
    comparisons anywhere; the exact audit is one more broadcast
    (anti-)join on the bounded member set.
    """
    ev = _t(spark, sf_dir, "events")
    # the member and probe id sets fan out to position generation and the
    # downstream audit folds — checkpoint the tiny distinct sets so the
    # events scan runs twice (members + probes), not 6x
    members = (
        ev.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("uid")
        ).distinct().localCheckpoint(eager=True)
    )
    clicks = ev.filter(F.col("event_type") == "click")
    probes = (
        clicks.select(F.col("user_id").alias("uid"))
        .union(clicks.select((F.col("user_id") + 5000000).alias("uid")))
        .distinct().localCheckpoint(eager=True)
    )

    def positions(df: DataFrame) -> DataFrame:
        pos = [
            (salted_hash(f"bf{j}:", "uid", digits=15) % _BLOOM_M).alias("pos")
            for j in range(_BLOOM_K)
        ]
        return df.select("uid", F.explode(F.array(*pos)).alias("pos"))

    bits = positions(members).select("pos").distinct()
    probe_pos = positions(probes).distinct()
    hits = (
        probe_pos.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "pos", "left")
        .groupBy("uid")
        .agg(
            F.count(F.lit(1)).cast("long").alias("set_pos"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("long").alias("hit"),
        )
    )
    verdicts = hits.join(
        F.broadcast(members.withColumn("is_m", F.lit(1))), "uid", "left"
    ).select(
        F.when(F.col("hit") == F.col("set_pos"), 1).otherwise(0).alias("positive"),
        F.coalesce(F.col("is_m"), F.lit(0)).alias("is_member"),
    )
    n_members = members.agg(F.count(F.lit(1)).cast("long").alias("n_members"))
    n_bits = bits.agg(F.count(F.lit(1)).cast("long").alias("n_bits_set"))
    agg = verdicts.agg(
        F.count(F.lit(1)).cast("long").alias("n_probes"),
        F.sum("positive").cast("long").alias("n_positive"),
        F.sum("is_member").cast("long").alias("n_true_members"),
        F.sum(
            F.when((F.col("positive") == 1) & (F.col("is_member") == 0), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_false_pos"),
    )
    return (
        agg.crossJoin(F.broadcast(n_members))
        .crossJoin(F.broadcast(n_bits))
        .select(
            "n_members",
            "n_probes",
            "n_bits_set",
            "n_positive",
            "n_true_members",
            "n_false_pos",
            F.when(
                F.col("n_probes") - F.col("n_true_members") == 0, F.lit(0.0)
            )
            .otherwise(
                round4(
                    F.col("n_false_pos").cast("double")
                    / (F.col("n_probes") - F.col("n_true_members"))
                )
            )
            .alias("fp_rate"),
            round4(
                F.pow(F.col("n_bits_set").cast("double") / _BLOOM_M, F.lit(_BLOOM_K))
            ).alias("predicted_fp_rate"),
        )
    )


# ---------------------------------------------------------------------------
# Differentially-private noisy counts: two-sided geometric mechanism with
# alpha = 1/2 (epsilon = ln 2), exact dyadic inverse-CDF — pure integers.
# ---------------------------------------------------------------------------
_DP_BITS = 20
_DP_M = 3 * (1 << _DP_BITS)  # uniform domain: thresholds are exact integers


def _dp_rungs() -> list[tuple[int, int]]:
    """(upper_bound, noise) ladder over u in [0, M): P(0) = 1/3,
    P(+-j) = (1/3) * 2^-j — the discrete (geometric) Laplace distribution
    with alpha = 1/2, whose CDF is exactly representable in integers."""
    rungs = [(1 << _DP_BITS, 0)]
    off = 1 << _DP_BITS
    for j in range(1, _DP_BITS + 1):
        w = 1 << (_DP_BITS - j)
        off += w
        rungs.append((off, j))
        off += w
        rungs.append((off, -j))
    return rungs


def _dp_noise_sql(u: str) -> str:
    cases = " ".join(
        f"WHEN {u} < {hi} THEN {noise}" for hi, noise in _dp_rungs()
    )
    return f"CASE {cases} ELSE 0 END"


def _dp_noise_col(u):
    expr = None
    for hi, noise in _dp_rungs():
        cond = u < hi
        expr = F.when(cond, noise) if expr is None else expr.when(cond, noise)
    return expr.otherwise(F.lit(0))


@register(
    "dp_noisy_counts",
    oracle=f"""
    WITH g AS (
      SELECT source, count(*)::BIGINT AS true_count FROM documents GROUP BY 1),
    noised AS (
      SELECT source, true_count,
             {_dp_noise_sql(f"({salted_hash_sql('dp:', 'source', digits=15)} % {_DP_M})")}
               AS noise
      FROM g)
    SELECT source, true_count, noise::BIGINT AS noise,
           greatest(true_count + noise, 0)::BIGINT AS noisy_count,
           0.6931::DOUBLE AS epsilon
    FROM noised ORDER BY source
    """,
)
def q_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private per-source document counts via the two-sided
    geometric (discrete Laplace) mechanism with alpha = 1/2 (epsilon =
    ln 2 ~ 0.6931) — the release primitive for sharing corpus composition
    stats without exposing exact counts (privacy-family extension; no
    reference counterpart).

    The draw is an exact inverse-CDF on a md5-uniform integer in
    [0, 3*2^20): with alpha = 1/2 every CDF threshold is an exact integer
    (P(0) = 1/3, P(+-j) = 2^-j/3), so the WHOLE mechanism is integer
    compares — no ln/exp anywhere, hence bit-exact across engines (the
    same trick as the precomputed-lambda exp-decay weights).  The ladder
    is generated ONCE in Python and rendered into both the Spark plan and
    the oracle SQL.  Deterministic per source (seeded by the group key):
    reproducible releases, as a pipeline would pin a noise seed per
    snapshot.

    Scale: one partial-agg'd groupBy + a codegen'd CASE ladder — a single
    scan.
    """
    docs = _t(spark, sf_dir, "documents")
    g = docs.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("true_count"))
    u = salted_hash("dp:", "source", digits=15) % _DP_M
    noised = g.withColumn("noise", _dp_noise_col(u).cast("long"))
    return noised.select(
        "source",
        "true_count",
        "noise",
        F.greatest(F.col("true_count") + F.col("noise"), F.lit(0))
        .cast("long")
        .alias("noisy_count"),
        F.lit(0.6931).alias("epsilon"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# Market-basket pair mining over order baskets.
# ---------------------------------------------------------------------------
_BASKET_MIN_SUPPORT = 2
_BASKET_TOP = 20


@register(
    "basket_affinity_pairs",
    oracle=f"""
    WITH b AS MATERIALIZED (
      SELECT DISTINCT l_orderkey AS okey, l_partkey AS part FROM lineitem),
    isupp AS MATERIALIZED (
      SELECT part, count(*)::BIGINT AS s FROM b GROUP BY 1),
    bf AS MATERIALIZED (
      SELECT b.okey, b.part FROM b JOIN isupp i ON i.part = b.part
      WHERE i.s >= {_BASKET_MIN_SUPPORT}),
    pairs AS (
      SELECT a.part AS part_1, c.part AS part_2, count(*)::BIGINT AS support
      FROM bf a JOIN bf c ON a.okey = c.okey AND a.part < c.part
      GROUP BY 1, 2),
    nb AS (SELECT count(DISTINCT okey)::BIGINT AS n FROM b)
    SELECT p.part_1, p.part_2, p.support,
           floor((CAST(p.support AS DOUBLE) / CAST(nb.n AS DOUBLE))
                 * 10000 + 0.5)/10000.0 AS support_frac,
           floor((CAST(p.support AS DOUBLE) / CAST(s1.s AS DOUBLE))
                 * 10000 + 0.5)/10000.0 AS conf_1_2,
           floor((CAST(p.support AS DOUBLE) / CAST(s2.s AS DOUBLE))
                 * 10000 + 0.5)/10000.0 AS conf_2_1,
           floor((CAST(p.support AS DOUBLE) * CAST(nb.n AS DOUBLE)
                  / (CAST(s1.s AS DOUBLE) * CAST(s2.s AS DOUBLE)))
                 * 10000 + 0.5)/10000.0 AS lift
    FROM pairs p
    JOIN isupp s1 ON s1.part = p.part_1
    JOIN isupp s2 ON s2.part = p.part_2
    CROSS JOIN nb
    WHERE p.support >= {_BASKET_MIN_SUPPORT}
    ORDER BY p.support DESC, p.part_1, p.part_2
    LIMIT {_BASKET_TOP}
    """,
)
def q_basket_affinity_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frequent-itemset pair mining (the Apriori 2-itemset pass) over
    order baskets: top-{{20}} co-purchased part pairs with support,
    both directional confidences, and lift — the association-rule
    primitive behind "bought together" and feature co-occurrence audits.

    Scale: the pair generator self-joins WITHIN basket (keyed on
    l_orderkey), so output is Σ basket_size² — bounded by the largest
    basket, never the catalog square.  Round 10 fix (VERDICT r9 #3: the
    r9 shape measured 18.4×/decade at the 1000× fixture): the ~2.4B
    mostly-unique pair rows used to feed a groupBy whose MAP-side
    hash-aggregate combined nothing, filled, and spilled (the
    `corpus_entropy` collapsing-combine failure one decade later) — the
    support count now follows an explicit `repartition(part_1, part_2)`
    so the exchange ships plain 16-byte rows and aggregation runs once,
    post-shuffle.  (A round-10 interim variant collected baskets to
    arrays with collect_set and exploded pairs locally; at 600M rows the
    object-aggregation spill runs — Java-serialized ArrayBuffers — OOM'd
    a 96 GB heap on deserialize.  The binary codegen'd join + flat-row
    aggregate is the memory-safe shape; arrays of data rows are not.)
    The Apriori property is applied as a LOSSLESS prefilter (the
    `token_pair_lift` lesson): a pair with support ≥
    {_BASKET_MIN_SUPPORT} needs both items' supports ≥
    {_BASKET_MIN_SUPPORT}, so the basket table keeps only frequent
    items — result rows are unchanged (any surviving pair's items both
    pass by construction).  The top-k is TakeOrderedAndProject on
    (support DESC, part_1, part_2).

    Exactness: supports are exact integers; the four ratios are
    single-division DOUBLE expressions with identical operand order in
    both engines, floor-quantized to 4 dp.
    """
    li = _t(spark, sf_dir, "lineitem")
    # The distinct basket table fans out to the basket-array build, the
    # basket-count scalar and the support table; `isupp` feeds the
    # Apriori prefilter plus both confidence joins.  Checkpoint both
    # (same discipline as token_pair_lift) or the lineitem scan replays.
    # DISK_ONLY: the default MEMORY_AND_DISK checkpoint OOM'd twice at the
    # 1000x fixture — not while writing, but on READ: getLocalValues
    # re-caches disk blocks as DESERIALIZED row objects
    # (maybeCacheDiskValuesInMemory), and 32 tasks unrolling 600M-row
    # partitions concurrently exhaust a 96 GB heap.  DISK_ONLY streams the
    # serialized blocks and never unrolls; at gate scale the difference is
    # noise.
    from pyspark import StorageLevel

    b = li.select(
        F.col("l_orderkey").alias("okey"), F.col("l_partkey").alias("part")
    ).distinct().localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    isupp = (
        b.repartition("part")
        .groupBy("part")
        .agg(F.count(F.lit(1)).cast("long").alias("s"))
        .localCheckpoint(eager=True)
    )
    bf = (
        b.join(isupp.filter(F.col("s") >= _BASKET_MIN_SUPPORT).select("part"), "part")
        .select("okey", "part")
    )
    a = bf.select(F.col("okey"), F.col("part").alias("part_1"))
    c = bf.select(F.col("okey"), F.col("part").alias("part_2"))
    pair_rows = (
        a.join(c, "okey")
        .filter(F.col("part_1") < F.col("part_2"))
        .select("part_1", "part_2")
    )
    pairs = (
        pair_rows.repartition("part_1", "part_2")
        .groupBy("part_1", "part_2")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .filter(F.col("support") >= _BASKET_MIN_SUPPORT)
    )
    nb = b.agg(F.countDistinct("okey").cast("long").alias("n"))
    s1 = isupp.select(F.col("part").alias("part_1"), F.col("s").alias("s1"))
    s2 = isupp.select(F.col("part").alias("part_2"), F.col("s").alias("s2"))
    return (
        pairs.join(s1, "part_1")
        .join(s2, "part_2")
        .crossJoin(F.broadcast(nb))
        .select(
            "part_1",
            "part_2",
            "support",
            F.expr(
                "floor((CAST(support AS DOUBLE) / CAST(n AS DOUBLE))"
                " * 10000 + 0.5)/10000.0"
            ).cast("double").alias("support_frac"),
            F.expr(
                "floor((CAST(support AS DOUBLE) / CAST(s1 AS DOUBLE))"
                " * 10000 + 0.5)/10000.0"
            ).cast("double").alias("conf_1_2"),
            F.expr(
                "floor((CAST(support AS DOUBLE) / CAST(s2 AS DOUBLE))"
                " * 10000 + 0.5)/10000.0"
            ).cast("double").alias("conf_2_1"),
            F.expr(
                "floor((CAST(support AS DOUBLE) * CAST(n AS DOUBLE)"
                " / (CAST(s1 AS DOUBLE) * CAST(s2 AS DOUBLE)))"
                " * 10000 + 0.5)/10000.0"
            ).cast("double").alias("lift"),
        )
        .orderBy(F.desc("support"), "part_1", "part_2")
        .limit(_BASKET_TOP)
    )
