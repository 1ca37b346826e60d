"""Registry entries: in-engine model fits and validation (logistic GD, kNN LOO, decision trees, gradient-boosted residual stumps, bagging stability, conformal intervals).

Query names and oracle texts are the stable contract; module moves keep
them byte-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import register
from .functions.scalar import _fdiv, salted_hash, salted_hash_sql
from .registry_ml import (
    _STUMP_FEATURES,
    _STUMP_LABEL,
    _pois_w,
    gini_split_scores,
    gini_split_scores_sql,
)
from .sources.tables import load_table as _t


# ---------------------------------------------------------------------------
# In-engine logistic regression by full-batch gradient descent.
# ---------------------------------------------------------------------------
LOGREG_ROUNDS = 8
# Shared DOUBLE texts (identical operand order in both engines).  The
# integer margin numerator m = 69·w0 + 3·w1·(2h−23) + 23·w2·(dw−3) clears
# the feature denominators (23 and 3, LCD 69), so the sign test and every
# float expression start from exact integers.
_LR_M = "(69*w0 + 3*w1*h2 + 23*w2*d3)"
_LR_P = f"(1.0/(1.0 + exp(0.0 - (CAST({_LR_M} AS DOUBLE)/69000000.0))))"
_LR_Q = f"CAST(floor({_LR_P}*1000000.0 + 0.5) AS BIGINT)"
_LR_LL = (
    f"CAST(floor((CASE WHEN y = 1 THEN 0.0 - ln({_LR_P}) "
    f"ELSE 0.0 - ln(1.0 - {_LR_P}) END)*1000000.0 + 0.5) AS BIGINT)"
)


def _logreg_round_sql(prev: str, cur: str) -> str:
    """One full-batch GD round as an unrolled CTE: per-row quantized
    residual e = q − y·1e6 (micro), three integer gradient sums, portable
    floor-division weight update with learning rate 2."""
    return f"""
    g_{cur} AS MATERIALIZED (
      SELECT sum(e)::HUGEINT AS g0,
             sum(e * h2)::HUGEINT AS g1,
             sum(e * d3)::HUGEINT AS g2,
             count(*)::BIGINT AS n,
             any_value(w0) AS w0, any_value(w1) AS w1, any_value(w2) AS w2
      FROM (SELECT base.*, w.w0, w.w1, w.w2,
                   ({_LR_Q} - y*1000000) AS e
            FROM base CROSS JOIN {prev} w)),
    {cur} AS MATERIALIZED (
      SELECT (w0 - {_fdiv("2*g0", "n")})::BIGINT AS w0,
             (w1 - {_fdiv("2*g1", "23*n")})::BIGINT AS w1,
             (w2 - {_fdiv("2*g2", "3*n")})::BIGINT AS w2
      FROM g_{cur})"""


@register(
    "logistic_regression_gd",
    oracle="""
    WITH base AS MATERIALIZED (
      SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y,
             (2*hour(ts)::BIGINT - 23) AS h2,
             ((CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) % 7) - 3) AS d3
      FROM events),
    w_0 AS (SELECT 0::BIGINT AS w0, 0::BIGINT AS w1, 0::BIGINT AS w2),"""
    + ",".join(
        _logreg_round_sql(f"w_{i}", f"w_{i + 1}") for i in range(LOGREG_ROUNDS)
    )
    + f"""
    SELECT w.w0 AS w0_micro, w.w1 AS w1_micro, w.w2 AS w2_micro,
           count(*)::BIGINT AS n,
           sum(y)::BIGINT AS n_pos,
           floor((sum(CASE WHEN ({_LR_M} >= 0) = (y = 1) THEN 1 ELSE 0 END) * 1.0
                  / count(*)) * 10000 + 0.5)/10000.0 AS accuracy,
           floor(((sum({_LR_LL}) * CAST(1.0 AS DOUBLE) / 1000000.0) / count(*)) * 10000 + 0.5)/10000.0
             AS avg_logloss
    FROM base CROSS JOIN w_{LOGREG_ROUNDS} w
    GROUP BY w.w0, w.w1, w.w2
    """,
)
def q_logistic_regression_gd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression trained INSIDE the engine: P(purchase) from
    hour-of-day and day-of-week by full-batch gradient descent — 8
    unrolled rounds, each ONE partial-agg'd scan producing the three
    gradient sums against broadcast weight scalars (the
    sufficient-statistics shape every distributed GD/L-BFGS fit has).
    Emits the fitted micro-weights plus training accuracy and mean
    log-loss.  On this uniform synthetic corpus the signal is the base
    rate — the intercept converges toward logit(P(purchase)) ≈ −1.4 and
    the slopes stay near zero, which is itself the honest finding (the
    calibration-over-discrimination regime `calibration_bins` measures).

    Exactness: features are exact integer numerators over the LCD 69
    (x1 = (2h−23)/23, x2 = (dw−3)/3, Sunday-0 day keys as in
    `dow_chi_square`); the margin numerator is integer, the sigmoid is
    ONE shared DOUBLE text whose per-row output is quantized to micro
    BEFORE summing, gradient sums are HUGEINT/DECIMAL folds, and the
    weight update is portable floor division (residuals go negative) —
    so the weight trajectory is bit-identical under any partitioning and
    in the unrolled-CTE oracle.  Accuracy's decision p ≥ 1/2 is the
    INTEGER sign test m ≥ 0 — no float compare.

    Scale: 8 scans × (map-side partial agg to 3 sums + a 1-row weight
    update) — no shuffle wider than the 1-row aggregate; the events scan
    is the whole cost, exactly like `ols_price_model`'s normal-equation
    pass.  1-row eager localCheckpoints are the codegen barriers between
    rounds (HANDOFF: >64 KB generated methods fall back to interpreted).
    """
    ev = _t(spark, sf_dir, "events")
    # Round 12: per-round fan_out (6.1 s) and a staged fan_out+checkpoint
    # training frame (flat within noise) were both tried and MEASURED not
    # better than the plain per-round single-task scan at sf0.1 — the
    # sigmoid ladder is too cheap relative to the exchange/job floor, and
    # the staged variant changes scale behavior (O(corpus) checkpoint).
    # Kept as is; see OPTIMIZATION_r12.md.
    base = ev.select(
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).cast("long").alias("y"),
        (2 * F.hour("ts").cast("long") - 23).alias("h2"),
        (((F.dayofweek(F.col("ts").cast("date")).cast("long") - 1) % 7) - 3).alias("d3"),
    )
    w = spark.range(1).select(
        F.lit(0).cast("long").alias("w0"),
        F.lit(0).cast("long").alias("w1"),
        F.lit(0).cast("long").alias("w2"),
    )
    for _ in range(LOGREG_ROUNDS):
        g = (
            base.crossJoin(F.broadcast(w))
            .withColumn("e", F.expr(f"{_LR_Q} - y*1000000"))
            .agg(
                F.sum(F.col("e").cast("decimal(38,0)")).cast("decimal(38,0)").alias("g0"),
                F.sum((F.col("e") * F.col("h2")).cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .alias("g1"),
                F.sum((F.col("e") * F.col("d3")).cast("decimal(38,0)"))
                .cast("decimal(38,0)")
                .alias("g2"),
                F.count(F.lit(1)).cast("long").alias("n"),
                F.first("w0").alias("w0"),
                F.first("w1").alias("w1"),
                F.first("w2").alias("w2"),
            )
        )
        w = g.select(
            F.expr(f"CAST(w0 - {_fdiv('2*g0', 'n')} AS BIGINT)").alias("w0"),
            F.expr(f"CAST(w1 - {_fdiv('2*g1', '23*n')} AS BIGINT)").alias("w1"),
            F.expr(f"CAST(w2 - {_fdiv('2*g2', '3*n')} AS BIGINT)").alias("w2"),
        ).localCheckpoint(eager=True)
    return (
        base.crossJoin(F.broadcast(w))
        .groupBy("w0", "w1", "w2")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("y").cast("long").alias("n_pos"),
            F.expr(
                f"CAST(floor((sum(CASE WHEN ({_LR_M} >= 0) = (y = 1) THEN 1 ELSE 0 END) * 1.0"
                f" / count(*)) * 10000 + 0.5)/10000.0 AS DOUBLE)"
            ).alias("accuracy"),
            F.expr(
                f"CAST(floor(((sum({_LR_LL}) * CAST(1.0 AS DOUBLE) / 1000000.0) / count(*)) * 10000 + 0.5)"
                f"/10000.0 AS DOUBLE)"
            ).alias("avg_logloss"),
        )
        .select(
            F.col("w0").alias("w0_micro"),
            F.col("w1").alias("w1_micro"),
            F.col("w2").alias("w2_micro"),
            "n",
            "n_pos",
            "accuracy",
            "avg_logloss",
        )
    )



# ---------------------------------------------------------------------------
# Leave-one-out k-NN label-prediction eval on an md5 sample.
# ---------------------------------------------------------------------------
LOO_K = 5
LOO_MOD = 4  # keep vec_ids with md5 bucket == 0 → ~25% eval slice
# Hard cap on the eval slice (lowest vec_ids of the md5 bucket): the md5
# FRACTION alone makes LOO quadratic in the corpus — the round-6 100×
# bench measured 1,086 s for the 50k-vector slice.  A fixed-size sample is
# the statistically correct eval design anyway (accuracy CIs depend on
# sample size, not corpus size).  4,000 > every test fixture's slice, so
# the cap binds only beyond bench scale and oracle parity is unchanged.
LOO_CAP = 4000


@register(
    "knn_loo_eval",
    oracle=f"""
    WITH samp AS MATERIALIZED (
      SELECT vec_id, label, embedding FROM embeddings
      WHERE {salted_hash_sql("looeval", "vec_id")}
            % {LOO_MOD} = 0
      ORDER BY vec_id LIMIT {LOO_CAP}),
    nn AS (
      SELECT q.vec_id AS q_id, q.label AS true_label, c.label AS nbr_label,
             row_number() OVER (
               PARTITION BY q.vec_id
               ORDER BY list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) DESC,
                        c.vec_id) AS rn
      FROM samp q JOIN samp c ON q.vec_id != c.vec_id),
    votes AS (
      SELECT q_id, true_label, nbr_label, count(*) AS v,
             row_number() OVER (PARTITION BY q_id ORDER BY count(*) DESC, nbr_label) AS vr
      FROM nn WHERE rn <= {LOO_K}
      GROUP BY q_id, true_label, nbr_label),
    pred AS (
      SELECT q_id, true_label, nbr_label AS pred_label FROM votes WHERE vr = 1)
    SELECT true_label::BIGINT AS label,
           count(*)::BIGINT AS n_vecs,
           sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END)::BIGINT AS n_correct,
           floor((sum(CASE WHEN pred_label = true_label THEN 1 ELSE 0 END) * 1.0
                  / count(*)) * 10000 + 0.5)/10000.0 AS accuracy
    FROM pred GROUP BY true_label ORDER BY label
    """,
)
def q_knn_loo_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 5-NN label prediction over a deterministic md5
    sample of the embedding table: each sampled vector is classified by
    the majority label of its 5 nearest neighbors (dot ≡ cosine on unit
    vectors), and per-label accuracy is emitted — the
    embedding-quality eval a retrieval pipeline runs before trusting
    its vectors (labels that don't self-classify have no geometric
    cluster for ANN to find; compare `label_centroid_outliers`, which
    flags individual vectors, and `ann_srp_recall_eval`, which scores
    the index rather than the embedding).

    Determinism: the eval slice is an md5 bucket (no RNG); neighbor
    rank ties break by vec_id, majority-vote ties by smallest label;
    the dot product is the same sequential DOUBLE fold the KNN operators
    use, so both engines rank identically.

    Scale: LOO eval is quadratic BY DESIGN and therefore runs on a
    BOUNDED sample — the md5 bucket capped at the lowest-{{LOO_CAP}}
    vec_ids (a fraction alone still grows with the corpus: the 100× run
    measured 1,086 s before the cap); within the slice it is one
    self-join with the query side broadcast and a size-5
    WindowGroupLimit, vectors never shuffled.  Full-corpus neighbor
    search belongs to the SRP/IVF candidate paths.
    """
    from .functions.vector import dot_product

    emb = _t(spark, sf_dir, "embeddings")
    samp = emb.filter(salted_hash("looeval", "vec_id") % LOO_MOD == 0)
    # the cap (TakeOrderedAndProject) collapses to ONE partition — fan the
    # slice back out before materializing or the whole LOO scoring pass
    # runs as a single task (measured 0.04 s → 2.0 s at sf0.1 when the cap
    # first landed without this).  Round 12: `repartition("vec_id")` with
    # no explicit partition count is an AQE-coalescible exchange — the
    # ~500-row slice coalesced back to ONE partition and the quadratic
    # scoring pass (interpreted dot-product fold per pair) ran serial
    # again (measured 2.6 s at sf0.1).  fan_out pins an explicit count,
    # which AQE leaves alone.
    from .partitioning import fan_out

    samp = fan_out(
        samp.orderBy("vec_id").limit(LOO_CAP), "vec_id"
    ).localCheckpoint(eager=True)
    q = samp.select(
        F.col("vec_id").alias("q_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_emb"),
    )
    pairs = samp.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("q_id"))
    scored = pairs.select(
        "q_id",
        "true_label",
        F.col("label").alias("nbr_label"),
        "vec_id",
        dot_product("q_emb", "embedding").alias("s"),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("s"), F.asc("vec_id"))
    nn = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= LOO_K)
    wv = Window.partitionBy("q_id").orderBy(F.desc("v"), F.asc("nbr_label"))
    pred = (
        nn.groupBy("q_id", "true_label", "nbr_label")
        .agg(F.count(F.lit(1)).alias("v"))
        .withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
    )
    return (
        pred.groupBy(F.col("true_label").cast("long").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(F.when(F.col("nbr_label") == F.col("true_label"), 1).otherwise(0))
            .cast("long")
            .alias("n_correct"),
            F.expr(
                "CAST(floor((sum(CASE WHEN nbr_label = true_label THEN 1 ELSE 0 END) * 1.0"
                " / count(*)) * 10000 + 0.5)/10000.0 AS DOUBLE)"
            ).alias("accuracy"),
        )
        .orderBy("label")
    )



# ---------------------------------------------------------------------------
# Split-conformal prediction interval for a group-mean price model.
# ---------------------------------------------------------------------------
CONF_ALPHA_NUM = 9  # nominal coverage 9/10
_CONF_Y = "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"
_CONF_BUCKET = salted_hash_sql("conf", "l_orderkey", "l_linenumber", sep="-") + " % 5"


@register(
    "conformal_price_interval",
    oracle=f"""
    WITH li AS MATERIALIZED (
      SELECT l_returnflag AS rf, l_linestatus AS ls, {_CONF_Y} AS y,
             {_CONF_BUCKET} AS bucket
      FROM lineitem),
    model AS (
      SELECT rf, ls, {_fdiv("sum(y)", "count(*)")} AS mu
      FROM li WHERE bucket <= 2 GROUP BY rf, ls),
    cal AS (
      SELECT abs(li.y - m.mu)::BIGINT AS r
      FROM li JOIN model m ON li.rf = m.rf AND li.ls = m.ls
      WHERE li.bucket = 3),
    ncal AS (SELECT count(*)::BIGINT AS n_cal FROM cal),
    rk AS (SELECT r, row_number() OVER (ORDER BY r) AS rn FROM cal),
    qhat AS (
      SELECT min(r)::BIGINT AS q FROM rk CROSS JOIN ncal
      WHERE rn >= (({CONF_ALPHA_NUM} * (n_cal + 1)) + 9) // 10),
    test AS (
      SELECT abs(li.y - m.mu)::BIGINT AS r
      FROM li JOIN model m ON li.rf = m.rf AND li.ls = m.ls
      WHERE li.bucket = 4),
    ntr AS (SELECT count(*)::BIGINT AS n_train FROM li WHERE bucket <= 2)
    SELECT ntr.n_train, ncal.n_cal,
           count(*)::BIGINT AS n_test,
           qhat.q AS q_hat_cents,
           CAST(0.9 AS DOUBLE) AS nominal,
           floor((sum(CASE WHEN test.r <= qhat.q THEN 1 ELSE 0 END) * 1.0
                  / count(*)) * 10000 + 0.5)/10000.0 AS coverage
    FROM test CROSS JOIN qhat CROSS JOIN ncal CROSS JOIN ntr
    GROUP BY ntr.n_train, ncal.n_cal, qhat.q
    """,
)
def q_conformal_price_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval around a group-mean price
    model: fit per-(returnflag, linestatus) mean prices on an md5 60%
    train split, take q̂ = the ⌈0.9·(n+1)⌉-th smallest absolute residual
    on a disjoint calibration split, and report empirical coverage of
    μ ± q̂ on the held-out test split — the distribution-free interval
    whose ≥90% marginal coverage holds for ANY model, which is why
    conformal calibration is the production way to ship uncertainty
    from an engine that can't retrain per query.  Coverage landing near
    0.9 on the test split is the estimator working as guaranteed.

    Exactness: cents targets and md5 buckets are integers; the model is
    portable floor-division means; q̂ is an exact order statistic
    (min r with rank ≥ ⌈0.9(n+1)⌉, the ceiling done in integers as
    (9(n+1)+9)//10); coverage is one integer count with a single float
    division on emit.

    Scale: the fit is one groupBy over the train slice (6 groups); the
    quantile is a rank selection on the calibration slice (range-
    partitioned sort at cluster scale — the same global-order machinery
    the percentile queries use); coverage is one broadcast-joined scan
    of the test slice.  No step touches more than one pass over each
    split.
    """
    # Round 12: fan_out before the md5 ladder and a staged bucketed
    # checkpoint were both tried and MEASURED flat-to-worse at sf0.1 (the
    # serial exchange write costs what the parallelized md5 pass saves at
    # this size, and the staged variant adds an O(corpus) materialization
    # at scale).  The replayed-scan shape is kept; see OPTIMIZATION_r12.md.
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        F.col("l_linestatus").alias("ls"),
        F.expr(_CONF_Y).alias("y"),
        (salted_hash("conf", "l_orderkey", "l_linenumber", sep="-") % 5).alias("bucket"),
    )
    # checkpoint the tiny per-group model and the calibration residuals:
    # both fan out to multiple consumers and would lineage-replay the
    # lineitem scan per use (plan_audit measured 18 scans before)
    model = (
        li.filter(F.col("bucket") <= 2)
        .groupBy("rf", "ls")
        .agg(F.expr(_fdiv("sum(y)", "count(*)")).alias("mu"))
        .localCheckpoint(eager=True)
    )
    joined = li.join(F.broadcast(model), ["rf", "ls"])
    cal = joined.filter(F.col("bucket") == 3).select(
        F.abs(F.col("y") - F.col("mu")).cast("long").alias("r")
    ).localCheckpoint(eager=True)
    ncal = cal.agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
    # q-hat WITHOUT a partition-less window (round 7): the calibration
    # slice is O(corpus) and a bare Window.orderBy funneled it through ONE
    # task — measured at 100× as a 13–148 s single-partition sort (spill-
    # dependent).  global_order_stats ranks via range partitions + a
    # prefix over the tiny per-partition totals; `r` alone is not a total
    # order, but min(r | rank ≥ k) is tie-insensitive (any tie order
    # yields the k-th smallest value), so the result is bit-identical.
    from .partitioning import global_order_stats

    qhat = (
        global_order_stats(cal, ["r"])
        .crossJoin(F.broadcast(ncal))
        .filter(
            F.col("__rank") >= F.expr(f"(({CONF_ALPHA_NUM} * (n_cal + 1)) + 9) DIV 10")
        )
        .agg(F.min("r").cast("long").alias("q"))
    )
    ntr = li.filter(F.col("bucket") <= 2).agg(
        F.count(F.lit(1)).cast("long").alias("n_train")
    )
    test = joined.filter(F.col("bucket") == 4).select(
        F.abs(F.col("y") - F.col("mu")).cast("long").alias("r")
    )
    return (
        test.crossJoin(F.broadcast(qhat))
        .crossJoin(F.broadcast(ncal))
        .crossJoin(F.broadcast(ntr))
        .groupBy("n_train", "n_cal", "q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.expr(
                "CAST(floor((sum(CASE WHEN r <= q THEN 1 ELSE 0 END) * 1.0"
                " / count(*)) * 10000 + 0.5)/10000.0 AS DOUBLE)"
            ).alias("coverage"),
        )
        .select(
            "n_train",
            "n_cal",
            "n_test",
            F.col("q").alias("q_hat_cents"),
            F.lit(0.9).cast("double").alias("nominal"),
            "coverage",
        )
    )



# ---------------------------------------------------------------------------
# Decision trees: one level = a (node, feature, val) histogram and its best
# Gini split per node; the root level has no node key and one best split.
# ---------------------------------------------------------------------------
def _tree_best(rows: DataFrame, keys: list[str]) -> DataFrame:
    """Best split of each node of (keys…, feature, val, pos) rows, ties
    broken on (feature, val): a row_number per ``keys``, or a global
    top-1 when ``keys`` is empty.  `_tree_best_sql` is the DuckDB twin."""
    agg = rows.groupBy(*keys, "feature", "val").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("pos"),
    )
    scored = gini_split_scores(agg, keys)
    if not keys:
        return scored.orderBy(F.desc("gain_nano"), F.asc("feature"), F.asc("val")).limit(1)
    wr = Window.partitionBy(*keys).orderBy(F.desc("gain_nano"), F.asc("feature"), F.asc("val"))
    return scored.withColumn("rn", F.row_number().over(wr)).filter(F.col("rn") == 1).drop("rn")


def _tree_best_sql(agg: str, keys: list[str]) -> str:
    """Body of the CTE holding `_tree_best`'s rows, from the histogram
    CTE ``agg`` (keys…, feature, val, cnt, pos)."""
    scored = gini_split_scores_sql(agg, keys)
    if not keys:
        return f"""
      SELECT * FROM ({scored}) s
      ORDER BY gain_nano DESC, feature, val LIMIT 1"""
    return f"""
      SELECT * EXCLUDE (rn) FROM (
        SELECT *, row_number() OVER (PARTITION BY {", ".join(keys)}
                                     ORDER BY gain_nano DESC, feature, val) AS rn
        FROM ({scored}) s) x
      WHERE rn = 1"""


# ---------------------------------------------------------------------------
# Depth-2 decision tree (level-wise histogram growth) on the returns label.
# ---------------------------------------------------------------------------
def _tree_oracle() -> str:
    val_branches = "\n      UNION ALL ".join(
        f"SELECT '{name}' AS feature, {expr} AS val, {_STUMP_LABEL} AS pos"
        f" FROM lineitem"
        for name, expr in _STUMP_FEATURES
    )
    tagged_branches = "\n      UNION ALL ".join(
        f"SELECT node, '{name}' AS feature, {expr} AS val, pos FROM tag_li"
        for name, expr in _STUMP_FEATURES
    )
    chosen_val = (
        "CASE r.feature "
        + " ".join(f"WHEN '{name}' THEN {expr}" for name, expr in _STUMP_FEATURES)
        + " END"
    )
    return f"""
    WITH base AS MATERIALIZED ({val_branches}),
    agg0 AS (
      SELECT feature, val, count(*)::BIGINT AS cnt, sum(pos)::BIGINT AS pos
      FROM base GROUP BY 1, 2),
    root AS MATERIALIZED ({_tree_best_sql("agg0", [])}),
    tag_li AS MATERIALIZED (
      SELECT lineitem.*, {_STUMP_LABEL} AS pos,
             CASE WHEN ({chosen_val}) <= r.val
                  THEN 'left' ELSE 'right' END AS node
      FROM lineitem CROSS JOIN root r),
    tagged AS MATERIALIZED ({tagged_branches}),
    agg1 AS (
      SELECT node, feature, val, count(*)::BIGINT AS cnt, sum(pos)::BIGINT AS pos
      FROM tagged GROUP BY 1, 2, 3),
    childbest AS ({_tree_best_sql("agg1", ["node"])}),
    allnodes AS (
      SELECT 'root' AS node, feature, val, cum_n, cum_pos, n_tot, pos_tot, gain_nano
      FROM root
      UNION ALL
      SELECT node, feature, val, cum_n, cum_pos, n_tot, pos_tot, gain_nano
      FROM childbest)
    SELECT node, feature, val AS threshold,
           floor((gain_nano / 1000000000.0)*10000 + 0.5)/10000.0 AS gain,
           n_tot AS n_node, pos_tot AS pos_node,
           cum_n AS n_left, cum_pos AS pos_left,
           (n_tot - cum_n)::BIGINT AS n_right,
           (pos_tot - cum_pos)::BIGINT AS pos_right
    FROM allnodes ORDER BY node
    """


@register("decision_tree_depth2", oracle=_tree_oracle())
def q_decision_tree_depth2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-2 decision tree on the lineitem returns label, grown
    level-wise with the histogram algorithm: the root split is the exact
    Gini-gain argmax over all (feature, threshold) cells (the
    `decision_stump_returns` search, globalized); rows are then tagged
    left/right by ONE broadcast scalar, and each child runs the same
    histogram search on its slice — i.e. exactly how XGBoost/LightGBM
    grow a level, with the (node, feature, bin) histogram as the only
    shuffled state.  Emits root + both children with thresholds, gains
    and branch class counts.

    Determinism: histogram counts are exact integers; the Gini gain is
    ONE shared DOUBLE text (fixed operand order) nano-quantized before
    every argmax (`_tree_best` over `gini_split_scores`, both engines);
    argmax ties break (feature, val); the left/right tag compares the
    chosen feature's INTEGER value to the integer threshold.  Child nodes
    whose slice cannot split (single distinct value) would simply emit no
    row.

    Scale: two scans — one per tree level, NOT one per candidate split:
    each level is a partial-agg'd (node, feature, bin) histogram
    (bounded by Σ|feature domains| × nodes, ~320 cells here) plus a
    1-row TakeOrderedAndProject argmax broadcast back.  This is the
    reason histogram-based trees train on 100 TB: the shuffle carries
    histograms, never rows.
    """
    # Round 12: per-level fan_out and a staged fan_out+checkpoint of the 4
    # training columns were both tried and MEASURED not better at sf0.1
    # (exchange/job floor eats the parallelized explode; the staged
    # variant is an O(corpus) materialization at scale).  Kept as is.
    li = _t(spark, sf_dir, "lineitem")
    fv = F.explode(
        F.array(
            *[
                F.struct(F.lit(name).alias("feature"), F.expr(expr).alias("val"))
                for name, expr in _STUMP_FEATURES
            ]
        )
    ).alias("fv")
    base = li.select(fv, F.expr(_STUMP_LABEL).alias("pos")).select(
        "fv.feature", "fv.val", "pos"
    )
    root = _tree_best(base, []).localCheckpoint(eager=True)
    chosen_val = (
        "CASE r_feature "
        + " ".join(f"WHEN '{name}' THEN {expr}" for name, expr in _STUMP_FEATURES)
        + " END"
    )
    tagged = (
        li.crossJoin(
            F.broadcast(
                root.select(
                    F.col("feature").alias("r_feature"), F.col("val").alias("r_val")
                )
            )
        )
        .withColumn(
            "node",
            F.when(F.expr(chosen_val) <= F.col("r_val"), F.lit("left")).otherwise(
                F.lit("right")
            ),
        )
        .select("node", fv, F.expr(_STUMP_LABEL).alias("pos"))
        .select("node", "fv.feature", "fv.val", "pos")
    )
    childbest = _tree_best(tagged, ["node"])
    allnodes = root.withColumn("node", F.lit("root")).select(
        "node", "feature", "val", "cum_n", "cum_pos", "n_tot", "pos_tot", "gain_nano"
    ).unionByName(
        childbest.select(
            "node", "feature", "val", "cum_n", "cum_pos", "n_tot", "pos_tot", "gain_nano"
        )
    )
    return allnodes.select(
        "node",
        "feature",
        F.col("val").alias("threshold"),
        F.expr(
            "CAST(floor((gain_nano / 1000000000.0)*10000 + 0.5)/10000.0 AS DOUBLE)"
        ).alias("gain"),
        F.col("n_tot").alias("n_node"),
        F.col("pos_tot").alias("pos_node"),
        F.col("cum_n").alias("n_left"),
        F.col("cum_pos").alias("pos_left"),
        (F.col("n_tot") - F.col("cum_n")).cast("long").alias("n_right"),
        (F.col("pos_tot") - F.col("cum_pos")).cast("long").alias("pos_right"),
    ).orderBy("node")



# ---------------------------------------------------------------------------
# Depth-3 decision tree: the level-wise histogram machinery, composed.
# ---------------------------------------------------------------------------
def _tree3_oracle() -> str:
    val_branches = "\n      UNION ALL ".join(
        f"SELECT '{name}' AS feature, {expr} AS val, {_STUMP_LABEL} AS pos"
        f" FROM lineitem"
        for name, expr in _STUMP_FEATURES
    )
    tag1_branches = "\n      UNION ALL ".join(
        f"SELECT node, '{name}' AS feature, {expr} AS val, pos FROM tag1"
        for name, expr in _STUMP_FEATURES
    )
    tag2_branches = "\n      UNION ALL ".join(
        f"SELECT node2 AS node, '{name}' AS feature, {expr} AS val, pos FROM tag2"
        for name, expr in _STUMP_FEATURES
    )
    chosen_root = (
        "CASE r.feature "
        + " ".join(f"WHEN '{name}' THEN {expr}" for name, expr in _STUMP_FEATURES)
        + " END"
    )
    chosen_child = (
        "CASE cb.feature "
        + " ".join(f"WHEN '{name}' THEN {expr}" for name, expr in _STUMP_FEATURES)
        + " END"
    )
    return f"""
    WITH base AS MATERIALIZED ({val_branches}),
    agg0 AS (
      SELECT feature, val, count(*)::BIGINT AS cnt, sum(pos)::BIGINT AS pos
      FROM base GROUP BY 1, 2),
    root AS MATERIALIZED ({_tree_best_sql("agg0", [])}),
    tag1 AS MATERIALIZED (
      SELECT lineitem.*, {_STUMP_LABEL} AS pos,
             CASE WHEN ({chosen_root}) <= r.val
                  THEN 'left' ELSE 'right' END AS node
      FROM lineitem CROSS JOIN root r),
    t1 AS MATERIALIZED ({tag1_branches}),
    agg1 AS (
      SELECT node, feature, val, count(*)::BIGINT AS cnt, sum(pos)::BIGINT AS pos
      FROM t1 GROUP BY 1, 2, 3),
    lvl1 AS MATERIALIZED ({_tree_best_sql("agg1", ["node"])}),
    tag2 AS MATERIALIZED (
      SELECT tag1.*,
             tag1.node || '.' ||
             CASE WHEN ({chosen_child}) <= cb.val
                  THEN 'left' ELSE 'right' END AS node2
      FROM tag1 JOIN lvl1 cb ON tag1.node = cb.node),
    t2 AS MATERIALIZED ({tag2_branches}),
    agg2 AS (
      SELECT node, feature, val, count(*)::BIGINT AS cnt, sum(pos)::BIGINT AS pos
      FROM t2 GROUP BY 1, 2, 3),
    lvl2 AS MATERIALIZED ({_tree_best_sql("agg2", ["node"])}),
    allnodes AS (
      SELECT 'root' AS node, feature, val, cum_n, cum_pos, n_tot, pos_tot, gain_nano
      FROM root
      UNION ALL
      SELECT node, feature, val, cum_n, cum_pos, n_tot, pos_tot, gain_nano FROM lvl1
      UNION ALL
      SELECT node, feature, val, cum_n, cum_pos, n_tot, pos_tot, gain_nano FROM lvl2)
    SELECT node, feature, val AS threshold,
           floor((gain_nano / 1000000000.0)*10000 + 0.5)/10000.0 AS gain,
           n_tot AS n_node, pos_tot AS pos_node,
           cum_n AS n_left, cum_pos AS pos_left,
           (n_tot - cum_n)::BIGINT AS n_right,
           (pos_tot - cum_pos)::BIGINT AS pos_right
    FROM allnodes ORDER BY node
    """


@register("decision_tree_depth3", oracle=_tree3_oracle())
def q_decision_tree_depth3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-3 decision tree on the lineitem returns label — the
    `decision_tree_depth2` level-wise histogram machinery COMPOSED one
    level deeper, which is the claim that separates "a depth-2 demo"
    from "trees train at scale": each added level costs exactly one more
    scan + one more (node, feature, bin) histogram, never a per-node or
    per-candidate pass.  Emits root + 2 children + up to 4 grandchildren
    (nodes whose slice cannot split emit no row) with thresholds, gains
    and branch class counts; on this label-independent synthetic corpus
    the gains stay near zero at every depth — the honest no-signal read
    the stump/bagging family already established.

    Determinism: identical to depth-2 — exact integer histograms, the
    same `_tree_best` for every level's argmax, (feature, val)
    tie-breaks, integer threshold routing; level-2 node names are path
    strings ('left.right' = root-left then child-right).

    Scale: three scans — ONE PER LEVEL, the histogram-tree invariant.
    Each level's shuffle carries (node, feature, bin) cells (≤ nodes ×
    Σ|feature domains| ≈ 4 × 140 at depth 3), each split argmax is a
    broadcast-joined ≤ 4-row frame, and rows are re-tagged by comparing
    one integer column against a broadcast threshold — no row ever
    carries more than its tag.  Depth d ⇒ d scans and ≤ 2^d × cells
    shuffled; this is exactly why histogram GBDTs train on 100 TB.
    """
    # Round 12: same tried-and-reverted fan_out/staged-frame experiments
    # as decision_tree_depth2 (measured not better at sf0.1).
    li = _t(spark, sf_dir, "lineitem")
    fv = F.explode(
        F.array(
            *[
                F.struct(F.lit(name).alias("feature"), F.expr(expr).alias("val"))
                for name, expr in _STUMP_FEATURES
            ]
        )
    ).alias("fv")
    base = li.select(fv, F.expr(_STUMP_LABEL).alias("pos")).select(
        "fv.feature", "fv.val", "pos"
    )
    root = _tree_best(base, []).localCheckpoint(eager=True)
    chosen_root = (
        "CASE r_feature "
        + " ".join(f"WHEN '{name}' THEN {expr}" for name, expr in _STUMP_FEATURES)
        + " END"
    )
    tag1 = (
        li.crossJoin(
            F.broadcast(
                root.select(
                    F.col("feature").alias("r_feature"), F.col("val").alias("r_val")
                )
            )
        )
        .withColumn(
            "node",
            F.when(F.expr(chosen_root) <= F.col("r_val"), F.lit("left")).otherwise(
                F.lit("right")
            ),
        )
        .drop("r_feature", "r_val")
    )
    lvl1 = _tree_best(
        tag1.select("node", fv, F.expr(_STUMP_LABEL).alias("pos")).select(
            "node", "fv.feature", "fv.val", "pos"
        ),
        ["node"],
    ).localCheckpoint(eager=True)
    chosen_child = (
        "CASE c_feature "
        + " ".join(f"WHEN '{name}' THEN {expr}" for name, expr in _STUMP_FEATURES)
        + " END"
    )
    tag2 = (
        tag1.join(
            F.broadcast(
                lvl1.select(
                    "node",
                    F.col("feature").alias("c_feature"),
                    F.col("val").alias("c_val"),
                )
            ),
            "node",
        )
        .withColumn(
            "node2",
            F.concat(
                F.col("node"),
                F.lit("."),
                F.when(F.expr(chosen_child) <= F.col("c_val"), F.lit("left")).otherwise(
                    F.lit("right")
                ),
            ),
        )
        .drop("c_feature", "c_val")
    )
    lvl2 = _tree_best(
        tag2.select(
            F.col("node2").alias("node"), fv, F.expr(_STUMP_LABEL).alias("pos")
        ).select("node", "fv.feature", "fv.val", "pos"),
        ["node"],
    )
    cols = ["node", "feature", "val", "cum_n", "cum_pos", "n_tot", "pos_tot", "gain_nano"]
    allnodes = (
        root.withColumn("node", F.lit("root"))
        .select(*cols)
        .unionByName(lvl1.select(*cols))
        .unionByName(lvl2.select(*cols))
    )
    return allnodes.select(
        "node",
        "feature",
        F.col("val").alias("threshold"),
        F.expr(
            "CAST(floor((gain_nano / 1000000000.0)*10000 + 0.5)/10000.0 AS DOUBLE)"
        ).alias("gain"),
        F.col("n_tot").alias("n_node"),
        F.col("pos_tot").alias("pos_node"),
        F.col("cum_n").alias("n_left"),
        F.col("cum_pos").alias("pos_left"),
        (F.col("n_tot") - F.col("cum_n")).cast("long").alias("n_right"),
        (F.col("pos_tot") - F.col("cum_pos")).cast("long").alias("pos_right"),
    ).orderBy("node")



# ---------------------------------------------------------------------------
# Bagged stump split stability (Poisson bootstrap of the histogram argmax).
# ---------------------------------------------------------------------------
BAG_B = 16


def _bag_oracle() -> str:
    h_cols = ", ".join(
        f"md5('bagg{g}:' || rowsig) AS h{g}" for g in range(BAG_B // 4)
    )
    hsel = (
        "CASE (b // 4) "
        + " ".join(f"WHEN {g} THEN h{g}" for g in range(BAG_B // 4))
        + " END"
    )
    u = f"(('0x' || substr({hsel}, (b % 4) * 8 + 1, 8))::BIGINT)"
    val_branches = "\n      UNION ALL ".join(
        f"SELECT rowsig, {', '.join(f'h{g}' for g in range(BAG_B // 4))}, "
        f"'{name}' AS feature, {expr} AS val, {_STUMP_LABEL} AS pos FROM sig"
        for name, expr in _STUMP_FEATURES
    )
    return f"""
    WITH sig AS MATERIALIZED (
      SELECT *, CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)
                || '-' || CAST(CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT)
                               AS VARCHAR) AS rowsig0,
             {h_cols.replace("rowsig", "rowsig0")}
      FROM lineitem),
    fv AS MATERIALIZED ({val_branches.replace("rowsig, ", "rowsig0 AS rowsig, ")}),
    rep AS (
      SELECT f.feature, f.val, f.pos, b.b,
             {_pois_w(u.replace('(b ', '(b.b ').replace('(b %', '(b.b %'))} AS w
      FROM fv f CROSS JOIN (SELECT unnest(range(0, {BAG_B}))::BIGINT AS b) b),
    agg AS (
      SELECT b, feature, val, sum(w)::BIGINT AS cnt,
             sum(w * pos)::BIGINT AS pos
      FROM rep GROUP BY 1, 2, 3),
    winners AS (
      SELECT b, feature, val FROM (
        SELECT *, row_number() OVER (PARTITION BY b
                                     ORDER BY gain_nano DESC, feature, val) AS rn
        FROM ({gini_split_scores_sql("agg", ["b"], "n_tot > 0")}) s) x
      WHERE rn = 1)
    SELECT feature, val AS threshold, count(*)::BIGINT AS wins,
           {BAG_B}::BIGINT AS n_replicas
    FROM winners GROUP BY feature, val
    ORDER BY wins DESC, feature, threshold
    """


@register("bagging_split_stability", oracle=_bag_oracle())
def q_bagging_split_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap stability of the decision-stump split: 16 deterministic
    Poisson(1) bootstrap replicas (the `bootstrap_value_ci` md5 ladder)
    each rerun the exact histogram Gini argmax, and the output is the
    distribution of winning (feature, threshold) pairs across replicas —
    the model-stability diagnostic that separates a real split from a
    coin flip (`decision_tree_depth2`'s near-zero gains on this uniform
    corpus predict a scattered vote, and that scatter is the honest
    finding).  This is bagging's vote table, computed without training
    16 models row-by-row.

    Exactness: replica weights are integer Poisson ladder values from
    md5 uniforms (4 lanes per digest); weighted histogram counts are
    exact integer sums; the gains come from `gini_split_scores` (kept
    where n_tot > 0), argmax with (feature, val) tie-breaks per replica.

    Scale: the scan collapses straight onto the JOINT feature-value key
    ((q, d, t, label) packed into one long — ≤ 50·64·64·2 cells), with
    all 16 replica weights computed ONCE per data row as plain columns:
    no row ever fans out before the collapse, so the map side does
    B = 16 Poisson evaluations per row (not B × |features| — an earlier
    explode-first shape paid 5× that and it was the whole cold cost),
    and the shuffle carries ≤ ~10⁴ wide cells.  Per-feature marginals,
    the stack() unpivot to (replica, feature, bin), and all 16 argmax
    windows run on that constant-size aggregate.  This is why bagged
    tree ensembles train on 100 TB: replication happens in the
    sufficient statistics, not the data.
    """
    from .partitioning import fan_out

    # Round 12 (guide §2.6, measured): the 8.5 s "cold" was not Janino —
    # it was 600k rows × (4 md5 + 16 conv + 16 Poisson ladders) executing
    # on the fixture's ONE scan partition.  fan_out the narrow projection
    # the ladders actually need (no-op at scale).
    li = fan_out(
        _t(spark, sf_dir, "lineitem").select(
            "l_orderkey",
            "l_linenumber",
            "l_extendedprice",
            "l_quantity",
            "l_discount",
            "l_tax",
            "l_returnflag",
        ),
        "l_orderkey",
    )
    sig = li.withColumn(
        "rowsig",
        F.concat(
            F.col("l_orderkey").cast("string"),
            F.lit("-"),
            F.col("l_linenumber").cast("string"),
            F.lit("-"),
            F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long").cast("string"),
        ),
    )
    for g in range(BAG_B // 4):
        sig = sig.withColumn(
            f"h{g}", F.md5(F.concat(F.lit(f"bagg{g}:"), F.col("rowsig")))
        )

    def _w_expr(b: int) -> str:
        # replica b reads 32-bit lane b%4 of digest h{b//4}; constant
        # offsets let codegen skip the digest/lane dispatch CASEs.
        u = f"(CAST(conv(substr(h{b // 4}, {(b % 4) * 8 + 1}, 8), 16, 10) AS BIGINT))"
        return _pois_w(u)

    fexprs = [e for _, e in _STUMP_FEATURES]
    # radix-64 packing is safe: discount_pct <= 10, tax_pct <= 8 by schema.
    joint = (
        sig.select(
            F.expr(
                f"((({fexprs[0]}) * 64 + ({fexprs[1]})) * 64 + ({fexprs[2]}))"
                f" * 2 + ({_STUMP_LABEL})"
            ).alias("jk"),
            *[F.expr(_w_expr(b)).cast("long").alias(f"w{b}") for b in range(BAG_B)],
        )
        .groupBy("jk")
        .agg(*[F.sum(f"w{b}").cast("long").alias(f"c{b}") for b in range(BAG_B)])
    )
    decoded = joint.select(
        F.expr("jk DIV (64*64*2)").alias("v0"),
        F.expr("(jk DIV (64*2)) % 64").alias("v1"),
        F.expr("(jk DIV 2) % 64").alias("v2"),
        F.expr("jk % 2").alias("pos"),
        *[f"c{b}" for b in range(BAG_B)],
    )
    fv = decoded.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("feature"),
                        F.col(f"v{i}").cast("long").alias("val"),
                    )
                    for i, (name, _) in enumerate(_STUMP_FEATURES)
                ]
            )
        ).alias("p"),
        "pos",
        *[f"c{b}" for b in range(BAG_B)],
    ).select("p.feature", "p.val", "pos", *[f"c{b}" for b in range(BAG_B)])
    stack_args = ", ".join(f"{b}L, c{b}" for b in range(BAG_B))
    long_cells = fv.select(
        "feature", "val", "pos", F.expr(f"stack({BAG_B}, {stack_args}) AS (b, w)")
    )
    agg = long_cells.groupBy("b", "feature", "val").agg(
        F.sum("w").cast("long").alias("cnt"),
        F.sum(F.col("w") * F.col("pos")).cast("long").alias("pos"),
    )
    wr = Window.partitionBy("b").orderBy(
        F.desc("gain_nano"), F.asc("feature"), F.asc("val")
    )
    winners = (
        gini_split_scores(agg, ["b"], F.col("n_tot") > 0)
        .withColumn("rn", F.row_number().over(wr))
        .filter(F.col("rn") == 1)
    )
    return (
        winners.groupBy("feature", F.col("val").alias("threshold"))
        .agg(F.count(F.lit(1)).cast("long").alias("wins"))
        .withColumn("n_replicas", F.lit(BAG_B).cast("long"))
        .orderBy(F.desc("wins"), "feature", "threshold")
    )



# ---------------------------------------------------------------------------
# Mondrian (group-conditional) conformal coverage.
# ---------------------------------------------------------------------------
@register(
    "conformal_group_coverage",
    oracle=f"""
    WITH li AS MATERIALIZED (
      SELECT l_returnflag AS rf, l_linestatus AS ls, {_CONF_Y} AS y,
             {_CONF_BUCKET} AS bucket
      FROM lineitem),
    model AS (
      SELECT rf, ls, {_fdiv("sum(y)", "count(*)")} AS mu
      FROM li WHERE bucket <= 2 GROUP BY rf, ls),
    cal AS MATERIALIZED (
      SELECT li.rf, li.ls, abs(li.y - m.mu)::BIGINT AS r
      FROM li JOIN model m ON li.rf = m.rf AND li.ls = m.ls
      WHERE li.bucket = 3),
    ncal_g AS (SELECT rf, ls, count(*)::BIGINT AS n_cal FROM cal GROUP BY rf, ls),
    rk_g AS (
      SELECT rf, ls, r,
             row_number() OVER (PARTITION BY rf, ls ORDER BY r) AS rn
      FROM cal),
    qg AS (
      SELECT k.rf, k.ls, k.n_cal, min(r)::BIGINT AS q_group
      FROM rk_g j JOIN ncal_g k ON j.rf = k.rf AND j.ls = k.ls
      WHERE j.rn >= ((9 * (k.n_cal + 1)) + 9) // 10
      GROUP BY k.rf, k.ls, k.n_cal),
    ncal AS (SELECT count(*)::BIGINT AS n FROM cal),
    rk AS (SELECT r, row_number() OVER (ORDER BY r) AS rn FROM cal),
    qglob AS (
      SELECT min(r)::BIGINT AS q FROM rk CROSS JOIN ncal
      WHERE rn >= ((9 * (n + 1)) + 9) // 10),
    test AS (
      SELECT li.rf, li.ls, abs(li.y - m.mu)::BIGINT AS r
      FROM li JOIN model m ON li.rf = m.rf AND li.ls = m.ls
      WHERE li.bucket = 4)
    SELECT t.rf || '/' || t.ls AS grp, qg.n_cal, qg.q_group AS q_hat_group,
           qglob.q AS q_hat_global,
           count(*)::BIGINT AS n_test,
           floor((sum(CASE WHEN t.r <= qg.q_group THEN 1 ELSE 0 END) * 1.0
                  / count(*)) * 10000 + 0.5)/10000.0 AS coverage_group,
           floor((sum(CASE WHEN t.r <= qglob.q THEN 1 ELSE 0 END) * 1.0
                  / count(*)) * 10000 + 0.5)/10000.0 AS coverage_global
    FROM test t
    JOIN qg ON t.rf = qg.rf AND t.ls = qg.ls
    CROSS JOIN qglob
    GROUP BY t.rf, t.ls, qg.n_cal, qg.q_group, qglob.q
    ORDER BY grp
    """,
)
def q_conformal_group_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mondrian (group-conditional) conformal calibration, contrasted
    with the marginal interval: per (returnflag, linestatus) group, fit
    the group's own q̂ = ⌈0.9(n_g+1)⌉-th calibration residual and report
    held-out coverage under BOTH the group q̂ and the global q̂ from
    `conformal_price_interval`.  Split conformal only guarantees
    MARGINAL coverage — a heteroscedastic group can sit at 80% while the
    average reads 90%; Mondrian buys per-group validity at the price of
    smaller calibration sets.  The side-by-side coverage columns make
    that trade measurable, per group, in one query.

    Exactness: same md5 splits and floor-division model as the marginal
    query; each group's q̂ is an exact order statistic (integer ceiling
    rank); coverage is integer counting with one float division on emit.

    Scale: one global_order_stats ranking over (group, r) serves every
    per-group quantile — rank-in-group is the global rank minus the
    group's exclusive prefix count (a 6-row broadcast), so parallelism
    follows the range partitioning, not the Mondrian cell count; the
    global q̂ is a second ranking by r alone; everything else is the
    broadcast-joined one-pass shape of the marginal query.
    """
    # Round 12: same tried-and-reverted fan_out/staged-frame experiments
    # as the marginal query (measured flat-to-worse at sf0.1).
    li = _t(spark, sf_dir, "lineitem").select(
        F.col("l_returnflag").alias("rf"),
        F.col("l_linestatus").alias("ls"),
        F.expr(_CONF_Y).alias("y"),
        (salted_hash("conf", "l_orderkey", "l_linenumber", sep="-") % 5).alias("bucket"),
    )
    model = (
        li.filter(F.col("bucket") <= 2)
        .groupBy("rf", "ls")
        .agg(F.expr(_fdiv("sum(y)", "count(*)")).alias("mu"))
    )
    joined = li.join(F.broadcast(model), ["rf", "ls"])
    cal = joined.filter(F.col("bucket") == 3).select(
        "rf", "ls", F.abs(F.col("y") - F.col("mu")).cast("long").alias("r")
    ).localCheckpoint(eager=True)
    ncal_g = (
        cal.groupBy("rf", "ls")
        .agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
        .localCheckpoint(eager=True)  # 6 rows, two consumers below
    )
    # Per-group AND global q-hat from ONE scalable ranking (round 7): the
    # old plan put the O(corpus) calibration slice through a 6-partition
    # window (per-group rank, parallelism capped at the Mondrian cell
    # count) plus a partition-less window (global rank, ONE task —
    # measured 15→148 s run-to-run at 100×, spill-dependent).  Now one
    # global_order_stats over the total order (rf, ls, r): rows of a
    # group are contiguous, so rank-in-group = global rank − the group's
    # exclusive prefix count (a window over the 6-row group-count table,
    # broadcast back).  Ties in r are rank-order-arbitrary but
    # min(r | rank ≥ k) is tie-insensitive — results bit-identical.
    from .partitioning import global_order_stats

    ranked = global_order_stats(cal, ["rf", "ls", "r"])
    wg_off = Window.orderBy("rf", "ls").rowsBetween(Window.unboundedPreceding, -1)
    offs = ncal_g.select(
        "rf",
        "ls",
        "n_cal",
        F.coalesce(F.sum("n_cal").over(wg_off), F.lit(0)).cast("long").alias("goff"),
    )
    qg = (
        ranked.join(F.broadcast(offs), ["rf", "ls"])
        .filter(
            F.col("__rank") - F.col("goff")
            >= F.expr("((9 * (n_cal + 1)) + 9) DIV 10")
        )
        .groupBy("rf", "ls", "n_cal")
        .agg(F.min("r").cast("long").alias("q_group"))
    )
    ncal = cal.agg(F.count(F.lit(1)).cast("long").alias("n"))
    # the GLOBAL q-hat orders by r ALONE — a separate ranking (the
    # (rf, ls, r) ranking above would select by group-major order, not
    # by residual size); cal is checkpointed, so no scan replay
    qglob = (
        global_order_stats(cal, ["r"])
        .crossJoin(F.broadcast(ncal))
        .filter(F.col("__rank") >= F.expr("((9 * (n + 1)) + 9) DIV 10"))
        .agg(F.min("r").cast("long").alias("q"))
    )
    test = joined.filter(F.col("bucket") == 4).select(
        "rf", "ls", F.abs(F.col("y") - F.col("mu")).cast("long").alias("r")
    )
    return (
        test.join(F.broadcast(qg), ["rf", "ls"])
        .crossJoin(F.broadcast(qglob))
        .groupBy("rf", "ls", "n_cal", "q_group", "q")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.expr(
                "CAST(floor((sum(CASE WHEN r <= q_group THEN 1 ELSE 0 END) * 1.0"
                " / count(*)) * 10000 + 0.5)/10000.0 AS DOUBLE)"
            ).alias("coverage_group"),
            F.expr(
                "CAST(floor((sum(CASE WHEN r <= q THEN 1 ELSE 0 END) * 1.0"
                " / count(*)) * 10000 + 0.5)/10000.0 AS DOUBLE)"
            ).alias("coverage_global"),
        )
        .select(
            F.concat(F.col("rf"), F.lit("/"), F.col("ls")).alias("grp"),
            "n_cal",
            F.col("q_group").alias("q_hat_group"),
            F.col("q").alias("q_hat_global"),
            "n_test",
            "coverage_group",
            "coverage_global",
        )
        .orderBy("grp")
    )


# ---------------------------------------------------------------------------
# Gradient-boosted residual stumps (two least-squares boosting rounds).
# ---------------------------------------------------------------------------
GBDT_ROUNDS = 2
_GB_Y = "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"


# round's residuals).  ONE shared DOUBLE expression text -> IEEE-identical
# in both engines; [0, 1] so the nano-quantized argmax fits BIGINT.
_GB_R2 = (
    "(CASE WHEN CAST(ssq_tot AS DOUBLE) * CAST(n_tot AS DOUBLE)"
    "           <= CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) THEN 0.0"
    " ELSE (CAST(cum_s AS DOUBLE) * CAST(cum_s AS DOUBLE) / CAST(cum_n AS DOUBLE)"
    "       + CAST(s_tot - cum_s AS DOUBLE) * CAST(s_tot - cum_s AS DOUBLE)"
    "         / CAST(n_tot - cum_n AS DOUBLE)"
    "       - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))"
    "      / (CAST(ssq_tot AS DOUBLE)"
    "         - CAST(s_tot AS DOUBLE) * CAST(s_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))"
    " END)"
)


def _gb_features() -> list[tuple[str, str]]:
    return _STUMP_FEATURES


def _gb_assign_case(feats: list[str]) -> str:
    """Residual update: subtract the chosen stump's leaf delta, picking the
    split feature dynamically from the best-row scalars (bf, bv, vl, vr)."""
    picks = " ".join(
        f"WHEN bf = '{name}' THEN {name}" for name in feats[:-1]
    )
    return (
        f"CASE WHEN (CASE {picks} ELSE {feats[-1]} END) <= bv THEN vl ELSE vr END"
    )


def _gb_round_sql(rtab: str, t: int) -> str:
    """CTEs for boosting round t over residual table ``rtab`` (cols:
    feature columns + r): histogram cells, cumulative split stats, the
    nano-quantized global argmax, and the next residual table."""
    feats = _gb_features()
    branches = "\n        UNION ALL ".join(
        f"SELECT '{name}' AS feature, {name} AS val, r FROM {rtab}"
        for name, _ in feats
    )
    assign = _gb_assign_case([n for n, _ in feats])
    return f"""
    b{t} AS MATERIALIZED ({branches}),
    cells{t} AS (
      SELECT feature, val, count(*)::BIGINT AS cnt, sum(r)::BIGINT AS s,
             sum(r*r)::HUGEINT AS sq
      FROM b{t} GROUP BY 1, 2),
    cum{t} AS (
      SELECT feature, val,
             (sum(cnt) OVER w)::BIGINT AS cum_n,
             (sum(s) OVER w)::BIGINT AS cum_s,
             (sum(cnt) OVER f)::BIGINT AS n_tot,
             (sum(s) OVER f)::BIGINT AS s_tot,
             (sum(sq) OVER f)::HUGEINT AS ssq_tot
      FROM cells{t}
      WINDOW w AS (PARTITION BY feature ORDER BY val
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             f AS (PARTITION BY feature)),
    best{t} AS MATERIALIZED (
      SELECT feature AS bf, val AS bv, cum_n AS nl,
             (n_tot - cum_n)::BIGINT AS nr,
             {_fdiv("cum_s", "cum_n")} AS vl,
             {_fdiv("(s_tot - cum_s)", "(n_tot - cum_n)")} AS vr,
             floor(({_GB_R2})*1000000000 + 0.5)::BIGINT AS r2_nano
      FROM cum{t} WHERE cum_n < n_tot
      ORDER BY r2_nano DESC, feature, val LIMIT 1),
    r{t + 1} AS MATERIALIZED (
      SELECT {", ".join(n for n, _ in feats)},
             (r - ({assign}))::BIGINT AS r
      FROM {rtab} CROSS JOIN best{t})"""


def _gbdt_oracle() -> str:
    feats = _gb_features()
    cols = ", ".join(f"{expr} AS {name}" for name, expr in feats)
    rounds = "".join("," + _gb_round_sql(f"r{t}", t) for t in range(1, GBDT_ROUNDS + 1))
    round_rows = "\n    UNION ALL ".join(
        f"SELECT {t}::BIGINT AS round, bf AS feature, bv AS threshold,"
        f" nl AS n_left, nr AS n_right, vl AS delta_left_cents,"
        f" vr AS delta_right_cents,"
        f" floor((r2_nano/1000000000.0)*10000 + 0.5)/10000.0 AS split_r2"
        f" FROM best{t}"
        for t in range(1, GBDT_ROUNDS + 1)
    )
    return f"""
    WITH base AS MATERIALIZED (
      SELECT {cols}, {_GB_Y} AS y FROM lineitem),
    m0 AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS sy FROM base),
    f0 AS (SELECT n, {_fdiv("sy", "n")} AS f0 FROM m0),
    r1 AS MATERIALIZED (
      SELECT {", ".join(n for n, _ in feats)}, (y - f0)::BIGINT AS r
      FROM base CROSS JOIN f0){rounds}
    SELECT 0::BIGINT AS round, '__mean__' AS feature, -1::BIGINT AS threshold,
           n AS n_left, 0::BIGINT AS n_right, f0 AS delta_left_cents,
           f0 AS delta_right_cents, 0.0 AS split_r2
    FROM f0
    UNION ALL {round_rows}
    ORDER BY round
    """


@register("gbdt_residual_stumps", oracle=_gbdt_oracle())
def q_gbdt_residual_stumps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two rounds of least-squares gradient boosting with decision-stump
    base learners on lineitem price — the actual GBDT training step
    (fit a stump to the current residuals, subtract its leaf predictions,
    repeat), run as a declarative plan.  Round 0 is the global-mean base
    score; each round emits the chosen split, its leaf deltas (cents),
    and the variance-explained ratio of the split.

    Exactness: the target is cents; the base score and every leaf value
    are floor-divided integers, so residuals stay exact integers through
    all rounds.  Split search needs only per-(feature, value) residual
    sufficient statistics (count, Σr as BIGINT, Σr² as DECIMAL — the
    house second-moment headroom rule); the variance-explained ratio is
    ONE shared DOUBLE expression over those integers, ranked by its
    nano-quantized value with (feature, val) tie-break, so the argmax
    never compares floats.  Leaf means use a shared pmod floor-division
    text because Spark DIV truncates while DuckDB // floors — they
    diverge on the negative residual sums boosting produces.

    Scale: LightGBM's histogram algorithm, relationally — and (round 10,
    VERDICT r9 #2) the corpus is scanned exactly ONCE.  The residual of a
    row is ``y − pred`` where ``pred`` (base score + chosen leaf deltas)
    depends only on the row's FEATURE TUPLE, so ``(cnt, Σy, Σy²)`` per
    distinct (quantity, discount, tax) combo are sufficient statistics
    for every round's split search: Σr = Σy − pred·cnt and Σr² = Σy² −
    2·pred·Σy + pred²·cnt, all exact integer algebra (products in
    DECIMAL — the r9 PCA overflow rule).  The combo table is
    DOMAIN-bounded (≤ 50·11·9 ≈ 5k rows at any corpus size — the feature
    encodings are fixed TPC-H value grids), so after the single
    partial-agg'd scan every boosting round is constant-size work:
    per-feature cells from the combo table, windows, a
    TakeOrderedAndProject(1) argmax, and a broadcast residual update on
    the combos.  The r9 shape checkpointed the full per-ROW residual
    frame once per round (3 corpus-sized disk writes — measured
    24×/decade at the 1000× fixture on checkpoint I/O); rounds now add
    kilobyte-scale work, not corpus scans.
    """
    li = _t(spark, sf_dir, "lineitem")
    feats = _gb_features()
    fnames = [n for n, _ in feats]
    base = li.selectExpr(
        *[f"{expr} AS {name}" for name, expr in feats], f"{_GB_Y} AS y"
    )
    # The ONE corpus scan: domain-bounded combo histogram with exact
    # sufficient statistics.  Low-cardinality group keys -> map-side
    # combine collapses the scan (the opposite regime from the
    # corpus_entropy vocab-sized-key trap).  Tiny and multi-consumer
    # (every round's cells + the next round's update) -> eager checkpoint.
    hist = (
        base.groupBy(*fnames)
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("y").cast("long").alias("sy"),
            F.sum((F.col("y") * F.col("y")).cast("decimal(38,0)"))
            .cast("decimal(38,0)")
            .alias("syy"),
        )
        .localCheckpoint(eager=True)
    )
    m0 = hist.agg(
        F.sum("cnt").cast("long").alias("n"),
        F.sum("sy").cast("long").alias("sy"),
    )
    f0 = m0.selectExpr("n", f"{_fdiv('sy', 'n')} AS f0")
    # per-combo running prediction (base score now; + leaf deltas as
    # rounds are folded in).  |pred| stays far under 1e9 (cents-scale
    # leaf means), cnt under 1e13 even at 100 TB: declared DECIMAL widths
    # keep every product exact and inside Spark's 38-digit cap.
    cur = hist.crossJoin(F.broadcast(f0)).selectExpr(
        *fnames, "cnt", "sy", "syy", "CAST(f0 AS BIGINT) AS pred"
    ).localCheckpoint(eager=True)
    out = f0.selectExpr(
        "CAST(0 AS BIGINT) AS round",
        "'__mean__' AS feature",
        "CAST(-1 AS BIGINT) AS threshold",
        "n AS n_left",
        "CAST(0 AS BIGINT) AS n_right",
        "f0 AS delta_left_cents",
        "f0 AS delta_right_cents",
        "CAST(0.0 AS DOUBLE) AS split_r2",
    )
    assign = _gb_assign_case(fnames)
    w_cum = (
        Window.partitionBy("feature")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_tot = Window.partitionBy("feature")
    # Per-combo residual stats from the sufficient statistics — exact
    # integer algebra, products in DECIMAL (declared widths: |pred| < 1e9,
    # cnt < 1e14, |sy| < 1e21, syy < 1e38; every product stays <= 38).
    rs_expr = (
        "CAST(CAST(sy AS DECIMAL(25,0)) - CAST(pred AS DECIMAL(10,0))"
        " * CAST(cnt AS DECIMAL(14,0)) AS DECIMAL(25,0)) AS rs"
    )
    # pred is cast at the SAME DECIMAL(10,0) width in rs and rsq (ADVICE
    # r10): at DECIMAL(9,0) a |pred| reaching 1e9 would NULL silently
    # under non-ANSI mode and corrupt the split argmax while rs stayed
    # exact; 10 digits keeps both expressions consistent and every
    # product width <= 38 (10+21+1 = 32; 10+10+1=21, +14+1 = 36).
    rsq_expr = (
        "CAST(syy - 2 * (CAST(pred AS DECIMAL(10,0)) * CAST(sy AS DECIMAL(21,0)))"
        " + (CAST(pred AS DECIMAL(10,0)) * CAST(pred AS DECIMAL(10,0)))"
        " * CAST(cnt AS DECIMAL(14,0)) AS DECIMAL(38,0)) AS rsq"
    )
    for t in range(1, GBDT_ROUNDS + 1):
        cells = (
            cur.selectExpr(*fnames, "cnt", rs_expr, rsq_expr)
            .select(
                F.explode(
                    F.array(
                        *[
                            F.struct(
                                F.lit(name).alias("feature"),
                                F.col(name).alias("val"),
                            )
                            for name in fnames
                        ]
                    )
                ).alias("fv"),
                "cnt",
                "rs",
                "rsq",
            )
            .select("fv.feature", "fv.val", "cnt", "rs", "rsq")
            .groupBy("feature", "val")
            .agg(
                F.sum("cnt").cast("long").alias("cnt"),
                F.sum("rs").cast("long").alias("s"),
                F.sum("rsq").cast("decimal(38,0)").alias("sq"),
            )
        )
        cum = cells.select(
            "feature",
            "val",
            F.sum("cnt").over(w_cum).cast("long").alias("cum_n"),
            F.sum("s").over(w_cum).cast("long").alias("cum_s"),
            F.sum("cnt").over(w_tot).cast("long").alias("n_tot"),
            F.sum("s").over(w_tot).cast("long").alias("s_tot"),
            F.sum("sq").over(w_tot).cast("decimal(38,0)").alias("ssq_tot"),
        )
        best = (
            cum.filter(F.col("cum_n") < F.col("n_tot"))
            .selectExpr(
                "feature AS bf",
                "val AS bv",
                "cum_n AS nl",
                "CAST(n_tot - cum_n AS BIGINT) AS nr",
                f"{_fdiv('cum_s', 'cum_n')} AS vl",
                f"{_fdiv('(s_tot - cum_s)', '(n_tot - cum_n)')} AS vr",
                f"CAST(floor(({_GB_R2})*1000000000 + 0.5) AS BIGINT) AS r2_nano",
            )
            .orderBy(F.desc("r2_nano"), F.asc("bf"), F.asc("bv"))
            .limit(1)
        )
        out = out.unionAll(
            best.selectExpr(
                f"CAST({t} AS BIGINT) AS round",
                "bf AS feature",
                "bv AS threshold",
                "nl AS n_left",
                "nr AS n_right",
                "vl AS delta_left_cents",
                "vr AS delta_right_cents",
                "CAST(floor((r2_nano/1000000000.0)*10000 + 0.5)/10000.0 AS DOUBLE)"
                " AS split_r2",
            )
        )
        cur = cur.crossJoin(F.broadcast(best)).selectExpr(
            *fnames, "cnt", "sy", "syy",
            f"CAST(pred + ({assign}) AS BIGINT) AS pred",
        ).localCheckpoint(eager=True)
    return out.orderBy("round")
