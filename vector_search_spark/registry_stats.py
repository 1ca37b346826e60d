"""Registry entries: statistical inference and experimentation (robust centers, A/B monitors and tests, Mann–Kendall trend, survival, calibration, k-anonymity).

Query names and oracle texts are the stable contract; module moves keep
them byte-identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import register
from .sources.tables import load_table as _t


# ---------------------------------------------------------------------------
# Kaplan–Meier conversion survival (signup → first purchase, censored).
# ---------------------------------------------------------------------------
_KM_LNFAC = (
    "CAST(floor(ln(CAST(n_risk - n_events AS DOUBLE) / CAST(n_risk AS DOUBLE))"
    " * 1000000.0 + 0.5) AS BIGINT)"
)
_KM_SURV = "exp(CAST(cum_ln AS DOUBLE) / 1000000.0)"


@register(
    "kaplan_meier_conversion",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS us, event_type FROM events),
    horizon AS (SELECT max(us)::BIGINT AS h FROM e),
    t0 AS (
      SELECT user_id, min(CASE WHEN event_type = 'signup' THEN us END)::BIGINT AS s_us
      FROM e GROUP BY user_id HAVING s_us IS NOT NULL),
    conv AS (
      SELECT t0.user_id, t0.s_us,
             min(CASE WHEN e.event_type = 'purchase' AND e.us > t0.s_us
                      THEN e.us END)::BIGINT AS p_us
      FROM t0 JOIN e ON e.user_id = t0.user_id
      GROUP BY t0.user_id, t0.s_us),
    dur AS (
      SELECT user_id,
             CASE WHEN p_us IS NOT NULL THEN (p_us - s_us) // 86400000000
                  ELSE ((SELECT h FROM horizon) - s_us) // 86400000000
             END AS d,
             CASE WHEN p_us IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM conv),
    days AS (
      SELECT d, sum(ev)::BIGINT AS n_events,
             sum(1 - ev)::BIGINT AS n_censored
      FROM dur GROUP BY d),
    risk AS (
      SELECT d, n_events, n_censored,
             sum(n_events + n_censored)
               OVER (ORDER BY d DESC ROWS UNBOUNDED PRECEDING)::BIGINT AS n_risk
      FROM days),
    evd AS (
      SELECT d, n_risk, n_events, n_censored,
             {_KM_LNFAC} AS lnfac
      FROM risk WHERE n_events > 0 AND n_risk > n_events),
    surv AS (
      SELECT d, n_risk, n_events, n_censored,
             sum(lnfac) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING)::BIGINT AS cum_ln
      FROM evd)
    SELECT d::BIGINT AS duration_days, n_risk, n_events, n_censored,
           floor(({_KM_SURV})*10000 + 0.5)/10000.0 AS survival
    FROM surv ORDER BY duration_days
    """,
)
def q_kaplan_meier_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan–Meier survival curve for signup→first-purchase conversion
    with right censoring: per user, duration = days from first signup to
    first strictly-later purchase, censored at the data horizon when no
    purchase follows; S(d) = Π_{{event days ≤ d}} (1 − d_i/n_i) over
    risk sets that shrink by both events and censorings — THE estimator
    for "how long until users convert" that naive latency averages get
    wrong by silently dropping the users who never did (compare
    `conversion_latency_percentiles`, which conditions on conversion).

    Exactness: durations and risk-set counts are exact integers; each
    event day contributes ONE shared ln((n−d)/n) quantized to micro-nats
    BEFORE the cumulative sum (an ordered prefix sum over the day-level
    aggregate — deterministic under any partitioning); survival is
    exp(cum/1e6) floor-quantized on emit.  Days with n_events = 0 add no
    factor (censoring-only days shape n_risk, not S), matching the
    estimator's definition.

    Scale: everything upstream is two partial-agg'd groupBys over events
    (per-user firsts, then per-day counts); the windows run on the
    AGGREGATE day table (one row per duration day — decades ≈ 10⁴ rows),
    so the unpartitioned prefix sums cost nothing at any corpus size.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id",
        F.expr("unix_micros(ts)").alias("us"),
        "event_type",
    )
    horizon = ev.agg(F.max("us").cast("long").alias("h"))
    t0 = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("us")))
            .cast("long")
            .alias("s_us")
        )
        .filter(F.col("s_us").isNotNull())
    )
    conv = (
        t0.join(ev, "user_id")
        .groupBy("user_id", "s_us")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("us") > F.col("s_us")),
                    F.col("us"),
                )
            )
            .cast("long")
            .alias("p_us")
        )
    )
    dur = conv.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("p_us").isNotNull(),
            F.expr("(p_us - s_us) DIV 86400000000"),
        )
        .otherwise(F.expr("(h - s_us) DIV 86400000000"))
        .alias("d"),
        F.when(F.col("p_us").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    days = dur.groupBy("d").agg(
        F.sum("ev").cast("long").alias("n_events"),
        F.sum(1 - F.col("ev")).cast("long").alias("n_censored"),
    )
    w_risk = Window.orderBy(F.desc("d")).rowsBetween(Window.unboundedPreceding, 0)
    risk = days.withColumn(
        "n_risk",
        F.sum(F.col("n_events") + F.col("n_censored")).over(w_risk).cast("long"),
    )
    evd = risk.filter((F.col("n_events") > 0) & (F.col("n_risk") > F.col("n_events"))).withColumn(
        "lnfac", F.expr(_KM_LNFAC)
    )
    w_surv = Window.orderBy(F.asc("d")).rowsBetween(Window.unboundedPreceding, 0)
    surv = evd.withColumn("cum_ln", F.sum("lnfac").over(w_surv).cast("long"))
    return surv.select(
        F.col("d").cast("long").alias("duration_days"),
        "n_risk",
        "n_events",
        "n_censored",
        F.expr(f"CAST(floor(({_KM_SURV})*10000 + 0.5)/10000.0 AS DOUBLE)").alias("survival"),
    ).orderBy("duration_days")



# ---------------------------------------------------------------------------
# Exact two-sided trimmed mean per event type (histogram route).
# ---------------------------------------------------------------------------
TRIM_DIV = 10  # trim floor(n/TRIM_DIV) from each side (10 => 10% two-sided)
_TRIM_MEAN = "(CAST(s_kept AS DOUBLE) / CAST(c_kept AS DOUBLE)) / 100.0"
_RAW_MEAN = "(CAST(s_all AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0"


@register(
    "trimmed_mean_value",
    oracle=f"""
    WITH cents AS (
      SELECT event_type, floor(value*100 + 0.5)::BIGINT AS c FROM events),
    hist AS (
      SELECT event_type, c, count(*)::BIGINT AS cnt
      FROM cents GROUP BY 1, 2),
    cum AS (
      SELECT event_type, c, cnt,
             (sum(cnt) OVER (PARTITION BY event_type ORDER BY c
                             ROWS UNBOUNDED PRECEDING))::BIGINT AS cum,
             (sum(cnt) OVER (PARTITION BY event_type))::BIGINT AS n
      FROM hist),
    kept AS (
      SELECT event_type, n, (n // {TRIM_DIV})::BIGINT AS k,
             greatest(0, least(cum, n - (n // {TRIM_DIV}))
                         - greatest(cum - cnt + 1, (n // {TRIM_DIV}) + 1) + 1) AS kc,
             c
      FROM cum),
    agg AS (
      SELECT event_type, n, k,
             sum(kc)::BIGINT AS c_kept, sum(kc::HUGEINT * c) AS s_kept
      FROM kept GROUP BY 1, 2, 3),
    raw AS (
      SELECT event_type, sum(c)::BIGINT AS s_all FROM cents GROUP BY 1)
    SELECT a.event_type, a.n, a.k AS n_trimmed_each_side,
           floor(({_TRIM_MEAN})*10000 + 0.5)/10000.0 AS trimmed_mean,
           floor(({_RAW_MEAN})*10000 + 0.5)/10000.0 AS raw_mean
    FROM agg a JOIN raw r ON a.event_type = r.event_type
    ORDER BY a.event_type
    """,
)
def q_trimmed_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10% two-sided trimmed mean of event value per event type —
    the outlier-robust center the raw mean isn't (one fat-finger
    purchase at 10⁶ moves the mean, not the trimmed mean), beside
    `robust_mad_outliers` (which flags rows) and
    `event_value_percentiles` (which reports quantiles, not a center).
    Emitted beside the raw mean so the gap itself is the tail-mass
    diagnostic.

    Exactness: ranks never materialize per row — the per-type cents
    HISTOGRAM (value, count) carries cumulative ranks, and each value
    contributes kc = overlap(|its rank interval ∩ [k+1, n−k]|) rows to
    the kept sum, which handles ties straddling the trim boundary
    exactly; k = n//10 in integers; the kept-sum accumulates kc·c in
    DECIMAL(38,0)/HUGEINT (kc can approach n, so the product would wrap
    BIGINT on large corpora) with ONE shared float division per emitted
    mean.

    Scale: this is the histogram trick again — the shuffle carries
    (type, cents-value) cells (bounded by the value domain, not the row
    count), the windows run per type over those AGGREGATE cells, and no
    per-row global sort ever happens.  A naive row_number() approach
    would single-task each type's full slice at 100 TB; this shape
    cannot.
    """
    ev = _t(spark, sf_dir, "events")
    cents = ev.select(
        "event_type", F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c")
    )
    # checkpoint the (type, value) histogram: it fans out to the kept sum
    # AND the raw mean — one corpus scan, not two
    hist = cents.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).localCheckpoint(eager=True)
    w = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "c",
        "cnt",
        F.sum("cnt").over(w).cast("long").alias("cum"),
        F.sum("cnt").over(wt).cast("long").alias("n"),
    )
    kept = cum.select(
        "event_type",
        "n",
        F.expr(f"n DIV {TRIM_DIV}").cast("long").alias("k"),
        F.expr(
            f"greatest(0, least(cum, n - (n DIV {TRIM_DIV}))"
            f" - greatest(cum - cnt + 1, (n DIV {TRIM_DIV}) + 1) + 1)"
        ).alias("kc"),
        "c",
    )
    agg = kept.groupBy("event_type", "n", "k").agg(
        F.sum("kc").cast("long").alias("c_kept"),
        F.sum(F.col("kc").cast("decimal(38,0)") * F.col("c")).alias("s_kept"),
    )
    # raw sum from the SAME histogram cells: sum(c) over rows == sum(cnt*c)
    # over cells, an exact integer identity
    raw = hist.groupBy("event_type").agg(
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("c")).alias("s_all")
    )
    return (
        agg.join(raw, "event_type")
        .select(
            "event_type",
            "n",
            F.col("k").alias("n_trimmed_each_side"),
            F.expr(f"CAST(floor(({_TRIM_MEAN})*10000 + 0.5)/10000.0 AS DOUBLE)").alias(
                "trimmed_mean"
            ),
            F.expr(f"CAST(floor(({_RAW_MEAN})*10000 + 0.5)/10000.0 AS DOUBLE)").alias(
                "raw_mean"
            ),
        )
        .orderBy("event_type")
    )



# ---------------------------------------------------------------------------
# Two-model uplift by activity segment (md5 treatment assignment).
# ---------------------------------------------------------------------------
_UPLIFT = (
    "(CASE WHEN n_t = 0 OR n_c = 0 THEN CAST(0.0 AS DOUBLE)"
    " ELSE CAST(conv_t AS DOUBLE)/CAST(n_t AS DOUBLE)"
    " - CAST(conv_c AS DOUBLE)/CAST(n_c AS DOUBLE) END)"
)
_UPLIFT_P = "((CAST(conv_t AS DOUBLE) + CAST(conv_c AS DOUBLE)) / (CAST(n_t AS DOUBLE) + CAST(n_c AS DOUBLE)))"
# Degenerate-segment guard (found by the round-6 full-registry invariance
# sweep at sf0.001): a segment whose treatment or control arm is EMPTY, or
# whose pooled rate is 0 or 1, has zero variance — the z statistic is
# undefined and the raw expression divides by zero (Spark ANSI errors,
# DuckDB errors).  Emit z = 0.0 for those segments (no evidence either
# way); the guard is a no-op at sf >= 0.01 where every segment has both
# arms and a mixed pooled rate, so oracle bit-parity is untouched — the
# same clamp discipline as the SPRT p0/p1 guards.
_UPLIFT_DEGENERATE = (
    "(n_t = 0 OR n_c = 0 OR (conv_t + conv_c) = 0"
    " OR (conv_t + conv_c) = (n_t + n_c))"
)
_UPLIFT_Z = (
    f"(CASE WHEN {_UPLIFT_DEGENERATE} THEN CAST(0.0 AS DOUBLE)"
    f" ELSE ({_UPLIFT} / sqrt({_UPLIFT_P} * (1.0 - {_UPLIFT_P})"
    f" * (1.0/CAST(n_t AS DOUBLE) + 1.0/CAST(n_c AS DOUBLE)))) END)"
)


@register(
    "uplift_by_segment",
    oracle=f"""
    WITH usr AS (
      SELECT user_id, count(*)::BIGINT AS n_ev,
             CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) >= 14
                  THEN 1 ELSE 0 END AS conv
      FROM events GROUP BY user_id),
    seg AS (
      SELECT user_id, conv,
             CASE WHEN n_ev < 62 THEN 'low'
                  WHEN n_ev < 72 THEN 'mid' ELSE 'high' END AS segment,
             ('0x' || substr(md5('uplift' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm
      FROM usr),
    cells AS (
      SELECT segment,
             sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n_t,
             sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n_c,
             sum(CASE WHEN arm = 1 THEN conv ELSE 0 END)::BIGINT AS conv_t,
             sum(CASE WHEN arm = 0 THEN conv ELSE 0 END)::BIGINT AS conv_c
      FROM seg GROUP BY segment)
    SELECT segment, n_t, n_c, conv_t, conv_c,
           floor(({_UPLIFT})*10000 + 0.5)/10000.0 AS uplift,
           floor(({_UPLIFT_Z})*10000 + 0.5)/10000.0 AS z
    FROM cells ORDER BY segment
    """,
)
def q_uplift_by_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-model uplift analysis by user-activity segment: users are
    md5-assigned to treatment/control at the USER level (the unit of
    randomization a real experiment uses — event-level splits leak the
    same user into both arms), conversion = a heavy-purchaser flag
    (≥14 purchases, the corpus median — every synthetic user purchases
    at least once, so "any purchase" would be degenerate), and each
    activity segment reports Δ = p_t − p_c with its pooled two-proportion
    z — the heterogeneous-treatment-effect readout that decides who a
    feature actually helps.  On this synthetic corpus the md5 arms are
    exchangeable, so uplift ≈ 0 with |z| < 2 in every segment — the
    correct A/A-test reading, which is exactly what this audit is for
    (a significant segment under a null assignment means the analysis,
    not the feature, is broken).

    Exactness: cells are four integer counts per segment; uplift and z
    are ONE shared DOUBLE text each (pooled variance, fixed operand
    order), floor-quantized on emit.

    Scale: one partial-agg'd groupBy(user) then a 3-row segment
    aggregate — the scan is the whole cost.
    """
    ev = _t(spark, sf_dir, "events")
    usr = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_ev"),
        F.when(
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0)) >= 14, 1
        )
        .otherwise(0)
        .cast("long")
        .alias("conv"),
    )
    seg = usr.select(
        "conv",
        F.when(F.col("n_ev") < 62, "low")
        .when(F.col("n_ev") < 72, "mid")
        .otherwise("high")
        .alias("segment"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("uplift"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm"),
    )
    cells = seg.groupBy("segment").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n_t"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n_c"),
        F.sum(F.when(F.col("arm") == 1, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_t"),
        F.sum(F.when(F.col("arm") == 0, F.col("conv")).otherwise(0))
        .cast("long")
        .alias("conv_c"),
    )
    return cells.select(
        "segment",
        "n_t",
        "n_c",
        "conv_t",
        "conv_c",
        F.expr(f"CAST(floor(({_UPLIFT})*10000 + 0.5)/10000.0 AS DOUBLE)").alias("uplift"),
        F.expr(f"CAST(floor(({_UPLIFT_Z})*10000 + 0.5)/10000.0 AS DOUBLE)").alias("z"),
    ).orderBy("segment")



# ---------------------------------------------------------------------------
# k-anonymity audit over event quasi-identifiers.
# ---------------------------------------------------------------------------
KANON_K = 10


@register(
    "k_anonymity_audit",
    oracle=f"""
    WITH qi AS (
      SELECT event_type,
             (hour(ts)::BIGINT // 6) AS hour_band,
             CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) % 7 AS dow
      FROM events),
    grp AS (
      SELECT event_type, hour_band, dow, count(*)::BIGINT AS sz
      FROM qi GROUP BY 1, 2, 3)
    SELECT event_type,
           count(*)::BIGINT AS n_groups,
           sum(CASE WHEN sz < {KANON_K} THEN 1 ELSE 0 END)::BIGINT AS n_below_k,
           coalesce(sum(CASE WHEN sz < {KANON_K} THEN sz END), 0)::BIGINT
             AS rows_below_k,
           min(sz)::BIGINT AS min_group_size
    FROM grp GROUP BY event_type ORDER BY event_type
    """,
)
def q_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit of the events table over the quasi-identifier
    tuple (event_type, 6-hour band, day-of-week): per event type, how
    many QI groups exist, how many fall below k = 10, how many ROWS sit
    in those under-k groups (the re-identification exposure), and the
    smallest group — the release-gate a privacy review runs before any
    event-level extract ships (a group of size 1 is a fingerprint; the
    `dp_noisy_counts` operator is the remediation for the cells this
    audit flags).

    Exactness: pure integer counting — group sizes, threshold counts,
    minima; the Sunday-0 day key and 6-hour banding match
    `dow_chi_square`'s normalization in both engines.

    Scale: one partial-agg'd groupBy over the QI tuple (bounded by the
    QI domain, 5×4×7 = 140 cells here) then a per-type fold — nothing
    but the scan, which is the defining property of a QI audit you can
    afford to run on every extract.
    """
    ev = _t(spark, sf_dir, "events")
    qi = ev.select(
        "event_type",
        F.expr("CAST(hour(ts) AS BIGINT) DIV 6").alias("hour_band"),
        ((F.dayofweek(F.col("ts").cast("date")).cast("long") - 1) % 7).alias("dow"),
    )
    grp = qi.groupBy("event_type", "hour_band", "dow").agg(
        F.count(F.lit(1)).cast("long").alias("sz")
    )
    return (
        grp.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_groups"),
            F.sum(F.when(F.col("sz") < KANON_K, 1).otherwise(0))
            .cast("long")
            .alias("n_below_k"),
            F.coalesce(F.sum(F.when(F.col("sz") < KANON_K, F.col("sz"))), F.lit(0))
            .cast("long")
            .alias("rows_below_k"),
            F.min("sz").cast("long").alias("min_group_size"),
        )
        .orderBy("event_type")
    )



# ---------------------------------------------------------------------------
# SPRT sequential A/B monitor on daily conversion (A/A arms).
# ---------------------------------------------------------------------------
SPRT_THRESH_MICRO = 2_944_439  # ln(0.95/0.05) in micro-nats (alpha = beta = 0.05)
# p0 guarded away from 0 (greatest(cx,1)) and p1 clamped below 1 so the two
# ln() terms never see a non-positive argument — a control rate of exactly 0
# or >= 0.95 would otherwise turn the LLR into NaN/Inf with no warning.  On
# any corpus where 0 < p0 < 0.95 - eps (every real one) the clamps are
# no-ops, so the shared expression text stays bit-identical across engines.
_SPRT_P0 = "(CAST(greatest(cx, 1) AS DOUBLE) / CAST(cn AS DOUBLE))"
_SPRT_P1 = f"least({_SPRT_P0} + 0.05, 0.999999)"
_SPRT_LLR = (
    f"CAST(floor((CAST(x AS DOUBLE) * ln({_SPRT_P1} / {_SPRT_P0})"
    f" + CAST(n - x AS DOUBLE) * ln((1.0 - {_SPRT_P1}) / (1.0 - {_SPRT_P0})))"
    f" * 1000000.0 + 0.5) AS BIGINT)"
)


@register(
    "ab_sprt_monitor",
    oracle=f"""
    WITH ud AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
             ('0x' || substr(md5('sprt' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm
      FROM events GROUP BY user_id, CAST(ts AS DATE)),
    ctl AS (
      SELECT count(*)::BIGINT AS cn, sum(conv)::BIGINT AS cx
      FROM ud WHERE arm = 0),
    trt AS (
      SELECT day, count(*)::BIGINT AS n, sum(conv)::BIGINT AS x
      FROM ud WHERE arm = 1 GROUP BY day),
    idx AS (
      SELECT (day - (SELECT min(day) FROM trt))::BIGINT AS day_idx, n, x
      FROM trt),
    llr AS (
      SELECT day_idx, n, x, {_SPRT_LLR} AS l
      FROM idx CROSS JOIN ctl),
    cum AS (
      SELECT day_idx, n, x,
             (sum(l) OVER (ORDER BY day_idx ROWS UNBOUNDED PRECEDING))::BIGINT
               AS cum_l
      FROM llr),
    crossing AS (
      SELECT coalesce(min(day_idx), (SELECT max(day_idx) FROM cum))::BIGINT AS cd
      FROM cum WHERE cum_l >= {SPRT_THRESH_MICRO} OR cum_l <= -{SPRT_THRESH_MICRO})
    SELECT day_idx, n AS n_trials, x AS successes,
           floor((CAST(cum_l AS DOUBLE) / 1000000.0)*10000 + 0.5)/10000.0 AS cum_llr,
           CASE WHEN cum_l >= {SPRT_THRESH_MICRO} THEN 'accept_h1'
                WHEN cum_l <= -{SPRT_THRESH_MICRO} THEN 'accept_h0'
                ELSE 'continue' END AS state
    FROM cum CROSS JOIN crossing
    WHERE day_idx <= cd
    ORDER BY day_idx
    """,
)
def q_ab_sprt_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's sequential probability ratio test run as a daily A/B
    monitor: treatment user-days stream in day by day, and the running
    log-likelihood ratio of H1 (conversion lifted +5 pp over the control
    rate) vs H0 (equal to control) is compared to the ±ln(0.95/0.05)
    boundaries (α = β = 0.05) — the early-stopping discipline that
    replaces the invalid "peek at the z-test every day" habit
    (`ab_test_zscore` is the fixed-horizon companion; this is the
    anytime-valid one).  Emitted day-by-day UP TO the first boundary
    crossing, with the decision state on each row.  On these md5 A/A
    arms the LLR drifts down and accepts H0 — the monitor correctly
    refusing to call a lift that isn't there, in finitely many days.

    Exactness: control rate p0 is an exact integer ratio, guarded >0 and
    p1 clamped <1 so the ln arguments are always positive (no-op clamps
    on any corpus with 0 < p0 < 0.95); the two ln
    terms are ONE shared DOUBLE text; each day's LLR increment is
    quantized to micro-nats BEFORE the cumulative sum (an ordered
    prefix sum over the ~10⁴-row day aggregate); the boundary compare
    and crossing-day argmin are pure integers.

    Scale: one partial-agg'd groupBy(user, day) collapse, a 1-row
    control aggregate broadcast into the per-day treatment table, and
    windows over the day AGGREGATE — the scan is the whole cost, which
    is what lets the monitor rerun after every daily load.
    """
    ev = _t(spark, sf_dir, "events")
    ud = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias("conv")
    ).withColumn(
        "arm",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("sprt"), F.col("user_id").cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 2,
    )
    ctl = ud.filter(F.col("arm") == 0).agg(
        F.count(F.lit(1)).cast("long").alias("cn"),
        F.sum("conv").cast("long").alias("cx"),
    )
    trt = (
        ud.filter(F.col("arm") == 1)
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("conv").cast("long").alias("x"),
        )
    )
    mind = trt.agg(F.min("day").alias("min_day"))
    idx = trt.crossJoin(F.broadcast(mind)).select(
        F.datediff(F.col("day"), F.col("min_day")).cast("long").alias("day_idx"),
        "n",
        "x",
    )
    llr = idx.crossJoin(F.broadcast(ctl)).withColumn("l", F.expr(_SPRT_LLR))
    wc = Window.orderBy("day_idx").rowsBetween(Window.unboundedPreceding, 0)
    cum = llr.withColumn("cum_l", F.sum("l").over(wc).cast("long")).localCheckpoint(
        eager=True
    )
    crossed = cum.filter(
        (F.col("cum_l") >= SPRT_THRESH_MICRO) | (F.col("cum_l") <= -SPRT_THRESH_MICRO)
    ).agg(F.min("day_idx").alias("mcd"))
    maxd = cum.agg(F.max("day_idx").alias("mxd"))
    crossing = crossed.crossJoin(F.broadcast(maxd)).select(
        F.coalesce(F.col("mcd"), F.col("mxd")).cast("long").alias("cd")
    )
    return (
        cum.crossJoin(F.broadcast(crossing))
        .filter(F.col("day_idx") <= F.col("cd"))
        .select(
            "day_idx",
            F.col("n").alias("n_trials"),
            F.col("x").alias("successes"),
            F.expr(
                "CAST(floor((CAST(cum_l AS DOUBLE) / 1000000.0)*10000 + 0.5)"
                "/10000.0 AS DOUBLE)"
            ).alias("cum_llr"),
            F.when(F.col("cum_l") >= SPRT_THRESH_MICRO, "accept_h1")
            .when(F.col("cum_l") <= -SPRT_THRESH_MICRO, "accept_h0")
            .otherwise("continue")
            .alias("state"),
        )
        .orderBy("day_idx")
    )



# ---------------------------------------------------------------------------
# Exact winsorized mean per event type — the trimmed mean's clamping twin.
# ---------------------------------------------------------------------------
_WINS_MEAN = (
    "(CAST(s_kept + k * lo + k * hi AS DOUBLE) / CAST(n AS DOUBLE)) / 100.0"
)


@register(
    "winsorized_mean_value",
    oracle=f"""
    WITH cents AS (
      SELECT event_type, floor(value*100 + 0.5)::BIGINT AS c FROM events),
    hist AS (
      SELECT event_type, c, count(*)::BIGINT AS cnt
      FROM cents GROUP BY 1, 2),
    cum AS (
      SELECT event_type, c, cnt,
             (sum(cnt) OVER (PARTITION BY event_type ORDER BY c
                             ROWS UNBOUNDED PRECEDING))::BIGINT AS cum,
             (sum(cnt) OVER (PARTITION BY event_type))::BIGINT AS n
      FROM hist),
    kept AS (
      SELECT event_type, n, (n // {TRIM_DIV})::BIGINT AS k,
             greatest(0, least(cum, n - (n // {TRIM_DIV}))
                         - greatest(cum - cnt + 1, (n // {TRIM_DIV}) + 1) + 1) AS kc,
             c, cum
      FROM cum),
    agg AS (
      SELECT event_type, n, k,
             sum(kc::HUGEINT * c) AS s_kept
      FROM kept GROUP BY 1, 2, 3),
    bounds AS (
      SELECT event_type,
             min(CASE WHEN cum >= k + 1 THEN c END)::BIGINT AS lo,
             min(CASE WHEN cum >= n - k THEN c END)::BIGINT AS hi
      FROM kept GROUP BY event_type),
    raw AS (
      SELECT event_type, sum(c)::BIGINT AS s_all FROM cents GROUP BY 1)
    SELECT a.event_type, a.n, a.k AS n_clamped_each_side,
           floor((CAST(b.lo AS DOUBLE)/100.0)*10000 + 0.5)/10000.0 AS lo_clamp,
           floor((CAST(b.hi AS DOUBLE)/100.0)*10000 + 0.5)/10000.0 AS hi_clamp,
           floor(({_WINS_MEAN})*10000 + 0.5)/10000.0 AS winsorized_mean,
           floor(({_RAW_MEAN})*10000 + 0.5)/10000.0 AS raw_mean
    FROM agg a
    JOIN bounds b ON a.event_type = b.event_type
    JOIN raw r ON a.event_type = r.event_type
    ORDER BY a.event_type
    """,
)
def q_winsorized_mean_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 10% two-sided WINSORIZED mean of event value per type — the
    robust center that CLAMPS the k outermost values to the trim
    boundaries instead of dropping them (`trimmed_mean_value`'s
    companion; winsorizing keeps n constant, which is what downstream
    variance estimates usually want).  Emitted beside the raw mean and
    both clamp values, so the clamp width itself reads as the tail-mass
    diagnostic.

    Exactness: the same (type, cents) histogram carries cumulative
    ranks; the kept interior sum reuses the tie-exact overlap counts;
    the two clamp bounds are exact order statistics (smallest value
    whose cumulative count reaches rank k+1 / n−k) read off the SAME
    cumulative column — no second pass, no per-row ranks; the clamped
    tails contribute exactly k·lo + k·hi.  All folds integer/HUGEINT.

    Scale: identical to the trimmed mean — the shuffle carries
    (type, cents-value) cells bounded by the value domain, windows run
    per type over aggregate cells, and no per-row global sort exists.
    """
    ev = _t(spark, sf_dir, "events")
    cents = ev.select(
        "event_type", F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c")
    )
    # checkpoint the (type, value) histogram: it fans out to the interior
    # sum, the clamp bounds AND the raw mean — one corpus scan, not three
    hist = cents.groupBy("event_type", "c").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).localCheckpoint(eager=True)
    w = (
        Window.partitionBy("event_type")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "c",
        "cnt",
        F.sum("cnt").over(w).cast("long").alias("cum"),
        F.sum("cnt").over(wt).cast("long").alias("n"),
    )
    kept = cum.select(
        "event_type",
        "n",
        F.expr(f"n DIV {TRIM_DIV}").cast("long").alias("k"),
        F.expr(
            f"greatest(0, least(cum, n - (n DIV {TRIM_DIV}))"
            f" - greatest(cum - cnt + 1, (n DIV {TRIM_DIV}) + 1) + 1)"
        ).alias("kc"),
        "c",
        "cum",
    )
    agg = kept.groupBy("event_type", "n", "k").agg(
        F.sum(F.col("kc").cast("decimal(38,0)") * F.col("c")).alias("s_kept"),
    )
    bounds = kept.groupBy("event_type").agg(
        F.min(F.when(F.col("cum") >= F.col("k") + 1, F.col("c")))
        .cast("long")
        .alias("lo"),
        F.min(F.when(F.col("cum") >= F.col("n") - F.col("k"), F.col("c")))
        .cast("long")
        .alias("hi"),
    )
    # raw sum from the SAME histogram cells: sum(c) over rows == sum(cnt*c)
    # over cells, an exact integer identity
    raw = hist.groupBy("event_type").agg(
        F.sum(F.col("cnt").cast("decimal(38,0)") * F.col("c")).alias("s_all")
    )
    return (
        agg.join(bounds, "event_type")
        .join(raw, "event_type")
        .select(
            "event_type",
            "n",
            F.col("k").alias("n_clamped_each_side"),
            F.expr(
                "CAST(floor((CAST(lo AS DOUBLE)/100.0)*10000 + 0.5)/10000.0"
                " AS DOUBLE)"
            ).alias("lo_clamp"),
            F.expr(
                "CAST(floor((CAST(hi AS DOUBLE)/100.0)*10000 + 0.5)/10000.0"
                " AS DOUBLE)"
            ).alias("hi_clamp"),
            F.expr(f"CAST(floor(({_WINS_MEAN})*10000 + 0.5)/10000.0 AS DOUBLE)").alias(
                "winsorized_mean"
            ),
            F.expr(f"CAST(floor(({_RAW_MEAN})*10000 + 0.5)/10000.0 AS DOUBLE)").alias(
                "raw_mean"
            ),
        )
        .orderBy("event_type")
    )



# ---------------------------------------------------------------------------
# Group-sequential A/B monitor: weekly interims, OBF-shaped + Peto bounds.
# ---------------------------------------------------------------------------
# Cumulative two-proportion z at interim k, from the exact BIGINT counts —
# the ab_test_zscore formula with per-week cumulative operands; ONE shared
# DOUBLE text (operand order fixed) on both engines.
# Every float literal is CAST(... AS DOUBLE): Spark parses a bare 1.0 as
# DECIMAL and its decimal-division scale rules diverge from DuckDB's double
# path in the last ulps — enough to flip a 1e-4 quantization boundary.
_GS_D1 = "CAST(1.0 AS DOUBLE)"
_GS_Z = (
    f"((cx1 * {_GS_D1} / cn1) - (cx0 * {_GS_D1} / cn0)) / "
    f"sqrt(((cx1 + cx0) * {_GS_D1} / (cn1 + cn0)) "
    f"* ({_GS_D1} - (cx1 + cx0) * {_GS_D1} / (cn1 + cn0)) "
    f"* (({_GS_D1} / cn1) + ({_GS_D1} / cn0)))"
)
# O'Brien-Fleming-SHAPED boundary calibrated to the final analysis:
# z_crit(k) = 1.96 * sqrt(K / k).  This is the textbook final-calibrated
# approximation of the OBF test (constant boundary on the B-value scale);
# the exact OBF constant for overall alpha = 0.05 differs from 1.96 by a
# few percent and needs multivariate-normal integration, which neither
# engine can do exactly — the SHAPE (near-unspendable early, ~nominal at
# the end) is the industry behavior this monitor demonstrates.
_GS_OBF = "(CAST(1.96 AS DOUBLE) * sqrt(CAST(kk AS DOUBLE) / CAST(k AS DOUBLE)))"
# Haybittle-Peto: |z| >= 3 at every interim, 1.96 at the final analysis —
# exact by construction (its simplicity is the point of the rule).
_GS_PETO = "(CASE WHEN k = kk THEN CAST(1.96 AS DOUBLE) ELSE CAST(3.0 AS DOUBLE) END)"
_GS_ZT = f"CAST(floor(abs({_GS_Z}) * 10000 + 0.5) AS BIGINT)"


@register(
    "ab_group_sequential",
    oracle=f"""
    WITH ud AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv,
             ('0x' || substr(md5('sprt' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm
      FROM events GROUP BY user_id, CAST(ts AS DATE)),
    mind AS (SELECT min(day) AS d0 FROM ud),
    wk AS (
      SELECT ((day - (SELECT d0 FROM mind)) // 7)::BIGINT AS w, arm,
             count(*)::BIGINT AS n, sum(conv)::BIGINT AS x
      FROM ud GROUP BY 1, 2),
    spine AS (SELECT DISTINCT w FROM wk),
    wide AS (
      SELECT s.w,
             coalesce(t.n, 0)::BIGINT AS n1, coalesce(t.x, 0)::BIGINT AS x1,
             coalesce(c.n, 0)::BIGINT AS n0, coalesce(c.x, 0)::BIGINT AS x0
      FROM spine s
      LEFT JOIN wk t ON t.w = s.w AND t.arm = 1
      LEFT JOIN wk c ON c.w = s.w AND c.arm = 0),
    cum AS (
      SELECT w,
             row_number() OVER (ORDER BY w) AS k,
             (sum(n1) OVER o)::BIGINT AS cn1, (sum(x1) OVER o)::BIGINT AS cx1,
             (sum(n0) OVER o)::BIGINT AS cn0, (sum(x0) OVER o)::BIGINT AS cx0
      FROM wide
      WINDOW o AS (ORDER BY w ROWS UNBOUNDED PRECEDING)),
    kk_t AS (SELECT count(*)::BIGINT AS kk FROM spine),
    scored AS (
      SELECT w, k, cn1, cx1, cn0, cx0, kk,
             CASE WHEN cn1 = 0 OR cn0 = 0 OR (cx1 + cx0) = 0
                       OR (cx1 + cx0) = (cn1 + cn0) THEN 0
                  ELSE {_GS_ZT} END AS z_t,
             CAST(floor(({_GS_OBF}) * 10000 + 0.5) AS BIGINT) AS obf_t,
             CAST(floor(({_GS_PETO}) * 10000 + 0.5) AS BIGINT) AS peto_t,
             CASE WHEN cn1 = 0 OR cn0 = 0 OR (cx1 + cx0) = 0
                       OR (cx1 + cx0) = (cn1 + cn0) THEN 0.0
                  ELSE floor(({_GS_Z}) * 10000 + 0.5) / 10000.0 END AS z
      FROM cum CROSS JOIN kk_t)
    SELECT w AS week_idx, k::BIGINT AS analysis_k, kk AS n_analyses,
           cn1, cx1, cn0, cx0, z,
           (obf_t / 10000.0) AS obf_bound,
           (peto_t / 10000.0) AS peto_bound,
           CASE WHEN z_t >= obf_t THEN 'stop' ELSE 'continue' END AS obf_state,
           CASE WHEN z_t >= peto_t THEN 'stop' ELSE 'continue' END AS peto_state
    FROM scored ORDER BY week_idx
    """,
)
def q_ab_group_sequential(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-sequential A/B monitor: the fixed-horizon industry companion
    to `ab_sprt_monitor`, on the SAME md5 'sprt' user-day arms so the two
    early-stopping disciplines read side by side.  Treatment/control
    user-days accumulate week by week; at each of the K weekly interim
    analyses the cumulative two-proportion z is compared against (a) the
    O'Brien-Fleming-SHAPED boundary 1.96·√(K/k) — nearly unspendable
    early, ~nominal at the final look — and (b) the Haybittle-Peto rule
    (3.0 at every interim, 1.96 at the end).  On these A/A arms neither
    rule stops at any interim: the honest null read, asserted in the
    rebuild gate.

    Exactness: weekly counts and cumulative operands are exact BIGINTs
    from one ordered prefix sum over the ≤ ~25-row week aggregate; the z
    and both boundaries are single shared DOUBLE texts quantized to
    1e-4 BEFORE the integer stop compare, so the stop/continue states
    are integer decisions identical across engines; degenerate interims
    (empty arm, pooled 0% or 100%) emit the 0.0 sentinel exactly as
    `ab_test_zscore` does.

    Scale: one partial-agg'd groupBy(user, day) collapse (the corpus
    scan is the whole cost), a (week, arm) re-aggregate of that, and
    every remaining step — spine, prefix sums, boundaries, states — runs
    on the constant-size week table with a 1-row K broadcast.  Weekly
    re-reads after each incremental load re-run one scan, which is what
    a monitor costs at 100 TB.
    """
    ev = _t(spark, sf_dir, "events")
    ud = (
        ev.groupBy("user_id", F.col("ts").cast("date").alias("day"))
        .agg(
            F.max(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("conv")
        )
        .withColumn(
            "arm",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("sprt"), F.col("user_id").cast("string"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2,
        )
    )
    # collapse once more to (day, arm) cells and checkpoint: the tiny
    # aggregate fans out to the min-day scalar AND the week rollup, and
    # without the checkpoint each consumer would lineage-replay the
    # corpus scan
    da = (
        ud.groupBy("day", "arm")
        .agg(
            F.count(F.lit(1)).cast("long").alias("dn"),
            F.sum("conv").cast("long").alias("dx"),
        )
        .localCheckpoint(eager=True)
    )
    mind = da.agg(F.min("day").alias("d0"))
    wk = (
        da.crossJoin(F.broadcast(mind))
        .groupBy(
            (F.datediff(F.col("day"), F.col("d0")).cast("long") / 7)
            .cast("long")
            .alias("w"),
            "arm",
        )
        .agg(
            F.sum("dn").cast("long").alias("n"),
            F.sum("dx").cast("long").alias("x"),
        )
    )
    spine = wk.select("w").distinct()
    t_side = wk.filter(F.col("arm") == 1).select(
        F.col("w").alias("tw"), F.col("n").alias("tn"), F.col("x").alias("tx")
    )
    c_side = wk.filter(F.col("arm") == 0).select(
        F.col("w").alias("cw"), F.col("n").alias("cn"), F.col("x").alias("cx")
    )
    wide = (
        spine.join(t_side, spine.w == t_side.tw, "left")
        .join(c_side, spine.w == c_side.cw, "left")
        .select(
            "w",
            F.coalesce("tn", F.lit(0)).cast("long").alias("n1"),
            F.coalesce("tx", F.lit(0)).cast("long").alias("x1"),
            F.coalesce("cn", F.lit(0)).cast("long").alias("n0"),
            F.coalesce("cx", F.lit(0)).cast("long").alias("x0"),
        )
    )
    o = Window.orderBy("w").rowsBetween(Window.unboundedPreceding, 0)
    cum = wide.select(
        "w",
        F.row_number().over(Window.orderBy("w")).cast("long").alias("k"),
        F.sum("n1").over(o).cast("long").alias("cn1"),
        F.sum("x1").over(o).cast("long").alias("cx1"),
        F.sum("n0").over(o).cast("long").alias("cn0"),
        F.sum("x0").over(o).cast("long").alias("cx0"),
    )
    kk_t = spine.agg(F.count(F.lit(1)).cast("long").alias("kk"))
    degenerate = (
        (F.col("cn1") == 0)
        | (F.col("cn0") == 0)
        | ((F.col("cx1") + F.col("cx0")) == 0)
        | ((F.col("cx1") + F.col("cx0")) == (F.col("cn1") + F.col("cn0")))
    )
    scored = (
        cum.crossJoin(F.broadcast(kk_t))
        .withColumn(
            "z_t",
            F.when(degenerate, F.lit(0)).otherwise(F.expr(_GS_ZT)).cast("long"),
        )
        .withColumn(
            "obf_t", F.expr(f"CAST(floor(({_GS_OBF}) * 10000 + 0.5) AS BIGINT)")
        )
        .withColumn(
            "peto_t", F.expr(f"CAST(floor(({_GS_PETO}) * 10000 + 0.5) AS BIGINT)")
        )
        .withColumn(
            "z",
            F.when(degenerate, F.lit(0.0)).otherwise(
                F.expr(f"floor(({_GS_Z}) * 10000 + 0.5) / 10000.0")
            ).cast("double"),
        )
    )
    return scored.select(
        F.col("w").alias("week_idx"),
        F.col("k").alias("analysis_k"),
        F.col("kk").alias("n_analyses"),
        "cn1",
        "cx1",
        "cn0",
        "cx0",
        "z",
        (F.col("obf_t") / 10000.0).cast("double").alias("obf_bound"),
        (F.col("peto_t") / 10000.0).cast("double").alias("peto_bound"),
        F.when(F.col("z_t") >= F.col("obf_t"), "stop")
        .otherwise("continue")
        .alias("obf_state"),
        F.when(F.col("z_t") >= F.col("peto_t"), "stop")
        .otherwise("continue")
        .alias("peto_state"),
    ).orderBy("week_idx")



# ---------------------------------------------------------------------------
# A/B sample-size / duration planner (two-proportion power closed form).
# ---------------------------------------------------------------------------
# z_{alpha/2} at 5% two-sided and z_beta at 80% power, pinned to 6 dp —
# the planner's published constants, not data.
_PW_ZSUM2 = "((CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE)) * (CAST(1.959964 AS DOUBLE) + CAST(0.841621 AS DOUBLE)))"
_PW_P = "(CAST(x AS DOUBLE) / CAST(nn AS DOUBLE))"
_PW_P2 = f"({_PW_P} + CAST(d AS DOUBLE) / 100.0)"
_PW_N = (
    f"ceil({_PW_ZSUM2} * ({_PW_P} * (CAST(1.0 AS DOUBLE) - {_PW_P})"
    f" + {_PW_P2} * (CAST(1.0 AS DOUBLE) - {_PW_P2}))"
    f" / ((CAST(d AS DOUBLE) / 100.0) * (CAST(d AS DOUBLE) / 100.0)))"
)


@register(
    "ab_power_sample_size",
    oracle=f"""
    WITH ud AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id, CAST(ts AS DATE)),
    s AS (
      SELECT count(*)::BIGINT AS nn, sum(conv)::BIGINT AS x,
             (max(day) - min(day) + 1)::BIGINT AS n_days
      FROM ud),
    d AS (SELECT unnest([1, 2, 5])::BIGINT AS d)
    SELECT d.d AS delta_pp,
           floor(({_PW_P})*10000 + 0.5)/10000.0 AS p_base,
           CAST({_PW_N} AS BIGINT) AS n_per_arm,
           CAST(ceil(CAST({_PW_N} AS DOUBLE) * 2.0 * CAST(n_days AS DOUBLE)
                     / CAST(nn AS DOUBLE)) AS BIGINT) AS est_days
    FROM s CROSS JOIN d
    ORDER BY delta_pp
    """,
)
def q_ab_power_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A/B experiment planner: the two-proportion sample-size closed form
    n/arm = (z_{{α/2}}+z_β)²·(p(1−p)+p′(1−p′))/δ² at 5% two-sided α and
    80% power, evaluated at the corpus's own user-day conversion base
    rate for detectable lifts of 1/2/5 pp — plus the duration estimate
    (arms fill at half the observed user-day volume per day).  This is
    the question asked BEFORE `ab_test_zscore`/`ab_sprt_monitor`/
    `ab_group_sequential` run: how long must the experiment be.

    Exactness: the base rate is an exact integer ratio; z constants are
    pinned 6-dp literals CAST AS DOUBLE; each δ's n is one shared DOUBLE
    text ceil'd to an integer — engine-identical by construction.

    Scale: one partial-agg'd groupBy(user, day) collapse to a 1-row
    stats frame, crossed with a 3-row literal δ table.
    """
    ev = _t(spark, sf_dir, "events")
    ud = ev.groupBy("user_id", F.col("ts").cast("date").alias("day")).agg(
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0)).alias(
            "conv"
        )
    )
    s = ud.agg(
        F.count(F.lit(1)).cast("long").alias("nn"),
        F.sum("conv").cast("long").alias("x"),
        (F.datediff(F.max("day"), F.min("day")) + 1).cast("long").alias("n_days"),
    )
    d = spark.range(1).select(
        F.explode(F.array(F.lit(1), F.lit(2), F.lit(5))).alias("d0")
    ).select(F.col("d0").cast("long").alias("d"))
    return (
        s.crossJoin(F.broadcast(d))
        .select(
            F.col("d").alias("delta_pp"),
            F.expr(
                f"CAST(floor(({_PW_P})*10000 + 0.5)/10000.0 AS DOUBLE)"
            ).alias("p_base"),
            F.expr(f"CAST({_PW_N} AS BIGINT)").alias("n_per_arm"),
            F.expr(
                f"CAST(ceil(CAST({_PW_N} AS DOUBLE) * 2.0 * CAST(n_days AS DOUBLE)"
                " / CAST(nn AS DOUBLE)) AS BIGINT)"
            ).alias("est_days"),
        )
        .orderBy("delta_pp")
    )



# ---------------------------------------------------------------------------
# Mann–Whitney U on purchase values (exact histogram ranks, tie-corrected).
# ---------------------------------------------------------------------------
# All operands exact integers: 2R(c) = 2·cum_before + t(c) + 1 (doubled
# average rank kills the half), 2U₁ = Σ t₁(c)·2R(c) − n₁(n₁+1); the
# tie-corrected normal variance enters once as a shared DOUBLE text.
_MW_VAR = (
    "((CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE) / 12.0)"
    " * (CAST(n1 + n0 + 1 AS DOUBLE)"
    " - CAST(tie3 AS DOUBLE)"
    " / (CAST(n1 + n0 AS DOUBLE) * CAST(n1 + n0 - 1 AS DOUBLE))))"
)
_MW_Z = (
    f"(CAST(u2 - n1 * n0 AS DOUBLE) / (2.0 * sqrt({_MW_VAR})))"
)


@register(
    "mannwhitney_value_test",
    oracle=f"""
    WITH pv AS (
      SELECT floor(value*100 + 0.5)::BIGINT AS c,
             ('0x' || substr(md5('mwu' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm
      FROM events WHERE event_type = 'purchase'),
    hist AS (
      SELECT c,
             sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS t1,
             sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS t0
      FROM pv GROUP BY c),
    cum AS (
      SELECT c, t1, t0, (t1 + t0) AS t,
             (sum(t1 + t0) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
               - (t1 + t0))::BIGINT AS cum_before
      FROM hist),
    s AS (
      SELECT sum(t1)::BIGINT AS n1, sum(t0)::BIGINT AS n0,
             sum(t1::HUGEINT * (2*cum_before + t + 1)) AS w2,
             sum(t::HUGEINT * t * t - t)::HUGEINT AS tie3
      FROM cum)
    SELECT n1, n0,
           floor((CAST(w2 - n1 * (n1 + 1) AS DOUBLE) / 2.0)*10000 + 0.5)/10000.0
             AS u1,
           floor(({_MW_Z.replace("u2", "(w2 - n1 * (n1 + 1))")})*10000 + 0.5)
             /10000.0 AS z
    FROM s
    """,
)
def q_mannwhitney_value_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U (Wilcoxon rank-sum) comparing purchase values
    between two md5 event-level arms — the nonparametric two-sample test
    that needs only RANKS, which is exactly what the (value, count)
    histogram carries: the tie-group average rank of value c is
    cum_before(c) + (t(c)+1)/2, so doubled ranks stay integers, the
    rank-sum is one HUGEINT fold over histogram cells, and the classic
    tie-corrected normal approximation enters as a single shared DOUBLE
    text.  On the A/A split z must read ≈ 0 (gate-pinned); beside
    `ks_two_sample` (distribution shape) and `ab_test_zscore`
    (proportions), this completes the standard two-sample toolkit.

    Scale: the shuffle carries (value-cents) histogram cells — bounded
    by the value domain, not the row count; the rank prefix sum runs
    over those aggregate cells; no per-row rank ever materializes.  A
    naive rank() over raw rows would single-task the corpus; this shape
    cannot.
    """
    ev = _t(spark, sf_dir, "events")
    pv = ev.filter(F.col("event_type") == "purchase").select(
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("mwu"), F.col("event_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm"),
    )
    hist = pv.groupBy("c").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("t1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("t0"),
    )
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "c",
        "t1",
        "t0",
        (F.col("t1") + F.col("t0")).alias("t"),
        (
            F.sum(F.col("t1") + F.col("t0")).over(w) - (F.col("t1") + F.col("t0"))
        )
        .cast("long")
        .alias("cum_before"),
    )
    s = cum.agg(
        F.sum("t1").cast("long").alias("n1"),
        F.sum("t0").cast("long").alias("n0"),
        F.sum(
            F.col("t1").cast("decimal(38,0)")
            * (2 * F.col("cum_before") + F.col("t") + 1)
        ).alias("w2"),
        F.sum(
            F.col("t").cast("decimal(38,0)") * F.col("t") * F.col("t") - F.col("t")
        ).alias("tie3"),
    )
    return s.select(
        "n1",
        "n0",
        F.expr(
            "CAST(floor((CAST(w2 - n1 * (n1 + 1) AS DOUBLE) / 2.0)*10000 + 0.5)"
            "/10000.0 AS DOUBLE)"
        ).alias("u1"),
        F.expr(
            f"CAST(floor(({_MW_Z.replace('u2', '(w2 - n1 * (n1 + 1))')})*10000"
            " + 0.5)/10000.0 AS DOUBLE)"
        ).alias("z"),
    )



# ---------------------------------------------------------------------------
# Cramér–von Mises two-sample test (ECDF-gap integral off the histogram).
# ---------------------------------------------------------------------------
# Per-cell contribution t·(d/(n1·n0))² micro-quantized BEFORE the fold;
# d = n0·cum1 − n1·cum0 is an exact integer per cell (the scaled ECDF gap).
_CVM_CELL = (
    "CAST(floor(CAST(t AS DOUBLE)"
    " * (CAST(d AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)))"
    " * (CAST(d AS DOUBLE) / (CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)))"
    " * 1000000.0 + 0.5) AS BIGINT)"
)
_CVM_T = (
    "((CAST(n1 AS DOUBLE) * CAST(n0 AS DOUBLE)"
    " / (CAST(n1 + n0 AS DOUBLE) * CAST(n1 + n0 AS DOUBLE)))"
    " * (CAST(sum_micro AS DOUBLE) / 1000000.0))"
)


@register(
    "cramer_von_mises_test",
    oracle=f"""
    WITH pv AS (
      SELECT floor(value*100 + 0.5)::BIGINT AS c,
             ('0x' || substr(md5('cvm' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm
      FROM events WHERE event_type = 'purchase'),
    hist AS (
      SELECT c,
             sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS t1,
             sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS t0
      FROM pv GROUP BY c),
    cum AS (
      SELECT c, (t1 + t0)::BIGINT AS t,
             (sum(t1) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING))::BIGINT AS cum1,
             (sum(t0) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING))::BIGINT AS cum0
      FROM hist),
    tot AS (
      SELECT sum(t1)::BIGINT AS n1, sum(t0)::BIGINT AS n0 FROM hist),
    cells AS (
      SELECT t, (n0::HUGEINT * cum1 - n1::HUGEINT * cum0)::BIGINT AS d, n1, n0
      FROM cum CROSS JOIN tot),
    s AS (
      SELECT any_value(n1)::BIGINT AS n1, any_value(n0)::BIGINT AS n0,
             sum({_CVM_CELL})::BIGINT AS sum_micro
      FROM cells)
    SELECT n1, n0,
           floor(({_CVM_T})*10000 + 0.5)/10000.0 AS t_stat
    FROM s
    """,
)
def q_cramer_von_mises_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Cramér–von Mises test on purchase values between two
    md5 event-level arms — the INTEGRATING complement to `ks_two_sample`
    (KS reads the maximum ECDF gap, CvM the squared gap summed over every
    observation, so it sees broad small departures KS misses).  Like the
    whole two-sample family here it runs entirely on the (value-cents)
    histogram: the scaled ECDF gap at each cell is the exact integer
    d = n0·cum1 − n1·cum0 (a HUGEINT product at 100 TB counts), each
    cell's t·(d/(n1·n0))² enters micro-quantized BEFORE the fold, and
    T = n1·n0/N² · Σ.  On the A/A split T must sit far below the 1%
    critical value 0.743 (gate-pinned).

    Scale: one partial-agg'd scan to value-domain-bounded cells; ordered
    prefix sums over the aggregate; a 1-row totals broadcast.  No
    per-row rank or sort — the same reason the trimmed mean and the
    Mann–Whitney ranks scale.
    """
    ev = _t(spark, sf_dir, "events")
    pv = ev.filter(F.col("event_type") == "purchase").select(
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("cvm"), F.col("event_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm"),
    )
    hist = pv.groupBy("c").agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("t1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("t0"),
    ).localCheckpoint(eager=True)
    w = Window.orderBy("c").rowsBetween(Window.unboundedPreceding, 0)
    cum = hist.select(
        "c",
        (F.col("t1") + F.col("t0")).cast("long").alias("t"),
        F.sum("t1").over(w).cast("long").alias("cum1"),
        F.sum("t0").over(w).cast("long").alias("cum0"),
    )
    tot = hist.agg(
        F.sum("t1").cast("long").alias("n1"),
        F.sum("t0").cast("long").alias("n0"),
    )
    cells = cum.crossJoin(F.broadcast(tot)).select(
        "t",
        (
            F.col("n0").cast("decimal(38,0)") * F.col("cum1")
            - F.col("n1").cast("decimal(38,0)") * F.col("cum0")
        )
        .cast("long")
        .alias("d"),
        "n1",
        "n0",
    )
    s = cells.agg(
        F.max("n1").cast("long").alias("n1"),
        F.max("n0").cast("long").alias("n0"),
        F.sum(F.expr(_CVM_CELL)).cast("long").alias("sum_micro"),
    )
    return s.select(
        "n1",
        "n0",
        F.expr(f"CAST(floor(({_CVM_T})*10000 + 0.5)/10000.0 AS DOUBLE)").alias(
            "t_stat"
        ),
    )



# ---------------------------------------------------------------------------
# Welch's t-test on purchase values (unequal variances, exact moments).
# ---------------------------------------------------------------------------
_WT_V = "((CAST({n} AS DOUBLE) * CAST({ss} AS DOUBLE) - CAST({s} AS DOUBLE) * CAST({s} AS DOUBLE)) / (CAST({n} AS DOUBLE) * CAST({n} - 1 AS DOUBLE)))"
_WT_V1 = _WT_V.format(n="n1", ss="ss1", s="s1")
_WT_V0 = _WT_V.format(n="n0", ss="ss0", s="s0")
_WT_SE2 = f"(({_WT_V1}) / CAST(n1 AS DOUBLE) + ({_WT_V0}) / CAST(n0 AS DOUBLE))"
_WT_T = (
    f"(((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
    f" - (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))) / sqrt({_WT_SE2}))"
)
_WT_DF = (
    f"(({_WT_SE2}) * ({_WT_SE2})"
    f" / ((({_WT_V1}) / CAST(n1 AS DOUBLE)) * (({_WT_V1}) / CAST(n1 AS DOUBLE))"
    f" / CAST(n1 - 1 AS DOUBLE)"
    f" + (({_WT_V0}) / CAST(n0 AS DOUBLE)) * (({_WT_V0}) / CAST(n0 AS DOUBLE))"
    f" / CAST(n0 - 1 AS DOUBLE)))"
)


@register(
    "ab_welch_ttest",
    oracle=f"""
    WITH pv AS (
      SELECT floor(value*100 + 0.5)::BIGINT AS c,
             ('0x' || substr(md5('welch' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm
      FROM events WHERE event_type = 'purchase'),
    s AS (
      SELECT sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
             sum(CASE WHEN arm = 1 THEN c ELSE 0 END)::BIGINT AS s1,
             sum(CASE WHEN arm = 1 THEN c::HUGEINT * c ELSE 0 END) AS ss1,
             sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
             sum(CASE WHEN arm = 0 THEN c ELSE 0 END)::BIGINT AS s0,
             sum(CASE WHEN arm = 0 THEN c::HUGEINT * c ELSE 0 END) AS ss0
      FROM pv)
    SELECT n1, n0,
           floor((((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))
                   - (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))) / 100.0)
                 *10000 + 0.5)/10000.0 AS mean_diff,
           floor(({_WT_T})*10000 + 0.5)/10000.0 AS t_stat,
           floor(({_WT_DF})*10000 + 0.5)/10000.0 AS welch_df
    FROM s
    """,
)
def q_ab_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-test on purchase values between two md5
    event-level arms, with the Welch–Satterthwaite effective degrees of
    freedom — the default two-sample mean test every experimentation
    platform reports (Student's equal-variance form is a special case;
    Welch is the safe one).  On the A/A split t must read ≈ 0
    (gate-pinned) and df lands near n−2, the homoskedastic limit.

    Exactness: ONE global fold of six exact accumulators (n, Σc, Σc² per
    arm — Σc² in HUGEINT/DECIMAL(38,0)); means, variances, t and df are
    a single shared DOUBLE text each, quantized once at emission.

    Scale: one partial-agg'd corpus scan to a 1-row frame; nothing else.
    """
    ev = _t(spark, sf_dir, "events")
    pv = ev.filter(F.col("event_type") == "purchase").select(
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("welch"), F.col("event_id").cast("string"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm"),
    )
    s = pv.agg(
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("arm") == 1, F.col("c")).otherwise(0))
        .cast("long")
        .alias("s1"),
        F.sum(
            F.when(
                F.col("arm") == 1, F.col("c").cast("decimal(38,0)") * F.col("c")
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("ss1"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("arm") == 0, F.col("c")).otherwise(0))
        .cast("long")
        .alias("s0"),
        F.sum(
            F.when(
                F.col("arm") == 0, F.col("c").cast("decimal(38,0)") * F.col("c")
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("ss0"),
    )
    return s.select(
        "n1",
        "n0",
        F.expr(
            "CAST(floor((((CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
            " - (CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))) / 100.0)"
            "*10000 + 0.5)/10000.0 AS DOUBLE)"
        ).alias("mean_diff"),
        F.expr(f"CAST(floor(({_WT_T})*10000 + 0.5)/10000.0 AS DOUBLE)").alias(
            "t_stat"
        ),
        F.expr(f"CAST(floor(({_WT_DF})*10000 + 0.5)/10000.0 AS DOUBLE)").alias(
            "welch_df"
        ),
    )



# ---------------------------------------------------------------------------
# Brown–Forsythe (median-Levene) equality-of-variances test, histogram-exact.
# ---------------------------------------------------------------------------
_BF_M1 = "(CAST(s1 AS DOUBLE) / CAST(n1 AS DOUBLE))"
_BF_M0 = "(CAST(s0 AS DOUBLE) / CAST(n0 AS DOUBLE))"
_BF_M = "(CAST(s1 + s0 AS DOUBLE) / CAST(n1 + n0 AS DOUBLE))"
_BF_SSB = (
    f"(CAST(n1 AS DOUBLE) * ({_BF_M1} - {_BF_M}) * ({_BF_M1} - {_BF_M})"
    f" + CAST(n0 AS DOUBLE) * ({_BF_M0} - {_BF_M}) * ({_BF_M0} - {_BF_M}))"
)
_BF_SSW = (
    f"((CAST(ss1 AS DOUBLE) - CAST(s1 AS DOUBLE) * {_BF_M1})"
    f" + (CAST(ss0 AS DOUBLE) - CAST(s0 AS DOUBLE) * {_BF_M0}))"
)
_BF_F = f"((CAST(n1 + n0 - 2 AS DOUBLE) * {_BF_SSB}) / {_BF_SSW})"


@register(
    "brown_forsythe_variance_test",
    oracle=f"""
    WITH pv AS (
      SELECT floor(value*100 + 0.5)::BIGINT AS c,
             ('0x' || substr(md5('bf' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm
      FROM events WHERE event_type = 'purchase'),
    hist AS (
      SELECT arm, c, count(*)::BIGINT AS cnt FROM pv GROUP BY arm, c),
    cum AS (
      SELECT arm, c, cnt,
             (sum(cnt) OVER (PARTITION BY arm ORDER BY c
                             ROWS UNBOUNDED PRECEDING))::BIGINT AS cum,
             (sum(cnt) OVER (PARTITION BY arm))::BIGINT AS n
      FROM hist),
    med AS (
      SELECT arm, min(CASE WHEN cum >= (n + 1) // 2 THEN c END)::BIGINT AS med
      FROM cum GROUP BY arm),
    dev AS (
      SELECT h.arm, h.cnt, abs(h.c - m.med)::BIGINT AS z
      FROM hist h JOIN med m ON h.arm = m.arm),
    s AS (
      SELECT sum(CASE WHEN arm = 1 THEN cnt ELSE 0 END)::BIGINT AS n1,
             sum(CASE WHEN arm = 1 THEN cnt::HUGEINT * z ELSE 0 END) AS s1,
             sum(CASE WHEN arm = 1 THEN cnt::HUGEINT * z * z ELSE 0 END) AS ss1,
             sum(CASE WHEN arm = 0 THEN cnt ELSE 0 END)::BIGINT AS n0,
             sum(CASE WHEN arm = 0 THEN cnt::HUGEINT * z ELSE 0 END) AS s0,
             sum(CASE WHEN arm = 0 THEN cnt::HUGEINT * z * z ELSE 0 END) AS ss0
      FROM dev),
    mw AS (
      SELECT max(CASE WHEN arm = 1 THEN med END)::BIGINT AS med1,
             max(CASE WHEN arm = 0 THEN med END)::BIGINT AS med0
      FROM med)
    SELECT s.n1, s.n0,
           floor((CAST(mw.med1 AS DOUBLE)/100.0)*10000 + 0.5)/10000.0 AS median_1,
           floor((CAST(mw.med0 AS DOUBLE)/100.0)*10000 + 0.5)/10000.0 AS median_0,
           floor(({_BF_F})*10000 + 0.5)/10000.0 AS f_stat
    FROM s CROSS JOIN mw
    """,
)
def q_brown_forsythe_variance_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown–Forsythe test (Levene with medians) for equality of purchase
    -value VARIANCES between two md5 event-level arms — the
    dispersion-change companion to the mean tests (`ab_welch_ttest`) and
    shape tests (`ks_two_sample`, `mannwhitney_value_test`): an A/B
    change can leave the mean alone and widen the spread, and this is
    the robust standard test for exactly that.  On the A/A split F must
    read ≈ 0-ish (gate-pinned below the 1% critical region).

    Exactness: everything is histogram arithmetic — per-arm LOWER
    medians are exact order statistics (rank ⌈n/2⌉) off the cumulative
    column; the absolute deviations z = |c − med| are INTEGERS weighted
    by cell counts; the one-way ANOVA F over z folds six exact
    HUGEINT/DECIMAL(38,0) accumulators and enters float once as a shared
    text.  No per-row rank, deviation, or sort ever materializes.

    Scale: the shuffle carries (arm, value-cents) cells bounded by the
    value domain; the median scan and the deviation re-aggregation run
    over those AGGREGATE cells with a 2-row broadcast of the medians.
    """
    ev = _t(spark, sf_dir, "events")
    pv = ev.filter(F.col("event_type") == "purchase").select(
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("c"),
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("bf"), F.col("event_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm"),
    )
    hist = pv.groupBy("arm", "c").agg(
        F.count(F.lit(1)).cast("long").alias("cnt")
    ).localCheckpoint(eager=True)
    w = (
        Window.partitionBy("arm")
        .orderBy("c")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy("arm")
    cum = hist.select(
        "arm",
        "c",
        "cnt",
        F.sum("cnt").over(w).cast("long").alias("cum"),
        F.sum("cnt").over(wt).cast("long").alias("n"),
    )
    med = cum.groupBy("arm").agg(
        F.min(F.when(F.col("cum") >= F.expr("(n + 1) DIV 2"), F.col("c")))
        .cast("long")
        .alias("med")
    )
    dev = hist.join(F.broadcast(med), "arm").select(
        "arm", "cnt", F.abs(F.col("c") - F.col("med")).cast("long").alias("z")
    )
    s = dev.agg(
        F.sum(F.when(F.col("arm") == 1, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum(
            F.when(
                F.col("arm") == 1, F.col("cnt").cast("decimal(38,0)") * F.col("z")
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("s1"),
        F.sum(
            F.when(
                F.col("arm") == 1,
                F.col("cnt").cast("decimal(38,0)") * F.col("z") * F.col("z"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("ss1"),
        F.sum(F.when(F.col("arm") == 0, F.col("cnt")).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(
            F.when(
                F.col("arm") == 0, F.col("cnt").cast("decimal(38,0)") * F.col("z")
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("s0"),
        F.sum(
            F.when(
                F.col("arm") == 0,
                F.col("cnt").cast("decimal(38,0)") * F.col("z") * F.col("z"),
            ).otherwise(F.lit(0).cast("decimal(38,0)"))
        ).alias("ss0"),
    )
    mw = med.agg(
        F.max(F.when(F.col("arm") == 1, F.col("med"))).cast("long").alias("med1"),
        F.max(F.when(F.col("arm") == 0, F.col("med"))).cast("long").alias("med0"),
    )
    return s.crossJoin(F.broadcast(mw)).select(
        "n1",
        "n0",
        F.expr(
            "CAST(floor((CAST(med1 AS DOUBLE)/100.0)*10000 + 0.5)/10000.0"
            " AS DOUBLE)"
        ).alias("median_1"),
        F.expr(
            "CAST(floor((CAST(med0 AS DOUBLE)/100.0)*10000 + 0.5)/10000.0"
            " AS DOUBLE)"
        ).alias("median_0"),
        F.expr(f"CAST(floor(({_BF_F})*10000 + 0.5)/10000.0 AS DOUBLE)").alias(
            "f_stat"
        ),
    )



# ---------------------------------------------------------------------------
# CUPED variance reduction on md5 A/A arms (pre-period covariate adjust).
# ---------------------------------------------------------------------------
CUPED_PRE_DAYS = 14
# All operands are exact integer sufficient statistics (cents sums and
# HUGEINT/DECIMAL(38,0) products); the n-scalings cancel inside the ratios
# so theta and rho^2 are single shared DOUBLE texts.
# nn/sx/sy arrive WIDE (HUGEINT / DECIMAL(38,0)) from the pool aggregate:
# the sx*sy and sx*sx cross-products overflow BIGINT once corpus revenue
# passes ~3e9 total cents — found LIVE by the round-6 100x bench run
# (ab_cuped_adjustment was the first query and died on ARITHMETIC_OVERFLOW);
# with wide inputs the shared text below computes exactly in both engines.
_CUPED_THETA = (
    "(CAST(nn * sxy - sx * sy AS DOUBLE) / CAST(nn * sxx - sx * sx AS DOUBLE))"
)
_CUPED_RHO2 = (
    "((CAST(nn * sxy - sx * sy AS DOUBLE) * CAST(nn * sxy - sx * sy AS DOUBLE))"
    " / (CAST(nn * sxx - sx * sx AS DOUBLE) * CAST(nn * syy - sy * sy AS DOUBLE)))"
)
_CUPED_ADJ = (
    "((CAST(a_sy AS DOUBLE) / CAST(a_n AS DOUBLE))"
    " - ({theta}) * ((CAST(a_sx AS DOUBLE) / CAST(a_n AS DOUBLE))"
    " - (CAST(sx AS DOUBLE) / CAST(nn AS DOUBLE)))) / 100.0"
)


@register(
    "ab_cuped_adjustment",
    oracle=f"""
    WITH mind AS (SELECT min(CAST(ts AS DATE)) AS d0 FROM events),
    ud AS (
      SELECT user_id,
             ('0x' || substr(md5('cuped' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm,
             sum(CASE WHEN event_type = 'purchase'
                       AND CAST(ts AS DATE) < (SELECT d0 FROM mind)
                           + {CUPED_PRE_DAYS}
                      THEN floor(value*100 + 0.5)::BIGINT ELSE 0 END)::BIGINT AS x,
             sum(CASE WHEN event_type = 'purchase'
                       AND CAST(ts AS DATE) >= (SELECT d0 FROM mind)
                           + {CUPED_PRE_DAYS}
                      THEN floor(value*100 + 0.5)::BIGINT ELSE 0 END)::BIGINT AS y
      FROM events GROUP BY user_id),
    pool AS (
      SELECT count(*)::HUGEINT AS nn,
             sum(x)::HUGEINT AS sx, sum(y)::HUGEINT AS sy,
             sum(x::HUGEINT * y) AS sxy,
             sum(x::HUGEINT * x) AS sxx,
             sum(y::HUGEINT * y) AS syy
      FROM ud),
    arms AS (
      SELECT arm, count(*)::BIGINT AS a_n,
             sum(x)::BIGINT AS a_sx, sum(y)::BIGINT AS a_sy
      FROM ud GROUP BY arm),
    adj AS (
      SELECT a.arm, a.a_n,
             {_CUPED_ADJ.format(theta=_CUPED_THETA)} AS adj_mean,
             (CAST(a.a_sy AS DOUBLE) / CAST(a.a_n AS DOUBLE)) / 100.0 AS raw_mean
      FROM arms a CROSS JOIN pool),
    wide AS (
      SELECT max(CASE WHEN arm = 1 THEN adj_mean END)
               - max(CASE WHEN arm = 0 THEN adj_mean END) AS diff_cuped,
             max(CASE WHEN arm = 1 THEN raw_mean END)
               - max(CASE WHEN arm = 0 THEN raw_mean END) AS diff_raw,
             max(CASE WHEN arm = 1 THEN a_n END)::BIGINT AS n_treat,
             max(CASE WHEN arm = 0 THEN a_n END)::BIGINT AS n_ctl
      FROM adj)
    SELECT w.n_treat, w.n_ctl,
           floor(({_CUPED_THETA})*10000 + 0.5)/10000.0 AS theta,
           floor(({_CUPED_RHO2})*10000 + 0.5)/10000.0 AS rho2,
           floor(w.diff_raw*10000 + 0.5)/10000.0 AS diff_raw,
           floor(w.diff_cuped*10000 + 0.5)/10000.0 AS diff_cuped
    FROM wide w CROSS JOIN pool
    """,
)
def q_ab_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED (Controlled-experiment Using Pre-Experiment Data): adjust
    each arm's post-period revenue mean by θ·(pre-period mean deviation),
    where θ = cov(pre, post)/var(pre) over all users — the
    industry-standard variance-reduction step run before every A/B
    readout, beside `ab_test_zscore` (unadjusted) and `uplift_by_segment`
    (stratified).  Emits θ, the achieved variance-reduction factor
    ρ² = corr(pre, post)² (CUPED removes exactly that fraction of metric
    variance), and the raw vs CUPED-adjusted treatment−control
    difference on the md5 A/A arms.  On this synthetic corpus per-user
    revenue has almost no stable heterogeneity, so ρ² reads near 0 and
    the adjustment moves the (pure-noise) A/A difference without
    shrinking it — the honest read: CUPED's value is exactly the ρ² it
    reports, and the gate pins the algebra, not a variance win the
    corpus cannot produce.

    Exactness: per-user pre/post cents are exact integer sums split at
    min(day)+{CUPED_PRE_DAYS}; the pooled sufficient statistics (n, Σx,
    Σy, Σxy, Σx², Σy²) are HUGEINT/DECIMAL(38,0) folds; θ, ρ² and both
    arm adjustments are shared DOUBLE texts whose n-scalings cancel
    algebraically, quantized once at emission.

    Scale: one partial-agg'd groupBy(user) collapse (the scan), a 1-row
    pooled-stats broadcast, a 2-row per-arm aggregate — CUPED at 100 TB
    is the cost of one scan, which is why every experimentation platform
    runs it by default.
    """
    ev = _t(spark, sf_dir, "events")
    mind = ev.agg(F.min(F.col("ts").cast("date")).alias("d0"))
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    ud = (
        ev.crossJoin(F.broadcast(mind))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (
                        F.col("ts").cast("date")
                        < F.date_add(F.col("d0"), CUPED_PRE_DAYS)
                    ),
                    cents,
                ).otherwise(0)
            )
            .cast("long")
            .alias("x"),
            F.sum(
                F.when(
                    (F.col("event_type") == "purchase")
                    & (
                        F.col("ts").cast("date")
                        >= F.date_add(F.col("d0"), CUPED_PRE_DAYS)
                    ),
                    cents,
                ).otherwise(0)
            )
            .cast("long")
            .alias("y"),
        )
        .withColumn(
            "arm",
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("cuped"), F.col("user_id").cast("string"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2,
        )
    )
    # ONE scan: the per-arm aggregate carries the product sums too, and
    # the pooled sufficient statistics fold from the 2 arm rows (all six
    # stats are additive) instead of re-scanning the per-user frame
    arms_full = ud.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("a_n"),
        F.sum("x").cast("long").alias("a_sx"),
        F.sum("y").cast("long").alias("a_sy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("y")).alias("a_sxy"),
        F.sum(F.col("x").cast("decimal(38,0)") * F.col("x")).alias("a_sxx"),
        F.sum(F.col("y").cast("decimal(38,0)") * F.col("y")).alias("a_syy"),
    ).localCheckpoint(eager=True)
    pool = arms_full.agg(
        F.sum("a_n").cast("decimal(38,0)").alias("nn"),
        F.sum("a_sx").cast("decimal(38,0)").alias("sx"),
        F.sum("a_sy").cast("decimal(38,0)").alias("sy"),
        F.sum("a_sxy").cast("decimal(38,0)").alias("sxy"),
        F.sum("a_sxx").cast("decimal(38,0)").alias("sxx"),
        F.sum("a_syy").cast("decimal(38,0)").alias("syy"),
    )
    arms = arms_full.select("arm", "a_n", "a_sx", "a_sy")
    adj = arms.crossJoin(F.broadcast(pool)).select(
        "arm",
        "a_n",
        F.expr(_CUPED_ADJ.format(theta=_CUPED_THETA)).alias("adj_mean"),
        (
            (F.col("a_sy").cast("double") / F.col("a_n").cast("double")) / 100.0
        ).alias("raw_mean"),
    )
    wide = adj.agg(
        (
            F.max(F.when(F.col("arm") == 1, F.col("adj_mean")))
            - F.max(F.when(F.col("arm") == 0, F.col("adj_mean")))
        ).alias("diff_cuped"),
        (
            F.max(F.when(F.col("arm") == 1, F.col("raw_mean")))
            - F.max(F.when(F.col("arm") == 0, F.col("raw_mean")))
        ).alias("diff_raw"),
        F.max(F.when(F.col("arm") == 1, F.col("a_n"))).cast("long").alias("n_treat"),
        F.max(F.when(F.col("arm") == 0, F.col("a_n"))).cast("long").alias("n_ctl"),
    )
    return wide.crossJoin(F.broadcast(pool)).select(
        "n_treat",
        "n_ctl",
        F.expr(f"CAST(floor(({_CUPED_THETA})*10000 + 0.5)/10000.0 AS DOUBLE)").alias(
            "theta"
        ),
        F.expr(f"CAST(floor(({_CUPED_RHO2})*10000 + 0.5)/10000.0 AS DOUBLE)").alias(
            "rho2"
        ),
        F.expr(
            "CAST(floor(diff_raw*10000 + 0.5)/10000.0 AS DOUBLE)"
        ).alias("diff_raw"),
        F.expr(
            "CAST(floor(diff_cuped*10000 + 0.5)/10000.0 AS DOUBLE)"
        ).alias("diff_cuped"),
    )



# ---------------------------------------------------------------------------
# Log-rank test: conversion survival compared between two md5 arms.
# ---------------------------------------------------------------------------
_LR_E1 = "CAST(floor((CAST(dd AS DOUBLE) * CAST(n1 AS DOUBLE) / CAST(nn AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)"
_LR_V = (
    "CAST(floor((CAST(dd AS DOUBLE) * (CAST(n1 AS DOUBLE) / CAST(nn AS DOUBLE))"
    " * (1.0 - CAST(n1 AS DOUBLE) / CAST(nn AS DOUBLE))"
    " * (CASE WHEN nn > 1 THEN CAST(nn - dd AS DOUBLE) / CAST(nn - 1 AS DOUBLE)"
    " ELSE 0.0 END)) * 1000000.0 + 0.5) AS BIGINT)"
)
_LR_Z = "(CAST(o1 * 1000000 - e1_micro AS DOUBLE) / 1000000.0) / sqrt(CAST(v_micro AS DOUBLE) / 1000000.0)"


@register(
    "logrank_test_conversion",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS us, event_type FROM events),
    horizon AS (SELECT max(us)::BIGINT AS h FROM e),
    t0 AS (
      SELECT user_id, min(CASE WHEN event_type = 'signup' THEN us END)::BIGINT AS s_us
      FROM e GROUP BY user_id HAVING s_us IS NOT NULL),
    conv AS (
      SELECT t0.user_id, t0.s_us,
             min(CASE WHEN e.event_type = 'purchase' AND e.us > t0.s_us
                      THEN e.us END)::BIGINT AS p_us
      FROM t0 JOIN e ON e.user_id = t0.user_id
      GROUP BY t0.user_id, t0.s_us),
    dur AS (
      SELECT user_id,
             ('0x' || substr(md5('logrank' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT
               % 2 AS arm,
             CASE WHEN p_us IS NOT NULL THEN (p_us - s_us) // 86400000000
                  ELSE ((SELECT h FROM horizon) - s_us) // 86400000000
             END AS d,
             CASE WHEN p_us IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM conv),
    days AS (
      SELECT d,
             sum(CASE WHEN arm = 0 THEN ev ELSE 0 END)::BIGINT AS d1,
             sum(CASE WHEN arm = 1 THEN ev ELSE 0 END)::BIGINT AS d2,
             sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS t1,
             sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS t2
      FROM dur GROUP BY d),
    risk AS (
      SELECT d, d1, d2,
             (sum(t1) OVER (ORDER BY d DESC ROWS UNBOUNDED PRECEDING))::BIGINT AS n1,
             (sum(t2) OVER (ORDER BY d DESC ROWS UNBOUNDED PRECEDING))::BIGINT AS n2
      FROM days),
    terms AS (
      SELECT d, d1, d2, n1, n2, (n1 + n2) AS nn, (d1 + d2) AS dd,
             {_LR_E1} AS e1_t, {_LR_V} AS v_t
      FROM risk WHERE (d1 + d2) > 0),
    tot AS (
      SELECT sum(d1)::BIGINT AS o1, sum(d2)::BIGINT AS o2,
             sum(e1_t)::BIGINT AS e1_micro, sum(v_t)::BIGINT AS v_micro,
             count(*)::BIGINT AS n_event_days
      FROM terms)
    SELECT o1, o2, n_event_days,
           floor((CAST(e1_micro AS DOUBLE) / 1000000.0)*10000 + 0.5)/10000.0 AS e1,
           floor(({_LR_Z})*10000 + 0.5)/10000.0 AS z
    FROM tot
    """,
)
def q_logrank_test_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log-rank test comparing the signup→purchase survival curves of two
    md5 user arms: at each event day the observed arm-0 events are
    compared with their hypergeometric expectation under "curves are
    equal", and z = (O₁−E₁)/√V aggregates the per-day terms — THE
    standard test for "does treatment change time-to-conversion", the
    inferential companion to `kaplan_meier_conversion`'s estimate
    (means of censored durations are biased; the log-rank isn't).  On
    these exchangeable A/A arms z sits inside ±2 — the null read this
    audit exists to certify.

    Exactness: durations, risk sets and event counts are exact integers
    (the KM machinery, per arm); each event day's expectation and
    variance terms are ONE shared DOUBLE text quantized to micro BEFORE
    the sums; z is a single shared expression over the integer totals.

    Scale: two partial-agg'd groupBys (per-user firsts, per-day arm
    counts) and reverse prefix sums on the day AGGREGATE — identical
    economics to the KM query it tests.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("unix_micros(ts)").alias("us"), "event_type"
    )
    horizon = ev.agg(F.max("us").cast("long").alias("h"))
    t0 = (
        ev.groupBy("user_id")
        .agg(
            F.min(F.when(F.col("event_type") == "signup", F.col("us")))
            .cast("long")
            .alias("s_us")
        )
        .filter(F.col("s_us").isNotNull())
    )
    conv = (
        t0.join(ev, "user_id")
        .groupBy("user_id", "s_us")
        .agg(
            F.min(
                F.when(
                    (F.col("event_type") == "purchase") & (F.col("us") > F.col("s_us")),
                    F.col("us"),
                )
            )
            .cast("long")
            .alias("p_us")
        )
    )
    dur = conv.crossJoin(F.broadcast(horizon)).select(
        (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("logrank"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm"),
        F.when(F.col("p_us").isNotNull(), F.expr("(p_us - s_us) DIV 86400000000"))
        .otherwise(F.expr("(h - s_us) DIV 86400000000"))
        .alias("d"),
        F.when(F.col("p_us").isNotNull(), 1).otherwise(0).alias("ev"),
    )
    days = dur.groupBy("d").agg(
        F.sum(F.when(F.col("arm") == 0, F.col("ev")).otherwise(0)).cast("long").alias("d1"),
        F.sum(F.when(F.col("arm") == 1, F.col("ev")).otherwise(0)).cast("long").alias("d2"),
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("long").alias("t1"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("long").alias("t2"),
    )
    w_risk = Window.orderBy(F.desc("d")).rowsBetween(Window.unboundedPreceding, 0)
    risk = days.select(
        "d",
        "d1",
        "d2",
        F.sum("t1").over(w_risk).cast("long").alias("n1"),
        F.sum("t2").over(w_risk).cast("long").alias("n2"),
    )
    terms = (
        risk.withColumn("nn", F.col("n1") + F.col("n2"))
        .withColumn("dd", F.col("d1") + F.col("d2"))
        .filter(F.col("dd") > 0)
        .withColumn("e1_t", F.expr(_LR_E1))
        .withColumn("v_t", F.expr(_LR_V))
    )
    tot = terms.agg(
        F.sum("d1").cast("long").alias("o1"),
        F.sum("d2").cast("long").alias("o2"),
        F.sum("e1_t").cast("long").alias("e1_micro"),
        F.sum("v_t").cast("long").alias("v_micro"),
        F.count(F.lit(1)).cast("long").alias("n_event_days"),
    )
    return tot.select(
        "o1",
        "o2",
        "n_event_days",
        F.expr(
            "CAST(floor((CAST(e1_micro AS DOUBLE) / 1000000.0)*10000 + 0.5)/10000.0"
            " AS DOUBLE)"
        ).alias("e1"),
        F.expr(f"CAST(floor(({_LR_Z})*10000 + 0.5)/10000.0 AS DOUBLE)").alias("z"),
    )



# ---------------------------------------------------------------------------
# Isotonic calibration of P(purchase) vs hour (exact minimax formula).
# ---------------------------------------------------------------------------
@register(
    "isotonic_hour_calibration",
    oracle="""
    WITH cells AS (
      SELECT hour(ts)::BIGINT AS h, count(*)::BIGINT AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS x
      FROM events GROUP BY 1),
    pre AS (
      SELECT h, n, x,
             (sum(n) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING))::BIGINT AS pn,
             (sum(x) OVER (ORDER BY h ROWS UNBOUNDED PRECEDING))::BIGINT AS px
      FROM cells),
    iv AS (
      SELECT a.h AS a, b.h AS b,
             ((b.px - a.px + a.x)::HUGEINT * 1000000000
              // (b.pn - a.pn + a.n))::BIGINT AS m_nano
      FROM pre a JOIN pre b ON a.h <= b.h),
    inner_min AS (
      SELECT c.h, iv.a, min(iv.m_nano)::BIGINT AS mn
      FROM cells c JOIN iv ON iv.a <= c.h AND iv.b >= c.h
      GROUP BY c.h, iv.a),
    iso AS (
      SELECT h, max(mn)::BIGINT AS iso_nano FROM inner_min GROUP BY h)
    SELECT c.h AS hour, c.n, c.x,
           floor((CAST(c.x AS DOUBLE) / CAST(c.n AS DOUBLE))*10000 + 0.5)/10000.0
             AS raw_rate,
           floor((CAST(i.iso_nano AS DOUBLE) / 1000000000.0)*10000 + 0.5)/10000.0
             AS iso_rate
    FROM cells c JOIN iso i ON c.h = i.h
    ORDER BY hour
    """,
)
def q_isotonic_hour_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic (monotone nondecreasing) calibration of the purchase
    rate as a function of hour-of-day, solved EXACTLY by the minimax
    characterization of the PAVA solution: iso(h) = max_{a≤h} min_{b≥h}
    weighted-mean(rate over hours a..b).  Isotonic fits are the
    standard score-calibration step (beside `calibration_bins`, which
    only measures miscalibration) and the usual monotone-constraint
    smoother for dose-response curves; on this uniform corpus the fit
    collapses toward a flat staircase — the honest no-signal read.

    Exactness: interval means never materialize as floats — each of the
    ≤ 24·25/2 intervals carries floor(10⁹·X/N) as an INTEGER, and
    because floor is monotone, max-of-min over quantized means equals
    the quantized max-of-min: iso_nano(h) = floor(10⁹·iso_true(h))
    EXACTLY (the pure-Python Fraction PAVA gate checks this identity).
    The 10⁹-scaled numerator is widened to DECIMAL(38,0)/HUGEINT before
    the multiply — cumulative purchase counts past ~9.2e9 would wrap a
    BIGINT product silently in Spark while DuckDB errors, breaking
    engine parity exactly where 100 TB corpora live.
    No iteration, no data-dependent pooling order — the minimax form is
    what makes PAVA, an inherently sequential algorithm, a closed-form
    distributed query.

    Scale: the corpus collapses to 24 hour cells in one partial-agg'd
    scan; prefix sums, the 300-interval self-join and both minimax
    folds all run on that constant-size aggregate.
    """
    ev = _t(spark, sf_dir, "events")
    # the 24-row hour table fans out to the prefix sums (both self-join
    # sides), the minimax grid and the final join — checkpoint it or each
    # consumer replays the events scan (plan audit showed x4)
    cells = (
        ev.groupBy(F.hour("ts").cast("long").alias("h"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("x"),
        )
        .localCheckpoint(eager=True)
    )
    wp = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, 0)
    pre = cells.select(
        "h",
        "n",
        "x",
        F.sum("n").over(wp).cast("long").alias("pn"),
        F.sum("x").over(wp).cast("long").alias("px"),
    )
    a = pre.select(
        F.col("h").alias("a"), F.col("n").alias("an"), F.col("x").alias("ax"),
        F.col("pn").alias("apn"), F.col("px").alias("apx"),
    )
    b = pre.select(
        F.col("h").alias("b"), F.col("pn").alias("bpn"), F.col("px").alias("bpx")
    )
    iv = (
        a.join(b, F.col("a") <= F.col("b"))
        .select(
            "a",
            "b",
            F.expr(
                "CAST((CAST(bpx - apx + ax AS DECIMAL(38,0)) * 1000000000)"
                " DIV (bpn - apn + an) AS BIGINT)"
            ).alias("m_nano"),
        )
    )
    inner_min = (
        cells.select(F.col("h"))
        .join(iv, (F.col("a") <= F.col("h")) & (F.col("b") >= F.col("h")))
        .groupBy("h", "a")
        .agg(F.min("m_nano").cast("long").alias("mn"))
    )
    iso = inner_min.groupBy("h").agg(F.max("mn").cast("long").alias("iso_nano"))
    return (
        cells.join(iso, "h")
        .select(
            F.col("h").alias("hour"),
            "n",
            "x",
            F.expr(
                "CAST(floor((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))*10000 + 0.5)"
                "/10000.0 AS DOUBLE)"
            ).alias("raw_rate"),
            F.expr(
                "CAST(floor((CAST(iso_nano AS DOUBLE) / 1000000000.0)*10000 + 0.5)"
                "/10000.0 AS DOUBLE)"
            ).alias("iso_rate"),
        )
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# Leave-one-day-out jackknife SE of a ratio metric (average order value).
# ---------------------------------------------------------------------------
# Ratio metrics (revenue / orders) have no per-row variance: days (the
# clustering unit of this corpus) are the resampling unit, and the
# delete-one jackknife is the standard production variance estimator for
# them (the linearization-free alternative to the delta method).  Every
# leave-one-out ratio is nano-quantized through an exact positive integer
# division, so the deviation fold is an exact DECIMAL(38,0)/HUGEINT sum —
# the ACF machinery pointed at resampled ratios.
_JK_DIV_SPARK = (
    "CASE WHEN (n_tot - n_d) = 0 THEN CAST(0 AS BIGINT)"
    " ELSE CAST((CAST(x_tot - x_d AS DECIMAL(38,0)) * 1000000000)"
    " DIV (n_tot - n_d) AS BIGINT) END"
)
_JK_DIV_DUCK = (
    "CASE WHEN (n_tot - n_d) = 0 THEN 0::BIGINT"
    " ELSE (((x_tot - x_d)::HUGEINT * 1000000000) // (n_tot - n_d))::BIGINT END"
)
# (positive operands: truncating DIV and flooring // coincide — no
# mod-adjust needed, unlike the signed residuals in registry_forecast)
_JK_THETA = "((CAST(x_tot AS DOUBLE) / CAST(n_tot AS DOUBLE)) / 100.0)"
_JK_SE = (
    "(sqrt((CAST(dd - 1 AS DOUBLE) / CAST(dd AS DOUBLE))"
    " * (CAST(var_scaled AS DOUBLE)"
    "    / (CAST(dd AS DOUBLE) * CAST(dd AS DOUBLE) * CAST(dd AS DOUBLE)"
    "       * 1e18))) / 100.0)"
)


@register(
    "jackknife_aov_se",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(floor(value*100 + 0.5)::BIGINT)::BIGINT AS x_d,
             count(*)::BIGINT AS n_d
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    tot AS (
      SELECT sum(x_d)::BIGINT AS x_tot, sum(n_d)::BIGINT AS n_tot,
             count(*)::BIGINT AS dd
      FROM daily),
    loo AS (
      SELECT {_JK_DIV_DUCK} AS th_nano
      FROM daily CROSS JOIN tot),
    s AS (SELECT sum(th_nano)::BIGINT AS s_nano FROM loo),
    var_ AS (
      SELECT sum(((tot.dd * th_nano - s.s_nano)::HUGEINT
                  * (tot.dd * th_nano - s.s_nano)))::HUGEINT AS var_scaled
      FROM loo CROSS JOIN s CROSS JOIN tot)
    SELECT tot.dd AS n_days, tot.n_tot AS n_orders,
           floor(({_JK_THETA})*10000 + 0.5)/10000.0 AS aov,
           floor(({_JK_SE})*10000 + 0.5)/10000.0 AS jackknife_se
    FROM tot CROSS JOIN var_
    """,
)
def q_jackknife_aov_se(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delete-one-DAY jackknife standard error of the average order value
    (total purchase revenue / purchase count) — the variance estimator a
    ratio metric needs (per-row variance formulas are wrong when numerator
    and denominator share the clustering unit).  θ_(i) leaves day i out;
    var = (D−1)/D · Σ(θ_(i) − θ̄)².  The companion readout to the mean
    tests in this module: those compare arms, this prices the uncertainty
    of the headline ratio itself.

    Exactness: every θ_(i) is floor((X−x_i)·10⁹/(N−n_i)) computed in
    DECIMAL(38,0)/HUGEINT (positive operands — truncation ≡ floor in both
    engines); the deviation fold is D·θ_i − Σθ as exact integers; the two
    emitted floats are single shared-text expressions.  A one-day corpus
    degenerates to SE 0 via the explicit guard.

    Scale: one partial-agg'd corpus scan to the day table (checkpointed:
    it fans out to the totals, the LOO ratios and the deviation fold),
    then day-table-sized folds.  D days means D leave-one-out ratios —
    never a resampled copy of the corpus, which is the whole point of the
    jackknife at 100 TB (a bootstrap would re-materialize it B times).
    """
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("x_d"),
            F.count(F.lit(1)).cast("long").alias("n_d"),
        )
        .localCheckpoint(eager=True)
    )
    tot = daily.agg(
        F.sum("x_d").cast("long").alias("x_tot"),
        F.sum("n_d").cast("long").alias("n_tot"),
        F.count(F.lit(1)).cast("long").alias("dd"),
    )
    loo = daily.crossJoin(F.broadcast(tot)).select(
        F.expr(_JK_DIV_SPARK).alias("th_nano"), "dd"
    )
    s = loo.agg(F.sum("th_nano").cast("long").alias("s_nano"))
    var_ = (
        loo.crossJoin(F.broadcast(s))
        .agg(
            F.sum(
                (F.col("dd") * F.col("th_nano") - F.col("s_nano"))
                .cast("decimal(38,0)")
                * (F.col("dd") * F.col("th_nano") - F.col("s_nano"))
            )
            .cast("decimal(38,0)")
            .alias("var_scaled")
        )
    )
    return (
        tot.crossJoin(F.broadcast(var_))
        .select(
            F.col("dd").alias("n_days"),
            F.col("n_tot").alias("n_orders"),
            F.expr(f"CAST(floor(({_JK_THETA})*10000 + 0.5)/10000.0 AS DOUBLE)").alias(
                "aov"
            ),
            F.expr(f"CAST(floor(({_JK_SE})*10000 + 0.5)/10000.0 AS DOUBLE)").alias(
                "jackknife_se"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Empirical-Bayes (James–Stein / beta-MoM) shrinkage of per-hour rates.
# ---------------------------------------------------------------------------
# Per-cell conversion rates are noisy exactly when the cell is small — the
# production fix is partial pooling: fit a beta prior to the observed rate
# spread (method of moments) and report (x + α)/(n + α + β).  Everything
# up to the final shrink is exact integers; the prior parameters are ONE
# shared double text over those integers.
_EB_PBAR = "(CAST(s_nano AS DOUBLE) / (CAST(g AS DOUBLE) * 1e9))"
_EB_VARP = "(CAST(var_scaled AS DOUBLE) / (CAST(g AS DOUBLE) * CAST(g AS DOUBLE) * CAST(g AS DOUBLE) * 1e18))"
_EB_AB = (
    f"(CASE WHEN {_EB_VARP} <= 0.0 OR {_EB_PBAR} <= 0.0 OR {_EB_PBAR} >= 1.0"
    f" THEN CAST(0.0 AS DOUBLE)"
    f" WHEN ({_EB_PBAR} * (1.0 - {_EB_PBAR}) / {_EB_VARP} - 1.0) < 0.0"
    f" THEN CAST(0.0 AS DOUBLE)"
    f" ELSE ({_EB_PBAR} * (1.0 - {_EB_PBAR}) / {_EB_VARP} - 1.0) END)"
)
_EB_SHRUNK = (
    f"((CAST(x AS DOUBLE) + {_EB_PBAR} * {_EB_AB})"
    f" / (CAST(n AS DOUBLE) + {_EB_AB}))"
)
_EB_WEIGHT = f"({_EB_AB} / (CAST(n AS DOUBLE) + {_EB_AB}))"


@register(
    "eb_shrunk_hour_rates",
    oracle=f"""
    WITH cells AS (
      SELECT hour(ts)::BIGINT AS h, count(*)::BIGINT AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS x
      FROM events GROUP BY 1),
    pn AS (
      SELECT h, n, x, ((x::HUGEINT * 1000000000) // n)::BIGINT AS p_nano
      FROM cells),
    g AS (SELECT count(*)::BIGINT AS g, sum(p_nano)::BIGINT AS s_nano FROM pn),
    var_ AS (
      SELECT sum(((g.g * p_nano - g.s_nano)::HUGEINT
                  * (g.g * p_nano - g.s_nano)))::HUGEINT AS var_scaled
      FROM pn CROSS JOIN g)
    SELECT pn.h AS hour, pn.n, pn.x,
           floor((CAST(pn.x AS DOUBLE) / CAST(pn.n AS DOUBLE))*10000 + 0.5)
             /10000.0 AS raw_rate,
           floor(({_EB_SHRUNK})*10000 + 0.5)/10000.0 AS shrunk_rate,
           floor(({_EB_WEIGHT})*10000 + 0.5)/10000.0 AS shrink_weight
    FROM pn CROSS JOIN g CROSS JOIN var_
    ORDER BY pn.h
    """,
)
def q_eb_shrunk_hour_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-hour purchase rates toward the
    cross-hour mean: a beta prior fitted by method of moments to the
    observed rate spread (prior strength α+β = p̄(1−p̄)/var(p) − 1), each
    hour reported as the posterior mean (x + α)/(n + α + β) with its
    shrink weight — the partial-pooling estimator (James–Stein for rates)
    every per-segment CTR/conversion dashboard should use instead of raw
    cell rates.  On this uniform corpus the rate spread is pure noise, so
    the fitted prior is STRONG and every hour collapses toward the global
    rate — the honest read, and the exact behavior that protects small
    cells in production.

    Exactness: per-hour rates are nano-quantized positive integer
    divisions; the spread is the exact G·p − Σp deviation fold in
    HUGEINT/DECIMAL; p̄, var(p), the prior strength and the posterior
    mean are single shared double texts over those integers (guards: zero
    variance, degenerate p̄, negative MoM strength → no shrinkage).

    Scale: one partial-agg'd scan to 24 cells; everything else is
    constant-size.  The emitted table IS the prior artifact (broadcast α,
    β onto any scoring join).
    """
    ev = _t(spark, sf_dir, "events")
    cells = (
        ev.groupBy(F.hour("ts").cast("long").alias("h"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            .cast("long")
            .alias("x"),
        )
        # fans out to the rate table, the prior fit and the emit join
        .localCheckpoint(eager=True)
    )
    pn = cells.select(
        "h",
        "n",
        "x",
        F.expr(
            "CAST((CAST(x AS DECIMAL(38,0)) * 1000000000) DIV n AS BIGINT)"
        ).alias("p_nano"),
    )
    g = pn.agg(
        F.count(F.lit(1)).cast("long").alias("g"),
        F.sum("p_nano").cast("long").alias("s_nano"),
    )
    var_ = (
        pn.crossJoin(F.broadcast(g))
        .agg(
            F.sum(
                (F.col("g") * F.col("p_nano") - F.col("s_nano"))
                .cast("decimal(38,0)")
                * (F.col("g") * F.col("p_nano") - F.col("s_nano"))
            )
            .cast("decimal(38,0)")
            .alias("var_scaled")
        )
    )
    return (
        pn.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(var_))
        .select(
            F.col("h").alias("hour"),
            "n",
            "x",
            F.expr(
                "CAST(floor((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))*10000 + 0.5)"
                "/10000.0 AS DOUBLE)"
            ).alias("raw_rate"),
            F.expr(
                f"CAST(floor(({_EB_SHRUNK})*10000 + 0.5)/10000.0 AS DOUBLE)"
            ).alias("shrunk_rate"),
            F.expr(
                f"CAST(floor(({_EB_WEIGHT})*10000 + 0.5)/10000.0 AS DOUBLE)"
            ).alias("shrink_weight"),
        )
        .orderBy("hour")
    )


# ---------------------------------------------------------------------------
# Wilson lower-confidence-bound ranking of per-hour purchase rates — the
# frequentist twin of the EB shrinkage above (rank by what the cell has
# PROVEN, not by its noisy point estimate).
# ---------------------------------------------------------------------------
# Wilson score interval lower bound at z = 1.96; ONE shared double text
# over the exact integer (x, n) counts (operand order fixed).
_WILSON_P = "(CAST(x AS DOUBLE) / CAST(n AS DOUBLE))"
_WILSON_Z2 = "(CAST(1.96 AS DOUBLE) * CAST(1.96 AS DOUBLE))"
_WILSON_LCB = (
    f"(({_WILSON_P} + {_WILSON_Z2} / (2.0 * CAST(n AS DOUBLE))"
    f" - CAST(1.96 AS DOUBLE) * sqrt(({_WILSON_P} * (1.0 - {_WILSON_P})"
    f" + {_WILSON_Z2} / (4.0 * CAST(n AS DOUBLE))) / CAST(n AS DOUBLE)))"
    f" / (1.0 + {_WILSON_Z2} / CAST(n AS DOUBLE)))"
)
_WILSON_NANO = f"CAST(floor({_WILSON_LCB} * 1000000000 + 0.5) AS BIGINT)"


@register(
    "wilson_lcb_hour_ranking",
    oracle=f"""
    WITH cells AS (
      SELECT hour(ts)::BIGINT AS h, count(*)::BIGINT AS n,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS x
      FROM events GROUP BY 1),
    scored AS (
      SELECT h, n, x, {_WILSON_NANO} AS lcb_nano FROM cells)
    SELECT h AS hour, n, x,
           floor((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))*10000 + 0.5)/10000.0
             AS raw_rate,
           floor((CAST(lcb_nano AS DOUBLE) / 1000000000.0)*10000 + 0.5)/10000.0
             AS wilson_lcb,
           (row_number() OVER (ORDER BY lcb_nano DESC, h))::INTEGER AS rank
    FROM scored ORDER BY rank
    """,
)
def q_wilson_lcb_hour_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-hour purchase rates ranked by the Wilson score interval's LOWER
    bound (z = 1.96) instead of the raw rate — the standard fix for
    "the best segment is a tiny noisy cell" in any leaderboard/bandit
    warm-start (the how-not-to-sort-by-average-rating construction).
    Beside `eb_shrunk_hour_rates` (Bayesian partial pooling), this is the
    frequentist cousin: both damp small-n cells, and on this uniform
    corpus both collapse the ranking toward ties broken by volume — the
    honest read.

    Exactness: counts are exact integers; the Wilson bound is ONE shared
    double text over (x, n), nano-quantized BEFORE the rank, so no float
    ever decides an ordering (ties break on the hour key).

    Scale: a 24-cell aggregate off one partial-agg'd scan; the rank
    window runs on 24 rows.
    """
    ev = _t(spark, sf_dir, "events")
    cells = ev.groupBy(F.hour("ts").cast("long").alias("h")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    scored = cells.select(
        "h", "n", "x", F.expr(_WILSON_NANO).alias("lcb_nano")
    )
    w = Window.orderBy(F.desc("lcb_nano"), F.asc("h"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            F.col("h").alias("hour"),
            "n",
            "x",
            F.expr(
                "CAST(floor((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))*10000 + 0.5)"
                "/10000.0 AS DOUBLE)"
            ).alias("raw_rate"),
            F.expr(
                "CAST(floor((CAST(lcb_nano AS DOUBLE) / 1000000000.0)*10000 + 0.5)"
                "/10000.0 AS DOUBLE)"
            ).alias("wilson_lcb"),
            "rank",
        )
        .orderBy("rank")
    )


# ---------------------------------------------------------------------------
# Wilson/EB twins on OTHER cell families (VERDICT-r6 #5): the hour cells
# above have uniform n; these two exercise the estimators where they earn
# their keep — genuinely small cells (25 docs per source) and cells
# reached through a join (orders x customer segment).
# ---------------------------------------------------------------------------
@register(
    "wilson_lcb_source_ranking",
    oracle=f"""
    WITH cells AS (
      SELECT source, count(*)::BIGINT AS n,
             sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END)::BIGINT AS x
      FROM documents GROUP BY 1),
    scored AS (
      SELECT source, n, x, {_WILSON_NANO} AS lcb_nano FROM cells)
    SELECT source, n, x,
           floor((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))*10000 + 0.5)/10000.0
             AS raw_rate,
           floor((CAST(lcb_nano AS DOUBLE) / 1000000000.0)*10000 + 0.5)/10000.0
             AS wilson_lcb,
           (row_number() OVER (ORDER BY lcb_nano DESC, source))::INTEGER AS rank
    FROM scored ORDER BY rank
    """,
)
def q_wilson_lcb_source_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source English-purity rates ranked by the Wilson lower bound —
    the crawl-source quality leaderboard a training-data pipeline uses to
    allocate its ingestion budget.  Unlike the hour cells (uniform n ≈
    corpus/24), source cells are genuinely SMALL (25 docs each at
    fixture scale), which is exactly the regime where ranking by raw rate
    promotes noise and the LCB's small-n penalty earns its keep: a 16/25
    source must outrank a 2/3 source even though the raw rates say
    otherwise.

    Exactness: same shared `_WILSON_NANO` text as the hour ranking —
    counts exact, bound nano-quantized BEFORE the rank window, ties on
    the source key.

    Scale: one partial-agg'd documents scan to |sources| cells; the rank
    window runs on the cell table (thousands of sources at 100 TB, still
    one task).
    """
    docs = _t(spark, sf_dir, "documents")
    cells = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0))
        .cast("long")
        .alias("x"),
    )
    scored = cells.select("source", "n", "x", F.expr(_WILSON_NANO).alias("lcb_nano"))
    w = Window.orderBy(F.desc("lcb_nano"), F.asc("source"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("int"))
        .select(
            "source",
            "n",
            "x",
            F.expr(
                "CAST(floor((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))*10000 + 0.5)"
                "/10000.0 AS DOUBLE)"
            ).alias("raw_rate"),
            F.expr(
                "CAST(floor((CAST(lcb_nano AS DOUBLE) / 1000000000.0)*10000 + 0.5)"
                "/10000.0 AS DOUBLE)"
            ).alias("wilson_lcb"),
            "rank",
        )
        .orderBy("rank")
    )


@register(
    "eb_shrunk_segment_rates",
    oracle=f"""
    WITH cells AS (
      SELECT c.c_mktsegment AS segment, count(*)::BIGINT AS n,
             sum(CASE WHEN o.o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT AS x
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      GROUP BY 1),
    pn AS (
      SELECT segment, n, x, ((x::HUGEINT * 1000000000) // n)::BIGINT AS p_nano
      FROM cells),
    g AS (SELECT count(*)::BIGINT AS g, sum(p_nano)::BIGINT AS s_nano FROM pn),
    var_ AS (
      SELECT sum(((g.g * p_nano - g.s_nano)::HUGEINT
                  * (g.g * p_nano - g.s_nano)))::HUGEINT AS var_scaled
      FROM pn CROSS JOIN g)
    SELECT pn.segment, pn.n, pn.x,
           floor((CAST(pn.x AS DOUBLE) / CAST(pn.n AS DOUBLE))*10000 + 0.5)
             /10000.0 AS raw_rate,
           floor(({_EB_SHRUNK})*10000 + 0.5)/10000.0 AS shrunk_rate,
           floor(({_EB_WEIGHT})*10000 + 0.5)/10000.0 AS shrink_weight
    FROM pn CROSS JOIN g CROSS JOIN var_
    ORDER BY pn.segment
    """,
)
def q_eb_shrunk_segment_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage of per-market-segment order-fulfilment
    rates (status 'F') — the hour-cell estimator (`eb_shrunk_hour_rates`)
    re-aimed at a cell family reached through a JOIN: orders broadcast-
    joined to the customer dimension, grouped by segment.  The estimator
    texts (`_EB_SHRUNK`/`_EB_WEIGHT`) are shared verbatim, which is the
    point: the prior-fit machinery is cell-family-agnostic, and a
    production dashboard fits one prior per family off the same fold.

    Exactness: identical integer/nano pipeline as the hour variant —
    per-cell rates nano-quantized positive integer divisions, spread via
    the exact G·p − Σp HUGEINT/DECIMAL fold, posterior mean as one shared
    double text.

    Scale: the customer dimension broadcasts (no shuffle of orders); one
    partial-agg'd scan to 5 cells; everything downstream constant-size.
    """
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    cells = (
        orders.join(F.broadcast(cust), "o_custkey")
        .groupBy(F.col("c_mktsegment").alias("segment"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0))
            .cast("long")
            .alias("x"),
        )
        # fans out to the rate table, the prior fit and the emit join
        .localCheckpoint(eager=True)
    )
    pn = cells.select(
        "segment",
        "n",
        "x",
        F.expr(
            "CAST((CAST(x AS DECIMAL(38,0)) * 1000000000) DIV n AS BIGINT)"
        ).alias("p_nano"),
    )
    g = pn.agg(
        F.count(F.lit(1)).cast("long").alias("g"),
        F.sum("p_nano").cast("long").alias("s_nano"),
    )
    var_ = (
        pn.crossJoin(F.broadcast(g))
        .agg(
            F.sum(
                (F.col("g") * F.col("p_nano") - F.col("s_nano"))
                .cast("decimal(38,0)")
                * (F.col("g") * F.col("p_nano") - F.col("s_nano"))
            )
            .cast("decimal(38,0)")
            .alias("var_scaled")
        )
    )
    return (
        pn.crossJoin(F.broadcast(g))
        .crossJoin(F.broadcast(var_))
        .select(
            "segment",
            "n",
            "x",
            F.expr(
                "CAST(floor((CAST(x AS DOUBLE) / CAST(n AS DOUBLE))*10000 + 0.5)"
                "/10000.0 AS DOUBLE)"
            ).alias("raw_rate"),
            F.expr(
                f"CAST(floor(({_EB_SHRUNK})*10000 + 0.5)/10000.0 AS DOUBLE)"
            ).alias("shrunk_rate"),
            F.expr(
                f"CAST(floor(({_EB_WEIGHT})*10000 + 0.5)/10000.0 AS DOUBLE)"
            ).alias("shrink_weight"),
        )
        .orderBy("segment")
    )


# ---------------------------------------------------------------------------
# Mann–Kendall monotone-trend test on daily purchase revenue.
# ---------------------------------------------------------------------------
# Shared float expression text (identical in both engines, computed from the
# exact integers n [days], s [MK statistic], tsum [Σ t(t-1)(2t+5) over tie
# groups]): tie-corrected variance, continuity-corrected z, and tau-a.
_MK_VAR = (
    "((CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)"
    " * (2.0 * CAST(n AS DOUBLE) + 5.0) - CAST(tsum AS DOUBLE)) / 18.0)"
)
_MK_Z = (
    f"(CASE WHEN s > 0 THEN (CAST(s AS DOUBLE) - 1.0) / sqrt({_MK_VAR})"
    f" WHEN s < 0 THEN (CAST(s AS DOUBLE) + 1.0) / sqrt({_MK_VAR})"
    f" ELSE 0.0 END)"
)
_MK_TAU = (
    "(CAST(s AS DOUBLE) / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0) / 2.0))"
)
_MK_TREND = (
    f"(CASE WHEN {_MK_Z} > 1.959964 THEN 'increasing'"
    f" WHEN {_MK_Z} < -1.959964 THEN 'decreasing'"
    f" ELSE 'no_trend' END)"
)


@register(
    "mann_kendall_daily",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(floor(value*100 + 0.5)::BIGINT)::BIGINT AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    sp AS (
      SELECT sum(CASE WHEN b.cents > a.cents THEN 1
                      WHEN b.cents < a.cents THEN -1 ELSE 0 END)::BIGINT AS s
      FROM daily a JOIN daily b ON b.day > a.day),
    ties AS (
      SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)::BIGINT AS tsum
      FROM (SELECT count(*)::BIGINT AS t FROM daily GROUP BY cents)
      WHERE t > 1),
    nd AS (SELECT count(*)::BIGINT AS n FROM daily)
    SELECT n AS n_days, s AS s_stat,
           floor(({_MK_TAU})*10000 + 0.5)/10000.0 AS tau,
           floor(({_MK_Z})*10000 + 0.5)/10000.0 AS z,
           {_MK_TREND} AS trend
    FROM sp CROSS JOIN ties CROSS JOIN nd
    """,
)
def q_mann_kendall_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotone-trend test on daily purchase revenue: S =
    Σ_{{i<j}} sign(c_j − c_i), tie-corrected variance, continuity-corrected
    z, and Kendall's tau-a — the nonparametric "is revenue drifting"
    monitor beside `theil_sen_daily_trend` (which estimates the slope MK
    only tests) and `runs_test_daily` (randomness, not monotonicity).

    Exactness: S and the tie term Σt(t−1)(2t+5) are exact integers from
    the cents-quantized day table; variance/z/tau are ONE shared DOUBLE
    expression text over those integers (identical operand order ⇒
    IEEE-identical in both engines), floor-quantized to 4 dp on emit.

    Scale: the O(days²) sign join runs on the AGGREGATE day table (one
    row per day — decades fit in ~10⁴ rows), not on events; everything
    upstream is one partial-agg'd groupBy(day) over the purchase slice.
    """
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
        # the day table fans out to the sign-join's two sides, the tie
        # fold and the day count — checkpoint it or each consumer
        # replays the events scan (plan audit showed x4)
        .localCheckpoint(eager=True)
    )
    a = daily.select(F.col("day").alias("da"), F.col("cents").alias("ca"))
    b = daily.select(F.col("day").alias("db"), F.col("cents").alias("cb"))
    sp = (
        a.crossJoin(b)
        .filter(F.col("db") > F.col("da"))
        .agg(
            F.sum(
                F.when(F.col("cb") > F.col("ca"), 1)
                .when(F.col("cb") < F.col("ca"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s")
        )
    )
    ties = (
        daily.groupBy("cents")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .filter(F.col("t") > 1)
        .agg(
            F.coalesce(
                F.sum(F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)), F.lit(0)
            )
            .cast("long")
            .alias("tsum")
        )
    )
    nd = daily.agg(F.count(F.lit(1)).cast("long").alias("n"))
    return (
        sp.crossJoin(F.broadcast(ties))
        .crossJoin(F.broadcast(nd))
        .select(
            F.col("n").alias("n_days"),
            F.col("s").alias("s_stat"),
            F.expr(
                f"CAST(floor(({_MK_TAU})*10000 + 0.5)/10000.0 AS DOUBLE)"
            ).alias("tau"),
            F.expr(
                f"CAST(floor(({_MK_Z})*10000 + 0.5)/10000.0 AS DOUBLE)"
            ).alias("z"),
            F.expr(_MK_TREND).alias("trend"),
        )
    )
