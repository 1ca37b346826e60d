"""Registry entries: time-series smoothing and seasonal forecasting.

Holds the whole smoothing family after the round-6 module reorg:
`acf_daily_revenue`, `seasonal_decomposition_dow`, `ses_revenue_forecast`
and `brown_trend_forecast` (moved verbatim from registry_round6 — names
and oracle texts unchanged) plus the round-6 `holt_winters_dow_forecast`
documented below.

`ses_revenue_forecast` (level) and `brown_trend_forecast` (level+trend)
closed the smoothing family except for SEASONAL state — the one
time-series gap VERDICT r4/r5 left open.  The fully-coupled additive
Holt–Winters recurrences (level ℓ, trend b, seasonal s with period 7)
are inherently sequential: ℓ_t needs s_{t−7} which needs ℓ_{t−7} — no
bounded-depth DAG computes them without a T-step unroll, and a T-step
unroll is exactly the anti-pattern the dyadic-SES algebra exists to
avoid.  What ships here is the standard DECOUPLED estimator of the same
three states (the classical two-stage seasonal decomposition used to
initialize HW itself, e.g. Hyndman & Athanasopoulos FPP §3.4 / §8.3):

1. level+trend pinned to the exact OLS line over the day index
   (closed-form integer sufficient statistics — the `ols_daily_trend`
   machinery);
2. per-day-of-week SEASONAL STATE via dyadic (γ = 1/2) exponential
   smoothing over that weekday's OLS residual subseries — i.e. the
   true Holt–Winters seasonal recurrence s_dow ← γ·resid + (1−γ)·s_dow
   run to its closed weighted-sum form per dow (`ses_revenue_forecast`'s
   algebra applied 7 times, the "bounded unroll over the 7 dow states"
   HANDOFF sketched);
3. forecast(T+1) = OLS fit at T+1 + seasonal state of T+1's weekday.

The docstring honesty matters: this is Holt–Winters' seasonal SMOOTHING
with the level/trend coupling replaced by the global fit — the variant
that exists as a distributed query.  The coupled recurrences stay out of
scope by design, recorded in HANDOFF.

Exactness discipline (house rules): integer cents; OLS numerators /
denominator as DECIMAL(38,0)/HUGEINT; residuals micro-quantized through
an ENGINE-EXACT wide floor division (a − mod(a, d) is divisible by d, so
DuckDB's flooring `//` and Spark's truncating `DIV` agree on it — both
sides stay in integer arithmetic, never the float-divide shortcut);
per-term floor(resid_micro / 2^e) with the shared `_fdiv` text (residuals
go negative); terms with e > 40 defined out of the statistic exactly as
SES does.  Every emitted float is one division + 4 dp floor.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import register
from .functions.scalar import _fdiv
from .sources.tables import load_table as _t

HW_MAX_E = 40  # same truncation as SES/Brown: weight < 2^-40 is defined out


def _wfdiv_spark(a: str, b: str) -> str:
    """Exact floor division for wide (DECIMAL(38,0)) operands, Spark text.

    ``a − pmod(a, b)`` is divisible by ``b`` (b > 0), so Spark's
    truncating decimal ``DIV`` returns the exact floor quotient — no
    double-precision round-trip (the `_fdiv` float-divide trick is only
    exact below 2^53; OLS-scaled numerators exceed that)."""
    return f"CAST((({a}) - pmod(({a}), ({b}))) DIV ({b}) AS BIGINT)"


def _wfdiv_duck(a: str, b: str) -> str:
    """The DuckDB twin: HUGEINT `//` floors, and on the mod-adjusted
    (divisible) numerator floor == truncate == the exact quotient —
    value-identical to `_wfdiv_spark` by construction."""
    return f"((({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) // ({b}))::BIGINT"


# e(j): SES exponent for the j-th (0-based, time-ordered) observation of a
# dow subseries with n_d observations — boundary term j=0 carries s0 = x0.
_HW_E = "(CASE WHEN j = 0 THEN n_d - 1 ELSE n_d - j END)"
_HW_TERM = (
    f"CASE WHEN {_HW_E} <= {HW_MAX_E} THEN "
    + _fdiv("r_micro", f"CAST(power(2.0, {_HW_E}) AS BIGINT)")
    + " ELSE 0 END"
)
_HW_4DP = "floor(((CAST({v} AS DOUBLE)/1000000.0)/100.0)*10000 + 0.5)/10000.0"


@register(
    "holt_winters_dow_forecast",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(floor(value*100 + 0.5)::BIGINT)::BIGINT AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    idx AS (
      SELECT day, cents,
             (day - (SELECT min(day) FROM daily))::BIGINT AS t,
             CAST(dayofweek(day) AS BIGINT) % 7 AS dow
      FROM daily),
    st AS (
      SELECT count(*)::HUGEINT AS n, sum(t)::HUGEINT AS s_t,
             sum(cents)::HUGEINT AS s_y,
             sum(t::HUGEINT * t)::HUGEINT AS s_tt,
             sum(t::HUGEINT * cents)::HUGEINT AS s_ty,
             max(t)::BIGINT AS tmax, min(day) AS d0
      FROM idx),
    fit AS (
      SELECT CASE WHEN n*s_tt - s_t*s_t = 0 THEN 1::HUGEINT
                  ELSE n*s_tt - s_t*s_t END AS den,
             (n*s_ty - s_t*s_y)::HUGEINT AS num_b,
             (s_y*s_tt - s_t*s_ty)::HUGEINT AS num_a,
             tmax, d0
      FROM st),
    resid AS (
      SELECT i.dow, i.t,
             (i.cents::HUGEINT * 1000000
              - {_wfdiv_duck('(f.num_a + f.num_b * i.t) * 1000000', 'f.den')}
             )::BIGINT AS r_micro
      FROM idx i CROSS JOIN fit f),
    ranked AS (
      SELECT dow, r_micro,
             (row_number() OVER (PARTITION BY dow ORDER BY t) - 1)::BIGINT AS j,
             (count(*) OVER (PARTITION BY dow))::BIGINT AS n_d
      FROM resid),
    seas AS (
      SELECT dow, count(*)::BIGINT AS n_obs,
             sum({_HW_TERM})::BIGINT AS s_micro
      FROM ranked GROUP BY dow),
    nxt AS (
      SELECT CAST(dayofweek(f.d0 + CAST(f.tmax + 1 AS INTEGER)) AS BIGINT) % 7
               AS next_day_dow,
             {_wfdiv_duck('(f.num_a + f.num_b * (f.tmax + 1)) * 1000000',
                          'f.den')} AS fit_star_micro,
             {_wfdiv_duck('f.num_b * 1000000', 'f.den')} AS slope_micro
      FROM fit f),
    fc AS (
      SELECT n.next_day_dow, n.slope_micro,
             (n.fit_star_micro + COALESCE(s.s_micro, 0))::BIGINT
               AS forecast_micro
      FROM nxt n LEFT JOIN seas s ON s.dow = n.next_day_dow)
    SELECT s.dow, s.n_obs,
           {_HW_4DP.format(v='s.s_micro')} AS seasonal_state,
           {_HW_4DP.format(v='f.slope_micro')} AS trend_slope_per_day,
           f.next_day_dow,
           {_HW_4DP.format(v='f.forecast_micro')} AS next_day_forecast
    FROM seas s CROSS JOIN fc f
    ORDER BY s.dow
    """,
)
def q_holt_winters_dow_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt–Winters-style additive SEASONAL state over daily purchase
    revenue (period 7, Sunday-0 dow keys): exact OLS level+trend, dyadic
    (γ = 1/2) exponential smoothing of each weekday's detrended residual
    subseries as that weekday's seasonal state, and the one-step forecast
    fit(T+1) + s(dow(T+1)).  Emits one row per observed weekday with the
    shared trend/forecast columns on each row (the `dow_chi_square`
    emission shape).  See the module docstring for why the COUPLED HW
    recurrences are out of scope and what this decoupled estimator is.

    Exactness: the OLS fit never leaves integers — fit_micro(t) =
    floor((num_a + num_b·t)·10⁶ / den) via an engine-exact wide floor
    division (mod-adjust then divide: DuckDB `//` floors, Spark `DIV`
    truncates, and on the divisible numerator they coincide — the
    float-divide `_fdiv` trick would lose bits past 2^53 here); residual
    micro-cents are exact BIGINTs; per-term floors reuse `_fdiv` (terms
    go negative); e > {HW_MAX_E} terms are defined out (weight < 2^−40).
    The pure-Python gate rebuilds every integer and pins the distance to
    the true Fraction-exact seasonal recurrence.

    Bounds disclosed: micro-cents must fit BIGINT ⇒ max daily revenue
    < ~$9.2e10; the OLS cross-products stay inside DECIMAL(38,0)/HUGEINT
    to ~3e4 days × ~1e13 cents/day.

    Scale: one partial-agg'd corpus scan to the checkpointed day table;
    everything downstream (stats fold, residual join, 7-partition window,
    7-row seasonal aggregate, 1-row forecast) is day-table-sized.  Same
    rebuild-after-every-load cost as SES/Brown — the scan.
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
        # the day table fans out to the min-day probe, the OLS stats fold
        # and the residual join — checkpoint it (house rule) so the
        # events scan runs exactly once
        .localCheckpoint(eager=True)
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    idx = daily.crossJoin(F.broadcast(d0)).select(
        "cents",
        F.datediff(F.col("day"), F.col("d0")).cast("long").alias("t"),
        ((F.dayofweek(F.col("day")).cast("long") - 1) % 7).alias("dow"),
        "d0",
    )
    st = idx.agg(
        F.count(F.lit(1)).cast("decimal(38,0)").alias("n"),
        F.sum("t").cast("decimal(38,0)").alias("s_t"),
        F.sum("cents").cast("decimal(38,0)").alias("s_y"),
        F.sum(F.expr("CAST(t AS DECIMAL(38,0)) * t")).cast("decimal(38,0)").alias("s_tt"),
        F.sum(F.expr("CAST(t AS DECIMAL(38,0)) * cents"))
        .cast("decimal(38,0)")
        .alias("s_ty"),
        F.max("t").cast("long").alias("tmax"),
        F.min("d0").alias("d0"),
    )
    fit = st.select(
        F.expr(
            "CASE WHEN n*s_tt - s_t*s_t = 0 THEN CAST(1 AS DECIMAL(38,0))"
            " ELSE CAST(n*s_tt - s_t*s_t AS DECIMAL(38,0)) END"
        ).alias("den"),
        F.expr("CAST(n*s_ty - s_t*s_y AS DECIMAL(38,0))").alias("num_b"),
        F.expr("CAST(s_y*s_tt - s_t*s_ty AS DECIMAL(38,0))").alias("num_a"),
        "tmax",
        "d0",
    )
    resid = idx.crossJoin(F.broadcast(fit)).select(
        "dow",
        "t",
        F.expr(
            "CAST(CAST(cents AS DECIMAL(38,0)) * 1000000 - "
            + _wfdiv_spark("(num_a + num_b * t) * 1000000", "den")
            + " AS BIGINT)"
        ).alias("r_micro"),
    )
    wdow = Window.partitionBy("dow").orderBy("t")
    ranked = resid.select(
        "dow",
        "r_micro",
        (F.row_number().over(wdow) - 1).cast("long").alias("j"),
        F.count(F.lit(1)).over(Window.partitionBy("dow")).cast("long").alias("n_d"),
    )
    seas = ranked.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs"),
        F.sum(F.expr(_HW_TERM)).cast("long").alias("s_micro"),
    )
    nxt = fit.select(
        F.expr(
            "(CAST(dayofweek(date_add(d0, CAST(tmax + 1 AS INT))) AS BIGINT) - 1) % 7"
        ).alias("next_day_dow"),
        F.expr(
            _wfdiv_spark("(num_a + num_b * (tmax + 1)) * 1000000", "den")
        ).alias("fit_star_micro"),
        F.expr(_wfdiv_spark("num_b * 1000000", "den")).alias("slope_micro"),
    )
    fc = (
        nxt.join(
            F.broadcast(
                seas.select(
                    F.col("dow").alias("next_day_dow"),
                    F.col("s_micro").alias("s_star"),
                )
            ),
            "next_day_dow",
            "left",
        )
        .select(
            "next_day_dow",
            "slope_micro",
            F.expr("CAST(fit_star_micro + COALESCE(s_star, 0) AS BIGINT)").alias(
                "forecast_micro"
            ),
        )
    )
    return (
        seas.crossJoin(F.broadcast(fc))
        .select(
            "dow",
            "n_obs",
            F.expr(
                f"CAST({_HW_4DP.format(v='s_micro')} AS DOUBLE)"
            ).alias("seasonal_state"),
            F.expr(
                f"CAST({_HW_4DP.format(v='slope_micro')} AS DOUBLE)"
            ).alias("trend_slope_per_day"),
            F.col("next_day_dow").cast("long").alias("next_day_dow"),
            F.expr(
                f"CAST({_HW_4DP.format(v='forecast_micro')} AS DOUBLE)"
            ).alias("next_day_forecast"),
        )
        .orderBy("dow")
    )


# --- moved verbatim from registry_round6 (round-6 module reorg) ---

# ---------------------------------------------------------------------------
# Sample autocorrelation of daily purchase revenue, lags 1..7.
# ---------------------------------------------------------------------------
ACF_MAX_LAG = 7
_ACF = "CAST(num AS DOUBLE) / CAST(den AS DOUBLE)"


@register(
    "acf_daily_revenue",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(floor(value*100 + 0.5)::BIGINT)::BIGINT AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    idx AS (
      SELECT (day - (SELECT min(day) FROM daily))::BIGINT AS i, cents
      FROM daily),
    nst AS (
      SELECT count(*)::BIGINT AS n, sum(cents)::BIGINT AS s FROM idx),
    dev AS (
      SELECT i, (nst.n * cents - nst.s)::BIGINT AS d FROM idx CROSS JOIN nst),
    den AS (
      SELECT sum(d::HUGEINT * d)::HUGEINT AS den FROM dev),
    lags AS (SELECT unnest(range(1, {ACF_MAX_LAG + 1}))::BIGINT AS lag),
    num AS (
      SELECT l.lag, count(*)::BIGINT AS n_pairs,
             sum(a.d::HUGEINT * b.d)::HUGEINT AS num
      FROM lags l
      JOIN dev a ON TRUE
      JOIN dev b ON b.i = a.i - l.lag
      GROUP BY l.lag)
    SELECT lag, n_pairs,
           floor(({_ACF})*10000 + 0.5)/10000.0 AS acf
    FROM num CROSS JOIN den
    ORDER BY lag
    """,
)
def q_acf_daily_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample autocorrelation function of daily purchase revenue at lags
    1..7: r_k = Σ_t (y_t−ȳ)(y_{t−k}−ȳ) / Σ_t (y_t−ȳ)² on the calendar-day
    index — the weekly-seasonality detector beside `dow_chi_square`
    (which tests counts, not revenue) and the model-selection input for
    `seasonal_naive_backtest` (a spike at lag 7 justifies the seasonal
    naive).  Missing calendar days simply contribute no pair at the lags
    they'd anchor (standard irregular-series convention, identical in
    both engines).

    Exactness: deviations are n-scaled integers d_t = n·y_t − S (cents),
    so numerator and denominator are exact HUGEINT/DECIMAL folds of
    integer products; ONE shared float division per lag, floor-quantized
    to 4 dp.  DECIMAL(38,0) holds n²·y²·n ≈ 10³·10²² at a decade of
    100 TB-scale daily cents with room to spare.

    Scale: the lag joins run on the AGGREGATE day table (one row per
    day — decades fit in ~10⁴ rows, broadcastable), never on events;
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
    )
    # the day aggregate fans out to min-day, totals, the deviation table,
    # the denominator and 7 lag joins — checkpoint the tiny frames so the
    # corpus scan runs ONCE (plan_audit measured 24 lineage replays)
    daily = daily.localCheckpoint(eager=True)
    mind = daily.agg(F.min("day").alias("min_day"))
    idx = daily.crossJoin(F.broadcast(mind)).select(
        F.datediff(F.col("day"), F.col("min_day")).cast("long").alias("i"),
        "cents",
    )
    nst = idx.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("s"),
    )
    dev = idx.crossJoin(F.broadcast(nst)).select(
        "i", (F.col("n") * F.col("cents") - F.col("s")).cast("long").alias("d")
    ).localCheckpoint(eager=True)
    den = dev.agg(
        F.sum(F.col("d").cast("decimal(38,0)") * F.col("d"))
        .cast("decimal(38,0)")
        .alias("den")
    )
    lags = spark.range(1, ACF_MAX_LAG + 1).select(F.col("id").cast("long").alias("lag"))
    a = dev.select(F.col("i").alias("ia"), F.col("d").alias("da"))
    b = dev.select(F.col("i").alias("ib"), F.col("d").alias("db"))
    num = (
        a.crossJoin(F.broadcast(lags))
        .join(b, F.col("ib") == F.col("ia") - F.col("lag"))
        .groupBy("lag")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.col("da").cast("decimal(38,0)") * F.col("db"))
            .cast("decimal(38,0)")
            .alias("num"),
        )
    )
    return (
        num.crossJoin(F.broadcast(den))
        .select(
            "lag",
            "n_pairs",
            F.expr(f"CAST(floor(({_ACF})*10000 + 0.5)/10000.0 AS DOUBLE)").alias("acf"),
        )
        .orderBy("lag")
    )



# ---------------------------------------------------------------------------
# Additive day-of-week seasonal decomposition of daily revenue.
# ---------------------------------------------------------------------------
_SEAS_RED = "(1.0 - CAST(var_r AS DOUBLE) / CAST(var_t AS DOUBLE))"
_SEAS_MEAN = "(CAST(seas AS DOUBLE) / 100.0)"


@register(
    "seasonal_decomposition_dow",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(floor(value*100 + 0.5)::BIGINT)::BIGINT AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    keyed AS (
      SELECT day, cents,
             CAST(dayofweek(day) AS BIGINT) % 7 AS dow
      FROM daily),
    seas AS (
      SELECT dow, count(*)::BIGINT AS n_days, sum(cents)::BIGINT AS s,
             {_fdiv("sum(cents)", "count(*)")} AS seas
      FROM keyed GROUP BY dow),
    resid AS (
      SELECT k.day, k.dow, k.cents, (k.cents - s.seas)::BIGINT AS r
      FROM keyed k JOIN seas s ON k.dow = s.dow),
    tot AS (
      SELECT count(*)::BIGINT AS n, sum(cents)::BIGINT AS sy,
             sum(r)::BIGINT AS sr FROM resid),
    var_ AS (
      SELECT sum((tot.n * cents - tot.sy)::HUGEINT
                 * (tot.n * cents - tot.sy))::HUGEINT AS var_t,
             sum((tot.n * r - tot.sr)::HUGEINT
                 * (tot.n * r - tot.sr))::HUGEINT AS var_r
      FROM resid CROSS JOIN tot)
    SELECT s.dow, s.n_days,
           floor(({_SEAS_MEAN})*10000 + 0.5)/10000.0 AS seasonal_mean,
           floor(({_SEAS_RED})*10000 + 0.5)/10000.0 AS variance_reduction
    FROM seas s CROSS JOIN var_
    ORDER BY s.dow
    """,
)
def q_seasonal_decomposition_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive day-of-week seasonal decomposition of daily purchase
    revenue: the seasonal component is each weekday's mean (Sunday-0
    keys as everywhere), the residual is the day's revenue minus its
    weekday mean, and the headline number is the variance reduction the
    seasonal term explains — the quantitative answer to "should the
    forecast be seasonal" that `acf_daily_revenue` (lag-7 spike) and
    `dow_chi_square` (count uniformity) only hint at, and the direct
    justification for `seasonal_naive_backtest`'s model choice.

    Exactness: weekday means are portable floor-division integers
    (cents); residuals are exact integers; both variances are n-scaled
    integer deviation folds (the ACF machinery) in HUGEINT/DECIMAL;
    exactly one shared float division per emitted value.

    Scale: one groupBy(day) over the purchase slice, a 7-row seasonal
    aggregate broadcast back over the day table, and one more fold over
    the ≈10⁴-row day aggregate.  The scan is the whole cost.
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
    )
    # the day table fans out to the seasonal means, the residual join and
    # (via resid) the two variance folds — checkpoint it or each consumer
    # replays the events scan (plan audit showed x5); downstream frames
    # recompute from this ~10^4-row aggregate, never the corpus
    keyed = daily.select(
        "cents",
        ((F.dayofweek(F.col("day")).cast("long") - 1) % 7).alias("dow"),
    ).localCheckpoint(eager=True)
    seas = keyed.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.expr(_fdiv("sum(cents)", "count(*)")).alias("seas"),
    )
    resid = keyed.join(F.broadcast(seas), "dow").select(
        "dow", "cents", (F.col("cents") - F.col("seas")).cast("long").alias("r")
    )
    tot = resid.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sy"),
        F.sum("r").cast("long").alias("sr"),
    )
    var_ = (
        resid.crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                (F.col("n") * F.col("cents") - F.col("sy")).cast("decimal(38,0)")
                * (F.col("n") * F.col("cents") - F.col("sy"))
            )
            .cast("decimal(38,0)")
            .alias("var_t"),
            F.sum(
                (F.col("n") * F.col("r") - F.col("sr")).cast("decimal(38,0)")
                * (F.col("n") * F.col("r") - F.col("sr"))
            )
            .cast("decimal(38,0)")
            .alias("var_r"),
        )
    )
    return (
        seas.crossJoin(F.broadcast(var_))
        .select(
            "dow",
            "n_days",
            F.expr(f"CAST(floor(({_SEAS_MEAN})*10000 + 0.5)/10000.0 AS DOUBLE)").alias(
                "seasonal_mean"
            ),
            F.expr(f"CAST(floor(({_SEAS_RED})*10000 + 0.5)/10000.0 AS DOUBLE)").alias(
                "variance_reduction"
            ),
        )
        .orderBy("dow")
    )



# ---------------------------------------------------------------------------
# Simple exponential smoothing of daily revenue — closed-form dyadic SES.
# ---------------------------------------------------------------------------
SES_MAX_E = 40  # drop terms with weight < 2^-40 (sub-micro of any signal)


@register(
    "ses_revenue_forecast",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(floor(value*100 + 0.5)::BIGINT)::BIGINT AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    idx AS (
      SELECT (day - (SELECT min(day) FROM daily))::BIGINT AS t, cents
      FROM daily),
    tm AS (SELECT max(t)::BIGINT AS tmax FROM idx),
    terms AS (
      SELECT CASE WHEN t = 0 THEN tm.tmax ELSE tm.tmax - t + 1 END AS e, cents
      FROM idx CROSS JOIN tm),
    kept AS (
      SELECT ((cents::HUGEINT * 1000000)
              // CAST(power(2.0, e) AS BIGINT))::BIGINT AS term
      FROM terms WHERE e <= {SES_MAX_E}),
    s AS (SELECT sum(term)::BIGINT AS s_micro,
                 count(*)::BIGINT AS lags_used FROM kept),
    lastd AS (
      SELECT i.cents AS last_cents FROM idx i CROSS JOIN tm
      WHERE i.t = tm.tmax)
    SELECT (tm.tmax + 1)::BIGINT AS n_days_span, s.lags_used,
           floor((CAST(l.last_cents AS DOUBLE)/100.0)*10000 + 0.5)/10000.0
             AS last_day_revenue,
           floor(((CAST(s.s_micro AS DOUBLE)/1000000.0)/100.0)*10000 + 0.5)
             /10000.0 AS ses_forecast
    FROM tm CROSS JOIN s CROSS JOIN lastd l
    """,
)
def q_ses_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simple exponential smoothing (α = 1/2) of daily purchase revenue,
    emitted as the one-step-ahead forecast beside the last observed day —
    the classic short-memory baseline between `seasonal_naive_backtest`
    (pure seasonality) and `exp_decay_daily_value` (decayed totals, not a
    level estimate).  The round-6 attempt at smoothing stalled on the
    recurrence's 150-round unroll; the fix is algebra, not iteration:
    s_T = Σ_{{t≥1}} α(1−α)^{{T−t}}·x_t + (1−α)^T·x_0, and with DYADIC
    α = 1/2 every weight is exactly 2^−e, so one weighted sum over the
    day aggregate computes the whole recurrence.

    Exactness: each day's term is floor(cents·10⁶ / 2^e) — per-element
    integer quantization BEFORE the fold, divisor exact via power(2.0,e)
    (doubles represent 2^e exactly to e=1023, cast to BIGINT exact to
    e=62); the product is widened to DECIMAL(38,0)/HUGEINT.  Terms with
    e > {SES_MAX_E} are DEFINED out of the sum (weight < 2^−40 — below a
    micro-unit of any bounded signal), making the truncated statistic
    itself deterministic and engine-identical; the pure-Python gate
    checks both the integer identity and the ≤ 2^−40 distance to the
    true recurrence fixed point.

    Scale: one partial-agg'd scan to the ≤ |days| day aggregate, a 1-row
    broadcast of T, a bounded ≤ {SES_MAX_E + 1}-term fold — re-runnable
    after every daily load for the cost of the scan, at any corpus size.
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
        # the day aggregate fans out to five consumers (d0, T, terms, last
        # day); checkpointing the ≤|days|-row collapse keeps the corpus
        # scan at exactly ONE instead of lineage-replaying it per consumer
        .localCheckpoint(eager=True)
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    idx = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff(F.col("day"), F.col("d0")).cast("long").alias("t"), "cents"
    )
    tm = idx.agg(F.max("t").cast("long").alias("tmax"))
    terms = idx.crossJoin(F.broadcast(tm)).select(
        F.when(F.col("t") == 0, F.col("tmax"))
        .otherwise(F.col("tmax") - F.col("t") + 1)
        .alias("e"),
        "cents",
        "tmax",
    )
    kept = terms.filter(F.col("e") <= SES_MAX_E).select(
        F.expr(
            "CAST((CAST(cents AS DECIMAL(38,0)) * 1000000)"
            " DIV CAST(power(2.0, e) AS BIGINT) AS BIGINT)"
        ).alias("term")
    )
    s = kept.agg(
        F.sum("term").cast("long").alias("s_micro"),
        F.count(F.lit(1)).cast("long").alias("lags_used"),
    )
    lastd = (
        idx.crossJoin(F.broadcast(tm))
        .filter(F.col("t") == F.col("tmax"))
        .select(F.col("cents").alias("last_cents"))
    )
    return (
        tm.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(lastd))
        .select(
            (F.col("tmax") + 1).cast("long").alias("n_days_span"),
            "lags_used",
            F.expr(
                "CAST(floor((CAST(last_cents AS DOUBLE)/100.0)*10000 + 0.5)"
                "/10000.0 AS DOUBLE)"
            ).alias("last_day_revenue"),
            F.expr(
                "CAST(floor(((CAST(s_micro AS DOUBLE)/1000000.0)/100.0)*10000"
                " + 0.5)/10000.0 AS DOUBLE)"
            ).alias("ses_forecast"),
        )
    )



# ---------------------------------------------------------------------------
# Brown's double exponential smoothing — the SES algebra composed to trend.
# ---------------------------------------------------------------------------
@register(
    "brown_trend_forecast",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(floor(value*100 + 0.5)::BIGINT)::BIGINT AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    idx AS (
      SELECT (day - (SELECT min(day) FROM daily))::BIGINT AS t, cents
      FROM daily),
    tm AS (SELECT max(t)::BIGINT AS tmax FROM idx),
    terms AS (
      SELECT cents,
             CASE WHEN t = 0 THEN tm.tmax ELSE tm.tmax - t + 1 END AS e1,
             CASE WHEN t = 0 THEN tm.tmax + 1 ELSE tm.tmax - t + 2 END AS e2,
             CASE WHEN t = 0 THEN tm.tmax + 2 ELSE tm.tmax - t + 1 END AS m2
      FROM idx CROSS JOIN tm),
    kept AS (
      SELECT
        CASE WHEN e1 <= {SES_MAX_E}
             THEN ((cents::HUGEINT * 1000000)
                   // CAST(power(2.0, e1) AS BIGINT))::BIGINT
             ELSE 0 END AS t1,
        CASE WHEN e2 <= {SES_MAX_E}
             THEN ((cents::HUGEINT * 1000000 * m2)
                   // CAST(power(2.0, e2) AS BIGINT))::BIGINT
             ELSE 0 END AS t2
      FROM terms),
    s AS (SELECT sum(t1)::BIGINT AS s1, sum(t2)::BIGINT AS s2 FROM kept)
    SELECT (tm.tmax + 1)::BIGINT AS n_days_span,
           floor(((CAST(2*s.s1 - s.s2 AS DOUBLE)/1000000.0)/100.0)*10000 + 0.5)
             /10000.0 AS level,
           floor(((CAST(s.s1 - s.s2 AS DOUBLE)/1000000.0)/100.0)*10000 + 0.5)
             /10000.0 AS trend_per_day,
           floor(((CAST(3*s.s1 - 2*s.s2 AS DOUBLE)/1000000.0)/100.0)*10000 + 0.5)
             /10000.0 AS forecast_next_day
    FROM tm CROSS JOIN s
    """,
)
def q_brown_trend_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brown's double exponential smoothing (α = 1/2) of daily revenue —
    the linear-TREND forecaster `ses_revenue_forecast`'s level-only model
    can't express, and the composition proof for the dyadic-SES algebra:
    smoothing the smoothed series stays ONE weighted sum, because the
    weight of day t in s″_T has the closed form (T−t+1)·2^−(T−t+2)
    (an INTEGER times a dyadic), with boundary weights 2^−T for s′ and
    (T+2)·2^−(T+1) for s″ carrying the s₀ = x₀ convention.  Emits
    Brown's level a = 2s′−s″, per-day trend b = s′−s″ (α/(1−α) = 1 at
    α = ½) and the one-step forecast a + b = 3s′−2s″.

    Exactness: each term is floor(cents·10⁶·m / 2^e) — the integer
    multiplier m applied BEFORE the single floor division, the divisor
    exact via power(2.0, e); both sums are exact BIGINTs and the three
    emitted statistics are integer combinations of them, floated once at
    emission.  Terms with e > {SES_MAX_E} are defined out (weight
    < (T+2)·2^−40 — sub-micro); the Python gate pins the integer
    identity AND the distance to the true double recurrences.

    Scale: identical to SES — the checkpointed day aggregate, a 1-row T
    broadcast, a bounded fold.  Rebuilding BOTH smoothers after every
    daily load costs the same single scan SES costs.
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
        .localCheckpoint(eager=True)
    )
    d0 = daily.agg(F.min("day").alias("d0"))
    idx = daily.crossJoin(F.broadcast(d0)).select(
        F.datediff(F.col("day"), F.col("d0")).cast("long").alias("t"), "cents"
    )
    tm = idx.agg(F.max("t").cast("long").alias("tmax"))
    terms = idx.crossJoin(F.broadcast(tm)).select(
        "cents",
        F.when(F.col("t") == 0, F.col("tmax"))
        .otherwise(F.col("tmax") - F.col("t") + 1)
        .alias("e1"),
        F.when(F.col("t") == 0, F.col("tmax") + 1)
        .otherwise(F.col("tmax") - F.col("t") + 2)
        .alias("e2"),
        F.when(F.col("t") == 0, F.col("tmax") + 2)
        .otherwise(F.col("tmax") - F.col("t") + 1)
        .alias("m2"),
    )
    kept = terms.select(
        F.expr(
            f"CASE WHEN e1 <= {SES_MAX_E} THEN"
            " CAST((CAST(cents AS DECIMAL(38,0)) * 1000000)"
            " DIV CAST(power(2.0, e1) AS BIGINT) AS BIGINT) ELSE 0 END"
        ).alias("t1"),
        F.expr(
            f"CASE WHEN e2 <= {SES_MAX_E} THEN"
            " CAST((CAST(cents AS DECIMAL(38,0)) * 1000000 * m2)"
            " DIV CAST(power(2.0, e2) AS BIGINT) AS BIGINT) ELSE 0 END"
        ).alias("t2"),
    )
    s = kept.agg(
        F.sum("t1").cast("long").alias("s1"),
        F.sum("t2").cast("long").alias("s2"),
    )
    return tm.crossJoin(F.broadcast(s)).select(
        (F.col("tmax") + 1).cast("long").alias("n_days_span"),
        F.expr(
            "CAST(floor(((CAST(2*s1 - s2 AS DOUBLE)/1000000.0)/100.0)*10000"
            " + 0.5)/10000.0 AS DOUBLE)"
        ).alias("level"),
        F.expr(
            "CAST(floor(((CAST(s1 - s2 AS DOUBLE)/1000000.0)/100.0)*10000"
            " + 0.5)/10000.0 AS DOUBLE)"
        ).alias("trend_per_day"),
        F.expr(
            "CAST(floor(((CAST(3*s1 - 2*s2 AS DOUBLE)/1000000.0)/100.0)*10000"
            " + 0.5)/10000.0 AS DOUBLE)"
        ).alias("forecast_next_day"),
    )


