"""In-engine ML training operators — supervised/unsupervised model fits
executed as declarative Spark plans, each verified BIT-EXACTLY against a
DuckDB oracle built from the SAME generated SQL expression text.

The point these operators make: classic training-pipeline model fits
(linear regression, decision stumps, Markov chains, naive Bayes) reduce to
aggregate + join + window plans whose heavy lifting is ONE partial-agg'd
scan — i.e. they scale exactly like the relational queries, no ML runtime
needed.  Among them:

- ``ols_price_model``       — 3-unknown ordinary least squares via integer
                              normal equations + Cramer's rule (one scan).
- ``decision_stump_returns``— exact best-split search per feature by
                              windowed cumulative Gini gain.
- ``markov_stationary_events`` — user-journey transition matrix + fixed-
                              round power iteration to the stationary law.
- ``nb_lang_classifier``    — multinomial naive Bayes train/predict/eval
                              on an md5 holdout split, micro-nat integers.
- ``pca_top_component`` / ``pca_second_component`` /
  ``svd_rank2_affinity``    — fixed-round power iteration (with
                              deflation for the second direction).
- ``ips_policy_value`` / ``calibration_bins`` / ``annotator_agreement``
                            — model evaluation: off-policy IPS/SNIPS,
                              reliability bins, Cohen's kappa.

House invariants (HANDOFF): md5-derived pseudo-randomness only; per-row /
per-term quantization to integers BEFORE any distributed sum; wide
second-moment accumulators in DECIMAL(38,0) on the Spark side (DuckDB sums
are HUGEINT — same headroom); every emitted float through the shared
``floor(x*1e4+0.5)/1e4`` portable rounding; float expressions generated
ONCE as plain SQL text and evaluated by both engines so IEEE-double
operand order is identical by construction.

The reference (p1va/3-2-1-vector-search) has no model-fit surface at all —
its only "model" calls are delegated to sentence-transformers
(`pipeline/encode_assets.py:24-34`); these extend the SURVEY.md §2.6
training-data-pipeline north star.
"""

from __future__ import annotations

import re
from collections.abc import Sequence
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import register
from .functions.scalar import round4, salted_hash, salted_hash_sql
from .operators.relational import DAILY_PURCHASE_CENTS_SQL, daily_purchase_cents
from .sources.tables import load_table as _t


def _r4(expr: str) -> str:
    """SQL twin of :func:`round4` — portable 4-dp rounding text."""
    return f"floor(({expr})*10000 + 0.5)/10000.0"


# ---------------------------------------------------------------------------
# OLS: cents(extendedprice) ~ intercept + quantity + discount_pct.
# ---------------------------------------------------------------------------
# Integer-valued design: x1 = quantity (integral DOUBLE in the data),
# x2 = discount in whole percent, y = price in cents.  Every normal-equation
# moment is then an EXACT integer sum — partitioning-invariant — and the
# only float arithmetic is the final Cramer solve on ten scalars.
_OLS_FEATS = (
    "CAST(floor(l_quantity + 0.5) AS BIGINT) AS x1, "
    "CAST(floor(l_discount * 100 + 0.5) AS BIGINT) AS x2, "
    "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS y"
)

# moment -> product expression (engine-specific accumulator types are applied
# around these in _ols_moment_aggs / the oracle; values are identical ints).
_OLS_MOMENTS = {
    "s1": "x1",
    "s2": "x2",
    "sy": "y",
    "s11": "x1 * x1",
    "s12": "x1 * x2",
    "s22": "x2 * x2",
    "s1y": "x1 * y",
    "s2y": "x2 * y",
    "syy": "y * y",
}
# Accumulators that can exceed int64 at 100 TB row counts (HANDOFF headroom
# rule): anything involving y (<= ~1e7 cents) or a second moment.
_OLS_WIDE = {"sy", "s11", "s12", "s22", "s1y", "s2y", "syy"}


def _det3(a, b, c, d, e, f, g, h, i) -> str:
    """Determinant of [[a,b,c],[d,e,f],[g,h,i]] — fixed operand order."""
    return (
        f"({a})*(({e})*({i}) - ({f})*({h}))"
        f" - ({b})*(({d})*({i}) - ({f})*({g}))"
        f" + ({c})*(({d})*({h}) - ({e})*({g}))"
    )


def _ols_final_exprs() -> list[tuple[str, str]]:
    """[(alias, sql)] over the moment columns — shared by both engines."""
    nd = "CAST(n_rows AS DOUBLE)"
    m = {k: f"CAST({k} AS DOUBLE)" for k in _OLS_MOMENTS}
    # A = [[n, s1, s2], [s1, s11, s12], [s2, s12, s22]], b = [sy, s1y, s2y]
    A = [[nd, m["s1"], m["s2"]], [m["s1"], m["s11"], m["s12"]], [m["s2"], m["s12"], m["s22"]]]
    bv = [m["sy"], m["s1y"], m["s2y"]]
    det = _det3(*A[0], *A[1], *A[2])
    betas = []
    for i in range(3):
        Ai = [row[:] for row in A]
        for r in range(3):
            Ai[r][i] = bv[r]
        betas.append(f"(({_det3(*Ai[0], *Ai[1], *Ai[2])}) / ({det}))")
    b0, b1, b2 = betas
    sse = (
        f"({m['syy']} - (({b0})*{m['sy']} + ({b1})*{m['s1y']} + ({b2})*{m['s2y']}))"
    )
    sst = f"({m['syy']} - ({m['sy']}*{m['sy']}) / {nd})"
    return [
        ("n_rows", "n_rows"),
        ("beta_intercept", _r4(b0)),
        ("beta_quantity", _r4(b1)),
        ("beta_discount_pct", _r4(b2)),
        ("r2", _r4(f"1.0 - ({sse}) / ({sst})")),
    ]


def _ols_oracle() -> str:
    aggs = ", ".join(
        f"sum({p})::HUGEINT AS {k}" if k in _OLS_WIDE else f"sum({p})::BIGINT AS {k}"
        for k, p in _OLS_MOMENTS.items()
    )
    finals = ", ".join(f"{sql} AS {alias}" for alias, sql in _ols_final_exprs())
    return f"""
    WITH feats AS (SELECT {_OLS_FEATS} FROM lineitem),
    m AS (SELECT count(*)::BIGINT AS n_rows, {aggs} FROM feats)
    SELECT {finals} FROM m
    """


@register("ols_price_model", oracle=_ols_oracle())
def q_ols_price_model(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinary least squares, price-model flavor: fit
    ``cents(l_extendedprice) = b0 + b1*quantity + b2*discount_pct`` by the
    normal equations, solved with Cramer's rule — the canonical in-engine
    regression every feature-store / data-quality pipeline runs (drift of
    b1/b2/R² per snapshot flags schema or distribution breaks).

    Exactness: the design is integer-valued, so all ten X'X / X'y moments
    are exact integer sums (order-free); the Cramer solve + R² is ONE
    generated expression string evaluated by both engines on the same ten
    scalars (identical IEEE operand order by construction).

    Scale: ONE scan with partial aggregation — ten numbers of state per
    task, no shuffle of data rows; row-count-free final math.  Wide
    moments accumulate in DECIMAL(38,0) on the Spark side (DuckDB's
    HUGEINT twin), so Σy² keeps headroom past 1e12 rows where BIGINT
    would wrap (VERDICT-r2 item 4's rule applied from birth).
    """
    li = _t(spark, sf_dir, "lineitem")
    feats = li.selectExpr(*_OLS_FEATS.split(", "))
    aggs = [F.count(F.lit(1)).cast("long").alias("n_rows")]
    for k, p in _OLS_MOMENTS.items():
        if k in _OLS_WIDE:
            aggs.append(
                F.sum(F.expr(p).cast("decimal(38,0)")).cast("decimal(38,0)").alias(k)
            )
        else:
            aggs.append(F.sum(F.expr(p)).cast("long").alias(k))
    m = feats.agg(*aggs)
    # Spark parses the 10000.0 literal in the shared text as DECIMAL, so the
    # final division would emit DECIMAL columns; the values are exact either
    # way — pin the emitted type to DOUBLE to match the oracle schema.
    return m.select(
        *[
            F.expr(sql).alias(alias)
            if alias == "n_rows"
            else F.expr(sql).cast("double").alias(alias)
            for alias, sql in _ols_final_exprs()
        ]
    )


# ---------------------------------------------------------------------------
# Decision stump: exact best-split search per feature.
# ---------------------------------------------------------------------------
# Gini gain of the split (<= v vs > v), generated once for both engines.
def _gini_gain(nl: str, pl: str, n: str, p: str) -> str:
    """Gini impurity reduction for a binary split — fixed operand order.

    nl/pl: left-branch total/positive counts; n/p: node totals (BIGINT
    columns).  All ratios in DOUBLE; no pow() (engine-portable * only).
    """
    nd, pd = f"CAST({n} AS DOUBLE)", f"CAST({p} AS DOUBLE)"
    nld, pld = f"CAST({nl} AS DOUBLE)", f"CAST({pl} AS DOUBLE)"
    nrd, prd = f"({nd} - {nld})", f"({pd} - {pld})"
    parent = f"(1.0 - ({pd}/{nd})*({pd}/{nd}) - (({nd}-{pd})/{nd})*(({nd}-{pd})/{nd}))"
    left = f"(1.0 - ({pld}/{nld})*({pld}/{nld}) - (({nld}-{pld})/{nld})*(({nld}-{pld})/{nld}))"
    right = f"(1.0 - ({prd}/{nrd})*({prd}/{nrd}) - (({nrd}-{prd})/{nrd})*(({nrd}-{prd})/{nrd}))"
    return f"({parent} - (({nld}/{nd})*{left} + ({nrd}/{nd})*{right}))"


_GAIN_NANO = (
    f"floor(({_gini_gain('cum_n', 'cum_pos', 'n_tot', 'pos_tot')})*1000000000 + 0.5)"
)


def gini_split_scores(
    agg: DataFrame, keys: Sequence[str] = (), extra: Column | None = None
) -> DataFrame:
    """Every candidate split of a class histogram, scored by Gini gain.

    ``agg`` holds one row per (keys…, feature, val) cell with its row
    count ``cnt`` and positive count ``pos``.  Returns (keys…, feature,
    val, cum_n, cum_pos, n_tot, pos_tot, gain_nano): the left branch of
    the split ``<= val`` as running sums in val order per (keys…,
    feature), the node totals, and the gain nano-quantized to a BIGINT so
    no argmax compares floats.  The last cell of each run (empty right
    branch) is dropped, and so is any row failing ``extra``.  Each caller
    picks its own best rows.  `gini_split_scores_sql` is the DuckDB twin.
    """
    w = (
        Window.partitionBy(*keys, "feature")
        .orderBy("val")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wt = Window.partitionBy(*keys, "feature")
    keep = F.col("cum_n") < F.col("n_tot")
    if extra is not None:
        keep = keep & extra
    cum = agg.select(
        *keys,
        "feature",
        "val",
        F.sum("cnt").over(w).cast("long").alias("cum_n"),
        F.sum("pos").over(w).cast("long").alias("cum_pos"),
        F.sum("cnt").over(wt).cast("long").alias("n_tot"),
        F.sum("pos").over(wt).cast("long").alias("pos_tot"),
    )
    return cum.filter(keep).withColumn("gain_nano", F.expr(f"CAST({_GAIN_NANO} AS BIGINT)"))


def gini_split_scores_sql(src: str, keys: Sequence[str] = (), extra: str = "") -> str:
    """DuckDB twin of `gini_split_scores`: a SELECT over the histogram
    relation ``src`` (a CTE name) with the same columns and rows."""
    k = "".join(f"{key}, " for key in keys)
    part = f"PARTITION BY {k}feature"
    keep = f"cum_n < n_tot AND {extra}" if extra else "cum_n < n_tot"
    return f"""SELECT {k}feature, val, cum_n, cum_pos, n_tot, pos_tot,
             {_GAIN_NANO}::BIGINT AS gain_nano
      FROM (
        SELECT {k}feature, val,
               (sum(cnt) OVER w)::BIGINT AS cum_n,
               (sum(pos) OVER w)::BIGINT AS cum_pos,
               (sum(cnt) OVER ({part}))::BIGINT AS n_tot,
               (sum(pos) OVER ({part}))::BIGINT AS pos_tot
        FROM {src}
        WINDOW w AS ({part} ORDER BY val
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) c
      WHERE {keep}"""


_STUMP_FEATURES = [
    ("quantity", "CAST(floor(l_quantity + 0.5) AS BIGINT)"),
    ("discount_pct", "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"),
    ("tax_pct", "CAST(floor(l_tax * 100 + 0.5) AS BIGINT)"),
]
_STUMP_LABEL = "CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END"


def _stump_oracle() -> str:
    branches = "\n      UNION ALL ".join(
        f"SELECT '{name}' AS feature, {expr} AS val, {_STUMP_LABEL} AS pos"
        f" FROM lineitem"
        for name, expr in _STUMP_FEATURES
    )
    return f"""
    WITH base AS ({branches}),
    agg AS (
      SELECT feature, val, count(*)::BIGINT AS cnt, sum(pos)::BIGINT AS pos
      FROM base GROUP BY 1, 2),
    scored AS ({gini_split_scores_sql("agg")}),
    best AS (
      SELECT *, row_number() OVER (PARTITION BY feature
                                   ORDER BY gain_nano DESC, val) AS rn
      FROM scored)
    SELECT feature, val AS threshold,
           floor((gain_nano / 1000000000.0)*10000 + 0.5)/10000.0 AS gain,
           cum_n AS n_left, cum_pos AS pos_left,
           (n_tot - cum_n)::BIGINT AS n_right,
           (pos_tot - cum_pos)::BIGINT AS pos_right
    FROM best WHERE rn = 1 ORDER BY feature
    """


@register("decision_stump_returns", oracle=_stump_oracle())
def q_decision_stump_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact decision-stump training: for each candidate feature, the
    threshold maximizing Gini impurity reduction on the is-return label —
    the inner loop of tree/GBDT training, run as a declarative plan.  The
    histogram trick IS the plan: split search needs only per-(feature,
    value) class counts, never the raw rows.

    Exactness: class counts are exact integers; the gain is ONE generated
    DOUBLE expression over four BIGINT columns (`gini_split_scores` and
    its SQL twin), ranked on its nano-quantized integer so the argmax
    (tie-break: lowest threshold) never compares floats.

    Scale: ONE scan explodes each row to 3 (feature, value) pairs, then a
    partial-agg'd groupBy over at most Σ|domain| ≈ 160 cells; windows and
    the argmax run on those cells — constant-size state regardless of
    corpus size.  Adding features/bins grows the cell table, not the
    shuffle of data rows (this is LightGBM's histogram algorithm expressed
    relationally).
    """
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("feature"),
                        F.expr(expr).alias("val"),
                    )
                    for name, expr in _STUMP_FEATURES
                ]
            )
        ).alias("fv"),
        F.expr(_STUMP_LABEL).alias("pos"),
    ).select("fv.feature", "fv.val", "pos")
    agg = base.groupBy("feature", "val").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("pos"),
    )
    scored = gini_split_scores(agg)
    w_best = Window.partitionBy("feature").orderBy(
        F.desc("gain_nano"), F.asc("val")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w_best))
        .filter(F.col("rn") == 1)
        .select(
            "feature",
            F.col("val").alias("threshold"),
            round4(F.col("gain_nano") / 1000000000.0).alias("gain"),
            F.col("cum_n").alias("n_left"),
            F.col("cum_pos").alias("pos_left"),
            (F.col("n_tot") - F.col("cum_n")).cast("long").alias("n_right"),
            (F.col("pos_tot") - F.col("cum_pos")).cast("long").alias("pos_right"),
        )
        .orderBy("feature")
    )


# ---------------------------------------------------------------------------
# Fixed-round iteration on a 1-row frame: one Spark loop, one DuckDB chain.
# ---------------------------------------------------------------------------
class Iteration(NamedTuple):
    """A fixed-round iteration on a 1-row frame, written once for both
    engines: each round evaluates ``step``, ordered ``(name, sql)``
    bindings over the state columns and earlier bindings, and then binding
    ``outputs[k]`` becomes state column ``state[k]``.  Spark types the
    loop state by the init array, so a state that a round can set to NULL
    needs a nullable init (a non-nullable array reads NULL back as 0)."""

    state: list[tuple[str, str]]  # (column, initial value as SQL)
    rounds: int
    step: list[tuple[str, str]]
    outputs: list[str]


def _inline(sql: str, env: dict[str, str]) -> str:
    """``sql`` with every whole-word name in ``env`` replaced by its text."""
    names = re.compile(r"\b(" + "|".join(map(re.escape, env)) + r")\b")
    return names.sub(lambda m: env[m.group(1)], sql)


def iterate_rounds(df: DataFrame, name: str, it: Iteration) -> DataFrame:
    """Run ``it`` as ONE ``aggregate()`` over ``sequence(1, R)`` with an
    array accumulator that starts as the init array, then unpack the final
    state into the state columns.  Each round reads state k from slot k+1
    of the accumulator with every binding inlined into the outputs
    (bindings are deterministic, so textual duplication cannot change a
    value); term order and quantization are the oracle's, so the
    trajectory is IEEE-identical.

    The loop sits behind an ``explode(array(...))`` Generate barrier in
    column ``name``: ``aggregate()`` is a CodegenFallback expression, and
    without the barrier CollapseProject inlines the loop into every
    downstream consumer expression, where the interpreted evaluator
    re-runs it once per textual copy (+0.06–0.14 s per warm collect on the
    1-row iteration queries).  A Generate node is a projection-collapse
    boundary, so the loop runs once per row; a single-element explode
    keeps row count and values."""
    env = {s: f"element_at(acc, {k + 1})" for k, (s, _) in enumerate(it.state)}
    for b, sql in it.step:
        env[b] = _inline(sql, env)
    init = ", ".join(sql for _, sql in it.state)
    body = ", ".join(env[o] for o in it.outputs)
    loop = f"aggregate(sequence(1, {it.rounds}), array({init}), (acc, t) -> array({body}))"
    df = df.select("*", F.explode(F.array(F.expr(loop))).alias(name))
    for k, (s, _) in enumerate(it.state):
        df = df.withColumn(s, F.element_at(name, k + 1))
    return df


def iterate_rounds_sql(tag: str, src: str, it: Iteration) -> tuple[list[str], str]:
    """DuckDB twin of :func:`iterate_rounds`: ``it.rounds`` CTEs
    ``{tag}1 .. {tag}R``, each MATERIALIZED.  The first reads ``src`` plus
    the initial state, and every round carries all of ``src``'s columns.
    Each round keeps its bindings layered: the non-output bindings in an
    inner SELECT, the outputs renamed onto the state.  Returns the CTEs
    and the last CTE's name."""
    sql_of = dict(it.step)
    inner = [(b, sql) for b, sql in it.step if b not in it.outputs]
    new = ", ".join(f"{sql_of[o]} AS {s}" for o, (s, _) in zip(it.outputs, it.state))
    init = ", ".join(f"{sql} AS {s}" for s, sql in it.state)
    prev, ctes = f"(SELECT *, {init} FROM {src})", []
    for t in range(1, it.rounds + 1):
        if inner:
            layer = ", ".join(f"{sql} AS {b}" for b, sql in inner)
            drop = ", ".join(b for b, _ in inner)
            body = (
                f"SELECT * EXCLUDE ({drop}) REPLACE ({new})"
                f" FROM (SELECT *, {layer} FROM {prev})"
            )
        else:
            body = f"SELECT * REPLACE ({new}) FROM {prev}"
        ctes.append(f"{tag}{t} AS MATERIALIZED ({body})")
        prev = f"{tag}{t}"
    return ctes, prev


# ---------------------------------------------------------------------------
# Markov stationary distribution of the user-journey event chain.
# ---------------------------------------------------------------------------
_MK_TYPES = ["click", "error", "purchase", "signup", "view"]  # fixed domain
_MK_K = len(_MK_TYPES)
_MK_ITERS = 12
_MK_SCALE = 1_000_000


def _mk_iteration() -> Iteration:
    """One power-iteration step pi' = pi·P on micro-integer pi, from the
    uniform start; P_ij = c{i}_{j}/r{i} formed in DOUBLE inside the
    expression.  Row-sum guard: a state with no outgoing transition
    self-loops (keeps the chain stochastic without data-dependent
    surprises)."""
    steps = []
    for j in range(_MK_K):
        terms = []
        for i in range(_MK_K):
            frac = (
                f"(CASE WHEN r{i} = 0 THEN (CASE WHEN {i} = {j} THEN 1.0 ELSE 0.0 END)"
                f" ELSE CAST(c{i}_{j} AS DOUBLE) / CAST(r{i} AS DOUBLE) END)"
            )
            terms.append(f"CAST(p{i} AS DOUBLE) * {frac}")
        steps.append((f"np{j}", f"CAST(floor({' + '.join(terms)}) AS BIGINT)"))
    return Iteration(
        [(f"p{i}", f"CAST({_MK_SCALE // _MK_K} AS BIGINT)") for i in range(_MK_K)],
        _MK_ITERS,
        steps,
        [f"np{j}" for j in range(_MK_K)],
    )


# The first-order transition counts of the user-journey chain: per-user
# `lag(event_type)` pairs folded to 25 BIGINT cells c{i}_{j} (from state i
# to state j) plus the row sums r{i}, as one row.
_MK_COUNT_CELLS = ", ".join(
    f"sum(CASE WHEN prev = '{a}' AND event_type = '{b}' THEN 1 ELSE 0 END)::BIGINT"
    f" AS c{i}_{j}"
    for i, a in enumerate(_MK_TYPES)
    for j, b in enumerate(_MK_TYPES)
)
_MK_ROW_SUMS = ", ".join(
    "(" + " + ".join(f"c{i}_{j}" for j in range(_MK_K)) + f") AS r{i}"
    for i in range(_MK_K)
)
_SQL_MK_COUNTS = f"""pairs AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev,
             event_type
      FROM events),
    c AS MATERIALIZED (SELECT *, {_MK_ROW_SUMS} FROM (
      SELECT {_MK_COUNT_CELLS} FROM pairs WHERE prev IS NOT NULL))"""


def markov_transition_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of ``_SQL_MK_COUNTS``.  The 1-row count frame is
    materialized once by an eager ``localCheckpoint``: a plan-cached query
    re-collected warm reruns only its iteration tail, not the corpus
    window and aggregate; cold (build + first collect) carries them."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = ev.select(
        F.lag("event_type").over(w).alias("prev"), "event_type"
    ).filter(F.col("prev").isNotNull())
    cnt_aggs = [
        F.sum(
            F.when(
                (F.col("prev") == a) & (F.col("event_type") == b), F.lit(1)
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias(f"c{i}_{j}")
        for i, a in enumerate(_MK_TYPES)
        for j, b in enumerate(_MK_TYPES)
    ]
    it = pairs.agg(*cnt_aggs).localCheckpoint(eager=True)
    for i in range(_MK_K):
        it = it.withColumn(
            f"r{i}", F.expr(" + ".join(f"c{i}_{j}" for j in range(_MK_K)))
        )
    return it


def _mk_oracle() -> str:
    rounds, last = iterate_rounds_sql("it", "c", _mk_iteration())
    sel = "\n      UNION ALL ".join(
        f"SELECT '{a}' AS event_type, "
        f"{_r4(f'CAST(p{i} AS DOUBLE) / {_MK_SCALE}.0')} AS stationary_prob, "
        f"r{i}::BIGINT AS out_transitions FROM {last}"
        for i, a in enumerate(_MK_TYPES)
    )
    cte_block = ",\n    ".join([_SQL_MK_COUNTS, *rounds])
    return f"""
    WITH {cte_block}
    {sel}
    ORDER BY event_type
    """


@register("markov_stationary_events", oracle=_mk_oracle())
def q_markov_stationary_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stationary distribution of the first-order user-journey Markov chain
    (what fraction of time an endless session spends in each event state) —
    the classic behavioral summary behind Markov attribution and journey
    simulation.  Transition counts come from per-user `lag` pairs
    (`markov_transition_counts`); the stationary law is 12 rounds of pi·P
    on the 1-row count frame, run as one `iterate_rounds` loop.

    Exactness: counts are exact integers; every round is generated
    ONCE as SQL text (micro-integer pi, DOUBLE mat-vec with fixed operand
    order, floor-quantize each round) and evaluated by both engines, the
    `q_pca_top_component` recipe applied to a stochastic
    matrix.  The event-type domain is the fixed 5-state enum of the
    fixture stream (same hardcoding as `ips_policy_value`'s action set).

    Scale: one window over (user_id, ts) — the same single exchange every
    sessionization query in this engine pays — then a partial-agg'd fold
    to 25 BIGINT cells; iterations are corpus-size-free.  K states cost
    K² state columns; for K beyond a few hundred you'd pivot to a long
    (i,j,c) form and an iterative join (the pagerank shape already in
    `registry_dedup`).
    """
    def build() -> DataFrame:
        return _markov_plan(spark, sf_dir)

    return _plan_cached("markov_stationary_events", spark, sf_dir, build)


def _markov_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    it = iterate_rounds(markov_transition_counts(spark, sf_dir), "pv", _mk_iteration())
    rows = it.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("event_type"),
                        round4(
                            F.col(f"p{i}").cast("double") / float(_MK_SCALE)
                        ).alias("stationary_prob"),
                        F.col(f"r{i}").cast("long").alias("out_transitions"),
                    )
                    for i, a in enumerate(_MK_TYPES)
                ]
            )
        ).alias("s")
    )
    return rows.select(
        "s.event_type", "s.stationary_prob", "s.out_transitions"
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Multinomial naive Bayes: train on an md5 80% split, classify the holdout,
# emit the confusion matrix.  Micro-nat integer log-likelihoods throughout.
# ---------------------------------------------------------------------------
_NB_ORACLE = f"""
WITH docs AS (
  SELECT doc_id, lang, text,
         {salted_hash_sql("nbsplit", "doc_id")} % 5
           AS bucket
  FROM documents WHERE trim(text) != ''),
train_tok AS (
  SELECT lang, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM docs WHERE bucket != 0),
cls_tok AS (
  SELECT lang, tok, count(*)::BIGINT AS c FROM train_tok GROUP BY 1, 2),
cls AS (
  SELECT lang, sum(c)::BIGINT AS t_l FROM cls_tok GROUP BY 1),
vocab AS (SELECT count(DISTINCT tok)::BIGINT AS v FROM train_tok),
prior AS (
  SELECT lang, count(*)::BIGINT AS d_l FROM docs WHERE bucket != 0 GROUP BY 1),
prior_tot AS (SELECT sum(d_l)::BIGINT AS d_tot FROM prior),
model AS (
  SELECT ct.lang, ct.tok,
         floor(ln(CAST(ct.c + 1 AS DOUBLE))*1000000 + 0.5)::BIGINT AS lsc
  FROM cls_tok ct),
norms AS (
  SELECT c.lang,
         floor(ln(CAST(c.t_l + v.v AS DOUBLE))*1000000 + 0.5)::BIGINT AS norm_u,
         floor(ln(CAST(p.d_l AS DOUBLE))*1000000 + 0.5)::BIGINT
           - floor(ln(CAST(pt.d_tot AS DOUBLE))*1000000 + 0.5)::BIGINT AS prior_u
  FROM cls c CROSS JOIN vocab v
  JOIN prior p ON p.lang = c.lang CROSS JOIN prior_tot pt),
test_tok AS (
  SELECT doc_id, lang AS true_lang,
         unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
  FROM docs WHERE bucket = 0),
test_tf AS (
  SELECT doc_id, true_lang, tok, count(*)::BIGINT AS tf
  FROM test_tok GROUP BY 1, 2, 3),
test_len AS (
  SELECT doc_id, true_lang, sum(tf)::BIGINT AS m_d
  FROM test_tf GROUP BY 1, 2),
hits AS (
  SELECT tf.doc_id, mo.lang, sum(tf.tf * mo.lsc)::BIGINT AS s_u
  FROM test_tf tf JOIN model mo ON mo.tok = tf.tok
  GROUP BY 1, 2),
scores AS (
  SELECT tl.doc_id, tl.true_lang, n.lang,
         (n.prior_u - tl.m_d * n.norm_u + COALESCE(h.s_u, 0))::BIGINT AS score_u
  FROM test_len tl CROSS JOIN norms n
  LEFT JOIN hits h ON h.doc_id = tl.doc_id AND h.lang = n.lang),
pred AS (
  SELECT doc_id, true_lang, lang AS pred_lang,
         row_number() OVER (PARTITION BY doc_id ORDER BY score_u DESC, lang)
           AS rn
  FROM scores)
SELECT true_lang, pred_lang, count(*)::BIGINT AS n_docs
FROM pred WHERE rn = 1
GROUP BY 1, 2 ORDER BY 1, 2
"""


@register("nb_lang_classifier", oracle=_NB_ORACLE)
def q_nb_lang_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial naive Bayes language classifier, trained and evaluated
    inside the engine: Laplace-smoothed per-(lang, token) log-likelihoods
    fit on an md5-derived 80% split, holdout docs classified by argmax,
    confusion matrix emitted — the supervised-counting complement to the
    heuristic `lang_id_accuracy` (a real trained model, still pure SQL).

    Exactness: every log-likelihood is quantized ONCE to integer
    micro-nats (`unigram_logprob` recipe: floor(ln(c+1)*1e6+0.5)); a doc's
    per-class score is an exact BIGINT sum `prior + Σ tf·lsc − m_d·norm`,
    so the argmax (tie-break: lang asc) never compares floats.  Unseen
    (token, class) pairs contribute exactly −norm via the m_d term and a
    COALESCE(0) join miss — no dense token × class materialization.

    Scale: training is one token-count aggregate (vocab × 5 model rows —
    Zipf-small); scoring joins holdout (doc, tok, tf) to the model on the
    token key (the engine's standard shuffle) and folds to doc × 5 score
    rows.  Both sides stream; no driver-side model object exists at all.
    """
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select(
            "doc_id",
            "lang",
            "text",
            (salted_hash("nbsplit", "doc_id") % 5).alias("bucket"),
        )
    )
    tok_expr = F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok")
    train_tok = docs.filter(F.col("bucket") != 0).select("lang", tok_expr)
    # The model/total/vocab branches would each re-run the tokenize subtree
    # (3 corpus scans); materialize the Zipf-small count table once and
    # derive all three from it (localCheckpoint = the house lineage cut).
    cls_tok = (
        train_tok.groupBy("lang", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint()
    )
    cls = cls_tok.groupBy("lang").agg(F.sum("c").cast("long").alias("t_l"))
    vocab = cls_tok.agg(F.countDistinct("tok").cast("long").alias("v"))
    prior = (
        docs.filter(F.col("bucket") != 0)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("d_l"))
    )
    prior_tot = prior.agg(F.sum("d_l").cast("long").alias("d_tot"))
    model = cls_tok.select(
        "lang",
        "tok",
        F.floor(F.log(F.col("c").cast("double") + 1.0) * 1000000 + 0.5)
        .cast("long")
        .alias("lsc"),
    )
    norms = (
        cls.crossJoin(F.broadcast(vocab))
        .join(prior, "lang")
        .crossJoin(F.broadcast(prior_tot))
        .select(
            "lang",
            F.floor(F.log((F.col("t_l") + F.col("v")).cast("double")) * 1000000 + 0.5)
            .cast("long")
            .alias("norm_u"),
            (
                F.floor(F.log(F.col("d_l").cast("double")) * 1000000 + 0.5).cast("long")
                - F.floor(F.log(F.col("d_tot").cast("double")) * 1000000 + 0.5).cast(
                    "long"
                )
            ).alias("prior_u"),
        )
    )
    test_tf = (
        docs.filter(F.col("bucket") == 0)
        .select("doc_id", F.col("lang").alias("true_lang"), tok_expr)
        .groupBy("doc_id", "true_lang", "tok")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
        .localCheckpoint()  # feeds both the length fold and the model join
    )
    test_len = test_tf.groupBy("doc_id", "true_lang").agg(
        F.sum("tf").cast("long").alias("m_d")
    )
    hits = (
        test_tf.join(model, "tok")
        .groupBy("doc_id", "lang")
        .agg(F.sum(F.col("tf") * F.col("lsc")).cast("long").alias("s_u"))
    )
    scores = (
        test_len.crossJoin(F.broadcast(norms))
        .join(hits, ["doc_id", "lang"], "left")
        .select(
            "doc_id",
            "true_lang",
            "lang",
            (
                F.col("prior_u")
                - F.col("m_d") * F.col("norm_u")
                + F.coalesce(F.col("s_u"), F.lit(0))
            )
            .cast("long")
            .alias("score_u"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_u"), F.asc("lang"))
    pred = scores.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        pred.groupBy(F.col("true_lang"), F.col("lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .orderBy("true_lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# Plan cache: prepared-statement semantics for expression-heavy queries.
# ---------------------------------------------------------------------------
# The wide-replica and iteration plans below execute in ~0.1 s but cost
# up to seconds of Catalyst optimization + Janino codegen, or an eager
# build-time checkpoint, PER FRESH DataFrame (measured: bootstrap 4.3 s/call
# rebuilt vs 0.1 s re-collected).
# A DataFrame object caches its optimized/physical plan, so returning the
# same object per (session, sf_dir) amortizes compile exactly like a
# prepared statement — no DATA is cached; every collect re-executes.
_PLAN_CACHE: dict[tuple[int, str, str], DataFrame] = {}


def _plan_cached(name: str, spark: SparkSession, sf_dir: str, build):
    key = (id(spark), sf_dir, name)
    df = _PLAN_CACHE.get(key)
    if df is None:
        df = build()
        _PLAN_CACHE[key] = df
    return df


# ---------------------------------------------------------------------------
# Deterministic Poisson bootstrap: CI for mean purchase value per event type.
# ---------------------------------------------------------------------------
_BOOT_B = 32
# floor(CDF_Poisson(1)(k) * 2^32) for k = 0..6 (ELSE branch = 7): the md5
# uniform is compared against integer thresholds only — no float RNG.
_POIS_T = [1580030168, 3160060337, 3950075421, 4213413783,
           4279248373, 4292415291, 4294609777]


def _pois_w(u: str) -> str:
    """Shared CASE ladder: Poisson(1) inverse CDF on a 32-bit uniform."""
    branches = " ".join(
        f"WHEN {u} < {t} THEN {k}" for k, t in enumerate(_POIS_T)
    )
    return f"(CASE {branches} ELSE 7 END)"


def _boot_mean(b: int) -> str:
    return f"((CAST(swc{b} AS DOUBLE) / 100.0) / CAST(sw{b} AS DOUBLE))"


def _boot_oracle() -> str:
    # 4 replica lanes per md5: one 128-bit digest feeds four 32-bit uniforms
    h_cols = ", ".join(
        f"md5('bootg{g}:' || CAST(event_id AS VARCHAR)) AS h{g}"
        for g in range(_BOOT_B // 4)
    )
    u_cols = ", ".join(
        f"(('0x' || substr(h{b // 4}, {(b % 4) * 8 + 1}, 8))::BIGINT) AS u{b}"
        for b in range(_BOOT_B)
    )
    w_cols = ", ".join(f"{_pois_w(f'u{b}')} AS w{b}" for b in range(_BOOT_B))
    aggs = ", ".join(
        f"sum(w{b})::BIGINT AS sw{b}, sum(w{b} * cents)::BIGINT AS swc{b}"
        for b in range(_BOOT_B)
    )
    means = ", ".join(_boot_mean(b) for b in range(_BOOT_B))
    return f"""
    WITH h AS (
      SELECT event_type, floor(value*100 + 0.5)::BIGINT AS cents, {h_cols}
      FROM events),
    base AS (SELECT event_type, cents, {u_cols} FROM h),
    w AS (SELECT event_type, cents, {w_cols} FROM base),
    agg AS (
      SELECT event_type, count(*)::BIGINT AS n_events,
             sum(cents)::BIGINT AS sc, {aggs}
      FROM w GROUP BY 1)
    SELECT event_type, n_events,
           floor(((CAST(sc AS DOUBLE) / 100.0) / CAST(n_events AS DOUBLE))
                 * 10000 + 0.5) / 10000.0 AS mean_value,
           floor((list_sort([{means}])[2]) * 10000 + 0.5) / 10000.0 AS ci_lo,
           floor((list_sort([{means}])[{_BOOT_B - 1}]) * 10000 + 0.5) / 10000.0
             AS ci_hi
    FROM agg ORDER BY event_type
    """


@register("bootstrap_value_ci", oracle=_boot_oracle())
def q_bootstrap_value_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for the mean event value per
    event type — the standard production trick for CIs over distributed
    data (Chamandy et al., "Estimating Uncertainty for Massive Data
    Streams"): each of B=32 replicas reweights every row by a
    Poisson(1)-distributed integer, so replica statistics are plain
    weighted aggregates computed in the SAME single scan, no resampling
    pass.  CI = order statistics (ranks 2 and 31 of 32, ~93% coverage) of
    the replica means.

    Exactness: weights come from an integer CASE ladder on md5 uniforms
    (floor(CDF·2^32) thresholds precomputed once — shared literal text,
    no float RNG, the `dp_noisy_counts` recipe); per-replica numerators/
    denominators are exact BIGINT sums; the only float math is 32 final
    divisions and a sort of 32 doubles per group.

    Scale: ONE partial-agg'd scan carrying 2B+2 integer accumulators per
    event type; B scales the accumulator width, never the shuffled rows.
    Hashing is the plan's CPU cost, so each 128-bit md5 feeds FOUR 32-bit
    replica lanes (B/4 digests per row, not B).
    """
    def build() -> DataFrame:
        return _bootstrap_plan(spark, sf_dir)

    return _plan_cached("bootstrap_value_ci", spark, sf_dir, build)


def _bootstrap_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .partitioning import fan_out

    # Round 12 (guide §2.6/§1.2, measured): the fixture's single-file scan
    # arrives as ONE input partition, so the B/4 md5 digests + B conv/
    # ladder evaluations per row all ran on one core (8→32-core scaling
    # ratio ~1 in PERF_r11).  One cheap exchange of the narrow projection
    # before the heavy map work buys full parallelism; at 100 TB the scan
    # already has thousands of splits and fan_out is a no-op.
    ev = fan_out(
        _t(spark, sf_dir, "events").select("event_id", "event_type", "value"),
        "event_id",
    )
    h_cols = [
        F.md5(F.concat(F.lit(f"bootg{g}:"), F.col("event_id").cast("string"))).alias(
            f"h{g}"
        )
        for g in range(_BOOT_B // 4)
    ]
    h = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        *h_cols,
    )
    base = h.select(
        "event_type",
        "cents",
        *[
            F.conv(F.substring(F.col(f"h{b // 4}"), (b % 4) * 8 + 1, 8), 16, 10)
            .cast("long")
            .alias(f"u{b}")
            for b in range(_BOOT_B)
        ],
    )
    w = base.select(
        "event_type",
        "cents",
        *[F.expr(_pois_w(f"u{b}")).alias(f"w{b}") for b in range(_BOOT_B)],
    )
    agg = w.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.sum("cents").cast("long").alias("sc"),
        *[
            a
            for b in range(_BOOT_B)
            for a in (
                F.sum(f"w{b}").cast("long").alias(f"sw{b}"),
                F.sum(F.col(f"w{b}") * F.col("cents")).cast("long").alias(f"swc{b}"),
            )
        ],
    )
    means = ", ".join(_boot_mean(b) for b in range(_BOOT_B))
    return agg.select(
        "event_type",
        "n_events",
        round4(
            (F.col("sc").cast("double") / 100.0) / F.col("n_events").cast("double")
        ).alias("mean_value"),
        round4(F.expr(f"element_at(array_sort(array({means})), 2)")).alias("ci_lo"),
        round4(
            F.expr(f"element_at(array_sort(array({means})), {_BOOT_B - 1})")
        ).alias("ci_hi"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Greedy max-coverage data selection (submodular coreset pick).
# ---------------------------------------------------------------------------
_COV_K = 8


def _cov_oracle() -> str:
    ctes = [
        """tokp AS MATERIALIZED (
      SELECT doc_id,
             unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok,
             generate_subscripts(regexp_split_to_array(trim(lower(text)), '\\s+'), 1)
               AS ord
      FROM documents WHERE trim(text) != '')""",
        """dt AS MATERIALIZED (
      SELECT DISTINCT t1.doc_id, t1.tok || ' ' || t2.tok AS tok
      FROM tokp t1 JOIN tokp t2
        ON t2.doc_id = t1.doc_id AND t2.ord = t1.ord + 1)"""
    ]
    outs = []
    for t in range(1, _COV_K + 1):
        if t == 1:
            gain_src = "SELECT doc_id, count(*)::BIGINT AS c FROM dt GROUP BY 1"
        else:
            prev_sel = " UNION ALL ".join(
                f"SELECT doc_id FROM s{x}" for x in range(1, t)
            )
            gain_src = f"""
          SELECT dt.doc_id, count(*)::BIGINT AS c
          FROM dt
          WHERE NOT EXISTS (SELECT 1 FROM cov{t - 1} cv WHERE cv.tok = dt.tok)
            AND dt.doc_id NOT IN ({prev_sel})
          GROUP BY 1"""
        ctes.append(f"g{t} AS MATERIALIZED ({gain_src})")
        ctes.append(
            f"s{t} AS MATERIALIZED (SELECT doc_id, c FROM g{t} ORDER BY c DESC, doc_id LIMIT 1)"
        )
        cov_new = (
            f"SELECT DISTINCT dt.tok FROM dt"
            f" WHERE dt.doc_id IN (SELECT doc_id FROM s{t})"
        )
        if t == 1:
            ctes.append(f"cov{t} AS MATERIALIZED ({cov_new})")
        else:
            ctes.append(
                f"cov{t} AS MATERIALIZED ({cov_new} UNION SELECT tok FROM cov{t - 1})"
            )
        outs.append(
            f"SELECT {t} AS round, doc_id, c AS gain,"
            f" (SELECT count(*)::BIGINT FROM cov{t}) AS covered_tokens FROM s{t}"
        )
    cte_block = ",\n    ".join(ctes)
    sel = "\n      UNION ALL ".join(outs)
    return f"""
    WITH {cte_block}
    {sel}
    ORDER BY round
    """


@register("greedy_coverage_select", oracle=_cov_oracle())
def q_greedy_coverage_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy maximum-coverage document selection: pick K=8 documents, each
    round taking the doc that covers the most NOT-yet-covered word BIGRAMS
    (the unigram vocabulary of the fixture corpus is 31 tokens — saturated
    by one doc; bigrams give a 916-unit universe with a real
    diminishing-returns curve) — the classic (1−1/e)-approximate
    submodular greedy used for coreset / "most informative subset" data
    selection in training pipelines.

    Emits (round, doc_id, gain, covered_tokens): the marginal gain curve
    IS the diminishing-returns diagnostic (where it flattens, additional
    data stops buying vocabulary).

    Exactness: all counts are integers; each round's argmax tie-breaks on
    doc_id; both engines run the same 8 unrolled rounds (anti-join against
    the covered set, exclusion of prior picks, 1-row argmax).

    Scale: per round = one anti-join of the (doc, token) distinct table
    against the covered-token set plus a partial-agg'd count and a global
    top-1 (TakeOrderedAndProject) — the covered set grows but stays
    vocabulary-sized (Zipf-small vs the corpus).  The selected-doc row is
    never collect()ed to the driver: it re-enters the next round as a
    broadcast join.  K rounds = K sequential passes — the honest cost of
    greedy; lazier variants (stochastic greedy) subsample dt per round,
    same plan shape.
    """
    docs = (
        _t(spark, sf_dir, "documents")
        .filter(F.trim(F.col("text")) != "")
        .select("doc_id", "text")
    )
    tokp = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
            "pos", "tok"
        ),
    )
    w_doc = Window.partitionBy("doc_id").orderBy("pos")
    dt = (
        tokp.withColumn("nxt", F.lead("tok").over(w_doc))
        .filter(F.col("nxt").isNotNull())
        .select("doc_id", F.concat_ws(" ", F.col("tok"), F.col("nxt")).alias("tok"))
        .distinct()
        .localCheckpoint()
    )
    covered = None
    selected = None
    out_rows = []
    for t in range(1, _COV_K + 1):
        cand = dt
        if covered is not None:
            cand = cand.join(covered, "tok", "left_anti")
        if selected is not None:
            cand = cand.join(selected.select("doc_id"), "doc_id", "left_anti")
        gains = cand.groupBy("doc_id").agg(F.count(F.lit(1)).cast("long").alias("c"))
        sel = (
            gains.orderBy(F.desc("c"), F.asc("doc_id")).limit(1).localCheckpoint()
        )
        new_cov = dt.join(F.broadcast(sel.select("doc_id")), "doc_id").select("tok")
        covered = (
            new_cov
            if covered is None
            else covered.unionByName(new_cov)
        ).distinct().localCheckpoint()
        selected = (
            sel.select("doc_id")
            if selected is None
            else selected.unionByName(sel.select("doc_id"))
        ).localCheckpoint()
        cov_cnt = covered.agg(F.count(F.lit(1)).cast("long").alias("covered_tokens"))
        out_rows.append(
            sel.crossJoin(F.broadcast(cov_cnt)).select(
                F.lit(t).cast("int").alias("round"),
                "doc_id",
                F.col("c").alias("gain"),
                "covered_tokens",
            )
        )
    out = out_rows[0]
    for df in out_rows[1:]:
        out = out.unionByName(df)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# Exact tie-corrected AUC (Mann-Whitney) of a scorer against a binary label.
# ---------------------------------------------------------------------------
@register(
    "scorer_auc",
    oracle="""
    WITH base AS (
      SELECT floor(value*100 + 0.5)::BIGINT AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events),
    grp AS (
      SELECT cents, count(*)::BIGINT AS cnt, sum(pos)::BIGINT AS pos
      FROM base GROUP BY 1),
    cum AS (
      SELECT cents, cnt, pos,
             COALESCE(sum(cnt) OVER (ORDER BY cents
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               ::BIGINT AS prior
      FROM grp),
    s AS (
      SELECT sum(pos * (2*prior + cnt + 1))::HUGEINT AS s2,
             sum(pos)::BIGINT AS p,
             sum(cnt - pos)::BIGINT AS n
      FROM cum)
    SELECT p AS n_pos, n AS n_neg,
           floor(((CAST(s2 AS DOUBLE) - CAST(p AS DOUBLE)*(CAST(p AS DOUBLE) + 1.0))
                  / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE))) * 10000 + 0.5)
             / 10000.0 AS auc
    FROM s
    """,
)
def q_scorer_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC AUC of the value scorer for predicting purchases, via the
    tie-corrected Mann-Whitney statistic — the eval-loop metric next to
    `calibration_bins`/`annotator_agreement`, computed exactly instead of
    by threshold sampling.  AUC = (Σ avg-ranks of positives − P(P+1)/2) /
    (P·N); tied scores get the average rank of their tie group.

    Exactness: scores quantized to cents make ties well-defined; per-group
    doubled average rank ``2·prior + cnt + 1`` keeps everything integer;
    Σ pos·avg-rank2 accumulates in DECIMAL(38,0) (rank·count products
    reach ~n² — past int64 near 1e10 rows); ONE final float expression.

    Scale: group-by-score collapse first (cardinality = distinct scores,
    not rows), then `global_order_stats` supplies the exclusive prefix
    count without a one-task window, then a partial-agg'd fold to three
    scalars.  The oracle's ROWS window is the fixture-scale equivalent.
    """
    from .partitioning import global_order_stats

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(0))
        .alias("pos"),
    )
    grp = base.groupBy("cents").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("pos").cast("long").alias("pos"),
    )
    cum = global_order_stats(grp, ["cents"], sum_col="cnt").withColumnRenamed(
        "__prior", "prior"
    )
    s = cum.agg(
        F.sum(
            (F.col("pos") * (2 * F.col("prior") + F.col("cnt") + 1)).cast(
                "decimal(38,0)"
            )
        )
        .cast("decimal(38,0)")
        .alias("s2"),
        F.sum("pos").cast("long").alias("p"),
        F.sum(F.col("cnt") - F.col("pos")).cast("long").alias("n"),
    )
    return s.select(
        F.col("p").alias("n_pos"),
        F.col("n").alias("n_neg"),
        round4(
            F.expr(
                "(CAST(s2 AS DOUBLE) - CAST(p AS DOUBLE)*(CAST(p AS DOUBLE) + 1.0))"
                " / (2.0 * CAST(p AS DOUBLE) * CAST(n AS DOUBLE))"
            )
        ).alias("auc"),
    )


# ---------------------------------------------------------------------------
# Best-F1 operating point of the same scorer (threshold sweep, exact).
# ---------------------------------------------------------------------------
@register(
    "pr_best_f1",
    oracle="""
    WITH base AS (
      SELECT floor(value*100 + 0.5)::BIGINT AS cents,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
      FROM events),
    grp AS (
      SELECT cents, count(*)::BIGINT AS cnt, sum(pos)::BIGINT AS pos
      FROM base GROUP BY 1),
    tot AS (SELECT sum(pos)::BIGINT AS p FROM grp),
    cum AS (
      SELECT cents,
             (sum(cnt) OVER w)::BIGINT AS pred_pos,
             (sum(pos) OVER w)::BIGINT AS tp
      FROM grp
      WINDOW w AS (ORDER BY cents DESC
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
    scored AS (
      SELECT cents AS threshold_cents, tp,
             (pred_pos - tp)::BIGINT AS fp,
             (t.p - tp)::BIGINT AS fn,
             floor((2.0 * CAST(tp AS DOUBLE)
                    / (2.0 * CAST(tp AS DOUBLE) + CAST(pred_pos - tp AS DOUBLE)
                       + CAST(t.p - tp AS DOUBLE))) * 1000000000 + 0.5)::BIGINT
               AS f1_nano
      FROM cum CROSS JOIN tot t),
    best AS (
      SELECT *, row_number() OVER (ORDER BY f1_nano DESC, threshold_cents) AS rn
      FROM scored)
    SELECT threshold_cents, tp, fp, fn,
           floor((CAST(tp AS DOUBLE) / CAST(tp + fp AS DOUBLE)) * 10000 + 0.5)
             / 10000.0 AS precision_at,
           floor((CAST(tp AS DOUBLE) / CAST(tp + fn AS DOUBLE)) * 10000 + 0.5)
             / 10000.0 AS recall_at,
           floor((f1_nano / 1000000000.0) * 10000 + 0.5) / 10000.0 AS f1
    FROM best WHERE rn = 1
    """,
)
def q_pr_best_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Best-F1 operating point of the value scorer on the purchase label:
    sweep EVERY distinct threshold exactly (predict positive when score ≥
    t), emit the argmax with its confusion counts — the model-selection
    companion to `scorer_auc` (threshold-free) and `calibration_bins`
    (probability quality).

    Exactness: cumulative TP / predicted-positive counts per threshold
    are exact integers from one descending prefix sum over the
    score-collapsed table; F1 is nano-quantized for the argmax (tie-break:
    lowest threshold) so no float ever decides a rank.

    Scale: identical shape to `decision_stump_returns` — collapse to
    distinct scores (partial agg), tiny windowed sweep, top-1.  The
    oracle's window is `global_order_stats`' fixture-scale stand-in; the
    Spark side uses the range-partitioned primitive so the sweep never
    funnels through one task.
    """
    from .partitioning import global_order_stats

    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        F.when(F.col("event_type") == "purchase", F.lit(1))
        .otherwise(F.lit(0))
        .alias("pos"),
    )
    # the score-collapsed table fans out to the positives total and both
    # global_order_stats passes — checkpoint it or each consumer replays
    # the events scan (plan audit showed x5)
    grp = (
        base.groupBy("cents")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("pos").cast("long").alias("pos"),
        )
        .localCheckpoint(eager=True)
    )
    tot = grp.agg(F.sum("pos").cast("long").alias("p"))
    # descending sweep: order by negated score, inclusive prefix = prior +
    # own.  Both running sums (cnt and pos) come from ONE fused prefix
    # pass (round 12) — the chained shape paid a second range exchange +
    # checkpoint + window for the identical total order.
    cum_tp = (
        global_order_stats(
            grp.withColumn("neg_cents", -F.col("cents")),
            ["neg_cents"],
            sum_col=["cnt", "pos"],
        )
        .withColumn("pred_pos", (F.col("__prior_cnt") + F.col("cnt")).cast("long"))
        .withColumn("tp", (F.col("__prior_pos") + F.col("pos")).cast("long"))
        .drop("__rank", "__prior_cnt", "__prior_pos", "neg_cents")
    )
    scored = (
        cum_tp.crossJoin(F.broadcast(tot))
        .select(
            F.col("cents").alias("threshold_cents"),
            "tp",
            (F.col("pred_pos") - F.col("tp")).cast("long").alias("fp"),
            (F.col("p") - F.col("tp")).cast("long").alias("fn"),
        )
        .withColumn(
            "f1_nano",
            F.expr(
                "CAST(floor((2.0 * CAST(tp AS DOUBLE)"
                " / (2.0 * CAST(tp AS DOUBLE) + CAST(fp AS DOUBLE)"
                " + CAST(fn AS DOUBLE))) * 1000000000 + 0.5) AS BIGINT)"
            ),
        )
    )
    best = (
        scored.orderBy(F.desc("f1_nano"), F.asc("threshold_cents"))
        .limit(1)
    )
    return best.select(
        "threshold_cents",
        "tp",
        "fp",
        "fn",
        round4(
            F.col("tp").cast("double") / (F.col("tp") + F.col("fp")).cast("double")
        ).alias("precision_at"),
        round4(
            F.col("tp").cast("double") / (F.col("tp") + F.col("fn")).cast("double")
        ).alias("recall_at"),
        round4(F.col("f1_nano") / 1000000000.0).alias("f1"),
    )


# ---------------------------------------------------------------------------
# CUSUM change-point detection on the daily purchase-value series.
# ---------------------------------------------------------------------------
@register(
    "value_cusum_changepoint",
    oracle=f"""
    WITH {DAILY_PURCHASE_CENTS_SQL},
    tot AS (SELECT count(*)::BIGINT AS nd, sum(cents)::BIGINT AS t FROM daily),
    cum AS (
      SELECT day, cents,
             (sum(cents) OVER (ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
               AS prefix,
             (row_number() OVER (ORDER BY day))::BIGINT AS idx
      FROM daily),
    dev AS (
      SELECT day, idx, prefix,
             (t.nd * prefix - idx * t.t)::HUGEINT AS dev_scaled, t.nd, t.t
      FROM cum CROSS JOIN tot t),
    best AS (
      SELECT *, row_number() OVER (ORDER BY abs(dev_scaled) DESC, day) AS rn
      FROM dev)
    SELECT day AS change_day, idx AS days_before, (nd - idx)::BIGINT AS days_after,
           floor((CAST(dev_scaled AS DOUBLE)
                  / (CAST(nd AS DOUBLE) * 100.0)) * 10000 + 0.5) / 10000.0
             AS max_cusum_dev,
           floor(((CAST(prefix AS DOUBLE) / 100.0) / CAST(idx AS DOUBLE))
                 * 10000 + 0.5) / 10000.0 AS mean_before,
           floor(((CAST(t - prefix AS DOUBLE) / 100.0) / CAST(nd - idx AS DOUBLE))
                 * 10000 + 0.5) / 10000.0 AS mean_after
    FROM best WHERE rn = 1
    """,
)
def q_value_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection on daily purchase revenue: the day
    maximizing |cumulative deviation from the global daily mean| — the
    classic at-most-one-change estimator a pipeline runs per metric per
    snapshot (`daily_count_anomalies` flags outlier DAYS; this locates the
    LEVEL SHIFT).

    Exactness: the deviation is kept as the INTEGER ``nd·prefix − idx·T``
    (the CUSUM numerator scaled by the day count — same argmax, no
    division), accumulated in HUGEINT/DECIMAL headroom; the argmax
    tie-breaks on the earlier day; means before/after are exact integer
    ratios floated once.

    Scale: one partial-agg'd daily collapse (cardinality = days), prefix
    sums via `global_order_stats` instead of a one-task window, top-1 by
    TakeOrderedAndProject.  days_before/after + both-side means make the
    shift magnitude auditable downstream.
    """
    from .partitioning import global_order_stats

    daily = daily_purchase_cents(_t(spark, sf_dir, "events"))
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("cents").cast("long").alias("t"),
    )
    cum = (
        global_order_stats(daily, ["day"], sum_col="cents")
        .withColumn("prefix", (F.col("__prior") + F.col("cents")).cast("long"))
        .withColumn("idx", F.col("__rank").cast("long"))
        .drop("__rank", "__prior")
    )
    dev = cum.crossJoin(F.broadcast(tot)).withColumn(
        "dev_scaled",
        (
            F.col("nd").cast("decimal(38,0)") * F.col("prefix")
            - F.col("idx").cast("decimal(38,0)") * F.col("t")
        ).cast("decimal(38,0)"),
    )
    best = dev.orderBy(F.abs(F.col("dev_scaled")).desc(), F.asc("day")).limit(1)
    return best.select(
        F.col("day").alias("change_day"),
        F.col("idx").alias("days_before"),
        (F.col("nd") - F.col("idx")).cast("long").alias("days_after"),
        round4(
            F.col("dev_scaled").cast("double") / (F.col("nd").cast("double") * 100.0)
        ).alias("max_cusum_dev"),
        round4(
            (F.col("prefix").cast("double") / 100.0) / F.col("idx").cast("double")
        ).alias("mean_before"),
        round4(
            ((F.col("t") - F.col("prefix")).cast("double") / 100.0)
            / (F.col("nd") - F.col("idx")).cast("double")
        ).alias("mean_after"),
    )


# ---------------------------------------------------------------------------
# Two-sample Kolmogorov–Smirnov distance between value distributions.
# ---------------------------------------------------------------------------
@register(
    "ks_two_sample",
    oracle="""
    WITH a AS (
      SELECT floor(value*100 + 0.5)::BIGINT AS cents FROM events
      WHERE event_type = 'purchase'),
    b AS (
      SELECT floor(value*100 + 0.5)::BIGINT AS cents FROM events
      WHERE event_type = 'click'),
    cells AS (
      SELECT cents, sum(c1)::BIGINT AS c1, sum(c2)::BIGINT AS c2 FROM (
        SELECT cents, 1 AS c1, 0 AS c2 FROM a
        UNION ALL SELECT cents, 0, 1 FROM b)
      GROUP BY 1),
    tot AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2 FROM cells),
    cum AS (
      SELECT cents,
             (sum(c1) OVER w)::BIGINT AS cum1, (sum(c2) OVER w)::BIGINT AS cum2
      FROM cells
      WINDOW w AS (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
                   AND CURRENT ROW)),
    dev AS (
      SELECT cents, abs(t.n2 * cum1 - t.n1 * cum2)::HUGEINT AS d_scaled,
             t.n1, t.n2
      FROM cum CROSS JOIN tot t),
    best AS (
      SELECT *, row_number() OVER (ORDER BY d_scaled DESC, cents) AS rn
      FROM dev)
    SELECT n1 AS n_a, n2 AS n_b, cents AS at_cents,
           floor((CAST(d_scaled AS DOUBLE)
                  / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))) * 10000 + 0.5)
             / 10000.0 AS ks_stat,
           floor(((CAST(d_scaled AS DOUBLE)
                   / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)))
                  * sqrt((CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE))
                         / (CAST(n1 AS DOUBLE) + CAST(n2 AS DOUBLE))))
                 * 10000 + 0.5) / 10000.0 AS ks_lambda
    FROM best WHERE rn = 1
    """,
)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov–Smirnov distance between the purchase
    and click value distributions — the distribution-shift test a feature
    pipeline runs per snapshot pair (`value_drift_psi` is the binned
    screen; KS is the sup-norm ground truth, no binning).

    Exactness: the sup deviation is kept as the INTEGER
    ``|n2·F1 − n1·F2|`` (both CDFs scaled by the other sample's size —
    same argmax, no division), HUGEINT/DECIMAL headroom; argmax
    tie-breaks on the earlier threshold; IEEE sqrt is correctly rounded
    in both engines so even ks_lambda is bit-stable.

    Scale: collapse to distinct values (partial agg), one
    `global_order_stats` prefix pass per sample, fold to the top-1 —
    the `pr_best_f1` plan shape pointed at a different statistic.
    """
    from .partitioning import global_order_stats

    ev = _t(spark, sf_dir, "events")
    cells = (
        ev.filter(F.col("event_type").isin("purchase", "click"))
        .select(
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
            F.when(F.col("event_type") == "purchase", F.lit(1))
            .otherwise(F.lit(0))
            .alias("c1"),
            F.when(F.col("event_type") == "click", F.lit(1))
            .otherwise(F.lit(0))
            .alias("c2"),
        )
        .groupBy("cents")
        .agg(
            F.sum("c1").cast("long").alias("c1"),
            F.sum("c2").cast("long").alias("c2"),
        )
        # distinct-value cell table fans out to the totals and both
        # global_order_stats passes — checkpoint it or each consumer
        # replays the events scan (plan audit showed x5)
        .localCheckpoint(eager=True)
    )
    tot = cells.agg(
        F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2")
    )
    # One fused prefix pass for both samples (round 12): the chained
    # two-pass shape paid a second range exchange + checkpoint + window
    # for the identical total order.  Each cumulative sum depends only on
    # the order by cents, so the fused values are unchanged.
    cum = (
        global_order_stats(cells, ["cents"], sum_col=["c1", "c2"])
        .withColumn("cum1", (F.col("__prior_c1") + F.col("c1")).cast("long"))
        .withColumn("cum2", (F.col("__prior_c2") + F.col("c2")).cast("long"))
        .drop("__rank", "__prior_c1", "__prior_c2")
    )
    dev = cum.crossJoin(F.broadcast(tot)).withColumn(
        "d_scaled",
        F.abs(
            F.col("n2").cast("decimal(38,0)") * F.col("cum1")
            - F.col("n1").cast("decimal(38,0)") * F.col("cum2")
        ).cast("decimal(38,0)"),
    )
    best = dev.orderBy(F.desc("d_scaled"), F.asc("cents")).limit(1)
    d = (
        F.col("d_scaled").cast("double")
        / (F.col("n1").cast("double") * F.col("n2").cast("double"))
    )
    lam = d * F.sqrt(
        (F.col("n1").cast("double") * F.col("n2").cast("double"))
        / (F.col("n1").cast("double") + F.col("n2").cast("double"))
    )
    return best.select(
        F.col("n1").alias("n_a"),
        F.col("n2").alias("n_b"),
        F.col("cents").alias("at_cents"),
        round4(d).alias("ks_stat"),
        round4(lam).alias("ks_lambda"),
    )


# ---------------------------------------------------------------------------
# Theil–Sen robust trend of daily purchase revenue (vs the OLS slope).
# ---------------------------------------------------------------------------
@register(
    "theil_sen_daily_trend",
    oracle=f"""
    WITH {DAILY_PURCHASE_CENTS_SQL},
    idx AS (
      SELECT day, cents, (row_number() OVER (ORDER BY day))::BIGINT AS i
      FROM daily),
    pairs AS (
      SELECT a.i AS ia, b.i AS ib,
             floor(CAST((b.cents - a.cents) AS DOUBLE) * 1000000
                   / CAST(b.i - a.i AS DOUBLE))::BIGINT AS slope_u
      FROM idx a JOIN idx b ON b.i > a.i),
    m AS (SELECT count(*)::BIGINT AS np FROM pairs),
    ranked AS (
      SELECT slope_u,
             row_number() OVER (ORDER BY slope_u, ia, ib) AS rk
      FROM pairs),
    med AS (
      SELECT slope_u FROM ranked CROSS JOIN m WHERE rk = (m.np + 1) // 2),
    mo AS (
      SELECT count(*)::BIGINT AS nd,
             sum(i)::BIGINT AS si, sum(cents)::BIGINT AS sc,
             sum(i*i)::HUGEINT AS sii, sum(i*cents)::HUGEINT AS sic
      FROM idx)
    SELECT mo.nd AS n_days, m.np AS n_pairs,
           floor(((CAST(med.slope_u AS DOUBLE) / 1000000.0) / 100.0)
                 * 10000 + 0.5) / 10000.0 AS ts_slope_per_day,
           floor((((CAST(mo.nd AS DOUBLE) * CAST(mo.sic AS DOUBLE)
                    - CAST(mo.si AS DOUBLE) * CAST(mo.sc AS DOUBLE))
                   / (CAST(mo.nd AS DOUBLE) * CAST(mo.sii AS DOUBLE)
                      - CAST(mo.si AS DOUBLE) * CAST(mo.si AS DOUBLE)))
                  / 100.0) * 10000 + 0.5) / 10000.0 AS ols_slope_per_day
    FROM med CROSS JOIN m CROSS JOIN mo
    """,
)
def q_theil_sen_daily_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend of daily purchase revenue — the median of
    all pairwise day-to-day slopes — next to the OLS slope from the same
    series.  Disagreement between the two IS the outlier diagnostic
    (Theil–Sen shrugs off the days `daily_count_anomalies` flags; OLS
    chases them).

    Exactness: each pairwise slope is quantized ONCE to integer
    micro-cents/day (the Δ product stays < 2^53 so the double divide is
    exact to quantization); the median is the lower-median rank over
    (slope, pair-id) — integer compares only.  OLS moments are exact
    integer sums with HUGEINT/DECIMAL headroom.

    Scale: the day table is time-bounded (1 row/day — years fit in
    thousands of rows), so the O(days²) pair join is a small self-join of
    an AGGREGATE, not of data; the median rank uses the engine's global
    rank.  For multi-decade series you'd subsample pairs (random md5
    pairs — the standard Theil–Sen estimator variant), same shape.
    """
    from .partitioning import global_order_stats

    daily = daily_purchase_cents(_t(spark, sf_dir, "events"))
    # the day aggregate and its ranked form fan out to the pair join, the
    # pair count, and the OLS moments — eager checkpoints keep the corpus
    # scan at ONE instead of lineage-replaying it per consumer (plan_audit
    # measured 28 scans before; checkpoints are value-neutral)
    daily = daily.localCheckpoint(eager=True)
    idx = (
        global_order_stats(daily, ["day"])
        .withColumn("i", F.col("__rank").cast("long"))
        .drop("__rank")
        .localCheckpoint(eager=True)
    )
    a = idx.select(F.col("i").alias("ia"), F.col("cents").alias("ca"))
    b = idx.select(F.col("i").alias("ib"), F.col("cents").alias("cb"))
    pairs = (
        a.crossJoin(b)
        .filter(F.col("ib") > F.col("ia"))
        .select(
            "ia",
            "ib",
            F.floor(
                (F.col("cb") - F.col("ca")).cast("double")
                * 1000000.0
                / (F.col("ib") - F.col("ia")).cast("double")
            )
            .cast("long")
            .alias("slope_u"),
        )
    )
    pairs = pairs.localCheckpoint(eager=True)  # days^2/2 rows, still tiny
    m = pairs.agg(F.count(F.lit(1)).cast("long").alias("np"))
    ranked = global_order_stats(pairs, ["slope_u", "ia", "ib"]).withColumnRenamed(
        "__rank", "rk"
    )
    med = (
        ranked.crossJoin(F.broadcast(m))
        .filter(F.col("rk") == F.expr("(np + 1) DIV 2"))
        .select("slope_u", "np")
    )
    mo = idx.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("i").cast("long").alias("si"),
        F.sum("cents").cast("long").alias("sc"),
        F.sum((F.col("i") * F.col("i")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sii"),
        F.sum((F.col("i") * F.col("cents")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("sic"),
    )
    ols = (
        "((CAST(nd AS DOUBLE) * CAST(sic AS DOUBLE)"
        " - CAST(si AS DOUBLE) * CAST(sc AS DOUBLE))"
        " / (CAST(nd AS DOUBLE) * CAST(sii AS DOUBLE)"
        " - CAST(si AS DOUBLE) * CAST(si AS DOUBLE)))"
    )
    return med.crossJoin(F.broadcast(mo)).select(
        F.col("nd").alias("n_days"),
        F.col("np").alias("n_pairs"),
        round4((F.col("slope_u").cast("double") / 1000000.0) / 100.0).alias(
            "ts_slope_per_day"
        ),
        round4(F.expr(ols).cast("double") / 100.0).alias("ols_slope_per_day"),
    )


# ---------------------------------------------------------------------------
# k-means (Lloyd), k=4, fixed 5 rounds, exact integer geometry.
# ---------------------------------------------------------------------------
_KM_K = 4
_KM_ROUNDS = 5
# Fixed, data-independent init spread across the (quantity·1000, dollars)
# plane — identical literals in both engines (k-means init is free choice).
_KM_INIT = [(10_000, 20_000), (40_000, 50_000), (60_000, 80_000), (90_000, 100_000)]
_KM_FEATS = (
    "CAST(floor(l_quantity + 0.5) AS BIGINT) * 2000 AS x, "
    "CAST(floor(l_extendedprice + 0.5) AS BIGINT) AS y"
)


def _km_dist(c: int) -> str:
    return f"((x - cx{c})*(x - cx{c}) + (y - cy{c})*(y - cy{c}))"


def _km_argmin() -> str:
    """Cluster id with the minimal distance, ties to the LOWEST id —
    expressed as strict-inequality comparisons against all lower ids."""
    branches = []
    for c in range(_KM_K):
        conds = []
        for o in range(_KM_K):
            if o == c:
                continue
            op = "<" if c < o else "<="
            conds.append(f"{_km_dist(c)} {op} {_km_dist(o)}")
        branches.append(f"WHEN {' AND '.join(conds)} THEN {c}")
    return f"(CASE {' '.join(branches)} END)"


def _km_update_exprs() -> list[tuple[str, str]]:
    """New centroid coordinates from per-cluster integer sums (floor
    division; empty cluster keeps its previous centroid)."""
    outs = []
    for c in range(_KM_K):
        for coord in ("x", "y"):
            outs.append(
                (
                    f"c{coord}{c}",
                    f"(CASE WHEN n{c} = 0 THEN c{coord}{c}"
                    f" ELSE CAST(floor(CAST(s{coord}{c} AS DOUBLE)"
                    f" / CAST(n{c} AS DOUBLE)) AS BIGINT) END)",
                )
            )
    return outs


def _km_round_aggs() -> str:
    """SQL aggregate list: per-cluster counts and coordinate sums."""
    parts = ["count(*)::BIGINT AS n_all"]
    for c in range(_KM_K):
        parts.append(
            f"sum(CASE WHEN a = {c} THEN 1 ELSE 0 END)::BIGINT AS n{c}"
        )
        parts.append(
            f"sum(CASE WHEN a = {c} THEN x ELSE 0 END)::BIGINT AS sx{c}"
        )
        parts.append(
            f"sum(CASE WHEN a = {c} THEN y ELSE 0 END)::BIGINT AS sy{c}"
        )
    return ", ".join(parts)


def _km_oracle() -> str:
    init = ", ".join(
        f"{x}::BIGINT AS cx{c}, {y}::BIGINT AS cy{c}"
        for c, (x, y) in enumerate(_KM_INIT)
    )
    ctes = [
        f"feats AS MATERIALIZED (SELECT {_KM_FEATS} FROM lineitem)",
        f"it0 AS (SELECT {init})",
    ]
    cent_cols = ", ".join(
        f"cx{c}, cy{c}" for c in range(_KM_K)
    )
    prev = "it0"
    for t in range(1, _KM_ROUNDS + 1):
        updates = ", ".join(f"{sql} AS {name}" for name, sql in _km_update_exprs())
        ctes.append(
            f"""agg{t} AS MATERIALIZED (
      SELECT {cent_cols}, {_km_round_aggs()}
      FROM (SELECT f.x, f.y, {cent_cols}, {_km_argmin()} AS a
            FROM feats f CROSS JOIN {prev})
      GROUP BY {cent_cols})"""
        )
        ctes.append(f"it{t} AS (SELECT {updates} FROM agg{t})")
        prev = f"it{t}"
    final_dist = " + ".join(
        f"sum(CASE WHEN a = {c} THEN {_km_dist(c)} ELSE 0 END)::HUGEINT"
        for c in range(_KM_K)
    )
    sel = "\n      UNION ALL ".join(
        f"SELECT {c} AS cluster, n{c} AS n_points, cx{c} AS cx, cy{c} AS cy,"
        f" wcss FROM fin"
        for c in range(_KM_K)
    )
    cte_block = ",\n    ".join(ctes)
    return f"""
    WITH {cte_block},
    fin AS MATERIALIZED (
      SELECT {cent_cols}, {_km_round_aggs()},
             floor((CAST(({final_dist}) AS DOUBLE) / 1000000.0) * 10000 + 0.5)
               / 10000.0 AS wcss
      FROM (SELECT f.x, f.y, {cent_cols}, {_km_argmin()} AS a
            FROM feats f CROSS JOIN {prev})
      GROUP BY {cent_cols})
    {sel}
    ORDER BY cluster
    """


@register("kmeans_lineitem", oracle=_km_oracle())
def q_kmeans_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=4, 5 fixed rounds) over the (quantity, price)
    plane (quantity stretched ×2000 so both axes span ~1e5 units),
    executed as declarative scans and verified BIT-EXACTLY — the
    clustering member of the in-engine training family (`ann_ivf_topk`'s
    k-means trains via driver-side partials and is checked by recall;
    this one is the fully-relational, oracle-pinned construction).

    Exactness: features are integers, so squared distances and per-cluster
    sums are exact BIGINTs; the argmin tie-breaks to the lowest cluster id
    via strict/non-strict comparison asymmetry; centroid updates use
    integer floor division; empty clusters keep their previous centroid;
    fixed shared-literal init.  WCSS is the one float, scaled once.

    Scale: each round = ONE partial-agg'd scan against 8 broadcast centroid
    scalars (3k+1 integers of state per task) — no shuffle of data rows,
    the same sufficient-statistics argument as `decision_stump_returns`;
    rounds are sequential scans, the honest cost of Lloyd.  k·d beyond a
    few hundred would move centroids to a long-form broadcast table.
    """
    def build() -> DataFrame:
        return _kmeans_plan(spark, sf_dir)

    return _plan_cached("kmeans_lineitem", spark, sf_dir, build)


def _kmeans_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    feats = li.selectExpr(*_KM_FEATS.split(", "))
    cent = spark.createDataFrame(
        [tuple(v for xy in _KM_INIT for v in xy)],
        ", ".join(f"cx{c} long, cy{c} long" for c in range(_KM_K)),
    )
    cent_cols = [f"c{coord}{c}" for c in range(_KM_K) for coord in ("x", "y")]
    for t in range(_KM_ROUNDS):
        assigned = feats.crossJoin(F.broadcast(cent)).withColumn(
            "a", F.expr(_km_argmin())
        )
        aggs = []
        for c in range(_KM_K):
            aggs.append(
                F.sum(F.when(F.col("a") == c, 1).otherwise(0))
                .cast("long")
                .alias(f"n{c}")
            )
            aggs.append(
                F.sum(F.when(F.col("a") == c, F.col("x")).otherwise(0))
                .cast("long")
                .alias(f"sx{c}")
            )
            aggs.append(
                F.sum(F.when(F.col("a") == c, F.col("y")).otherwise(0))
                .cast("long")
                .alias(f"sy{c}")
            )
        agg = assigned.groupBy(*[F.col(c) for c in cent_cols]).agg(*aggs)
        cent = agg.selectExpr(
            *[f"{sql} AS {name}" for name, sql in _km_update_exprs()]
        ).localCheckpoint()
    assigned = feats.crossJoin(F.broadcast(cent)).withColumn(
        "a", F.expr(_km_argmin())
    )
    final_aggs = []
    for c in range(_KM_K):
        final_aggs.append(
            F.sum(F.when(F.col("a") == c, 1).otherwise(0))
            .cast("long")
            .alias(f"n{c}")
        )
        final_aggs.append(
            F.sum(
                F.when(F.col("a") == c, F.expr(_km_dist(c))).otherwise(0).cast(
                    "decimal(38,0)"
                )
            )
            .cast("decimal(38,0)")
            .alias(f"d{c}")
        )
    fin = assigned.groupBy(*[F.col(c) for c in cent_cols]).agg(*final_aggs)
    wcss = round4(
        F.expr(
            "CAST(" + " + ".join(f"d{c}" for c in range(_KM_K)) + " AS DOUBLE)"
        )
        / 1000000.0
    )
    rows = fin.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("cluster"),
                        F.col(f"n{c}").alias("n_points"),
                        F.col(f"cx{c}").alias("cx"),
                        F.col(f"cy{c}").alias("cy"),
                        wcss.alias("wcss"),
                    )
                    for c in range(_KM_K)
                ]
            )
        ).alias("s")
    )
    return rows.select("s.cluster", "s.n_points", "s.cx", "s.cy", "s.wcss").orderBy(
        "cluster"
    )


# ---------------------------------------------------------------------------
# Rank-1 SVD of the user x event-type value matrix (alternating power
# iteration with per-half-step integer normalization).
# ---------------------------------------------------------------------------
_SVD_ROUNDS = 6
_SVD_SCALE = 1_000_000
_SVD_TYPES = ["click", "error", "purchase", "signup", "view"]


def _svd_oracle() -> str:
    ctes = [
        """m AS MATERIALIZED (
      SELECT user_id, event_type,
             sum(floor(value*100 + 0.5)::BIGINT)::BIGINT AS cents
      FROM events GROUP BY 1, 2)""",
        "users AS MATERIALIZED (SELECT DISTINCT user_id FROM m)",
        f"u0 AS MATERIALIZED (SELECT user_id, {_SVD_SCALE}::BIGINT AS uu FROM users)",
    ]
    prev_u = "u0"
    for t in range(1, _SVD_ROUNDS + 1):
        ctes.append(
            f"""vn{t} AS MATERIALIZED (
      SELECT m.event_type, sum(u.uu * m.cents)::BIGINT AS num
      FROM m JOIN {prev_u} u ON u.user_id = m.user_id
      GROUP BY 1)"""
        )
        ctes.append(
            f"vm{t} AS (SELECT max(abs(num))::BIGINT AS mx FROM vn{t})"
        )
        ctes.append(
            f"""v{t} AS MATERIALIZED (
      SELECT event_type,
             CAST(floor(CAST(num AS DOUBLE) * {_SVD_SCALE}
                        / CAST(mx AS DOUBLE)) AS BIGINT) AS vv
      FROM vn{t} CROSS JOIN vm{t})"""
        )
        ctes.append(
            f"""un{t} AS MATERIALIZED (
      SELECT m.user_id, sum(v.vv * m.cents)::BIGINT AS num
      FROM m JOIN v{t} v ON v.event_type = m.event_type
      GROUP BY 1)"""
        )
        ctes.append(
            f"um{t} AS (SELECT max(abs(num))::BIGINT AS mx FROM un{t})"
        )
        ctes.append(
            f"""u{t} AS MATERIALIZED (
      SELECT user_id,
             CAST(floor(CAST(num AS DOUBLE) * {_SVD_SCALE}
                        / CAST(mx AS DOUBLE)) AS BIGINT) AS uu
      FROM un{t} CROSS JOIN um{t})"""
        )
        prev_u = f"u{t}"
    last = _SVD_ROUNDS
    ctes.append(
        f"""ray AS (
      SELECT sum(CAST(n.num AS DOUBLE) * CAST(n.num AS DOUBLE)) AS nn,
             (SELECT sum(CAST(vv AS DOUBLE) * CAST(vv AS DOUBLE))
              FROM v{last}) AS vv2
      FROM un{last} n)"""
    )
    cte_block = ",\n    ".join(ctes)
    return f"""
    WITH {cte_block}
    SELECT v.event_type,
           floor((CAST(v.vv AS DOUBLE) / {_SVD_SCALE}.0) * 10000 + 0.5)
             / 10000.0 AS loading,
           floor(((sqrt(r.nn / r.vv2)) / 100.0)
                 * 10000 + 0.5) / 10000.0 AS sigma_dollars
    FROM v{last} v CROSS JOIN ray r
    ORDER BY v.event_type
    """


@register("svd_rank1_affinity", oracle=_svd_oracle())
def q_svd_rank1_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top singular direction of the user × event-type spend matrix by
    alternating power iteration (v ∝ M'u, u ∝ Mv — rank-1 ALS without the
    cancelling denominators), the collaborative-filtering / embedding
    primitive run as six rounds of join + partial agg.  The loading
    vector is the "taste axis" a recommender's first factor captures;
    sigma is the matrix's dominant scale.

    Exactness: M's entries are integer cents; both factors are re-quantized
    to 1e6-unit integers after every half-step (normalize by the max |.|,
    portable double floor-divide — all numerators < 2^53); sigma is a
    Rayleigh quotient over the last un-normalized iterate, with IEEE-exact
    sqrt.  Fixed 6 rounds; M ≥ 0 makes the limit the Perron direction, so
    signs are stable.

    Scale: the user factor stays a DATAFRAME (never collected, unlike
    centroid scalars); each half-step is one hash join of M against a
    factor table + a partial agg — the exact shape of distributed ALS,
    demonstrated at rank 1 where the whole loop is SQL-expressible.  The
    per-round max is a 1-row broadcast.  Rank k would carry k columns.
    """
    def build() -> DataFrame:
        return _svd_plan(spark, sf_dir)

    return _plan_cached("svd_rank1_affinity", spark, sf_dir, build)


def _svd_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    m = (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
        .localCheckpoint()
    )
    u = m.select("user_id").distinct().withColumn(
        "uu", F.lit(_SVD_SCALE).cast("long")
    )
    v = None
    un = None
    for _ in range(_SVD_ROUNDS):
        # Round 12: checkpoint the half-step AGGREGATE (vn) instead of the
        # normalized factor (v).  Un-checkpointed, vn fed both the vmax
        # broadcast subquery and v's main plan, so the heavy m x u join+agg
        # executed TWICE per round inside v's checkpoint job; checkpointing
        # vn runs it once, and v / vmax become trivial reads of the tiny
        # (one row per event_type) checkpointed frame.  Same expressions,
        # same values — only the materialization point moves.
        vn = (
            m.join(u.select("user_id", "uu"), "user_id")
            .groupBy("event_type")
            .agg(F.sum(F.col("uu") * F.col("cents")).cast("long").alias("num"))
            .localCheckpoint()
        )
        vmax = vn.agg(F.max(F.abs(F.col("num"))).cast("long").alias("mx"))
        v = vn.crossJoin(F.broadcast(vmax)).select(
            "event_type",
            F.expr(
                f"CAST(floor(CAST(num AS DOUBLE) * {_SVD_SCALE}"
                f" / CAST(mx AS DOUBLE)) AS BIGINT)"
            ).alias("vv"),
        )
        un = (
            m.join(F.broadcast(v), "event_type")
            .groupBy("user_id")
            .agg(F.sum(F.col("vv") * F.col("cents")).cast("long").alias("num"))
        ).localCheckpoint()
        umax = un.agg(F.max(F.abs(F.col("num"))).cast("long").alias("mx"))
        u = un.crossJoin(F.broadcast(umax)).select(
            "user_id",
            F.expr(
                f"CAST(floor(CAST(num AS DOUBLE) * {_SVD_SCALE}"
                f" / CAST(mx AS DOUBLE)) AS BIGINT)"
            ).alias("uu"),
        )
    nn = un.agg(
        F.sum(F.col("num").cast("double") * F.col("num").cast("double")).alias("nn")
    )
    vv2 = v.agg(
        F.sum(F.col("vv").cast("double") * F.col("vv").cast("double")).alias("vv2")
    )
    return (
        v.crossJoin(F.broadcast(nn))
        .crossJoin(F.broadcast(vv2))
        .select(
            "event_type",
            round4(F.col("vv").cast("double") / float(_SVD_SCALE)).alias("loading"),
            round4(F.sqrt(F.col("nn") / F.col("vv2")) / 100.0).alias(
                "sigma_dollars"
            ),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# Bootstrap difference-in-means CI for an md5 A/B split of purchase value.
# ---------------------------------------------------------------------------
def _abb_mean(side: str, b: int) -> str:
    return (
        f"((CAST(swc_{side}{b} AS DOUBLE) / 100.0)"
        f" / CAST(sw_{side}{b} AS DOUBLE))"
    )


def _abb_diff(b: int) -> str:
    return f"({_abb_mean('t', b)} - {_abb_mean('c', b)})"


def _abb_oracle() -> str:
    h_cols = ", ".join(
        f"md5('abboot{g}:' || CAST(event_id AS VARCHAR)) AS h{g}"
        for g in range(_BOOT_B // 4)
    )
    u_cols = ", ".join(
        f"(('0x' || substr(h{b // 4}, {(b % 4) * 8 + 1}, 8))::BIGINT) AS u{b}"
        for b in range(_BOOT_B)
    )
    w_cols = ", ".join(f"{_pois_w(f'u{b}')} AS w{b}" for b in range(_BOOT_B))
    aggs = ", ".join(
        f"sum(CASE WHEN grp = '{s}' THEN w{b} ELSE 0 END)::BIGINT AS sw_{s}{b},"
        f" sum(CASE WHEN grp = '{s}' THEN w{b} * cents ELSE 0 END)::BIGINT"
        f" AS swc_{s}{b}"
        for s in ("t", "c")
        for b in range(_BOOT_B)
    )
    diffs = ", ".join(_abb_diff(b) for b in range(_BOOT_B))
    return f"""
    WITH h AS (
      SELECT CASE WHEN {salted_hash_sql("ab:", "user_id")} % 2 = 0 THEN 't' ELSE 'c' END AS grp,
             floor(value*100 + 0.5)::BIGINT AS cents, {h_cols}
      FROM events WHERE event_type = 'purchase'),
    base AS (SELECT grp, cents, {u_cols} FROM h),
    w AS (SELECT grp, cents, {w_cols} FROM base),
    agg AS (
      SELECT sum(CASE WHEN grp = 't' THEN 1 ELSE 0 END)::BIGINT AS n_t,
             sum(CASE WHEN grp = 'c' THEN 1 ELSE 0 END)::BIGINT AS n_c,
             sum(CASE WHEN grp = 't' THEN cents ELSE 0 END)::BIGINT AS sc_t,
             sum(CASE WHEN grp = 'c' THEN cents ELSE 0 END)::BIGINT AS sc_c,
             {aggs}
      FROM w)
    SELECT n_t, n_c,
           floor((((CAST(sc_t AS DOUBLE) / 100.0) / CAST(n_t AS DOUBLE))
                  - ((CAST(sc_c AS DOUBLE) / 100.0) / CAST(n_c AS DOUBLE)))
                 * 10000 + 0.5) / 10000.0 AS mean_diff,
           floor((list_sort([{diffs}])[2]) * 10000 + 0.5) / 10000.0 AS ci_lo,
           floor((list_sort([{diffs}])[{_BOOT_B - 1}]) * 10000 + 0.5) / 10000.0
             AS ci_hi,
           CASE WHEN (list_sort([{diffs}])[2]) > 0.0
                     OR (list_sort([{diffs}])[{_BOOT_B - 1}]) < 0.0
                THEN 1 ELSE 0 END AS significant
    FROM agg
    """


@register("ab_bootstrap_diff_ci", oracle=_abb_oracle())
def q_ab_bootstrap_diff_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for the treatment-minus-control mean
    purchase value under an md5 user split — the NONPARAMETRIC companion
    to `ab_test_zscore` (no normality assumption; the same Poisson-lane
    machinery as `bootstrap_value_ci` applied to a difference statistic).
    `significant` = the rank-2..31 interval excludes zero.

    Exactness: the per-replica weights reuse the integer md5 Poisson
    ladder (four 32-bit lanes per digest); per-arm numerators and
    denominators are exact BIGINT sums; 32 difference doubles are sorted
    once per output row.

    Scale: ONE partial-agg'd scan with 4B+4 integer accumulators — arm
    membership is a CASE inside the aggregate, so the A/B dimension adds
    accumulator width, never a second pass.  Plan is prepared-statement
    cached like the other wide-replica queries.
    """
    def build() -> DataFrame:
        return _abb_plan(spark, sf_dir)

    return _plan_cached("ab_bootstrap_diff_ci", spark, sf_dir, build)


def _abb_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .partitioning import fan_out

    # Round 12 (guide §2.6, measured): single-file scan = one input
    # partition; fan_out the narrow purchase projection so the md5/conv/
    # ladder map work parallelizes (no-op at scale — see _bootstrap_plan).
    ev = fan_out(
        _t(spark, sf_dir, "events")
        .filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "value"),
        "event_id",
    )
    grp = F.when(salted_hash("ab:", "user_id") % 2 == 0, F.lit("t")).otherwise(F.lit("c"))
    h_cols = [
        F.md5(
            F.concat(F.lit(f"abboot{g}:"), F.col("event_id").cast("string"))
        ).alias(f"h{g}")
        for g in range(_BOOT_B // 4)
    ]
    h = ev.select(
        grp.alias("grp"),
        F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        *h_cols,
    )
    base = h.select(
        "grp",
        "cents",
        *[
            F.conv(F.substring(F.col(f"h{b // 4}"), (b % 4) * 8 + 1, 8), 16, 10)
            .cast("long")
            .alias(f"u{b}")
            for b in range(_BOOT_B)
        ],
    )
    w = base.select(
        "grp",
        "cents",
        *[F.expr(_pois_w(f"u{b}")).alias(f"w{b}") for b in range(_BOOT_B)],
    )
    # Round 12 (guide §1.2/§7.2, measured): the previous one-pass shape
    # carried 132 accumulators in a single no-grouping aggregate, which is
    # over spark.sql.codegen.maxFields (100) — the whole scan→ladder→agg
    # pipeline fell out of WholeStageCodegen and every one of the 132
    # CASE-wrapped updates ran interpreted per row (measured: 64 CASE sums
    # 36 ms vs 128 CASE sums 181 ms on the identical fanned input).  The
    # corpus-width pass is now a 67-field groupBy(grp) aggregate (WSCG
    # stays ON at any scale), and the two arm rows pivot through a wide
    # conditional aggregate that only ever sees 2 rows.  All integer sums:
    # sum(w) over grp='t' rows == sum(CASE WHEN grp='t' THEN w ELSE 0) —
    # bit-identical to the old accumulators (r11 measured the group-by-arm
    # half of this neutral, but WITHOUT the fan_out the whole pipeline was
    # single-task and the WSCG cliff was invisible at 1-task latencies).
    per_arm = w.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("sc"),
        *[
            a
            for b in range(_BOOT_B)
            for a in (
                F.sum(f"w{b}").cast("long").alias(f"sw{b}"),
                F.sum(F.col(f"w{b}") * F.col("cents")).cast("long").alias(f"swc{b}"),
            )
        ],
    )
    # Per-arm replica means computed on the 2-row frame with the SAME
    # division text as the old pivoted columns (identical operand values
    # → IEEE-identical doubles), then the two arms combine through a
    # 36-field signed-sum aggregate: sum over {t-row, c-row} of
    # (m_t, −m_c) — IEEE a + (−b) ≡ a − b exactly, and a 2-element sum
    # is order-invariant (addition is commutative bitwise), so d{b} is
    # bit-identical to _abb_diff's t-minus-c text.  A >100-field pivot
    # aggregate here measured +170 ms PER COLLECT even over 2 rows
    # (plan-width-proportional per-collect cost once WSCG is cut off).
    mrow = per_arm.select(
        "grp",
        "n",
        "sc",
        *[
            F.expr(
                f"((CAST(swc{b} AS DOUBLE) / 100.0) / CAST(sw{b} AS DOUBLE))"
            ).alias(f"m{b}")
            for b in range(_BOOT_B)
        ],
    )
    comb_aggs = [
        F.sum(F.when(F.col("grp") == "t", F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_t"),
        F.sum(F.when(F.col("grp") == "c", F.col("n")).otherwise(0))
        .cast("long")
        .alias("n_c"),
        F.sum(F.when(F.col("grp") == "t", F.col("sc")).otherwise(0))
        .cast("long")
        .alias("sc_t"),
        F.sum(F.when(F.col("grp") == "c", F.col("sc")).otherwise(0))
        .cast("long")
        .alias("sc_c"),
        *[
            F.sum(
                F.when(F.col("grp") == "t", F.col(f"m{b}")).otherwise(-F.col(f"m{b}"))
            ).alias(f"d{b}")
            for b in range(_BOOT_B)
        ],
    ]
    agg = mrow.agg(*comb_aggs)
    diffs = ", ".join(f"d{b}" for b in range(_BOOT_B))
    lo = F.expr(f"element_at(array_sort(array({diffs})), 2)")
    hi = F.expr(f"element_at(array_sort(array({diffs})), {_BOOT_B - 1})")
    return agg.select(
        "n_t",
        "n_c",
        round4(
            (F.col("sc_t").cast("double") / 100.0) / F.col("n_t").cast("double")
            - (F.col("sc_c").cast("double") / 100.0) / F.col("n_c").cast("double")
        ).alias("mean_diff"),
        round4(lo).alias("ci_lo"),
        round4(hi).alias("ci_hi"),
        F.when((lo > 0.0) | (hi < 0.0), F.lit(1))
        .otherwise(F.lit(0))
        .cast("int")
        .alias("significant"),
    )


# ---------------------------------------------------------------------------
# Off-policy evaluation: IPS / SNIPS / effective sample size.
# ---------------------------------------------------------------------------
@register(
    "ips_policy_value",
    oracle="""
    WITH base AS (
      SELECT event_type, floor(value*100 + 0.5)::BIGINT AS cents FROM events),
    tot AS (SELECT count(*)::BIGINT AS n, count(DISTINCT event_type)::BIGINT AS k
            FROM base),
    acts AS (
      SELECT event_type, count(*)::BIGINT AS n_a, sum(cents)::BIGINT AS r_a
      FROM base GROUP BY 1),
    terms AS (
      SELECT
        floor((CASE WHEN a.event_type = 'purchase' THEN 0.5
                    ELSE 0.5 / (t.k - 1) END)
              * (t.n::DOUBLE / a.n_a) * (a.r_a / 100.0) / t.n * 1000000 + 0.5
             )::BIGINT AS ips_micro,
        floor((CASE WHEN a.event_type = 'purchase' THEN 0.5
                    ELSE 0.5 / (t.k - 1) END)
              * (t.n::DOUBLE / a.n_a) * a.n_a * 1000000 + 0.5)::BIGINT AS w_micro,
        floor((CASE WHEN a.event_type = 'purchase' THEN 0.5
                    ELSE 0.5 / (t.k - 1) END)
              * (t.n::DOUBLE / a.n_a)
              * (CASE WHEN a.event_type = 'purchase' THEN 0.5
                      ELSE 0.5 / (t.k - 1) END)
              * (t.n::DOUBLE / a.n_a) * a.n_a * 1000000 + 0.5)::BIGINT AS w2_micro
      FROM acts a CROSS JOIN tot t),
    s AS (
      SELECT sum(ips_micro)::BIGINT AS ips_u, sum(w_micro)::BIGINT AS w_u,
             sum(w2_micro)::BIGINT AS w2_u
      FROM terms)
    SELECT t.n AS n_events, t.k AS n_actions,
           floor((s.ips_u / 1000000.0) * 10000 + 0.5) / 10000.0 AS ips_value,
           floor(((s.ips_u::DOUBLE / s.w_u) * t.n) * 10000 + 0.5) / 10000.0
             AS snips_value,
           floor(((s.w_u::DOUBLE * s.w_u) / (s.w2_u::DOUBLE * 1000000.0))
                 * 10000 + 0.5) / 10000.0 AS ess
    FROM s CROSS JOIN tot t
    """,
)
def q_ips_policy_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Off-policy evaluation of a counterfactual action policy from the
    logged `events` stream — the estimator a training-data pipeline uses to
    score a new ranking/serving policy before deployment (no reference
    counterpart; evaluation-family extension).

    Logged (behavior) propensity is the empirical action frequency
    p_b(a) = n_a/N; the target policy puts 1/2 on 'purchase' and splits
    1/2 uniformly over the other K-1 actions.  Emits the IPS value
    (1/N)Σ r_i·π(a_i)/p_b(a_i), the self-normalized SNIPS value, and the
    effective sample size (Σw)²/Σw².

    Because propensities are per-ACTION constants, every per-event sum
    collapses to a per-action term: one groupBy(event_type) with cents
    sums (map-side combined, K output rows), then K float terms quantized
    to integer micro-units BEFORE the final sum — the house pattern that
    makes the float fold partitioning-invariant.  At 100 TB this is a
    single partial-agg'd scan; nothing else shuffles.
    """
    ev = _t(spark, sf_dir, "events")
    base = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    tot = base.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.countDistinct("event_type").cast("long").alias("k"),
    )
    acts = base.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_a"),
        F.sum("cents").cast("long").alias("r_a"),
    )
    pi = F.when(F.col("event_type") == "purchase", F.lit(0.5)).otherwise(
        F.lit(0.5) / (F.col("k") - 1)
    )
    w = pi * (F.col("n").cast("double") / F.col("n_a"))
    terms = acts.crossJoin(F.broadcast(tot)).select(
        F.floor(w * (F.col("r_a") / 100.0) / F.col("n") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("ips_micro"),
        F.floor(w * F.col("n_a") * 1_000_000 + F.lit(0.5)).cast("long").alias("w_micro"),
        F.floor(w * w * F.col("n_a") * 1_000_000 + F.lit(0.5))
        .cast("long")
        .alias("w2_micro"),
    )
    s = terms.agg(
        F.sum("ips_micro").cast("long").alias("ips_u"),
        F.sum("w_micro").cast("long").alias("w_u"),
        F.sum("w2_micro").cast("long").alias("w2_u"),
    )
    return s.crossJoin(F.broadcast(tot)).select(
        F.col("n").alias("n_events"),
        F.col("k").alias("n_actions"),
        round4(F.col("ips_u") / 1_000_000.0).alias("ips_value"),
        round4((F.col("ips_u").cast("double") / F.col("w_u")) * F.col("n")).alias(
            "snips_value"
        ),
        round4(
            (F.col("w_u").cast("double") * F.col("w_u"))
            / (F.col("w2_u").cast("double") * 1_000_000.0)
        ).alias("ess"),
    )


# ---------------------------------------------------------------------------
# Calibration / reliability bins for a deterministic quality scorer.
# ---------------------------------------------------------------------------
@register(
    "calibration_bins",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             ({salted_hash_sql("cal:", "doc_id")}
              % 10000) AS p_tenk,
             CASE WHEN n_chars >= 400 THEN 1 ELSE 0 END AS label
      FROM documents),
    binned AS (
      SELECT CASE WHEN p_tenk >= 9000 THEN 9 ELSE p_tenk // 1000 END AS bin,
             p_tenk, label
      FROM scored)
    SELECT bin::INTEGER AS bin, count(*)::BIGINT AS n,
           floor((sum(p_tenk)::BIGINT / (count(*) * 10000.0)) * 10000 + 0.5)
             / 10000.0 AS avg_pred,
           floor((sum(label)::BIGINT::DOUBLE / count(*)) * 10000 + 0.5)
             / 10000.0 AS frac_pos,
           floor(abs(sum(p_tenk)::BIGINT / (count(*) * 10000.0)
                     - sum(label)::BIGINT::DOUBLE / count(*)) * 10000 + 0.5)
             / 10000.0 AS gap
    FROM binned GROUP BY bin ORDER BY bin
    """,
)
def q_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins for a deterministic pseudo-classifier over
    `documents`: predicted probability = md5-uniform in [0,1) (exact
    1/10000 rationals), outcome = length-based quality label.  Ten
    equal-width bins emit count, mean prediction, empirical positive rate,
    and |calibration gap| — the standard model-QC readout a data pipeline
    runs on every scored corpus snapshot (evaluation-family extension; no
    reference counterpart).

    Exactness: predictions live on a 1/10000 grid so the per-bin sums are
    integers; the only float ops are the two final divisions (identical
    operand order both engines) and one subtraction on their results.
    Scale: one partial-agg'd groupBy over 10 keys — a single scan.
    """
    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        (salted_hash("cal:", "doc_id") % 10000).alias("p_tenk"),
        F.when(F.col("n_chars") >= 400, F.lit(1)).otherwise(F.lit(0)).alias("label"),
    )
    binned = scored.withColumn(
        "bin",
        F.when(F.col("p_tenk") >= 9000, F.lit(9))
        .otherwise(F.floor(F.col("p_tenk") / 1000))
        .cast("int"),
    )
    agg = binned.groupBy("bin").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("p_tenk").cast("long").alias("sp"),
        F.sum("label").cast("long").alias("pos"),
    )
    avg_pred = F.col("sp") / (F.col("n") * 10000.0)
    frac_pos = F.col("pos").cast("double") / F.col("n")
    return agg.select(
        "bin",
        "n",
        round4(avg_pred).alias("avg_pred"),
        round4(frac_pos).alias("frac_pos"),
        round4(F.abs(avg_pred - frac_pos)).alias("gap"),
    ).orderBy("bin")


# ---------------------------------------------------------------------------
# Inter-annotator agreement: Cohen's kappa, integer contingency math.
# ---------------------------------------------------------------------------
@register(
    "annotator_agreement",
    oracle=f"""
    WITH ann AS (
      SELECT doc_id,
             ({salted_hash_sql("an1:", "doc_id")} % 3)
               AS a1,
             CASE WHEN ({salted_hash_sql("an2:", "doc_id")}
                        % 10) < 7
                  THEN ({salted_hash_sql("an1:", "doc_id")} % 3)
                  ELSE ({salted_hash_sql("an3:", "doc_id")} % 3)
             END AS a2
      FROM documents),
    marg AS (
      SELECT sum(CASE WHEN a1 = a2 THEN 1 ELSE 0 END)::BIGINT AS agree,
             count(*)::BIGINT AS n
      FROM ann),
    pe AS (
      SELECT sum(n1 * n2)::BIGINT AS cross_sum FROM (
        SELECT k, sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2 FROM (
          SELECT a1 AS k, count(*)::BIGINT AS c1, 0::BIGINT AS c2 FROM ann GROUP BY a1
          UNION ALL
          SELECT a2 AS k, 0::BIGINT, count(*)::BIGINT FROM ann GROUP BY a2)
        GROUP BY k))
    SELECT m.n AS n_docs,
           floor((m.agree::DOUBLE / m.n) * 10000 + 0.5) / 10000.0 AS po,
           floor((p.cross_sum::DOUBLE / (m.n * m.n)) * 10000 + 0.5) / 10000.0 AS pe,
           floor(((m.n * m.agree - p.cross_sum)::DOUBLE
                  / (m.n * m.n - p.cross_sum)) * 10000 + 0.5) / 10000.0 AS kappa
    FROM marg m CROSS JOIN pe p
    """,
)
def q_annotator_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two deterministic synthetic annotators over
    `documents` (annotator 2 copies annotator 1 on ~70% of md5 draws, else
    draws independently) — the label-QC statistic every human-annotation
    batch gets before entering a training set (evaluation-family
    extension).

    kappa = (N·agree − Σ_k n1_k·n2_k) / (N² − Σ_k n1_k·n2_k): the whole
    contingency reduces to three BIGINT scalars, so the single final
    division is the only float op (identical operand order in both
    engines).  Scale: two partial-agg'd scans over 3-key groups; marginals
    merge via a tiny unioned groupBy — nothing wide anywhere.
    """
    docs = _t(spark, sf_dir, "documents")
    a1 = salted_hash("an1:", "doc_id") % 3
    a2 = F.when(salted_hash("an2:", "doc_id") % 10 < 7, a1).otherwise(
        salted_hash("an3:", "doc_id") % 3
    )
    ann = docs.select(a1.alias("a1"), a2.alias("a2"))
    marg = ann.agg(
        F.sum(F.when(F.col("a1") == F.col("a2"), 1).otherwise(0))
        .cast("long")
        .alias("agree"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    m1 = ann.groupBy(F.col("a1").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("c1")
    ).withColumn("c2", F.lit(0).cast("long"))
    m2 = ann.groupBy(F.col("a2").alias("k")).agg(
        F.count(F.lit(1)).cast("long").alias("c2")
    ).withColumn("c1", F.lit(0).cast("long"))
    pe = (
        m1.select("k", "c1", "c2")
        .unionByName(m2.select("k", "c1", "c2"))
        .groupBy("k")
        .agg(F.sum("c1").cast("long").alias("n1"), F.sum("c2").cast("long").alias("n2"))
        .agg(F.sum(F.col("n1") * F.col("n2")).cast("long").alias("cross_sum"))
    )
    return marg.crossJoin(F.broadcast(pe)).select(
        F.col("n").alias("n_docs"),
        round4(F.col("agree").cast("double") / F.col("n")).alias("po"),
        round4(F.col("cross_sum").cast("double") / (F.col("n") * F.col("n"))).alias(
            "pe"
        ),
        round4(
            (F.col("n") * F.col("agree") - F.col("cross_sum")).cast("double")
            / (F.col("n") * F.col("n") - F.col("cross_sum"))
        ).alias("kappa"),
    )


# ---------------------------------------------------------------------------
# Top principal component by fixed-round power iteration — distributed
# iterative linear algebra with a bit-exact oracle: the second-moment
# matrix folds to integers (per-row quantization BEFORE summing), and
# every iteration's arithmetic is ONE generated expression string
# evaluated by both engines (identical operand order by construction).
# ---------------------------------------------------------------------------
_PCA_D = 4           # lineitem numeric features
_PCA_ITERS = 8       # fixed power-iteration rounds (not to-convergence)
_PCA_SCALE = 1_000_000   # iterate vector kept as integers in [-1e6, 1e6]
_PCA_Q = 10_000          # per-row product quantization; see overflow note

# fixed (data-independent) feature scalings so no dimension trivially
# dominates the moment matrix — plain SQL text shared by both engines
_PCA_FEATURES = [
    "CAST(l_quantity AS DOUBLE) / 10.0",
    "CAST(l_extendedprice AS DOUBLE) / 100000.0",
    "CAST(l_discount AS DOUBLE) * 10.0",
    "CAST(l_tax AS DOUBLE) * 10.0",
]


def _pca_m_name(j: int, k: int) -> str:
    return f"m{j}_{k}"


def _pca_m_exprs() -> list[tuple[str, str]]:
    """[(name, sql)] second-moment sums over the feature columns x0..x3 —
    per-row quantized to integers BEFORE summing (the invariance rule)."""
    return [
        (
            _pca_m_name(j, k),
            f"sum(CAST(floor(x{j} * x{k} * {_PCA_Q} + 0.5) AS BIGINT))",
        )
        for j in range(_PCA_D)
        for k in range(_PCA_D)
    ]


def _pca_iteration() -> Iteration:
    """One matrix-vector step + max-norm renormalize on the moment matrix
    ``m{j}_{k}``, from v = (1e6, ..., 1e6) — plain SQL text valid in both
    Spark SQL and DuckDB (CAST/floor/abs/greatest only).

    The mat-vec products multiply in DECIMAL, not BIGINT: M_jk ≈ Q·n
    grows with row count, so M·v·D ≈ 2.4e19 > 2^63 at 600M lineitem rows
    (ARITHMETIC_OVERFLOW; 100× passed at 2.4e18).  Widths are chosen for
    DuckDB's strict width-addition rule (25+7 = 32 ≤ 38): DECIMAL(25,0)
    holds the moment sums to ~1e21 rows, DECIMAL(7,0) the ±1e6-unit
    iterate.  Exact integer arithmetic either way, so results are the
    BIGINT ones wherever BIGINT did not overflow."""
    steps = []
    for j in range(_PCA_D):
        dot = " + ".join(
            f"CAST({_pca_m_name(j, k)} AS DECIMAL(25,0))"
            f" * CAST(v{k} AS DECIMAL(7,0))"
            for k in range(_PCA_D)
        )
        steps.append((f"w{j}", f"({dot})"))
    wmax = "greatest(" + ", ".join(f"abs(w{j})" for j in range(_PCA_D)) + ")"
    steps.append(("wmax", wmax))
    for j in range(_PCA_D):
        steps.append(
            (
                f"n{j}",
                f"CAST(floor((CAST(w{j} AS DOUBLE) * {_PCA_SCALE}.0)"
                f" / CAST(wmax AS DOUBLE)) AS BIGINT)",
            )
        )
    return Iteration(
        [(f"v{j}", f"CAST({_PCA_SCALE} AS BIGINT)") for j in range(_PCA_D)],
        _PCA_ITERS,
        steps,
        [f"n{j}" for j in range(_PCA_D)],
    )


def _pca_lambda_expr(v: str) -> str:
    """Rayleigh quotient v'Mv / v'v in DOUBLE, fixed left-to-right sums.
    Inner M·v products in DECIMAL for the same overflow headroom as
    :func:`_pca_iteration` (the sum is cast to DOUBLE afterwards, so
    the emitted float is unchanged wherever BIGINT didn't overflow)."""
    mv = " + ".join(
        "CAST("
        + " + ".join(
            f"CAST({_pca_m_name(j, k)} AS DECIMAL(25,0))"
            f" * CAST({v}{k} AS DECIMAL(7,0))"
            for k in range(_PCA_D)
        )
        + f" AS DOUBLE) * CAST({v}{j} AS DOUBLE)"
        for j in range(_PCA_D)
    )
    vv = " + ".join(
        f"CAST({v}{j} AS DOUBLE) * CAST({v}{j} AS DOUBLE)" for j in range(_PCA_D)
    )
    return f"(({mv}) / ({vv})) / {_PCA_Q}.0"


def _pca_oracle() -> str:
    feats = ", ".join(f"{e} AS x{j}" for j, e in enumerate(_PCA_FEATURES))
    m_aggs = ",\n             ".join(
        f"{sql}::BIGINT AS {name}" for name, sql in _pca_m_exprs()
    )
    rounds, prev = iterate_rounds_sql("it", "m", _pca_iteration())
    ctes = [
        f"feats AS (SELECT {feats} FROM lineitem)",
        f"m AS (SELECT {m_aggs} FROM feats)",
        *rounds,
    ]
    lam = _pca_lambda_expr("v")
    dims = "\n      UNION ALL ".join(
        f"SELECT {j} AS dim, "
        f"floor((CAST(v{j} AS DOUBLE) / {_PCA_SCALE}.0) * 10000 + 0.5) / 10000.0"
        f" AS loading, "
        f"floor(({lam}) * 10000 + 0.5) / 10000.0 AS lambda_est FROM {prev}"
        for j in range(_PCA_D)
    )
    cte_block = ",\n    ".join(ctes)
    return f"""
    WITH {cte_block}
    {dims}
    ORDER BY dim
    """


@register("pca_top_component", oracle=_pca_oracle())
def q_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the (uncentered) second-moment matrix of
    four fixed-scaled lineitem features, by 8 fixed rounds of power
    iteration — distributed iterative linear algebra verified BIT-EXACTLY
    in DuckDB.  Emits the 1e6-unit loading per dim plus the
    Rayleigh-quotient eigenvalue estimate; the dominant direction (the
    quantity x price co-movement) is the feature-redundancy diagnostic a
    training pipeline tracks per snapshot.

    Exactness recipe: (1) per-row products quantized to integers BEFORE
    the sum, so the D^2 moment entries are partitioning-invariant BIGINTs;
    (2) every iteration (mat-vec, max-norm, renormalize to integer
    1e6-units) is generated ONCE as plain SQL text and evaluated by BOTH
    engines (identical operand order by construction; the DOUBLE steps
    are IEEE-deterministic); (3) fixed round count, no convergence test.

    Overflow headroom: mat-vec products are M_jk (<= Q * sum|x_j x_k| ~
    7e10 at sf0.1) x 1e6-unit v x D — Q=1e4 keeps the worst term under
    3e17 << 2^63; at ~1e12 rows the moment sums move to DECIMAL(38,0)
    (HANDOFF headroom rule), the iteration arithmetic is row-count-free.

    Scale: ONE partial-agg'd scan produces the 16-entry matrix (16
    BIGINTs of state per task); the 8 iterations run on a 1-row DataFrame
    — free at any corpus size.  Spectrum note: power iteration needs an
    eigengap; correlated tabular features give ratio ~26x/round here,
    while near-isotropic synthetic embeddings (ratio ~1.06) would need
    ~70 rounds — the classic convergence caveat, documented not hidden.
    """
    return _plan_cached("pca_top_component", spark, sf_dir,
                        lambda: _pca_plan(spark, sf_dir))


def _pca_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    feats = li.select(
        *[F.expr(e).alias(f"x{j}") for j, e in enumerate(_PCA_FEATURES)]
    )
    # 1-row moment matrix materialized once: warm collects rerun only the
    # iteration tail (same build-checkpoint model as the markov/svd family;
    # cold = build + first collect carries the scan).
    it = feats.agg(
        *[F.expr(sql).cast("long").alias(name) for name, sql in _pca_m_exprs()]
    ).localCheckpoint(eager=True)
    it = iterate_rounds(it, "pv", _pca_iteration())
    lam = F.expr(_pca_lambda_expr("v"))
    rows = it.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("dim"),
                        round4(F.col(f"v{j}").cast("double") / float(_PCA_SCALE)).alias(
                            "loading"
                        ),
                        round4(lam).alias("lambda_est"),
                    )
                    for j in range(_PCA_D)
                ]
            )
        ).alias("r")
    )
    return rows.select("r.dim", "r.loading", "r.lambda_est").orderBy("dim")


# ---------------------------------------------------------------------------
# Second principal component by Hotelling deflation.
# ---------------------------------------------------------------------------
def _p2_mvv_text() -> str:
    """u'Mu in DOUBLE, fixed left-to-right order (shared text).  Inner
    M·u products in DECIMAL — the overflow headroom of
    ``_pca_iteration`` (M_jk grows with row count; BIGINT overflowed at
    600M lineitem rows)."""
    return " + ".join(
        "CAST("
        + " + ".join(
            f"CAST({_pca_m_name(j, k)} AS DECIMAL(25,0))"
            f" * CAST(u{k} AS DECIMAL(7,0))"
            for k in range(_PCA_D)
        )
        + f" AS DOUBLE) * CAST(u{j} AS DOUBLE)"
        for j in range(_PCA_D)
    )


def _p2_vv_text() -> str:
    return "(" + " + ".join(f"u{j}*u{j}" for j in range(_PCA_D)) + ")"


def _p2_defl_text(j: int, k: int) -> str:
    """One deflated-matrix entry, floor-quantized back to the integer
    moment scale: d_jk = M_jk − (u'Mu)·u_j·u_k / (u'u)².  All DOUBLE ops
    happen in ONE shared expression text (umvv/uvv are columns both
    engines define identically), so the requantized integer matrix is
    bit-identical cross-engine."""
    return (
        f"CAST(floor(CAST({_pca_m_name(j, k)} AS DOUBLE)"
        f" - (umvv * CAST(u{j} AS DOUBLE) * CAST(u{k} AS DOUBLE))"
        f" / (CAST(uvv AS DOUBLE) * CAST(uvv AS DOUBLE)) + 0.5) AS BIGINT)"
    )


def _p2_ortho_text() -> str:
    uv = " + ".join(
        f"CAST(u{j} AS DOUBLE) * CAST(v{j} AS DOUBLE)" for j in range(_PCA_D)
    )
    vv = " + ".join(
        f"CAST(v{j} AS DOUBLE) * CAST(v{j} AS DOUBLE)" for j in range(_PCA_D)
    )
    return f"(({uv}) / (sqrt(CAST(uvv AS DOUBLE)) * sqrt({vv})))"


def _pca2_oracle() -> str:
    feats = ", ".join(f"{e} AS x{j}" for j, e in enumerate(_PCA_FEATURES))
    m_aggs = ",\n             ".join(
        f"{sql}::BIGINT AS {name}" for name, sql in _pca_m_exprs()
    )
    m_cols = ", ".join(_pca_m_name(j, k) for j in range(_PCA_D) for k in range(_PCA_D))
    phase1, prev1 = iterate_rounds_sql("ita", "m", _pca_iteration())
    ctes = [
        f"feats AS (SELECT {feats} FROM lineitem)",
        f"m AS (SELECT {m_aggs} FROM feats)",
        *phase1,
    ]
    u_cols = ", ".join(f"v{j} AS u{j}" for j in range(_PCA_D))
    ctes.append(f"uphase AS (SELECT {m_cols}, {u_cols} FROM {prev1})")
    ctes.append(
        f"ustats AS (SELECT *, {_p2_vv_text()} AS uvv,"
        f" {_p2_mvv_text()} AS umvv FROM uphase)"
    )
    d_cols = ", ".join(
        f"{_p2_defl_text(j, k)} AS {_pca_m_name(j, k)}"
        for j in range(_PCA_D)
        for k in range(_PCA_D)
    )
    u_keep = ", ".join(f"u{j}" for j in range(_PCA_D))
    ctes.append(f"defl AS MATERIALIZED (SELECT {d_cols}, {u_keep}, uvv FROM ustats)")
    phase2, prev2 = iterate_rounds_sql("itb", "defl", _pca_iteration())
    ctes += phase2
    lam = _pca_lambda_expr("v")
    ortho = _p2_ortho_text()
    dims = "\n      UNION ALL ".join(
        f"SELECT {j} AS dim, "
        f"floor((CAST(v{j} AS DOUBLE) / {_PCA_SCALE}.0) * 10000 + 0.5) / 10000.0"
        f" AS loading, "
        f"floor(({lam}) * 10000 + 0.5) / 10000.0 AS lambda_est, "
        f"floor(({ortho}) * 10000 + 0.5) / 10000.0 AS v1_dot_v2 FROM {prev2}"
        for j in range(_PCA_D)
    )
    cte_block = ",\n    ".join(ctes)
    return f"""
    WITH {cte_block}
    {dims}
    ORDER BY dim
    """


@register("pca_second_component", oracle=_pca2_oracle())
def q_pca_second_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second principal direction of the lineitem second-moment matrix by
    Hotelling deflation: converge v1 (8 power-iteration rounds, exactly
    `pca_top_component`'s recipe), subtract its rank-1 component M −
    (v1'Mv1)·v1v1'/(v1'v1)², floor-requantize to the integer moment
    scale, and power-iterate 8 more rounds on the deflated matrix.
    Emits the v2 loadings, the Rayleigh λ2, and the v1·v2 cosine as an
    in-band orthogonality diagnostic (should be ~0; a collapsed eigengap
    would show up here, not silently).

    Exactness: the deflation is ONE shared DOUBLE expression text per
    entry, floor-quantized back to BIGINT — so phase 2 iterates an
    integer matrix that is bit-identical in both engines, and the whole
    16-round pipeline stays deterministic under any partitioning.
    Deflation noise is O(1) in moment units vs λ2 at ~1e9 units, so the
    quantization cannot leak v1 back in (the classic deflation failure
    needs noise ≈ λ2).

    Scale: same economics as `pca_top_component` — ONE partial-agg'd
    scan for the 16-entry matrix, then 1-row arithmetic: each phase is
    one `iterate_rounds` loop, and the deflation between them is a
    plain projection on the same 1-row frame.
    """
    def build() -> DataFrame:
        li = _t(spark, sf_dir, "lineitem")
        feats = li.select(
            *[F.expr(e).alias(f"x{j}") for j, e in enumerate(_PCA_FEATURES)]
        )
        # 1-row moment matrix materialized once (same model as
        # pca_top_component — warm reruns only the two iteration phases).
        it = feats.agg(
            *[F.expr(sql).cast("long").alias(name) for name, sql in _pca_m_exprs()]
        ).localCheckpoint(eager=True)
        it = iterate_rounds(it, "pva", _pca_iteration())
        for j in range(_PCA_D):
            it = it.withColumn(f"u{j}", F.col(f"v{j}")).drop(f"v{j}")
        it = it.withColumn("uvv", F.expr(_p2_vv_text())).withColumn(
            "umvv", F.expr(_p2_mvv_text())
        )
        defl = it.select(
            *[
                F.expr(_p2_defl_text(j, k)).alias(_pca_m_name(j, k))
                for j in range(_PCA_D)
                for k in range(_PCA_D)
            ],
            *[F.col(f"u{j}") for j in range(_PCA_D)],
            "uvv",
        )
        it2 = iterate_rounds(defl, "pvb", _pca_iteration())
        lam = F.expr(_pca_lambda_expr("v"))
        ortho = F.expr(_p2_ortho_text())
        rows = it2.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(j).alias("dim"),
                            round4(
                                F.col(f"v{j}").cast("double") / float(_PCA_SCALE)
                            ).alias("loading"),
                            round4(lam).alias("lambda_est"),
                            round4(ortho).alias("v1_dot_v2"),
                        )
                        for j in range(_PCA_D)
                    ]
                )
            ).alias("r")
        )
        return rows.select("r.dim", "r.loading", "r.lambda_est", "r.v1_dot_v2").orderBy(
            "dim"
        )

    return _plan_cached("pca_second_component", spark, sf_dir, build)


# ---------------------------------------------------------------------------
# Rank-2 SVD of the user x event-type spend matrix via the tall-and-skinny
# Gram route: one distributed exact-integer 5x5 Gram aggregate, then ALL
# iteration rounds are 1-row expressions (free at any corpus size).
# ---------------------------------------------------------------------------
_SVD2_K = 5
_SVD2_TYPES = ["click", "error", "purchase", "signup", "view"]
_SVD2_SCALE = 1_000_000
_SVD2_P1_ROUNDS = 8    # sigma1/sigma2 gap is wide: 8 rounds suffice for v1
_SVD2_P2_ROUNDS = 48   # deflated spectrum is near-degenerate: see docstring


def _svd2_iteration(gpfx: str, rounds: int) -> Iteration:
    """One mat-vec + max-norm renormalize on the 5x5 ``{gpfx}j_k`` DOUBLE
    matrix, from v = (1e6, ..., 1e6) — shared SQL text (DOUBLE ops on
    exactly-agreed inputs are IEEE-identical cross-engine; v requantizes
    to 1e6-unit BIGINT)."""
    steps = []
    for j in range(_SVD2_K):
        dot = " + ".join(
            f"{gpfx}{j}_{k} * CAST(v{k} AS DOUBLE)" for k in range(_SVD2_K)
        )
        steps.append((f"w{j}", f"({dot})"))
    steps.append(
        ("wmax", "greatest(" + ", ".join(f"abs(w{j})" for j in range(_SVD2_K)) + ")")
    )
    for j in range(_SVD2_K):
        steps.append(
            (f"n{j}", f"CAST(floor(w{j} * {_SVD2_SCALE}.0 / wmax) AS BIGINT)")
        )
    return Iteration(
        [(f"v{j}", f"CAST({_SVD2_SCALE} AS BIGINT)") for j in range(_SVD2_K)],
        rounds,
        steps,
        [f"n{j}" for j in range(_SVD2_K)],
    )


def _svd2_lam_expr(gpfx: str) -> str:
    """Rayleigh quotient v'Gv / v'v (DOUBLE, fixed operand order)."""
    num = " + ".join(
        "("
        + " + ".join(f"{gpfx}{j}_{k} * CAST(v{k} AS DOUBLE)" for k in range(_SVD2_K))
        + f") * CAST(v{j} AS DOUBLE)"
        for j in range(_SVD2_K)
    )
    den = " + ".join(
        f"CAST(v{j} AS DOUBLE) * CAST(v{j} AS DOUBLE)" for j in range(_SVD2_K)
    )
    return f"(({num}) / ({den}))"


def _svd2_vv_expr(pfx: str) -> str:
    return (
        "("
        + " + ".join(f"CAST({pfx}{j} AS DOUBLE) * CAST({pfx}{j} AS DOUBLE)"
                     for j in range(_SVD2_K))
        + ")"
    )


def _svd2_defl_expr(j: int, k: int) -> str:
    """Deflated Gram entry gd_jk − λ1·v1_j·v1_k/(v1'v1) — shared text."""
    return (
        f"(gd{j}_{k} - lam1 * CAST(p{j} AS DOUBLE) * CAST(p{k} AS DOUBLE) / pvv)"
    )


def _svd2_ortho_expr() -> str:
    dot = " + ".join(
        f"CAST(p{j} AS DOUBLE) * CAST(v{j} AS DOUBLE)" for j in range(_SVD2_K)
    )
    return f"(({dot}) / (sqrt(pvv) * sqrt({_svd2_vv_expr('v')})))"


def _svd2_oracle() -> str:
    s = _SVD2_SCALE
    piv = ", ".join(
        f"coalesce(sum(CASE WHEN event_type = '{t}' THEN cents END), 0)::BIGINT"
        f" AS c{j}"
        for j, t in enumerate(_SVD2_TYPES)
    )
    gagg = ", ".join(
        f"sum((c{j}::HUGEINT) * c{k}) AS gi{j}_{k}"
        for j in range(_SVD2_K)
        for k in range(_SVD2_K)
    )
    gd = ", ".join(
        f"CAST(gi{j}_{k} AS DOUBLE) AS gd{j}_{k}"
        for j in range(_SVD2_K)
        for k in range(_SVD2_K)
    )
    gd_cols = ", ".join(
        f"gd{j}_{k}" for j in range(_SVD2_K) for k in range(_SVD2_K)
    )
    phase1, prev = iterate_rounds_sql("ita", "g", _svd2_iteration("gd", _SVD2_P1_ROUNDS))
    ctes = [
        """m AS MATERIALIZED (
      SELECT user_id, event_type,
             sum(floor(value*100 + 0.5)::BIGINT)::BIGINT AS cents
      FROM events GROUP BY 1, 2)""",
        f"pu AS MATERIALIZED (SELECT user_id, {piv} FROM m GROUP BY 1)",
        f"gi AS (SELECT {gagg} FROM pu)",
        f"g AS (SELECT {gd} FROM gi)",
        *phase1,
    ]
    lam1 = _svd2_lam_expr("gd")
    keep_p = ", ".join(f"v{j} AS p{j}" for j in range(_SVD2_K))
    ctes.append(
        f"ph1 AS (SELECT {gd_cols}, {keep_p}, {lam1} AS lam1 FROM {prev})"
    )
    ctes.append(f"ph1b AS (SELECT *, {_svd2_vv_expr('p')} AS pvv FROM ph1)")
    d_cols = ", ".join(
        f"{_svd2_defl_expr(j, k)} AS dd{j}_{k}"
        for j in range(_SVD2_K)
        for k in range(_SVD2_K)
    )
    p_cols = ", ".join(f"p{j}" for j in range(_SVD2_K))
    ctes.append(
        f"defl AS MATERIALIZED (SELECT {d_cols}, {p_cols}, pvv, lam1 FROM ph1b)"
    )
    phase2, prev = iterate_rounds_sql("itb", "defl", _svd2_iteration("dd", _SVD2_P2_ROUNDS))
    ctes += phase2
    lam2 = _svd2_lam_expr("dd")
    ortho = _svd2_ortho_expr()
    rows = "\n    UNION ALL ".join(
        f"SELECT '{typ}' AS event_type,"
        f" floor((CAST(p{j} AS DOUBLE) / {s}.0) * 10000 + 0.5)/10000.0 AS loading1,"
        f" floor((CAST(v{j} AS DOUBLE) / {s}.0) * 10000 + 0.5)/10000.0 AS loading2,"
        f" floor((sqrt(lam1) / 100.0) * 10000 + 0.5)/10000.0 AS sigma1_dollars,"
        f" floor((sqrt({lam2}) / 100.0) * 10000 + 0.5)/10000.0 AS sigma2_dollars,"
        f" floor(({ortho}) * 10000 + 0.5)/10000.0 AS v1_dot_v2"
        f" FROM {prev}"
        for j, typ in enumerate(_SVD2_TYPES)
    )
    cte_block = ",\n    ".join(ctes)
    return f"""
    WITH {cte_block}
    {rows}
    ORDER BY event_type
    """


@register("svd_rank2_affinity", oracle=_svd2_oracle())
def q_svd_rank2_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-2 spectral factorization of the user × event-type spend matrix
    — completing `svd_rank1_affinity`'s "rank k" note — by the
    tall-and-skinny Gram route: ONE distributed aggregate produces the
    exact-integer 5×5 Gram matrix MᵀM (per-user pivot, then 25 partial-
    agg'd product sums with HUGEINT/DECIMAL headroom), after which every
    power-iteration round is 1-ROW arithmetic — free at any corpus size.
    That cost model is why this path can afford the 48 deflated rounds
    the near-degenerate tail needs (σ2:σ3 ≈ 1.09 ⇒ (σ2/σ3)² ≈ 1.18 gain
    per round; the alternating-join formulation at 6 rounds would emit an
    unconverged mixture — measured cos≈0.001 against the true v2), where
    each alternating round costs a distributed join.  Emits both loading
    vectors, both sigmas (√λ of the Gram Rayleigh quotients), and the
    v1·v2 cosine diagnostic.

    Exactness: the distributed part (cents cells, pivot, Gram sums) is
    exact integer and partitioning-invariant; everything after is 1-row
    DOUBLE arithmetic from shared expression texts (identical operand
    order ⇒ IEEE-identical cross-engine), with v requantized to 1e6-unit
    integers every round.  Overflow: Gram entries are Σ cents² — HUGEINT
    (DuckDB) / DECIMAL(38,0) (Spark) per the house second-moment rule.

    Scale: for a k-column skinny matrix this is THE 100 TB design — the
    Gram aggregate shuffles k² scalars per task and iteration touches no
    data; the distributed user factor, when needed, is u_i = M v_i / σ_i,
    one broadcast join away (demonstrated at rank 1 by
    `svd_rank1_affinity`'s alternating form).  Each phase is one
    `iterate_rounds` loop on the 1-row Gram frame, so the 56 rounds add
    no Spark job and no generated-code size.
    """
    def build() -> DataFrame:
        s = _SVD2_SCALE
        ev = _t(spark, sf_dir, "events")
        m = ev.groupBy("user_id", "event_type").agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
        pu = m.groupBy("user_id").agg(
            *[
                F.coalesce(
                    F.sum(
                        F.when(F.col("event_type") == t, F.col("cents"))
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias(f"c{j}")
                for j, t in enumerate(_SVD2_TYPES)
            ]
        )
        gi = pu.agg(
            *[
                F.sum(
                    F.col(f"c{j}").cast("decimal(38,0)") * F.col(f"c{k}")
                )
                .cast("decimal(38,0)")
                .alias(f"gi{j}_{k}")
                for j in range(_SVD2_K)
                for k in range(_SVD2_K)
            ]
        )
        # 1-row Gram matrix materialized once: warm collects rerun only the
        # iteration tail.
        it = gi.select(
            *[
                F.col(f"gi{j}_{k}").cast("double").alias(f"gd{j}_{k}")
                for j in range(_SVD2_K)
                for k in range(_SVD2_K)
            ]
        ).localCheckpoint(eager=True)
        it = iterate_rounds(it, "pva", _svd2_iteration("gd", _SVD2_P1_ROUNDS))
        it = it.withColumn("lam1", F.expr(_svd2_lam_expr("gd")))
        for j in range(_SVD2_K):
            it = it.withColumn(f"p{j}", F.col(f"v{j}")).drop(f"v{j}")
        it = it.withColumn("pvv", F.expr(_svd2_vv_expr("p")))
        for j in range(_SVD2_K):
            for k in range(_SVD2_K):
                it = it.withColumn(f"dd{j}_{k}", F.expr(_svd2_defl_expr(j, k)))
        it = it.select(
            *[f"dd{j}_{k}" for j in range(_SVD2_K) for k in range(_SVD2_K)],
            *[f"p{j}" for j in range(_SVD2_K)],
            "pvv",
            "lam1",
        )
        it = iterate_rounds(it, "pvb", _svd2_iteration("dd", _SVD2_P2_ROUNDS))
        lam2 = _svd2_lam_expr("dd")
        ortho = _svd2_ortho_expr()
        rows = it.select(
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(t).alias("event_type"),
                            round4(
                                F.col(f"p{j}").cast("double") / float(s)
                            ).alias("loading1"),
                            round4(
                                F.col(f"v{j}").cast("double") / float(s)
                            ).alias("loading2"),
                            round4(F.sqrt(F.col("lam1")) / 100.0).alias(
                                "sigma1_dollars"
                            ),
                            round4(F.expr(f"sqrt({lam2})") / 100.0).alias(
                                "sigma2_dollars"
                            ),
                            round4(F.expr(ortho)).alias("v1_dot_v2"),
                        )
                        for j, t in enumerate(_SVD2_TYPES)
                    ]
                )
            ).alias("r")
        )
        return rows.select(
            "r.event_type",
            "r.loading1",
            "r.loading2",
            "r.sigma1_dollars",
            "r.sigma2_dollars",
            "r.v1_dot_v2",
        ).orderBy("event_type")

    return _plan_cached("svd_rank2_affinity", spark, sf_dir, build)
