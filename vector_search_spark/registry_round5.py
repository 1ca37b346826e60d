"""Round-5 registry additions: graph communities + monotone-trend audit.

New families on top of the round-4 surface (HANDOFF round-5 candidates:
community structure on the dup graph; more nonparametric monitoring):

- ``dup_label_propagation`` — synchronous label-propagation communities
  over the verified near-duplicate graph (4 deterministic rounds,
  majority label, lowest-label ties).
- ``dup_eigencentrality``   — eigenvector centrality by integer power
  iteration with uniform integer renormalization (6 rounds).
- ``mann_kendall_daily``    — Mann–Kendall monotone-trend test (with tie
  correction) on daily purchase revenue, beside ``theil_sen_daily_trend``
  and ``runs_test_daily`` on the same series.
- ``gbdt_residual_stumps``  — two boosting rounds of least-squares
  decision stumps on lineitem price (the GBDT training step, histogram
  algorithm), integer residuals throughout.

House invariants throughout: integer-only iteration state, shared SQL
expression text for every emitted float, ``round4`` on emitted floats,
``::BIGINT`` on DuckDB integer aggregates, NULL-free outputs, id
tie-breaks.  The reference (p1va/3-2-1-vector-search) has no graph or
monitoring surface (SURVEY.md §2.6); these extend the north-star
training-data-pipeline families (dup-graph remediation: registry_dedup's
pagerank/k-core/triangles; drift monitoring: registry_ml's KS/CUSUM/runs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .functions.scalar import round4
from .registry import artifact, register
from .registry_dedup import (
    NUM_HASHES,
    _SQL_BAND_KEYS,
    _SQL_CAND,
    _SQL_SHINGLES,
    _SQL_SIG,
    _SQL_VERIFIED_BLOCK,
)
from .sources.tables import load_table as __load


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return __load(spark, sf_dir, name)


# Shared oracle prefix: the verified near-dup graph as symmetric edges.
_SQL_DUP_EDGES = f"""
    WITH {_SQL_SHINGLES},
    {_SQL_SIG},
    banded AS (SELECT doc_id, {_SQL_BAND_KEYS} FROM sig),
    cand AS ({_SQL_CAND}),
    {_SQL_VERIFIED_BLOCK},
    edges AS (SELECT id_1 AS a, id_2 AS b FROM verified
              UNION SELECT id_2, id_1 FROM verified)
"""


# ---------------------------------------------------------------------------
# Label-propagation communities over the dup graph.
# ---------------------------------------------------------------------------
LPA_ROUNDS = 4


def _lpa_round_sql(prev: str, cur: str) -> str:
    """One synchronous LPA round as an unrolled CTE: node b adopts the most
    frequent label among its neighbors' round-(i-1) labels; ties break to
    the smallest label.  Integer-only, so the Spark twin is bit-exact."""
    return f"""
    {cur} AS (
      SELECT b AS doc_id, label FROM (
        SELECT e.b, p.label, count(*) AS c,
               row_number() OVER (PARTITION BY e.b
                                  ORDER BY count(*) DESC, p.label) AS rn
        FROM edges e JOIN {prev} p ON e.a = p.doc_id
        GROUP BY e.b, p.label)
      WHERE rn = 1)"""


@artifact(deps=("_shared_sym_edges",), checkpoint=True)
def _shared_lpa_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final (doc_id, label) table of the fixed-round synchronous LPA —
    session-shared (round 11): both `dup_label_propagation` and
    `dup_community_modularity` ran the full 4-round loop independently.
    Every round ends in an eager localCheckpoint; ``checkpoint=True``
    takes the last one."""
    from .registry_dedup import _shared_sym_edges

    edges = _shared_sym_edges(spark, sf_dir)
    labels = edges.select(F.col("a").alias("doc_id")).distinct().withColumn(
        "label", F.col("doc_id").cast("long")
    )
    w = Window.partitionBy("b").orderBy(F.desc("c"), F.asc("label"))
    for r in range(LPA_ROUNDS):
        if r:
            labels = labels.localCheckpoint(eager=True)
        cnt = (
            edges.join(labels, edges.a == labels.doc_id)
            .groupBy("b", "label")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        labels = (
            cnt.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select(F.col("b").alias("doc_id"), "label")
        )
    return labels


@register(
    "dup_label_propagation",
    oracle=_SQL_DUP_EDGES
    + ",\n    l0 AS (SELECT DISTINCT a AS doc_id, a AS label FROM edges),"
    + ",".join(_lpa_round_sql(f"l{i}", f"l{i + 1}") for i in range(LPA_ROUNDS))
    + f"""
    SELECT doc_id, label::BIGINT AS community,
           (count(*) OVER (PARTITION BY label))::BIGINT AS community_size
    FROM l{LPA_ROUNDS} ORDER BY doc_id
    """,
)
def q_dup_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection on the verified near-duplicate graph by
    synchronous label propagation (4 fixed rounds): every node adopts the
    majority label among its neighbors, ties to the smallest label.
    Communities are the template families connected-components can't
    separate — a bridge edge merges two cliques into one component, but
    majority voting keeps each clique on its own label, so remediation
    (pick-one-per-template) acts on the right granularity.

    Determinism: labels are doc_ids (integers); each round is a count +
    (count DESC, label ASC) argmax — no floats, no data-dependent
    iteration count, so any partitioning and the unrolled-CTE DuckDB twin
    produce identical labels.  Standard async LPA is nondeterministic by
    construction (visit order decides); the synchronous fixed-round form
    is the one a distributed engine can honestly promise.

    Scale: each round is ONE join of the O(near-dup) edge list against
    the label table plus a partial-agg'd (b, label) count — the
    `dup_graph_pagerank` economics; eager localCheckpoint per round keeps
    the plan constant-size.  Rounds are O(graph diameter) to stabilize;
    dup graphs are shallow (templates are star/clique-like), so a fixed
    small round count is the production setting.
    """
    labels = _shared_lpa_labels(spark, sf_dir)
    w_sz = Window.partitionBy("label")
    return labels.select(
        "doc_id",
        F.col("label").cast("long").alias("community"),
        F.count(F.lit(1)).over(w_sz).cast("long").alias("community_size"),
    ).orderBy("doc_id")


# ---------------------------------------------------------------------------
# Eigenvector centrality by integer power iteration.
# ---------------------------------------------------------------------------
EIGEN_ROUNDS = 6
EIGEN_SCALE = 1_000_000


def _eigen_oracle() -> str:
    ctes = ["x0 AS (SELECT DISTINCT a AS doc_id, 1000000::BIGINT AS x FROM edges)"]
    for i in range(EIGEN_ROUNDS):
        ctes.append(
            f"""s{i} AS MATERIALIZED (
      SELECT e.b AS doc_id, sum(p.x)::BIGINT AS s
      FROM edges e JOIN x{i} p ON e.a = p.doc_id GROUP BY e.b)"""
        )
        ctes.append(
            f"""x{i + 1} AS MATERIALIZED (
      SELECT s.doc_id,
             (s.s // (1 + ((SELECT sum(s) FROM s{i})
                           // ((SELECT count(*) FROM x0) * {EIGEN_SCALE}))))::BIGINT
               AS x
      FROM s{i} s)"""
        )
    return (
        _SQL_DUP_EDGES
        + ",\n    "
        + ",\n    ".join(ctes)
        + f"""
    SELECT doc_id, x AS centrality_micro FROM x{EIGEN_ROUNDS} ORDER BY doc_id
    """
    )


@register("dup_eigencentrality", oracle=_eigen_oracle())
def q_dup_eigencentrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Eigenvector centrality of the verified near-duplicate graph — x ∝
    A·x by 6 power-iteration rounds.  Where PageRank's degree division
    flattens hubs, eigencentrality concentrates mass inside the densest
    clique: the top-centrality docs ARE the dominant boilerplate template,
    found without thresholding degree.

    Exactness: iteration state is integer micro-units.  Renormalization
    divides every score by the SAME integer d = 1 + Σs // (N·1e6) — a
    uniform scalar, so relative order (the centrality semantics) is
    unaffected while values stay in BIGINT range at any graph size; since
    both the neighbor sums and d are exact integers, any cluster size,
    any partitioning, and the unrolled-CTE DuckDB twin agree bit-for-bit
    (a float-normalized power iteration would drift by reduction order).

    Scale: per round one join + partial-agg'd shuffle over O(near-dup)
    edges, plus a 1-row global sum broadcast back — the
    `dup_graph_pagerank` economics; eager localCheckpoint per round keeps
    plan and codegen constant-size.  Neighbor sums fit BIGINT up to
    ~1e12-node graphs (score ≤ N·1e6); beyond that the accumulator moves
    to DECIMAL(38,0) per the house second-moment rule.
    """
    from .registry_dedup import _shared_sym_edges

    edges = _shared_sym_edges(spark, sf_dir)
    nodes = edges.select(F.col("a").alias("doc_id")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    x = nodes.withColumn("x", F.lit(EIGEN_SCALE).cast("long"))
    for _ in range(EIGEN_ROUNDS):
        s = (
            edges.join(x, edges.a == x.doc_id)
            .groupBy("b")
            .agg(F.sum("x").cast("long").alias("s"))
        )
        d = (
            s.agg(F.sum("s").cast("long").alias("tot"))
            .crossJoin(F.broadcast(nn))
            .select(
                (
                    F.lit(1)
                    + F.expr(f"tot DIV (n_nodes * {EIGEN_SCALE})")
                ).cast("long").alias("d")
            )
        )
        x = (
            s.crossJoin(F.broadcast(d))
            .select(F.col("b").alias("doc_id"), F.expr("s DIV d").cast("long").alias("x"))
            .localCheckpoint(eager=True)
        )
    return x.select("doc_id", F.col("x").alias("centrality_micro")).orderBy("doc_id")


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


# ---------------------------------------------------------------------------
# Gradient-boosted residual stumps (two least-squares boosting rounds).
# ---------------------------------------------------------------------------
GBDT_ROUNDS = 2
_GB_Y = "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)"


def _fdiv(a: str, b: str) -> str:
    """Floor division as shared SQL text, exact on negatives in BOTH
    engines: Spark's ``DIV`` truncates toward zero while DuckDB's ``//``
    floors, so neither operator is portable once residual sums go
    negative.  ``a - pmod(a, b)`` is divisible by ``b`` exactly, and both
    engines' ``%`` is C-style truncated remainder, so the text below is
    engine-independent (the double divide is exact: the quotient is an
    integer < 2^53)."""
    return (
        f"CAST((({a}) - (((({a}) % ({b})) + ({b})) % ({b}))) / ({b}) AS BIGINT)"
    )


# Variance-explained ratio of a split, from exact integer sufficient
# statistics (cum_n/cum_s of the left side; n_tot/s_tot/ssq_tot of the
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
    from .registry_ml import _STUMP_FEATURES

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


# ---------------------------------------------------------------------------
# Second principal component by Hotelling deflation.
# ---------------------------------------------------------------------------
def _p2_mvv_text() -> str:
    """u'Mu in DOUBLE, fixed left-to-right order (shared text).  Inner
    M·u products in DECIMAL — same r9 overflow fix as
    ``_pca_iter_exprs`` (M_jk grows with row count; BIGINT overflowed at
    600M lineitem rows)."""
    from .registry_round4 import _PCA_D, _pca_m_name

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
    from .registry_round4 import _PCA_D

    return "(" + " + ".join(f"u{j}*u{j}" for j in range(_PCA_D)) + ")"


def _p2_defl_text(j: int, k: int) -> str:
    """One deflated-matrix entry, floor-quantized back to the integer
    moment scale: d_jk = M_jk − (u'Mu)·u_j·u_k / (u'u)².  All DOUBLE ops
    happen in ONE shared expression text (umvv/uvv are columns both
    engines define identically), so the requantized integer matrix is
    bit-identical cross-engine."""
    from .registry_round4 import _pca_m_name

    return (
        f"CAST(floor(CAST({_pca_m_name(j, k)} AS DOUBLE)"
        f" - (umvv * CAST(u{j} AS DOUBLE) * CAST(u{k} AS DOUBLE))"
        f" / (CAST(uvv AS DOUBLE) * CAST(uvv AS DOUBLE)) + 0.5) AS BIGINT)"
    )


def _p2_ortho_text() -> str:
    from .registry_round4 import _PCA_D

    uv = " + ".join(
        f"CAST(u{j} AS DOUBLE) * CAST(v{j} AS DOUBLE)" for j in range(_PCA_D)
    )
    vv = " + ".join(
        f"CAST(v{j} AS DOUBLE) * CAST(v{j} AS DOUBLE)" for j in range(_PCA_D)
    )
    return f"(({uv}) / (sqrt(CAST(uvv AS DOUBLE)) * sqrt({vv})))"


def _pca2_oracle() -> str:
    from .registry_round4 import (
        _PCA_D,
        _PCA_FEATURES,
        _PCA_ITERS,
        _PCA_SCALE,
        _pca_iter_exprs,
        _pca_lambda_expr,
        _pca_m_exprs,
        _pca_m_name,
    )

    feats = ", ".join(f"{e} AS x{j}" for j, e in enumerate(_PCA_FEATURES))
    m_aggs = ",\n             ".join(
        f"{sql}::BIGINT AS {name}" for name, sql in _pca_m_exprs()
    )
    m_cols = ", ".join(_pca_m_name(j, k) for j in range(_PCA_D) for k in range(_PCA_D))
    init = ", ".join(f"{_PCA_SCALE}::BIGINT AS v{j}" for j in range(_PCA_D))

    def iter_ctes(tag: str, first: str, carry: str) -> tuple[list[str], str]:
        ctes, prev = [], first
        for t in range(_PCA_ITERS):
            w_layer = ", ".join(
                f"{expr} AS {name}"
                for name, expr in _pca_iter_exprs("v")
                if not name.startswith("n")
            )
            n_layer = ", ".join(
                f"{expr} AS v{name[1:]}"
                for name, expr in _pca_iter_exprs("v")
                if name.startswith("n")
            )
            cur = f"{tag}{t + 1}"
            ctes.append(
                f"{cur} AS (SELECT {carry}, {n_layer} FROM "
                f"(SELECT *, {w_layer} FROM {prev}))"
            )
            prev = cur
        return ctes, prev

    ctes = [
        f"feats AS (SELECT {feats} FROM lineitem)",
        f"m AS (SELECT {m_aggs} FROM feats)",
        f"ita0 AS (SELECT *, {init} FROM m)",
    ]
    phase1, prev1 = iter_ctes("ita", "ita0", m_cols)
    ctes += phase1
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
    ctes.append(f"itb0 AS (SELECT *, {init} FROM defl)")
    phase2, prev2 = iter_ctes("itb", "itb0", f"{m_cols}, {u_keep}, uvv")
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
    scan for the 16-entry matrix, then 1-row arithmetic; the eager
    1-row localCheckpoint between phases is the house codegen barrier
    (>64 KB generated methods fall back to interpreted eval).
    """
    from .registry_ml import _plan_cached

    def build() -> DataFrame:
        from .registry_round4 import (
            _PCA_D,
            _PCA_FEATURES,
            _PCA_ITERS,
            _PCA_SCALE,
            _pca_iter_exprs,
            _pca_lambda_expr,
            _pca_m_exprs,
            _pca_m_name,
        )

        from .registry_round4 import _pca_hof_loop_expr

        li = _t(spark, sf_dir, "lineitem")
        feats = li.select(
            *[F.expr(e).alias(f"x{j}") for j, e in enumerate(_PCA_FEATURES)]
        )
        # 1-row moment matrix materialized once (round 11; same model as
        # pca_top_component — warm reruns only the two iteration phases).
        it = feats.agg(
            *[F.expr(sql).cast("long").alias(name) for name, sql in _pca_m_exprs()]
        ).localCheckpoint(eager=True)

        # Both 8-round phases are ONE aggregate() HOF each (round 11;
        # _pca_hof_loop_expr — bit-identical arithmetic, tiny plan; the
        # _hof_once Generate barrier keeps each loop evaluated once); the
        # eager localCheckpoint codegen barrier between phases is gone
        # because there is no >64 KB generated method anymore.
        from .registry_ml import _hof_once

        it = _hof_once(it, "pva", _pca_hof_loop_expr(_PCA_ITERS))
        for j in range(_PCA_D):
            it = it.withColumn(f"v{j}", F.element_at("pva", j + 1))
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
        it2 = _hof_once(defl, "pvb", _pca_hof_loop_expr(_PCA_ITERS))
        for j in range(_PCA_D):
            it2 = it2.withColumn(f"v{j}", F.element_at("pvb", j + 1))
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


def _svd2_w_exprs(gpfx: str) -> list[tuple[str, str]]:
    """One mat-vec + max-norm renormalize on the 5x5 ``{gpfx}j_k`` DOUBLE
    matrix — shared SQL text (DOUBLE ops on exactly-agreed inputs are
    IEEE-identical cross-engine; v requantizes to 1e6-unit BIGINT)."""
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
    return steps


def _svd2_hof_loop_expr(rounds: int, gpfx: str) -> str:
    """All ``rounds`` mat-vec + max-norm renormalize steps as ONE
    aggregate() HOF on an array<bigint> state (round 11): per-round text
    identical to ``_svd2_w_exprs`` with v{k} -> element_at(acc, k+1) and
    w{j}/wmax inlined (deterministic subexpressions — duplication cannot
    change the value).  Bit-identical trajectory, no unrolled layers, no
    1-row localCheckpoint codegen barriers."""

    def w_text(j: int) -> str:
        return (
            "("
            + " + ".join(
                f"{gpfx}{j}_{k} * CAST(element_at(acc, {k + 1}) AS DOUBLE)"
                for k in range(_SVD2_K)
            )
            + ")"
        )

    wmax = "greatest(" + ", ".join(f"abs({w_text(j)})" for j in range(_SVD2_K)) + ")"
    steps = ", ".join(
        f"CAST(floor({w_text(j)} * {_SVD2_SCALE}.0 / {wmax}) AS BIGINT)"
        for j in range(_SVD2_K)
    )
    init = ", ".join(f"CAST({_SVD2_SCALE} AS BIGINT)" for _ in range(_SVD2_K))
    return (
        f"aggregate(sequence(1, {rounds}), array({init}),"
        f" (acc, t) -> array({steps}))"
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


def _svd2_iter_cte(tag: str, t: int, prev: str, carry: str, gpfx: str) -> str:
    w_layer = ", ".join(
        f"{expr} AS {name}"
        for name, expr in _svd2_w_exprs(gpfx)
        if not name.startswith("n")
    )
    n_layer = ", ".join(
        f"{expr} AS v{name[1:]}"
        for name, expr in _svd2_w_exprs(gpfx)
        if name.startswith("n")
    )
    return (
        f"{tag}{t} AS MATERIALIZED (SELECT {carry}, {n_layer} FROM "
        f"(SELECT *, {w_layer} FROM {prev}))"
    )


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
    init = ", ".join(f"{s}::BIGINT AS v{j}" for j in range(_SVD2_K))
    ctes = [
        """m AS MATERIALIZED (
      SELECT user_id, event_type,
             sum(floor(value*100 + 0.5)::BIGINT)::BIGINT AS cents
      FROM events GROUP BY 1, 2)""",
        f"pu AS MATERIALIZED (SELECT user_id, {piv} FROM m GROUP BY 1)",
        f"gi AS (SELECT {gagg} FROM pu)",
        f"g AS (SELECT {gd} FROM gi)",
        f"ita0 AS (SELECT *, {init} FROM g)",
    ]
    prev = "ita0"
    for t in range(1, _SVD2_P1_ROUNDS + 1):
        ctes.append(_svd2_iter_cte("ita", t, prev, gd_cols, "gd"))
        prev = f"ita{t}"
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
    dd_cols = ", ".join(
        f"dd{j}_{k}" for j in range(_SVD2_K) for k in range(_SVD2_K)
    )
    carry2 = f"{dd_cols}, {p_cols}, pvv, lam1"
    ctes.append(
        f"defl AS MATERIALIZED (SELECT {d_cols}, {p_cols}, pvv, lam1 FROM ph1b)"
    )
    ctes.append(f"itb0 AS (SELECT *, {init} FROM defl)")
    prev = "itb0"
    for t in range(1, _SVD2_P2_ROUNDS + 1):
        ctes.append(_svd2_iter_cte("itb", t, prev, carry2, "dd"))
        prev = f"itb{t}"
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
    `svd_rank1_affinity`'s alternating form).  Codegen: 56 unrolled
    rounds exceed the 64 KB method limit, so a 1-row eager
    localCheckpoint barrier lands every 8 rounds (house lesson).
    """
    from .registry_ml import _plan_cached

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
        # 1-row Gram matrix materialized once (round 11): warm collects
        # rerun only the iteration tail — the unrolled plan's every-8-rounds
        # eager barriers already gave warm exactly this scope through r10.
        it = gi.select(
            *[
                F.col(f"gi{j}_{k}").cast("double").alias(f"gd{j}_{k}")
                for j in range(_SVD2_K)
                for k in range(_SVD2_K)
            ]
        ).localCheckpoint(eager=True)
        # Both iteration phases are ONE aggregate() HOF each (round 11;
        # _svd2_hof_loop_expr): bit-identical arithmetic, no unrolled
        # layers, no eager localCheckpoint barrier jobs.  _hof_once's
        # Generate barrier keeps each loop evaluated once per row.
        from .registry_ml import _hof_once

        it = _hof_once(it, "pva", _svd2_hof_loop_expr(_SVD2_P1_ROUNDS, "gd"))
        for j in range(_SVD2_K):
            it = it.withColumn(f"v{j}", F.element_at("pva", j + 1))
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
        it = _hof_once(it, "pvb", _svd2_hof_loop_expr(_SVD2_P2_ROUNDS, "dd"))
        for j in range(_SVD2_K):
            it = it.withColumn(f"v{j}", F.element_at("pvb", j + 1))
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
