"""Feature-engineering / interval-analytics operators: the preprocessing
steps an ML training pipeline runs between raw tables and model fits, each
a declarative Spark plan with a bit-exact DuckDB oracle.

- ``session_overlap_pairs``   — interval×interval overlap join between user
                                sessions (grid-bucketed equi-join — the
                                missing sibling of the point-in-interval
                                `operators/rangejoin.py`; r11: top-20-aware
                                length-threshold prune + emit-once cell
                                rule, see the query docstring).
- ``feature_mutual_information`` — MI(feature; label) per candidate
                                feature, the standard filter-method feature
                                selector, in exact micro-nat integers.
- ``target_encoding_oof``     — out-of-fold target (mean) encoding with
                                md5 folds: the leakage-protected
                                categorical encoder.

House invariants as everywhere: md5-derived folds, integer-cents sums,
micro-nat ln quantization per INTEGER input, one round4 per emitted float,
id-column tie-breaks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import register
from .functions.scalar import round4
from .registry_dedup import (
    NUM_HASHES,
    _SQL_AGREE,
    _SQL_BAND_KEYS,
    _SQL_CAND,
    _SQL_SHINGLES,
    _SQL_SIG,
    _shared_verified_pairs,
)
from .registry_ml import (
    _MK_ITERS,
    _MK_K,
    _MK_SCALE,
    _MK_TYPES,
    _hof_once,
    _mk_np_hof_expr,
    _mk_step_exprs,
    _plan_cached,
)
from .registry_text import _SQL_ND, _SQL_NT, _SQL_QUALITY, _SQL_SR, _shared_doc_features
from .sources.tables import load_table as _t


_GAP_US = 600_000_000        # 10-minute session gap (the house rule)
_GRID_US = 3_600_000_000     # 1-hour overlap-join bucket


@register(
    "session_overlap_pairs",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS ts_us FROM events),
    l AS (
      SELECT user_id, ts_us,
             CASE WHEN lag(ts_us) OVER w IS NULL
                       OR ts_us - lag(ts_us) OVER w > {_GAP_US}
                  THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us)),
    s AS (
      SELECT user_id, ts_us,
             sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS sess
      FROM l),
    sess AS (
      SELECT user_id, sess::BIGINT AS sess_idx,
             min(ts_us)::BIGINT AS s_us, max(ts_us)::BIGINT AS e_us
      FROM s GROUP BY 1, 2),
    pairs AS (
      SELECT a.user_id AS user_a, a.sess_idx AS sess_a,
             b.user_id AS user_b, b.sess_idx AS sess_b,
             (least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us))::BIGINT
               AS overlap_us
      FROM sess a JOIN sess b
        ON a.user_id < b.user_id
       AND a.s_us < b.e_us AND b.s_us < a.e_us),
    top AS (
      SELECT *, row_number() OVER (ORDER BY overlap_us DESC, user_a, sess_a,
                                            user_b, sess_b) AS rank_id
      FROM pairs WHERE overlap_us > 0)
    SELECT rank_id::BIGINT AS rank_id, user_a, sess_a, user_b, sess_b,
           overlap_us
    FROM top WHERE rank_id <= 20 ORDER BY rank_id
    """,
)
def q_session_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval×interval overlap join: the 20 most-overlapping pairs of
    concurrent sessions from DIFFERENT users — who was active together
    (co-browsing detection, load attribution, contention analysis).  The
    sibling of the point-in-interval range join: both ends are intervals.

    Plan: sessions from the house 10-minute gaps-and-islands rule, then
    each surviving session explodes to the 1-hour grid cells it touches
    and pairs form by EQUI-join on the cell (+ user_a < user_b to
    orient) — never a cartesian, never an inequality-only join.

    Round 11 (VERDICT r10 "what's wrong" #1 — density robustness).  Two
    result-preserving prunes bound pair work by what the TOP-20 can
    actually contain, not by cell population²:

    1. LENGTH THRESHOLD.  overlap(a, b) = least(e) − greatest(s) ≤
       min(len_a, len_b), so every pair in the global top-20 has both
       session lengths ≥ the true 20th-largest overlap.  A lower bound T
       for that value comes cheaply from the 256 LONGEST sessions: their
       pairwise overlaps are 20 valid pairs (when ≥ 20 exist; else
       T = 0 and the prune is a no-op), whose 20th value can only
       UNDERSHOOT the true 20th.  Filtering sessions to len ≥ T before
       the explode is therefore lossless, and on corpora where co-active
       density grows (the superlinear regime this rebuild targets) the
       top overlaps grow too, so T prunes harder exactly when density²
       would otherwise explode.  Adversarial bound, stated honestly: a
       cell packed with equal-length heavily-overlapping sessions defeats
       any length prune — but there the TRUE overlap count is itself
       quadratic, i.e. candidate mass tracks genuine output, which is the
       bound VERDICT r10 asked for (session_dense_probe_r11.json
       records this: runtime tracks survivor mass, not raw session count).

    2. EMIT-ONCE CELL.  A pair overlapping strictly shares the cell of
       greatest(s_a, s_b): that instant lies in BOTH intervals (it is the
       overlap's left edge and overlap > 0), so both sessions explode
       into its cell, and each session appears once per cell → the join
       emits the pair in that cell exactly once.  Keeping only
       cell == floor(greatest(sa, sb) / grid) replaces the r10
       `.distinct()` — the full pair set never shuffles or accumulates
       state; candidates stream through the filters straight into
       TakeOrdered's 20-row heap.

    The DuckDB oracle uses its native inequality join (IEJoin) on the raw
    overlap predicate — a completely different join strategy, so agreement
    checks both prunes are lossless.  Exactness: all integer microseconds;
    top-20 tie-breaks on the id quadruple; the threshold comparison is
    len ≥ T (ties at exactly T stay in).  Zero-length sessions are pruned
    first as in r10 (overlap ≤ min length ≤ 0).  The session table gains
    a second consumer (threshold + explode), so it is checkpointed
    eagerly — DISK_ONLY per the corpus-sized-checkpoint house rule.
    """
    from pyspark import StorageLevel

    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("ts_ns DIV 1000").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us")
    brk = ev.withColumn(
        "brk",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(w)) > _GAP_US),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = (
        brk.withColumn(
            "sess",
            F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("user_id", F.col("sess").cast("long").alias("sess_idx"))
        .agg(
            F.min("ts_us").cast("long").alias("s_us"),
            F.max("ts_us").cast("long").alias("e_us"),
        )
    )
    nonzero = (
        sess.filter(F.col("e_us") > F.col("s_us"))
        .withColumn("len_us", F.col("e_us") - F.col("s_us"))
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    # Threshold phase: pairwise overlaps among the 256 longest sessions
    # (deterministic tie-break), 20th largest → T; < 20 valid pairs → 0.
    top_s = nonzero.orderBy(
        F.desc("len_us"), "user_id", "sess_idx"
    ).limit(256)
    ta = top_s.select(
        F.col("user_id").alias("user_a"),
        F.col("s_us").alias("sa"),
        F.col("e_us").alias("ea"),
    )
    tb = top_s.select(
        F.col("user_id").alias("user_b"),
        F.col("s_us").alias("sb"),
        F.col("e_us").alias("eb"),
    )
    t20 = (
        ta.crossJoin(F.broadcast(tb))
        .filter(F.col("user_a") < F.col("user_b"))
        .select(
            (
                F.least(F.col("ea"), F.col("eb"))
                - F.greatest(F.col("sa"), F.col("sb"))
            ).alias("ov")
        )
        .filter(F.col("ov") > 0)
        .orderBy(F.desc("ov"))
        .limit(20)
        .agg(F.count("ov").alias("c"), F.min("ov").alias("m"))
        .select(
            F.when(F.col("c") == 20, F.col("m"))
            .otherwise(F.lit(0))
            .cast("long")
            .alias("t_min")
        )
    )
    cells = (
        nonzero.crossJoin(F.broadcast(t20))
        .filter(F.col("len_us") >= F.col("t_min"))
        .withColumn(
            "cell",
            F.explode(
                F.sequence(
                    (F.col("s_us") / _GRID_US).cast("long"),
                    (F.col("e_us") / _GRID_US).cast("long"),
                )
            ),
        )
    )
    a = cells.select(
        F.col("user_id").alias("user_a"),
        F.col("sess_idx").alias("sess_a"),
        F.col("s_us").alias("sa"),
        F.col("e_us").alias("ea"),
        "cell",
    )
    b = cells.select(
        F.col("user_id").alias("user_b"),
        F.col("sess_idx").alias("sess_b"),
        F.col("s_us").alias("sb"),
        F.col("e_us").alias("eb"),
        "cell",
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("user_a") < F.col("user_b"))
        .filter((F.col("sa") < F.col("eb")) & (F.col("sb") < F.col("ea")))
        .filter(
            F.col("cell")
            == (F.greatest(F.col("sa"), F.col("sb")) / _GRID_US).cast("long")
        )
        .withColumn(
            "overlap_us",
            (
                F.least(F.col("ea"), F.col("eb"))
                - F.greatest(F.col("sa"), F.col("sb"))
            ).cast("long"),
        )
        .filter(F.col("overlap_us") > 0)
        .select("user_a", "sess_a", "user_b", "sess_b", "overlap_us")
    )
    top20 = pairs.orderBy(
        F.desc("overlap_us"), "user_a", "sess_a", "user_b", "sess_b"
    ).limit(20)
    return (
        top20.withColumn(
            "rank_id",
            F.row_number().over(
                Window.orderBy(
                    F.desc("overlap_us"), "user_a", "sess_a", "user_b", "sess_b"
                )
            ),
        )
        .select(
            F.col("rank_id").cast("long").alias("rank_id"),
            "user_a",
            "sess_a",
            "user_b",
            "sess_b",
            "overlap_us",
        )
        .orderBy("rank_id")
    )


_MI_FEATURES = [
    ("quantity", "CAST(floor(l_quantity + 0.5) AS BIGINT)"),
    ("discount_pct", "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)"),
    ("tax_pct", "CAST(floor(l_tax * 100 + 0.5) AS BIGINT)"),
]


def _mi_oracle() -> str:
    branches = "\n      UNION ALL ".join(
        f"SELECT '{name}' AS feature, {expr} AS val, l_returnflag AS label"
        f" FROM lineitem"
        for name, expr in _MI_FEATURES
    )
    return f"""
    WITH base AS ({branches}),
    cells AS (
      SELECT feature, val, label, count(*)::BIGINT AS c
      FROM base GROUP BY 1, 2, 3),
    vm AS (SELECT feature, val, sum(c)::BIGINT AS cv FROM cells GROUP BY 1, 2),
    lm AS (SELECT feature, label, sum(c)::BIGINT AS cl FROM cells GROUP BY 1, 2),
    nn AS (SELECT feature, sum(c)::BIGINT AS n FROM cells GROUP BY 1),
    terms AS (
      SELECT cells.feature,
             cells.c * (floor(ln(cells.c)*1000000 + 0.5)::BIGINT
                        + floor(ln(nn.n)*1000000 + 0.5)::BIGINT
                        - floor(ln(vm.cv)*1000000 + 0.5)::BIGINT
                        - floor(ln(lm.cl)*1000000 + 0.5)::BIGINT) AS t,
             nn.n
      FROM cells
      JOIN vm ON vm.feature = cells.feature AND vm.val = cells.val
      JOIN lm ON lm.feature = cells.feature AND lm.label = cells.label
      JOIN nn ON nn.feature = cells.feature)
    SELECT feature,
           (SELECT count(*) FROM vm v WHERE v.feature = terms.feature)::BIGINT
             AS n_vals,
           floor(((CAST(sum(t)::HUGEINT AS DOUBLE) / 1000000.0)
                  / CAST(any_value(n) AS DOUBLE)) * 10000 + 0.5)
             / 10000.0 AS mi_nats
    FROM terms GROUP BY feature ORDER BY feature
    """


@register("feature_mutual_information", oracle=_mi_oracle())
def q_feature_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual information I(feature; label) for each candidate feature
    against the 3-class return flag — the classic filter-method feature
    selector (rank features before training touches them).

    Exactness: MI decomposes as Σ c·(ln c + ln N − ln cv − ln cl)/N with
    every log taken of an INTEGER count and micro-nat-quantized ONCE
    (`unigram_logprob`'s recipe), so the Σ is an exact BIGINT inner
    product and the only float is the final scale.

    Scale: one exploded scan folds to (feature, value, label) cells
    (≤ Σ|domain|·|classes| ≈ 500 rows) with map-side combine; marginals
    and the fold run on the cell table.  Same histogram-sufficiency
    argument as `decision_stump_returns` — MI needs counts, never rows.
    """
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("feature"), F.expr(expr).alias("val")
                    )
                    for name, expr in _MI_FEATURES
                ]
            )
        ).alias("fv"),
        F.col("l_returnflag").alias("label"),
    ).select("fv.feature", "fv.val", "label")
    # the ≤500-row cell table fans out to three marginals + the MI fold —
    # checkpoint it or each consumer replays the exploded lineitem scan
    # (plan audit showed x5)
    cells = (
        base.groupBy("feature", "val", "label")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .localCheckpoint(eager=True)
    )
    vm = cells.groupBy("feature", "val").agg(F.sum("c").cast("long").alias("cv"))
    lm = cells.groupBy("feature", "label").agg(F.sum("c").cast("long").alias("cl"))
    nn = cells.groupBy("feature").agg(F.sum("c").cast("long").alias("n"))
    nv = vm.groupBy("feature").agg(F.count(F.lit(1)).cast("long").alias("n_vals"))

    def micro(col):
        return F.floor(F.log(col.cast("double")) * 1000000 + 0.5).cast("long")

    terms = (
        cells.join(vm, ["feature", "val"])
        .join(lm, ["feature", "label"])
        .join(F.broadcast(nn), "feature")
        .select(
            "feature",
            (
                F.col("c")
                * (
                    micro(F.col("c"))
                    + micro(F.col("n"))
                    - micro(F.col("cv"))
                    - micro(F.col("cl"))
                )
            ).alias("t"),
            "n",
        )
    )
    return (
        terms.groupBy("feature")
        .agg(
            # c·ln-term products pass int64 near 1e11 rows — wide accumulator
            F.sum(F.col("t").cast("decimal(38,0)")).cast("decimal(38,0)").alias("st"),
            F.first("n").alias("n"),
        )
        .join(F.broadcast(nv), "feature")
        .select(
            "feature",
            "n_vals",
            round4(
                (F.col("st").cast("double") / 1000000.0) / F.col("n").cast("double")
            ).alias("mi_nats"),
        )
        .orderBy("feature")
    )


@register(
    "target_encoding_oof",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS category,
             ('0x' || substr(md5('fold' || CAST(o_orderkey AS VARCHAR)), 1, 8))
               ::BIGINT % 5 AS fold,
             floor(o_totalprice*100 + 0.5)::BIGINT AS cents
      FROM orders),
    cf AS (
      SELECT category, fold, count(*)::BIGINT AS n_cf, sum(cents)::BIGINT AS s_cf
      FROM base GROUP BY 1, 2),
    c AS (
      SELECT category, sum(n_cf)::BIGINT AS n_c, sum(s_cf)::BIGINT AS s_c
      FROM cf GROUP BY 1)
    SELECT cf.category, cf.fold, cf.n_cf AS n_in_fold,
           floor((((c.s_c - cf.s_cf) / 100.0) / (c.n_c - cf.n_cf)) * 10000 + 0.5)
             / 10000.0 AS encoded_value
    FROM cf JOIN c ON c.category = cf.category
    ORDER BY cf.category, cf.fold
    """,
)
def q_target_encoding_oof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-fold target encoding of order priority against order value:
    for each (category, md5-fold), the mean target over all OTHER folds —
    the leakage-protected categorical encoder (a row is never encoded with
    statistics that include itself).

    Exactness: the OOF mean is the exact integer rational
    ``(s_c − s_cf)/(n_c − n_cf)`` — complement sums by subtraction, no
    second pass — floated once.  Folds are the house md5 bucketing.

    Scale: ONE partial-agg'd scan to |categories|×5 cells; category totals
    come from re-aggregating the cells, so the encoder costs one shuffle
    of cell rows regardless of corpus size.  The emitted table IS the
    join-able encoder artifact (broadcast it onto the training set).
    """
    od = _t(spark, sf_dir, "orders")
    base = od.select(
        F.col("o_orderpriority").alias("category"),
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("fold"), F.col("o_orderkey").cast("string"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % 5
        ).alias("fold"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    cf = base.groupBy("category", "fold").agg(
        F.count(F.lit(1)).cast("long").alias("n_cf"),
        F.sum("cents").cast("long").alias("s_cf"),
    )
    c = cf.groupBy("category").agg(
        F.sum("n_cf").cast("long").alias("n_c"),
        F.sum("s_cf").cast("long").alias("s_c"),
    )
    return (
        cf.join(F.broadcast(c), "category")
        .select(
            "category",
            "fold",
            F.col("n_cf").alias("n_in_fold"),
            round4(
                ((F.col("s_c") - F.col("s_cf")).cast("double") / 100.0)
                / (F.col("n_c") - F.col("n_cf")).cast("double")
            ).alias("encoded_value"),
        )
        .orderBy("category", "fold")
    )


# ---------------------------------------------------------------------------
# Markov-chain attribution: removal effects on the session journey chain.
# ---------------------------------------------------------------------------
_MA_STATES = ["click", "error", "signup", "view"]   # transient channels
_MA_ROUNDS = 16                                      # fixed absorption horizon
_MA_SCALE = 1_000_000


def _ma_src_cols() -> list[str]:
    return ["start"] + _MA_STATES


def _ma_count_aggs() -> str:
    """SQL aggregates over the (src, dst) transition rows — shared text."""
    parts = []
    for s in _ma_src_cols():
        for t in _MA_STATES + ["conv"]:
            parts.append(
                f"sum(CASE WHEN src = '{s}' AND dst = '{t}' THEN 1 ELSE 0 END)"
                f"::BIGINT AS c_{s}_{t}"
            )
        parts.append(
            f"sum(CASE WHEN src = '{s}' THEN 1 ELSE 0 END)::BIGINT AS r_{s}"
        )
    return ", ".join(parts)


def _ma_step(v: str, excluded: str | None) -> list[tuple[str, str]]:
    """One absorption round for variant ``v`` (channel ``excluded`` removed:
    its state is unreachable and transitions into it leak to null)."""
    outs = []
    for x in _MA_STATES:
        if x == excluded:
            continue
        terms = [f"c_{x}_conv * {_MA_SCALE}"]
        for y in _MA_STATES:
            if y == excluded:
                continue
            terms.append(f"c_{x}_{y} * p_{v}_{y}")
        num = " + ".join(terms)
        outs.append(
            (
                f"np_{v}_{x}",
                f"(CASE WHEN r_{x} = 0 THEN 0 ELSE "
                f"CAST(floor(CAST({num} AS DOUBLE) / CAST(r_{x} AS DOUBLE))"
                f" AS BIGINT) END)",
            )
        )
    return outs


def _ma_start(v: str, excluded: str | None) -> str:
    terms = [f"c_start_conv * {_MA_SCALE}"]
    for y in _MA_STATES:
        if y == excluded:
            continue
        terms.append(f"c_start_{y} * p_{v}_{y}")
    num = " + ".join(terms)
    return (
        f"(CASE WHEN r_start = 0 THEN 0 ELSE "
        f"CAST(floor(CAST({num} AS DOUBLE) / CAST(r_start AS DOUBLE))"
        f" AS BIGINT) END)"
    )


_MA_VARIANTS = [("full", None)] + [(f"wo_{s}", s) for s in _MA_STATES]


def _ma_np_hof_expr(v: str, excluded: str | None, x: str, acc: str) -> str:
    """One variant-``v`` absorption update for state ``x`` with the state
    vector read from an array lambda variable — the HOF-loop form of
    ``_ma_step``'s text (p_{v}_{y} -> element_at(acc, idx)).  Same term
    order, same integer numerator, same floor-divide — bit-identical."""
    xs = [s for s in _MA_STATES if s != excluded]
    terms = [f"c_{x}_conv * {_MA_SCALE}"]
    for y in _MA_STATES:
        if y == excluded:
            continue
        terms.append(f"c_{x}_{y} * element_at({acc}, {xs.index(y) + 1})")
    num = " + ".join(terms)
    return (
        f"(CASE WHEN r_{x} = 0 THEN 0 ELSE "
        f"CAST(floor(CAST({num} AS DOUBLE) / CAST(r_{x} AS DOUBLE))"
        f" AS BIGINT) END)"
    )


def _ma_oracle() -> str:
    ctes = [
        """e AS MATERIALIZED (
      SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, event_type
      FROM events)""",
        f"""l AS (
      SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                          OR ts_us - lag(ts_us) OVER w > {_GAP_US}
                     THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id))""",
        """s AS MATERIALIZED (
      SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS sess
      FROM l)""",
        """k AS MATERIALIZED (
      SELECT * FROM (
        SELECT user_id, sess, ts_us, event_id, event_type,
               COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id, sess ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cp,
               row_number() OVER (PARTITION BY user_id, sess
                                  ORDER BY ts_us, event_id) AS rn
        FROM s)
      WHERE cp = 0)""",
        """tr AS MATERIALIZED (
      SELECT src, dst FROM (
        SELECT CASE WHEN event_type = 'purchase' THEN NULL ELSE event_type END
                 AS src,
               COALESCE(CASE WHEN lead(event_type) OVER w2 = 'purchase'
                             THEN 'conv'
                             ELSE lead(event_type) OVER w2 END, 'null') AS dst
        FROM k WINDOW w2 AS (PARTITION BY user_id, sess
                             ORDER BY ts_us, event_id)
        ) WHERE src IS NOT NULL
      UNION ALL
      SELECT 'start' AS src,
             CASE WHEN event_type = 'purchase' THEN 'conv' ELSE event_type END
               AS dst
      FROM k WHERE rn = 1)""",
        f"c AS MATERIALIZED (SELECT {_ma_count_aggs()} FROM tr)",
    ]
    init = ", ".join(
        f"0::BIGINT AS p_{v}_{x}"
        for v, exc in _MA_VARIANTS
        for x in _MA_STATES
        if x != exc
    )
    ctes.append(f"it0 AS (SELECT *, {init} FROM c)")
    prev = "it0"
    count_cols = []
    for s in _ma_src_cols():
        for t in _MA_STATES + ["conv"]:
            count_cols.append(f"c_{s}_{t}")
        count_cols.append(f"r_{s}")
    keep = ", ".join(count_cols)  # counts carried through every round
    for t in range(_MA_ROUNDS):
        layer = []
        for v, exc in _MA_VARIANTS:
            for name, sql in _ma_step(v, exc):
                layer.append(f"{sql} AS {name[1:]}")  # np_v_x -> p_v_x
        ctes.append(f"it{t + 1} AS (SELECT {keep}, {', '.join(layer)} FROM {prev})")
        prev = f"it{t + 1}"
    starts = ", ".join(
        f"{_ma_start(v, exc)} AS ps_{v}" for v, exc in _MA_VARIANTS
    )
    ctes.append(f"fin AS (SELECT *, {starts} FROM {prev})")
    eff = " + ".join(f"(ps_full - ps_wo_{s})" for s in _MA_STATES)
    sel = "\n      UNION ALL ".join(
        f"SELECT '{s}' AS channel,"
        f" floor((CAST(ps_full AS DOUBLE) / {_MA_SCALE}.0) * 10000 + 0.5)"
        f" / 10000.0 AS conv_prob,"
        f" floor((CAST(ps_wo_{s} AS DOUBLE) / {_MA_SCALE}.0) * 10000 + 0.5)"
        f" / 10000.0 AS conv_prob_without,"
        f" floor((CASE WHEN ps_full = 0 THEN 0.0"
        f"   ELSE 1.0 - CAST(ps_wo_{s} AS DOUBLE) / CAST(ps_full AS DOUBLE) END)"
        f"   * 10000 + 0.5) / 10000.0 AS removal_effect,"
        f" floor((CASE WHEN ({eff}) = 0 THEN 0.0"
        f"   ELSE CAST(ps_full - ps_wo_{s} AS DOUBLE) / CAST({eff} AS DOUBLE) END)"
        f"   * 10000 + 0.5) / 10000.0 AS attribution FROM fin"
        for s in _MA_STATES
    )
    cte_block = ",\n    ".join(ctes)
    return f"""
    WITH {cte_block}
    {sel}
    ORDER BY channel
    """


@register("markov_attribution", oracle=_ma_oracle())
def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov-chain (removal-effect) attribution over sessionized user
    journeys: sessions truncate at the first purchase (absorbing CONV;
    session end absorbs to NULL), and each channel's credit is the drop in
    16-step conversion probability when that channel is removed from the
    chain — the standard data-driven alternative to last-touch rules.

    Exactness: transition counts are integers; each absorption round is a
    floor-quantized micro-integer update (numerators < 2^53, so the
    portable double floor-divide is exact); the fixed 16-round horizon is
    part of the metric's definition (truncated-horizon absorption — both
    engines run the same generated text).  Removal = the channel's state
    becomes unreachable and inbound mass leaks to NULL.

    Scale: one sessionization window (the engine's standard exchange) +
    a partial-agg'd fold to a 30-cell count frame; all five chain
    variants (full + 4 removals) iterate on that 1-row frame — corpus-
    size-free.  The plan compiles ~300 generated columns, so it is served
    from the prepared-statement cache like the other unrolled iterations.
    """
    return _plan_cached(
        "markov_attribution", spark, sf_dir, lambda: _ma_plan(spark, sf_dir)
    )


def _ma_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("ts_ns DIV 1000").alias("ts_us"), "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    brk = ev.withColumn(
        "brk",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(w)) > _GAP_US),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = brk.withColumn(
        "sess", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    ws = Window.partitionBy("user_id", "sess").orderBy("ts_us", "event_id")
    kept = (
        sess.withColumn(
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
    ws2 = Window.partitionBy("user_id", "sess").orderBy("ts_us", "event_id")
    steps = (
        kept.withColumn("nxt", F.lead("event_type").over(ws2))
        .filter(F.col("event_type") != "purchase")
        .select(
            F.col("event_type").alias("src"),
            F.coalesce(
                F.when(F.col("nxt") == "purchase", F.lit("conv")).otherwise(
                    F.col("nxt")
                ),
                F.lit("null"),
            ).alias("dst"),
        )
    )
    starts = kept.filter(F.col("rn") == 1).select(
        F.lit("start").alias("src"),
        F.when(F.col("event_type") == "purchase", F.lit("conv"))
        .otherwise(F.col("event_type"))
        .alias("dst"),
    )
    tr = steps.unionByName(starts)
    # count aggregates from the same (src, dst) semantics as the oracle text
    agg_exprs = []
    for s in _ma_src_cols():
        for t_ in _MA_STATES + ["conv"]:
            agg_exprs.append(
                F.expr(
                    f"sum(CASE WHEN src = '{s}' AND dst = '{t_}' THEN 1 ELSE 0 END)"
                )
                .cast("long")
                .alias(f"c_{s}_{t_}")
            )
        agg_exprs.append(
            F.expr(f"sum(CASE WHEN src = '{s}' THEN 1 ELSE 0 END)")
            .cast("long")
            .alias(f"r_{s}")
        )
    # 1-row count frame materialized once (round 11; see _markov_plan) —
    # warm collects rerun only the five HOF variants, as the unrolled
    # plan's every-4-rounds barriers already made them do through r10.
    it = tr.agg(*agg_exprs).localCheckpoint(eager=True)
    # All five chain variants iterate as one aggregate() HOF each over
    # sequence(1, ROUNDS) on an array<bigint> state (round 11): the
    # unrolled form compiled ~300 generated columns + 4 localCheckpoint
    # barriers (~6.8 s build per fresh plan); the HOF form is five small
    # expressions with the same per-round text (_ma_np_hof_expr), so the
    # arithmetic — and therefore the result — is unchanged.
    for v, exc in _MA_VARIANTS:
        xs = [x for x in _MA_STATES if x != exc]
        init = ", ".join("CAST(0 AS BIGINT)" for _ in xs)
        steps = ", ".join(_ma_np_hof_expr(v, exc, x, "acc") for x in xs)
        it = _hof_once(
            it,
            f"pv_{v}",
            f"aggregate(sequence(1, {_MA_ROUNDS}), array({init}),"
            f" (acc, t) -> array({steps}))",
        )
        for x in xs:
            it = it.withColumn(f"p_{v}_{x}", F.element_at(f"pv_{v}", xs.index(x) + 1))
    for v, exc in _MA_VARIANTS:
        it = it.withColumn(f"ps_{v}", F.expr(_ma_start(v, exc)))
    eff = " + ".join(f"(ps_full - ps_wo_{s})" for s in _MA_STATES)
    rows = it.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(s).alias("channel"),
                        round4(
                            F.col("ps_full").cast("double") / float(_MA_SCALE)
                        ).alias("conv_prob"),
                        round4(
                            F.col(f"ps_wo_{s}").cast("double") / float(_MA_SCALE)
                        ).alias("conv_prob_without"),
                        round4(
                            F.expr(
                                f"CASE WHEN ps_full = 0 THEN 0.0 ELSE "
                                f"1.0 - CAST(ps_wo_{s} AS DOUBLE)"
                                f" / CAST(ps_full AS DOUBLE) END"
                            )
                        ).alias("removal_effect"),
                        round4(
                            F.expr(
                                f"CASE WHEN ({eff}) = 0 THEN 0.0 ELSE "
                                f"CAST(ps_full - ps_wo_{s} AS DOUBLE)"
                                f" / CAST({eff} AS DOUBLE) END"
                            )
                        ).alias("attribution"),
                    )
                    for s in _MA_STATES
                ]
            )
        ).alias("o")
    )
    return rows.select(
        "o.channel",
        "o.conv_prob",
        "o.conv_prob_without",
        "o.removal_effect",
        "o.attribution",
    ).orderBy("channel")


# ---------------------------------------------------------------------------
# Robust per-group outliers: median / MAD / scaled-integer outlier rule.
# ---------------------------------------------------------------------------
@register(
    "robust_mad_outliers",
    oracle="""
    WITH base AS (
      SELECT event_type, floor(value*100 + 0.5)::BIGINT AS cents FROM events),
    med AS (
      SELECT event_type, cents AS med_cents FROM (
        SELECT event_type, cents,
               row_number() OVER (PARTITION BY event_type ORDER BY cents) AS rk,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM base)
      WHERE rk = (n + 1) // 2),
    dev AS (
      SELECT b.event_type, b.cents, abs(b.cents - m.med_cents)::BIGINT AS d,
             m.med_cents
      FROM base b JOIN med m ON m.event_type = b.event_type),
    mad AS (
      SELECT event_type, d AS mad_cents FROM (
        SELECT event_type, d,
               row_number() OVER (PARTITION BY event_type ORDER BY d, cents) AS rk,
               count(*) OVER (PARTITION BY event_type) AS n
        FROM dev)
      WHERE rk = (n + 1) // 2)
    SELECT d.event_type,
           count(*)::BIGINT AS n_events,
           floor((any_value(d.med_cents) / 100.0) * 10000 + 0.5) / 10000.0
             AS median_value,
           floor((any_value(ma.mad_cents) / 100.0) * 10000 + 0.5) / 10000.0
             AS mad_value,
           sum(CASE WHEN d.d * 10000 > 44478 * ma.mad_cents
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
    FROM dev d JOIN mad ma ON ma.event_type = d.event_type
    GROUP BY d.event_type ORDER BY d.event_type
    """,
)
def q_robust_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outlier detection: median and MAD of event value,
    flagging |x − med| > 3·1.4826·MAD — the estimator `quality_zscore_by
    _lang`'s mean/std version breaks on (outliers drag the mean; here the
    breakdown point is 50%).

    Exactness: median and MAD are INTEGER cents picked by lower-median
    rank (ties inside the rank window broken by value); the outlier rule
    compares the exact integers ``10000·|x−med| > 44478·MAD`` (3·1.4826 =
    4.4478 scaled to 10⁴ — no float ever enters the decision).

    Scale: BOTH rank statistics run on the checkpointed (type, value)
    HISTOGRAM — cells bounded by the value domain, not the row count —
    with cumulative-count rank selection exactly like the trimmed/
    winsorized means.  No per-row rank, no second corpus pass: the
    earlier global_order_stats route lineage-replayed the events scan
    dozens of times (plan_audit measured 50); the histogram route scans
    once, and the deviation median is a re-aggregation of the SAME
    cells (|c − med| merges value cells, counts add — exact).
    """
    ev = _t(spark, sf_dir, "events")
    hist = (
        ev.select(
            "event_type",
            F.floor(F.col("value") * 100 + 0.5).cast("long").alias("cents"),
        )
        .groupBy("event_type", "cents")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .localCheckpoint(eager=True)
    )

    def hist_median(df, val_col):
        w = (
            Window.partitionBy("event_type")
            .orderBy(val_col)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        wt = Window.partitionBy("event_type")
        cum = df.select(
            "event_type",
            F.col(val_col),
            F.sum("cnt").over(w).cast("long").alias("__cum"),
            F.sum("cnt").over(wt).cast("long").alias("__n"),
        )
        return cum.groupBy("event_type").agg(
            F.min(
                F.when(
                    F.col("__cum") >= F.expr("(__n + 1) DIV 2"), F.col(val_col)
                )
            )
            .cast("long")
            .alias("med")
        )

    med = hist_median(hist, "cents").withColumnRenamed("med", "med_cents")
    devh = (
        hist.join(F.broadcast(med), "event_type")
        .select(
            "event_type",
            F.abs(F.col("cents") - F.col("med_cents")).cast("long").alias("d"),
            "cnt",
            "med_cents",
        )
        .groupBy("event_type", "d", "med_cents")
        .agg(F.sum("cnt").cast("long").alias("cnt"))
    )
    mad = hist_median(devh.select("event_type", "d", "cnt"), "d").withColumnRenamed(
        "med", "mad_cents"
    )
    out = (
        devh.join(F.broadcast(mad), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum("cnt").cast("long").alias("n_events"),
            F.first("med_cents").alias("_med"),
            F.first("mad_cents").alias("_mad"),
            F.sum(
                F.when(
                    F.col("d") * 10000 > 44478 * F.col("mad_cents"), F.col("cnt")
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers"),
        )
    )
    return out.select(
        "event_type",
        "n_events",
        round4(F.col("_med") / 100.0).alias("median_value"),
        round4(F.col("_mad") / 100.0).alias("mad_value"),
        "n_outliers",
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# NEAREST as-of join: each purchase matched to the temporally closest click.
# ---------------------------------------------------------------------------
@register(
    "purchase_nearest_click",
    oracle="""
    WITH e AS (
      SELECT event_id, user_id, epoch_ns(ts) // 1000 AS ts_us, event_type
      FROM events),
    p AS (SELECT event_id, user_id, ts_us FROM e WHERE event_type = 'purchase'),
    c0 AS (SELECT user_id, ts_us,
                  row_number() OVER (PARTITION BY user_id, ts_us
                                     ORDER BY event_id DESC) AS rn
           FROM e WHERE event_type = 'click'),
    c AS (SELECT user_id, ts_us FROM c0 WHERE rn = 1),
    b AS (
      SELECT p.event_id, c.ts_us AS b_ts
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts_us >= c.ts_us),
    f AS (
      SELECT p.event_id, c.ts_us AS f_ts
      FROM p ASOF LEFT JOIN c
        ON p.user_id = c.user_id AND p.ts_us <= c.ts_us)
    SELECT p.event_id, p.user_id, p.ts_us,
           CASE
             WHEN b.b_ts IS NULL AND f.f_ts IS NULL THEN -1
             WHEN f.f_ts IS NULL THEN b.b_ts
             WHEN b.b_ts IS NULL THEN f.f_ts
             WHEN p.ts_us - b.b_ts <= f.f_ts - p.ts_us THEN b.b_ts
             ELSE f.f_ts
           END AS nearest_click_ts_us,
           CASE
             WHEN b.b_ts IS NULL AND f.f_ts IS NULL THEN -1
             WHEN f.f_ts IS NULL THEN p.ts_us - b.b_ts
             WHEN b.b_ts IS NULL THEN f.f_ts - p.ts_us
             WHEN p.ts_us - b.b_ts <= f.f_ts - p.ts_us THEN p.ts_us - b.b_ts
             ELSE f.f_ts - p.ts_us
           END AS delta_us,
           CASE
             WHEN b.b_ts IS NULL AND f.f_ts IS NULL THEN 'none'
             WHEN f.f_ts IS NULL THEN 'back'
             WHEN b.b_ts IS NULL THEN 'fwd'
             WHEN p.ts_us - b.b_ts <= f.f_ts - p.ts_us THEN 'back'
             ELSE 'fwd'
           END AS direction
    FROM p
    JOIN b ON b.event_id = p.event_id
    JOIN f ON f.event_id = p.event_id
    ORDER BY p.event_id
    """,
)
def q_purchase_nearest_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-neighbor as-of join: each purchase gets the temporally
    CLOSEST click (either direction, ties to the earlier/backward side) —
    the third as-of flavor after backward (`purchase_asof_click`) and
    forward (`click_asof_next_purchase`), composed from both: one
    backward and one forward merge, then an integer Δ comparison.  The
    standard sensor-alignment / attribution-window primitive.

    Exactness: all integer microseconds; the backward/forward legs reuse
    the union+window merges (right side deduped to one row per (user,
    ts)); sentinels -1/'none' keep outputs NULL-free.

    Scale: two as-of merges = two (user-keyed) exchanges over narrow
    rows, then a hash self-join on event_id — no new shuffle shape; the
    oracle composes DuckDB's native ASOF joins the same way.
    """
    from .operators.asof import asof_join_backward, asof_join_forward

    ev = _t(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.expr("ts_ns DIV 1000").alias("ts_us"),
        "event_type",
    )
    # `p` feeds both as-of legs plus the final join and `c` feeds both
    # legs — without lineage cuts the events scan replays x5 (plan
    # audit).  Materialize each narrow slice once.
    p = (
        ev.filter(F.col("event_type") == "purchase")
        .select("event_id", "user_id", "ts_us")
        .localCheckpoint(eager=True)
    )
    w_dedup = Window.partitionBy("user_id", "ts_us").orderBy(F.desc("event_id"))
    c = (
        ev.filter(F.col("event_type") == "click")
        .withColumn("rn", F.row_number().over(w_dedup))
        .filter(F.col("rn") == 1)
        .select("user_id", "ts_us", F.col("ts_us").alias("c_ts"))
        .localCheckpoint(eager=True)
    )
    back = asof_join_backward(
        p, c.select("user_id", "ts_us", "c_ts"), "user_id", "ts_us", ["c_ts"]
    ).select("event_id", F.col("asof_c_ts").alias("b_ts"))
    fwd = asof_join_forward(
        p, c.select("user_id", "ts_us", "c_ts"), "user_id", "ts_us", ["c_ts"]
    ).select("event_id", F.col("asof_c_ts").alias("f_ts"))
    j = p.join(back, "event_id").join(fwd, "event_id")
    b_d = F.col("ts_us") - F.col("b_ts")
    f_d = F.col("f_ts") - F.col("ts_us")
    both_null = F.col("b_ts").isNull() & F.col("f_ts").isNull()
    pick_back = F.col("f_ts").isNull() | (
        F.col("b_ts").isNotNull() & (b_d <= f_d)
    )
    return j.select(
        "event_id",
        "user_id",
        "ts_us",
        F.when(both_null, F.lit(-1))
        .when(pick_back, F.col("b_ts"))
        .otherwise(F.col("f_ts"))
        .cast("long")
        .alias("nearest_click_ts_us"),
        F.when(both_null, F.lit(-1))
        .when(pick_back, b_d)
        .otherwise(f_d)
        .cast("long")
        .alias("delta_us"),
        F.when(both_null, F.lit("none"))
        .when(pick_back, F.lit("back"))
        .otherwise(F.lit("fwd"))
        .alias("direction"),
    ).orderBy("event_id")


# ---------------------------------------------------------------------------
# Markov next-event prediction accuracy (the chain as a classifier).
# ---------------------------------------------------------------------------
@register(
    "markov_next_event_accuracy",
    oracle="""
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, event_type
      FROM events),
    l AS (
      SELECT user_id, event_type,
             lead(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts_us, event_id) AS nxt
      FROM e),
    tr AS (SELECT event_type AS src, nxt AS dst FROM l WHERE nxt IS NOT NULL),
    c AS (SELECT src, dst, count(*)::BIGINT AS n FROM tr GROUP BY 1, 2),
    pred AS (
      SELECT src, dst AS predicted FROM (
        SELECT src, dst, row_number() OVER (PARTITION BY src
                                            ORDER BY n DESC, dst) AS rk
        FROM c) WHERE rk = 1)
    SELECT c.src,
           sum(c.n)::BIGINT AS n_transitions,
           any_value(p.predicted) AS predicted_next,
           sum(CASE WHEN c.dst = p.predicted THEN c.n ELSE 0 END)::BIGINT
             AS n_correct,
           floor((CAST(sum(CASE WHEN c.dst = p.predicted THEN c.n ELSE 0 END)
                       AS DOUBLE) / CAST(sum(c.n) AS DOUBLE)) * 10000 + 0.5)
             / 10000.0 AS accuracy
    FROM c JOIN pred p ON p.src = c.src
    GROUP BY c.src ORDER BY c.src
    """,
)
def q_markov_next_event_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The first-order event chain used as a next-event PREDICTOR: per
    source state, predict the majority next event (ties to the
    alphabetically first) and score resubstitution accuracy — the
    baseline every sequence model must beat, and the sanity probe on the
    transition structure behind `markov_stationary_events` /
    `markov_attribution`.

    Exactness: counts are integers; the per-source argmax tie-breaks on
    the destination name; accuracy is ONE final division.

    Scale: the per-user lag window (the standard sessionization exchange)
    folds to a ≤ |states|² count table; everything after runs on that.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("ts_ns DIV 1000").alias("ts_us"), "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    tr = (
        ev.withColumn("nxt", F.lead("event_type").over(w))
        .filter(F.col("nxt").isNotNull())
        .select(F.col("event_type").alias("src"), F.col("nxt").alias("dst"))
    )
    c = tr.groupBy("src", "dst").agg(F.count(F.lit(1)).cast("long").alias("n"))
    w_best = Window.partitionBy("src").orderBy(F.desc("n"), F.asc("dst"))
    pred = (
        c.withColumn("rk", F.row_number().over(w_best))
        .filter(F.col("rk") == 1)
        .select("src", F.col("dst").alias("predicted"))
    )
    return (
        c.join(F.broadcast(pred), "src")
        .groupBy("src")
        .agg(
            F.sum("n").cast("long").alias("n_transitions"),
            F.first("predicted").alias("predicted_next"),
            F.sum(F.when(F.col("dst") == F.col("predicted"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_correct"),
        )
        .select(
            "src",
            "n_transitions",
            "predicted_next",
            "n_correct",
            round4(
                F.col("n_correct").cast("double")
                / F.col("n_transitions").cast("double")
            ).alias("accuracy"),
        )
        .orderBy("src")
    )


# ---------------------------------------------------------------------------
# Entropy rate of the user-journey Markov chain (predictability metric).
# ---------------------------------------------------------------------------
def _me_entropy_exprs() -> list[tuple[str, str]]:
    """[(name, sql)] shared text: per-state micro-nat entropies + the rate.

    h_i = Σ_j (c_ij/r_i)·(ln r_i − ln c_ij) with every ln taken of an
    integer and micro-quantized once; H = Σ_i π_i·h_i / 1e6.
    """
    K, SCALE = _MK_K, _MK_SCALE
    outs = []
    for i in range(K):
        terms = []
        for j in range(K):
            lnc = f"floor(ln(CAST(c{i}_{j} AS DOUBLE))*1000000 + 0.5)"
            lnr = f"floor(ln(CAST(r{i} AS DOUBLE))*1000000 + 0.5)"
            terms.append(
                f"(CASE WHEN c{i}_{j} = 0 THEN 0 ELSE"
                f" c{i}_{j} * CAST(({lnr} - {lnc}) AS BIGINT) END)"
            )
        num = " + ".join(terms)
        outs.append(
            (
                f"h{i}",
                f"(CASE WHEN r{i} = 0 THEN 0 ELSE "
                f"CAST(floor(CAST({num} AS DOUBLE) / CAST(r{i} AS DOUBLE))"
                f" AS BIGINT) END)",
            )
        )
    rate = " + ".join(f"p{i} * h{i}" for i in range(K))
    outs.append(
        (
            "hrate",
            f"CAST(floor(CAST({rate} AS DOUBLE) / {SCALE}.0) AS BIGINT)",
        )
    )
    return outs


def _me_oracle() -> str:
    ITERS, K, SCALE, TYPES, step = _MK_ITERS, _MK_K, _MK_SCALE, _MK_TYPES, _mk_step_exprs
    cnt = ", ".join(
        f"sum(CASE WHEN prev = '{a}' AND event_type = '{b}' THEN 1 ELSE 0 END)"
        f"::BIGINT AS c{i}_{j}"
        for i, a in enumerate(TYPES)
        for j, b in enumerate(TYPES)
    )
    rows = ", ".join(
        "(" + " + ".join(f"c{i}_{j}" for j in range(K)) + f") AS r{i}"
        for i in range(K)
    )
    init = ", ".join(f"{SCALE // K}::BIGINT AS p{i}" for i in range(K))
    keep = ", ".join(
        [f"c{i}_{j}" for i in range(K) for j in range(K)]
        + [f"r{i}" for i in range(K)]
    )
    ctes = [
        """pairs AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev,
             event_type
      FROM events)""",
        f"c AS (SELECT {cnt} FROM pairs WHERE prev IS NOT NULL)",
        f"it0 AS (SELECT *, {init} FROM (SELECT *, {rows} FROM c))",
    ]
    prev = "it0"
    for t in range(ITERS):
        layer = ", ".join(f"{sql} AS p{name[2:]}" for name, sql in step())
        ctes.append(f"it{t + 1} AS (SELECT {keep}, {layer} FROM {prev})")
        prev = f"it{t + 1}"
    ent = ", ".join(f"{sql} AS {name}" for name, sql in _me_entropy_exprs())
    ctes.append(f"fin AS (SELECT *, {ent} FROM {prev})")
    sel = "\n      UNION ALL ".join(
        f"SELECT '{a}' AS event_type,"
        f" floor((CAST(p{i} AS DOUBLE) / {SCALE}.0) * 10000 + 0.5) / 10000.0"
        f" AS stationary_prob,"
        f" floor((CAST(h{i} AS DOUBLE) / {SCALE}.0) * 10000 + 0.5) / 10000.0"
        f" AS state_entropy_nats,"
        f" floor((CAST(hrate AS DOUBLE) / {SCALE}.0) * 10000 + 0.5) / 10000.0"
        f" AS entropy_rate_nats FROM fin"
        for i, a in enumerate(TYPES)
    )
    cte_block = ",\n    ".join(ctes)
    return f"""
    WITH {cte_block}
    {sel}
    ORDER BY event_type
    """


@register("markov_entropy_rate", oracle=_me_oracle())
def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the user-journey Markov chain — H = Σ π_i H(row i),
    the bits-per-step predictability of user behavior (maximum ln 5 ≈
    1.609 nats for 5 states; the gap below that is what sequence models
    can exploit; `markov_next_event_accuracy` is the argmax view of the
    same structure).

    Exactness: the stationary π reuses `markov_stationary_events`' exact
    unrolled iteration; every ln is taken of an INTEGER count and
    micro-quantized once; row entropies and the π-weighted rate are
    integer folds with one portable floor division each.

    Scale: identical to the stationary query — one lag window, 25 BIGINT
    cells, corpus-size-free iteration; the entropy layer is pure scalar
    text on the 1-row frame.  Plan-cached like the other unrolled plans.
    """
    return _plan_cached(
        "markov_entropy_rate", spark, sf_dir, lambda: _me_plan(spark, sf_dir)
    )


def _me_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    ITERS, K, SCALE, TYPES, step = _MK_ITERS, _MK_K, _MK_SCALE, _MK_TYPES, _mk_step_exprs
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
        for i, a in enumerate(TYPES)
        for j, b in enumerate(TYPES)
    ]
    # 1-row count matrix materialized once (round 11; see _markov_plan) —
    # warm collects rerun only the iteration tail, as the unrolled plan's
    # mid-loop barriers already made them do through r10.
    it = pairs.agg(*cnt_aggs).localCheckpoint(eager=True)
    for i in range(K):
        it = it.withColumn(
            f"r{i}", F.expr(" + ".join(f"c{i}_{j}" for j in range(K)))
        )
    # HOF-loop form of the stationary iteration (round 11): same per-round
    # text as the oracle via _mk_np_hof_expr, one aggregate() expression
    # instead of ITERS unrolled layers + localCheckpoint barriers.
    steps = ", ".join(_mk_np_hof_expr(j, "acc") for j in range(K))
    init = ", ".join(f"CAST({SCALE // K} AS BIGINT)" for _ in range(K))
    it = _hof_once(
        it,
        "pv",
        f"aggregate(sequence(1, {ITERS}), array({init}),"
        f" (acc, t) -> array({steps}))",
    )
    for i in range(K):
        it = it.withColumn(f"p{i}", F.element_at("pv", i + 1))
    for name, sql in _me_entropy_exprs():
        it = it.withColumn(name, F.expr(sql))
    rows = it.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(a).alias("event_type"),
                        round4(F.col(f"p{i}").cast("double") / float(SCALE)).alias(
                            "stationary_prob"
                        ),
                        round4(F.col(f"h{i}").cast("double") / float(SCALE)).alias(
                            "state_entropy_nats"
                        ),
                        round4(F.col("hrate").cast("double") / float(SCALE)).alias(
                            "entropy_rate_nats"
                        ),
                    )
                    for i, a in enumerate(TYPES)
                ]
            )
        ).alias("o")
    )
    return rows.select(
        "o.event_type",
        "o.stationary_prob",
        "o.state_entropy_nats",
        "o.entropy_rate_nats",
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# Rule-based attribution models (first/last/linear) on the same sessions.
# ---------------------------------------------------------------------------
@register(
    "attribution_models_compare",
    oracle=f"""
    WITH e AS (
      SELECT user_id, epoch_ns(ts) // 1000 AS ts_us, event_id, event_type
      FROM events),
    l AS (
      SELECT *, CASE WHEN lag(ts_us) OVER w IS NULL
                          OR ts_us - lag(ts_us) OVER w > {_GAP_US}
                     THEN 1 ELSE 0 END AS brk
      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
    s AS (
      SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                  AS sess
      FROM l),
    k AS (
      SELECT * FROM (
        SELECT user_id, sess, ts_us, event_id, event_type,
               COALESCE(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 OVER (PARTITION BY user_id, sess ORDER BY ts_us, event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cp,
               row_number() OVER (PARTITION BY user_id, sess
                                  ORDER BY ts_us, event_id) AS rn
        FROM s)
      WHERE cp = 0),
    conv AS (
      SELECT user_id, sess FROM k WHERE event_type = 'purchase'),
    touches AS (
      SELECT k.user_id, k.sess, k.event_type, k.rn
      FROM k JOIN conv USING (user_id, sess)
      WHERE k.event_type != 'purchase'),
    per_sess AS (
      SELECT user_id, sess, count(*)::BIGINT AS n_touch FROM touches
      GROUP BY 1, 2),
    firsts AS (
      SELECT event_type, count(*)::BIGINT AS first_touch FROM (
        SELECT user_id, sess, event_type,
               row_number() OVER (PARTITION BY user_id, sess ORDER BY rn) AS a
        FROM touches) WHERE a = 1 GROUP BY 1),
    lasts AS (
      SELECT event_type, count(*)::BIGINT AS last_touch FROM (
        SELECT user_id, sess, event_type,
               row_number() OVER (PARTITION BY user_id, sess ORDER BY rn DESC)
                 AS a
        FROM touches) WHERE a = 1 GROUP BY 1),
    linear_u AS (
      SELECT t.event_type,
             sum(CAST(floor(1000000.0 * cnt / p.n_touch) AS BIGINT))::BIGINT
               AS lin_u
      FROM (SELECT user_id, sess, event_type, count(*)::BIGINT AS cnt
            FROM touches GROUP BY 1, 2, 3) t
      JOIN per_sess p USING (user_id, sess)
      GROUP BY 1)
    SELECT t.event_type AS channel,
           COALESCE(f.first_touch, 0)::BIGINT AS first_touch,
           COALESCE(la.last_touch, 0)::BIGINT AS last_touch,
           floor((lu.lin_u / 1000000.0) * 10000 + 0.5) / 10000.0
             AS linear_credit
    FROM (SELECT DISTINCT event_type FROM touches) t
    LEFT JOIN firsts f ON f.event_type = t.event_type
    LEFT JOIN lasts la ON la.event_type = t.event_type
    LEFT JOIN linear_u lu ON lu.event_type = t.event_type
    ORDER BY t.event_type
    """,
)
def q_attribution_models_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The three classic rule-based attribution models — first-touch,
    last-touch, and linear — computed on EXACTLY the sessions and
    truncation rule `markov_attribution` uses, so the rule-based credits
    and the data-driven removal effects are directly comparable (the
    spread between models is the attribution-uncertainty diagnostic).

    Exactness: first/last are integer argmin/argmax counts; linear
    credit is per-conversion micro-quantized (floor(1e6·k/n)) BEFORE the
    channel sum, so the fold is an exact BIGINT; NULL-free via COALESCE.

    Scale: the same sessionization exchange as every journey query, then
    session-level aggregates (conversion sessions only — a semi-join
    prefilter) and channel-level folds.  No new shuffle shape.
    """
    ev = _t(spark, sf_dir, "events").select(
        "user_id", F.expr("ts_ns DIV 1000").alias("ts_us"), "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    brk = ev.withColumn(
        "brk",
        F.when(
            F.lag("ts_us").over(w).isNull()
            | ((F.col("ts_us") - F.lag("ts_us").over(w)) > _GAP_US),
            F.lit(1),
        ).otherwise(F.lit(0)),
    )
    sess = brk.withColumn(
        "sess", F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    ws = Window.partitionBy("user_id", "sess").orderBy("ts_us", "event_id")
    kept = (
        sess.withColumn(
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
    conv = (
        kept.filter(F.col("event_type") == "purchase")
        .select("user_id", "sess")
        .distinct()
    )
    # `touches` fans out to five consumers (per_sess/firsts/lasts/linear/
    # channels); without a lineage cut each one replays the full events
    # scan + sessionization (plan audit showed events x10).  Materialize
    # it once — it is the converting-session touch subset, far smaller
    # than the corpus.
    touches = (
        kept.join(conv, ["user_id", "sess"])
        .filter(F.col("event_type") != "purchase")
        .select("user_id", "sess", "event_type", "rn")
        .localCheckpoint(eager=True)
    )
    per_sess = touches.groupBy("user_id", "sess").agg(
        F.count(F.lit(1)).cast("long").alias("n_touch")
    )
    w_first = Window.partitionBy("user_id", "sess").orderBy("rn")
    w_last = Window.partitionBy("user_id", "sess").orderBy(F.desc("rn"))
    firsts = (
        touches.withColumn("a", F.row_number().over(w_first))
        .filter(F.col("a") == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("first_touch"))
    )
    lasts = (
        touches.withColumn("a", F.row_number().over(w_last))
        .filter(F.col("a") == 1)
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("last_touch"))
    )
    linear = (
        touches.groupBy("user_id", "sess", "event_type")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .join(per_sess, ["user_id", "sess"])
        .select(
            "event_type",
            F.expr(
                "CAST(floor(1000000.0 * cnt / n_touch) AS BIGINT)"
            ).alias("credit_u"),
        )
        .groupBy("event_type")
        .agg(F.sum("credit_u").cast("long").alias("lin_u"))
    )
    channels = touches.select("event_type").distinct()
    return (
        channels.join(firsts, "event_type", "left")
        .join(lasts, "event_type", "left")
        .join(linear, "event_type", "left")
        .select(
            F.col("event_type").alias("channel"),
            F.coalesce(F.col("first_touch"), F.lit(0)).cast("long").alias(
                "first_touch"
            ),
            F.coalesce(F.col("last_touch"), F.lit(0)).cast("long").alias(
                "last_touch"
            ),
            round4(F.col("lin_u") / 1000000.0).alias("linear_credit"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# Chi-square data audits: day-of-week uniformity + Benford first digits.
# ---------------------------------------------------------------------------
@register(
    "dow_chi_square",
    oracle="""
    WITH d AS (
      SELECT CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) % 7 AS dow FROM events),
    o AS (SELECT dow, count(*)::BIGINT AS obs FROM d GROUP BY 1),
    n AS (SELECT sum(obs)::BIGINT AS n FROM o),
    t AS (
      SELECT sum((7*obs - n.n) * (7*obs - n.n))::HUGEINT AS num, any_value(n.n)
               AS n
      FROM o CROSS JOIN n)
    SELECT o.dow, o.obs,
           floor((CAST(n.n AS DOUBLE) / 7.0) * 10000 + 0.5) / 10000.0
             AS expected,
           floor((CAST(t.num AS DOUBLE) / (7.0 * CAST(t.n AS DOUBLE)))
                 * 10000 + 0.5) / 10000.0 AS chi_square
    FROM o CROSS JOIN n CROSS JOIN t
    ORDER BY o.dow
    """,
)
def q_dow_chi_square(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square uniformity audit of events across day-of-week (df=6):
    the seasonality-presence test a pipeline runs before trusting daily
    aggregates — a flat profile (small χ²) means day-of-week features
    carry no signal; a large χ² flags weekly structure the models should
    see.  Emitted per-day with the shared statistic on each row.

    Exactness: χ² against the uniform null reduces to the INTEGER
    identity Σ(7·O_d − n)²/(7n) — the numerator is an exact
    HUGEINT/DECIMAL fold, one portable float division at the end.
    Day-of-week keys are normalized to Sunday=0 in BOTH engines (DuckDB
    `dayofweek` is already 0-based Sunday; Spark's is 1-based, hence the
    −1 before the mod).

    Scale: a 7-cell count fold — nothing but the scan.
    """
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        ((F.dayofweek(F.col("ts").cast("date")).cast("long") - 1) % 7).alias("dow")
    )
    # the 7-row count table fans out to the total, the chi-square fold and
    # the final select — checkpoint it or each consumer replays the
    # events scan (plan audit showed x4)
    o = (
        d.groupBy("dow")
        .agg(F.count(F.lit(1)).cast("long").alias("obs"))
        .localCheckpoint(eager=True)
    )
    n = o.agg(F.sum("obs").cast("long").alias("n"))
    t = (
        o.crossJoin(F.broadcast(n))
        .select(
            ((7 * F.col("obs") - F.col("n")) * (7 * F.col("obs") - F.col("n")))
            .cast("decimal(38,0)")
            .alias("sq"),
            "n",
        )
        .agg(
            F.sum("sq").cast("decimal(38,0)").alias("num"),
            F.first("n").alias("n"),
        )
    )
    return (
        o.crossJoin(F.broadcast(n.withColumnRenamed("n", "n_all")))
        .crossJoin(F.broadcast(t.select(F.col("num"), F.col("n").alias("n_t"))))
        .select(
            "dow",
            "obs",
            round4(F.col("n_all").cast("double") / 7.0).alias("expected"),
            round4(
                F.col("num").cast("double") / (7.0 * F.col("n_t").cast("double"))
            ).alias("chi_square"),
        )
        .orderBy("dow")
    )


_BENFORD_P = [
    "0.3010299956639812", "0.17609125905568124", "0.12493873660829992",
    "0.09691001300805642", "0.07918124604762482", "0.06694678963061322",
    "0.05799194697768673", "0.05115252244738129", "0.04575749056067514",
]


def _benford_chi() -> str:
    terms = []
    for d in range(1, 10):
        p = _BENFORD_P[d - 1]
        e = f"(CAST(n_all AS DOUBLE) * {p})"
        o = f"CAST(obs{d} AS DOUBLE)"
        terms.append(f"(({o} - {e})*({o} - {e}) / {e})")
    return "(" + " + ".join(terms) + ")"


@register(
    "benford_first_digit",
    oracle=f"""
    WITH v AS (
      SELECT CAST(substr(CAST(floor(o_totalprice*100 + 0.5)::BIGINT AS VARCHAR),
                         1, 1) AS BIGINT) AS d
      FROM orders WHERE o_totalprice > 0),
    o AS (SELECT d, count(*)::BIGINT AS obs FROM v GROUP BY 1),
    wide AS (
      SELECT sum(obs)::BIGINT AS n_all,
             {", ".join(f"sum(CASE WHEN d = {d} THEN obs ELSE 0 END)::BIGINT AS obs{d}" for d in range(1, 10))}
      FROM o)
    SELECT o.d AS digit, o.obs,
           floor((CAST(w.n_all AS DOUBLE)
                  * {{}}) * 10000 + 0.5) / 10000.0 AS expected,
           floor(({_benford_chi()}) * 10000 + 0.5) / 10000.0 AS chi_square
    FROM o CROSS JOIN wide w
    ORDER BY o.d
    """.replace("{}", "CASE o.d " + " ".join(f"WHEN {d} THEN {p}" for d, p in zip(range(1, 10), _BENFORD_P)) + " END"),
)
def q_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: first-digit frequencies vs
    log10(1+1/d) with the chi-square distance (df=8) — the classic
    fabricated-data / corrupted-feed detector for financial columns
    (synthetic uniform data fails Benford loudly, which is itself the
    point: the statistic quantifies HOW unnatural the distribution is).

    Exactness: digit counts are integers (first digit via decimal string
    of the cents integer — identical in both engines); the expected
    probabilities are FIXED shared literals (full-precision reprs), so
    the χ² is one deterministic double expression over ten integers.

    Scale: a 9-cell count fold; the wide per-digit pivot keeps the χ²
    expression on a 1-row frame.
    """
    od = _t(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 0)
    v = od.select(
        F.substring(
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").cast("string"),
            1,
            1,
        )
        .cast("long")
        .alias("d")
    )
    o = v.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("obs"))
    wide = o.agg(
        F.sum("obs").cast("long").alias("n_all"),
        *[
            F.sum(F.when(F.col("d") == d, F.col("obs")).otherwise(0))
            .cast("long")
            .alias(f"obs{d}")
            for d in range(1, 10)
        ],
    )
    exp_case = (
        "CASE d "
        + " ".join(f"WHEN {d} THEN {p}" for d, p in zip(range(1, 10), _BENFORD_P))
        + " END"
    )
    return (
        o.crossJoin(F.broadcast(wide))
        .select(
            F.col("d").alias("digit"),
            "obs",
            round4(F.expr(f"CAST(n_all AS DOUBLE) * ({exp_case})")).alias(
                "expected"
            ),
            round4(F.expr(_benford_chi())).alias("chi_square"),
        )
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# End-to-end curation funnel: quality gate -> dedup keep, docs AND tokens.
# ---------------------------------------------------------------------------
def _cur_oracle() -> str:
    return f"""
    WITH fl AS MATERIALIZED (
      SELECT doc_id, {_SQL_NT} AS nt,
             CASE WHEN {_SQL_NT} >= 30
                       AND {_SQL_NT} > 0
                       AND length(text)*1.0/{_SQL_NT} >= 3.0
                       AND length(text)*1.0/{_SQL_NT} <= 12.0
                       AND {_SQL_SR} >= 0.05
                       AND {_SQL_ND}*1.0/{_SQL_NT} >= 0.45
                       AND {_SQL_QUALITY} >= 0.4
                  THEN 1 ELSE 0 END AS q
      FROM documents),
    {_SQL_SHINGLES},
    {_SQL_SIG},
    banded AS (SELECT doc_id, {_SQL_BAND_KEYS} FROM sig),
    cand AS ({_SQL_CAND}),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
    shared AS (
      SELECT x.doc_id AS id_1, y.doc_id AS id_2, count(*) AS shared
      FROM sh x JOIN sh y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      GROUP BY 1, 2),
    dropped AS MATERIALIZED (
      SELECT DISTINCT s.id_2 AS doc_id
      FROM shared s
      JOIN sizes n1 ON s.id_1 = n1.doc_id
      JOIN sizes n2 ON s.id_2 = n2.doc_id
      JOIN (SELECT DISTINCT id_1, id_2 FROM cand) c
        ON c.id_1 = s.id_1 AND c.id_2 = s.id_2
      JOIN sig s1 ON c.id_1 = s1.doc_id
      JOIN sig s2 ON c.id_2 = s2.doc_id
      WHERE ({_SQL_AGREE}) / {NUM_HASHES}.0 >= 0.5
        AND s.shared * CAST(1.0 AS DOUBLE) / (n1.n_sh + n2.n_sh - s.shared) >= 0.8),
    agg AS (
      SELECT count(*)::BIGINT AS d0, sum(nt)::BIGINT AS t0,
             sum(q)::BIGINT AS d1, sum(q * nt)::BIGINT AS t1,
             sum(CASE WHEN q = 1 AND dr.doc_id IS NULL THEN 1 ELSE 0 END)
               ::BIGINT AS d2,
             sum(CASE WHEN q = 1 AND dr.doc_id IS NULL THEN nt ELSE 0 END)
               ::BIGINT AS t2
      FROM fl LEFT JOIN dropped dr ON dr.doc_id = fl.doc_id)
    SELECT 0 AS stage, 'raw' AS rule, d0 AS n_docs, t0 AS n_tokens FROM agg
    UNION ALL SELECT 1, 'quality_pass', d1, t1 FROM agg
    UNION ALL SELECT 2, 'dedup_keep', d2, t2 FROM agg
    ORDER BY stage
    """


@register("curation_funnel", oracle=_cur_oracle())
def q_curation_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END curation report: documents AND tokens surviving the
    full quality gate (all five Gopher/C4 rules of
    `quality_filter_funnel` conjoined) and then near-dup removal (the
    cascade's drop set) — the one-table summary a corpus build publishes
    ("we kept X% of docs, Y% of tokens").  Composes the session-shared
    doc-features and verified-pair artifacts; nothing is recomputed.

    Exactness: every stage is an integer (doc, token) sum over boolean
    flags; the dedup stage is a LEFT anti-style join against the dropped
    set; three fixed rows out.

    Scale: one pass over the cached feature table + one broadcast-sized
    join against the dropped-doc set (near-dups are a small minority by
    construction); the funnel is reshaped from a 1-row aggregate.
    """
    feats = _shared_doc_features(spark, sf_dir)
    nt = F.col("n_tokens_ws")
    mwl = F.col("n_chars") * F.lit(1.0) / nt
    q = (
        (nt >= 30)
        & (nt > 0)
        & (mwl >= 3.0)
        & (mwl <= 12.0)
        & (F.col("stop_raw") >= 0.05)
        & (F.col("n_tokens_distinct") * F.lit(1.0) / nt >= 0.45)
        & (F.col("quality_raw") >= 0.4)
    ).cast("int")
    dropped = (
        _shared_verified_pairs(spark, sf_dir)
        .select(F.col("id_2").alias("doc_id"))
        .distinct()
        .withColumn("dropped", F.lit(1))
    )
    fl = feats.select("doc_id", nt.alias("nt"), q.alias("q")).join(
        F.broadcast(dropped), "doc_id", "left"
    )
    agg = fl.agg(
        F.count(F.lit(1)).cast("long").alias("d0"),
        F.sum("nt").cast("long").alias("t0"),
        F.sum("q").cast("long").alias("d1"),
        F.sum(F.col("q") * F.col("nt")).cast("long").alias("t1"),
        F.sum(
            F.when((F.col("q") == 1) & F.col("dropped").isNull(), 1).otherwise(0)
        )
        .cast("long")
        .alias("d2"),
        F.sum(
            F.when((F.col("q") == 1) & F.col("dropped").isNull(), F.col("nt")).otherwise(
                0
            )
        )
        .cast("long")
        .alias("t2"),
    )
    rows = agg.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).alias("stage"),
                    F.lit("raw").alias("rule"),
                    F.col("d0").alias("n_docs"),
                    F.col("t0").alias("n_tokens"),
                ),
                F.struct(
                    F.lit(1).alias("stage"),
                    F.lit("quality_pass").alias("rule"),
                    F.col("d1").alias("n_docs"),
                    F.col("t1").alias("n_tokens"),
                ),
                F.struct(
                    F.lit(2).alias("stage"),
                    F.lit("dedup_keep").alias("rule"),
                    F.col("d2").alias("n_docs"),
                    F.col("t2").alias("n_tokens"),
                ),
            )
        ).alias("s")
    )
    return rows.select("s.stage", "s.rule", "s.n_docs", "s.n_tokens").orderBy(
        "stage"
    )


# ---------------------------------------------------------------------------
# Revenue concentration: customer Gini + top-decile share.
# ---------------------------------------------------------------------------
@register(
    "revenue_concentration",
    oracle="""
    WITH pc AS (
      SELECT o_custkey, sum(floor(o_totalprice*100 + 0.5)::BIGINT)::BIGINT
               AS cents
      FROM orders GROUP BY 1),
    rk AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents, o_custkey) AS r
      FROM pc),
    tot AS (SELECT count(*)::BIGINT AS n, sum(cents)::BIGINT AS t FROM rk),
    s AS (SELECT sum(r * cents)::HUGEINT AS src FROM rk),
    topd AS (
      SELECT sum(cents)::BIGINT AS top_cents
      FROM rk CROSS JOIN tot
      WHERE r > n - (n + 9) // 10)
    SELECT t.n AS n_customers,
           floor((CAST(t.t AS DOUBLE) / 100.0) * 10000 + 0.5) / 10000.0
             AS total_revenue,
           floor(((2.0 * CAST(s.src AS DOUBLE)
                   / (CAST(t.n AS DOUBLE) * CAST(t.t AS DOUBLE)))
                  - (CAST(t.n AS DOUBLE) + 1.0) / CAST(t.n AS DOUBLE))
                 * 10000 + 0.5) / 10000.0 AS gini,
           floor((CAST(td.top_cents AS DOUBLE) / CAST(t.t AS DOUBLE))
                 * 10000 + 0.5) / 10000.0 AS top_decile_share
    FROM tot t CROSS JOIN s CROSS JOIN topd td
    """,
)
def q_revenue_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue concentration: the Gini coefficient of per-customer
    spend plus the top-decile revenue share — the 80/20 health metric
    every business review tracks (`join_key_skew_audit` is the same
    mathematics pointed at shuffle keys; this is the business-facing
    instance).

    Exactness: per-customer cents are exact integer sums; the Gini uses
    the rank identity G = 2Σr·x/(nΣx) − (n+1)/n with Σr·x accumulated in
    HUGEINT/DECIMAL (r·x reaches n·total); ranks come from
    `global_order_stats` (value then custkey ties); the decile boundary
    is the integer ceil(n/10).

    Scale: one per-customer collapse, one range-partitioned global rank,
    two scalar folds — no single-task sort anywhere.
    """
    from .partitioning import global_order_stats

    od = _t(spark, sf_dir, "orders")
    pc = od.groupBy("o_custkey").agg(
        F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("cents")
    )
    # the ranked customer table fans out to three folds — checkpoint so
    # the orders scan and ranking pass run once (plan_audit: 16 replays)
    rk = global_order_stats(pc, ["cents", "o_custkey"]).withColumnRenamed(
        "__rank", "r"
    ).localCheckpoint(eager=True)
    tot = rk.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("t"),
    )
    s = rk.agg(
        F.sum((F.col("r") * F.col("cents")).cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .alias("src")
    )
    topd = (
        rk.crossJoin(F.broadcast(tot))
        .filter(F.col("r") > F.col("n") - F.expr("(n + 9) DIV 10"))
        .agg(F.sum("cents").cast("long").alias("top_cents"))
    )
    return (
        tot.crossJoin(F.broadcast(s))
        .crossJoin(F.broadcast(topd))
        .select(
            F.col("n").alias("n_customers"),
            round4(F.col("t").cast("double") / 100.0).alias("total_revenue"),
            round4(
                2.0
                * F.col("src").cast("double")
                / (F.col("n").cast("double") * F.col("t").cast("double"))
                - (F.col("n").cast("double") + 1.0) / F.col("n").cast("double")
            ).alias("gini"),
            round4(
                F.col("top_cents").cast("double") / F.col("t").cast("double")
            ).alias("top_decile_share"),
        )
    )


# ---------------------------------------------------------------------------
# Wald-Wolfowitz runs test on the daily revenue series (randomness audit).
# ---------------------------------------------------------------------------
@register(
    "runs_test_daily",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             sum(floor(value*100 + 0.5)::BIGINT)::BIGINT AS cents
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    med AS (
      SELECT cents AS med FROM (
        SELECT cents, row_number() OVER (ORDER BY cents, day) AS rk,
               count(*) OVER () AS n
        FROM daily) WHERE rk = (n + 1) // 2),
    lab AS (
      SELECT day, CASE WHEN d.cents > m.med THEN 1 ELSE 0 END AS above
      FROM daily d CROSS JOIN med m),
    runs AS (
      SELECT above,
             CASE WHEN lag(above) OVER (ORDER BY day) IS NULL
                       OR lag(above) OVER (ORDER BY day) != above
                  THEN 1 ELSE 0 END AS brk
      FROM lab),
    agg AS (
      SELECT sum(brk)::BIGINT AS n_runs,
             sum(above)::BIGINT AS n_above,
             sum(1 - above)::BIGINT AS n_below
      FROM runs)
    SELECT n_runs, n_above, n_below,
           floor((1.0 + (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE))
                        / (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)))
                 * 10000 + 0.5) / 10000.0 AS expected_runs,
           floor(((CAST(n_runs AS DOUBLE)
                   - (1.0 + (2.0 * CAST(n_above AS DOUBLE)
                             * CAST(n_below AS DOUBLE))
                          / (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))))
                  / sqrt(((2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE))
                          * (2.0 * CAST(n_above AS DOUBLE) * CAST(n_below AS DOUBLE)
                             - CAST(n_above AS DOUBLE) - CAST(n_below AS DOUBLE)))
                         / ((CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
                            * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE))
                            * (CAST(n_above AS DOUBLE) + CAST(n_below AS DOUBLE)
                               - 1.0))))
                 * 10000 + 0.5) / 10000.0 AS z_stat
    FROM agg
    """,
)
def q_runs_test_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on daily purchase revenue around its
    median: too FEW runs = the series trends/clusters (autocorrelation),
    too MANY = oscillation — the independence audit behind trusting
    day-level aggregates as i.i.d. samples (`value_cusum_changepoint`
    locates a shift; this tests whether ANY serial structure exists).

    Exactness: the median is the lower-median integer (ties by day);
    above/below labels, run starts, and counts are integers from one lag
    window; the z statistic is ONE shared-text double expression with
    IEEE-exact sqrt.

    Scale: the day table is time-bounded; one window pass + a 3-integer
    fold.  The oracle's global windows are the fixture-scale stand-in
    for the rank primitive (day counts are thousands at most).
    """
    from .partitioning import global_order_stats

    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(
            F.sum(F.floor(F.col("value") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
        # the day table fans out to the rank pass (which consumes its
        # input twice), the count, the median probe and the labeling —
        # checkpoint it or each consumer replays the events scan (plan
        # audit showed x5)
        .localCheckpoint(eager=True)
    )
    ranked = global_order_stats(daily, ["cents", "day"])
    nn = ranked.agg(F.count(F.lit(1)).cast("long").alias("n"))
    med = (
        ranked.crossJoin(F.broadcast(nn))
        .filter(F.col("__rank") == F.expr("(n + 1) DIV 2"))
        .select(F.col("cents").alias("med"))
    )
    lab = daily.crossJoin(F.broadcast(med)).select(
        "day", F.when(F.col("cents") > F.col("med"), 1).otherwise(0).alias("above")
    )
    w = Window.orderBy("day")
    runs = lab.withColumn(
        "brk",
        F.when(
            F.lag("above").over(w).isNull()
            | (F.lag("above").over(w) != F.col("above")),
            1,
        ).otherwise(0),
    )
    agg = runs.agg(
        F.sum("brk").cast("long").alias("n_runs"),
        F.sum("above").cast("long").alias("n_above"),
        F.sum(1 - F.col("above")).cast("long").alias("n_below"),
    )
    a = F.col("n_above").cast("double")
    b = F.col("n_below").cast("double")
    exp_runs = 1.0 + (2.0 * a * b) / (a + b)
    var = ((2.0 * a * b) * (2.0 * a * b - a - b)) / ((a + b) * (a + b) * (a + b - 1.0))
    return agg.select(
        "n_runs",
        "n_above",
        "n_below",
        round4(exp_runs).alias("expected_runs"),
        round4((F.col("n_runs").cast("double") - exp_runs) / F.sqrt(var)).alias(
            "z_stat"
        ),
    )
