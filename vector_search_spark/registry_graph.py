"""Registry entries: dup-graph / random-walk algorithms (label-propagation communities, eigenvector centrality, k-core, BFS hops, modularity, double-sweep diameter, personalized PageRank, Markov hitting times, TextRank).

Query names and oracle rows are the stable contract: a refactor keeps
each oracle's rows identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .catalog import artifact, register
from .functions.scalar import _fdiv
from .registry_dedup import (
    _SQL_REACH,
    _SQL_SYM_EDGES,
    _SQL_TOKS_NONBLANK,
    _SQL_VERIFIED,
    _shared_components,
    _shared_sym_edges,
)
from .registry_ml import (
    _MK_TYPES,
    _SQL_MK_COUNTS,
    Iteration,
    iterate_rounds,
    iterate_rounds_sql,
    markov_transition_counts,
)
from .sources.tables import load_table as _t


# Shared oracle prefix: the verified near-dup graph as symmetric edges.
_SQL_DUP_EDGES = f"WITH {_SQL_SYM_EDGES}"
# The same graph and its component walk, with `edges` and `nodes` as
# MATERIALIZED CTEs.
_SQL_DUP_REACH = (
    f"WITH RECURSIVE {_SQL_REACH}"
    .replace("edges AS (SELECT", "edges AS MATERIALIZED (SELECT")
    .replace("nodes AS (", "nodes AS MATERIALIZED (")
)


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
# Multi-source BFS hop distances on the dup graph.
# ---------------------------------------------------------------------------
BFS_ROUNDS = 6


@register(
    "dup_bfs_hops",
    oracle=_SQL_DUP_EDGES
    + """,
    d0 AS (SELECT b::BIGINT AS doc_id, 0::BIGINT AS dist
           FROM edges GROUP BY b HAVING b < min(a))"""
    + "".join(
        f""",
    d{i + 1} AS MATERIALIZED (
      SELECT doc_id, min(dist)::BIGINT AS dist FROM (
        SELECT doc_id, dist FROM d{i}
        UNION ALL
        SELECT e.b AS doc_id, p.dist + 1 AS dist
        FROM edges e JOIN d{i} p ON e.a = p.doc_id) u
      GROUP BY doc_id)"""
        for i in range(BFS_ROUNDS)
    )
    + f"""
    SELECT doc_id, dist FROM d{BFS_ROUNDS} ORDER BY doc_id
    """,
)
def q_dup_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-source breadth-first hop distances on the verified
    near-duplicate graph: for every document, how many near-dup links
    separate it from the nearest "canonical keeper" — the local-minimum
    nodes (doc_id smaller than every neighbor's), which are exactly the
    anchors pick-one-per-template remediation keeps.  Hop distance is
    the provenance-radius signal: documents ≤2 hops from a keeper are
    usually the same template family even when LSH never paired them
    directly.  Every component contains at least one local minimum (its
    global minimum), so all nodes are reached.

    Determinism: 6 fixed min-plus rounds (frontier ∪ relaxed-neighbors,
    then min per node) over integer distances — no floats, no
    data-dependent iteration count, so any partitioning and the
    unrolled-CTE DuckDB twin produce identical distances.  Nodes farther
    than 6 hops from every seed would simply not appear — honest output
    for a fixed-round traversal (dup components are shallow).

    Scale: each round is ONE join of the O(near-dup) edge list against
    the current distance table plus a partial-agg'd min — the
    `dup_graph_pagerank` economics; eager localCheckpoint per round
    keeps the plan constant-size.  Multi-source BFS costs the same as
    single-source here (the frontier is a column, not a task), which is
    why distance-to-nearest-seed is the form a 1000-executor Pregel job
    actually runs.
    """
    edges = _shared_sym_edges(spark, sf_dir)
    seed = (
        edges.groupBy("b")
        .agg(F.min("a").alias("min_nbr"))
        .filter(F.col("b") < F.col("min_nbr"))
        .select(F.col("b").cast("long").alias("doc_id"), F.lit(0).cast("long").alias("dist"))
    )
    dist = seed.localCheckpoint(eager=True)
    for _ in range(BFS_ROUNDS):
        relaxed = edges.join(dist, edges.a == dist.doc_id).select(
            F.col("b").alias("doc_id"), (F.col("dist") + 1).alias("dist")
        )
        dist = (
            dist.unionByName(relaxed)
            .groupBy("doc_id")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint(eager=True)
        )
    return dist.orderBy("doc_id")



# ---------------------------------------------------------------------------
# Newman modularity of the label-propagation communities.
# ---------------------------------------------------------------------------
_MOD_CONTRIB = "CAST(num_c AS DOUBLE) / (CAST(tm AS DOUBLE) * CAST(tm AS DOUBLE))"
_MOD_TOTAL = "CAST(num_tot AS DOUBLE) / (CAST(tm AS DOUBLE) * CAST(tm AS DOUBLE))"


_SQL_MOD_TAIL = f"""
    tm AS (SELECT count(*)::BIGINT AS tm FROM edges),
    deg AS (SELECT a AS doc_id, count(*)::BIGINT AS deg FROM edges GROUP BY a),
    lab AS (SELECT scheme, doc_id, community FROM lab_cc
            UNION ALL SELECT scheme, doc_id, community FROM lab_lpa),
    comm AS (
      SELECT l.scheme, l.community, count(*)::BIGINT AS size,
             sum(d.deg)::BIGINT AS degree_sum
      FROM lab l JOIN deg d ON l.doc_id = d.doc_id
      GROUP BY l.scheme, l.community),
    intra AS (
      SELECT la.scheme, la.community, count(*)::BIGINT AS intra2
      FROM edges e
      JOIN lab la ON e.a = la.doc_id
      JOIN lab lb ON e.b = lb.doc_id AND la.scheme = lb.scheme
      WHERE la.community = lb.community
      GROUP BY la.scheme, la.community),
    nums AS (
      SELECT c.scheme, c.community, c.size, c.degree_sum,
             coalesce(i.intra2, 0)::BIGINT AS intra2,
             (coalesce(i.intra2, 0)::HUGEINT * tm.tm
              - c.degree_sum::HUGEINT * c.degree_sum) AS num_c,
             tm.tm AS tm
      FROM comm c
      LEFT JOIN intra i ON c.scheme = i.scheme AND c.community = i.community
      CROSS JOIN tm),
    tot AS (SELECT scheme, sum(num_c)::HUGEINT AS num_tot
            FROM nums GROUP BY scheme)
    SELECT n.scheme, n.community::BIGINT AS community, n.size, n.degree_sum,
           {_fdiv("n.intra2", "2")} AS intra_edges,
           floor(({_MOD_CONTRIB})*10000 + 0.5)/10000.0 AS contribution,
           floor(({_MOD_TOTAL})*10000 + 0.5)/10000.0 AS modularity
    FROM nums n JOIN tot t ON n.scheme = t.scheme
    ORDER BY n.scheme, n.community
    """


@register(
    "dup_community_modularity",
    oracle=_SQL_DUP_REACH
    + """,
    lab_cc AS (SELECT 'components' AS scheme, doc_id,
                      min(root)::BIGINT AS community
               FROM reach GROUP BY doc_id),
    l0 AS (SELECT DISTINCT a AS doc_id, a AS label FROM edges),"""
    + ",".join(_lpa_round_sql(f"l{i}", f"l{i + 1}") for i in range(LPA_ROUNDS))
    + f""",
    lab_lpa AS (SELECT 'label_prop' AS scheme, doc_id, label::BIGINT AS community
                FROM l{LPA_ROUNDS}),"""
    + _SQL_MOD_TAIL,
)
def q_dup_community_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Newman modularity Q = Σ_c (intra_c/m − (d_c/2m)²) of TWO
    partitions of the verified near-duplicate graph, side by side: the
    connected components (what `dedup_clusters` remediates on) and the
    synchronous label-propagation communities (`dup_label_propagation`).
    Emitted per community (size, degree mass, intra edges, contribution)
    with each partition's global Q on its rows — the "is this partition
    better than random" gate.  The comparison is the point: on
    pair-heavy dup graphs synchronous LPA oscillates (a two-node
    component swaps labels every round and lands fragmented), so its Q
    collapses toward 0 while the components partition scores near the
    1 − Σ(d_c/2m)² ceiling — exactly the diagnosis that tells
    remediation which label set to trust.

    Exactness: with tm = 2m directed edges, Q = Σ_c num_c/tm² where
    num_c = intra2_c·tm − d_c² is an exact HUGEINT/DECIMAL integer fold
    (intra2 = directed intra-community edge count); ONE shared float
    division per emitted value, floor-quantized to 4 dp.  intra2 is even
    by symmetry, so intra_edges = intra2/2 is exact.

    Scale: labels come from the iterative pointer-jump components /
    fixed-round LPA already in the engine; modularity itself is one
    edge-table join against the (broadcastable) label table plus two
    partial-agg'd groupBys per partition — O(edges), no squares, no
    iteration.
    """
    edges = _shared_sym_edges(spark, sf_dir)
    cc = _shared_components(spark, sf_dir).select(
        F.lit("components").alias("scheme"),
        F.col("node").alias("doc_id"),
        F.col("label").cast("long").alias("community"),
    )
    lpa = q_dup_label_propagation(spark, sf_dir).select(
        F.lit("label_prop").alias("scheme"),
        "doc_id",
        F.col("community").cast("long").alias("community"),
    )
    lab = cc.unionByName(lpa).localCheckpoint(eager=True)
    tm = edges.agg(F.count(F.lit(1)).cast("long").alias("tm"))
    deg = edges.groupBy(F.col("a").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    comm = (
        lab.join(deg, "doc_id")
        .groupBy("scheme", "community")
        .agg(
            F.count(F.lit(1)).cast("long").alias("size"),
            F.sum("deg").cast("long").alias("degree_sum"),
        )
    )
    la = lab.select(
        F.col("doc_id").alias("a"), F.col("scheme").alias("pa"), F.col("community").alias("ca")
    )
    lb = lab.select(
        F.col("doc_id").alias("b"), F.col("scheme").alias("pb"), F.col("community").alias("cb")
    )
    intra = (
        edges.join(la, "a")
        .join(lb, "b")
        .filter((F.col("pa") == F.col("pb")) & (F.col("ca") == F.col("cb")))
        .groupBy(F.col("pa").alias("scheme"), F.col("ca").alias("community"))
        .agg(F.count(F.lit(1)).cast("long").alias("intra2"))
    )
    nums = (
        comm.join(intra, ["scheme", "community"], "left")
        .withColumn("intra2", F.coalesce(F.col("intra2"), F.lit(0)).cast("long"))
        .crossJoin(F.broadcast(tm))
        .withColumn(
            "num_c",
            (
                F.col("intra2").cast("decimal(38,0)") * F.col("tm")
                - F.col("degree_sum").cast("decimal(38,0)") * F.col("degree_sum")
            ).cast("decimal(38,0)"),
        )
    )
    tot = nums.groupBy("scheme").agg(
        F.sum("num_c").cast("decimal(38,0)").alias("num_tot")
    )
    return (
        nums.join(F.broadcast(tot), "scheme")
        .select(
            "scheme",
            F.col("community").cast("long").alias("community"),
            "size",
            "degree_sum",
            F.expr(_fdiv("intra2", "2")).alias("intra_edges"),
            F.expr(f"CAST(floor(({_MOD_CONTRIB})*10000 + 0.5)/10000.0 AS DOUBLE)").alias(
                "contribution"
            ),
            F.expr(f"CAST(floor(({_MOD_TOTAL})*10000 + 0.5)/10000.0 AS DOUBLE)").alias(
                "modularity"
            ),
        )
        .orderBy("scheme", "community")
    )



# ---------------------------------------------------------------------------
# TextRank keyword extraction: weighted PageRank over token adjacency.
# ---------------------------------------------------------------------------
TEXTRANK_ROUNDS = 4
TEXTRANK_MIN_DF = 5
TEXTRANK_TOPK = 20


def _textrank_round_sql(prev: str, cur: str) -> str:
    """One weighted-PageRank round as an unrolled CTE: per-edge integer
    contribution (w·r)//W_u (nonnegative, so `//`/`DIV` agree), damped
    integer update — the `dup_graph_pagerank` arithmetic on the weighted
    token graph."""
    return f"""
    {cur} AS MATERIALIZED (
      SELECT e.v AS tok,
             (150000 + (85 * sum((e.w * p.r) // e.wu)) // 100)::BIGINT AS r
      FROM wedges e JOIN {prev} p ON e.u = p.tok
      GROUP BY e.v)"""


@register(
    "textrank_keywords",
    oracle=f"""
    WITH {_SQL_TOKS_NONBLANK},
    dfq AS (
      SELECT tok FROM (SELECT DISTINCT doc_id, tok FROM toks)
      GROUP BY tok HAVING count(*) >= {TEXTRANK_MIN_DF}),
    adj AS (
      SELECT a.tok AS u, b.tok AS v
      FROM toks a JOIN toks b ON a.doc_id = b.doc_id AND b.ord = a.ord + 1
      WHERE a.tok != b.tok
        AND a.tok IN (SELECT tok FROM dfq) AND b.tok IN (SELECT tok FROM dfq)),
    sym AS (SELECT u, v FROM adj UNION ALL SELECT v, u FROM adj),
    edges AS (SELECT u, v, count(*)::BIGINT AS w FROM sym GROUP BY u, v),
    strength AS (SELECT u, sum(w)::BIGINT AS wu FROM edges GROUP BY u),
    wedges AS MATERIALIZED (
      SELECT e.u, e.v, e.w, s.wu FROM edges e JOIN strength s ON e.u = s.u),
    r0 AS (SELECT u AS tok, 1000000::BIGINT AS r FROM strength),"""
    + ",".join(
        _textrank_round_sql(f"r{i}", f"r{i + 1}") for i in range(TEXTRANK_ROUNDS)
    )
    + f"""
    SELECT rk.tok, rk.r AS rank_micro, s.wu AS strength
    FROM r{TEXTRANK_ROUNDS} rk JOIN strength s ON rk.tok = s.u
    ORDER BY rk.r DESC, rk.tok LIMIT {TEXTRANK_TOPK}
    """,
)
def q_textrank_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextRank keyword extraction (Mihalcea & Tarau 2004): weighted
    PageRank over the token adjacency graph — nodes are corpus tokens,
    edges connect tokens adjacent in running text (window 2, both
    directions), edge weight = corpus adjacency count; the top-20 ranks
    are the corpus keywords.  This is the graph-centrality counterpart
    of `tfidf_top_terms` (frequency-based) — TextRank promotes tokens
    that glue many contexts together even when raw counts are modest.

    Determinism: the `dup_graph_pagerank` integer arithmetic on a
    weighted graph — per-edge contribution (w·r)//W_u is a nonnegative
    integer (truncating and flooring division agree), damped update
    150000 + (85·Σ)//100, 4 fixed rounds; ranks are exact integers under
    any partitioning, mirrored by the unrolled-CTE oracle.

    Scale: adjacency is a linear per-document array `transform` (no
    self-join — O(tokens) pairs), cut to the df ≥ 5 vocabulary BEFORE
    edge grouping, so the graph is bounded by the frequent-bigram type
    count (Zipf keeps it tiny vs the corpus); each rank round is ONE
    join of the edge list against the rank table plus a partial-agg'd
    sum, eager-localCheckpointed to keep the plan constant-size.
    """
    docs = _t(spark, sf_dir, "documents").filter(F.trim(F.col("text")) != "")
    toks = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
    )
    dfq = (
        toks.select("doc_id", F.explode("t").alias("tok"))
        .distinct()
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= TEXTRANK_MIN_DF)
        .select("tok")
        # tiny vocab set, consumed by BOTH endpoint prefilters — checkpoint
        # so its doc-scan lineage isn't replayed per join
        .localCheckpoint(eager=True)
    )
    adj = (
        toks.filter(F.size("t") >= 2)
        .select(
            F.explode(
                F.expr("transform(sequence(1, size(t) - 1), i -> struct(t[i-1] AS u, t[i] AS v))")
            ).alias("p")
        )
        .select(F.col("p.u").alias("u"), F.col("p.v").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .join(F.broadcast(dfq.withColumnRenamed("tok", "u")), "u")
        .join(F.broadcast(dfq.withColumnRenamed("tok", "v")), "v")
        .select("u", "v")
    )
    sym = adj.unionAll(adj.select(F.col("v").alias("u"), F.col("u").alias("v")))
    edges = sym.groupBy("u", "v").agg(F.count(F.lit(1)).cast("long").alias("w"))
    strength = edges.groupBy("u").agg(
        F.sum("w").cast("long").alias("wu")
    ).localCheckpoint(eager=True)  # feeds wedges, the rank init AND the output join
    wedges = edges.join(strength, "u").localCheckpoint(eager=True)
    # Round 12: the rank table is one row per frequent token — orders of
    # magnitude smaller than the weighted edge list — yet each round's
    # join shuffled BOTH sides (checkpointed frames carry no size stats,
    # so auto-broadcast never fires).  Gate the rank side through
    # maybe_broadcast (node count known from the checkpointed strength
    # table, counted once): each round becomes map-side join + one
    # partial-agg'd exchange instead of three exchanges.  Physical-only;
    # the integer rank arithmetic is unchanged.
    from .partitioning import maybe_broadcast

    n_nodes = strength.count()
    ranks = strength.select(F.col("u").alias("tok")).withColumn(
        "r", F.lit(1000000).cast("long")
    )
    for _ in range(TEXTRANK_ROUNDS):
        rb = maybe_broadcast(ranks, max_rows=32_000_000, n_rows=n_nodes, row_bytes=120)
        ranks = (
            wedges.join(rb, wedges.u == rb.tok)
            .select(F.col("v"), F.expr("(w * r) DIV wu").alias("c"))
            .groupBy("v")
            .agg(F.sum("c").alias("s"))
            .select(
                F.col("v").alias("tok"),
                (F.lit(150000) + F.expr("(85 * s) DIV 100")).cast("long").alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return (
        ranks.join(F.broadcast(strength), ranks.tok == strength.u)
        .select("tok", F.col("r").alias("rank_micro"), F.col("wu").alias("strength"))
        .orderBy(F.desc("rank_micro"), F.asc("tok"))
        .limit(TEXTRANK_TOPK)
    )



# ---------------------------------------------------------------------------
# Double-sweep diameter lower bound per dup-graph component.
# ---------------------------------------------------------------------------
DIAM_ROUNDS = 6


def _sweep_sql(tag: str, start: str, rounds: int) -> str:
    """Unrolled per-component BFS: state (comp, doc_id, dist), each round
    relaxes over the edge list and keeps the min per (comp, node)."""
    ctes = []
    prev = start
    for i in range(rounds):
        cur = f"{tag}{i + 1}"
        ctes.append(
            f"""{cur} AS MATERIALIZED (
      SELECT comp, doc_id, min(dist)::BIGINT AS dist FROM (
        SELECT comp, doc_id, dist FROM {prev}
        UNION ALL
        SELECT p.comp, e.b AS doc_id, p.dist + 1 AS dist
        FROM edges e JOIN {prev} p ON e.a = p.doc_id) u
      GROUP BY comp, doc_id)"""
        )
        prev = cur
    return ",\n    ".join(ctes)


@register(
    "graph_double_sweep_diameter",
    oracle=_SQL_DUP_REACH
    + f""",
    cc AS MATERIALIZED (SELECT doc_id, min(root)::BIGINT AS comp
                        FROM reach GROUP BY doc_id),
    s0 AS (SELECT comp, comp AS doc_id, 0::BIGINT AS dist FROM cc GROUP BY comp),
    {_sweep_sql("s", "s0", DIAM_ROUNDS)},
    far AS MATERIALIZED (
      SELECT comp, doc_id AS ecc_node, dist AS ecc FROM (
        SELECT comp, doc_id, dist,
               row_number() OVER (PARTITION BY comp
                                  ORDER BY dist DESC, doc_id) AS rn
        FROM s{DIAM_ROUNDS}) x WHERE rn = 1),
    t0 AS (SELECT comp, ecc_node AS doc_id, 0::BIGINT AS dist FROM far),
    {_sweep_sql("t", "t0", DIAM_ROUNDS)},
    sz AS (SELECT comp, count(*)::BIGINT AS n_nodes FROM cc GROUP BY comp)
    SELECT f.comp AS component, sz.n_nodes, f.ecc_node,
           max(t.dist)::BIGINT AS diameter_lb
    FROM t{DIAM_ROUNDS} t
    JOIN far f ON t.comp = f.comp
    JOIN sz ON sz.comp = f.comp
    GROUP BY f.comp, sz.n_nodes, f.ecc_node
    ORDER BY component
    """,
)
def q_graph_double_sweep_diameter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-component diameter lower bound of the verified near-duplicate
    graph by the double-sweep heuristic: BFS from each component's root
    (its min doc_id), take the farthest node (the eccentric witness,
    ties to the smallest id), BFS again from it — the second sweep's
    max distance is the classic tight diameter lower bound (exact on
    trees, which near-dup template families usually are).  Diameter
    tells remediation how stringy a component is: diameter 1–2 means a
    genuine template clique; a long chain means transitive LSH gluing
    that cluster-keep-best should NOT collapse to one keeper.

    Determinism: both sweeps are fixed-round integer min-plus relaxations
    keyed by (component, node); the witness argmax ties to the smallest
    doc_id; everything is exact integers, mirrored by the unrolled-CTE
    oracle.

    Scale: the state is (comp, node, dist) — ALL components sweep
    simultaneously in the same joins (frontier-as-a-column, the Pregel
    form), so the cost is 2×6 edge-list joins with partial-agg'd mins
    regardless of component count; eager localCheckpoint per round keeps
    the plan constant-size.
    """
    edges = _shared_sym_edges(spark, sf_dir)
    cc = _shared_components(spark, sf_dir).select(
        F.col("node").alias("doc_id"), F.col("label").cast("long").alias("comp")
    )

    def _sweep(start: DataFrame) -> DataFrame:
        dist = start.localCheckpoint(eager=True)
        for _ in range(DIAM_ROUNDS):
            relaxed = edges.join(dist, edges.a == dist.doc_id).select(
                "comp", F.col("b").alias("doc_id"), (F.col("dist") + 1).alias("dist")
            )
            dist = (
                dist.unionByName(relaxed)
                .groupBy("comp", "doc_id")
                .agg(F.min("dist").cast("long").alias("dist"))
                .localCheckpoint(eager=True)
            )
        return dist

    s0 = cc.select("comp").distinct().select(
        "comp", F.col("comp").alias("doc_id"), F.lit(0).cast("long").alias("dist")
    )
    sweep1 = _sweep(s0)
    w = Window.partitionBy("comp").orderBy(F.desc("dist"), F.asc("doc_id"))
    far = (
        sweep1.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("comp", F.col("doc_id").alias("ecc_node"))
        .localCheckpoint(eager=True)
    )
    t0 = far.select("comp", F.col("ecc_node").alias("doc_id"), F.lit(0).cast("long").alias("dist"))
    sweep2 = _sweep(t0)
    sz = cc.groupBy("comp").agg(F.count(F.lit(1)).cast("long").alias("n_nodes"))
    return (
        sweep2.groupBy("comp")
        .agg(F.max("dist").cast("long").alias("diameter_lb"))
        .join(far, "comp")
        .join(sz, "comp")
        .select(
            F.col("comp").alias("component"), "n_nodes", "ecc_node", "diameter_lb"
        )
        .orderBy("component")
    )



# ---------------------------------------------------------------------------
# Expected steps to purchase (truncated Markov hitting time).
# ---------------------------------------------------------------------------
HIT_ROUNDS = 48
_HIT_SCALE = 1_000_000


def _hit_nonabs() -> list[int]:
    return [i for i, t in enumerate(_MK_TYPES) if t != "purchase"]


def _hit_iteration() -> Iteration:
    """The truncated hitting-time rounds from e = 0 as generated text (same
    in both engines): e_i' = 1 step + Σ_{j non-absorbing} (c_ij/r_i)·e_j,
    in micro-steps, floor(+0.5)-quantized per state per round.  A state
    with no outgoing transition (r_i = 0) has no hitting time: its e_i is
    NULL from the start (so Spark's loop state is nullable, see
    ``Iteration``), and the NULL spreads to every other state."""
    nonabs = _hit_nonabs()
    out = []
    for i in nonabs:
        mv = " + ".join(
            f"(CAST(c{i}_{j} AS DOUBLE) * CAST(e{j} AS DOUBLE))" for j in nonabs
        )
        out.append(
            (
                f"ne{i}",
                f"CASE WHEN r{i} = 0 THEN NULL ELSE"
                f" CAST({_HIT_SCALE} + floor(({mv}) / CAST(r{i} AS DOUBLE) + 0.5)"
                f" AS BIGINT) END",
            )
        )
    return Iteration(
        [
            (f"e{i}", f"CASE WHEN r{i} = 0 THEN NULL ELSE CAST(0 AS BIGINT) END")
            for i in nonabs
        ],
        HIT_ROUNDS,
        out,
        [name for name, _ in out],
    )


def _hit_direct_prob(i: int) -> str:
    """P(i -> purchase) rounded to 4 dp; NULL for a state with no outgoing
    transition."""
    pidx = _MK_TYPES.index("purchase")
    return (
        f"CASE WHEN r{i} = 0 THEN NULL ELSE"
        f" floor((CAST(c{i}_{pidx} AS DOUBLE) / CAST(r{i} AS DOUBLE))*10000 + 0.5)"
        f"/10000.0 END"
    )


def _hit_oracle() -> str:
    rounds, prev = iterate_rounds_sql("it", "c", _hit_iteration())
    sel = "\n      UNION ALL ".join(
        f"SELECT '{_MK_TYPES[i]}' AS event_type, "
        f"floor((CAST(e{i} AS DOUBLE) / {_HIT_SCALE}.0)*10000 + 0.5)/10000.0"
        f" AS expected_steps, "
        f"{_hit_direct_prob(i)} AS direct_purchase_prob, "
        f"r{i}::BIGINT AS out_transitions FROM {prev}"
        for i in _hit_nonabs()
    )
    cte_block = ",\n    ".join([_SQL_MK_COUNTS, *rounds])
    return f"""
    WITH {cte_block}
    {sel}
    ORDER BY event_type
    """


@register("markov_expected_steps", oracle=_hit_oracle())
def q_markov_expected_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected number of steps to reach 'purchase' from each other
    event state in the first-order user-journey chain — the hitting-time
    companion to `markov_stationary_events` (long-run occupancy),
    `markov_attribution` (absorption probability), and
    `markov_entropy_rate` (predictability): it answers "how FAR is each
    state from conversion", the journey-length metric funnel design
    optimizes.  Computed as the truncated Neumann recursion
    e ← 1 + Q·e over the 48-step horizon (Q = the chain restricted to
    non-purchase states; mass that transitions to purchase leaves the
    recursion, which is what makes it a hitting time).  With every
    state leaking ≈1/5 to purchase per step, the truncation error at 48
    rounds is ≈0.8⁴⁸ ≈ 2·10⁻⁵ of a step — below the emitted 4 dp.

    Exactness: transition counts are exact integers from per-user lag
    pairs; each round is generated ONCE as SQL text (fixed operand
    order) and floor(+0.5)-quantized to integer micro-steps per state
    BEFORE the next round, so the trajectory is bit-identical in both
    engines and under any partitioning.

    Scale: the `markov_stationary_events` economics — ONE partial-agg'd
    scan collapses the corpus to a 25-cell count frame; all 48 rounds
    are one `iterate_rounds` loop of 1-row arithmetic.
    """
    it = iterate_rounds(markov_transition_counts(spark, sf_dir), "ev", _hit_iteration())
    rows = it.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(_MK_TYPES[i]).alias("event_type"),
                        F.expr(
                            f"CAST(floor((CAST(e{i} AS DOUBLE) / {_HIT_SCALE}.0)"
                            f"*10000 + 0.5)/10000.0 AS DOUBLE)"
                        ).alias("expected_steps"),
                        F.expr(f"CAST({_hit_direct_prob(i)} AS DOUBLE)").alias(
                            "direct_purchase_prob"
                        ),
                        F.col(f"r{i}").cast("long").alias("out_transitions"),
                    )
                    for i in _hit_nonabs()
                ]
            )
        ).alias("s")
    ).select("s.*")
    return rows.orderBy("event_type")



# ---------------------------------------------------------------------------
# Personalized PageRank (restart to a seed document).
# ---------------------------------------------------------------------------
PPR_ITER = 5


def _ppr_round_sql(prev: str, cur: str) -> str:
    return f"""
    {cur} AS MATERIALIZED (
      SELECT n.doc_id,
             ((CASE WHEN n.doc_id = (SELECT s FROM seed)
                    THEN 150000 * (SELECT n FROM nn) ELSE 0 END)
              + (85 * coalesce(s.m, 0)) // 100)::BIGINT AS r
      FROM nodes n LEFT JOIN (
        SELECT e.b AS doc_id, sum(p.r // d.deg)::BIGINT AS m
        FROM edges e JOIN {prev} p ON e.a = p.doc_id
        JOIN deg d ON e.a = d.doc_id
        GROUP BY e.b) s ON n.doc_id = s.doc_id)"""


@register(
    "dup_personalized_pagerank",
    oracle=_SQL_DUP_EDGES.replace("edges AS (SELECT", "edges AS MATERIALIZED (SELECT")
    + """,
    nodes AS MATERIALIZED (SELECT DISTINCT a AS doc_id FROM edges),
    deg AS MATERIALIZED (SELECT a AS doc_id, count(*)::BIGINT AS deg
                         FROM edges GROUP BY a),
    seed AS (SELECT min(doc_id)::BIGINT AS s FROM nodes),
    nn AS (SELECT count(*)::BIGINT AS n FROM nodes),
    p0 AS (SELECT doc_id, 1000000::BIGINT AS r FROM nodes),"""
    + ",".join(_ppr_round_sql(f"p{i}", f"p{i + 1}") for i in range(PPR_ITER))
    + f"""
    SELECT doc_id, r AS ppr_micro FROM p{PPR_ITER} ORDER BY doc_id
    """,
)
def q_dup_personalized_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Personalized PageRank on the verified near-duplicate graph with
    ALL restart mass directed at a seed document (the graph's smallest
    doc_id, standing in for "a doc a reviewer just flagged"): after 5
    damped rounds, a node's score is its random-walk affinity to the
    seed — the guilt-by-association expansion that finds the rest of a
    bad template family even beyond direct LSH pairs, where the uniform
    `dup_graph_pagerank` only measures global centrality.  Mass in
    components the seed can't reach decays toward 0 geometrically
    (0.85⁵ of the uniform start) — the separation IS the signal.

    Determinism: the `dup_graph_pagerank` integer arithmetic with the
    teleport term concentrated on the seed (150000·n micro-units, the
    same total restart mass the uniform variant spreads); per-edge
    contributions r//deg are nonnegative integer divisions; 5 fixed
    rounds; left join + coalesce keeps in-edge-less nodes exact.

    Scale: one edge-join + partial-agg'd sum per round against the
    broadcastable rank table, eager-localCheckpointed — identical
    economics to the uniform variant; the seed and node-count scalars
    are 1-row broadcasts.
    """
    edges = _shared_sym_edges(spark, sf_dir)
    nodes = edges.select(F.col("a").alias("doc_id")).distinct().localCheckpoint(eager=True)
    deg = edges.groupBy(F.col("a").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("long").alias("deg")
    )
    seed = nodes.agg(F.min("doc_id").cast("long").alias("s"))
    nn = nodes.agg(F.count(F.lit(1)).cast("long").alias("n"))
    src = edges.join(deg.withColumnRenamed("doc_id", "a"), "a").localCheckpoint(eager=True)
    ranks = nodes.withColumn("r", F.lit(1000000).cast("long"))
    for _ in range(PPR_ITER):
        m = (
            src.join(ranks, src.a == ranks.doc_id)
            .select(F.col("b"), F.expr("r DIV deg").alias("c"))
            .groupBy("b")
            .agg(F.sum("c").cast("long").alias("m"))
        )
        ranks = (
            nodes.join(m, nodes.doc_id == m.b, "left")
            .crossJoin(F.broadcast(seed))
            .crossJoin(F.broadcast(nn))
            .select(
                "doc_id",
                (
                    F.when(F.col("doc_id") == F.col("s"), 150000 * F.col("n")).otherwise(0)
                    + F.expr("(85 * coalesce(m, 0)) DIV 100")
                )
                .cast("long")
                .alias("r"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks.select("doc_id", F.col("r").alias("ppr_micro")).orderBy("doc_id")


# ---------------------------------------------------------------------------
# k-core decomposition (fixed-round peeling) on the near-dup graph.
# ---------------------------------------------------------------------------
_KCORE_K = 2
_KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    # every e{r} feeds BOTH d{r} and e{r+1}, and a{r} feeds both join
    # sides — without AS MATERIALIZED DuckDB inlines each reference and
    # re-evaluates the whole upstream shingle/LSH/verify pipeline
    # ~2^rounds times, which is what blew its 24 GiB temp cap at slice
    # scale in r8/r9 (the house multi-consumer-CTE rule, applied late)
    rounds = []
    for r in range(_KCORE_ROUNDS):
        rounds.append(
            f"d{r} AS (SELECT a, count(*)::BIGINT AS deg FROM e{r} GROUP BY a),\n"
            f"    a{r} AS MATERIALIZED (SELECT a FROM d{r} WHERE deg >= {_KCORE_K}),\n"
            f"    e{r + 1} AS MATERIALIZED (SELECT e.a, e.b FROM e{r} e"
            f" JOIN a{r} x ON e.a = x.a JOIN a{r} y ON e.b = y.a)"
        )
    last = _KCORE_ROUNDS
    return f"""
    WITH {_SQL_VERIFIED},
    e0 AS MATERIALIZED (SELECT id_1 AS a, id_2 AS b FROM verified
           UNION ALL SELECT id_2, id_1 FROM verified),
    {",".join(rounds)}
    SELECT a AS doc_id, count(*)::BIGINT AS core_degree
    FROM e{last} GROUP BY a ORDER BY doc_id
    """


@register("graph_kcore", oracle=_kcore_oracle())
def q_graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-core of the verified near-duplicate graph by fixed-round peeling
    (3 rounds): repeatedly drop nodes with degree < 2 and the edges that
    touch them, then emit the survivors with their residual degree.  The
    graph-analytics companion to dedup_clusters / dup_graph_pagerank /
    dup_graph_triangles: the k-core separates genuinely interlinked
    template families (every member has >= k near-dup partners even after
    peeling) from star-shaped accretion around one hub doc.  Fixed round
    count (not to-convergence) keeps both engines bit-identical by
    construction; on the fixture the peeling converges within 3 rounds.

    Scale: each round is one partial-agg'd degree count over the
    (near-dup-edge-sized) pair table plus two semi-joins against the
    shrinking alive set — the same per-round economics as the unrolled
    pagerank, over an edge table that only ever shrinks.  Eager
    localCheckpoint between rounds keeps the logical plan constant-size
    (the iterative-Spark lineage trap).
    """
    # session-shared symmetric edge table (round 11); pairs are unique
    # with id_1 < id_2, so the old non-distinct union is the same set
    edges = _shared_sym_edges(spark, sf_dir)
    for _ in range(_KCORE_ROUNDS):
        deg = edges.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        alive = deg.filter(F.col("deg") >= _KCORE_K).select("a")
        edges = (
            edges.join(alive, "a")
            .join(alive.withColumnRenamed("a", "b"), "b")
            .select("a", "b")
            .localCheckpoint(eager=False)
        )
    return (
        edges.groupBy("a")
        .agg(F.count(F.lit(1)).cast("long").alias("core_degree"))
        .select(F.col("a").alias("doc_id"), "core_degree")
        .orderBy("doc_id")
    )
