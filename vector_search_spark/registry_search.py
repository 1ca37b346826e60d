"""Registry entries: dense KNN search, the MCP search path, lexical BM25
and hybrid (dense ⊕ lexical) search.

The paper's own query surface comes first: exact KNN top-k (single query,
batched similarity join, payload-filtered), rerank scoring, and the full
MCP path (over-fetch, rerank, score and date filters).  The reference is
dense-vector-only; a user switching engines gets the
standard production companions here: BM25 keyword ranking over the same
corpus and reciprocal-rank-fusion hybrid search combining the BM25 list
with the dense KNN list (doc_id ≡ vec_id, same identity `search_pipeline`
uses).  Both oracles are full DuckDB twins — the BM25 fold is ordered on
both sides so double addition cannot drift (memory/cross-engine-
determinism.md).

Since the round-6 module reorg this module also holds the retrieval
re-rankers moved verbatim from registry_round6: `mmr_diversify_topk`
(maximal-marginal-relevance diversification) and `rocchio_prf_search`
(pseudo-relevance-feedback query expansion).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .catalog import register
from .encoders import hash_rerank_score
from .functions.scalar import _fdiv, relevance_label, round4, sigmoid
from .functions.vector import dot_product
from .operators.bm25 import bm25_topk, rrf_fuse
from .operators.knn import knn_topk, similarity_join
from .sources.tables import load_table as _t


# ---------------------------------------------------------------------------
# Q1 — KNN top-k by dot product (reference `query.py:53-55`, k=20).
# Query vector = embeddings row vec_id=0, so both engines derive it from the
# same data.  Exact scored scan; plan is TakeOrderedAndProject (no shuffle).
# ---------------------------------------------------------------------------
@register(
    "knn_topk",
    oracle="""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           floor((list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]))*10000 + 0.5)/10000.0 AS score
    FROM embeddings e CROSS JOIN q
    ORDER BY list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, e.vec_id
    LIMIT 20
    """,
)
def q_knn_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("__qvec"))
    scored = emb.crossJoin(F.broadcast(q)).withColumn(
        "raw_score", dot_product("embedding", "__qvec")
    )
    return (
        scored.orderBy(F.desc("raw_score"), F.asc("vec_id"))
        .limit(20)
        .select("vec_id", "label", round4("raw_score").alias("score"))
    )


# ---------------------------------------------------------------------------
# Q2 — batched multi-query KNN (similarity join): the Spark-native
# generalization of the reference's per-query entry points (SURVEY.md §2.4).
# Queries = embeddings rows vec_id<5; top-10 per query.
# ---------------------------------------------------------------------------
@register(
    "knn_multi_query",
    oracle="""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5)
    SELECT query_id, vec_id, floor((score)*10000 + 0.5)/10000.0 AS score, rank::INTEGER AS rank FROM (
      SELECT q.query_id, e.vec_id,
             list_dot_product(e.embedding::DOUBLE[], q.qvec::DOUBLE[]) AS score,
             row_number() OVER (
               PARTITION BY q.query_id
               ORDER BY list_dot_product(e.embedding::DOUBLE[], q.qvec::DOUBLE[]) DESC, e.vec_id
             ) AS rank
      FROM embeddings e CROSS JOIN q
    ) WHERE rank <= 10
    """,
)
def q_knn_multi_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    out = similarity_join(emb, queries, k=10)
    return out.select("query_id", "vec_id", round4("score").alias("score"), "rank")


# ---------------------------------------------------------------------------
# Q1-filtered — KNN with a payload predicate (MCP filtered search).  The
# label filter pushes down to the parquet scan BEFORE scoring.
# ---------------------------------------------------------------------------
@register(
    "knn_filtered",
    oracle="""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0)
    SELECT e.vec_id, e.label,
           floor((list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]))*10000 + 0.5)/10000.0 AS score
    FROM embeddings e CROSS JOIN q
    WHERE e.label = 3
    ORDER BY list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC, e.vec_id
    LIMIT 20
    """,
)
def q_knn_filtered(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _t(spark, sf_dir, "embeddings")
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    out = knn_topk(
        emb, qvec, k=20, payload_cols=["label"], where=F.col("label") == 3
    )
    return out.select("vec_id", "label", round4("score").alias("score"))


# ---------------------------------------------------------------------------
# E3/E4/E5 — rerank scoring surface: deterministic cross-encoder stub +
# sigmoid probability + relevance label (reference query.py:16-27,57-66).
# ---------------------------------------------------------------------------
_RERANK_SQL = "((('0x'||substr(md5('what is spark' || '|' || text),1,8))::BIGINT % 100000)/100000.0*8-4)"


@register(
    "rerank_scores",
    oracle=f"""
    SELECT doc_id,
           floor((rr)*10000 + 0.5)/10000.0 AS rerank_score,
           floor((1/(1+exp(-rr)))*10000 + 0.5)/10000.0 AS probability,
           CASE WHEN rr >= 3 THEN 'high' WHEN rr >= 0 THEN 'medium' ELSE 'low' END AS relevance
    FROM (SELECT doc_id, {_RERANK_SQL} AS rr FROM documents)
    ORDER BY rr DESC, doc_id
    LIMIT 20
    """,
)
def q_rerank_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _t(spark, sf_dir, "documents")
    rr = docs.withColumn("rr", hash_rerank_score(F.lit("what is spark"), F.col("text")))
    return (
        rr.orderBy(F.desc("rr"), F.asc("doc_id"))
        .limit(20)
        .select(
            "doc_id",
            round4("rr").alias("rerank_score"),
            round4(sigmoid("rr")).alias("probability"),
            relevance_label("rr").alias("relevance"),
        )
    )


# ---------------------------------------------------------------------------
# Full MCP query path (SURVEY.md §3.3): KNN k=50 over-fetch → rerank →
# min_score → inclusive date range with null pass-through → limit 10 →
# projection with 4-dp score (`mcp_server.py:79-215`).
# The chunks table is synthesized deterministically from documents ⋈
# embeddings (fixture docs carry no date/category; both engines derive the
# same ones from doc_id).
# ---------------------------------------------------------------------------
@register(
    "search_pipeline",
    oracle=f"""
    WITH chunks AS (
      SELECT e.vec_id AS chunk_id, e.embedding, d.text,
             'Doc ' || d.doc_id AS title,
             CASE WHEN d.doc_id % 17 = 0 THEN NULL
                  ELSE DATE '2024-01-01' + (d.doc_id % 365)::INT END AS date,
             CASE d.doc_id % 3 WHEN 0 THEN 'idea' WHEN 1 THEN 'quote'
                  ELSE 'question' END AS category,
             'https://example.com/' || d.source || '/' || d.doc_id AS url
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
    ),
    q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    cand AS (
      SELECT c.*, list_dot_product(c.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS knn_score
      FROM chunks c CROSS JOIN q
      ORDER BY knn_score DESC, chunk_id LIMIT 50
    ),
    rr AS (SELECT *, {_RERANK_SQL} AS rerank_score FROM cand)
    SELECT chunk_id, title, date, category, url, text, floor((rerank_score)*10000 + 0.5)/10000.0 AS score
    FROM rr
    WHERE rerank_score >= 0.0
      AND (date IS NULL OR (date >= DATE '2024-02-01' AND date <= DATE '2024-11-30'))
    ORDER BY rerank_score DESC, chunk_id
    LIMIT 10
    """,
)
def q_search_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .plans.search import search

    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents")
    chunks = (
        emb.join(docs, emb.vec_id == docs.doc_id)
        .select(
            F.col("vec_id").alias("chunk_id"),
            "embedding",
            "text",
            F.concat(F.lit("Doc "), F.col("doc_id")).alias("title"),
            F.when(F.col("doc_id") % 17 == 0, F.lit(None).cast("date"))
            .otherwise(
                F.date_add(F.lit("2024-01-01").cast("date"), (F.col("doc_id") % 365).cast("int"))
            )
            .alias("date"),
            F.element_at(
                F.array(F.lit("idea"), F.lit("quote"), F.lit("question")),
                (F.col("doc_id") % 3 + 1).cast("int"),
            ).alias("category"),
            F.concat_ws(
                "/", F.lit("https://example.com"), F.col("source"), F.col("doc_id")
            ).alias("url"),
        )
    )
    qvec = emb.filter(F.col("vec_id") == 0).select("embedding").first()[0]
    return search(
        chunks,
        qvec,
        "what is spark",
        k=50,
        min_score=0.0,
        from_date="2024-02-01",
        to_date="2024-11-30",
        limit=10,
    )


_BM25_QUERY = "spark join stream"
_K1 = 1.2
_B = 0.75

# DuckDB twin of operators/bm25.bm25_scored for the fixed query above.
# Shapes mirror the Spark plan stage-for-stage: postings filtered to query
# terms before aggregation; avgdl = one int division; ordered list fold.
_BM25_SCORED_SQL = f"""
    toks AS (
      SELECT doc_id, unnest(regexp_split_to_array(trim(lower(text)), '\\s+')) AS tok
      FROM documents WHERE trim(text) != ''),
    qterms AS (SELECT unnest(['join', 'spark', 'stream']) AS tok),
    qtoks AS (SELECT doc_id, tok FROM toks JOIN qterms USING (tok)),
    tf AS (SELECT doc_id, tok, count(*)::BIGINT AS tf FROM qtoks GROUP BY 1, 2),
    df AS (SELECT tok, count(DISTINCT doc_id)::BIGINT AS df FROM qtoks GROUP BY 1),
    dl AS (
      SELECT doc_id,
             CASE WHEN trim(text) = '' THEN 0
                  ELSE len(regexp_split_to_array(trim(lower(text)), '\\s+'))
             END::BIGINT AS dl
      FROM documents),
    stats AS (SELECT sum(dl)*1.0/count(*) AS avgdl, count(*)::BIGINT AS n_docs FROM dl),
    contrib AS (
      SELECT tf.doc_id, tf.tok,
             ln(1.0 + (stats.n_docs - df.df + 0.5)/(df.df + 0.5))
               * (tf.tf * {_K1 + 1.0})
               / (tf.tf + {_K1}*(1.0 - {_B} + {_B}*dl.dl/stats.avgdl)) AS c
      FROM tf JOIN df USING (tok) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats),
    bm25 AS (
      SELECT doc_id,
             list_reduce(list_prepend(0.0, list(c ORDER BY tok)),
                         (acc, x) -> acc + x) AS raw_score
      FROM contrib GROUP BY doc_id)
"""


@register(
    "bm25_topk",
    oracle=f"""
    WITH {_BM25_SCORED_SQL}
    SELECT doc_id, floor((raw_score)*10000 + 0.5)/10000.0 AS score,
           rank::INTEGER AS rank
    FROM (SELECT doc_id, raw_score,
                 row_number() OVER (ORDER BY raw_score DESC, doc_id) AS rank
          FROM bm25)
    WHERE rank <= 20
    """,
)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 BM25 (k1=1.2, b=0.75, Lucene idf) for a 3-term query.

    Scale shape: postings are filtered to the query terms before the tf/df
    shuffles (exchange is O(matching docs)); the final top-k is a window
    row_number over the scored set — bounded output, tie-broken by id."""
    docs = _t(spark, sf_dir, "documents")
    out = bm25_topk(docs, _BM25_QUERY, k=20, k1=_K1, b=_B)
    return out.select("doc_id", round4("raw_score").alias("score"), "rank")


@register(
    "hybrid_rrf_search",
    oracle=f"""
    WITH {_BM25_SCORED_SQL},
    lex AS (
      SELECT doc_id, row_number() OVER (ORDER BY raw_score DESC, doc_id) AS rank
      FROM bm25 QUALIFY rank <= 50),
    qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    dense AS (
      SELECT vec_id AS doc_id,
             row_number() OVER (
               ORDER BY list_dot_product(e.embedding::DOUBLE[], qv.embedding::DOUBLE[]) DESC,
                        vec_id) AS rank
      FROM embeddings e CROSS JOIN qv QUALIFY rank <= 50),
    fused AS (
      SELECT coalesce(lex.doc_id, dense.doc_id) AS doc_id,
             coalesce(lex.rank, -1) AS lex_rank,
             coalesce(dense.rank, -1) AS dense_rank,
             coalesce(1.0/(60 + lex.rank), 0.0)
               + coalesce(1.0/(60 + dense.rank), 0.0) AS raw_rrf
      FROM lex FULL OUTER JOIN dense ON lex.doc_id = dense.doc_id)
    SELECT doc_id, lex_rank::INTEGER AS lex_rank, dense_rank::INTEGER AS dense_rank,
           floor((raw_rrf)*10000 + 0.5)/10000.0 AS rrf_score,
           row_number() OVER (ORDER BY raw_rrf DESC, doc_id)::INTEGER AS rank
    FROM fused
    QUALIFY rank <= 20
    """,
)
def q_hybrid_rrf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid search: BM25 top-50 ⊕ dense-KNN top-50 fused with RRF
    (k=60), final top-20.

    The dense leg is the same exact-KNN plan as `knn_topk` (vectors never
    shuffled; TakeOrderedAndProject); the lexical leg is `bm25_topk`; the
    fusion joins two 50-row lists — broadcast, O(1) regardless of corpus
    size.  Ranks are −1-sentinel NULL-free ints."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    emb = _t(spark, sf_dir, "embeddings")

    lex = bm25_topk(docs, _BM25_QUERY, k=50, k1=_K1, b=_B).select("doc_id", "rank")

    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("__qvec"))
    scored = emb.crossJoin(F.broadcast(q)).select(
        F.col("vec_id").alias("doc_id"),
        dot_product("embedding", "__qvec").alias("raw_score"),
    )
    # limit-then-rank: TakeOrderedAndProject bounds the dense leg before
    # any window touches it (a pre-limit global window would single-task
    # the whole embedding scan)
    wd = Window.orderBy(F.desc("raw_score"), F.asc("doc_id"))
    dense = (
        scored.orderBy(F.desc("raw_score"), F.asc("doc_id"))
        .limit(50)
        .withColumn("rank", F.row_number().over(wd))
        .select("doc_id", "rank")
    )

    fused = rrf_fuse(lex, dense, id_col="doc_id", k=60)
    wf = Window.orderBy(F.desc("raw_rrf"), F.asc("doc_id"))
    return (
        fused.withColumn("rank", F.row_number().over(wf))
        .filter(F.col("rank") <= 20)
        .select(
            "doc_id",
            F.col("rank_a").alias("lex_rank"),
            F.col("rank_b").alias("dense_rank"),
            round4("raw_rrf").alias("rrf_score"),
            "rank",
        )
    )


# --- moved verbatim from registry_round6 (round-6 module reorg) ---

# ---------------------------------------------------------------------------
# Maximal-marginal-relevance re-ranking of the exact top-20 candidates.
# ---------------------------------------------------------------------------
MMR_CAND = 20
MMR_PICKS = 5
# objective in micro units: (7·rel − 3·maxsim) / 10, i.e. λ = 0.7
_MMR_OBJ = _fdiv("7*rel - 3*ms", "10")


def _mmr_round_sql(t: int) -> str:
    prev = f"sel{t - 1}"
    return f"""
    pick{t} AS MATERIALIZED (
      SELECT {t}::BIGINT AS pick, r.vec_id, {_MMR_OBJ} AS mmr_micro
      FROM (
        SELECT c.vec_id, c.rel,
               coalesce((SELECT max(s.sim) FROM sims s
                         JOIN {prev} p ON s.b = p.vec_id
                         WHERE s.a = c.vec_id), 0) AS ms
        FROM cand c
        WHERE c.vec_id NOT IN (SELECT vec_id FROM {prev})) r
      ORDER BY {_MMR_OBJ} DESC, r.vec_id LIMIT 1),
    sel{t} AS MATERIALIZED (
      SELECT pick, vec_id, mmr_micro FROM {prev}
      UNION ALL SELECT pick, vec_id, mmr_micro FROM pick{t})"""


@register(
    "mmr_diversify_topk",
    oracle=f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    cand AS MATERIALIZED (
      SELECT e.vec_id, e.label,
             CAST(floor(list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[])
                        * 1000000 + 0.5) AS BIGINT) AS rel,
             e.embedding
      FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0
      ORDER BY list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) DESC,
               e.vec_id
      LIMIT {MMR_CAND}),
    sims AS MATERIALIZED (
      SELECT a.vec_id AS a, b.vec_id AS b,
             CAST(floor(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                        * 1000000 + 0.5) AS BIGINT) AS sim
      FROM cand a JOIN cand b ON a.vec_id != b.vec_id),
    sel0 AS (SELECT CAST(NULL AS BIGINT) AS pick, CAST(NULL AS BIGINT) AS vec_id,
                    CAST(NULL AS BIGINT) AS mmr_micro WHERE FALSE),"""
    + ",".join(_mmr_round_sql(t) for t in range(1, MMR_PICKS + 1))
    + f"""
    SELECT s.pick, s.vec_id, c.label, s.mmr_micro
    FROM sel{MMR_PICKS} s JOIN cand c ON s.vec_id = c.vec_id
    ORDER BY s.pick
    """,
)
def q_mmr_diversify_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversification (Carbonell & Goldstein
    1998) of the exact top-20 KNN candidates for query vector 0: 5
    greedy picks maximizing λ·relevance − (1−λ)·max-similarity-to-
    already-picked (λ = 0.7) — the re-ranker that stops a result page
    being five near-copies of the same document, sitting beside
    `hybrid_rrf_search` (fusion) and the rerank stage (pointwise
    scoring) in the search surface.

    Determinism: relevance and pairwise similarities are quantized to
    micro ints ONCE (floor(dot·1e6 + 0.5)); the greedy objective
    (7·rel − 3·maxsim)/10 is portable floor division (similarities can
    be negative); argmax ties break by vec_id; 5 fixed unrolled rounds.
    The first pick's maxsim is 0 over the empty set, so one uniform
    formula covers every round in both engines.

    Scale: the candidate set is the output of the exact KNN top-k
    (TakeOrderedAndProject, vectors never shuffled); MMR itself touches
    only k=20 rows and a 20×19 similarity table — constant-size work
    re-planned per round on 1-row frames, which is why MMR is always a
    post-top-k stage and never a corpus operator.
    """
    from .functions.vector import dot_product

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("q_emb"))
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))
        .withColumn("raw", dot_product("embedding", "q_emb"))
        .orderBy(F.desc("raw"), F.asc("vec_id"))
        .limit(MMR_CAND)
        .select(
            "vec_id",
            "label",
            F.expr("CAST(floor(raw * 1000000 + 0.5) AS BIGINT)").alias("rel"),
            "embedding",
        )
        .localCheckpoint(eager=True)
    )
    a = cand.select(F.col("vec_id").alias("a"), F.col("embedding").alias("ea"))
    b = cand.select(F.col("vec_id").alias("b"), F.col("embedding").alias("eb"))
    sims = (
        a.crossJoin(b)
        .filter(F.col("a") != F.col("b"))
        .select(
            "a",
            "b",
            F.expr(
                "CAST(floor(aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),"
                " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v) * 1000000 + 0.5) AS BIGINT)"
            ).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    sel = spark.createDataFrame([], "pick long, vec_id long, mmr_micro long")
    for t in range(1, MMR_PICKS + 1):
        ms = (
            sims.join(sel.select(F.col("vec_id").alias("b")), "b")
            .groupBy("a")
            .agg(F.max("sim").alias("ms"))
        )
        pick = (
            cand.join(sel.select("vec_id"), "vec_id", "left_anti")
            .join(ms, cand.vec_id == ms.a, "left")
            .withColumn("ms", F.coalesce(F.col("ms"), F.lit(0)).cast("long"))
            .withColumn("mmr_micro", F.expr(_MMR_OBJ))
            .orderBy(F.desc("mmr_micro"), F.asc("vec_id"))
            .limit(1)
            .select(
                F.lit(t).cast("long").alias("pick"),
                F.col("vec_id").cast("long").alias("vec_id"),
                "mmr_micro",
            )
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return (
        sel.join(cand.select("vec_id", "label"), "vec_id")
        .select("pick", "vec_id", "label", "mmr_micro")
        .orderBy("pick")
    )



# ---------------------------------------------------------------------------
# Rocchio pseudo-relevance-feedback query expansion.
# ---------------------------------------------------------------------------
PRF_FB = 10  # feedback depth
PRF_TOPK = 10


@register(
    "rocchio_prf_search",
    oracle=f"""
    WITH q AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    sc AS MATERIALIZED (
      SELECT e.vec_id, e.embedding,
             list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) AS s
      FROM embeddings e CROSS JOIN q WHERE e.vec_id != 0),
    fb AS MATERIALIZED (
      SELECT embedding FROM sc ORDER BY s DESC, vec_id LIMIT {PRF_FB}),
    ex AS (
      SELECT dim, sum(CAST(floor(v * 1000000 + 0.5) AS BIGINT))::BIGINT AS csum
      FROM (SELECT unnest(embedding::DOUBLE[]) AS v,
                   generate_subscripts(embedding::DOUBLE[], 1) AS dim
            FROM fb) u
      GROUP BY dim),
    q0e AS (
      SELECT generate_subscripts(embedding::DOUBLE[], 1) AS dim,
             CAST(floor(unnest(embedding::DOUBLE[]) * 1000000 + 0.5) AS BIGINT) AS q0m
      FROM q),
    qp AS (
      SELECT q0e.dim, (q0m + {_fdiv("csum", str(2 * PRF_FB))}) AS qpv
      FROM q0e JOIN ex ON q0e.dim = ex.dim),
    qparr AS (SELECT list(CAST(qpv AS DOUBLE) ORDER BY dim) AS qpl FROM qp)
    SELECT e.vec_id, e.label,
           floor((list_dot_product(e.embedding::DOUBLE[], qparr.qpl) / 1000000.0)
                 * 10000 + 0.5)/10000.0 AS score
    FROM embeddings e CROSS JOIN qparr WHERE e.vec_id != 0
    ORDER BY list_dot_product(e.embedding::DOUBLE[], qparr.qpl) DESC, e.vec_id
    LIMIT {PRF_TOPK}
    """,
)
def q_rocchio_prf_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio pseudo-relevance feedback for query vector 0: take the
    exact top-10 by dot product, blend their centroid into the query
    (q' = q + β·centroid, β = 0.5), and re-run the exact scan with the
    expanded query — the classical one-round PRF loop that pulls the
    query toward the neighborhood consensus (Rocchio 1971; the
    dense-vector analogue of RM3).  Emits the new top-10.

    Determinism: feedback-document elements are quantized to micro ints
    BEFORE the per-dimension sum (the house float-fold rule, so the
    centroid is addition-order-free); the blend q0_micro + csum/(2·10)
    is portable floor division (elements go negative); the rescan folds
    CAST(micro AS DOUBLE) against each vector with the same sequential
    dot both engines use.

    Scale: PRF costs one extra 64-row aggregate (posexplode of 10
    feedback vectors), a 1-row array rebuild broadcast back into the
    scan, and a second exact TakeOrderedAndProject pass — i.e. exactly
    2× the KNN scan with no new shuffle, which is why PRF survives at
    corpus scale while feedback methods needing per-document state
    don't.
    """
    from .functions.vector import dot_product

    emb = _t(spark, sf_dir, "embeddings")
    docs = emb.filter(F.col("vec_id") != 0)
    # the 1-row query vector feeds both the feedback scan and the q0
    # explode — checkpoint it so only the two genuine PRF corpus passes
    # remain (plan audit showed embeddings x4)
    q = (
        emb.filter(F.col("vec_id") == 0)
        .select(F.col("embedding").alias("q_emb"))
        .localCheckpoint(eager=True)
    )
    fb = (
        docs.crossJoin(F.broadcast(q))
        .withColumn("s", dot_product("embedding", "q_emb"))
        .orderBy(F.desc("s"), F.asc("vec_id"))
        .limit(PRF_FB)
        .select("embedding")
    )
    ex = (
        fb.select(F.posexplode("embedding").alias("dim0", "v"))
        .groupBy((F.col("dim0") + 1).alias("dim"))
        .agg(
            F.sum(F.expr("CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)"))
            .cast("long")
            .alias("csum")
        )
    )
    q0e = q.select(F.posexplode("q_emb").alias("dim0", "v")).select(
        (F.col("dim0") + 1).alias("dim"),
        F.expr("CAST(floor(CAST(v AS DOUBLE) * 1000000 + 0.5) AS BIGINT)").alias("q0m"),
    )
    qp = q0e.join(ex, "dim").select(
        "dim", F.expr(f"q0m + {_fdiv('csum', str(2 * PRF_FB))}").alias("qpv")
    )
    qparr = qp.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(dim, qpv))), x -> CAST(x.qpv AS DOUBLE))"
        ).alias("qpl")
    )
    rescored = (
        docs.crossJoin(F.broadcast(qparr))
        .withColumn("raw", dot_product("embedding", "qpl"))
    )
    return (
        rescored.orderBy(F.desc("raw"), F.asc("vec_id"))
        .limit(PRF_TOPK)
        .select(
            "vec_id",
            "label",
            F.expr("CAST(floor((raw / 1000000.0) * 10000 + 0.5)/10000.0 AS DOUBLE)").alias(
                "score"
            ),
        )
    )


