"""Driver-contract query registry: Spark impl + DuckDB oracle per operator.

Every operator claimed done in SURVEY.md §2 gets a ``QUERIES[name]``
(callable ``(spark, sf_dir) -> DataFrame``) and, when SQL-expressible, an
``ORACLES[name]`` ANSI-SQL string DuckDB runs over the same parquet views.
Column names/aliases match on both sides (the driver hash-compares after
sorting columns by name).  Float-valued outputs are rounded to 4 dp on both
sides so double math hashes identically.
"""

from __future__ import annotations

import functools
import sys
import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .encoders import hash_rerank_score
from .functions.scalar import relevance_label, round4, sigmoid
from .functions.vector import dot_product
from .operators.knn import knn_topk, similarity_join

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Queries whose CONTRACT ends in a global ORDER BY: row order is part of
# the result (tie-broken by id, so fully deterministic).  The invariance
# suite compares their collected rows WITHOUT sorting, and the bench
# harness consumes them with a real collect() — for everything else the
# bench uses checksum_consume() below, because order is not contractual
# (the driver comparator sorts) and O(corpus) py4j row transfer at
# ~4-6 us/row was 7 of the 9 superlinear decade flags at 100x
# (SCALING_MEASURED.md round-7; VERDICT r7 "what's wrong" #1).
ORDERED_QUERIES = frozenset({
    "knn_topk",            # rank within query, id tie-break
    "search_pipeline",     # reranked + re-sorted
    "dedup_embedding_srp", # top-50 by cosine desc, id tie-break
    "multimodal_features", # ORDER BY doc_id, feat_idx
    "tfidf_top_terms",
    "top_orders_per_customer",
})


def checksum_frame(df: DataFrame) -> DataFrame:
    """1-row (n, checksum) frame that materializes a query entirely
    JVM-side.

    ``xxhash64`` over EVERY output column forces full evaluation of the
    final projection (a bare ``count()`` would let Catalyst prune it —
    the known count()-only smoke trap), while the 1-row aggregate keeps
    O(corpus) py4j row transfer out of the timing.  This is how a real
    cluster consumes a big result (sink or downstream stage), so decade
    benchmarks measure the ENGINE, not the driver's row decoder.  Note
    Catalyst legally drops a trailing non-contractual ORDER BY under the
    aggregate — for ordering-contract queries use collect() instead
    (see ORDERED_QUERIES).  Benchmarks should build this frame ONCE per
    query and collect it per rep, so reps don't re-pay plan analysis.
    """
    return df.select(F.xxhash64(*df.columns).alias("__h")).agg(
        # bit_xor alone cancels even-multiplicity rows (a duplicated pair
        # of row A swapped for a duplicated pair of row B xors identical
        # — ADVICE r8), so a multiplicity-sensitive decimal SUM rides
        # along; decimal(38,0) holds 2^63 x row-count without ANSI
        # bigint overflow (the concern that ruled out a bigint sum).
        F.count("*").alias("n"),
        F.expr("bit_xor(__h)").alias("checksum"),
        F.sum(F.col("__h").cast("decimal(38,0)")).alias("checksum_sum"),
    )


def checksum_consume(df: DataFrame) -> int:
    """One-shot convenience over :func:`checksum_frame`: row count."""
    return checksum_frame(df).first()["n"]


def register(name: str, oracle: str | None = None):
    """Decorator: add a (spark, sf_dir) -> DataFrame query, with optional oracle."""

    def deco(fn: Callable[[SparkSession, str], DataFrame]):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco


# ---------------------------------------------------------------------------
# Session-shared artifacts: the amortized-index model (build once per
# corpus, query many times).  Shingle and signature tables, ANN indexes,
# trained tokenizers and the suffix-rank pyramid are each built once per
# (session, sf_dir) by an ``@artifact`` builder and reused by every
# consuming query.  Assumes the parquet under sf_dir is immutable for the
# session.  A new session (a restarted bench, ``spark.newSession()``)
# rebuilds, releasing the stale session's persisted DataFrames first.
# ---------------------------------------------------------------------------
@dataclass(frozen=True)
class Artifact:
    name: str
    get: Callable[[SparkSession, str], object]  # the cached builder
    deps: tuple[str, ...]  # artifacts the build requests
    # artifacts that builds of this one have requested so far (the check
    # that ``deps`` matches the code)
    requested: set[str] = field(default_factory=set, compare=False)


# In registration order, which puts every artifact after its deps.
ARTIFACTS: dict[str, Artifact] = {}
_BUILT: dict[tuple[str, str], tuple[SparkSession, object]] = {}
_BUILDING: list[str] = []  # artifacts being built, innermost last


def _release(value: object) -> None:
    """Unpersist every DataFrame in an artifact value (a DataFrame, or a
    tuple holding some)."""
    if isinstance(value, DataFrame):
        try:
            value.unpersist()
        except Exception:
            pass  # old session already stopped — nothing to release
    elif isinstance(value, tuple):
        for v in value:
            _release(v)


def artifact(deps: tuple[str, ...] = (), checkpoint: bool = False):
    """Decorator: cache a ``(spark, sf_dir) -> value`` builder per
    (session, sf_dir) and add it to ``ARTIFACTS`` under its function name.

    ``deps`` names the artifacts the build requests.  A builder that
    returns one lazy DataFrame has it materialized here: persisted and
    counted, or with ``checkpoint=True`` an eager ``localCheckpoint`` —
    same storage as persist, but the LOGICAL plan is truncated too, so
    consumers of a deep build (the banded self-join, the cascade verify)
    don't re-analyze the whole artifact lineage on every query plan.  A
    builder that returns a tuple materializes its own parts."""

    def deco(build: Callable[[SparkSession, str], object]):
        name = build.__name__

        @functools.wraps(build)
        def get(spark: SparkSession, sf_dir: str):
            if _BUILDING:
                ARTIFACTS[_BUILDING[-1]].requested.add(name)
            hit = _BUILT.get((name, sf_dir))
            if hit is not None:
                session, value = hit
                if session is spark:
                    return value
                _release(value)  # stale session
            _BUILDING.append(name)
            try:
                value = build(spark, sf_dir)
            finally:
                _BUILDING.pop()
            if isinstance(value, DataFrame):
                if checkpoint:
                    value = value.localCheckpoint(eager=True)
                else:
                    value = value.persist()
                    value.count()
            _BUILT[(name, sf_dir)] = (spark, value)
            return value

        unknown = [d for d in deps if d not in ARTIFACTS]
        if unknown:
            raise ValueError(f"{name}: deps {unknown} must be declared before it")
        ARTIFACTS[name] = Artifact(name, get, tuple(deps))
        return get

    return deco


def build_artifacts(
    spark: SparkSession, sf_dir: str, skip: Iterable[str] = ()
) -> dict[str, float]:
    """Build every artifact in ``ARTIFACTS`` order; returns seconds per
    built artifact.  Skipping an artifact also skips every artifact that
    depends on it, directly or not, so nothing skipped is built as a
    dependency either."""
    skipped = {s for s in skip if s}
    unknown = skipped - ARTIFACTS.keys()
    if unknown:
        raise ValueError(f"unknown artifacts to skip: {sorted(unknown)}")
    seconds: dict[str, float] = {}
    for a in ARTIFACTS.values():
        if skipped.intersection(a.deps):
            skipped.add(a.name)
        if a.name in skipped:
            print(f"# setup {a.name}: SKIPPED", file=sys.stderr)
            continue
        t0 = time.perf_counter()
        a.get(spark, sf_dir)
        seconds[a.name] = round(time.perf_counter() - t0, 3)
        print(f"# setup {a.name}: {seconds[a.name]}s", file=sys.stderr)
    return seconds


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from .sources.tables import load_table

    return load_table(spark, sf_dir, name)


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


# Sub-registries (import side effect: @register entries).  Kept at module
# end so they can import `register` from this module.
from . import (  # noqa: E402, F401
    registry_analytics,
    registry_dedup,
    registry_extensions,
    registry_features,
    registry_forecast,
    registry_graph,
    registry_ml,
    registry_mlfit,
    registry_relational,
    registry_round4,
    registry_round5,
    registry_search,
    registry_stats,
    registry_suffix,
    registry_text,
)
