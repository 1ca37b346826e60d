"""The query catalog: the tables every ``registry_*`` module registers into.

Every operator claimed done in SURVEY.md §2 gets a ``QUERIES[name]``
(callable ``(spark, sf_dir) -> DataFrame``) and, when SQL-expressible, an
``ORACLES[name]`` ANSI-SQL string DuckDB runs over the same parquet views.
Column names/aliases match on both sides (the driver hash-compares after
sorting columns by name).  Float-valued outputs are rounded to 4 dp on both
sides so double math hashes identically.

This module imports no ``registry*`` module, so any domain module can be
imported first; ``registry`` imports them all.
"""

from __future__ import annotations

import functools
import sys
import time
from collections.abc import Callable, Iterable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

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
