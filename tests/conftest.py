"""Shared fixtures: a session-scoped SparkSession and a DuckDB oracle
comparator that mirrors the driver's correctness gate (row count + schema +
order-insensitive value comparison)."""

from __future__ import annotations

import json
import math
import os
import re
import sys
from collections import Counter
from pathlib import Path

import duckdb
import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from vector_search_spark.session import DEFAULT_CPUS, get_spark  # noqa: E402

SF_TEST = "/root/testdata/sf0.01"
SF_SMOKE = "/root/testdata/sf0.001"

# Round 12 (VERDICT r11 #1): the full suite must complete inside the
# driver's verify budget (the r11 run was truncated at ~80% with zero
# failures).  Tests whose measured cost is dominated by DuckDB oracle
# pipelines that are nearly SIZE-INDEPENDENT (the iterative dup-graph
# oracles re-run the whole shingle/LSH/verify/CC pipeline in SQL: 30-50 s
# each at ANY fixture size, so no cheap smoke variant exists) are gated
# behind SP_SLOW_TESTS=1.  The default run value-checks those queries
# against their committed DuckDB rows instead (test_registry).
SP_SLOW_TESTS = os.environ.get("SP_SLOW_TESTS", "") == "1"


def skip_unless_slow_tests(reason: str) -> None:
    if not SP_SLOW_TESTS:
        pytest.skip(f"SP_SLOW_TESTS=1 to run ({reason})")


# Recently-rewritten queries (rounds 11-12): the per-query sweep gates
# below always include these in their default sample — regressions from
# plan rewrites concentrate here, not in untouched queries.
RECENTLY_TOUCHED = frozenset(
    {
        "ab_bootstrap_diff_ci", "bagging_split_stability",
        "bootstrap_value_ci", "ks_two_sample", "pr_best_f1",
        "knn_loo_eval", "svd_rank1_affinity", "textrank_keywords",
        "doc_suffix_lrs", "corpus_suffix_repeats",
        "corpus_exact_dedup_rewrite", "bpe_top_merges", "bpe_apply_stats",
        "session_overlap_pairs", "markov_stationary_events",
        "markov_entropy_rate", "markov_attribution",
        "markov_expected_steps", "pca_top_component",
        "pca_second_component", "svd_rank2_affinity",
        "multimodal_features", "ann_ivf_probe_sweep",
        "dedup_clusters", "dup_sampling_weights",
        # the similarity_join registry queries (Arrow-batched scorer)
        "knn_multi_query", "ann_srp_recall_eval",
        # the PQ family (one copy of each search stage, shared)
        "ann_pq_topk", "ann_ivfpq_topk", "ann_ivfpq_residual_topk",
        # one copy of the Gini split finder, the sessionizers, the
        # survival durations, the rate estimators, the trim histogram and
        # the SQ oracle
        "decision_stump_returns", "decision_tree_depth2",
        "decision_tree_depth3", "event_funnel", "top_event_paths",
        "conversion_latency_percentiles", "user_sessions",
        "attribution_models_compare", "kaplan_meier_conversion",
        "logrank_test_conversion", "eb_shrunk_hour_rates",
        "eb_shrunk_segment_rates", "wilson_lcb_hour_ranking",
        "wilson_lcb_source_ranking", "trimmed_mean_value",
        "winsorized_mean_value", "ann_sq_topk", "ann_filtered_topk",
        # one exact rescore per engine for the vector family, the
        # single-query scans through knn_topk and one truncate stage
        "ann_srp_topk", "dedup_embedding_srp",
        "dedup_embedding_srp_narrow_demo", "mutual_knn_pairs", "knn_topk",
        "hybrid_rrf_search", "mmr_diversify_topk", "rocchio_prf_search",
    }
)


def sweep_sample(names, always=RECENTLY_TOUCHED):
    """Deterministic 1-in-3 sample for the 250-query sweep gates.

    Round 12 (VERDICT r11 #1): the full suite must complete inside the
    driver's verify budget; the full-registry parameterized sweeps
    (partitioning invariance x2 regimes, oracle-dtype contract) are
    ~17 min of the ~29 min suite while duplicating per-query execution
    the oracle-parity sweep (test_registry — kept FULL) already pays.
    Default: every 3rd query by sorted index PLUS every recently-
    rewritten query; SP_SLOW_TESTS=1 restores the full sweep (run in
    the builder's in-round pass, recorded in OPTIMIZATION_r12.md)."""
    names = list(names)
    if SP_SLOW_TESTS:
        return names
    return [n for i, n in enumerate(names) if i % 3 == 0 or n in always]


TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()

# The chunker golden (see tests/test_ingest_generated.py); its 20 generated
# 3-2-1 issues are the committed markdown corpus of the ingest-driven tests.
CHUNKER_GOLDEN = json.loads(
    (Path(__file__).parent / "fixtures" / "chunker_golden.json").read_text("utf-8")
)
GOLDEN_ISSUES = [
    doc for doc in CHUNKER_GOLDEN["inputs"] if re.fullmatch(r"\d{4}-\d{2}-\d{2}\.md", doc[0])
]
# chunks the golden holds per issue file name
_PATH = CHUNKER_GOLDEN["columns"].index("path")
GOLDEN_ISSUE_CHUNKS = Counter({doc[0]: 0 for doc in GOLDEN_ISSUES})
GOLDEN_ISSUE_CHUNKS.update(r[_PATH] for r in CHUNKER_GOLDEN["rows"] if r[_PATH] in GOLDEN_ISSUE_CHUNKS)


def write_golden_issues(md: Path) -> str:
    """Write the chunker golden's generated issues into the existing
    directory ``md`` as ``YYYY-MM-DD.md`` files; returns its path."""
    for name, _, content in GOLDEN_ISSUES:
        (md / name).write_text(content, encoding="utf-8")
    return str(md)


@pytest.fixture
def issue_dir(tmp_path):
    """The chunker golden's generated issues as ``YYYY-MM-DD.md`` files."""
    md = tmp_path / "md"
    md.mkdir()
    return write_golden_issues(md)


@pytest.fixture(scope="session")
def spark():
    # local[DEFAULT_CPUS] to match the host; shuffle partitions stay 8 so
    # partition counts in test outputs do not move.
    s = get_spark("tests", cpus=DEFAULT_CPUS, shuffle_partitions=8)
    yield s
    s.stop()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        p = f"{sf_dir}/{t}.parquet"
        # Spark-written fixtures are DIRECTORIES of part files (the same
        # layout trap the r9 streaming source hit) — glob them for DuckDB
        src = f"{p}/*.parquet" if os.path.isdir(p) else p
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    return con


def _norm_cell(v):
    if v is None:
        return None
    # Tag floats so an int64-vs-float64 cross-engine mismatch FAILS here the
    # way it fails the driver's pandas canonicalizer (Python `int == float`
    # would otherwise hide it — the round-1 hash_match trap).
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return ("f", round(v, 4))
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, (list, tuple)):
        return tuple(_norm_cell(x) for x in v)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    return v


def canonical_rows(cols, rows):
    """Rows in the driver's comparison model: cells normalized by
    `_norm_cell`, columns in sorted-name order, rows in a None-safe total
    order (rollup rows contain NULLs)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def _key(row):
        return tuple((v is None, str(v)) for v in row)

    return sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows), key=_key)


def compare_rows(spark_df, o_cols, o_rows):
    """Assert the Spark result equals the rows ``o_rows`` (columns
    ``o_cols``), order-insensitively, with columns aligned by name."""
    s_cols = spark_df.columns
    s_rows = [tuple(r) for r in spark_df.collect()]

    assert sorted(s_cols) == sorted(o_cols), f"schema mismatch: {s_cols} vs {o_cols}"
    assert len(s_rows) == len(o_rows), f"row count {len(s_rows)} vs oracle {len(o_rows)}"

    pairs = zip(canonical_rows(s_cols, s_rows), canonical_rows(o_cols, o_rows))
    mismatches = [(a, b) for a, b in pairs if a != b]
    assert not mismatches, f"value mismatch ({len(mismatches)} rows), first: {mismatches[:3]}"


def compare_with_oracle(spark_df, oracle_sql: str, sf_dir: str):
    """Assert the Spark result and the DuckDB oracle match, order-insensitively,
    with columns aligned by (sorted) name — the driver's comparison model."""
    oracle = duck_con(sf_dir).execute(oracle_sql)
    compare_rows(spark_df, [d[0] for d in oracle.description], oracle.fetchall())
