"""Round-11 optimization gates: the plan-shape rewrites must compute the
same values as the shapes they replaced.

- A fixed-round iteration is written once and run by two engines: the
  Spark loop (`iterate_rounds`, one aggregate() over an array state) and
  the DuckDB chain (`iterate_rounds_sql`) must end in the same state on
  synthetic inputs that hit the guards (a Markov state with no outgoing
  transition, a hitting-time dead end) and the PCA round's DECIMAL
  products.
- `iterate_rounds`' explode-array Generate barrier must preserve row
  count and values.
- The native `multimodal_features` expression is pinned against the
  mapInPandas operator path it replaced (same md5 stub, two routes).
- `_shared_sa_adjacent` must agree with a fresh LCP walk of the same
  cross-document SA-adjacent pairs.
"""

from __future__ import annotations

import sys
from pathlib import Path

import duckdb
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from conftest import SF_SMOKE  # noqa: E402

from vector_search_spark import registry  # noqa: E402
from vector_search_spark.registry_ml import _MK_K  # noqa: E402


def _markov_counts(dead: int) -> dict[str, int]:
    """A synthetic 5x5 transition-count row whose state ``dead`` has no
    outgoing transition (r_dead = 0), with its row sums."""
    cells, v = {}, 7
    for i in range(_MK_K):
        for j in range(_MK_K):
            cells[f"c{i}_{j}"] = 0 if i == dead else (v := (v * 31 + 17) % 400)
    for i in range(_MK_K):
        cells[f"r{i}"] = sum(cells[f"c{i}_{j}"] for j in range(_MK_K))
    return cells


def _pca_moments() -> dict[str, int]:
    """A symmetric 4x4 moment matrix with entries near 1e15, so one
    mat-vec product term (~1e21) overflows BIGINT: only the DECIMAL
    products of the round text hold it."""
    base = [[9, 4, 2, 1], [4, 8, 3, 2], [2, 3, 7, 1], [1, 2, 1, 6]]
    return {
        f"m{j}_{k}": base[j][k] * 313_000_000_000_000 + 17 * (j + k)
        for j in range(4)
        for k in range(4)
    }


def _twin_case(name: str):
    from vector_search_spark.registry_graph import _hit_iteration
    from vector_search_spark.registry_ml import _mk_iteration, _pca_iteration

    if name == "markov_zero_row":  # the self-loop guard of a dead state
        return _markov_counts(3), _mk_iteration()
    if name == "hitting_dead_end":  # r1 = 0: no hitting time, NULL
        return _markov_counts(1), _hit_iteration()
    return _pca_moments(), _pca_iteration()  # DECIMAL products, w/wmax layers


@pytest.mark.parametrize("case", ["markov_zero_row", "hitting_dead_end", "pca"])
def test_iterate_rounds_twins_agree(spark, case):
    """One round written once: the Spark loop and the DuckDB chain end in
    the same state, at a round count no query uses."""
    from vector_search_spark.registry_ml import iterate_rounds, iterate_rounds_sql

    cols, it = _twin_case(case)
    it = it._replace(rounds=9)
    state = [s for s, _ in it.state]
    row = spark.createDataFrame(
        [tuple(cols.values())], ", ".join(f"{c} long" for c in cols)
    )
    got = tuple(iterate_rounds(row, "pv", it).select(*state).collect()[0])

    src = ", ".join(f"CAST({v} AS BIGINT) AS {c}" for c, v in cols.items())
    ctes, last = iterate_rounds_sql("it", "src", it)
    expected = duckdb.connect().execute(
        f"WITH src AS (SELECT {src}), {', '.join(ctes)}"
        f" SELECT {', '.join(state)} FROM {last}"
    ).fetchone()
    assert got == expected
    if case == "hitting_dead_end":
        assert got == (None,) * len(state)
    else:
        assert None not in got


def test_iterate_rounds_preserves_rows_and_values(spark):
    from vector_search_spark.registry_ml import Iteration, iterate_rounds

    df = spark.range(0, 100).withColumn("x", F.col("id") * 3)
    out = iterate_rounds(df, "yv", Iteration([("y", "x")], 1, [("ny", "y * y + 1")], ["ny"]))
    rows = out.orderBy("id").collect()
    assert len(rows) == 100
    assert all(r["y"] == r["x"] * r["x"] + 1 for r in rows)


def test_multimodal_features_native_matches_operator_path(spark):
    from vector_search_spark.functions.scalar import round4
    from vector_search_spark.operators.multimodal import (
        attach_binary_payload, decode_image_features,
    )
    from vector_search_spark.sources.tables import load_table

    native = [
        tuple(r)
        for r in registry.QUERIES["multimodal_features"](spark, SF_SMOKE).collect()
    ]
    docs = load_table(spark, SF_SMOKE, "documents")
    feats = decode_image_features(attach_binary_payload(docs))
    op = [
        tuple(r)
        for r in feats.select(
            "doc_id", "mime", "n_bytes", "width", "height",
            F.posexplode("features").alias("feat_idx", "feat_value"),
        )
        .select(
            "doc_id", "mime", "n_bytes", "width", "height", "feat_idx",
            round4("feat_value").alias("feat_value"),
        )
        .orderBy("doc_id", "feat_idx")
        .collect()
    ]
    assert native == op


def test_shared_sa_adjacent_matches_fresh_walk(spark):
    from vector_search_spark.operators.suffix import lcp_walk
    from vector_search_spark.partitioning import global_order_stats
    from vector_search_spark.registry_suffix import (
        _SA_LEVELS, _shared_sa_adjacent, _shared_suffix,
    )

    shared = [
        tuple(r)
        for r in _shared_sa_adjacent(spark, SF_SMOKE)
        .select("doc_i", "i", "doc_j", "j", "lcp")
        .orderBy("doc_i", "i", "doc_j", "j")
        .collect()
    ]
    tok, ranks = _shared_suffix(spark, SF_SMOKE)
    top = ranks[_SA_LEVELS]
    sa = global_order_stats(top, ["r", "doc_id", "pos"]).select(
        "doc_id", "pos", F.col("__rank").alias("sa_r")
    )
    nxt = sa.select(
        (F.col("sa_r") - 1).alias("sa_r"),
        F.col("doc_id").alias("doc_j"),
        F.col("pos").alias("j"),
    )
    pairs = (
        sa.select("sa_r", F.col("doc_id").alias("doc_i"), F.col("pos").alias("i"))
        .join(nxt, "sa_r")
        .filter(F.col("doc_i") != F.col("doc_j"))
        .select("doc_i", "i", "doc_j", "j")
    )
    fresh = [
        tuple(r)
        for r in lcp_walk(pairs, ranks, _SA_LEVELS)
        .filter(F.col("lcp") >= 2)
        .select("doc_i", "i", "doc_j", "j", "lcp")
        .orderBy("doc_i", "i", "doc_j", "j")
        .collect()
    ]
    assert shared == fresh
