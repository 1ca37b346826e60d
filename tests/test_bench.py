"""bench.py as a subset runner: named queries run alone, in the bench regime,
with their Catalyst phases recorded, and without touching the committed
full-registry record."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from conftest import SF_SMOKE

from vector_search_spark import registry

ROOT = Path(__file__).resolve().parents[1]
BENCH = str(ROOT / "bench.py")


def _run(args: list[str], **env: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, BENCH, *args],
        cwd=ROOT, env={**os.environ, **env}, capture_output=True, text=True, timeout=600,
    )


def test_subset_run_records_named_queries_and_keeps_bench_out():
    out = ROOT / "bench_out.json"
    before = out.read_bytes() if out.exists() else None
    names = ["knn_topk", "search_pipeline"]
    proc = _run(
        names,
        SPARK_GRAFT_SF_DIR=SF_SMOKE,
        SPARK_GRAFT_BENCH_SKIP_SETUP=",".join(registry.ARTIFACTS),
        SPARK_GRAFT_BENCH_REPS="1",
        SPARK_DRIVER_MEMORY="2g",
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().splitlines()
    record, compact = json.loads(lines[-2]), json.loads(lines[-1])

    for field in ("build_queries", "cold_queries", "queries", "phase_queries"):
        assert sorted(record[field]) == names, field
    for phases in record["phase_queries"].values():
        assert {"analysis", "optimization", "planning"} <= set(phases)
        assert all(v >= 0 for v in phases.values())
    assert "errors" not in record
    assert record["spark_conf"]["spark.python.daemon.module"] == "vector_search_spark.worker_daemon"
    assert compact["n_queries"] == 2 and compact["n_errors"] == 0
    assert (out.read_bytes() if out.exists() else None) == before


def test_unknown_query_name_fails_before_spark_starts():
    # with no Spark install to launch, only a check made before the JVM
    # starts can produce the unknown-query message
    proc = _run(["knn_topk", "no_such_query"], SPARK_HOME=str(ROOT / "no-spark-here"))
    assert proc.returncode != 0
    assert proc.stderr.strip().splitlines()[-1] == "bench.py: unknown query: no_such_query"


def test_compact_line_fits_the_tail_budget_with_every_query():
    import bench

    timings = {name: 0.001 * i for i, name in enumerate(sorted(registry.QUERIES))}
    record = {
        "metric": "registry_queries_total_sec", "value": 123.456, "unit": "sec",
        "queries": timings, "setup_sec": 99.999, "cold_total_sec": 999.999, "sf": 0.01,
        "errors": {"a": "x", "b": "y"},
    }
    line = bench.compact_line(record, full_run=True)
    compact = json.loads(line)
    assert len(line) <= 1500
    assert compact["n_queries"] == len(timings) and compact["n_errors"] == 2
    assert compact["queries_elided"] == len(timings) - len(compact["queries"]) > 0
    assert compact["full_record"] == "bench_out.json"
