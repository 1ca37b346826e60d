"""Oracle-parity spot check for selected registry queries — the per-query
iteration loop of the optimization rounds (full parity stays with
tests/test_registry.py and the driver).

Usage:
    python tools/check_queries.py <query> [<query> ...] [--sf DIR ...]

Runs each query at each fixture (default sf0.001 + sf0.01) and compares
against its DuckDB oracle with the driver's comparison model (row count +
schema + order-insensitive 4-dp values).  Queries without an oracle are
reported as SKIPPED (rows-only).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests"))


def main() -> None:
    args = sys.argv[1:]
    sfs: list[str] = []
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--sf":
            try:
                sfs.append(next(it))
            except StopIteration:
                print("usage: check_queries.py <query> [...] [--sf DIR ...]", file=sys.stderr)
                print("error: --sf requires a directory argument", file=sys.stderr)
                sys.exit(2)
        else:
            names.append(a)
    if not sfs:
        sfs = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]

    from conftest import compare_with_oracle  # noqa: E402

    from vector_search_spark import registry
    from vector_search_spark.session import DEFAULT_CPUS, get_spark

    spark = get_spark("check-queries", cpus=DEFAULT_CPUS, shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    bad = 0
    for name in names:
        sql = registry.ORACLES.get(name)
        for sf in sfs:
            if sql is None:
                print(f"# {name} @ {sf}: SKIPPED (no oracle — rows-only)")
                continue
            try:
                compare_with_oracle(registry.QUERIES[name](spark, sf), sql, sf)
                print(f"# {name} @ {sf}: OK")
            except AssertionError as e:
                bad += 1
                print(f"# {name} @ {sf}: MISMATCH {str(e)[:300]}")
            except Exception as e:  # noqa: BLE001
                bad += 1
                print(f"# {name} @ {sf}: ERROR {str(e)[:300]}")
    print(f"# TOTAL_BAD {bad}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
