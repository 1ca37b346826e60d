"""Dump normalized .explain("formatted") plans of registry queries to files.

Usage:
    python tools/dump_plans.py <out_dir> <suffix> [<query> ...]

Writes <out_dir>/<query>_<suffix>.txt for each named query, or for every
registry query when none is named (e.g. suffix = "before" / "after" for a
plan-identity check: ``diff -r`` the two dumps).  Uses the sf0.1 fixture
dir (override with SPARK_GRAFT_SF_DIR) so the plans carry the same
statistics the bench sees.

Ids that change from run to run are replaced by ``N``: expression ids
(``#123``), RDD ids, ``plan_id``, Python lambda names and the ids of AQE
query stages.  One difference stays: ``brand_supplier_stats`` may list the
``Expand`` groups of its two ``count(DISTINCT ...)`` aggregates in either
order, so a plan-identity check of that query needs two parent runs.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_NORMALIZE = [
    (re.compile(r"#[0-9]+L?"), "#N"),
    (re.compile(r"(ExistingRDD|MapPartitionsRDD|ParallelCollectionRDD|ShuffledRowRDD|RDD)\[[0-9]+\]"), r"\1[N]"),
    (re.compile(r"\[plan_id=[0-9]+\]"), "[plan_id=N]"),
    (re.compile(r"lambda ([a-z]+)_[0-9]+"), r"lambda \1_N"),
    # a query stage's details block: "(12) BroadcastQueryStage ... Arguments: <stage id>"
    (re.compile(r"(\([0-9]+\) \w*QueryStage\n(?:(?!\([0-9]+\) ).*\n)*?Arguments: )[0-9]+"), r"\1N"),
]


def normalize(plan: str) -> str:
    for pattern, repl in _NORMALIZE:
        plan = pattern.sub(repl, plan)
    return plan


def main() -> None:
    out_dir, suffix = sys.argv[1], sys.argv[2]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    os.makedirs(out_dir, exist_ok=True)

    from vector_search_spark import registry
    from vector_search_spark.session import DEFAULT_CPUS, get_spark, shuffle_partitions_for

    names = sys.argv[3:] or sorted(registry.QUERIES)
    spark = get_spark(
        "dump-plans", cpus=DEFAULT_CPUS, shuffle_partitions=shuffle_partitions_for(sf_dir)
    )
    spark.sparkContext.setLogLevel("ERROR")

    for name in names:
        df = registry.QUERIES[name](spark, sf_dir)
        plan = normalize(
            df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"# wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
