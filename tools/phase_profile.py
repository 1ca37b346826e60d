"""Decompose a query's cold cost into driver-side plan phases vs execution.

Usage:
    python tools/phase_profile.py <query> [...] [--sf DIR] [--cpus N] [--setup]

``--setup`` pre-builds the shared artifacts first, as bench.py does
(``registry.build_artifacts``, honoring SPARK_GRAFT_BENCH_SKIP_SETUP).

For each query, measures:
  - build_s: DataFrame-construction wall time (Python + eager checkpoints)
  - phases: QueryPlanningTracker durations (analysis / optimization /
    planning) for the final collect, in ms
  - exec_s: wall time of the first collect minus tracker phases (codegen +
    scheduling + execution)
  - cold_s: build + first collect

Guide §7.3: frames in QueryExecution/Optimizer/Analyzer = planning cost;
this prints the same decomposition without thread dumps.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.1"
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    do_setup = False
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--sf":
            sf = next(it)
        elif a == "--cpus":
            cpus = int(next(it))
        elif a == "--setup":
            do_setup = True
        else:
            names.append(a)

    from vector_search_spark import registry
    from vector_search_spark.session import get_spark, shuffle_partitions_for

    spark = get_spark(
        "phase-profile", cpus=cpus, shuffle_partitions=shuffle_partitions_for(sf, cpus)
    )
    qs = registry.QUERIES
    if do_setup:
        registry.build_artifacts(
            spark, sf, skip=os.environ.get("SPARK_GRAFT_BENCH_SKIP_SETUP", "").split(",")
        )

    # Warm the JVM/session once so the first profiled query is not charged
    # JVM start.
    spark.range(10).collect()

    for name in names:
        t0 = time.monotonic()
        df = qs[name](spark, sf)
        t1 = time.monotonic()
        df.collect()
        t2 = time.monotonic()
        qe = df._jdf.queryExecution()
        tr = qe.tracker()
        phases = {}
        pit = tr.phases().iterator()
        while pit.hasNext():
            kv = pit.next()
            ph = kv._2()
            phases[str(kv._1())] = (ph.endTimeMs() - ph.startTimeMs()) / 1000.0
        build_s = t1 - t0
        first_s = t2 - t1
        ptot = sum(phases.values())
        print(
            f"{name}: build={build_s:.3f}s first={first_s:.3f}s "
            f"phases={{{', '.join(f'{k}={v:.3f}' for k, v in sorted(phases.items()))}}} "
            f"phase_total={ptot:.3f}s exec~={first_s - ptot:.3f}s"
        )


if __name__ == "__main__":
    main()
