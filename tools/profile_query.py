"""Per-query profiling loop for optimization rounds (guide §1).

Usage:
    python tools/profile_query.py <query> [...] [--sf DIR] [--reps N] [--cpus N]
        [--setup] [--noop]

For each query: time DataFrame construction (build), the first collect
(cold = build + compile + first execution) and `reps` further collects
(warm).  ``--setup`` pre-builds the shared artifacts first, as bench.py
does (``registry.build_artifacts``, honoring SPARK_GRAFT_BENCH_SKIP_SETUP),
so numbers match bench.py's regime.  ``--noop``
consumes via the noop sink (guide §1.4) instead of the bench's checksum/
collect consumption, isolating computation from the sink.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    args = sys.argv[1:]
    sf = "/root/testdata/sf0.1"
    reps = 5
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    do_setup = False
    use_noop = False
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--sf":
            sf = next(it)
        elif a == "--reps":
            reps = int(next(it))
        elif a == "--cpus":
            cpus = int(next(it))
        elif a == "--setup":
            do_setup = True
        elif a == "--noop":
            use_noop = True
        else:
            names.append(a)

    from vector_search_spark import registry
    from vector_search_spark.session import get_spark, shuffle_partitions_for

    spark = get_spark("profile", cpus=cpus, shuffle_partitions=shuffle_partitions_for(sf, cpus))
    spark.sparkContext.setLogLevel("ERROR")

    import glob

    for p in sorted(glob.glob(f"{sf}/*.parquet")):
        spark.read.parquet(p).count()
    spark.range(0, 1024, 1, cpus).mapInPandas(lambda i: i, schema="id long").count()

    if do_setup:
        t0 = time.perf_counter()
        registry.build_artifacts(
            spark, sf, skip=os.environ.get("SPARK_GRAFT_BENCH_SKIP_SETUP", "").split(",")
        )
        print(f"# setup: {time.perf_counter() - t0:.2f}s", file=sys.stderr)

    for name in names:
        fn = registry.QUERIES[name]
        spark.sparkContext.setJobDescription(f"profile: {name}")
        tb = time.perf_counter()
        df = fn(spark, sf)
        ordered = name in registry.ORDERED_QUERIES
        if use_noop:
            consume = df
        else:
            consume = df if ordered else registry.checksum_frame(df)
        build = time.perf_counter() - tb
        samples = []
        for i in range(reps + 1):
            t0 = time.perf_counter()
            if use_noop:
                consume.write.format("noop").mode("overwrite").save()
            else:
                consume.collect()
            samples.append(time.perf_counter() - t0)
        cold = samples[0]
        warm = sorted(samples[1:])[len(samples[1:]) // 2]
        print(
            f"{name}: build={build:.3f}s cold={build + cold:.3f}s "
            f"warm_med={warm:.3f}s warms={[round(s, 3) for s in samples[1:]]}"
        )
        spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
