"""Benchmark harness (driver contract) and the one timing loop for registry
queries.

Usage:
    python bench.py [query ...]

With no names it runs every registry query and prints ONE JSON line
{"metric", "value", "unit", "queries", "sf", ...}, writes the same record
to ``bench_out.json`` next to this script, and ends with a compact line
sized for a 2 KB tail capture.  Named queries (checked against
``registry.QUERIES`` before Spark starts) run alone, in the same regime;
such a subset run prints both lines but leaves ``bench_out.json`` as it is.

Options (environment):
    SPARK_GRAFT_SF_DIR              fixture dir (default: the sf0.1 fixture)
    SPARK_GRAFT_CPUS                local[N] cores (default: this process's
                                    CPU affinity, ``session.DEFAULT_CPUS``)
    SPARK_GRAFT_BENCH_REPS          collects per query (default 3)
    SPARK_GRAFT_BENCH_SKIP_SETUP    artifacts not to build (comma list)
    SPARK_GRAFT_BENCH_FORCE_CHECKSUM=1  checksum-consume ordered queries too

Each query is timed to full materialization: a JVM-side xxhash64 checksum
aggregate for the unordered majority (forces evaluation of every output
column without O(corpus) py4j row transfer — the round-7 decade pair
showed 7/9 superlinear flags were driver-side row decoding, not the
engine), a real collect() for the ordering-contract queries in
registry.ORDERED_QUERIES.  ``value`` is the
sum of per-query WARM medians (steady-state plan execution; the DataFrame
is built once and collected ``reps`` times — rebuilding per rep re-pays
2-4.5 s of Catalyst+Janino PLAN COMPILATION per complex query, which at
fixture scale swamps the 0.04-0.8 s execution the benchmark is meant to
track).  The one-time compile cost is NOT hidden: ``cold_queries`` /
``cold_total_sec`` record each query's DataFrame CONSTRUCTION plus its
first collect (compile included).  Construction is timed since round 9
(ADVICE r8): helpers that eagerly checkpoint at build time do real engine
work inside ``fn(spark, sf_dir)``, which a collect-only cold sample never
saw; ``build_queries`` / ``build_total_sec`` break that component out.
``phase_queries`` holds the Catalyst phase times (analysis, optimization,
planning; seconds) of each consumed frame's first collect, so a cold time
splits into driver-side planning and execution.

Shared artifacts (the dedup family's shingle/signature tables, the ANN
indexes, the suffix-rank pyramid, ...) are declared with
``registry.artifact`` and built by ``registry.build_artifacts`` in an
explicit UNTIMED setup phase — the amortized-index model a production
pipeline runs.  The setup cost is disclosed separately as ``setup_sec``,
and per artifact as ``setup_builders``, so per-query timings aren't
misread (ADVICE r1).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from vector_search_spark import registry  # noqa: E402
from vector_search_spark.session import DEFAULT_CPUS, get_spark, shuffle_partitions_for  # noqa: E402


def _err_str(e: Exception) -> str:
    """Root-cause error string for the record (VERDICT r8 #1a).

    Py4J wraps every JVM failure as "An error occurred while calling
    oNNNNN.collectToPython" — the r8 record's 5 errors were all that
    line, useless for diagnosis.  Prefer the first line of the
    underlying Java exception; the full Python traceback goes to stderr
    at the call site.
    """
    je = getattr(e, "java_exception", None)
    if je is not None:
        try:
            return je.toString().split("\n")[0][:300]
        except Exception:  # noqa: BLE001 - dead gateway etc.; fall through
            pass
    return str(e).split("\n")[0][:300]


def _phases(df) -> dict[str, float]:
    """Catalyst phase durations (s) from ``df``'s QueryPlanningTracker.

    Read right after the first collect: a phase measured again later is
    recorded as one span from its first start to its last end.
    """
    phases = {}
    it = df._jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        phases[str(kv._1())] = round((kv._2().endTimeMs() - kv._2().startTimeMs()) / 1000, 3)
    return dict(sorted(phases.items()))


def compact_line(record: dict, full_run: bool) -> str:
    """The compact record, sized to survive a 2 KB tail capture intact:
    same metric/value/unit/sf, with "queries" trimmed to the slowest
    entries that fit 1,500 bytes, and n_queries/n_errors, so the tail
    alone shows whether the whole set ran."""
    timings = record["queries"]
    compact = {
        "metric": record["metric"],
        "value": record["value"],
        "unit": record["unit"],
        "queries": {},
        "setup_sec": record["setup_sec"],
        "cold_total_sec": record["cold_total_sec"],
        "sf": record["sf"],
        "n_queries": len(timings),
        "n_errors": len(record.get("errors", {})),
        "full_record": "bench_out.json" if full_run else None,
        # widest possible value while filling, so the final line fits too
        "queries_elided": len(timings),
    }
    for name in sorted(timings, key=timings.get, reverse=True):
        compact["queries"][name] = timings[name]
        if len(json.dumps(compact)) > 1500:
            del compact["queries"][name]
            break
    compact["queries_elided"] = len(timings) - len(compact["queries"])
    return json.dumps(compact)


def main() -> None:
    unknown = [n for n in sys.argv[1:] if n not in registry.QUERIES]
    if unknown:
        sys.exit(f"bench.py: unknown query: {' '.join(unknown)}")
    names = sorted(set(sys.argv[1:])) or sorted(registry.QUERIES)
    full_run = len(sys.argv) == 1

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = DEFAULT_CPUS
    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).replace("sf", ""))
    except ValueError:
        sf = -1.0

    spark = get_spark("bench", cpus=cpus, shuffle_partitions=shuffle_partitions_for(sf_dir, cpus))
    spark.sparkContext.setLogLevel("ERROR")

    # Session-infrastructure warm-up so the first query isn't charged for
    # one-time costs: scan/codegen paths, the OS page cache for every input
    # table (alphabetical query order was silently billing the first
    # lineitem/orders/events query for the cold first read), and the Python
    # worker pool that the Arrow-batched (mapInPandas) operators fork on
    # first use.
    import glob as _glob

    for p in sorted(_glob.glob(f"{sf_dir}/*.parquet")):
        spark.read.parquet(p).count()
    warm = spark.range(0, 1024, 1, cpus)
    warm.mapInPandas(lambda it: it, schema="id long").count()

    # Explicit setup phase: every registry.ARTIFACTS entry, in that order,
    # also for a subset run, so its numbers match a full run's regime.
    # SPARK_GRAFT_BENCH_SKIP_SETUP=a,b skips artifacts by name, and with
    # them every artifact built on them, for exploratory scale runs whose
    # query family is skipped too (the suffix array at 1000x is ~4 GB heap
    # per M tokens — excluded by design, so its index must not be built
    # either).  Never set for driver runs.
    t0 = time.perf_counter()
    setup_builders = registry.build_artifacts(
        spark, sf_dir, skip=os.environ.get("SPARK_GRAFT_BENCH_SKIP_SETUP", "").split(",")
    )
    setup_sec = round(time.perf_counter() - t0, 3)
    print(f"# setup (shared artifact builds): {setup_sec}s", file=sys.stderr)

    # Per-query MEDIAN of SPARK_GRAFT_BENCH_REPS collects (default 3) of ONE
    # built DataFrame: local[N] run-to-run variance is ~±30% (medians per the
    # round-1 review), and building per rep would re-pay Catalyst+Janino
    # plan compilation every time — measured at 2-4.5 s per complex plan vs
    # 0.04-0.13 s steady-state execution at sf0.1, i.e. the rebuild-per-rep
    # number measures the COMPILER, not the plan.  The first collect still
    # carries the one-time compile; it is disclosed per query as cold_sec
    # (and summed as cold_total_sec) so nothing is hidden — a production
    # pipeline compiles once and runs the plan many times.
    reps = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3"))
    force_checksum = os.environ.get("SPARK_GRAFT_BENCH_FORCE_CHECKSUM", "") == "1"
    timings: dict[str, float] = {}
    cold: dict[str, float] = {}
    builds: dict[str, float] = {}
    phases: dict[str, dict[str, float]] = {}
    errors: dict[str, str] = {}
    session_restarts: list[str] = []

    def _ensure_session():
        """Rebuild the session if a prior query killed the JVM (r10: a
        single executor OOM stops the SparkContext and every later query
        would error with 'stopped SparkContext' — two group-N campaign
        records died that way).  The shared-artifact caches key on
        session identity, so builders lazily rebuild on the new session;
        that rebuild lands in the next consumer's cold time and the
        restart is disclosed in the record (`session_restarts`)."""
        nonlocal spark
        try:
            stopped = spark.sparkContext._jsc.sc().isStopped()
        except Exception:
            stopped = True
        if stopped:
            try:
                spark.stop()
            except Exception:
                # stop() raising means the driver JVM itself died (not
                # just a stopped SparkContext); the builder would reuse
                # the dead py4j gateway and hand back an unusable
                # 'rebuilt' session (ADVICE r10).  Clear the cached
                # gateway/JVM handles so get_spark forks a fresh one.
                from pyspark import SparkContext
                from pyspark.sql import SparkSession as _SS

                try:
                    if SparkContext._gateway is not None:
                        SparkContext._gateway.shutdown()
                except Exception:
                    pass
                SparkContext._active_spark_context = None
                SparkContext._gateway = None
                SparkContext._jvm = None
                _SS._instantiatedSession = None
                _SS._activeSession = None
                os.environ.pop("PYSPARK_GATEWAY_PORT", None)
                os.environ.pop("PYSPARK_GATEWAY_SECRET", None)
            spark = get_spark(
                "bench_restart",
                cpus=cpus,
                shuffle_partitions=int(
                    spark_conf_shuffle if spark_conf_shuffle else cpus
                ),
            )
            return True
        return False

    spark_conf_shuffle = spark.conf.get("spark.sql.shuffle.partitions", None)
    for name in names:
        fn = registry.QUERIES[name]
        # A query that breaks at an exploratory scale (the round-6 100x run
        # died on the FIRST query's overflow and lost the whole record) is
        # itself a finding — record it and keep benchmarking the rest.
        # Ordering-contract queries are consumed with a real collect()
        # (row order IS the result); everything else is checksum-consumed
        # JVM-side so O(corpus) py4j row transfer (~4-6 us/row — 7 of the
        # 9 superlinear decade flags at 100x were exactly this) never
        # pollutes the scaling signal.  See registry.checksum_consume.
        # SPARK_GRAFT_BENCH_FORCE_CHECKSUM=1 (exploratory scale runs only,
        # recorded in the output) checksums EVERYTHING: at 1000x the two
        # O(corpus)-output ordered queries would collect tens of millions
        # of rows into the driver; their order contract stays verified by
        # the invariance suite and the collect benches through 100x.
        ordered = name in registry.ORDERED_QUERIES and not force_checksum
        # One in-place retry before recording an error (VERDICT r8 #1b):
        # the r8 driver record lost 5 queries to a transiently sick
        # long-lived session (lost localCheckpoint blocks / GC pressure)
        # that a fresh attempt passes — a single retry makes the record
        # robust to that without hiding a real failure (it errors twice).
        last_err: Exception | None = None
        for attempt in range(2):
            try:
                # DataFrame construction is timed (ADVICE r8): helpers
                # that eagerly checkpoint at build time (global_order_stats
                # et al.) do a large slice of engine work inside
                # fn(spark, sf_dir), which the old collect-only cold
                # sample never saw — build_sec keeps it in the record.
                tb = time.perf_counter()
                df = fn(spark, sf_dir)
                # build the consumption frame ONCE so reps measure plan
                # execution, not re-analysis of the wrapper aggregate
                consume = df if ordered else registry.checksum_frame(df)
                build_sec = time.perf_counter() - tb
                samples = []
                for i in range(reps):
                    t0 = time.perf_counter()
                    rows = consume.collect()
                    n_rows = len(rows) if ordered else rows[0]["n"]
                    samples.append(time.perf_counter() - t0)
                    if i == 0:
                        phases[name] = _phases(consume)
                last_err = None
                break
            except Exception as e:  # noqa: BLE001
                last_err = e
                import traceback

                traceback.print_exc(file=sys.stderr)
                if _ensure_session():
                    session_restarts.append(name)
                    print(
                        f"# {name}: SparkContext was stopped — session "
                        f"rebuilt (restart #{len(session_restarts)})",
                        file=sys.stderr,
                    )
                if attempt == 0:
                    print(
                        f"# {name}: attempt 1 failed ({_err_str(e)[:160]}); retrying once",
                        file=sys.stderr,
                    )
        if last_err is not None:
            phases.pop(name, None)
            errors[name] = _err_str(last_err)
            print(f"# {name}: ERROR {errors[name][:160]}", file=sys.stderr)
            continue
        builds[name] = round(build_sec, 3)
        # cold = construction + first collect: the number that sees ALL
        # the work (build-time checkpoints included).  Records before r9
        # have collect-only cold; decade comparisons should pair
        # same-semantics records.
        cold[name] = round(build_sec + samples[0], 3)
        samples.sort()
        mid = len(samples) // 2
        med = samples[mid] if len(samples) % 2 else (samples[mid - 1] + samples[mid]) / 2
        timings[name] = round(med, 3)
        print(
            f"# {name}: {timings[name]:.3f}s warm-median / {cold[name]:.3f}s cold"
            f" / {builds[name]:.3f}s build, phases {phases[name]}"
            f" ({n_rows} rows, {reps} reps{', collect' if ordered else ''})",
            file=sys.stderr,
        )

    record = {
        "metric": "registry_queries_total_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "setup_sec": setup_sec,
        "setup_builders": setup_builders,
        "cold_total_sec": round(sum(cold.values()), 3),
        "cold_queries": cold,
        "build_total_sec": round(sum(builds.values()), 3),
        "build_queries": builds,
        "phase_queries": phases,
        # semantics version for cold_queries (ADVICE r9): 2 = build +
        # first collect (r9+); records without the field are 1 =
        # collect-only; compare cold times only between equal versions.
        "cold_semantics": 2,
        "sf": sf,
        "reps": reps,
    }
    if reps == 1:
        # single-rep scale runs: the "warm" sample IS the first collect
        # (plan caches and any remaining lazy builds land in it) — mark
        # the record so nobody reads warm decade ratios from it
        # (VERDICT r9 "what's wrong" #4)
        record["warm_is_first_collect"] = True
    if session_restarts:
        record["session_restarts"] = session_restarts
    from vector_search_spark.session import LAST_ENV_EXTRA_CONF

    if LAST_ENV_EXTRA_CONF:
        # Disclose env-supplied Spark config overrides in the record
        # itself (ADVICE r11): numbers influenced by an override carry it.
        record["env_extra_conf"] = dict(LAST_ENV_EXTRA_CONF)
    if force_checksum:
        record["force_checksum"] = True
    if errors:
        record["errors"] = errors
    line = json.dumps(record)
    # The driver's log capture keeps only the last ~2 KB of stdout and the
    # full 150+-query line exceeds that (BENCH_r02/r03 recorded parsed:null);
    # persist the full machine-readable record next to the script so
    # round-over-round comparisons never depend on scrollback.  A subset
    # run leaves the full-registry record alone.
    if full_run:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)), "bench_out.json"), "w") as f:
            f.write(line + "\n")
    print(line)
    # ...and ALSO emit a compact record as the FINAL stdout line.
    print(compact_line(record, full_run))


if __name__ == "__main__":
    main()
