"""SparkSession builder tuned for this engine.

Scale posture: these configs are the local[N] analogue of what a
1000-executor cluster job would set — AQE on (runtime re-planning, skew-join
splitting, partition coalescing), Arrow for the pandas-UDF seams, and a
shuffle-partition count sized to the available parallelism rather than the
200 default.

Every session also runs its Python workers under ``worker_daemon``, which
removes a ~0.2 s fixed cost from every Python task (see that module).
``spark.executorEnv.PYTHONPATH`` puts this package on the workers' path, so
the daemon imports whatever directory the driver runs from.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[N] width: $SPARK_GRAFT_CPUS when set, else the CPUs this process
# may run on (what `nproc` reports).
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

# The SPARK_GRAFT_EXTRA_CONF pairs applied by the most recent get_spark()
# call — bench.py copies this into its output record so any env override
# is disclosed next to the numbers it influenced (ADVICE r11).
LAST_ENV_EXTRA_CONF: dict[str, str] = {}

# The directory that holds this package, for the Python workers' path.
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Target bytes of INPUT per shuffle partition.  128 MB mirrors
# spark.sql.files.maxPartitionBytes — a reduce task should chew roughly
# what a scan task does.
_SHUFFLE_TARGET_BYTES = 128 << 20


def shuffle_partitions_for(sf_dir: str, cpus: int | None = None) -> int:
    """Derive the shuffle width from the INPUT SIZE, not a constant.

    HANDOFF-r6 named the fixed 32-partition shuffle as a predicted
    1000×-binding constant: 32 partitions over a 15 GB fixture is
    ~470 MB per reduce task — past executor comfort.  Rule: one shuffle
    partition per ~128 MB of input, floored at the core count (never
    idle a core at small scale, where AQE coalescing trims any excess),
    capped at 4096 (the AQE-coalesce ceiling a 1000-executor job would
    use as its initial width).  Callers that know better (tests pinning
    regimes) still pass an explicit count to get_spark."""
    cpus = cpus or DEFAULT_CPUS
    total = 0
    for dirpath, _, files in os.walk(sf_dir):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:
                pass
    return max(cpus, min(4096, -(-total // _SHUFFLE_TARGET_BYTES)))


def get_spark(
    app_name: str = "vector_search_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with scale-appropriate defaults."""
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime shuffle-partition coalescing + skew-join handling.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow transport for the pandas-UDF seams (embed/rerank/html).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Keep timestamps/date behavior deterministic across engines.
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        # Size-adaptive broadcasts (partitioning.maybe_broadcast) collect
        # the broadcast side through the driver; the 1 GB default result
        # cap rejects multi-GB-but-legal broadcasts (r10: containment's
        # 2.6 GB per-doc set table at the 1000x fixture).  Round 11
        # (VERDICT r10 "what's wrong" #2): a FINITE 8g cap instead of 0 —
        # it admits every legal broadcast (maybe_broadcast's byte gate
        # caps collects at 6 GiB) while keeping the fail-fast net for a
        # runaway corpus collect, which under 0 hard-OOMed the driver JVM
        # and killed the whole session/record rather than one query.
        .config(
            "spark.driver.maxResultSize",
            os.environ.get("SPARK_GRAFT_MAX_RESULT_SIZE", "8g"),
        )
        .config("spark.ui.enabled", "false")
        # Python workers skip re-reading Spark's zip archives before each
        # task (worker_daemon.py).
        .config("spark.python.daemon.module", "vector_search_spark.worker_daemon")
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
    )
    # Environment-supplied overrides (round 11): "k=v;k=v" — the
    # parameterized seam for config experiments and cluster-profile
    # overrides, so scale-dependent settings never get hard-coded to the
    # local box (explicit extra_conf from callers still wins).
    env_conf = os.environ.get("SPARK_GRAFT_EXTRA_CONF", "")
    applied_env_conf: dict[str, str] = {}
    for pair in env_conf.split(";"):
        if "=" in pair:
            k, _, v = pair.partition("=")
            builder = builder.config(k.strip(), v.strip())
            applied_env_conf[k.strip()] = v.strip()
    if applied_env_conf:
        # Disclose silent env overrides (ADVICE r11): an env-set config
        # (shuffle width, AQE, codegen...) would otherwise invisibly alter
        # recorded bench/oracle runs.  bench.py also records this dict in
        # its output (env_extra_conf) via LAST_ENV_EXTRA_CONF.
        import sys as _sys

        for k, v in applied_env_conf.items():
            print(f"# SPARK_GRAFT_EXTRA_CONF applied: {k}={v}", file=_sys.stderr)
    global LAST_ENV_EXTRA_CONF
    LAST_ENV_EXTRA_CONF = applied_env_conf
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
