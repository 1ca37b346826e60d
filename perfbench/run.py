"""Benchmark of the engine's two paths: ingest and search.

Run from the repository root:

    python3 perfbench/run.py --workload search_batch --seed 1 --seconds 16 --trace 0

``--workload`` is ``ingest``, ``search_batch``, ``search_interactive`` or
``all`` (each workload in turn, in its own process).  One closed-loop
client drives one Spark session (``local[nproc]``) in this process.  Every
op's output is checked.  With ``--trace 0`` the last line of standard
output is a JSON record of the end-to-end metrics; with ``--trace 1`` it
holds the per-layer metrics of a separate traced run, and the spans are
written to ``.perfbench_out/``.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def metric_units(section: str) -> dict[str, str]:
    """Metric name -> unit for a section of BENCHMARK.json, the one list of
    the benchmark's metrics."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


WORKLOAD_NAMES = ("ingest", "search_batch", "search_interactive")
SETUP_REPEATS = 3  # set-up builds per run; setup_s takes their median
PERCENTILES = (50, 75, 90, 95, 99, 99.9)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def host_cpu_jiffies() -> tuple[int, int]:
    """(steal, total) CPU time of this VM's virtual CPUs since boot, in jiffies.

    Steal is time the hypervisor ran something else while this VM's
    virtual CPUs were ready to run; op times grow with it.
    """
    with open("/proc/stat") as f:
        user, nice, system, idle, iowait, irq, softirq, steal = map(int, f.readline().split()[1:9])
    return steal, user + nice + system + idle + iowait + irq + softirq + steal


def tail_percentile(latencies: list[float]) -> dict:
    """The highest of PERCENTILES (nearest rank) with at least 10 samples
    beyond it."""
    n = len(latencies)
    ranks = {p: math.ceil(n * p / 100) for p in PERCENTILES}
    fit = [p for p in PERCENTILES if ranks[p] >= 1 and n - ranks[p] >= 10]
    if not fit:
        return {"percentile": None, "samples": n}
    p = fit[-1]
    return {"percentile": p, "value_ms": sorted(latencies)[ranks[p] - 1], "samples": n, "beyond": n - ranks[p]}


def start_spark(work: str):
    """A local[nproc] session whose temporary files stay under ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the engine from the checkout, like this process
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    from vector_search_spark.session import get_spark

    cpus = nproc()
    spark = get_spark(
        "perfbench",
        cpus=cpus,
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark"),
            "spark.driver.memory": "2g",
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def gateway_thread(spark) -> tuple[str, int | None]:
    """Name and thread id of the JVM thread that answers this thread's
    gateway calls (None if the name is not unique in the JVM)."""
    name = spark.sparkContext._jvm.java.lang.Thread.currentThread().getName()
    task_dir = f"/proc/{spark.sparkContext._gateway.proc.pid}/task"
    tids = []
    for tid in os.listdir(task_dir):
        try:
            with open(os.path.join(task_dir, tid, "comm")) as f:
                if f.read().strip() == name:
                    tids.append(int(tid))
        except OSError:
            continue
    return name, tids[0] if len(tids) == 1 else None


def pin_client(spark) -> dict:
    """Pin this thread and the JVM thread that answers its gateway calls to
    one CPU, the last this process may use.

    An interactive call makes ~2,300 gateway round trips.  Unpinned, each
    hop tends to wake the other thread on an idle virtual CPU, and under a
    busy hypervisor every such wake-up waits for that CPU to be scheduled,
    which made call latency track host steal.  On one CPU the two threads
    hand over without an idle CPU in between.  Spark's task threads stay
    free on every CPU; the query-stage, broadcast and shuffle-exchange
    threads that the gateway thread starts inherit its CPU.  Returns what
    was pinned, for the run record.
    """
    cpu = max(os.sched_getaffinity(0))
    name, tid = gateway_thread(spark)
    if tid is None:
        return {"cpu": None, "gateway_thread": name}
    os.sched_setaffinity(tid, {cpu})
    os.sched_setaffinity(0, {cpu})
    return {"cpu": cpu, "gateway_thread": name}


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it started, and wait for it to exit."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class Loop:
    """One closed-loop client: the next op starts when the previous ends."""

    def __init__(self, workload):
        self.wl = workload
        self.next = 0
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []

    def op(
        self,
        tracer=None,
        op_ms: list | None = None,
        items: list | None = None,
        layers: list | None = None,
        full_ms: list | None = None,
    ):
        """Run, check and clean up one op.  A traced op reports the time of
        its instrumented call as ``op_ms`` and the time of everything it ran,
        prefix passes included, as ``full_ms``."""
        i, self.next = self.next, self.next + 1
        inp = self.wl.make(i)
        self.attempted += 1
        try:
            t = time.perf_counter()
            if tracer is None:
                result = self.wl.op(inp)
                ms = (time.perf_counter() - t) * 1000.0
                lay = None
            else:
                result, ms, lay = self.wl.traced_op(tracer, inp, f"op{i}")
            whole = (time.perf_counter() - t) * 1000.0
            problems = self.wl.check(inp, result)
        except Exception as e:  # a failed op counts against error_rate
            problems = [f"op {i}: {type(e).__name__}: {str(e)[:300]}"]
        finally:
            self.wl.cleanup(inp)
        if problems:
            self.failed += 1
            self.problems.extend(problems[:3])
            return
        if op_ms is not None:
            op_ms.append(ms)
        if items is not None:
            items.append(self.wl.items(inp))
        if layers is not None:
            layers.append(lay)
        if full_ms is not None:
            full_ms.append(whole)

    def round(self, **kw) -> None:
        for _ in range(self.wl.ops_per_round):
            self.op(**kw)

    def run_for(self, seconds: float, rounds) -> None:
        """Call ``rounds`` until ``seconds`` have passed (at least once)."""
        deadline = time.perf_counter() + seconds
        while True:
            rounds()
            if time.perf_counter() >= deadline:
                return


def run_workload(name: str, seed: int, seconds: float, trace: bool) -> dict:
    import tracing
    from workloads import WORKLOADS
    from vector_search_spark import session

    work = os.path.join(ROOT, ".perfbench_work", f"{name}-{seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    load_start = os.getloadavg()[0]
    spark = None
    try:
        t = time.perf_counter()
        spark = start_spark(work)
        session_s = time.perf_counter() - t
        pinned = pin_client(spark)
        wl = WORKLOADS[name](spark, os.path.join(work, "data"), seed)
        wl.setup_inputs()
        # set-up from get_spark to ready: the session start, then the
        # workload's set-up build, repeated; the first build is the cold one
        builds = []
        for rep in range(SETUP_REPEATS):
            t = time.perf_counter()
            wl.setup(rep)
            builds.append(time.perf_counter() - t)
        setup_s = session_s + statistics.median(builds)
        tracer = tracing.Tracer(spark) if trace else None
        t = time.perf_counter()
        wl.prepare(tracer)
        prepare_s = time.perf_counter() - t
        loop = Loop(wl)
        t = time.perf_counter()
        for _ in range(wl.warmup_ops):
            loop.op()
        warmup_s = time.perf_counter() - t
        op_ms: list[float] = []
        items: list[int] = []
        record = {
            "workload": name,
            "seed": seed,
            "trace": int(trace),
            "nproc": nproc(),
            "spark_conf": dict(sorted(spark.sparkContext.getConf().getAll())),
            "env_extra_conf": dict(session.LAST_ENV_EXTRA_CONF),
            "pinned": pinned,
            "session_s": session_s,
            "setup_builds_s": builds,
            "prepare_s": prepare_s,
            "warmup_s": warmup_s,
        }
        cpu0 = host_cpu_jiffies()
        if not trace:
            t, gc0 = time.perf_counter(), tracing.jvm_gc_ms(spark)
            loop.run_for(seconds, lambda: loop.round(op_ms=op_ms, items=items))
            record["measured_s"] = time.perf_counter() - t
            record["measured_jvm_gc_ms"] = tracing.jvm_gc_ms(spark) - gc0
            metrics = {
                "setup_s": setup_s,
                "items_per_s": sum(items) / (sum(op_ms) / 1000.0) if op_ms else 0.0,
                "latency_p50_ms": statistics.median(op_ms) if op_ms else 0.0,
                "index_bytes_per_chunk": wl.index_bytes_per_chunk(),
            }
            units_of = metric_units("end_to_end")
            record["tail"] = tail_percentile(op_ms)
        else:
            # rounds of untraced and traced ops, alternating
            traced_ms: list[float] = []
            full_ms: list[float] = []
            layers: list[dict] = []
            gc0 = tracing.jvm_gc_ms(spark)

            def rounds():
                loop.round(op_ms=op_ms)
                loop.round(tracer=tracer, op_ms=traced_ms, layers=layers, full_ms=full_ms)

            loop.run_for(seconds, rounds)
            gc_per_op = (tracing.jvm_gc_ms(spark) - gc0) / max(1, len(op_ms) + len(traced_ms))
            units_of = metric_units("per_layer")
            metrics = dict.fromkeys(units_of, 0.0)
            metrics.update(wl.setup_layers)
            for key in set().union(*layers) if layers else ():
                metrics[key] = statistics.median(lay[key] for lay in layers)
            metrics["session.jvm_gc_ms"] = gc_per_op
            metrics["session.jvm_peak_rss_mb"] = tracing.jvm_peak_rss_mb(spark)
            if op_ms and traced_ms:
                untraced = statistics.median(op_ms)
                metrics["trace.overhead_ratio"] = statistics.median(traced_ms) / untraced
                metrics["trace.full_overhead_ratio"] = statistics.median(full_ms) / untraced
            spans = os.path.join(ROOT, ".perfbench_out", f"spans_{name}_seed{seed}.json")
            tracer.write(spans, {"workload": name, "seed": seed, "nproc": nproc()})
            record["spans_file"] = os.path.relpath(spans, ROOT)
            record["traced_ops"] = len(traced_ms)
        steal, total = (b - a for a, b in zip(cpu0, host_cpu_jiffies()))
        record.update(
            host_steal_share=steal / total if total else 0.0,
            ops=len(op_ms),
            op_ms=[round(x, 1) for x in op_ms],
            load_avg_1m={"start": load_start, "end": os.getloadavg()[0]},
            error_rate=loop.failed / loop.attempted,
            problems=loop.problems[:10],
        )
        result = {
            "correct": loop.failed == 0,
            "attempted": loop.attempted,
            "failed": loop.failed,
            "metrics": {k: {"value": float(v), "unit": units_of[k]} for k, v in metrics.items()},
        }
        return {"record": record, "result": result}
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)


def run_all(args) -> int:
    """Each workload in its own process; metrics printed as workload/metric."""
    combined = {"correct": True, "attempted": 0, "failed": 0, "metrics": {}}
    for name in WORKLOAD_NAMES:
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", str(args.trace)]
        proc = subprocess.run(cmd, stdout=subprocess.PIPE, text=True)
        if proc.returncode != 0:
            print(f"perfbench: {name} exited with {proc.returncode}", file=sys.stderr)
            return proc.returncode
        lines = proc.stdout.strip().splitlines()
        print("\n".join(lines[:-1]))
        res = json.loads(lines[-1])
        combined["correct"] &= res["correct"]
        combined["attempted"] += res["attempted"]
        combined["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            combined["metrics"][f"{name}/{k}"] = v
    print(json.dumps(combined))
    return 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOAD_NAMES, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [HERE, ROOT]
    try:
        import vector_search_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)

    out = run_workload(args.workload, args.seed, args.seconds, bool(args.trace))
    rec, res = out["record"], out["result"]
    print("# " + json.dumps(rec))
    print(f"# {args.workload}: attempted {res['attempted']}, failed {res['failed']}, "
          f"error_rate {rec['error_rate']:.4f} (ratio)")
    for k, m in res["metrics"].items():
        print(f"# {args.workload}/{k} = {m['value']:.6g} {m['unit']}")
    tail = rec.get("tail")
    if tail:
        p = tail["percentile"]
        print(f"# {args.workload}/latency_tail = "
              + (f"p{p} {tail['value_ms']:.6g} ms, {tail['beyond']} of {tail['samples']} samples beyond it"
                 if p is not None else f"none with 10 samples beyond it ({tail['samples']} samples)"))
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
