"""Tracing for the benchmark's traced run: spans, Spark counters, and
per-layer self times from prefix DataFrames.

Spans are recorded from the benchmark's own files, around its calls into
the program, kept in memory and written out once at the end.  Spark
counters come from the JVM status store, which Spark fills even with the
UI off: every action runs under its own job group, and the group's jobs
and stages are read back after the action returns.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

# StageData fields summed over a job group's completed stages.
STAGE_COUNTERS = {
    "tasks": "numTasks",
    "run_ms": "executorRunTime",
    "cpu_ns": "executorCpuTime",
    "gc_ms": "jvmGcTime",
    "input_bytes": "inputBytes",
    "input_records": "inputRecords",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "memory_spill_bytes": "memoryBytesSpilled",
    "disk_spill_bytes": "diskBytesSpilled",
    "output_bytes": "outputBytes",
}


def self_times(cumulative: list[tuple[str, float]]) -> dict[str, float]:
    """Self time of each layer from the times of its prefix chains.

    ``cumulative`` lists (layer, time of the chain up to and including that
    layer) in layer order; a layer's self time is its prefix's time minus
    the previous prefix's time, so the self times add up to the last
    (full-chain) time.
    """
    out, prev = {}, 0.0
    for name, t in cumulative:
        out[name] = t - prev
        prev = t
    return out


def tree_cpu_ms(root: int | None = None) -> float:
    """User+system CPU of every live descendant of ``root`` (default: this
    process), i.e. the Spark JVM and its Python workers."""
    root = root or os.getpid()
    children: dict[int, list[int]] = {}
    cpu: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        cpu[pid] = int(fields[11]) + int(fields[12])
    total, todo = 0, list(children.get(root, []))
    while todo:
        pid = todo.pop()
        total += cpu.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total * 1000.0 / os.sysconf("SC_CLK_TCK")


def jvm_gc_ms(spark: SparkSession) -> int:
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(b.getCollectionTime() for b in beans)


def jvm_peak_rss_mb(spark: SparkSession) -> float:
    pid = spark.sparkContext._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def group_counters(spark: SparkSession, group: str) -> dict[str, float]:
    """Jobs, completed stages and summed stage counters of a job group."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()
    store = jsc.statusStore()
    out = dict.fromkeys(["jobs", "stages", *STAGE_COUNTERS], 0)
    for job in sc.statusTracker().getJobIdsForGroup(group):
        out["jobs"] += 1
        info = sc.statusTracker().getJobInfo(job)
        for sid in info.stageIds if info else ():
            stage = store.lastStageAttempt(sid)
            if stage.status().toString() != "COMPLETE":
                continue  # skipped: its shuffle output was reused
            out["stages"] += 1
            for key, field in STAGE_COUNTERS.items():
                out[key] += getattr(stage, field)()
    return out


def catalyst_ms(df: DataFrame) -> float:
    """Plan ``df`` (analysis, optimization, physical planning) and return
    the summed phase times from its ``QueryPlanningTracker``."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = df.sparkSession.sparkContext._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        qe.tracker().phases()
    )
    return float(sum(phases.get(k).durationMs() for k in phases.keySet()))


def exchanges(df: DataFrame) -> int:
    """Exchange operators in ``df``'s executed plan (the final adaptive
    plan once it has run)."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    plan = plan.split("== Initial Plan ==")[0]
    return sum("Exchange " in line for line in plan.splitlines())


class Tracer:
    """Spans and counters of one traced run."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.spans: list[dict] = []
        self.counters: list[dict] = []
        self._stack: list[int] = []
        self._groups = 0

    @contextmanager
    def span(self, name: str, op: str):
        """Record ``name`` as a span of ``op``, nested under the open span."""
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "op": op, "parent": self._stack[-1] if self._stack else None}
        self.spans.append(rec)
        self._stack.append(sid)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def action(self, name: str, op: str, fn):
        """Run the Spark action ``fn`` under its own job group inside a span;
        returns (result, elapsed ms, counters)."""
        self._groups += 1
        group = f"perfbench-{self._groups}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name, False)
        try:
            with self.span(name, op) as rec:
                result = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        elapsed = (rec["end"] - rec["start"]) * 1000.0
        counters = group_counters(self.spark, group)
        self.counters.append({"span": rec["id"], "op": op, "name": name, **counters})
        return result, elapsed, counters

    def prefixes(self, op: str, layers: list[tuple[str, DataFrame]]) -> dict[str, dict]:
        """Time each layer's prefix DataFrame to the ``noop`` sink, in layer
        order; returns per layer its self time, cumulative time, process-tree
        CPU self time and the prefix's counters."""
        cumulative, cpu, counters = [], [], {}
        for name, df in layers:
            writer = df.write.format("noop").mode("overwrite")
            c0 = tree_cpu_ms()
            _, ms, counters[name] = self.action(f"{name}.prefix", op, writer.save)
            cumulative.append((name, ms))
            cpu.append((name, tree_cpu_ms() - c0))
        own, own_cpu = self_times(cumulative), self_times(cpu)
        return {
            name: {"self_ms": own[name], "cum_ms": ms, "cpu_self_ms": own_cpu[name], **counters[name]}
            for name, ms in cumulative
        }

    def write(self, path: str, meta: dict) -> None:
        """Write spans (times in ms from the first span) and counters."""
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            {**s, "start": (s["start"] - t0) * 1000.0, "end": (s["end"] - t0) * 1000.0}
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump({"meta": meta, "spans": spans, "counters": self.counters}, f, indent=1)
